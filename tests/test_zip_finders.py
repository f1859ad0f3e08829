"""The extraction kernel drops the cached zip finders of its Python worker, so
the next task's ``importlib.invalidate_caches()`` re-reads no zip archive."""

import sys
import zipfile
import zipimport
from importlib.machinery import FileFinder

import pyarrow as pa

from autoscan_spark.operators.extract import _drop_zip_finders, _extract_batches


def _zip_finders():
    return [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]


def test_drop_zip_finders_keeps_directory_finders_and_zip_imports(tmp_path, monkeypatch):
    archive = tmp_path / "zipfinder_probe.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipfinder_probe_a.py", "VALUE = 'a'\n")
        zf.writestr("zipfinder_probe_b.py", "VALUE = 'b'\n")
    plain = tmp_path / "plain"
    plain.mkdir()
    (plain / "zipfinder_probe_c.py").write_text("VALUE = 'c'\n")
    monkeypatch.syspath_prepend(str(plain))
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zipfinder_probe_a", "zipfinder_probe_b", "zipfinder_probe_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    import zipfinder_probe_a
    import zipfinder_probe_c

    assert zipfinder_probe_a.VALUE == "a" and zipfinder_probe_c.VALUE == "c"
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
    dir_finders = {
        path: f for path, f in sys.path_importer_cache.items() if isinstance(f, FileFinder)
    }
    assert isinstance(dir_finders[str(plain)], FileFinder)

    _drop_zip_finders()

    assert _zip_finders() == []
    for path, finder in dir_finders.items():
        assert sys.path_importer_cache[path] is finder

    import zipfinder_probe_b

    assert zipfinder_probe_b.VALUE == "b"
    assert zipfinder_probe_b.__file__.startswith(str(archive))


def test_kernel_leaves_no_zip_finder_in_its_worker(spark):
    """Pins the drop where Spark runs it: every task's Python worker holds no
    zip finder once the kernel has consumed its batches."""
    turns = spark.createDataFrame(
        [(f"c{i % 37}", i, "user" if i % 2 else "assistant", f"turn {i}") for i in range(600)],
        "conv_id string, turn_idx int, role string, text string",
    ).repartition(8)

    def probe(batches):
        n_out = sum(out.num_rows for out in _extract_batches(batches))
        n_zip = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict({"rows": [n_out], "zip_finders": [n_zip]})

    schema = "rows long, zip_finders long"
    # the second action reuses the workers the first one left pruned
    for _ in range(2):
        tasks = turns.mapInArrow(probe, schema).collect()
        assert len(tasks) == 8
        assert sum(t.rows for t in tasks) == 600
        assert [t.zip_finders for t in tasks] == [0] * 8
