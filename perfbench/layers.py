"""The traced pass: one workload's wall time split across the repository's
layers (sources, kernels, operators.extract, operators.fold,
operators.polish, plans.pipeline, plans.checkpoint).

Self times come from prefix pipelines timed from outside, each repeated
TRACE_REPS times: scan only; scan + identity ``mapInArrow`` (the Python
boundary floor); scan + extract in low and in high mode; a fold over the
materialised extract; a polish over the materialised fold. Every workload
measures every operator layer this way, whichever of them its own timed
action uses. Spark's event log, on for this pass only, supplies the
Python-worker, shuffle, aggregation and per-wave figures.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

from perfbench.eventlog import EventLog, read_events
from perfbench.kernelbench import kernel_metrics
from perfbench.session import ROOT, noop, start_session
from perfbench.tracing import Tracer
from perfbench.workloads import EXTRACT_COLS, arrow_identity, run_action

TRACE_REPS = 3  # repetitions of each prefix pipeline

# per-layer metrics of the final JSON line: those every benchmarked workload
# measures; the rest are printed and kept in the trace file
PER_LAYER = (
    "sources.scan_s", "sources.input_mb", "sources.rows",
    "kernels.us_per_turn.plain", "kernels.us_per_turn.html", "kernels.us_per_turn.pdf",
    "kernels.us_per_turn.tool", "kernels.turns.plain", "kernels.turns.html", "kernels.turns.pdf",
    "kernels.turns.tool", "kernels.turns.error", "kernels.join_pages_us_per_turn",
    "kernels.apply_context_us_per_turn", "kernels.polish_us_per_doc",
    "extract.self_s", "extract.arrow_floor_s", "extract.py_init_s", "extract.py_run_s",
    "extract.bytes_to_py", "extract.bytes_from_py", "extract.batches",
    "extract_high.self_s", "extract_high.py_run_s",
    "fold.self_s", "fold.shuffle_bytes", "fold.shuffle_write_s", "fold.agg_build_s", "fold.py_run_s",
    "polish.self_s", "polish.py_run_s",
    "spark.jobs", "spark.stages", "spark.scans", "spark.exchanges",
    "spark.task_run_s", "spark.cpu_s", "spark.gc_s",
    "trace.overhead_s",
)


def _unit(name: str) -> str:
    if name.endswith("_s") or ".wave_s." in name:
        return "s"
    if "us_per" in name:
        return "us"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name and not name.endswith("per_input_byte"):
        return "bytes"
    return "ratio" if name in ("scaling_eff", "checkpoint.bytes_written_per_input_byte") else "count"


def traced_pass(run) -> dict:
    from pyspark.sql import functions as F

    from autoscan_spark.operators.extract import drop_failed, extract_turns
    from autoscan_spark.operators.fold import fold_documents
    from autoscan_spark.operators.polish import polish_documents
    from autoscan_spark.sources.transcripts import synthesize_transcripts

    w, args = run.w, run.args
    untraced = statistics.median(run.walls)
    run.spark.stop()  # the event log is a context setting: start a new context
    log_dir = os.path.join(run.work, "eventlog")
    spark = start_session(run.work, args.slots, event_log=log_dir)
    tracer = Tracer(f"{w.name}-seed{args.seed}-pid{os.getpid()}")
    tracer.attach(spark.sparkContext)
    src = spark.read.parquet(run.input)
    cols = src.select(*EXTRACT_COLS)
    full_span = "plans.checkpoint" if w.checkpoint else "plans.pipeline"
    full_reps = 1 if w.checkpoint else TRACE_REPS

    def repeat(name, fn, reps=TRACE_REPS):
        for _ in range(reps):
            with tracer.span(name):
                fn()

    with tracer.span("warmup"):  # the new context starts new Python workers
        run_action(w, src, run.out_root("trace-warmup"))
    with tracer.span("trace"):
        with tracer.span("sources.synthesize_check"):
            synth = synthesize_transcripts(spark, w.conv_nums()[-1] + 1, seed=args.seed)
            if w.classes is not None:
                synth = synth.filter(F.regexp_extract("conv_id", r"-([a-z_]+)$", 1).isin(list(w.classes)))
            diff = synth.exceptAll(src).count() + src.exceptAll(synth).count()
            if diff:
                run.problems.append(f"input differs from synthesize_transcripts in {diff} rows")
        # every operator layer, in both extraction modes, on this workload's rows
        repeat("sources.scan", lambda: noop(cols))
        repeat("operators.extract.arrow_floor", lambda: noop(cols.mapInArrow(arrow_identity, cols.schema)))
        repeat("operators.extract", lambda: noop(extract_turns(src)))
        # high mode fails fast on a kernel error, so it runs without the
        # conversations generated to fail
        no_errors = src.filter(~F.col("conv_id").endswith("-error"))
        repeat("operators.extract_high", lambda: noop(extract_turns(no_errors, mode="high")))
        with tracer.span("operators.extract.materialise"):
            ext = extract_turns(src).cache()
            ext.count()
        repeat("operators.extract.cached_scan", lambda: noop(ext))
        repeat("operators.fold", lambda: noop(fold_documents(drop_failed(ext))))
        with tracer.span("operators.fold.materialise"):
            docs = fold_documents(drop_failed(ext)).cache()
            docs.count()
        repeat("operators.fold.cached_scan", lambda: noop(docs))
        repeat("operators.polish", lambda: noop(polish_documents(docs)))
        docs.unpersist()
        ext.unpersist()
        for i in range(full_reps):
            with tracer.span(full_span):
                run_action(w, src, run.out_root(f"trace{i}"))
        kernels = kernel_metrics(run.rows, run.ref, tracer)
    spark.stop()  # flushes the event log

    log = EventLog(read_events(log_dir))
    med = lambda name: statistics.median(tracer.walls(name))  # noqa: E731

    def per_pass(name, reps=TRACE_REPS):
        return {k: v / reps for k, v in log.summarize(name).items()}

    m = dict(kernels)
    scan_s = med("sources.scan")
    m["sources.scan_s"] = scan_s
    m["sources.input_mb"] = run.input_bytes / 2**20
    m["sources.rows"] = len(run.rows)
    m["extract.self_s"] = med("operators.extract") - scan_s
    m["extract.arrow_floor_s"] = med("operators.extract.arrow_floor") - scan_s
    ex = per_pass("operators.extract")
    for k in ("py_start_s", "py_init_s", "py_run_s", "bytes_to_py", "bytes_from_py", "batches"):
        m[f"extract.{k}"] = ex.get(k, 0.0)
    m["extract_high.self_s"] = med("operators.extract_high") - scan_s
    m["extract_high.py_run_s"] = per_pass("operators.extract_high").get("py_run_s", 0.0)
    fo = per_pass("operators.fold")
    m["fold.self_s"] = med("operators.fold") - med("operators.extract.cached_scan")
    for k in ("shuffle_bytes", "shuffle_write_s", "agg_build_s", "py_run_s", "spill_bytes"):
        m[f"fold.{k}"] = fo.get(k, 0.0)
    m["polish.self_s"] = med("operators.polish") - med("operators.fold.cached_scan")
    m["polish.py_run_s"] = per_pass("operators.polish").get("py_run_s", 0.0)
    full = per_pass(full_span, full_reps)
    for k in ("jobs", "stages", "scans", "exchanges", "task_run_s", "cpu_s", "gc_s"):
        m[f"spark.{k}"] = full.get(k, 0.0)
    m["trace.overhead_s"] = med(full_span) - untraced
    if w.checkpoint:
        m.update(_checkpoint_metrics(log, tracer, full_span, run.input_bytes))
        m["checkpoint.self_s"] = med(full_span) - m["extract.self_s"] - scan_s - m["fold.self_s"]
    if w.scaling:
        m["scaling_eff"] = _scaling_eff(run, untraced)

    for name in sorted(m):
        run.say(f"{name} {m[name]:.6g} {_unit(name)}")
    selfs = tracer.self_times()
    for name in dict.fromkeys(s["name"] for s in tracer.spans):
        ids = [s["id"] for s in tracer.spans if s["name"] == name]
        walls = tracer.walls(name)
        run.say(f"span {name}: n={len(ids)} median {statistics.median(walls):.4f} s, self total {sum(selfs[i] for i in ids):.4f} s")
    traces = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(traces, exist_ok=True)
    path = os.path.join(traces, f"{tracer.run_id}.json")
    tracer.dump(path, {"workload": w.name, "seed": args.seed, "metrics": m})
    run.say(f"# spans and metrics written to {os.path.relpath(path, ROOT)}")
    return {k: (float(m[k]), _unit(k)) for k in PER_LAYER if k in m}


def _checkpoint_metrics(log: EventLog, tracer: Tracer, span: str, input_bytes: int) -> dict:
    """Per-wave figures of the traced checkpoint run. A wave ends when its
    lineage append (the commit point) ends."""
    commits = log.commits(span, "/lineage")
    start = [s for s in tracer.spans if s["name"] == span][-1]["epoch_ms"]
    bounds = [start] + [end for _, end in commits]
    waves = [log.summarize(span, since, until) for since, until in zip(bounds, bounds[1:])]
    total = log.summarize(span)
    wave_s = [(b - a) / 1e3 for a, b in zip(bounds, bounds[1:])]
    med = lambda key: statistics.median(wv.get(key, 0.0) for wv in waves)  # noqa: E731
    return {
        "checkpoint.waves": len(waves),
        "checkpoint.wave_s.p50": statistics.median(wave_s),
        "checkpoint.wave_s.max": max(wave_s),
        "checkpoint.jobs_per_wave": med("jobs"),
        "checkpoint.scans_per_wave": med("scans"),
        "checkpoint.exchanges_per_wave": med("exchanges"),
        "checkpoint.write_s": total.get("file_commit_s", 0.0),
        "checkpoint.commit_s": sum(end - begin for begin, end in commits) / 1e3,
        "checkpoint.bytes_written_per_input_byte": total.get("bytes_written", 0.0) / input_bytes,
    }


def _scaling_eff(run, wall_n: float) -> float:
    """Throughput at local[slots] / (slots x throughput at local[1]), the
    one-slot run made by this command in its own process."""
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", run.w.name,
           "--seed", str(run.args.seed), "--seconds", str(run.args.seconds), "--trace", "0", "--slots", "1"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if proc.returncode or not result["correct"]:
        run.problems.append("the one-slot baseline run failed its output check")
    one_slot = result["metrics"]["turns_per_s"]["value"]
    run.say(f"# one-slot baseline: {one_slot:.1f} turns/s")
    return (len(run.rows) / wall_n) / (run.args.slots * one_slot)
