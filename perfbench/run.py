#!/usr/bin/env python3
"""Benchmark of the extraction pipeline: scan -> per-turn kernel -> drop
failed -> ordered fold -> optional polish -> sink.

Run from the repository root:

    python3 perfbench/run.py --workload mixed_fold --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1
    python3 perfbench/run.py --workload markup_fold,high_polish --trace 1

Workloads (``perfbench/workloads.py``): mixed_fold and resume_job are the
ones BENCHMARK.json names; markup_fold (kernel-bound payloads) and
high_polish (high mode, fold, polish) run the same way on demand. Each
workload runs in its own process on ``local[slots]`` (default: one slot
fewer than the CPUs; resume_job takes two at most).

A run sets up (session start, then the seeded input materialised
SETUP_REPS times), makes one untimed pass whose every output is compared
with an in-process reference, warms up, then times the workload's action
for ``--seconds``. ``--trace 0`` prints the end-to-end metrics:
turns_per_s (input turns / median wall), setup_s, peak_rss_mb, plus
turn_error_share and failed_run_share. ``--trace 1`` then makes a separate
traced pass with Spark's event log on and prints the per-layer split
(``perfbench/layers.py``). The last line of stdout is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``. The
command exits 1 when an output differs from the reference or a timed run
raised.

Everything a run writes goes under ``.perfbench/`` in the repository root;
its work directory is removed at the end, and the span trace of a
``--trace 1`` run is kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import os
import time

_T0 = time.perf_counter()


def _process_age() -> float:
    """Seconds since this process started (from /proc, 1/CLK_TCK resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE_AT_T0 = _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import workloads  # noqa: E402
from perfbench.rss import RssSampler  # noqa: E402
from perfbench.session import ROOT, configure_env, start_session, stop_jvm  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3  # input materialisations per run; setup_s uses their median
# untimed runs after the checked pass, at least the workload's warmup_runs,
# before timing: the JIT and the Python workers keep warming for several runs
WARMUP_S = 6.0


def since_start() -> float:
    return _AGE_AT_T0 + time.perf_counter() - _T0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", help="a name, a comma-separated list, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0, help="how long the timed runs last")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # one CPU is left to the driver, the JVM's GC and JIT threads and the
    # /proc sampler: with a task thread on every CPU of a 4-vCPU VM,
    # resume_job's run-to-run spread (IQR/median, 10 seeds) was 0.26, not 0.16
    ap.add_argument("--slots", type=int, default=max(1, len(os.sched_getaffinity(0)) - 1), help="Spark master local[SLOTS]")
    args = ap.parse_args(argv)
    if args.slots < 1:
        ap.error("--slots must be at least 1")
    names = list(WORKLOADS) if args.workload == "all" else args.workload.split(",")
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        ap.error(f"unknown workload(s) {unknown}; choose from {list(WORKLOADS)}")
    args.names = names
    return args


# --- one workload ----------------------------------------------------------------


class Run:
    """State of one workload run in this process."""

    def __init__(self, args, name: str):
        self.args = args
        self.w = WORKLOADS[name]
        self.work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
        self.input = os.path.join(self.work, "input")
        self.problems: list[str] = []
        self.attempted = self.failed = 0
        self.walls: list[float] = []
        self.peaks: list[float] = []

    @staticmethod
    def say(line: str) -> None:
        print(line, flush=True)

    def out_root(self, tag: str) -> str:
        return os.path.join(self.work, "out", tag)

    # set-up: process start -> session up -> inputs materialised and readable
    def setup(self):
        configure_env(self.work, self.args.slots)
        self.spark = start_session(self.work, self.args.slots)
        session_s = since_start()
        mats = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            self.rows = workloads.generate_rows(self.w, self.args.seed)
            self.input_bytes = workloads.write_input(self.rows, self.input, self.args.slots)
            readable = self.spark.read.parquet(self.input).count()
            mats.append(time.perf_counter() - t)
            if readable != len(self.rows):
                raise RuntimeError(f"input holds {readable} rows, {len(self.rows)} were written")
        self.setup_s = session_s + statistics.median(mats)
        self.src = self.spark.read.parquet(self.input)
        self.say(
            f"# {self.w.name} seed={self.args.seed} local[{self.args.slots}]: {len(self.rows)} turns, "
            f"{self.input_bytes / 2**20:.2f} MB parquet; session up {session_s:.2f} s, "
            f"materialise {', '.join(f'{m:.2f}' for m in mats)} s"
        )

    def check(self) -> None:
        self.ref = workloads.reference(self.w, self.rows)
        problems, self.errors = workloads.checked_pass(self.w, self.src, self.ref, self.out_root("check"))
        self.problems += problems
        shutil.rmtree(self.out_root("check"), ignore_errors=True)

    def timed(self) -> None:
        start, warmed = time.perf_counter(), 0
        while warmed < self.w.warmup_runs or time.perf_counter() - start < WARMUP_S:
            warmed += 1
            workloads.run_action(self.w, self.src, self.out_root("warmup"))
            shutil.rmtree(self.out_root("warmup"), ignore_errors=True)
        sampler = RssSampler()
        start = time.perf_counter()
        while self.attempted < self.w.min_timed_runs or time.perf_counter() - start < self.args.seconds:
            root = self.out_root(f"run{self.attempted}")
            self.attempted += 1
            sampler.start()
            t = time.perf_counter()
            try:
                workloads.run_action(self.w, self.src, root)
                self.walls.append(time.perf_counter() - t)
            except Exception as exc:  # a failed run is counted, not fatal
                self.failed += 1
                print(f"timed run {self.attempted} raised: {exc!r}"[:2000], file=sys.stderr)
            finally:
                self.peaks.append(sampler.stop())
            shutil.rmtree(root, ignore_errors=True)

    def end_to_end(self) -> dict:
        n = len(self.rows)
        walls = self.walls or [float("inf")]
        share, ref_share = self.errors / n, self.ref.errors / n  # checked equal in check()
        m = {
            "turns_per_s": (n / statistics.median(walls), "turns/s"),
            "setup_s": (self.setup_s, "s"),
            "peak_rss_mb": (max(self.peaks), "MB"),
        }
        k = len(self.walls)
        q = statistics.quantiles(walls, n=4, method="inclusive") if k > 1 else [walls[0]] * 3
        self.say(f"turns_per_s {m['turns_per_s'][0]:.1f} turns/s  (median of {k} timed runs; wall s min {min(walls):.3f} q1 {q[0]:.3f} median {q[1]:.3f} q3 {q[2]:.3f} max {max(walls):.3f})")
        self.say("# timed walls s: " + " ".join(f"{x:.3f}" for x in self.walls))
        self.say(f"setup_s {self.setup_s:.3f} s  (1 session start + median of {SETUP_REPS} materialisations)")
        self.say(f"peak_rss_mb {m['peak_rss_mb'][0]:.1f} MB  (max over {len(self.peaks)} timed runs, JVM + Python workers)")
        self.say(f"turn_error_share {share:.6f} ratio  ({self.errors} of {n} turns; reference {ref_share:.6f})")
        self.say(f"failed_run_share {self.failed / self.attempted:.6f} ratio  ({self.failed} of {self.attempted} runs)")
        return m

    def finish(self, metrics: dict) -> int:
        ok = not self.problems
        for p in self.problems:
            self.say(f"MISMATCH {p}")
        self.say(f"output_ok {int(ok)}")
        self.say(f"# done {since_start():.1f} s after process start")
        print(
            json.dumps(
                {
                    "correct": ok,
                    "attempted": self.attempted,
                    "failed": self.failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            ),
            flush=True,
        )
        return 0 if ok and not self.failed else 1


def run_one(args, name: str) -> int:
    args.slots = min(args.slots, WORKLOADS[name].max_slots or args.slots)
    run = Run(args, name)
    try:
        run.setup()
        t = time.perf_counter()
        run.check()
        t1 = time.perf_counter()
        run.timed()
        run.say(f"# checked pass {t1 - t:.2f} s, warm-up + timed runs {time.perf_counter() - t1:.2f} s")
        metrics = run.end_to_end()
        if args.trace:
            from perfbench.layers import traced_pass

            metrics = traced_pass(run)
    finally:
        stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)
    return run.finish(metrics)


def run_many(args) -> int:
    """Each workload in its own process, one after another."""
    correct, attempted, failed, metrics = True, 0, 0, {}
    for name in args.names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--slots", str(args.slots)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"# {name}: no result (exit {proc.returncode})", flush=True)
            return proc.returncode or 1
        correct &= result["correct"] and proc.returncode == 0
        attempted += result["attempted"]
        failed += result["failed"]
        metrics.update({f"{name}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if len(args.names) > 1:
        return run_many(args)
    return run_one(args, args.names[0])


if __name__ == "__main__":
    sys.exit(main())
