"""Benchmark of the extraction+redaction engine.

    python3 perfbench/run.py --workload chat_checkpoint --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --all [--seconds 20]     # every workload, table on stdout
    python3 perfbench/run.py --self-test              # planted corruption must be caught

Run from the repository root. One run:

1. generates (or reuses from ``.perfbench_work/inputs``) the workload's
   input for ``--seed``;
2. sets up once, timed from before the Spark session starts: start a
   session at ``local[<cores>]`` (half the CPUs in the affinity mask,
   unless ``--cores`` says otherwise) in a fresh JVM and make
   ``WARMUP_CALLS`` untimed warm-up calls of the workload (``setup_s``);
3. repeats the workload's call in a closed loop (one client) until
   ``--seconds`` have passed, checking every repetition's output
   (``check.py``);
4. prints a detail line (box, input fingerprint, samples) and, as the
   last line, ``{"correct", "attempted", "failed", "metrics"}``: the
   end-to-end metrics with ``--trace 0``, the per-layer metrics (read from
   Spark's plan metrics, ``planmetrics.py``) with ``--trace 1``.

Before exiting it stops the session, shuts the JVM down and waits until
every process it started has ended. Exits non-zero without a result line
when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# untimed calls before timing starts: the first call of a fresh JVM takes
# several times as long as the next ones, which still fall by about a fifth
WARMUP_CALLS = 2

END_TO_END = {
    "turns_per_s": "turns/s",
    "cpu_s_per_mturn": "s",
    "worker_peak_rss_mib": "MiB",
    "setup_s": "s",
}
PER_LAYER = {
    "pipeline.scan.rows": "rows",
    "pipeline.scan.bytes": "B",
    "pipeline.scan.time_s": "s",
    "pipeline.order.shuffle_records": "rows",
    "pipeline.order.shuffle_bytes": "B",
    "pipeline.order.sort_time_s": "s",
    "pipeline.order.sort_peak_mib": "MiB",
    "pipeline.exchange.shuffle_records": "rows",
    "pipeline.exchange.shuffle_bytes": "B",
    "pipeline.exchange.write_time_s": "s",
    "pipeline.exchange.fetch_wait_s": "s",
    "pipeline.exchanges": "count",
    "pipeline.plan_s": "s",
    "clean.isolated_s": "s",
    "clean.dirty_share": "share",
    "clean.codegen_time_s": "s",
    "detect.python_s": "s",
    "detect.worker_start_s": "s",
    "detect.worker_init_s": "s",
    "detect.bytes_to_python": "B",
    "detect.bytes_from_python": "B",
    "detect.rows": "rows",
    "detect.rows_per_turn": "rows/turn",
    "detect.spans_per_turn": "spans/turn",
    "detect.kernel_us_per_turn": "us",
    "detect.overhead_s": "s",
    "checkpoint.call_s": "s",
    "checkpoint.jobs": "count",
    "checkpoint.sql_executions": "count",
    "checkpoint.commit_s": "s",
    "checkpoint.readback_rows": "rows",
    "checkpoint.output_bytes": "B",
    "checkpoint.output_files": "count",
    "stream.batches": "count",
    "stream.add_batch_s": "s",
    "stream.query_planning_s": "s",
    "stream.wal_commit_s": "s",
    "stream.jobs_per_batch": "count",
    "stream.source_rows_per_turn": "rows/turn",
    "stream.microbatch_p50_s": "s",
}
# Times of a layer that runs on only some workloads (0 elsewhere) or that
# local mode leaves at 0: printed in the detail line only, so every time in
# the result line is a measured, non-zero figure.
DETAIL_ONLY = {
    "pipeline.scan.time_s",
    "pipeline.order.sort_time_s",
    "pipeline.exchange.write_time_s",
    "pipeline.exchange.fetch_wait_s",
    "detect.worker_start_s",
    "checkpoint.call_s",
    "stream.add_batch_s",
    "stream.query_planning_s",
    "stream.wal_commit_s",
    "stream.microbatch_p50_s",
}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list, beyond: int = 10) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with at least
    ``beyond`` samples above it, or None when that percentile would be
    below the median (fewer than ``2 * beyond`` samples)."""
    if len(xs) < 2 * beyond:
        return None
    xs = sorted(xs)
    k = len(xs) - beyond - 1
    return xs[k], round(100.0 * (k + 1) / len(xs), 1)


class Clock:
    seconds = 0.0
    cpu_s = 0.0


class Harness:
    """State of one run, passed to the workload: session, input, output
    check, and the tracing hooks."""

    def __init__(self, args, cores: int):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.plant = args.plant_corruption
        self.cores = cores
        self.cache = os.path.join(WORK, "inputs")
        self.scratch = os.path.join(WORK, f"run-{os.getpid()}")
        self.spark = None
        self.pm = None
        self.plan_times: list[float] = []
        self._dirs = 0

    # --- session -----------------------------------------------------------
    def start_session(self):
        from doc_redaction_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            cores=self.cores,
            shuffle_partitions=2 * self.cores,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": os.path.join(self.scratch, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.scratch}/tmp -Dderby.system.home={self.scratch}"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop the session, shut the gateway JVM down and wait for it and
        its Python workers to end."""
        from perfbench.procstat import descendants

        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while descendants() and time.monotonic() < deadline:
            time.sleep(0.1)

    # --- helpers used by workloads -------------------------------------------
    def fresh_dir(self, prefix: str) -> str:
        self._dirs += 1
        return os.path.join(self.scratch, f"{prefix}-{self._dirs}")

    @contextmanager
    def clock(self):
        from perfbench.procstat import tree_cpu_s

        clk = Clock()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        yield clk
        clk.seconds = time.perf_counter() - t0
        clk.cpu_s = tree_cpu_s() - c0

    def timed_pipeline(self, df, cfg, **kw):
        from doc_redaction_spark.plans.pipeline import extract_and_redact

        t0 = time.perf_counter()
        out = extract_and_redact(df, cfg, **kw)
        self.plan_times.append(time.perf_counter() - t0)
        return out

    def jvm_times(self) -> tuple[float, float]:
        """(garbage collection, JIT compilation) seconds of the JVM so far."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return gc / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3

    def drain_bus(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def layers(self) -> dict:
        """Layer metrics of the executions since the last call (traced runs)."""
        self.drain_bus()
        plan, self.plan_times = self.plan_times, []
        if self.pm is None:
            return {}
        from perfbench.planmetrics import layers

        m = layers(self.pm.take())
        m["pipeline.plan_s"] = median(plan)
        m["detect.rows_per_turn"] = m.get("detect.rows", 0) / self.n
        return m

    def discard(self) -> None:
        """Drop plan metrics of the untimed output check."""
        if self.pm is not None:
            self.pm.take()


def trace_extras(h, wl, reps) -> dict:
    """Layer metrics measured apart from the timed calls."""
    import pandas as pd
    from pyspark.sql import functions as F

    from doc_redaction_spark.functions.clean import clean_text_col, dirty_markers_col
    from doc_redaction_spark.operators.detect import detect_apply_fused_udf
    from perfbench.check import golden
    from perfbench.planmetrics import codegen_time_s

    m = {}
    times, codegen = [], []
    for _ in range(3):
        h.pm.take()
        t0 = time.perf_counter()
        h.turns.select("conv_id", "turn_idx", clean_text_col("text").alias("clean_text")).write.format(
            "noop"
        ).mode("overwrite").save()
        times.append(time.perf_counter() - t0)
        h.drain_bus()
        codegen.append(codegen_time_s(h.pm.take()))
    m["clean.isolated_s"] = median(times)
    m["clean.codegen_time_s"] = median(codegen)
    dirty = F.avg(dirty_markers_col(F.coalesce(F.col("text"), F.lit(""))).cast("double"))
    m["clean.dirty_share"] = h.turns.agg(dirty).first()[0]
    h.pm.take()

    # the fused UDF's Python function, single-threaded in this process, on
    # the first rows of the input (at most 2000 rows or 2 MB of text)
    texts, size = [], 0
    for row in wl.inp.rows[:2000]:
        if size > 2_000_000:
            break
        texts.append(golden(row[3], wl.config(h))[0])
        size += len(texts[-1])
    kernel = detect_apply_fused_udf(wl.config(h)).func
    series = pd.Series(texts)
    kernel(series)  # compile the recognizer registry
    per_turn = []
    for _ in range(3):
        t0 = time.perf_counter()
        kernel(series)
        per_turn.append((time.perf_counter() - t0) / len(texts))
    m["detect.kernel_us_per_turn"] = median(per_turn) * 1e6
    py_s = median([r.layers.get("detect.python_s", 0) for r in reps])
    rows = median([r.layers.get("detect.rows", 0) for r in reps])
    m["detect.overhead_s"] = py_s - median(per_turn) * rows
    return m


def run(args) -> dict:
    from perfbench import procstat
    from perfbench.check import OutputCheck
    from perfbench.planmetrics import PlanMetrics
    from perfbench.workloads import WORKLOADS

    # each task keeps two processes busy, its JVM thread and its Python
    # worker, so half the CPUs in task slots fill the box without queueing
    cores = args.cores or max(1, procstat.cores() // 2)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    h = Harness(args, cores)
    os.makedirs(os.path.join(h.scratch, "tmp"), exist_ok=True)
    os.makedirs(h.cache, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(h.scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(h.scratch, "tmp")
    box = procstat.box()

    wl = WORKLOADS[args.workload]()
    wl.prepare(h)
    h.n = wl.inp.n

    h.check = OutputCheck(wl.inp, wl.config(h), h.seed)
    t0 = time.perf_counter()
    h.start_session()
    session_s = time.perf_counter() - t0
    h.turns = h.spark.read.parquet(wl.inp.path)
    warmup = []
    for _ in range(WARMUP_CALLS):  # start the Python workers, load and JIT-compile code
        warmup.append(wl.rep(h).seconds)
    setup_s = time.perf_counter() - t0
    if h.trace:
        h.pm = PlanMetrics(h.spark)

    reps, errors, worker_peaks = [], [], []
    try:
        with procstat.RssSampler() as rss:
            jvm0 = h.jvm_times()
            # the last repetition may end after --seconds: a slow box still
            # gets several repetitions, not one still-warming call
            t0 = time.perf_counter()
            while not reps or time.perf_counter() - t0 < args.seconds:
                try:
                    reps.append(wl.rep(h))
                except Exception:  # a failed call counts as a failed repetition
                    errors.append(traceback.format_exc(limit=3))
                    reps.append(None)
                worker_peaks.append(rss.lap())
            jvm_gc_s, jvm_jit_s = (b - a for a, b in zip(jvm0, h.jvm_times()))
        extras = trace_extras(h, wl, [r for r in reps if r]) if h.trace and any(reps) else {}
    finally:
        h.stop_session()
        shutil.rmtree(h.scratch, ignore_errors=True)
    box["loadavg_end"] = procstat.loadavg()

    ok = [r for r in reps if r is not None]
    failed = sum(1 for r in reps if r is None or r.problems)
    e2e = {
        "turns_per_s": median([h.n / r.seconds for r in ok]),
        "cpu_s_per_mturn": sum(r.cpu_s for r in ok) / (h.n * max(1, len(ok))) * 1e6,
        # median over repetitions, so one repetition's stray worker does not set it
        "worker_peak_rss_mib": median(worker_peaks) / 2**20,
        "python_peak_rss_mib": rss.peak_python / 2**20,
        "jvm_peak_rss_mib": rss.peak_jvm / 2**20,
        "setup_s": setup_s,
    }
    layer = {k: median([r.layers.get(k, 0.0) for r in ok]) for k in PER_LAYER}
    layer.update(extras)
    # micro-batch durations pooled over the run's repetitions (chat_stream)
    batches = [b for r in ok for b in r.batches]
    microbatch = None
    if batches:
        high = tail(batches)
        microbatch = {
            "microbatch_p50_s": median(batches),
            "microbatch_tail_s": high and high[0],
            "microbatch_tail_percentile": high and high[1],
            "microbatches": len(batches),
        }
        layer["stream.microbatch_p50_s"] = median(batches)
    shown = layer if h.trace else e2e
    units = (
        {k: u for k, u in PER_LAYER.items() if k not in DETAIL_ONLY} if h.trace else END_TO_END
    )
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": int(h.trace),
        "box": box,
        "input": wl.inp.fingerprint,
        "cores": cores,
        "reps": len(reps),
        "rep_seconds": [r.seconds if r else None for r in reps],
        "session_start_s": session_s,
        "warmup_seconds": warmup,
        "jvm_gc_s": jvm_gc_s,
        "jvm_jit_s": jvm_jit_s,
        "end_to_end": e2e,
        "microbatch": microbatch,
        "layers": {k: layer.get(k, 0.0) for k in PER_LAYER} if h.trace else None,
        "problems": [p for r in ok for p in r.problems][:20] + errors[:3],
    }
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0,
            "attempted": len(reps),
            "failed": failed,
            "metrics": {k: {"value": float(shown.get(k, 0.0)), "unit": u} for k, u in units.items()},
        },
    }


def run_all(args) -> int:
    """Every workload in its own process; prints each end-to-end metric."""
    from perfbench.workloads import WORKLOADS

    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, check=False)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{name}: failed (exit {p.returncode})\n{p.stderr[-2000:]}")
            status = 1
            continue
        res = json.loads(lines[-1])
        print(f"{name}: error_rate {res['failed'] / res['attempted']:.3f} "
              f"({res['failed']}/{res['attempted']} repetitions)")
        for k, v in res["metrics"].items():
            print(f"  {k:<18} {v['value']:>14.4f} {v['unit']}")
        microbatch = json.loads(lines[-2])["detail"]["microbatch"] if len(lines) > 1 else None
        if microbatch:
            print(f"  {'microbatch_p50_s':<18} {microbatch['microbatch_p50_s']:>14.4f} s")
            if microbatch["microbatch_tail_s"] is not None:
                print(f"  {'microbatch_tail_s':<18} {microbatch['microbatch_tail_s']:>14.4f} s"
                      f"  (p{microbatch['microbatch_tail_percentile']})")
            print(f"  {'microbatches':<18} {microbatch['microbatches']:>14d}")
    return status


def self_test(args) -> int:
    """A clean chat_checkpoint run must pass its check; one with a planted
    corrupted row must fail it."""
    outcomes = {}
    for plant in (False, True):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", "chat_checkpoint",
               "--seed", str(args.seed), "--seconds", "1", "--trace", "0"]
        if plant:
            cmd.append("--plant-corruption")
        p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, check=False)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        outcomes["planted" if plant else "clean"] = res and {
            k: res[k] for k in ("correct", "attempted", "failed")
        }
        print(f"{'planted corruption' if plant else 'clean run'}: {outcomes['planted' if plant else 'clean']}")
    good = (
        outcomes["clean"] and outcomes["clean"]["correct"]
        and outcomes["planted"] and not outcomes["planted"]["correct"]
    )
    print("self-test", "passed" if good else "FAILED")
    return 0 if good else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="Spark task slots (default: half the CPUs in the affinity mask)")
    ap.add_argument("--all", action="store_true", help="run every workload and print a table")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--plant-corruption", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    import doc_redaction_spark  # noqa: F401  (fail fast when the program is absent)
    from perfbench.workloads import WORKLOADS

    if args.all:
        return run_all(args)
    if args.self_test:
        return self_test(args)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    out = run(args)
    print(json.dumps({"detail": out["detail"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
