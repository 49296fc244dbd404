"""The workloads. Each runs the program's public entry points on its own
seeded input:

* ``chat_short`` — ``extract_and_redact`` into a noop sink over short chat
  turns: per-row layers (window sort, two exchanges, Arrow dispatch, span
  structs) are at their largest share.
* ``tool_long`` — the same pipeline and sink over few, long,
  nearly all dirty tool outputs: per-byte layers (the clean battery, Arrow
  transfer of KB rows) dominate and shuffle record counts are small.
* ``chat_checkpoint`` — ``run_with_checkpoints`` (fresh run, 8 chunks) over
  short chat turns into a new directory: per-row layers (window sort, two
  exchanges, Arrow dispatch, span structs) plus the partitioned parquet
  write, the lineage append and the read-back of committed output.
* ``chat_stream`` — ``run_stream_once`` draining many small parquet files
  (availableNow, 8 files per trigger): per-micro-batch fixed costs and no
  ordering window.

A workload's ``rep`` runs one timed call and checks its output; the
harness (``run.py``) handles sessions, timing and reporting.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from doc_redaction_spark.config import PipelineConfig
from doc_redaction_spark.plans.checkpoint import run_with_checkpoints
from doc_redaction_spark.streaming import stream as stream_mod
from doc_redaction_spark.streaming.stream import run_stream_once
from doc_redaction_spark.synth import DENY_TERMS

from perfbench.gen import materialise


@dataclass
class Rep:
    """One timed call: wall seconds, CPU seconds of the process tree, the
    problems its output check found, its layer metrics (traced runs) and
    the durations of its micro-batches (streaming)."""

    seconds: float
    cpu_s: float
    problems: list
    layers: dict = field(default_factory=dict)
    batches: list = field(default_factory=list)


class Workload:
    """The noop-sink pipeline workload; subclasses change the call."""

    kind = "chat"
    n_turns = 30_000
    n_files = 8

    def prepare(self, h) -> None:
        self.inp = materialise(h.cache, self.kind, h.seed, self.n_turns, self.n_files)

    def config(self, h) -> PipelineConfig:
        # the spark-submit job's configuration (jobs/run_pipeline.py)
        return PipelineConfig(
            deny_terms=DENY_TERMS, salt_buckets=16, num_partitions=2 * h.cores
        )

    def rep(self, h) -> Rep:
        obs = Observation()
        with h.clock() as clk:
            out = h.timed_pipeline(h.turns, self.config(h))
            out = h.check.plant(out) if h.plant else out
            out.observe(obs, *h.check.aggregates(with_rn=True)).write.format("noop").mode(
                "overwrite"
            ).save()
        layers = h.layers()
        got = obs.get
        layers["detect.spans_per_turn"] = got["spans"] / h.n
        return Rep(clk.seconds, clk.cpu_s, h.check.verify(got), layers)


class ToolLong(Workload):
    kind = "tool"
    n_turns = 1_500


class ChatCheckpoint(Workload):
    n_turns = 15_000

    def rep(self, h) -> Rep:
        obs = Observation()
        d = h.fresh_dir("ckpt")

        def pipeline_fn(df):
            out = h.timed_pipeline(df, self.config(h))
            out = h.check.plant(out) if h.plant else out
            return out.observe(obs, *h.check.aggregates(with_rn=True))

        group = os.path.basename(d)
        h.spark.sparkContext.setJobGroup(group, group)
        with h.clock() as clk:
            run_with_checkpoints(
                h.spark, h.turns, pipeline_fn,
                out_dir=f"{d}/out", lineage_dir=f"{d}/lineage", run_id="bench", n_chunks=8,
            )
        jobs = len(h.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        h.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        layers = h.layers()
        got = obs.get
        lin = h.spark.read.parquet(f"{d}/lineage").agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_turns").alias("n_turns"),
            F.sum("n_spans").alias("n_spans"),
        ).first()
        h.discard()
        problems = h.check.verify(got)
        if (lin.rows, lin.n_turns, lin.n_spans) != (8, h.n, got["spans"]):
            problems.append(f"lineage {lin} does not sum to the output")
        shutil.rmtree(d)
        if h.trace:
            layers.update({
                "checkpoint.call_s": clk.seconds,
                "checkpoint.jobs": jobs,
                "checkpoint.sql_executions": layers.get("sql_executions", 0),
                "detect.spans_per_turn": got["spans"] / h.n,
            })
        return Rep(clk.seconds, clk.cpu_s, problems, layers)


class _Progress(StreamingQueryListener):
    """Keeps every micro-batch's progress (duration breakdown, input rows)."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append(
            {"run_id": str(p.runId), "rows": p.numInputRows, "ms": dict(p.durationMs)}
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class ChatStream(Workload):
    n_turns = 16_000
    n_files = 16  # 2 micro-batches at 8 files per trigger

    def config(self, h) -> PipelineConfig:
        # run_stream_once's default partitioning (num_partitions=0)
        return PipelineConfig(deny_terms=DENY_TERMS, salt_buckets=16)


    def rep(self, h) -> Rep:
        d = h.fresh_dir("stream")
        if not hasattr(self, "progress"):
            self.progress = _Progress()
            h.spark.streams.addListener(self.progress)
        self.progress.batches.clear()
        real = stream_mod.extract_and_redact
        if h.trace:  # time every per-batch pipeline call
            stream_mod.extract_and_redact = lambda df, cfg, **kw: h.timed_pipeline(df, cfg, **kw)
        try:
            with h.clock() as clk:
                run_stream_once(h.spark, self.inp.path, f"{d}/out", f"{d}/checkpoint", self.config(h))
        finally:
            stream_mod.extract_and_redact = real
        layers = h.layers()
        batches = list(self.progress.batches)
        out = h.spark.read.parquet(f"{d}/out/data")
        out = h.check.plant(out) if h.plant else out
        got = out.agg(
            *h.check.aggregates(with_rn=False),
            F.count_distinct("conv_id", "turn_idx").alias("distinct"),
        ).first().asDict()
        lineage = h.spark.read.parquet(f"{d}/out/lineage").agg(F.sum("n_turns")).first()[0]
        problems = h.check.verify(got, distinct=got["distinct"])
        if lineage != h.n:
            problems.append(f"lineage sums to {lineage} turns, not {h.n}")
        if h.trace:
            sc = h.spark.sparkContext
            jobs = sum(
                len(sc.statusTracker().getJobIdsForGroup(r))
                for r in {b["run_id"] for b in batches}
            )
            h.discard()
            ms = lambda k: statistics.median(b["ms"].get(k, 0) for b in batches) / 1e3  # noqa: E731
            layers.update({
                "stream.batches": len(batches),
                "stream.add_batch_s": ms("addBatch"),
                "stream.query_planning_s": ms("queryPlanning"),
                "stream.wal_commit_s": ms("walCommit"),
                "stream.jobs_per_batch": jobs / len(batches),
                "stream.source_rows_per_turn": sum(b["rows"] for b in batches) / h.n,
                "detect.spans_per_turn": got["spans"] / h.n,
            })
        shutil.rmtree(d)
        durations = [b["ms"]["triggerExecution"] / 1e3 for b in batches]
        return Rep(clk.seconds, clk.cpu_s, problems, layers, durations)


WORKLOADS = {
    "chat_short": Workload,
    "tool_long": ToolLong,
    "chat_checkpoint": ChatCheckpoint,
    "chat_stream": ChatStream,
}
