"""Output check run on every timed repetition.

Each repetition's output is checked against the input it was given:

* the row count equals the input count, and the keys are exactly the
  input keys — the sum of ``crc32(conv_id|turn_idx)`` over the output
  equals the input's, and on read-back outputs the distinct key count
  equals the row count (no duplicate or missing turn);
* ``rn == turn_idx + 1`` on every row (``turn_idx`` is dense from 0 in
  each conversation, so this is "rn is 1..n in turn_idx order");
* a hash-chosen sample of rows is byte-equal to the pure-Python golden
  ``python_clean(nfkc=False)`` → ``detect_spans_py`` → ``apply_spans``.

For noop-sink workloads the aggregates are collected in the same pass as
the timed write, through ``DataFrame.observe``.
"""

from __future__ import annotations

import zlib

from pyspark.sql import Column
from pyspark.sql import functions as F

from doc_redaction_spark.functions.clean import python_clean
from doc_redaction_spark.operators.detect import detect_spans_py
from doc_redaction_spark.operators.spans import apply_spans

from perfbench.gen import Input, key_crc

SAMPLE_COLS = ("conv_id", "turn_idx", "clean_text", "spans", "redacted_text")


def golden(text: str, cfg) -> tuple:
    clean = python_clean(text, nfkc=False)
    spans = detect_spans_py(clean, cfg)
    return clean, spans, apply_spans(clean, spans, cfg.strategy, cfg.salt)


class OutputCheck:
    def __init__(self, inp: Input, cfg, seed: int, sample_size: int = 200):
        self.n = inp.n
        self.keysum = sum(key_crc(c, t) for c, t, *_ in inp.rows)
        self.seed = seed
        self.mod = max(1, inp.n // sample_size)
        self.golden = {
            (c, t): golden(text, cfg)
            for c, t, _, text, _ in inp.rows
            if self._sampled(c, t)
        }

    def _sampled(self, conv_id: str, turn_idx: int) -> bool:
        return zlib.crc32(f"{conv_id}|{turn_idx}|{self.seed}".encode()) % self.mod == 0

    def sample_cond(self) -> Column:
        key = F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"), F.lit(str(self.seed)))
        return F.crc32(key) % self.mod == 0

    def aggregates(self, with_rn: bool) -> list[Column]:
        key = F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"))
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(key)).alias("keysum"),
            F.sum("n_spans").alias("spans"),
            F.collect_list(F.when(self.sample_cond(), F.struct(*SAMPLE_COLS))).alias("sample"),
        ]
        if with_rn:
            aggs.append(F.sum((F.col("rn") != F.col("turn_idx") + 1).cast("long")).alias("bad_rn"))
        return aggs

    def plant(self, out):
        """Corrupt the redacted text of one sampled row (self-test)."""
        conv_id, turn_idx = min(self.golden)
        hit = (F.col("conv_id") == conv_id) & (F.col("turn_idx") == turn_idx)
        return out.withColumn(
            "redacted_text",
            F.when(hit, F.concat("redacted_text", F.lit("#"))).otherwise(F.col("redacted_text")),
        )

    def verify(self, got: dict, distinct: int | None = None) -> list[str]:
        """Problems found in one output's aggregates (empty when correct)."""
        problems = []
        if got["n"] != self.n:
            problems.append(f"row count {got['n']} != input {self.n}")
        if got["keysum"] != self.keysum:
            problems.append("output keys differ from input keys")
        if distinct is not None and distinct != got["n"]:
            problems.append(f"{got['n'] - distinct} duplicate keys")
        if got.get("bad_rn"):
            problems.append(f"{got['bad_rn']} rows with rn != turn_idx + 1")
        seen = set()
        for r in got["sample"]:
            key = (r["conv_id"], r["turn_idx"])
            seen.add(key)
            want = self.golden.get(key)
            spans = [(s["entity_type"], s["start"], s["end"], s["score"]) for s in r["spans"]]
            if want is None or (r["clean_text"], spans, r["redacted_text"]) != want:
                problems.append(f"row {key} differs from the golden")
        if seen != set(self.golden):
            problems.append(f"sample has {len(seen)} of {len(self.golden)} golden rows")
        return problems
