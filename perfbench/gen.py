"""Seeded, cached input generators for the benchmark workloads.

Inputs are generated here in plain Python (``random.Random`` seeded from
the workload kind and ``--seed``), written as parquet with pyarrow, and
cached under the work directory. The program under test only ever sees
the parquet files. Every turn is identified by ``(conv_id, turn_idx)``
with ``turn_idx`` dense from 0 in each conversation, which the output
check relies on (``rn == turn_idx + 1``).

Two text shapes:

* ``chat`` — the shape of ``doc_redaction_spark.synth.synth_transcripts``:
  ~100-char turns, one email plus one planted PII template per turn, 40%
  of turns dirty (CRLF, markup, entity, non-ASCII punctuation), Zipf-1.2
  conversation lengths (the largest conversation holds about a fifth of
  the turns).
* ``tool`` — few, long (KB-scale, log-normal lengths) tool-output turns
  that are nearly all dirty (markup, entities, URLs, CRLF, non-ASCII
  punctuation) with sparse PII per KB.

Text is kept inside the character subset on which Java and Python regex
agree (no non-ASCII whitespace at the edges, no U+0085/U+2028/U+2029), so
the pure-Python golden is a valid reference for every row.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import zlib
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator's output changes, so stale caches are not reused
VERSION = 1

ROLES = ("user", "assistant", "tool", "system")
CHAT_FILLERS = (
    "The quick brown fox jumps over the lazy dog.",
    "We agreed to review the contract terms tomorrow.",
    "Meeting notes: action items assigned to the team.",
    "Please see   the attached\r\nreport for details.",
    "Summary of the discussion and next steps follow.",
)
PII_TEMPLATES = (
    " My postcode is SW1A 1AA.",
    " Dr Smith lives at 221b Baker Street.",
    " Call +44 20 7946 0958 now.",
    " <b>Project&nbsp;Alpha</b> is secret…",
    " Server at 192.168.0.1 — nothing else!!",
)
DIRTY_MARKERS = ("<", "&", "http", "www.", "\n", "\r")
WORDS = (
    "request response status payload cache worker index shard query result "
    "record buffer stream token session header route region bucket object "
    "latency retry timeout commit branch deploy build release metric trace "
    "alpha beta gamma delta report summary table column value field"
).split()
HOSTS = ("example.com", "corpus-data.net", "chat-logs.org", "web-archive.io", "docs.example.org")
TOOLS = ("search", "browser", "shell", "python")
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def zipf_lengths(n_turns: int, n_convs: int, exponent: float) -> list[int]:
    """Turns per conversation: conversation rank r gets weight r^-exponent."""
    w = [(r + 1) ** -exponent for r in range(n_convs)]
    total = sum(w)
    return [max(1, round(x * n_turns / total)) for x in w]


def chat_rows(seed: int, n_turns: int):
    rng = random.Random(f"chat:{seed}")
    for c, n in enumerate(zipf_lengths(n_turns, max(1, n_turns // 200), 1.2)):
        for t in range(n):
            k = rng.randrange(5)
            text = (
                f"{CHAT_FILLERS[k]} Contact user{rng.randrange(100000)}@example.com."
                f"{PII_TEMPLATES[k]}"
            )
            yield f"conv{c}", t, ROLES[rng.randrange(4)], text, ""


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _tool_segment(rng: random.Random) -> str:
    k = rng.randrange(7)
    if k == 0:
        return f'<div class="row-{rng.randrange(100)}"><span>{_words(rng, 3, 12)}</span></div>\r\n'
    if k == 1:
        return (
            f'<a href="https://{rng.choice(HOSTS)}/{rng.choice(WORDS)}/{rng.randrange(10**6)}'
            f'?id={rng.randrange(1000)}&amp;ref={rng.choice(WORDS)}">{_words(rng, 1, 4)}</a> '
        )
    if k == 2:
        return f"{_words(rng, 4, 10)} &amp; {_words(rng, 2, 6)} &#39;quoted&#39; &nbsp;{_words(rng, 2, 8)}. "
    if k == 3:
        return f"“{_words(rng, 3, 8)}” — {_words(rng, 2, 6)}… • {_words(rng, 2, 6)} → café ✓ "
    if k == 4:
        return (
            f"[2024-03-{rng.randint(10, 28)} 12:{rng.randint(10, 59)}:{rng.randint(10, 59)}] INFO "
            f"worker-{rng.randrange(64)}: {_words(rng, 4, 12)}\r\n"
        )
    if k == 5:
        return (
            f'{{"key": "{rng.choice(WORDS)}-{rng.randrange(10**4)}", '
            f'"url": "http://www.{rng.choice(HOSTS)}/x?q={rng.choice(WORDS)}"}}\n'
        )
    return f"{_words(rng, 8, 20)}. "


def tool_rows(seed: int, n_turns: int):
    rng = random.Random(f"tool:{seed}")
    for i in range(n_turns):
        # heavy-tailed KB-scale lengths: median 3 KB, capped at 64 KB
        target = min(64_000, int(rng.lognormvariate(math.log(3000), 0.8)))
        parts, size = [], 0
        while size < target:
            if rng.random() < 0.03:  # sparse: about one PII item per 2-3 KB
                seg = rng.choice(PII_TEMPLATES) + f" Mail ops{rng.randrange(1000)}@example.com. "
            else:
                seg = _tool_segment(rng)
            parts.append(seg)
            size += len(seg)
        yield f"tool{i // 25}", i % 25, "tool", "".join(parts).strip(), rng.choice(TOOLS)


GENERATORS = {"chat": chat_rows, "tool": tool_rows}


def is_dirty(text: str) -> bool:
    return any(ord(ch) > 0x7F for ch in text) or any(m in text for m in DIRTY_MARKERS)


def fingerprint(rows: list[tuple]) -> dict:
    """Input properties that two runs compare to show they measured the same input."""
    per_conv: dict[str, int] = {}
    text_bytes = dirty = 0
    for conv, _, _, text, _ in rows:
        per_conv[conv] = per_conv.get(conv, 0) + 1
        text_bytes += len(text.encode("utf-8"))
        dirty += is_dirty(text)
    n = len(rows)
    return {
        "rows": n,
        "text_bytes": text_bytes,
        "dirty_share": round(dirty / n, 6),
        "largest_conv_share": round(max(per_conv.values()) / n, 6),
        "conversations": len(per_conv),
    }


def key_crc(conv_id: str, turn_idx: int) -> int:
    """crc32 of ``conv_id|turn_idx`` — equal to Spark's
    ``crc32(concat_ws('|', conv_id, turn_idx))``."""
    return zlib.crc32(f"{conv_id}|{turn_idx}".encode("utf-8"))


def _table(rows: list[tuple]) -> pa.Table:
    conv, idx, role, text, tool = (list(c) for c in zip(*rows))
    ts = [T0 + timedelta(seconds=i) for i in idx]
    return pa.Table.from_arrays(
        [pa.array(conv), pa.array(idx, pa.int32()), pa.array(role), pa.array(text),
         pa.array(tool), pa.array(ts, pa.timestamp("us", tz="UTC"))],
        schema=SCHEMA,
    )


class Input:
    """One generated input: parquet files on disk plus its rows and fingerprint."""

    def __init__(self, path: str, rows: list[tuple], fp: dict):
        self.path = path
        self.rows = rows
        self.fingerprint = fp

    @property
    def n(self) -> int:
        return len(self.rows)


def materialise(cache_dir: str, kind: str, seed: int, n_turns: int, n_files: int,
                keep: int = 12) -> Input:
    """Generate (or reuse from the cache) ``n_turns`` rows of ``kind`` for
    ``seed``, written round-robin into ``n_files`` parquet files so every
    conversation spans every file."""
    name = f"{kind}-s{seed}-n{n_turns}-f{n_files}-v{VERSION}"
    path = os.path.join(cache_dir, name)
    rows = list(GENERATORS[kind](seed, n_turns))
    marker = os.path.join(path, "fingerprint.json")
    if os.path.exists(marker):
        with open(marker) as f:
            fp = json.load(f)
        os.utime(path)
        return Input(os.path.join(path, "data"), rows, fp)
    shutil.rmtree(path, ignore_errors=True)
    data = os.path.join(path, "data")
    os.makedirs(data)
    for i in range(n_files):
        pq.write_table(_table(rows[i::n_files]), os.path.join(data, f"part-{i:05d}.parquet"))
    fp = fingerprint(rows)
    with open(marker, "w") as f:
        json.dump(fp, f)
    _evict(cache_dir, keep)
    return Input(data, rows, fp)


def _evict(cache_dir: str, keep: int) -> None:
    """Keep the ``keep`` most recently used cached inputs."""
    entries = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)
