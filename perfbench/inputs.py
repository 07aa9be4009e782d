"""Seeded benchmark inputs, generated once per (workload, seed) and cached
as parquet.

The program under test only ever sees the parquet files: generation runs
here, outside every timed pass and outside ``setup_s``.

* ``mixed``: the datagen default payload mix (35% plain, 20% ocr_blocks,
  20% html, 15% pdfish, 10% mixed) with its one-conversation skew tail.
* ``chat_skew``: short plain turns only (a few lines of chat), about 30%
  of them in one mega-conversation.

Each workload also has a stream of small deltas (whole conversations with
fresh conv_ids) that the incremental commit path lands one at a time.
"""

from __future__ import annotations

import datetime
import multiprocessing
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from accelerated_intelligent_document_processing_on_aws_spark.datagen.transcripts import (
    ROLES,
    TOOLS,
    WORDS,
    gen_transcripts_pdf,
)

# Sizes: larger passes are steadier, but one run (set-up, warm-up,
# window, checks) must stay near a minute.
SIZES = {
    # (convs in the table, convs per delta, table files)
    "mixed": (600, 24, 8),  # ~13k turns
    "chat_skew": (2000, 60, 8),  # ~23k turns
}
# worker processes that generate a mixed table
GEN_PROCS = 4
CHAT_MEAN_TURNS = 8
CHAT_MEGA_SHARE = 0.30
# lines per turn and words per line, each drawn from [lo, hi).  Turns of
# ~100-400 characters put ~8 MB through the conv-keyed exchange, enough
# that AQE keeps the window stage at one task per core (it merges
# partitions under 1 MB), so the mega-conversation's task shows as the
# straggler in operators.sectionize.task_skew.
CHAT_LINES = (2, 8)
CHAT_WORDS = (6, 20)

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


def _mixed_chunk(job: tuple) -> dict:
    n_convs, seed, prefix, skew = job
    pdf = gen_transcripts_pdf(n_convs=n_convs, seed=seed, skew_convs=1 if skew else 0)
    return {
        "conv_id": [prefix + c for c in pdf["conv_id"]],
        "turn_idx": pdf["turn_idx"].tolist(),
        "role": pdf["role"].tolist(),
        "text": pdf["text"].tolist(),
        "tool": pdf["tool"].tolist(),
        "ts": pdf["ts"].astype("datetime64[us]").tolist(),
    }


def _mixed_rows(n_convs: int, seed: int, prefix: str, skew: bool) -> dict:
    """``gen_transcripts_pdf`` seeds conversation ``i`` with ``seed + 1000 +
    i``, so the generator's seeds are spaced ``n_convs`` apart: neighbouring
    benchmark seeds then share no conversation.  A table (``skew``) is
    generated as ``GEN_PROCS`` consecutive ranges of conversations in as
    many worker processes; only the first range carries the skew tail."""
    base = seed * n_convs % 2**31
    k = GEN_PROCS if skew else 1
    sizes = [n_convs // k + (i < n_convs % k) for i in range(k)]
    jobs = [
        (m, base + sum(sizes[:i]), f"{prefix}{i}-", skew and i == 0)
        for i, m in enumerate(sizes)
    ]
    if k == 1:
        parts = [_mixed_chunk(jobs[0])]
    else:
        # forked before the session's JVM starts; every worker is joined
        pool = multiprocessing.get_context("fork").Pool(k)
        try:
            parts = pool.map(_mixed_chunk, jobs)
        finally:
            pool.close()
            pool.join()
    return {c: [v for part in parts for v in part[c]] for c in SCHEMA.names}


def _plain_turns(rng: np.random.Generator, n: int) -> list:
    """``n`` chat turns: a few lines of words, some upper-cased or
    indented, 8% tagged as a document boundary."""
    n_lines = rng.integers(*CHAT_LINES, size=n)
    n_words = rng.integers(*CHAT_WORDS, size=int(n_lines.sum()))
    words = np.asarray(WORDS)[rng.integers(0, len(WORDS), size=int(n_words.sum()))]
    upper = rng.random(len(n_words)) < 0.2
    indent = rng.integers(0, 3, size=len(n_words))
    doc = rng.random(n) < 0.08
    lines, w = [], 0
    for k, up, ind in zip(n_words.tolist(), upper.tolist(), indent.tolist()):
        body = " ".join(words[w : w + k])
        w += k
        lines.append(" " * ind + (body.upper() if up else body))
    out, j = [], 0
    for k, d in zip(n_lines.tolist(), doc.tolist()):
        text = "\n".join(lines[j : j + k])
        j += k
        out.append("<<DOC>>\n" + text if d else text)
    return out


def _chat_rows(n_convs: int, seed: int, prefix: str, mega: bool) -> dict:
    rng = np.random.default_rng(seed)
    lens = np.maximum(2, rng.poisson(CHAT_MEAN_TURNS, size=n_convs))
    if mega:
        # conversation 0 holds CHAT_MEGA_SHARE of all turns
        rest = int(lens[1:].sum())
        lens[0] = int(rest * CHAT_MEGA_SHARE / (1 - CHAT_MEGA_SHARE))
    base = datetime.datetime(2025, 1, 1, tzinfo=datetime.timezone.utc)
    rows = {k: [] for k in SCHEMA.names}
    for i, k in enumerate(lens):
        for t in range(int(k)):
            role = ROLES[t % len(ROLES)]
            rows["conv_id"].append(f"{prefix}conv-{i:06d}")
            rows["turn_idx"].append(t)
            rows["role"].append(role)
            rows["tool"].append(TOOLS[t % len(TOOLS)] if role == "tool" else None)
            rows["ts"].append(base + datetime.timedelta(seconds=i * 86400 + t * 60))
    rows["text"] = _plain_turns(rng, len(rows["conv_id"]))
    perm = rng.permutation(len(rows["conv_id"]))
    return {k: [v[i] for i in perm] for k, v in rows.items()}


_ROWS = {"mixed": _mixed_rows, "chat_skew": _chat_rows}


def _write(rows: dict, path: str, n_files: int) -> int:
    tbl = pa.Table.from_pydict(rows, schema=SCHEMA)
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        tmp = os.path.join(path, f".part-{i:03d}.parquet.tmp")
        pq.write_table(tbl.slice(i * step, step), tmp)
        os.replace(tmp, os.path.join(path, f"part-{i:03d}.parquet"))
    return tbl.num_rows


def _cached(cache_dir: str, name: str, make) -> tuple[str, int]:
    """Build ``cache_dir/name`` once; a ``_ROWS`` file marks it complete."""
    path = os.path.join(cache_dir, name)
    marker = os.path.join(path, "_ROWS")
    if not os.path.isfile(marker):
        n = make(path)
        with open(marker, "w") as fh:
            fh.write(str(n))
    with open(marker) as fh:
        return path, int(fh.read())


def table(cache_dir: str, workload: str, seed: int) -> tuple[str, int]:
    """(directory of the workload's table, turn count)."""
    n_convs, _, n_files = SIZES[workload]
    return _cached(
        cache_dir,
        f"{workload}-{n_convs}-{seed}-table",
        lambda p: _write(_ROWS[workload](n_convs, seed, "", True), p, n_files),
    )


def delta(cache_dir: str, workload: str, seed: int, j: int) -> tuple[str, int]:
    """(directory holding delta ``j``'s single parquet file, turn count).
    Delta conversations get conv_ids no table or other delta uses."""
    _, n_convs, _ = SIZES[workload]
    return _cached(
        cache_dir,
        f"{workload}-{n_convs}-{seed}-delta{j:03d}",
        lambda p: _write(
            _ROWS[workload](n_convs, seed * 1000 + j + 1, f"d{j:03d}-", False),
            p,
            1,
        ),
    )
