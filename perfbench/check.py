"""Correctness checks on the program's outputs.

Every check returns a list of failure messages; an empty list means the
output is correct.  Tables on disk are read with pyarrow, not Spark, and
the reference is the pure-Python kernel run in this process.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds

from accelerated_intelligent_document_processing_on_aws_spark.kernels.extract import (
    extract_turn,
)

KEY = ("conv_id", "turn_idx")


def read_table(path: str) -> pa.Table:
    """A partitioned parquet directory as one table sorted by key."""
    tbl = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    return tbl.sort_by([(k, "ascending") for k in KEY])


def reference(input_dir: str) -> dict:
    """Driver-side kernel output per turn: key -> (extracted_text, spans)."""
    tbl = read_table(input_dir)
    out = {}
    for c, t, text in zip(
        tbl["conv_id"].to_pylist(),
        tbl["turn_idx"].to_pylist(),
        tbl["text"].to_pylist(),
    ):
        et, spans, _kinds, _bound = extract_turn(text)
        out[(c, t)] = (et, [tuple(s) for s in spans])
    return out


def against_reference(tbl: pa.Table, ref: dict) -> list:
    """Rows equal the input turns one to one, and each row's extracted_text
    and spans (offsets and text) equal the driver-side kernel's."""
    errs = []
    keys = list(zip(tbl["conv_id"].to_pylist(), tbl["turn_idx"].to_pylist()))
    if len(keys) != len(ref) or set(keys) != set(ref):
        errs.append(f"{len(keys)} output rows for {len(ref)} input turns")
    bad = 0
    for k, et, spans in zip(
        keys, tbl["extracted_text"].to_pylist(), tbl["spans"].to_pylist()
    ):
        got = (
            et,
            [(s["span_id"], s["kind"], s["start"], s["end"], s["text"]) for s in spans],
        )
        if ref.get(k) != got:
            bad += 1
    if bad:
        errs.append(f"{bad} turns differ from the driver-side kernel")
    return errs


def lineage(checkpoint_dir: str, snapshot: str, n_buckets: int, turns: int) -> list:
    """One input snapshot's lineage: every bucket COMMITTED, summed
    row_count equal to the input turns."""
    tbl = ds.dataset(checkpoint_dir, format="parquet").to_table(
        filter=ds.field("input_snapshot_id") == snapshot
    )
    errs = []
    committed = [
        p
        for p, s in zip(tbl["partition_id"].to_pylist(), tbl["status"].to_pylist())
        if s == "COMMITTED"
    ]
    if sorted(committed) != list(range(n_buckets)):
        errs.append(f"{len(committed)} committed lineage rows, want {n_buckets}")
    total = sum(tbl["row_count"].to_pylist())
    if total != turns:
        errs.append(f"lineage row_count sums to {total}, want {turns}")
    return errs


def union_of_ingests(output_dir: str, expected_keys: set) -> list:
    """The incremental table: no duplicate (conv_id, turn_idx) across
    ingests, and exactly the base plus every landed delta."""
    tbl = read_table(output_dir)
    keys = list(zip(tbl["conv_id"].to_pylist(), tbl["turn_idx"].to_pylist()))
    errs = []
    if len(keys) != len(set(keys)):
        errs.append(f"{len(keys) - len(set(keys))} duplicate keys across ingests")
    if set(keys) != expected_keys:
        errs.append(
            f"ingests cover {len(set(keys))} keys, want {len(expected_keys)}"
        )
    return errs


def input_keys(input_dir: str) -> set:
    tbl = ds.dataset(input_dir, format="parquet").to_table(columns=list(KEY))
    return set(zip(tbl["conv_id"].to_pylist(), tbl["turn_idx"].to_pylist()))


def done_marker(checkpoint_dir: str, snapshot: str) -> list:
    p = os.path.join(checkpoint_dir, "_inputs", f"snap-{snapshot}.done")
    return [] if os.path.isfile(p) else [f"no .done marker for {snapshot}"]
