"""Resume / lineage semantics (north_rule: a killed run resumes from the
last committed snapshot without recomputing committed partitions).

Reference analog: the classification retry cache
(``classification/service.py:1455-1603``) — cached pages are skipped on
retry; we generalize to per-partition lineage + anti-join (SURVEY.md J4).

Kill simulation: run the pipeline to completion once (golden), then
reconstruct the on-disk state of a run killed mid-write — output dir with
some partition dirs missing, checkpoint containing lineage only for the
committed ones — and re-run.  Assertions:

* only the missing partitions are recomputed/written,
* committed partition files are byte-untouched (mtime + size),
* the resumed table equals the golden full run exactly.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from accelerated_intelligent_document_processing_on_aws_spark import (
    PipelineConfig,
    run_pipeline,
)
from accelerated_intelligent_document_processing_on_aws_spark.datagen.transcripts import (
    write_transcripts,
)

CFG = PipelineConfig(n_buckets=8)


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("resume")
    inp = str(root / "transcripts")
    write_transcripts(spark, inp, n_convs=30, mean_turns=6, skew_convs=1, skew_factor=10)
    return root, inp


def _snapshot_files(out_dir: str) -> dict[str, tuple[int, float]]:
    state = {}
    for r, _d, files in os.walk(out_dir):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            fp = os.path.join(r, f)
            st = os.stat(fp)
            state[os.path.relpath(fp, out_dir)] = (st.st_size, st.st_mtime)
    return state


def _rows(spark, path):
    return sorted(
        spark.read.parquet(path)
        .select("conv_id", "turn_idx", "extracted_text", "section_id")
        .collect()
    )


def test_full_then_noop_rerun(spark, paths):
    root, inp = paths
    out, cp = str(root / "out1"), str(root / "cp1")

    r1 = run_pipeline(spark, inp, out, cp, CFG)
    assert r1["partitions_written"] > 0 and not r1["resumed"]

    before = _snapshot_files(out)
    r2 = run_pipeline(spark, inp, out, cp, CFG)
    assert r2["partitions_written"] == 0 and r2["resumed"]
    assert _snapshot_files(out) == before, "no-op rerun must not rewrite anything"


def test_resume_after_kill(spark, paths):
    root, inp = paths
    golden_out, golden_cp = str(root / "gold_out"), str(root / "gold_cp")
    run_pipeline(spark, inp, golden_out, golden_cp, CFG)
    golden = _rows(spark, golden_out)
    all_pts = sorted(
        int(d.split("=")[1])
        for d in os.listdir(golden_out)
        if d.startswith("pt=")
    )
    assert len(all_pts) >= 4

    # ---- reconstruct killed-run state: 3 buckets never committed
    lost = set(all_pts[:3])
    out, cp = str(root / "out2"), str(root / "cp2")
    shutil.copytree(golden_out, out)
    for pt in lost:
        shutil.rmtree(os.path.join(out, f"pt={pt}"))
    cpdf = spark.read.parquet(golden_cp).filter(
        ~F.col("partition_id").isin([int(p) for p in lost])
    )
    cpdf.write.mode("overwrite").parquet(cp)

    committed_before = {
        k: v for k, v in _snapshot_files(out).items() if k.startswith("pt=")
    }

    r = run_pipeline(spark, inp, out, cp, CFG)
    assert r["resumed"] is True
    assert r["partitions_written"] == len(lost)

    after = _snapshot_files(out)
    for k, v in committed_before.items():
        assert after[k] == v, f"committed partition file {k} was rewritten"

    assert _rows(spark, out) == golden

    # lineage now covers EVERY bucket for this snapshot — including
    # hash-empty ones (they commit with row_count 0 so reruns early-return)
    cp_rows = (
        spark.read.parquet(cp)
        .filter(F.col("status") == "COMMITTED")
        .select("partition_id")
        .distinct()
        .collect()
    )
    assert sorted(x.partition_id for x in cp_rows) == list(range(CFG.n_buckets))


def test_lineage_metrics_map(spark, paths):
    """Checkpoint metrics carry the per-payload-kind metering map (G6)."""
    root, inp = paths
    out, cp = str(root / "out_m"), str(root / "cp_m")
    run_pipeline(spark, inp, out, cp, CFG)
    row = (
        spark.read.parquet(cp)
        .selectExpr(
            "sum(metrics['boundaries']) b",
            "sum(metrics['kind_html'] + metrics['kind_pdfish'] "
            "+ metrics['kind_ocr_blocks'] + metrics['kind_plain']) k",
            "sum(row_count) rc",
        )
        .collect()[0]
    )
    assert row.rc > 0 and row.k >= row.rc  # every turn has >=1 payload kind
    got = spark.read.parquet(out)
    assert row.b == got.filter(F.col("is_boundary")).count()


def test_empty_input_and_single_scan(spark, tmp_path):
    """A run over an empty input must not crash, must commit every bucket
    (so the rerun early-returns), and the whole pipeline must launch only
    the write job over the input — zero scans of the output table."""
    inp, out, cp = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "cp")
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    spark.createDataFrame([], schema).write.parquet(inp)

    sc = spark.sparkContext
    sc.setJobGroup("pl_first", "first run")
    r1 = run_pipeline(spark, inp, out, cp, CFG)
    jobs = sc.statusTracker().getJobIdsForGroup("pl_first")
    sc.setJobGroup(None, None)
    # one scan+write (AQE splits it into up to 3 sub-jobs) + the lineage
    # aggregate over the cached write frame + 1 footer inference + 1 tiny
    # lineage append = <=6; an output read-back would add its own
    # inference+scan jobs on top — pinned out by this bound
    assert len(jobs) <= 6, f"pipeline ran {len(jobs)} jobs: {jobs}"
    assert r1["partitions_written"] == 0 and not r1["resumed"]
    assert r1["partitions_committed"] == CFG.n_buckets

    r2 = run_pipeline(spark, inp, out, cp, CFG)
    assert r2["resumed"] and r2["partitions_written"] == 0


def test_snapshot_change_recertifies(spark, paths, tmp_path):
    """Reusing output_path across INPUT SNAPSHOTS (round-2 ADVICE): when
    the input grows, the new snapshot id makes every bucket a candidate
    again — nothing is 'resumed' from the old snapshot's lineage, stale
    buckets cannot be certified COMMITTED for the new snapshot, and the
    final table equals a from-scratch run over the new input."""
    root, inp = paths
    import glob as _glob

    # grown input = copy of inp + extra convs appended as a second file
    inp2 = str(tmp_path / "in2")
    shutil.copytree(inp, inp2)
    from accelerated_intelligent_document_processing_on_aws_spark.datagen.transcripts import (
        gen_transcripts_df,
    )

    extra = gen_transcripts_df(spark, n_convs=10, mean_turns=4, seed=7).withColumn(
        "conv_id", F.concat(F.lit("grown-"), F.col("conv_id"))
    )
    extra.coalesce(1).write.parquet(str(tmp_path / "extra"))
    for i, f in enumerate(_glob.glob(str(tmp_path / "extra") + "/*.parquet")):
        shutil.copy(f, os.path.join(inp2, f"extra-{i}.parquet"))

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    r1 = run_pipeline(spark, inp, out, cp, CFG)          # snapshot A
    shutil.rmtree(os.path.join(inp2, "_manifest"), ignore_errors=True)
    r2 = run_pipeline(spark, inp2, out, cp, CFG)         # snapshot B (grown)
    assert r2["snapshot_id"] != r1["snapshot_id"]
    assert r2["resumed"] is False                         # nothing carried over
    assert r2["partitions_committed"] == CFG.n_buckets

    fresh_out, fresh_cp = str(tmp_path / "fresh_out"), str(tmp_path / "fresh_cp")
    run_pipeline(spark, inp2, fresh_out, fresh_cp, CFG)
    assert _rows(spark, out) == _rows(spark, fresh_out)

    # lineage keeps the two snapshots' certifications separate
    snaps = {
        (r.input_snapshot_id, r.status)
        for r in spark.read.parquet(cp)
        .select("input_snapshot_id", "status")
        .collect()
    }
    assert (r1["snapshot_id"], "COMMITTED") in snaps
    assert (r2["snapshot_id"], "COMMITTED") in snaps


def test_pipeline_empty_input_commits_and_resumes(spark, tmp_path):
    """A valid-but-empty input (zero rows) must complete, commit every
    bucket with row_count 0, and early-return on rerun — not crash and
    not re-execute forever (round-2 ADVICE regression guard)."""
    import accelerated_intelligent_document_processing_on_aws_spark as pkg
    from accelerated_intelligent_document_processing_on_aws_spark.datagen.transcripts import (
        gen_transcripts_df,
    )

    inp, outp, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    gen_transcripts_df(spark, n_convs=3, mean_turns=2).limit(0).write.parquet(inp)
    cfg = pkg.PipelineConfig(n_buckets=8)
    s1 = pkg.run_pipeline(spark, inp, outp, ckpt, cfg)
    assert s1["partitions_written"] == 0 and s1["partitions_committed"] == 8
    s2 = pkg.run_pipeline(spark, inp, outp, ckpt, cfg)
    assert s2["resumed"] and s2["partitions_committed"] == 0


def test_lineage_groupby_path_large_bucket_count(spark, tmp_path):
    """At cluster-scale bucket counts lineage stays one fixed-width
    groupBy(pt) aggregate over the persisted write frame (8 expressions,
    independent of the bucket count): lineage sums match the table,
    resume early-returns, and there is no output-table read-back
    (job-count bound)."""
    inp, outp, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    write_transcripts(spark, inp, n_convs=40, mean_turns=5)
    cfg = PipelineConfig(n_buckets=1024)

    sc = spark.sparkContext
    sc.setJobGroup("pl_big", "groupBy-lineage run")
    s1 = run_pipeline(spark, inp, outp, ckpt, cfg)
    jobs = sc.statusTracker().getJobIdsForGroup("pl_big")
    sc.setJobGroup(None, None)
    # scan+write (<=3 AQE sub-jobs) + cached groupBy aggregate (<=2) +
    # footer inference + lineage append: a read-back of the output table
    # would add its own inference + scan jobs past this bound
    assert len(jobs) <= 8, f"pipeline ran {len(jobs)} jobs: {jobs}"

    assert s1["partitions_committed"] == 1024
    lin = spark.read.parquet(ckpt)
    got = spark.read.parquet(outp)
    assert lin.count() == 1024  # hash-empty buckets committed too
    row = lin.selectExpr(
        "sum(row_count) rc", "sum(span_count) sp",
        "sum(metrics['boundaries']) b",
    ).collect()[0]
    assert row.rc == got.count()
    assert row.sp == got.selectExpr("sum(size(spans))").collect()[0][0]
    assert row.b == got.filter(F.col("is_boundary")).count()

    s2 = run_pipeline(spark, inp, outp, ckpt, cfg)
    assert s2["resumed"] and s2["partitions_committed"] == 0


def test_files_per_bucket_widens_write_parallelism(spark, tmp_path):
    """files_per_bucket=k decouples write parallelism from the bucket
    count: each bucket lands in at most k files (more than 1 for busy
    buckets), the table equals the k=1 run exactly, and resume still
    early-returns on pt-bucket granularity."""
    inp = str(tmp_path / "in")
    write_transcripts(
        spark, inp, n_convs=60, mean_turns=8, skew_convs=2, skew_factor=20
    )
    out1, cp1 = str(tmp_path / "out1"), str(tmp_path / "cp1")
    outk, cpk = str(tmp_path / "outk"), str(tmp_path / "cpk")
    run_pipeline(spark, inp, out1, cp1, PipelineConfig(n_buckets=8))
    sk = run_pipeline(
        spark, inp, outk, cpk, PipelineConfig(n_buckets=8, files_per_bucket=4)
    )

    per_bucket = {}
    for e in os.listdir(outk):
        if e.startswith("pt="):
            per_bucket[e] = [
                f for f in os.listdir(os.path.join(outk, e))
                if f.endswith(".parquet")
            ]
    assert all(1 <= len(v) <= 4 for v in per_bucket.values())
    total_files = sum(len(v) for v in per_bucket.values())
    assert total_files > len(per_bucket), "write parallelism did not widen"

    key = ["conv_id", "turn_idx"]
    a = spark.read.parquet(out1).orderBy(*key).drop("pt").collect()
    b = spark.read.parquet(outk).orderBy(*key).drop("pt").collect()
    assert a == b

    s2 = run_pipeline(
        spark, inp, outk, cpk, PipelineConfig(n_buckets=8, files_per_bucket=4)
    )
    assert s2["resumed"] and s2["partitions_written"] == 0
