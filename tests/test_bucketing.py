"""Bucketed-table co-located joins: zero-exchange plans (brief §partitioning)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from accelerated_intelligent_document_processing_on_aws_spark import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=8)
    db_dir = tmp_path_factory.mktemp("warehouse")
    s.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{db_dir}'")
    yield s
    s.sql("DROP DATABASE IF EXISTS bkt CASCADE")


def _n_exchanges(df) -> int:
    import re

    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))


def test_bucketed_join_plans_zero_exchanges(spark):
    from accelerated_intelligent_document_processing_on_aws_spark.io.tables import (
        write_bucketed,
    )

    turns = spark.range(2000).select(
        (F.col("id") % 200).alias("conv_id"), F.col("id").alias("turn_idx")
    )
    meta = spark.range(200).select(
        F.col("id").alias("conv_id"), (F.col("id") * 2).alias("priority")
    )
    write_bucketed(turns, "bkt.turns", "conv_id", n_buckets=8, sort_col="conv_id")
    write_bucketed(meta, "bkt.meta", "conv_id", n_buckets=8, sort_col="conv_id")

    a = spark.table("bkt.turns")
    b = spark.table("bkt.meta").hint("merge")
    joined = a.join(b, "conv_id")
    assert _n_exchanges(joined) == 0, "bucketed join must not shuffle"
    assert joined.count() == 2000

    # groupBy on the bucket key also rides the bucketing — no exchange
    agg = spark.table("bkt.turns").groupBy("conv_id").agg(F.count("*").alias("n"))
    assert _n_exchanges(agg) == 0
    assert agg.count() == 200


def test_unbucketed_baseline_does_shuffle(spark):
    """Sanity: the same join without bucketing plans exchanges (so the
    zero-exchange assertion above is meaningful)."""
    a = spark.range(2000).select((F.col("id") % 200).alias("conv_id"))
    b = spark.range(200).select(F.col("id").alias("conv_id")).hint("merge")
    assert _n_exchanges(a.join(b, "conv_id")) >= 1


def test_pipeline_bucketed_output_zero_exchange_joins(spark, tmp_path_factory):
    """run_pipeline with bucketed_table set publishes the extracted table
    partitioned by pt AND bucketed by conv_id: downstream conv-keyed
    aggregates and joins plan zero exchanges, rows equal the plain
    path-based run, and resume still early-returns (VERDICT #8)."""
    import accelerated_intelligent_document_processing_on_aws_spark as pkg
    from accelerated_intelligent_document_processing_on_aws_spark.datagen.transcripts import (
        write_transcripts,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.io.tables import (
        write_bucketed,
    )

    root = tmp_path_factory.mktemp("pipe_bkt")
    inp = str(root / "in")
    write_transcripts(spark, inp, n_convs=40, mean_turns=6)

    cfg = pkg.PipelineConfig(
        n_buckets=8, bucketed_table="bkt.pipe_out", conv_buckets=8
    )
    s1 = pkg.run_pipeline(
        spark, inp, str(root / "unused_out"), str(root / "ckpt"), cfg
    )
    assert s1["partitions_committed"] == 8

    got = spark.table("bkt.pipe_out")

    # conv-keyed aggregate: zero exchanges (bucketed scan satisfies it)
    agg = got.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
    assert _n_exchanges(agg) == 0

    # conv-keyed join against a same-bucketed dimension: zero exchanges
    meta = got.select("conv_id").distinct().withColumn("flag", F.lit(1))
    write_bucketed(meta, "bkt.pipe_meta", "conv_id", n_buckets=8,
                   sort_col="conv_id")
    joined = got.join(spark.table("bkt.pipe_meta").hint("merge"), "conv_id")
    assert _n_exchanges(joined) == 0
    assert joined.count() == got.count()

    # same rows as the plain path-based pipeline
    plain_out, plain_cp = str(root / "plain_out"), str(root / "plain_cp")
    pkg.run_pipeline(spark, inp, plain_out, plain_cp,
                     pkg.PipelineConfig(n_buckets=8))
    key = ["conv_id", "turn_idx"]
    a = spark.read.parquet(plain_out).orderBy(*key).collect()
    b = got.orderBy(*key).select(*spark.read.parquet(plain_out).columns).collect()
    assert a == b

    # resume: second run early-returns, table untouched
    s2 = pkg.run_pipeline(
        spark, inp, str(root / "unused_out"), str(root / "ckpt"), cfg
    )
    assert s2["resumed"] and s2["partitions_written"] == 0
    assert spark.table("bkt.pipe_out").count() == got.count()


def test_pipeline_bucketed_partial_resume(spark, tmp_path_factory):
    """A crashed bucketed run retried with remaining candidates takes the
    insertInto + dynamic-partition-overwrite branch of
    write_partitioned_bucketed (the table already exists): only the lost
    pt partitions are rewritten, committed partition files stay
    byte-untouched, downstream joins keep their zero-exchange plans, and
    the healed table equals the plain path-based pipeline exactly."""
    import os
    import shutil

    import accelerated_intelligent_document_processing_on_aws_spark as pkg
    from accelerated_intelligent_document_processing_on_aws_spark.datagen.transcripts import (
        write_transcripts,
    )

    root = tmp_path_factory.mktemp("pipe_bkt_resume")
    inp = str(root / "in")
    write_transcripts(spark, inp, n_convs=50, mean_turns=6)

    cfg = pkg.PipelineConfig(
        n_buckets=8, bucketed_table="bkt.pipe_resume", conv_buckets=8
    )
    ckpt = str(root / "ckpt")
    s1 = pkg.run_pipeline(spark, inp, str(root / "unused"), ckpt, cfg)
    assert s1["partitions_committed"] == 8

    loc = [
        r.data_type
        for r in spark.sql("DESCRIBE FORMATTED bkt.pipe_resume").collect()
        if r.col_name == "Location"
    ][0].removeprefix("file:")
    pts = sorted(
        int(d.split("=")[1]) for d in os.listdir(loc) if d.startswith("pt=")
    )
    assert len(pts) >= 4

    # reconstruct killed-run state: 2 buckets lost from table + checkpoint
    lost = pts[:2]
    for pt in lost:
        shutil.rmtree(os.path.join(loc, f"pt={pt}"))
    kept = spark.read.parquet(ckpt).filter(~F.col("partition_id").isin(lost))
    kept_pd = kept.toPandas()
    shutil.rmtree(ckpt)
    spark.createDataFrame(kept_pd, kept.schema).coalesce(1).write.parquet(ckpt)
    spark.catalog.refreshTable("bkt.pipe_resume")

    survivors = {}
    for d in os.listdir(loc):
        if d.startswith("pt="):
            for f in os.listdir(os.path.join(loc, d)):
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(loc, d, f))
                    survivors[f"{d}/{f}"] = (st.st_size, st.st_mtime)

    s2 = pkg.run_pipeline(spark, inp, str(root / "unused"), ckpt, cfg)
    assert s2["resumed"] is True
    assert s2["partitions_committed"] == len(lost)
    spark.catalog.refreshTable("bkt.pipe_resume")

    after = {}
    for d in os.listdir(loc):
        if d.startswith("pt="):
            for f in os.listdir(os.path.join(loc, d)):
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(loc, d, f))
                    after[f"{d}/{f}"] = (st.st_size, st.st_mtime)
    for k, v in survivors.items():
        assert after[k] == v, f"committed partition file {k} was rewritten"

    # healed table equals the plain path-based run
    plain_out = str(root / "plain_out")
    pkg.run_pipeline(spark, inp, plain_out, str(root / "plain_cp"),
                     pkg.PipelineConfig(n_buckets=8))
    key = ["conv_id", "turn_idx"]
    plain_cols = spark.read.parquet(plain_out).columns
    a = spark.read.parquet(plain_out).orderBy(*key).collect()
    b = spark.table("bkt.pipe_resume").orderBy(*key).select(*plain_cols).collect()
    assert a == b

    # zero-exchange conv-keyed aggregate survives the insertInto resume
    agg = spark.table("bkt.pipe_resume").groupBy("conv_id").agg(
        F.count("*").alias("n")
    )
    assert _n_exchanges(agg) == 0


def test_pipeline_bucketed_files_per_bucket_subsplits(spark, tmp_path_factory):
    """bucketed_table with a flat files_per_bucket=k sub-splits inside each
    (pt, conv-bucket) slice: at most k files per slice, more than one for
    a busy slice, every file still named for one table bucket, rows equal
    the plain run, and conv-keyed aggregates and joins plan zero
    exchanges."""
    import glob
    import os
    import re
    from collections import Counter

    import accelerated_intelligent_document_processing_on_aws_spark as pkg
    from accelerated_intelligent_document_processing_on_aws_spark.datagen.transcripts import (
        write_transcripts,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.io.tables import (
        write_bucketed,
    )

    root = tmp_path_factory.mktemp("pipe_bkt_k")
    inp = str(root / "in")
    write_transcripts(
        spark, inp, n_convs=40, mean_turns=6, skew_convs=1, skew_factor=20
    )
    k, conv_buckets = 4, 4
    cfg = pkg.PipelineConfig(
        n_buckets=8,
        bucketed_table="bkt.pipe_k",
        conv_buckets=conv_buckets,
        files_per_bucket=k,
    )
    s1 = pkg.run_pipeline(spark, inp, str(root / "unused"), str(root / "ck"), cfg)
    assert s1["partitions_committed"] == 8

    loc = [
        r.data_type
        for r in spark.sql("DESCRIBE FORMATTED bkt.pipe_k").collect()
        if r.col_name == "Location"
    ][0].removeprefix("file:")
    per_slice = Counter()
    for f in glob.glob(os.path.join(loc, "pt=*", "*.parquet")):
        m = re.search(r"_(\d{5})[_.]", os.path.basename(f))
        assert m, f"bucketed file name missing bucket id: {f}"
        bucket = int(m.group(1))
        assert bucket < conv_buckets, f
        per_slice[(os.path.basename(os.path.dirname(f)), bucket)] += 1
    assert max(per_slice.values()) <= k, per_slice
    assert max(per_slice.values()) > 1, per_slice  # the sub-split is live

    got = spark.table("bkt.pipe_k")
    agg = got.groupBy("conv_id").agg(F.count("*").alias("n"))
    assert _n_exchanges(agg) == 0
    meta = got.select("conv_id").distinct().withColumn("flag", F.lit(1))
    write_bucketed(meta, "bkt.pipe_k_meta", "conv_id", n_buckets=conv_buckets,
                   sort_col="conv_id")
    joined = got.join(spark.table("bkt.pipe_k_meta").hint("merge"), "conv_id")
    assert _n_exchanges(joined) == 0
    assert joined.count() == got.count()

    plain_out = str(root / "plain_out")
    pkg.run_pipeline(spark, inp, plain_out, str(root / "plain_ck"),
                     pkg.PipelineConfig(n_buckets=8))
    key = ["conv_id", "turn_idx"]
    plain_cols = spark.read.parquet(plain_out).columns
    a = spark.read.parquet(plain_out).orderBy(*key).collect()
    b = got.orderBy(*key).select(*plain_cols).collect()
    assert a == b
