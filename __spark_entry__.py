"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship extraction pipeline on sf0.001;
``queries()``/``oracle_sql()`` expose each implemented operator from
SURVEY.md §2 with a DuckDB-checkable ANSI-SQL twin where the semantics are
SQL-expressible (pandas-UDF kernels and approximate ops are rows-only).

Cross-engine parity rules used throughout:
- DuckDB ``regexp_replace`` needs the ``'g'`` flag; Spark replaces all.
- ASCII character classes (no ``\\w``) so Java regex == RE2.
- Money aggregates summed as DECIMAL(18,4) (exact) then rounded and cast
  to DOUBLE, so FP summation order cannot flip the hash.
- Every computed column aliased identically on both sides.

Round 5: most backlog queries are certified through ``q_suite_*`` family
suites — each suite melts 4-7 member queries to one long-format union
with an identically-melted DuckDB oracle (see
``accelerated_intelligent_document_processing_on_aws_spark/certify.py``
and the ``_SUITES`` / ``_MELT_SCHEMAS`` registry below); member
functions and their individual oracle SQL remain in this module.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accelerated_intelligent_document_processing_on_aws_spark import (
    certify as _certify,
)

SF_DEFAULT = "/root/testdata/sf0.001"

# ---------------------------------------------------------------- helpers

_T_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a test table, defending against single-split scans: the sf
    tables arrive as ONE parquet file, so without a repartition every
    scan-heavy stage runs on one core (at 100 TB the scan is naturally
    split and ensure_min_partitions is a no-op).

    The (immutable) DataFrame is memoized per (session, dir, table):
    re-running ``spark.read.parquet`` + the partition probe for every
    query costs ~1 s of driver-side analysis each — pure overhead when
    74 registry queries read the same ten tables."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.common import (
        ensure_min_partitions,
    )

    # keyed on the session's applicationId — stable for the session's
    # lifetime and never reused the way id(spark) can be after a stop/
    # restart (a new SparkSession at the same address would hand back
    # DataFrames bound to the dead session).  Entries of other app ids
    # are evicted so stopped sessions don't accumulate.
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    if key not in _T_CACHE:
        for k in [k for k in _T_CACHE if k[0] != app_id]:
            del _T_CACHE[k]
        _T_CACHE[key] = ensure_min_partitions(
            spark.read.parquet(f"{sf_dir}/{name}.parquet")
        )
    return _T_CACHE[key]


_EDGE_CACHE: dict = {}


def _coact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized co-activity edge list (graph.coactivity_edges over the
    events table with the registry-standard minute/64 settings).  Twelve
    graph-family member queries derive the IDENTICAL edge frame; inside a
    certification suite they union into ONE action, so without sharing
    the distinct+window derivation runs 6-7x per action (round-4 VERDICT
    #2: memoize the heavy shared frames).  The frame is localCheckpointed
    lazily — the first action materializes it once per session and every
    later member reads the persisted RDD (same discipline as the
    pagerank iteration frames; local mode, so the non-fault-tolerant
    checkpoint trade is free).  Keyed like _T_CACHE on applicationId."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        coactivity_edges,
    )

    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir)
    if key not in _EDGE_CACHE:
        for k in [k for k in _EDGE_CACHE if k[0] != app_id]:
            del _EDGE_CACHE[k]
        e = _t(spark, sf_dir, "events")
        _EDGE_CACHE[key] = coactivity_edges(
            e, "user_id", "ts", "minute", 64
        ).localCheckpoint(eager=False)
    return _EDGE_CACHE[key]


def _ordered(df: DataFrame, *cols) -> DataFrame:
    """Deterministic output order WITHOUT a global orderBy: the
    rangepartitioning sort's boundary-sampling job re-executes the whole
    child subtree — above an Arrow-UDF stage that doubles the query's
    Python cost (measured +3.2 s on q_office_extract).  The driver's
    compare sorts rows before hashing (scripts/check_oracle.py canon),
    so ordering is presentational: one round-robin exchange to a single
    partition + in-partition sort gives the same order for unique keys,
    costs no sampling pass, and keeps the UDF stage's parallelism.
    Certification outputs are bounded, so the 1-partition sink is fine;
    a 100 TB job would skip final ordering entirely."""
    return df.repartition(1).sortWithinPartitions(*cols)


def _by(*cols):
    """Chainable form of ``_ordered`` for ``df.transform(_by(...))`` —
    used as the terminal presentational sort of every certification
    query (the driver's compare is row-order-insensitive; see
    ``_ordered`` for why a global orderBy costs a subtree re-execution).
    Top-k queries keep a real ``orderBy().limit()`` so Catalyst plans
    TakeOrderedAndProject."""
    return lambda df: _ordered(df, *cols)


def _dec_sum(c, scale=4):
    return F.sum(F.col(c).cast(f"decimal(18,{scale})"))


# DuckDB twins of functions/text.py expressions (keep in sync)
_NORM_SQL = (
    "lower(trim(regexp_replace(regexp_replace(coalesce(text,''),"
    " '[^a-zA-Z0-9_ \\t\\n\\r]', '', 'g'), '[ \\t\\n\\r]+', ' ', 'g')))"
)
_TOK_SQL = "len(regexp_extract_all(coalesce(text,''), '[^ \\t\\n\\r]+'))"
_PUNCT_SQL = (
    "len(regexp_extract_all(coalesce(text,''), '[^a-zA-Z0-9 \\t\\n\\r]'))"
    " / greatest(length(coalesce(text,'')), 1)"
)


def _stop_sql(lang_words):
    # DuckDB standard strings do NOT process backslash escapes, so a single
    # backslash in the SQL text reaches RE2 as the regex escape \b.
    words = "|".join(lang_words)
    return f"len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:{words})\\b'))"


# ---------------------------------------------------------------- queries

def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style rollup (G6/G9 partial+final agg pattern)."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity").alias("_sq"),
            _dec_sum("l_extendedprice").alias("_sp"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_sq").cast("double").alias("sum_qty"),
            F.col("_sp").cast("double").alias("sum_base_price"),
            F.round(F.col("_sq").cast("double") / F.col("count_order"), 4).alias("avg_qty"),
            "count_order",
        )
    )
    return out


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_customer_revenue(spark, sf_dir):
    """Broadcast-dim join + top-10 (J3/J6 broadcast-join pattern)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    out = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(_dec_sum("o_totalprice", 2).alias("_rev"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            "c_custkey",
            "c_name",
            F.col("_rev").cast("double").alias("revenue"),
            "n_orders",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )
    return out


Q_CUSTOMER_REVENUE_SQL = """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 10
"""


def q_region_revenue(spark, sf_dir):
    """Star-join rollup through two broadcast dims (J3 chain)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    out = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(_dec_sum("o_totalprice", 2).alias("_rev"))
        .select("r_name", F.col("_rev").cast("double").alias("revenue"))
    )
    return out


Q_REGION_REVENUE_SQL = """
SELECT r_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_events_sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization (G2 window-cumsum pattern): new
    session when the gap to the previous event of the same user > 30 min."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_sess = (
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > 1800)
    ).cast("int")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = e.withColumn("session_id", F.sum(new_sess).over(cum))
    out = (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .transform(_by("user_id"))
    )
    return out


Q_EVENTS_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (SELECT f.user_id, f.event_id, f.new_sess FROM flagged f)
)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM sess GROUP BY user_id ORDER BY user_id
"""
# ^ CAST: DuckDB windowed SUM over INTEGER yields HUGEINT, which lands in
# pandas as float64 and breaks the driver's dtype-sensitive value hash
# (Spark returns int64; values are identical).  Same cast in the other
# windowed-sum oracles below.


def q_events_islands(spark, sf_dir):
    """Consecutive same-type runs per user — the exact sectionization
    window (G2, classification/service.py:1823-1884 analog) on a
    driver-provided table."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    change = (
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w))
    ).cast("int")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = e.withColumn("island", F.sum(change).over(cum))
    out = (
        isl.groupBy("user_id")
        .agg(
            F.max("island").alias("n_islands"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .transform(_by("user_id"))
    )
    return out


Q_EVENTS_ISLANDS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
              OR event_type <> lag(event_type) OVER w THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
  SELECT user_id,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT user_id, CAST(MAX(island) AS BIGINT) AS n_islands, COUNT(*) AS n_events
FROM isl GROUP BY user_id ORDER BY user_id
"""


def q_events_metering(spark, sf_dir):
    """Metering merge analog (G6, utils/__init__.py:73-96): JSON counter
    extraction + groupBy sum."""
    e = _t(spark, sf_dir, "events")
    out = (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("total_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .transform(_by("event_type"))
    )
    return out


Q_EVENTS_METERING_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
       COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_doc_normalize(spark, sf_dir):
    """P8 comparator normalization (comparator.py:86-101), pure Catalyst."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        normalized_for_compare,
    )

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        normalized_for_compare(F.coalesce(F.col("text"), F.lit(""))).alias("norm_text"),
    )


Q_DOC_NORMALIZE_SQL = f"SELECT doc_id, {_NORM_SQL} AS norm_text FROM documents"


def q_doc_line_join(spark, sf_dir):
    """P1/P3 plain-text LINE-join fallback (ocr/service.py:1622-1630) as
    higher-order functions."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import line_join

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", line_join(F.coalesce(F.col("text"), F.lit(""))).alias("joined")
    )


Q_DOC_LINE_JOIN_SQL = """
SELECT doc_id,
       array_to_string(
         list_filter(list_transform(str_split(coalesce(text,''), chr(10)), x -> trim(x)),
                     x -> x <> ''),
         chr(10)) AS joined
FROM documents
"""


def q_doc_token_stats(spark, sf_dir):
    """Token counting + punctuation ratio (quality-scoring features)."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        punct_ratio,
        token_count,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
    )


Q_DOC_TOKEN_STATS_SQL = f"""
SELECT doc_id, {_TOK_SQL} AS n_tokens, ROUND({_PUNCT_SQL}, 6) AS punct_ratio
FROM documents
"""


def q_doc_lang_id(spark, sf_dir):
    """Stopword-vote language id (text-analysis op; deterministic
    tie-break)."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_guess"))


def _lang_id_sql():
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import STOPWORDS

    en = _stop_sql(STOPWORDS["en"])
    es = _stop_sql(STOPWORDS["es"])
    de = _stop_sql(STOPWORDS["de"])
    fr = _stop_sql(STOPWORDS["fr"])
    cjk = "len(regexp_extract_all(coalesce(text,''), '[\\x{4e00}-\\x{9fff}]')) > 0"
    return f"""
SELECT doc_id,
  CASE WHEN {cjk} THEN 'zh'
       WHEN greatest({en},{es},{de},{fr}) = 0 THEN 'unknown'
       WHEN {en} = greatest({en},{es},{de},{fr}) THEN 'en'
       WHEN {es} = greatest({en},{es},{de},{fr}) THEN 'es'
       WHEN {de} = greatest({en},{es},{de},{fr}) THEN 'de'
       ELSE 'fr' END AS lang_guess
FROM documents
"""


def q_doc_quality(spark, sf_dir):
    """Composite quality score (length/punct/stopword heuristic)."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        quality_score,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


def _quality_sql():
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import STOPWORDS

    stop = _stop_sql(STOPWORDS["en"])
    return f"""
SELECT doc_id,
  ROUND(0.4 * least(CAST({_TOK_SQL} AS DOUBLE) / 100.0, 1.0)
      + 0.3 * (1.0 - least(CAST({_PUNCT_SQL} AS DOUBLE) * 4.0, 1.0))
      + 0.3 * least(CAST({stop} AS DOUBLE) / greatest({_TOK_SQL}, 1) * 5.0, 1.0), 4)
  AS quality
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprint = md5 of normalized text (rolling-hash class)."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import fingerprint

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


Q_DOC_FINGERPRINT_SQL = f"SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents"


def q_doc_classify(spark, sf_dir):
    """Regex class cascade (P13, classification/service.py:570-596)."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        turn_class_col,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return d.select("doc_id", turn_class_col(F.col("text")).alias("doc_class"))


def _classify_sql():
    from accelerated_intelligent_document_processing_on_aws_spark.kernels.classify import (
        DEFAULT_CLASSES,
    )

    whens = []
    fallback = "unknown"
    for name, rx in DEFAULT_CLASSES:
        if rx is None:
            fallback = name
            continue
        whens.append(f"WHEN regexp_matches(coalesce(text,''), '{rx}') THEN '{name}'")
    return (
        "SELECT doc_id, CASE "
        + " ".join(whens)
        + f" ELSE '{fallback}' END AS doc_class FROM documents"
    )


_CONFIG_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "config_library", "transcript-sample", "config.yaml",
)


def q_config_extract(spark, sf_dir):
    """Config-INGESTION-driven classify + attribute extraction (round-3
    §2.8 closure): classes and per-class attribute regexes load from the
    committed YAML fixture (``config_library/transcript-sample/
    config.yaml`` — the reference's config_library shape, parsed like
    ``extraction/service.py:72-120``), drive the first-match rlike class
    cascade, then each class's attributes extract over that class's docs.
    The oracle generates its SQL from the SAME file, so query and oracle
    stay in lockstep with the fixture."""
    from accelerated_intelligent_document_processing_on_aws_spark.config import (
        attributes_config,
        classes_config,
        load_config,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        turn_class_col,
    )

    cfg = load_config(_CONFIG_FIXTURE)
    classes = classes_config(cfg)
    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        .withColumn("doc_class", turn_class_col(F.col("text"), classes))
    )
    # ONE scan: per-class attribute arrays dispatch on doc_class in a
    # single CASE projection + explode (a per-class filter+union would
    # re-scan the table once per class — 3 full scans at 100 TB)
    arr = None
    for cname, _rx in classes:
        ac = attributes_config(cfg, cname)
        if not ac:
            continue
        a_expr = F.array(
            *[
                F.struct(
                    F.lit(n).alias("attr"),
                    F.regexp_extract(F.col("text"), rx, 1).alias("value"),
                )
                for n, rx in ac.items()
            ]
        )
        cond = F.col("doc_class") == cname
        arr = F.when(cond, a_expr) if arr is None else arr.when(cond, a_expr)
    empty = F.array().cast("array<struct<attr:string,value:string>>")
    kv = F.explode(arr.otherwise(empty)).alias("kv")
    return (
        d.select("doc_id", "doc_class", kv)
        .select(
            "doc_id",
            "doc_class",
            F.col("kv.attr").alias("attr"),
            F.col("kv.value").alias("value"),
        )
        .transform(_by("doc_id", "attr"))
    )


def _config_extract_sql():
    from accelerated_intelligent_document_processing_on_aws_spark.config import (
        attributes_config,
        classes_config,
        load_config,
    )

    cfg = load_config(_CONFIG_FIXTURE)
    classes = classes_config(cfg)
    whens, fallback = [], "unknown"
    for name, rx in classes:
        if rx is None:
            fallback = name
            continue
        whens.append(f"WHEN regexp_matches(coalesce(text,''), '{rx}') THEN '{name}'")
    class_case = "CASE " + " ".join(whens) + f" ELSE '{fallback}' END"
    selects = []
    for cname, _rx in classes:
        for attr, rx in attributes_config(cfg, cname).items():
            rxsql = rx.replace("'", "''")
            selects.append(
                f"SELECT doc_id, doc_class, '{attr}' AS attr, "
                f"regexp_extract(text, '{rxsql}', 1) AS value "
                f"FROM d WHERE doc_class = '{cname}'"
            )
    return (
        "WITH d AS (SELECT doc_id, coalesce(text,'') AS text, "
        + class_case
        + " AS doc_class FROM documents) "
        + " UNION ALL ".join(selects)
        + " ORDER BY doc_id, attr"
    )


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups via fingerprint hash-groupBy."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        exact_duplicates,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return exact_duplicates(d, "doc_id", "text").select(
        "fp", "n_docs", "keeper_id"
    )


Q_DEDUP_EXACT_SQL = f"""
SELECT md5({_NORM_SQL}) AS fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
"""


def q_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-5 for the first 10 vectors (exact ANN
    baseline; zip_with/aggregate JVM-side math)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        brute_force_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return brute_force_topk(e, q, "vec_id", "embedding", k=5)


Q_KNN_COSINE_SQL = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT qid, e.vec_id AS nid, qv, CAST(e.embedding AS DOUBLE[]) AS ev
  FROM q, embeddings e WHERE e.vec_id <> qid
),
scored AS (
  SELECT qid, nid,
    ROUND(list_inner_product(qv, ev)
          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(ev, ev))),
          6) AS sim
  FROM pairs
),
ranked AS (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
  FROM scored
)
SELECT qid AS query_id, nid AS neighbor_id, rn AS rank, sim
FROM ranked WHERE rn <= 5
"""


def q_transcript_extract(spark, sf_dir):
    """Flagship non-SQL op: full extraction pipeline (pandas-UDF kernels +
    classification + sectionization) over deterministic synthetic
    transcripts (rows-only driver check)."""
    from accelerated_intelligent_document_processing_on_aws_spark import extract_stage
    from accelerated_intelligent_document_processing_on_aws_spark.datagen.transcripts import (
        gen_transcripts_df,
    )

    df = gen_transcripts_df(spark, n_convs=40, mean_turns=8, skew_convs=2, skew_factor=10)
    out = extract_stage(df)
    return _ordered(
        out.select(
            "conv_id",
            "turn_idx",
            "turn_class",
            "section_id",
            F.length("extracted_text").alias("n_extracted_chars"),
            F.size("spans").alias("n_spans"),
        ),
        "conv_id", "turn_idx",
    )


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates.  md5-derived shingle hashes +
    universal-hash signatures are engine-portable, so the FULL sketch —
    signatures, banded candidate generation, estimated Jaccard — is
    reproduced by a DuckDB oracle (hash-certified approximate operator)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    ).filter(F.length("text") > 0)
    return minhash_lsh_pairs(d, "doc_id", "text", threshold=0.5).transform(_by(
        "id_a", "id_b"
    ))


# shared shingle CTE over non-empty documents (set semantics, no df cap —
# the sketches hash every shingle)
_SHINGLES_CTE = f"""
nm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents
       WHERE length(coalesce(text,'')) > 0),
w AS (SELECT doc_id, str_split(t, ' ') AS w FROM nm),
g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
      FROM w, UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i))
"""


def _minhash_lsh_sql(num_hashes: int = 64, bands: int = 16, threshold: float = 0.5):
    """DuckDB twin of dedup.minhash_lsh_pairs: same md5 32-bit shingle
    hashes, same (a*h+b) mod (2^61-1) universal hashes (a*h+b < 2^63 so
    BIGINT arithmetic is exact), same banded candidate join (band slices
    compared by value; Spark's xxhash64 band key is equality-preserving)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        MERSENNE,
        _minhash_params,
    )

    a_par, b_par = _minhash_params(num_hashes, seed=42)
    rpb = num_hashes // bands
    prm = ", ".join(
        f"({i}, {int(a)}, {int(b)})" for i, (a, b) in enumerate(zip(a_par, b_par))
    )
    return f"""
WITH {_SHINGLES_CTE},
hv AS (SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS h FROM g),
prm(i, a, b) AS (VALUES {prm}),
sigc AS (SELECT doc_id, i, MIN((a * h + b) % {MERSENNE}) AS m
         FROM hv, prm GROUP BY doc_id, i),
sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM sigc GROUP BY doc_id),
banded AS (SELECT doc_id, band,
           array_to_string(sig[band*{rpb}+1 : band*{rpb}+{rpb}], ',') AS bkey
           FROM sig, UNNEST(range({bands})) AS t(band)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
est AS (SELECT id_a, id_b,
        ROUND(CAST(list_sum(list_transform(range(1, {num_hashes} + 1),
              i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)
              / {num_hashes}, 4) AS est_jaccard
        FROM cand JOIN sig sa ON id_a = sa.doc_id JOIN sig sb ON id_b = sb.doc_id)
SELECT id_a, id_b, est_jaccard FROM est
WHERE est_jaccard >= {threshold} ORDER BY id_a, id_b
"""


def q_simhash(spark, sf_dir):
    """SimHash near-dup pairs — md5-derived 64-bit shingle hashes make the
    bit-vote fingerprints and 4-band blocking reproducible in a DuckDB
    oracle (hash-certified)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        simhash_pairs,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    ).filter(F.length("text") > 0)
    return simhash_pairs(d, "doc_id", "text", max_hamming=6).transform(_by("id_a", "id_b"))


def _simhash_sql(max_hamming: int = 6):
    """DuckDB twin of dedup.simhash_pairs: same md5 64-bit shingle hashes
    (UBIGINT bit ops), same per-bit +/-1 votes, same 16-bit quarter-band
    blocking; the signed Spark LongType signature is reproduced via
    two's-complement conversion."""
    return f"""
WITH {_SHINGLES_CTE},
hv AS (SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 16)) AS UBIGINT) AS h FROM g),
bits AS (SELECT doc_id, s,
         SUM(CASE WHEN (h >> s) & 1 = 1 THEN 1 ELSE -1 END) AS acc
         FROM hv, UNNEST(range(64)) AS t(s) GROUP BY doc_id, s),
simu AS (SELECT doc_id,
         CAST(SUM(CASE WHEN acc > 0 THEN CAST(CAST(1 AS UBIGINT) << s AS HUGEINT)
                       ELSE 0 END) AS UBIGINT) AS su
         FROM bits GROUP BY doc_id),
banded AS (SELECT doc_id, su, band, (su >> (band * 16)) & 65535 AS band_val
           FROM simu, UNNEST(range(4)) AS t(band)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.su AS sua, b.su AS sub
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
SELECT id_a, id_b, bit_count(xor(sua, sub)) AS hamming
FROM cand WHERE bit_count(xor(sua, sub)) <= {max_hamming}
ORDER BY id_a, id_b
"""


def q_evaluate_exact(spark, sf_dir):
    """Evaluation harness (J1 golden join + EXACT comparator + G9 rollup):
    actual = text, expected = UPPER(text) — normalization-insensitive
    match must be 100%."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.evaluate import (
        evaluate_turns,
        metrics_rollup,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        .select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            "text",
        )
    )
    actual = d.select("conv_id", "turn_idx", F.col("text").alias("extracted_text"))
    golden = d.select(
        "conv_id", "turn_idx", F.upper(F.col("text")).alias("extracted_text")
    )
    ev = evaluate_turns(actual, golden, method="EXACT")
    return metrics_rollup(ev).select("n", "tp", "fp", "fn", "precision", "recall", "f1")


Q_EVALUATE_EXACT_SQL = """
SELECT COUNT(*) AS n, COUNT(*) AS tp, 0 AS fp, 0 AS fn,
       1.0 AS precision, 1.0 AS recall, 1.0 AS f1
FROM documents
"""


def _norm_sql_of(expr: str) -> str:
    """DuckDB twin of functions.text.normalized_for_compare over any expr."""
    return (
        f"lower(trim(regexp_replace(regexp_replace(coalesce({expr},''),"
        " '[^a-zA-Z0-9_ \\t\\n\\r]', '', 'g'), '[ \\t\\n\\r]+', ' ', 'g')))"
    )


def q_ocr_conf_table(spark, sf_dir):
    """P2 text-confidence markdown table (ocr/service.py:1516-1556):
    per-line `| text | conf |` rows, pipe-escaped, conf 1dp — pure Catalyst
    higher-order functions; synthetic per-line confidence (55 + len%45)."""
    d = _t(spark, sf_dir, "documents")
    lines = F.filter(
        F.transform(F.split(F.coalesce(F.col("text"), F.lit("")), "\n"), F.trim),
        lambda x: x != F.lit(""),
    )
    row = lambda x: F.format_string(  # noqa: E731
        "| %s | %.1f |",
        F.replace(x, F.lit("|"), F.lit("\\|")),
        (F.lit(55) + F.length(x) % 45).cast("double"),
    )
    table = F.concat(
        F.lit("| Text | Confidence |\n| --- | --- |\n"),
        F.array_join(F.transform(lines, row), "\n"),
    )
    return d.select("doc_id", table.alias("conf_table"))


Q_OCR_CONF_TABLE_SQL = r"""
SELECT doc_id,
  '| Text | Confidence |' || chr(10) || '| --- | --- |' || chr(10) ||
  array_to_string(
    list_transform(
      list_filter(list_transform(str_split(coalesce(text,''), chr(10)), x -> trim(x)),
                  x -> x <> ''),
      x -> printf('| %s | %.1f |', replace(x, '|', '\|'),
                  CAST(55 + length(x) % 45 AS DOUBLE))),
    chr(10)) AS conf_table
FROM documents
"""


def q_events_concat(spark, sf_dir):
    """G3 deterministic ordered concat (extraction/service.py:773-788):
    sort_array(collect_list(struct)) — never bare collect_list."""
    e = _t(spark, sf_dir, "events")
    trip = F.struct("ts", "event_id", "event_type")
    return (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(trip)), lambda s: s["event_type"]
                ),
                ",",
            ).alias("path"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .transform(_by("user_id"))
    )


Q_EVENTS_CONCAT_SQL = """
SELECT user_id,
       string_agg(event_type, ',' ORDER BY ts, event_id) AS path,
       COUNT(*) AS n_events
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_first_event_label(spark, sf_dir):
    """O2 first-k classify-then-propagate (classification/service.py:212-324):
    label each user by their FIRST event, propagate to all rows."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_rows = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_label"))
    )
    return (
        e.join(F.broadcast(first_rows), "user_id")
        .groupBy("user_id", "first_label")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .transform(_by("user_id"))
    )


Q_FIRST_EVENT_LABEL_SQL = """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
labels AS (SELECT user_id, event_type AS first_label FROM ranked WHERE rn = 1)
SELECT e.user_id, l.first_label, COUNT(*) AS n_events
FROM events e JOIN labels l ON e.user_id = l.user_id
GROUP BY e.user_id, l.first_label ORDER BY e.user_id
"""


def q_top_events_per_user(spark, sf_dir):
    """Top-3 events per user by value (ranked-window top-k, O-class)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return (
        e.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_id", "value", "rank")
        .transform(_by("user_id", "rank"))
    )


Q_TOP_EVENTS_PER_USER_SQL = """
SELECT user_id, event_id, value, rank FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
  FROM events
) WHERE rank <= 3 ORDER BY user_id, rank
"""

PRICING = [
    ("click", 0.002),
    ("view", 0.001),
    ("purchase", 0.01),
    ("error", 0.0),
    ("signup", 0.005),
]


def q_metering_cost(spark, sf_dir):
    """G10 cost computation (save_reporting_data.py:754-962): metering
    counts x broadcast pricing dim."""
    e = _t(spark, sf_dir, "events")
    # literal VALUES relation, not createDataFrame: no driver-side RDD /
    # schema-inference job, and the broadcast side is a local relation
    values = ", ".join(f"('{t}', CAST({r} AS DOUBLE))" for t, r in PRICING)
    pricing = spark.sql(f"SELECT * FROM VALUES {values} AS t(event_type, rate)")
    return (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_units"))
        .join(F.broadcast(pricing), "event_type")
        .select(
            "event_type",
            "n_units",
            F.round(F.col("n_units") * F.col("rate"), 4).alias("cost"),
        )
        .transform(_by("event_type"))
    )


Q_METERING_COST_SQL = (
    "WITH pricing(event_type, rate) AS (VALUES "
    + ", ".join(f"('{t}', {r})" for t, r in PRICING)
    + """)
SELECT e.event_type, COUNT(*) AS n_units,
       ROUND(COUNT(*) * ANY_VALUE(p.rate), 4) AS cost
FROM events e JOIN pricing p ON e.event_type = p.event_type
GROUP BY e.event_type ORDER BY e.event_type
"""
)


def q_payload_kind(spark, sf_dir):
    """S2 file-type detection (ocr/service.py:1632-1678): magic-pattern
    sniffing as a when/rlike cascade."""
    d = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    kind = (
        F.when(
            t.startswith("{") & t.contains('"Blocks"'), F.lit("ocr_json")
        )
        .when(t.rlike("<(html|p|div|nav)[ >]"), F.lit("html"))
        .when(t.rlike("(?m)^\\[(H1|H2|P|TR|PB)\\]"), F.lit("pdfish"))
        .when(F.trim(t) == F.lit(""), F.lit("empty"))
        .otherwise(F.lit("plain"))
    )
    return d.select("doc_id", kind.alias("payload_kind"))


Q_PAYLOAD_KIND_SQL = """
SELECT doc_id,
  CASE WHEN starts_with(coalesce(text,''), '{') AND contains(coalesce(text,''), '"Blocks"')
         THEN 'ocr_json'
       WHEN regexp_matches(coalesce(text,''), '<(html|p|div|nav)[ >]') THEN 'html'
       WHEN regexp_matches(coalesce(text,''), '(?m)^\\[(H1|H2|P|TR|PB)\\]') THEN 'pdfish'
       WHEN trim(coalesce(text,'')) = '' THEN 'empty'
       ELSE 'plain' END AS payload_kind
FROM documents
"""


def q_ngram_jaccard(spark, sf_dir):
    """Word-3-gram Jaccard near-dup pairs (inverted-index candidate join,
    no cross join, hot-shingle df-cap mirrored in the oracle) —
    exact-dedup family with a full SQL oracle."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.5, df_cap=64
    ).transform(_by("id_a", "id_b"))


def _ngram_pairs_cte(threshold: float = 0.5, df_cap: int = 64) -> str:
    """DuckDB twin of dedup.ngram_jaccard_pairs as a CTE chain ending in
    ``pairs(id_a, id_b, jaccard)`` — shared by q_ngram_jaccard and the
    connected-components oracle.  The df-cap anti-join mirrors the Spark
    hot-shingle defense exactly (denominator counts stay uncapped)."""
    return f"""
nm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
w AS (SELECT doc_id, str_split(t, ' ') AS w FROM nm),
g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
      FROM w, UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)),
hot AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) > {df_cap}),
gc AS (SELECT g.* FROM g ANTI JOIN hot USING (g)),
c AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
i AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS nc
      FROM gc a JOIN gc b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
j AS (SELECT ia, ib, ROUND(CAST(nc AS DOUBLE) / (ca.n + cb.n - nc), 4) AS jaccard
      FROM i JOIN c ca ON ia = ca.doc_id JOIN c cb ON ib = cb.doc_id),
pairs AS (SELECT ia AS id_a, ib AS id_b, jaccard FROM j WHERE jaccard >= {threshold})
"""


Q_NGRAM_JACCARD_SQL = f"""
WITH {_ngram_pairs_cte()}
SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b
"""


def q_neardup_clusters(spark, sf_dir):
    """Near-dup cluster consolidation: connected components over the
    n-gram-Jaccard pair table (iterated hash-min equi-joins, bounded
    rounds) → (doc_id, cluster_id = min reachable id); oracled with a
    DuckDB recursive CTE computing the same transitive closure."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5, df_cap=64)
    return (
        connected_components(pairs)
        .select(F.col("node").alias("doc_id"), "cluster_id")
        .transform(_by("doc_id"))
    )


Q_NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_ngram_pairs_cte()},
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT a AS n FROM edges),
reach AS (
  SELECT n, n AS r FROM nodes
  UNION
  SELECT e.b AS n, reach.r FROM reach JOIN edges e ON e.a = reach.n
)
SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n ORDER BY doc_id
"""


def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via the SCALE path: OR-amplified
    banded hyperplane LSH candidates (EQUI-join on (band, bucket) — never
    a BroadcastNestedLoopJoin; pinned by tests/test_plans.py) + exact
    cosine re-check.  Integer-quantized vectors × integer planes make the
    candidate set FP-portable, so the DuckDB oracle reproduces the exact
    output by filtering all pairs to the same bucket matches (reference
    semantics: near-dup detection over embedding columns)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        embedding_near_dups,
    )

    e = _t(spark, sf_dir, "embeddings")
    return _ordered(
        embedding_near_dups(
            e, "vec_id", "embedding", threshold=0.38,
            bands=8, rows_per_band=8, dim=64, quantize_bits=20,
        ),
        "id_a", "id_b",
    )


def _lsh_bucket_sql_ctes(rows_per_band: int = 4) -> str:
    """Shared DuckDB CTEs reproducing the banded-LSH bucket ids bit-for-bit
    (same integer planes as operators/similarity.integer_planes(64, 8,
    rows_per_band, seed=42); quantized dot products stay < 2^53 so float64
    is exact)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        integer_planes,
    )

    planes = integer_planes(64, 8, rows_per_band, 42)  # (bands=8, rows, dim=64)
    bucket_cols = []
    for b in range(planes.shape[0]):
        terms = []
        for r in range(planes.shape[1]):
            lit = "[" + ",".join(str(int(x)) for x in planes[b, r]) + "]"
            terms.append(
                f"(CASE WHEN list_inner_product(q, CAST({lit} AS DOUBLE[])) >= 0 "
                f"THEN {1 << r} ELSE 0 END)"
            )
        bucket_cols.append("(" + " + ".join(terms) + f") AS bk{b}")
    return """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * 1048576.0)) AS q
  FROM embeddings
),
bk AS (
  SELECT vec_id, v,
         """ + ",\n         ".join(bucket_cols) + """
  FROM e
)"""


_LSH_BAND_MATCH = " OR ".join(f"a.bk{b} = c.bk{b}" for b in range(8))

Q_EMBED_NEARDUP_SQL = _lsh_bucket_sql_ctes(rows_per_band=8) + f"""
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       ROUND(list_inner_product(a.v, c.v)
             / (sqrt(list_inner_product(a.v, a.v))
                * sqrt(list_inner_product(c.v, c.v))), 6) AS sim
FROM bk a JOIN bk c ON a.vec_id < c.vec_id AND ({_LSH_BAND_MATCH})
WHERE ROUND(list_inner_product(a.v, c.v)
            / (sqrt(list_inner_product(a.v, a.v))
               * sqrt(list_inner_product(c.v, c.v))), 6) >= 0.38
ORDER BY id_a, id_b
"""


def q_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k neighbors (scale path).  Bucketing on
    integer-quantized vectors (quantize_bits=20) makes the candidate set
    FP-portable, upgrading this query from rows-only to a full DuckDB
    oracle: the oracle filters query×corpus pairs to the same band-bucket
    matches, then ranks by the identical rounded cosine."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        lsh_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return _ordered(
        lsh_topk(
            e, q, "vec_id", "embedding", k=5,
            bands=8, rows_per_band=4, dim=64, quantize_bits=20,
        ),
        "query_id", "rank",
    )


Q_LSH_TOPK_SQL = _lsh_bucket_sql_ctes() + f""",
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id,
                  a.v AS qv, c.v AS cv
  FROM bk a JOIN bk c ON a.vec_id < 10 AND a.vec_id <> c.vec_id
                      AND ({_LSH_BAND_MATCH})
),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_inner_product(qv, cv)
               / (sqrt(list_inner_product(qv, qv))
                  * sqrt(list_inner_product(cv, cv))), 6) AS sim
  FROM cand
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_ivf_topk(spark, sf_dir):
    """IVF-flat approximate top-k neighbors (second ANN scale path next to
    LSH): corpus rows live in their nearest cell of a fixed 16-cell integer
    codebook, queries probe their 4 nearest cells, candidates meet on an
    equi-join on cell (BroadcastHashJoin — the corpus never shuffles), exact
    cosine re-scores.  Integer-quantized vectors x integer centroids make
    cell assignment FP-portable, so the DuckDB oracle reproduces the exact
    candidate set and ranking."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        ivf_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return _ordered(
        ivf_topk(
            e, q, "vec_id", "embedding", k=5, n_cells=16, n_probe=4, dim=64, seed=7
        ),
        "query_id", "rank",
    )


def _ivf_sql_ctes() -> str:
    """DuckDB CTEs reproducing the IVF cell assignment bit-for-bit (same
    integer codebook as operators/similarity.ivf_centroids(64, 16, seed=7);
    floor-quantized vectors make every centroid dot an exact integer in
    float64, so first-max/argsort tie-breaks agree across engines)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        ivf_centroids,
    )

    cents = ivf_centroids(64, 16, 7)
    dot_exprs = []
    for c in cents:
        lit = "[" + ",".join(str(int(x)) for x in c) + "]"
        dot_exprs.append(f"list_inner_product(q, CAST({lit} AS DOUBLE[]))")
    return """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * 1048576.0)) AS q
  FROM embeddings
),
dots AS (
  SELECT vec_id, v,
         [""" + ",\n          ".join(dot_exprs) + """] AS d
  FROM e
),
cell1 AS (
  SELECT vec_id, v, CAST(list_position(d, list_max(d)) - 1 AS INT) AS cell
  FROM dots
),
probes AS (
  SELECT vec_id, v, cell FROM (
    SELECT dt.vec_id, dt.v, CAST(r.range AS INT) AS cell,
           ROW_NUMBER() OVER (PARTITION BY dt.vec_id
                              ORDER BY dt.d[CAST(r.range AS INT) + 1] DESC,
                                       r.range ASC) AS pr
    FROM dots dt CROSS JOIN range(16) r
    WHERE dt.vec_id < 10
  ) WHERE pr <= 4
)"""


Q_IVF_TOPK_SQL = _ivf_sql_ctes() + """,
cand AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id, p.v AS qv, c.v AS cv
  FROM probes p JOIN cell1 c USING (cell)
  WHERE p.vec_id <> c.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_inner_product(qv, cv)
               / (sqrt(list_inner_product(qv, qv))
                  * sqrt(list_inner_product(cv, cv))), 6) AS sim
  FROM cand
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_evaluate_fuzzy(spark, sf_dir):
    """FUZZY comparator (comparator.py:290-336 Levenshtein ratio) as pure
    Catalyst ``F.levenshtein`` at FULL text width, oracled against DuckDB's
    native levenshtein()."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.evaluate import (
        evaluate_turns,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        .select(F.col("doc_id").cast("string").alias("conv_id"), F.lit(0).alias("turn_idx"), "text")
    )
    actual = d.select("conv_id", "turn_idx", F.col("text").alias("extracted_text"))
    golden = d.select(
        "conv_id",
        "turn_idx",
        F.replace(F.col("text"), F.lit("a"), F.lit("x")).alias("extracted_text"),
    )
    return (
        evaluate_turns(actual, golden, method="FUZZY")
        .select(F.col("conv_id").cast("bigint").alias("doc_id"), "matched", "score")
        .transform(_by("doc_id"))
    )


def _evaluate_fuzzy_sql():
    sub = "coalesce(text,'')"
    ne = _norm_sql_of(f"replace({sub}, 'a', 'x')")
    na = _norm_sql_of(sub)
    score = (
        f"CASE WHEN length({ne}) = 0 AND length({na}) = 0 THEN 1.0 "
        f"ELSE 1.0 - CAST(levenshtein({ne}, {na}) AS DOUBLE)"
        f" / greatest(length({ne}), length({na})) END"
    )
    return f"""
SELECT doc_id, ({score}) >= 0.8 AS matched, ROUND({score}, 4) AS score
FROM documents ORDER BY doc_id
"""


def q_evaluate_hungarian(spark, sf_dir):
    """J2 HUNGARIAN list matching: optimal bipartite assignment per group
    via mapInPandas + numpy Hungarian kernel.  Round 4: groups are FIXED
    SIZE (doc_id div 5 → n <= 5 at every sf) with doc_id-prefixed elements
    (unique within a group, so the optimum is generically unique), which
    makes the optimum enumerable — the DuckDB oracle brute-forces all n!
    permutations in a recursive CTE and must hash-match the O(n^3) kernel
    (the round-3 rows-only gap, VERDICT #5)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.evaluate import (
        evaluate_lists,
    )

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 26),
        ).alias("etxt"),
    )
    grouped = (
        d.withColumn(
            "group_id", F.floor(F.col("doc_id") / F.lit(5)).cast("string")
        )
        .groupBy("group_id")
        .agg(F.sort_array(F.collect_list("etxt")).alias("expected"))
        .withColumn(
            "actual",
            F.transform(
                F.col("expected"), lambda x: F.replace(x, F.lit("e"), F.lit("3"))
            ),
        )
    )
    return evaluate_lists(grouped, "group_id", "expected", "actual").transform(_by(
        F.col("group_id").cast("int")
    ))


def _evaluate_hungarian_sql() -> str:
    """Brute-force assignment optimum in DuckDB: all n! permutations per
    group via a recursive CTE (n <= 5 → 120), scored over the same
    normalized-Levenshtein similarity as the kernel; max-total wins.
    tp/fp/fn/mean are assignment-optimum invariants here because group
    elements are unique (doc_id-prefixed), making ties measure-zero."""
    en = _norm_sql_of("e_raw")
    an = _norm_sql_of("replace(e_raw, 'e', '3')")
    return f"""
WITH RECURSIVE base AS (
  SELECT CAST(doc_id // 5 AS VARCHAR) AS g,
         CAST(doc_id AS VARCHAR) || ':' || substr(coalesce(text,''), 1, 26) AS e_raw
  FROM documents
),
el AS (
  SELECT g, e_raw,
         row_number() OVER (PARTITION BY g ORDER BY e_raw) - 1 AS i
  FROM base
),
es AS (SELECT g, i, {en} AS en FROM el),
asd AS (SELECT g, i AS j, {an} AS an FROM el),
sim AS (
  SELECT es.g, es.i, asd.j,
         CASE WHEN length(es.en) = 0 AND length(asd.an) = 0 THEN 1.0
              ELSE 1.0 - CAST(levenshtein(es.en, asd.an) AS DOUBLE)
                   / greatest(length(es.en), length(asd.an), 1) END AS s
  FROM es JOIN asd ON asd.g = es.g
),
gs AS (SELECT g, COUNT(*) AS n FROM el GROUP BY g),
p AS (
  SELECT g, [i] AS assigned, 1 AS k FROM el
  UNION ALL
  SELECT p.g, list_append(p.assigned, e.i), p.k + 1
  FROM p JOIN el e ON e.g = p.g AND NOT list_contains(p.assigned, e.i)
),
px AS (
  SELECT p.g, p.assigned,
         unnest(p.assigned) AS j,
         generate_subscripts(p.assigned, 1) - 1 AS i
  FROM p JOIN gs ON gs.g = p.g AND p.k = gs.n
),
scored AS (
  SELECT px.g, px.assigned,
         SUM(s.s) AS total,
         SUM(CASE WHEN s.s >= 0.8 THEN 1 ELSE 0 END) AS tp
  FROM px JOIN sim s ON s.g = px.g AND s.i = px.i AND s.j = px.j
  GROUP BY px.g, px.assigned
),
best AS (SELECT g, MAX(total) AS bt FROM scored GROUP BY g),
pick AS (
  SELECT s.g, MAX(s.tp) AS tp, MAX(s.total) AS total
  FROM scored s JOIN best b ON b.g = s.g AND s.total = b.bt
  GROUP BY s.g
)
SELECT pick.g AS group_id,
       CAST(pick.tp AS BIGINT) AS tp,
       CAST(gs.n - pick.tp AS BIGINT) AS fp,
       CAST(gs.n - pick.tp AS BIGINT) AS fn,
       ROUND(pick.total / gs.n, 4) AS mean_score
FROM pick JOIN gs ON gs.g = pick.g
ORDER BY CAST(pick.g AS INT)
"""


def q_multimodal_features(spark, sf_dir):
    """Multimodal binary columns with REAL decode for ALL THREE kinds
    (S5 complete): image rows carry actual encoded BMP/PPM row-gradient
    rasters, audio rows actual RIFF/WAVE 16-bit PCM sawtooths, video
    rows actual RV01 raw-frame containers of 2-7 BMP/PPM frames — every
    parameter derived from md5(media_id), so the DuckDB oracle computes
    the decoded features in closed form while Spark round-trips real
    encoded bytes through the real stdlib codecs (``kernels/image.py``,
    ``kernels/audio.py`` RIFF chunk walk, ``kernels/video.py`` frame
    sampling: at most 4 evenly spaced frames DECODED, ``(j*n)//k``).
    Images/video frames resize aspect-preserving into a 32x32 box
    (reference ``idp_common/image/__init__.py:13`` semantics).  A
    header-parse, padding, chunk-walk, frame-sample or resize bug breaks
    the hash.  Feature slots are kind-specific: for audio the selected
    elements are mean / mean-abs amplitude, zero-crossing rate,
    duration, sample rate, sample count."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.multimodal import (
        decode_features,
        media_from_documents,
        with_media_payloads,
    )

    d = _t(spark, sf_dir, "documents")
    # every payload is replaced by the synthesizer, so don't read/shuffle
    # the text column at all (ReadSchema drops to doc_id alone)
    media = with_media_payloads(media_from_documents(d, payload_from_text=False))
    return (
        decode_features(media)
        .select(
            "media_id",
            "kind",
            "width",
            "height",
            "n_frames",
            F.round(F.element_at("features", 1), 4).alias("f_r"),
            F.round(F.element_at("features", 4), 4).alias("f_luma"),
            F.round(F.element_at("features", 5), 4).alias("l_min"),
            F.round(F.element_at("features", 6), 4).alias("l_max"),
            F.round(F.element_at("features", 7), 4).alias("rw"),
            F.round(F.element_at("features", 8), 4).alias("rh"),
        )
        .transform(lambda d: _ordered(d, F.col("media_id").cast("bigint")))
    )


Q_MULTIMODAL_FEATURES_SQL = """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         (['image','audio','video'])[
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) % 3 + 1
         ] AS kind,
         md5(CAST(doc_id AS VARCHAR)) AS ihx
  FROM documents
),
b AS (
  SELECT media_id, kind,
         CAST(('0x' || substr(ihx, 1, 2)) AS INT) AS i0,
         CAST(('0x' || substr(ihx, 3, 2)) AS INT) AS i1,
         CAST(('0x' || substr(ihx, 5, 2)) AS INT) AS i2,
         CAST(('0x' || substr(ihx, 7, 2)) AS INT) AS i3,
         CAST(('0x' || substr(ihx, 9, 2)) AS INT) AS i4,
         CAST(('0x' || substr(ihx, 11, 2)) AS INT) AS i5
  FROM m
),
dims AS (
  SELECT media_id, kind, 16 + i0 % 48 AS w, 16 + i1 % 48 AS h, i2, i3, i4,
         CASE WHEN 16 + i0 % 48 <= 32 AND 16 + i1 % 48 <= 32 THEN 16 + i0 % 48
              ELSE GREATEST(1, CAST(FLOOR((16 + i0 % 48)
                   * LEAST(32.0 / (16 + i0 % 48), 32.0 / (16 + i1 % 48))) AS INT)) END AS nw,
         CASE WHEN 16 + i0 % 48 <= 32 AND 16 + i1 % 48 <= 32 THEN 16 + i1 % 48
              ELSE GREATEST(1, CAST(FLOOR((16 + i1 % 48)
                   * LEAST(32.0 / (16 + i0 % 48), 32.0 / (16 + i1 % 48))) AS INT)) END AS nh
  FROM b WHERE kind = 'image'
),
img AS (
  SELECT media_id, kind, w, h, nw, nh,
    list_sum(list_transform(range(nh), y -> (i2 + (y * h) // nh) % 256)) AS sr,
    list_sum(list_transform(range(nh), y ->
        299 * ((i2 + (y * h) // nh) % 256)
      + 587 * ((i3 + (y * h) // nh) % 256)
      + 114 * ((i4 + (y * h) // nh) % 256))) AS sl,
    list_aggregate(list_transform(range(nh), y ->
        299 * ((i2 + (y * h) // nh) % 256)
      + 587 * ((i3 + (y * h) // nh) % 256)
      + 114 * ((i4 + (y * h) // nh) % 256)), 'min') AS lmin,
    list_aggregate(list_transform(range(nh), y ->
        299 * ((i2 + (y * h) // nh) % 256)
      + 587 * ((i3 + (y * h) // nh) % 256)
      + 114 * ((i4 + (y * h) // nh) % 256)), 'max') AS lmax
  FROM dims
),
aud AS (
  SELECT media_id, kind,
         512 + (i0 % 8) * 256 AS n,
         i1 AS a, 1 + i2 % 7 AS bstep,
         8000 * (1 + i3 % 3) AS sr
  FROM b WHERE kind = 'audio'
),
audf AS (
  SELECT media_id, kind, n, sr,
    list_sum(list_transform(range(n), i -> (a + i * bstep) % 256)) AS sv,
    list_sum(list_transform(range(n), i -> abs((a + i * bstep) % 256 - 128))) AS sa,
    list_sum(list_transform(range(1, n), i ->
      CASE WHEN ((a + i * bstep) % 256 >= 128) <> ((a + (i - 1) * bstep) % 256 >= 128)
           THEN 1 ELSE 0 END)) AS cx
  FROM aud
),
vid0 AS (
  SELECT media_id, kind,
         2 + i0 % 6 AS nf,
         16 + i1 % 48 AS w, 16 + i2 % 48 AS h,
         i3, i4, i5,
         LEAST(4, 2 + i0 % 6) AS k
  FROM b WHERE kind = 'video'
),
vid AS (
  SELECT media_id, kind, nf, w, h, i3, i4, i5, k,
         CASE WHEN w <= 32 AND h <= 32 THEN w
              ELSE GREATEST(1, CAST(FLOOR(w * LEAST(32.0 / w, 32.0 / h)) AS INT)) END AS nw,
         CASE WHEN w <= 32 AND h <= 32 THEN h
              ELSE GREATEST(1, CAST(FLOOR(h * LEAST(32.0 / w, 32.0 / h)) AS INT)) END AS nh
  FROM vid0
),
vidf AS (
  SELECT media_id, kind, nf, w, h, nw, nh, k,
    list_sum(list_transform(range(k), j ->
      list_sum(list_transform(range(nh), y ->
        (i3 + (j * nf) // k + (y * h) // nh) % 256)))) AS s_r,
    list_sum(list_transform(range(k), j ->
      list_sum(list_transform(range(nh), y ->
          299 * ((i3 + (j * nf) // k + (y * h) // nh) % 256)
        + 587 * ((i4 + (j * nf) // k + (y * h) // nh) % 256)
        + 114 * ((i5 + (j * nf) // k + (y * h) // nh) % 256))))) AS s_l,
    list_aggregate(flatten(list_transform(range(k), j ->
      list_transform(range(nh), y ->
          299 * ((i3 + (j * nf) // k + (y * h) // nh) % 256)
        + 587 * ((i4 + (j * nf) // k + (y * h) // nh) % 256)
        + 114 * ((i5 + (j * nf) // k + (y * h) // nh) % 256)))), 'min') AS lmn
    ,
    list_aggregate(flatten(list_transform(range(k), j ->
      list_transform(range(nh), y ->
          299 * ((i3 + (j * nf) // k + (y * h) // nh) % 256)
        + 587 * ((i4 + (j * nf) // k + (y * h) // nh) % 256)
        + 114 * ((i5 + (j * nf) // k + (y * h) // nh) % 256)))), 'max') AS lmx
  FROM vid
)
SELECT * FROM (
SELECT media_id, kind, w AS width, h AS height, 1 AS n_frames,
       ROUND(sr / (255.0 * nh), 4) AS f_r,
       ROUND(sl / (255000.0 * nh), 4) AS f_luma,
       ROUND(lmin / 255000.0, 4) AS l_min,
       ROUND(lmax / 255000.0, 4) AS l_max,
       ROUND(CAST(nw AS DOUBLE), 4) AS rw,
       ROUND(CAST(nh AS DOUBLE), 4) AS rh
FROM img
UNION ALL
SELECT media_id, kind, sr AS width, 1 AS height, n AS n_frames,
       ROUND((sv - 128 * n) * 256 / (32768.0 * n), 4) AS f_r,
       ROUND(sa * 256 / (32768.0 * n), 4) AS f_luma,
       ROUND(cx / (n - 1.0), 4) AS l_min,
       ROUND(n / CAST(sr AS DOUBLE), 4) AS l_max,
       ROUND(CAST(sr AS DOUBLE), 4) AS rw,
       ROUND(CAST(n AS DOUBLE), 4) AS rh
FROM audf
UNION ALL
SELECT media_id, kind, w AS width, h AS height, nf AS n_frames,
       ROUND(s_r / (255.0 * k * nh), 4) AS f_r,
       ROUND(s_l / (255000.0 * k * nh), 4) AS f_luma,
       ROUND(lmn / 255000.0, 4) AS l_min,
       ROUND(lmx / 255000.0, 4) AS l_max,
       ROUND(CAST(nw AS DOUBLE), 4) AS rw,
       ROUND(CAST(nh AS DOUBLE), 4) AS rh
FROM vidf
) ORDER BY CAST(media_id AS BIGINT)
"""


def _event_turns(spark, sf_dir):
    """Transcript-shaped frame derived RELATIONALLY from the events table
    (conv=user, order=event time, class=event type), so the sectionize /
    summarize / reporting operators get DuckDB-expressible inputs and their
    driver queries are hash-certified; the pandas-UDF extraction path stays
    covered by q_transcript_extract + the pytest golden suite."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("turn_class"),
        F.lit(False).alias("is_boundary"),
        F.concat_ws(":", F.col("event_type"), F.col("event_id").cast("string")).alias(
            "extracted_text"
        ),
        "ts",
    )


# DuckDB twin of _event_turns + sectionize (gaps-and-islands) as CTEs
_TURNS_SECT_CTE = """
turns AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx,
         event_type AS turn_class,
         event_type || ':' || CAST(event_id AS VARCHAR) AS extracted_text,
         ts
  FROM events
),
sect AS (
  SELECT *, CAST(SUM(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS section_id
  FROM (
    SELECT *, CASE WHEN lag(turn_class) OVER w IS NULL
                     OR turn_class <> lag(turn_class) OVER w
              THEN 1 ELSE 0 END AS chg
    FROM turns
    WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
  )
)
"""


def q_sections_rollup(spark, sf_dir):
    """G5 fan-in: one row per (conv_id, section_id) with ordered text concat
    + turn lists — sectionize + section_table over the events-derived turns
    frame (oracle-backed)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sectionize import (
        section_table,
        sectionize,
    )

    sect = sectionize(_event_turns(spark, sf_dir))
    return section_table(sect).select(
        "conv_id",
        "section_id",
        "classification",
        "n_turns",
        F.size("turn_idxs").alias("n_idxs"),
        F.length("section_text").alias("n_chars"),
    ).transform(_by("conv_id", "section_id"))


Q_SECTIONS_ROLLUP_SQL = f"""
WITH {_TURNS_SECT_CTE}
SELECT conv_id, section_id, ANY_VALUE(turn_class) AS classification,
       COUNT(*) AS n_turns, COUNT(*) AS n_idxs,
       CAST(SUM(length(extracted_text)) + COUNT(*) - 1 AS BIGINT) AS n_chars
FROM sect GROUP BY conv_id, section_id ORDER BY conv_id, section_id
"""


def q_bool_normalize(spark, sf_dir):
    """P11 boolean normalization (utils/__init__.py:238-257), pure Catalyst."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.transforms import (
        bool_normalize,
    )

    d = _t(spark, sf_dir, "documents")
    raw = F.element_at(
        F.array(
            F.lit("TRUE"), F.lit("no"), F.lit(" 1 "), F.lit("off"), F.lit("maybe")
        ),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    return d.select(
        "doc_id",
        raw.alias("raw"),
        F.coalesce(bool_normalize(raw).cast("string"), F.lit("null")).alias("b"),
    )


Q_BOOL_NORMALIZE_SQL = """
SELECT doc_id, raw,
  coalesce(CAST(
    CASE WHEN lower(trim(raw)) IN ('true','1','yes','on','y','t') THEN TRUE
         WHEN lower(trim(raw)) IN ('false','0','no','off','n','f') THEN FALSE
         ELSE NULL END AS VARCHAR), 'null') AS b
FROM (SELECT doc_id,
        (['TRUE','no',' 1 ','off','maybe'])[CAST(doc_id % 5 + 1 AS INT)] AS raw
      FROM documents)
"""


def q_json_sniff(spark, sf_dir):
    """P10 LLM-output JSON extraction (utils/__init__.py:98-235): 4-strategy
    brace-matching sniffer over JSON embedded in prose."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.transforms import (
        json_sniff_udf,
    )

    e = _t(spark, sf_dir, "events")
    wrapped = F.concat(F.lit("The result was: "), F.col("props"), F.lit(" -- end."))
    return _ordered(
        e.select("event_id", json_sniff_udf(wrapped).alias("s")).select(
            "event_id",
            F.col("s.json").alias("json"),
            F.col("s.format").alias("format"),
        ),
        "event_id",
    )


Q_JSON_SNIFF_SQL = """
SELECT event_id, to_json(json(props)) AS json, 'json' AS format
FROM events ORDER BY event_id
"""


def q_yaml_sniff(spark, sf_dir):
    """P10 YAML twin (utils/__init__.py:260-402): fenced YAML embedded in
    prose → parsed and re-serialized as compact canonical JSON."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.transforms import (
        yaml_sniff_udf,
    )

    e = _t(spark, sf_dir, "events")
    wrapped = F.concat(
        F.lit("Result:\n```yaml\nkind: "),
        F.col("event_type"),
        F.lit("\nnum: "),
        F.col("event_id").cast("string"),
        F.lit("\n```\nDone."),
    )
    return _ordered(
        e.select("event_id", yaml_sniff_udf(wrapped).alias("yjson")), "event_id"
    )


Q_YAML_SNIFF_SQL = """
SELECT event_id,
       printf('{"kind":"%s","num":%d}', event_type, event_id) AS yjson
FROM events ORDER BY event_id
"""


def q_csv_markdown(spark, sf_dir):
    """P5 CSV → markdown table (document_converter.py:113-162): per-user
    CSV assembled from events, rendered by the Arrow-batched kernel."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.transforms import (
        csv_markdown_udf,
    )

    e = _t(spark, sf_dir, "events").withColumn("val", F.round("value", 2).cast("string"))
    line = F.struct("event_id", F.concat_ws(",", "event_type", "val").alias("line"))
    per_user = e.groupBy("user_id").agg(
        F.concat(
            F.lit("type,value\n"),
            F.array_join(
                F.transform(F.sort_array(F.collect_list(line)), lambda s: s["line"]),
                "\n",
            ),
        ).alias("csv_text")
    )
    return _ordered(
        per_user.select(
            "user_id", csv_markdown_udf(F.col("csv_text")).alias("md")
        ),
        "user_id",
    )


Q_CSV_MARKDOWN_SQL = """
SELECT user_id,
       '| type | value |' || chr(10) || '| --- | --- |' || chr(10) ||
       string_agg('| ' || event_type || ' | ' || CAST(ROUND(value, 2) AS VARCHAR) || ' |',
                  chr(10) ORDER BY event_id) AS md
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_image_binarize(spark, sf_dir):
    """Adaptive binarization over image media (reference OCR preprocessing
    ``idp_common/image/__init__.py:125``, ADAPTIVE_THRESH_MEAN_C block 15
    C 10 — the last piece of the reference's image surface, VERDICT #6).
    Spark decodes REAL encoded BMP/PPM bytes and binarizes with an exact
    integral-image local mean (``kernels/image.py binarize_adaptive``);
    the oracle computes white-pixel counts in closed form — the synthetic
    rasters are row-gradients, so the edge-clipped 2-D window comparison
    collapses to a per-ROW one (the column count factors out of
    ``gray*cnt > winsum - C*cnt``).  Any header-parse, integral-image,
    edge-clip or threshold bug breaks the hash."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.multimodal import (
        binarize_stats,
        media_from_documents,
        with_media_payloads,
    )

    d = _t(spark, sf_dir, "documents")
    media = media_from_documents(d, payload_from_text=False).filter(
        F.col("kind") == "image"
    )
    media = with_media_payloads(media, kinds=("image",))
    return binarize_stats(media).transform(
        lambda x: _ordered(x, F.col("media_id").cast("bigint"))
    )


# closed-form white-count per synthetic row-gradient image: channel c of
# row y is (i_{2+c} + y) % 256, so gray and the clipped window sums depend
# on y alone and the per-pixel threshold test is per-row (see
# q_image_binarize docstring)
_BIN_GRAY = (
    "(299 * ((i2 + {y}) % 256) + 587 * ((i3 + {y}) % 256)"
    " + 114 * ((i4 + {y}) % 256)) // 1000"
)
Q_IMAGE_BINARIZE_SQL = f"""
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         md5(CAST(doc_id AS VARCHAR)) AS ihx
  FROM documents
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) % 3 = 0
),
b AS (
  SELECT media_id,
         16 + CAST(('0x' || substr(ihx, 1, 2)) AS INT) % 48 AS w,
         16 + CAST(('0x' || substr(ihx, 3, 2)) AS INT) % 48 AS h,
         CAST(('0x' || substr(ihx, 5, 2)) AS INT) AS i2,
         CAST(('0x' || substr(ihx, 7, 2)) AS INT) AS i3,
         CAST(('0x' || substr(ihx, 9, 2)) AS INT) AS i4
  FROM m
),
rows_white AS (
  SELECT media_id, w, h,
    list_sum(list_transform(range(h), y ->
      CASE WHEN ({_BIN_GRAY.format(y='y')})
                 * (least(h - 1, y + 7) - greatest(0, y - 7) + 1)
             > list_sum(list_transform(
                   range(greatest(0, y - 7), least(h - 1, y + 7) + 1),
                   yy -> {_BIN_GRAY.format(y='yy')}))
               - 10 * (least(h - 1, y + 7) - greatest(0, y - 7) + 1)
      THEN 1 ELSE 0 END)) AS white_rows
  FROM b
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * white_rows AS BIGINT) AS n_white,
       CAST(w * h AS BIGINT) AS n_pixels
FROM rows_white
ORDER BY CAST(media_id AS BIGINT)
"""


def q_text_paginate(spark, sf_dir):
    """P4 monospace wrap + pagination (document_converter.py:38-111):
    page explode with stable page ordinals.  Oracle-backed: the greedy
    word-aware wrap is a fold over word lengths, expressed in DuckDB as a
    ``list_reduce`` whose accumulator carries completed-line lengths plus
    the current line length (hard-splits included)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.transforms import (
        explode_pages,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    ).select("doc_id", "text")
    return _ordered(
        explode_pages(d, "text", width=40, lines_per_page=4).select(
            "doc_id", "page_idx", F.length("page_text").alias("n_chars")
        ),
        "doc_id", "page_idx",
    )


def _text_paginate_sql(width: int = 40, lpp: int = 4) -> str:
    """DuckDB twin of kernels.wrap.paginate: greedy word wrap simulated on
    LINE LENGTHS with a list_reduce fold (acc = completed line lengths ++
    [current line length]); pages chunk the flattened line list."""
    w = width
    wrap_expr = f"""
list_reduce(
  list_prepend(CAST([0] AS BIGINT[]),
    list_transform(str_split(ln, ' '), wd -> CAST([length(wd)] AS BIGINT[]))),
  (acc, x) -> CASE
    WHEN x[1] > {w} THEN
      acc[1:len(acc)-1]
      || (CASE WHEN acc[len(acc)] > 0 THEN [acc[len(acc)]] ELSE CAST([] AS BIGINT[]) END)
      || list_transform(range((x[1] - CASE WHEN x[1] % {w} = 0 THEN {w} ELSE x[1] % {w} END) // {w}),
                        i -> CAST({w} AS BIGINT))
      || [CASE WHEN x[1] % {w} = 0 THEN {w} ELSE x[1] % {w} END]
    WHEN acc[len(acc)] = 0 THEN acc[1:len(acc)-1] || [x[1]]
    WHEN acc[len(acc)] + 1 + x[1] <= {w} THEN acc[1:len(acc)-1] || [acc[len(acc)] + 1 + x[1]]
    ELSE acc || [x[1]]
  END)
"""
    return f"""
WITH lines AS (
  SELECT doc_id,
    flatten(list_transform(str_split(coalesce(text,''), chr(10)), ln -> {wrap_expr})) AS lens
  FROM documents
)
SELECT doc_id, i AS page_idx,
  CAST(list_sum(lens[{lpp}*i+1 : {lpp}*(i+1)])
       + len(lens[{lpp}*i+1 : {lpp}*(i+1)]) - 1 AS BIGINT) AS n_chars
FROM lines, UNNEST(range(CAST(ceil(len(lens) / {lpp}.0) AS BIGINT))) AS t(i)
ORDER BY doc_id, page_idx
"""


def q_ocr_alerts(spark, sf_dir):
    """P17 confidence-threshold alerting (processresults_function/index.py:
    118-171): explode per-line items, keep those under threshold."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.transforms import (
        confidence_alerts,
    )

    d = _t(spark, sf_dir, "documents")
    lines = F.filter(
        F.transform(F.split(F.coalesce(F.col("text"), F.lit("")), "\n"), F.trim),
        lambda x: x != F.lit(""),
    )
    items = F.transform(
        lines,
        lambda x: F.struct(
            x.alias("line"), (F.lit(55) + F.length(x) % 45).cast("double").alias("conf")
        ),
    )
    base = d.select("doc_id", items.alias("items"))
    return (
        confidence_alerts(base, ["doc_id"], "items", default_threshold=60.0)
        .select("doc_id", "item_idx", F.col("item.line").alias("line"), "conf")
        .transform(_by("doc_id", "item_idx"))
    )


Q_OCR_ALERTS_SQL = """
WITH lines AS (
  SELECT doc_id,
         list_filter(list_transform(str_split(coalesce(text,''), chr(10)), x -> trim(x)),
                     x -> x <> '') AS l
  FROM documents
)
SELECT doc_id, i - 1 AS item_idx, l[i] AS line,
       CAST(55 + length(l[i]) % 45 AS DOUBLE) AS conf
FROM lines, UNNEST(range(1, len(l) + 1)) AS t(i)
WHERE 55 + length(l[i]) % 45 < 60
ORDER BY doc_id, item_idx
"""


def q_props_flatten(spark, sf_dir):
    """P15/P16 nested access + flatten: JSON path get, struct build, dot-path
    projection, star-expansion back to flat columns."""
    e = _t(spark, sf_dir, "events")
    nested = e.select(
        "event_id",
        F.struct(
            F.col("event_type").alias("type"),
            F.struct(
                F.col("user_id").alias("uid"),
                F.get_json_object("props", "$.k").cast("long").alias("k"),
            ).alias("inner"),
        ).alias("n"),
    )
    return nested.select(
        "event_id",
        F.col("n.type").alias("type"),
        F.col("n.inner.uid").alias("uid"),
        F.col("n.inner.k").alias("k"),
    ).transform(_by("event_id"))


Q_PROPS_FLATTEN_SQL = """
SELECT event_id, event_type AS type, user_id AS uid,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events ORDER BY event_id
"""


ATTR_CONFIG = {
    "first_id": "^[a-z]+:([0-9]+)",
    "first_click": "click:([0-9]+)",
    "first_purchase": "purchase:([0-9]+)",
}


def q_section_attributes(spark, sf_dir):
    """X6 deterministic attribute extraction (extraction/service.py:712-1161
    per-section {attr: value}, config at :72-120): config-driven regex
    capture compiled into ONE Catalyst projection over the section table —
    oracle-backed (DuckDB regexp_extract mirrors group-1 capture and the
    empty-string no-match convention)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.attributes import (
        extract_section_attributes,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sectionize import (
        section_table,
        sectionize,
    )

    secs = section_table(sectionize(_event_turns(spark, sf_dir)))
    out = extract_section_attributes(secs, ATTR_CONFIG)
    return out.select(
        "conv_id",
        "section_id",
        "attr",
        F.coalesce(F.col("value"), F.lit("")).alias("value"),
    ).transform(_by("conv_id", "section_id", "attr"))


def _section_attributes_sql():
    arms = "\nUNION ALL\n".join(
        f"SELECT conv_id, section_id, '{name}' AS attr,"
        f" regexp_extract(section_text, '{rx}', 1) AS value FROM secs"
        for name, rx in ATTR_CONFIG.items()
    )
    return f"""
WITH {_TURNS_SECT_CTE},
secs AS (
  SELECT conv_id, section_id,
         string_agg(extracted_text, chr(10) ORDER BY turn_idx) AS section_text
  FROM sect GROUP BY conv_id, section_id
)
{arms}
ORDER BY conv_id, section_id, attr
"""


def q_conv_summaries(spark, sf_dir):
    """G8 map-reduce summarization analog: per-section extractive summaries
    fanned in to a per-conversation markdown TOC, over the events-derived
    turns frame (oracle-backed: the full summary_md string is length-checked
    and the TOC/body format mirrored in SQL)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sectionize import (
        sectionize,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.summarize import (
        document_summary,
        section_summaries,
    )

    turns = sectionize(_event_turns(spark, sf_dir))
    return (
        document_summary(section_summaries(turns))
        .select("conv_id", "n_sections", F.length("summary_md").alias("n_chars"))
        .transform(_by("conv_id"))
    )


Q_CONV_SUMMARIES_SQL = f"""
WITH {_TURNS_SECT_CTE},
secs AS (
  SELECT conv_id, section_id, ANY_VALUE(turn_class) AS classification,
         string_agg(extracted_text, chr(10) ORDER BY turn_idx) AS section_text
  FROM sect GROUP BY conv_id, section_id
),
summ AS (
  SELECT conv_id, section_id, classification,
         CASE WHEN length(section_text) <= 160 THEN section_text
              ELSE regexp_replace(substr(section_text, 1, 160), ' [^ ]*$', '') END AS summary
  FROM secs
),
docs AS (
  SELECT conv_id, COUNT(*) AS n_sections,
         '# Contents' || chr(10)
         || string_agg(printf('%d. %s', section_id + 1, classification),
                       chr(10) ORDER BY section_id)
         || chr(10) || chr(10)
         || string_agg(printf('## %d. %s', section_id + 1, classification)
                       || chr(10) || summary,
                       chr(10) || chr(10) ORDER BY section_id) AS summary_md
  FROM summ GROUP BY conv_id
)
SELECT conv_id, n_sections, length(summary_md) AS n_chars
FROM docs ORDER BY conv_id
"""


def q_doc_bpe_tokens(spark, sf_dir):
    """BPE-ish subword token count (token-budgeting op from the brief;
    utils/__init__.py:606-635 len/4 estimate replaced by a pre-tokenizer)."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        bpe_ish_token_count,
        token_count,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


Q_DOC_BPE_TOKENS_SQL = f"""
SELECT doc_id, {_TOK_SQL} AS ws_tokens,
       len(regexp_extract_all(coalesce(text,''),
           '[a-zA-Z]+(?:''[a-z]+)?|[0-9]+|[^a-zA-Z0-9 \\t\\n\\r]')) AS bpe_tokens
FROM documents
"""


def q_doc_rolling_hash(spark, sf_dir):
    """Rabin-Karp rolling-hash fingerprint of the first 64 chars —
    JVM-side aggregate fold (content-defined-chunking primitive)."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        rolling_hash,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return d.select("doc_id", rolling_hash(F.col("text"), 64).alias("rhash"))


Q_DOC_ROLLING_HASH_SQL = """
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(
        list_filter(str_split(substr(coalesce(text,''), 1, 64), ''), c -> c <> ''),
        c -> CAST(unicode(c) AS BIGINT))),
    (acc, code) -> (acc * 131 + code) % 1000000007) AS rhash
FROM documents
"""


def q_template_fill(spark, sf_dir):
    """P12 prompt-template substitution (extraction/service.py:122-311):
    {PLACEHOLDER} splice as a replace chain, pure Catalyst."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        template_fill,
    )

    e = _t(spark, sf_dir, "events")
    tmpl = F.lit("Event {TYPE} by user {USER} valued {VALUE}.")
    filled = template_fill(
        tmpl,
        {
            "TYPE": F.col("event_type"),
            "USER": F.col("user_id").cast("string"),
            "VALUE": F.round("value", 2).cast("string"),
        },
    )
    return e.select("event_id", filled.alias("prompt")).transform(_by("event_id"))


Q_TEMPLATE_FILL_SQL = """
SELECT event_id,
       replace(replace(replace('Event {TYPE} by user {USER} valued {VALUE}.',
               '{TYPE}', event_type),
               '{USER}', CAST(user_id AS VARCHAR)),
               '{VALUE}', CAST(ROUND(value, 2) AS VARCHAR)) AS prompt
FROM events ORDER BY event_id
"""


def q_assess_confidence(spark, sf_dir):
    """X7/P17 analog: deterministic confidence assessment + HITL review
    flag (operators/assess.py) over a relationally-built extraction frame —
    coverage/span-trust/class-trust arithmetic is oracle-expressible; the
    pandas-UDF pipeline variant stays covered by q_transcript_extract."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.assess import (
        assess,
    )

    e = _t(spark, sf_dir, "events")
    frame = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("props").alias("text"),
        F.col("event_type").alias("extracted_text"),
        # 'view' maps to the fallback class so class_trust varies
        F.when(F.col("event_type") == "view", F.lit("chat"))
        .otherwise(F.col("event_type"))
        .alias("turn_class"),
        # span 0 always resolved; span 1 zero-width unless event_id % 3 == 0
        F.array(
            F.struct(F.lit(0).alias("start"), F.length("event_type").alias("end")),
            F.struct(
                F.lit(0).alias("start"),
                (F.col("event_id") % 3 == 0).cast("int").alias("end"),
            ),
        ).alias("spans"),
    )
    return (
        assess(frame)
        .select("conv_id", "turn_idx", "confidence", "coverage", "needs_review")
        .transform(_by("conv_id", "turn_idx"))
    )


Q_ASSESS_CONFIDENCE_SQL = """
WITH scored AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id, CAST(event_id AS INT) AS turn_idx,
         least(CAST(length(event_type) AS DOUBLE) / length(props), 1.0) AS cov,
         CAST(1 + CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS DOUBLE) / 2 AS span_trust,
         CASE WHEN event_type = 'view' THEN 0.5 ELSE 1.0 END AS class_trust
  FROM events
)
SELECT conv_id, turn_idx,
       ROUND(0.5 * cov + 0.3 * span_trust + 0.2 * class_trust, 4) AS confidence,
       ROUND(cov, 4) AS coverage,
       ROUND(0.5 * cov + 0.3 * span_trust + 0.2 * class_trust, 4) < 0.70 AS needs_review
FROM scored ORDER BY conv_id, turn_idx
"""


def q_sections_report(spark, sf_dir):
    """S7 reporting rows: per-type, date-stamped section table over the
    events-derived turns frame (oracle-backed; the partitioned write itself
    is exercised in tests/test_reporting_assess.py)."""
    from accelerated_intelligent_document_processing_on_aws_spark.io.reporting import (
        sections_reporting,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sectionize import (
        sectionize,
    )

    turns = sectionize(_event_turns(spark, sf_dir))
    return (
        sections_reporting(turns)
        .select("conv_id", "section_id", "classification", "date", "n_turns")
        .transform(_by("conv_id", "section_id"))
    )


Q_SECTIONS_REPORT_SQL = f"""
WITH {_TURNS_SECT_CTE}
SELECT conv_id, section_id, ANY_VALUE(turn_class) AS classification,
       strftime(MIN(ts), '%Y-%m-%d') AS date, COUNT(*) AS n_turns
FROM sect GROUP BY conv_id, section_id ORDER BY conv_id, section_id
"""


def q_dedup_corpus(spark, sf_dir):
    """Exact-dedup corpus filter: keeper row (min id) per fingerprint.
    Input = documents UNION a shifted copy of the first 20 docs, so real
    duplicate groups exist and exactly the copies are dropped."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        dedup_corpus,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    dup = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(dup)
    return (
        dedup_corpus(corpus, "doc_id", "text")
        .select("doc_id", "fp")
        .transform(_by("doc_id"))
    )


Q_DEDUP_CORPUS_SQL = f"""
WITH corpus AS (
  SELECT doc_id, coalesce(text,'') AS text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, coalesce(text,'') FROM documents WHERE doc_id < 20
),
fps AS (SELECT doc_id, md5({_NORM_SQL}) AS fp,
               row_number() OVER (PARTITION BY md5({_NORM_SQL}) ORDER BY doc_id) AS rn
        FROM corpus)
SELECT doc_id, fp FROM fps WHERE rn = 1 ORDER BY doc_id
"""


def q_token_packing(spark, sf_dir):
    """Token-budget batch packing (training-data sharding): deterministic
    md5 shard + exclusive-cumsum-div-budget batch assignment per shard —
    one window, partition-invariant, oracle-exact."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        token_count,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.packing import (
        pack_token_budget,
        with_shard,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.coalesce(F.col("text"), F.lit(""))).alias("toks")
    )
    packed = pack_token_budget(
        with_shard(d, "doc_id", n_shards=8), "doc_id", "toks", budget=500
    )
    return packed.select("doc_id", "shard", "batch_id").transform(_by("doc_id"))


Q_TOKEN_PACKING_SQL = f"""
WITH t AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard,
    {_TOK_SQL} AS toks
  FROM documents
)
SELECT doc_id, shard,
  CAST(FLOOR(CAST(SUM(toks) OVER (PARTITION BY shard ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS DOUBLE) / 500)
       AS BIGINT) AS batch_id
FROM t ORDER BY doc_id
"""


def q_sample_hash(spark, sf_dir):
    """Deterministic engine-portable sampling: md5(seed||id) mod 100 < pct —
    reproducible across runs/partitionings (resumable pipeline sampling)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        hash_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return hash_sample(d, "doc_id", 20).select("doc_id").transform(_by("doc_id"))


Q_SAMPLE_HASH_SQL = """
SELECT doc_id FROM documents
WHERE CAST(('0x' || substr(md5('s42' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 20
ORDER BY doc_id
"""


def q_sectionize_chunked(spark, sf_dir):
    """Two-phase chunked sectionization (mega-conversation window skew
    defused) over the events-derived turns frame.  Its output is DEFINED to
    equal plain gaps-and-islands sectionize, so the oracle is the plain
    islands SQL; per-row equivalence vs the single-window operator is also
    proven in tests/test_sectionize_chunked.py."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sectionize import (
        sectionize_chunked,
    )

    turns = _event_turns(spark, sf_dir)
    return (
        sectionize_chunked(turns, chunk_size=16)
        .groupBy("conv_id")
        .agg(
            (F.max("section_id") + 1).alias("n_sections"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .transform(_by("conv_id"))
    )


Q_SECTIONIZE_CHUNKED_SQL = f"""
WITH {_TURNS_SECT_CTE}
SELECT conv_id, CAST(MAX(section_id) + 1 AS BIGINT) AS n_sections,
       COUNT(*) AS n_turns
FROM sect GROUP BY conv_id ORDER BY conv_id
"""


def q_evaluate_semantic(spark, sf_dir):
    """Deterministic SEMANTIC comparator (X8): hashing-vectorizer cosine.
    Even doc_ids get word-reversed golden text (order-invariance ⇒ score
    exactly 1.0); odd doc_ids get character-mutated golden ('e'→'3' ⇒
    varied scores) — oracled in DuckDB via md5 token buckets + exact
    integer dot/norm cosine."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.evaluate import (
        evaluate_turns,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        .select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            "text",
            (F.col("doc_id") % 2 == 0).alias("_even"),
        )
    )
    actual = d.select("conv_id", "turn_idx", F.col("text").alias("extracted_text"))
    golden = d.select(
        "conv_id",
        "turn_idx",
        F.when(
            F.col("_even"), F.array_join(F.reverse(F.split("text", " ")), " ")
        )
        .otherwise(F.replace(F.col("text"), F.lit("e"), F.lit("3")))
        .alias("extracted_text"),
    )
    return _ordered(
        evaluate_turns(actual, golden, method="SEMANTIC").select(
            F.col("conv_id").cast("bigint").alias("doc_id"), "matched", "score"
        ),
        "doc_id",
    )


def _evaluate_semantic_sql(dim: int = 256):
    # md5 bucket per token == kernels.compare.semantic_scores_batch: first
    # 4 md5 bytes big-endian mod dim; cosine from EXACT integer counts so
    # the one multiply/sqrt/divide matches the kernel's IEEE op sequence.
    golden_raw = (
        "CASE WHEN doc_id % 2 = 0"
        " THEN array_to_string(list_reverse(str_split(coalesce(text,''), ' ')), ' ')"
        " ELSE replace(coalesce(text,''), 'e', '3') END"
    )
    na, ne = _norm_sql_of("coalesce(text,'')"), _norm_sql_of(golden_raw)
    toks = lambda x: f"list_filter(str_split({x}, ' '), x -> x <> '')"  # noqa: E731
    bucket = f"CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {dim}"
    return f"""
WITH base AS (SELECT doc_id, {na} AS na, {ne} AS ne FROM documents),
ca AS (SELECT doc_id, {bucket} AS bucket, COUNT(*) AS c
       FROM (SELECT doc_id, unnest({toks('na')}) AS tok FROM base) GROUP BY 1, 2),
ce AS (SELECT doc_id, {bucket} AS bucket, COUNT(*) AS c
       FROM (SELECT doc_id, unnest({toks('ne')}) AS tok FROM base) GROUP BY 1, 2),
sa AS (SELECT doc_id, SUM(c * c) AS s FROM ca GROUP BY 1),
se AS (SELECT doc_id, SUM(c * c) AS s FROM ce GROUP BY 1),
dt AS (SELECT ca.doc_id, SUM(ca.c * ce.c) AS d
       FROM ca JOIN ce ON ca.doc_id = ce.doc_id AND ca.bucket = ce.bucket GROUP BY 1),
sc AS (
  SELECT b.doc_id,
    CASE WHEN sa.s IS NULL AND se.s IS NULL THEN 1.0
         WHEN sa.s IS NULL OR se.s IS NULL THEN 0.0
         ELSE CAST(coalesce(dt.d, 0) AS DOUBLE)
              / sqrt(CAST(se.s * sa.s AS DOUBLE)) END AS score
  FROM base b
  LEFT JOIN sa ON b.doc_id = sa.doc_id
  LEFT JOIN se ON b.doc_id = se.doc_id
  LEFT JOIN dt ON b.doc_id = dt.doc_id
)
SELECT doc_id, score >= 0.8 AS matched, ROUND(score, 4) AS score
FROM sc ORDER BY doc_id
"""


def q_asof_join(spark, sf_dir):
    """As-of join (union+window composition): each purchase event matched
    to the user's most recent click at-or-before it."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.asof import (
        asof_join,
    )

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(purchases, clicks, on=["user_id"], ts_col="ts")
    return out.select(
        "user_id",
        "purchase_id",
        F.coalesce(F.col("click_id_asof"), F.lit(-1)).alias("last_click_id"),
    ).transform(_by("user_id", "purchase_id"))


Q_ASOF_JOIN_SQL = """
WITH purchases AS (
  SELECT user_id, ts, event_id AS purchase_id FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'
)
SELECT p.user_id, p.purchase_id, coalesce(c.click_id, -1) AS last_click_id
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.user_id, p.purchase_id
"""


def q_office_extract(spark, sf_dir):
    """P6 Excel/Word structure extraction (document_converter.py:164-381,
    742-905) via the stdlib zip+XML kernel: per-user event tables become
    REAL xlsx/docx zip bytes and are parsed back to markdown inside ONE
    fused Arrow round trip per format (round-3: was 4 chained UDFs
    shipping zip binaries JVM<->Python twice — the suite's slowest
    query).  The oracle rebuilds the expected markdown relationally, so
    the encode+parse round trip stays hash-certified."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.transforms import (
        docx_roundtrip_udf,
        xlsx_roundtrip_udf,
    )

    e = _t(spark, sf_dir, "events").withColumn(
        "val", F.round("value", 2).cast("string")
    )
    line = F.struct("event_id", F.array("event_type", "val").alias("cells"))
    per_user = e.groupBy("user_id").agg(
        F.concat(
            F.array(F.array(F.lit("type"), F.lit("value"))),
            F.transform(F.sort_array(F.collect_list(line)), lambda s: s["cells"]),
        ).alias("grid")
    )
    # the grouped frame is ~bytes-tiny but the zip encode+parse UDFs are
    # CPU-heavy; AQE coalesces the groupBy exchange to ~1 task by bytes
    # (observed: 8s on one core), so spread with an explicit-count
    # repartition (REPARTITION_BY_NUM is exempt from AQE coalescing)
    per_user = per_user.repartition(32, "user_id")
    blocks = F.array(
        F.struct(
            F.lit("h1").alias("kind"),
            F.concat(F.lit("User "), F.col("user_id").cast("string")).alias("text"),
            F.lit(None).cast("array<array<string>>").alias("rows"),
        ),
        F.struct(
            F.lit("table").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.col("grid").alias("rows"),
        ),
    )
    out = per_user.select(
        "user_id",
        xlsx_roundtrip_udf("Events")(F.col("grid")).alias("xlsx_md"),
        docx_roundtrip_udf(blocks).alias("docx_md"),
    )
    # deterministic global order WITHOUT orderBy: rangepartitioning's
    # boundary-sampling job recomputes the whole UDF subtree (measured
    # +3.2s); a single-partition sort of the tiny result is one exchange,
    # no sampling pass, and leaves the UDF stage's parallelism intact
    return out.repartition(1).sortWithinPartitions("user_id")


Q_OFFICE_EXTRACT_SQL = """
WITH tbl AS (
  SELECT user_id,
         '| type | value |' || chr(10) || '| --- | --- |' || chr(10) ||
         string_agg('| ' || event_type || ' | ' || CAST(ROUND(value, 2) AS VARCHAR) || ' |',
                    chr(10) ORDER BY event_id) AS t
  FROM events GROUP BY user_id
)
SELECT user_id,
       '## Events' || chr(10) || t AS xlsx_md,
       '# User ' || CAST(user_id AS VARCHAR) || chr(10) || chr(10) || t AS docx_md
FROM tbl ORDER BY user_id
"""


def _config_attrs(spark, sf_dir):
    """Attribute rows (doc_id, attr, expected, actual) with one EXACT, one
    NUMERIC_EXACT and one FUZZY attribute per document — shared input of
    q_evaluate_config and q_eval_report."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return d.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("title").alias("attr"),
                    F.upper(F.substring("text", 1, 40)).alias("expected"),
                    F.substring("text", 1, 40).alias("actual"),
                ),
                F.struct(
                    F.lit("amount").alias("attr"),
                    F.format_string("$%d,500.00", F.col("doc_id") % 90).alias(
                        "expected"
                    ),
                    F.when(F.col("doc_id") % 10 == 0, F.lit("wrong"))
                    .otherwise(F.format_string("%d500.00", F.col("doc_id") % 90))
                    .alias("actual"),
                ),
                F.struct(
                    F.lit("body").alias("attr"),
                    F.col("text").alias("expected"),
                    F.replace(F.col("text"), F.lit("a"), F.lit("x")).alias("actual"),
                ),
            )
        ).alias("kv"),
    ).select("doc_id", "kv.attr", "kv.expected", "kv.actual")


EVAL_CFG = {"title": "EXACT", "amount": "NUMERIC_EXACT", "body": "FUZZY"}


def q_evaluate_config(spark, sf_dir):
    """Per-attribute config-driven evaluation dispatch (J1 + comparator
    dispatch, evaluation/service.py:116-193): one pass over the attribute
    rows with {attr: method} compiled into a single Catalyst projection —
    EXACT, NUMERIC_EXACT and FUZZY mixed in one job, certified per row."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.evaluate import (
        evaluate_attributes,
    )

    return (
        evaluate_attributes(_config_attrs(spark, sf_dir), EVAL_CFG)
        .select("doc_id", "attr", "method", "matched", "score")
        .transform(_by("doc_id", "attr"))
    )


def q_eval_report(spark, sf_dir):
    """S7 evaluation report sink (save_reporting_data.py:521-752): the
    per-document markdown evaluation report built by io.reporting
    .evaluation_report_md over mixed-method per-attr results — the FULL
    report string is hash-checked against a SQL twin."""
    from accelerated_intelligent_document_processing_on_aws_spark.io.reporting import (
        evaluation_report_md,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.evaluate import (
        evaluate_attributes,
    )

    ev = evaluate_attributes(_config_attrs(spark, sf_dir), EVAL_CFG)
    return evaluation_report_md(ev, conv_col="doc_id").transform(_by("doc_id"))


def _config_scored_cte():
    """CTE chain ending in ``res(doc_id, attr, method, matched, score)`` —
    the DuckDB twin of evaluate_attributes over _config_attrs."""
    ne, na = _norm_sql_of("expected"), _norm_sql_of("actual")
    fz = (
        f"CASE WHEN length({ne}) = 0 AND length({na}) = 0 THEN 1.0 "
        f"ELSE 1.0 - CAST(levenshtein({ne}, {na}) AS DOUBLE)"
        f" / greatest(length({ne}), length({na})) END"
    )
    pe = "TRY_CAST(regexp_replace(expected, '[$, ]', '', 'g') AS DOUBLE)"
    pa = "TRY_CAST(regexp_replace(actual, '[$, ]', '', 'g') AS DOUBLE)"
    score = (
        "CASE method"
        f" WHEN 'EXACT' THEN CAST({ne} = {na} AS DOUBLE)"
        " WHEN 'NUMERIC_EXACT' THEN CAST(COALESCE("
        f"   ({pe} IS NULL AND {pa} IS NULL) OR {pe} = {pa}, FALSE) AS DOUBLE)"
        f" ELSE ROUND({fz}, 4) END"
    )
    return f"""
attrs AS (
  SELECT doc_id, 'title' AS attr, 'EXACT' AS method,
         upper(substr(coalesce(text,''), 1, 40)) AS expected,
         substr(coalesce(text,''), 1, 40) AS actual
  FROM documents
  UNION ALL
  SELECT doc_id, 'amount', 'NUMERIC_EXACT',
         printf('$%d,500.00', doc_id % 90),
         CASE WHEN doc_id % 10 = 0 THEN 'wrong'
              ELSE printf('%d500.00', doc_id % 90) END
  FROM documents
  UNION ALL
  SELECT doc_id, 'body', 'FUZZY',
         coalesce(text,''), replace(coalesce(text,''), 'a', 'x')
  FROM documents
),
scored AS (SELECT doc_id, attr, method, ({score}) AS score FROM attrs),
res AS (
  SELECT doc_id, attr, method,
         CASE WHEN method = 'FUZZY' THEN score >= 0.8 ELSE score >= 1.0 END AS matched,
         score
  FROM scored
)
"""


def _evaluate_config_sql():
    return f"""
WITH {_config_scored_cte()}
SELECT doc_id, attr, method, matched, score FROM res ORDER BY doc_id, attr
"""


def _eval_report_sql():
    line = (
        "printf('| %s | %s | %s | %.4f |', attr, method,"
        " CASE WHEN matched THEN 'MATCH' ELSE 'MISS' END, score)"
    )
    return f"""
WITH {_config_scored_cte()}
SELECT doc_id, COUNT(*) AS n_attrs,
       CAST(SUM(CAST(matched AS INT)) AS BIGINT) AS n_matched,
       '# Evaluation report' || chr(10) || chr(10)
       || '| Attribute | Method | Result | Score |' || chr(10)
       || '| --- | --- | --- | --- |' || chr(10)
       || string_agg({line}, chr(10) ORDER BY attr, method, matched, score)
       || chr(10) || chr(10)
       || printf('**%d/%d matched (%.1f%%)**',
                 CAST(SUM(CAST(matched AS INT)) AS BIGINT), COUNT(*),
                 ROUND(SUM(CAST(matched AS INT)) * 100.0 / COUNT(*), 1))
       AS report_md
FROM res GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extraction pipeline semantics over the sf0.001 documents
    table treated as single-turn conversations — normalize, classify,
    fingerprint, quality — plus corpus rollup by language."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        fingerprint,
        quality_score,
        token_count,
        turn_class_col,
    )

    d = _t(spark, SF_DEFAULT, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    enriched = d.select(
        "doc_id",
        "lang",
        turn_class_col(F.col("text")).alias("doc_class"),
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
        fingerprint(F.col("text")).alias("fp"),
    )
    return (
        enriched.groupBy("lang", "doc_class")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.countDistinct("fp").alias("n_unique"),
        )
        .transform(_by("lang", "doc_class"))
    )


def q_range_join(spark, sf_dir):
    """Bucketized point-in-interval range join (operators/rangejoin.py):
    clicks attributed to the same user's purchase windows [ts, ts+2h] via
    an equi-join on (user_id, time-bin) + exact re-check — never a
    NestedLoopJoin (pinned by tests/test_rangejoin.py).  Oracle: the plain
    non-equi join DuckDB plans natively."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.rangejoin import (
        range_join,
    )

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
        F.col("event_id").alias("purchase_id"),
    )
    out = range_join(
        clicks,
        purchases,
        on=["user_id"],
        point_col="ts",
        start_col="w_start",
        end_col="w_end",
        bin_width=3600.0,
    )
    return out.select("user_id", "purchase_id", "click_id").transform(_by(
        "user_id", "purchase_id", "click_id"
    ))


Q_RANGE_JOIN_SQL = """
WITH clicks AS (
  SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'
),
windows AS (
  SELECT user_id, ts AS w_start, ts + INTERVAL 2 HOUR AS w_end,
         event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, w.purchase_id, c.click_id
FROM clicks c JOIN windows w
  ON c.user_id = w.user_id AND c.ts >= w.w_start AND c.ts <= w.w_end
ORDER BY c.user_id, w.purchase_id, c.click_id
"""


def q_interval_overlap(spark, sf_dir):
    """Bucketized interval-overlap self-join (operators/rangejoin.py):
    purchase windows [ts, ts+4h] of the same user that overlap, each
    unordered pair exactly once via attribution-bin filtering (no dedup
    exchange, no NestedLoopJoin)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    e = _t(spark, sf_dir, "events")
    windows = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 4 HOURS")).alias("w_end"),
    )
    out = interval_overlap_join(
        windows, on=["user_id"], start_col="w_start", end_col="w_end",
        bin_width=7200.0,
    )
    return out.select(
        "user_id",
        F.col("pid_a").alias("pid_a"),
        F.col("pid_b").alias("pid_b"),
    ).transform(_by("user_id", "pid_a", "pid_b"))


Q_INTERVAL_OVERLAP_SQL = """
WITH w AS (
  SELECT user_id, event_id AS pid, ts AS w_start, ts + INTERVAL 4 HOUR AS w_end
  FROM events WHERE event_type = 'purchase'
)
SELECT a.user_id, a.pid AS pid_a, b.pid AS pid_b
FROM w a JOIN w b
  ON a.user_id = b.user_id AND a.pid < b.pid
 AND a.w_start <= b.w_end AND b.w_start <= a.w_end
ORDER BY a.user_id, pid_a, pid_b
"""


def q_session_window(spark, sf_dir):
    """Native session_window rollup (operators/sessions.py): per-user
    30-min-gap sessions merged inside ONE aggregation operator (map-side
    partial merge; streaming-ready with a watermark) — vs the two-window
    lag+cumsum islands the oracle runs.  Boundary semantics pinned
    empirically: a gap of exactly 30min still merges (windows touch), so
    the islands rule is diff > gap.  Session timestamps surface via
    tz-independent NTZ wall-time formatting; the value sum accumulates as
    DECIMAL so FP order can't flip the hash."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sessions import (
        session_rollup,
    )

    e = _t(spark, sf_dir, "events")
    out = session_rollup(
        e,
        ["user_id"],
        "ts",
        "30 minutes",
        aggs=[
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value")
        ],
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "user_id",
        F.date_format("session_start", fmt).alias("session_start"),
        F.date_format("session_end", fmt).alias("session_end"),
        "n_events",
        "sum_value",
    ).transform(_by("user_id", "session_start"))


Q_SESSION_WINDOW_SQL = """
WITH t AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, value
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM t
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts) + INTERVAL 1800 SECOND, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM s
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def q_value_quantiles(spark, sf_dir):
    """Exact quantiles per group: Spark's `percentile` (exact linear
    interpolation — the correctness twin of approx_percentile, which is
    the sketch-based scale path for when a full sort-per-group is too
    expensive) vs DuckDB quantile_cont.  Both interpolate identically;
    round(6) absorbs FP summation differences."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
        .transform(_by("event_type"))
    )


Q_VALUE_QUANTILES_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark, sf_dir):
    """Wide per-user activity matrix via groupBy().pivot() with an
    EXPLICIT value list (no extra distinct-scan job to discover pivot
    columns — the scale rule for pivots); oracle = FILTER aggregates."""
    e = _t(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .transform(_by("user_id"))
    )
    # pivot yields nulls for absent combos: zero-fill (parity rule: no
    # NULLs in compared output)
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )


Q_EVENTS_PIVOT_SQL = """
SELECT user_id,
       """ + ",\n       ".join(
    f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
    for t in _EVENT_TYPES
) + """
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_events_rollup(spark, sf_dir):
    """Hierarchical totals in one pass: GROUP BY ROLLUP(event_type, day)
    — Catalyst expands grouping sets inside a single aggregate (partial
    map-side combine per set), no self-union of per-level scans.  Null
    grouping keys coalesce to 'ALL' (parity rule: no NULLs in output);
    sums accumulate as DECIMAL so FP order can't flip the hash."""
    e = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    return (
        e.select(
            F.col("event_type").alias("etype"),
            day.alias("day"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .rollup("etype", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("v").cast("double"), 4).alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("etype"), F.lit("ALL")).alias("etype"),
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            "n_events",
            "sum_value",
        )
        .transform(_by("etype", "day"))
    )


Q_EVENTS_ROLLUP_SQL = """
SELECT coalesce(event_type, 'ALL') AS etype,
       coalesce(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events
GROUP BY ROLLUP(event_type, strftime(ts, '%Y-%m-%d'))
ORDER BY etype, day
"""


def q_dedup_incremental(spark, sf_dir):
    """Incremental anti-join dedup (operators/dedup.py dedup_against):
    the 'new batch' (doc_id % 10 >= 7) survives only where its normalized
    fingerprint is absent from the accumulated corpus (doc_id % 10 < 7) —
    LEFT ANTI on the fingerprint with the corpus reduced to distinct
    fingerprints before the join."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        dedup_against,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 < 7)
    new = d.filter(F.col("doc_id") % 10 >= 7)
    return (
        dedup_against(new, corpus, "doc_id", "text")
        .select("doc_id", "lang", "source")
        .transform(_by("doc_id"))
    )


Q_DEDUP_INCREMENTAL_SQL = f"""
WITH fp AS (SELECT doc_id, {_NORM_SQL} AS nt, lang, source FROM documents),
corpus AS (SELECT DISTINCT md5(nt) AS f FROM fp WHERE doc_id % 10 < 7),
newb AS (SELECT doc_id, md5(nt) AS f, lang, source FROM fp WHERE doc_id % 10 >= 7)
SELECT doc_id, lang, source FROM newb n
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.f = n.f)
ORDER BY doc_id
"""


_STRATA_PCT = {"click": 25, "view": 10, "purchase": 100, "error": 50}


def q_sample_stratified(spark, sf_dir):
    """Per-stratum deterministic hash sampling (operators/dedup.py
    stratified_hash_sample): event types keep 25/10/100/50 pct (signup
    falls to the 5 pct default), selection a pure function of
    md5(seed||event_id) — reproducible across runs/partitionings/engines.
    Output: per-stratum kept counts (row-stable certification of the
    whole sample)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        stratified_hash_sample,
    )

    e = _t(spark, sf_dir, "events")
    kept = stratified_hash_sample(
        e, "event_id", "event_type", _STRATA_PCT, default_pct=5
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("event_id").alias("first_id"),
            F.max("event_id").alias("last_id"),
            F.sum("event_id").alias("id_sum"),
        )
        .transform(_by("event_type"))
    )


Q_SAMPLE_STRATIFIED_SQL = """
WITH b AS (
  SELECT event_type, event_id,
         CAST(('0x' || substr(md5('s42' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
         CASE event_type WHEN 'click' THEN 25 WHEN 'view' THEN 10
              WHEN 'purchase' THEN 100 WHEN 'error' THEN 50 ELSE 5 END AS rate
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       MIN(event_id) AS first_id,
       MAX(event_id) AS last_id,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM b WHERE bucket < rate
GROUP BY event_type ORDER BY event_type
"""


def q_tfidf_terms(spark, sf_dir):
    """Top-3 tf-idf terms per document over the normalized corpus: the
    inverted-index pattern (explode -> per-(doc,term) tf -> per-term df
    joined back) with idf = ln((N+1)/(df+1)).  Every shuffle is an
    equi-join/groupBy on the term or doc key — the exact shape the
    ngram-Jaccard candidate index uses, repurposed for relevance."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        normalized_for_compare,
    )

    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()  # tiny scalar (one count job), literal in the plan
    toks = (
        d.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(
                        normalized_for_compare(
                            F.coalesce(F.col("text"), F.lit(""))
                        ),
                        " ",
                    ),
                    lambda t: t != F.lit(""),
                )
            ).alias("term"),
        )
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf")
            * F.log((F.lit(float(n_docs + 1))) / (F.col("df") + F.lit(1.0))),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "score")
        .transform(_by("doc_id", "rank"))
    )


Q_TFIDF_TERMS_SQL = f"""
WITH nm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (
  SELECT doc_id, t.term FROM nm,
         unnest(str_split(nt, ' ')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score
FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
"""


def q_dup_spans(spark, sf_dir):
    """Exact-substring duplicate-span stats (operators/dedup.py
    duplicate_spans; Lee et al. 2022 arXiv:2107.06499 reformulated as
    stride-1 positional 8-gram fingerprints): per doc, the number of
    maximal word ranges covered by a k-gram occurring >= 2 times in the
    corpus, the duplicated word count, and the first duplicated offset.
    Plan: one gram explode -> groupBy(fp) frequency (map-side combine) ->
    equi-join back (AQE-skew-splittable, never a hot-fp window) ->
    per-doc gaps-and-islands merge."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        duplicate_span_stats,
    )

    d = _t(spark, sf_dir, "documents")
    return duplicate_span_stats(d, "doc_id", "text", k=8).transform(_by("id"))


Q_DUP_SPANS_SQL = """
WITH w AS (SELECT doc_id, str_split(coalesce(text,''), ' ') AS w FROM documents),
pos AS (
  SELECT doc_id, CAST(i AS INT) AS start_word,
         md5(array_to_string(w[i : i+7], ' ')) AS fp
  FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i)
  WHERE len(w) >= 8
),
dup AS (SELECT fp FROM pos GROUP BY fp HAVING count(*) >= 2),
dpos AS (
  SELECT p.doc_id, p.start_word, CAST(p.start_word + 8 AS INT) AS end_word
  FROM pos p JOIN dup USING (fp)
),
brk AS (
  SELECT doc_id, start_word, end_word,
         CASE WHEN start_word > coalesce(max(end_word) OVER (
                PARTITION BY doc_id ORDER BY start_word
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS b
  FROM dpos
),
isl AS (
  SELECT *, sum(b) OVER (PARTITION BY doc_id ORDER BY start_word
                         ROWS UNBOUNDED PRECEDING) AS g
  FROM brk
),
spans AS (
  SELECT doc_id, g, min(start_word) AS s, max(end_word) AS e
  FROM isl GROUP BY doc_id, g
)
SELECT doc_id AS id, count(*) AS n_dup_spans,
       CAST(sum(e - s) AS BIGINT) AS dup_words,
       min(s) AS first_dup_start
FROM spans GROUP BY doc_id ORDER BY id
"""


def q_chunk_dedup(spark, sf_dir):
    """CCNet-style chunk-level exact dedup with reassembly
    (operators/curation.py chunk_dedup): 10-word chunks survive only at
    their first global occurrence; docs reassembled from survivors in
    order.  Window on md5(chunk) (balanced key) + one ordered-concat
    groupBy — no join back to the corpus."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        chunk_dedup,
    )

    d = _t(spark, sf_dir, "documents")
    return chunk_dedup(d, "doc_id", "text", size=10).transform(_by("doc_id"))


Q_CHUNK_DEDUP_SQL = """
WITH w AS (SELECT doc_id, str_split(coalesce(text,''), ' ') AS w FROM documents),
ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
              array_to_string(w[i*10+1 : i*10+10], ' ') AS chunk
       FROM w, UNNEST(range(0, greatest(CAST(ceil(len(w) / 10.0) AS BIGINT), 1))) AS t(i)),
k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                   ORDER BY doc_id, chunk_idx) AS rn FROM ch)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS total_chunks,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_chunks,
       coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE rn = 1), '')
         AS dedup_text
FROM k GROUP BY doc_id ORDER BY doc_id
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/curation.py decontaminate):
    eval split = doc_id % 37 == 0; train docs flagged when they share any
    word 4-gram with the eval set.  The (small) eval shingle set is
    broadcast, so the train side never shuffles for the check."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        decontaminate,
    )

    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 37 == 0)
    tr = d.filter(F.col("doc_id") % 37 != 0)
    return decontaminate(tr, ev, "doc_id", "text", k=4).transform(_by("doc_id"))


Q_DECONTAMINATE_SQL = """
WITH w AS (SELECT doc_id, str_split(coalesce(text,''), ' ') AS w FROM documents),
g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS gram
      FROM w, UNNEST(range(1, greatest(len(w) - 3, 1) + 1)) AS t(i)),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 37 = 0),
hits AS (SELECT g.doc_id, COUNT(*) AS n_hits
         FROM g JOIN ev USING (gram) WHERE g.doc_id % 37 <> 0 GROUP BY g.doc_id)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT)
         AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0) d
LEFT JOIN hits h USING (doc_id) ORDER BY doc_id
"""


def q_quality_repetition(spark, sf_dir):
    """Gopher-style repetition quality gate (operators/curation.py
    repetition_stats): distinct-word ratio, top-word and top-bigram
    fractions, keep flag — two-level aggregates with map-side combine."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        repetition_stats,
    )

    d = _t(spark, sf_dir, "documents")
    return repetition_stats(d, "doc_id", "text").transform(_by("doc_id"))


Q_QUALITY_REPETITION_SQL = """
WITH w AS (SELECT doc_id, str_split(coalesce(text,''), ' ') AS w FROM documents),
toks AS (SELECT doc_id, t.tok FROM w, UNNEST(w.w) AS t(tok)),
wc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
ws AS (SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS n_distinct, MAX(c) AS topw
       FROM wc GROUP BY 1),
big AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS b
        FROM w, UNNEST(range(1, greatest(len(w) - 1, 1) + 1)) AS t(i)),
bc AS (SELECT doc_id, b, COUNT(*) AS c FROM big GROUP BY 1, 2),
bs AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS topb FROM bc GROUP BY 1)
SELECT ws.doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       ROUND(n_distinct * 1.0 / n_words, 6) AS distinct_ratio,
       ROUND(topw * 1.0 / n_words, 6) AS top_word_frac,
       ROUND(topb * 1.0 / n_bigrams, 6) AS top_bigram_frac,
       CAST(CASE WHEN n_words >= 40 AND n_distinct * 1.0 / n_words >= 0.35
                  AND topw * 1.0 / n_words <= 0.10
                  AND topb * 1.0 / n_bigrams <= 0.06
            THEN 1 ELSE 0 END AS INT) AS keep_doc
FROM ws JOIN bs USING (doc_id) ORDER BY ws.doc_id
"""


def q_pii_redact(spark, sf_dir):
    """PII redaction (operators/curation.py redact_pii/pii_counts):
    deterministic synthetic emails/phones are injected per doc_id (the
    corpus itself is PII-free), then counted and replaced with typed tags
    — pure Catalyst regexp ops, dialect-compatible with the RE2 oracle."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        pii_counts,
        redact_pii,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    email_part = F.when(
        did % 3 != 0,
        F.concat(
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@mail"),
            (did % 5).cast("string"),
            F.lit(".example.com"),
        ),
    ).otherwise(F.lit(""))
    phone_part = F.when(
        did % 2 == 0,
        F.concat(
            F.lit(" or call 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    t = F.concat(F.coalesce(F.col("text"), F.lit("")), email_part, phone_part)
    d = d.select("doc_id", t.alias("t"))
    n_emails, n_phones = pii_counts(F.col("t"))
    return d.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        F.md5(redact_pii(F.col("t"))).alias("redacted_fp"),
    ).transform(_by("doc_id"))


_PII_INJECT_SQL = """
coalesce(text,'')
|| CASE WHEN doc_id % 3 <> 0
        THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail'
             || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
        ELSE '' END
|| CASE WHEN doc_id % 2 = 0
        THEN ' or call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
             || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        ELSE '' END
"""
_EMAIL_SQL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PHONE_SQL_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

Q_PII_REDACT_SQL = f"""
WITH p AS (SELECT doc_id, {_PII_INJECT_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_SQL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PHONE_SQL_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_SQL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_SQL_RE}', '<PHONE>', 'g')) AS redacted_fp
FROM p ORDER BY doc_id
"""


def q_text_chunks(spark, sf_dir):
    """Sliding-window chunking with offsets (operators/curation.py
    sliding_chunks): 20-word windows, stride 10 — offsets + fingerprint
    only, the chunk text itself never rides a shuffle."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        sliding_chunks,
    )

    d = _t(spark, sf_dir, "documents")
    return sliding_chunks(d, "doc_id", "text", size=20, stride=10).transform(_by(
        "doc_id", "chunk_id"
    ))


Q_TEXT_CHUNKS_SQL = """
WITH w AS (SELECT doc_id, str_split(coalesce(text,''), ' ') AS w FROM documents),
s AS (SELECT doc_id, CAST(i AS INT) AS start_word, w
      FROM w, UNNEST(range(0, greatest(len(w), 1), 10)) AS t(i))
SELECT doc_id,
       CAST(start_word / 10 AS INT) AS chunk_id,
       start_word,
       CAST(len(w[start_word+1 : start_word+20]) AS INT) AS n_chunk_words,
       md5(array_to_string(w[start_word+1 : start_word+20], ' ')) AS chunk_fp
FROM s ORDER BY doc_id, chunk_id
"""


def q_curate_corpus(spark, sf_dir):
    """Composite curation cascade (operators/curation.py curate_corpus):
    language gate -> length gate -> repetition gate -> exact-dup keeper ->
    decontamination vs the doc_id%37 eval split; one row per doc with the
    first failing reason.  The end-to-end op a training-data pipeline runs
    per corpus snapshot."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        contamination_hits,
        curate_corpus,
    )

    # ONE materialization of the (doc_id, text) projection shared by all
    # five cascade stages (VERDICT #7): without it each stage re-scans the
    # source with its own spread exchange — 5 scans / 5 exchanges of pure
    # recompute (the same lazy-localCheckpoint discipline as the dedup
    # sketches; materialized once by the query's first action)
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    ev = d.filter(F.col("doc_id") % 37 == 0)
    tr = d.filter(F.col("doc_id") % 37 != 0)
    # hits-only contamination frame (absent ids count clean inside
    # curate_corpus) — skips decontaminate's left-join fan back over all
    # train ids, one exchange fewer in the cascade (VERDICT #7)
    cont = contamination_hits(tr, ev, "doc_id", "text", k=4).select(
        "doc_id", (F.col("n_hits") > 0).cast("int").alias("contaminated")
    )
    return curate_corpus(d, "doc_id", "text", contaminated=cont).transform(_by(
        "doc_id"
    ))


Q_CURATE_CORPUS_SQL = f"""
WITH lang AS ({{LANG_SQL}}),
rep AS ({{REP_SQL}}),
fps AS (SELECT doc_id,
               row_number() OVER (PARTITION BY md5({_NORM_SQL})
                                  ORDER BY doc_id) AS rn
        FROM documents),
cont AS ({{CONT_SQL}})
SELECT doc_id, n_words, reason,
       CAST(CASE WHEN reason = '' THEN 1 ELSE 0 END AS INT) AS keep_doc
FROM (
  SELECT d.doc_id, rep.n_words,
         CASE WHEN lang.lang_guess NOT IN ('en','es','de','fr') THEN 'lang'
              WHEN rep.n_words < 40 THEN 'short'
              WHEN rep.distinct_ratio < 0.35 OR rep.top_word_frac > 0.10
                   OR rep.top_bigram_frac > 0.06 THEN 'repetition'
              WHEN fps.rn > 1 THEN 'duplicate'
              WHEN coalesce(cont.contaminated, 0) = 1 THEN 'contaminated'
              ELSE '' END AS reason
  FROM documents d
  JOIN lang USING (doc_id)
  JOIN rep ON rep.doc_id = d.doc_id
  JOIN fps ON fps.doc_id = d.doc_id
  LEFT JOIN cont ON cont.doc_id = d.doc_id
) ORDER BY doc_id
"""


def _curate_corpus_sql() -> str:
    return Q_CURATE_CORPUS_SQL.format(
        LANG_SQL=_lang_id_sql(),
        REP_SQL=Q_QUALITY_REPETITION_SQL,
        CONT_SQL=Q_DECONTAMINATE_SQL,
    )


def q_domain_stats(spark, sf_dir):
    """Per-domain URL stats (operators/curation.py url_domain_stats):
    deterministic synthetic URLs injected per doc_id, hosts pulled with a
    capture-group regexp_extract_all, one hash groupBy on the domain."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        url_domain_stats,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.lit("see https://www.site"),
        (did % 7).cast("string"),
        F.lit(".example.com/p/"),
        did.cast("string"),
        F.lit(" and http://cdn"),
        (did % 3).cast("string"),
        F.lit(".example.org/x "),
        F.coalesce(F.col("text"), F.lit("")),
    )
    d = d.select("doc_id", t.alias("t"))
    return url_domain_stats(d, "doc_id", "t").transform(_by("domain"))


Q_DOMAIN_STATS_SQL = """
WITH p AS (SELECT doc_id,
  'see https://www.site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/'
  || CAST(doc_id AS VARCHAR) || ' and http://cdn' || CAST(doc_id % 3 AS VARCHAR)
  || '.example.org/x ' || coalesce(text,'') AS t
  FROM documents),
u AS (SELECT doc_id, h.host
      FROM p, UNNEST(regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1)) AS h(host))
SELECT host AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM u GROUP BY host ORDER BY domain
"""


def q_ingest_envelope(spark, sf_dir):
    """Ingestion-envelope parsing with corrupt-record routing
    (``sources/ingest.py``): documents become JSON envelopes via
    ``to_json``; a deterministic md5-keyed subset is truncated
    mid-string (malformed) and ``parse_json_envelope`` must route
    exactly those rows to ``parse_ok = false`` with NULL payload fields
    — the Spark analog of the reference's SQS dead-letter path
    (``src/lambda/queue_processor/index.py``).  Pure Catalyst
    (to_json/from_json with an in-schema corrupt field), no Python;
    partial Jackson results on corrupt rows are gated off."""
    from pyspark.sql import types as T

    from accelerated_intelligent_document_processing_on_aws_spark.sources import (
        parse_json_envelope,
    )

    d = _t(spark, sf_dir, "documents")
    payload = F.to_json(
        F.struct(F.col("lang"), F.length("text").cast("int").alias("n"))
    )
    hx = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    # three defect classes, all md5-keyed: truncated JSON (corrupt-field
    # hit), NULL payload and whitespace-only payload (both parse to a NULL
    # struct with NO corrupt-field hit — the round-4 parse_ok gate)
    env = d.select(
        "doc_id", payload.alias("payload"), hx.alias("_h")
    ).select(
        "doc_id",
        F.when(F.col("_h").isin("0", "1", "2"),
               F.expr("substring(payload, 1, length(payload) - 2)"))
        .when(F.col("_h") == "3", F.lit(None).cast("string"))
        .when(F.col("_h") == "4", F.lit("   "))
        .otherwise(F.col("payload"))
        .alias("payload"),
    )
    sch = T.StructType(
        [T.StructField("lang", T.StringType()), T.StructField("n", T.IntegerType())]
    )
    out = parse_json_envelope(env, "payload", sch)
    return _ordered(
        out.select("doc_id", "parse_ok", "p_lang", "p_n"), "doc_id"
    )


Q_INGEST_ENVELOPE_SQL = """
WITH e AS (
  SELECT doc_id, lang, CAST(length(text) AS INT) AS n,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4') AS bad
  FROM documents
)
SELECT doc_id,
       NOT bad AS parse_ok,
       CASE WHEN bad THEN NULL ELSE lang END AS p_lang,
       CASE WHEN bad THEN NULL ELSE n END AS p_n
FROM e ORDER BY doc_id
"""


def q_validate_feed(spark, sf_dir):
    """One-job data-quality validation (``sources.validate_transcripts``)
    over a transcripts-shaped feed synthesized from events with
    deterministic md5-keyed defects: a null-text subset and a duplicated
    (conv_id, turn_idx) subset.  Certifies the validation aggregate —
    row count, per-column null counts, duplicate-key count via
    count - count_distinct (a real distinct aggregate, never
    collect_set), ts bounds — hash-exactly against DuckDB."""
    from accelerated_intelligent_document_processing_on_aws_spark.sources import (
        validate_transcripts,
    )

    e = _t(spark, sf_dir, "events")
    hx = F.substring(F.md5(F.col("event_id").cast("string").cast("binary")), 1, 1)
    t = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.when(hx.isin("0", "1"), F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
    )
    feed = t.unionByName(t.filter(hx.isin("2", "3")))
    return validate_transcripts(feed)


Q_VALIDATE_FEED_SQL = """
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         CAST(event_id AS INT) AS turn_idx,
         CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0','1')
              THEN NULL ELSE event_type END AS text,
         ts,
         substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS hx
  FROM events
),
feed AS (
  SELECT conv_id, turn_idx, text, ts FROM t
  UNION ALL
  SELECT conv_id, turn_idx, text, ts FROM t WHERE hx IN ('2','3')
)
SELECT CAST(COUNT(*) AS BIGINT) AS rows,
       CAST(SUM(CASE WHEN conv_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_conv_id,
       CAST(SUM(CASE WHEN turn_idx IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_turn_idx,
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
       CAST(COUNT(*) - COUNT(DISTINCT (conv_id, turn_idx)) AS BIGINT) AS dup_turn_keys,
       MIN(ts) AS ts_min,
       MAX(ts) AS ts_max
FROM feed
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup by embedding clusters —
    nearest-cell assignment on the FP-portable integer IVF codebook,
    pairwise cosine ONLY within a cell (equi-self-join, never all-pairs),
    and of any pair >= threshold the doc FARTHEST from its cluster centroid
    survives.  Cosines rounded to 6 dp before every comparison, so the
    survivor set is engine-portable and the DuckDB oracle reproduces it
    exactly."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        semantic_dedup,
    )

    e = _t(spark, sf_dir, "embeddings")
    return _ordered(
        semantic_dedup(
            e, "vec_id", "embedding", threshold=0.35, n_cells=16, dim=64, seed=7
        ),
        "id",
    )


def _semantic_dedup_sql(threshold: float = 0.35) -> str:
    """DuckDB twin of semantic_dedup: same integer codebook, same
    first-max cell tie-break, same 6-dp-rounded cosine comparisons."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        ivf_centroids,
    )

    cents = ivf_centroids(64, 16, 7)
    dot_exprs = []
    for c in cents:
        lit = "[" + ",".join(str(int(x)) for x in c) + "]"
        dot_exprs.append(f"list_inner_product(q, CAST({lit} AS DOUBLE[]))")
    cent_lit = (
        "CAST(["
        + ",".join("[" + ",".join(str(int(x)) for x in c) + "]" for c in cents)
        + "] AS DOUBLE[][])"
    )
    dots_joined = ",\n          ".join(dot_exprs)
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * 1048576.0)) AS q
  FROM embeddings
),
dots AS (
  SELECT vec_id, v,
         [{dots_joined}] AS d
  FROM e
),
cell1 AS (
  SELECT vec_id, v, CAST(list_position(d, list_max(d)) - 1 AS INT) AS cell
  FROM dots
),
side AS (
  SELECT vec_id, v, cell,
         ROUND(list_inner_product(v, {cent_lit}[cell + 1])
               / (sqrt(list_inner_product(v, v))
                  * sqrt(list_inner_product({cent_lit}[cell + 1],
                                            {cent_lit}[cell + 1]))), 6) AS cs
  FROM cell1
),
removed AS (
  SELECT DISTINCT a.vec_id
  FROM side a JOIN side b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  WHERE ROUND(list_inner_product(a.v, b.v)
              / (sqrt(list_inner_product(a.v, a.v))
                 * sqrt(list_inner_product(b.v, b.v))), 6) >= {threshold}
    AND (b.cs < a.cs OR (b.cs = a.cs AND b.vec_id < a.vec_id))
)
SELECT s.vec_id AS id, s.cell, s.cs AS centroid_sim
FROM side s LEFT JOIN removed r ON s.vec_id = r.vec_id
WHERE r.vec_id IS NULL
ORDER BY id
"""


def q_lm_score(spark, sf_dir):
    """CCNet-style LM quality score (Wenzek et al. 2019): bits-per-bigram
    under an add-alpha bigram model trained on the corpus itself — the
    deterministic analog of CCNet's KenLM perplexity filter.  The model
    counts, the vocabulary size, and every smoothed probability are exact
    integers/rationals in f64, so the DuckDB twin agrees to the 6-dp
    rounding."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        lm_score_bits,
    )

    d = _t(spark, sf_dir, "documents")
    return _ordered(lm_score_bits(d, "doc_id", "text", alpha=0.5), "doc_id")


Q_LM_SCORE_SQL = """
WITH w AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS t FROM documents
),
bg AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(t)),
                               i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
  FROM w WHERE len(t) >= 2
),
b2 AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM b2 GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
v AS (SELECT COUNT(DISTINCT tok) AS vs
      FROM (SELECT UNNEST(t) AS tok FROM w)),
sc AS (
  SELECT b2.doc_id,
         -log2((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.vs)) AS bits
  FROM b2 JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(bits), 6) AS bits_per_bigram
FROM sc GROUP BY doc_id ORDER BY doc_id
"""


def q_span_dedup(spark, sf_dir):
    """C4-style repeated-span removal (Raffel et al. 2020): every
    occurrence of any disjoint 5-word span with corpus frequency >= 3 is
    stripped from every doc (remove-all boilerplate variant; chunk_dedup
    is the keep-first twin).  Doc text never shuffles — slim
    (id, idx, md5) rows carry the frequency pass and the removed-index
    sets join back."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        span_corpus_dedup,
    )

    d = _t(spark, sf_dir, "documents")
    return _ordered(
        span_corpus_dedup(d, "doc_id", "text", span_words=5, min_df=3), "doc_id"
    )


Q_SPAN_DEDUP_SQL = """
WITH d AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS w FROM documents
),
seg AS (
  SELECT doc_id,
         list_transform(range(GREATEST(CAST(ceil(len(w) / 5.0) AS INT), 1)),
                        i -> array_to_string(w[i*5 + 1 : i*5 + 5], ' ')) AS spans
  FROM d
),
l AS (
  SELECT doc_id, UNNEST(spans) AS s,
         UNNEST(range(len(spans))) AS i
  FROM seg
),
freq AS (
  SELECT md5(s) AS h FROM l GROUP BY 1 HAVING COUNT(*) >= 3
),
flag AS (
  SELECT l.doc_id, l.s, l.i, (f.h IS NOT NULL) AS dup
  FROM l LEFT JOIN freq f ON md5(l.s) = f.h
)
SELECT doc_id,
       COALESCE(string_agg(s, ' ' ORDER BY i) FILTER (WHERE NOT dup), '')
         AS clean_text,
       CAST(COUNT(*) AS INT) AS n_spans,
       CAST(COUNT(*) FILTER (WHERE dup) AS INT) AS n_removed
FROM flag GROUP BY doc_id ORDER BY doc_id
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): per-doc log-likelihood
    ratio of hashed unigram+bigram features under the target distribution
    (the lang='en' slice) vs the whole corpus — the standard pretraining
    data-selection scorer.  The bucket-weight table is fixed-size (4096
    hash buckets) so the corpus side only ever broadcast-joins it."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        dsir_weights,
    )

    d = _t(spark, sf_dir, "documents")
    tgt = d.filter(F.col("lang") == "en")
    return _ordered(
        dsir_weights(d, tgt, "doc_id", "text", n_buckets=4096, alpha=0.5),
        "doc_id",
    )


Q_DSIR_WEIGHTS_SQL = """
WITH w AS (
  SELECT doc_id, lang, string_split(COALESCE(text, ''), ' ') AS t FROM documents
),
uni AS (SELECT doc_id, lang, UNNEST(t) AS g FROM w),
bi AS (
  SELECT doc_id, lang,
         UNNEST(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS g
  FROM w WHERE len(t) >= 2
),
g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
gb AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS b
  FROM g
),
cs AS (SELECT b, COUNT(*) AS c_s FROM gb GROUP BY 1),
ct AS (SELECT b, COUNT(*) AS c_t FROM gb WHERE lang = 'en' GROUP BY 1),
tot AS (
  SELECT (SELECT SUM(c_s) FROM cs) + 0.5 * 4096 AS s_tot,
         (SELECT COALESCE(SUM(c_t), 0) FROM ct) + 0.5 * 4096 AS t_tot
),
lam AS (
  SELECT cs.b,
         ln((COALESCE(ct.c_t, 0) + 0.5) / tot.t_tot)
           - ln((cs.c_s + 0.5) / tot.s_tot) AS lam
  FROM cs LEFT JOIN ct USING (b) CROSS JOIN tot
)
SELECT gb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       ROUND(SUM(lam.lam), 6) AS weight
FROM gb JOIN lam USING (b)
GROUP BY 1 ORDER BY doc_id
"""


def q_winnow(spark, sf_dir):
    """Winnowing fingerprint selection (dedup.winnow_fingerprints, the
    MOSS algorithm): per-position k-gram md5-prefix hashes + w-window
    minima, all higher-order transforms in ONE codegen stage — zero
    exchanges before the terminal sort, zero Python."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        winnow_fingerprints,
    )

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "doc_id", "text", k=5, w=4).transform(
        _by("doc_id")
    )


Q_WINNOW_SQL = """
WITH p AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
g AS (SELECT doc_id, t, length(t) - 4 AS m FROM p),
h AS (SELECT doc_id, m,
  CASE WHEN m >= 1 THEN list_transform(range(1, m + 1),
        i -> CAST(('0x' || substr(md5(substr(t, i, 5)), 1, 8)) AS BIGINT))
       ELSE [] END AS hs
  FROM g),
sel AS (SELECT doc_id, m,
  list_distinct(
    CASE WHEN m - 3 >= 1
           THEN list_transform(range(1, m - 3 + 1),
                               j -> list_min(hs[j:j + 3]))
         WHEN m >= 1 THEN [list_min(hs)]
         ELSE [] END) AS sl
  FROM h)
SELECT doc_id,
       CAST(greatest(m, 0) AS INT) AS n_kgrams,
       CAST(len(sl) AS INT) AS n_selected,
       md5(array_to_string(list_sort(sl), ',')) AS winnow_digest
FROM sel ORDER BY doc_id
"""


def q_mixture_weights(spark, sf_dir):
    """Temperature-scaled data-mixture weights
    (curation.mixture_weights, GPT-3 §2.2): per-lang token-weighted
    sampling weights at alpha=0.7 over the documents table — one
    map-side-combining groupBy to a domains-sized frame, normalization
    on that metadata-sized table."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        mixture_weights,
    )

    d = _t(spark, sf_dir, "documents")
    d = d.select(
        "lang",
        F.size(
            F.split(F.coalesce(F.col("text"), F.lit("")), " ")
        ).alias("n_tokens"),
    )
    return mixture_weights(
        d, "lang", alpha=0.7, token_col="n_tokens"
    ).transform(_by("lang"))


Q_MIXTURE_WEIGHTS_SQL = """
WITH d AS (SELECT lang,
                  len(string_split(coalesce(text, ''), ' ')) AS n_tokens
           FROM documents),
a AS (SELECT lang, COUNT(*) AS n_docs, SUM(n_tokens) AS n_units
      FROM d GROUP BY lang),
t AS (SELECT SUM(n_units) AS tot,
             SUM(POW(n_units * 1.0, 0.7)) AS ptot FROM a)
SELECT lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_units AS BIGINT) AS n_units,
       ROUND(n_units * 1.0 / tot, 6) AS raw_share,
       ROUND(POW(n_units * 1.0, 0.7) / ptot, 6) AS weight,
       ROUND((POW(n_units * 1.0, 0.7) / ptot) / (n_units * 1.0 / tot), 6)
         AS upsample_ratio
FROM a CROSS JOIN t ORDER BY lang
"""


def q_line_repetition(spark, sf_dir):
    """Gopher line- and paragraph-level repetition gates
    (curation.line_repetition_stats): deterministic synthetic pages
    where doc_id controls how many nav/footer lines AND promo paragraphs
    duplicate — all four published dup fractions plus the keep
    thresholds, in one narrow projection (zero exchanges before the
    terminal sort)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        line_repetition_stats,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat_ws(
        "\n",
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("Menu Home About"),
        F.when(did % 3 == 0, F.lit("Menu Home About")).otherwise(
            F.concat(F.lit("Tail "), did.cast("string"))
        ),
        F.concat(F.lit("Footer "), (did % 5).cast("string")),
        F.when(did % 2 == 0, F.concat(F.lit("Footer "), (did % 5).cast("string"))).otherwise(
            F.concat(F.lit("Alt "), did.cast("string"))
        ),
    )
    # paragraph structure: promo block duplicates on doc_id % 4 == 0
    t = F.concat_ws(
        "\n\n",
        t,
        F.lit("Promo block line"),
        F.when(did % 4 == 0, F.lit("Promo block line")).otherwise(
            F.concat(F.lit("Unique para "), did.cast("string"))
        ),
    )
    d = d.select("doc_id", t.alias("t"))
    return line_repetition_stats(d, "doc_id", "t").transform(_by("doc_id"))


Q_LINE_REPETITION_SQL = """
WITH p AS (SELECT doc_id,
  coalesce(text,'') || chr(10) ||
  'Menu Home About' || chr(10) ||
  (CASE WHEN doc_id % 3 = 0 THEN 'Menu Home About'
        ELSE 'Tail ' || CAST(doc_id AS VARCHAR) END) || chr(10) ||
  'Footer ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
  (CASE WHEN doc_id % 2 = 0 THEN 'Footer ' || CAST(doc_id % 5 AS VARCHAR)
        ELSE 'Alt ' || CAST(doc_id AS VARCHAR) END)
  || chr(10) || chr(10) || 'Promo block line' || chr(10) || chr(10) ||
  (CASE WHEN doc_id % 4 = 0 THEN 'Promo block line'
        ELSE 'Unique para ' || CAST(doc_id AS VARCHAR) END) AS t
  FROM documents),
s AS (SELECT doc_id,
  list_filter(list_transform(str_split(t, chr(10)), x -> trim(x)),
              x -> x <> '') AS lines,
  list_filter(list_transform(str_split(t, chr(10) || chr(10)),
              x -> trim(x)), x -> x <> '') AS paras
  FROM p),
m AS (SELECT doc_id, lines, paras,
             list_distinct(lines) AS dl, list_distinct(paras) AS dp,
             len(lines) AS nl, len(list_distinct(lines)) AS nd,
             len(paras) AS npar, len(list_distinct(paras)) AS npd,
             list_sum(list_transform(lines, x -> length(x))) AS tot,
             list_sum(list_transform(paras, x -> length(x))) AS ptot
      FROM s),
d2 AS (SELECT doc_id, nl, nd, tot, npar, npd, ptot,
  list_sum(list_transform(dl,
      d -> (len(list_filter(lines, x -> x = d)) - 1) * length(d)))
    AS dup,
  list_sum(list_transform(dp,
      d -> (len(list_filter(paras, x -> x = d)) - 1) * length(d)))
    AS pdup
  FROM m),
f AS (SELECT doc_id, nl, npar,
  CASE WHEN nl > 0 THEN (nl - nd) * 1.0 / nl ELSE 0 END AS dlf,
  CASE WHEN coalesce(tot, 0) > 0 THEN coalesce(dup, 0) * 1.0 / tot
       ELSE 0 END AS dlcf,
  CASE WHEN npar > 0 THEN (npar - npd) * 1.0 / npar ELSE 0 END AS dpf,
  CASE WHEN coalesce(ptot, 0) > 0 THEN coalesce(pdup, 0) * 1.0 / ptot
       ELSE 0 END AS dpcf
  FROM d2)
SELECT doc_id, CAST(nl AS INT) AS n_lines,
  ROUND(dlf, 6) AS dup_line_frac,
  ROUND(dlcf, 6) AS dup_line_char_frac,
  CAST(npar AS INT) AS n_paras,
  ROUND(dpf, 6) AS dup_para_frac,
  ROUND(dpcf, 6) AS dup_para_char_frac,
  CAST(CASE WHEN dlf <= 0.30 AND dlcf <= 0.20
             AND dpf <= 0.30 AND dpcf <= 0.20
            THEN 1 ELSE 0 END AS INT) AS keep_doc
FROM f ORDER BY doc_id
"""


def q_bleu(spark, sf_dir):
    """Sentence BLEU (evaluate.bleu_n, Papineni et al. 2002): candidate
    = the doc's first two-thirds of words plus an out-of-vocabulary
    token, so every order's clipped precision and the brevity penalty
    are all exercised.  Single-scan side/order-tagged explode + two-level
    aggregate — same shape as ROUGE."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.evaluate import (
        bleu_n,
    )

    d = _t(spark, sf_dir, "documents")
    w = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    k2 = F.floor(F.lit(2) * F.size(w) / F.lit(3)).cast("int")
    pairs = d.select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("expected"),
        F.concat(
            F.array_join(F.slice(w, 1, k2), " "), F.lit(" zzz")
        ).alias("actual"),
    )
    return _ordered(
        bleu_n(pairs, "doc_id", "expected", "actual", max_n=4), "doc_id"
    )


Q_BLEU_SQL = """
WITH p AS (
  SELECT doc_id,
         string_split(coalesce(text, ''), ' ') AS te,
         string_split(array_to_string(
            list_slice(string_split(coalesce(text, ''), ' '), 1,
              (2 * len(string_split(coalesce(text, ''), ' '))) // 3), ' ')
            || ' zzz', ' ') AS ta
  FROM documents
),
g AS (
  SELECT doc_id, n, gg AS g, 1 AS e, 0 AS a FROM p,
    UNNEST(range(1, 5)) AS o(n),
    UNNEST(CASE WHEN len(te) >= n THEN list_transform(
        range(1, len(te) - n + 2),
        i -> array_to_string(te[i:i + n - 1], ' ')) ELSE [] END) AS t(gg)
  UNION ALL
  SELECT doc_id, n, gg AS g, 0 AS e, 1 AS a FROM p,
    UNNEST(range(1, 5)) AS o(n),
    UNNEST(CASE WHEN len(ta) >= n THEN list_transform(
        range(1, len(ta) - n + 2),
        i -> array_to_string(ta[i:i + n - 1], ' ')) ELSE [] END) AS t(gg)
),
lens AS (SELECT doc_id, len(te) AS lr, len(ta) AS lc FROM p),
per_gram AS (
  SELECT doc_id, n, g, SUM(e) AS c_e, SUM(a) AS c_a
  FROM g GROUP BY doc_id, n, g
),
per_n AS (
  SELECT doc_id, n, SUM(LEAST(c_e, c_a)) AS ov, SUM(c_a) AS na
  FROM per_gram GROUP BY doc_id, n
),
agg AS (
  SELECT doc_id,
         SUM(CASE WHEN na > 0 AND ov > 0 THEN ln(ov * 1.0 / na) END)
           AS logsum,
         SUM(CASE WHEN na > 0 AND ov > 0 THEN 1 ELSE 0 END) AS ok
  FROM per_n GROUP BY doc_id
)
SELECT l.doc_id,
       CAST(l.lr AS BIGINT) AS len_ref,
       CAST(l.lc AS BIGINT) AS len_cand,
       ROUND(
         (CASE WHEN coalesce(ok, 0) >= LEAST(l.lc, 4) AND LEAST(l.lc, 4) > 0
               THEN exp(logsum / LEAST(l.lc, 4)) ELSE 0 END)
         * (CASE WHEN l.lc >= l.lr THEN 1.0
                 WHEN l.lc > 0 THEN exp(1.0 - l.lr * 1.0 / l.lc)
                 ELSE 0 END), 6) AS bleu
FROM lens l LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""


def q_chrf(spark, sf_dir):
    """chrF (evaluate.chrf_score, Popović 2015): character n-gram
    F-score, β=2, orders 1-6 over whitespace-stripped text.  Same
    candidate construction as q_bleu (first two-thirds of words plus an
    out-of-vocabulary token) so clipping, partial orders, and the
    zero-denominator guards are all exercised.  Single-scan side/order-
    tagged explode + two-level aggregate — text never shuffles."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.evaluate import (
        chrf_score,
    )

    d = _t(spark, sf_dir, "documents")
    w = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    k2 = F.floor(F.lit(2) * F.size(w) / F.lit(3)).cast("int")
    pairs = d.select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("expected"),
        F.concat(
            F.array_join(F.slice(w, 1, k2), " "), F.lit(" zzz")
        ).alias("actual"),
    )
    return _ordered(
        chrf_score(pairs, "doc_id", "expected", "actual", max_n=6), "doc_id"
    )


Q_CHRF_SQL = r"""
WITH p AS (
  SELECT doc_id,
         regexp_replace(coalesce(text, ''), '\s+', '', 'g') AS se,
         regexp_replace(
           array_to_string(
             list_slice(string_split(coalesce(text, ''), ' '), 1,
               (2 * len(string_split(coalesce(text, ''), ' '))) // 3), ' ')
           || ' zzz', '\s+', '', 'g') AS sa
  FROM documents
),
g AS (
  SELECT doc_id, n, gg AS g, 1 AS e, 0 AS a FROM p,
    UNNEST(range(1, 7)) AS o(n),
    UNNEST(CASE WHEN length(se) >= n THEN list_transform(
        range(1, length(se) - n + 2), i -> substr(se, i, n))
      ELSE [] END) AS t(gg)
  UNION ALL
  SELECT doc_id, n, gg AS g, 0 AS e, 1 AS a FROM p,
    UNNEST(range(1, 7)) AS o(n),
    UNNEST(CASE WHEN length(sa) >= n THEN list_transform(
        range(1, length(sa) - n + 2), i -> substr(sa, i, n))
      ELSE [] END) AS t(gg)
),
lens AS (SELECT doc_id, length(se) AS lr, length(sa) AS lc FROM p),
per_gram AS (
  SELECT doc_id, n, g, SUM(e) AS c_e, SUM(a) AS c_a
  FROM g GROUP BY doc_id, n, g
),
per_n AS (
  SELECT doc_id, n, SUM(LEAST(c_e, c_a)) AS ov,
         SUM(c_e) AS nr, SUM(c_a) AS nc
  FROM per_gram GROUP BY doc_id, n
),
fn AS (
  SELECT doc_id,
         CASE WHEN 4.0 * (CASE WHEN nc > 0 THEN ov * 1.0 / nc ELSE 0.0 END)
                   + (CASE WHEN nr > 0 THEN ov * 1.0 / nr ELSE 0.0 END) > 0
              THEN 5.0 * (CASE WHEN nc > 0 THEN ov * 1.0 / nc ELSE 0.0 END)
                       * (CASE WHEN nr > 0 THEN ov * 1.0 / nr ELSE 0.0 END)
                   / (4.0 * (CASE WHEN nc > 0 THEN ov * 1.0 / nc ELSE 0.0 END)
                      + (CASE WHEN nr > 0 THEN ov * 1.0 / nr ELSE 0.0 END))
              ELSE 0.0 END AS f
  FROM per_n
),
agg AS (SELECT doc_id, SUM(f) AS fsum, COUNT(*) AS neff FROM fn GROUP BY doc_id)
SELECT l.doc_id,
       CAST(l.lr AS BIGINT) AS len_ref,
       CAST(l.lc AS BIGINT) AS len_cand,
       CASE WHEN coalesce(neff, 0) > 0 THEN ROUND(fsum / neff, 6)
            ELSE 0.0 END AS chrf
FROM lens l LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""



def q_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per document
    (curation.char_entropy_stats): the classic gibberish / degenerate-
    page quality signal.  Zero exchanges — counting runs in higher-order
    transforms over the char array with a SORTED distinct alphabet so
    the IEEE summation order matches the DuckDB oracle exactly."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        char_entropy_stats,
    )

    d = _t(spark, sf_dir, "documents")
    return char_entropy_stats(d, "doc_id", "text").transform(_by("doc_id"))


Q_CHAR_ENTROPY_SQL = """
WITH p AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
s AS (SELECT doc_id,
  list_filter(str_split(t, ''), x -> x <> '') AS cs FROM p),
m AS (SELECT doc_id, cs, list_sort(list_distinct(cs)) AS dc,
             len(cs) AS n FROM s),
e AS (SELECT doc_id, n, len(dc) AS nd,
  0.0 - list_sum(list_transform(dc, d ->
     (len(list_filter(cs, x -> x = d)) * 1.0 / n)
     * log2(len(list_filter(cs, x -> x = d)) * 1.0 / n))) AS ent
  FROM m)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
  CAST(coalesce(nd, 0) AS BIGINT) AS n_distinct,
  ROUND(CASE WHEN n > 0 THEN ent ELSE 0.0 END, 6) AS entropy_bits,
  CAST(CASE WHEN n > 0 AND ent >= 2.0 THEN 1 ELSE 0 END AS INT) AS keep_doc
FROM e ORDER BY doc_id
"""



def q_bm25(spark, sf_dir):
    """Okapi BM25 relevance (curation.bm25_scores) of every document
    against the fixed query {spark, query, merge}: the retrieval-based
    corpus-selection primitive.  The query-term filter lands before any
    aggregation (the token stream shrinks at the scan), per-term df
    broadcasts back, and N/avgdl ride one broadcast metadata row."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        bm25_scores,
    )

    d = _t(spark, sf_dir, "documents")
    return bm25_scores(
        d, "doc_id", "text", ["spark", "query", "merge"]
    ).transform(_by("doc_id"))


Q_BM25_SQL = """
WITH tl AS (SELECT doc_id,
  list_filter(str_split(coalesce(text, ''), ' '), x -> x <> '') AS ts
  FROM documents),
dls AS (SELECT doc_id, len(ts) AS dl FROM tl),
stats AS (SELECT COUNT(*) AS n,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dls),
hits AS (
  SELECT tl.doc_id, dls.dl, t.term
  FROM tl JOIN dls USING (doc_id), UNNEST(tl.ts) AS t(term)
  WHERE t.term IN ('spark', 'query', 'merge')
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
       FROM hits GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
c AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)) AS contrib
  FROM tf JOIN dfreq USING (term), stats
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       ROUND(SUM(contrib), 6) AS bm25
FROM c GROUP BY doc_id ORDER BY doc_id
"""



def q_doc_scalar_suite(spark, sf_dir):
    """Composite certification query bundling the five single-expression
    documents-table scalar operators into ONE driver row (VERDICT r3 #1
    registry-budget fix — the driver certifies 50 queries per round, so
    micro-queries share a row): S2 payload-kind sniff (q_payload_kind),
    P11 boolean normalization (q_bool_normalize), whitespace + BPE-ish
    token counts (q_doc_bpe_tokens), Rabin-Karp rolling hash
    (q_doc_rolling_hash), and deterministic md5 hash sampling
    (q_sample_hash).  The individual registry entries remain, certified
    by the repo's full-registry DuckDB sweep at sf0.01 and sf0.1."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        bpe_ish_token_count,
        rolling_hash,
        token_count,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.transforms import (
        bool_normalize,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    t = F.col("text")
    kind = (
        F.when(
            t.startswith("{") & t.contains('"Blocks"'), F.lit("ocr_json")
        )
        .when(t.rlike("<(html|p|div|nav)[ >]"), F.lit("html"))
        .when(t.rlike("(?m)^\\[(H1|H2|P|TR|PB)\\]"), F.lit("pdfish"))
        .when(F.trim(t) == F.lit(""), F.lit("empty"))
        .otherwise(F.lit("plain"))
    )
    raw = F.element_at(
        F.array(
            F.lit("TRUE"), F.lit("no"), F.lit(" 1 "), F.lit("off"), F.lit("maybe")
        ),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("s42"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long") % 100
    return d.select(
        "doc_id",
        kind.alias("payload_kind"),
        raw.alias("raw"),
        F.coalesce(bool_normalize(raw).cast("string"), F.lit("null")).alias("b"),
        token_count(t).alias("ws_tokens"),
        bpe_ish_token_count(t).alias("bpe_tokens"),
        rolling_hash(t, 64).alias("rhash"),
        (bucket < F.lit(20)).cast("int").alias("sampled"),
    ).transform(_by("doc_id"))


Q_DOC_SCALAR_SUITE_SQL = """
WITH p AS (SELECT doc_id, coalesce(text, '') AS text,
  (['TRUE','no',' 1 ','off','maybe'])[CAST(doc_id % 5 + 1 AS INT)] AS raw
  FROM documents)
SELECT doc_id,
  CASE WHEN starts_with(text, '{') AND contains(text, '"Blocks"')
         THEN 'ocr_json'
       WHEN regexp_matches(text, '<(html|p|div|nav)[ >]') THEN 'html'
       WHEN regexp_matches(text, '(?m)^\\[(H1|H2|P|TR|PB)\\]') THEN 'pdfish'
       WHEN trim(text) = '' THEN 'empty'
       ELSE 'plain' END AS payload_kind,
  raw,
  coalesce(CAST(
    CASE WHEN lower(trim(raw)) IN ('true','1','yes','on','y','t') THEN TRUE
         WHEN lower(trim(raw)) IN ('false','0','no','off','n','f') THEN FALSE
         ELSE NULL END AS VARCHAR), 'null') AS b,
  len(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS ws_tokens,
  len(regexp_extract_all(text,
      '[a-zA-Z]+(?:''[a-z]+)?|[0-9]+|[^a-zA-Z0-9 \\t\\n\\r]')) AS bpe_tokens,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(
        list_filter(str_split(substr(text, 1, 64), ''), c -> c <> ''),
        c -> CAST(unicode(c) AS BIGINT))),
    (acc, code) -> (acc * 131 + code) % 1000000007) AS rhash,
  CAST(CASE WHEN CAST(('0x' || substr(md5('s42' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 20
       THEN 1 ELSE 0 END AS INT) AS sampled
FROM p ORDER BY doc_id
"""


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (dedup.cdc_chunks, LBFS/FastCDC
    semantics): k-gram-hash-triggered boundaries + offset/fingerprint
    chunk rows, one codegen stage before the explode.  Certified with
    min_len=1 (every triggered boundary kept) because the greedy
    min-length fold has no pure-SQL form — the fold itself is pinned by
    the pytest tiling/shift-resistance invariants (test_dup_spans)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        cdc_chunks,
    )

    d = _t(spark, sf_dir, "documents")
    return cdc_chunks(d, "doc_id", "text", k=5, mask=63, min_len=1).transform(
        _by("doc_id", "chunk_idx")
    )


Q_CDC_CHUNKS_SQL = """
WITH p AS (SELECT doc_id, coalesce(text, '') AS t,
                  length(coalesce(text, '')) AS n FROM documents),
h AS (SELECT doc_id, t, n,
  CASE WHEN n - 4 >= 1 THEN list_transform(range(1, n - 4 + 1),
        i -> CAST(('0x' || substr(md5(substr(t, i, 5)), 1, 8)) AS BIGINT))
       ELSE [] END AS hs
  FROM p),
c AS (SELECT doc_id, t, n,
  list_filter(list_transform(hs,
      (x, i) -> CASE WHEN x % 64 = 0 THEN i + 4 ELSE -1 END),
      v -> v > 0) AS cand
  FROM h),
b AS (SELECT doc_id, t, n, list_prepend(0, cand) AS kept FROM c),
bb AS (SELECT doc_id, t, n,
  CASE WHEN kept[-1] < n THEN list_append(kept, n) ELSE kept END AS bounds
  FROM b),
sp AS (SELECT doc_id, t, r.idx - 1 AS chunk_idx, r.st AS start,
       coalesce(bounds[r.idx + 1], n) - r.st AS chunk_len
  FROM bb, UNNEST(list_transform(bounds,
       (x, i) -> struct_pack(idx := i, st := x))) AS u(r))
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(start AS INT) AS start, CAST(chunk_len AS INT) AS chunk_len,
       md5(substr(t, start + 1, chunk_len)) AS chunk_fp
FROM sp WHERE chunk_len > 0 ORDER BY doc_id, chunk_idx
"""


def q_evaluate_rouge(spark, sf_dir):
    """ROUGE-2 overlap (evaluate.rouge_n, Lin 2004): expected = the doc
    text, actual = its first two-thirds of words — clipped bigram counts
    via ONE two-level aggregate (no self-join); text never shuffles."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.evaluate import (
        rouge_n,
    )

    d = _t(spark, sf_dir, "documents")
    w = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    k2 = F.floor(F.lit(2) * F.size(w) / F.lit(3)).cast("int")
    pairs = d.select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("expected"),
        F.array_join(F.slice(w, 1, k2), " ").alias("actual"),
    )
    return _ordered(
        rouge_n(pairs, "doc_id", "expected", "actual", n=2), "doc_id"
    )


Q_EVALUATE_ROUGE_SQL = """
WITH p AS (
  SELECT doc_id,
         string_split(coalesce(text, ''), ' ') AS te,
         list_slice(string_split(coalesce(text, ''), ' '), 1,
                    (2 * len(string_split(coalesce(text, ''), ' '))) // 3)
           AS ta
  FROM documents
),
ge AS (SELECT doc_id, UNNEST(list_transform(range(1, len(te)),
              i -> te[i] || ' ' || te[i + 1])) AS g FROM p),
ga AS (SELECT doc_id, UNNEST(list_transform(range(1, len(ta)),
              i -> ta[i] || ' ' || ta[i + 1])) AS g FROM p),
cnt AS (
  SELECT doc_id, g,
         SUM(CASE side WHEN 'e' THEN 1 ELSE 0 END) AS c_e,
         SUM(CASE side WHEN 'a' THEN 1 ELSE 0 END) AS c_a
  FROM (SELECT doc_id, 'e' AS side, g FROM ge
        UNION ALL SELECT doc_id, 'a' AS side, g FROM ga)
  GROUP BY doc_id, g
),
agg AS (
  SELECT doc_id, SUM(c_e) AS n_e, SUM(c_a) AS n_a,
         SUM(LEAST(c_e, c_a)) AS n_o
  FROM cnt GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_e, 0) AS BIGINT) AS n_expected,
       CAST(coalesce(n_a, 0) AS BIGINT) AS n_actual,
       CAST(coalesce(n_o, 0) AS BIGINT) AS n_overlap,
       ROUND(CASE WHEN coalesce(n_e, 0) > 0 THEN n_o / n_e ELSE 0 END, 6)
         AS rouge_recall,
       ROUND(CASE WHEN coalesce(n_a, 0) > 0 THEN n_o / n_a ELSE 0 END, 6)
         AS rouge_precision,
       ROUND(CASE WHEN coalesce(n_e, 0) > 0 AND coalesce(n_a, 0) > 0
                       AND (n_o / n_e + n_o / n_a) > 0
                  THEN 2.0 * (n_o / n_e) * (n_o / n_a)
                       / (n_o / n_e + n_o / n_a)
                  ELSE 0 END, 6) AS rouge_f1
FROM documents d LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""


def q_quality_classifier(spark, sf_dir):
    """Classifier-based quality filtering (curation.quality_classifier_scores,
    GPT-3/PaLM-style linear classifier over hashed n-gram features):
    deterministic weight table w(b) = (b % 97)/97 - 0.5, bias 0.1 — a
    fixed 4096-row broadcast join onto the slim gram stream; the corpus
    text never shuffles."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        quality_classifier_scores,
    )

    d = _t(spark, sf_dir, "documents")
    weights = {b: (b % 97) / 97.0 - 0.5 for b in range(4096)}
    return _ordered(
        quality_classifier_scores(
            d, "doc_id", "text", weights, bias=0.1, n_buckets=4096
        ),
        "doc_id",
    )


Q_QUALITY_CLASSIFIER_SQL = """
WITH w AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS t FROM documents
),
uni AS (SELECT doc_id, UNNEST(t) AS g FROM w),
bi AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS g
  FROM w WHERE len(t) >= 2
),
g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
gb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS b
  FROM g
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       ROUND(0.1 + SUM((b % 97) / 97.0 - 0.5), 6) AS logit,
       ROUND(1.0 / (1.0 + exp(-(0.1 + SUM((b % 97) / 97.0 - 0.5)))), 6)
         AS score
FROM gb GROUP BY doc_id ORDER BY doc_id
"""


def q_line_filter(spark, sf_dir):
    """Line-wise boilerplate corrections (curation.line_corrections,
    RefinedWeb arXiv:2306.01116): deterministic synthetic pages — a real
    content line plus an ALL-CAPS nav row, a copyright tail, a
    digits-only row, a cookie banner, and a too-short line — filtered by
    the four line rules inside ONE codegen stage (higher-order filter
    over the split array; zero exchanges before the terminal sort)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        line_corrections,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat_ws(
        "\n",
        F.coalesce(F.col("text"), F.lit("")),
        F.concat(F.lit("HOME | ABOUT | SECTION "), (did % 5).cast("string")),
        F.concat(
            F.lit("Copyright 2024 All Rights Reserved No "),
            did.cast("string"),
        ),
        F.concat(F.lit("12, 34/5 ("), (did % 9).cast("string"), F.lit(")")),
        F.concat(F.lit("We use cookies here id "), did.cast("string")),
        F.concat(F.lit("go "), (did % 2).cast("string")),
        F.concat(
            F.lit("Second real sentence with id "),
            did.cast("string"),
            F.lit(" follows naturally"),
        ),
    )
    d = d.select("doc_id", t.alias("t"))
    return line_corrections(d, "doc_id", "t").transform(_by("doc_id"))


Q_LINE_FILTER_SQL = """
WITH p AS (SELECT doc_id,
  coalesce(text,'') || chr(10) ||
  'HOME | ABOUT | SECTION ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
  'Copyright 2024 All Rights Reserved No ' || CAST(doc_id AS VARCHAR)
  || chr(10) ||
  '12, 34/5 (' || CAST(doc_id % 9 AS VARCHAR) || ')' || chr(10) ||
  'We use cookies here id ' || CAST(doc_id AS VARCHAR) || chr(10) ||
  'go ' || CAST(doc_id % 2 AS VARCHAR) || chr(10) ||
  'Second real sentence with id ' || CAST(doc_id AS VARCHAR)
  || ' follows naturally' AS t
  FROM documents),
s AS (SELECT doc_id, str_split(t, chr(10)) AS lines FROM p),
k AS (SELECT doc_id, lines, list_filter(lines, x ->
        len(regexp_extract_all(x, '[A-Za-z0-9]+')) >= 3
        AND NOT (upper(x) = x AND regexp_matches(x, '[A-Za-z]'))
        AND NOT regexp_matches(x, '^[0-9 .,/()-]*$')
        AND NOT regexp_matches(lower(x),
                               'cookies?|javascript|all rights reserved')
      ) AS kept FROM s)
SELECT doc_id, CAST(len(lines) AS INT) AS n_lines,
       CAST(len(kept) AS INT) AS n_kept,
       array_to_string(kept, chr(10)) AS clean_text
FROM k ORDER BY doc_id
"""


def q_url_dedup(spark, sf_dir):
    """URL canonicalization + host-level dedup ledger
    (curation.canonical_url / url_dedup_stats): deterministic messy URLs
    (mixed-case scheme+host, www., default ports, utm_*/fbclid tracking
    params, fragments) collapse onto their canonical form; the groupBy
    shuffles only the canonical key.  Pure regexp chain — zero UDFs."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        url_dedup_stats,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    u1 = F.concat(
        F.lit("HTTPS://WWW.Site"),
        (did % 5).cast("string"),
        F.lit(".Example.COM:443/Path/"),
        (did % 20).cast("string"),
        F.lit("/?utm_source=x&utm_campaign=c"),
        (did % 3).cast("string"),
        F.lit("&ref=keep#frag"),
        did.cast("string"),
    )
    u2 = F.concat(
        F.lit("http://cdn"),
        (did % 3).cast("string"),
        F.lit(".example.org:80/Asset/"),
        (did % 10).cast("string"),
        F.lit("?fbclid=f"),
        did.cast("string"),
    )
    urls = d.select("doc_id", F.explode(F.array(u1, u2)).alias("url"))
    return url_dedup_stats(urls, "doc_id", "url").transform(_by("canon_url"))


Q_URL_DEDUP_SQL = """
WITH p AS (SELECT doc_id, u FROM (SELECT doc_id,
  ['HTTPS://WWW.Site' || CAST(doc_id % 5 AS VARCHAR)
     || '.Example.COM:443/Path/' || CAST(doc_id % 20 AS VARCHAR)
     || '/?utm_source=x&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR)
     || '&ref=keep#frag' || CAST(doc_id AS VARCHAR),
   'http://cdn' || CAST(doc_id % 3 AS VARCHAR) || '.example.org:80/Asset/'
     || CAST(doc_id % 10 AS VARCHAR) || '?fbclid=f'
     || CAST(doc_id AS VARCHAR)] AS us
  FROM documents), UNNEST(us) AS t(u)),
c1 AS (SELECT doc_id, regexp_replace(u, '#.*$', '', 'g') AS u FROM p),
c2 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(u,
        '&(utm_[a-z]+|fbclid|gclid)=[^&]*', '', 'g'),
        '[?](utm_[a-z]+|fbclid|gclid)=[^&]*&', '?', 'g'),
        '[?](utm_[a-z]+|fbclid|gclid)=[^&]*$', '', 'g') AS u FROM c1),
h AS (SELECT doc_id, u,
        regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)
          AS head FROM c2),
parts AS (SELECT doc_id,
    regexp_replace(lower(head), '^(http://|https://)www[.]', '\\1', 'g')
      AS h2,
    substr(u, length(head) + 1) AS tail FROM h),
canon AS (SELECT doc_id,
   (CASE WHEN h2 LIKE 'http://%' THEN regexp_replace(h2, ':80$', '')
         WHEN h2 LIKE 'https://%' THEN regexp_replace(h2, ':443$', '')
         ELSE h2 END) || regexp_replace(tail, '[/?]$', '') AS canon_url
   FROM parts)
SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM canon GROUP BY canon_url ORDER BY canon_url
"""


def q_soft_dedup(spark, sf_dir):
    """SoftDeDup reweighting (curation.soft_dedup_weights, He et al. 2024
    arXiv:2407.06654): documents mapped onto 97 deterministic duplicate
    classes get weight 1/n_dups instead of deletion — one window over the
    md5 fingerprint (cannot skew), no join-back, text never shuffles."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        soft_dedup_weights,
    )

    d = _t(spark, sf_dir, "documents")
    t = F.concat(
        F.lit("sample body "),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(" end"),
    )
    d = d.select("doc_id", t.alias("t"))
    return soft_dedup_weights(d, "doc_id", "t").transform(_by("doc_id"))


Q_SOFT_DEDUP_SQL = """
WITH p AS (SELECT doc_id,
  'sample body ' || CAST(doc_id % 97 AS VARCHAR) || ' end' AS t
  FROM documents),
f AS (SELECT doc_id,
  md5(lower(trim(regexp_replace(regexp_replace(coalesce(t,''),
      '[^a-zA-Z0-9_ \\t\\n\\r]', '', 'g'), '[ \\t\\n\\r]+', ' ', 'g'))))
    AS fp
  FROM p),
w AS (SELECT doc_id, fp,
        COUNT(*) OVER (PARTITION BY fp) AS n_dups FROM f)
SELECT doc_id, fp, CAST(n_dups AS BIGINT) AS n_dups,
       ROUND(1.0 / n_dups, 6) AS weight
FROM w ORDER BY doc_id
"""


def q_inverted_index(spark, sf_dir):
    """Positional inverted index over the documents corpus
    (operators/corpus.py positional_index): one row per (term, doc) with
    term frequency, per-term document frequency, and the sorted 0-based
    token positions as a CSV string.  Tokens shorter than 3 chars are
    dropped INSIDE the explode lambda — the stopword-class terms whose
    posting lists dominate a web-scale index never generate rows.  Plan:
    one explode, ONE groupBy on the compound (term, doc) key (map-side
    combine; no reducer ever builds a hot term's full posting list), and
    a term-partitioned window for df whose exchange is the by-term
    clustering a sharded posting write wants."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        positional_index,
    )

    d = _t(spark, sf_dir, "documents")
    return positional_index(d, "doc_id", "text", min_token_len=3).transform(
        _by("term", "doc_id")
    )


Q_INVERTED_INDEX_SQL = f"""
WITH nm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
arr AS (SELECT doc_id, list_filter(str_split(nt, ' '), t -> t <> '') AS w
        FROM nm),
toks AS (
  SELECT doc_id, i - 1 AS pos, w[i] AS term
  FROM arr, UNNEST(range(1, len(w) + 1)) AS t(i)
  WHERE length(w[i]) >= 3
),
postings AS (
  SELECT term, doc_id, COUNT(*) AS tf,
         string_agg(pos::VARCHAR, ',' ORDER BY pos) AS positions
  FROM toks GROUP BY term, doc_id
)
SELECT term, doc_id, CAST(tf AS BIGINT) AS tf,
       CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df,
       positions
FROM postings ORDER BY term, doc_id
"""


def q_collocations(spark, sf_dir):
    """Top-50 adjacent-bigram collocations by PMI (operators/corpus.py
    collocations): bigrams straight off the per-doc token array via
    zip_with(slice, slice) — no self-join, no window over exploded rows;
    unigram counts broadcast to the bigram side; the corpus token count
    is a deliberate scalar literal (one metadata-sized sum job).  The
    final top-k plans TakeOrderedAndProject, never a global sort."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        collocations,
    )

    d = _t(spark, sf_dir, "documents")
    return collocations(d, "doc_id", "text", min_count=5, top_k=50)


Q_COLLOCATIONS_SQL = f"""
WITH nm AS (SELECT {_NORM_SQL} AS nt FROM documents),
arr AS (SELECT list_filter(str_split(nt, ' '), t -> t <> '') AS w FROM nm),
n AS (SELECT SUM(len(w)) AS n_tokens FROM arr),
bi AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM arr, UNNEST(range(1, len(w))) AS t(i)
  WHERE len(w) >= 2
),
pair AS (SELECT w1, w2, COUNT(*) AS pair_count FROM bi
         GROUP BY w1, w2 HAVING COUNT(*) >= 5),
uni AS (SELECT u.tok AS w, COUNT(*) AS c
        FROM arr, UNNEST(w) AS u(tok) GROUP BY u.tok),
scored AS (
  SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count,
         CAST(u1.c AS BIGINT) AS left_count,
         CAST(u2.c AS BIGINT) AS right_count,
         ROUND(ln(pair_count * CAST((SELECT n_tokens FROM n) AS DOUBLE)
                  / (u1.c * u2.c)), 6) AS pmi
  FROM pair JOIN uni u1 ON pair.w1 = u1.w JOIN uni u2 ON pair.w2 = u2.w
)
SELECT w1, w2, pair_count, left_count, right_count, pmi
FROM scored ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 50
"""


def q_containment(spark, sf_dir):
    """Doc-inside-doc detection by k-gram set containment
    (dedup.containment_pairs, Broder 1997's companion measure to
    resemblance): pairs whose smaller shingle set is >= 0.6 contained in
    the larger.  Same inverted-index equi-join + hot-shingle df-cap as
    ngram-Jaccard, but deliberately NO size-ratio prune — asymmetric
    (short-quoted-in-long) pairs are exactly the target."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        containment_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    return containment_pairs(
        d, "doc_id", "text", k=3, tau=0.6, df_cap=64
    ).transform(_by("id_a", "id_b"))


Q_CONTAINMENT_SQL = f"""
WITH nm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
w AS (SELECT doc_id, str_split(t, ' ') AS w FROM nm),
g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
      FROM w, UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)),
hot AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) > 64),
gc AS (SELECT g.* FROM g ANTI JOIN hot USING (g)),
c AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
i AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS nc
      FROM gc a JOIN gc b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
cont AS (
  SELECT ia AS id_a, ib AS id_b, CAST(nc AS BIGINT) AS n_common,
         CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
         ROUND(CAST(nc AS DOUBLE) / least(ca.n, cb.n), 6) AS containment
  FROM i JOIN c ca ON ia = ca.doc_id JOIN c cb ON ib = cb.doc_id
)
SELECT * FROM cont WHERE containment >= 0.6 ORDER BY id_a, id_b
"""


def q_zorder(spark, sf_dir):
    """Z-order (Morton) clustering audit over events
    (operators/layout.py zorder_key): interleave 8 bits of
    (user_id mod 256, epoch-second mod 256) into one long — the
    lakehouse OPTIMIZE-ZORDER key — and prove multi-dimensional
    locality by aggregating per 8-bit z-prefix: every prefix bucket's
    (u, s) ranges span <= 16x16 of the 256x256 key space, which is what
    makes min/max file pruning work on BOTH dimensions after a sort by
    the single key.  Pure integer Catalyst expression (shift/and/or —
    zero FP, zero Python), one aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.layout import (
        quantize_mod,
        zorder_key,
    )

    e = _t(spark, sf_dir, "events")
    u = quantize_mod(F.col("user_id"), 256)
    s = quantize_mod(F.unix_timestamp(F.col("ts")), 256)
    d = e.select(u.alias("u"), s.alias("s"), zorder_key([u, s], 8).alias("zkey"))
    return (
        d.groupBy(F.shiftright(F.col("zkey"), 8).alias("zprefix"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("u").alias("u_min"),
            F.max("u").alias("u_max"),
            F.min("s").alias("s_min"),
            F.max("s").alias("s_max"),
        )
        .transform(_by("zprefix"))
    )


def _z_sql(dims: list, bits: int) -> str:
    """DuckDB twin of layout.zorder_key — identical bit placement."""
    n = len(dims)
    return " | ".join(
        f"((({d} >> {b}) & 1) << {b * n + i})"
        for i, d in enumerate(dims)
        for b in range(bits)
    )


Q_ZORDER_SQL = f"""
WITH q AS (
  SELECT user_id % 256 AS u,
         CAST(floor(epoch(ts)) AS BIGINT) % 256 AS s
  FROM events
),
z AS (SELECT u, s, {_z_sql(['u', 's'], 8)} AS zkey FROM q)
SELECT zkey >> 8 AS zprefix, COUNT(*) AS n,
       MIN(u) AS u_min, MAX(u) AS u_max,
       MIN(s) AS s_min, MAX(s) AS s_max
FROM z GROUP BY 1 ORDER BY zprefix
"""


def q_funnel(spark, sf_dir):
    """Sequential view->click->purchase funnel over events
    (operators/funnel.py): per-user step times from ONE shuffle (sorted
    collect per user + a single F.aggregate fold — no k-step join
    chain), then a metadata-sized per-step rollup with conversion vs
    step 1.  The oracle computes the same first-touch semantics as a
    chain of MIN(ts > prev-step) CTEs."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.funnel import (
        funnel_conversion,
    )

    e = _t(spark, sf_dir, "events")
    return funnel_conversion(
        e, "user_id", "event_type", "ts", ["view", "click", "purchase"]
    ).transform(_by("step_idx"))


Q_FUNNEL_SQL = """
WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
t2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN t1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id),
t3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN t2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id),
n AS (SELECT (SELECT COUNT(*) FROM t1) AS n1,
             (SELECT COUNT(*) FROM t2) AS n2,
             (SELECT COUNT(*) FROM t3) AS n3)
SELECT 1 AS step_idx, 'view' AS step_name, CAST(n1 AS BIGINT) AS users,
       ROUND(n1 * 100.0 / greatest(n1, 1), 6) AS conversion_pct FROM n
UNION ALL
SELECT 2, 'click', CAST(n2 AS BIGINT),
       ROUND(n2 * 100.0 / greatest(n1, 1), 6) FROM n
UNION ALL
SELECT 3, 'purchase', CAST(n3 AS BIGINT),
       ROUND(n3 * 100.0 / greatest(n1, 1), 6) FROM n
ORDER BY step_idx
"""


def q_pagerank(spark, sf_dir):
    """PageRank centrality over the user co-activity graph
    (operators/graph.py): edges join users active in the same minute
    (hot minutes df-capped like the dedup family), then 5 fixed power
    iterations with uniform teleport, each round's ranks rounded to 9
    decimals (part of the operator contract — makes the fixed-iteration
    result engine-portable).  The iterative class of operator: one
    shuffle join + one aggregate per round, lineage truncated per round
    via localCheckpoint, dangling mass on a broadcast one-row frame.
    The oracle unrolls the identical 5 iterations as chained CTEs."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        coactivity_edges,
        pagerank,
    )

    edges = _coact(spark, sf_dir)
    pr = pagerank(edges, iterations=5, damping=0.85, round_to=9)
    return pr.select(
        F.col("node"), F.round(F.col("rank"), 6).alias("pr")
    ).transform(_by("node"))


def _pagerank_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """DuckDB twin: same edge derivation, same unrolled iterations, same
    per-round 9-decimal rounding.  The teleport and damping constants
    are injected as full-precision Python literals so both engines add
    bit-identical doubles before each round's ROUND."""
    tele = repr((1.0 - damping) / 1.0)  # per-node division stays in SQL
    d = repr(damping)
    its = []
    prev = "r0"
    for i in range(1, iterations + 1):
        its.append(f"""
r{i} AS (
  SELECT b.node, b.deg,
         ROUND(({repr(1.0 - damping)} / nn.n) + {d} * (COALESCE(c.s, 0.0) + dg.m / nn.n), 9) AS rnk
  FROM base b
  CROSS JOIN nn
  CROSS JOIN (SELECT COALESCE(SUM(CASE WHEN deg = 0 THEN rnk END), 0.0) AS m FROM {prev}) dg
  LEFT JOIN (SELECT e.dst AS node, SUM(r.rnk / r.deg) AS s
             FROM edges e JOIN {prev} r ON e.src = r.node AND r.deg > 0
             GROUP BY e.dst) c ON b.node = c.node
)""")
        prev = f"r{i}"
    assert tele  # teleport folded per-node above
    return f"""
WITH b AS (SELECT DISTINCT date_trunc('minute', ts) AS _b, user_id AS _u FROM events),
sized AS (SELECT _b, _u FROM (SELECT _b, _u, COUNT(*) OVER (PARTITION BY _b) AS _n FROM b)
          WHERE _n <= 64),
edges AS (SELECT DISTINCT l._u AS src, r._u AS dst
          FROM sized l JOIN sized r USING (_b) WHERE l._u <> r._u),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
base AS (SELECT node, COALESCE(deg, 0) AS deg FROM nodes LEFT JOIN deg ON node = src),
r0 AS (SELECT node, deg, 1.0 / nn.n AS rnk FROM base CROSS JOIN nn),
{",".join(its)}
SELECT node, ROUND(rnk, 6) AS pr FROM {prev} ORDER BY node
"""


def q_retention_cohorts(spark, sf_dir):
    """Weekly retention cohorts over events: cohort = Monday-truncated
    week of a user's first event; one row per (cohort_week, week_offset)
    with distinct active users and retention vs the cohort's own week 0
    (first_value over the cohort partition — week 0 is every cohort's
    full size by construction).  Plan shape: ONE user-keyed shuffle
    derives each user's sorted distinct-week set (collect_set — bounded
    by calendar weeks, not events), cohort = element 0, and the explode
    emits each (user, week) exactly once — so the cohort rollup is a
    plain count, no countDistinct Expand.  Two data shuffles total
    (user groupBy + cohort groupBy); the first/active-join formulation
    measured 8 exchanges, this one 4."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_set(F.date_trunc("week", F.col("ts")).cast("date"))
        ).alias("_ws")
    )
    exploded = per_user.select(
        F.col("_ws")[0].alias("_cw"), F.explode("_ws").alias("w")
    )
    cohorts = exploded.groupBy(
        F.col("_cw"),
        (F.datediff(F.col("w"), F.col("_cw")) / 7).cast("int").alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("users"))
    w0 = Window.partitionBy("_cw").orderBy("week_offset")
    return cohorts.select(
        F.date_format("_cw", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "users",
        F.round(
            F.col("users") * 100.0 / F.first("users").over(w0), 6
        ).alias("retention_pct"),
    ).transform(_by("cohort_week", "week_offset"))


Q_RETENTION_COHORTS_SQL = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
cohorts AS (
  SELECT f.cohort_week,
         CAST(datediff('day', f.cohort_week, a.w) / 7 AS INT) AS week_offset,
         COUNT(DISTINCT a.user_id) AS users
  FROM active a JOIN first f USING (user_id)
  GROUP BY 1, 2)
SELECT CAST(cohort_week AS VARCHAR) AS cohort_week, week_offset, users,
       ROUND(users * 100.0 / FIRST_VALUE(users) OVER (
         PARTITION BY cohort_week ORDER BY week_offset), 6) AS retention_pct
FROM cohorts ORDER BY cohort_week, week_offset
"""


def q_anomaly_days(spark, sf_dir):
    """Trailing-window anomaly detection over the daily event series:
    per (event_type, day) counts, then a z-score against the preceding
    7 rows (rows-frame, not range: both engines skip calendar gaps the
    same way) — |z| >= 2 flags the day.  One shuffle for the daily
    aggregate; the window repartitions by event_type (cardinality-
    bounded key, so the window state is trivially executor-resident at
    any corpus size)."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type"), F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    scored = daily.select(
        "event_type",
        "day",
        "n",
        F.avg("n").over(w).alias("_mu"),
        F.stddev_samp(F.col("n").cast("double")).over(w).alias("_sd"),
    )
    return scored.select(
        "event_type",
        "day",
        "n",
        F.round(
            F.when(
                F.col("_sd") > 0, (F.col("n") - F.col("_mu")) / F.col("_sd")
            ),
            6,
        ).alias("zscore"),
        F.when(
            F.col("_sd") > 0,
            (F.abs((F.col("n") - F.col("_mu")) / F.col("_sd")) >= 2).cast("int"),
        ).alias("is_anomaly"),
    ).transform(_by("event_type", "day"))


Q_ANOMALY_DAYS_SQL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
scored AS (
  SELECT event_type, day, n,
         AVG(n) OVER w AS mu,
         STDDEV_SAMP(CAST(n AS DOUBLE)) OVER w AS sd
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT event_type, day, n,
       ROUND(CASE WHEN sd > 0 THEN (n - mu) / sd END, 6) AS zscore,
       CASE WHEN sd > 0 THEN CAST(ABS((n - mu) / sd) >= 2 AS INT) END AS is_anomaly
FROM scored ORDER BY event_type, day
"""


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: lead() under (user_id ORDER BY ts, event_id) pairs each
    event with its successor (event_id breaks timestamp ties —
    deterministic), then one aggregate counts (prev, next) and a
    by-prev window normalizes rows to probabilities.  The sequence
    window and the pair aggregate are the only shuffles; no self-join
    (the lead() formulation is what survives 100 TB — an events-to-
    events join on adjacent row numbers would shuffle the table
    twice)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("transitions")
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "transitions",
        F.round(
            F.col("transitions") * 1.0 / F.sum("transitions").over(wp), 6
        ).alias("prob"),
    ).transform(_by("prev_type", "next_type"))


Q_EVENT_TRANSITIONS_SQL = """
WITH pairs AS (
  SELECT event_type AS prev_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events),
counts AS (
  SELECT prev_type, next_type, COUNT(*) AS transitions
  FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, transitions,
       ROUND(transitions * 1.0 / SUM(transitions) OVER (PARTITION BY prev_type), 6) AS prob
FROM counts ORDER BY prev_type, next_type
"""


def q_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics (operators/cdc.py merge_into): apply a
    deterministic CDC batch derived from the documents table itself —
    doc_id%7==0 deletes, doc_id%3==0 (and not deleted) updates the text
    to a tagged 40-char prefix, doc_id%50==0 inserts a shifted new key —
    in ONE full-outer shuffle join (upsert + delete + insert + passthrough
    in a single pass; Iceberg/Delta MERGE INTO's plan shape).  The
    oracle is the same FULL OUTER JOIN in SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.cdc import (
        merge_into,
    )

    d = _t(spark, sf_dir, "documents")
    upd_text = F.concat(F.lit("upd:"), F.substring("text", 1, 40))
    upd = d.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 7 != 0)).select(
        "doc_id",
        F.lit("upsert").alias("op"),
        upd_text.alias("text"),
        F.lit("xx").alias("lang"),
        F.col("source"),
        F.length(upd_text).cast("long").alias("n_chars"),
    )
    dele = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.lit("delete").alias("op"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("long").alias("n_chars"),
    )
    ins_text = F.concat(F.lit("new:"), F.col("source"))
    ins = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lit("upsert").alias("op"),
        ins_text.alias("text"),
        F.col("lang"),
        F.col("source"),
        F.length(ins_text).cast("long").alias("n_chars"),
    )
    changes = upd.unionAll(dele).unionAll(ins)
    merged = merge_into(d, changes, "doc_id")
    return merged.select(
        "doc_id", F.substring("text", 1, 44).alias("text_head"), "lang", "source", "n_chars"
    ).transform(_by("doc_id"))


Q_MERGE_UPSERT_SQL = """
WITH changes AS (
  SELECT doc_id, 'upsert' AS op, 'upd:' || substr(text, 1, 40) AS text,
         'xx' AS lang, source,
         CAST(length('upd:' || substr(text, 1, 40)) AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id, 'delete', NULL, NULL, NULL, NULL
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000, 'upsert', 'new:' || source, lang, source,
         CAST(length('new:' || source) AS BIGINT)
  FROM documents WHERE doc_id % 50 = 0),
merged AS (
  SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
         CASE WHEN c.op = 'upsert' THEN c.text ELSE b.text END AS text,
         CASE WHEN c.op = 'upsert' THEN c.lang ELSE b.lang END AS lang,
         CASE WHEN c.op = 'upsert' THEN c.source ELSE b.source END AS source,
         CASE WHEN c.op = 'upsert' THEN c.n_chars ELSE b.n_chars END AS n_chars
  FROM documents b FULL OUTER JOIN changes c USING (doc_id)
  WHERE c.op IS NULL OR c.op <> 'delete')
SELECT doc_id, substr(text, 1, 44) AS text_head, lang, source, n_chars
FROM merged ORDER BY doc_id
"""


def q_scd2(spark, sf_dir):
    """SCD2 historization (operators/cdc.py scd2_intervals): collapse
    each user's event_type stream into validity intervals via
    gaps-and-islands (lag-compare + cumsum run ids, min ts per run,
    lead for valid_to) — one (user ORDER BY ts, event_id) window
    partitioning, island rollup on the same key.  The oracle is the
    identical islands construction in SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.cdc import (
        scd2_intervals,
    )

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    iv = scd2_intervals(
        e, "user_id", "ts", ["event_type"], tiebreak=["event_id"]
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return iv.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format("valid_to", fmt).alias("valid_to"),
        "is_current",
    ).transform(_by("user_id", "valid_from"))


Q_SCD2_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR event_type IS DISTINCT FROM LAG(event_type) OVER w
              THEN 1 ELSE 0 END AS new_run
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT user_id, event_type,
         SUM(new_run) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS run_id, ts
  FROM marked),
islands AS (
  SELECT user_id, event_type, MIN(ts) AS valid_from
  FROM runs GROUP BY user_id, event_type, run_id)
SELECT user_id, event_type,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(LEAD(valid_from) OVER w2, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       CAST(LEAD(valid_from) OVER w2 IS NULL AS INT) AS is_current
FROM islands
WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
ORDER BY user_id, valid_from
"""


def q_revenue_rollup(spark, sf_dir):
    """Hierarchical subtotals via native ROLLUP grouping sets — the one
    classic OLAP surface the registry lacked: revenue by (region,
    nation) plus per-region subtotals and a grand total in ONE
    aggregate (Spark expands grouping sets map-side; no 3-query union,
    no re-scan per level).  grouping_id() disambiguates levels; totals
    sum as decimal(18,2) so both engines add exactly.  Dims broadcast
    onto orders — the fact table never shuffles before the rollup."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        rev.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("int").alias("lvl"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "r_name",
            "n_name",
            "lvl",
            F.col("revenue").cast("double").alias("revenue"),
            "n_orders",
        )
        .transform(_by("lvl", "r_name", "n_name"))
    )


Q_REVENUE_ROLLUP_SQL = """
SELECT r_name, n_name,
       CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS lvl,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY lvl, r_name, n_name
"""


def q_kmv_distinct(spark, sf_dir):
    """Per-event-type approximate distinct-user counts via the
    deterministic KMV sketch (operators/sketches.py kmv_distinct,
    Bar-Yossef et al. 2002): k smallest distinct md5-derived 60-bit
    hashes per group; below k the sketch is exact, above it
    ``(k-1)*2^60/(h_k+1)``.  The 100 TB point: per-group state is k
    longs riding a top-k window, not the billions-row hash set an exact
    COUNT(DISTINCT) Expand shuffles.  Deterministic hashing makes the
    estimate itself hash-certifiable — the DuckDB oracle lands on
    bit-identical doubles."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sketches import (
        kmv_distinct,
    )

    e = _t(spark, sf_dir, "events")
    return kmv_distinct(e, ["event_type"], "user_id", k=64).transform(
        _by("event_type")
    )


Q_KMV_DISTINCT_SQL = """
WITH d AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
),
r AS (SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM d)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sketch,
       ROUND(CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE 63.0 * 1152921504606846976.0
                       / (CAST(MAX(h) AS DOUBLE) + 1.0) END,
             4) AS est_distinct
FROM r WHERE rn <= 64 GROUP BY event_type ORDER BY event_type
"""


def q_kmv_overlap(spark, sf_dir):
    """Audience overlap between the click and purchase user sets WITHOUT
    a corpus join: theta-sketch composition of two deterministic KMV
    sketches (operators/sketches.py kmv_overlap) cut at
    θ = min(θ_click, θ_purchase) — below θ each sketch holds its side's
    complete hash population, so union/jaccard/intersection estimators
    are unbiased, and with deterministic md5 hashing they are exact
    functions of the input.  At sf0.01 both sides fit under k=256 (θ =
    full space → all outputs exact); at sf0.1 both sides exceed k, so
    the two sweep scales certify BOTH the exact and the estimating
    branch."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sketches import (
        kmv_overlap,
    )

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    buys = e.filter(F.col("event_type") == "purchase").select("user_id")
    return kmv_overlap(clicks, buys, "user_id", k=256)


Q_KMV_OVERLAP_SQL = """
WITH sa AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events WHERE event_type = 'click'
  ORDER BY h LIMIT 256
),
sb AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events WHERE event_type = 'purchase'
  ORDER BY h LIMIT 256
),
th AS (
  SELECT LEAST(
    (SELECT CASE WHEN COUNT(*) >= 256 THEN CAST(MAX(h) AS DOUBLE)
                 ELSE 1152921504606846976.0 END FROM sa),
    (SELECT CASE WHEN COUNT(*) >= 256 THEN CAST(MAX(h) AS DOUBLE)
                 ELSE 1152921504606846976.0 END FROM sb)) AS theta
),
m AS (
  SELECT COALESCE(a.h, b.h) AS h,
         CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END AS bth
  FROM sa a FULL OUTER JOIN sb b ON a.h = b.h
),
kept AS (SELECT m.h, m.bth, th.theta FROM m, th
         WHERE CAST(m.h AS DOUBLE) < th.theta)
SELECT CAST(COUNT(*) AS BIGINT) AS n_retained,
       ROUND(COALESCE(CAST(COUNT(*) AS DOUBLE)
                      * (1152921504606846976.0 / MAX(theta)), 0.0), 4) AS union_est,
       ROUND(CASE WHEN COUNT(*) > 0
                  THEN CAST(COALESCE(SUM(bth), 0) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                  ELSE 0.0 END, 6) AS jaccard_est,
       ROUND(COALESCE(CAST(COALESCE(SUM(bth), 0) AS DOUBLE)
                      * (1152921504606846976.0 / MAX(theta)), 0.0), 4) AS inter_est
FROM kept
"""


def q_weighted_sample(spark, sf_dir):
    """Deterministic weight-proportional corpus draw: Efraimidis-
    Spirakis (2006) exponential race with md5(seed||id)-derived uniforms
    (operators/sketches.py weighted_sample) — 50 documents weighted by
    length.  Pure function of (seed, id, weight): reproducible across
    engines, reruns, and resumes — the WHICH-documents half of the
    mixture-weights story (q_mixture_weights picks how much per domain).
    Plan: one projection + TakeOrderedAndProject; the corpus never
    shuffles."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sketches import (
        weighted_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(d, "doc_id", "n_chars", k=50, seed="es1")


Q_WEIGHTED_SAMPLE_SQL = """
SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS weight,
       ROUND(ln((CAST(('0x' || substr(md5('es1' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1.0)
                / 1152921504606846976.0)
             / CAST(n_chars AS DOUBLE), 9) AS es_key
FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
ORDER BY es_key DESC, id ASC LIMIT 50
"""


def q_triangles(spark, sf_dir):
    """Exact triangle census of the user co-activity graph
    (operators/graph.py triangle_stats, Schank-Wagner degree
    orientation): every undirected edge oriented from its (degree,
    id)-smaller endpoint, so each triangle is counted at exactly one
    vertex and the wedge self-join's per-key fan-out is the max ORIENTED
    out-degree — O(sqrt m) on any graph, the property that keeps the
    join skew-bounded at 100 TB where a raw adjacency self-join blows up
    quadratically in the hottest vertex.  One row: triangle count, wedge
    count, global clustering coefficient."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        coactivity_edges,
        triangle_stats,
    )

    edges = _coact(spark, sf_dir)
    return triangle_stats(edges)


Q_TRIANGLES_SQL = """
WITH b AS (SELECT DISTINCT date_trunc('minute', ts) AS _b, user_id AS _u FROM events),
sized AS (SELECT _b, _u FROM (SELECT _b, _u, COUNT(*) OVER (PARTITION BY _b) AS _n FROM b)
          WHERE _n <= 64),
und AS (SELECT DISTINCT LEAST(l._u, r._u) AS a, GREATEST(l._u, r._u) AS b
        FROM sized l JOIN sized r USING (_b) WHERE l._u <> r._u),
deg AS (SELECT node, COUNT(*) AS deg
        FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY node),
t AS (SELECT COUNT(*) AS n
      FROM und e1 JOIN und e2 ON e2.a = e1.b
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
w AS (SELECT COALESCE(SUM(deg * (deg - 1) / 2), 0) AS nw FROM deg)
SELECT CAST(t.n AS BIGINT) AS n_triangles,
       CAST(w.nw AS BIGINT) AS n_wedges,
       ROUND(CASE WHEN w.nw > 0 THEN 3.0 * t.n / w.nw ELSE 0.0 END, 6) AS clustering
FROM t, w
"""


def q_snm_pairs(spark, sf_dir):
    """Sorted-neighborhood near-dup candidates (dedup.py
    sorted_neighborhood_pairs, Hernández-Stolfo SNM): sort by a 24-char
    normalized-prefix key inside coarse 2-char blocks, compare each doc
    to its next 3 sort neighbors, keep pairs within 10 edits on the
    64-char prefix.  Zero joins — one shuffle on the block key, then
    lead() windows; the typo-class complement to the shingle/LSH
    family (one-char edits shift every downstream k-gram but barely
    move a record in sort order).  At sf0.01 the distance histogram is
    bimodal: true near-dups at dist<=4, unrelated neighbors at 32+."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = sorted_neighborhood_pairs(d, "doc_id", "text")
    return pairs.transform(_by("dist", "id_a", "id_b"))


Q_SNM_PAIRS_SQL = f"""
WITH nm AS (SELECT doc_id AS id, {_NORM_SQL} AS nt FROM documents),
k AS (SELECT id, substr(nt, 1, 24) AS key, substr(nt, 1, 64) AS cmp FROM nm),
lw AS (SELECT id, cmp,
        lead(id, 1) OVER w AS id1, lead(cmp, 1) OVER w AS c1,
        lead(id, 2) OVER w AS id2, lead(cmp, 2) OVER w AS c2,
        lead(id, 3) OVER w AS id3, lead(cmp, 3) OVER w AS c3
       FROM k WINDOW w AS (PARTITION BY substr(key, 1, 2) ORDER BY key, id)),
p AS (
  SELECT id AS id_a, id1 AS id_b, levenshtein(cmp, c1) AS dist
  FROM lw WHERE id1 IS NOT NULL
  UNION ALL
  SELECT id, id2, levenshtein(cmp, c2) FROM lw WHERE id2 IS NOT NULL
  UNION ALL
  SELECT id, id3, levenshtein(cmp, c3) FROM lw WHERE id3 IS NOT NULL)
SELECT id_a, id_b, CAST(dist AS INTEGER) AS dist
FROM p WHERE dist <= 10
ORDER BY dist, id_a, id_b
"""


def q_bpe_pairs(spark, sf_dir):
    """BPE merge-pair statistics (corpus.py bpe_merge_pairs, Sennrich
    2016 iteration 1): adjacent-character pair counts weighted by word
    frequency, top 30.  The corpus collapses to its zipf-tiny
    word-frequency table before any per-character work, so the explode
    is O(vocab), not O(corpus) — the property that makes tokenizer
    training at 100 TB a sequence of vocab-table jobs."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        bpe_merge_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    return bpe_merge_pairs(d, "doc_id", "text", top_k=30)


Q_BPE_PAIRS_SQL = f"""
WITH nm AS (SELECT {_NORM_SQL} AS nt FROM documents),
arr AS (SELECT list_filter(str_split(nt, ' '), t -> t <> '') AS w FROM nm),
words AS (SELECT u.tok AS term, COUNT(*) AS wc
          FROM arr, UNNEST(w) AS u(tok) GROUP BY u.tok),
p AS (SELECT substr(term, i, 1) AS c1, substr(term, i + 1, 1) AS c2,
             SUM(wc) AS pair_count
      FROM words, UNNEST(range(1, length(term))) AS t(i)
      WHERE length(term) >= 2
      GROUP BY 1, 2)
SELECT c1, c2, CAST(pair_count AS BIGINT) AS pair_count
FROM p ORDER BY pair_count DESC, c1 ASC, c2 ASC LIMIT 30
"""


def q_cms_heavy(spark, sf_dir):
    """Count-min sketch heavy-hitter estimates (sketches.cms_table /
    cms_point_estimates, Cormode & Muthukrishnan 2005): build a 4×64
    CMS over the corpus bigram-frequency table, then report the top-20
    exact bigrams with their sketch estimates — est is never below the
    true count, over by at most (e/64)·total with prob 1-e^-4.  The
    100 TB point: the sketch is 256 longs no matter the vocabulary,
    merges cell-wise (plain map-side combine / snapshot-to-snapshot
    addition), and point lookups broadcast it.  Deterministic md5
    row-salted hashing → the whole sketch is hash-certified."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        bigram_counts,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sketches import (
        cms_point_estimates,
        cms_table,
    )

    d = _t(spark, sf_dir, "documents")
    # vocab²-sized bigram table materializes once for its two consumers
    big = bigram_counts(d, "doc_id", "text").localCheckpoint(eager=False)
    top = big.orderBy(F.col("wc").desc(), F.col("term").asc()).limit(20)
    cms = cms_table(big, "term", "wc", depth=4, width=64)
    est = cms_point_estimates(cms, top.select("term"), "term", depth=4, width=64)
    out = top.join(est, "term").select(
        "term",
        F.col("wc").cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("wc")).cast("long").alias("overcount"),
    )
    return out.transform(_by("term"))


Q_CMS_HEAVY_SQL = f"""
WITH nm AS (SELECT {_NORM_SQL} AS nt FROM documents),
arr AS (SELECT list_filter(str_split(nt, ' '), t -> t <> '') AS w FROM nm),
bg AS (SELECT w[i] || ' ' || w[i + 1] AS term
       FROM arr, UNNEST(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
big AS (SELECT term, COUNT(*) AS wc FROM bg GROUP BY term),
cms AS (SELECT r,
          CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 15)
               AS BIGINT) % 64 AS bucket,
          SUM(wc) AS cnt
        FROM big, UNNEST(range(0, 4)) AS u(r) GROUP BY 1, 2),
top AS (SELECT term, wc FROM big ORDER BY wc DESC, term ASC LIMIT 20),
q AS (SELECT term, wc, r,
        CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 15)
             AS BIGINT) % 64 AS bucket
      FROM top, UNNEST(range(0, 4)) AS u(r)),
est AS (SELECT q.term, CAST(MIN(COALESCE(cms.cnt, 0)) AS BIGINT) AS cms_est
        FROM q LEFT JOIN cms ON q.r = cms.r AND q.bucket = cms.bucket
        GROUP BY q.term)
SELECT top.term, CAST(top.wc AS BIGINT) AS exact_cnt, est.cms_est,
       CAST(est.cms_est - top.wc AS BIGINT) AS overcount
FROM top JOIN est ON top.term = est.term
ORDER BY top.term
"""


def q_hll_users(spark, sf_dir):
    """Per-event-type approximate distinct users via HyperLogLog
    (sketches.hll_distinct, Flajolet et al. 2007; p=32 registers,
    deterministic 60-bit md5 hash).  KMV's complement: state is p small
    ints with register-wise MAX as the merge, so the shuffle carries at
    most p rows per group no matter how many billions of events the
    group holds (map-side partial max absorbs duplicates).  Integer
    harmonic sum + one folded float literal → bit-identical in DuckDB,
    hash-certified like q_kmv_distinct."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sketches import (
        hll_distinct,
    )

    e = _t(spark, sf_dir, "events")
    return hll_distinct(e, ["event_type"], "user_id", b=5).transform(
        _by("event_type")
    )


Q_HLL_USERS_SQL = f"""
WITH h AS (SELECT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
           FROM events),
r AS (SELECT event_type, h >> 55 AS reg,
        h & ((1::BIGINT << 55) - 1) AS rem FROM h),
rr AS (SELECT event_type, reg,
         55 - (CASE WHEN rem = 0 THEN 0 ELSE length(bin(rem)) END) + 1 AS rho
       FROM r),
regs AS (SELECT event_type, reg, MAX(rho) AS mx FROM rr GROUP BY 1, 2),
agg AS (SELECT event_type, COUNT(*) AS nreg,
          CAST(SUM(CAST(pow(2, 56 - mx) AS BIGINT)) AS BIGINT) AS isum
        FROM regs GROUP BY 1),
fin AS (SELECT event_type, nreg,
          {0.697 * 32 * 32 * float(2 ** 56)!r}
            / CAST(isum + (32 - nreg) * CAST(pow(2, 56) AS BIGINT) AS DOUBLE)
            AS e_raw,
          32 - nreg AS v
        FROM agg)
SELECT event_type, CAST(nreg AS BIGINT) AS n_registers,
       ROUND(CASE WHEN e_raw <= 80.0 AND v > 0 THEN 32.0 * ln(32.0 / v)
                  ELSE e_raw END, 4) AS est_distinct
FROM fin ORDER BY event_type
"""


def q_prefix_dedup(spark, sf_dir):
    """Conversation-tree prefix dedup (dedup.conversation_prefix_groups,
    the ShareGPT-style pattern): for every turn-label prefix up to depth
    6, the number of conversations sharing it — the table a corpus
    builder consults before double-counting shared conversation
    openings.  One shuffle on conv_id; per-conversation window state is
    capped at max_depth rows BEFORE the prefix concat, so
    mega-conversation skew cannot inflate the window."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        conversation_prefix_groups,
    )

    e = _t(spark, sf_dir, "events")
    out = conversation_prefix_groups(
        e, "user_id", ["ts", "event_id"], "event_type", max_depth=6
    )
    return out.select(
        F.col("depth").cast("int").alias("depth"), "prefix", "n_convs"
    ).transform(_by("depth", "prefix"))


Q_PREFIX_DEDUP_SQL = """
WITH h AS (SELECT user_id, ts, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS depth
           FROM events),
hd AS (SELECT * FROM h WHERE depth <= 6),
p AS (SELECT depth,
        string_agg(event_type, '>') OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
      FROM hd)
SELECT CAST(depth AS INTEGER) AS depth, prefix,
       CAST(COUNT(*) AS BIGINT) AS n_convs
FROM p GROUP BY depth, prefix HAVING COUNT(*) >= 2
ORDER BY depth, prefix
"""


def q_context_budget(spark, sf_dir):
    """Per-turn SFT context capacity (packing.context_window_stats):
    for each event, how many immediately-preceding same-conversation
    turns (and how much of their cost) fit in a 120-char context budget
    — the packing quantity a multi-turn sample builder needs.  NO
    arrays, NO self-join: the exclusive running cost sum is strictly
    increasing, so the fitting suffix is exactly a RANGE frame
    [P-120, P-1]; two windows share one conv_id shuffle, O(1) frame
    state per row (streaming-friendly)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.packing import (
        context_window_stats,
    )

    e = _t(spark, sf_dir, "events")
    out = context_window_stats(
        e,
        "user_id",
        ["ts", "event_id"],
        F.length(F.coalesce(F.col("props"), F.lit(""))),
        budget=120,
    )
    return out.select("user_id", "event_id", "n_ctx", "ctx_cost").transform(
        _by("user_id", "event_id")
    )


Q_CONTEXT_BUDGET_SQL = """
WITH b AS (SELECT user_id, event_id, ts,
             greatest(length(coalesce(props, '')), 1) AS cost
           FROM events),
p AS (SELECT *,
        SUM(cost) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) - cost AS pp
      FROM b),
f AS (SELECT user_id, event_id,
        COUNT(*) OVER w AS n_ctx,
        COALESCE(SUM(cost) OVER w, 0) AS ctx_cost
      FROM p WINDOW w AS (PARTITION BY user_id ORDER BY pp
                          RANGE BETWEEN 120 PRECEDING AND 1 PRECEDING))
SELECT user_id, event_id, CAST(n_ctx AS BIGINT) AS n_ctx,
       CAST(ctx_cost AS BIGINT) AS ctx_cost
FROM f ORDER BY user_id, event_id
"""


def q_ppjoin(spark, sf_dir):
    """Lossless prefix-filtered similarity join (dedup.
    prefix_filter_pairs, PPJoin family — Chaudhuri 2006 / Xiao 2008):
    all pairs with word-3-gram Jaccard ≥ 3/5.  The oracle is the
    PRUNE-FREE exact all-pairs Jaccard, so this certification
    mechanically proves the prefix filter loses nothing — the
    contrast to q_ngram_jaccard's df-cap, which is deliberately lossy
    on ubiquitous shingles.  All gates (prefix length, size ratio,
    final threshold) are integer arithmetic on a rational tau, so no
    float-ceil off-by-one can break the proof."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = prefix_filter_pairs(d, "doc_id", "text", k=3, tau_num=3, tau_den=5)
    return pairs.transform(_by("id_a", "id_b"))


Q_PPJOIN_SQL = f"""
WITH nm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
w AS (SELECT doc_id, str_split(t, ' ') AS w FROM nm),
g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
      FROM w, UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)),
c AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
i AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS nc
      FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT ia AS id_a, ib AS id_b,
       ROUND(CAST(nc AS DOUBLE) / (ca.n + cb.n - nc), 4) AS jaccard
FROM i JOIN c ca ON ia = ca.doc_id JOIN c cb ON ib = cb.doc_id
WHERE nc * 5 >= 3 * (ca.n + cb.n - nc)
ORDER BY id_a, id_b
"""


def q_doc_readability(spark, sf_dir):
    """Flesch reading-ease readability gate (functions/text.py
    readability_cols, Flesch 1948 / Kincaid 1975): word / sentence /
    syllable counts via three deterministic regexes (vowel-group
    syllable approximation floored at 1/word) and the classic
    206.835 - 1.015·wps - 84.6·spw score.  Pure Catalyst — three
    regexp_counts in one whole-stage-codegen projection, zero shuffle;
    the curation complement to q_doc_quality (flags legalese sludge on
    the low end, word-soup on the high end)."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        readability_cols,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    words, sents, syll, flesch = readability_cols(F.col("text"))
    return d.select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllables"),
        flesch.alias("flesch"),
    )


Q_DOC_READABILITY_SQL = """
WITH t AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
c AS (SELECT doc_id,
        len(regexp_extract_all(text, '[a-zA-Z]+')) AS words,
        greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
        len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
          + greatest(len(regexp_extract_all(text, '[a-zA-Z]+'))
              - len(regexp_extract_all(
                    text, '[a-zA-Z]*[aeiouyAEIOUY][a-zA-Z]*')), 0) AS syll
      FROM t)
SELECT doc_id,
       CAST(words AS BIGINT) AS n_words,
       CAST(sents AS BIGINT) AS n_sentences,
       CAST(syll AS BIGINT) AS n_syllables,
       ROUND(206.835
             - 1.015 * (CAST(greatest(words, 1) AS DOUBLE) / sents)
             - 84.6 * (CAST(syll AS DOUBLE) / greatest(words, 1)), 4)
         AS flesch
FROM c
"""


def q_skipgrams(spark, sf_dir):
    """Skip-gram co-occurrence PMI, window ±3 (corpus.
    skipgram_cooccurrence — the word2vec/GloVe preprocessing table).
    Pairs come off the per-doc token array via a nested flattened
    transform — ZERO self-joins (the naive formulation is a doc-keyed
    positional band join that explodes on long docs); the token array
    materializes once for its three consumers."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        skipgram_cooccurrence,
    )

    d = _t(spark, sf_dir, "documents")
    return skipgram_cooccurrence(
        d, "doc_id", "text", window=3, min_count=5, top_k=50
    )


Q_SKIPGRAMS_SQL = f"""
WITH nm AS (SELECT {_NORM_SQL} AS nt FROM documents),
arr AS (SELECT list_filter(str_split(nt, ' '), t -> t <> '') AS w FROM nm),
tot AS (SELECT SUM(len(w)) AS n FROM arr),
p AS (SELECT w[i] AS w1, w[i + d] AS w2
      FROM arr,
           UNNEST(range(1, len(w))) AS t(i),
           UNNEST(range(1, least(3, len(w) - i) + 1)) AS u(d)
      WHERE len(w) >= 2),
pc AS (SELECT w1, w2, COUNT(*) AS pair_count FROM p GROUP BY 1, 2
       HAVING COUNT(*) >= 5),
uni AS (SELECT u.tok AS w, COUNT(*) AS c
        FROM arr, UNNEST(w) AS u(tok) GROUP BY 1)
SELECT pc.w1, pc.w2, CAST(pc.pair_count AS BIGINT) AS pair_count,
       ROUND(ln(pc.pair_count * CAST(tot.n AS DOUBLE) / (c1.c * c2.c)), 6)
         AS pmi
FROM pc, tot
JOIN uni c1 ON pc.w1 = c1.w
JOIN uni c2 ON pc.w2 = c2.w
ORDER BY pmi DESC, pc.w1 ASC, pc.w2 ASC
LIMIT 50
"""


def q_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty (corpus.ngram_novelty): fraction of
    each doc's distinct 3-grams appearing in no other document — the
    memorization/uniqueness curation signal.  One gram-keyed window
    shuffle (df == 1 test) + one doc-keyed aggregate; no joins, no
    second text pass."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        ngram_novelty,
    )

    d = _t(spark, sf_dir, "documents")
    return (
        ngram_novelty(d, "doc_id", "text", k=3)
        .withColumnRenamed("id", "doc_id")
        .transform(_by("doc_id"))
    )


Q_NGRAM_NOVELTY_SQL = f"""
WITH nm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
w AS (SELECT doc_id, str_split(t, ' ') AS w FROM nm),
g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
      FROM w, UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)),
d AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS novelty
FROM g JOIN d USING (g)
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


def q_corpus_divergence(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions (corpus.source_js_divergence) — the corpus-drift /
    mixture-audit table.  Private-term mass is recovered algebraically
    (ln2·(1-Σp)) so an INNER join on the term suffices — no full-outer
    zero-fill; the corpus collapses to its vocab·sources frequency
    table before any pair work."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        source_js_divergence,
    )

    d = _t(spark, sf_dir, "documents")
    return source_js_divergence(d, "source", "text").transform(
        _by("source_a", "source_b")
    )


Q_CORPUS_DIVERGENCE_SQL = f"""
WITH nm AS (SELECT source, {_NORM_SQL} AS nt FROM documents),
tok AS (SELECT source, u.tok AS w
        FROM (SELECT source,
                list_filter(str_split(nt, ' '), t -> t <> '') AS ws
              FROM nm), UNNEST(ws) AS u(tok)),
cnt AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
tot AS (SELECT source, SUM(c) AS n FROM cnt GROUP BY 1),
pr AS (SELECT cnt.source, w, CAST(c AS DOUBLE) / n AS p
       FROM cnt JOIN tot ON cnt.source = tot.source),
sh AS (SELECT a.source AS source_a, b.source AS source_b,
         COUNT(*) AS n_shared_terms,
         SUM(a.p * ln(2.0 * a.p / (a.p + b.p))
             + b.p * ln(2.0 * b.p / (a.p + b.p))) AS s,
         SUM(a.p) AS pm, SUM(b.p) AS qm
       FROM pr a JOIN pr b ON a.w = b.w AND a.source < b.source
       GROUP BY 1, 2)
SELECT source_a, source_b, CAST(n_shared_terms AS BIGINT) AS n_shared_terms,
       ROUND(0.5 * (s + ln(2.0) * ((1.0 - pm) + (1.0 - qm))), 6) AS jsd
FROM sh ORDER BY source_a, source_b
"""


def q_local_clustering(spark, sf_dir):
    """Per-node local clustering coefficient (graph.local_clustering)
    over the minute-bucket co-activity graph — node-level companion to
    q_triangles' global coefficient (near-zero lcc at high degree is
    the broadcast-bot signature).  Same skew-bounded degree-oriented
    wedge join (fan-out ≤ max oriented out-degree, O(sqrt m)); each
    triangle explodes to its three corners and a node-keyed count joins
    the node-sized degree frame."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        coactivity_edges,
        local_clustering,
    )

    edges = _coact(spark, sf_dir)
    return local_clustering(edges).transform(_by("node"))


Q_LOCAL_CLUSTERING_SQL = """
WITH b AS (SELECT DISTINCT date_trunc('minute', ts) AS _b, user_id AS _u
           FROM events),
sized AS (SELECT _b, _u FROM (SELECT _b, _u,
            COUNT(*) OVER (PARTITION BY _b) AS _n FROM b) WHERE _n <= 64),
und AS (SELECT DISTINCT LEAST(l._u, r._u) AS a, GREATEST(l._u, r._u) AS b
        FROM sized l JOIN sized r USING (_b) WHERE l._u <> r._u),
deg AS (SELECT node, COUNT(*) AS deg
        FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY node),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1 JOIN und e2 ON e2.a = e1.b
             JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri),
pn AS (SELECT node, COUNT(*) AS n_tri FROM corners GROUP BY node)
SELECT deg.node, CAST(deg.deg AS BIGINT) AS deg,
       CAST(COALESCE(pn.n_tri, 0) AS BIGINT) AS n_tri,
       ROUND(CASE WHEN deg.deg >= 2
                  THEN 2.0 * COALESCE(pn.n_tri, 0)
                       / (CAST(deg.deg AS DOUBLE) * (deg.deg - 1.0))
                  ELSE 0.0 END, 4) AS lcc
FROM deg LEFT JOIN pn ON deg.node = pn.node
ORDER BY deg.node
"""


def q_kcore(spark, sf_dir):
    """k-core decomposition (graph.k_core, Seidman 1983) over the
    minute-bucket co-activity graph: iteratively peel every node whose
    surviving degree is < k until fixpoint — the density filter that
    exposes bot rings / citation cartels the raw degree distribution
    hides.  Bounded-round contract: BOTH engines run at most
    ``max_iters`` peel rounds (the oracle unrolls exactly that many
    chained CTEs; extra rounds past fixpoint are identity), so the
    comparison is exact even mid-cascade — at sf0.01 the k=10 peel is
    genuinely mid-cascade at round 8 (89 of 150 nodes survive), at
    sf0.1 the denser graph is its own 10-core.  Per round: one
    aggregate + two node-keyed semi-joins over a monotonically
    shrinking edge list, lineage truncated per round (the pagerank /
    connected-components discipline)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        coactivity_edges,
        k_core,
    )

    edges = _coact(spark, sf_dir)
    return k_core(edges, k=10, max_iters=8).transform(_by("node"))


def _kcore_sql(k: int = 10, rounds: int = 8) -> str:
    """Unrolled peeling oracle: e{i} = e{i-1} minus edges touching a
    node of degree < k in e{i-1}.  Exactly ``rounds`` peels — the same
    bound q_kcore passes as max_iters, so the engines agree whether or
    not the peel has reached fixpoint by then.  Every CTE is
    ``AS MATERIALIZED``: DuckDB inlines plain CTEs, and each level
    references the previous one three times, so without the hint the
    expansion is 3^rounds copies of the base graph (measured: the
    inlined form never finishes; materialized it is sub-second)."""
    peels = []
    prev = "e0"
    for i in range(1, rounds + 1):
        cur = f"e{i}"
        peels.append(
            f"d{i} AS MATERIALIZED (SELECT src FROM {prev}"
            f" GROUP BY src HAVING COUNT(*) >= {k}),\n"
            f"{cur} AS MATERIALIZED (SELECT src, dst FROM {prev}\n"
            f"  WHERE src IN (SELECT src FROM d{i})"
            f" AND dst IN (SELECT src FROM d{i}))"
        )
        prev = cur
    chain = ",\n".join(peels)
    return f"""
WITH b AS MATERIALIZED (
  SELECT DISTINCT date_trunc('minute', ts) AS _b, user_id AS _u
  FROM events),
sized AS MATERIALIZED (
  SELECT _b, _u FROM (SELECT _b, _u,
    COUNT(*) OVER (PARTITION BY _b) AS _n FROM b) WHERE _n <= 64),
e0 AS MATERIALIZED (
  SELECT DISTINCT CAST(l._u AS BIGINT) AS src, CAST(r._u AS BIGINT) AS dst
  FROM sized l JOIN sized r USING (_b) WHERE l._u <> r._u),
{chain}
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM {prev} GROUP BY src ORDER BY node
"""


def q_value_histogram(spark, sf_dir):
    """Per-event-type p50/p90/p99 from a MERGEABLE log-bucket histogram
    sketch (sketches.log_histogram_quantiles, HdrHistogram/DDSketch
    class, 20 buckets/decade → ≤5.9% relative error): per-group state is
    bucket COUNTS, combinable by cell-wise addition across executors and
    snapshots — the property exact percentiles (q_value_quantiles) lack.
    Ranks are integer rational arithmetic, so no float boundary can
    disagree between engines."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sketches import (
        log_histogram_quantiles,
    )

    e = _t(spark, sf_dir, "events")
    return log_histogram_quantiles(e, ["event_type"], "value").transform(
        _by("event_type")
    )


Q_VALUE_HISTOGRAM_SQL = """
WITH v AS (SELECT event_type, CAST(floor(log10(value) * 20) AS BIGINT) AS b
           FROM events WHERE value > 0),
c AS (SELECT event_type, b, COUNT(*) AS c FROM v GROUP BY 1, 2),
cum AS (SELECT event_type, b, c,
          SUM(c) OVER (PARTITION BY event_type ORDER BY b
                       ROWS UNBOUNDED PRECEDING) AS cum,
          SUM(c) OVER (PARTITION BY event_type) AS n
        FROM c)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
  ROUND(pow(10, (MIN(CASE WHEN cum >= floor((1 * n + 1) / 2) THEN b END)
                 + 0.5) / 20.0), 6) AS p50,
  ROUND(pow(10, (MIN(CASE WHEN cum >= floor((9 * n + 9) / 10) THEN b END)
                 + 0.5) / 20.0), 6) AS p90,
  ROUND(pow(10, (MIN(CASE WHEN cum >= floor((99 * n + 99) / 100) THEN b END)
                 + 0.5) / 20.0), 6) AS p99
FROM cum GROUP BY event_type ORDER BY event_type
"""


def q_quality_percentile(spark, sf_dir):
    """Per-source percent-rank normalization of the quality score — the
    calibration step before a GLOBAL quality threshold: a raw cutoff
    applied across domains silently skews the mix toward whichever
    domain's score distribution sits higher, so curation pipelines
    threshold the within-domain percentile instead (CCNet's per-bucket
    split is this move).  One window over source, rank state only;
    ties share a rank so the result is deterministic without a
    tiebreak column."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        quality_score,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    w = Window.partitionBy("source").orderBy("quality")
    return (
        d.select("doc_id", "source", quality_score(F.col("text")).alias("quality"))
        .withColumn("q_pct", F.round(F.percent_rank().over(w), 6))
        .transform(_by("doc_id"))
    )


def _quality_percentile_sql():
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        STOPWORDS,
    )

    stop = _stop_sql(STOPWORDS["en"])
    return f"""
WITH q AS (SELECT doc_id, source,
  ROUND(0.4 * least(CAST({_TOK_SQL} AS DOUBLE) / 100.0, 1.0)
      + 0.3 * (1.0 - least(CAST({_PUNCT_SQL} AS DOUBLE) * 4.0, 1.0))
      + 0.3 * least(CAST({stop} AS DOUBLE) / greatest({_TOK_SQL}, 1) * 5.0,
                    1.0), 4) AS quality
  FROM documents)
SELECT doc_id, source, quality,
       ROUND(percent_rank() OVER (PARTITION BY source ORDER BY quality), 6)
         AS q_pct
FROM q ORDER BY doc_id
"""


def q_benford(spark, sf_dir):
    """Benford first-digit conformance per event type (audit.
    benford_digit_audit, Benford 1938): observed first-significant-digit
    counts vs log10(1+1/d), summarized as chi² — the forensic ingest
    audit for synthetic/clipped/unit-mixed numeric feeds.  The corpus
    collapses to ≤9 digit rows per group in the FIRST aggregate
    (map-side combine); the group total rides a window over those 9
    rows; expected probabilities fold in as literals (Python-computed,
    byte-identical in the oracle)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        benford_digit_audit,
    )

    e = _t(spark, sf_dir, "events")
    return benford_digit_audit(e, ["event_type"], "value").transform(
        _by("event_type")
    )


def _benford_sql():
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        _BENFORD,
    )

    # CAST the probability literals to DOUBLE: DuckDB parses decimal
    # literals as DECIMAL(38), and (c - pd*n)^2 on BIGINT counts then
    # overflows DECIMAL multiplication at sf0.1 corpus sizes
    case = "CASE d " + " ".join(
        f"WHEN {d} THEN CAST({_BENFORD[d]!r} AS DOUBLE)"
        for d in range(1, 10)
    ) + " END"
    return f"""
WITH v AS (SELECT event_type,
             CAST(floor(value / pow(10, floor(log10(value))) + 1e-9)
                  AS INTEGER) AS d
           FROM events WHERE value > 0),
c AS (SELECT event_type, d, CAST(COUNT(*) AS DOUBLE) AS c
      FROM v GROUP BY 1, 2),
n AS (SELECT event_type, d, c,
        SUM(c) OVER (PARTITION BY event_type) AS n FROM c),
p AS (SELECT *, {case} AS pd FROM n)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
       ROUND(SUM((c - pd * n) * (c - pd * n) / (pd * n))
             + (1.0 - SUM(pd)) * MAX(n), 6) AS chi2
FROM p GROUP BY event_type ORDER BY event_type
"""


def q_filter_agreement(spark, sf_dir):
    """Cohen's kappa between two quality gates (audit.filter_agreement):
    the composite quality score ≥ 0.5 vs a bare 50-token length gate —
    the redundancy audit that answers "is my quality filter just a
    length proxy?" (kappa ≈ 1 says yes).  ONE corpus aggregate of four
    conditional sums — the 2×2 contingency never materializes as rows,
    no groupBy, map-side partials only."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        quality_score,
        token_count,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        filter_agreement,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return filter_agreement(
        d,
        quality_score(F.col("text")) >= F.lit(0.5),
        token_count(F.col("text")) >= F.lit(50),
    )


def _filter_agreement_sql():
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        STOPWORDS,
    )

    stop = _stop_sql(STOPWORDS["en"])
    q = (
        f"ROUND(0.4 * least(CAST({_TOK_SQL} AS DOUBLE) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - least(CAST({_PUNCT_SQL} AS DOUBLE) * 4.0, 1.0))"
        f" + 0.3 * least(CAST({stop} AS DOUBLE) / greatest({_TOK_SQL}, 1)"
        f" * 5.0, 1.0), 4)"
    )
    return f"""
WITH l AS (SELECT ({q} >= 0.5) AS a, ({_TOK_SQL} >= 50) AS b
           FROM documents),
agg AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS DOUBLE) AS tt,
          CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS DOUBLE) AS tf,
          CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS DOUBLE) AS ft,
          CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS DOUBLE)
            AS ff
        FROM l),
k AS (SELECT n, (tt + ff) / n AS po,
        ((tt + tf) / n) * ((tt + ft) / n)
          + (1.0 - (tt + tf) / n) * (1.0 - (tt + ft) / n) AS pe
      FROM agg)
SELECT CAST(n AS BIGINT) AS n, ROUND(po, 6) AS p_observed,
       ROUND(pe, 6) AS p_expected,
       ROUND(CASE WHEN pe >= 1.0 THEN 0.0
                  ELSE (po - pe) / (1.0 - pe) END, 6) AS kappa
FROM k
"""


def q_zipf(spark, sf_dir):
    """Per-source Zipf's-law fit (audit.zipf_fit, Zipf 1949): OLS of
    ln(term frequency) on ln(rank) — natural text sits near slope -1
    with high r²; templated or generated feeds flatten/decorrelate.
    CENTERED least-squares sums (the raw-moment form cancels 10+ digits
    at vocab size and can't survive cross-engine summation jitter); one
    exchange after the vocab-sized term-count aggregate, with the rank
    window, the mean windows, and the final aggregate all sharing that
    partitioning."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        zipf_fit,
    )

    d = _t(spark, sf_dir, "documents")
    return zipf_fit(d, ["source"], "text").transform(_by("source"))


Q_ZIPF_SQL = f"""
WITH nm AS (SELECT source, {_NORM_SQL} AS nt FROM documents),
toks AS (SELECT source, t.term FROM nm,
           unnest(str_split(nt, ' ')) AS t(term)
         WHERE t.term <> ''),
tf AS (SELECT source, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
xy AS (SELECT source,
         ln(CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY c DESC, term ASC) AS DOUBLE)) AS x,
         ln(CAST(c AS DOUBLE)) AS y
       FROM tf),
ctr AS (SELECT source,
          x - AVG(x) OVER (PARTITION BY source) AS dx,
          y - AVG(y) OVER (PARTITION BY source) AS dy
        FROM xy)
SELECT source, COUNT(*) AS n_terms,
       ROUND(CASE WHEN SUM(dx*dx) > 0 THEN SUM(dx*dy) / SUM(dx*dx) END,
             6) AS zipf_slope,
       ROUND(CASE WHEN SUM(dx*dx) > 0 AND SUM(dy*dy) > 0
                  THEN SUM(dx*dy) * SUM(dx*dy)
                       / (SUM(dx*dx) * SUM(dy*dy)) END, 6) AS r2
FROM ctr GROUP BY source ORDER BY source
"""


def q_mad_outliers(spark, sf_dir):
    """Per-event-type robust outlier census (audit.robust_outliers,
    Iglewicz & Hoaglin 1993): modified z-score 0.6745·|v-med|/MAD > 3.5
    over median/MAD — the location/scale pair the outliers can't drag.
    Exact interpolated medians (the certified path; exact=False swaps in
    the mergeable percentile_approx sketch for 100 TB groups); per-group
    stats return via broadcast joins so the input never shuffles."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        robust_outliers,
    )

    e = _t(spark, sf_dir, "events")
    return robust_outliers(e, ["event_type"], "value").transform(
        _by("event_type")
    )


Q_MAD_OUTLIERS_SQL = """
WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL),
med AS (SELECT event_type, ROUND(median(v), 9) AS med FROM v GROUP BY 1),
ad AS (SELECT v.event_type, abs(v.v - m.med) AS ad
       FROM v JOIN med m USING (event_type)),
st AS (SELECT event_type, ROUND(median(ad), 9) AS mad FROM ad GROUP BY 1),
f AS (SELECT v.event_type, v.v, m.med, s.mad
      FROM v JOIN med m USING (event_type) JOIN st s USING (event_type))
SELECT event_type, COUNT(*) AS n,
       ROUND(MAX(med), 6) AS median, ROUND(MAX(mad), 6) AS mad,
       CAST(SUM(CASE WHEN 0.6745 * abs(v - med) > 3.5 * mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(CAST(SUM(CASE WHEN 0.6745 * abs(v - med) > 3.5 * mad
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS outlier_frac
FROM f GROUP BY event_type ORDER BY event_type
"""


def q_gini(spark, sf_dir):
    """Per-source Gini + top-1% share of document character mass
    (audit.gini_concentration): the mixture-balance audit — is one
    mega-document carrying a source?  Sorted-rank identity
    (2·Σi·x₍ᵢ₎ - (n+1)·Σx)/(n·Σx) with integer-valued sums (exact in
    doubles), ONE exchange (the source window), tie order provably
    irrelevant."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        gini_concentration,
    )

    d = _t(spark, sf_dir, "documents")
    return gini_concentration(d, ["source"], "n_chars").transform(
        _by("source")
    )


Q_GINI_SQL = """
WITH v AS (SELECT source, CAST(n_chars AS DOUBLE) AS x FROM documents
           WHERE n_chars IS NOT NULL AND n_chars >= 0),
r AS (SELECT source, x,
        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY x ASC)
             AS DOUBLE) AS i,
        CAST(COUNT(*) OVER (PARTITION BY source) AS DOUBLE) AS n
      FROM v)
SELECT source, CAST(MAX(n) AS BIGINT) AS n, ROUND(SUM(x), 6) AS total,
       ROUND(CASE WHEN SUM(x) > 0 THEN
         (2.0 * SUM(i * x) - (MAX(n) + 1.0) * SUM(x))
         / (MAX(n) * SUM(x)) END, 6) AS gini,
       ROUND(CASE WHEN SUM(x) > 0 THEN
         SUM(CASE WHEN i > n - ceil(n * 0.01) THEN x ELSE 0.0 END)
         / SUM(x) END, 6) AS top_share
FROM r GROUP BY source ORDER BY source
"""


def q_rolling_events(spark, sf_dir):
    """Calendar-aware trailing-7-day rolling metrics per event type
    (timeseries.rolling_daily_metrics): RANGE frame on the epoch-day
    integer so gap days age out exactly and the rolling average is per
    CALENDAR day (missing days = zero activity), plus the
    same-weekday-last-week delta via a point RANGE frame [-7,-7].  The
    ROWS-frame twin (q_anomaly_days) stretches across gaps; this is the
    rate-dashboard semantics.  One corpus aggregate to the daily series,
    then one keys exchange shared by all three frames."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        rolling_daily_metrics,
    )

    e = _t(spark, sf_dir, "events")
    return rolling_daily_metrics(e, ["event_type"], "ts", 7).transform(
        _by("event_type", "day")
    )


Q_ROLLING_EVENTS_SQL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
         CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01'
              AS BIGINT) AS dnum
  FROM events GROUP BY 1, 2, 4)
SELECT event_type, day, n,
       CAST(SUM(n) OVER w AS BIGINT) AS rolling_sum,
       CAST(COUNT(*) OVER w AS BIGINT) AS rolling_days,
       ROUND(CAST(SUM(n) OVER w AS DOUBLE) / 7.0, 6) AS rolling_avg,
       MAX(n) OVER wp AS prev_week_n,
       n - MAX(n) OVER wp AS wow_delta
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY dnum
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
       wp AS (PARTITION BY event_type ORDER BY dnum
              RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING)
ORDER BY event_type, day
"""


def q_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of two exact rankings — cosine top-20 and
    Euclidean top-20 — for the first 10 query vectors
    (similarity.rrf_fuse, Cormack et al. 2009): the hybrid-search
    combiner that rewards cross-ranker agreement without comparing
    incommensurable scores.  Both base rankings broadcast the query
    side (the corpus never shuffles) and round scores to 6 BEFORE
    ranking so ranks are engine-portable; fusion itself runs over
    rankings-sized input only."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_l2,
        rrf_fuse,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    cos = brute_force_topk(e, q, "vec_id", "embedding", k=20)
    l2 = brute_force_topk_l2(e, q, "vec_id", "embedding", k=20)
    return rrf_fuse([cos, l2], k=5).transform(_by("query_id", "rank"))


Q_RRF_FUSION_SQL = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
e AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ev
      FROM embeddings),
pairs AS (SELECT qid, nid, qv, ev FROM q, e WHERE nid <> qid),
cosr AS (
  SELECT qid, nid,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
           ROUND(list_inner_product(qv, ev)
                 / (sqrt(list_inner_product(qv, qv))
                    * sqrt(list_inner_product(ev, ev))), 6) DESC,
           nid ASC) AS r
  FROM pairs),
l2r AS (
  SELECT qid, nid,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
           ROUND(sqrt(list_sum(list_transform(
             range(1, len(qv) + 1),
             i -> (qv[i] - ev[i]) * (qv[i] - ev[i])))), 6) ASC,
           nid ASC) AS r
  FROM pairs),
u AS (SELECT qid, nid, r FROM cosr WHERE r <= 20
      UNION ALL
      SELECT qid, nid, r FROM l2r WHERE r <= 20),
f AS (SELECT qid, nid, SUM(1.0 / (60.0 + r)) AS s, COUNT(*) AS nr
      FROM u GROUP BY 1, 2),
ranked AS (
  SELECT qid, nid, s, nr,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, nid ASC)
           AS rank
  FROM f)
SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       ROUND(s, 6) AS rrf_score, CAST(nr AS BIGINT) AS n_rankers
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_prop_ztest(spark, sf_dir):
    """Two-proportion z-test between every language pair on the
    long-document rate (stats.prop_ztest_pairs): the A/B answer to "did
    this slice's pass rate really change?".  ONE corpus aggregate to
    (group, n, successes) — the pair blow-up is groups², never rows² —
    then broadcast self-join + constant arithmetic."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        prop_ztest_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    return prop_ztest_pairs(d, "lang", F.col("n_chars") >= 1000).transform(
        _by("group_a", "group_b")
    )


Q_PROP_ZTEST_SQL = """
WITH g AS (SELECT lang AS g, COUNT(*) AS n,
             CAST(SUM(CASE WHEN n_chars >= 1000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS s
           FROM documents GROUP BY 1),
p AS (SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
             CAST(a.s AS DOUBLE) / a.n AS p1,
             CAST(b.s AS DOUBLE) / b.n AS p2,
             CAST(a.s + b.s AS DOUBLE) / (a.n + b.n) AS pp
      FROM g a JOIN g b ON a.g < b.g)
SELECT group_a, group_b, n_a, n_b,
       ROUND(p1, 6) AS rate_a, ROUND(p2, 6) AS rate_b,
       ROUND(CASE WHEN pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b) > 0
                  THEN (p1 - p2)
                       / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b))
             END, 6) AS z
FROM p ORDER BY group_a, group_b
"""


def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test en-vs-zh on document length
    (stats.mann_whitney_u, Mann & Whitney 1947): the nonparametric
    distribution-shift audit (no normality assumption — the t-test is
    wrecked by exactly the heavy tails q_mad_outliers flags).  Exact
    average-rank tie handling in rational arithmetic; the corpus
    collapses to per-distinct-value tie counts BEFORE the single global
    rank window, so only value-cardinality rows cross it."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        mann_whitney_u,
    )

    d = _t(spark, sf_dir, "documents")
    return mann_whitney_u(d, "lang", "n_chars", "en", "zh")


Q_MANN_WHITNEY_SQL = """
WITH d AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v FROM documents
           WHERE lang IN ('en', 'zh') AND n_chars IS NOT NULL),
vc AS (SELECT v, COUNT(*) AS t,
         CAST(SUM(CASE WHEN g = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ta
       FROM d GROUP BY v),
pv AS (SELECT t, ta,
         SUM(t) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - t + 1 AS r0
       FROM vc),
agg AS (SELECT
          SUM(CAST(ta AS DOUBLE)
              * (CAST(r0 AS DOUBLE) + (CAST(t AS DOUBLE) - 1.0) / 2.0))
            AS ra,
          CAST(SUM(ta) AS BIGINT) AS na,
          CAST(SUM(t - ta) AS BIGINT) AS nb,
          SUM(CAST(t AS DOUBLE) * CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
              - CAST(t AS DOUBLE)) AS tsum
        FROM pv)
SELECT na AS n_a, nb AS n_b,
       ROUND(ra - na * (na + 1.0) / 2.0, 6) AS u_a,
       ROUND(na * CAST(nb AS DOUBLE)
             - (ra - na * (na + 1.0) / 2.0), 6) AS u_b,
       ROUND(CASE WHEN na * CAST(nb AS DOUBLE) / 12.0
                       * ((na + nb + 1.0)
                          - tsum / ((na + nb) * (na + nb - 1.0))) > 0
                  THEN (ra - na * (na + 1.0) / 2.0
                        - na * CAST(nb AS DOUBLE) / 2.0)
                       / sqrt(na * CAST(nb AS DOUBLE) / 12.0
                              * ((na + nb + 1.0)
                                 - tsum / ((na + nb) * (na + nb - 1.0))))
             END, 6) AS z
FROM agg
"""


def q_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov en-vs-zh on document length
    (stats.ks_test): the supremum CDF gap — sensitive to shape shifts
    Mann-Whitney's rank sum misses.  D is exact integer arithmetic
    until one final division (|c_a·n_b − c_b·n_a| over per-distinct-
    value cumulative counts), so the statistic is engine-portable
    without tolerance; only value-cardinality rows cross the single
    cumulative window."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        ks_test,
    )

    d = _t(spark, sf_dir, "documents")
    return ks_test(d, "lang", "n_chars", "en", "zh")


Q_KS_TEST_SQL = """
WITH d AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v FROM documents
           WHERE lang IN ('en', 'zh') AND n_chars IS NOT NULL),
vc AS (SELECT v, COUNT(*) AS t,
         CAST(SUM(CASE WHEN g = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ta
       FROM d GROUP BY v),
cum AS (SELECT
          CAST(SUM(ta) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS ca,
          CAST(SUM(t - ta) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cb,
          CAST(SUM(ta) OVER () AS BIGINT) AS na,
          CAST(SUM(t - ta) OVER () AS BIGINT) AS nb
        FROM vc),
m AS (SELECT CAST(MAX(ABS(ca * nb - cb * na)) AS BIGINT) AS g,
             MAX(na) AS na, MAX(nb) AS nb FROM cum)
SELECT na AS n_a, nb AS n_b,
       ROUND(CAST(g AS DOUBLE)
             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS d,
       ROUND(SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                  / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
             * (CAST(g AS DOUBLE)
                / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6) AS ks_z
FROM m
"""


def q_chi2(spark, sf_dir):
    """Chi-squared independence of language × source
    (stats.chi2_independence) plus Cramér's V effect size — the mixture
    audit's "is language associated with source?".  Zero-observation
    cells are reconstructed by the margin cross-join (R×C rows,
    category-cardinality², never rows²) so chi2 isn't silently
    deflated; everything past the one corpus aggregate runs on frames
    no larger than the contingency table."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        chi2_independence,
    )

    d = _t(spark, sf_dir, "documents")
    return chi2_independence(d, "lang", "source")


Q_CHI2_SQL = """
WITH cells AS (SELECT lang AS a, source AS b, COUNT(*) AS o
               FROM documents GROUP BY 1, 2),
ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rm FROM cells GROUP BY a),
cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cm FROM cells GROUP BY b),
dims AS (SELECT (SELECT CAST(SUM(rm) AS BIGINT) FROM ra) AS n,
                (SELECT COUNT(*) FROM ra) AS r,
                (SELECT COUNT(*) FROM cb) AS c),
grid AS (SELECT COALESCE(cells.o, 0) AS o, ra.rm, cb.cm, dims.n,
                dims.r, dims.c
         FROM ra CROSS JOIN cb CROSS JOIN dims
         LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b),
agg AS (SELECT n, r, c,
          SUM((CAST(o AS DOUBLE)
               - CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)
                 / CAST(n AS DOUBLE))
              * (CAST(o AS DOUBLE)
                 - CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)
                   / CAST(n AS DOUBLE))
              / (CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)
                 / CAST(n AS DOUBLE))) AS chi2
        FROM grid GROUP BY 1, 2, 3)
SELECT n, CAST(r AS BIGINT) AS n_rows, CAST(c AS BIGINT) AS n_cols,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       ROUND(chi2, 6) AS chi2,
       ROUND(SQRT(chi2 / (CAST(n AS DOUBLE)
                          * (LEAST(CAST(r AS DOUBLE),
                                   CAST(c AS DOUBLE)) - 1.0))), 6)
         AS cramers_v
FROM agg
"""


def q_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-test between every language pair on
    document length (stats.welch_ttest_pairs) — the mean-shift
    companion to q_prop_ztest (rates) and q_mann_whitney
    (distributions).  Moments come from exact int64 Σx/Σx², so mean and
    variance are identical IEEE expressions in both engines — no
    Welford-vs-shifted drift.  Pairs are groups², never rows²."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        welch_ttest_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    return welch_ttest_pairs(d, "lang", "n_chars").transform(
        _by("group_a", "group_b")
    )


Q_WELCH_TTEST_SQL = """
WITH g AS (SELECT lang AS g, COUNT(*) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s1,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
p AS (SELECT a.g AS group_a, b.g AS group_b,
             a.n AS n_a, b.n AS n_b,
             CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE) AS m1,
             CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE) AS m2,
             (CAST(a.s2 AS DOUBLE)
              - CAST(a.s1 AS DOUBLE) * CAST(a.s1 AS DOUBLE)
                / CAST(a.n AS DOUBLE)) / (CAST(a.n AS DOUBLE) - 1.0)
               AS v1,
             (CAST(b.s2 AS DOUBLE)
              - CAST(b.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE)
                / CAST(b.n AS DOUBLE)) / (CAST(b.n AS DOUBLE) - 1.0)
               AS v2
      FROM g a JOIN g b ON a.g < b.g)
SELECT group_a, group_b, n_a, n_b,
       ROUND(m1, 6) AS mean_a, ROUND(m2, 6) AS mean_b,
       ROUND(CASE WHEN v1 / n_a + v2 / n_b > 0
                  THEN (m1 - m2) / SQRT(v1 / n_a + v2 / n_b) END, 6)
         AS t,
       ROUND(CASE WHEN v1 / n_a + v2 / n_b > 0
                  THEN ((v1 / n_a + v2 / n_b) * (v1 / n_a + v2 / n_b))
                       / ((v1 / n_a) * (v1 / n_a) / (n_a - 1.0)
                          + (v2 / n_b) * (v2 / n_b) / (n_b - 1.0))
             END, 6) AS dof
FROM p ORDER BY group_a, group_b
"""


def q_cusum(spark, sf_dir):
    """Page's one-sided CUSUM change detector over daily event counts
    (timeseries.cusum_days): accumulates small persistent level shifts
    the per-day z-score test never trips on.  The max(0, S+z−k)
    recursion is rewritten as prefix algebra (cumsum minus running min)
    so ONE day-ordered window computes it; standardization uses exact
    integer moment sums so both engines see identical doubles."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        cusum_days,
    )

    e = _t(spark, sf_dir, "events")
    return cusum_days(e, "ts").transform(_by("day"))


Q_CUSUM_SQL = """
WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
               FROM events GROUP BY 1),
mom AS (SELECT COUNT(*) AS nd, CAST(SUM(n) AS BIGINT) AS s1,
               CAST(SUM(n * n) AS BIGINT) AS s2 FROM daily),
z AS (SELECT day, n,
        (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE))
        / SQRT((CAST(s2 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                  / CAST(nd AS DOUBLE))
               / (CAST(nd AS DOUBLE) - 1.0)) AS z
      FROM daily CROSS JOIN mom),
c AS (SELECT day, n, z,
        SUM(z - 0.5) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM z),
s AS (SELECT day, n, z, c,
        c - LEAST(MIN(c) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            0.0) AS cusum
      FROM c)
SELECT day, n, ROUND(z, 6) AS z, ROUND(cusum, 6) AS cusum_pos,
       cusum > 4.0 AS is_change
FROM s ORDER BY day
"""


def q_acf(spark, sf_dir):
    """Lag-1..7 autocorrelation of the daily event-count series
    (timeseries.acf_daily) — the seasonality fingerprint that decides
    whether anomaly baselines need a weekly cycle.  Pairs align on
    CALENDAR days via one self-equi-join on the shifted epoch-day key;
    all five sufficient statistics are exact int64 sums, so r is an
    identical IEEE expression in both engines."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        acf_daily,
    )

    e = _t(spark, sf_dir, "events")
    return acf_daily(e, "ts", max_lag=7).transform(_by("lag"))


Q_ACF_SQL = """
WITH daily AS (SELECT CAST(CAST(date_trunc('day', ts) AS DATE)
                           - DATE '1970-01-01' AS BIGINT) AS d,
                      COUNT(*) AS n
               FROM events GROUP BY 1),
l AS (SELECT d, n AS x, lag
      FROM daily CROSS JOIN
           (SELECT UNNEST(generate_series(1, 7)) AS lag)),
pairs AS (SELECT l.lag, l.x, y.n AS y
          FROM l JOIN daily y ON l.d - l.lag = y.d),
agg AS (SELECT lag, COUNT(*) AS m,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY 1)
SELECT CAST(lag AS INTEGER) AS lag, m AS n_pairs,
       ROUND(CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                   AND CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                  THEN (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / SQRT((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE)
                                   * CAST(sy AS DOUBLE)))
             END, 6) AS r
FROM agg ORDER BY lag
"""


def q_assortativity(spark, sf_dir):
    """Degree assortativity of the co-activity graph
    (graph.assortativity, Newman 2002): one scalar separating the
    hub-to-hub social regime (r>0) from the hub-to-leaf broadcast/bot
    regime (r<0) before heavier community analysis runs.  Exact int64
    degree sums → identical IEEE doubles in both engines; nothing
    larger than the edge list shuffles."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        assortativity,
        coactivity_edges,
    )

    edges = _coact(spark, sf_dir)
    return assortativity(edges)


Q_ASSORTATIVITY_SQL = """
WITH b AS MATERIALIZED (
  SELECT DISTINCT date_trunc('minute', ts) AS _b, user_id AS _u
  FROM events),
sized AS MATERIALIZED (
  SELECT _b, _u FROM (SELECT _b, _u,
    COUNT(*) OVER (PARTITION BY _b) AS _n FROM b) WHERE _n <= 64),
e AS MATERIALIZED (
  SELECT DISTINCT CAST(l._u AS BIGINT) AS src, CAST(r._u AS BIGINT) AS dst
  FROM sized l JOIN sized r USING (_b) WHERE l._u <> r._u),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
ann AS (SELECT d1.d AS x, d2.d AS y
        FROM e JOIN deg d1 ON e.src = d1.src
               JOIN deg d2 ON e.dst = d2.src),
agg AS (SELECT COUNT(*) AS m, CAST(SUM(x) AS BIGINT) AS sx,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM ann)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       ROUND(CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                  THEN (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             END, 6) AS r
FROM agg
"""


def q_assoc_rules(spark, sf_dir):
    """Market-basket association rules over parts co-ordered in the
    same order (assoc.association_rules): support / confidence / lift
    for every part pair co-occurring in ≥2 orders.  The apriori prune
    (an item in <2 baskets can't reach pair support 2) runs BEFORE the
    quadratic self-join, and the post-prune basket-size cap bounds the
    per-basket pair fan-out — the two knobs that keep the 2-itemset
    lattice pass tractable at 100 TB.  Counts are exact int64; every
    metric is one division of exact-integer doubles, so the output is
    engine-portable without tolerance."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.assoc import (
        association_rules,
    )

    li = _t(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=2
    ).transform(_by("item_a", "item_b"))


Q_ASSOC_RULES_SQL = """
WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
           FROM lineitem),
tot AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM b),
cnt AS (SELECT item, COUNT(*) AS n_item FROM b GROUP BY item),
pruned AS (
  SELECT basket, item FROM (
    SELECT b.basket, b.item,
           COUNT(*) OVER (PARTITION BY b.basket) AS bsz
    FROM b JOIN cnt USING (item) WHERE cnt.n_item >= 2)
  WHERE bsz <= 256),
pairs AS (SELECT a.item AS item_a, c.item AS item_b, COUNT(*) AS n_ab
          FROM pruned a JOIN pruned c
            ON a.basket = c.basket AND a.item < c.item
          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT p.item_a, p.item_b, ca.n_item AS n_a, cb.n_item AS n_b, p.n_ab,
  ROUND(CAST(p.n_ab AS DOUBLE) / CAST(t.n_baskets AS DOUBLE), 6)
    AS support,
  ROUND(CAST(p.n_ab AS DOUBLE) / CAST(ca.n_item AS DOUBLE), 6)
    AS conf_a_b,
  ROUND(CAST(p.n_ab AS DOUBLE) / CAST(cb.n_item AS DOUBLE), 6)
    AS conf_b_a,
  ROUND(CAST(p.n_ab AS DOUBLE) * CAST(t.n_baskets AS DOUBLE)
        / (CAST(ca.n_item AS DOUBLE) * CAST(cb.n_item AS DOUBLE)), 6)
    AS lift
FROM pairs p
JOIN cnt ca ON ca.item = p.item_a
JOIN cnt cb ON cb.item = p.item_b
CROSS JOIN tot t
"""


def q_ols_trend(spark, sf_dir):
    """Per-event-type OLS trend of DAILY VOLUME on epoch-day
    (stats.ols_fit_groups): "is this event type's traffic growing?" —
    one (type, day) count aggregate, then the moment regression.  Day
    index and count are both integers, so every moment is an exact
    double and slope/intercept/R² are engine-portable without tolerance
    (regressing raw double `value` certified flaky: an intercept landed
    on a ROUND half-boundary and the engines' sum orders split it)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        ols_fit_groups,
    )

    e = _t(spark, sf_dir, "events")
    daily = e.filter(F.col("ts").isNotNull()).groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return ols_fit_groups(
        daily, "event_type", F.col("day"), F.col("cnt")
    ).transform(_by("group"))


Q_OLS_TREND_SQL = """
WITH d AS (SELECT event_type AS g,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) AS x,
             CAST(COUNT(*) AS DOUBLE) AS y
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, CAST(ts AS DATE)),
g AS (SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM d GROUP BY g)
SELECT g AS "group", n,
  ROUND(CASE WHEN n * sxx - sx * sx > 0
             THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6)
    AS slope,
  ROUND(CASE WHEN n * sxx - sx * sx > 0
             THEN (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                  / n END, 6) AS intercept,
  ROUND(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                  / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6)
    AS r2
FROM g
"""


def q_anova(spark, sf_dir):
    """One-way ANOVA of document length across languages
    (stats.anova_oneway) — the global F-test that precedes pairwise
    probing (q_welch_ttest) in a corpus experiment readout.  Integer
    n_chars keeps every moment an exact double, so F and eta² are
    engine-portable without tolerance."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        anova_oneway,
    )

    d = _t(spark, sf_dir, "documents")
    return anova_oneway(d, "lang", "n_chars")


Q_ANOVA_SQL = """
WITH g AS (SELECT lang, COUNT(*) AS ng,
             SUM(CAST(n_chars AS DOUBLE)) AS sg,
             SUM(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS qg
           FROM documents WHERE n_chars IS NOT NULL GROUP BY lang),
a AS (SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
        SUM(sg) AS s, SUM(qg) AS q,
        SUM(sg * sg / CAST(ng AS DOUBLE)) AS sb
      FROM g)
SELECT k, n,
  ROUND(CASE WHEN k >= 2 AND q - sb > 0
             THEN ((sb - s * s / n) / (k - 1.0))
                  / ((q - sb) / (n - CAST(k AS DOUBLE))) END, 6) AS f,
  ROUND(CASE WHEN q - s * s / n > 0
             THEN (sb - s * s / n) / (q - s * s / n) END, 6) AS eta2
FROM a
"""


def q_spearman(spark, sf_dir):
    """Per-language Spearman rank correlation between document length
    and token count (stats.spearman_corr_groups): monotone association
    on tie-corrected fractional ranks — exact half-integer rank moments,
    so rho is engine-portable without tolerance.  Two in-group rank
    windows share one exchange; only the group-cardinality frame
    survives."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        token_count,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        spearman_corr_groups,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return spearman_corr_groups(
        d, "lang", F.col("n_chars"), token_count(F.col("text"))
    ).transform(_by("group"))


Q_SPEARMAN_SQL = f"""
WITH d AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS x,
             {_TOK_SQL} AS y
           FROM documents WHERE n_chars IS NOT NULL),
r AS (SELECT g,
        RANK() OVER (PARTITION BY g ORDER BY x)
          + (COUNT(*) OVER (PARTITION BY g, x) - 1) / 2.0 AS rx,
        RANK() OVER (PARTITION BY g ORDER BY y)
          + (COUNT(*) OVER (PARTITION BY g, y) - 1) / 2.0 AS ry
      FROM d),
m AS (SELECT g, COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
        SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
      FROM r GROUP BY g)
SELECT g AS "group", n,
  ROUND(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN (n * sxy - sx * sy)
                  / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))
        END, 6) AS rho
FROM m
"""


def q_expectations(spark, sf_dir):
    """Declarative data-quality expectation suite over the documents
    feed (audit.expectation_suite — the Deequ / Great-Expectations
    shape): seven contract constraints compiled into ONE corpus
    aggregate, exploded into a per-constraint report with exact int64
    ratio metrics.  The in_set and max_bound constraints fail on this
    feed by design (zh outside the declared language set; a 553-char
    doc over the 500 cap) — the report is the artifact, not a green
    light."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        expectation_suite,
    )

    d = _t(spark, sf_dir, "documents")
    return expectation_suite(
        d,
        [
            {"check": "completeness", "column": "text"},
            {"check": "uniqueness", "column": "doc_id"},
            {"check": "in_set", "column": "lang",
             "values": ["en", "fr", "es", "de"], "threshold": 0.9},
            {"check": "min_bound", "column": "n_chars", "bound": 0},
            {"check": "max_bound", "column": "n_chars", "bound": 500},
            {"check": "matches", "column": "source",
             "pattern": "^src[0-9]+$"},
            {"check": "row_count_min", "bound": 100},
        ],
    ).transform(_by("check"))


Q_EXPECTATIONS_SQL = """
WITH a AS (
  SELECT COUNT(*) AS n, COUNT(text) AS m0, COUNT(DISTINCT doc_id) AS m1,
    CAST(SUM(CASE WHEN lang IN ('en','fr','es','de') THEN 1 ELSE 0 END)
         AS BIGINT) AS m2,
    CAST(MIN(n_chars) AS DOUBLE) AS m3,
    CAST(MAX(n_chars) AS DOUBLE) AS m4,
    CAST(SUM(CASE WHEN REGEXP_MATCHES(source, '^src[0-9]+$')
                  THEN 1 ELSE 0 END) AS BIGINT) AS m5
  FROM documents)
SELECT 'completeness(text)' AS "check", 'text' AS "column",
  ROUND(CAST(m0 AS DOUBLE) / n, 6) AS metric, 1.0 AS threshold,
  CAST(m0 AS DOUBLE) / n >= 1.0 AS passed FROM a
UNION ALL
SELECT 'uniqueness(doc_id)', 'doc_id',
  ROUND(CAST(m1 AS DOUBLE) / n, 6), 1.0,
  CAST(m1 AS DOUBLE) / n >= 1.0 FROM a
UNION ALL
SELECT 'in_set(lang)', 'lang', ROUND(CAST(m2 AS DOUBLE) / n, 6), 0.9,
  CAST(m2 AS DOUBLE) / n >= 0.9 FROM a
UNION ALL
SELECT 'min_bound(n_chars)', 'n_chars', ROUND(m3, 6), 0.0,
  m3 >= 0.0 FROM a
UNION ALL
SELECT 'max_bound(n_chars)', 'n_chars', ROUND(m4, 6), 500.0,
  m4 <= 500.0 FROM a
UNION ALL
SELECT 'matches(source)', 'source', ROUND(CAST(m5 AS DOUBLE) / n, 6),
  1.0, CAST(m5 AS DOUBLE) / n >= 1.0 FROM a
UNION ALL
SELECT 'row_count_min', CAST(NULL AS VARCHAR),
  ROUND(CAST(n AS DOUBLE), 6), 100.0, n >= 100 FROM a
"""


def q_stl_decompose(spark, sf_dir):
    """Additive seasonal decomposition of per-event-type daily volume
    (timeseries.seasonal_decompose_daily): y = trend (centered 7-day
    moving average) + weekly seasonal (mean detrended per day-of-week)
    + remainder — the "is it growth or just the weekly cycle?" readout
    that precedes any anomaly rule.  Day-of-week is pure epoch-day
    arithmetic ((day+3) % 7), so both engines index the cycle
    identically; trend is an exact-int sum over 7 rows divided once."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        seasonal_decompose_daily,
    )

    e = _t(spark, sf_dir, "events")
    return seasonal_decompose_daily(e, "event_type", "ts").transform(
        _by("group", "day")
    )


Q_STL_DECOMPOSE_SQL = """
WITH daily AS (SELECT event_type AS g,
    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
    COUNT(*) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
t AS (SELECT g, day, y,
    CASE WHEN COUNT(*) OVER w = 7
         THEN CAST(SUM(y) OVER w AS DOUBLE) / 7.0 END AS trend
  FROM daily
  WINDOW w AS (PARTITION BY g ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
s AS (SELECT g, day, y, trend, CAST(y AS DOUBLE) - trend AS det,
    AVG(CAST(y AS DOUBLE) - trend)
      OVER (PARTITION BY g, (day + 3) % 7) AS seasonal
  FROM t)
SELECT g AS "group", day, y, ROUND(trend, 6) AS trend,
  ROUND(seasonal, 6) AS seasonal,
  ROUND(det - seasonal, 6) AS remainder
FROM s
"""


def q_cube(spark, sf_dir):
    """Multi-dimensional subtotals via native CUBE grouping sets —
    the cross-dimension companion to q_revenue_rollup / q_events_rollup:
    events by (type × day-of-week) with BOTH one-dimension margins and
    the grand total in ONE aggregate (Catalyst expands grouping sets
    map-side; no 4-query union).  Day-of-week is epoch-day arithmetic
    (engine-portable); sums accumulate as DECIMAL so FP order can't
    flip the hash; grouping_id() disambiguates levels."""
    e = _t(spark, sf_dir, "events")
    dow = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")) + F.lit(3)
    ) % F.lit(7)
    return (
        e.filter(F.col("ts").isNotNull())
        .select(
            F.col("event_type").alias("etype"),
            dow.cast("long").alias("dow"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .cube("etype", "dow")
        .agg(
            F.grouping_id().cast("int").alias("lvl"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("v").cast("double"), 4).alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("etype"), F.lit("ALL")).alias("etype"),
            F.coalesce(F.col("dow"), F.lit(-1)).alias("dow"),
            "lvl",
            "n_events",
            "sum_value",
        )
        .transform(_by("etype", "dow"))
    )


Q_CUBE_SQL = """
WITH d AS (SELECT event_type AS etype,
    CAST((CAST(ts AS DATE) - DATE '1970-01-01' + 3) % 7 AS BIGINT)
      AS dow,
    CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE ts IS NOT NULL)
SELECT COALESCE(etype, 'ALL') AS etype, COALESCE(dow, -1) AS dow,
  CAST(GROUPING(etype) * 2 + GROUPING(dow) AS INT) AS lvl,
  COUNT(*) AS n_events,
  ROUND(CAST(SUM(v) AS DOUBLE), 4) AS sum_value
FROM d GROUP BY CUBE (etype, dow)
"""


def q_profile_docs(spark, sf_dir):
    """ANALYZE-style column profile of the documents table
    (stats.profile_columns): per column n / nulls / exact distinct /
    string extrema in ONE scan.  exact_distinct=True is the certified
    path (Spark plans Expand — input ×5 before the shuffle, deliberate
    for a profile); the default approx_count_distinct path is the
    one-pass mergeable-HLL 100 TB shape."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        profile_columns,
    )

    d = _t(spark, sf_dir, "documents")
    return profile_columns(d, exact_distinct=True).transform(_by("column"))


def _profile_docs_sql():
    per_col = " UNION ALL ".join(
        f"""SELECT '{c}' AS "column", COUNT(*) AS n,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       MIN(CAST({c} AS VARCHAR)) AS min_str,
       MAX(CAST({c} AS VARCHAR)) AS max_str FROM documents"""
        for c in ["doc_id", "text", "lang", "source", "n_chars"]
    )
    return f'SELECT * FROM ({per_col}) ORDER BY "column"'


def q_bloom_filter(spark, sf_dir):
    """Bloom-filter membership probe (sketches.bloom_build/bloom_probe):
    the filter over 70% of documents' texts is ONE row (sorted set-bit
    array, m=8192, k=3 md5-seeded hashes — the repo's engine-portable
    hash60 family) broadcast to the probe side, which NEVER shuffles.
    Output pins both the probe verdict and true membership, so the
    oracle certifies the exact bit pattern AND exposes the
    false-positive behavior (members always hit; non-members hit at the
    analytic fp rate)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    d = _t(spark, sf_dir, "documents")
    vals = d.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("v")
    )
    build = vals.filter(F.col("doc_id") % 10 < 7).select("v")
    probed = bloom_probe(bloom_build(build, "v"), vals, "v")
    members = build.distinct().withColumn("_m", F.lit(True))
    return (
        probed.join(members, "v", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce(F.col("_m"), F.lit(False)).alias("true_member"),
        )
        .transform(_by("doc_id"))
    )


Q_BLOOM_FILTER_SQL = """
WITH vals AS (SELECT doc_id, coalesce(text,'') AS v FROM documents),
b AS (SELECT DISTINCT v FROM vals WHERE doc_id % 10 < 7),
pos AS (
  SELECT DISTINCT
         CAST(('0x' || substr(md5(CAST(s.range AS VARCHAR) || b.v), 1, 15))
              AS BIGINT) % 8192 AS p
  FROM b CROSS JOIN range(3) s),
pp AS (
  SELECT vals.doc_id, vals.v,
         CAST(('0x' || substr(md5(CAST(s.range AS VARCHAR) || vals.v), 1, 15))
              AS BIGINT) % 8192 AS p
  FROM vals CROSS JOIN range(3) s),
cnt AS (
  SELECT pp.doc_id, pp.v, COUNT(pos.p) AS nh
  FROM pp LEFT JOIN pos ON pp.p = pos.p
  GROUP BY pp.doc_id, pp.v)
SELECT c.doc_id, c.nh = 3 AS bloom_hit, (b.v IS NOT NULL) AS true_member
FROM cnt c LEFT JOIN b ON c.v = b.v
ORDER BY doc_id
"""


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ approximate top-k (similarity.ivfpq_topk — the FAISS IVFPQ
    shape, third ANN path next to LSH/IVF): IVF cells prune candidates on
    an equi-join, PQ lookup tables score them in the COMPRESSED domain
    (4 element_at lookups per pair; corpus vectors never leave the scan).
    Integer codebooks x floor-quantized vectors keep codes/LUTs/ranking
    exact in float64, so the DuckDB oracle reproduces the full pipeline
    bit-for-bit — cells, codes, ADC sums, ranks."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        ivfpq_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return _ordered(ivfpq_topk(e, q, k=5), "query_id", "rank")


def _ivfpq_sql() -> str:
    """DuckDB twin of q_ivfpq_topk: reuses the IVF cell CTEs (same seed-7
    codebook as q_ivf_topk), then reproduces the PQ stage — per-subspace
    distance arrays d0..d3 (|c|^2 - 2 x_q.c, exact integers), first-min
    code assignment (list_position = numpy argmin's first-match
    tie-break), and the ADC sum via the query's OWN distance arrays as
    lookup tables."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        pq_codebooks,
    )

    books = pq_codebooks(64, 4, 16, 11)
    darr = []
    for s in range(4):
        lo, hi = s * 16 + 1, (s + 1) * 16
        exprs = []
        for j in range(16):
            c = books[s, j]
            lit = "[" + ",".join(str(int(x)) for x in c) + "]"
            c2 = int((c * c).sum())
            exprs.append(
                f"{c2} - 2 * list_inner_product(q[{lo}:{hi}],"
                f" CAST({lit} AS DOUBLE[]))"
            )
        darr.append(
            f"[" + ",\n          ".join(exprs) + f"] AS d{s}"
        )
    return _ivf_sql_ctes() + """,
pqd AS (
  SELECT vec_id,
         """ + ",\n         ".join(darr) + """
  FROM e
),
pcodes AS (
  SELECT vec_id,
         CAST(list_position(d0, list_min(d0)) - 1 AS INT) AS c0,
         CAST(list_position(d1, list_min(d1)) - 1 AS INT) AS c1,
         CAST(list_position(d2, list_min(d2)) - 1 AS INT) AS c2,
         CAST(list_position(d3, list_min(d3)) - 1 AS INT) AS c3
  FROM pqd
),
cand AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(qd.d0[k.c0 + 1] + qd.d1[k.c1 + 1]
              + qd.d2[k.c2 + 1] + qd.d3[k.c3 + 1] AS BIGINT) AS adc
  FROM probes p
  JOIN cell1 c ON p.cell = c.cell AND c.vec_id <> p.vec_id
  JOIN pcodes k ON k.vec_id = c.vec_id
  JOIN pqd qd ON qd.vec_id = p.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, adc,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc ASC, neighbor_id ASC) AS INT)
           AS rank
  FROM cand
)
SELECT query_id, neighbor_id, rank, adc FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_ann_recall(spark, sf_dir):
    """ANN recall@5 self-evaluation (similarity.ann_recall): the LSH path's
    top-5 joined against the exact brute-force top-5, one recall row per
    query — the index quality gate a pipeline runs on a sampled query set
    before trusting an ANN path for semantic dedup.  Both the approximate
    and exact rankings are already individually certified (q_lsh_topk /
    q_knn_cosine); this certifies their composition."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        lsh_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    approx = lsh_topk(
        e, q, "vec_id", "embedding", k=5,
        bands=8, rows_per_band=4, dim=64, quantize_bits=20,
    )
    exact = brute_force_topk(e, q, "vec_id", "embedding", k=5)
    return ann_recall(approx, exact, k=5).transform(_by("query_id"))


Q_ANN_RECALL_SQL = _lsh_bucket_sql_ctes() + f""",
lsh_cand AS (
  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id,
                  a.v AS qv, c.v AS cv
  FROM bk a JOIN bk c ON a.vec_id < 10 AND a.vec_id <> c.vec_id
                      AND ({_LSH_BAND_MATCH})
),
lsh_ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
           ROUND(list_inner_product(qv, cv)
                 / (sqrt(list_inner_product(qv, qv))
                    * sqrt(list_inner_product(cv, cv))), 6) DESC,
           neighbor_id) AS rn
  FROM lsh_cand
),
lsh5 AS (SELECT query_id, neighbor_id FROM lsh_ranked WHERE rn <= 5),
bf_ranked AS (
  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
           ROUND(list_inner_product(a.v, c.v)
                 / (sqrt(list_inner_product(a.v, a.v))
                    * sqrt(list_inner_product(c.v, c.v))), 6) DESC,
           c.vec_id) AS rn
  FROM e a JOIN e c ON a.vec_id < 10 AND a.vec_id <> c.vec_id
),
bf5 AS (SELECT query_id, neighbor_id FROM bf_ranked WHERE rn <= 5)
SELECT b.query_id, CAST(COUNT(l.query_id) AS INT) AS hits,
       ROUND(COUNT(l.query_id) * 1.0 / COUNT(*), 6) AS recall
FROM bf5 b LEFT JOIN lsh5 l
  ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
GROUP BY b.query_id
ORDER BY b.query_id
"""


_IVFPQ_RECALL_GRID = [(1, 2), (1, 4), (2, 2), (2, 4), (4, 2), (4, 4)]


def q_ivfpq_recall(spark, sf_dir):
    """IVF-PQ recall/compression sweep (round-4 VERDICT #7): recall@5 of
    the PQ-compressed ADC ranking against the exact brute-force top-5,
    swept over n_probe x m_sub = {1,2,4} x {2,4} — the accuracy/cost
    trade of the compressed ANN path pinned as a certified query, the way
    q_ann_recall pins the LSH path.  One row per config: code_bits
    (= 4*m_sub: 16 codes = 4 bits/subspace), compression_x vs a float32
    vector (256 bytes / (m_sub/2) bytes = 512/m_sub), total hits over the
    10-query sample, pooled mean recall (integer hits / integer exact
    count — one deterministic division, no FP-order-sensitive mean), and
    the worst per-query recall.  The exact side is shared across all six
    configs; each config's corpus-side cost is m_sub lookups per
    candidate, so the sweep itself is the cheap part — which is the point
    it certifies."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        ivfpq_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    # the exact denominator is shared by all six union branches; without
    # the lazy checkpoint the brute-force plan is recomputed per config
    exact = brute_force_topk(e, q, "vec_id", "embedding", k=5).localCheckpoint(
        eager=False
    )
    parts = []
    for n_probe, m_sub in _IVFPQ_RECALL_GRID:
        approx = ivfpq_topk(
            e, q, k=5, n_probe=n_probe, m_sub=m_sub
        )
        r = ann_recall(approx, exact, k=5)
        parts.append(
            r.agg(
                F.count(F.lit(1)).alias("_nq"),
                F.sum("hits").alias("_hits"),
                F.min("recall").alias("_minr"),
            ).select(
                F.lit(n_probe).alias("n_probe"),
                F.lit(m_sub).alias("m_sub"),
                F.lit(4 * m_sub).alias("code_bits"),
                F.round(F.lit(512.0 / m_sub), 6).alias("compression_x"),
                F.col("_hits").cast("int").alias("hits"),
                F.round(
                    F.col("_hits") / (F.lit(5.0) * F.col("_nq")), 6
                ).alias("mean_recall"),
                F.col("_minr").alias("min_recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("n_probe", "m_sub")


def _ivfpq_recall_sql() -> str:
    """DuckDB twin of q_ivfpq_recall: shared e/dots/cell1 + brute-force
    CTEs, then per (n_probe, m_sub) config the same parameterized PQ
    algebra as _ivfpq_sql (per-subspace exact-integer distance arrays,
    first-min code assignment, ADC sum via the query's own arrays),
    recall joined per query and pooled with one integer division."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        ivf_centroids,
        pq_codebooks,
    )

    cents = ivf_centroids(64, 16, 7)
    dot_exprs = []
    for c in cents:
        lit = "[" + ",".join(str(int(x)) for x in c) + "]"
        dot_exprs.append(f"list_inner_product(q, CAST({lit} AS DOUBLE[]))")
    ctes = ["""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * 1048576.0)) AS q
  FROM embeddings
)""", """dots AS (
  SELECT vec_id, v,
         [""" + ",\n          ".join(dot_exprs) + """] AS d
  FROM e
)""", """cell1 AS (
  SELECT vec_id, CAST(list_position(d, list_max(d)) - 1 AS INT) AS cell
  FROM dots
)""", """bf5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
             ROUND(list_inner_product(a.v, c.v)
                   / (sqrt(list_inner_product(a.v, a.v))
                      * sqrt(list_inner_product(c.v, c.v))), 6) DESC,
             c.vec_id) AS rn
    FROM e a JOIN e c ON a.vec_id < 10 AND a.vec_id <> c.vec_id
  ) WHERE rn <= 5
)"""]
    finals = []
    seen_m = set()
    for i, (n_probe, m_sub) in enumerate(_IVFPQ_RECALL_GRID):
        sub = 64 // m_sub
        if m_sub not in seen_m:
            seen_m.add(m_sub)
            books = pq_codebooks(64, m_sub, 16, 11)
            darr = []
            for s in range(m_sub):
                lo, hi = s * sub + 1, (s + 1) * sub
                exprs = []
                for j in range(16):
                    cb = books[s, j]
                    lit = "[" + ",".join(str(int(x)) for x in cb) + "]"
                    c2 = int((cb * cb).sum())
                    exprs.append(
                        f"{c2} - 2 * list_inner_product(q[{lo}:{hi}],"
                        f" CAST({lit} AS DOUBLE[]))"
                    )
                darr.append("[" + ",\n        ".join(exprs) + f"] AS d{s}")
            ctes.append(
                f"pqd_m{m_sub} AS (\n  SELECT vec_id,\n    "
                + ",\n    ".join(darr)
                + "\n  FROM e\n)"
            )
            codecols = ",\n    ".join(
                f"CAST(list_position(d{s}, list_min(d{s})) - 1 AS INT) AS c{s}"
                for s in range(m_sub)
            )
            ctes.append(
                f"pcodes_m{m_sub} AS (\n  SELECT vec_id,\n    {codecols}"
                f"\n  FROM pqd_m{m_sub}\n)"
            )
        ctes.append(f"""probes_{i} AS (
  SELECT vec_id, cell FROM (
    SELECT dt.vec_id, CAST(r.range AS INT) AS cell,
           ROW_NUMBER() OVER (PARTITION BY dt.vec_id
                              ORDER BY dt.d[CAST(r.range AS INT) + 1] DESC,
                                       r.range ASC) AS pr
    FROM dots dt CROSS JOIN range(16) r
    WHERE dt.vec_id < 10
  ) WHERE pr <= {n_probe}
)""")
        adc = " + ".join(
            f"qd.d{s}[k.c{s} + 1]" for s in range(m_sub)
        )
        ctes.append(f"""ranked_{i} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
             ORDER BY CAST({adc} AS BIGINT) ASC, c.vec_id ASC) AS rank
    FROM probes_{i} p
    JOIN cell1 c ON p.cell = c.cell AND c.vec_id <> p.vec_id
    JOIN pcodes_m{m_sub} k ON k.vec_id = c.vec_id
    JOIN pqd_m{m_sub} qd ON qd.vec_id = p.vec_id
  ) WHERE rank <= 5
)""")
        ctes.append(f"""perq_{i} AS (
  SELECT b.query_id, COUNT(a.query_id) AS hits, COUNT(*) AS exact_k
  FROM bf5 b LEFT JOIN ranked_{i} a
    ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
  GROUP BY b.query_id
)""")
        finals.append(f"""SELECT {n_probe} AS n_probe, {m_sub} AS m_sub,
       {4 * m_sub} AS code_bits,
       ROUND({512.0 / m_sub}, 6) AS compression_x,
       CAST(SUM(hits) AS INT) AS hits,
       ROUND(SUM(hits) / (5.0 * COUNT(*)), 6) AS mean_recall,
       MIN(ROUND(hits * 1.0 / exact_k, 6)) AS min_recall
FROM perq_{i}""")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT * FROM (\n" + "\nUNION ALL\n".join(finals)
        + "\n)\nORDER BY n_probe, m_sub"
    )


def q_textrank(spark, sf_dir):
    """TextRank extractive summarization (operators/textrank.py): the
    synthetic word-soup corpus chunks into fixed 12-word pseudo-sentences
    (pure Catalyst sequence+slice — natural text would use
    sentence_rows), then per-doc weighted PageRank over shared-word
    graphs picks each document's top-2 central sentences.  Integer edge
    weights + per-round 9-dp rounding make the 5 fixed iterations
    engine-portable; the oracle unrolls them as chained CTEs (the
    q_pagerank discipline, grouped per doc)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.textrank import (
        textrank,
        top_sentences,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    sents = (
        d.select("doc_id", words.alias("ws"))
        .filter(F.size("ws") > 0)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0), ((F.size("ws") + 11) / 12).cast("int") - 1
                )
            ).alias("sent_idx"),
            "ws",
        )
        .select(
            "doc_id",
            "sent_idx",
            F.slice(F.col("ws"), F.col("sent_idx") * 12 + 1, 12).alias(
                "words"
            ),
        )
    )
    return (
        top_sentences(textrank(sents), top_n=2)
        .select(
            "doc_id",
            "sent_idx",
            "tr_rank",
            F.round("score", 6).alias("score"),
        )
        .transform(_by("doc_id", "tr_rank"))
    )


def _textrank_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """DuckDB twin: same 12-word chunking, same integer shared-word edge
    weights, same unrolled iterations with per-round 9-dp rounding.
    Damping/teleport constants injected as full-precision Python literals
    so both engines add bit-identical doubles before each ROUND."""
    tele = repr(1.0 - damping)
    d = repr(damping)
    its = []
    prev = "r0"
    for i in range(1, iterations + 1):
        its.append(f"""
r{i} AS (
  SELECT b.doc_id, b.sent_idx, b.n,
         ROUND({tele} / b.n + {d} * COALESCE(c.s, 0.0), 9) AS rnk
  FROM base b LEFT JOIN (
    SELECT ne.doc_id, ne.dst, SUM(ne.nw * r.rnk) AS s
    FROM ne JOIN {prev} r
      ON ne.doc_id = r.doc_id AND ne.src = r.sent_idx
    GROUP BY 1, 2) c
  ON b.doc_id = c.doc_id AND b.sent_idx = c.dst
)""")
        prev = f"r{i}"
    return f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents WHERE text IS NOT NULL),
wn AS (SELECT doc_id, ws FROM w WHERE len(ws) > 0),
sx AS (
  SELECT doc_id, UNNEST(range(CAST(ceil(len(ws) / 12.0) AS BIGINT))) AS si,
         ws
  FROM wn),
sw AS (
  SELECT doc_id, CAST(si AS INT) AS sent_idx,
         list_distinct(ws[si * 12 + 1 : si * 12 + 12]) AS wset
  FROM sx),
base AS (
  SELECT doc_id, sent_idx, COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM sw),
eg AS (
  SELECT a.doc_id, a.sent_idx AS src, b.sent_idx AS dst,
         len(list_distinct(list_intersect(a.wset, b.wset))) AS c
  FROM sw a JOIN sw b
    ON a.doc_id = b.doc_id AND a.sent_idx <> b.sent_idx
  WHERE len(list_distinct(list_intersect(a.wset, b.wset))) > 0),
ne AS (
  SELECT doc_id, src, dst,
         ROUND(CAST(c AS DOUBLE)
               / SUM(c) OVER (PARTITION BY doc_id, src), 9) AS nw
  FROM eg),
r0 AS (SELECT doc_id, sent_idx, n, ROUND(1.0 / n, 9) AS rnk FROM base),
{",".join(its)},
ranked AS (
  SELECT doc_id, sent_idx,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY rnk DESC, sent_idx ASC) AS INT)
           AS tr_rank,
         ROUND(rnk, 6) AS score
  FROM {prev})
SELECT doc_id, sent_idx, tr_rank, score FROM ranked WHERE tr_rank <= 2
ORDER BY doc_id, tr_rank
"""


def q_mmr_select(spark, sf_dir):
    """Maximal-Marginal-Relevance diverse selection (similarity.mmr_select,
    Carbonell & Goldstein 1998): brute-force top-10 candidates per query
    re-ranked by ``0.7*rel - 0.3*max_sim_to_selected`` for 3 picks — the
    diversity-aware re-ranker after ANN retrieval (diverse few-shot
    selection, dedup-aware context assembly).  Every pairwise sim and
    every round's objective rounds to 6 dp before the per-query argmax,
    so the oracle unrolls the same 3 rounds as chained CTEs."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        brute_force_topk,
        mmr_select,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    cand = (
        brute_force_topk(e, q, "vec_id", "embedding", k=10)
        .join(
            e.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("cv"),
            ),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", "cv", F.col("sim").alias("rel"))
    )
    return mmr_select(cand, k=3, lam=0.7).transform(
        _by("query_id", "mmr_rank")
    )


def _mmr_sql(lam: float = 0.7) -> str:
    """DuckDB twin of q_mmr_select: identical brute-force top-10 candidate
    CTE, then the three MMR rounds unrolled (pick 1 = pure relevance;
    rounds 2-3 re-score survivors against the growing selected set with
    the same 6-dp roundings and neighbor-id tiebreaks).  The lambda
    complements are injected as full-precision Python literals so both
    engines subtract bit-identical doubles before the final ROUND."""
    lm, om = repr(lam), repr(1.0 - lam)

    def cos(x: str, y: str) -> str:
        return (
            f"ROUND(list_inner_product({x}, {y})"
            f" / (sqrt(list_inner_product({x}, {x}))"
            f" * sqrt(list_inner_product({y}, {y}))), 6)"
        )

    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bf AS (
  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id, c.v AS cv,
         {cos("a.v", "c.v")} AS rel,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY {cos("a.v", "c.v")} DESC, c.vec_id) AS rn
  FROM e a JOIN e c ON a.vec_id < 10 AND c.vec_id <> a.vec_id),
cand AS (SELECT query_id, neighbor_id, cv, rel FROM bf WHERE rn <= 10),
p1 AS (
  SELECT query_id, neighbor_id, cv, ROUND(rel, 6) AS score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, neighbor_id) AS r
    FROM cand) WHERE r = 1),
m2 AS (
  SELECT c.query_id, c.neighbor_id, c.cv, c.rel,
         ROUND({lm} * c.rel - {om} * {cos("c.cv", "p.cv")}, 6) AS score
  FROM cand c JOIN p1 p
    ON c.query_id = p.query_id AND c.neighbor_id <> p.neighbor_id),
p2 AS (
  SELECT query_id, neighbor_id, cv, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS r
    FROM m2) WHERE r = 1),
m3 AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND({lm} * c.rel - {om} * GREATEST(
           {cos("c.cv", "a.cv")}, {cos("c.cv", "b.cv")}), 6) AS score
  FROM cand c
  JOIN p1 a ON c.query_id = a.query_id
  JOIN p2 b ON c.query_id = b.query_id
  WHERE c.neighbor_id <> a.neighbor_id AND c.neighbor_id <> b.neighbor_id),
p3 AS (
  SELECT query_id, neighbor_id, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS r
    FROM m3) WHERE r = 1)
SELECT query_id, neighbor_id, 1 AS mmr_rank, score AS mmr_score FROM p1
UNION ALL
SELECT query_id, neighbor_id, 2, score FROM p2
UNION ALL
SELECT query_id, neighbor_id, 3, score FROM p3
ORDER BY query_id, mmr_rank
"""


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training
    (similarity.hard_negative_pairs): pairs colliding in some LSH band
    whose exact cosine lands in [0.30, 0.38) — related enough to confuse
    an embedding model, below the near-dup threshold (q_embed_neardup
    starts at 0.38, so the two outputs partition the banded candidates).
    Same FP-portable integer-quantized buckets, so the oracle reproduces
    the exact pair set."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        hard_negative_pairs,
    )

    e = _t(spark, sf_dir, "embeddings")
    return hard_negative_pairs(
        e, sim_lo=0.30, sim_hi=0.38, quantize_bits=20
    ).transform(_by("id_a", "id_b"))


Q_HARD_NEGATIVES_SQL = _lsh_bucket_sql_ctes(rows_per_band=4) + f"""
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       ROUND(list_inner_product(a.v, c.v)
             / (sqrt(list_inner_product(a.v, a.v))
                * sqrt(list_inner_product(c.v, c.v))), 6) AS sim
FROM bk a JOIN bk c ON a.vec_id < c.vec_id AND ({_LSH_BAND_MATCH})
WHERE ROUND(list_inner_product(a.v, c.v)
            / (sqrt(list_inner_product(a.v, a.v))
               * sqrt(list_inner_product(c.v, c.v))), 6) >= 0.30
  AND ROUND(list_inner_product(a.v, c.v)
            / (sqrt(list_inner_product(a.v, a.v))
               * sqrt(list_inner_product(c.v, c.v))), 6) < 0.38
ORDER BY id_a, id_b
"""


def q_kn_bigrams(spark, sf_dir):
    """Interpolated Kneser-Ney bigram estimation
    (corpus.kneser_ney_bigrams — Kneser & Ney 1995, Chen & Goodman 1999):
    the n-gram LM pass over the normalized corpus, with continuation
    counts, backoff mass, and the full interpolated estimate per
    surviving bigram.  Everything is exact integer counts + one rational
    expression with the exactly-representable 0.75 discount, so the
    oracle lands on hash-identical doubles."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        kneser_ney_bigrams,
    )

    d = _t(spark, sf_dir, "documents")
    return kneser_ney_bigrams(d, "doc_id", "text", min_count=5).transform(
        _by("v", "w")
    )


Q_KN_BIGRAMS_SQL = f"""
WITH toks AS (
  SELECT list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS ws
  FROM documents),
idx AS (SELECT ws, UNNEST(range(len(ws) - 1)) AS i FROM toks),
bg AS (SELECT ws[i + 1] AS v, ws[i + 2] AS w FROM idx),
types AS (SELECT v, w, COUNT(*) AS c_vw FROM bg GROUP BY v, w),
st AS (
  SELECT v, w, c_vw,
         CAST(SUM(c_vw) OVER (PARTITION BY v) AS BIGINT) AS c_v,
         COUNT(*) OVER (PARTITION BY v) AS n1_fwd,
         COUNT(*) OVER (PARTITION BY w) AS n1_bwd,
         COUNT(*) OVER () AS tt
  FROM types)
SELECT v, w, c_vw, c_v, n1_fwd, n1_bwd,
       ROUND(n1_bwd / tt, 6) AS pcont,
       ROUND(greatest(c_vw - 0.75, 0.0) / c_v
             + 0.75 * n1_fwd / c_v * (n1_bwd / tt), 6) AS pkn
FROM st WHERE c_vw >= 5
ORDER BY v, w
"""


def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment (dedup.dataset_split):
    md5-bucket CASE over doc ids — a document's split is a pure function
    of its id, so corpus growth never moves old rows between splits (the
    property that keeps accumulated eval sets honest).  Zero shuffle,
    zero joins; the oracle is the same CASE in SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        dataset_split,
    )

    d = _t(spark, sf_dir, "documents")
    return dataset_split(d.select("doc_id"), "doc_id").transform(_by("doc_id"))


Q_DATASET_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('split42' || CAST(doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) % 100 AS bk
  FROM documents)
SELECT doc_id,
       CASE WHEN bk < 90 THEN 'train'
            WHEN bk < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b ORDER BY doc_id
"""


def q_curriculum(spark, sf_dir):
    """Curriculum-learning deciles (curation.curriculum_buckets): corpus
    ranked by whitespace token count and cut into 10 rank-buckets via the
    exact measure histogram (metadata-sized; global ntile's one-task sort
    is the thing this operator exists to avoid).  Ties are coherent —
    equal token counts share a bucket — which is also what makes the
    assignment engine-portable."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        curriculum_buckets,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        token_count,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    return curriculum_buckets(d, "doc_id", "n_tok", n_buckets=10).transform(
        _by("doc_id")
    )


Q_CURRICULUM_SQL = f"""
WITH d AS (SELECT doc_id, {_TOK_SQL} AS n_tok FROM documents),
h AS (SELECT n_tok, COUNT(*) AS c FROM d GROUP BY n_tok),
cuts AS (
  SELECT n_tok,
         CAST(floor(10 * (SUM(c) OVER (ORDER BY n_tok
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - c)
                    / SUM(c) OVER ()) AS INT) AS bucket
  FROM h)
SELECT d.doc_id, d.n_tok, cuts.bucket
FROM d JOIN cuts USING (n_tok)
ORDER BY doc_id
"""


def q_budget_select(spark, sf_dir):
    """Token-budget corpus selection (curation.budget_select): per source,
    keep the highest-n_chars prefix whose cumulative whitespace-token cost
    stays within 700 tokens — quality-first selection under a hard
    budget, prefix semantics (an over-budget doc ends the group; no
    backfilling with smaller later docs, which keeps the set a pure
    function of the ordering).  One per-group cumsum window, output
    budget-bounded by construction."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        budget_select,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        token_count,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        token_count(F.col("text")).alias("n_tok"),
    )
    return (
        budget_select(d, "doc_id", "source", "n_chars", "n_tok", budget=700)
        .withColumn("cum_cost", F.col("cum_cost").cast("long"))
        .transform(_by("group", "id"))
    )


Q_BUDGET_SELECT_SQL = f"""
WITH d AS (
  SELECT doc_id AS id, source AS "group", n_chars AS score,
         {_TOK_SQL} AS cost
  FROM documents),
c AS (
  SELECT *, CAST(SUM(cost) OVER (PARTITION BY "group"
              ORDER BY score DESC, id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_cost
  FROM d)
SELECT id, "group", score, cost, cum_cost FROM c WHERE cum_cost <= 700
ORDER BY "group", id
"""


def q_record_linkage(spark, sf_dir):
    """Blocked record linkage over the part-name dimension
    (operators/linkage.py): distinct names, first-token blocking,
    Jaro-Winkler >= 0.8 (rounded to 4 BEFORE the threshold).  The kernel
    (kernels/compare.py jaro_winkler) is bit-identical to DuckDB's native
    jaro_winkler_similarity (pinned by tests/test_linkage.py), so this
    oracle is a true DIFFERENTIAL check between independent
    implementations, not a reimplementation of the same SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.linkage import (
        record_linkage,
    )

    p = _t(spark, sf_dir, "part")
    return record_linkage(p, "p_name", threshold=0.8).transform(
        _by("name_a", "name_b")
    )


Q_RECORD_LINKAGE_SQL = """
WITH names AS (
  SELECT DISTINCT p_name AS name, split_part(p_name, ' ', 1) AS block
  FROM part WHERE p_name IS NOT NULL),
pairs AS (
  SELECT a.name AS name_a, b.name AS name_b,
         ROUND(jaro_winkler_similarity(a.name, b.name), 4) AS jw
  FROM names a JOIN names b
    ON a.block = b.block AND a.name < b.name)
SELECT name_a, name_b, jw FROM pairs WHERE jw >= 0.8
ORDER BY name_a, name_b
"""


def q_psi_drift(spark, sf_dir):
    """Population Stability Index between two corpus snapshots
    (audit.psi_drift): even-doc_id half as the reference, odd half as
    current, n_chars binned at width 100 — the distribution-drift gate a
    platform runs between ingest snapshots.  Histograms are metadata-
    sized before anything joins; epsilon-clamped shares keep one-sided
    bins finite; ln portability is absorbed by 6-dp rounding (the JS-
    divergence discipline)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        psi_drift,
    )

    d = _t(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 2 == 0)
    cur = d.filter(F.col("doc_id") % 2 == 1)
    return psi_drift(ref, cur, "n_chars", bin_width=100).transform(_by("bin"))


Q_PSI_DRIFT_SQL = """
WITH r AS (
  SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bin, COUNT(*) AS cr
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
c AS (
  SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bin, COUNT(*) AS cc
  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
j AS (
  SELECT COALESCE(r.bin, c.bin) AS bin,
         COALESCE(cr, 0) AS cr, COALESCE(cc, 0) AS cc
  FROM r FULL OUTER JOIN c ON r.bin = c.bin),
s AS (
  SELECT bin,
         greatest(cr / SUM(cr) OVER (), 0.000001) AS pr,
         greatest(cc / SUM(cc) OVER (), 0.000001) AS pc
  FROM j)
SELECT bin, ROUND(pr, 6) AS p_ref, ROUND(pc, 6) AS p_cur,
       ROUND((pc - pr) * ln(pc / pr), 6) AS psi_term
FROM s ORDER BY bin
"""


def q_label_prop(spark, sf_dir):
    """Label-propagation communities over the user co-activity graph
    (graph.label_propagation — Raghavan et al. 2007, deterministic
    synchronous variant with min-label ties): 5 fixed rounds, each one
    join + one (dst,label) count + one per-dst argmax, the pagerank
    iteration discipline.  The oracle unrolls the identical rounds."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        coactivity_edges,
        label_propagation,
    )

    edges = _coact(spark, sf_dir)
    return label_propagation(edges, iterations=5).transform(_by("node"))


def _label_prop_sql(iterations: int = 5) -> str:
    """DuckDB twin: same co-activity edge derivation as _pagerank_sql,
    then the synchronous LPA rounds unrolled (mode of in-neighbor labels,
    ties to the smallest label, isolated nodes keep their id)."""
    its = []
    prev = "l0"
    for i in range(1, iterations + 1):
        its.append(f"""
l{i} AS (
  SELECT n.node, COALESCE(b.label, n.node) AS label
  FROM nodes n LEFT JOIN (
    SELECT dst AS node, label FROM (
      SELECT e.dst, l.label,
             ROW_NUMBER() OVER (PARTITION BY e.dst
                                ORDER BY COUNT(*) DESC, l.label ASC) AS r
      FROM edges e JOIN {prev} l ON e.src = l.node
      GROUP BY e.dst, l.label) WHERE r = 1) b
  ON n.node = b.node
)""")
        prev = f"l{i}"
    return f"""
WITH b AS (SELECT DISTINCT date_trunc('minute', ts) AS _b, user_id AS _u FROM events),
sized AS (SELECT _b, _u FROM (SELECT _b, _u, COUNT(*) OVER (PARTITION BY _b) AS _n FROM b)
          WHERE _n <= 64),
edges AS (SELECT DISTINCT l._u AS src, r._u AS dst
          FROM sized l JOIN sized r USING (_b) WHERE l._u <> r._u),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
l0 AS (SELECT node, node AS label FROM nodes),
{",".join(its)}
SELECT node, label FROM {prev} ORDER BY node
"""


def q_time_weighted(spark, sf_dir):
    """Per-user time-weighted mean of event values
    (timeseries.time_weighted_mean): step interpolation — each value
    holds until the next observation — so irregular sampling doesn't
    over-weight bursts (the metering/billing convention the reference's
    metering stage implies but never computes).  Weights are exact
    integer epoch-microsecond deltas; one lead() window + one aggregate,
    no self-join."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        time_weighted_mean,
    )

    e = _t(spark, sf_dir, "events")
    return time_weighted_mean(
        e, "user_id", "ts", "value", order_tiebreak="event_id"
    ).transform(_by("key"))


Q_TIME_WEIGHTED_SQL = """
WITH p AS (
  SELECT user_id AS key, CAST(value AS DOUBLE) AS v,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
           - epoch_us(ts) AS dt
  FROM events)
SELECT key, COUNT(*) AS n_intervals,
       CAST(SUM(dt) AS BIGINT) AS total_us,
       ROUND(SUM(v * dt) / SUM(dt), 6) AS tw_mean
FROM p WHERE dt IS NOT NULL GROUP BY key ORDER BY key
"""


def q_event_trigrams(spark, sf_dir):
    """Frequent contiguous 3-step event paths (funnel.sequence_ngrams —
    PrefixSpan-lite for the contiguous case, one level up from the
    first-order q_event_transitions matrix): chained lead() columns
    under ONE key-ordered window, one support-pruned aggregate.  Output
    is vocabulary^3-bounded regardless of corpus size."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.funnel import (
        sequence_ngrams,
    )

    e = _t(spark, sf_dir, "events")
    return sequence_ngrams(
        e, "user_id", "event_type", "ts", "event_id", n=3, min_support=5
    ).transform(_by("step_1", "step_2", "step_3"))


Q_EVENT_TRIGRAMS_SQL = """
WITH g AS (
  SELECT user_id AS k, event_type AS step_1,
         LEAD(event_type, 1) OVER w AS step_2,
         LEAD(event_type, 2) OVER w AS step_3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT step_1, step_2, step_3, COUNT(*) AS support,
       COUNT(DISTINCT k) AS n_keys
FROM g WHERE step_3 IS NOT NULL
GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5
ORDER BY step_1, step_2, step_3
"""


def q_sample_exact_k(spark, sf_dir):
    """EXACTLY-k-per-stratum deterministic sample (dedup.exact_k_sample):
    bottom-5 md5 hashes per source — eval sets and few-shot pools need
    exact sizes, which rate-based sampling can't give.  The selection is
    the KMV bottom-k rule, so it is a pure function of each stratum's
    membership.  Output is strata×k-sized at ANY corpus scale."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
        exact_k_sample,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return exact_k_sample(d, "doc_id", "source", k=5).transform(
        _by("source", "smp_rank")
    )


Q_SAMPLE_EXACT_K_SQL = """
WITH h AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5('k42' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hh
  FROM documents),
r AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY hh ASC, doc_id ASC) AS INT)
           AS smp_rank
  FROM h)
SELECT doc_id, source, smp_rank FROM r WHERE smp_rank <= 5
ORDER BY source, smp_rank
"""


def q_role_runs(spark, sf_dir):
    """Consecutive same-label run statistics per user
    (sessions.run_length_stats): the dialogue-shape audit — long
    single-type runs flag broken alternation / bot traffic.  Gaps-and-
    islands change-flag cumsum (the G2 sectionize pattern applied to
    label changes), all windows and aggregates on one key hash."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sessions import (
        run_length_stats,
    )

    e = _t(spark, sf_dir, "events")
    return run_length_stats(
        e, "user_id", "event_type", "ts", "event_id"
    ).transform(_by("key"))


Q_ROLE_RUNS_SQL = """
WITH f AS (
  SELECT user_id AS key, ts, event_id,
         CASE WHEN LAG(event_type) OVER w IS NULL
                   OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
r0 AS (
  SELECT key,
         SUM(chg) OVER (PARTITION BY key ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run
  FROM f),
runs AS (SELECT key, run, COUNT(*) AS len FROM r0 GROUP BY 1, 2)
SELECT key, COUNT(*) AS n_runs, MAX(len) AS max_run,
       ROUND(AVG(len), 6) AS mean_run
FROM runs GROUP BY key ORDER BY key
"""


def q_markov_entropy(spark, sf_dir):
    """Entropy rate of the event-type Markov chain
    (stats.transition_entropy): one number for how predictable the event
    stream is (0 = deterministic, ln(n_states) = uniform) — the
    information-theoretic audit over the same lead() pairs as
    q_event_transitions.  Per-term ln rounds at 9 dp before the sum;
    the headline rounds at 6 (the JS-divergence discipline)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        transition_entropy,
    )

    e = _t(spark, sf_dir, "events")
    return transition_entropy(e, "user_id", "event_type", "ts", "event_id")


Q_MARKOV_ENTROPY_SQL = """
WITH pairs AS (
  SELECT event_type AS prev,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events),
counts AS (
  SELECT prev, nxt, COUNT(*) AS c
  FROM pairs WHERE nxt IS NOT NULL GROUP BY 1, 2),
terms AS (
  SELECT prev, c,
         ROUND((c / SUM(c) OVER ())
               * -ln(c / SUM(c) OVER (PARTITION BY prev)), 9) AS t
  FROM counts)
SELECT COUNT(DISTINCT prev) AS n_states,
       CAST(SUM(c) AS BIGINT) AS n_transitions,
       ROUND(SUM(t), 6) AS entropy_rate,
       ROUND(ln(CAST(COUNT(DISTINCT prev) AS DOUBLE)), 6) AS max_entropy
FROM terms
"""


def q_score_calibration(spark, sf_dir):
    """Reliability-diagram table (stats.score_calibration): the
    quality_score heuristic binned into deciles against the lang=='en'
    label — the calibration audit run before trusting a classifier
    threshold (a miscalibrated cut silently changes the kept-token
    budget).  One n_bins-sized aggregate, no joins."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        quality_score,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        score_calibration,
    )

    d = _t(spark, sf_dir, "documents").select(
        quality_score(F.col("text")).alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return score_calibration(d, "s", "y", n_bins=10).transform(_by("bin"))


def _score_calibration_sql() -> str:
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        STOPWORDS,
    )

    stop = _stop_sql(STOPWORDS["en"])
    q = (
        f"ROUND(0.4 * least(CAST({_TOK_SQL} AS DOUBLE) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - least(CAST({_PUNCT_SQL} AS DOUBLE) * 4.0, 1.0))"
        f" + 0.3 * least(CAST({stop} AS DOUBLE)"
        f" / greatest({_TOK_SQL}, 1) * 5.0, 1.0), 4)"
    )
    return f"""
WITH d AS (
  SELECT {q} AS s, CAST(lang = 'en' AS INT) AS y FROM documents),
b AS (SELECT least(CAST(floor(s * 10) AS INT), 9) AS bin, s, y FROM d)
SELECT bin, COUNT(*) AS n,
       ROUND(AVG(s), 6) AS mean_score,
       ROUND(AVG(y), 6) AS pos_rate,
       ROUND(AVG(s) - AVG(y), 6) AS gap
FROM b GROUP BY bin ORDER BY bin
"""


def q_ece(spark, sf_dir):
    """Expected/maximum calibration error of the quality_score heuristic
    against the lang=='en' label (operators/stats.py ece_mce): the
    scalar alarm-gate summary of the q_score_calibration reliability
    table.  One n_bins-sized aggregate, then a 10-row reduction."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        quality_score,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        ece_mce,
    )

    d = _t(spark, sf_dir, "documents").select(
        quality_score(F.col("text")).alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return ece_mce(d, "s", "y", n_bins=10)


def _ece_sql() -> str:
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        STOPWORDS,
    )

    stop = _stop_sql(STOPWORDS["en"])
    q = (
        f"ROUND(0.4 * least(CAST({_TOK_SQL} AS DOUBLE) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - least(CAST({_PUNCT_SQL} AS DOUBLE) * 4.0, 1.0))"
        f" + 0.3 * least(CAST({stop} AS DOUBLE)"
        f" / greatest({_TOK_SQL}, 1) * 5.0, 1.0), 4)"
    )
    return f"""
WITH d AS (
  SELECT greatest(least({q}, 1.0), 0.0) AS s,
         CAST(lang = 'en' AS INT) AS y FROM documents),
g AS (SELECT least(CAST(floor(s * 10) AS INT), 9) AS bin,
             COUNT(*) AS nb, AVG(CAST(y AS DOUBLE)) AS acc, AVG(s) AS conf
      FROM d GROUP BY 1),
a AS (SELECT SUM(nb) AS n, COUNT(*) AS nbu,
             SUM(nb * ABS(acc - conf)) AS wgap,
             MAX(ABS(acc - conf)) AS mce
      FROM g)
SELECT CAST(n AS BIGINT) AS n, CAST(nbu AS BIGINT) AS n_bins_used,
       ROUND(wgap / n, 6) AS ece, ROUND(mce, 6) AS mce
FROM a
"""


def q_iv(spark, sf_dir):
    """Instrumental-variable spend-vs-engagement slope
    (operators/mlfit.py iv_2sls): per-user click count (treatment)
    instrumented by a deterministic encouragement arm (user_id%3==0)
    against per-user purchase spend (outcome), with the naive OLS
    slope and the Staiger-Stock first-stage F alongside.  ONE moment
    aggregate; closed-form algebra on the 1-row frame."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        iv_2sls,
    )

    e = _t(spark, sf_dir, "events")
    per_u = (
        e.groupBy("user_id")
        .agg(
            F.sum(
                (F.col("event_type") == "click").cast("int")
            ).cast("double").alias("x"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    )
                ),
                F.lit(0.0),
            ).alias("y"),
        )
        .withColumn("z", (F.col("user_id") % 3 == 0).cast("double"))
    )
    return iv_2sls(per_u, "y", "x", "z")


Q_IV_SQL = """
WITH per_u AS (
  SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS DOUBLE) AS x,
         COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN value END),
                  0.0) AS y,
         CAST(user_id % 3 = 0 AS INT) AS z
  FROM events GROUP BY user_id),
m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
             SUM(x * x) AS sxx, SUM(CAST(z AS DOUBLE) * z) AS szz,
             SUM(x * y) AS sxy, SUM(z * y) AS szy, SUM(z * x) AS szx
      FROM per_u),
c AS (SELECT CAST(n AS BIGINT) AS n,
             sxx - sx * sx / n AS cxx,
             szz - CAST(sz AS DOUBLE) * sz / n AS czz,
             sxy - sx * sy / n AS cxy,
             szy - sz * sy / n AS czy,
             szx - sz * sx / n AS czx
      FROM m)
SELECT n,
       ROUND(CASE WHEN cxx > 0 THEN cxy / cxx END, 6) AS beta_ols,
       ROUND(CASE WHEN ABS(czx) > 0 THEN czy / czx END, 6) AS beta_iv,
       ROUND(CASE WHEN n > 2 AND czz > 0
                   AND cxx - (czx / czz) * czx > 0
                  THEN (czx / czz) * (czx / czz) * czz
                       / ((cxx - (czx / czz) * czx) / (n - 2.0))
             END, 6) AS first_stage_f
FROM c
"""


def q_rbo(spark, sf_dir):
    """Rank-biased overlap between two document rankers
    (operators/stats.py rbo_overlap): top-50 by raw character count vs
    top-50 by whitespace token count (doc_id tiebreaks keep both
    rankings engine-portable).  The top-weighted ranker-swap audit
    Kendall's tau can't do on non-conjoint top-k lists.  Each ranking
    is a TakeOrderedAndProject (no global window over the corpus);
    RBO itself is one 50x50 equi-join + ONE aggregate against a
    literal closed-form weight array."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        token_count,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        rbo_overlap,
    )
    from pyspark.sql import Window as W

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    top_a = d.orderBy(F.col("n_chars").desc(), "doc_id").limit(50)
    top_b = d.select(
        "doc_id", token_count(F.col("text")).alias("tc")
    ).orderBy(F.col("tc").desc(), "doc_id").limit(50)
    ra = top_a.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("r"),
    )
    rb = top_b.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("tc").desc(), "doc_id"))
        .alias("r"),
    )
    return rbo_overlap(ra, rb, "doc_id", "r", depth=50, p=0.9)


def _rbo_sql() -> str:
    d, p = 50, 0.9
    weights = [
        (1.0 - p) * sum(p ** (k - 1) / k for k in range(m, d + 1))
        for m in range(1, d + 1)
    ]
    arr = ", ".join(repr(w) for w in weights)
    return f"""
WITH a AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS ra
  FROM documents QUALIFY ra <= {d}),
b AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY {_TOK_SQL} DESC, doc_id) AS rb
  FROM (SELECT doc_id, COALESCE(text, '') AS text FROM documents)
  QUALIFY rb <= {d}),
j AS (SELECT GREATEST(ra, rb) AS m FROM a JOIN b USING (doc_id))
SELECT {d} AS depth,
       CAST(COUNT(*) AS BIGINT) AS overlap_at_depth,
       ROUND(COALESCE(SUM(list_extract([{arr}], CAST(m AS INT))), 0.0), 6)
         AS rbo_min
FROM j
"""


def q_pinball(spark, sf_dir):
    """Pinball-loss scoreboard for per-source n_chars quantile
    predictions (operators/stats.py quantile_pinball): train docs
    (doc_id%5!=0) fit exact interpolated p10/p50/p90 per source; test
    docs (doc_id%5==0) are scored with the quantile loss.  One
    group-cardinality train aggregate broadcast onto the test side,
    ONE aggregate — the proper scoring rule for capacity-style
    quantile forecasts."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        quantile_pinball,
    )

    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 5 != 0)
    test = d.filter(F.col("doc_id") % 5 == 0)
    return quantile_pinball(
        train, test, "source", "n_chars", quantiles=(0.1, 0.5, 0.9)
    ).transform(_by("q"))


Q_PINBALL_SQL = """
WITH tr AS (SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.1) AS p0,
                   quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p1,
                   quantile_cont(CAST(n_chars AS DOUBLE), 0.9) AS p2
            FROM documents WHERE doc_id % 5 <> 0 AND n_chars IS NOT NULL
            GROUP BY source),
te AS (SELECT d.source, CAST(n_chars AS DOUBLE) AS y
       FROM documents d WHERE doc_id % 5 = 0 AND n_chars IS NOT NULL),
j AS (SELECT y, p0, p1, p2 FROM te JOIN tr USING (source)),
a AS (SELECT COUNT(*) AS n,
             AVG(GREATEST(0.1 * (y - p0), -0.9 * (y - p0))) AS l0,
             AVG(GREATEST(0.5 * (y - p1), -0.5 * (y - p1))) AS l1,
             AVG(GREATEST(0.9 * (y - p2), -0.1 * (y - p2))) AS l2
      FROM j)
SELECT 0.1 AS q, CAST(n AS BIGINT) AS n, ROUND(l0, 6) AS pinball FROM a
UNION ALL
SELECT 0.5, CAST(n AS BIGINT), ROUND(l1, 6) FROM a
UNION ALL
SELECT 0.9, CAST(n AS BIGINT), ROUND(l2, 6) FROM a
ORDER BY q
"""


def q_fd(spark, sf_dir):
    """Approximate functional-dependency audit source → lang
    (operators/audit.py fd_audit): the g3 "rows to delete" measure of
    how far the feed is from source determining language — the
    schema-contract check on denormalized feeds.  Two nested
    aggregates, no joins or windows."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        fd_audit,
    )

    return fd_audit(_t(spark, sf_dir, "documents"), "source", "lang")


Q_FD_SQL = """
WITH ab AS (SELECT source AS a, lang AS b, COUNT(*) AS c
            FROM documents GROUP BY 1, 2),
pa AS (SELECT a, SUM(c) AS na, MAX(c) AS ma FROM ab GROUP BY a),
ag AS (SELECT SUM(na) AS n, COUNT(*) AS n_groups,
              SUM(na - ma) AS violations
       FROM pa)
SELECT CAST(n AS BIGINT) AS n, CAST(n_groups AS BIGINT) AS n_groups,
       CAST(violations AS BIGINT) AS violations,
       ROUND(CAST(violations AS DOUBLE) / CAST(n AS DOUBLE), 6) AS g3,
       violations = 0 AS holds
FROM ag
"""


def q_theil(spark, sf_dir):
    """Theil T inequality of document lengths with between/within-source
    decomposition (operators/stats.py theil_decomposition): is corpus
    mass concentrated in a few mega-documents, and is that a between-
    source or within-source phenomenon?  The additively-decomposable
    complement to q_gini.  ONE corpus aggregate + k-row algebra."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        theil_decomposition,
    )

    return theil_decomposition(
        _t(spark, sf_dir, "documents"), "source", "n_chars"
    )


Q_THEIL_SQL = """
WITH d AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS x
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
pg AS (SELECT g, COUNT(*) AS ng, SUM(x) AS sg, SUM(x * LN(x)) AS xlg
       FROM d GROUP BY g),
a AS (SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(sg) AS s, SUM(xlg) AS xl,
             SUM(sg * LN(sg / ng)) AS slmu
      FROM pg)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       ROUND(xl / s - LN(s / n), 6) AS theil_total,
       ROUND(slmu / s - LN(s / n), 6) AS theil_between,
       ROUND((xl - slmu) / s, 6) AS theil_within
FROM a
"""


def q_raking(spark, sf_dir):
    """IPF raking weights over the (source × lang) cell table
    (operators/stats.py raking_weights, 2 unrolled passes): the survey-
    calibration weights that equalize BOTH marginals of a resampled
    corpus mix at once.  One corpus aggregate to the R×C cell frame;
    each pass is two window sums over metadata."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        raking_weights,
    )

    return raking_weights(
        _t(spark, sf_dir, "documents"), "source", "lang", iterations=2
    ).transform(_by("r", "c"))


Q_RAKING_SQL = """
WITH cells AS (SELECT source AS r, c, n FROM (
       SELECT source, lang AS c, COUNT(*) AS n FROM documents
       GROUP BY 1, 2)),
t AS (SELECT SUM(n) AS nn, COUNT(DISTINCT r) AS nr,
             COUNT(DISTINCT c) AS nc
      FROM cells),
w1 AS (SELECT r, c, n,
              1.0 * ((SELECT nn FROM t) / (SELECT nr FROM t))
              / SUM(n * 1.0) OVER (PARTITION BY r) AS w
       FROM cells),
w2 AS (SELECT r, c, n,
              w * ((SELECT nn FROM t) / (SELECT nc FROM t))
              / SUM(n * w) OVER (PARTITION BY c) AS w
       FROM w1),
w3 AS (SELECT r, c, n,
              w * ((SELECT nn FROM t) / (SELECT nr FROM t))
              / SUM(n * w) OVER (PARTITION BY r) AS w
       FROM w2),
w4 AS (SELECT r, c, n,
              w * ((SELECT nn FROM t) / (SELECT nc FROM t))
              / SUM(n * w) OVER (PARTITION BY c) AS w
       FROM w3)
SELECT r, c, CAST(n AS BIGINT) AS n, ROUND(w, 6) AS weight
FROM w4 ORDER BY r, c
"""


def q_modularity(spark, sf_dir):
    """Newman modularity of the label-propagation communities over the
    user co-activity graph (operators/graph.py modularity): the quality
    score certifying that q_label_prop's labels actually explain the
    graph (Q ≈ 0 = no better than random).  Edge-sized equi-joins onto
    the node-sized label frame; k-row algebra with the scalar edge
    count broadcast."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        coactivity_edges,
        label_propagation,
        modularity,
    )

    edges = _coact(spark, sf_dir)
    labels = label_propagation(edges, iterations=5)
    return modularity(edges, labels)


def _modularity_sql(iterations: int = 5) -> str:
    """DuckDB twin: the exact _label_prop_sql CTE chain (same edges,
    same unrolled LPA rounds), then the closed-form community sums."""
    its = []
    prev = "l0"
    for i in range(1, iterations + 1):
        its.append(f"""
l{i} AS (
  SELECT n.node, COALESCE(b.label, n.node) AS label
  FROM nodes n LEFT JOIN (
    SELECT dst AS node, label FROM (
      SELECT e.dst, l.label,
             ROW_NUMBER() OVER (PARTITION BY e.dst
                                ORDER BY COUNT(*) DESC, l.label ASC) AS r
      FROM edges e JOIN {prev} l ON e.src = l.node
      GROUP BY e.dst, l.label) WHERE r = 1) b
  ON n.node = b.node
)""")
        prev = f"l{i}"
    return f"""
WITH b AS (SELECT DISTINCT date_trunc('minute', ts) AS _b, user_id AS _u
           FROM events),
sized AS (SELECT _b, _u FROM (
            SELECT _b, _u, COUNT(*) OVER (PARTITION BY _b) AS _n FROM b)
          WHERE _n <= 64),
edges AS (SELECT DISTINCT l._u AS src, r._u AS dst
          FROM sized l JOIN sized r USING (_b) WHERE l._u <> r._u),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
l0 AS (SELECT node, node AS label FROM nodes),
{",".join(its)},
lab AS (SELECT node, label FROM {prev}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b2
        FROM edges WHERE src <> dst),
mm AS (SELECT COUNT(*) AS m FROM und),
deg AS (SELECT node, COUNT(*) AS d FROM (
          SELECT a AS node FROM und UNION ALL SELECT b2 FROM und)
        GROUP BY node),
dc AS (SELECT l.label, SUM(d) AS dsum
       FROM deg JOIN lab l ON deg.node = l.node GROUP BY l.label),
ec AS (SELECT la.label, COUNT(*) AS e
       FROM und JOIN lab la ON und.a = la.node
                JOIN lab lb ON und.b2 = lb.node
       WHERE la.label = lb.label GROUP BY la.label),
terms AS (SELECT dc.label, COALESCE(ec.e, 0) AS e, dc.dsum
          FROM dc LEFT JOIN ec ON dc.label = ec.label)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM dc) AS BIGINT) AS n_communities,
       CAST((SELECT m FROM mm) AS BIGINT) AS m_edges,
       ROUND(SUM(e / CAST(m AS DOUBLE)
                 - (dsum / (2.0 * m)) * (dsum / (2.0 * m))), 6)
         AS modularity
FROM terms, mm
"""


def q_mattr(spark, sf_dir):
    """Moving-average type-token ratio per document
    (operators/corpus.py mattr, window=25): the length-invariant
    lexical-diversity screen — computed by per-occurrence closed form
    (no window materialization), one (doc, token) lag window + one
    per-doc aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        mattr,
    )

    d = _t(spark, sf_dir, "documents")
    return mattr(d, "doc_id", "text", window=25).transform(_by("doc_id"))


Q_MATTR_SQL = f"""
WITH nm AS (SELECT doc_id, str_split({_NORM_SQL}, ' ') AS toks
            FROM documents),
tk AS (SELECT doc_id, unnest(toks) AS tok,
              generate_subscripts(toks, 1) AS pos
       FROM nm),
st AS (SELECT doc_id, pos,
              COALESCE(LAG(pos) OVER (PARTITION BY doc_id, tok
                                      ORDER BY pos), 0) AS prev,
              COUNT(*) OVER (PARTITION BY doc_id) AS len
       FROM tk),
agg AS (SELECT doc_id, MAX(len) AS len,
               SUM(GREATEST(0, LEAST(pos + 24, len)
                   - GREATEST(pos, prev + 25, 25) + 1)) AS contrib
        FROM st WHERE len >= 25 GROUP BY doc_id)
SELECT doc_id, CAST(len AS BIGINT) AS n_tokens,
       ROUND(CAST(contrib AS DOUBLE) / ((len - 25 + 1) * 25.0), 6)
         AS mattr
FROM agg ORDER BY doc_id
"""


def q_grubbs(spark, sf_dir):
    """Grubbs' max-studentized-deviation outlier test on document
    lengths (operators/stats.py grubbs_test): formally tests the single
    most extreme n_chars before excluding it — ONE aggregate with
    min/max/moments in the same pass."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        grubbs_test,
    )

    return grubbs_test(_t(spark, sf_dir, "documents"), "n_chars")


Q_GRUBBS_SQL = """
WITH a AS (SELECT COUNT(*) AS n,
                  SUM(CAST(n_chars AS DOUBLE)) AS s,
                  SUM(CAST(n_chars AS DOUBLE) * n_chars) AS q2,
                  MIN(CAST(n_chars AS DOUBLE)) AS mn,
                  MAX(CAST(n_chars AS DOUBLE)) AS mx
           FROM documents WHERE n_chars IS NOT NULL)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN n >= 3 AND (q2 - s * s / n) / (n - 1.0) > 0
                  THEN GREATEST(mx - s / n, s / n - mn)
                       / SQRT((q2 - s * s / n) / (n - 1.0))
             END, 6) AS g_stat,
       CASE WHEN mx - s / n >= s / n - mn THEN 'high' ELSE 'low' END
         AS side,
       CASE WHEN mx - s / n >= s / n - mn THEN mx ELSE mn END AS extreme
FROM a
"""


def q_dp_counts(spark, sf_dir):
    """ε-DP per-source document counts via the deterministic Laplace
    mechanism (operators/audit.py dp_noisy_counts, ε=1): reproducible
    inverse-CDF noise keyed on md5(salt||group) — the release-audit
    companion to the k-anonymity/l-diversity family.  One count
    aggregate; noise is group-cardinality arithmetic."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        dp_noisy_counts,
    )

    return dp_noisy_counts(
        _t(spark, sf_dir, "documents"), "source", epsilon=1.0
    ).transform(_by("source"))


Q_DP_COUNTS_SQL = """
WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
h AS (SELECT source, n,
             CAST(('0x' || substr(md5('dp' || CAST(source AS VARCHAR)),
                                  1, 8)) AS BIGINT) AS hv
      FROM cnt),
u AS (SELECT source, n, (hv + 0.5) / 4294967296.0 AS u FROM h)
SELECT source, CAST(n AS BIGINT) AS n,
       ROUND(n + (-1.0) * SIGN(u - 0.5) * LN(1.0 - 2.0 * ABS(u - 0.5)),
             6) AS noisy_n,
       1.0 AS epsilon
FROM u ORDER BY source
"""


def q_cronbach(spark, sf_dir):
    """Cronbach's alpha over three length-family document signals —
    character count, whitespace tokens, stopword hits
    (operators/stats.py cronbach_alpha): do the signals cohere as one
    "length" construct?  ONE aggregate with per-item and row-sum
    moments in the same pass."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        stopword_count,
        token_count,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        cronbach_alpha,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return cronbach_alpha(
        d,
        [
            F.col("n_chars").cast("double"),
            token_count(F.col("text")).cast("double"),
            stopword_count(F.col("text")).cast("double"),
        ],
    )


def _cronbach_sql() -> str:
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        STOPWORDS,
    )

    stop = _stop_sql(STOPWORDS["en"])
    return f"""
WITH it AS (SELECT CAST(n_chars AS DOUBLE) AS x0,
                   CAST({_TOK_SQL} AS DOUBLE) AS x1,
                   CAST({stop} AS DOUBLE) AS x2
            FROM (SELECT doc_id, COALESCE(text, '') AS text, n_chars
                  FROM documents)
            WHERE n_chars IS NOT NULL),
a AS (SELECT COUNT(*) AS n,
             SUM(x0) AS s0, SUM(x0 * x0) AS q0,
             SUM(x1) AS s1, SUM(x1 * x1) AS q1,
             SUM(x2) AS s2, SUM(x2 * x2) AS q2,
             SUM(x0 + x1 + x2) AS st,
             SUM((x0 + x1 + x2) * (x0 + x1 + x2)) AS qt
      FROM it)
SELECT CAST(n AS BIGINT) AS n, 3 AS k,
       ROUND(CASE WHEN qt / n - (st / n) * (st / n) > 0 THEN
         1.5 * (1.0 - ((q0 / n - (s0 / n) * (s0 / n))
                       + (q1 / n - (s1 / n) * (s1 / n))
                       + (q2 / n - (s2 / n) * (s2 / n)))
                      / (qt / n - (st / n) * (st / n)))
       END, 6) AS alpha
FROM a
"""


def q_icc(spark, sf_dir):
    """One-way intraclass correlation of per-(user, event-type) mean
    values with users as blocks (operators/stats.py icc_oneway): what
    share of metric variance is BETWEEN users?  Balanced design by
    modal measurement count; per-block moments → one block-cardinality
    aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        icc_oneway,
    )

    e = _t(spark, sf_dir, "events")
    p = (
        e.filter(F.col("value").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.avg("value").alias("v"))
    )
    return icc_oneway(p, "user_id", "v")


Q_ICC_SQL = """
WITH d AS (SELECT user_id AS b, AVG(value) AS v FROM events
           WHERE value IS NOT NULL GROUP BY user_id, event_type),
pb AS (SELECT b, COUNT(*) AS kb, SUM(v) AS sb, SUM(v * v) AS qb
       FROM d GROUP BY b),
km AS (SELECT kb AS k FROM (
         SELECT kb, COUNT(*) AS c FROM pb GROUP BY kb
         ORDER BY c DESC, kb DESC LIMIT 1)),
kept AS (SELECT pb.* FROM pb, km WHERE pb.kb = km.k),
a AS (SELECT COUNT(*) AS nb, MAX(kb) AS k, SUM(sb) AS s, SUM(qb) AS q,
             SUM(sb * sb / CAST(kb AS DOUBLE)) AS sb2
      FROM kept)
SELECT CAST(nb AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
       ROUND(CASE WHEN k > 1 AND nb > 1 AND
               ((sb2 - s * s / (nb * CAST(k AS DOUBLE))) / (nb - 1.0)
                + (k - 1.0) * ((q - sb2) / (nb * (k - 1.0)))) > 0
             THEN ((sb2 - s * s / (nb * CAST(k AS DOUBLE))) / (nb - 1.0)
                   - (q - sb2) / (nb * (k - 1.0)))
                  / ((sb2 - s * s / (nb * CAST(k AS DOUBLE))) / (nb - 1.0)
                     + (k - 1.0) * ((q - sb2) / (nb * (k - 1.0))))
             END, 6) AS icc
FROM a
"""


def q_page_hinkley(spark, sf_dir):
    """Page-Hinkley upward-drift alarm on the daily event-volume series
    (operators/timeseries.py page_hinkley, δ=0, λ=500): the streaming
    CUSUM complement to the retrospective q_changepoint fit.  The
    corpus collapses to a per-day frame first; the three cumulative
    windows ride metadata."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        page_hinkley,
    )

    e = _t(spark, sf_dir, "events")
    s = e.groupBy(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("t")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    return page_hinkley(s, "t", "x", delta=0.0, lam=500.0)


Q_PAGE_HINKLEY_SQL = """
WITH s AS (SELECT strftime(ts, '%Y-%m-%d') AS t,
                  CAST(COUNT(*) AS DOUBLE) AS x
           FROM events GROUP BY 1),
w1 AS (SELECT t, x, AVG(x) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
         PRECEDING AND CURRENT ROW) AS mu FROM s),
w2 AS (SELECT t, SUM(x - mu) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
         PRECEDING AND CURRENT ROW) AS m FROM w1),
w3 AS (SELECT t, m - MIN(m) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
         PRECEDING AND CURRENT ROW) AS ph FROM w2)
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(MAX(ph), 6) AS ph_max,
       MIN(CASE WHEN ph > 500.0 THEN t END) AS alarm_at
FROM w3
"""


def q_ad_uniform(spark, sf_dir):
    """Anderson-Darling uniformity audit of the md5 hash-sampler values
    on a bounded doc sample (operators/audit.py ad_uniformity): the
    tail-sensitive certification that hash_sample/dataset_split u's
    are actually uniform.  One row_number window over the audit sample
    + ONE aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        ad_uniformity,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 0)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ad"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long").cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    return ad_uniformity(d.select("doc_id", u.alias("u")), "u", "doc_id")


Q_AD_UNIFORM_SQL = """
WITH d AS (SELECT doc_id,
                  (CAST(('0x' || substr(md5('ad' ||
                     CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
                  / 4294967296.0 AS u
           FROM documents WHERE doc_id % 17 = 0),
f AS (SELECT u, doc_id FROM d WHERE u > 0 AND u < 1),
rk AS (SELECT u, CAST(ROW_NUMBER() OVER (ORDER BY u, doc_id) AS DOUBLE)
                 AS j,
              COUNT(*) OVER () AS n
       FROM f),
a AS (SELECT MAX(n) AS n,
             SUM((2.0 * j - 1.0) * LN(u)
                 + (2.0 * (n - j) + 1.0) * LN(1.0 - u)) AS s
      FROM rk)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(-CAST(n AS DOUBLE) - s / n, 6) AS a2,
       (-CAST(n AS DOUBLE) - s / n) < 2.492 AS uniform_ok
FROM a
"""


def q_lda(spark, sf_dir):
    """Fisher linear discriminant separating English documents from the
    rest on (token count, stopword hits) (operators/mlfit.py
    lda_fisher2): the closed-form moment-algebra classifier baseline
    next to the Newton-fit q_platt — per-class moments in ONE
    aggregate, 2×2 inverse on the 1-row frame, one literal-folded
    scoring pass for training accuracy."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        stopword_count,
        token_count,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        lda_fisher2,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return lda_fisher2(
        d,
        (F.col("lang") == "en"),
        token_count(F.col("text")),
        stopword_count(F.col("text")),
    )


def _lda_sql() -> str:
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        STOPWORDS,
    )

    stop = _stop_sql(STOPWORDS["en"])
    return f"""
WITH d AS (SELECT CAST(lang = 'en' AS INT) AS y,
                  CAST({_TOK_SQL} AS DOUBLE) AS x1,
                  CAST({stop} AS DOUBLE) AS x2
           FROM (SELECT COALESCE(text, '') AS text, lang
                 FROM documents)),
pc AS (SELECT y, COUNT(*) AS n, SUM(x1) AS s1, SUM(x2) AS s2,
              SUM(x1 * x1) AS q11, SUM(x1 * x2) AS q12,
              SUM(x2 * x2) AS q22
       FROM d GROUP BY y),
w AS (SELECT
        MAX(CASE WHEN y = 0 THEN CAST(n AS DOUBLE) END) AS n0,
        MAX(CASE WHEN y = 1 THEN CAST(n AS DOUBLE) END) AS n1,
        MAX(CASE WHEN y = 0 THEN s1 END) AS s10,
        MAX(CASE WHEN y = 0 THEN s2 END) AS s20,
        MAX(CASE WHEN y = 1 THEN s1 END) AS s11_,
        MAX(CASE WHEN y = 1 THEN s2 END) AS s21_,
        MAX(CASE WHEN y = 0 THEN q11 END) AS q110,
        MAX(CASE WHEN y = 0 THEN q12 END) AS q120,
        MAX(CASE WHEN y = 0 THEN q22 END) AS q220,
        MAX(CASE WHEN y = 1 THEN q11 END) AS q111,
        MAX(CASE WHEN y = 1 THEN q12 END) AS q121,
        MAX(CASE WHEN y = 1 THEN q22 END) AS q221
      FROM pc),
m AS (SELECT n0, n1,
             s10 / n0 AS a1, s20 / n0 AS a2,
             s11_ / n1 AS b1, s21_ / n1 AS b2,
             (q110 - n0 * (s10 / n0) * (s10 / n0))
               + (q111 - n1 * (s11_ / n1) * (s11_ / n1)) AS sw11,
             (q120 - n0 * (s10 / n0) * (s20 / n0))
               + (q121 - n1 * (s11_ / n1) * (s21_ / n1)) AS sw12,
             (q220 - n0 * (s20 / n0) * (s20 / n0))
               + (q221 - n1 * (s21_ / n1) * (s21_ / n1)) AS sw22
      FROM w),
p AS (SELECT n0, n1, a1, a2, b1, b2,
             (sw22 * (b1 - a1) - sw12 * (b2 - a2))
               / (sw11 * sw22 - sw12 * sw12) AS w1,
             (-sw12 * (b1 - a1) + sw11 * (b2 - a2))
               / (sw11 * sw22 - sw12 * sw12) AS w2
      FROM m),
pp AS (SELECT n0, n1, w1, w2,
              w1 * (a1 + b1) / 2.0 + w2 * (a2 + b2) / 2.0 AS c
       FROM p),
acc AS (SELECT AVG(CASE WHEN (w1 * x1 + w2 * x2 > c) = (y = 1)
                        THEN 1.0 ELSE 0.0 END) AS a
        FROM d, pp)
SELECT CAST(n0 + n1 AS BIGINT) AS n, CAST(n1 AS BIGINT) AS n1,
       ROUND(w1, 6) AS w1, ROUND(w2, 6) AS w2, ROUND(c, 6) AS c,
       ROUND(a, 6) AS accuracy
FROM pp, acc
"""


def q_mahalanobis(spark, sf_dir):
    """Mahalanobis D² outlier screen over (n_chars, token count)
    (operators/mlfit.py mahalanobis_outliers, χ²(2) 1% fence): the
    correlation-aware joint fence that catches points inside both
    marginal MAD fences but off the length ridge.  ONE moment
    aggregate, closed-form 2×2 inverse, one literal-folded scoring
    aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        token_count,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        mahalanobis_outliers,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return mahalanobis_outliers(
        d, F.col("n_chars"), token_count(F.col("text"))
    )


Q_MAHALANOBIS_SQL = f"""
WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS x1,
                  CAST({_TOK_SQL} AS DOUBLE) AS x2
           FROM (SELECT COALESCE(text, '') AS text, n_chars
                 FROM documents)
           WHERE n_chars IS NOT NULL),
m AS (SELECT COUNT(*) AS n, AVG(x1) AS m1, AVG(x2) AS m2,
             SUM(x1 * x1) AS q11, SUM(x1 * x2) AS q12,
             SUM(x2 * x2) AS q22
      FROM d),
c AS (SELECT n, m1, m2,
             (q11 - n * m1 * m1) / (n - 1.0) AS c11,
             (q12 - n * m1 * m2) / (n - 1.0) AS c12,
             (q22 - n * m2 * m2) / (n - 1.0) AS c22
      FROM m),
i AS (SELECT n, m1, m2,
             c22 / (c11 * c22 - c12 * c12) AS i11,
             -c12 / (c11 * c22 - c12 * c12) AS i12,
             c11 / (c11 * c22 - c12 * c12) AS i22
      FROM c),
sc AS (SELECT i.n, i11 * (x1 - m1) * (x1 - m1)
              + 2.0 * i12 * (x1 - m1) * (x2 - m2)
              + i22 * (x2 - m2) * (x2 - m2) AS d2
       FROM d, i)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN d2 > 9.21034 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       ROUND(SUM(CASE WHEN d2 > 9.21034 THEN 1 ELSE 0 END)
             / CAST(MAX(n) AS DOUBLE), 6) AS outlier_rate,
       ROUND(MAX(d2), 6) AS d2_max
FROM sc
"""


def q_holm(spark, sf_dir):
    """Holm step-down family-wise correction over the 45 per-source-
    pair English-rate z-tests (operators/stats.py holm_bonferroni,
    α=0.05): the FWER companion to q_fdr_correction's BH-FDR on the
    SAME hypothesis family — p-values from the certified rounded z via
    the A&S 7.1.26 tail both engines evaluate identically."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        holm_bonferroni,
        normal_sf,
        prop_ztest_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    zt = prop_ztest_pairs(d, "source", F.col("lang") == "en").filter(
        F.col("z").isNotNull()
    )
    withp = zt.select(
        "group_a",
        "group_b",
        F.round(F.lit(2.0) * normal_sf(F.abs(F.col("z"))), 6).alias("p"),
    )
    return (
        holm_bonferroni(withp, "p", ["group_a", "group_b"], alpha=0.05)
        .select("group_a", "group_b", "p", "p_rank", "m", "p_adj", "reject")
        .transform(_by("group_a", "group_b"))
    )


Q_HOLM_SQL = """
WITH g AS (
  SELECT source AS g, COUNT(*) AS n,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM documents GROUP BY 1),
pr AS (
  SELECT a.g AS group_a, b.g AS group_b,
         CAST(a.s AS DOUBLE) / a.n AS p1, CAST(b.s AS DOUBLE) / b.n AS p2,
         CAST(a.s + b.s AS DOUBLE) / (a.n + b.n) AS pp,
         a.n AS n_a, b.n AS n_b
  FROM g a JOIN g b ON a.g < b.g),
zt AS (
  SELECT group_a, group_b,
         ROUND(CASE WHEN pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b) > 0
                    THEN (p1 - p2)
                         / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b))
               END, 6) AS z
  FROM pr),
pv AS (
  SELECT group_a, group_b,
         ROUND(2 * (exp(-0.5 * abs(z) * abs(z)) / 2.5066282746310002)
                 * ((1.0 / (1.0 + 0.2316419 * abs(z)))
                    * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                       * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                          * (1.781477937
                             + (1.0 / (1.0 + 0.2316419 * abs(z)))
                               * (-1.821255978
                                  + (1.0 / (1.0 + 0.2316419 * abs(z)))
                                    * 1.330274429))))), 6) AS p
  FROM zt WHERE z IS NOT NULL),
rk AS (
  SELECT group_a, group_b, p,
         CAST(ROW_NUMBER() OVER (ORDER BY p, group_a, group_b) AS INT)
           AS p_rank,
         COUNT(*) OVER () AS m
  FROM pv),
adj AS (
  SELECT *, ROUND(MAX(LEAST(1.0, (m - p_rank + 1) * p))
                    OVER (ORDER BY p_rank ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW), 6) AS p_adj
  FROM rk)
SELECT group_a, group_b, p, p_rank, m, p_adj,
       p_adj <= 0.05 AS reject
FROM adj ORDER BY group_a, group_b
"""


def q_exp_fit(spark, sf_dir):
    """Exponential inter-arrival fit + one-sample KS on a bounded
    audit sample of per-user event gaps (operators/stats.py
    exp_interarrival_fit): are arrivals memoryless, formally — the
    test behind every queueing/capacity assumption and the q_burstiness
    narrative.  One lead() window builds gaps; the KS rank window rides
    only the audit sample."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        exp_interarrival_fit,
    )
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 13 == 0)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "event_id",
        (
            (
                F.lead(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
                - F.unix_micros(F.col("ts").cast("timestamp"))
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    return exp_interarrival_fit(gaps, "g", "event_id")


Q_EXP_FIT_SQL = """
WITH gp AS (SELECT event_id,
                   (LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) - epoch_us(ts))
                   / 1000000.0 AS g
            FROM events WHERE user_id % 13 = 0),
f AS (SELECT g, event_id FROM gp WHERE g IS NOT NULL AND g > 0),
m AS (SELECT AVG(g) AS mu, COUNT(*) AS n FROM f),
rk AS (SELECT g, mu, n,
              CAST(ROW_NUMBER() OVER (ORDER BY g, event_id) AS DOUBLE)
                AS j
       FROM f, m),
a AS (SELECT MAX(n) AS n, MAX(mu) AS mu,
             MAX(GREATEST(j / n - (1.0 - EXP(-g / mu)),
                          (1.0 - EXP(-g / mu)) - (j - 1.0) / n)) AS d
      FROM rk)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(1.0 / mu, 6) AS lambda_hat,
       ROUND(d, 6) AS ks_d,
       ROUND(SQRT(CAST(n AS DOUBLE)) * d, 6) AS sqrt_n_d
FROM a
"""


def q_overdispersion(spark, sf_dir):
    """Binomial overdispersion of per-source English rates
    (operators/stats.py binomial_overdispersion): is a pooled rate even
    meaningful, or do sources carry genuinely different rates (φ ≫ 1)?
    The one-number heterogeneity screen before q_prop_ztest dashboards.
    ONE corpus aggregate + k-row algebra."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        binomial_overdispersion,
    )

    return binomial_overdispersion(
        _t(spark, sf_dir, "documents"), "source", F.col("lang") == "en"
    )


Q_OVERDISPERSION_SQL = """
WITH g AS (SELECT source, COUNT(*) AS ng,
                  SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS sg
           FROM documents GROUP BY source),
t AS (SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(sg) AS s FROM g),
x AS (SELECT SUM((sg - ng * (CAST(s AS DOUBLE) / n))
                 * (sg - ng * (CAST(s AS DOUBLE) / n))
                 / (ng * (CAST(s AS DOUBLE) / n)
                    * (1.0 - CAST(s AS DOUBLE) / n))) AS x2
      FROM g, t)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       ROUND(CAST(s AS DOUBLE) / n, 6) AS p_bar,
       ROUND(CASE WHEN k > 1 AND s > 0 AND s < n THEN x2 END, 6) AS x2,
       ROUND(CASE WHEN k > 1 AND s > 0 AND s < n
                  THEN x2 / (k - 1.0) END, 6) AS phi
FROM t, x
"""


def q_info_gain(spark, sf_dir):
    """Information-gain ranking of three cheap document signals against
    the lang=='en' label (operators/mlfit.py info_gain_ranking): which
    signal most reduces label uncertainty — the feature-triage
    generalization of q_mutual_info.  Features melt through ONE inline
    array explode; two nested aggregates."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        stopword_count,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        info_gain_ranking,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    feats = {
        "len_bucket": F.least(
            F.floor(F.col("n_chars") / 700), F.lit(3)
        ),
        "source": F.col("source"),
        "stop_bucket": F.least(
            F.floor(stopword_count(F.col("text")) / 10), F.lit(3)
        ),
    }
    return info_gain_ranking(
        d, F.col("lang") == "en", feats
    ).transform(_by("feature"))


def _info_gain_sql() -> str:
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        STOPWORDS,
    )

    stop = _stop_sql(STOPWORDS["en"])
    return f"""
WITH base AS (
  SELECT CAST(lang = 'en' AS VARCHAR) AS y,
         CAST(LEAST(CAST(FLOOR(n_chars / 700.0) AS BIGINT), 3)
              AS VARCHAR) AS len_bucket,
         source,
         CAST(LEAST(CAST(FLOOR({stop} / 10.0) AS BIGINT), 3)
              AS VARCHAR) AS stop_bucket
  FROM (SELECT COALESCE(text, '') AS text, lang, source, n_chars
        FROM documents)),
m AS (SELECT 'len_bucket' AS f, len_bucket AS v, y FROM base
      UNION ALL SELECT 'source', source, y FROM base
      UNION ALL SELECT 'stop_bucket', stop_bucket, y FROM base),
fvl AS (SELECT f, v, y, COUNT(*) AS c FROM m GROUP BY 1, 2, 3),
st AS (SELECT f, c,
              SUM(c) OVER (PARTITION BY f, v) AS nv,
              SUM(c) OVER (PARTITION BY f) AS nf
       FROM fvl),
pf AS (SELECT f AS feature,
              SUM(-(CAST(c AS DOUBLE) / nf)
                  * LN(CAST(c AS DOUBLE) / nv)) AS hc
       FROM st GROUP BY f),
hl AS (SELECT SUM(-(CAST(cy AS DOUBLE) / tot)
                  * LN(CAST(cy AS DOUBLE) / tot)) AS h
       FROM (SELECT y, COUNT(*) AS cy, SUM(COUNT(*)) OVER () AS tot
             FROM base GROUP BY y))
SELECT feature, ROUND(h - hc, 6) AS ig,
       CAST(ROW_NUMBER() OVER (ORDER BY ROUND(h - hc, 6) DESC, feature)
            AS INT) AS rank
FROM pf, hl ORDER BY feature
"""


def q_extreme_value(spark, sf_dir):
    """Gumbel extreme-value fit over daily PEAK hourly event volumes
    (operators/timeseries.py gumbel_fit): the once-per-30-days return
    level a capacity planner provisions for — method-of-moments on the
    block-maxima series, which is metadata-sized after two aggregates."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        gumbel_fit,
    )

    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("d"),
        F.hour(F.col("ts")).alias("h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    daily_max = hourly.groupBy("d").agg(
        F.max("c").cast("double").alias("x")
    )
    return gumbel_fit(daily_max, "x", return_period=30.0)


Q_EXTREME_VALUE_SQL = """
WITH hourly AS (SELECT strftime(ts, '%Y-%m-%d') AS d,
                       EXTRACT(hour FROM ts) AS h, COUNT(*) AS c
                FROM events GROUP BY 1, 2),
dm AS (SELECT d, CAST(MAX(c) AS DOUBLE) AS x FROM hourly GROUP BY d),
a AS (SELECT COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS q FROM dm),
f AS (SELECT n, s / n AS mean,
             SQRT((q - s * s / n) / (n - 1.0))
               * 0.7796968012336793 AS beta
      FROM a)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN n > 1 AND beta > 0
                  THEN mean - 0.5772156649015329 * beta END, 6) AS mu,
       ROUND(CASE WHEN n > 1 AND beta > 0 THEN beta END, 6) AS beta,
       ROUND(CASE WHEN n > 1 AND beta > 0
                  THEN (mean - 0.5772156649015329 * beta)
                       - beta * LN(-LN(1.0 - 1.0 / 30.0)) END, 6)
         AS return_level
FROM f
"""


def q_avg_precision(spark, sf_dir):
    """Average precision of the quality_score heuristic ranking against
    the lang=='en' label (operators/stats.py average_precision): the
    PR-curve summary that q_roc_auc's AUC inflates on rare positives.
    Per-distinct-score counts + one cumulative window (the mann_whitney
    value-cardinality discipline)."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        quality_score,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        average_precision,
    )

    d = _t(spark, sf_dir, "documents").select(
        quality_score(F.col("text")).alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return average_precision(d, "s", "y")


def q_threshold_select(spark, sf_dir):
    """Cost-optimal and Youden-J operating points for the quality_score
    filter (operators/stats.py threshold_select, FN cost 2× FP): the
    deploy-the-filter step after q_score_calibration says the scores
    are trustworthy.  Same distinct-threshold frame as
    q_avg_precision; two argmin/argmax structs in ONE aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        quality_score,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        threshold_select,
    )

    d = _t(spark, sf_dir, "documents").select(
        quality_score(F.col("text")).alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return threshold_select(d, "s", "y", c_fp=1.0, c_fn=2.0)


def _pr_threshold_cte() -> str:
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        STOPWORDS,
    )

    stop = _stop_sql(STOPWORDS["en"])
    q = (
        f"ROUND(0.4 * least(CAST({_TOK_SQL} AS DOUBLE) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - least(CAST({_PUNCT_SQL} AS DOUBLE) * 4.0, 1.0))"
        f" + 0.3 * least(CAST({stop} AS DOUBLE)"
        f" / greatest({_TOK_SQL}, 1) * 5.0, 1.0), 4)"
    )
    return f"""
WITH d AS (SELECT {q} AS s, CAST(lang = 'en' AS INT) AS y
           FROM documents),
ps AS (SELECT s AS t, SUM(y) AS pos, SUM(1 - y) AS neg FROM d
       GROUP BY s),
cu AS (SELECT t, pos, neg,
              SUM(pos) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS tp,
              SUM(neg) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS fp,
              SUM(pos) OVER () AS p_tot,
              SUM(pos + neg) OVER () AS n_tot
       FROM ps)"""


def _avg_precision_sql() -> str:
    return _pr_threshold_cte() + """
SELECT CAST(MAX(n_tot) AS BIGINT) AS n,
       CAST(MAX(p_tot) AS BIGINT) AS n_pos,
       ROUND(SUM((CAST(pos AS DOUBLE) / p_tot)
                 * (CAST(tp AS DOUBLE) / (tp + fp))), 6) AS ap
FROM cu
"""


def _threshold_select_sql() -> str:
    return _pr_threshold_cte() + """,
bc AS (SELECT t AS thr_cost,
              1.0 * fp + 2.0 * (p_tot - tp) AS cost
       FROM cu ORDER BY cost, t LIMIT 1),
bj AS (SELECT t AS thr_j,
              CAST(tp AS DOUBLE) / p_tot
                - CAST(fp AS DOUBLE) / (n_tot - p_tot) AS j
       FROM cu ORDER BY j DESC, t LIMIT 1),
tot AS (SELECT CAST(MAX(n_tot) AS BIGINT) AS n,
               CAST(MAX(p_tot) AS BIGINT) AS n_pos
        FROM cu)
SELECT n, n_pos, thr_cost, ROUND(cost, 6) AS cost, thr_j,
       ROUND(j, 6) AS j
FROM tot, bc, bj
"""


def q_negbin(spark, sf_dir):
    """Negative-binomial fit of per-user purchase counts
    (operators/stats.py negbin_fit): the overdispersion-correct count
    model for user activity (VMR ≫ 1 breaks Poisson capacity math).
    One per-user aggregate then ONE moment aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        negbin_fit,
    )

    e = _t(spark, sf_dir, "events")
    per_u = e.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("c")
    )
    return negbin_fit(per_u, "c")


Q_NEGBIN_SQL = """
WITH per_u AS (SELECT CAST(SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) AS DOUBLE) AS c
               FROM events GROUP BY user_id),
a AS (SELECT COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS q FROM per_u),
f AS (SELECT n, s / n AS mu,
             (q - s * s / n) / (n - 1.0) AS var
      FROM a)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(mu, 6) AS mean,
       ROUND(CASE WHEN n > 1 AND mu > 0 THEN var / mu END, 6) AS vmr,
       ROUND(CASE WHEN n > 1 AND var > mu AND mu > 0
                  THEN mu * mu / (var - mu) END, 6) AS r,
       ROUND(CASE WHEN n > 1 AND var > mu AND mu > 0
                  THEN mu / var END, 6) AS p
FROM f
"""


def q_zero_inflation(spark, sf_dir):
    """Zero-inflation screen on per-user purchase counts
    (operators/stats.py zero_inflation_check): are never-converting
    users a separate regime (observed zeros ≫ Poisson-expected)?
    ONE aggregate after the per-user count frame."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        zero_inflation_check,
    )

    e = _t(spark, sf_dir, "events")
    per_u = e.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("c")
    )
    return zero_inflation_check(per_u, "c")


Q_ZERO_INFLATION_SQL = """
WITH per_u AS (SELECT CAST(SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) AS DOUBLE) AS c
               FROM events GROUP BY user_id),
a AS (SELECT COUNT(*) AS n, AVG(c) AS mu,
             SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS z
      FROM per_u)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(mu, 6) AS lambda_hat,
       CAST(z AS BIGINT) AS zeros_obs,
       ROUND(n * EXP(-mu), 6) AS zeros_exp,
       ROUND(CASE WHEN n * EXP(-mu) > 0
                  THEN CAST(z AS DOUBLE) / (n * EXP(-mu)) END, 6)
         AS inflation
FROM a
"""


def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test on the up-day/down-day indicator of
    daily event volume (operators/stats.py runs_test): are daily moves
    serially independent, formally — the i.i.d. sanity check behind
    any daily-rate control band.  The corpus collapses to per-day
    counts; both windows ride metadata."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        runs_test,
    )
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = W.orderBy("d")
    flagged = daily.select(
        "d", (F.col("c") > F.lag("c").over(w)).cast("int").alias("up")
    ).filter(F.col("up").isNotNull())
    return runs_test(flagged, "d", "up")


Q_RUNS_TEST_SQL = """
WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS d, COUNT(*) AS c
               FROM events GROUP BY 1),
fl AS (SELECT d, CAST(c > LAG(c) OVER (ORDER BY d) AS INT) AS up
       FROM daily),
f AS (SELECT d, up FROM fl WHERE up IS NOT NULL),
st AS (SELECT up,
              COALESCE(CAST(up <> LAG(up) OVER (ORDER BY d) AS INT), 1)
                AS nw
       FROM f),
a AS (SELECT COUNT(*) AS n, SUM(up) AS n1, SUM(nw) AS r FROM st),
g AS (SELECT n, n1, r,
             CAST(n AS DOUBLE) AS nd, CAST(n1 AS DOUBLE) AS n1d
      FROM a)
SELECT CAST(n AS BIGINT) AS n, CAST(n1 AS BIGINT) AS n1,
       CAST(r AS BIGINT) AS runs,
       ROUND(CASE WHEN n1 > 0 AND n1 < n AND
               2.0 * n1d * (nd - n1d) * (2.0 * n1d * (nd - n1d) - nd)
               / (nd * nd * (nd - 1.0)) > 0
             THEN (r - (2.0 * n1d * (nd - n1d) / nd + 1.0))
                  / SQRT(2.0 * n1d * (nd - n1d)
                         * (2.0 * n1d * (nd - n1d) - nd)
                         / (nd * nd * (nd - 1.0)))
             END, 6) AS z
FROM g
"""


def q_rich_club(spark, sf_dir):
    """Rich-club coefficient of the user co-activity graph
    (operators/graph.py rich_club): do heavy users form a connected
    core (bot-ring signature) or independent hubs?  Thresholds explode
    from a literal array onto the metadata-sized degree/edge frames —
    no per-threshold scans."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        coactivity_edges,
        rich_club,
    )

    edges = _coact(spark, sf_dir)
    return rich_club(edges, thresholds=(2, 4, 8, 16)).transform(_by("k"))


Q_RICH_CLUB_SQL = """
WITH b AS (SELECT DISTINCT date_trunc('minute', ts) AS _b, user_id AS _u
           FROM events),
sized AS (SELECT _b, _u FROM (
            SELECT _b, _u, COUNT(*) OVER (PARTITION BY _b) AS _n FROM b)
          WHERE _n <= 64),
edges AS (SELECT DISTINCT l._u AS src, r._u AS dst
          FROM sized l JOIN sized r USING (_b) WHERE l._u <> r._u),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b2
        FROM edges WHERE src <> dst),
deg AS (SELECT node, COUNT(*) AS d FROM (
          SELECT a AS node FROM und UNION ALL SELECT b2 FROM und)
        GROUP BY node),
ks AS (SELECT UNNEST([2, 4, 8, 16]) AS k),
nk AS (SELECT k, COUNT(*) AS n_nodes FROM deg, ks WHERE d > k
       GROUP BY k),
ej AS (SELECT u.a, u.b2, da.d AS dda, db.d AS ddb
       FROM und u JOIN deg da ON u.a = da.node
                  JOIN deg db ON u.b2 = db.node),
ek AS (SELECT k, COUNT(*) AS n_edges FROM ej, ks
       WHERE dda > k AND ddb > k GROUP BY k)
SELECT nk.k, CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(COALESCE(n_edges, 0) AS BIGINT) AS n_edges,
       ROUND(CASE WHEN n_nodes > 1
                  THEN 2.0 * COALESCE(n_edges, 0)
                       / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1.0))
             END, 6) AS phi
FROM nk LEFT JOIN ek ON nk.k = ek.k ORDER BY nk.k
"""


def q_yules_k(spark, sf_dir):
    """Yule's characteristic K per source (operators/corpus.py
    yules_k): the length-invariant repetitiveness constant — high K
    flags templated/spammy sources.  (source, token) counts then ONE
    per-source aggregate; Σm²V_m collapses to a plain square sum."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        yules_k,
    )

    d = _t(spark, sf_dir, "documents")
    return yules_k(d, "source", "text").transform(_by("source"))


Q_YULES_K_SQL = f"""
WITH toks AS (SELECT source AS g,
                     unnest(list_filter(str_split({_NORM_SQL}, ' '),
                                        x -> x <> '')) AS w
              FROM documents),
wf AS (SELECT g, w, COUNT(*) AS f FROM toks GROUP BY 1, 2),
a AS (SELECT g AS source, SUM(f) AS n_tokens, COUNT(*) AS vocab,
             SUM(CAST(f AS DOUBLE) * f) AS f2
      FROM wf GROUP BY g)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(vocab AS BIGINT) AS vocab,
       ROUND(CASE WHEN n_tokens > 0
                  THEN 10000.0 * (f2 - n_tokens)
                       / (CAST(n_tokens AS DOUBLE) * n_tokens)
             END, 6) AS k
FROM a ORDER BY source
"""


def q_rfm(spark, sf_dir):
    """RFM engagement segmentation of users (operators/funnel.py
    rfm_segments, 5 quantile tiles per axis): the recency/frequency/
    monetary grid with deterministic total-order NTILE assignment.
    One corpus aggregate to the user frame; windows ride users, not
    events."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.funnel import (
        rfm_segments,
    )

    e = _t(spark, sf_dir, "events")
    return rfm_segments(e, "user_id", "ts", "value", n_tiles=5).transform(
        _by("segment")
    )


Q_RFM_SQL = """
WITH per_u AS (SELECT user_id AS u, MAX(epoch_us(ts)) AS last_us,
                      COUNT(*) AS f, COALESCE(SUM(value), 0.0) AS m
               FROM events GROUP BY user_id),
rfm AS (SELECT u, f, m,
               (MAX(last_us) OVER () - last_us) / 1000000.0 AS r
        FROM per_u),
tiled AS (SELECT u, f, m,
                 NTILE(5) OVER (ORDER BY r ASC, u) AS tr,
                 NTILE(5) OVER (ORDER BY f DESC, u) AS tf,
                 NTILE(5) OVER (ORDER BY m DESC, u) AS tm
          FROM rfm)
SELECT CAST(tr AS VARCHAR) || '-' || CAST(tf AS VARCHAR) || '-'
         || CAST(tm AS VARCHAR) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(AVG(CAST(f AS DOUBLE)), 6) AS avg_frequency,
       ROUND(AVG(m), 6) AS avg_monetary
FROM tiled GROUP BY 1 ORDER BY segment
"""


def q_cem(spark, sf_dir):
    """Coarsened-exact-matching ATT of the encouragement cohort on
    per-user spend (operators/mlfit.py cem_att): activity-bucket ×
    has-clicked strata, controls reweighted per stratum — the
    deterministic matching counterpoint to q_ipw_ate.  One aggregate
    to the user frame, one to strata, closed form after."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        cem_att,
    )

    e = _t(spark, sf_dir, "events")
    per_u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("f"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
            F.lit(0.0),
        ).alias("y"),
        F.max((F.col("event_type") == "click").cast("int")).alias("hc"),
    )
    per_u = per_u.withColumn(
        "fb", F.least(F.floor(F.col("f") / 20), F.lit(5))
    ).withColumn("t", (F.col("user_id") % 3 == 0).cast("int"))
    return cem_att(per_u, "t", "y", ["fb", "hc"])


Q_CEM_SQL = """
WITH per_u AS (SELECT user_id, COUNT(*) AS f,
                      COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                        THEN value END), 0.0) AS y,
                      MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                          END) AS hc
               FROM events GROUP BY user_id),
st AS (SELECT LEAST(CAST(FLOOR(f / 20.0) AS BIGINT), 5) AS fb, hc,
              CAST(user_id % 3 = 0 AS INT) AS t, y
       FROM per_u),
cell AS (SELECT fb, hc, SUM(t) AS mt, SUM(1 - t) AS mc,
                SUM(y * t) AS syt, SUM(y * (1 - t)) AS syc
         FROM st GROUP BY fb, hc),
m AS (SELECT * FROM cell WHERE mt > 0 AND mc > 0),
a AS (SELECT COUNT(*) AS ns, SUM(mt) AS nt, SUM(mc) AS nc,
             SUM(syt) AS syt,
             SUM(CAST(mt AS DOUBLE) / mc * syc) AS wyc
      FROM m)
SELECT CAST(ns AS BIGINT) AS n_strata_matched,
       CAST(nt AS BIGINT) AS n_treated,
       CAST(nc AS BIGINT) AS n_control,
       ROUND(CASE WHEN nt > 0
                  THEN syt / CAST(nt AS DOUBLE) - wyc / CAST(nt AS DOUBLE)
             END, 6) AS att
FROM a
"""


def q_evalue(spark, sf_dir):
    """E-value robustness caption for the encouragement-cohort
    conversion risk ratio (operators/stats.py evalue_rr): how strong
    would an unmeasured confounder have to be to explain the observed
    RR away?  One user-frame aggregate, closed form."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        evalue_rr,
    )

    e = _t(spark, sf_dir, "events")
    per_u = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("y")
    ).withColumn("t", (F.col("user_id") % 3 == 0).cast("int"))
    return evalue_rr(per_u, "t", "y")


Q_EVALUE_SQL = """
WITH per_u AS (SELECT user_id,
                      MAX(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END) AS y
               FROM events GROUP BY user_id),
st AS (SELECT CAST(user_id % 3 = 0 AS INT) AS t, y FROM per_u),
a AS (SELECT COUNT(*) AS n, SUM(t) AS nt, SUM(1 - t) AS nc,
             SUM(t * y) AS s1, SUM((1 - t) * y) AS s0
      FROM st),
r AS (SELECT n, CAST(s1 AS DOUBLE) / nt AS p1,
             CAST(s0 AS DOUBLE) / nc AS p0
      FROM a),
rr AS (SELECT n, p1, p0,
              CASE WHEN p1 > 0 AND p0 > 0 THEN p1 / p0 END AS rr
       FROM r),
ev AS (SELECT n, p1, p0, rr,
              CASE WHEN rr >= 1 THEN rr ELSE 1.0 / rr END AS rs
       FROM rr)
SELECT CAST(n AS BIGINT) AS n, ROUND(p1, 6) AS p1, ROUND(p0, 6) AS p0,
       ROUND(rr, 6) AS rr,
       ROUND(CASE WHEN rr IS NOT NULL
                  THEN rs + SQRT(rs * (rs - 1.0)) END, 6) AS evalue
FROM ev
"""


def q_james_stein(spark, sf_dir):
    """James-Stein/Efron-Morris shrinkage of per-source mean document
    lengths (operators/stats.py james_stein_means): the winner's-curse
    correction for k-group dashboards — every mean moves toward the
    grand mean by the closed-form factor.  One corpus aggregate +
    k-row algebra."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        james_stein_means,
    )

    return james_stein_means(
        _t(spark, sf_dir, "documents"), "source", "n_chars"
    ).transform(_by("source"))


Q_JAMES_STEIN_SQL = """
WITH g AS (SELECT source, COUNT(*) AS n,
                  AVG(CAST(n_chars AS DOUBLE)) AS raw_mean,
                  VAR_SAMP(CAST(n_chars AS DOUBLE)) AS s2
           FROM documents WHERE n_chars IS NOT NULL GROUP BY source),
st AS (SELECT *, AVG(raw_mean) OVER () AS grand,
              COUNT(*) OVER () AS k
       FROM g),
ss AS (SELECT SUM((raw_mean - grand) * (raw_mean - grand)) AS ss,
              AVG(s2 / n) AS vbar
       FROM st)
SELECT source, CAST(n AS BIGINT) AS n,
       ROUND(raw_mean, 6) AS raw_mean,
       ROUND(CASE WHEN k >= 4 AND ss > 0
                  THEN grand + GREATEST(0.0, LEAST(1.0,
                         1.0 - (k - 3) * vbar / ss))
                       * (raw_mean - grand)
                  ELSE raw_mean END, 6) AS shrunk_mean
FROM st, ss ORDER BY source
"""


def q_trustrank(spark, sf_dir):
    """TrustRank over the user co-activity graph with verified-account
    seeds (user_id%10==0) (operators/graph.py trustrank): trust flows
    outward from seeds, so disconnected bot rings score exactly 0 —
    the seeded complement to q_pagerank, same per-round rounding
    contract and one-join-per-iteration plan."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        coactivity_edges,
        trustrank,
    )

    edges = _coact(spark, sf_dir)
    e = _t(spark, sf_dir, "events")
    seeds = (
        e.select(F.col("user_id").alias("node"))
        .distinct()
        .filter(F.col("node") % 10 == 0)
    )
    return trustrank(edges, seeds, iterations=5).transform(_by("node"))


def _trustrank_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """DuckDB twin of q_trustrank: the _pagerank_sql CTE chain with
    teleport/dangling mass restricted to the seed distribution."""
    d = repr(damping)
    t = repr(1.0 - damping)
    its = []
    prev = "r0"
    for i in range(1, iterations + 1):
        its.append(f"""
r{i} AS (
  SELECT b.node, b.deg, b.sv,
         ROUND({t} * b.sv + {d} * (COALESCE(c.s, 0.0) + dg.m * b.sv), 9)
           AS rnk
  FROM bs b
  CROSS JOIN (SELECT COALESCE(SUM(CASE WHEN deg = 0 THEN rnk END), 0.0)
                AS m FROM {prev}) dg
  LEFT JOIN (SELECT e.dst AS node, SUM(r.rnk / r.deg) AS s
             FROM edges e JOIN {prev} r ON e.src = r.node AND r.deg > 0
             GROUP BY e.dst) c ON b.node = c.node
)""")
        prev = f"r{i}"
    return f"""
WITH b AS (SELECT DISTINCT date_trunc('minute', ts) AS _b, user_id AS _u
           FROM events),
sized AS (SELECT _b, _u FROM (
            SELECT _b, _u, COUNT(*) OVER (PARTITION BY _b) AS _n FROM b)
          WHERE _n <= 64),
edges AS (SELECT DISTINCT l._u AS src, r._u AS dst
          FROM sized l JOIN sized r USING (_b) WHERE l._u <> r._u),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
base AS (SELECT node, COALESCE(deg, 0) AS deg
         FROM nodes LEFT JOIN deg ON node = src),
sn AS (SELECT COUNT(*) AS ns FROM nodes WHERE node % 10 = 0),
bs AS (SELECT node, deg,
              CASE WHEN node % 10 = 0 THEN 1.0 / sn.ns ELSE 0.0 END AS sv
       FROM base CROSS JOIN sn),
r0 AS (SELECT node, deg, sv, sv AS rnk FROM bs),
{",".join(its)}
SELECT node, ROUND(rnk, 6) AS trust FROM {prev} ORDER BY node
"""


def q_compress_ratio(spark, sf_dir):
    """Per-document zlib compression ratio
    (operators/curation.py compression_ratio): the whole-document
    redundancy signal of the Gopher/FineWeb quality stack — catches
    long-range duplication the windowed repetition gates miss.
    Rows-only BY DESIGN: zlib has no SQL twin (DuckDB has no
    compression scalar); correctness is pinned by the differential
    pytest against the same zlib on literal texts
    (tests/test_curation.py).  ONE Arrow-batched stage, no shuffle."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        compression_ratio,
    )

    d = _t(spark, sf_dir, "documents")
    return compression_ratio(d, "doc_id", "text").transform(_by("doc_id"))


def q_abc(spark, sf_dir):
    """ABC/Pareto classification of users by total event value
    (operators/olap.py abc_classification): which slice of users
    carries 80% of the value.  One user aggregate + one ranked
    cumulative window over the user frame + a 3-row rollup."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.olap import (
        abc_classification,
    )

    e = _t(spark, sf_dir, "events")
    return abc_classification(e, "user_id", "value").transform(
        _by("abc_class")
    )


Q_ABC_SQL = """
WITH per_k AS (SELECT user_id AS k, COALESCE(SUM(value), 0.0) AS v
               FROM events GROUP BY user_id),
st AS (SELECT k, v,
              SUM(v) OVER (ORDER BY v DESC, k ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS cum,
              SUM(v) OVER () AS tot
       FROM per_k),
cls AS (SELECT v, tot,
               CASE WHEN (cum - v) / tot < 0.8 THEN 'A'
                    WHEN (cum - v) / tot < 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM st)
SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_keys,
       ROUND(SUM(v), 6) AS total_value,
       ROUND(SUM(v / tot), 6) AS value_share
FROM cls GROUP BY abc_class ORDER BY abc_class
"""


def q_cohort_ltv(spark, sf_dir):
    """Weekly-cohort cumulative LTV from purchase values
    (operators/funnel.py cohort_ltv): the money-side twin of
    q_retention_cohorts — one (user, week) aggregate, one cohort
    rollup, one cumulative window over the calendar-bounded triangle."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.funnel import (
        cohort_ltv,
    )

    e = _t(spark, sf_dir, "events")
    out = cohort_ltv(
        e,
        "user_id",
        "ts",
        "value",
        value_when=(F.col("event_type") == "purchase"),
    )
    return out.withColumn("cohort", F.col("cohort").cast("string")).transform(
        _by("cohort", "week_offset")
    )


Q_COHORT_LTV_SQL = """
WITH uw AS (SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w,
                   COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                     THEN value ELSE 0.0 END), 0.0) AS rev
            FROM events GROUP BY 1, 2),
per_u AS (SELECT u, MIN(w) AS cohort FROM uw GROUP BY u),
cs AS (SELECT cohort, COUNT(*) AS cohort_users FROM per_u GROUP BY cohort),
ex AS (SELECT p.cohort,
              CAST(FLOOR(datediff('day', p.cohort, uw.w) / 7.0) AS INT)
                AS week_offset,
              uw.rev
       FROM uw JOIN per_u p USING (u)),
co AS (SELECT cohort, week_offset, SUM(rev) AS week_revenue
       FROM ex GROUP BY 1, 2)
SELECT CAST(co.cohort AS VARCHAR) AS cohort, week_offset,
       CAST(cohort_users AS BIGINT) AS cohort_users,
       ROUND(week_revenue, 6) AS week_revenue,
       ROUND(SUM(week_revenue) OVER (PARTITION BY co.cohort
               ORDER BY week_offset ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) / cohort_users, 6) AS cum_ltv_per_user
FROM co JOIN cs ON co.cohort = cs.cohort
ORDER BY cohort, week_offset
"""


def q_sim_pairs(spark, sf_dir):
    """Embedding anisotropy audit over deterministic unrelated pairs
    (operators/similarity.py anisotropy_audit): mean cosine between
    hash-sampled 1:1 pairs — the check that cosine thresholds are even
    meaningful in this embedding space before q_embed_neardup's τ is
    trusted.  Sample filter pushes to the scan; one rank window over
    the audit sample, one rank equi-join, JVM dot products."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        anisotropy_audit,
    )

    em = _t(spark, sf_dir, "embeddings")
    return anisotropy_audit(em, "vec_id", "embedding", sample_mod=7)


Q_SIM_PAIRS_SQL = """
WITH d AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id % 7 = 0 AND embedding IS NOT NULL),
rk AS (SELECT v, ROW_NUMBER() OVER (ORDER BY id) - 1 AS r,
              COUNT(*) OVER () AS n
       FROM d),
h AS (SELECT v, r, CAST(n / 2 AS INT) AS hh FROM rk),
l AS (SELECT r, v AS a FROM h WHERE r < hh),
rr AS (SELECT r - hh AS r, v AS b FROM h WHERE r >= hh),
pairs AS (SELECT list_inner_product(a, b)
                 / (sqrt(list_inner_product(a, a))
                    * sqrt(list_inner_product(b, b))) AS c
          FROM l JOIN rr USING (r)),
ag AS (SELECT COUNT(*) AS n_pairs, AVG(c) AS m, STDDEV_SAMP(c) AS s,
              AVG(CASE WHEN c > 0.5 THEN 1.0 ELSE 0.0 END) AS f,
              MIN(c) AS mn, MAX(c) AS mx
       FROM pairs)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs, ROUND(m, 6) AS mean_cos,
       ROUND(s, 6) AS sd_cos, ROUND(f, 6) AS frac_above_05,
       ROUND(mn, 6) AS min_cos, ROUND(mx, 6) AS max_cos
FROM ag
"""


def q_pot_gpd(spark, sf_dir):
    """Peaks-over-threshold GPD tail fit of event values above 40
    (operators/timeseries.py pot_gpd_fit): the every-exceedance tail
    estimator complementing q_extreme_value's block maxima — ξ > 0
    flags a heavy tail.  Threshold filter pushes to the scan; ONE
    moment aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        pot_gpd_fit,
    )

    e = _t(spark, sf_dir, "events")
    return pot_gpd_fit(e, "value", threshold=40.0)


Q_POT_GPD_SQL = """
WITH exc AS (SELECT CAST(value AS DOUBLE) - 40.0 AS e FROM events
             WHERE value IS NOT NULL AND value > 40.0),
a AS (SELECT COUNT(*) AS n, SUM(e) AS s, SUM(e * e) AS q FROM exc),
f AS (SELECT n, s / n AS m,
             (q - s * s / n) / (n - 1.0) AS var
      FROM a)
SELECT CAST(n AS BIGINT) AS n_exceed, 40.0 AS threshold,
       ROUND(CASE WHEN n > 0 THEN m END, 6) AS mean_excess,
       ROUND(CASE WHEN n > 1 AND var > 0
                  THEN (1.0 - m * m / var) / 2.0 END, 6) AS xi,
       ROUND(CASE WHEN n > 1 AND var > 0
                  THEN m * (m * m / var + 1.0) / 2.0 END, 6) AS beta
FROM f
"""


def q_records(spark, sf_dir):
    """Foster-Stuart record-counting trend test on daily event volumes
    (operators/timeseries.py records_test): record-breaking days vs the
    harmonic-number expectation — assumption-free trend evidence next
    to q_mann_kendall.  The corpus collapses to the per-day frame; the
    running-max window rides metadata."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        records_test,
    )

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    return records_test(daily, "d", "c")


Q_RECORDS_SQL = """
WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS d,
                      CAST(COUNT(*) AS DOUBLE) AS c
               FROM events GROUP BY 1),
st AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS i,
              CASE WHEN MAX(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                     PRECEDING AND 1 PRECEDING) IS NULL
                     OR c > MAX(c) OVER (ORDER BY d ROWS BETWEEN
                          UNBOUNDED PRECEDING AND 1 PRECEDING)
                   THEN 1 ELSE 0 END AS rec
       FROM daily),
a AS (SELECT COUNT(*) AS n, SUM(rec) AS records,
             SUM(1.0 / i) AS h1, SUM(1.0 / (i * i)) AS h2
      FROM st)
SELECT CAST(n AS BIGINT) AS n, CAST(records AS BIGINT) AS records,
       ROUND(h1, 6) AS expected,
       ROUND(CASE WHEN h1 - h2 > 0
                  THEN (records - h1) / SQRT(h1 - h2) END, 6) AS z
FROM a
"""


def q_ivf_silhouette(spark, sf_dir):
    """Simplified silhouette of the fixed 16-cell IVF codebook over the
    embeddings table (operators/similarity.py ivf_silhouette): is the
    coarse quantizer real structure or arbitrary partitions — the
    clustering-quality audit behind q_ivf_topk's recall.  Literal
    centroid table explodes the corpus k×; per-vector top-2 window
    over 16 rows; one cell aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        ivf_centroids,
        ivf_silhouette,
    )

    e = _t(spark, sf_dir, "embeddings")
    return ivf_silhouette(
        e, "vec_id", "embedding", ivf_centroids(64, 16, 7)
    ).transform(_by("cell"))


def _ivf_silhouette_sql() -> str:
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        ivf_centroids,
    )

    cents = ivf_centroids(64, 16, 7)
    vals = ",\n  ".join(
        "({}, CAST([{}] AS DOUBLE[]))".format(
            i, ",".join(str(int(x)) for x in c)
        )
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(cell, cv) AS (VALUES
  {vals}),
e AS (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> floor(x * 1048576.0)) AS q
      FROM embeddings WHERE embedding IS NOT NULL),
pc AS (SELECT vec_id, cell,
              list_inner_product(q, cv)
              / (sqrt(list_inner_product(q, q))
                 * sqrt(list_inner_product(cv, cv))) AS c
       FROM e CROSS JOIN cents),
rk AS (SELECT vec_id, cell, c,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY c DESC, cell) AS rn
       FROM pc),
pv AS (SELECT vec_id,
              MAX(CASE WHEN rn = 1 THEN cell END) AS cell,
              MAX(CASE WHEN rn = 1 THEN c END) AS c1,
              MAX(CASE WHEN rn = 2 THEN c END) AS c2
       FROM rk WHERE rn <= 2 GROUP BY vec_id),
sil AS (SELECT cell, c1,
               CASE WHEN GREATEST(1.0 - c1, 1.0 - c2) > 0
                    THEN ((1.0 - c2) - (1.0 - c1))
                         / GREATEST(1.0 - c1, 1.0 - c2)
                    ELSE 0.0 END AS s
        FROM pv)
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(c1), 6) AS mean_cos_own,
       ROUND(AVG(s), 6) AS mean_sil
FROM sil GROUP BY cell ORDER BY cell
"""


def q_mmd(spark, sf_dir):
    """Kernel two-sample test (MMD with deterministic random Fourier
    features) between src0 and src1 document-length distributions
    (operators/stats.py mmd_rff, σ=500): sees shape/tail differences a
    location test misses, in one O(n·D) aggregate — 32 conditional
    means, map-side combined, nothing pairwise."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        mmd_rff,
    )

    d = _t(spark, sf_dir, "documents")
    return mmd_rff(
        d, "source", "n_chars", "src0", "src1",
        n_features=16, bandwidth=500.0, seed=11,
    )


def _mmd_sql() -> str:
    import math as _m

    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        mmd_rff_params,
    )

    params = mmd_rff_params(16, 500.0, 11)
    scale = repr(_m.sqrt(2.0 / 16))
    fa, fb, diffs = [], [], []
    for j, (w, b) in enumerate(params):
        feat = f"{scale} * COS({w!r} * x + {b!r})"
        fa.append(
            f"AVG(CASE WHEN g = 'src0' THEN {feat} END) AS fa{j}"
        )
        fb.append(
            f"AVG(CASE WHEN g = 'src1' THEN {feat} END) AS fb{j}"
        )
        diffs.append(f"(fa{j} - fb{j}) * (fa{j} - fb{j})")
    sep = ",\n             "
    fa_sql = sep.join(fa)
    fb_sql = sep.join(fb)
    diff_sql = " + ".join(diffs)
    return f"""
WITH d AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS x
           FROM documents
           WHERE n_chars IS NOT NULL AND source IN ('src0', 'src1')),
a AS (SELECT SUM(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN g = 'src1' THEN 1 ELSE 0 END) AS nb,
             {fa_sql},
             {fb_sql}
      FROM d)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(CASE WHEN na > 0 AND nb > 0 THEN
         {diff_sql}
       END, 6) AS mmd2
FROM a
"""


def q_pocock(spark, sf_dir):
    """Pocock group-sequential monitor over five day-sextile looks of
    the encouragement cohort's purchase rate (operators/stats.py
    pocock_sequential, boundary 2.413): the peek-K-times-without-
    inflating-α discipline, cumulative two-proportion z per look.
    One corpus aggregate to per-(look, arm) counts; windows ride the
    5-row frame."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        pocock_sequential,
    )

    e = _t(spark, sf_dir, "events")
    staged = e.select(
        F.least(
            ((F.dayofmonth(F.col("ts")) - 1) / F.lit(6)).cast("int")
            + F.lit(1),
            F.lit(5),
        ).alias("look"),
        (F.col("user_id") % 3 == 0).cast("int").alias("t"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return pocock_sequential(staged, "look", "t", "y").transform(
        _by("look")
    )


Q_POCOCK_SQL = """
WITH st AS (SELECT LEAST(CAST(FLOOR((day(ts) - 1) / 6.0) AS INT) + 1, 5) AS look,
                   CAST(user_id % 3 = 0 AS INT) AS t,
                   CAST(event_type = 'purchase' AS INT) AS y
            FROM events),
pl AS (SELECT look, SUM(t) AS nt, SUM(1 - t) AS nc,
              SUM(t * y) AS s1, SUM((1 - t) * y) AS s0
       FROM st GROUP BY look),
cum AS (SELECT look,
               SUM(nt) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS cnt,
               SUM(nc) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS cnc,
               SUM(s1) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS cst,
               SUM(s0) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS csc
        FROM pl),
zed AS (SELECT look, cnt, cnc,
               CAST(cst AS DOUBLE) / cnt AS pt,
               CAST(csc AS DOUBLE) / cnc AS pc,
               CAST(cst + csc AS DOUBLE) / (cnt + cnc) AS pp
        FROM cum),
fin AS (SELECT look, cnt, cnc, pt, pc,
               CASE WHEN pp * (1.0 - pp) * (1.0 / cnt + 1.0 / cnc) > 0
                    THEN ROUND((pt - pc) / SQRT(pp * (1.0 - pp)
                           * (1.0 / cnt + 1.0 / cnc)), 6)
               END AS z
        FROM zed)
SELECT look, CAST(cnt AS BIGINT) AS n_t, CAST(cnc AS BIGINT) AS n_c,
       ROUND(pt, 6) AS p_t, ROUND(pc, 6) AS p_c, z,
       MAX(CASE WHEN ABS(z) > 2.413 THEN 1 ELSE 0 END)
         OVER (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) = 1 AS crossed
FROM fin ORDER BY look
"""


def q_xicor(spark, sf_dir):
    """Chatterjee's ξ between hour-of-day and event volume
    (operators/stats.py xi_correlation): the daily cycle is strongly
    NONMONOTONE, so Spearman reads ≈ 0 while ξ reads the dependence —
    the modern any-shape dependence screen.  The corpus collapses to
    the 24-row hour frame first; every window rides metadata."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        xi_correlation,
    )

    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(F.hour(F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    return xi_correlation(hourly, "h", "c")


Q_XICOR_SQL = """
WITH hourly AS (SELECT EXTRACT(hour FROM ts) AS x,
                       CAST(COUNT(*) AS DOUBLE) AS y
                FROM events GROUP BY 1),
rk AS (SELECT x, y,
              CAST(RANK() OVER (ORDER BY y) +
                   COUNT(*) OVER (PARTITION BY y) - 1 AS DOUBLE) AS r
       FROM hourly),
sq AS (SELECT r, ROW_NUMBER() OVER (ORDER BY x, y, r) AS i FROM rk),
st AS (SELECT ABS(r - LAG(r) OVER (ORDER BY i)) AS d FROM sq),
a AS (SELECT COUNT(*) AS n, SUM(d) AS s FROM st)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN n > 1
                  THEN 1.0 - 3.0 * s / (CAST(n AS DOUBLE) * n - 1.0)
             END, 6) AS xi
FROM a
"""


def q_qte(spark, sf_dir):
    """Quantile treatment effects of the encouragement cohort on
    per-user spend (operators/stats.py quantile_treatment_effects):
    WHERE in the distribution the effect lives — the distributional
    companion to the mean-only q_ipw_ate/q_cem.  ONE two-arm
    aggregate computes all exact percentiles in a single pass."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        quantile_treatment_effects,
    )

    e = _t(spark, sf_dir, "events")
    per_u = e.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
            F.lit(0.0),
        ).alias("y")
    ).withColumn("t", (F.col("user_id") % 3 == 0).cast("int"))
    return quantile_treatment_effects(
        per_u, "t", "y", quantiles=(0.1, 0.25, 0.5, 0.75, 0.9)
    ).transform(_by("q"))


Q_QTE_SQL = """
WITH per_u AS (SELECT COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                        THEN value END), 0.0) AS y,
                      CAST(user_id % 3 = 0 AS INT) AS t
               FROM events GROUP BY user_id),
a AS (SELECT
        quantile_cont(y, 0.1) FILTER (t = 1) AS qt0,
        quantile_cont(y, 0.1) FILTER (t = 0) AS qc0,
        quantile_cont(y, 0.25) FILTER (t = 1) AS qt1,
        quantile_cont(y, 0.25) FILTER (t = 0) AS qc1,
        quantile_cont(y, 0.5) FILTER (t = 1) AS qt2,
        quantile_cont(y, 0.5) FILTER (t = 0) AS qc2,
        quantile_cont(y, 0.75) FILTER (t = 1) AS qt3,
        quantile_cont(y, 0.75) FILTER (t = 0) AS qc3,
        quantile_cont(y, 0.9) FILTER (t = 1) AS qt4,
        quantile_cont(y, 0.9) FILTER (t = 0) AS qc4
      FROM per_u)
SELECT 0.1 AS q, ROUND(qt0, 6) AS treated, ROUND(qc0, 6) AS control,
       ROUND(qt0 - qc0, 6) AS qte FROM a
UNION ALL SELECT 0.25, ROUND(qt1, 6), ROUND(qc1, 6),
       ROUND(qt1 - qc1, 6) FROM a
UNION ALL SELECT 0.5, ROUND(qt2, 6), ROUND(qc2, 6),
       ROUND(qt2 - qc2, 6) FROM a
UNION ALL SELECT 0.75, ROUND(qt3, 6), ROUND(qc3, 6),
       ROUND(qt3 - qc3, 6) FROM a
UNION ALL SELECT 0.9, ROUND(qt4, 6), ROUND(qc4, 6),
       ROUND(qt4 - qc4, 6) FROM a
ORDER BY q
"""


def q_chi2_residuals(spark, sf_dir):
    """Standardized Pearson residuals of the source × lang table
    (operators/stats.py chi2_residuals): which cells drive the
    dependence q_chi2 detects — |r| ≥ 2 flags a cell.  One cell
    aggregate; margins ride windows over the R×C frame."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        chi2_residuals,
    )

    d = _t(spark, sf_dir, "documents")
    return chi2_residuals(d, "source", "lang").transform(
        _by("source", "lang")
    )


Q_CHI2_RESIDUALS_SQL = """
WITH cell AS (SELECT source AS r, lang AS c, COUNT(*) AS o
              FROM documents GROUP BY 1, 2),
st AS (SELECT r, c, o,
              SUM(o) OVER (PARTITION BY r) AS nr,
              SUM(o) OVER (PARTITION BY c) AS nc,
              SUM(o) OVER () AS n
       FROM cell),
ex AS (SELECT r, c, o,
              CAST(nr AS DOUBLE) * nc / n AS e,
              CAST(nr AS DOUBLE) / n AS pr,
              CAST(nc AS DOUBLE) / n AS pc
       FROM st)
SELECT r AS source, c AS lang, CAST(o AS BIGINT) AS observed,
       ROUND(e, 6) AS expected,
       ROUND(CASE WHEN SQRT(e * (1.0 - pr) * (1.0 - pc)) > 0
                  THEN (o - e) / SQRT(e * (1.0 - pr) * (1.0 - pc))
             END, 6) AS residual,
       ABS(CASE WHEN SQRT(e * (1.0 - pr) * (1.0 - pc)) > 0
                THEN (o - e) / SQRT(e * (1.0 - pr) * (1.0 - pc))
           END) >= 2.0 AS flagged
FROM ex ORDER BY source, lang
"""


def q_lorenz(spark, sf_dir):
    """Lorenz-curve deciles of per-user total event value
    (operators/stats.py lorenz_deciles): the chartable concentration
    table behind q_gini's single number.  One user aggregate, one
    total-order NTILE window over users, decile rollup."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        lorenz_deciles,
    )

    e = _t(spark, sf_dir, "events")
    per_u = e.groupBy("user_id").agg(
        F.coalesce(F.sum("value"), F.lit(0.0)).alias("v")
    )
    return lorenz_deciles(per_u, "v", "user_id", n_tiles=10).transform(
        _by("tile")
    )


Q_LORENZ_SQL = """
WITH per_u AS (SELECT user_id AS id, COALESCE(SUM(value), 0.0) AS v
               FROM events GROUP BY user_id),
tiled AS (SELECT v, NTILE(10) OVER (ORDER BY v, id) AS tile FROM per_u),
pt AS (SELECT tile, COUNT(*) AS n, SUM(v) AS s FROM tiled GROUP BY tile),
st AS (SELECT tile, n, s, SUM(s) OVER () AS tot,
              SUM(s) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS cum
       FROM pt)
SELECT tile, CAST(n AS BIGINT) AS n,
       ROUND(s / tot, 6) AS tile_share,
       ROUND(cum / tot, 6) AS cum_share
FROM st ORDER BY tile
"""


def q_cv_r2(spark, sf_dir):
    """Leakage-safe 5-fold out-of-fold R² for spend ~ clicks
    (operators/mlfit.py cv_r2_simple): the whole k-fold procedure is
    ONE corpus aggregate to fold-moment rows — train moments are
    (total − fold), the OLS solve and the held-out SSE are closed-form
    moment algebra, no refit pass, no second scan."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        cv_r2_simple,
    )

    e = _t(spark, sf_dir, "events")
    per_u = e.groupBy("user_id").agg(
        F.sum(
            (F.col("event_type") == "click").cast("int")
        ).cast("double").alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
            F.lit(0.0),
        ).alias("y"),
    ).withColumn("f", (F.col("user_id") % 5).cast("int"))
    return cv_r2_simple(per_u, "y", "x", F.col("f"), n_folds=5)


Q_CV_R2_SQL = """
WITH d AS (SELECT CAST(user_id % 5 AS INT) AS f,
                  CAST(SUM(CASE WHEN event_type = 'click' THEN 1
                           ELSE 0 END) AS DOUBLE) AS x,
                  COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                    THEN value END), 0.0) AS y
           FROM events GROUP BY user_id),
pf AS (SELECT f, CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx,
              SUM(y) AS sy, SUM(x * x) AS sxx, SUM(x * y) AS sxy,
              SUM(y * y) AS syy
       FROM d GROUP BY f),
t AS (SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
             SUM(sxx) AS sxx, SUM(sxy) AS sxy, SUM(syy) AS syy
      FROM pf),
fullfit AS (SELECT n,
                   (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b,
                   sy, sx, sxx, sxy, syy,
                   syy - sy * sy / n AS sst
            FROM t),
fullsse AS (SELECT n, sst,
                   syy - 2 * ((sy - b * sx) / n) * sy
                   - 2 * b * sxy
                   + ((sy - b * sx) / n) * ((sy - b * sx) / n) * n
                   + 2 * ((sy - b * sx) / n) * b * sx
                   + b * b * sxx AS sse_in
            FROM fullfit),
tf AS (SELECT pf.f,
              pf.n AS fn, pf.sx AS fsx, pf.sy AS fsy, pf.sxx AS fsxx,
              pf.sxy AS fsxy, pf.syy AS fsyy,
              t.n - pf.n AS tn, t.sx - pf.sx AS tsx,
              t.sy - pf.sy AS tsy, t.sxx - pf.sxx AS tsxx,
              t.sxy - pf.sxy AS tsxy
       FROM pf, t),
fits AS (SELECT f, fn, fsx, fsy, fsxx, fsxy, fsyy,
                (tsxy - tsx * tsy / tn) / (tsxx - tsx * tsx / tn) AS b,
                tsy, tsx, tn
         FROM tf),
ab AS (SELECT f, fn, fsx, fsy, fsxx, fsxy, fsyy, b,
              (tsy - b * tsx) / tn AS a
       FROM fits),
sses AS (SELECT SUM(fsyy - 2 * a * fsy - 2 * b * fsxy
                    + a * a * fn + 2 * a * b * fsx
                    + b * b * fsxx) AS sse_oof
         FROM ab)
SELECT CAST(fs.n AS BIGINT) AS n, 5 AS k_folds,
       ROUND(1.0 - fs.sse_in / fs.sst, 6) AS r2_in,
       ROUND(1.0 - s.sse_oof / fs.sst, 6) AS r2_oof
FROM fullsse fs, sses s
"""


def q_durbin_watson(spark, sf_dir):
    """Durbin-Watson residual autocorrelation of the daily-volume OLS
    trend (operators/timeseries.py durbin_watson_trend): whether the
    q_ols_trend error bars are believable — DW ≈ 2 independent, → 0
    positively autocorrelated.  The corpus collapses to the per-day
    frame; betas round to a fixed grid before residuals (the
    trajectory-portability discipline)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        durbin_watson_trend,
    )

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return durbin_watson_trend(daily, "d", "y")


Q_DURBIN_WATSON_SQL = """
WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS d,
                      CAST(COUNT(*) AS DOUBLE) AS y
               FROM events GROUP BY 1),
ix AS (SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS i
       FROM daily),
m AS (SELECT COUNT(*) AS n, SUM(i) AS sx, SUM(y) AS sy,
             SUM(i * i) AS sxx, SUM(i * y) AS sxy
      FROM ix),
bb AS (SELECT n, (sxy - sx * sy / n) / (sxx - sx * sx / n) AS braw,
             sx, sy
      FROM m),
p AS (SELECT n, ROUND((sy - braw * sx) / n, 9) AS a,
             ROUND(braw, 9) AS b
      FROM bb),
ef AS (SELECT ix.i AS i, y - p.a - p.b * ix.i AS e FROM ix, p),
fin AS (SELECT e, e - LAG(e) OVER (ORDER BY i) AS de FROM ef)
SELECT CAST(p.n AS BIGINT) AS n, ROUND(p.b, 6) AS slope,
       ROUND(CASE WHEN p.n > 2 AND SUM(e * e) > 0
                  THEN SUM(de * de) / SUM(e * e) END, 6) AS dw
FROM fin, p GROUP BY p.n, p.b
"""


def q_sbg_churn(spark, sf_dir):
    """Shifted-beta-geometric churn projection over customers' yearly
    order activity (operators/funnel.py sbg_churn_projection, TPC-H
    years compressed to the operator's weekly grain by an identical
    formula on both engines): observed survival declines 0.995 -> 0.90,
    but the curve does NOT flatten (rho2 <= S1 — uniform synthetic
    ordering has no heterogeneous-churn signature), so the fit guard
    correctly refuses and projection columns are NULL — the honest
    behavior an sBG implementation must have.  The positive fit path
    is pinned by the planted Beta-mix pytest.  ONE user aggregate +
    offset histogram; the alpha/beta solve runs on literals."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.funnel import (
        sbg_churn_projection,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.floor(
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.lit("1992-01-01").cast("date"),
                )
                / F.lit(365)
            )
            * F.lit(7 * 86400)
        ).alias("ts"),
    )
    return sbg_churn_projection(o, "user_id", "ts", horizon=6).transform(
        _by("week")
    )


def _sbg_sql(horizon: int = 6) -> str:
    """DuckDB twin: same year->pseudo-week compression (floor(days/365)
    whole-week steps from the 2024-01-01 Monday anchor, so the weekly
    truncation in both engines lands on identical week starts), same
    offset histogram, same closed-form guard + unrolled projection
    product."""
    ks = []
    for k in range(1, horizon + 1):
        prod = " * ".join(
            f"((beta + {j} - 1) / (s + {j} - 1))" for j in range(1, k + 1)
        )
        ks.append(
            f"SELECT {k} AS week, ROUND(so{k}, 6) AS s_observed, "
            f"ROUND(CASE WHEN ok THEN {prod} END, 6) AS s_projected, "
            f"ROUND(CASE WHEN ok THEN s - beta END, 6) AS alpha, "
            f"ROUND(CASE WHEN ok THEN beta END, 6) AS beta FROM p"
        )
    sel_obs = ", ".join(
        f"CASE WHEN {k} <= maxo THEN SUM(CASE WHEN o >= {k} THEN 1 "
        f"ELSE 0 END) / CAST(n2 AS DOUBLE) END AS so{k}"
        for k in range(1, horizon + 1)
    )
    union = " UNION ALL ".join(ks)
    return f"""
WITH pu AS (SELECT o_custkey,
                   MIN(FLOOR(datediff('day', DATE '1992-01-01',
                             CAST(o_orderdate AS DATE)) / 365.0)) AS y0,
                   MAX(FLOOR(datediff('day', DATE '1992-01-01',
                             CAST(o_orderdate AS DATE)) / 365.0)) AS yl
            FROM orders GROUP BY o_custkey),
off AS (SELECT CAST(yl - y0 AS INT) AS o FROM pu),
cnt AS (SELECT COUNT(*) AS n2, MAX(o) AS maxo FROM off),
agg AS (SELECT n2, maxo, {sel_obs} FROM off, cnt
        GROUP BY n2, maxo),
p AS (SELECT *,
             CASE WHEN so1 IS NOT NULL AND so2 IS NOT NULL AND so1 > 0
                   AND so2 / so1 > so1 AND so2 / so1 < 1.0
                  THEN TRUE ELSE FALSE END AS ok,
             (1.0 - so2 / so1) / (so2 / so1 - so1) AS s,
             so1 * ((1.0 - so2 / so1) / (so2 / so1 - so1)) AS beta
      FROM agg)
{union}
ORDER BY week
"""


def q_hurst(spark, sf_dir):
    """Hurst exponent of the hourly event-volume series
    (operators/timeseries.py hurst_rs, R/S over block sizes 8-64):
    is load long-range persistent (H > 0.5 — bursts cluster across
    hours, so capacity must be planned on the envelope, not the mean)?
    The corpus collapses to the 720-row hourly frame; per-size block
    windows ride metadata; the log-log fit is closed form."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        hurst_rs,
    )

    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_format(F.col("ts"), "yyyy-MM-dd HH").alias("hr")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    return hurst_rs(hourly, "hr", "c", block_sizes=(8, 16, 32, 64))


def _hurst_sql(sizes: tuple = (8, 16, 32, 64)) -> str:
    """DuckDB twin: identical per-size block algebra + the same
    closed-form log-log slope over the sizes that yield an R/S."""
    ctes = []
    for m in sizes:
        ctes.append(f"""
st{m} AS (SELECT CAST(FLOOR(i / {m}) AS INT) AS b, i, x,
                 COUNT(*) OVER (PARTITION BY CAST(FLOOR(i / {m}) AS INT))
                   AS nb,
                 AVG(x) OVER (PARTITION BY CAST(FLOOR(i / {m}) AS INT))
                   AS mu
          FROM ix),
z{m} AS (SELECT b, i, x, mu,
                SUM(x - mu) OVER (PARTITION BY b ORDER BY i ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS z,
                AVG((x - mu) * (x - mu)) OVER (PARTITION BY b) AS s2
         FROM st{m} WHERE nb = {m}),
pb{m} AS (SELECT b, (MAX(z) - MIN(z)) / SQRT(MAX(s2)) AS rs
          FROM z{m} WHERE s2 > 0 GROUP BY b),
rs{m} AS (SELECT AVG(rs) AS v FROM pb{m})""")
    vals = ", ".join(
        f"(LN({m}.0), (SELECT LN(v) FROM rs{m}))" for m in sizes
    )
    rs_cols = ", ".join(
        f"ROUND((SELECT v FROM rs{m}), 6) AS rs_{m}" for m in sizes
    )
    joined = ",".join(ctes)
    return f"""
WITH hourly AS (SELECT strftime(ts, '%Y-%m-%d %H') AS hr,
                       CAST(COUNT(*) AS DOUBLE) AS x
                FROM events GROUP BY 1),
ix AS (SELECT x, ROW_NUMBER() OVER (ORDER BY hr) - 1 AS i FROM hourly),
{joined},
pts AS (SELECT lx, ly FROM (VALUES {vals}) t(lx, ly)
        WHERE ly IS NOT NULL),
fit AS (SELECT COUNT(*) AS k, SUM(lx) AS sx, SUM(ly) AS sy,
               SUM(lx * lx) AS sxx, SUM(lx * ly) AS sxy
        FROM pts)
SELECT CAST((SELECT COUNT(*) FROM ix) AS BIGINT) AS n,
       ROUND(CASE WHEN k >= 2 AND sxx - sx * sx / k > 0
                  THEN (sxy - sx * sy / k) / (sxx - sx * sx / k)
             END, 6) AS h,
       {rs_cols}
FROM fit
"""


def q_perm_entropy(spark, sf_dir):
    """Order-3 permutation entropy of the hourly event-volume series
    (operators/timeseries.py permutation_entropy): ordinal-pattern
    complexity robust to any monotone rescaling — 1 = white noise,
    → 0 = deterministic dynamics.  One lead window over the hourly
    frame, a 6-bounded pattern count."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        permutation_entropy,
    )

    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_format(F.col("ts"), "yyyy-MM-dd HH").alias("hr")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    return permutation_entropy(hourly, "hr", "c")


Q_PERM_ENTROPY_SQL = """
WITH hourly AS (SELECT strftime(ts, '%Y-%m-%d %H') AS hr,
                       CAST(COUNT(*) AS DOUBLE) AS a
                FROM events GROUP BY 1),
tri AS (SELECT a, LEAD(a, 1) OVER (ORDER BY hr) AS b,
               LEAD(a, 2) OVER (ORDER BY hr) AS c
        FROM hourly),
pat AS (SELECT CAST(a <= b AS INT) * 4 + CAST(b <= c AS INT) * 2
                 + CAST(a <= c AS INT) AS p
        FROM tri WHERE b IS NOT NULL AND c IS NOT NULL),
cnt AS (SELECT p, COUNT(*) AS c FROM pat GROUP BY p),
st AS (SELECT c, SUM(c) OVER () AS n FROM cnt),
a AS (SELECT MAX(n) AS n, COUNT(*) AS np,
             SUM(-(CAST(c AS DOUBLE) / n) * LN(CAST(c AS DOUBLE) / n))
               AS h
      FROM st)
SELECT CAST(n AS BIGINT) AS n_triples, CAST(np AS BIGINT) AS n_patterns,
       ROUND(h / LN(6.0), 6) AS pe
FROM a
"""


def q_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau whiteness test on the hourly volume series
    (operators/timeseries.py ljung_box, h=10): the joint test behind
    q_acf's per-lag picture — the daily cycle makes Q astronomically
    significant, which is exactly why naive i.i.d. control bands on
    hourly volume are fiction.  One ordered window materializes all 10
    lags in a single pass over the metadata-sized series."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        ljung_box,
    )

    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_format(F.col("ts"), "yyyy-MM-dd HH").alias("hr")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    return ljung_box(hourly, "hr", "c", max_lag=10)


def _ljung_box_sql(max_lag: int = 10) -> str:
    lag_cols = ", ".join(
        f"LAG(x, {k}) OVER (ORDER BY hr) AS l{k}"
        for k in range(1, max_lag + 1)
    )
    csums = ", ".join(
        f"SUM((x - mu) * (l{k} - mu)) AS c{k}"
        for k in range(1, max_lag + 1)
    )
    qterms = " + ".join(
        f"(c{k} / ss) * (c{k} / ss) / (CAST(n AS DOUBLE) - {k})"
        for k in range(1, max_lag + 1)
    )
    return f"""
WITH hourly AS (SELECT strftime(ts, '%Y-%m-%d %H') AS hr,
                       CAST(COUNT(*) AS DOUBLE) AS x
                FROM events GROUP BY 1),
mu AS (SELECT AVG(x) AS mu FROM hourly),
lg AS (SELECT x, mu, {lag_cols} FROM hourly, mu),
a AS (SELECT COUNT(*) AS n, SUM((x - mu) * (x - mu)) AS ss, {csums}
      FROM lg)
SELECT CAST(n AS BIGINT) AS n, {max_lag} AS h,
       ROUND(CASE WHEN n > {max_lag + 1} AND ss > 0
                  THEN CAST(n AS DOUBLE) * (n + 2.0) * ({qterms})
             END, 6) AS q_stat,
       ROUND(CASE WHEN n > {max_lag + 1} AND ss > 0
                  THEN c1 / ss END, 6) AS rho_1
FROM a
"""


def q_granger(spark, sf_dir):
    """Lag-1 Granger precedence: does hourly click volume lead hourly
    purchase volume (operators/timeseries.py granger_lag1)?  One lag
    window + ONE moment aggregate; both nested fits are closed-form
    Cramer algebra mirrored verbatim in the oracle."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        granger_lag1,
    )

    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_format(F.col("ts"), "yyyy-MM-dd HH").alias("hr")
    ).agg(
        F.sum(
            (F.col("event_type") == "purchase").cast("int")
        ).cast("double").alias("y"),
        F.sum(
            (F.col("event_type") == "click").cast("int")
        ).cast("double").alias("x"),
    )
    return granger_lag1(hourly, "hr", "y", "x")


Q_GRANGER_SQL = """
WITH hourly AS (SELECT strftime(ts, '%Y-%m-%d %H') AS hr,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) AS DOUBLE) AS y,
                       CAST(SUM(CASE WHEN event_type = 'click'
                                THEN 1 ELSE 0 END) AS DOUBLE) AS x
                FROM events GROUP BY 1),
st AS (SELECT y, LAG(y) OVER (ORDER BY hr) AS p,
              LAG(x) OVER (ORDER BY hr) AS q
       FROM hourly),
f AS (SELECT * FROM st WHERE p IS NOT NULL AND q IS NOT NULL),
m AS (SELECT COUNT(*) AS n, SUM(y) AS sy, SUM(p) AS sp, SUM(q) AS sq,
             SUM(y * y) AS syy, SUM(p * p) AS spp, SUM(q * q) AS sqq,
             SUM(y * p) AS syp, SUM(y * q) AS syq, SUM(p * q) AS spq
      FROM f),
c AS (SELECT n,
             spp - sp * sp / n AS cpp, sqq - sq * sq / n AS cqq,
             spq - sp * sq / n AS cpq, syp - sy * sp / n AS cyp,
             syq - sy * sq / n AS cyq, syy - sy * sy / n AS cyy
      FROM m),
fit AS (SELECT n, cpp, cyy, cyp,
               cpp * cqq - cpq * cpq AS det,
               (cqq * cyp - cpq * cyq) AS bn,
               (-cpq * cyp + cpp * cyq) AS cn,
               cyq
        FROM c),
fin AS (SELECT n, cpp, det,
               cyy - cyp * cyp / cpp AS rss_r,
               cyy - (bn / det) * cyp - (cn / det) * cyq AS rss_f,
               cn / det AS coef
        FROM fit WHERE det <> 0 AND cpp <> 0)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN n >= 5 AND cpp > 0 AND det > 0 AND rss_f > 0
                  THEN coef END, 6) AS coef_x,
       ROUND(CASE WHEN n >= 5 AND cpp > 0 AND det > 0 AND rss_f > 0
                  THEN (rss_r - rss_f) / (rss_f / (n - 3.0))
             END, 6) AS f_stat
FROM fin
"""


def q_cvm(spark, sf_dir):
    """Cramér-von Mises two-sample test between src0 and src1
    document-length distributions (operators/stats.py cvm_two_sample):
    the integrated-ECDF-gap companion to q_ks_test's max gap and
    q_mmd's kernel view, all three on the same frame family.
    Value-cardinality windows, ONE aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        cvm_two_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return cvm_two_sample(d, "source", "n_chars", "src0", "src1")


Q_CVM_SQL = """
WITH d AS (SELECT CAST(source = 'src0' AS INT) AS a,
                  CAST(n_chars AS DOUBLE) AS v
           FROM documents
           WHERE n_chars IS NOT NULL AND source IN ('src0', 'src1')),
vc AS (SELECT v, SUM(a) AS ca, SUM(1 - a) AS cb FROM d GROUP BY v),
st AS (SELECT v, ca, cb,
              SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS fa,
              SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS fb,
              SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
       FROM vc),
a AS (SELECT MAX(na) AS na, MAX(nb) AS nb,
             SUM(CAST(ca + cb AS DOUBLE)
                 * (CAST(fa AS DOUBLE) / na - CAST(fb AS DOUBLE) / nb)
                 * (CAST(fa AS DOUBLE) / na - CAST(fb AS DOUBLE) / nb))
               AS s
      FROM st)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(CASE WHEN na > 0 AND nb > 0
                  THEN CAST(na AS DOUBLE) * nb
                       / (CAST(na + nb AS DOUBLE)
                          * CAST(na + nb AS DOUBLE)) * s
             END, 6) AS t_stat
FROM a
"""


def q_rayleigh(spark, sf_dir):
    """Rayleigh circular-uniformity test of event time-of-day
    (operators/stats.py rayleigh_test): is activity uniform around the
    clock, or is there a preferred direction — the wrap-safe test a
    linear hour histogram can't give.  Angles quantized to the
    second-of-day grid (exact integer seconds → identical doubles in
    both engines); ONE cos/sin aggregate."""
    import math

    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        rayleigh_test,
    )

    e = _t(spark, sf_dir, "events")
    sec = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000)
    ) % F.lit(86400)
    theta = sec.cast("double") * F.lit(2.0 * math.pi / 86400.0)
    return rayleigh_test(e.select(theta.alias("th")), "th")


Q_RAYLEIGH_SQL = """
WITH d AS (SELECT (CAST(FLOOR(epoch_us(ts) / 1000000) AS BIGINT) % 86400)
                    * (2.0 * PI() / 86400.0) AS t
           FROM events),
a AS (SELECT COUNT(*) AS n, SUM(COS(t)) AS c, SUM(SIN(t)) AS s FROM d)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(SQRT(c * c + s * s) / n, 6) AS r_bar,
       ROUND(n * (SQRT(c * c + s * s) / n)
               * (SQRT(c * c + s * s) / n), 6) AS z,
       ROUND(CASE WHEN SQRT(c * c + s * s) / n > 0
                  THEN ((ATAN2(s, c) * (24.0 / (2.0 * PI()))) % 24.0
                        + 24.0) % 24.0
             END, 6) AS mean_hour
FROM a
"""


def q_watson_u2(spark, sf_dir):
    """Watson U² circular two-sample test: do the encouragement and
    control cohorts keep the same DAILY RHYTHM (operators/stats.py
    watson_u2_two_sample)?  Rotation-invariant, so a pure phase shift
    is discounted; second-of-day quantization bounds the distinct-value
    frame at 86400 rows regardless of corpus size."""
    import math

    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        watson_u2_two_sample,
    )

    e = _t(spark, sf_dir, "events")
    sec = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000)
    ) % F.lit(86400)
    d = e.select(
        (F.col("user_id") % 3 == 0).alias("enc"),
        (sec.cast("double") * F.lit(2.0 * math.pi / 86400.0)).alias("th"),
    )
    return watson_u2_two_sample(d, "enc", "th", True, False)


Q_WATSON_U2_SQL = """
WITH d AS (SELECT CAST(user_id % 3 = 0 AS INT) AS a,
                  (CAST(FLOOR(epoch_us(ts) / 1000000) AS BIGINT) % 86400)
                    * (2.0 * PI() / 86400.0) AS v
           FROM events),
vc AS (SELECT v, SUM(a) AS ca, SUM(1 - a) AS cb FROM d GROUP BY v),
st AS (SELECT v, ca, cb,
              SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS fa,
              SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS fb,
              SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
       FROM vc),
a AS (SELECT MAX(na) AS na, MAX(nb) AS nb,
             SUM(CAST(ca + cb AS DOUBLE)
                 * (CAST(fa AS DOUBLE) / na - CAST(fb AS DOUBLE) / nb)
                 * (CAST(fa AS DOUBLE) / na - CAST(fb AS DOUBLE) / nb))
               AS s2,
             SUM(CAST(ca + cb AS DOUBLE)
                 * (CAST(fa AS DOUBLE) / na - CAST(fb AS DOUBLE) / nb))
               AS s1
      FROM st)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(CASE WHEN na > 0 AND nb > 0
                  THEN CAST(na AS DOUBLE) * nb
                       / (CAST(na + nb AS DOUBLE)
                          * CAST(na + nb AS DOUBLE))
                       * (s2 - s1 * s1 / CAST(na + nb AS DOUBLE))
             END, 6) AS u2
FROM a
"""


def q_context_window(spark, sf_dir):
    """Rolling SFT-context assembly (packing.context_windows): each event
    paired with the ordered concat of its last 3 event types — the
    (context, target) training-row builder, ONE bounded-frame window
    instead of a skew-amplifying range self-join."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.packing import (
        context_windows,
    )

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return context_windows(
        e, "user_id", "ts", "event_id", "event_type", n=3
    ).transform(_by("key", "item_id"))


Q_CONTEXT_WINDOW_SQL = """
WITH c AS (
  SELECT user_id AS key, event_id AS item_id,
         list(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           AS ctx
  FROM events WHERE user_id < 20)
SELECT key, item_id, CAST(len(ctx) AS INT) AS ctx_len,
       array_to_string(ctx, ' | ') AS context
FROM c ORDER BY key, item_id
"""


def q_evaluate_alignment(spark, sf_dir):
    """Alignment-based sequence evaluation (evaluate.evaluate_alignment —
    Needleman-Wunsch, integer scoring): per user, the first-8 event-type
    sequence vs the same sequence with every event_id%3==0 row dropped —
    the shifted-turns case where the per-index join comparators cascade
    misses but alignment charges one gap per drop.  Integer DP scores
    make this FP-free; the oracle reproduces the DP in a recursive CTE
    (per-row iteration + the linear-gap running-max identity
    ``f(i,j) = max_{k<=j}(g(i,k)+k) - j``)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.evaluate import (
        evaluate_alignment,
    )

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def seq(df):
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 8)
            .select(
                F.col("user_id").alias("conv_id"),
                F.col("rn").alias("turn_idx"),
                F.col("event_type").alias("extracted_text"),
            )
        )

    actual = seq(e)
    golden = seq(e.filter(F.col("event_id") % 3 != 0))
    return evaluate_alignment(actual, golden).transform(_by("id"))


Q_EVALUATE_ALIGNMENT_SQL = """
WITH ea AS (
  SELECT user_id AS key, event_type AS tok,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM events),
a AS (SELECT key, CAST(i AS INT) AS i, tok FROM ea WHERE i <= 8),
eb AS (
  SELECT user_id AS key, event_type AS tok,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS j
  FROM events WHERE event_id % 3 <> 0),
b AS (SELECT key, CAST(j AS INT) AS j, tok FROM eb WHERE j <= 8),
alen AS (SELECT key, MAX(i) AS n FROM a GROUP BY key),
blen AS (SELECT key, MAX(j) AS m FROM b GROUP BY key),
nm AS (
  SELECT COALESCE(alen.key, blen.key) AS key,
         COALESCE(n, 0) AS n, COALESCE(m, 0) AS m
  FROM alen FULL OUTER JOIN blen ON alen.key = blen.key),
dp AS (
  WITH RECURSIVE t AS (
    SELECT nm.key, 0 AS i, CAST(r.range AS INT) AS j,
           CAST(-r.range AS INT) AS f
    FROM nm CROSS JOIN range(9) r WHERE r.range <= nm.m
    UNION ALL
    SELECT key, i, j,
           CAST(MAX(g + j) OVER (PARTITION BY key ORDER BY j
                                 ROWS UNBOUNDED PRECEDING) - j AS INT) AS f
    FROM (
      SELECT t.key, t.i + 1 AS i, t.j,
             CASE WHEN t.j = 0 THEN -(t.i + 1)
                  ELSE greatest(
                    LAG(t.f) OVER (PARTITION BY t.key ORDER BY t.j)
                      + CASE WHEN att.tok = bt.tok THEN 2 ELSE -1 END,
                    t.f - 1)
             END AS g
      FROM t
      JOIN nm ON nm.key = t.key AND t.i < nm.n
      JOIN a att ON att.key = t.key AND att.i = t.i + 1
      LEFT JOIN b bt ON bt.key = t.key AND bt.j = t.j
    ) s
  )
  SELECT * FROM t)
SELECT nm.key AS id, CAST(nm.n AS INT) AS n_actual,
       CAST(nm.m AS INT) AS n_golden, d.f AS nw_score,
       ROUND(d.f / (2.0 * greatest(nm.n, nm.m)), 6) AS sim
FROM nm JOIN dp d ON d.key = nm.key AND d.i = nm.n AND d.j = nm.m
ORDER BY id
"""


_DICT_TERMS = ["spark", "shuffle", "table", "vector", "stream"]


def q_dict_tags(spark, sf_dir):
    """Dictionary tagging (curation.dictionary_tag): occurrence counts of
    a fixed keyword lexicon per document — the blocklist/compliance/
    domain-tag sweep.  Counting is replace-arithmetic inside whole-stage
    codegen (no regex, no UDF, no joins); the oracle repeats the same
    arithmetic over a VALUES dictionary."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        dictionary_tag,
    )

    d = _t(spark, sf_dir, "documents")
    return dictionary_tag(d, "doc_id", "text", _DICT_TERMS).transform(
        _by("id", "term")
    )


def _dict_tags_sql() -> str:
    vals = ", ".join(f"('{t}')" for t in _DICT_TERMS)
    return f"""
WITH t AS (SELECT doc_id AS id, coalesce(text, '') AS tx FROM documents),
terms(term) AS (VALUES {vals}),
c AS (
  SELECT id, term,
         CAST((length(tx) - length(replace(tx, term, '')))
              / length(term) AS INT) AS hits
  FROM t CROSS JOIN terms)
SELECT id, term, hits FROM c WHERE hits > 0 ORDER BY id, term
"""


def q_ewma_days(spark, sf_dir):
    """Halflife-1 EWMA of daily event counts per event type
    (timeseries.ewma_days): the 2^-k weights are exact dyadic rationals,
    so numerator/denominator are exact in float64 — the one EWMA whose
    fixed-lag truncation is engine-portable without per-term rounding.
    One metadata-sized daily aggregate + 16 lag() terms under one
    window."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        ewma_days,
    )

    e = _t(spark, sf_dir, "events")
    return ewma_days(e, "event_type", "ts").transform(_by("key", "day"))


def _ewma_days_sql(window_days: int = 16) -> str:
    num, den = [], []
    for k in range(window_days):
        wk = repr(2.0 ** -k)
        num.append(f"COALESCE(LAG(n, {k}) OVER w * {wk}, 0.0)")
        den.append(
            f"CASE WHEN LAG(n, {k}) OVER w IS NOT NULL THEN {wk} ELSE 0.0 END"
        )
    return f"""
WITH d AS (
  SELECT event_type AS key, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2)
SELECT key, day, n,
       ROUND(({" + ".join(num)})
             / ({" + ".join(den)}), 6) AS ewma
FROM d
WINDOW w AS (PARTITION BY key ORDER BY day)
ORDER BY key, day
"""


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust daily trend per event type
    (timeseries.theil_sen_daily): median of all pairwise day slopes —
    the outlier-proof companion to q_ols_trend (one corrupted day moves
    OLS arbitrarily; the median tolerates ~29% corruption).  Slopes are
    exact integer-difference ratios; pairs are days², never events²."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        theil_sen_daily,
    )

    e = _t(spark, sf_dir, "events")
    return theil_sen_daily(e, "event_type", "ts").transform(_by("key"))


Q_THEIL_SEN_SQL = """
WITH d AS (
  SELECT event_type AS key, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
dd AS (SELECT key, day, n,
              CAST(CAST(day AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn
       FROM d),
pairs AS (
  SELECT a.key,
         CAST(b.n - a.n AS DOUBLE) / CAST(b.dn - a.dn AS DOUBLE) AS slope
  FROM dd a JOIN dd b ON a.key = b.key AND a.dn < b.dn),
sl AS (
  SELECT key, COUNT(*) AS n_pairs, ROUND(median(slope), 6) AS slope
  FROM pairs GROUP BY key),
nd AS (SELECT key, COUNT(*) AS n_days FROM dd GROUP BY key)
SELECT nd.key, nd.n_days, COALESCE(sl.n_pairs, 0) AS n_pairs, sl.slope
FROM nd LEFT JOIN sl ON nd.key = sl.key
ORDER BY nd.key
"""


def q_zonemap_audit(spark, sf_dir):
    """Zone-map pruning audit (layout.zonemap_stats — q_zorder's
    companion): per simulated file, n_chars min/max and whether the range
    predicate [150, 250] could prune it, for BOTH a hash layout (doc_id
    mod 16 — prunes nothing by construction) and a value-clustered layout
    (n_chars div 100) — the before-the-rewrite comparison that justifies
    a clustering key.  One map-side aggregate per layout, metadata-sized
    output."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.layout import (
        zonemap_stats,
    )

    d = _t(spark, sf_dir, "documents")
    hash_l = zonemap_stats(
        d, F.pmod(F.col("doc_id"), F.lit(16)), F.col("n_chars"), 150, 250
    ).withColumn("layout", F.lit("hash"))
    clus_l = zonemap_stats(
        d, F.floor(F.col("n_chars") / 100), F.col("n_chars"), 150, 250
    ).withColumn("layout", F.lit("clustered"))
    return hash_l.unionByName(clus_l).transform(_by("layout", "fk"))


Q_ZONEMAP_AUDIT_SQL = """
WITH h AS (
  SELECT doc_id % 16 AS fk, COUNT(*) AS n,
         MIN(n_chars) AS vmin, MAX(n_chars) AS vmax
  FROM documents GROUP BY 1),
c AS (
  SELECT CAST(floor(n_chars / 100) AS BIGINT) AS fk, COUNT(*) AS n,
         MIN(n_chars) AS vmin, MAX(n_chars) AS vmax
  FROM documents GROUP BY 1)
SELECT fk, n, vmin, vmax, (vmax < 150 OR vmin > 250) AS pruned,
       'hash' AS layout FROM h
UNION ALL
SELECT fk, n, vmin, vmax, (vmax < 150 OR vmin > 250) AS pruned,
       'clustered' AS layout FROM c
ORDER BY layout, fk
"""


def q_survival(spark, sf_dir):
    """Kaplan-Meier time-to-conversion curve (stats.survival_km): per
    user, hours from first view to first subsequent purchase, censored at
    the last observed event when no purchase follows — the retention/
    conversion analysis that handles censoring correctly (dropping
    censored users biases the curve down).  Durations are exact floored
    integer-microsecond hour buckets; risk sets ride one reverse
    cumulative window over the distinct-times frame."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        survival_km,
    )

    e = _t(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.join(t1, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    le = e.groupBy("user_id").agg(F.max("ts").alias("tl"))
    hours = lambda a, b: F.floor(  # noqa: E731
        (us(a) - us(b)) / F.lit(3600000000.0)
    ).cast("double")
    subj = (
        t1.join(p, "user_id", "left")
        .join(le, "user_id")
        .select(
            F.when(F.col("tp").isNotNull(), hours(F.col("tp"), F.col("t1")))
            .otherwise(hours(F.col("tl"), F.col("t1")))
            .alias("dur"),
            F.col("tp").isNotNull().cast("int").alias("ev"),
        )
    )
    return survival_km(subj, "dur", "ev").transform(_by("t"))


Q_SURVIVAL_SQL = """
WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1),
p AS (SELECT e.user_id, MIN(e.ts) AS tp FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > t1.t1 GROUP BY 1),
le AS (SELECT user_id, MAX(ts) AS tl FROM events GROUP BY 1),
subj AS (
  SELECT CASE WHEN p.tp IS NOT NULL
              THEN floor((epoch_us(p.tp) - epoch_us(t1.t1)) / 3600000000.0)
              ELSE floor((epoch_us(le.tl) - epoch_us(t1.t1)) / 3600000000.0)
         END AS t,
         CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS e
  FROM t1 LEFT JOIN p USING (user_id) JOIN le USING (user_id)),
pt AS (SELECT t, COUNT(*) AS n_at, SUM(e) AS d FROM subj GROUP BY t),
ar AS (SELECT t, n_at, d,
              SUM(n_at) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
       FROM pt),
ev AS (SELECT * FROM ar WHERE d > 0),
km AS (
  SELECT t, n_risk, d,
         SUM(CASE WHEN d < n_risk
                  THEN ln(1.0 - d / CAST(n_risk AS DOUBLE)) END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS ls,
         MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS hz
  FROM ev)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
       CASE WHEN hz = 1 THEN 0.0 ELSE ROUND(exp(ls), 6) END AS surv
FROM km ORDER BY t
"""


def q_logrank(spark, sf_dir):
    """Two-cohort log-rank test on time-to-conversion
    (operators/stats.py logrank_test): even- vs odd-id users, hours
    from first view to first subsequent purchase, censored at the last
    observed event — the censoring-correct cohort comparison companion
    to q_survival.  Subjects collapse to per-event-time counts
    (map-side combine); risk sets ride one reverse cumulative window
    over the distinct-times frame; one final aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        logrank_test,
    )

    e = _t(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.join(t1, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    le = e.groupBy("user_id").agg(F.max("ts").alias("tl"))
    hours = lambda a, b: F.floor(  # noqa: E731
        (us(a) - us(b)) / F.lit(3600000000.0)
    ).cast("double")
    subj = (
        t1.join(p, "user_id", "left")
        .join(le, "user_id")
        .select(
            F.when(F.col("tp").isNotNull(), hours(F.col("tp"), F.col("t1")))
            .otherwise(hours(F.col("tl"), F.col("t1")))
            .alias("dur"),
            F.col("tp").isNotNull().cast("int").alias("ev"),
            (F.col("user_id") % 2).cast("int").alias("g"),
        )
    )
    return logrank_test(subj, "dur", "ev", "g")


Q_LOGRANK_SQL = """
WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1),
p AS (SELECT e.user_id, MIN(e.ts) AS tp FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > t1.t1 GROUP BY 1),
le AS (SELECT user_id, MAX(ts) AS tl FROM events GROUP BY 1),
subj AS (
  SELECT CASE WHEN p.tp IS NOT NULL
              THEN floor((epoch_us(p.tp) - epoch_us(t1.t1)) / 3600000000.0)
              ELSE floor((epoch_us(le.tl) - epoch_us(t1.t1)) / 3600000000.0)
         END AS t,
         CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS e,
         CAST(t1.user_id % 2 AS INT) AS g
  FROM t1 LEFT JOIN p USING (user_id) JOIN le USING (user_id)),
pt AS (SELECT t, COUNT(*) AS n_at, SUM(e) AS d,
              SUM(g) AS n1_at, SUM(e * g) AS d1
       FROM subj GROUP BY t),
ar AS (SELECT t, d, d1,
              SUM(n_at) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk,
              SUM(n1_at) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1_risk
       FROM pt),
ev AS (SELECT t, d, d1,
              CAST(n_risk AS DOUBLE) AS n_risk,
              CAST(n1_risk AS DOUBLE) AS n1_risk
       FROM ar WHERE d > 0),
terms AS (
  SELECT t, d, d1,
         d * n1_risk / n_risk AS e1,
         CASE WHEN n_risk > 1
              THEN d * (n1_risk / n_risk) * (1.0 - n1_risk / n_risk)
                   * (n_risk - d) / (n_risk - 1.0)
              ELSE 0.0 END AS v
  FROM ev)
SELECT CAST(COUNT(*) AS BIGINT) AS n_times,
       CAST(SUM(d1) AS BIGINT) AS obs1,
       ROUND(SUM(e1), 6) AS exp1,
       ROUND(SUM(d1 - e1), 6) AS o_minus_e,
       ROUND(CASE WHEN SUM(v) > 0
                  THEN SUM(d1 - e1) * SUM(d1 - e1) / SUM(v)
                  ELSE 0.0 END, 6) AS logrank
FROM terms
"""


def q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative conversion hazard
    (operators/stats.py nelson_aalen) over the same censored
    time-to-purchase subjects as q_survival: the additive hazard twin
    of the Kaplan-Meier curve, one row per observed-event hour with
    H(t) and its variance estimate.  Same metadata-sized window shape
    as KM."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        nelson_aalen,
    )

    e = _t(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.join(t1, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    le = e.groupBy("user_id").agg(F.max("ts").alias("tl"))
    hours = lambda a, b: F.floor(  # noqa: E731
        (us(a) - us(b)) / F.lit(3600000000.0)
    ).cast("double")
    subj = (
        t1.join(p, "user_id", "left")
        .join(le, "user_id")
        .select(
            F.when(F.col("tp").isNotNull(), hours(F.col("tp"), F.col("t1")))
            .otherwise(hours(F.col("tl"), F.col("t1")))
            .alias("dur"),
            F.col("tp").isNotNull().cast("int").alias("ev"),
        )
    )
    return nelson_aalen(subj, "dur", "ev").transform(_by("t"))


Q_NELSON_AALEN_SQL = """
WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1),
p AS (SELECT e.user_id, MIN(e.ts) AS tp FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > t1.t1 GROUP BY 1),
le AS (SELECT user_id, MAX(ts) AS tl FROM events GROUP BY 1),
subj AS (
  SELECT CASE WHEN p.tp IS NOT NULL
              THEN floor((epoch_us(p.tp) - epoch_us(t1.t1)) / 3600000000.0)
              ELSE floor((epoch_us(le.tl) - epoch_us(t1.t1)) / 3600000000.0)
         END AS t,
         CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS e
  FROM t1 LEFT JOIN p USING (user_id) JOIN le USING (user_id)),
pt AS (SELECT t, COUNT(*) AS n_at, SUM(e) AS d FROM subj GROUP BY t),
ar AS (SELECT t, n_at, d,
              SUM(n_at) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
       FROM pt),
ev AS (SELECT * FROM ar WHERE d > 0)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
       ROUND(SUM(d / CAST(n_risk AS DOUBLE))
         OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         6) AS cumhaz,
       ROUND(SUM(d / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)))
         OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         6) AS cumhaz_var
FROM ev ORDER BY t
"""


def q_kruskal(spark, sf_dir):
    """Kruskal-Wallis H across event types on value
    (operators/stats.py kruskal_wallis): the k-group nonparametric
    location test completing the battery next to Mann-Whitney (2-group)
    and ANOVA (parametric).  Corpus collapses to per-(value, group)
    then per-distinct-value counts; the rank window runs over distinct
    values only; tie-corrected H from one k-row aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        kruskal_wallis,
    )

    e = _t(spark, sf_dir, "events")
    return kruskal_wallis(e, "event_type", "value")


Q_KRUSKAL_SQL = """
WITH d AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL),
vg AS (SELECT v, g, COUNT(*) AS c FROM d GROUP BY 1, 2),
vc AS (SELECT v, SUM(c) AS t FROM vg GROUP BY 1),
rk AS (SELECT v,
              CAST(SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) - t + 1 AS DOUBLE)
              + (CAST(t AS DOUBLE) - 1.0) / 2.0 AS ar
       FROM vc),
pg AS (SELECT g, SUM(c) AS ng, SUM(CAST(c AS DOUBLE) * ar) AS rg
       FROM vg JOIN rk USING (v) GROUP BY g),
ts AS (SELECT SUM(CAST(t AS DOUBLE) * t * t - t) AS tsum FROM vc),
a AS (SELECT COUNT(*) AS k, SUM(ng) AS n,
             SUM(rg * rg / CAST(ng AS DOUBLE)) AS rsum
      FROM pg)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       ROUND(12.0 / (n * (n + 1.0)) * rsum - 3.0 * (n + 1.0), 6) AS h,
       ROUND(CASE WHEN 1.0 - tsum / (CAST(n AS DOUBLE) * n * n - n) > 0
                  THEN (12.0 / (n * (n + 1.0)) * rsum - 3.0 * (n + 1.0))
                       / (1.0 - tsum / (CAST(n AS DOUBLE) * n * n - n))
             END, 6) AS h_adj
FROM a, ts
"""


def q_levene(spark, sf_dir):
    """Brown-Forsythe (median-based Levene) variance-homogeneity test
    across event types (operators/stats.py brown_forsythe): are value
    SPREADS comparable across groups?  One exact-median aggregate
    broadcast back, then the two-stage ANOVA moment shape on absolute
    deviations."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        brown_forsythe,
    )

    e = _t(spark, sf_dir, "events")
    return brown_forsythe(e, "event_type", "value")


Q_LEVENE_SQL = """
WITH d AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events WHERE value IS NOT NULL),
med AS (SELECT g, quantile_cont(x, 0.5) AS m FROM d GROUP BY g),
z AS (SELECT d.g, ABS(x - m) AS z FROM d JOIN med USING (g)),
pg AS (SELECT g, COUNT(*) AS ng, SUM(z) AS sg, SUM(z * z) AS qg
       FROM z GROUP BY g),
a AS (SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(sg) AS s, SUM(qg) AS q,
             SUM(sg * sg / CAST(ng AS DOUBLE)) AS sb
      FROM pg)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN k > 1 AND (q - sb) > 0
                  THEN ((sb - s * s / CAST(n AS DOUBLE)) / (k - 1.0))
                       / ((q - sb) / (CAST(n AS DOUBLE) - k))
             END, 6) AS f_bf
FROM a
"""


def q_jarque_bera(spark, sf_dir):
    """Per-event-type Jarque-Bera normality screen on value
    (operators/stats.py jarque_bera): is a normal-theory control band
    even admissible for this metric?  ONE raw-moment aggregate per
    group; closed-form central moments on the k-row frame."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        jarque_bera,
    )

    e = _t(spark, sf_dir, "events")
    return jarque_bera(e, "value", "event_type").transform(_by("g"))


Q_JARQUE_BERA_SQL = """
WITH d AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL),
a AS (SELECT g, COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2,
             SUM(v * v * v) AS s3, SUM(v * v * v * v) AS s4
      FROM d GROUP BY g),
m AS (SELECT g, n,
             s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3.0 * (s1 / n) * s2 / n
               + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4.0 * (s1 / n) * s3 / n
               + 6.0 * (s1 / n) * (s1 / n) * s2 / n
               - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM a)
SELECT g, n,
       ROUND(CASE WHEN m2 > 0 THEN m3 / POW(m2, 1.5) END, 6) AS skew,
       ROUND(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END, 6) AS kurt,
       ROUND(CASE WHEN m2 > 0 THEN
         n / 6.0 * ((m3 / POW(m2, 1.5)) * (m3 / POW(m2, 1.5))
                    + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0)
                      / 4.0)
       END, 6) AS jb
FROM m ORDER BY g
"""


def q_cochran_q(spark, sf_dir):
    """Cochran's Q across three versions of a document quality gate
    (operators/stats.py cochran_q): strict-length, lenient-length, and
    English-language — do the gates pass at equal rates given that
    they judge the SAME documents?  The k-judge McNemar for filter
    cascades.  ONE corpus aggregate, map-side combined."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        cochran_q,
    )

    d = _t(spark, sf_dir, "documents")
    return cochran_q(
        d,
        [
            F.coalesce(F.col("n_chars") >= 800, F.lit(False)),
            F.coalesce(F.col("n_chars") >= 500, F.lit(False)),
            F.coalesce(F.col("lang") == "en", F.lit(False)),
        ],
    )


Q_COCHRAN_Q_SQL = """
WITH j AS (SELECT CAST(COALESCE(n_chars >= 800, FALSE) AS INT) AS a,
                  CAST(COALESCE(n_chars >= 500, FALSE) AS INT) AS b,
                  CAST(COALESCE(lang = 'en', FALSE) AS INT) AS c
           FROM documents),
agg AS (SELECT COUNT(*) AS n, SUM(a) AS c1, SUM(b) AS c2, SUM(c) AS c3,
               SUM((a + b + c) * (a + b + c)) AS r2
        FROM j)
SELECT CAST(n AS BIGINT) AS n, 3 AS k,
       CAST(c1 AS BIGINT) AS c_1, CAST(c2 AS BIGINT) AS c_2,
       CAST(c3 AS BIGINT) AS c_3,
       ROUND(CASE WHEN 3.0 * (c1 + c2 + c3) - r2 > 0 THEN
         2.0 * (3.0 * (CAST(c1 AS DOUBLE) * c1 + CAST(c2 AS DOUBLE) * c2
                       + CAST(c3 AS DOUBLE) * c3)
                - CAST(c1 + c2 + c3 AS DOUBLE)
                  * CAST(c1 + c2 + c3 AS DOUBLE))
         / (3.0 * (c1 + c2 + c3) - CAST(r2 AS DOUBLE))
       END, 6) AS q_cochran
FROM agg
"""


def q_friedman(spark, sf_dir):
    """Friedman repeated-measures test over per-user event-type value
    profiles (operators/stats.py friedman_test): each user is a block,
    the five event types are treatments, the per-(user, type) mean
    value is the measurement — are values systematically ordered across
    event types within users?  Blocks missing a type are dropped
    (complete-block design); ranks ride tiny per-block windows, never a
    global one."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        friedman_test,
    )

    e = _t(spark, sf_dir, "events")
    p = (
        e.filter(F.col("value").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.avg("value").alias("v"))
    )
    return friedman_test(p, "user_id", "event_type", "v")


Q_FRIEDMAN_SQL = """
WITH d AS (SELECT user_id AS b, event_type AS trt, AVG(value) AS v
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
kd AS (SELECT COUNT(DISTINCT trt) AS kk FROM d),
cb AS (SELECT b FROM d GROUP BY b
       HAVING COUNT(*) = (SELECT kk FROM kd)),
c AS (SELECT d.* FROM d JOIN cb USING (b)),
rk AS (SELECT b, trt,
              CAST(RANK() OVER (PARTITION BY b ORDER BY v) AS DOUBLE)
              + (COUNT(*) OVER (PARTITION BY b, v) - 1) / 2.0 AS r,
              CAST(COUNT(*) OVER (PARTITION BY b, v) AS DOUBLE) AS t
       FROM c),
pt AS (SELECT trt, SUM(r) AS rj, COUNT(*) AS nb FROM rk GROUP BY trt),
ties AS (SELECT SUM((t * t * t - t) / t) AS tsum FROM rk),
a AS (SELECT COUNT(*) AS k2, MAX(nb) AS n_blocks, SUM(rj * rj) AS r2
      FROM pt)
SELECT CAST(n_blocks AS BIGINT) AS n_blocks, CAST(k2 AS BIGINT) AS k,
       ROUND(CASE WHEN 1.0 - tsum / (n_blocks * (CAST(k2 AS DOUBLE)
                    * k2 * k2 - k2)) > 0
                  THEN (12.0 * r2 / (n_blocks * k2 * (k2 + 1.0))
                        - 3.0 * n_blocks * (k2 + 1.0))
                       / (1.0 - tsum / (n_blocks * (CAST(k2 AS DOUBLE)
                          * k2 * k2 - k2)))
             END, 6) AS chi2_f
FROM a, ties
"""


def q_wilson_rates(spark, sf_dir):
    """Wilson 95% score intervals for each source's English rate
    (stats.wilson_interval): the small-sample-safe rate CI dashboards
    should use instead of Wald (which collapses to zero width at rates
    of 0 or 1).  One map-side aggregate + constant arithmetic."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        wilson_interval,
    )

    d = _t(spark, sf_dir, "documents")
    return wilson_interval(d, "source", F.col("lang") == "en").transform(
        _by("group")
    )


Q_WILSON_RATES_SQL = """
WITH g AS (
  SELECT source AS "group", COUNT(*) AS n,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS successes
  FROM documents GROUP BY 1)
SELECT "group", n, successes,
       ROUND(CAST(successes AS DOUBLE) / n, 6) AS rate,
       ROUND(((CAST(successes AS DOUBLE) / n) + 3.8416 / (2.0 * n))
               / (1.0 + 3.8416 / n)
             - 1.96 * sqrt((CAST(successes AS DOUBLE) / n)
                           * (1.0 - CAST(successes AS DOUBLE) / n) / n
                           + 3.8416 / (4.0 * n * n))
               / (1.0 + 3.8416 / n), 6) AS lo,
       ROUND(((CAST(successes AS DOUBLE) / n) + 3.8416 / (2.0 * n))
               / (1.0 + 3.8416 / n)
             + 1.96 * sqrt((CAST(successes AS DOUBLE) / n)
                           * (1.0 - CAST(successes AS DOUBLE) / n) / n
                           + 3.8416 / (4.0 * n * n))
               / (1.0 + 3.8416 / n), 6) AS hi
FROM g ORDER BY "group"
"""


def q_fdr_correction(spark, sf_dir):
    """Benjamini-Hochberg FDR over the family of per-source-pair
    two-proportion tests (stats.bh_fdr): 45 source pairs tested on the
    English rate — at alpha=0.1, ~4 'significant' pairs are expected by
    chance, which is exactly what BH guards against.  p-values come from
    the CERTIFIED rounded z via the A&S 7.1.26 normal tail (the
    documented closed form both engines evaluate identically)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        bh_fdr,
        normal_sf,
        prop_ztest_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    zt = prop_ztest_pairs(d, "source", F.col("lang") == "en").filter(
        F.col("z").isNotNull()
    )
    withp = zt.select(
        "group_a",
        "group_b",
        F.round(F.lit(2.0) * normal_sf(F.abs(F.col("z"))), 6).alias("p"),
    )
    return (
        bh_fdr(withp, "p", ["group_a", "group_b"], alpha=0.1)
        .select(
            "group_a",
            "group_b",
            "p",
            "p_rank",
            "m",
            F.round("crit", 6).alias("crit"),
            "reject",
        )
        .transform(_by("group_a", "group_b"))
    )


Q_FDR_CORRECTION_SQL = """
WITH g AS (
  SELECT source AS g, COUNT(*) AS n,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM documents GROUP BY 1),
pr AS (
  SELECT a.g AS group_a, b.g AS group_b,
         CAST(a.s AS DOUBLE) / a.n AS p1, CAST(b.s AS DOUBLE) / b.n AS p2,
         CAST(a.s + b.s AS DOUBLE) / (a.n + b.n) AS pp,
         a.n AS n_a, b.n AS n_b
  FROM g a JOIN g b ON a.g < b.g),
zt AS (
  SELECT group_a, group_b,
         ROUND(CASE WHEN pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b) > 0
                    THEN (p1 - p2)
                         / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b))
               END, 6) AS z
  FROM pr),
pv AS (
  SELECT group_a, group_b,
         ROUND(2 * (exp(-0.5 * abs(z) * abs(z)) / 2.5066282746310002)
                 * ((1.0 / (1.0 + 0.2316419 * abs(z)))
                    * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                       * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                          * (1.781477937
                             + (1.0 / (1.0 + 0.2316419 * abs(z)))
                               * (-1.821255978
                                  + (1.0 / (1.0 + 0.2316419 * abs(z)))
                                    * 1.330274429))))), 6) AS p
  FROM zt WHERE z IS NOT NULL),
rk AS (
  SELECT group_a, group_b, p,
         CAST(ROW_NUMBER() OVER (ORDER BY p, group_a, group_b) AS INT)
           AS p_rank,
         COUNT(*) OVER () AS m
  FROM pv),
cz AS (
  SELECT *, p_rank * 0.1 / m AS crit FROM rk),
fin AS (
  SELECT *, MAX(CASE WHEN p <= crit THEN p_rank END) OVER () AS cutoff
  FROM cz)
SELECT group_a, group_b, p, p_rank, m, ROUND(crit, 6) AS crit,
       COALESCE(p_rank <= cutoff, FALSE) AS reject
FROM fin ORDER BY group_a, group_b
"""

# A&S 7.1.26 two-sided normal tail over an already-rounded z column —
# the identical expression tree stats.normal_sf evaluates (see
# q_fdr_correction); kept as one fragment so new tests reuse it.
_NORM_TAIL2_SQL = """LEAST(ROUND(2 * (exp(-0.5 * abs(z) * abs(z)) / 2.5066282746310002)
                 * ((1.0 / (1.0 + 0.2316419 * abs(z)))
                    * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                       * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                          * (1.781477937
                             + (1.0 / (1.0 + 0.2316419 * abs(z)))
                               * (-1.821255978
                                  + (1.0 / (1.0 + 0.2316419 * abs(z)))
                                    * 1.330274429))))), 6), 1.0)"""


def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotone-trend test on daily event counts per type
    (timeseries.mann_kendall_daily) — q_theil_sen's significance
    companion: Theil-Sen estimates the slope, MK says whether a
    monotone trend exists at all, distribution-free, with the
    tie-corrected variance and continuity correction.  S and Var(S)
    are pure integer arithmetic over days²-sized pair frames; p comes
    from the CERTIFIED rounded z via the A&S 7.1.26 tail (the
    q_fdr_correction discipline)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        mann_kendall_daily,
    )

    e = _t(spark, sf_dir, "events")
    return mann_kendall_daily(e, "event_type", "ts").transform(_by("key"))


Q_MANN_KENDALL_SQL = f"""
WITH d AS (
  SELECT event_type AS key, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
dd AS (SELECT key, day, n,
              CAST(CAST(day AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn
       FROM d),
s AS (
  SELECT a.key, CAST(SUM(sign(b.n - a.n)) AS BIGINT) AS s_stat
  FROM dd a JOIN dd b ON a.key = b.key AND a.dn < b.dn
  GROUP BY a.key),
nd AS (SELECT key, COUNT(*) AS n_days FROM dd GROUP BY key),
tt AS (
  SELECT key, SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT key, n, COUNT(*) AS t FROM dd GROUP BY key, n)
  GROUP BY key),
base AS (
  SELECT nd.key, CAST(nd.n_days AS INT) AS n_days,
         COALESCE(s.s_stat, 0) AS s_stat,
         ROUND((nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                - tt.tie_term) / 18.0, 6) AS var_s
  FROM nd LEFT JOIN s ON nd.key = s.key
  LEFT JOIN tt ON nd.key = tt.key),
zz AS (
  SELECT *, ROUND(CASE WHEN var_s <= 0 THEN NULL
                       WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                       WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                       ELSE 0.0 END, 6) AS z
  FROM base),
pv AS (
  SELECT key, n_days, s_stat, var_s, z,
         CASE WHEN z IS NULL THEN NULL ELSE {_NORM_TAIL2_SQL} END AS p
  FROM zz)
SELECT key, n_days, s_stat, var_s, z, p,
       CASE WHEN p IS NULL OR p > 0.05 THEN 'none'
            WHEN s_stat > 0 THEN 'increasing'
            WHEN s_stat < 0 THEN 'decreasing'
            ELSE 'none' END AS trend
FROM pv ORDER BY key
"""


def q_roc_auc(spark, sf_dir):
    """Per-source ROC AUC of the n_chars score against the lang='en'
    label (stats.roc_auc): the rank-statistic identity AUC =
    (R_pos - n_pos(n_pos+1)/2)/(n_pos*n_neg) with tie-averaged ranks —
    the Mann-Whitney normalization, i.e. the probability a positive
    outranks a negative.  The standard gate before a quality score is
    trusted as a curation filter.  Doubled ranks keep the sum integral
    until the single final division; one group-key shuffle, two shared
    windows, no joins."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        roc_auc,
    )

    d = _t(spark, sf_dir, "documents")
    return roc_auc(
        d, "source", F.col("n_chars"), F.col("lang") == "en"
    ).transform(_by("group"))


Q_ROC_AUC_SQL = """
WITH r AS (
  SELECT source AS "group",
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         2 * RANK() OVER (PARTITION BY source ORDER BY n_chars ASC)
           + (COUNT(*) OVER (PARTITION BY source, n_chars) - 1) AS r2
  FROM documents),
g AS (
  SELECT "group", COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
         SUM(CASE WHEN y = 1 THEN r2 END) AS r2pos
  FROM r GROUP BY 1)
SELECT "group", n, n_pos, n - n_pos AS n_neg,
       ROUND(CASE WHEN n_pos > 0 AND n - n_pos > 0
                  THEN (r2pos / 2.0 - n_pos * (n_pos + 1) / 2.0)
                       / (CAST(n_pos AS DOUBLE) * (n - n_pos))
             END, 6) AS auc
FROM g ORDER BY "group"
"""


def q_link_prediction(spark, sf_dir):
    """Adamic-Adar + resource-allocation link prediction over the
    co-activity graph (graph.link_prediction): for every non-adjacent
    user pair sharing a neighbor, common-neighbor count, sum 1/ln(deg)
    and sum 1/deg — the graph-completion / recommendation backfill.
    Wedges enumerate by the same middle-node adjacency join the
    triangle census runs (hub cap available via max_middle_degree; the
    certified path is exact), then one anti-join drops already-adjacent
    pairs.  Top-200 by (common, aa) keeps the certification frame
    bounded."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        coactivity_edges,
        link_prediction,
    )

    edges = _coact(spark, sf_dir)
    return (
        link_prediction(edges, assume_distinct=True)
        .orderBy(
            F.desc("common"), F.desc("aa_score"), F.asc("a"), F.asc("b")
        )
        .limit(200)
    )


Q_LINK_PREDICTION_SQL = """
WITH b AS (SELECT DISTINCT date_trunc('minute', ts) AS _b, user_id AS _u FROM events),
sized AS (SELECT _b, _u FROM (SELECT _b, _u, COUNT(*) OVER (PARTITION BY _b) AS _n FROM b)
          WHERE _n <= 64),
und AS (SELECT DISTINCT LEAST(l._u, r._u) AS a, GREATEST(l._u, r._u) AS b
        FROM sized l JOIN sized r USING (_b) WHERE l._u <> r._u),
dir AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT src AS z, COUNT(*) AS deg FROM dir GROUP BY 1),
adj AS (SELECT dst AS z, src AS n FROM dir),
wedge AS (
  SELECT l.z, l.n AS a, r.n AS b
  FROM adj l JOIN adj r ON l.z = r.z AND l.n < r.n),
scored AS (
  SELECT w.a, w.b, COUNT(*) AS common,
         ROUND(SUM(1.0 / ln(deg.deg)), 6) AS aa_score,
         ROUND(SUM(1.0 / deg.deg), 6) AS ra_score
  FROM wedge w JOIN deg ON w.z = deg.z
  GROUP BY w.a, w.b),
nonadj AS (
  SELECT s.* FROM scored s
  LEFT JOIN und e ON s.a = e.a AND s.b = e.b
  WHERE e.a IS NULL)
SELECT a, b, common, aa_score, ra_score
FROM nonadj ORDER BY common DESC, aa_score DESC, a ASC, b ASC LIMIT 200
"""


def q_ccf(spark, sf_dir):
    """Lagged cross-correlation between the 'click' and 'purchase'
    daily series (timeseries.ccf_daily) — q_acf's two-series twin: does
    click activity LEAD purchases?  Calendar-aligned day pairs, exact
    int64 sufficient statistics (the acf_daily discipline), lags
    -7..7 in one explode + one equi-join on the shifted epoch day."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        ccf_daily,
    )

    e = _t(spark, sf_dir, "events")
    return ccf_daily(e, "event_type", "ts", "click", "purchase").transform(
        _by("lag")
    )


Q_CCF_SQL = """
WITH d AS (
  SELECT event_type AS key, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2),
dd AS (SELECT key, n,
              CAST(CAST(day AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn
       FROM d),
a AS (SELECT dn, n AS x FROM dd WHERE key = 'click'),
b AS (SELECT dn AS dy, n AS y FROM dd WHERE key = 'purchase'),
lagged AS (
  SELECT a.dn, a.x, l.lag FROM a
  CROSS JOIN (SELECT UNNEST(range(-7, 8)) AS lag) l),
pairs AS (
  SELECT lg.lag, lg.x, b.y FROM lagged lg JOIN b ON lg.dn + lg.lag = b.dy),
agg AS (
  SELECT lag, COUNT(*) AS n_pairs,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM pairs GROUP BY lag)
SELECT CAST(lag AS INT) AS lag, n_pairs,
       ROUND(CASE WHEN n_pairs * sxx - sx * sx > 0
                   AND n_pairs * syy - sy * sy > 0
                  THEN (n_pairs * sxy - sx * sy)
                       / sqrt((n_pairs * sxx - CAST(sx AS DOUBLE) * sx)
                              * (n_pairs * syy - CAST(sy AS DOUBLE) * sy))
             END, 6) AS r
FROM agg ORDER BY lag
"""


def q_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa over three heuristic document raters — two length
    gates (n_chars > 200, > 150) and one language gate (lang = 'en')
    (stats.fleiss_kappa): the n-rater generalization of
    q_filter_agreement's Cohen kappa, certifying whether an ensemble of
    curation filters agrees beyond chance before any of them is trusted
    alone.  Every statistic is an integer sum before its one division
    (agreeing pairs for P-bar; sum of squared category counts for P_e),
    so kappa is the identical IEEE expression in both engines."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        fleiss_kappa,
    )

    d = _t(spark, sf_dir, "documents")
    gate = lambda c: F.when(c, F.lit("pass")).otherwise(F.lit("fail"))  # noqa: E731
    return fleiss_kappa(
        d,
        [
            gate(F.col("n_chars") > 200),
            gate(F.col("n_chars") > 150),
            gate(F.col("lang") == "en"),
        ],
    )


Q_FLEISS_KAPPA_SQL = """
WITH lab AS (
  SELECT CASE WHEN n_chars > 200 THEN 'pass' ELSE 'fail' END AS r0,
         CASE WHEN n_chars > 150 THEN 'pass' ELSE 'fail' END AS r1,
         CASE WHEN lang = 'en' THEN 'pass' ELSE 'fail' END AS r2
  FROM documents),
tot AS (
  SELECT COUNT(*) AS n_items,
         SUM(CAST(r0 = r1 AS BIGINT) + CAST(r0 = r2 AS BIGINT)
             + CAST(r1 = r2 AS BIGINT)) AS t
  FROM lab),
cat AS (
  SELECT SUM(c * c) AS c2
  FROM (SELECT COUNT(*) AS c
        FROM (SELECT UNNEST([r0, r1, r2]) AS lab FROM lab)
        GROUP BY lab)),
fin AS (
  SELECT n_items, t, c2,
         2.0 * t / (n_items * 6.0) AS p_bar,
         c2 / (CAST(n_items AS DOUBLE) * 3.0 * n_items * 3.0) AS p_e
  FROM tot CROSS JOIN cat)
SELECT n_items, 3 AS n_raters, ROUND(p_bar, 6) AS p_bar,
       ROUND(p_e, 6) AS p_e,
       ROUND(CASE WHEN p_e < 1.0 THEN (p_bar - p_e) / (1.0 - p_e) END, 6)
         AS kappa
FROM fin
"""


def q_bradley_terry(spark, sf_dir):
    """Bradley-Terry preference strengths over event types
    (stats.bradley_terry): each user 'prefers' type a over type b when
    they fired more a-events than b-events — one weighted match per
    user-pair — then 8 Hunter-MM rounds with per-round 9-decimal
    rounding (the q_pagerank fixed-iteration discipline) recover the
    global strength ranking, Σ strength = 1.  The aggregation shape
    behind RLHF preference data and arena-style model rankings: matches
    collapse to the items² dimension before ANY iteration runs."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        bradley_terry,
    )

    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    a = counts.select(
        "user_id", F.col("event_type").alias("win"), F.col("c").alias("ca")
    )
    b = counts.select(
        "user_id", F.col("event_type").alias("lose"), F.col("c").alias("cb")
    )
    matches = (
        a.join(b, "user_id")
        .filter(F.col("ca") > F.col("cb"))
        .groupBy("win", "lose")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return bradley_terry(
        matches, "win", "lose", weight_col="w", iterations=8
    ).transform(_by("item"))


def _bradley_terry_sql(iterations: int = 8) -> str:
    """DuckDB twin: same match derivation, same unrolled MM iterations,
    same per-round 9-decimal rounding after normalization."""
    # every CTE is MATERIALIZED: each round references the previous one
    # twice, so default CTE inlining would expand the chain (and the
    # base scans under it) exponentially in the iteration count
    its = []
    prev = "r0"
    for k in range(1, iterations + 1):
        its.append(f"""
d{k} AS MATERIALIZED (
  SELECT s.i, SUM(s.n / (pi.p + pj.p)) AS d
  FROM sym s JOIN {prev} pi ON s.i = pi.i JOIN {prev} pj ON s.j = pj.i
  GROUP BY s.i),
raw{k} AS MATERIALIZED (
  SELECT it.i, it.wins / d{k}.d AS raw FROM items it JOIN d{k} ON it.i = d{k}.i),
r{k} AS MATERIALIZED (
  SELECT i, ROUND(raw / (SELECT SUM(raw) FROM raw{k}), 9) AS p FROM raw{k})""")
        prev = f"r{k}"
    return f"""
WITH counts AS MATERIALIZED (
  SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
matches AS MATERIALIZED (
  SELECT a.event_type AS win, b.event_type AS lose, COUNT(*) AS w
  FROM counts a JOIN counts b
    ON a.user_id = b.user_id AND a.c > b.c
  GROUP BY 1, 2),
directed AS MATERIALIZED (SELECT win AS i, lose AS j, SUM(w) AS w FROM matches GROUP BY 1, 2),
sym AS MATERIALIZED (
  SELECT i, j, SUM(w) AS n FROM (
    SELECT i, j, w FROM directed
    UNION ALL SELECT j, i, w FROM directed)
  GROUP BY i, j),
items AS MATERIALIZED (
  SELECT s.i, COALESCE(d.wins, 0) AS wins
  FROM (SELECT DISTINCT i FROM sym) s
  LEFT JOIN (SELECT i, SUM(w) AS wins FROM directed GROUP BY i) d
    ON s.i = d.i),
r0 AS MATERIALIZED (
  SELECT i, ROUND(1.0 / (SELECT COUNT(*) FROM items), 9) AS p FROM items),
{",".join(its)},
nm AS (SELECT i, SUM(n) AS matches FROM sym GROUP BY i)
SELECT it.i AS item, CAST(it.wins AS BIGINT) AS wins,
       CAST(nm.matches AS BIGINT) AS matches, {prev}.p AS strength
FROM items it JOIN nm ON it.i = nm.i JOIN {prev} ON it.i = {prev}.i
ORDER BY item
"""


def q_isotonic_fit(spark, sf_dir):
    """Isotonic (PAV) recalibration of the quality_score deciles against
    the lang=='en' label (stats.isotonic_calibration) —
    q_score_calibration's monotone-repair twin, via the closed Ayer
    minimax form: iso_i = max_{j<=i} min_{k>=i} pooled-rate(j..k), pure
    join+aggregate algebra over the bins³ frame (no sequential PAV
    loop, no driver round trip).  Every pooled rate is a ratio of int64
    prefix sums — exact in any engine."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        quality_score,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        isotonic_calibration,
    )

    d = _t(spark, sf_dir, "documents").select(
        quality_score(F.col("text")).alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return isotonic_calibration(d, "s", "y", n_bins=10).transform(_by("bin"))


def _isotonic_sql() -> str:
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        STOPWORDS,
    )

    stop = _stop_sql(STOPWORDS["en"])
    q = (
        f"ROUND(0.4 * least(CAST({_TOK_SQL} AS DOUBLE) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - least(CAST({_PUNCT_SQL} AS DOUBLE) * 4.0, 1.0))"
        f" + 0.3 * least(CAST({stop} AS DOUBLE)"
        f" / greatest({_TOK_SQL}, 1) * 5.0, 1.0), 4)"
    )
    return f"""
WITH d AS (
  SELECT {q} AS s, CAST(lang = 'en' AS BIGINT) AS y FROM documents),
bins AS (
  SELECT least(CAST(floor(s * 10) AS INT), 9) AS bin,
         COUNT(*) AS n, SUM(y) AS s
  FROM d GROUP BY 1),
cum AS (
  SELECT bin, n, s,
         SUM(n) OVER (ORDER BY bin) AS cn, SUM(s) OVER (ORDER BY bin) AS cs
  FROM bins),
runs AS (
  SELECT lo.bin AS j, hi.bin AS k,
         CAST(hi.cs - (lo.cs - lo.s) AS DOUBLE)
           / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS avg
  FROM cum lo JOIN cum hi ON lo.bin <= hi.bin),
inner_min AS (
  SELECT b.bin AS i, r.j, MIN(r.avg) AS m
  FROM bins b JOIN runs r ON r.j <= b.bin AND r.k >= b.bin
  GROUP BY b.bin, r.j),
iso AS (SELECT i, MAX(m) AS iso FROM inner_min GROUP BY i)
SELECT b.bin, b.n,
       ROUND(CAST(b.s AS DOUBLE) / b.n, 6) AS pos_rate,
       ROUND(iso.iso, 6) AS iso_rate
FROM bins b JOIN iso ON b.bin = iso.i
ORDER BY b.bin
"""


def q_effect_size(spark, sf_dir):
    """Cohen's d + Hedges' g + Cliff's delta for src0 vs src1 document
    lengths (stats.effect_sizes) — the magnitude companion to the test
    family: q_welch_ttest / q_mann_whitney say WHETHER the sources
    differ, this says HOW MUCH, parametric and ordinal.  Moments are
    exact int64 sums (n_chars is integral); Cliff's delta reuses the
    Mann-Whitney distinct-value rank algebra (2U/(n_a·n_b) − 1), so no
    pair is ever enumerated."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        effect_sizes,
    )

    d = _t(spark, sf_dir, "documents")
    return effect_sizes(d, "source", "n_chars", "src0", "src1")


Q_EFFECT_SIZE_SQL = """
WITH d AS (
  SELECT source = 'src0' AS a, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE source IN ('src0', 'src1')),
mom AS (
  SELECT a, COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2 FROM d GROUP BY a),
vc AS (
  SELECT v, COUNT(*) AS t, SUM(CAST(a AS BIGINT)) AS ta FROM d GROUP BY v),
pv AS (
  SELECT t, ta, SUM(t) OVER (ORDER BY v) - t + 1 AS r0 FROM vc),
rk AS (
  SELECT SUM(ta * (r0 + (t - 1) / 2.0)) AS ra FROM pv),
j AS (
  SELECT ma.n AS n_a, mb.n AS n_b, ma.s1 AS s1a, ma.s2 AS s2a,
         mb.s1 AS s1b, mb.s2 AS s2b, rk.ra
  FROM (SELECT * FROM mom WHERE a) ma,
       (SELECT * FROM mom WHERE NOT a) mb, rk),
f AS (
  SELECT n_a, n_b, s1a / n_a AS mean_a, s1b / n_b AS mean_b,
         (s2a - s1a * s1a / n_a) / (n_a - 1) AS va,
         (s2b - s1b * s1b / n_b) / (n_b - 1) AS vb,
         ra
  FROM j),
g AS (
  SELECT n_a, n_b, mean_a, mean_b,
         sqrt(((n_a - 1) * va + (n_b - 1) * vb) / (n_a + n_b - 2)) AS sp,
         ra - n_a * (n_a + 1.0) / 2.0 AS u_a
  FROM f)
SELECT n_a, n_b, ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
       ROUND(CASE WHEN sp > 0 THEN (mean_a - mean_b) / sp END, 6) AS cohens_d,
       ROUND(CASE WHEN sp > 0 THEN (mean_a - mean_b) / sp
                  * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9.0)) END, 6) AS hedges_g,
       ROUND(2.0 * u_a / (CAST(n_a AS DOUBLE) * n_b) - 1.0, 6) AS cliffs_delta
FROM g
"""


def q_embedding_drift(spark, sf_dir):
    """Pairwise cosine similarity between per-label embedding centroids
    (similarity.centroid_drift): the vector-space drift monitor — which
    clusters/sources/snapshots sit close in embedding space — computed
    with NO per-row pair join.  Components quantize to int64
    (floor(v·1e6 + 0.5)) before summation and the pair stage
    accumulates in decimal(38,0)/HUGEINT, so the whole statistic is
    exact integer algebra until one final cast-sqrt-divide — immune to
    float summation order at any partitioning."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        centroid_drift,
    )

    e = _t(spark, sf_dir, "embeddings")
    return centroid_drift(e, "label", "embedding").transform(
        _by("group_a", "group_b")
    )


Q_EMBEDDING_DRIFT_SQL = """
WITH comp AS (
  SELECT CAST(label AS VARCHAR) AS g, gg.i AS dim,
         SUM(CAST(floor(CAST(embedding[gg.i + 1] AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT)) AS sq
  FROM embeddings, (SELECT UNNEST(range(64)) AS i) gg
  GROUP BY 1, 2),
pairs AS (
  SELECT a.g AS group_a, b.g AS group_b, COUNT(*) AS dim,
         SUM(a.sq * b.sq) AS dot,
         SUM(a.sq * a.sq) AS na2, SUM(b.sq * b.sq) AS nb2
  FROM comp a JOIN comp b ON a.dim = b.dim AND a.g < b.g
  GROUP BY 1, 2)
SELECT group_a, group_b, CAST(dim AS BIGINT) AS dim,
       ROUND(CASE WHEN na2 > 0 AND nb2 > 0
                  THEN CAST(dot AS DOUBLE)
                       / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
             END, 6) AS cos_sim
FROM pairs ORDER BY group_a, group_b
"""


def q_conformal(spark, sf_dir):
    """Split-conformal threshold + held-out coverage per language
    (stats.conformal_threshold): hash-split calibration/test halves
    (the repo's md5(seed||id) convention), k-th smallest calibration
    n_chars with k = ceil((n_cal+1)·0.9) in exact integer arithmetic,
    the order statistic from per-distinct-value cumulative counts (the
    mann_whitney_u discipline), and empirical coverage ≈ 0.9 on the
    test half — the distribution-free guarantee check behind
    'flag anything above the 90th percentile' rules."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        conformal_threshold,
    )

    d = _t(spark, sf_dir, "documents")
    return conformal_threshold(
        d, "lang", "n_chars", "doc_id", alpha=0.1
    ).transform(_by("group"))


Q_CONFORMAL_SQL = """
WITH d AS (
  SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v,
         CAST(('0x' || substr(md5('s42' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 = 0 AS cal
  FROM documents),
vc AS (
  SELECT g, v, COUNT(*) AS t FROM d WHERE cal GROUP BY g, v),
cum AS (
  SELECT g, v, SUM(t) OVER (PARTITION BY g ORDER BY v) AS c,
         SUM(t) OVER (PARTITION BY g) AS n_cal
  FROM vc),
kk AS (
  SELECT g, n_cal,
         CAST(floor(((n_cal + 1) * 9 + 9) / 10.0) AS BIGINT) AS k
  FROM cum GROUP BY g, n_cal),
thr AS (
  SELECT kk.g, kk.n_cal, kk.k, MIN(CASE WHEN cum.c >= kk.k THEN cum.v END)
           AS threshold
  FROM kk JOIN cum ON kk.g = cum.g
  GROUP BY kk.g, kk.n_cal, kk.k),
tst AS (
  SELECT g, COUNT(*) AS n_test FROM d WHERE NOT cal GROUP BY g),
cov AS (
  SELECT d.g, SUM(CAST(d.v <= t.threshold AS BIGINT)) AS covered
  FROM d JOIN thr t ON d.g = t.g WHERE NOT d.cal GROUP BY d.g)
SELECT thr.g AS "group", CAST(thr.n_cal AS BIGINT) AS n_cal,
       COALESCE(tst.n_test, 0) AS n_test, thr.k, thr.threshold,
       ROUND(CAST(cov.covered AS DOUBLE) / tst.n_test, 6) AS coverage
FROM thr LEFT JOIN tst ON thr.g = tst.g LEFT JOIN cov ON thr.g = cov.g
ORDER BY "group"
"""


def q_jackknife(spark, sf_dir):
    """Delete-one-source jackknife of the corpus English rate
    (stats.jackknife_rate): each source's leave-it-out rate, influence
    on the global metric, and the jackknife SE — the attribution that
    turns 'the corpus metric moved' into 'source X moved it' and an
    ablation decision.  Leave-one-out rates are exact integer-difference
    ratios; one corpus aggregate, then units-sized window algebra."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        jackknife_rate,
    )

    d = _t(spark, sf_dir, "documents")
    return jackknife_rate(d, "source", F.col("lang") == "en").transform(
        _by("unit")
    )


Q_JACKKNIFE_SQL = """
WITH g AS (
  SELECT source AS unit, COUNT(*) AS n,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS successes
  FROM documents GROUP BY 1),
t AS (
  SELECT unit, n, successes,
         SUM(n) OVER () AS nn, SUM(successes) OVER () AS tt,
         COUNT(*) OVER () AS u,
         CAST(SUM(successes) OVER () - successes AS DOUBLE)
           / (SUM(n) OVER () - n) AS rwo
  FROM g),
m AS (
  SELECT *, AVG(rwo) OVER () AS mrwo FROM t)
SELECT unit, n, successes, ROUND(rwo, 6) AS rate_without,
       ROUND(rwo - CAST(tt AS DOUBLE) / nn, 6) AS influence,
       ROUND(sqrt((u - 1.0) / u
                  * SUM((rwo - mrwo) * (rwo - mrwo)) OVER ()), 6) AS jk_se
FROM m ORDER BY unit
"""


def q_quantile_norm(spark, sf_dir):
    """Cross-source quantile normalization of document lengths
    (curation.quantile_normalize): every doc's n_chars is replaced by
    the GLOBAL value at its within-source quantile, giving all sources
    the pooled distribution before one corpus-wide threshold applies —
    exact order-statistic arithmetic end to end (integer k =
    ceil(r·N/n_g); the k-th global value via the distinct-value
    interval frame + the repo's bucketized range join, never a
    nested loop)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        quantile_normalize,
    )

    d = _t(spark, sf_dir, "documents")
    return quantile_normalize(d, "source", "n_chars", "doc_id").transform(
        _by("id")
    )


Q_QUANTILE_NORM_SQL = """
WITH d AS (
  SELECT doc_id AS id, source AS g, CAST(n_chars AS DOUBLE) AS v
  FROM documents),
rk AS (
  SELECT id, g, v,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, id) AS r,
         COUNT(*) OVER (PARTITION BY g) AS ng,
         COUNT(*) OVER () AS nn
  FROM d),
pts AS (
  SELECT id, g, v,
         CAST(floor((r * nn + ng - 1) / CAST(ng AS DOUBLE)) AS BIGINT) AS k
  FROM rk),
vc AS (SELECT v, COUNT(*) AS t FROM d GROUP BY v),
ivl AS (
  SELECT v AS normalized,
         SUM(t) OVER (ORDER BY v) - t + 1 AS lo,
         SUM(t) OVER (ORDER BY v) AS hi
  FROM vc)
SELECT p.id, p.g AS "group", p.v AS value, p.k, i.normalized
FROM pts p JOIN ivl i ON p.k BETWEEN i.lo AND i.hi
ORDER BY p.id
"""


def q_ndcg(spark, sf_dir):
    """Per-source ranked-retrieval report card (stats.ranking_metrics):
    documents ranked by n_chars descending (doc_id tiebreak makes the
    ranking engine-portable), relevance = lang='en' — Precision@10,
    Recall@10, MRR and binary NDCG@10 per source.  The standard gate on
    any ranked retrieval stage (BM25 / ANN / RRF fusion) before its
    output selects training data; IDCG comes from the same ranked frame
    via the relevant-index window, so the whole metric set is one
    group-key shuffle + two shared windows + one aggregate, no joins."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        ranking_metrics,
    )

    d = _t(spark, sf_dir, "documents")
    return ranking_metrics(
        d,
        "source",
        F.col("n_chars"),
        F.col("lang") == "en",
        F.col("doc_id"),
        k=10,
    ).transform(_by("group"))


Q_NDCG_SQL = """
WITH r AS (
  SELECT source AS "group",
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS pos
  FROM documents),
r2 AS (
  SELECT *, SUM(rel) OVER (PARTITION BY "group" ORDER BY pos) AS relidx
  FROM r),
g AS (
  SELECT "group", COUNT(*) AS n, CAST(SUM(rel) AS BIGINT) AS n_rel,
         SUM(CASE WHEN rel = 1 AND pos <= 10 THEN 1 ELSE 0 END) AS hits_k,
         MAX(CASE WHEN rel = 1 THEN 1.0 / pos END) AS mrr_,
         SUM(CASE WHEN rel = 1 AND pos <= 10
                  THEN 1.0 / log2(pos + 1.0) END) AS dcg,
         SUM(CASE WHEN rel = 1 AND relidx <= 10
                  THEN 1.0 / log2(relidx + 1.0) END) AS idcg
  FROM r2 GROUP BY 1)
SELECT "group", n, n_rel,
       ROUND(hits_k / 10.0, 6) AS p_at_k,
       ROUND(CASE WHEN n_rel > 0
                  THEN hits_k / CAST(n_rel AS DOUBLE) END, 6) AS r_at_k,
       ROUND(CASE WHEN n_rel > 0 THEN mrr_ END, 6) AS mrr,
       ROUND(CASE WHEN n_rel > 0 THEN dcg / idcg END, 6) AS ndcg
FROM g ORDER BY "group"
"""


def q_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity release audit
    (audit.k_anonymity_profile): quasi-identifiers = (source,
    n_chars div 200 length bucket), sensitive attribute = lang, k=5 —
    the class-size histogram with per-size minimum and mean
    l-diversity.  Two cascaded aggregates (corpus → equivalence
    classes → class sizes), map-side combined, no joins; the check a
    per-source metadata release runs after pii_redact scrubs the
    surface text."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        k_anonymity_profile,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "len_bucket", (F.col("n_chars") / F.lit(200)).cast("long")
    )
    return k_anonymity_profile(
        d, ["source", "len_bucket"], "lang", k=5
    ).transform(_by("class_size"))


Q_K_ANONYMITY_SQL = """
WITH cls AS (
  SELECT source, CAST(floor(n_chars / 200.0) AS BIGINT) AS len_bucket,
         lang, COUNT(*) AS _n
  FROM documents GROUP BY 1, 2, 3),
per_class AS (
  SELECT source, len_bucket,
         CAST(SUM(_n) AS BIGINT) AS _size, COUNT(*) AS _ldiv
  FROM cls GROUP BY 1, 2)
SELECT _size AS class_size, COUNT(*) AS n_classes,
       CAST(SUM(_size) AS BIGINT) AS rows,
       _size < 5 AS at_risk,
       MIN(_ldiv) AS min_ldiv,
       ROUND(AVG(_ldiv), 6) AS avg_ldiv
FROM per_class GROUP BY _size ORDER BY class_size
"""


def q_attribution(spark, sf_dir):
    """Multi-touch attribution (funnel.attribution_credit): purchase
    value credited to the same user's click/view touches in the 2h
    window before the purchase — LINEAR (equal split across window
    touches) and LAST-TOUCH (latest touch, event_id tiebreak) models
    per channel.  The window match is the bucketized range join
    (equi-join on (user_id, 2h-bin) + exact re-check), never a nested
    loop; the two credit windows share one conversion-keyed exchange."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.funnel import (
        attribution_credit,
    )

    e = _t(spark, sf_dir, "events")
    return attribution_credit(
        e, ("click", "view"), "purchase", lookback_hours=2.0
    ).transform(_by("channel"))


Q_ATTRIBUTION_SQL = """
WITH t AS (
  SELECT user_id, event_id AS touch_id, event_type AS channel,
         ts AS touch_ts
  FROM events WHERE event_type IN ('click', 'view')),
c AS (
  SELECT user_id, event_id AS conv_id, value AS conv_value, ts AS conv_ts
  FROM events WHERE event_type = 'purchase'),
p AS (
  SELECT t.channel, t.touch_ts, t.touch_id, c.conv_id, c.conv_value
  FROM t JOIN c ON t.user_id = c.user_id
   AND t.touch_ts BETWEEN c.conv_ts - INTERVAL 2 HOUR AND c.conv_ts),
e AS (
  SELECT *, COUNT(*) OVER (PARTITION BY conv_id) AS n,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY touch_ts DESC, touch_id DESC) AS rk
  FROM p)
SELECT channel, COUNT(*) AS touches,
       COUNT(DISTINCT conv_id) AS conversions_touched,
       ROUND(SUM(conv_value / n), 6) AS linear_credit,
       ROUND(SUM(CASE WHEN rk = 1 THEN conv_value ELSE 0 END), 6)
         AS last_touch_credit
FROM e GROUP BY channel ORDER BY channel
"""


def q_changepoint(spark, sf_dir):
    """Best single changepoint per event_type's daily-count series
    (timeseries.changepoint_daily): exact least-squares two-segment
    split — gain(i) = s_i²/i + (S−s_i)²/(n−i) − S²/n maximized over
    split positions, earliest-day tiebreak.  Pins WHERE the level
    shifted (CUSUM q_cusum only alarms that it did); prefix sums stay
    integral, one group-key exchange shared by all three windows."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        changepoint_daily,
    )

    e = _t(spark, sf_dir, "events")
    return changepoint_daily(e, ["event_type"], "ts").transform(
        _by("event_type")
    )


Q_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
pre AS (
  SELECT event_type, day,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
         SUM(n) OVER (PARTITION BY event_type ORDER BY day) AS s,
         SUM(n) OVER (PARTITION BY event_type) AS tot,
         COUNT(*) OVER (PARTITION BY event_type) AS nn
  FROM daily),
cand AS (
  SELECT *,
         CAST(s AS DOUBLE) * s / i
           + CAST(tot - s AS DOUBLE) * (tot - s) / (nn - i)
           - CAST(tot AS DOUBLE) * tot / nn AS gain
  FROM pre WHERE i < nn AND nn >= 2),
best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY gain DESC, day ASC) AS rk
  FROM cand)
SELECT event_type, nn AS n_days, day AS split_day,
       ROUND(CAST(s AS DOUBLE) / i, 6) AS mean_left,
       ROUND(CAST(tot - s AS DOUBLE) / (nn - i), 6) AS mean_right,
       ROUND(gain, 6) AS gain
FROM best WHERE rk = 1 ORDER BY event_type
"""


def q_burstiness(spark, sf_dir):
    """Daily-arrival dispersion profile per event_type
    (timeseries.burstiness_daily): Fano factor (population var/mean —
    1 under Poisson arrivals), Goh-Barabási burstiness (σ−μ)/(σ+μ) and
    peak-to-mean — the organic-vs-scheduled triage before time-based
    sampling of a source.  Variance from exact integral Σv, Σv²; two
    cascaded map-side-combined aggregates, no windows, no joins."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        burstiness_daily,
    )

    e = _t(spark, sf_dir, "events")
    return burstiness_daily(e, ["event_type"], "ts").transform(
        _by("event_type")
    )


Q_BURSTINESS_SQL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
g AS (
  SELECT event_type, COUNT(*) AS n_days,
         CAST(SUM(n) AS BIGINT) AS total,
         CAST(SUM(n * n) AS BIGINT) AS sq,
         CAST(MAX(n) AS BIGINT) AS peak
  FROM daily GROUP BY 1),
m AS (
  SELECT *, CAST(total AS DOUBLE) / n_days AS mean_,
         (CAST(n_days AS DOUBLE) * sq - CAST(total AS DOUBLE) * total)
           / (CAST(n_days AS DOUBLE) * n_days) AS var_
  FROM g)
SELECT event_type, n_days, total,
       ROUND(mean_, 6) AS mean_daily,
       ROUND(CASE WHEN total > 0 THEN var_ / mean_ END, 6) AS fano,
       ROUND(CASE WHEN sqrt(var_) + mean_ > 0
                  THEN (sqrt(var_) - mean_) / (sqrt(var_) + mean_) END, 6)
         AS burstiness,
       ROUND(CASE WHEN total > 0 THEN peak / mean_ END, 6) AS peak_to_mean
FROM m ORDER BY event_type
"""


def q_turn_taking(spark, sf_dir):
    """Per-conversation turn-taking cadence (sessions.turn_taking_stats)
    over a transcript-shaped feed synthesized from events (conv_id =
    user_id, turn_idx = per-user ts order, role = click/view → user
    else assistant): alternation rate between consecutive roles,
    mean/max inter-turn gap (integral-microsecond sums — exact in both
    engines), and the user-role share.  The conversation-dynamics audit
    a dialogue corpus runs before trusting multi-turn structure; one
    conv-keyed exchange shared by the lag window and the aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sessions import (
        turn_taking_stats,
    )

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    feed = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.row_number().over(w).alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "view"), F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.col("ts"),
    )
    return turn_taking_stats(feed).transform(_by("conv_id"))


Q_TURN_TAKING_SQL = """
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS turn_idx,
         CASE WHEN event_type IN ('click', 'view') THEN 'user'
              ELSE 'assistant' END AS role,
         ts
  FROM events),
r AS (
  SELECT conv_id, role,
         LAG(role) OVER w AS prev,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
g AS (
  SELECT conv_id, COUNT(*) AS n_turns,
         CAST(SUM(CASE WHEN prev IS NOT NULL AND role <> prev
                       THEN 1 ELSE 0 END) AS BIGINT) AS role_changes,
         CAST(SUM(gap_us) AS BIGINT) AS gap_sum_us,
         CAST(MAX(gap_us) AS BIGINT) AS gap_max_us,
         SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS lead_
  FROM r GROUP BY 1)
SELECT conv_id, n_turns, role_changes,
       ROUND(CASE WHEN n_turns > 1
                  THEN role_changes / CAST(n_turns - 1 AS DOUBLE) END, 6)
         AS alternation_rate,
       ROUND(CAST(gap_sum_us AS DOUBLE)
             / CAST(n_turns - 1 AS DOUBLE) / 1e6, 6) AS mean_gap_s,
       ROUND(CAST(gap_max_us AS DOUBLE) / 1e6, 6) AS max_gap_s,
       ROUND(lead_ / CAST(n_turns AS DOUBLE), 6) AS lead_share
FROM g ORDER BY conv_id
"""


def q_vocab_coverage(spark, sf_dir):
    """Per-source OOV rates against the corpus's own top-500 vocabulary
    (corpus.vocab_coverage): token-level and type-level coverage — the
    tokenizer health check before a fixed vocab/merge-table is trusted
    on a source.  Tokens collapse to (source, term) counts map-side;
    the top-500 vocabulary plans TakeOrderedAndProject and BROADCASTS
    to the left join, so the corpus-sized side never reshuffles."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        vocab_coverage,
    )

    d = _t(spark, sf_dir, "documents")
    return vocab_coverage(d, "source", "text", vocab_size=500).transform(
        _by("group")
    )


Q_VOCAB_COVERAGE_SQL = f"""
WITH nm AS (SELECT source, {_NORM_SQL} AS nt FROM documents),
arr AS (SELECT source, list_filter(str_split(nt, ' '), t -> t <> '') AS w
        FROM nm),
toks AS (SELECT source AS "group", u.tok AS term
         FROM arr, UNNEST(w) AS u(tok)),
gt AS (SELECT "group", term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
vocab AS (
  SELECT term FROM (SELECT term, SUM(tf) AS c FROM gt GROUP BY term)
  ORDER BY c DESC, term ASC LIMIT 500),
j AS (
  SELECT gt.*, v.term IS NOT NULL AS inv
  FROM gt LEFT JOIN vocab v USING (term))
SELECT "group",
       CAST(SUM(tf) AS BIGINT) AS tokens,
       CAST(SUM(CASE WHEN NOT inv THEN tf ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       ROUND(SUM(CASE WHEN NOT inv THEN tf ELSE 0 END)
             / CAST(SUM(tf) AS DOUBLE), 6) AS oov_rate,
       COUNT(*) AS types,
       CAST(SUM(CASE WHEN NOT inv THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_types,
       ROUND(SUM(CASE WHEN NOT inv THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS type_oov_rate
FROM j GROUP BY "group" ORDER BY "group"
"""


def q_krippendorff(spark, sf_dir):
    """Krippendorff's alpha, nominal metric, with MISSING ratings
    (stats.krippendorff_alpha): three heuristic raters over documents —
    two length gates and a language gate that ABSTAINS (NULL) on the
    md5(doc_id) quarter of items, exactly the case Fleiss' kappa
    (q_fleiss_kappa) cannot score.  Coincidence-matrix arithmetic stays
    integral (per-unit division by m_u−1 ∈ {1,2} is exact dyadic);
    one exploded (unit, label) aggregate, unit-sized frames after."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        krippendorff_alpha,
    )

    d = _t(spark, sf_dir, "documents")
    gate = lambda c: F.when(c, F.lit("pass")).otherwise(F.lit("fail"))  # noqa: E731
    abstain = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1
    ).isin("0", "1", "2", "3")
    return krippendorff_alpha(
        d,
        F.col("doc_id"),
        [
            gate(F.col("n_chars") > 200),
            gate(F.col("n_chars") > 150),
            F.when(abstain, F.lit(None).cast("string")).otherwise(
                gate(F.col("lang") == "en")
            ),
        ],
    )


Q_KRIPPENDORFF_SQL = """
WITH lab AS (
  SELECT doc_id,
         CASE WHEN n_chars > 200 THEN 'pass' ELSE 'fail' END AS r0,
         CASE WHEN n_chars > 150 THEN 'pass' ELSE 'fail' END AS r1,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN ('0', '1', '2', '3') THEN NULL
              WHEN lang = 'en' THEN 'pass' ELSE 'fail' END AS r2
  FROM documents),
rows_ AS (
  SELECT doc_id AS u, c
  FROM (SELECT doc_id, UNNEST([r0, r1, r2]) AS c FROM lab)
  WHERE c IS NOT NULL),
k AS (SELECT u, c, COUNT(*) AS k FROM rows_ GROUP BY 1, 2),
per_u AS (
  SELECT u, SUM(k) AS m, SUM(k * k) AS k2
  FROM k GROUP BY 1 HAVING SUM(k) >= 2),
nc AS (
  SELECT c, SUM(k.k) AS nc
  FROM k JOIN per_u USING (u) GROUP BY c),
tot AS (
  SELECT (SELECT COUNT(*) FROM per_u) AS n_units,
         (SELECT CAST(SUM(m) AS BIGINT) FROM per_u) AS n_ratings,
         (SELECT SUM(CAST(m * m - k2 AS DOUBLE) / (m - 1)) FROM per_u)
           AS su,
         (SELECT CAST(SUM(nc * nc) AS DOUBLE) FROM nc) AS nc2)
SELECT n_units, n_ratings,
       ROUND(su / n_ratings, 6) AS d_o,
       ROUND((CAST(n_ratings AS DOUBLE) * n_ratings - nc2)
             / (CAST(n_ratings AS DOUBLE) * (n_ratings - 1)), 6) AS d_e,
       ROUND(1.0 - (su / n_ratings)
             / ((CAST(n_ratings AS DOUBLE) * n_ratings - nc2)
                / (CAST(n_ratings AS DOUBLE) * (n_ratings - 1))), 6)
         AS alpha
FROM tot
"""


def q_hits(spark, sf_dir):
    """HITS hubs-and-authorities (graph.hits, Kleinberg 1999) over the
    bipartite user→event-type graph (distinct edges 'u<id>' →
    't:<type>'): 5 L1-normalized mutual-reinforcement rounds with the
    q_pagerank per-round 9-decimal rounding contract — hubs rank users
    who explore broadly, authorities rank event types that concentrate
    activity, the two-sided centrality PageRank's single score
    conflates.  Edge list partitioned/persisted once per join
    direction; per-round frames localCheckpointed (1 join + 1 agg +
    1 broadcast-normalization per direction per round)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        hits,
    )

    e = _t(spark, sf_dir, "events")
    edges = e.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
    ).distinct()
    return hits(edges, iterations=5).transform(_by("node"))


def _hits_sql(iterations: int = 5) -> str:
    """DuckDB twin of graph.hits: same edge derivation, same unrolled
    L1-normalized rounds, same per-round 9-decimal rounding.  Every CTE
    is ``AS MATERIALIZED``: the round-k frames are each referenced
    twice (join + normalization scalar subquery), so inlining would
    recompute the whole chain ~4^k times — materialization keeps the
    oracle linear in rounds, mirroring the Spark side's
    localCheckpoint-per-round discipline."""
    its = []
    prev_h = "h0"
    for i in range(1, iterations + 1):
        its.append(f"""
ar{i} AS MATERIALIZED (
          SELECT e.dst AS node, SUM(h.hub) AS s
          FROM edges e JOIN {prev_h} h ON e.src = h.node GROUP BY e.dst),
a{i} AS MATERIALIZED (
         SELECT n.node,
                ROUND(COALESCE(r.s, 0.0) / (SELECT SUM(s) FROM ar{i}), 9)
                  AS auth
         FROM nodes n LEFT JOIN ar{i} r ON n.node = r.node),
hr{i} AS MATERIALIZED (
          SELECT e.src AS node, SUM(a.auth) AS s
          FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src),
h{i} AS MATERIALIZED (
         SELECT n.node,
                ROUND(COALESCE(r.s, 0.0) / (SELECT SUM(s) FROM hr{i}), 9)
                  AS hub
         FROM nodes n LEFT JOIN hr{i} r ON n.node = r.node)""")
        prev_h = f"h{i}"
    k = iterations
    return f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
         't:' || event_type AS dst
  FROM events),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes),
{",".join(its)}
SELECT h{k}.node, h{k}.hub, a{k}.auth
FROM h{k} JOIN a{k} USING (node) ORDER BY node
"""


def q_smith_waterman(spark, sf_dir):
    """Local-alignment evaluation (evaluate.evaluate_local_alignment —
    Smith-Waterman, integer scoring): per user, the first-8 event-type
    sequence vs the same sequence with every event_id%4==0 token
    corrupted — the best CLEAN contiguous region scores, while global
    NW (q_evaluate_alignment) charges every corruption.  Zero-floored
    DP stays integral; the oracle reproduces it in a recursive CTE via
    the same running-max linear-gap identity with a 0 floor and a
    global max over all cells."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.evaluate import (
        evaluate_local_alignment,
    )

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .select(
            F.col("user_id").alias("conv_id"),
            F.col("rn").alias("turn_idx"),
            F.col("event_type"),
            F.col("event_id"),
        )
    )
    actual = base.select(
        "conv_id", "turn_idx", F.col("event_type").alias("extracted_text")
    )
    golden = base.select(
        "conv_id",
        "turn_idx",
        F.when(F.col("event_id") % 4 == 0, F.lit("corrupt"))
        .otherwise(F.col("event_type"))
        .alias("extracted_text"),
    )
    return evaluate_local_alignment(actual, golden).transform(_by("id"))


Q_SMITH_WATERMAN_SQL = """
WITH ea AS (
  SELECT user_id AS key, event_type AS tok, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM events),
a AS (SELECT key, CAST(i AS INT) AS i, tok FROM ea WHERE i <= 8),
b AS (SELECT key, CAST(i AS INT) AS j,
             CASE WHEN event_id % 4 = 0 THEN 'corrupt' ELSE tok END AS tok
      FROM ea WHERE i <= 8),
alen AS (SELECT key, MAX(i) AS n FROM a GROUP BY key),
blen AS (SELECT key, MAX(j) AS m FROM b GROUP BY key),
nm AS (
  SELECT COALESCE(alen.key, blen.key) AS key,
         COALESCE(n, 0) AS n, COALESCE(m, 0) AS m
  FROM alen FULL OUTER JOIN blen ON alen.key = blen.key),
dp AS (
  WITH RECURSIVE t AS (
    SELECT nm.key, 0 AS i, CAST(r.range AS INT) AS j, 0 AS f
    FROM nm CROSS JOIN range(9) r WHERE r.range <= nm.m
    UNION ALL
    SELECT key, i, j,
           CAST(MAX(g + j) OVER (PARTITION BY key ORDER BY j
                                 ROWS UNBOUNDED PRECEDING) - j AS INT) AS f
    FROM (
      SELECT t.key, t.i + 1 AS i, t.j,
             CASE WHEN t.j = 0 THEN 0
                  ELSE greatest(
                    0,
                    LAG(t.f) OVER (PARTITION BY t.key ORDER BY t.j)
                      + CASE WHEN att.tok = bt.tok THEN 2 ELSE -1 END,
                    t.f - 1)
             END AS g
      FROM t
      JOIN nm ON nm.key = t.key AND t.i < nm.n
      JOIN a att ON att.key = t.key AND att.i = t.i + 1
      LEFT JOIN b bt ON bt.key = t.key AND bt.j = t.j
    ) s
  )
  SELECT key, MAX(f) AS sw FROM t GROUP BY key)
SELECT nm.key AS id, CAST(nm.n AS INT) AS n_actual,
       CAST(nm.m AS INT) AS n_golden, d.sw AS sw_score,
       ROUND(CASE WHEN least(nm.n, nm.m) > 0
                  THEN d.sw / (2.0 * least(nm.n, nm.m))
                  ELSE 0.0 END, 6) AS sim
FROM nm JOIN dp d ON d.key = nm.key
ORDER BY id
"""


def q_ql_retrieval(spark, sf_dir):
    """Query-likelihood retrieval with Dirichlet smoothing (curation.
    ql_dirichlet_scores, Zhai & Lafferty 2001) against the same fixed
    query as q_bm25 ({spark, query, merge}): the language-modeling
    ranking twin — absent query terms contribute smoothed background
    mass, so scores are comparable across documents of any length.
    Collection stats fold in as eager literals; one groupBy over the
    query-term-filtered token stream."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        ql_dirichlet_scores,
    )

    d = _t(spark, sf_dir, "documents")
    return ql_dirichlet_scores(
        d, "doc_id", "text", ["spark", "query", "merge"], mu=2000.0
    ).transform(_by("doc_id"))


Q_QL_RETRIEVAL_SQL = """
WITH tl AS (SELECT doc_id,
  list_filter(str_split(coalesce(text, ''), ' '), x -> x <> '') AS ts
  FROM documents),
dls AS (SELECT doc_id, len(ts) AS dl FROM tl),
total AS (SELECT SUM(dl) AS n FROM dls),
qt AS (SELECT * FROM (VALUES ('spark'), ('query'), ('merge')) v(term)),
cf AS (
  SELECT qt.term,
         2000.0 * (CAST(COUNT(t.term) AS DOUBLE) / (SELECT n FROM total))
           AS mup
  FROM qt LEFT JOIN (
    SELECT t.term FROM tl, UNNEST(tl.ts) AS t(term)
    WHERE t.term IN ('spark', 'query', 'merge')) t
    ON t.term = qt.term
  GROUP BY qt.term HAVING COUNT(t.term) > 0),
hits AS (
  SELECT tl.doc_id, dls.dl, t.term
  FROM tl JOIN dls USING (doc_id), UNNEST(tl.ts) AS t(term)
  WHERE t.term IN (SELECT term FROM cf)),
tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
       FROM hits GROUP BY doc_id, term),
per_doc AS (
  SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits, MIN(tf.dl) AS dl,
         SUM(ln((tf.tf + cf.mup) / (tf.dl + 2000.0))
             - ln(cf.mup / (tf.dl + 2000.0))) AS delta
  FROM tf JOIN cf USING (term) GROUP BY tf.doc_id),
bg AS (
  SELECT p.doc_id,
         SUM(ln(cf.mup / (p.dl + 2000.0))) AS b
  FROM per_doc p, cf GROUP BY p.doc_id)
SELECT p.doc_id, p.n_hits, ROUND(p.delta + bg.b, 6) AS ql
FROM per_doc p JOIN bg USING (doc_id) ORDER BY doc_id
"""


def q_good_turing(spark, sf_dir):
    """Simple Good-Turing frequency-of-frequencies over the normalized
    documents corpus (corpus.good_turing_counts, Good 1953): per
    observed term frequency r, the type count n_r and the Turing
    estimate r* = (r+1)n_{r+1}/n_r — the unseen-mass / tokenizer-health
    audit.  Frequency table is metadata-sized; the r+1 lookup is a
    broadcast self-join; N folds in as an eager literal."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        good_turing_counts,
    )

    d = _t(spark, sf_dir, "documents")
    return good_turing_counts(d, "doc_id", "text").transform(_by("r"))


Q_GOOD_TURING_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(str_split({_NORM_SQL}, ' '), x -> x <> ''))
           AS term
  FROM documents),
tc AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
ff AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tc GROUP BY c),
tot AS (SELECT SUM(r * n_r) AS n FROM ff)
SELECT ff.r, ff.n_r,
       ROUND((ff.r + 1) * nx.n_r / ff.n_r, 6) AS r_star,
       ROUND(((ff.r + 1) * nx.n_r / ff.n_r)
             / CAST((SELECT n FROM tot) AS DOUBLE), 6) AS p_gt
FROM ff LEFT JOIN ff nx ON nx.r = ff.r + 1
ORDER BY ff.r
"""


def q_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit over the documents corpus in
    doc_id order (corpus.heaps_law_fit): ln V = ln K + beta ln N
    regressed over per-document cumulative (tokens, distinct types)
    points.  The cumulative curve is a DISTRIBUTED prefix sum (order-
    preserving id ranges + per-range offsets), never one global window
    task; the fit is single-aggregate moment algebra."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        heaps_law_fit,
    )

    d = _t(spark, sf_dir, "documents")
    return heaps_law_fit(d, "doc_id", "text")


Q_HEAPS_LAW_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(str_split({_NORM_SQL}, ' '), x -> x <> ''))
           AS term
  FROM documents),
pd AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
fs AS (SELECT MIN(doc_id) AS doc_id FROM tok GROUP BY term),
nw AS (SELECT doc_id, COUNT(*) AS nn FROM fs GROUP BY doc_id),
d AS (SELECT pd.doc_id, pd.dl, COALESCE(nw.nn, 0) AS nn
      FROM pd LEFT JOIN nw USING (doc_id)),
c AS (SELECT SUM(dl) OVER w AS n_cum, SUM(nn) OVER w AS v_cum FROM d
      WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)),
p AS (SELECT n_cum, v_cum,
             ln(CAST(n_cum AS DOUBLE)) AS x, ln(CAST(v_cum AS DOUBLE)) AS y
      FROM c WHERE n_cum > 0 AND v_cum > 0),
m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             MAX(n_cum) AS total_tokens, MAX(v_cum) AS vocab,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM p)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(vocab AS BIGINT) AS vocab,
       ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS beta,
       ROUND(exp(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
                 * sx / n), 6) AS k,
       ROUND(CASE WHEN (syy - sy * sy / n) > 0
                  THEN (sxy - sx * sy / n) * (sxy - sx * sy / n)
                       / ((sxx - sx * sx / n) * (syy - sy * sy / n))
             END, 6) AS r2
FROM m
"""


def q_katz(spark, sf_dir):
    """Katz centrality (graph.katz_centrality, Katz 1953) over the same
    co-activity graph as q_pagerank: 4 fixed rounds of x' = 1 + 0.1·Aᵀx
    with the per-round 9-decimal rounding contract — walk-counting
    centrality that credits all damped paths, where PageRank only
    tracks stationary visit mass.  Edges src-partitioned + persisted
    once; per-round score frame is the only shuffle."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        coactivity_edges,
        katz_centrality,
    )

    edges = _coact(spark, sf_dir)
    kz = katz_centrality(edges, iterations=4, alpha=0.1, beta=1.0, round_to=9)
    return kz.select(
        "node", F.round(F.col("katz"), 6).alias("katz")
    ).transform(_by("node"))


def _katz_sql(iterations: int = 4, alpha: float = 0.1, beta: float = 1.0) -> str:
    """DuckDB twin of graph.katz_centrality over the q_pagerank edge
    CTE: same unrolled rounds, same per-round 9-decimal rounding, all
    CTEs MATERIALIZED (each round is referenced by the next — inlining
    would recompute the chain combinatorially, the hits-oracle trap)."""
    a, b = repr(alpha), repr(beta)
    its = []
    prev = "x0"
    for i in range(1, iterations + 1):
        its.append(f"""
x{i} AS MATERIALIZED (
  SELECT n.node, ROUND({b} + {a} * COALESCE(c.s, 0.0), 9) AS katz
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(x.katz) AS s
    FROM edges e JOIN {prev} x ON e.src = x.node GROUP BY e.dst) c
  ON n.node = c.node)""")
        prev = f"x{i}"
    return f"""
WITH b AS MATERIALIZED (
  SELECT DISTINCT date_trunc('minute', ts) AS _b, user_id AS _u FROM events),
sized AS MATERIALIZED (
  SELECT _b, _u FROM (
    SELECT _b, _u, COUNT(*) OVER (PARTITION BY _b) AS _n FROM b)
  WHERE _n <= 64),
edges AS MATERIALIZED (
  SELECT DISTINCT l._u AS src, r._u AS dst
  FROM sized l JOIN sized r USING (_b) WHERE l._u <> r._u),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
x0 AS MATERIALIZED (SELECT node, {b} AS katz FROM nodes),
{",".join(its)}
SELECT node, ROUND(katz, 6) AS katz FROM {prev} ORDER BY node
"""


def q_bfs_landmarks(spark, sf_dir):
    """Multi-source BFS hop distances (graph.bfs_distances) from the 3
    smallest user ids over the co-activity graph, bounded to 3 hops —
    the landmark-distance sketch (Potamias et al. 2009).  Frontier-
    based: each round joins only the newly discovered layer against the
    src-partitioned persisted edges; the oracle is a recursive CTE with
    the same hop bound."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.graph import (
        bfs_distances,
        coactivity_edges,
    )

    edges = _coact(spark, sf_dir)
    return bfs_distances(edges, n_landmarks=3, max_hops=3).transform(
        _by("landmark", "node")
    )


Q_BFS_LANDMARKS_SQL = """
WITH RECURSIVE b AS MATERIALIZED (
  SELECT DISTINCT date_trunc('minute', ts) AS _b, user_id AS _u FROM events),
sized AS MATERIALIZED (
  SELECT _b, _u FROM (
    SELECT _b, _u, COUNT(*) OVER (PARTITION BY _b) AS _n FROM b)
  WHERE _n <= 64),
edges AS MATERIALIZED (
  SELECT DISTINCT l._u AS src, r._u AS dst
  FROM sized l JOIN sized r USING (_b) WHERE l._u <> r._u),
lm AS MATERIALIZED (
  SELECT node FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges)
  ORDER BY node LIMIT 3),
walk AS (
  SELECT node, node AS landmark, 0 AS dist FROM lm
  UNION
  SELECT e.dst AS node, w.landmark, w.dist + 1 AS dist
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < 3)
SELECT node, landmark, CAST(MIN(dist) AS INT) AS dist
FROM walk GROUP BY node, landmark
ORDER BY landmark, node
"""


def q_burrows_delta(spark, sf_dir):
    """Burrows' Delta stylometric distance (corpus.burrows_delta,
    Burrows 2002) between document sources over the corpus's 50 most
    frequent terms: per-source relative frequencies z-scored across
    sources (absent terms count 0), Delta = mean |z1-z2| per source
    pair — the relabeled-crawl detector.  One corpus-scale aggregate;
    the z grid and pair join are vocabulary×sources-sized metadata."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        burrows_delta,
    )

    d = _t(spark, sf_dir, "documents")
    return burrows_delta(d, "source", "text", top_terms=50).transform(
        _by("g1", "g2")
    )


Q_BURROWS_DELTA_SQL = f"""
WITH tok AS (
  SELECT source AS grp,
         unnest(list_filter(str_split({_NORM_SQL}, ' '), x -> x <> ''))
           AS term
  FROM documents),
gt AS (SELECT grp, term, COUNT(*) AS c FROM tok GROUP BY grp, term),
totals AS (SELECT grp, SUM(c) AS tot FROM gt GROUP BY grp),
ng AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM totals),
vocab AS (SELECT term FROM (SELECT term, SUM(c) AS cc FROM gt GROUP BY term)
          ORDER BY cc DESC, term LIMIT 50),
grid AS (
  SELECT t.grp, v.term,
         CAST(COALESCE(gt.c, 0) AS DOUBLE) / t.tot AS f
  FROM totals t CROSS JOIN vocab v
  LEFT JOIN gt ON gt.grp = t.grp AND gt.term = v.term),
stats AS (
  SELECT term, SUM(f) / (SELECT n FROM ng) AS mean,
         sqrt(greatest(
           SUM(f * f) / (SELECT n FROM ng)
           - (SUM(f) / (SELECT n FROM ng)) * (SUM(f) / (SELECT n FROM ng)),
           0.0)) AS std
  FROM grid GROUP BY term),
z AS (
  SELECT g.term, g.grp, (g.f - s.mean) / s.std AS z
  FROM grid g JOIN stats s USING (term) WHERE s.std > 0)
SELECT a.grp AS g1, b.grp AS g2,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(SUM(abs(a.z - b.z)) / COUNT(*), 6) AS delta
FROM z a JOIN z b ON a.term = b.term AND a.grp < b.grp
GROUP BY a.grp, b.grp
ORDER BY g1, g2
"""


def q_l_diversity(spark, sf_dir):
    """Per-equivalence-class l-diversity and t-closeness release audit
    (audit.l_diversity_tcloseness; Machanavajjhala 2007, Li 2007) over
    the q_k_anonymity quasi-identifiers (source, 200-char length
    bucket) with lang sensitive: distinct-l, entropy-l (effective
    number of sensitive values) and total-variation distance to the
    corpus lang distribution — absent-value mass folded closed-form so
    no class×domain grid exists."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.audit import (
        l_diversity_tcloseness,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "len_bucket", (F.col("n_chars") / F.lit(200)).cast("long")
    )
    return l_diversity_tcloseness(
        d, ["source", "len_bucket"], "lang"
    ).transform(_by("source", "len_bucket"))


Q_L_DIVERSITY_SQL = """
WITH cs AS (
  SELECT source, CAST(floor(n_chars / 200.0) AS BIGINT) AS len_bucket,
         lang AS s, COUNT(*) AS n
  FROM documents GROUP BY 1, 2, 3),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM cs),
gl AS (SELECT s, SUM(n) / (SELECT t FROM tot) AS gp FROM cs GROUP BY s),
sized AS (
  SELECT cs.*, SUM(n) OVER (PARTITION BY source, len_bucket) AS size
  FROM cs)
SELECT source, len_bucket,
       CAST(MAX(size) AS BIGINT) AS size,
       CAST(COUNT(*) AS BIGINT) AS l_distinct,
       ROUND(exp(-SUM((n / CAST(size AS DOUBLE))
                      * ln(n / CAST(size AS DOUBLE)))), 6) AS entropy_l,
       ROUND(0.5 * (1.0 + SUM(abs(n / CAST(size AS DOUBLE) - g.gp)
                              - g.gp)), 6) AS tvd
FROM sized JOIN gl g USING (s)
GROUP BY source, len_bucket
ORDER BY source, len_bucket
"""


def q_cuped(spark, sf_dir):
    """CUPED variance-reduced experiment readout (stats.
    cuped_adjustment, Deng et al. 2013): per-user pre-period covariate
    x = view count, metric y = purchase count, arms = user_id parity;
    θ = pooled cov/var folds in as an exact literal (integer-valued
    double sums are order-independent, so θ is bit-identical across
    engines).  Two map-side-combined passes, zero joins."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        cuped_adjustment,
    )

    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "view").cast("long")).alias("pre_views"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias(
            "purchases"
        ),
    ).withColumn(
        "arm",
        F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")),
    )
    return cuped_adjustment(
        per_user, "arm", "pre_views", "purchases"
    ).transform(_by("group"))


Q_CUPED_SQL = """
WITH u AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS DOUBLE) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS DOUBLE) AS y,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm
  FROM events GROUP BY user_id),
pooled AS (
  SELECT SUM(x) / COUNT(*) AS xbar,
         (SUM(x * y) - SUM(x) * SUM(y) / COUNT(*))
           / (SUM(x * x) - SUM(x) * SUM(x) / COUNT(*)) AS theta
  FROM u),
adj AS (
  SELECT arm, x, y,
         y - (SELECT theta FROM pooled) * (x - (SELECT xbar FROM pooled))
           AS ya
  FROM u)
SELECT arm AS "group",
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(x), 6) AS mean_pre,
       ROUND(AVG(y), 6) AS mean_y,
       ROUND(AVG(ya), 6) AS mean_y_adj,
       ROUND((SUM(y * y) - SUM(y) * SUM(y) / CAST(COUNT(*) AS DOUBLE))
             / (CAST(COUNT(*) AS DOUBLE) - 1), 6) AS var_y,
       ROUND((SUM(ya * ya) - SUM(ya) * SUM(ya) / CAST(COUNT(*) AS DOUBLE))
             / (CAST(COUNT(*) AS DOUBLE) - 1), 6) AS var_y_adj,
       ROUND(1.0 - ((SUM(ya * ya) - SUM(ya) * SUM(ya)
                     / CAST(COUNT(*) AS DOUBLE))
                    / (CAST(COUNT(*) AS DOUBLE) - 1))
                 / ((SUM(y * y) - SUM(y) * SUM(y)
                     / CAST(COUNT(*) AS DOUBLE))
                    / (CAST(COUNT(*) AS DOUBLE) - 1)), 6)
         AS var_reduction
FROM adj GROUP BY arm ORDER BY arm
"""


def q_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes resubstitution audit (curation.
    naive_bayes_classify): train bag-of-words lang models with Laplace
    smoothing over the documents corpus and reclassify the same rows —
    label-separability as a data-quality gate.  The smoothed
    absent-term mass folds closed-form (score = ln prior − dl·ln(N_c+V)
    + hit sum), so the one corpus-scale join is doc-term ⋈ class-term
    on term; argmax is the round-9 contract, ties by label asc."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        naive_bayes_classify,
    )

    d = _t(spark, sf_dir, "documents")
    return naive_bayes_classify(d, "doc_id", "text", "lang").transform(
        _by("id")
    )


Q_NAIVE_BAYES_SQL = """
WITH tl AS (SELECT doc_id, lang,
  list_filter(str_split(coalesce(text, ''), ' '), x -> x <> '') AS ts
  FROM documents),
tok AS (SELECT doc_id, lang, t.term
        FROM tl, UNNEST(tl.ts) AS t(term)),
dt AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
ct AS (SELECT lang, term, COUNT(*) AS ntc FROM tok GROUP BY 1, 2),
v AS (SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS v FROM ct),
cls AS (SELECT lang, COUNT(*) AS docs FROM documents GROUP BY lang),
nd AS (SELECT CAST(SUM(docs) AS DOUBLE) AS n FROM cls),
tpc AS (SELECT lang, SUM(ntc) AS nc FROM ct GROUP BY lang),
hits AS (
  SELECT dt.doc_id, ct.lang, SUM(dt.tf * ln(ct.ntc + 1)) AS h
  FROM dt JOIN ct USING (term) GROUP BY 1, 2),
base AS (SELECT doc_id, lang AS label, len(ts) AS dl FROM tl),
scores AS (
  SELECT b.doc_id, b.label, c.lang AS cand,
         ln(CAST(c.docs AS DOUBLE) / (SELECT n FROM nd))
           - b.dl * ln(t.nc + (SELECT v FROM v))
           + COALESCE(h.h, 0.0) AS s
  FROM base b
  CROSS JOIN cls c
  JOIN tpc t ON t.lang = c.lang
  LEFT JOIN hits h ON h.doc_id = b.doc_id AND h.lang = c.lang),
pick AS (
  SELECT doc_id AS id, label, cand AS predicted, s,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY ROUND(s, 9) DESC, cand ASC) AS rn
  FROM scores)
SELECT id, label, predicted, ROUND(s, 6) AS score
FROM pick WHERE rn = 1 ORDER BY id
"""


def q_incremental_agg(spark, sf_dir):
    """Incremental view maintenance (operators/cdc.py incremental_agg):
    a per-event_type count+sum view materialized over a base snapshot
    (event_id%10 != 0) is folded forward with a signed CDC delta batch
    (inserts: the held-out %10 rows; deletes: base rows with
    event_id%7 == 0) WITHOUT rescanning the base — one map-side-combined
    delta aggregate plus one full-outer merge on the group key, groups
    dropping when their maintained count hits zero.  Decimal measures
    keep the merge bit-exact regardless of add order.  The oracle is the
    IVM correctness statement itself: apply(view, delta) must equal a
    full recompute over the net table."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.cdc import (
        incremental_agg,
    )

    e = _t(spark, sf_dir, "events")
    val = F.col("value").cast("decimal(18,4)")
    base = e.filter(F.col("event_id") % 10 != 0)
    view = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(val).alias("sum_value"),
    )
    inserts = e.filter(F.col("event_id") % 10 == 0).select(
        "event_type", val.alias("sum_value"), F.lit("insert").alias("op")
    )
    deletes = base.filter(F.col("event_id") % 7 == 0).select(
        "event_type", val.alias("sum_value"), F.lit("delete").alias("op")
    )
    out = incremental_agg(
        view, inserts.unionAll(deletes), ["event_type"], ["sum_value"]
    )
    return out.select(
        "event_type",
        "n_rows",
        F.col("sum_value").cast("double").alias("sum_value"),
    ).transform(_by("event_type"))


Q_INCREMENTAL_AGG_SQL = """
WITH net AS (
  SELECT event_type, value FROM events
  WHERE event_id % 10 <> 0 AND event_id % 7 <> 0
  UNION ALL
  SELECT event_type, value FROM events WHERE event_id % 10 = 0)
SELECT event_type, COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM net GROUP BY event_type ORDER BY event_type
"""


def q_table_diff(spark, sf_dir):
    """Snapshot diff audit (operators/cdc.py table_diff): documents
    version A vs a deterministically mutated version B (doc_id%7
    removed, doc_id%3 retexted + relabeled, doc_id%50 inserted at a
    shifted key) classified per key into added/removed/changed/unchanged
    with the differing column names — ONE full-outer join on the key,
    null-safe column compares, no second scan.  The snapshot-
    reconciliation primitive for CDC validation and replication drift.
    The oracle rebuilds version B and the same classification in SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.cdc import (
        table_diff,
    )

    d = _t(spark, sf_dir, "documents")
    upd = F.col("doc_id") % 3 == 0
    new = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(upd, F.concat(F.lit("v2:"), F.substring("text", 1, 60)))
        .otherwise(F.col("text"))
        .alias("text"),
        F.when(upd, F.lit("xx")).otherwise(F.col("lang")).alias("lang"),
        "n_chars",
    ).unionAll(
        d.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.lit("new:"), F.col("source")).alias("text"),
            F.col("lang"),
            F.lit(None).cast("long").alias("n_chars"),
        )
    )
    diff = table_diff(
        d.select("doc_id", "text", "lang", "n_chars"),
        new,
        "doc_id",
        ["text", "lang", "n_chars"],
    )
    return diff.select(
        "doc_id",
        "status",
        F.array_join("changed_cols", ",").alias("changed_cols"),
    ).transform(_by("doc_id"))


Q_TABLE_DIFF_SQL = """
WITH newv AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'v2:' || substr(text, 1, 60)
              ELSE text END AS text,
         CASE WHEN doc_id % 3 = 0 THEN 'xx' ELSE lang END AS lang,
         n_chars
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + 1000000, 'new:' || source, lang, NULL
  FROM documents WHERE doc_id % 50 = 0),
j AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         o.doc_id IS NOT NULL AS in_old, n.doc_id IS NOT NULL AS in_new,
         CASE WHEN o.text IS DISTINCT FROM n.text THEN 'text' END AS c1,
         CASE WHEN o.lang IS DISTINCT FROM n.lang THEN 'lang' END AS c2,
         CASE WHEN o.n_chars IS DISTINCT FROM n.n_chars THEN 'n_chars' END AS c3
  FROM documents o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
SELECT doc_id,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            WHEN c1 IS NOT NULL OR c2 IS NOT NULL OR c3 IS NOT NULL
                 THEN 'changed'
            ELSE 'unchanged' END AS status,
       CASE WHEN in_old AND in_new
            THEN concat_ws(',', c1, c2, c3) ELSE '' END AS changed_cols
FROM j ORDER BY doc_id
"""


def q_mutual_info(spark, sf_dir):
    """Categorical association audit (operators/stats.py
    categorical_association): mutual information, normalized MI,
    chi-square and Cramér's V between documents.lang and
    documents.source in ONE pass — the corpus collapses to the observed
    (lang, source) cell frame map-side, marginals/entropies are
    aggregates of that frame, and chi-square uses the marginal-product
    identity n·(Σ o²/(r·c) − 1) so zero cells are exact without a full
    category grid.  The feature-relevance gate run before trusting a
    cheap proxy label.  The oracle replays the identical algebra in
    SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        categorical_association,
    )

    d = _t(spark, sf_dir, "documents")
    return categorical_association(d, "lang", "source")


Q_MUTUAL_INFO_SQL = """
WITH cells AS (
  SELECT lang AS a, source AS b, CAST(COUNT(*) AS DOUBLE) AS o
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2),
tot AS (SELECT SUM(o) AS n FROM cells),
ra AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY a),
cb AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY b),
core AS (
  SELECT SUM((o / n) * ln(o * n / (ra.ra * cb.cb))) AS mi,
         SUM(o * o / (ra.ra * cb.cb)) AS s
  FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot),
ea AS (SELECT -SUM((ra / n) * ln(ra / n)) AS ha,
              COUNT(*) AS r_levels FROM ra CROSS JOIN tot),
eb AS (SELECT -SUM((cb / n) * ln(cb / n)) AS hb,
              COUNT(*) AS c_levels FROM cb CROSS JOIN tot)
SELECT CAST(n AS BIGINT) AS n, r_levels, c_levels,
       ROUND(mi, 6) AS mi,
       ROUND(CASE WHEN ha > 0 AND hb > 0 THEN mi / sqrt(ha * hb)
                  ELSE 0.0 END, 6) AS nmi,
       ROUND(n * (s - 1.0), 6) AS chi2,
       CAST((r_levels - 1) * (c_levels - 1) AS BIGINT) AS dof,
       ROUND(CASE WHEN LEAST(r_levels, c_levels) > 1 AND n > 0
                  THEN sqrt(GREATEST(n * (s - 1.0), 0.0)
                            / (n * (LEAST(r_levels, c_levels) - 1)))
                  ELSE 0.0 END, 6) AS cramers_v
FROM core CROSS JOIN tot CROSS JOIN ea CROSS JOIN eb
"""


def q_kendall_tau(spark, sf_dir):
    """Kendall's tau-b between the daily click and purchase counts
    (operators/stats.py kendall_tau_groups): the corpus collapses to a
    ~30-row day frame in one aggregate; the i<j pair comparison runs
    over that frame only (days² pairs, corpus-size-independent) and one
    aggregate yields concordant/discordant/tie counts and the
    tie-corrected tau_b.  The oracle is the identical pair algebra in
    SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        kendall_tau_groups,
    )

    e = _t(spark, sf_dir, "events")
    days = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("y"),
    )
    return kendall_tau_groups(days, "day", "x", "y")


Q_KENDALL_TAU_SQL = """
WITH days AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1),
pairs AS (
  SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
  FROM days a JOIN days b ON a.day < b.day),
agg AS (
  SELECT COUNT(*) AS n0,
         CAST(SUM(CASE WHEN (x1-x2)*(y1-y2) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
         CAST(SUM(CASE WHEN (x1-x2)*(y1-y2) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
         CAST(SUM(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
         CAST(SUM(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
  FROM pairs)
SELECT CAST(ROUND((1.0 + sqrt(1.0 + 8.0 * n0)) / 2.0) AS BIGINT) AS n,
       concordant, discordant, ties_x, ties_y,
       ROUND(CASE WHEN (n0 - ties_x) > 0 AND (n0 - ties_y) > 0
                  THEN (concordant - discordant)
                       / sqrt(CAST((n0 - ties_x) AS DOUBLE) * (n0 - ties_y))
             END, 6) AS tau_b
FROM agg
"""


def q_sprt(spark, sf_dir):
    """Wald SPRT early-stopping monitor (operators/stats.py
    sprt_decision): four experiment arms (user_id % 4) walk their
    purchase-indicator stream in (ts, event_id) order accumulating the
    H1(p=0.25)-vs-H0(p=0.15) log-likelihood ratio; each arm reports the
    FIRST boundary crossing (accept/reject/continue) and when it could
    have stopped.  The llr is reconstructed from the integer success
    cumsum (k·w₁ + (i−k)·w₀), so the walk is bit-identical across
    engines.  The oracle replays the same walk with the same float
    literals in SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        sprt_decision,
    )

    e = _t(spark, sf_dir, "events")
    arms = e.select(
        (F.col("user_id") % 4).alias("arm"),
        (F.col("event_type") == "purchase").alias("success"),
        "ts",
        "event_id",
    )
    out = sprt_decision(
        arms, "arm", "success", ["ts", "event_id"], p0=0.15, p1=0.25
    )
    return out.withColumnRenamed("group", "arm").transform(_by("arm"))


import math as _math  # noqa: E402

_SPRT_WS = repr(_math.log(0.25 / 0.15))
_SPRT_WF = repr(_math.log(0.75 / 0.85))
_SPRT_LA = repr(_math.log(0.95 / 0.05))
_SPRT_LB = repr(_math.log(0.05 / 0.95))

Q_SPRT_SQL = f"""
WITH walk AS (
  SELECT user_id % 4 AS arm,
         ROW_NUMBER() OVER w AS i,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER w AS DOUBLE) AS k
  FROM events
  WINDOW w AS (PARTITION BY user_id % 4 ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)),
llr AS (
  SELECT arm, i,
         k * ({_SPRT_WS}) + (i - k) * ({_SPRT_WF}) AS llr,
         CASE WHEN k * ({_SPRT_WS}) + (i - k) * ({_SPRT_WF}) >= {_SPRT_LA}
                   THEN 'accept_h1'
              WHEN k * ({_SPRT_WS}) + (i - k) * ({_SPRT_WF}) <= {_SPRT_LB}
                   THEN 'accept_h0' END AS crossed
  FROM walk)
SELECT arm,
       MAX(i) AS n_total,
       ROUND(MAX_BY(llr, i), 6) AS llr_final,
       COALESCE(MIN_BY(crossed, CASE WHEN crossed IS NOT NULL THEN i END),
                'continue') AS decision,
       MIN(CASE WHEN crossed IS NOT NULL THEN i END) AS n_at_decision
FROM llr GROUP BY arm ORDER BY arm
"""


def q_holt_forecast(spark, sf_dir):
    """Holt double-exponential smoothing (operators/timeseries.py
    holt_linear_daily) over each event_type's daily count series:
    level+trend state with α=γ=1/2, one-step forecast = level+trend.
    The corpus collapses to the (key, day) frame map-side; the
    sequential recursion runs per key in ONE Arrow-batched
    applyInPandas over that metadata-sized series.  Portability comes
    from fixing the op ORDER: the DuckDB oracle walks the identical
    recursion in a recursive CTE, so state is bit-identical at every
    step."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        holt_linear_daily,
    )

    e = _t(spark, sf_dir, "events")
    return holt_linear_daily(e, "event_type", "ts").transform(
        _by("key", "day")
    )


Q_HOLT_FORECAST_SQL = """
WITH RECURSIVE daily AS (
  SELECT event_type AS key, strftime(ts, '%Y-%m-%d') AS day,
         COUNT(*) AS n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY strftime(ts, '%Y-%m-%d')) AS i
  FROM events GROUP BY 1, 2),
holt AS (
  -- e-notation literals: DuckDB types bare 0.5/0.0 as DECIMAL, which
  -- would pin the recursive union's column type to scale-1 decimal and
  -- quantize the state each step
  SELECT key, i, day, n, CAST(n AS DOUBLE) AS level, 0.0e0 AS trend
  FROM daily WHERE i = 1
  UNION ALL
  SELECT d.key, d.i, d.day, d.n,
         0.5e0 * d.n + 0.5e0 * (h.level + h.trend),
         0.5e0 * ((0.5e0 * d.n + 0.5e0 * (h.level + h.trend)) - h.level)
           + 0.5e0 * h.trend
  FROM holt h JOIN daily d ON d.key = h.key AND d.i = h.i + 1)
SELECT key, day, n, ROUND(level, 6) AS level, ROUND(trend, 6) AS trend,
       ROUND(level + trend, 6) AS forecast_next
FROM holt ORDER BY key, day
"""


def q_mase_forecast(spark, sf_dir):
    """Forecast-accuracy scoreboard (operators/timeseries.py
    mase_daily): MAE of the naive (yesterday) and seasonal-naive
    (same weekday) forecasts per event_type daily series, plus
    MASE = MAE_naive/MAE_snaive over rows where both lags exist —
    one ordered window for both lags, one aggregate.  Integer error
    sums keep both engines exact until the final divisions."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        mase_daily,
    )

    e = _t(spark, sf_dir, "events")
    return mase_daily(e, "event_type", "ts").transform(_by("key"))


Q_MASE_FORECAST_SQL = """
WITH daily AS (
  SELECT event_type AS key, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT key,
         ABS(n - LAG(n, 1) OVER w) AS e1,
         ABS(n - LAG(n, 7) OVER w) AS es
  FROM daily WINDOW w AS (PARTITION BY key ORDER BY day)),
agg AS (
  SELECT key, COUNT(*) AS n_eval,
         CAST(SUM(e1) AS DOUBLE) AS s1, CAST(SUM(es) AS DOUBLE) AS ss
  FROM lagged WHERE e1 IS NOT NULL AND es IS NOT NULL GROUP BY key)
SELECT key, n_eval,
       ROUND(s1 / n_eval, 6) AS mae_naive,
       ROUND(ss / n_eval, 6) AS mae_snaive,
       ROUND(CASE WHEN ss > 0 THEN s1 / ss END, 6) AS mase_naive
FROM agg ORDER BY key
"""


def q_random_projection(spark, sf_dir):
    """JL random projection + distortion audit (operators/similarity.py
    random_projection_audit): 64-dim embeddings project through a
    deterministic md5-parity ±1 sign matrix to 8 dims via posexplode +
    broadcast sign join + one (id, j) aggregate; adjacent-id pairs
    report d² before/after and the JL ratio.  Integer-quantized domain
    keeps both distances exact under any summation order.  The oracle
    derives the SAME sign matrix from md5 in SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        random_projection_audit,
    )

    e = _t(spark, sf_dir, "embeddings")
    return random_projection_audit(e).transform(_by("id_a"))


Q_RANDOM_PROJECTION_SQL = """
WITH q AS (
  SELECT vec_id AS id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * 1048576.0)) AS qv
  FROM embeddings),
cells AS (
  SELECT id, generate_subscripts(qv, 1) - 1 AS i, unnest(qv) AS x FROM q),
signs AS (
  SELECT CAST(t.i AS INT) AS i, CAST(u.j AS INT) AS j,
         CASE WHEN substr(md5(t.i || ':' || u.j), 32, 1)
                   IN ('0','2','4','6','8','a','c','e')
              THEN 1.0e0 ELSE -1.0e0 END AS s
  FROM range(64) t(i) CROSS JOIN range(8) u(j)),
proj AS (
  SELECT id, j, SUM(x * s) AS p FROM cells JOIN signs USING (i)
  GROUP BY 1, 2),
d2p AS (
  SELECT a.id AS id_a, SUM((a.p - b.p) * (a.p - b.p)) AS d2_proj
  FROM proj a JOIN proj b ON b.id = a.id + 1 AND b.j = a.j
  GROUP BY 1),
d2o AS (
  SELECT a.id AS id_a, b.id AS id_b,
         list_sum(list_transform(range(1, 65),
                  i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))) AS d2_orig
  FROM q a JOIN q b ON b.id = a.id + 1)
SELECT id_a, id_b, CAST(d2_orig AS DOUBLE) AS d2_orig, d2_proj,
       ROUND(CASE WHEN d2_orig > 0 THEN d2_proj / (8.0 * d2_orig) END, 6)
         AS jl_ratio
FROM d2o JOIN d2p USING (id_a) ORDER BY id_a
"""


def q_scalar_quant(spark, sf_dir):
    """int8 scalar quantization audit (operators/similarity.py
    scalar_quantize_audit): per-vector min/max codes, position-weighted
    code checksum, exact scaled squared reconstruction error and MSE in
    ppm — pure higher-order-function algebra, zero shuffles.  The
    integer-domain error identity err·L = q·L − (min·L + code·(max−min))
    keeps both engines bit-exact until the final division."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
        scalar_quantize_audit,
    )

    e = _t(spark, sf_dir, "embeddings")
    return scalar_quantize_audit(e).transform(_by("id"))


Q_SCALAR_QUANT_SQL = """
WITH q AS (
  SELECT vec_id AS id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * 1048576.0)) AS qv
  FROM embeddings),
st AS (
  SELECT id, qv,
         list_aggregate(qv, 'min') AS mn,
         list_aggregate(qv, 'max') AS mx,
         list_aggregate(qv, 'max') - list_aggregate(qv, 'min') AS rng
  FROM q),
coded AS (
  SELECT id, qv, mn, mx, rng,
         CASE WHEN rng > 0
              THEN list_transform(qv, x -> floor((x - mn) * 255.0e0 / rng))
              ELSE list_transform(qv, x -> 0.0e0) END AS codes
  FROM st)
SELECT id, mn AS qmin, mx AS qmax,
       list_sum(list_transform(range(1, 65), i -> codes[i] * i)) AS code_checksum,
       list_sum(list_transform(range(1, 65),
         i -> (qv[i] * 255.0e0 - (mn * 255.0e0 + codes[i] * rng))
            * (qv[i] * 255.0e0 - (mn * 255.0e0 + codes[i] * rng)))) AS sse_scaled,
       ROUND(list_sum(list_transform(range(1, 65),
         i -> (qv[i] * 255.0e0 - (mn * 255.0e0 + codes[i] * rng))
            * (qv[i] * 255.0e0 - (mn * 255.0e0 + codes[i] * rng))))
         * 1.0e6 / (64.0e0 * 1048576.0e0 * 1048576.0e0 * 255.0e0 * 255.0e0),
         6) AS mse_ppm
FROM coded ORDER BY id
"""


def q_rake_keywords(spark, sf_dir):
    """RAKE keyphrase extraction (operators/corpus.py rake_keywords):
    stopword-free token runs become candidate phrases via ONE
    gaps-and-islands window; word degree/frequency scores aggregate
    map-side and broadcast back; per-doc top-2 phrases by summed word
    score with deterministic tie-break.  The document-local keyphrase
    labeler (TextRank's cheap sibling).  The oracle replays islands +
    scoring with the same stopword literal in SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        rake_keywords,
    )

    d = _t(spark, sf_dir, "documents")
    return rake_keywords(d, "doc_id", "text").transform(_by("id", "rank"))


from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (  # noqa: E402
    RAKE_STOPWORDS as _RAKE_SW,
)

_RAKE_SW_SQL = ", ".join(f"'{s}'" for s in _RAKE_SW)

Q_RAKE_KEYWORDS_SQL = f"""
WITH nm AS (SELECT doc_id AS id, {_NORM_SQL} AS nt FROM documents),
arr AS (SELECT id, list_filter(str_split(nt, ' '), t -> t <> '') AS w FROM nm),
toks AS (
  SELECT id, i - 1 AS pos, w[i] AS term
  FROM arr, UNNEST(range(1, len(w) + 1)) t(i)),
marked AS (
  SELECT id, pos, term, term IN ({_RAKE_SW_SQL}) AS stop FROM toks),
islands AS (
  SELECT id, pos, term,
         SUM(CASE WHEN stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS isl
  FROM marked QUALIFY NOT stop),
phrases AS (
  SELECT id, isl, string_agg(term, ' ' ORDER BY pos) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS n_words
  FROM islands GROUP BY id, isl),
scores AS (
  SELECT i.term,
         CAST(SUM(p.n_words) AS DOUBLE) / COUNT(*) AS wscore
  FROM islands i JOIN phrases p USING (id, isl) GROUP BY i.term),
pscore AS (
  SELECT i.id, i.isl, SUM(s.wscore) AS raw
  FROM islands i JOIN scores s USING (term) GROUP BY i.id, i.isl),
ranked AS (
  SELECT p.id, p.phrase, p.n_words, ROUND(ps.raw, 6) AS score
  FROM phrases p JOIN pscore ps USING (id, isl))
SELECT id, phrase, n_words, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY score DESC, phrase ASC) AS INT) AS rank
FROM ranked QUALIFY rank <= 2 ORDER BY id, rank
"""


def q_skyline(spark, sf_dir):
    """2-D skyline / Pareto frontier (operators/olap.py skyline2d):
    parts no other part beats on (price low, size high).  The dominance
    self-join of the textbook formulation collapses to one groupBy over
    the raw data + a running-max window over the BOUNDED distinct-price
    aggregate + a broadcast join back — no non-equi join anywhere.  The
    oracle is the naive NOT EXISTS dominance test."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.olap import (
        skyline2d,
    )

    p = _t(spark, sf_dir, "part")
    out = skyline2d(
        p, "p_retailprice", "p_size",
        keep_cols=["p_partkey", "p_retailprice", "p_size"],
    ).select(
        F.col("p_partkey").alias("id"),
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"),
    )
    return out.transform(_by("id"))


Q_SKYLINE_SQL = """
SELECT p_partkey AS id, p_retailprice AS price, p_size AS size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE (q.p_retailprice < p.p_retailprice AND q.p_size >= p.p_size)
     OR (q.p_retailprice <= p.p_retailprice AND q.p_size > p.p_size))
ORDER BY id
"""


def q_simpsons(spark, sf_dir):
    """Simpson's-paradox audit (operators/olap.py simpson_reversals):
    per-event-type treated-vs-control high-value rate difference vs the
    pooled difference, flagging strata whose effect direction reverses
    the pooled one.  One stratum aggregate + a size-1 broadcast of the
    pooled row; the raw frame shuffles once."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.olap import (
        simpson_reversals,
    )

    e = _t(spark, sf_dir, "events")
    out = simpson_reversals(
        e, "event_type",
        F.expr("user_id % 2 = 1"), F.expr("value > 50"),
    )
    return out.transform(_by("stratum"))


Q_SIMPSONS_SQL = """
WITH base AS (
  SELECT event_type AS stratum,
         CAST(user_id % 2 = 1 AS INT) AS t,
         CAST(value > 50 AS INT) AS y
  FROM events),
per AS (
  SELECT stratum,
         CAST(SUM(t) AS BIGINT) AS n_treat,
         CAST(SUM(1 - t) AS BIGINT) AS n_ctrl,
         ROUND(SUM(t * y) * 1.0 / SUM(t), 6) AS rate_treat,
         ROUND(SUM((1 - t) * y) * 1.0 / SUM(1 - t), 6) AS rate_ctrl,
         ROUND(SUM(t * y) * 1.0 / SUM(t)
               - SUM((1 - t) * y) * 1.0 / SUM(1 - t), 6) AS diff
  FROM base GROUP BY stratum),
overall AS (
  SELECT ROUND(SUM(t * y) * 1.0 / SUM(t)
               - SUM((1 - t) * y) * 1.0 / SUM(1 - t), 6) AS overall_diff
  FROM base)
SELECT p.stratum, p.n_treat, p.n_ctrl, p.rate_treat, p.rate_ctrl, p.diff,
       o.overall_diff,
       (p.diff <> 0 AND o.overall_diff <> 0
        AND SIGN(p.diff) <> SIGN(o.overall_diff)) AS reversed
FROM per p CROSS JOIN overall o
ORDER BY stratum
"""


def q_ridge(spark, sf_dir):
    """Distributed ridge regression (operators/mlfit.py ridge_fit):
    event value against hour-of-day and the props payload, lam=0.5.  ONE
    map-side-combining aggregate collects the 9 second-order moments;
    Cramer's rule solves the 3x3 normal equations in closed form and R²
    falls out of the same moments — a single pass at any scale.  The
    oracle replays the identical moment algebra in SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        ridge_fit,
    )

    e = _t(spark, sf_dir, "events")
    base = e.select(
        (F.col("value") / 100).alias("yv"),
        (F.hour("ts") / F.lit(24.0)).alias("xa"),
        (F.get_json_object("props", "$.k").cast("long") / F.lit(100.0)).alias(
            "xb"
        ),
    )
    return ridge_fit(base, "yv", "xa", "xb", lam=0.5, round_to=6)


Q_RIDGE_SQL = """
WITH base AS (
  SELECT value / 100 AS yv,
         EXTRACT(HOUR FROM ts) / 24.0 AS xa,
         CAST(json_extract_string(props, '$.k') AS BIGINT) / 100.0 AS xb
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(xa) AS s1, SUM(xb) AS s2, SUM(yv) AS sy,
         SUM(xa * xa) AS s11, SUM(xa * xb) AS s12, SUM(xb * xb) AS s22,
         SUM(xa * yv) AS s1y, SUM(xb * yv) AS s2y, SUM(yv * yv) AS syy
  FROM base),
d AS (
  SELECT *,
         n * ((s11 + 0.5) * (s22 + 0.5) - s12 * s12)
         - s1 * (s1 * (s22 + 0.5) - s12 * s2)
         + s2 * (s1 * s12 - (s11 + 0.5) * s2) AS det
  FROM m),
sol AS (
  SELECT *,
         (sy * ((s11 + 0.5) * (s22 + 0.5) - s12 * s12)
          - s1 * (s1y * (s22 + 0.5) - s12 * s2y)
          + s2 * (s1y * s12 - (s11 + 0.5) * s2y)) / det AS rb0,
         (n * (s1y * (s22 + 0.5) - s12 * s2y)
          - sy * (s1 * (s22 + 0.5) - s12 * s2)
          + s2 * (s1 * s2y - s1y * s2)) / det AS rb1,
         (n * ((s11 + 0.5) * s2y - s1y * s12)
          - s1 * (s1 * s2y - s1y * s2)
          + sy * (s1 * s12 - (s11 + 0.5) * s2)) / det AS rb2
  FROM d),
r AS (
  SELECT *, ROUND(rb0, 6) AS b0, ROUND(rb1, 6) AS b1, ROUND(rb2, 6) AS b2
  FROM sol)
SELECT CAST(n AS BIGINT) AS n, b0, b1, b2,
       ROUND(1.0 - (syy - 2 * (b0 * sy + b1 * s1y + b2 * s2y)
                    + (b0 * b0 * n + b1 * b1 * s11 + b2 * b2 * s22
                       + 2 * b0 * b1 * s1 + 2 * b0 * b2 * s2
                       + 2 * b1 * b2 * s12))
                   / (syy - sy * sy / n), 6) AS r2
FROM r
"""


def q_platt(spark, sf_dir):
    """Platt sigmoid calibration (operators/mlfit.py logistic_platt):
    P(purchase | value) by 6 Newton steps, each ONE aggregate over the
    data with the current (a, b) broadcast in and the 2x2 Hessian solved
    in closed form; parameters are rounded per step so the trajectory is
    engine-portable.  The oracle chains the identical steps as CTEs."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        logistic_platt,
    )

    e = _t(spark, sf_dir, "events")
    return logistic_platt(
        e,
        F.col("value") / 100,
        F.col("event_type") == "purchase",
        iterations=6,
        round_to=7,
    )


def _platt_oracle_sql(iters: int = 6, rt: int = 7) -> str:
    sql = """WITH base AS (
  SELECT value / 100 AS s, CAST(event_type = 'purchase' AS INT) AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
p0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b)"""
    for i in range(1, iters + 1):
        sql += f""",
g{i} AS (
  SELECT a, b,
         SUM((p - y) * s) AS g1, SUM(p - y) AS g2,
         SUM(p * (1.0 - p) * s * s) AS h11,
         SUM(p * (1.0 - p) * s) AS h12,
         SUM(p * (1.0 - p)) AS h22
  FROM (SELECT s, y, 1.0 / (1.0 + exp(-(a * s + b))) AS p, a, b
        FROM base CROSS JOIN p{i - 1})
  GROUP BY a, b),
p{i} AS (
  SELECT ROUND(a - (h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12), {rt}) AS a,
         ROUND(b - (h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12), {rt}) AS b
  FROM g{i})"""
    sql += f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS n_pos, a, b,
       ROUND(-AVG(y * ln(p) + (1 - y) * ln(1.0 - p)), 6) AS log_loss
FROM (SELECT y, a, b, 1.0 / (1.0 + exp(-(a * s + b))) AS p
      FROM base CROSS JOIN p{iters})
GROUP BY a, b"""
    return sql


Q_PLATT_SQL = _platt_oracle_sql()


def q_stump(spark, sf_dir):
    """Gini decision stump (operators/mlfit.py gini_stump): the best
    single threshold of the props payload against purchase events.  The
    input aggregates once to per-distinct-value counts; a running-sum
    window over that bounded frame scores every candidate split and a
    top-1 picks the argmin — the raw data is never re-scanned.  Integer
    feature, so cumulative counts are exact in both engines."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        gini_stump,
    )

    e = _t(spark, sf_dir, "events")
    return gini_stump(
        e,
        F.get_json_object("props", "$.k").cast("long"),
        F.col("event_type") == "purchase",
    )


Q_STUMP_SQL = """
WITH base AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS v,
         CAST(event_type = 'purchase' AS INT) AS y
  FROM events
  WHERE json_extract_string(props, '$.k') IS NOT NULL
    AND event_type IS NOT NULL),
per AS (SELECT v, COUNT(*) AS c, SUM(y) AS p FROM base GROUP BY v),
cum AS (
  SELECT v,
         SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS nl,
         SUM(p) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS pl
  FROM per),
tot AS (SELECT SUM(c) AS nt, SUM(p) AS pt FROM per),
scored AS (
  SELECT v AS threshold,
         CAST(nl AS BIGINT) AS n_left,
         CAST(nt - nl AS BIGINT) AS n_right,
         ROUND(1.0 - (pl / CAST(nl AS DOUBLE)) * (pl / nl)
               - ((nl - pl) / CAST(nl AS DOUBLE)) * ((nl - pl) / nl),
               6) AS gini_left,
         ROUND(1.0 - ((pt - pl) / CAST(nt - nl AS DOUBLE)) * ((pt - pl) / (nt - nl))
               - ((nt - nl - pt + pl) / CAST(nt - nl AS DOUBLE))
                 * ((nt - nl - pt + pl) / (nt - nl)),
               6) AS gini_right,
         ROUND(((nl * (1.0 - (pl / CAST(nl AS DOUBLE)) * (pl / nl)
                       - ((nl - pl) / CAST(nl AS DOUBLE)) * ((nl - pl) / nl)))
                + ((nt - nl) * (1.0
                       - ((pt - pl) / CAST(nt - nl AS DOUBLE)) * ((pt - pl) / (nt - nl))
                       - ((nt - nl - pt + pl) / CAST(nt - nl AS DOUBLE))
                         * ((nt - nl - pt + pl) / (nt - nl))))) / nt,
               9) AS wgini
  FROM cum CROSS JOIN tot
  WHERE nl < nt)
SELECT * FROM scored ORDER BY wgini ASC, threshold ASC LIMIT 1
"""


def q_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap CI for the mean (operators/stats.py
    poisson_bootstrap_ci, Chamandy et al. 2012): 40 replicates reweight
    every event by an inverse-CDF Poisson(1) count drawn from an
    md5(seed, replicate, id) uniform — resampling with no global n, no
    reshuffle, pure function of the input.  One exploding pass with
    map-side combine; the percentile interval comes from the 40-row
    replicate-mean frame.  The oracle replays the identical hash
    arithmetic in SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        poisson_bootstrap_ci,
    )

    e = _t(spark, sf_dir, "events")
    return poisson_bootstrap_ci(
        e, "event_id", "value", b=40, seed="bs1", alpha=0.05
    )


def _bootstrap_oracle_sql(b: int = 40, seed: str = "bs1") -> str:
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        POISSON1_CDF,
    )

    c = POISSON1_CDF
    u = (
        "(CAST(('0x' || substr(md5('" + seed + "' || CAST(i AS VARCHAR)"
        " || ':' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        " + 1.0) / 1152921504606846976.0"
    )
    w = (
        f"CAST(CASE WHEN {u} < {c[0]} THEN 0 WHEN {u} < {c[1]} THEN 1"
        f" WHEN {u} < {c[2]} THEN 2 WHEN {u} < {c[3]} THEN 3"
        f" WHEN {u} < {c[4]} THEN 4 WHEN {u} < {c[5]} THEN 5"
        f" ELSE 6 END AS DOUBLE)"
    )
    # lo/hi replicate ranks: floor(alpha/2*b)+1 and ceil((1-alpha/2)*b)
    lo_rn, hi_rn = int(0.025 * b) + 1, -int(-(0.975 * b) // 1)
    return f"""
WITH rep AS (
  SELECT i, {w} AS w, value AS v
  FROM events, range({b}) t(i)
  WHERE value IS NOT NULL),
means AS (
  SELECT i, ROUND(SUM(w * v) / SUM(w), 9) AS m FROM rep GROUP BY i),
ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m ASC, i ASC) AS rn FROM means),
bounds AS (
  SELECT MIN(CASE WHEN rn = {lo_rn} THEN m END) AS lo,
         MIN(CASE WHEN rn = {hi_rn} THEN m END) AS hi
  FROM ranked WHERE rn IN ({lo_rn}, {hi_rn})),
est AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, ROUND(AVG(value), 9) AS est
  FROM events WHERE value IS NOT NULL)
SELECT n, est, lo, hi, {b} AS b FROM est CROSS JOIN bounds
"""


Q_BOOTSTRAP_CI_SQL = _bootstrap_oracle_sql()


def q_pca_power(spark, sf_dir):
    """Leading principal component of four lineitem measures
    (operators/mlfit.py pca_power_top1): ONE pass aggregates the 14
    moments, the covariance is closed-form algebra on that row, and 8
    power-iteration steps run on the 1-row frame — no further data
    passes at any scale.  Per-step L2-normalize + round pins the
    trajectory; the oracle chains the identical steps as CTEs."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        pca_power_top1,
    )

    li = _t(spark, sf_dir, "lineitem")
    return pca_power_top1(
        li,
        [
            F.col("l_quantity") / 50,
            F.col("l_extendedprice") / 100000,
            F.col("l_discount"),
            F.col("l_tax"),
        ],
        iterations=8,
    )


def _pca_oracle_sql(d: int = 4, iters: int = 8, rt: int = 9) -> str:
    feats = [
        "l_quantity / 50",
        "l_extendedprice / 100000",
        "l_discount",
        "l_tax",
    ]
    xs = [f"_x{i}" for i in range(d)]
    sel = ", ".join(f"{f} AS {x}" for f, x in zip(feats, xs))
    notnull = " AND ".join(f"{x} IS NOT NULL" for x in xs)
    moments = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    moments += [f"SUM(_x{i}) AS s{i}" for i in range(d)]
    moments += [
        f"SUM(_x{i} * _x{j}) AS s{i}{j}"
        for i in range(d)
        for j in range(i, d)
    ]
    cov = ["n"] + [
        f"(s{i}{j} - s{i} * s{j} / n) / n AS c{i}{j}"
        for i in range(d)
        for j in range(i, d)
    ]

    def c(i, j):
        return f"c{min(i, j)}{max(i, j)}"

    keep = "n, " + ", ".join(
        c(i, j) for i in range(d) for j in range(i, d)
    )
    start = repr(round(1.0 / d**0.5, rt))
    sql = f"""WITH base AS (SELECT {sel} FROM lineitem),
flt AS (SELECT * FROM base WHERE {notnull}),
m AS (SELECT {', '.join(moments)} FROM flt),
it0 AS (SELECT {', '.join(cov)}, {', '.join(f'{start} AS v{i}' for i in range(d))} FROM m)"""
    for k in range(1, iters + 1):
        mv = ", ".join(
            " + ".join(f"{c(i, j)} * v{j}" for j in range(d))
            + f" AS _w{i}"
            for i in range(d)
        )
        nrm = "sqrt(" + " + ".join(f"_w{i} * _w{i}" for i in range(d)) + ")"
        vs = ", ".join(
            f"ROUND(_w{i} / _nrm, {rt}) AS v{i}" for i in range(d)
        )
        sql += f""",
it{k} AS (
  SELECT {keep}, {vs}
  FROM (SELECT *, {nrm} AS _nrm
        FROM (SELECT *, {mv} FROM it{k - 1})))"""
    quad = " + ".join(
        f"{'2 * ' if i != j else ''}{c(i, j)} * v{i} * v{j}"
        for i in range(d)
        for j in range(i, d)
    )
    outs = ", ".join(
        f"ROUND(CASE WHEN v0 < 0 THEN -v{i} ELSE v{i} END, 6) AS v{i + 1}"
        for i in range(d)
    )
    sql += f"""
SELECT CAST(n AS BIGINT) AS n, ROUND({quad}, 6) AS eig, {outs}
FROM it{iters}"""
    return sql


Q_PCA_POWER_SQL = _pca_oracle_sql()


def q_next_conversion(spark, sf_dir):
    """View-to-purchase latency (operators/funnel.py next_conversion):
    every view pairs with its user's NEXT purchase via one running min
    over a descending per-user window — no self-join, no pair blowup —
    then a single aggregate computes the within-1-hour conversion rate
    and mean latency.  The survival-curve companion (q_survival bins the
    censored distribution; this scores the hop)."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.funnel import (
        next_conversion,
    )

    e = _t(spark, sf_dir, "events")
    return next_conversion(
        e, "user_id", "ts", "event_type", "view", "purchase", 3600,
        tiebreak_col="event_id",
    )


Q_NEXT_CONVERSION_SQL = """
WITH nxt AS (
  SELECT event_type, ts,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS next_to
  FROM events),
f AS (
  SELECT CASE WHEN date_diff('microsecond', ts, next_to) / 1000000.0 > 0
               AND date_diff('microsecond', ts, next_to) / 1000000.0 <= 3600
              THEN date_diff('microsecond', ts, next_to) / 1000000.0 END AS lat
  FROM nxt WHERE event_type = 'view')
SELECT CAST(COUNT(*) AS BIGINT) AS n_from,
       CAST(COUNT(lat) AS BIGINT) AS n_converted,
       ROUND(COUNT(lat) * 1.0 / COUNT(*), 6) AS conv_rate,
       ROUND(AVG(lat), 6) AS avg_latency_sec
FROM f
"""


def q_weighted_quantiles(spark, sf_dir):
    """EXACT weighted quantiles per event type (operators/stats.py
    weighted_quantiles): smallest value whose cumulative props-payload
    weight reaches q of the group total — integer weights make the
    cumulative comparison exact in any engine.  One cumulative window
    per group plus one aggregate; no join back."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        weighted_quantiles,
    )

    e = _t(spark, sf_dir, "events")
    out = weighted_quantiles(
        e,
        "event_type",
        F.col("value"),
        F.get_json_object("props", "$.k").cast("long"),
        qs=(0.25, 0.5, 0.9),
    )
    return out.transform(_by("group", "q"))


Q_WEIGHTED_QUANTILES_SQL = """
WITH base AS (
  SELECT event_type AS grp, value AS v,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS w
  FROM events
  WHERE value IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL),
cum AS (
  SELECT grp, v,
         SUM(w) OVER (PARTITION BY grp ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY grp) AS tw
  FROM base),
agg AS (
  SELECT grp,
         MIN(CASE WHEN CAST(cw AS DOUBLE) >= 0.25 * tw THEN v END) AS q0,
         MIN(CASE WHEN CAST(cw AS DOUBLE) >= 0.5 * tw THEN v END) AS q1,
         MIN(CASE WHEN CAST(cw AS DOUBLE) >= 0.9 * tw THEN v END) AS q2
  FROM cum GROUP BY grp)
SELECT grp AS "group", q, wq FROM (
  SELECT grp, CAST(0.25 AS DOUBLE) AS q, q0 AS wq FROM agg
  UNION ALL
  SELECT grp, CAST(0.5 AS DOUBLE) AS q, q1 AS wq FROM agg
  UNION ALL
  SELECT grp, CAST(0.9 AS DOUBLE) AS q, q2 AS wq FROM agg)
ORDER BY "group", q
"""


def q_trimmed_mean(spark, sf_dir):
    """10% two-sided trimmed mean per event type (operators/stats.py
    trimmed_mean): one ranking window with an id tiebreak (total order,
    pure function of the input) and one aggregate — the robust
    scoreboard mean that shrugs off corrupt outliers."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        trimmed_mean,
    )

    e = _t(spark, sf_dir, "events")
    return trimmed_mean(
        e, "event_type", "event_id", "value", trim=0.1
    ).transform(_by("group"))


Q_TRIMMED_MEAN_SQL = """
WITH base AS (
  SELECT event_type AS grp, event_id AS id, value AS v
  FROM events WHERE value IS NOT NULL),
ranked AS (
  SELECT grp, v,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, id) AS rn,
         COUNT(*) OVER (PARTITION BY grp) AS n
  FROM base),
kept AS (
  SELECT grp, v, n FROM ranked
  WHERE rn > FLOOR(0.1 * n) AND rn <= n - FLOOR(0.1 * n))
SELECT grp AS "group", CAST(MAX(n) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_used,
       ROUND(AVG(v), 9) AS tmean
FROM kept GROUP BY grp ORDER BY "group"
"""


def q_chao1(spark, sf_dir):
    """Chao1 vocabulary-asymptote estimate (operators/corpus.py
    chao1_richness): distinct terms + singleton/doubleton correction.
    Token explode -> map-side term counts -> one aggregate over the
    vocabulary-bounded frame.  Pairs with q_heaps_law (curve fit) as the
    crawl-coverage audit."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        chao1_richness,
    )

    d = _t(spark, sf_dir, "documents")
    return chao1_richness(d, "doc_id", "text")


Q_CHAO1_SQL = f"""
WITH nm AS (SELECT doc_id AS id, {_NORM_SQL} AS nt FROM documents),
toks AS (
  SELECT id, t.term
  FROM nm, UNNEST(list_filter(str_split(nt, ' '), x -> x <> '')) t(term)),
counts AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
f AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM counts)
SELECT d, f1, f2,
       ROUND(d + f1 * (f1 - 1) / (2.0 * (f2 + 1)), 6) AS chao1
FROM f
"""


def q_diversity(spark, sf_dir):
    """Per-source lexical diversity (operators/corpus.py
    diversity_index): Shannon entropy, Simpson diversity, richness and
    Pielou evenness of each source's token distribution — the template-
    spam detector for corpus mixes.  One explode, one (group, term)
    map-side aggregate, the group total riding a window on the same
    partitioning; no join back."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        diversity_index,
    )

    d = _t(spark, sf_dir, "documents")
    return diversity_index(d, "source", "text").transform(_by("group"))


Q_DIVERSITY_SQL = f"""
WITH nm AS (SELECT source AS grp, {_NORM_SQL} AS nt FROM documents),
tok AS (
  SELECT grp, t.term
  FROM nm, UNNEST(list_filter(str_split(nt, ' '), x -> x <> '')) t(term)),
per AS (SELECT grp, term, COUNT(*) AS c FROM tok GROUP BY grp, term),
sc AS (SELECT grp, c, SUM(c) OVER (PARTITION BY grp) AS n FROM per),
agg AS (
  SELECT grp, CAST(MAX(n) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS richness,
         ROUND(-SUM((c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))),
               6) AS shannon,
         ROUND(1.0 - SUM((c / CAST(n AS DOUBLE)) * (c / n)), 6) AS simpson
  FROM sc GROUP BY grp)
SELECT grp AS "group", n_tokens, richness, shannon, simpson,
       ROUND(CASE WHEN richness > 1
                  THEN shannon / ln(CAST(richness AS DOUBLE))
                  ELSE 0.0 END, 6) AS evenness
FROM agg ORDER BY "group"
"""


def q_hill_tail(spark, sf_dir):
    """Hill tail-index over document sizes (operators/corpus.py
    hill_tail_index): 1/alpha = mean log-excess over the top-k order
    statistics — the finite-variance audit behind partitioner sizing.
    TakeOrderedAndProject of k+1 rows; the table never shuffles."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.corpus import (
        hill_tail_index,
    )

    d = _t(spark, sf_dir, "documents")
    return hill_tail_index(d, "doc_id", "n_chars", k=100)


Q_HILL_TAIL_SQL = """
WITH top AS (
  SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
  ORDER BY v DESC, id ASC LIMIT 101),
thr AS (SELECT MIN(v) AS x_kth FROM top)
SELECT CAST(COUNT(*) AS BIGINT) AS k, MAX(x_kth) AS x_kth,
       ROUND(1.0 / AVG(ln(v / x_kth)), 6) AS alpha
FROM top CROSS JOIN thr WHERE v > x_kth
"""


def q_cmh(spark, sf_dir):
    """Cochran-Mantel-Haenszel pooled odds ratio over the same strata as
    q_simpsons (operators/stats.py cmh_pooled_odds) — the correct pooled
    effect after q_simpsons shows naive pooling lies.  One stratum
    aggregate + one strata-frame aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        cmh_pooled_odds,
    )

    e = _t(spark, sf_dir, "events")
    return cmh_pooled_odds(
        e, "event_type", F.expr("user_id % 2 = 1"), F.expr("value > 50")
    )


Q_CMH_SQL = """
WITH base AS (
  SELECT event_type AS stratum,
         CAST(user_id % 2 = 1 AS INT) AS t,
         CAST(value > 50 AS INT) AS y
  FROM events),
per AS (
  SELECT stratum,
         CAST(SUM(t * y) AS DOUBLE) AS a,
         CAST(SUM(t * (1 - y)) AS DOUBLE) AS b,
         CAST(SUM((1 - t) * y) AS DOUBLE) AS c,
         CAST(SUM((1 - t) * (1 - y)) AS DOUBLE) AS d
  FROM base GROUP BY stratum),
per2 AS (SELECT *, a + b + c + d AS nk FROM per)
SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
       ROUND(SUM(a * d / nk) / SUM(b * c / nk), 6) AS or_mh,
       ROUND(POW(SUM(a - (a + b) * (a + c) / nk), 2.0)
             / SUM((a + b) * (c + d) * (a + c) * (b + d)
                   / (nk * nk * (nk - 1))), 6) AS chi2
FROM per2
"""


def q_mcnemar(spark, sf_dir):
    """McNemar discordance between two deterministic document filters
    (operators/stats.py mcnemar_test): length rule vs stopword rule on
    the SAME documents — the paired filter-migration gate.  One
    map-side-combined aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        mcnemar_test,
    )

    d = _t(spark, sf_dir, "documents")
    return mcnemar_test(
        d,
        F.col("n_chars") > 1000,
        F.lower(F.col("text")).contains("the"),
    )


Q_MCNEMAR_SQL = """
WITH base AS (
  SELECT CAST(n_chars > 1000 AS INT) AS a,
         CAST(contains(lower(text), 'the') AS INT) AS b
  FROM documents)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(a * b) AS BIGINT) AS both,
       CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS neither,
       CAST(SUM(a * (1 - b)) AS BIGINT) AS b,
       CAST(SUM((1 - a) * b) AS BIGINT) AS c,
       ROUND(CASE WHEN SUM(a * (1 - b)) + SUM((1 - a) * b) > 0
                  THEN POW(SUM(a * (1 - b)) - SUM((1 - a) * b), 2.0)
                       / CAST(SUM(a * (1 - b)) + SUM((1 - a) * b) AS DOUBLE)
                  ELSE 0.0 END, 6) AS mcnemar
FROM base
"""


def q_brier(spark, sf_dir):
    """Murphy decomposition of the Brier score (operators/stats.py
    brier_decomposition): clamped event value as purchase forecast —
    reliability / resolution / uncertainty over 10 equal-width bins.
    One bin aggregate + one n_bins-frame aggregate with the base rate
    riding a window."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        brier_decomposition,
    )

    e = _t(spark, sf_dir, "events")
    return brier_decomposition(
        e,
        F.least(F.col("value") / 100, F.lit(1.0)),
        F.col("event_type") == "purchase",
        n_bins=10,
    )


Q_BRIER_SQL = """
WITH base AS (
  SELECT LEAST(value / 100, 1.0) AS s,
         CAST(event_type = 'purchase' AS INT) AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
binned AS (
  SELECT LEAST(CAST(FLOOR(s * 10) AS INT), 9) AS bin, s, y FROM base),
per AS (
  SELECT bin, CAST(COUNT(*) AS DOUBLE) AS nk, AVG(s) AS sbar,
         AVG(CAST(y AS DOUBLE)) AS ybar,
         SUM((s - y) * (s - y)) AS se
  FROM binned GROUP BY bin),
tot AS (
  SELECT *, SUM(nk) OVER () AS n,
         SUM(nk * ybar) OVER () / SUM(nk) OVER () AS yb
  FROM per)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       ROUND(SUM(se) / MAX(n), 6) AS brier,
       ROUND(SUM(nk * (sbar - ybar) * (sbar - ybar)) / MAX(n), 6)
         AS reliability,
       ROUND(SUM(nk * (ybar - yb) * (ybar - yb)) / MAX(n), 6)
         AS resolution,
       ROUND(MAX(yb * (1.0 - yb)), 6) AS uncertainty
FROM tot
"""


def q_target_encode(spark, sf_dir):
    """Leakage-safe K-fold target encoding (operators/mlfit.py
    target_encode): per (event type, md5-fold) out-of-fold mean value,
    shrunk to the global prior — the encoding table a trainer broadcast-
    joins.  One (cat, fold) aggregate; totals ride a per-cat window, the
    prior a size-1 broadcast.  The oracle replays the identical hash
    folds in SQL."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        target_encode,
    )

    e = _t(spark, sf_dir, "events")
    return target_encode(
        e, "event_id", "event_type", "value", n_folds=5, seed="te"
    ).transform(_by("cat", "fold"))


Q_TARGET_ENCODE_SQL = """
WITH base AS (
  SELECT event_type AS cat, value AS y,
         CAST(('0x' || substr(md5('te' || CAST(event_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 5 AS fold
  FROM events WHERE value IS NOT NULL),
per AS (
  SELECT cat, fold, SUM(y) AS s, COUNT(*) AS c
  FROM base GROUP BY cat, fold),
tot AS (
  SELECT *, SUM(s) OVER (PARTITION BY cat) AS ts,
         SUM(c) OVER (PARTITION BY cat) AS tc
  FROM per),
prior AS (SELECT AVG(y) AS prior FROM base)
SELECT cat, CAST(fold AS INT) AS fold, CAST(tc - c AS BIGINT) AS n_out,
       ROUND((ts - s + 10.0 * prior) / (CAST(tc - c AS DOUBLE) + 10.0), 6)
         AS enc
FROM tot CROSS JOIN prior ORDER BY cat, fold
"""


def q_hash_collisions(spark, sf_dir):
    """Feature-hashing collision audit (operators/mlfit.py
    hashing_trick_audit): distinct corpus terms bucketed by the
    engine-portable md5 hash into 4096 features; reports bucket
    occupancy and the term collision rate — the go/no-go check before
    shipping a hashed bag-of-words."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        hashing_trick_audit,
    )

    d = _t(spark, sf_dir, "documents")
    return hashing_trick_audit(d, "doc_id", "text", n_buckets=4096)


Q_HASH_COLLISIONS_SQL = f"""
WITH nm AS (SELECT doc_id AS id, {_NORM_SQL} AS nt FROM documents),
toks AS (
  SELECT DISTINCT t.term
  FROM nm, UNNEST(list_filter(str_split(nt, ' '), x -> x <> '')) t(term)),
b AS (
  SELECT CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % 4096 AS bucket
  FROM toks),
per AS (SELECT bucket, COUNT(*) AS c FROM b GROUP BY bucket)
SELECT CAST(SUM(c) AS BIGINT) AS n_terms,
       4096 AS n_buckets,
       CAST(COUNT(*) AS BIGINT) AS buckets_used,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS colliding_buckets,
       CAST(MAX(c) AS BIGINT) AS max_bucket,
       ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END)
             / CAST(SUM(c) AS DOUBLE), 6) AS term_collision_rate
FROM per
"""


def q_streaks(spark, sf_dir):
    """Longest consecutive-day activity streak per user (operators/
    stats.py daily_streaks): the DATE flavor of gaps-and-islands —
    day minus row_number is constant within a run — so streaks need one
    window and no self-join.  Top-20 by streak, user tiebreak."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        daily_streaks,
    )

    e = _t(spark, sf_dir, "events")
    return daily_streaks(e, "user_id", "ts", top_k=20)


Q_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events WHERE ts IS NOT NULL),
runs AS (
  SELECT u, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY u ORDER BY day) AS INT)
           AS anchor
  FROM days),
st AS (SELECT u, anchor, COUNT(*) AS len FROM runs GROUP BY u, anchor),
pu AS (
  SELECT u, CAST(SUM(len) AS BIGINT) AS n_active_days,
         CAST(MAX(len) AS BIGINT) AS max_streak
  FROM st GROUP BY u)
SELECT u AS "user", n_active_days, max_streak
FROM pu ORDER BY max_streak DESC, "user" ASC LIMIT 20
"""


def q_wilcoxon(spark, sf_dir):
    """Wilcoxon signed-rank over paired per-user means — click value vs
    view value (operators/stats.py wilcoxon_signed_rank): the
    nonparametric PAIRED test completing the battery next to
    Mann-Whitney (unpaired).  Pairs aggregate first (user-bounded
    frame); one rank window with average-rank tie handling; one
    aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        wilcoxon_signed_rank,
    )

    e = _t(spark, sf_dir, "events")
    p = (
        e.groupBy("user_id")
        .agg(
            F.avg(
                F.when(F.col("event_type") == "click", F.col("value"))
            ).alias("a"),
            F.avg(
                F.when(F.col("event_type") == "view", F.col("value"))
            ).alias("b"),
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    return wilcoxon_signed_rank(p, "user_id", "a", "b")


Q_WILCOXON_SQL = """
WITH p AS (
  SELECT user_id,
         AVG(CASE WHEN event_type = 'click' THEN value END) AS a,
         AVG(CASE WHEN event_type = 'view' THEN value END) AS b
  FROM events GROUP BY user_id),
d AS (
  SELECT a - b AS d, ABS(a - b) AS ad
  FROM p WHERE a IS NOT NULL AND b IS NOT NULL AND a - b <> 0),
r AS (
  SELECT d,
         CAST(RANK() OVER (ORDER BY ad) AS DOUBLE)
         + (COUNT(*) OVER (PARTITION BY ad) - 1) / 2.0 AS rk
  FROM d),
aggr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         ROUND(SUM(CASE WHEN d > 0 THEN rk ELSE 0.0 END), 6) AS w_plus
  FROM r)
SELECT n_pairs, w_plus,
       ROUND((w_plus - n_pairs * (n_pairs + 1) / 4.0)
             / sqrt(n_pairs * (n_pairs + 1) * (2 * n_pairs + 1) / 24.0),
             6) AS z
FROM aggr
"""


def q_huber(spark, sf_dir):
    """Huber IRLS robust line fit (operators/mlfit.py huber_fit): event
    value on the props payload, fixed threshold c=30 — the middle ground
    between q_ols_trend and q_theil_sen.  OLS start + 4 reweighted
    rounds, each ONE weighted-moment aggregate with (a, b) broadcast in,
    rounded per round; the oracle chains the identical rounds as CTEs."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        huber_fit,
    )

    e = _t(spark, sf_dir, "events")
    return huber_fit(
        e,
        "value",
        F.get_json_object("props", "$.k").cast("long"),
        c=30.0,
        iterations=4,
    )


def _huber_oracle_sql(c: str = "30.0", iters: int = 4, rt: int = 7) -> str:
    sql = """WITH base AS (
  SELECT value AS y,
         CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DOUBLE)
           AS x
  FROM events
  WHERE value IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL),
m0 AS (
  SELECT SUM(1.0) AS sw, SUM(1.0 * x) AS sx, SUM(1.0 * y) AS sy,
         SUM(1.0 * x * x) AS sxx, SUM(1.0 * x * y) AS sxy
  FROM base),
p0 AS (
  SELECT ROUND((sy * sxx - sx * sxy) / (sw * sxx - sx * sx), {rt}) AS a,
         ROUND((sw * sxy - sx * sy) / (sw * sxx - sx * sx), {rt}) AS b
  FROM m0)""".format(rt=rt)
    for i in range(1, iters + 1):
        sql += f""",
m{i} AS (
  SELECT SUM(w) AS sw, SUM(w * x) AS sx, SUM(w * y) AS sy,
         SUM(w * x * x) AS sxx, SUM(w * x * y) AS sxy
  FROM (SELECT x, y,
               CASE WHEN abs(y - a - b * x) <= {c} THEN 1.0
                    ELSE {c} / abs(y - a - b * x) END AS w
        FROM base CROSS JOIN p{i - 1})),
p{i} AS (
  SELECT ROUND((sy * sxx - sx * sxy) / (sw * sxx - sx * sx), {rt}) AS a,
         ROUND((sw * sxy - sx * sy) / (sw * sxx - sx * sx), {rt}) AS b
  FROM m{i})"""
    sql += f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n, a, b
FROM base CROSS JOIN p{iters} GROUP BY a, b"""
    return sql


Q_HUBER_SQL = _huber_oracle_sql()


def q_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix: the certified stopword-vote
    heuristic (q_doc_lang_id) against each document's DECLARED lang
    column — per (declared, predicted) counts and the within-declared
    fraction; the audit that says where the cheap classifier is safe to
    trust.  One aggregate after the pure-Catalyst prediction; the
    per-declared total rides a window."""
    from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
        lang_id,
    )

    d = _t(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("declared"),
        lang_id(F.coalesce(F.col("text"), F.lit(""))).alias("predicted"),
    )
    per = pred.groupBy("declared", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("declared")
    out = per.select(
        "declared",
        "predicted",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("frac"),
    )
    return out.transform(_by("declared", "predicted"))


def _lang_confusion_sql() -> str:
    inner = _lang_id_sql().replace(
        "SELECT doc_id,", "SELECT lang AS declared,"
    )
    return f"""
WITH pred AS ({inner}),
per AS (
  SELECT declared, lang_guess AS predicted, COUNT(*) AS n
  FROM pred GROUP BY declared, lang_guess)
SELECT declared, predicted, CAST(n AS BIGINT) AS n,
       ROUND(n / CAST(SUM(n) OVER (PARTITION BY declared) AS DOUBLE), 6)
         AS frac
FROM per ORDER BY declared, predicted
"""


def q_rolling_distinct(spark, sf_dir):
    """Trailing-7-day DISTINCT active users per day (operators/
    timeseries.py rolling_distinct_users): distinct doesn't decompose
    over a RANGE frame, so each user-day COVERS the next 7 report days
    via a bounded explode and one distinct-aggregate per day finishes —
    shuffle volume is 7x the user-day frame, never the raw events.  The
    WAU metric next to q_rolling_events' decomposable counts."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        rolling_distinct_users,
    )

    e = _t(spark, sf_dir, "events")
    out = rolling_distinct_users(e, "user_id", "ts", window_days=7).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_users_1d",
        "n_users_7d",
    )
    return out.transform(_by("day"))


Q_ROLLING_DISTINCT_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id AS u,
         CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01'
              AS INT) AS d
  FROM events WHERE ts IS NOT NULL),
b AS (SELECT MAX(d) AS dmax FROM ud),
cov AS (
  SELECT u, d + t.off AS rd
  FROM ud, UNNEST(range(7)) t(off), b
  WHERE d + t.off <= b.dmax),
nd AS (SELECT rd, COUNT(DISTINCT u) AS n7 FROM cov GROUP BY rd),
one AS (SELECT d AS rd, COUNT(DISTINCT u) AS n1 FROM ud GROUP BY d)
SELECT strftime(DATE '1970-01-01' + CAST(rd AS INT), '%Y-%m-%d') AS day,
       CAST(COALESCE(n1, 0) AS BIGINT) AS n_users_1d,
       CAST(n7 AS BIGINT) AS n_users_7d
FROM nd LEFT JOIN one USING (rd) ORDER BY day
"""


def q_partial_corr(spark, sf_dir):
    """First-order partial correlation (operators/stats.py
    partial_corr): event value ~ props payload controlling for hour of
    day — the numeric confounder audit next to q_simpsons/q_cmh.  ONE
    moment aggregate; scalar algebra after."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        partial_corr,
    )

    e = _t(spark, sf_dir, "events")
    return partial_corr(
        e,
        F.col("value"),
        F.get_json_object("props", "$.k").cast("long"),
        F.hour("ts"),
    )


Q_PARTIAL_CORR_SQL = """
WITH base AS (
  SELECT value AS x,
         CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DOUBLE)
           AS y,
         CAST(EXTRACT(HOUR FROM ts) AS DOUBLE) AS z
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(z * z) AS szz,
         SUM(x * y) AS sxy, SUM(x * z) AS sxz, SUM(y * z) AS syz
  FROM base),
r AS (
  SELECT n,
         (n * sxy - sx * sy)
           / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS rxy,
         (n * sxz - sx * sz)
           / (sqrt(n * sxx - sx * sx) * sqrt(n * szz - sz * sz)) AS rxz,
         (n * syz - sy * sz)
           / (sqrt(n * syy - sy * sy) * sqrt(n * szz - sz * sz)) AS ryz
  FROM m)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(rxy, 6) AS r_xy, ROUND(rxz, 6) AS r_xz,
       ROUND(ryz, 6) AS r_yz,
       ROUND((rxy - rxz * ryz)
             / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6) AS r_xy_z
FROM r
"""


def q_vif(spark, sf_dir):
    """Variance inflation factors of three lineitem measures
    (operators/stats.py vif3): quantity / extendedprice / discount —
    extendedprice is quantity-driven, so its VIF must exceed the
    others.  The collinearity audit before q_ridge.  ONE moment
    aggregate; closed-form 3-variable algebra."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        vif3,
    )

    li = _t(spark, sf_dir, "lineitem")
    return vif3(
        li,
        F.col("l_quantity"),
        F.col("l_extendedprice") / 1000,
        F.col("l_discount"),
    )


Q_VIF_SQL = """
WITH base AS (
  SELECT l_quantity AS a, l_extendedprice / 1000 AS b, l_discount AS c
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc,
         SUM(a * a) AS saa, SUM(b * b) AS sbb, SUM(c * c) AS scc,
         SUM(a * b) AS sab, SUM(a * c) AS sac, SUM(b * c) AS sbc
  FROM base),
r AS (
  SELECT n,
         (n * sab - sa * sb)
           / (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb)) AS r12,
         (n * sac - sa * sc)
           / (sqrt(n * saa - sa * sa) * sqrt(n * scc - sc * sc)) AS r13,
         (n * sbc - sb * sc)
           / (sqrt(n * sbb - sb * sb) * sqrt(n * scc - sc * sc)) AS r23
  FROM m),
rr AS (
  SELECT n, r12, r13, r23,
         (r12 * r12 + r13 * r13 - 2.0 * r12 * r13 * r23)
           / (1.0 - r23 * r23) AS R1,
         (r12 * r12 + r23 * r23 - 2.0 * r12 * r23 * r13)
           / (1.0 - r13 * r13) AS R2,
         (r13 * r13 + r23 * r23 - 2.0 * r13 * r23 * r12)
           / (1.0 - r12 * r12) AS R3
  FROM r)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(r12, 6) AS r12, ROUND(r13, 6) AS r13, ROUND(r23, 6) AS r23,
       ROUND(1.0 / (1.0 - R1), 6) AS vif1,
       ROUND(1.0 / (1.0 - R2), 6) AS vif2,
       ROUND(1.0 / (1.0 - R3), 6) AS vif3
FROM rr
"""


def q_join_size(spark, sf_dir):
    """AMS/CMS join-size estimation (operators/sketches.py
    cms_join_size): the events-events self-join size on user_id (F2,
    the canonical skew statistic) estimated from two 4x256 Count-Min
    sketches vs the exact inner product — what a cost-based planner
    reads before committing to a 100 TB join.  Per-key counts and
    sketch cells are the only shuffled frames."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.sketches import (
        cms_join_size,
    )

    e = _t(spark, sf_dir, "events")
    return cms_join_size(e, "user_id", e, "user_id", depth=4, width=256)


Q_JOIN_SIZE_SQL = """
WITH ca AS (
  SELECT CAST(user_id AS VARCHAR) AS term, CAST(COUNT(*) AS BIGINT) AS wc
  FROM events GROUP BY user_id),
cells AS (
  SELECT u.r AS row,
         CAST(('0x' || substr(md5(CAST(u.r AS VARCHAR) || ':' || term), 1, 15))
              AS BIGINT) % 256 AS bucket,
         SUM(wc) AS cnt
  FROM ca, UNNEST(range(0, 4)) AS u(r) GROUP BY 1, 2),
dots AS (
  SELECT a.row, SUM(a.cnt * b.cnt) AS dot
  FROM cells a JOIN cells b ON a.row = b.row AND a.bucket = b.bucket
  GROUP BY a.row),
est AS (SELECT MIN(dot) AS cms_est FROM dots),
exact AS (
  SELECT SUM(a.wc * b.wc) AS exact
  FROM ca a JOIN ca b ON a.term = b.term),
nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM ca)
SELECT nk.n_keys AS n_keys_a, nk.n_keys AS n_keys_b,
       CAST(exact.exact AS BIGINT) AS exact,
       CAST(est.cms_est AS BIGINT) AS cms_est,
       ROUND((est.cms_est - exact.exact) / CAST(exact.exact AS DOUBLE), 6)
         AS rel_err
FROM nk CROSS JOIN exact CROSS JOIN est
"""


def q_did(spark, sf_dir):
    """Difference-in-differences (operators/stats.py diff_in_diff):
    treated users' H2-vs-H1 value change net of the control group's —
    the baseline-robust effect next to q_cuped.  ONE map-side-combined
    aggregate over the events."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        diff_in_diff,
    )

    e = _t(spark, sf_dir, "events")
    return diff_in_diff(
        e,
        F.expr("user_id % 2 = 1"),
        F.month("ts") >= 7,
        F.col("value"),
    )


Q_DID_SQL = """
WITH base AS (
  SELECT CAST(user_id % 2 = 1 AS INT) AS t,
         CAST(EXTRACT(MONTH FROM ts) >= 7 AS INT) AS p,
         value AS y
  FROM events WHERE value IS NOT NULL),
agg AS (
  SELECT CAST(SUM(CASE WHEN t = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ctrl_pre,
         CAST(SUM(CASE WHEN t = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ctrl_post,
         CAST(SUM(CASE WHEN t = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treat_pre,
         CAST(SUM(CASE WHEN t = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treat_post,
         ROUND(AVG(CASE WHEN t = 0 AND p = 0 THEN y END), 6) AS ctrl_pre,
         ROUND(AVG(CASE WHEN t = 0 AND p = 1 THEN y END), 6) AS ctrl_post,
         ROUND(AVG(CASE WHEN t = 1 AND p = 0 THEN y END), 6) AS treat_pre,
         ROUND(AVG(CASE WHEN t = 1 AND p = 1 THEN y END), 6) AS treat_post
  FROM base)
SELECT *,
       ROUND((treat_post - treat_pre) - (ctrl_post - ctrl_pre), 6) AS did
FROM agg
"""


def q_lift_deciles(spark, sf_dir):
    """Lift/gain deciles (operators/stats.py lift_deciles): events
    ranked by value as a purchase score, NTILE(10) with event_id
    tiebreak, per-decile response rate and cumulative lift — the
    ranking-model scoreboard next to q_roc_auc/q_ndcg.  One ranking
    window + one bin aggregate + one 10-row cumulative window."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        lift_deciles,
    )

    e = _t(spark, sf_dir, "events")
    return lift_deciles(
        e,
        "event_id",
        F.col("value"),
        F.col("event_type") == "purchase",
        n_bins=10,
    ).transform(_by("decile"))


Q_LIFT_DECILES_SQL = """
WITH base AS (
  SELECT event_id AS id, value AS s,
         CAST(event_type = 'purchase' AS INT) AS r
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
binned AS (
  SELECT NTILE(10) OVER (ORDER BY s DESC, id ASC) AS decile, r FROM base),
per AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r) AS BIGINT) AS responders
  FROM binned GROUP BY decile)
SELECT decile, n, responders,
       ROUND(responders / CAST(n AS DOUBLE), 6) AS rate,
       ROUND((SUM(responders) OVER (ORDER BY decile
                                    ROWS UNBOUNDED PRECEDING)
              / CAST(SUM(n) OVER (ORDER BY decile
                                  ROWS UNBOUNDED PRECEDING) AS DOUBLE))
             / (SUM(responders) OVER () / CAST(SUM(n) OVER () AS DOUBLE)),
             6) AS cum_lift
FROM per ORDER BY decile
"""


def q_ipw_ate(spark, sf_dir):
    """Inverse-propensity-weighted ATE (operators/mlfit.py ipw_ate):
    propensity P(treat | value) fit by the shared Newton engine (4
    rounded steps), clipped to [0.01, 0.99], then one weighted
    aggregate — the observational causal estimate completing the suite
    (q_cuped, q_did, q_cmh).  Naive diff reported for contrast."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        ipw_ate,
    )

    e = _t(spark, sf_dir, "events")
    return ipw_ate(
        e,
        F.col("value") / 100,
        F.expr("user_id % 2 = 1"),
        F.get_json_object("props", "$.k").cast("long"),
        iterations=4,
        clip=0.01,
    )


def _ipw_oracle_sql(iters: int = 4, rt: int = 7) -> str:
    sql = """WITH base AS (
  SELECT value / 100 AS s, CAST(user_id % 2 = 1 AS INT) AS y,
         CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DOUBLE)
           AS yout
  FROM events
  WHERE value IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL),
p0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b)"""
    for i in range(1, iters + 1):
        sql += f""",
g{i} AS (
  SELECT a, b,
         SUM((p - y) * s) AS g1, SUM(p - y) AS g2,
         SUM(p * (1.0 - p) * s * s) AS h11,
         SUM(p * (1.0 - p) * s) AS h12,
         SUM(p * (1.0 - p)) AS h22
  FROM (SELECT s, y, 1.0 / (1.0 + exp(-(a * s + b))) AS p, a, b
        FROM base CROSS JOIN p{i - 1})
  GROUP BY a, b),
p{i} AS (
  SELECT ROUND(a - (h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12), {rt}) AS a,
         ROUND(b - (h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12), {rt}) AS b
  FROM g{i})"""
    sql += f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n, a, b,
       ROUND(AVG(y * yout / p) - AVG((1 - y) * yout / (1.0 - p)), 6)
         AS ate_ipw,
       ROUND(SUM(y * yout) / SUM(y)
             - SUM((1 - y) * yout) / SUM(1 - y), 6) AS ate_naive
FROM (SELECT y, yout, a, b,
             least(greatest(1.0 / (1.0 + exp(-(a * s + b))), 0.01), 0.99)
               AS p
      FROM base CROSS JOIN p{iters})
GROUP BY a, b"""
    return sql


Q_IPW_ATE_SQL = _ipw_oracle_sql()


def q_rdd(spark, sf_dir):
    """Sharp regression discontinuity (operators/mlfit.py rdd_effect):
    event value around the props-payload cutoff 50, bandwidth 20 —
    local linear on each side from ONE conditional-moment aggregate,
    effect = the intercept jump at the cutoff."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        rdd_effect,
    )

    e = _t(spark, sf_dir, "events")
    return rdd_effect(
        e,
        F.get_json_object("props", "$.k").cast("long"),
        F.col("value"),
        cutoff=50.0,
        bandwidth=20.0,
    )


Q_RDD_SQL = """
WITH base AS (
  SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DOUBLE)
           - 50.0 AS x,
         value AS y
  FROM events
  WHERE value IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL),
flt AS (SELECT * FROM base WHERE ABS(x) <= 20.0),
m AS (
  SELECT SUM(CASE WHEN x < 0 THEN 1.0 ELSE 0.0 END) AS n_l,
         SUM(CASE WHEN x < 0 THEN x ELSE 0.0 END) AS sx_l,
         SUM(CASE WHEN x < 0 THEN y ELSE 0.0 END) AS sy_l,
         SUM(CASE WHEN x < 0 THEN x * x ELSE 0.0 END) AS sxx_l,
         SUM(CASE WHEN x < 0 THEN x * y ELSE 0.0 END) AS sxy_l,
         SUM(CASE WHEN x >= 0 THEN 1.0 ELSE 0.0 END) AS n_r,
         SUM(CASE WHEN x >= 0 THEN x ELSE 0.0 END) AS sx_r,
         SUM(CASE WHEN x >= 0 THEN y ELSE 0.0 END) AS sy_r,
         SUM(CASE WHEN x >= 0 THEN x * x ELSE 0.0 END) AS sxx_r,
         SUM(CASE WHEN x >= 0 THEN x * y ELSE 0.0 END) AS sxy_r
  FROM flt),
fit AS (
  SELECT *,
         (sy_l * sxx_l - sx_l * sxy_l) / (n_l * sxx_l - sx_l * sx_l) AS al,
         (n_l * sxy_l - sx_l * sy_l) / (n_l * sxx_l - sx_l * sx_l) AS bl,
         (sy_r * sxx_r - sx_r * sxy_r) / (n_r * sxx_r - sx_r * sx_r) AS ar,
         (n_r * sxy_r - sx_r * sy_r) / (n_r * sxx_r - sx_r * sx_r) AS br
  FROM m)
SELECT CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
       ROUND(al, 6) AS a_left, ROUND(ar, 6) AS a_right,
       ROUND(bl, 6) AS slope_left, ROUND(br, 6) AS slope_right,
       ROUND(ar - al, 6) AS effect
FROM fit
"""


def q_subgroup(spark, sf_dir):
    """Subgroup discovery by WRAcc (operators/mlfit.py subgroup_wracc):
    where do purchases concentrate — across user-id buckets and payload
    deciles?  Descriptors stack in the first projection (one pass), one
    aggregate to the descriptor-value dimension, totals ride a window,
    top-5.  The categorical sibling of q_stump."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        subgroup_wracc,
    )

    e = _t(spark, sf_dir, "events")
    return subgroup_wracc(
        e,
        F.col("event_type") == "purchase",
        {
            "user_mod": F.expr("user_id % 10"),
            # integer division on BOTH sides: Spark casts double->int by
            # truncation but DuckDB by rounding, so never divide first
            "k_decile": F.expr(
                "CAST(get_json_object(props, '$.k') AS BIGINT) div 10"
            ),
        },
        top_k=5,
    )


Q_SUBGROUP_SQL = """
WITH base AS (
  SELECT CAST(event_type = 'purchase' AS INT) AS y,
         f.feature, f.value
  FROM events,
  LATERAL (
    SELECT 'user_mod' AS feature, CAST(user_id % 10 AS VARCHAR) AS value
    UNION ALL
    SELECT 'k_decile',
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
                AS VARCHAR)
  ) f
  WHERE f.value IS NOT NULL AND event_type IS NOT NULL),
per AS (
  SELECT feature, value, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM base GROUP BY feature, value),
tot AS (
  SELECT *, SUM(n) OVER (PARTITION BY feature) AS nt,
         SUM(pos) OVER (PARTITION BY feature) AS pt
  FROM per)
SELECT feature, value, n, pos,
       ROUND(pos / CAST(n AS DOUBLE), 9) AS rate,
       ROUND((n / CAST(nt AS DOUBLE))
             * (pos / CAST(n AS DOUBLE) - pt / CAST(nt AS DOUBLE)), 9)
         AS wracc
FROM tot ORDER BY wracc DESC, feature ASC, value ASC LIMIT 5
"""


def q_pacf(spark, sf_dir):
    """Partial autocorrelation at lags 1-3 (timeseries.pacf_daily):
    closed-form Durbin-Levinson over q_acf's exact-sum
    autocorrelations — the AR-order diagnostic ACF alone cannot give.
    After the 3-row ACF frame everything is scalar algebra."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        pacf_daily,
    )

    e = _t(spark, sf_dir, "events")
    return pacf_daily(e, "ts")


Q_PACF_SQL = """
WITH daily AS (SELECT CAST(CAST(date_trunc('day', ts) AS DATE)
                           - DATE '1970-01-01' AS BIGINT) AS d,
                      COUNT(*) AS n
               FROM events GROUP BY 1),
l AS (SELECT d, n AS x, lag
      FROM daily CROSS JOIN
           (SELECT UNNEST(generate_series(1, 3)) AS lag)),
pairs AS (SELECT l.lag, l.x, y.n AS y
          FROM l JOIN daily y ON l.d - l.lag = y.d),
agg AS (SELECT lag, COUNT(*) AS m,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY 1),
acf AS (
  SELECT lag,
         ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / SQRT((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
               6) AS r
  FROM agg),
piv AS (SELECT MAX(CASE WHEN lag = 1 THEN r END) AS r1,
               MAX(CASE WHEN lag = 2 THEN r END) AS r2,
               MAX(CASE WHEN lag = 3 THEN r END) AS r3
        FROM acf),
lvl AS (SELECT *, (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22 FROM piv),
lvl2 AS (SELECT *, r1 * (1.0 - p22) AS p21 FROM lvl)
SELECT r1, r2, r3, ROUND(r1, 6) AS pacf1, ROUND(p22, 6) AS pacf2,
       ROUND((r3 - (p21 * r2 + p22 * r1))
             / (1.0 - (p21 * r1 + p22 * r2)), 6) AS pacf3
FROM lvl2
"""


def q_smd_balance(spark, sf_dir):
    """Covariate-balance audit for the IPW estimate (operators/mlfit.py
    smd_balance): standardized mean differences of the props payload
    and hour-of-day between arms, raw vs inverse-propensity-weighted —
    the Austin-style check that q_ipw_ate's weighting actually balanced
    the arms.  Shared Newton propensity + ONE stacked-covariate moment
    aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.mlfit import (
        smd_balance,
    )

    e = _t(spark, sf_dir, "events")
    return smd_balance(
        e,
        F.col("value") / 100,
        F.expr("user_id % 2 = 1"),
        {
            "k": F.get_json_object("props", "$.k").cast("long"),
            "hour": F.hour("ts"),
        },
        iterations=4,
        clip=0.01,
    ).transform(_by("covariate"))


def _smd_oracle_sql(iters: int = 4, rt: int = 7) -> str:
    sql = """WITH fbase AS (
  SELECT value / 100 AS s, CAST(user_id % 2 = 1 AS INT) AS y
  FROM events WHERE value IS NOT NULL),
p0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b)"""
    for i in range(1, iters + 1):
        sql += f""",
g{i} AS (
  SELECT a, b,
         SUM((p - y) * s) AS g1, SUM(p - y) AS g2,
         SUM(p * (1.0 - p) * s * s) AS h11,
         SUM(p * (1.0 - p) * s) AS h12,
         SUM(p * (1.0 - p)) AS h22
  FROM (SELECT s, y, 1.0 / (1.0 + exp(-(a * s + b))) AS p, a, b
        FROM fbase CROSS JOIN p{i - 1})
  GROUP BY a, b),
p{i} AS (
  SELECT ROUND(a - (h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12), {rt}) AS a,
         ROUND(b - (h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12), {rt}) AS b
  FROM g{i})"""
    sql += f""",
cbase AS (
  SELECT value / 100 AS s, CAST(user_id % 2 = 1 AS INT) AS y,
         f.cov, f.x
  FROM events,
  LATERAL (
    SELECT 'hour' AS cov, CAST(EXTRACT(HOUR FROM ts) AS DOUBLE) AS x
    UNION ALL
    SELECT 'k',
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DOUBLE)
  ) f
  WHERE value IS NOT NULL AND f.x IS NOT NULL),
scored AS (
  SELECT cov, x, y,
         CASE WHEN y = 1
              THEN 1.0 / least(greatest(1.0 / (1.0 + exp(-(a * s + b))),
                               0.01), 0.99)
              ELSE 1.0 / (1.0 - least(greatest(
                   1.0 / (1.0 + exp(-(a * s + b))), 0.01), 0.99)) END AS w
  FROM cbase CROSS JOIN p{iters}),
per AS (
  SELECT cov,
         SUM(CAST(y AS DOUBLE)) AS nt, SUM(CAST(1 - y AS DOUBLE)) AS nc,
         SUM(y * x) AS sxt, SUM((1 - y) * x) AS sxc,
         SUM(y * x * x) AS sxxt, SUM((1 - y) * x * x) AS sxxc,
         SUM(y * w) AS wt, SUM((1 - y) * w) AS wc,
         SUM(y * w * x) AS wxt, SUM((1 - y) * w * x) AS wxc,
         SUM(y * w * x * x) AS wxxt, SUM((1 - y) * w * x * x) AS wxxc
  FROM scored GROUP BY cov)
SELECT cov AS covariate,
       ROUND((sxt / nt - sxc / nc)
             / sqrt(((sxxt / nt - (sxt / nt) * (sxt / nt))
                    + (sxxc / nc - (sxc / nc) * (sxc / nc))) / 2.0),
             6) AS smd_raw,
       ROUND((wxt / wt - wxc / wc)
             / sqrt(((wxxt / wt - (wxt / wt) * (wxt / wt))
                    + (wxxc / wc - (wxc / wc) * (wxc / wc))) / 2.0),
             6) AS smd_ipw
FROM per ORDER BY covariate"""
    return sql


Q_SMD_BALANCE_SQL = _smd_oracle_sql()


def q_ess(spark, sf_dir):
    """Kish effective sample size of the SoftDeDup-reweighted corpus
    (curation.effective_sample_size over soft_dedup_weights' output):
    how many equally-weighted docs the 1/n_dups mix is worth — the
    mandatory audit after ANY reweighting.  One window (the SoftDeDup
    pass) + ONE aggregate."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.curation import (
        effective_sample_size,
        soft_dedup_weights,
    )

    d = _t(spark, sf_dir, "documents")
    t = F.concat(
        F.lit("sample body "),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(" end"),
    )
    w = soft_dedup_weights(d.select("doc_id", t.alias("t")), "doc_id", "t")
    return effective_sample_size(w, "weight")


Q_ESS_SQL = """
WITH cls AS (
  SELECT doc_id, doc_id % 97 AS cls
  FROM documents),
per AS (SELECT cls, COUNT(*) AS nd FROM cls GROUP BY cls),
w AS (
  SELECT ROUND(1.0 / nd, 6) AS w
  FROM cls JOIN per USING (cls))
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(w), 6) AS sum_w,
       ROUND((SUM(w) * SUM(w)) / SUM(w * w), 6) AS ess,
       ROUND((SUM(w) * SUM(w)) / SUM(w * w) / COUNT(*), 6) AS ess_ratio
FROM w
"""


def q_hourweek(spark, sf_dir):
    """Hour-of-week seasonality profile (timeseries.hour_week_profile):
    counts over the 168 ISO (weekday, hour) cells with an exact-sum
    z-score and peak flag — the load-shaping heatmap.  One aggregate to
    the bounded cell frame; moments ride a window over it."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        hour_week_profile,
    )

    e = _t(spark, sf_dir, "events")
    return hour_week_profile(e, "ts").transform(_by("dow", "hour"))


Q_HOURWEEK_SQL = """
WITH cells AS (
  SELECT isodow(ts) AS dow, EXTRACT(HOUR FROM ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
scored AS (
  SELECT dow, hour, n,
         COUNT(*) OVER () AS k, SUM(n) OVER () AS s,
         SUM(n * n) OVER () AS ss
  FROM cells)
SELECT CAST(dow AS INT) AS dow, CAST(hour AS INT) AS hour, n,
       ROUND((n - s / CAST(k AS DOUBLE))
             / sqrt(ss / CAST(k AS DOUBLE)
                    - (s / CAST(k AS DOUBLE)) * (s / CAST(k AS DOUBLE))),
             6) AS z,
       ROUND((n - s / CAST(k AS DOUBLE))
             / sqrt(ss / CAST(k AS DOUBLE)
                    - (s / CAST(k AS DOUBLE)) * (s / CAST(k AS DOUBLE))),
             6) > 2.0 AS peak
FROM scored ORDER BY dow, hour
"""


def q_seasonal_strength(spark, sf_dir):
    """Hyndman seasonality strength per event type
    (timeseries.seasonal_strength over seasonal_decompose_daily): one
    scalar in [0,1] saying whether the anomaly baseline needs the weekly
    correction q_stl_decompose computes.  One aggregate over the
    days-sized decompose frame."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.timeseries import (
        seasonal_decompose_daily,
        seasonal_strength,
    )

    e = _t(spark, sf_dir, "events")
    dec = seasonal_decompose_daily(e, "event_type", "ts")
    return seasonal_strength(dec).transform(_by("group"))


Q_SEASONAL_STRENGTH_SQL = f"""
WITH stl AS ({Q_STL_DECOMPOSE_SQL}),
flt AS (SELECT * FROM stl
        WHERE remainder IS NOT NULL AND seasonal IS NOT NULL),
agg AS (
  SELECT "group", CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(remainder) AS sr,
         SUM(remainder * remainder) AS srr,
         SUM(seasonal + remainder) AS ss,
         SUM((seasonal + remainder) * (seasonal + remainder)) AS sss
  FROM flt GROUP BY "group")
SELECT "group", n_days,
       ROUND(CASE WHEN sss / n_days - (ss / n_days) * (ss / n_days) > 0
             THEN GREATEST(0.0,
                  1.0 - (srr / n_days - (sr / n_days) * (sr / n_days))
                        / (sss / n_days - (ss / n_days) * (ss / n_days)))
             END, 6) AS strength
FROM agg ORDER BY "group"
"""


def q_power_mde(spark, sf_dir):
    """Two-proportion experiment sizing (operators/stats.py
    required_sample_size): n per arm to detect a +2pp lift on the
    observed purchase rate at alpha=.05 / power=.80 — the "how long
    must this A/B run" planner fed by the live base rate.  ONE
    aggregate + closed-form algebra with fixed z literals."""
    from accelerated_intelligent_document_processing_on_aws_spark.operators.stats import (
        required_sample_size,
    )

    e = _t(spark, sf_dir, "events")
    return required_sample_size(
        e, F.col("event_type") == "purchase", mde_abs=0.02
    )


Q_POWER_MDE_SQL = """
WITH base AS (
  SELECT CAST(event_type = 'purchase' AS INT) AS y
  FROM events WHERE event_type IS NOT NULL),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         AVG(CAST(y AS DOUBLE)) AS p1raw
  FROM base),
sized AS (
  SELECT n, ROUND(p1raw, 6) AS p1, ROUND(p1raw + 0.02, 6) AS p2,
         (p1raw + (p1raw + 0.02)) / 2.0 AS pbar, p1raw
  FROM agg)
SELECT n, p1, p2,
       CAST(CEIL(POW(1.959963985 * SQRT(2.0 * pbar * (1.0 - pbar))
                     + 0.8416212336 * SQRT(p1raw * (1.0 - p1raw)
                       + (p1raw + 0.02) * (1.0 - (p1raw + 0.02))), 2.0)
                 / (0.02 * 0.02)) AS BIGINT) AS n_per_arm
FROM sized
"""


# ======================================================================
# ROUND-5 CERTIFICATION RESTRUCTURE (round-4 VERDICT #1): the driver
# certifies the FIRST CERT_WINDOW registry entries per round, so 221 of
# 320 r4 entries could never earn a driver row.  The backlog queries are
# now certified through FAMILY SUITES (certify.suite_spark /
# certify.suite_sql): each suite runs its member queries, melts every
# output to (query, metric, value_num, value_str) with engine-identical
# rules, unions the melts, and pairs that with a DuckDB oracle built by
# melting each member's own oracle SQL — ONE driver hash row certifies
# the full output multiset of every member.  Member FUNCTIONS (and their
# pytest coverage, goldens, and oracle SQL) are unchanged; only their
# individual registry slots are consolidated, taking the registry from
# 320 entries to 99 with zero never-certified entries left after r5.
# _MELT_SCHEMAS freezes each member's certified Spark schema + melt lane
# (num = double/float/decimal, str = everything else), so schema drift
# fails loudly on both engines instead of silently comparing shapes.

_MELT_SCHEMAS = {
    "q_abc": "abc_class=str n_keys=str total_value=num value_share=num",
    "q_acf": "lag=str n_pairs=str r=num",
    "q_ad_uniform": "n=str a2=num uniform_ok=str",
    "q_ann_recall": "query_id=str hits=str recall=num",
    "q_anomaly_days": "event_type=str day=str n=str zscore=num is_anomaly=str",
    "q_anova": "k=str n=str f=num eta2=num",
    "q_assoc_rules": "item_a=str item_b=str n_a=str n_b=str n_ab=str support=num conf_a_b=num conf_b_a=num lift=num",
    "q_assortativity": "n_edges=str r=num",
    "q_attribution": "channel=str touches=str conversions_touched=str linear_credit=num last_touch_credit=num",
    "q_avg_precision": "n=str n_pos=str ap=num",
    "q_benford": "event_type=str n=str chi2=num",
    "q_bfs_landmarks": "node=str landmark=str dist=str",
    "q_bloom_filter": "doc_id=str bloom_hit=str true_member=str",
    "q_bool_normalize": "doc_id=str raw=str b=str",
    "q_bootstrap_ci": "n=str est=num lo=num hi=num b=str",
    "q_bpe_pairs": "c1=str c2=str pair_count=str",
    "q_bradley_terry": "item=str wins=str matches=str strength=num",
    "q_brier": "n=str brier=num reliability=num resolution=num uncertainty=num",
    "q_budget_select": "id=str group=str score=str cost=str cum_cost=str",
    "q_burrows_delta": "g1=str g2=str n_terms=str delta=num",
    "q_burstiness": "event_type=str n_days=str total=str mean_daily=num fano=num burstiness=num peak_to_mean=num",
    "q_ccf": "lag=str n_pairs=str r=num",
    "q_cem": "n_strata_matched=str n_treated=str n_control=str att=num",
    "q_changepoint": "event_type=str n_days=str split_day=str mean_left=num mean_right=num gain=num",
    "q_chao1": "d=str f1=str f2=str chao1=num",
    "q_chi2": "n=str n_rows=str n_cols=str dof=str chi2=num cramers_v=num",
    "q_chi2_residuals": "source=str lang=str observed=str expected=num residual=num flagged=str",
    "q_chunk_dedup": "doc_id=str total_chunks=str kept_chunks=str dedup_text=str",
    "q_cmh": "n_strata=str or_mh=num chi2=num",
    "q_cms_heavy": "term=str exact_cnt=str cms_est=str overcount=str",
    "q_cochran_q": "n=str k=str c_1=str c_2=str c_3=str q_cochran=num",
    "q_cohort_ltv": "cohort=str week_offset=str cohort_users=str week_revenue=num cum_ltv_per_user=num",
    "q_config_extract": "doc_id=str doc_class=str attr=str value=str",
    "q_conformal": "group=str n_cal=str n_test=str k=str threshold=num coverage=num",
    "q_context_budget": "user_id=str event_id=str n_ctx=str ctx_cost=str",
    "q_context_window": "key=str item_id=str ctx_len=str context=str",
    "q_corpus_divergence": "source_a=str source_b=str n_shared_terms=str jsd=num",
    "q_cronbach": "n=str k=str alpha=num",
    "q_cube": "etype=str dow=str lvl=str n_events=str sum_value=num",
    "q_cuped": "group=str n=str mean_pre=num mean_y=num mean_y_adj=num var_y=num var_y_adj=num var_reduction=num",
    "q_curriculum": "doc_id=str n_tok=str bucket=str",
    "q_customer_revenue": "c_custkey=str c_name=str revenue=num n_orders=str",
    "q_cusum": "day=str n=str z=num cusum_pos=num is_change=str",
    "q_cv_r2": "n=str k_folds=str r2_in=num r2_oof=num",
    "q_cvm": "n_a=str n_b=str t_stat=num",
    "q_dataset_split": "doc_id=str split=str",
    "q_dedup_exact": "fp=str n_docs=str keeper_id=str",
    "q_dedup_incremental": "doc_id=str lang=str source=str",
    "q_dict_tags": "id=str term=str hits=str",
    "q_did": "n_ctrl_pre=str n_ctrl_post=str n_treat_pre=str n_treat_post=str ctrl_pre=num ctrl_post=num treat_pre=num treat_post=num did=num",
    "q_diversity": "group=str n_tokens=str richness=str shannon=num simpson=num evenness=num",
    "q_doc_bpe_tokens": "doc_id=str ws_tokens=str bpe_tokens=str",
    "q_doc_classify": "doc_id=str doc_class=str",
    "q_doc_fingerprint": "doc_id=str fp=str",
    "q_doc_lang_id": "doc_id=str lang_guess=str",
    "q_doc_line_join": "doc_id=str joined=str",
    "q_doc_normalize": "doc_id=str norm_text=str",
    "q_doc_quality": "doc_id=str quality=num",
    "q_doc_readability": "doc_id=str n_words=str n_sentences=str n_syllables=str flesch=num",
    "q_doc_rolling_hash": "doc_id=str rhash=str",
    "q_doc_token_stats": "doc_id=str n_tokens=str punct_ratio=num",
    "q_domain_stats": "domain=str n_urls=str n_docs=str",
    "q_dp_counts": "source=str n=str noisy_n=num epsilon=num",
    "q_durbin_watson": "n=str slope=num dw=num",
    "q_ece": "n=str n_bins_used=str ece=num mce=num",
    "q_effect_size": "n_a=str n_b=str mean_a=num mean_b=num cohens_d=num hedges_g=num cliffs_delta=num",
    "q_embed_neardup": "id_a=str id_b=str sim=num",
    "q_embedding_drift": "group_a=str group_b=str dim=str cos_sim=num",
    "q_ess": "n=str sum_w=num ess=num ess_ratio=num",
    "q_eval_report": "doc_id=str n_attrs=str n_matched=str report_md=str",
    "q_evaluate_alignment": "id=str n_actual=str n_golden=str nw_score=str sim=num",
    "q_evaluate_config": "doc_id=str attr=str method=str matched=str score=num",
    "q_evaluate_exact": "n=str tp=str fp=str fn=str precision=num recall=num f1=num",
    "q_evaluate_semantic": "doc_id=str matched=str score=num",
    "q_evalue": "n=str p1=num p0=num rr=num evalue=num",
    "q_event_transitions": "prev_type=str next_type=str transitions=str prob=num",
    "q_event_trigrams": "step_1=str step_2=str step_3=str support=str n_keys=str",
    "q_events_islands": "user_id=str n_islands=str n_events=str",
    "q_events_metering": "event_type=str total_k=str n=str",
    "q_events_pivot": "user_id=str n_click=str n_error=str n_purchase=str n_signup=str n_view=str",
    "q_events_rollup": "etype=str day=str n_events=str sum_value=num",
    "q_events_sessionize": "user_id=str n_sessions=str n_events=str",
    "q_ewma_days": "key=str day=str n=str ewma=num",
    "q_exp_fit": "n=str lambda_hat=num ks_d=num sqrt_n_d=num",
    "q_expectations": "check=str column=str metric=num threshold=num passed=str",
    "q_extreme_value": "n=str mu=num beta=num return_level=num",
    "q_fd": "n=str n_groups=str violations=str g3=num holds=str",
    "q_fdr_correction": "group_a=str group_b=str p=num p_rank=str m=str crit=num reject=str",
    "q_filter_agreement": "n=str p_observed=num p_expected=num kappa=num",
    "q_fleiss_kappa": "n_items=str n_raters=str p_bar=num p_e=num kappa=num",
    "q_friedman": "n_blocks=str k=str chi2_f=num",
    "q_funnel": "step_idx=str step_name=str users=str conversion_pct=num",
    "q_gini": "source=str n=str total=num gini=num top_share=num",
    "q_good_turing": "r=str n_r=str r_star=num p_gt=num",
    "q_granger": "n=str coef_x=num f_stat=num",
    "q_grubbs": "n=str g_stat=num side=str extreme=num",
    "q_hard_negatives": "id_a=str id_b=str sim=num",
    "q_hash_collisions": "n_terms=str n_buckets=str buckets_used=str colliding_buckets=str max_bucket=str term_collision_rate=num",
    "q_heaps_law": "n_docs=str total_tokens=str vocab=str beta=num k=num r2=num",
    "q_hill_tail": "k=str x_kth=num alpha=num",
    "q_hits": "node=str hub=num auth=num",
    "q_hll_users": "event_type=str n_registers=str est_distinct=num",
    "q_holm": "group_a=str group_b=str p=num p_rank=str m=str p_adj=num reject=str",
    "q_holt_forecast": "key=str day=str n=str level=num trend=num forecast_next=num",
    "q_hourweek": "dow=str hour=str n=str z=num peak=str",
    "q_huber": "n=str a=num b=num",
    "q_hurst": "n=str h=num rs_8=num rs_16=num rs_32=num rs_64=num",
    "q_icc": "n_blocks=str k=str icc=num",
    "q_incremental_agg": "event_type=str n_rows=str sum_value=num",
    "q_info_gain": "feature=str ig=num rank=str",
    "q_interval_overlap": "user_id=str pid_a=str pid_b=str",
    "q_ipw_ate": "n=str a=num b=num ate_ipw=num ate_naive=num",
    "q_isotonic_fit": "bin=str n=str pos_rate=num iso_rate=num",
    "q_iv": "n=str beta_ols=num beta_iv=num first_stage_f=num",
    "q_ivf_silhouette": "cell=str n=str mean_cos_own=num mean_sil=num",
    "q_ivf_topk": "query_id=str neighbor_id=str rank=str sim=num",
    "q_ivfpq_topk": "query_id=str neighbor_id=str rank=str adc=str",
    "q_jackknife": "unit=str n=str successes=str rate_without=num influence=num jk_se=num",
    "q_james_stein": "source=str n=str raw_mean=num shrunk_mean=num",
    "q_jarque_bera": "g=str n=str skew=num kurt=num jb=num",
    "q_join_size": "n_keys_a=str n_keys_b=str exact=str cms_est=str rel_err=num",
    "q_k_anonymity": "class_size=str n_classes=str rows=str at_risk=str min_ldiv=str avg_ldiv=num",
    "q_katz": "node=str katz=num",
    "q_kcore": "node=str core_deg=str",
    "q_kendall_tau": "n=str concordant=str discordant=str ties_x=str ties_y=str tau_b=num",
    "q_kmv_distinct": "event_type=str n_sketch=str est_distinct=num",
    "q_kmv_overlap": "n_retained=str union_est=num jaccard_est=num inter_est=num",
    "q_kn_bigrams": "v=str w=str c_vw=str c_v=str n1_fwd=str n1_bwd=str pcont=num pkn=num",
    "q_knn_cosine": "query_id=str neighbor_id=str rank=str sim=num",
    "q_krippendorff": "n_units=str n_ratings=str d_o=num d_e=num alpha=num",
    "q_kruskal": "k=str n=str h=num h_adj=num",
    "q_ks_test": "n_a=str n_b=str d=num ks_z=num",
    "q_l_diversity": "source=str len_bucket=str size=str l_distinct=str entropy_l=num tvd=num",
    "q_label_prop": "node=str label=str",
    "q_lang_confusion": "declared=str predicted=str n=str frac=num",
    "q_lda": "n=str n1=str w1=num w2=num c=num accuracy=num",
    "q_levene": "k=str n=str f_bf=num",
    "q_lift_deciles": "decile=str n=str responders=str rate=num cum_lift=num",
    "q_link_prediction": "a=str b=str common=str aa_score=num ra_score=num",
    "q_ljung_box": "n=str h=str q_stat=num rho_1=num",
    "q_local_clustering": "node=str deg=str n_tri=str lcc=num",
    "q_logrank": "n_times=str obs1=str exp1=num o_minus_e=num logrank=num",
    "q_lorenz": "tile=str n=str tile_share=num cum_share=num",
    "q_lsh_topk": "query_id=str neighbor_id=str rank=str sim=num",
    "q_mad_outliers": "event_type=str n=str median=num mad=num n_outliers=str outlier_frac=num",
    "q_mahalanobis": "n=str n_outliers=str outlier_rate=num d2_max=num",
    "q_mann_kendall": "key=str n_days=str s_stat=str var_s=num z=num p=num trend=str",
    "q_mann_whitney": "n_a=str n_b=str u_a=num u_b=num z=num",
    "q_markov_entropy": "n_states=str n_transitions=str entropy_rate=num max_entropy=num",
    "q_mase_forecast": "key=str n_eval=str mae_naive=num mae_snaive=num mase_naive=num",
    "q_mattr": "doc_id=str n_tokens=str mattr=num",
    "q_mcnemar": "n=str both=str neither=str b=str c=str mcnemar=num",
    "q_merge_upsert": "doc_id=str text_head=str lang=str source=str n_chars=str",
    "q_minhash_lsh": "id_a=str id_b=str est_jaccard=num",
    "q_mmd": "n_a=str n_b=str mmd2=num",
    "q_mmr_select": "query_id=str neighbor_id=str mmr_rank=str mmr_score=num",
    "q_modularity": "n_nodes=str n_communities=str m_edges=str modularity=num",
    "q_mutual_info": "n=str r_levels=str c_levels=str mi=num nmi=num chi2=num dof=str cramers_v=num",
    "q_naive_bayes": "id=str label=str predicted=str score=num",
    "q_ndcg": "group=str n=str n_rel=str p_at_k=num r_at_k=num mrr=num ndcg=num",
    "q_neardup_clusters": "doc_id=str cluster_id=str",
    "q_negbin": "n=str mean=num vmr=num r=num p=num",
    "q_nelson_aalen": "t=num n_risk=str d=str cumhaz=num cumhaz_var=num",
    "q_next_conversion": "n_from=str n_converted=str conv_rate=num avg_latency_sec=num",
    "q_ngram_novelty": "doc_id=str n_grams=str n_novel=str novelty=num",
    "q_office_extract": "user_id=str xlsx_md=str docx_md=str",
    "q_ols_trend": "group=str n=str slope=num intercept=num r2=num",
    "q_overdispersion": "k=str n=str p_bar=num x2=num phi=num",
    "q_pacf": "r1=num r2=num r3=num pacf1=num pacf2=num pacf3=num",
    "q_page_hinkley": "n_points=str ph_max=num alarm_at=str",
    "q_pagerank": "node=str pr=num",
    "q_partial_corr": "n=str r_xy=num r_xz=num r_yz=num r_xy_z=num",
    "q_payload_kind": "doc_id=str payload_kind=str",
    "q_pca_power": "n=str eig=num v1=num v2=num v3=num v4=num",
    "q_perm_entropy": "n_triples=str n_patterns=str pe=num",
    "q_pii_redact": "doc_id=str n_emails=str n_phones=str redacted_fp=str",
    "q_pinball": "q=num n=str pinball=num",
    "q_platt": "n=str n_pos=str a=num b=num log_loss=num",
    "q_pocock": "look=str n_t=str n_c=str p_t=num p_c=num z=num crossed=str",
    "q_pot_gpd": "n_exceed=str threshold=num mean_excess=num xi=num beta=num",
    "q_power_mde": "n=str p1=num p2=num n_per_arm=str",
    "q_ppjoin": "id_a=str id_b=str jaccard=num",
    "q_prefix_dedup": "depth=str prefix=str n_convs=str",
    "q_profile_docs": "column=str n=str n_null=str n_distinct=str min_str=str max_str=str",
    "q_prop_ztest": "group_a=str group_b=str n_a=str n_b=str rate_a=num rate_b=num z=num",
    "q_psi_drift": "bin=str p_ref=num p_cur=num psi_term=num",
    "q_ql_retrieval": "doc_id=str n_hits=str ql=num",
    "q_qte": "q=num treated=num control=num qte=num",
    "q_quality_percentile": "doc_id=str source=str quality=num q_pct=num",
    "q_quantile_norm": "id=str group=str value=num k=str normalized=num",
    "q_rake_keywords": "id=str phrase=str n_words=str score=num rank=str",
    "q_raking": "r=str c=str n=str weight=num",
    "q_random_projection": "id_a=str id_b=str d2_orig=num d2_proj=num jl_ratio=num",
    "q_range_join": "user_id=str purchase_id=str click_id=str",
    "q_rayleigh": "n=str r_bar=num z=num mean_hour=num",
    "q_rbo": "depth=str overlap_at_depth=str rbo_min=num",
    "q_rdd": "n_left=str n_right=str a_left=num a_right=num slope_left=num slope_right=num effect=num",
    "q_record_linkage": "name_a=str name_b=str jw=num",
    "q_records": "n=str records=str expected=num z=num",
    "q_region_revenue": "r_name=str revenue=num",
    "q_retention_cohorts": "cohort_week=str week_offset=str users=str retention_pct=num",
    "q_revenue_rollup": "r_name=str n_name=str lvl=str revenue=num n_orders=str",
    "q_rfm": "segment=str n_users=str avg_frequency=num avg_monetary=num",
    "q_rich_club": "k=str n_nodes=str n_edges=str phi=num",
    "q_ridge": "n=str b0=num b1=num b2=num r2=num",
    "q_roc_auc": "group=str n=str n_pos=str n_neg=str auc=num",
    "q_role_runs": "key=str n_runs=str max_run=str mean_run=num",
    "q_rolling_distinct": "day=str n_users_1d=str n_users_7d=str",
    "q_rolling_events": "event_type=str day=str n=str rolling_sum=str rolling_days=str rolling_avg=num prev_week_n=str wow_delta=str",
    "q_rrf_fusion": "query_id=str neighbor_id=str rank=str rrf_score=num n_rankers=str",
    "q_runs_test": "n=str n1=str runs=str z=num",
    "q_sample_exact_k": "doc_id=str source=str smp_rank=str",
    "q_sample_hash": "doc_id=str",
    "q_sample_stratified": "event_type=str n_kept=str first_id=str last_id=str id_sum=str",
    "q_sbg_churn": "week=str s_observed=num s_projected=num alpha=num beta=num",
    "q_scalar_quant": "id=str qmin=num qmax=num code_checksum=num sse_scaled=num mse_ppm=num",
    "q_scd2": "user_id=str event_type=str valid_from=str valid_to=str is_current=str",
    "q_score_calibration": "bin=str n=str mean_score=num pos_rate=num gap=num",
    "q_seasonal_strength": "group=str n_days=str strength=num",
    "q_section_attributes": "conv_id=str section_id=str attr=str value=str",
    "q_session_window": "user_id=str session_start=str session_end=str n_events=str sum_value=num",
    "q_sim_pairs": "n_pairs=str mean_cos=num sd_cos=num frac_above_05=num min_cos=num max_cos=num",
    "q_simhash": "id_a=str id_b=str hamming=str",
    "q_simpsons": "stratum=str n_treat=str n_ctrl=str rate_treat=num rate_ctrl=num diff=num overall_diff=num reversed=str",
    "q_skipgrams": "w1=str w2=str pair_count=str pmi=num",
    "q_skyline": "id=str price=num size=str",
    "q_smd_balance": "covariate=str smd_raw=num smd_ipw=num",
    "q_smith_waterman": "id=str n_actual=str n_golden=str sw_score=str sim=num",
    "q_snm_pairs": "id_a=str id_b=str dist=str",
    "q_spearman": "group=str n=str rho=num",
    "q_sprt": "arm=str n_total=str llr_final=num decision=str n_at_decision=str",
    "q_stl_decompose": "group=str day=str y=str trend=num seasonal=num remainder=num",
    "q_streaks": "user=str n_active_days=str max_streak=str",
    "q_stump": "threshold=str n_left=str n_right=str gini_left=num gini_right=num wgini=num",
    "q_subgroup": "feature=str value=str n=str pos=str rate=num wracc=num",
    "q_survival": "t=num n_risk=str d=str surv=num",
    "q_table_diff": "doc_id=str status=str changed_cols=str",
    "q_target_encode": "cat=str fold=str n_out=str enc=num",
    "q_text_chunks": "doc_id=str chunk_id=str start_word=str n_chunk_words=str chunk_fp=str",
    "q_textrank": "doc_id=str sent_idx=str tr_rank=str score=num",
    "q_tfidf_terms": "doc_id=str rank=str term=str score=num",
    "q_theil": "n=str k=str theil_total=num theil_between=num theil_within=num",
    "q_theil_sen": "key=str n_days=str n_pairs=str slope=num",
    "q_threshold_select": "n=str n_pos=str thr_cost=num cost=num thr_j=num j=num",
    "q_time_weighted": "key=str n_intervals=str total_us=str tw_mean=num",
    "q_token_packing": "doc_id=str shard=str batch_id=str",
    "q_triangles": "n_triangles=str n_wedges=str clustering=num",
    "q_trimmed_mean": "group=str n=str n_used=str tmean=num",
    "q_trustrank": "node=str trust=num",
    "q_turn_taking": "conv_id=str n_turns=str role_changes=str alternation_rate=num mean_gap_s=num max_gap_s=num lead_share=num",
    "q_value_histogram": "event_type=str n=str p50=num p90=num p99=num",
    "q_value_quantiles": "event_type=str p25=num p50=num p90=num n=str",
    "q_vif": "n=str r12=num r13=num r23=num vif1=num vif2=num vif3=num",
    "q_vocab_coverage": "group=str tokens=str oov_tokens=str oov_rate=num types=str oov_types=str type_oov_rate=num",
    "q_watson_u2": "n_a=str n_b=str u2=num",
    "q_weighted_quantiles": "group=str q=num wq=num",
    "q_weighted_sample": "id=str weight=num es_key=num",
    "q_welch_ttest": "group_a=str group_b=str n_a=str n_b=str mean_a=num mean_b=num t=num dof=num",
    "q_wilcoxon": "n_pairs=str w_plus=num z=num",
    "q_wilson_rates": "group=str n=str successes=str rate=num lo=num hi=num",
    "q_xicor": "n=str xi=num",
    "q_yaml_sniff": "event_id=str yjson=str",
    "q_yules_k": "source=str n_tokens=str vocab=str k=num",
    "q_zero_inflation": "n=str lambda_hat=num zeros_obs=str zeros_exp=num inflation=num",
    "q_zipf": "source=str n_terms=str zipf_slope=num r2=num",
    "q_zonemap_audit": "fk=str n=str vmin=str vmax=str pruned=str layout=str",
    "q_zorder": "zprefix=str n=str u_min=str u_max=str s_min=str s_max=str",
}

_SUITES = {
    "q_suite_tpch_bi_1": [
        "q_abc",
        "q_assoc_rules",
        "q_cohort_ltv",
        "q_cube",
        "q_customer_revenue",
        "q_domain_stats",
    ],
    "q_suite_tpch_bi_2": [
        "q_events_rollup",
        "q_records",
        "q_region_revenue",
        "q_retention_cohorts",
        "q_revenue_rollup",
    ],
    "q_suite_tpch_bi_3": [
        "q_rfm",
        "q_simpsons",
        "q_skyline",
        "q_target_encode",
        "q_zonemap_audit",
    ],
    "q_suite_timeseries_1": [
        "q_acf",
        "q_anomaly_days",
        "q_burstiness",
        "q_ccf",
        "q_changepoint",
        "q_cusum",
        "q_durbin_watson",
    ],
    "q_suite_timeseries_2": [
        "q_ewma_days",
        "q_exp_fit",
        "q_granger",
        "q_holt_forecast",
        "q_hourweek",
        "q_hurst",
        "q_ljung_box",
    ],
    "q_suite_timeseries_3": [
        "q_mann_kendall",
        "q_mase_forecast",
        "q_ols_trend",
        "q_pacf",
        "q_page_hinkley",
        "q_perm_entropy",
        "q_rolling_distinct",
    ],
    "q_suite_timeseries_4": [
        "q_rolling_events",
        "q_seasonal_strength",
        "q_stl_decompose",
        "q_streaks",
        "q_theil_sen",
        "q_time_weighted",
    ],
    "q_suite_hypothesis_1": [
        "q_ad_uniform",
        "q_anova",
        "q_bradley_terry",
        "q_chi2",
        "q_chi2_residuals",
        "q_cmh",
        "q_cochran_q",
    ],
    "q_suite_hypothesis_2": [
        "q_cronbach",
        "q_cvm",
        "q_effect_size",
        "q_fd",
        "q_fleiss_kappa",
        "q_friedman",
    ],
    "q_suite_hypothesis_3": [
        "q_grubbs",
        "q_icc",
        "q_iv",
        "q_jarque_bera",
        "q_kendall_tau",
        "q_krippendorff",
    ],
    "q_suite_hypothesis_4": [
        "q_kruskal",
        "q_ks_test",
        "q_levene",
        "q_mahalanobis",
        "q_mann_whitney",
        "q_mcnemar",
    ],
    "q_suite_hypothesis_5": [
        "q_mmd",
        "q_mutual_info",
        "q_partial_corr",
        "q_prop_ztest",
        "q_rayleigh",
        "q_runs_test",
    ],
    "q_suite_hypothesis_6": [
        "q_spearman",
        "q_watson_u2",
        "q_welch_ttest",
        "q_wilcoxon",
        "q_wilson_rates",
        "q_xicor",
    ],
    "q_suite_ann_1": [
        "q_ann_recall",
        "q_embedding_drift",
        "q_hard_negatives",
        "q_ivf_silhouette",
        "q_ivf_topk",
    ],
    "q_suite_ann_2": [
        "q_ivfpq_topk",
        "q_knn_cosine",
        "q_lsh_topk",
        "q_mmr_select",
        "q_rrf_fusion",
    ],
    "q_suite_graph_1": [
        "q_assortativity",
        "q_bfs_landmarks",
        "q_hits",
        "q_katz",
        "q_kcore",
        "q_label_prop",
        "q_link_prediction",
    ],
    "q_suite_graph_2": [
        "q_local_clustering",
        "q_modularity",
        "q_pagerank",
        "q_rich_club",
        "q_triangles",
        "q_trustrank",
    ],
    "q_suite_events_1": [
        "q_attribution",
        "q_event_transitions",
        "q_event_trigrams",
        "q_events_islands",
        "q_events_metering",
        "q_events_pivot",
        "q_events_sessionize",
    ],
    "q_suite_events_2": [
        "q_funnel",
        "q_interval_overlap",
        "q_markov_entropy",
        "q_range_join",
        "q_role_runs",
        "q_session_window",
        "q_turn_taking",
    ],
    "q_suite_evalmetrics_1": [
        "q_avg_precision",
        "q_brier",
        "q_ece",
        "q_eval_report",
        "q_evaluate_alignment",
        "q_evaluate_config",
        "q_evaluate_exact",
    ],
    "q_suite_evalmetrics_2": [
        "q_evaluate_semantic",
        "q_ndcg",
        "q_pinball",
        "q_rbo",
        "q_roc_auc",
        "q_score_calibration",
        "q_smith_waterman",
    ],
    "q_suite_distrib_1": [
        "q_benford",
        "q_chao1",
        "q_diversity",
        "q_extreme_value",
        "q_gini",
        "q_hill_tail",
    ],
    "q_suite_distrib_2": [
        "q_lorenz",
        "q_mad_outliers",
        "q_pot_gpd",
        "q_psi_drift",
        "q_quantile_norm",
    ],
    "q_suite_distrib_3": [
        "q_theil",
        "q_trimmed_mean",
        "q_value_histogram",
        "q_value_quantiles",
        "q_weighted_quantiles",
    ],
    "q_suite_sketches": [
        "q_bloom_filter",
        "q_cms_heavy",
        "q_dp_counts",
        "q_hll_users",
        "q_join_size",
        "q_kmv_distinct",
        "q_kmv_overlap",
    ],
    "q_suite_doctext_1": [
        "q_bool_normalize",
        "q_doc_bpe_tokens",
        "q_doc_classify",
        "q_doc_fingerprint",
        "q_doc_lang_id",
        "q_doc_line_join",
        "q_doc_normalize",
    ],
    "q_suite_doctext_2": [
        "q_doc_quality",
        "q_doc_readability",
        "q_doc_rolling_hash",
        "q_doc_token_stats",
        "q_mattr",
        "q_office_extract",
    ],
    "q_suite_doctext_3": [
        "q_payload_kind",
        "q_sample_hash",
        "q_section_attributes",
        "q_yaml_sniff",
        "q_yules_k",
        "q_zipf",
    ],
    "q_suite_seqtest_1": [
        "q_bootstrap_ci",
        "q_conformal",
        "q_fdr_correction",
        "q_holm",
        "q_jackknife",
    ],
    "q_suite_seqtest_2": [
        "q_pocock",
        "q_power_mde",
        "q_sprt",
        "q_threshold_select",
    ],
    "q_suite_corpuslm_1": [
        "q_bpe_pairs",
        "q_burrows_delta",
        "q_corpus_divergence",
        "q_dict_tags",
        "q_good_turing",
        "q_heaps_law",
        "q_kn_bigrams",
    ],
    "q_suite_corpuslm_2": [
        "q_ngram_novelty",
        "q_ql_retrieval",
        "q_rake_keywords",
        "q_skipgrams",
        "q_textrank",
        "q_tfidf_terms",
        "q_vocab_coverage",
    ],
    "q_suite_sampling_1": [
        "q_budget_select",
        "q_context_budget",
        "q_context_window",
        "q_curriculum",
        "q_dataset_split",
    ],
    "q_suite_sampling_2": [
        "q_sample_exact_k",
        "q_sample_stratified",
        "q_text_chunks",
        "q_token_packing",
        "q_weighted_sample",
    ],
    "q_suite_causal_1": [
        "q_cem",
        "q_cuped",
        "q_did",
        "q_ess",
        "q_evalue",
        "q_ipw_ate",
        "q_james_stein",
    ],
    "q_suite_causal_2": [
        "q_lift_deciles",
        "q_qte",
        "q_raking",
        "q_rdd",
        "q_smd_balance",
        "q_subgroup",
    ],
    "q_suite_dedup_1": [
        "q_chunk_dedup",
        "q_dedup_exact",
        "q_embed_neardup",
        "q_hash_collisions",
        "q_minhash_lsh",
        "q_neardup_clusters",
    ],
    "q_suite_dedup_2": [
        "q_ppjoin",
        "q_prefix_dedup",
        "q_record_linkage",
        "q_sim_pairs",
        "q_simhash",
        "q_snm_pairs",
    ],
    "q_suite_quality_1": [
        "q_config_extract",
        "q_expectations",
        "q_filter_agreement",
        "q_k_anonymity",
    ],
    "q_suite_quality_2": [
        "q_l_diversity",
        "q_pii_redact",
        "q_profile_docs",
        "q_quality_percentile",
    ],
    "q_suite_mlfit_1": [
        "q_cv_r2",
        "q_huber",
        "q_info_gain",
        "q_isotonic_fit",
        "q_lang_confusion",
        "q_lda",
    ],
    "q_suite_mlfit_2": [
        "q_naive_bayes",
        "q_negbin",
        "q_overdispersion",
        "q_pca_power",
        "q_platt",
        "q_random_projection",
    ],
    "q_suite_mlfit_3": [
        "q_ridge",
        "q_scalar_quant",
        "q_stump",
        "q_vif",
        "q_zero_inflation",
    ],
    "q_suite_cdc": [
        "q_dedup_incremental",
        "q_incremental_agg",
        "q_merge_upsert",
        "q_scd2",
        "q_table_diff",
        "q_zorder",
    ],
    "q_suite_survival": [
        "q_logrank",
        "q_nelson_aalen",
        "q_next_conversion",
        "q_sbg_churn",
        "q_survival",
    ],
}



CERT_WINDOW = 50

# r5 window: every slot is either a family suite covering 4-7 backlog
# members, a backlog standalone (q1 marquee, q_validate_feed's timestamp
# schema, rows-only q_compress_ratio), the new q_ivfpq_recall audit, or
# the flagship re-certification pad (q_transcript_extract golden).
# Everything past the window carries a green r4 driver hash row and is
# unchanged since.
_QUERIES_WINDOW_R5 = [
    "q_transcript_extract",
    "q1_pricing_summary",
    "q_ivfpq_recall",
    "q_validate_feed",
    "q_compress_ratio",
    "q_suite_ann_1",
    "q_suite_ann_2",
    "q_suite_causal_1",
    "q_suite_causal_2",
    "q_suite_cdc",
    "q_suite_corpuslm_1",
    "q_suite_corpuslm_2",
    "q_suite_dedup_1",
    "q_suite_dedup_2",
    "q_suite_distrib_1",
    "q_suite_distrib_2",
    "q_suite_distrib_3",
    "q_suite_doctext_1",
    "q_suite_doctext_2",
    "q_suite_doctext_3",
    "q_suite_evalmetrics_1",
    "q_suite_evalmetrics_2",
    "q_suite_events_1",
    "q_suite_events_2",
    "q_suite_graph_1",
    "q_suite_graph_2",
    "q_suite_hypothesis_1",
    "q_suite_hypothesis_2",
    "q_suite_hypothesis_3",
    "q_suite_hypothesis_4",
    "q_suite_hypothesis_5",
    "q_suite_hypothesis_6",
    "q_suite_mlfit_1",
    "q_suite_mlfit_2",
    "q_suite_mlfit_3",
    "q_suite_quality_1",
    "q_suite_quality_2",
    "q_suite_sampling_1",
    "q_suite_sampling_2",
    "q_suite_seqtest_1",
    "q_suite_seqtest_2",
    "q_suite_sketches",
    "q_suite_survival",
    "q_suite_timeseries_1",
    "q_suite_timeseries_2",
    "q_suite_timeseries_3",
    "q_suite_timeseries_4",
    "q_suite_tpch_bi_1",
    "q_suite_tpch_bi_2",
    "q_suite_tpch_bi_3",
]

_QUERIES_PAST_WINDOW = [
    # green driver hash row in CORRECTNESS_r04, untouched since
    "q_asof_join",
    "q_assess_confidence",
    "q_bleu",
    "q_bm25",
    "q_cdc_chunks",
    "q_char_entropy",
    "q_chrf",
    "q_collocations",
    "q_containment",
    "q_conv_summaries",
    "q_csv_markdown",
    "q_curate_corpus",
    "q_decontaminate",
    "q_dedup_corpus",
    "q_doc_scalar_suite",
    "q_dsir_weights",
    "q_dup_spans",
    "q_evaluate_fuzzy",
    "q_evaluate_hungarian",
    "q_evaluate_rouge",
    "q_events_concat",
    "q_first_event_label",
    "q_image_binarize",
    "q_ingest_envelope",
    "q_inverted_index",
    "q_json_sniff",
    "q_line_filter",
    "q_line_repetition",
    "q_lm_score",
    "q_metering_cost",
    "q_mixture_weights",
    "q_multimodal_features",
    "q_ngram_jaccard",
    "q_ocr_alerts",
    "q_ocr_conf_table",
    "q_props_flatten",
    "q_quality_classifier",
    "q_quality_repetition",
    "q_sectionize_chunked",
    "q_sections_report",
    "q_sections_rollup",
    "q_semantic_dedup",
    "q_soft_dedup",
    "q_span_dedup",
    "q_template_fill",
    "q_text_paginate",
    "q_top_events_per_user",
    "q_url_dedup",
    "q_winnow",
]


def _suite_fn(suite: str) -> Callable[[SparkSession, str], DataFrame]:
    """Build the callable for one certification suite (see certify.py)."""
    members = _SUITES[suite]

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        g = globals()
        return _certify.suite_spark(
            spark, sf_dir, members, {m: g[m] for m in members}, _MELT_SCHEMAS
        )

    fn.__name__ = suite
    fn.__doc__ = (
        "Certification suite: one driver hash row covering the full "
        "output multiset of "
        + ", ".join(members)
        + " via the engine-identical melt in "
        "accelerated_intelligent_document_processing_on_aws_spark/certify.py."
    )
    return fn


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    names = _QUERIES_WINDOW_R5 + _QUERIES_PAST_WINDOW
    if len(_QUERIES_WINDOW_R5) != CERT_WINDOW:
        raise AssertionError(
            f"certification window holds {len(_QUERIES_WINDOW_R5)} entries, "
            f"expected {CERT_WINDOW}"
        )
    if len(set(names)) != len(names):
        raise AssertionError("duplicate query name across registry sections")
    g = globals()
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in names:
        out[name] = _suite_fn(name) if name in _SUITES else g[name]
    return out



def oracle_sql() -> dict[str, str]:
    """Registry oracles: per-member SQL for standalone entries, melted
    UNION-ALL suite SQL (certify.suite_sql) for each family suite."""
    sqls = _member_sql()
    out: dict[str, str] = {}
    for name in _QUERIES_WINDOW_R5 + _QUERIES_PAST_WINDOW:
        if name in _SUITES:
            out[name] = _certify.suite_sql(_SUITES[name], sqls, _MELT_SCHEMAS)
        elif name in sqls:
            out[name] = sqls[name]
    return out


def _member_sql() -> dict[str, str]:

    return {
        "q1_pricing_summary": Q1_SQL,
        "q_customer_revenue": Q_CUSTOMER_REVENUE_SQL,
        "q_region_revenue": Q_REGION_REVENUE_SQL,
        "q_events_sessionize": Q_EVENTS_SESSIONIZE_SQL,
        "q_events_islands": Q_EVENTS_ISLANDS_SQL,
        "q_events_metering": Q_EVENTS_METERING_SQL,
        "q_doc_normalize": Q_DOC_NORMALIZE_SQL,
        "q_doc_line_join": Q_DOC_LINE_JOIN_SQL,
        "q_doc_token_stats": Q_DOC_TOKEN_STATS_SQL,
        "q_doc_lang_id": _lang_id_sql(),
        "q_doc_quality": _quality_sql(),
        "q_doc_fingerprint": Q_DOC_FINGERPRINT_SQL,
        "q_doc_classify": _classify_sql(),
        "q_ingest_envelope": Q_INGEST_ENVELOPE_SQL,
        "q_validate_feed": Q_VALIDATE_FEED_SQL,
        "q_dedup_exact": Q_DEDUP_EXACT_SQL,
        "q_knn_cosine": Q_KNN_COSINE_SQL,
        "q_evaluate_exact": Q_EVALUATE_EXACT_SQL,
        "q_ocr_conf_table": Q_OCR_CONF_TABLE_SQL,
        "q_events_concat": Q_EVENTS_CONCAT_SQL,
        "q_first_event_label": Q_FIRST_EVENT_LABEL_SQL,
        "q_top_events_per_user": Q_TOP_EVENTS_PER_USER_SQL,
        "q_metering_cost": Q_METERING_COST_SQL,
        "q_payload_kind": Q_PAYLOAD_KIND_SQL,
        "q_ngram_jaccard": Q_NGRAM_JACCARD_SQL,
        "q_embed_neardup": Q_EMBED_NEARDUP_SQL,
        "q_evaluate_fuzzy": _evaluate_fuzzy_sql(),
        "q_bool_normalize": Q_BOOL_NORMALIZE_SQL,
        "q_json_sniff": Q_JSON_SNIFF_SQL,
        "q_csv_markdown": Q_CSV_MARKDOWN_SQL,
        "q_ocr_alerts": Q_OCR_ALERTS_SQL,
        "q_props_flatten": Q_PROPS_FLATTEN_SQL,
        "q_doc_bpe_tokens": Q_DOC_BPE_TOKENS_SQL,
        "q_doc_rolling_hash": Q_DOC_ROLLING_HASH_SQL,
        "q_template_fill": Q_TEMPLATE_FILL_SQL,
        "q_dedup_corpus": Q_DEDUP_CORPUS_SQL,
        "q_sample_hash": Q_SAMPLE_HASH_SQL,
        "q_asof_join": Q_ASOF_JOIN_SQL,
        "q_evaluate_semantic": _evaluate_semantic_sql(),
        "q_sections_rollup": Q_SECTIONS_ROLLUP_SQL,
        "q_sections_report": Q_SECTIONS_REPORT_SQL,
        "q_conv_summaries": Q_CONV_SUMMARIES_SQL,
        "q_assess_confidence": Q_ASSESS_CONFIDENCE_SQL,
        "q_sectionize_chunked": Q_SECTIONIZE_CHUNKED_SQL,
        "q_multimodal_features": Q_MULTIMODAL_FEATURES_SQL,
        "q_text_paginate": _text_paginate_sql(),
        "q_neardup_clusters": Q_NEARDUP_CLUSTERS_SQL,
        "q_evaluate_config": _evaluate_config_sql(),
        "q_yaml_sniff": Q_YAML_SNIFF_SQL,
        "q_office_extract": Q_OFFICE_EXTRACT_SQL,
        "q_eval_report": _eval_report_sql(),
        "q_minhash_lsh": _minhash_lsh_sql(),
        "q_simhash": _simhash_sql(),
        "q_section_attributes": _section_attributes_sql(),
        "q_token_packing": Q_TOKEN_PACKING_SQL,
        "q_lsh_topk": Q_LSH_TOPK_SQL,
        "q_ivf_topk": Q_IVF_TOPK_SQL,
        "q_semantic_dedup": _semantic_dedup_sql(),
        "q_lm_score": Q_LM_SCORE_SQL,
        "q_span_dedup": Q_SPAN_DEDUP_SQL,
        "q_dsir_weights": Q_DSIR_WEIGHTS_SQL,
        "q_line_filter": Q_LINE_FILTER_SQL,
        "q_url_dedup": Q_URL_DEDUP_SQL,
        "q_soft_dedup": Q_SOFT_DEDUP_SQL,
        "q_quality_classifier": Q_QUALITY_CLASSIFIER_SQL,
        "q_evaluate_rouge": Q_EVALUATE_ROUGE_SQL,
        "q_winnow": Q_WINNOW_SQL,
        "q_cdc_chunks": Q_CDC_CHUNKS_SQL,
        "q_bleu": Q_BLEU_SQL,
        "q_chrf": Q_CHRF_SQL,
        "q_char_entropy": Q_CHAR_ENTROPY_SQL,
        "q_bm25": Q_BM25_SQL,
        "q_kcore": _kcore_sql(),
        "q_ks_test": Q_KS_TEST_SQL,
        "q_chi2": Q_CHI2_SQL,
        "q_welch_ttest": Q_WELCH_TTEST_SQL,
        "q_cusum": Q_CUSUM_SQL,
        "q_acf": Q_ACF_SQL,
        "q_assortativity": Q_ASSORTATIVITY_SQL,
        "q_assoc_rules": Q_ASSOC_RULES_SQL,
        "q_ols_trend": Q_OLS_TREND_SQL,
        "q_anova": Q_ANOVA_SQL,
        "q_spearman": Q_SPEARMAN_SQL,
        "q_expectations": Q_EXPECTATIONS_SQL,
        "q_stl_decompose": Q_STL_DECOMPOSE_SQL,
        "q_cube": Q_CUBE_SQL,
        "q_bloom_filter": Q_BLOOM_FILTER_SQL,
        "q_ivfpq_topk": _ivfpq_sql(),
        "q_ann_recall": Q_ANN_RECALL_SQL,
        "q_ivfpq_recall": _ivfpq_recall_sql(),
        "q_textrank": _textrank_sql(),
        "q_mmr_select": _mmr_sql(),
        "q_hard_negatives": Q_HARD_NEGATIVES_SQL,
        "q_kn_bigrams": Q_KN_BIGRAMS_SQL,
        "q_dataset_split": Q_DATASET_SPLIT_SQL,
        "q_curriculum": Q_CURRICULUM_SQL,
        "q_budget_select": Q_BUDGET_SELECT_SQL,
        "q_record_linkage": Q_RECORD_LINKAGE_SQL,
        "q_psi_drift": Q_PSI_DRIFT_SQL,
        "q_label_prop": _label_prop_sql(),
        "q_time_weighted": Q_TIME_WEIGHTED_SQL,
        "q_event_trigrams": Q_EVENT_TRIGRAMS_SQL,
        "q_sample_exact_k": Q_SAMPLE_EXACT_K_SQL,
        "q_role_runs": Q_ROLE_RUNS_SQL,
        "q_markov_entropy": Q_MARKOV_ENTROPY_SQL,
        "q_score_calibration": _score_calibration_sql(),
        "q_context_window": Q_CONTEXT_WINDOW_SQL,
        "q_evaluate_alignment": Q_EVALUATE_ALIGNMENT_SQL,
        "q_dict_tags": _dict_tags_sql(),
        "q_ewma_days": _ewma_days_sql(),
        "q_theil_sen": Q_THEIL_SEN_SQL,
        "q_zonemap_audit": Q_ZONEMAP_AUDIT_SQL,
        "q_survival": Q_SURVIVAL_SQL,
        "q_logrank": Q_LOGRANK_SQL,
        "q_nelson_aalen": Q_NELSON_AALEN_SQL,
        "q_kruskal": Q_KRUSKAL_SQL,
        "q_levene": Q_LEVENE_SQL,
        "q_jarque_bera": Q_JARQUE_BERA_SQL,
        "q_cochran_q": Q_COCHRAN_Q_SQL,
        "q_friedman": Q_FRIEDMAN_SQL,
        "q_ece": _ece_sql(),
        "q_iv": Q_IV_SQL,
        "q_rbo": _rbo_sql(),
        "q_pinball": Q_PINBALL_SQL,
        "q_fd": Q_FD_SQL,
        "q_theil": Q_THEIL_SQL,
        "q_raking": Q_RAKING_SQL,
        "q_modularity": _modularity_sql(),
        "q_mattr": Q_MATTR_SQL,
        "q_grubbs": Q_GRUBBS_SQL,
        "q_dp_counts": Q_DP_COUNTS_SQL,
        "q_cronbach": _cronbach_sql(),
        "q_icc": Q_ICC_SQL,
        "q_page_hinkley": Q_PAGE_HINKLEY_SQL,
        "q_ad_uniform": Q_AD_UNIFORM_SQL,
        "q_lda": _lda_sql(),
        "q_mahalanobis": Q_MAHALANOBIS_SQL,
        "q_holm": Q_HOLM_SQL,
        "q_exp_fit": Q_EXP_FIT_SQL,
        "q_overdispersion": Q_OVERDISPERSION_SQL,
        "q_info_gain": _info_gain_sql(),
        "q_extreme_value": Q_EXTREME_VALUE_SQL,
        "q_avg_precision": _avg_precision_sql(),
        "q_threshold_select": _threshold_select_sql(),
        "q_negbin": Q_NEGBIN_SQL,
        "q_zero_inflation": Q_ZERO_INFLATION_SQL,
        "q_runs_test": Q_RUNS_TEST_SQL,
        "q_rich_club": Q_RICH_CLUB_SQL,
        "q_yules_k": Q_YULES_K_SQL,
        "q_rfm": Q_RFM_SQL,
        "q_cem": Q_CEM_SQL,
        "q_evalue": Q_EVALUE_SQL,
        "q_james_stein": Q_JAMES_STEIN_SQL,
        "q_trustrank": _trustrank_sql(),
        "q_abc": Q_ABC_SQL,
        "q_cohort_ltv": Q_COHORT_LTV_SQL,
        "q_sim_pairs": Q_SIM_PAIRS_SQL,
        "q_pot_gpd": Q_POT_GPD_SQL,
        "q_records": Q_RECORDS_SQL,
        "q_ivf_silhouette": _ivf_silhouette_sql(),
        "q_mmd": _mmd_sql(),
        "q_pocock": Q_POCOCK_SQL,
        "q_xicor": Q_XICOR_SQL,
        "q_qte": Q_QTE_SQL,
        "q_chi2_residuals": Q_CHI2_RESIDUALS_SQL,
        "q_lorenz": Q_LORENZ_SQL,
        "q_cv_r2": Q_CV_R2_SQL,
        "q_durbin_watson": Q_DURBIN_WATSON_SQL,
        "q_sbg_churn": _sbg_sql(),
        "q_hurst": _hurst_sql(),
        "q_perm_entropy": Q_PERM_ENTROPY_SQL,
        "q_ljung_box": _ljung_box_sql(),
        "q_granger": Q_GRANGER_SQL,
        "q_cvm": Q_CVM_SQL,
        "q_rayleigh": Q_RAYLEIGH_SQL,
        "q_watson_u2": Q_WATSON_U2_SQL,
        "q_wilson_rates": Q_WILSON_RATES_SQL,
        "q_fdr_correction": Q_FDR_CORRECTION_SQL,
        "q_mann_kendall": Q_MANN_KENDALL_SQL,
        "q_roc_auc": Q_ROC_AUC_SQL,
        "q_link_prediction": Q_LINK_PREDICTION_SQL,
        "q_ccf": Q_CCF_SQL,
        "q_fleiss_kappa": Q_FLEISS_KAPPA_SQL,
        "q_bradley_terry": _bradley_terry_sql(),
        "q_isotonic_fit": _isotonic_sql(),
        "q_effect_size": Q_EFFECT_SIZE_SQL,
        "q_embedding_drift": Q_EMBEDDING_DRIFT_SQL,
        "q_conformal": Q_CONFORMAL_SQL,
        "q_jackknife": Q_JACKKNIFE_SQL,
        "q_quantile_norm": Q_QUANTILE_NORM_SQL,
        "q_ndcg": Q_NDCG_SQL,
        "q_k_anonymity": Q_K_ANONYMITY_SQL,
        "q_attribution": Q_ATTRIBUTION_SQL,
        "q_changepoint": Q_CHANGEPOINT_SQL,
        "q_burstiness": Q_BURSTINESS_SQL,
        "q_turn_taking": Q_TURN_TAKING_SQL,
        "q_vocab_coverage": Q_VOCAB_COVERAGE_SQL,
        "q_krippendorff": Q_KRIPPENDORFF_SQL,
        "q_hits": _hits_sql(),
        "q_smith_waterman": Q_SMITH_WATERMAN_SQL,
        "q_ql_retrieval": Q_QL_RETRIEVAL_SQL,
        "q_katz": _katz_sql(),
        "q_bfs_landmarks": Q_BFS_LANDMARKS_SQL,
        "q_burrows_delta": Q_BURROWS_DELTA_SQL,
        "q_l_diversity": Q_L_DIVERSITY_SQL,
        "q_cuped": Q_CUPED_SQL,
        "q_naive_bayes": Q_NAIVE_BAYES_SQL,
        "q_good_turing": Q_GOOD_TURING_SQL,
        "q_heaps_law": Q_HEAPS_LAW_SQL,
        "q_doc_scalar_suite": Q_DOC_SCALAR_SUITE_SQL,
        "q_line_repetition": Q_LINE_REPETITION_SQL,
        "q_mixture_weights": Q_MIXTURE_WEIGHTS_SQL,
        "q_config_extract": _config_extract_sql(),
        "q_range_join": Q_RANGE_JOIN_SQL,
        "q_interval_overlap": Q_INTERVAL_OVERLAP_SQL,
        "q_session_window": Q_SESSION_WINDOW_SQL,
        "q_value_quantiles": Q_VALUE_QUANTILES_SQL,
        "q_events_pivot": Q_EVENTS_PIVOT_SQL,
        "q_events_rollup": Q_EVENTS_ROLLUP_SQL,
        "q_dedup_incremental": Q_DEDUP_INCREMENTAL_SQL,
        "q_sample_stratified": Q_SAMPLE_STRATIFIED_SQL,
        "q_dup_spans": Q_DUP_SPANS_SQL,
        "q_tfidf_terms": Q_TFIDF_TERMS_SQL,
        "q_inverted_index": Q_INVERTED_INDEX_SQL,
        "q_collocations": Q_COLLOCATIONS_SQL,
        "q_containment": Q_CONTAINMENT_SQL,
        "q_zorder": Q_ZORDER_SQL,
        "q_funnel": Q_FUNNEL_SQL,
        "q_pagerank": _pagerank_sql(),
        "q_retention_cohorts": Q_RETENTION_COHORTS_SQL,
        "q_anomaly_days": Q_ANOMALY_DAYS_SQL,
        "q_event_transitions": Q_EVENT_TRANSITIONS_SQL,
        "q_merge_upsert": Q_MERGE_UPSERT_SQL,
        "q_incremental_agg": Q_INCREMENTAL_AGG_SQL,
        "q_table_diff": Q_TABLE_DIFF_SQL,
        "q_mutual_info": Q_MUTUAL_INFO_SQL,
        "q_kendall_tau": Q_KENDALL_TAU_SQL,
        "q_sprt": Q_SPRT_SQL,
        "q_holt_forecast": Q_HOLT_FORECAST_SQL,
        "q_mase_forecast": Q_MASE_FORECAST_SQL,
        "q_random_projection": Q_RANDOM_PROJECTION_SQL,
        "q_scalar_quant": Q_SCALAR_QUANT_SQL,
        "q_rake_keywords": Q_RAKE_KEYWORDS_SQL,
        "q_skyline": Q_SKYLINE_SQL,
        "q_simpsons": Q_SIMPSONS_SQL,
        "q_ridge": Q_RIDGE_SQL,
        "q_platt": Q_PLATT_SQL,
        "q_stump": Q_STUMP_SQL,
        "q_bootstrap_ci": Q_BOOTSTRAP_CI_SQL,
        "q_pca_power": Q_PCA_POWER_SQL,
        "q_next_conversion": Q_NEXT_CONVERSION_SQL,
        "q_weighted_quantiles": Q_WEIGHTED_QUANTILES_SQL,
        "q_trimmed_mean": Q_TRIMMED_MEAN_SQL,
        "q_chao1": Q_CHAO1_SQL,
        "q_diversity": Q_DIVERSITY_SQL,
        "q_hill_tail": Q_HILL_TAIL_SQL,
        "q_cmh": Q_CMH_SQL,
        "q_mcnemar": Q_MCNEMAR_SQL,
        "q_brier": Q_BRIER_SQL,
        "q_target_encode": Q_TARGET_ENCODE_SQL,
        "q_hash_collisions": Q_HASH_COLLISIONS_SQL,
        "q_streaks": Q_STREAKS_SQL,
        "q_wilcoxon": Q_WILCOXON_SQL,
        "q_huber": Q_HUBER_SQL,
        "q_lang_confusion": _lang_confusion_sql(),
        "q_rolling_distinct": Q_ROLLING_DISTINCT_SQL,
        "q_partial_corr": Q_PARTIAL_CORR_SQL,
        "q_vif": Q_VIF_SQL,
        "q_join_size": Q_JOIN_SIZE_SQL,
        "q_did": Q_DID_SQL,
        "q_lift_deciles": Q_LIFT_DECILES_SQL,
        "q_ipw_ate": Q_IPW_ATE_SQL,
        "q_rdd": Q_RDD_SQL,
        "q_subgroup": Q_SUBGROUP_SQL,
        "q_pacf": Q_PACF_SQL,
        "q_smd_balance": Q_SMD_BALANCE_SQL,
        "q_ess": Q_ESS_SQL,
        "q_hourweek": Q_HOURWEEK_SQL,
        "q_seasonal_strength": Q_SEASONAL_STRENGTH_SQL,
        "q_power_mde": Q_POWER_MDE_SQL,
        "q_scd2": Q_SCD2_SQL,
        "q_revenue_rollup": Q_REVENUE_ROLLUP_SQL,
        "q_kmv_distinct": Q_KMV_DISTINCT_SQL,
        "q_kmv_overlap": Q_KMV_OVERLAP_SQL,
        "q_weighted_sample": Q_WEIGHTED_SAMPLE_SQL,
        "q_triangles": Q_TRIANGLES_SQL,
        "q_snm_pairs": Q_SNM_PAIRS_SQL,
        "q_bpe_pairs": Q_BPE_PAIRS_SQL,
        "q_cms_heavy": Q_CMS_HEAVY_SQL,
        "q_hll_users": Q_HLL_USERS_SQL,
        "q_prefix_dedup": Q_PREFIX_DEDUP_SQL,
        "q_context_budget": Q_CONTEXT_BUDGET_SQL,
        "q_ppjoin": Q_PPJOIN_SQL,
        "q_doc_readability": Q_DOC_READABILITY_SQL,
        "q_skipgrams": Q_SKIPGRAMS_SQL,
        "q_ngram_novelty": Q_NGRAM_NOVELTY_SQL,
        "q_corpus_divergence": Q_CORPUS_DIVERGENCE_SQL,
        "q_local_clustering": Q_LOCAL_CLUSTERING_SQL,
        "q_value_histogram": Q_VALUE_HISTOGRAM_SQL,
        "q_quality_percentile": _quality_percentile_sql(),
        "q_benford": _benford_sql(),
        "q_filter_agreement": _filter_agreement_sql(),
        "q_zipf": Q_ZIPF_SQL,
        "q_mad_outliers": Q_MAD_OUTLIERS_SQL,
        "q_gini": Q_GINI_SQL,
        "q_rolling_events": Q_ROLLING_EVENTS_SQL,
        "q_rrf_fusion": Q_RRF_FUSION_SQL,
        "q_prop_ztest": Q_PROP_ZTEST_SQL,
        "q_mann_whitney": Q_MANN_WHITNEY_SQL,
        "q_profile_docs": _profile_docs_sql(),
        "q_chunk_dedup": Q_CHUNK_DEDUP_SQL,
        "q_decontaminate": Q_DECONTAMINATE_SQL,
        "q_quality_repetition": Q_QUALITY_REPETITION_SQL,
        "q_pii_redact": Q_PII_REDACT_SQL,
        "q_text_chunks": Q_TEXT_CHUNKS_SQL,
        "q_domain_stats": Q_DOMAIN_STATS_SQL,
        "q_curate_corpus": _curate_corpus_sql(),
        "q_image_binarize": Q_IMAGE_BINARIZE_SQL,
        "q_evaluate_hungarian": _evaluate_hungarian_sql(),
        # Non-SQL op (rows-only driver check by design):
        # q_transcript_extract (pandas-UDF extraction kernels).
    }
