"""Certification melt: bundle many registry queries into ONE driver row.

The correctness driver certifies a fixed window of ``CERT_WINDOW``
registry entries per round, so a registry larger than the window can
never be fully driver-certified query-by-query (round-4 VERDICT #1:
221 of 320 entries had no driver row).  The fix — recommended by the
round-3 and round-4 verdicts — is the *family composite*: a suite
query that runs N member queries, melts every member's output to a
uniform ``(query, metric, value_num, value_str)`` long format, unions
the melts into one DataFrame, and pairs it with a DuckDB oracle built
by applying the IDENTICAL melt to each member's own oracle SQL.  One
driver hash row then certifies every member's full output multiset.

Melt contract (both engines apply the same rules, so member-level
value equality is preserved exactly):

- every member output column becomes one melt row per source row;
- numeric-kind columns (``double``/``float``/``decimal``) ride
  ``value_num`` as ``round(CAST(col AS DOUBLE), 6) + 0.0`` (the repo's
  universal 6-decimal rounding convention; ``+ 0.0`` collapses ``-0.0``
  so the two engines cannot disagree on signed zero), with
  ``value_str`` marking SQL NULLs;
- everything else (integers, booleans, strings, dates) rides
  ``value_str`` as ``CAST(col AS VARCHAR)`` — integers/booleans/dates
  format identically in Spark and DuckDB, and 64-bit hashes stay
  byte-exact instead of losing low bits to a double;
- NULL in either lane becomes the literal token ``'null'`` on both
  sides, so the melt columns are never-null and dtype-stable; a
  string-lane NULL also sets ``value_num = 1.0`` (the lane's values
  otherwise carry ``0.0``), so it can never alias the literal string
  ``'null'``.

Column kinds are FROZEN per member in the registry's schema map
(derived from the member's certified Spark schema) rather than sniffed
at runtime on one side only: if a member's schema drifts, the suite
fails loudly instead of silently comparing different shapes.

Numeric-lane contract domain: member double outputs follow the repo's
``round_to=6`` convention and stay below ~1e9 in magnitude, where
Spark's BigDecimal-based ``round`` and DuckDB's multiply/``std::round``
agree bit-for-bit (an already-6dp value re-rounds to itself on both).
Arbitrary unrounded doubles at decimal half-way points, or magnitudes
past ~2^53/1e6, could round differently per engine — counts and hashes
that large are integers and ride the string lane instead.  The fuzz
test (tests/test_certify.py) exercises exactly this domain, and the
full-registry sweeps validate every real member empirically.

Scale shape: a suite is a single ``unionAll`` of member plans ending in
one action — cheaper than N separate driver actions (the members are
mostly metadata-sized aggregates whose standalone cost is per-job
overhead), and nothing about any member's own 100 TB plan changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NULL_TOKEN = "null"

MELT_COLUMNS = ("query", "metric", "value_num", "value_str")

_NUM_PREFIXES = ("double", "float", "decimal")


def kind_of(spark_dtype: str) -> str:
    """Melt lane for a Spark simpleString dtype: ``num`` or ``str``."""
    base = spark_dtype.split("(")[0].strip().lower()
    return "num" if base.startswith(_NUM_PREFIXES) else "str"


def melt_kinds(dtypes: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Lane assignment for a whole ``df.dtypes`` list."""
    return [(name, kind_of(dt)) for name, dt in dtypes]


def parse_schema(compact: str) -> list[tuple[str, str]]:
    """Decode the registry's compact ``"col=kind col=kind"`` schema."""
    out = []
    for tok in compact.split():
        col, kind = tok.rsplit("=", 1)
        if kind not in ("num", "str"):
            raise ValueError(f"bad melt kind {kind!r} for column {col!r}")
        out.append((col, kind))
    return out


def melt_spark(df: DataFrame, qname: str, schema: list[tuple[str, str]]) -> DataFrame:
    """Melt one member DataFrame to the uniform long format."""
    have = sorted(c for c, _ in df.dtypes)
    want = sorted(c for c, _ in schema)
    if have != want:
        raise ValueError(
            f"{qname}: melt schema drift — registry froze {want}, "
            f"query now returns {have}"
        )
    rows = []
    for colname, kind in schema:
        c = F.col(colname)
        if kind == "num":
            num = F.coalesce(
                F.round(c.cast("double"), 6) + F.lit(0.0), F.lit(0.0)
            )
            s = F.when(c.isNull(), F.lit(NULL_TOKEN)).otherwise(F.lit(""))
        else:
            num = F.when(c.isNull(), F.lit(1.0)).otherwise(F.lit(0.0))
            s = F.coalesce(c.cast("string"), F.lit(NULL_TOKEN))
        rows.append(
            F.struct(
                F.lit(qname).alias("query"),
                F.lit(colname).alias("metric"),
                num.alias("value_num"),
                s.alias("value_str"),
            )
        )
    return df.select(F.explode(F.array(*rows)).alias("_r")).select("_r.*")


def suite_spark(
    spark,
    sf_dir: str,
    members: list[str],
    fns: dict,
    schemas: dict[str, str],
) -> DataFrame:
    """Union the melts of every member query — ONE plan, one action."""
    parts = []
    for m in members:
        df = fns[m](spark, sf_dir)
        parts.append(melt_spark(df, m, parse_schema(schemas[m])))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("query", "metric", "value_num", "value_str")


def _quote(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def _sq(text: str) -> str:
    return "'" + text.replace("'", "''") + "'"


def melt_sql_branches(qname: str, cte: str, schema: list[tuple[str, str]]) -> list[str]:
    branches = []
    for colname, kind in schema:
        qc = _quote(colname)
        if kind == "num":
            num = f"coalesce(ROUND(CAST({qc} AS DOUBLE), 6) + 0.0, 0.0)"
            s = f"CASE WHEN {qc} IS NULL THEN '{NULL_TOKEN}' ELSE '' END"
        else:
            num = f"CASE WHEN {qc} IS NULL THEN 1.0 ELSE 0.0 END"
            s = f"coalesce(CAST({qc} AS VARCHAR), '{NULL_TOKEN}')"
        branches.append(
            f"SELECT {_sq(qname)} AS query, {_sq(colname)} AS metric,\n"
            f"       {num} AS value_num,\n"
            f"       {s} AS value_str\n"
            f"FROM {cte}"
        )
    return branches


def suite_sql(
    members: list[str],
    member_sql: dict[str, str],
    schemas: dict[str, str],
) -> str:
    """DuckDB twin of :func:`suite_spark`: each member's oracle SQL in a
    MATERIALIZED CTE, melted with the identical column rules, unioned."""
    ctes = []
    branches = []
    for i, m in enumerate(members):
        cte = f"_cm_{i}"
        body = member_sql[m].strip().rstrip(";")
        ctes.append(f"{cte} AS MATERIALIZED (\n{body}\n)")
        branches.extend(melt_sql_branches(m, cte, parse_schema(schemas[m])))
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT * FROM (\n"
        + "\nUNION ALL\n".join(branches)
        + "\n)\nORDER BY query, metric, value_num, value_str"
    )
