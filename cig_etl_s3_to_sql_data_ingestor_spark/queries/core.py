"""Reference-surface queries (SURVEY.md §2) over the synthetic tables.

Each query mirrors a concrete operator of the reference ingestor:
projection-with-order contract (P1, `ParquetFileInsertion.py:50`),
verification query (W1/T13, `test_compare_sql_local_and_prod_data.py:32`),
config joins (J1/J2, `main.py:78-85`), marker anti-join (J4,
`CustomMarkerTable.py:53-57`), freshness aggregate + tiered staleness
(A2/P7/P8, `check_bucket_latest_folders.py:52-231`), and the cleaning
transform steps (T1-T12, `CigEolHostingIngestionLogic.py`).

Scale notes are inline per query; the common rules:
- aggregates use decimal-exact accumulation (functions.exact) so results
  are order-independent — required both for the oracle gate and for
  deterministic re-runs on a real cluster;
- small sides of joins are broadcast explicitly;
- every filter/projection is a native Column expression (codegen, pushdown).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, sql_exact_sum
from ..io import epoch_micros, load_table, micros_to_ntz
from ..operators import transforms as TR

QUERIES = {}
ORACLES = {}


def register(name, oracle=None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Flagship: pricing summary (TPC-H Q1 shape). Exercises scan + filter
# pushdown + hash aggregate with partial (map-side) combine — the plan is a
# single shuffle on (l_returnflag, l_linestatus); at 100 TB the map-side
# partial aggregation reduces shuffle volume to O(groups x partitions).
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM((CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2))))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All money arithmetic in exact decimal: the source doubles carry at
    most 2 decimal digits, so the initial cast is unambiguous, and decimal
    products/sums are exact and associative — bit-identical to the oracle
    at any parallelism (see functions.exact)."""
    l = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = ep * (F.lit(1) - disc)
    charge = disc_price * (F.lit(1) + tax)
    return (
        l.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(ep).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# W1/T13: the reference's verification query
# (`test_compare_sql_local_and_prod_data.py:32`):
#   SELECT cols WHERE CAST(sortkey AS date) = d AND UPPER(env)=.. ORDER BY ..
# Date + status predicates both push down to the parquet scan.
# ---------------------------------------------------------------------------


@register(
    "verification_query",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_date,
           o_totalprice, o_orderpriority
    FROM orders
    WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-03-01' AND DATE '1997-05-31'
      AND UPPER(o_orderstatus) = 'F'
    ORDER BY o_date, o_orderkey
    """,
)
def verification_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return (
        o.filter(
            d.between(F.lit("1997-03-01").cast("date"), F.lit("1997-05-31").cast("date"))
            & (F.upper("o_orderstatus") == "F")
        )
        .select(
            "o_orderkey",
            "o_custkey",
            d.alias("o_date"),
            "o_totalprice",
            "o_orderpriority",
        )
        .orderBy("o_date", "o_orderkey")
    )


# SELECT DISTINCT variant (`test_compare_sql_local_and_prod_data.py:35-39`).
@register(
    "distinct_keys",
    oracle="SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey",
)
def distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select("o_custkey").distinct().orderBy("o_custkey")


# P1: ordered projection — column order is a sink contract
# (`ParquetFileInsertion.py:30-31`). Catalyst prunes the scan to 5 columns.
@register(
    "ordered_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem WHERE l_orderkey % 100 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
)
def ordered_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"]
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select(*cols)
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# T1/T4/T6/T9/T12: the cleaning-transform quirks, applied through the
# operators.transforms implementations on a stringly-typed frame built from
# orders (the reference's in-flight representation, SURVEY §1.1.4).
# ---------------------------------------------------------------------------


@register(
    "sentinel_cleaning",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             CAST(o_custkey AS VARCHAR) || '.0' AS qty_str,
             CASE WHEN o_orderstatus = 'F' THEN 'True' ELSE 'False' END AS flag_str,
             CASE WHEN o_orderkey % 7 = 0 THEN 'NaT'
                  WHEN o_orderkey % 7 = 1 THEN 'nan'
                  WHEN o_orderkey % 7 = 2 THEN 'NaTali'
                  WHEN o_orderkey % 7 = 3 THEN 'nanarnia'
                  ELSE o_orderstatus END AS sentinel_str,
             CASE WHEN o_orderkey % 5 = 0 THEN 'NoneSuch' ELSE o_orderpriority END AS req_str
      FROM orders
    )
    SELECT o_orderkey,
           CASE WHEN qty_str LIKE '%.0'
                THEN regexp_replace(qty_str, '\\.0', '', 'g') ELSE qty_str END AS qty_clean,
           CASE WHEN flag_str = 'True' THEN '1'
                WHEN flag_str = 'False' THEN '0' ELSE flag_str END AS flag_clean,
           CASE WHEN (CASE WHEN sentinel_str IN ('NaT','nan') THEN 'None' ELSE sentinel_str END) = 'None'
                THEN NULL
                ELSE (CASE WHEN sentinel_str IN ('NaT','nan') THEN 'None' ELSE sentinel_str END)
           END AS sentinel_clean,
           replace(req_str, 'None', '') AS req_clean
    FROM s ORDER BY o_orderkey
    """,
)
def sentinel_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s = o.select(
        k.alias("o_orderkey"),
        F.concat(F.col("o_custkey").cast("string"), F.lit(".0")).alias("qty_str"),
        F.when(F.col("o_orderstatus") == "F", "True").otherwise("False").alias("flag_str"),
        F.when(k % 7 == 0, "NaT")
        .when(k % 7 == 1, "nan")
        .when(k % 7 == 2, "NaTali")
        .when(k % 7 == 3, "nanarnia")
        .otherwise(F.col("o_orderstatus"))
        .alias("sentinel_str"),
        F.when(k % 5 == 0, "NoneSuch").otherwise(F.col("o_orderpriority")).alias("req_str"),
    )
    return s.select(
        "o_orderkey",
        TR.strip_decimal_suffix(F.col("qty_str")).alias("qty_clean"),
        TR.sentinel_replace(F.col("flag_str")).alias("flag_clean"),
        TR.materialize_null(TR.sentinel_replace(F.col("sentinel_str"))).alias("sentinel_clean"),
        TR.not_nullable_scrub(F.col("req_str")).alias("req_clean"),
    ).orderBy("o_orderkey")


# T1: environment derivation — `NL_Hosting_Mailbox` -> `NL`
# (`main_mailbox.py:56`, intent of `CigEolHostingIngestionLogic.py:16-19`).
@register(
    "env_derivation",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey % 2 = 0 THEN n_name || '_Hosting_Mailbox'
                ELSE substr(n_name, 1, 2) END AS raw_env,
           CASE WHEN length(CASE WHEN n_nationkey % 2 = 0 THEN n_name || '_Hosting_Mailbox'
                                 ELSE substr(n_name, 1, 2) END) > 2
                THEN split_part(CASE WHEN n_nationkey % 2 = 0 THEN n_name || '_Hosting_Mailbox'
                                     ELSE substr(n_name, 1, 2) END, '_', 1)
                ELSE CASE WHEN n_nationkey % 2 = 0 THEN n_name || '_Hosting_Mailbox'
                          ELSE substr(n_name, 1, 2) END
           END AS environment
    FROM nation ORDER BY n_nationkey
    """,
)
def env_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    raw = F.when(
        F.col("n_nationkey") % 2 == 0, F.concat(F.col("n_name"), F.lit("_Hosting_Mailbox"))
    ).otherwise(F.substring("n_name", 1, 2))
    s = n.select("n_nationkey", raw.alias("raw_env"))
    return s.select(
        "n_nationkey", "raw_env", TR.derive_environment(F.col("raw_env")).alias("environment")
    ).orderBy("n_nationkey")


# T8: timestamp millisecond truncation, gated on the column-wide max string
# length (`CigEolHostingIngestionLogic.py:92-104`). The gate is one small
# aggregate job whose result folds into the projection as a plan choice
# (the ingest pipeline computes it in the same aggregate as the T7 gate);
# the oracle expresses it as a scalar subquery.
@register(
    "timestamp_truncation",
    oracle="""
    WITH s AS (
      SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str FROM events
    ), g AS (SELECT MAX(length(ts_str)) AS maxlen FROM s)
    SELECT event_id,
           CASE WHEN (SELECT maxlen FROM g) > 23 THEN substr(ts_str, 1, 23)
                ELSE ts_str END AS ts_trunc
    FROM s ORDER BY event_id
    """,
)
def timestamp_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s = e.select(
        "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str")
    )
    return TR.truncate_long_timestamps(s, ["ts_str"], out_suffix="_trunc").select(
        "event_id", F.col("ts_str_trunc").alias("ts_trunc")
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Joins J1/J2/J4 (`main.py:78-85`, `CustomMarkerTable.py:53-57`). Config and
# marker sides are bounded metadata → broadcast hints; the customer side of
# the semi-join scales with the data, so it is unhinted and AQE picks
# broadcast at small sf, shuffle join at scale.
# ---------------------------------------------------------------------------


@register(
    "worklist_semi_join",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
    ORDER BY o_orderkey
    """,
)
def worklist_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left_semi")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


@register(
    "config_enrich_join",
    oracle="""
    WITH config AS (
      SELECT DISTINCT source, 'HOST_CIG_' || source AS target_name,
             source <> 'src3' AS is_enabled
      FROM documents
    )
    SELECT d.doc_id, d.source, c.target_name
    FROM documents d JOIN config c ON d.source = c.source
    WHERE c.is_enabled
    ORDER BY d.doc_id
    """,
)
def config_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Config frame derived like `cig_tables.json` rows; first-match semantics
    # of `main.py:83-84` = dropDuplicates on the join key before the join.
    config = (
        d.select("source")
        .distinct()
        .withColumn("target_name", F.concat(F.lit("HOST_CIG_"), F.col("source")))
        .withColumn("is_enabled", F.col("source") != "src3")
        .dropDuplicates(["source"])
    )
    return (
        d.join(F.broadcast(config.filter("is_enabled")), "source", "inner")
        .select("doc_id", "source", "target_name")
        .orderBy("doc_id")
    )


@register(
    "marker_antijoin",
    oracle="""
    WITH marker AS (
      SELECT o_orderkey AS parquet_source, o_orderstatus AS environment
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT o.o_orderkey, o.o_orderstatus, CAST(o.o_orderdate AS DATE) AS backup_date
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM marker m
      WHERE m.parquet_source = o.o_orderkey AND m.environment = o.o_orderstatus
    )
    ORDER BY o.o_orderkey
    """,
)
def marker_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    marker = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("parquet_source"),
        F.col("o_orderstatus").alias("environment"),
    )
    return (
        o.join(
            marker,
            (o.o_orderkey == marker.parquet_source)
            & (o.o_orderstatus == marker.environment),
            "left_anti",
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_orderdate").cast("date").alias("backup_date"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# A2 + P7 + P8: freshness monitor — latest date per (group), staleness
# predicate, tiered exception anti-filter
# (`check_bucket_latest_folders.py:52-231`).
# ---------------------------------------------------------------------------


@register(
    "latest_per_group",
    oracle="""
    SELECT l_suppkey, MAX(CAST(l_shipdate AS DATE)) AS latest_ship, COUNT(*) AS n_files
    FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
    """,
)
def latest_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_suppkey")
        .agg(
            F.max(F.col("l_shipdate").cast("date")).alias("latest_ship"),
            F.count("*").alias("n_files"),
        )
        .orderBy("l_suppkey")
    )


@register(
    "staleness_tiered",
    oracle="""
    WITH latest AS (
      SELECT l_suppkey, MAX(CAST(l_shipdate AS DATE)) AS latest_ship
      FROM lineitem GROUP BY l_suppkey
    ), exceptions AS (
      SELECT s_suppkey,
             CASE WHEN s_suppkey % 10 = 0 THEN 3
                  WHEN s_suppkey % 10 = 1 THEN 10 END AS tier_days
      FROM supplier WHERE s_suppkey % 10 IN (0, 1)
    )
    SELECT l.l_suppkey, l.latest_ship
    FROM latest l
    WHERE l.latest_ship < DATE '2001-11-01'
      AND NOT EXISTS (
        SELECT 1 FROM exceptions e
        WHERE e.s_suppkey = l.l_suppkey
          AND l.latest_ship >= DATE '2001-11-01' - CAST(e.tier_days AS INTEGER)
      )
    ORDER BY l.l_suppkey
    """,
)
def staleness_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ref date sits mid-distribution of per-supplier latest-ship dates
    # (synthetic data clusters in late Oct 2001) so the staleness filter
    # and the grace-window anti-join both produce non-trivial results.
    ref_date = F.lit("2001-11-01").cast("date")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    latest = l.groupBy("l_suppkey").agg(
        F.max(F.col("l_shipdate").cast("date")).alias("latest_ship")
    )
    exceptions = (
        s.filter((F.col("s_suppkey") % 10).isin(0, 1))
        .select(
            "s_suppkey",
            F.when(F.col("s_suppkey") % 10 == 0, 3).otherwise(10).alias("tier_days"),
        )
    )
    stale = latest.filter(F.col("latest_ship") < ref_date)
    # Anti-join drops entities still inside their grace window (P8).
    within_grace = exceptions.join(
        stale, exceptions.s_suppkey == stale.l_suppkey, "inner"
    ).filter(F.col("latest_ship") >= F.date_sub(ref_date, F.col("tier_days"))).select(
        "s_suppkey"
    )
    return (
        stale.join(
            F.broadcast(within_grace),
            stale.l_suppkey == within_grace.s_suppkey,
            "left_anti",
        )
        .select("l_suppkey", "latest_ship")
        .orderBy("l_suppkey")
    )


# P3/P4: partition-pruning filters (date + membership) then daily counts.
@register(
    "partition_prune_counts",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS event_date, event_type,
           COUNT(*) AS n, {sql_exact_sum('value', 2)} AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-04'
      AND event_type IN ('click', 'purchase', 'error')
    GROUP BY event_date, event_type
    ORDER BY event_date, event_type
    """,
)
def partition_prune_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    return (
        e.filter(
            (d >= F.lit("2024-01-04").cast("date"))
            & F.col("event_type").isin("click", "purchase", "error")
        )
        .groupBy(d.alias("event_date"), "event_type")
        .agg(F.count("*").alias("n"), exact_sum(F.col("value"), 2).alias("sum_value"))
        .orderBy("event_date", "event_type")
    )


# W3 generalized: top-K per group via row_number (deterministic tie-break).
@register(
    "topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3 ORDER BY o_custkey, rn
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


# Streaming-shaped batch: tumbling 1h window aggregation over events.
@register(
    "windowed_events",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n, {sql_exact_sum('value', 2)} AS sum_value
    FROM events GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count("*").alias("n"), exact_sum(F.col("value"), 2).alias("sum_value"))
        .orderBy("window_start", "event_type")
    )


# Sessionization: gap > 30 min starts a new session (lag + running sum).
#
# All gap arithmetic is INTEGER MICROSECONDS on both engines. events.ts is
# TIMESTAMP(NANOS) parquet: Spark floors it to µs on load (io.load_events),
# while DuckDB's read type is version-dependent (µs in 1.0, TIMESTAMP_NS in
# newer releases) — so the oracle derives the same µs integer explicitly via
# epoch_ns(ts) // 1000 (floor division == Spark's `ns div 1000`), and session
# bounds are rebuilt from integer µs with make_timestamp(). No doubles, no
# INTERVAL arithmetic, no engine-dependent timestamp resolution anywhere.
@register(
    "sessionize",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events
    ), flagged AS (
      SELECT user_id, us, event_id,
             CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                       > 1800000000
                  OR LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM base
    ), sessions AS (
      SELECT user_id, us, event_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           make_timestamp((MIN(us) // 1000000) * 1000000) AS session_start,
           make_timestamp((MAX(us) // 1000000) * 1000000) AS session_end
    FROM sessions GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    e = e.withColumn("us", epoch_micros(e, "ts"))
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("us").over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(
            prev.isNull() | (F.col("us") - prev > 1800 * 1_000_000),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    sec = 1_000_000
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("us").alias("min_us"),
            F.max("us").alias("max_us"),
        )
        .select(
            "user_id",
            "session_id",
            "n_events",
            micros_to_ntz(
                F.col("min_us") - F.col("min_us") % sec
            ).alias("session_start"),
            micros_to_ntz(
                F.col("max_us") - F.col("max_us") % sec
            ).alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


_PROFILE_COLS = ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate"]


def _sql_profile_leg(c: str) -> str:
    return f"""
      SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
             COUNT(*) - COUNT({c}) AS n_nulls,
             COUNT(DISTINCT {c}) AS n_distinct,
             CAST(MIN({c}) AS VARCHAR) AS min_value,
             CAST(MAX({c}) AS VARCHAR) AS max_value
      FROM lineitem"""


@register(
    "profile_table",
    oracle=" UNION ALL ".join(_sql_profile_leg(c) for c in _PROFILE_COLS)
    + " ORDER BY col_name",
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profile of lineitem (null/distinct/min/max per
    column) — the generalized form of the reference's post-load
    verification queries (main.py verification pass).

    This validation form OPTS INTO exact distincts (``approx=False``)
    because a cross-engine oracle can only match exact values; the
    operator's DEFAULT is the HLL mode (Expand-free plan asserted in
    tests/test_plans.py, accuracy bounded in tests/test_sketches.py,
    timed as the bench's profile entry) — the path a 100 TB profile
    actually runs."""
    from ..operators.profile import profile_columns

    li = load_table(spark, sf_dir, "lineitem")
    return profile_columns(li, _PROFILE_COLS, approx=False).orderBy("col_name")


@register(
    "heavy_hitter_keys",
    oracle="""
    WITH per_key AS (
      SELECT user_id, COUNT(*) AS key_rows FROM events GROUP BY user_id
    ),
    ctx AS (
      SELECT CAST(SUM(key_rows) AS BIGINT) AS total_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(key_rows) AS BIGINT) AS max_key_rows
      FROM per_key
    ),
    top AS (
      SELECT user_id, CAST(key_rows AS BIGINT) AS key_rows
      FROM per_key ORDER BY key_rows DESC, user_id LIMIT 10
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY key_rows DESC, user_id) AS INTEGER)
             AS rank,
           user_id AS key,
           key_rows,
           CAST(key_rows AS DOUBLE) * 100.0 / total_rows AS share_pct,
           CAST(SUM(key_rows) OVER (ORDER BY key_rows DESC, user_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS DOUBLE)
             * 100.0 / total_rows AS cum_share_pct,
           total_rows,
           n_keys,
           CAST(max_key_rows * n_keys AS DOUBLE) / total_rows AS skew_factor
    FROM top CROSS JOIN ctx
    ORDER BY rank
    """,
)
def heavy_hitter_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaviest event keys + skew factor (operators.profile.skew_report):
    the diagnostic that decides whether a join on ``user_id`` needs
    salting or AQE skew splitting before it runs at scale. One shuffle
    (per-key partial agg); top-k via TakeOrdered; windows only over the
    10 surviving rows."""
    from ..operators.profile import skew_report

    ev = load_table(spark, sf_dir, "events")
    return skew_report(ev, "user_id", top_k=10)
