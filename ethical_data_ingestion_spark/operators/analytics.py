"""Aggregate / sort / greatest-n-per-group operators (SURVEY §2.3).

The reference's analytical core is three hash aggregates plus one correlated
scalar subquery, all delegated to DuckDB
(``ethical_crawler.py:1039-1060, 1425-1451``), and a second-level pandas
rollup on the driver (``:1468-1472``). Here each becomes ONE declarative
Spark aggregation: partial (map-side) aggregation before the shuffle means
the shuffle carries only |groups| rows — the property that makes these flat
at 100 TB. The CLI's panels and the pandas re-aggregation all fold from one
such aggregate of a few rows (:func:`catalog_summary`, SURVEY #26).

Float determinism: distributed SUM over doubles is order-sensitive. For
oracle-comparable money sums we accumulate in DECIMAL (exact, associative)
and cast the result back to double; AVG/computed ratios are rounded on both
engines identically (SURVEY §7.5 risk 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dsum(col: str, alias: str, scale: int = 2):
    """Exact, order-insensitive sum: accumulate in DECIMAL(18, scale), emit
    double. DuckDB mirror: ``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)``.
    """
    return (
        F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double").alias(alias)
    )


def davg(col, alias: str, scale: int = 6):
    """Order-insensitive average: exact DECIMAL sum ÷ count, rounded to 4.

    A plain ``round(avg(double), 4)`` is NOT cross-engine stable: partial
    sums accumulate in different orders, and a result landing within an ulp
    of a .00005 boundary rounds differently per engine (observed at sf0.01).
    The decimal sum makes the dividend exact, so both engines divide the
    same two numbers. DuckDB mirror:
    ``ROUND(CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x), 4)``.

    CAVEAT: if sum/count can land EXACTLY on a .xxxx5 half-point (inputs
    are low-scale decimals like 2-decimal money and counts are small),
    the final double round itself diverges: Spark rounds the double's
    shortest decimal representation (…875 → up) while DuckDB rounds the
    binary value (…87499… → down). Averages of full-precision ratios are
    safe (half-points have measure ~0); for money-over-count metrics
    prefer an exact decimal SUM instead (observed on asof_last_purchase
    at sf0.1).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(c.cast(f"decimal(18,{scale})")).cast("double") / F.count(c), 4
    ).alias(alias)


def source_stats(df: DataFrame, key: str, distinct_col: str, avg_col: str, ts_col: str) -> DataFrame:
    """Single-key 5-aggregate rollup (``ethical_crawler.py:1039-1050``):
    COUNT(*), COUNT(DISTINCT t), AVG(x), MIN(ts), MAX(ts) per group,
    ordered by record_count desc.

    One shuffle on ``key``; COUNT(DISTINCT) is planned by Spark as a
    two-phase expand+agg — fine for low-cardinality ``distinct_col``. At
    100 TB with a hot key this is where AQE skew handling earns its keep.
    """
    return (
        df.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("record_count"),
            F.countDistinct(distinct_col).alias("type_count"),
            davg(avg_col, "avg_size"),
            F.min(ts_col).alias("first_ingested"),
            F.max(ts_col).alias("last_ingested"),
        )
        .orderBy(F.desc("record_count"), key)
    )


def frequency_table(df: DataFrame, key: str) -> DataFrame:
    """``GROUP BY key ORDER BY count DESC`` (``ethical_crawler.py:1053-1060``)."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), key)
    )


def composite_stats(df: DataFrame, key1: str, key2: str, ts_col: str) -> DataFrame:
    """Composite-key aggregate (``ethical_crawler.py:1425-1434``):
    per (key1, key2): COUNT(*), MAX(ts), ordered by key1, count desc."""
    return (
        df.groupBy(key1, key2)
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.max(ts_col).alias("last_ingested"),
        )
        .orderBy(key1, F.desc("count"), key2)
    )


def catalog_summary(df: DataFrame, key: str, sub: str, avg_col: str, ts_col: str) -> DataFrame:
    """What :func:`source_stats`, :func:`frequency_table` and the per-key
    rollup of :func:`composite_stats` need, as ONE aggregate over the
    grouping sets (key, sub), (key) and (sub): ``g`` is 0, 1 and 2 on them.
    Each row has COUNT(*) ``n``, the :func:`davg` of ``avg_col`` and
    MIN/MAX of ``ts_col`` as epoch microseconds (so a driver round trip is
    exact in any time zone). A catalog has a few (source, type) pairs, so
    callers collect it once and shape every panel from its rows.
    """
    return df.groupingSets([[key, sub], [key], [sub]], key, sub).agg(
        F.grouping_id().alias("g"),
        F.count(F.lit(1)).alias("n"),
        davg(avg_col, "avg"),
        F.unix_micros(F.min(ts_col)).alias("first"),
        F.unix_micros(F.max(ts_col)).alias("last"),
    )


def latest_per_group(df: DataFrame, group_col: str, ts_col: str, tiebreak_col: str) -> DataFrame:
    """Greatest-n-per-group — the reference's only join-shaped operation, a
    correlated scalar subquery ``WHERE check_time = (SELECT MAX(check_time)
    ... WHERE same source)`` (``ethical_crawler.py:1437-1451``).

    Spark-first rewrite: ``row_number()`` over a window partitioned by the
    group — one shuffle on the group key, no self-join, no decorrelation
    needed. The unique tie-break makes "the" latest row deterministic where
    the reference's was engine-dependent.
    """
    w = Window.partitionBy(group_col).orderBy(F.desc(ts_col), F.desc(tiebreak_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def scalar_totals(stats: DataFrame, count_col: str) -> DataFrame:
    """Grand totals (``ethical_crawler.py:1068-1069``): total records and
    source count from the per-source stats — a single global aggregate row.
    """
    return stats.agg(
        F.sum(count_col).cast("long").alias("total_records"),
        F.count(F.lit(1)).cast("long").alias("total_sources"),
    )
