"""Data-quality / profiling queries over the star schema.

The reference's only data-quality machinery is the compliance gate and the
``pd.notna`` null guards (`ethical_crawler.py:1010-1029`); a production
catalog additionally profiles what it stores. Three first-class ops:
column-level profiling (the `DESCRIBE`-on-steroids every catalog UI shows),
exact percentiles via distributed rank-selection, and a referential-
integrity audit across the star schema's foreign keys.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..materialize import materialize
from ..registry import register

#: orders columns profiled, with a per-type min/max string normalization so
#: Spark and DuckDB render identical text (double -> DECIMAL(18,2) first;
#: timestamp -> explicit strftime; integers/strings verbatim).
_PROFILE_COLS = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _minmax_str_spark(col: str, kind: str, agg) -> F.Column:
    c = agg(F.col(col))
    if kind == "money":
        return c.cast("decimal(18,2)").cast("string")
    if kind == "ts":
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    return c.cast("string")


def _minmax_str_sql(col: str, kind: str, agg: str) -> str:
    c = f"{agg}({col})"
    if kind == "money":
        return f"CAST(CAST({c} AS DECIMAL(18,2)) AS VARCHAR)"
    if kind == "ts":
        return f"strftime({c}, '%Y-%m-%d %H:%M:%S')"
    return f"CAST({c} AS VARCHAR)"


def _guarded_pad(col: str, c: F.Column, width: int) -> F.Column:
    """lpad zero-padding orders correctly ONLY for non-negative numerics
    (a negative sorts lexicographically above positives), so the key
    asserts non-negativity per row instead of silently mis-ranking if
    ``_PROFILE_COLS`` ever gains a signed column. ``assert_true`` returns
    NULL on pass (so the ``when`` always takes the padded branch) and
    fails the query loudly on a negative."""
    guard = F.assert_true(
        c.isNull() | (c >= 0),
        F.lit(
            f"_profile_sort_key: negative value in {col}; zero-padded "
            "lexicographic key would rank it above positives"
        ),
    )
    return F.when(guard.isNull(), F.lpad(c.cast("string"), width, "0"))


def _profile_sort_key(col: str, kind: str) -> F.Column:
    """Fixed-width string key whose lexicographic order equals the native
    order (non-negative numerics zero-padded at a fixed decimal layout,
    with a per-row non-negativity assert; timestamps in a sortable render;
    strings verbatim) — lets ONE min_by/max_by aggregate rank every column
    type after unpivoting."""
    if kind == "int":
        return _guarded_pad(col, F.col(col), 20)
    if kind == "money":
        return _guarded_pad(col, F.col(col).cast("decimal(18,2)"), 25)
    if kind == "ts":
        return F.date_format(F.col(col), "yyyy-MM-dd HH:mm:ss")
    return F.col(col)


@register(
    "column_profile_orders",
    oracle="""
    SELECT * FROM (
    """
    + "\nUNION ALL\n".join(
        f"""
      SELECT '{col}' AS column_name,
             COUNT(*) AS n_rows,
             COUNT(*) - COUNT({col}) AS n_nulls,
             COUNT(DISTINCT {col}) AS n_distinct,
             {_minmax_str_sql(col, kind, 'MIN')} AS min_str,
             {_minmax_str_sql(col, kind, 'MAX')} AS max_str
      FROM orders
        """
        for col, kind in _PROFILE_COLS
    )
    + """
    ) ORDER BY column_name
    """,
)
def column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of ``orders``: row/null/distinct counts and
    min/max (as normalized strings) per column — the stats panel a data
    catalog computes on every ingested table.

    ONE scan (the oracle's 6-way UNION ALL re-scans per column — exactly
    the naive plan this op avoids): rows unpivot via ``stack`` into
    (column_name, normalized value, sortable key) — the same ×6 row
    expansion the multi-countDistinct rewrite would do internally — then
    a TWO-LEVEL aggregate: per (column, value) counts first (map-side
    combined, so the shuffle carries one row per distinct value), then
    per-column totals, null mass, distinct count (= surviving rows), and
    min_by/max_by over the order-preserving key. No COUNT DISTINCT
    rewrite anywhere. The earlier wide 6-countDistinct single-row
    aggregate spent ~4s per FRESH plan in analysis+codegen (execution:
    0.1s — the driver rebuilds the plan per call, so that tax was paid
    every time); this shape plans in ~0.2s and executes the same scan."""
    orders = load_table(spark, sf_dir, "orders")
    # stack() needs the normalized columns in scope first
    prepared = orders.select(
        *[
            _minmax_str_spark(col, kind, lambda c: c).alias(f"_v_{col}")
            for col, kind in _PROFILE_COLS
        ],
        *[
            _profile_sort_key(col, kind).alias(f"_k_{col}")
            for col, kind in _PROFILE_COLS
        ],
    )
    long = prepared.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, "
            + ", ".join(
                f"'{col}', _v_{col}, _k_{col}" for col, _ in _PROFILE_COLS
            )
            + ") AS (column_name, vstr, vkey)"
        )
    )
    lvl1 = long.groupBy("column_name", "vstr", "vkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        lvl1.groupBy("column_name")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.sum(
                F.when(F.col("vstr").isNull(), F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_nulls"),
            F.count("vstr").alias("n_distinct"),
            F.expr("min_by(vstr, vkey)").alias("min_str"),
            F.expr("max_by(vstr, vkey)").alias("max_str"),
        )
        .orderBy("column_name")
    )


_QS = [0.25, 0.5, 0.75, 0.95]


def _global_ranks(vals: DataFrame, *cols: str) -> tuple[DataFrame, int]:
    """TeraSort-style distributed global ranking over ``cols``: returns
    (``vals`` + a 0-based ``rn`` global rank column, total row count).

    A global ``row_number`` over one unbounded window would funnel every
    row through a single partition; instead: range-repartition on the sort
    key, count rows per range partition (a tiny per-partition histogram
    collected to the driver — |partitions| rows, never data rows),
    broadcast the cumulative offsets back, and add within-partition
    row_numbers. Every rank is globally correct while every sort stays
    partition-local. Shared by ``exact_order_percentiles`` and
    ``order_price_deciles`` via :func:`_ranked_order_prices`."""
    nparts = max(vals.sparkSession.sparkContext.defaultParallelism // 2, 8)
    # materialize() pins the range partitioning: the histogram job and
    # the ranking job below must see the SAME partition boundaries, and
    # repartitionByRange's reservoir sampling is not guaranteed stable
    # across re-executions of the exchange. (On a cluster, run this under
    # SPARK_GRAFT_MATERIALIZE=checkpoint — a disk-persist recompute after
    # executor loss could resample different boundaries.)
    parts = materialize(
        vals.repartitionByRange(nparts, *cols)
        .withColumn("pid", F.spark_partition_id())
    )
    hist = {
        r["pid"]: r["cnt"]
        for r in parts.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(hist):
        offsets[pid] = acc
        acc += hist[pid]
    off_df = F.broadcast(
        parts.sparkSession.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], "pid int, off long"
        )
    )
    w = Window.partitionBy("pid").orderBy(*cols)
    ranked = (
        parts.join(off_df, "pid")
        .withColumn("rn", F.row_number().over(w) - 1 + F.col("off"))
        .drop("pid", "off")
    )
    return ranked, acc


def _ranked_order_prices(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """(orders ranked globally by (o_totalprice, o_orderkey) with 0-based
    ``rn``, total count) — a ``materialize.shared`` session artifact:
    ``exact_order_percentiles`` and ``order_price_deciles`` both rank the
    same ``o_totalprice``, so the second query (and any repeat call in a
    session) reuses the pinned blocks instead of paying
    repartitionByRange + checkpoint + histogram again. Living in the
    shared store (not a module-level DataFrame ref) keeps it visible to
    the store's release discipline — an untracked pinned DataFrame would
    be freed out from under us by ``transient_release``.

    The o_orderkey tie-break makes the rank assignment a total order
    (deciles need that for deterministic bucket membership); percentile
    rank-selection is unaffected because any stable order over equal
    values yields the same value at every rank."""
    from ..materialize import shared, shared_value

    ranked = shared(
        ("ranked_orders", sf_dir),
        spark,
        lambda: _global_ranks(
            load_table(spark, sf_dir, "orders").select(
                "o_totalprice", "o_orderkey"
            ),
            "o_totalprice",
            "o_orderkey",
        )[0],
    )
    n = shared_value(("ranked_orders_n", sf_dir), spark, ranked.count)
    return ranked, n


@register(
    "exact_order_percentiles",
    oracle=f"""
    WITH ranked AS (
      SELECT o_totalprice AS v,
             ROW_NUMBER() OVER (ORDER BY o_totalprice) - 1 AS rn
      FROM orders
    ),
    n AS (SELECT COUNT(*) AS n FROM orders),
    pos AS (
      SELECT CAST(q AS DOUBLE) AS q,
             CAST(floor((n - 1) * CAST(q AS DOUBLE)) AS BIGINT) AS lo_rn,
             CAST(ceil((n - 1) * CAST(q AS DOUBLE)) AS BIGINT) AS hi_rn,
             (n - 1) * CAST(q AS DOUBLE) AS p
      FROM (VALUES {", ".join(f"({q})" for q in _QS)}) qs(q), n
    )
    SELECT pos.q AS q,
           lo.v + (pos.p - pos.lo_rn) * (hi.v - lo.v) AS pct
    FROM pos
    JOIN ranked lo ON lo.rn = pos.lo_rn
    JOIN ranked hi ON hi.rn = pos.hi_rn
    ORDER BY q
    """,
)
def exact_order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles of ``o_totalprice`` by distributed rank-selection
    — the complement of the sketch-based ``approx_order_stats``.

    Ranks come from the shared ``_ranked_order_prices`` materialization
    (range-repartition + broadcast per-partition offsets — no global
    window; one pinned copy serves this query AND ``order_price_deciles``
    in the same session). With the total count ``n`` known, the quantile
    ranks lo_rn/hi_rn are plain literals, so value extraction is ONE
    conditional aggregation over ONE scan of the pinned blocks — no
    joins, no extra AQE rounds (the earlier two-join form scanned the
    ranked table twice and benched 3.6 s inside the full suite; this
    shape is a single job). Both engines interpolate with the identical
    ``lo + f*(hi-lo)`` expression, so the doubles agree bit-for-bit with
    no rounding step at all.
    """
    ranked_full, n = _ranked_order_prices(spark, sf_dir)
    ranked = ranked_full.select(F.col("o_totalprice").alias("v"), "rn")
    import math

    pos_rows = [
        (q, math.floor((n - 1) * q), math.ceil((n - 1) * q), (n - 1) * q)
        for q in _QS
    ]
    needed = sorted({r for _, lo_rn, hi_rn, _ in pos_rows for r in (lo_rn, hi_rn)})
    # one row, one column per needed rank; the isin filter prunes the scan
    # before the agg so only |needed| rows survive the map side.
    vals_row = ranked.filter(F.col("rn").isin(needed)).agg(
        *[
            F.min(F.when(F.col("rn") == F.lit(r), F.col("v"))).alias(f"_r{r}")
            for r in needed
        ]
    )
    # fan the single row out to one row per quantile, interpolating with
    # literal p/lo_rn (driver-known scalars, not data-dependent values).
    q_cols = [
        F.struct(
            F.lit(q).alias("q"),
            (
                F.col(f"_r{lo_rn}")
                + (F.lit(p) - F.lit(float(lo_rn)))
                * (F.col(f"_r{hi_rn}") - F.col(f"_r{lo_rn}"))
            ).alias("pct"),
        )
        for q, lo_rn, hi_rn, p in pos_rows
    ]
    return (
        vals_row.select(F.explode(F.array(*q_cols)).alias("s"))
        .select("s.q", "s.pct")
        .orderBy("q")
    )


@register(
    "order_price_deciles",
    oracle="""
    WITH tiled AS (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile,
           COUNT(*) AS n_orders,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lo,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM tiled
    GROUP BY decile
    ORDER BY decile
    """,
)
def order_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile histogram of order value: NTILE over the price
    order (o_orderkey tie-break makes bucket membership total-order
    deterministic), then per-bucket count/bounds/mass — the optimizer-
    statistics histogram shape, and the revenue-concentration panel
    ("the top decile carries X% of spend").

    A literal ``F.ntile(10).over(Window.orderBy(...))`` plans a global
    single-partition window — every order row through one task. Instead:
    global ranks via the shared ``_ranked_order_prices`` materialization
    (range-repartition + broadcast offsets, all sorts partition-local —
    one pinned copy serves this query AND ``exact_order_percentiles``),
    then NTILE's bucket assignment in closed form — with n rows and k=10
    buckets, the first ``n % k`` buckets hold ``n//k + 1`` rows and the
    rest ``n//k``, so the bucket of 0-based rank rn is a pure expression
    in (rn, n). Exactly matches the oracle's NTILE semantics with zero
    global sort and no extra join."""
    ranked, n = _ranked_order_prices(spark, sf_dir)
    base, rem = divmod(n, 10)
    big = base + 1
    cut = rem * big
    rn = F.col("rn")
    if base == 0:
        # fewer rows than buckets: NTILE gives one row per bucket 1..n
        decile = (rn + 1).cast("int")
    else:
        decile = (
            F.when(rn < cut, F.floor(rn / big))
            .otherwise(rem + F.floor((rn - cut) / base))
            + 1
        ).cast("int")
    tiled = ranked.select("o_totalprice", decile.alias("decile"))
    money = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(money).cast("double").alias("lo"),
            F.max(money).cast("double").alias("hi"),
            F.sum(money).cast("double").alias("total_price"),
        )
        .orderBy("decile")
    )


@register(
    "group_order_percentiles",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority,
             o_totalprice AS v,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT o_orderpriority,
           MAX(n) AS n_orders,
           MAX(CASE WHEN rn = CAST(floor((n-1) * CAST(0.5 AS DOUBLE)) AS BIGINT) THEN v END)
             + ((MAX(n)-1) * CAST(0.5 AS DOUBLE) - floor((MAX(n)-1) * CAST(0.5 AS DOUBLE)))
             * (MAX(CASE WHEN rn = CAST(ceil((n-1) * CAST(0.5 AS DOUBLE)) AS BIGINT) THEN v END)
                - MAX(CASE WHEN rn = CAST(floor((n-1) * CAST(0.5 AS DOUBLE)) AS BIGINT) THEN v END))
             AS p50,
           MAX(CASE WHEN rn = CAST(floor((n-1) * CAST(0.95 AS DOUBLE)) AS BIGINT) THEN v END)
             + ((MAX(n)-1) * CAST(0.95 AS DOUBLE) - floor((MAX(n)-1) * CAST(0.95 AS DOUBLE)))
             * (MAX(CASE WHEN rn = CAST(ceil((n-1) * CAST(0.95 AS DOUBLE)) AS BIGINT) THEN v END)
                - MAX(CASE WHEN rn = CAST(floor((n-1) * CAST(0.95 AS DOUBLE)) AS BIGINT) THEN v END))
             AS p95
    FROM ranked
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def group_order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group percentiles (p50/p95 of order value per priority) —
    the partitioned complement of ``exact_order_percentiles``.

    Unlike the global case (where a bare window would funnel everything
    through one partition and rank-selection machinery is required),
    per-GROUP ranks need nothing special: ``row_number`` partitioned by
    the group key spreads groups across the cluster, and the quantile
    positions become per-row expressions in the group's size, so ONE
    windowed projection + ONE aggregate on the same key computes every
    group's interpolated percentiles. Catalyst reuses the window's hash
    partitioning for the aggregate — a single exchange end-to-end. Both
    engines interpolate with the identical ``lo + f·(hi−lo)`` doubles, so
    values hash-match with no rounding step."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    ranked = orders.select(
        "o_orderpriority",
        F.col("o_totalprice").alias("v"),
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def _pct(q: float) -> F.Column:
        pos = (F.col("n") - 1) * q
        lo = F.max(F.when(F.col("rn") == F.floor(pos), F.col("v")))
        hi = F.max(F.when(F.col("rn") == F.ceil(pos), F.col("v")))
        frac = F.max(pos - F.floor(pos))
        return lo + frac * (hi - lo)

    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_orders"),
            _pct(0.5).alias("p50"),
            _pct(0.95).alias("p95"),
        )
        .orderBy("o_orderpriority")
    )


#: (name, child table, child key, parent table, parent key) for every
#: foreign-key edge in the star schema.
_FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


@register(
    "fk_integrity_audit",
    oracle="""
    SELECT * FROM (
    """
    + "\nUNION ALL\n".join(
        f"""
      SELECT '{name}' AS relationship,
             (SELECT COUNT(*) FROM {child}) AS n_child,
             (SELECT COUNT(*) FROM {child} c
              WHERE c.{ckey} IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM {parent} p
                                WHERE p.{pkey} = c.{ckey})) AS n_orphans
        """
        for name, child, ckey, parent, pkey in _FK_EDGES
    )
    + """
    ) ORDER BY relationship
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for every FK edge of the star schema,
    the child row count and the number of orphaned children (non-null key
    with no parent). Spark has no FOREIGN KEY enforcement — this op IS the
    enforcement, run as a batch audit (the same role the reference's
    UNIQUE constraint + INSERT OR IGNORE plays for its catalog,
    `ethical_crawler.py:843,916`).

    Edges are grouped by child table: each child is scanned ONCE, with a
    left-joined presence marker per parent and a single aggregate emitting
    every edge's totals (lineitem's three edges cost one scan, not six).
    Dimension parents (region/nation/supplier/part/customer) broadcast;
    only lineitem->orders is a real shuffle join at scale, on the same key
    the fact table is naturally bucketed by. Each child's one-row result
    unpivots with stack into the audit panel."""
    from collections import defaultdict

    edges_by_child: dict[str, list[tuple[str, str, str, str]]] = defaultdict(list)
    for name, child, ckey, parent, pkey in _FK_EDGES:
        edges_by_child[child].append((name, ckey, parent, pkey))

    panels = []
    for child, edges in edges_by_child.items():
        # ONE pass over the child: left-join a presence marker per parent,
        # then a single aggregate emits every edge's (total, orphans).
        # The naive shape — one anti-join + one count PER edge — scans
        # lineitem six times; this scans it once.
        df = load_table(spark, sf_dir, child)
        for name, ckey, parent, pkey in edges:
            marker = f"_has_{parent}_{ckey}"
            parent_keys = (
                load_table(spark, sf_dir, parent)
                .select(F.col(pkey).alias(ckey))
                .distinct()
                .withColumn(marker, F.lit(1))
            )
            if parent != "orders":
                parent_keys = F.broadcast(parent_keys)
            df = df.join(parent_keys, ckey, "left")
        aggs = [F.count(F.lit(1)).alias("n_child")]
        for name, ckey, parent, pkey in edges:
            marker = f"_has_{parent}_{ckey}"
            aggs.append(
                F.sum(
                    (
                        F.col(ckey).isNotNull() & F.col(marker).isNull()
                    ).cast("long")
                ).alias(f"_orph_{marker}")
            )
        wide = df.agg(*aggs)
        stack_args = ", ".join(
            f"'{name}', n_child, _orph__has_{parent}_{ckey}"
            for name, ckey, parent, pkey in edges
        )
        panels.append(
            wide.select(
                F.expr(
                    f"stack({len(edges)}, {stack_args}) AS "
                    "(relationship, n_child, n_orphans)"
                )
            )
        )
    return reduce(DataFrame.unionByName, panels).orderBy("relationship")


@register(
    "robust_value_stats",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value AS v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    pct AS (
      SELECT event_type,
             MAX(n) AS n_events,
             MAX(CASE WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT) THEN v END)
               + ((MAX(n)-1) * 0.5 - floor((MAX(n)-1) * 0.5))
               * (MAX(CASE WHEN rn = CAST(ceil((n-1) * 0.5) AS BIGINT) THEN v END)
                  - MAX(CASE WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT) THEN v END))
               AS med,
             MAX(CASE WHEN rn = CAST(floor((n-1) * 0.25) AS BIGINT) THEN v END)
               + ((MAX(n)-1) * 0.25 - floor((MAX(n)-1) * 0.25))
               * (MAX(CASE WHEN rn = CAST(ceil((n-1) * 0.25) AS BIGINT) THEN v END)
                  - MAX(CASE WHEN rn = CAST(floor((n-1) * 0.25) AS BIGINT) THEN v END))
               AS p25,
             MAX(CASE WHEN rn = CAST(floor((n-1) * 0.75) AS BIGINT) THEN v END)
               + ((MAX(n)-1) * 0.75 - floor((MAX(n)-1) * 0.75))
               * (MAX(CASE WHEN rn = CAST(ceil((n-1) * 0.75) AS BIGINT) THEN v END)
                  - MAX(CASE WHEN rn = CAST(floor((n-1) * 0.75) AS BIGINT) THEN v END))
               AS p75
      FROM ranked GROUP BY event_type
    ),
    devs AS (
      SELECT e.event_type, abs(e.value - p.med) AS dev,
             ROW_NUMBER() OVER (PARTITION BY e.event_type
                                ORDER BY abs(e.value - p.med), e.event_id) - 1
               AS rn,
             COUNT(*) OVER (PARTITION BY e.event_type) AS n
      FROM events e JOIN pct p USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             MAX(CASE WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT) THEN dev END)
               + ((MAX(n)-1) * 0.5 - floor((MAX(n)-1) * 0.5))
               * (MAX(CASE WHEN rn = CAST(ceil((n-1) * 0.5) AS BIGINT) THEN dev END)
                  - MAX(CASE WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT) THEN dev END))
               AS mad
      FROM devs GROUP BY event_type
    )
    SELECT pct.event_type,
           n_events,
           ROUND(med, 6) AS med,
           ROUND(p75 - p25, 6) AS iqr,
           ROUND(mad.mad, 6) AS mad
    FROM pct JOIN mad USING (event_type)
    ORDER BY pct.event_type
    """,
)
def robust_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT robust dispersion statistics per event type: median, IQR, and
    MAD (median absolute deviation) — the outlier-resistant profile panel
    (mean/stddev melt under heavy tails; anomaly thresholds in production
    are ``med ± k·MAD``).

    MAD is genuinely two-round (the deviation distribution doesn't exist
    until the median is known): round 1 ranks values per group (partitioned
    window — groups spread across the cluster, nothing global) and selects
    interpolated p25/p50/p75 by rank; the |groups|-row result broadcasts
    back onto the events; round 2 ranks ``|v − med|`` the same way and
    selects its median. Two exchanges on the same group key total, no sort
    wider than a group, identical interpolation doubles both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        F.col("value").alias("v"),
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def _sel(q: float, col: str = "v") -> F.Column:
        pos = (F.col("n") - 1) * q
        lo = F.max(F.when(F.col("rn") == F.floor(pos), F.col(col)))
        hi = F.max(F.when(F.col("rn") == F.ceil(pos), F.col(col)))
        frac = F.max(pos - F.floor(pos))
        return lo + frac * (hi - lo)

    pct = ranked.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        _sel(0.5).alias("med"),
        _sel(0.25).alias("p25"),
        _sel(0.75).alias("p75"),
    )
    devs = ev.join(F.broadcast(pct.select("event_type", "med")), "event_type")
    dev = F.abs(F.col("value") - F.col("med"))
    w2 = Window.partitionBy("event_type").orderBy(dev, "event_id")
    ranked2 = devs.select(
        "event_type",
        dev.alias("dev"),
        (F.row_number().over(w2) - 1).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mad = ranked2.groupBy("event_type").agg(_sel(0.5, "dev").alias("mad"))
    return (
        pct.join(mad, "event_type")
        .select(
            "event_type",
            "n_events",
            F.round("med", 6).alias("med"),
            F.round(F.col("p75") - F.col("p25"), 6).alias("iqr"),
            F.round("mad", 6).alias("mad"),
        )
        .orderBy("event_type")
    )


@register(
    "order_revenue_reconciliation",
    oracle="""
    WITH fact AS (
      SELECT l_orderkey,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
                      AS DECIMAL(18,4))) AS revenue
      FROM lineitem GROUP BY l_orderkey
    ),
    recon AS (
      SELECT COALESCE(o.o_orderkey, f.l_orderkey) AS k,
             CASE
               WHEN o.o_orderkey IS NULL THEN 'orphan_lineitems'
               WHEN f.l_orderkey IS NULL THEN 'order_without_lineitems'
               WHEN abs(CAST(o.o_totalprice AS DECIMAL(18,4)) - f.revenue)
                    <= CAST(0.01 AS DECIMAL(18,4)) THEN 'match'
               ELSE 'drift'
             END AS status,
             CASE WHEN o.o_orderkey IS NOT NULL AND f.l_orderkey IS NOT NULL
                  THEN abs(CAST(o.o_totalprice AS DECIMAL(18,4)) - f.revenue)
                  ELSE CAST(0 AS DECIMAL(18,4)) END AS drift
      FROM orders o FULL OUTER JOIN fact f ON o.o_orderkey = f.l_orderkey
    )
    SELECT status,
           COUNT(*) AS n_orders,
           CAST(SUM(drift) AS DOUBLE) AS total_abs_drift
    FROM recon
    GROUP BY status
    ORDER BY status
    """,
)
def order_revenue_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-vs-rollup reconciliation: every order's header price against
    the revenue implied by its line items, via a FULL OUTER join —
    the audit an ingestion pipeline runs after every load ("does what we
    stored still add up, and which side is missing rows?"). Categories:
    ``match`` (|Δ| ≤ 1 cent), ``drift``, ``order_without_lineitems``,
    ``orphan_lineitems`` — the last two are the referential gaps
    ``fk_integrity_audit`` counts, here attributed to a side.

    The rollup combines map-side; the full-outer join shuffles both
    sides on the key they already aggregate on (Catalyst reuses the
    rollup's hash partitioning for the join — one exchange per side
    total); per-line money rounds to DECIMAL(18,4) before summing so the
    revenue is order-insensitive and engine-exact, and the drift |a−b|
    stays in DECIMAL(18,4) end-to-end (no double rounding step — a
    ROUND on doubles diverges between engines at .005 boundaries)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).cast("decimal(18,4)")
        ).alias("revenue")
    )
    joined = orders.join(
        fact, orders.o_orderkey == fact.l_orderkey, "full_outer"
    )
    both = F.col("o_orderkey").isNotNull() & F.col("l_orderkey").isNotNull()
    # all money comparisons in DECIMAL: the fixture's money doubles are
    # 2-decimal clean so the casts are exact, and decimal |a-b| needs no
    # rounding step (a double ROUND here hit the half-up vs half-even
    # divergence between engines on exact .005 boundaries).
    diff = F.abs(
        F.col("o_totalprice").cast("decimal(18,4)") - F.col("revenue")
    )
    status = (
        F.when(F.col("o_orderkey").isNull(), F.lit("orphan_lineitems"))
        .when(F.col("l_orderkey").isNull(), F.lit("order_without_lineitems"))
        .when(diff <= F.lit(0.01).cast("decimal(18,4)"), F.lit("match"))
        .otherwise(F.lit("drift"))
    )
    drift = F.when(both, diff).otherwise(F.lit(0).cast("decimal(18,4)"))
    return (
        joined.select(status.alias("status"), drift.alias("drift"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("drift").cast("double").alias("total_abs_drift"),
        )
        .orderBy("status")
    )


_PSI_BINS = 10
#: additive smoothing so empty bins stay ln-safe: share' = (n+1)/(N+bins).
_PSI_SMOOTH = 1


@register(
    "price_drift_psi",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(MIN(o_orderdate) AS DATE) AS dmin,
             CAST(MAX(o_orderdate) AS DATE) AS dmax
      FROM orders
    ),
    split AS (
      SELECT dmin + CAST(floor(date_diff('day', dmin, dmax) / 2.0) AS BIGINT)
               * INTERVAL 1 DAY AS mid
      FROM bounds
    ),
    tagged AS (
      SELECT o_totalprice AS v,
             CAST(o_orderdate AS DATE) < (SELECT mid FROM split) AS is_ref
      FROM orders
    ),
    refstats AS (
      SELECT MIN(v) AS vmin, MAX(v) AS vmax
      FROM tagged WHERE is_ref
    ),
    binned AS (
      SELECT least(greatest(CAST(floor((v - vmin)
                     / ((vmax - vmin) / {_PSI_BINS}.0)) AS BIGINT), 0),
                   {_PSI_BINS - 1}) AS bin,
             is_ref
      FROM tagged, refstats
    ),
    counts AS (
      SELECT bin,
             SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_n,
             SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cur_n
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT SUM(ref_n) AS ref_tot, SUM(cur_n) AS cur_tot FROM counts
    ),
    terms AS (
      SELECT bin, ref_n, cur_n,
             CAST(ROUND(
               ((ref_n + {_PSI_SMOOTH})::DOUBLE / (ref_tot + {_PSI_BINS * _PSI_SMOOTH})::DOUBLE
                - (cur_n + {_PSI_SMOOTH})::DOUBLE / (cur_tot + {_PSI_BINS * _PSI_SMOOTH})::DOUBLE)
               * ln(((ref_n + {_PSI_SMOOTH})::DOUBLE / (ref_tot + {_PSI_BINS * _PSI_SMOOTH})::DOUBLE)
                    / ((cur_n + {_PSI_SMOOTH})::DOUBLE / (cur_tot + {_PSI_BINS * _PSI_SMOOTH})::DOUBLE)),
               8) AS DECIMAL(18,8)) AS term
      FROM counts, tot
    )
    SELECT bin,
           CAST(ref_n AS BIGINT) AS ref_n,
           CAST(cur_n AS BIGINT) AS cur_n,
           CAST(term AS DOUBLE) AS psi_term,
           ROUND(CAST(SUM(term) OVER () AS DOUBLE), 6) AS psi_total
    FROM terms
    ORDER BY bin
    """,
)
def price_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor over order value: the
    fixture's time span splits at its midpoint date into a reference and a
    current period; prices bin into 10 equal-width buckets whose EDGES
    come from the reference period (the production convention — the
    monitoring bins are frozen when the model ships), and
    PSI = Σ (p−q)·ln(p/q) with +1 smoothing flags distribution shift
    (rule of thumb: >0.1 investigate, >0.25 act).

    Two passes over orders (bounds/reference stats, then binning) with the
    scalars riding 1-row cross joins — never a driver collect; the bin
    counts combine map-side into ≤10 rows, and every ln term is rounded
    to DECIMAL(18,8) before summing so the PSI is order-insensitive and
    engine-exact."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("dmin"),
        F.max(F.col("o_orderdate").cast("date")).alias("dmax"),
    ).select(
        F.expr(
            "date_add(dmin, CAST(floor(datediff(dmax, dmin) / 2.0) AS INT))"
        ).alias("mid")
    )
    tagged = orders.crossJoin(F.broadcast(bounds)).select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderdate").cast("date") < F.col("mid")).alias("is_ref"),
    )
    refstats = tagged.filter("is_ref").agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax")
    )
    width = (F.col("vmax") - F.col("vmin")) / float(_PSI_BINS)
    binned = tagged.crossJoin(F.broadcast(refstats)).select(
        F.least(
            F.greatest(
                F.floor((F.col("v") - F.col("vmin")) / width).cast("long"),
                F.lit(0),
            ),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
        "is_ref",
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_n"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("cur_n"),
    )
    tot = counts.agg(
        F.sum("ref_n").alias("ref_tot"), F.sum("cur_n").alias("cur_tot")
    )
    sm, smt = _PSI_SMOOTH, _PSI_BINS * _PSI_SMOOTH
    p = (F.col("ref_n") + sm).cast("double") / (
        F.col("ref_tot") + smt
    ).cast("double")
    q = (F.col("cur_n") + sm).cast("double") / (
        F.col("cur_tot") + smt
    ).cast("double")
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ref_n",
        "cur_n",
        F.round((p - q) * F.log(p / q), 8).cast("decimal(18,8)").alias("term"),
    )
    return terms.select(
        "bin",
        "ref_n",
        "cur_n",
        F.col("term").cast("double").alias("psi_term"),
        F.round(
            F.sum("term").over(Window.partitionBy()).cast("double"), 6
        ).alias("psi_total"),
    ).orderBy("bin")


@register(
    "price_drift_ks",
    oracle="""
    WITH t AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS tag
      FROM orders
    ),
    pv AS (
      SELECT v, CAST(SUM(tag) AS BIGINT) AS c1,
             CAST(SUM(1 - tag) AS BIGINT) AS c2
      FROM t GROUP BY v
    ),
    c AS (
      SELECT v,
             SUM(c1) OVER (ORDER BY v) AS cum1,
             SUM(c2) OVER (ORDER BY v) AS cum2
      FROM pv
    ),
    tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n_a, CAST(SUM(c2) AS BIGINT) AS n_b,
             COUNT(*) AS n_values
      FROM pv
    )
    SELECT tot.n_a, tot.n_b, tot.n_values,
           ROUND(MAX(ABS(c.cum1::DOUBLE / tot.n_a - c.cum2::DOUBLE / tot.n_b)), 6)
             AS ks_stat
    FROM c, tot
    WHERE tot.n_a > 0 AND tot.n_b > 0
    GROUP BY tot.n_a, tot.n_b, tot.n_values
    """,
)
def price_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the price
    distributions of urgent/high-priority orders and the rest — the
    distribution-shift detector that complements ``price_drift_psi``
    (PSI needs pre-frozen bins and saturates; KS is bin-free and exact).

    Distributed shape (the part DuckDB gets for free from its single-node
    sort): the empirical CDFs need a GLOBAL cumulative sum in value order,
    and a single unbounded window would funnel the table through one
    partition. Same cure as ``_global_ranks``: range-repartition on the
    value, aggregate per-partition (c1, c2) subtotals — a |partitions|-row
    histogram, the documented scalar-stat driver pattern, never data rows
    — broadcast prefix offsets back, and run partition-LOCAL cumulative
    windows on top. Ties across samples step both CDFs at once because
    counts aggregate per distinct value before ranking."""
    orders = load_table(spark, sf_dir, "orders")
    tag = (
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    )
    pv = (
        orders.select(F.col("o_totalprice").alias("v"), tag.alias("tag"))
        .groupBy("v")
        .agg(
            F.sum("tag").cast("long").alias("c1"),
            F.sum(1 - F.col("tag")).cast("long").alias("c2"),
        )
    )
    nparts = max(spark.sparkContext.defaultParallelism // 2, 8)
    parts = materialize(
        pv.repartitionByRange(nparts, "v").withColumn(
            "pid", F.spark_partition_id()
        )
    )
    hist = {
        r["pid"]: (r["s1"], r["s2"])
        for r in parts.groupBy("pid")
        .agg(F.sum("c1").alias("s1"), F.sum("c2").alias("s2"))
        .collect()
    }
    offsets, a1, a2 = {}, 0, 0
    for pid in sorted(hist):
        offsets[pid] = (a1, a2)
        a1 += hist[pid][0]
        a2 += hist[pid][1]
    if a1 == 0 or a2 == 0:
        # A one-sided (or empty) input has no two-sample statistic: the
        # CDF denominators below would be 0, Spark would emit a NULL
        # ks_stat row while the oracle's division-by-zero behaves
        # differently — short-circuit to an EMPTY result, mirrored by the
        # oracle's WHERE n_a > 0 AND n_b > 0 guard.
        return spark.createDataFrame(
            [], "n_a long, n_b long, n_values long, ks_stat double"
        )
    off_df = F.broadcast(
        spark.createDataFrame(
            [(pid, o1, o2) for pid, (o1, o2) in offsets.items()],
            "pid int, o1 long, o2 long",
        )
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = parts.join(off_df, "pid").select(
        (F.sum("c1").over(w) + F.col("o1")).alias("cum1"),
        (F.sum("c2").over(w) + F.col("o2")).alias("cum2"),
    )
    n_values = parts.count()
    return ranked.agg(
        F.round(
            F.max(
                F.abs(
                    F.col("cum1").cast("double") / F.lit(a1)
                    - F.col("cum2").cast("double") / F.lit(a2)
                )
            ),
            6,
        ).alias("ks_stat")
    ).select(
        F.lit(a1).alias("n_a"),
        F.lit(a2).alias("n_b"),
        F.lit(n_values).alias("n_values"),
        "ks_stat",
    )


# ---------------------------------------------------------------------------
# Round-5 widening: join-planning and profiling panels.

#: (table, key column) pairs every big join in the suite shuffles on —
#: the keys whose skew decides task stragglers at 100 TB.
_SKEW_COLS = [
    ("events", "user_id"),
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
]


def _skew_sql_one(tbl: str, col: str) -> str:
    return f"""
      SELECT '{tbl}.{col}' AS key_col,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             COUNT(*) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
             ROUND(MAX(cnt)::DOUBLE * COUNT(*)::DOUBLE / SUM(cnt)::DOUBLE, 4)
               AS skew_factor,
             ROUND(MAX(cnt)::DOUBLE / SUM(cnt)::DOUBLE, 6) AS top_key_share
      FROM (SELECT {col}, COUNT(*) AS cnt FROM {tbl} GROUP BY {col})
    """


@register(
    "join_skew_report",
    oracle="SELECT * FROM ("
    + " UNION ALL ".join(_skew_sql_one(t, c) for t, c in _SKEW_COLS)
    + ") ORDER BY key_col",
)
def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report: for every key the suite's big joins shuffle
    on — row count, distinct keys, the hottest key's row count, the skew
    factor (max/mean key size), and the hottest key's share of the table.
    This is the panel a 100-TB job author reads BEFORE picking a join
    strategy: skew_factor near 1 ⇒ plain shuffle join; tens ⇒ AQE skew
    splitting suffices; hundreds+ ⇒ reach for ``operators/skew.py``'s
    explicit salting. (The fixtures are deliberately skewed on
    ``events.user_id`` — the salted-join demos exist because of it.)

    One aggregation per key column (map-side combined — the shuffle
    carries one row per distinct key), then a second tiny agg per column;
    columns are independent and union at the end. max/mean and top-share
    are single divisions of exact integers, rounded identically in the
    mirror."""
    outs = []
    for tbl, col in _SKEW_COLS:
        per = (
            load_table(spark, sf_dir, tbl)
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        outs.append(
            per.agg(
                F.lit(f"{tbl}.{col}").alias("key_col"),
                F.sum("cnt").cast("long").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("cnt").cast("long").alias("max_key_rows"),
                F.round(
                    F.max("cnt").cast("double")
                    * F.count(F.lit(1)).cast("double")
                    / F.sum("cnt").cast("double"),
                    4,
                ).alias("skew_factor"),
                F.round(
                    F.max("cnt").cast("double") / F.sum("cnt").cast("double"),
                    6,
                ).alias("top_key_share"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs).orderBy("key_col")


#: lineitem numeric columns correlated pairwise; 2-decimal money/rate
#: values, so decimal accumulation keeps every sum EXACT.
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_sql() -> str:
    sums = ",\n             ".join(
        f"CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS s_{c},\n"
        f"             CAST(SUM(CAST({c} AS DECIMAL(18,2))"
        f" * CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS ss_{c}"
        for c in _CORR_COLS
    )
    xs = ",\n             ".join(
        f"CAST(SUM(CAST({a} AS DECIMAL(18,2)) * CAST({b} AS DECIMAL(18,2)))"
        f" AS DOUBLE) AS sp_{a}_{b}"
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    )
    pair_rows = " UNION ALL ".join(
        f"""SELECT '{a}' AS col_a, '{b}' AS col_b, n,
              ROUND((n * sp_{a}_{b} - s_{a} * s_{b})
                    / (sqrt(n * ss_{a} - s_{a} * s_{a})
                       * sqrt(n * ss_{b} - s_{b} * s_{b})), 6) AS corr
            FROM sums"""
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    )
    return f"""
    WITH sums AS (
      SELECT COUNT(*)::DOUBLE AS n,
             {sums},
             {xs}
      FROM lineitem
    )
    SELECT * FROM ({pair_rows}) ORDER BY col_a, col_b
    """


@register("corr_matrix_lineitem", oracle=_corr_sql())
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations between lineitem's numeric columns
    in ONE scan — the feature-relevance profile a modeling pipeline runs
    before training. All accumulation is DECIMAL-EXACT (2-decimal inputs,
    4-decimal products — partition-order-proof), so the correlation is a
    deterministic double expression over exact sums, identical on both
    engines and safe to hash after rounding; a naive double Σxy would
    hash-flicker with partition order."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = {c: F.col(c).cast("decimal(18,2)") for c in _CORR_COLS}
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(dec[c]).cast("double").alias(f"s_{c}"))
        aggs.append(F.sum(dec[c] * dec[c]).cast("double").alias(f"ss_{c}"))
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(F.sum(dec[a] * dec[b]).cast("double").alias(f"sp_{a}_{b}"))
    sums = li.agg(*aggs)
    n = F.col("n")
    rows = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            n.alias("n"),
            F.round(
                (n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}"))
                / (
                    F.sqrt(n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
                    * F.sqrt(n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
                ),
                6,
            ).alias("corr"),
        )
        for a, b in pairs
    ]
    return (
        sums.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.col_a", "r.col_b", "r.n", "r.corr")
        .orderBy("col_a", "col_b")
    )


#: Zone-map simulation: file count per layout and the probe predicates
#: (name, lo, hi) a date-partitioned scan would be asked to prune for.
_ZM_FILES = 32
_ZM_PREDS = (
    ("month", "1997-03-01", "1997-03-31"),
    ("quarter", "1998-01-01", "1998-03-31"),
    ("year", "1996-01-01", "1996-12-31"),
)


@register(
    "zonemap_pruning_stats",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d FROM orders
    ),
    b AS (SELECT MAX(k) AS maxk, MIN(d) AS mnd,
                 date_diff('day', MIN(d), MAX(d)) AS span FROM o),
    tagged AS (
      SELECT 'date_clustered' AS layout,
             CAST((date_diff('day', b.mnd, o.d) * {_ZM_FILES})
                  // (b.span + 1) AS INTEGER) AS f, o.d
      FROM o, b
      UNION ALL
      SELECT 'ingest' AS layout,
             CAST((o.k * {_ZM_FILES}) // (b.maxk + 1) AS INTEGER) AS f, o.d
      FROM o, b
    ),
    zm AS (
      SELECT layout, f, MIN(d) AS mn, MAX(d) AS mx,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM tagged GROUP BY layout, f
    ),
    preds AS (
      SELECT * FROM (VALUES
        {", ".join(f"('{n}', DATE '{lo}', DATE '{hi}')" for n, lo, hi in _ZM_PREDS)}
      ) p(pred, lo, hi)
    ),
    flagged AS (
      SELECT z.layout, p.pred, z.n_rows,
             CASE WHEN z.mx < p.lo OR z.mn > p.hi THEN 1 ELSE 0 END AS pruned
      FROM zm z, preds p
    ),
    per AS (
      SELECT layout, pred,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(pruned) AS BIGINT) AS n_pruned,
             CAST(SUM(CASE WHEN pruned = 0 THEN n_rows ELSE 0 END)
                  AS BIGINT) AS rows_scanned
      FROM flagged GROUP BY layout, pred
    ),
    hits AS (
      SELECT p.pred, CAST(COUNT(*) AS BIGINT) AS rows_matched
      FROM o JOIN preds p ON o.d BETWEEN p.lo AND p.hi
      GROUP BY p.pred
    )
    SELECT per.layout, per.pred, per.n_files, per.n_pruned,
           ROUND(per.n_pruned::DOUBLE / per.n_files::DOUBLE, 4)
             AS prune_pct,
           per.rows_scanned,
           COALESCE(h.rows_matched, 0) AS rows_matched,
           CASE WHEN per.rows_scanned > 0 THEN
             ROUND(COALESCE(h.rows_matched, 0)::DOUBLE
                   / per.rows_scanned::DOUBLE, 4) END AS scan_efficiency
    FROM per LEFT JOIN hits h ON h.pred = per.pred
    ORDER BY per.layout, per.pred
    """,
)
def zonemap_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max file statistics) pruning effectiveness under two
    storage layouts — the data-layout decision panel for a 100-TB table:
    split orders into {_ZM_FILES} simulated files either by INGEST order
    (key ranges) or DATE-CLUSTERED, compute each file's (min, max) order
    date — exactly the parquet footer / Iceberg manifest stats a scanner
    prunes on — and report, for three representative date predicates,
    how many files each layout lets the scanner skip and how many
    non-matching rows the survivors still drag in (`scan_efficiency`).
    The spread between the two layouts IS the business case for
    clustering/Z-ordering the table on its hot predicate column.

    One scan tags both layouts (exact integer/date arithmetic, no
    sampled partitioner), one rollup builds the {2}x{_ZM_FILES}-row
    zone-map table, and everything downstream operates on that tiny
    table against a 3-row broadcast predicate list. The oracle mirrors
    file assignment, zone maps, and the prune predicate row for row."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.to_date("o_orderdate").alias("d"),
    )
    b = F.broadcast(
        o.agg(
            F.max("k").alias("maxk"),
            F.min("d").alias("mnd"),
            F.datediff(F.max("d"), F.min("d")).alias("span"),
        )
    )
    ob = o.crossJoin(b)
    fdate = F.floor(
        (F.datediff(F.col("d"), F.col("mnd")) * _ZM_FILES)
        / (F.col("span") + 1)
    ).cast("int")
    fkey = F.floor((F.col("k") * _ZM_FILES) / (F.col("maxk") + 1)).cast("int")
    tagged = ob.select(
        F.lit("date_clustered").alias("layout"), fdate.alias("f"), "d"
    ).union(ob.select(F.lit("ingest").alias("layout"), fkey.alias("f"), "d"))
    zm = tagged.groupBy("layout", "f").agg(
        F.min("d").alias("mn"),
        F.max("d").alias("mx"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    preds = F.broadcast(
        spark.createDataFrame(
            [(n, lo, hi) for n, lo, hi in _ZM_PREDS],
            schema="pred string, lo string, hi string",
        ).select("pred", F.to_date("lo").alias("lo"), F.to_date("hi").alias("hi"))
    )
    flagged = zm.crossJoin(preds).withColumn(
        "pruned",
        ((F.col("mx") < F.col("lo")) | (F.col("mn") > F.col("hi"))).cast(
            "long"
        ),
    )
    per = flagged.groupBy("layout", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("pruned").cast("long").alias("n_pruned"),
        F.sum(F.when(F.col("pruned") == 0, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
    )
    hits = F.broadcast(
        o.crossJoin(preds)
        .filter(F.col("d").between(F.col("lo"), F.col("hi")))
        .groupBy("pred")
        .agg(F.count(F.lit(1)).cast("long").alias("rows_matched"))
    )
    return (
        per.join(hits, "pred", "left")
        .select(
            "layout",
            "pred",
            "n_files",
            "n_pruned",
            F.round(
                F.col("n_pruned").cast("double")
                / F.col("n_files").cast("double"),
                4,
            ).alias("prune_pct"),
            "rows_scanned",
            F.coalesce("rows_matched", F.lit(0))
            .cast("long")
            .alias("rows_matched"),
            F.when(
                F.col("rows_scanned") > 0,
                F.round(
                    F.coalesce("rows_matched", F.lit(0)).cast("double")
                    / F.col("rows_scanned").cast("double"),
                    4,
                ),
            ).alias("scan_efficiency"),
        )
        .orderBy("layout", "pred")
    )


#: Z-order demo grid: 8x8 buckets -> 6-bit Morton code -> 64 files in
#: both compared layouts.
_Z_GRID = 8
_Z_FILES = _Z_GRID * _Z_GRID

#: SQL fragment interleaving two 3-bit bucket ids (x bits at 0/2/4,
#: y bits at 1/3/5) — identical operators in Spark SQL and DuckDB.
_MORTON = (
    "(({x} & 1) | (({y} & 1) << 1) | (({x} & 2) << 1)"
    " | (({y} & 2) << 2) | (({x} & 4) << 2) | (({y} & 4) << 3))"
)


@register(
    "zorder_pruning_stats",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d FROM orders
    ),
    b AS (SELECT MAX(c) AS maxc, MIN(d) AS mnd,
                 date_diff('day', MIN(d), MAX(d)) AS span FROM o),
    bk AS (
      SELECT o.c, o.d,
             CAST((date_diff('day', b.mnd, o.d) * {_Z_GRID})
                  // (b.span + 1) AS INTEGER) AS xb,
             CAST((o.c * {_Z_GRID}) // (b.maxc + 1) AS INTEGER) AS yb
      FROM o, b
    ),
    tagged AS (
      SELECT 'date_clustered' AS layout,
             CAST((date_diff('day', b2.mnd, bk.d) * {_Z_FILES})
                  // (b2.span + 1) AS INTEGER) AS f, c, d
      FROM bk, b b2
      UNION ALL
      SELECT 'zorder' AS layout,
             {_MORTON.format(x='xb', y='yb')} AS f, c, d FROM bk
    ),
    zm AS (
      SELECT layout, f, MIN(d) AS mnd, MAX(d) AS mxd,
             MIN(c) AS mnc, MAX(c) AS mxc,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM tagged GROUP BY layout, f
    ),
    preds AS (
      SELECT 'date_band' AS pred, DATE '1997-01-01' AS dlo,
             DATE '1997-06-30' AS dhi,
             0 AS clo, b.maxc AS chi FROM b
      UNION ALL
      SELECT 'cust_band', b.mnd, (b.mnd + b.span * INTERVAL '1 day')::DATE, 0, b.maxc // 4 FROM b
      UNION ALL
      SELECT 'date_cust_box', DATE '1997-01-01', DATE '1997-06-30',
             0, b.maxc // 4 FROM b
    ),
    flagged AS (
      SELECT z.layout, p.pred, z.n_rows,
             CASE WHEN z.mxd < p.dlo OR z.mnd > p.dhi
                    OR z.mxc < p.clo OR z.mnc > p.chi
                  THEN 1 ELSE 0 END AS pruned
      FROM zm z, preds p
    ),
    per AS (
      SELECT layout, pred,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(pruned) AS BIGINT) AS n_pruned,
             CAST(SUM(CASE WHEN pruned = 0 THEN n_rows ELSE 0 END)
                  AS BIGINT) AS rows_scanned
      FROM flagged GROUP BY layout, pred
    ),
    hits AS (
      SELECT p.pred, CAST(COUNT(*) AS BIGINT) AS rows_matched
      FROM o JOIN preds p
        ON o.d BETWEEN p.dlo AND p.dhi AND o.c BETWEEN p.clo AND p.chi
      GROUP BY p.pred
    )
    SELECT per.layout, per.pred, per.n_files, per.n_pruned,
           ROUND(per.n_pruned::DOUBLE / per.n_files::DOUBLE, 4)
             AS prune_pct,
           per.rows_scanned,
           COALESCE(h.rows_matched, 0) AS rows_matched
    FROM per LEFT JOIN hits h ON h.pred = per.pred
    ORDER BY per.layout, per.pred
    """,
)
def zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-interleaved) layout vs single-column clustering,
    probed with two-dimensional predicates — the second chapter of the
    layout story `zonemap_pruning_stats` opens: a date-clustered table
    prunes date bands brilliantly and customer bands not at all; the
    Z-ordered table trades a little date-pruning for pruning on BOTH
    dimensions, which is exactly the Databricks/Iceberg Z-ORDER BY
    pitch, here measured instead of asserted. The 1-D comparison layout
    is 64 DATE ranges; the Z-layout interleaves 8x8 buckets into a
    6-bit Morton code = 64 files, so prune percentages compare
    directly; zone maps carry (min, max) of BOTH columns like a real
    parquet footer.

    Everything is exact integer/date/bit arithmetic (the Morton
    interleave is the same &/<<-expression in both engines — bits at
    positions 0/2/4 and 1/3/5), so the oracle mirrors file assignment,
    zone maps, and the 2-D prune test row for row."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.to_date("o_orderdate").alias("d"),
    )
    # hint placement: the hint lives at each JOIN USE (crossJoin below /
    # the preds branches), never on `glob` itself — a hint nested under
    # a Union branch is orphaned from any join relation and silently
    # discarded (HintErrorLogger).
    glob = o.agg(
        F.max("c").alias("maxc"),
        F.min("d").alias("mnd"),
        F.datediff(F.max("d"), F.min("d")).alias("span"),
    )
    b = F.broadcast(glob)
    bk = o.crossJoin(b).select(
        "c",
        "d",
        "maxc",
        "mnd",
        "span",
        F.floor(
            (F.datediff(F.col("d"), F.col("mnd")) * _Z_GRID)
            / (F.col("span") + 1)
        )
        .cast("int")
        .alias("xb"),
        F.floor((F.col("c") * _Z_GRID) / (F.col("maxc") + 1))
        .cast("int")
        .alias("yb"),
    )
    morton = F.expr(_MORTON.format(x="xb", y="yb"))
    fdate = F.floor(
        (F.datediff(F.col("d"), F.col("mnd")) * _Z_FILES)
        / (F.col("span") + 1)
    ).cast("int")
    tagged = bk.select(
        F.lit("date_clustered").alias("layout"),
        fdate.alias("f"),
        "c",
        "d",
    ).union(
        bk.select(
            F.lit("zorder").alias("layout"), morton.alias("f"), "c", "d"
        )
    )
    zm = tagged.groupBy("layout", "f").agg(
        F.min("d").alias("mnd_f"),
        F.max("d").alias("mxd"),
        F.min("c").alias("mnc"),
        F.max("c").alias("mxc"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    preds = F.broadcast(
        glob.select(
            F.lit("date_band").alias("pred"),
            F.to_date(F.lit("1997-01-01")).alias("dlo"),
            F.to_date(F.lit("1997-06-30")).alias("dhi"),
            F.lit(0).cast("long").alias("clo"),
            F.col("maxc").alias("chi"),
        )
        .union(
            glob.select(
                F.lit("cust_band"),
                F.col("mnd"),
                F.date_add(F.col("mnd"), F.col("span")),
                F.lit(0).cast("long"),
                F.floor(F.col("maxc") / 4).cast("long"),
            )
        )
        .union(
            glob.select(
                F.lit("date_cust_box"),
                F.to_date(F.lit("1997-01-01")),
                F.to_date(F.lit("1997-06-30")),
                F.lit(0).cast("long"),
                F.floor(F.col("maxc") / 4).cast("long"),
            )
        )
    )
    flagged = zm.crossJoin(preds).withColumn(
        "pruned",
        (
            (F.col("mxd") < F.col("dlo"))
            | (F.col("mnd_f") > F.col("dhi"))
            | (F.col("mxc") < F.col("clo"))
            | (F.col("mnc") > F.col("chi"))
        ).cast("long"),
    )
    per = flagged.groupBy("layout", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("pruned").cast("long").alias("n_pruned"),
        F.sum(F.when(F.col("pruned") == 0, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
    )
    hits = F.broadcast(
        o.crossJoin(preds)
        .filter(
            F.col("d").between(F.col("dlo"), F.col("dhi"))
            & F.col("c").between(F.col("clo"), F.col("chi"))
        )
        .groupBy("pred")
        .agg(F.count(F.lit(1)).cast("long").alias("rows_matched"))
    )
    return (
        per.join(hits, "pred", "left")
        .select(
            "layout",
            "pred",
            "n_files",
            "n_pruned",
            F.round(
                F.col("n_pruned").cast("double")
                / F.col("n_files").cast("double"),
                4,
            ).alias("prune_pct"),
            "rows_scanned",
            F.coalesce("rows_matched", F.lit(0))
            .cast("long")
            .alias("rows_matched"),
        )
        .orderBy("layout", "pred")
    )


@register(
    "sample_size_planner",
    oracle="""
    WITH st AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(18,2))) AS s1,
             SUM(CAST(ROUND(l_extendedprice * l_extendedprice, 4)
                      AS DECIMAL(28,4))) AS s2
      FROM lineitem GROUP BY l_returnflag
    ),
    mv AS (
      SELECT l_returnflag, n,
             s1::DOUBLE / n::DOUBLE AS mean,
             sqrt((s2::DOUBLE - (s1::DOUBLE / n::DOUBLE) * s1::DOUBLE)
                  / (n - 1)::DOUBLE) AS sd
      FROM st
    )
    SELECT l_returnflag, n AS n_rows,
           ROUND(mean, 4) AS mean_price,
           ROUND(sd, 4) AS sd_price,
           CAST(ceil((1.96 * sd / (0.01 * mean))
                     * (1.96 * sd / (0.01 * mean))) AS BIGINT)
             AS n_req_1pct,
           ROUND(least(ceil((1.96 * sd / (0.01 * mean))
                            * (1.96 * sd / (0.01 * mean)))
                       / n::DOUBLE, 1.0), 6) AS frac_needed,
           ROUND(1.96 * sd / sqrt(0.01 * n::DOUBLE) / mean, 6)
             AS margin_at_1pct
    FROM mv ORDER BY l_returnflag
    """,
)
def sample_size_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQP sample-size planning per returnflag stratum: from each
    stratum's price mean and standard deviation, the sample size needed
    for a +/-1% relative margin at 95% confidence (n = (z*sd/(0.01*mu))^2),
    the fraction of the stratum that sample represents, and — the other
    direction — the margin a flat 1% sample would actually achieve. The
    design-side complement of `sampled_revenue_estimate` (which MEASURES
    the error of one realized sample): a 100-TB job author reads this
    panel first to decide whether approximate results are even worth the
    sampling pass, and at what rate. High-variance strata (high sd/mu)
    visibly demand disproportionate sample.

    Float discipline: prices are 2-dp values, so round-2/round-4 DECIMAL
    quantization of x and x^2 makes the moment sums order-insensitive
    exact; mean/sd/n_req are then one mirrored double expression
    (ceil of identical doubles is identical). Scale shape: one
    map-side-combined moments pass, |strata| rows after."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice")
    st = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(p, 2).cast("decimal(18,2)")).alias("s1"),
        F.sum(F.round(p * p, 4).cast("decimal(28,4)")).alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    sd = F.sqrt(
        (F.col("s2").cast("double") - mean * F.col("s1").cast("double"))
        / (F.col("n") - 1).cast("double")
    )
    mv = st.select("l_returnflag", "n", mean.alias("mean"), sd.alias("sd"))
    x = F.lit(1.96) * F.col("sd") / (F.lit(0.01) * F.col("mean"))
    nreq = F.ceil(x * x)
    return mv.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.round("mean", 4).alias("mean_price"),
        F.round("sd", 4).alias("sd_price"),
        nreq.cast("long").alias("n_req_1pct"),
        F.round(
            F.least(nreq.cast("double") / F.col("n").cast("double"), F.lit(1.0)),
            6,
        ).alias("frac_needed"),
        F.round(
            F.lit(1.96)
            * F.col("sd")
            / F.sqrt(F.lit(0.01) * F.col("n").cast("double"))
            / F.col("mean"),
            6,
        ).alias("margin_at_1pct"),
    ).orderBy("l_returnflag")


@register(
    "imputation_audit",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS pri, o_totalprice AS p,
             (('0x' || substr(md5('imp:' || CAST(o_orderkey AS VARCHAR)),
                              1, 8))::BIGINT % 10 = 0) AS masked
      FROM orders
    ),
    st AS (
      SELECT pri,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_masked,
             SUM(CASE WHEN NOT masked
                 THEN CAST(ROUND(p, 2) AS DECIMAL(18,2)) END) AS s_keep,
             SUM(CASE WHEN masked
                 THEN CAST(ROUND(p, 2) AS DECIMAL(18,2)) END) AS s_mask
      FROM m GROUP BY pri
    ),
    iv AS (
      SELECT pri, n_rows, n_masked, s_mask,
             ROUND(s_keep::DOUBLE / (n_rows - n_masked)::DOUBLE, 6) AS imp
      FROM st
    ),
    ae AS (
      SELECT m.pri,
             SUM(CAST(ROUND(abs(m.p - iv.imp), 4) AS DECIMAL(18,4))) AS sae
      FROM m JOIN iv USING (pri) WHERE m.masked
      GROUP BY m.pri
    )
    SELECT iv.pri AS o_orderpriority, iv.n_rows, iv.n_masked,
           iv.imp AS imputed_value,
           CASE WHEN iv.n_masked > 0
                THEN ROUND(iv.s_mask::DOUBLE / iv.n_masked::DOUBLE, 4)
           END AS true_mean_masked,
           CASE WHEN iv.n_masked > 0
                THEN ROUND(ae.sae::DOUBLE / iv.n_masked::DOUBLE, 4)
           END AS mae,
           CASE WHEN iv.n_masked > 0
                THEN ROUND((iv.imp
                            - iv.s_mask::DOUBLE / iv.n_masked::DOUBLE)
                           / (iv.s_mask::DOUBLE / iv.n_masked::DOUBLE), 6)
           END AS rel_bias
    FROM iv LEFT JOIN ae ON ae.pri = iv.pri
    ORDER BY o_orderpriority
    """,
)
def imputation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation audit: a deterministic 10% of order
    totals is masked (md5 residue of the order key — the same
    engine-independent hash idiom as the sampling family), each masked
    value is imputed with its priority stratum's mean-of-observed, and
    the panel scores the imputation against the held-out truth: MAE and
    relative bias per stratum. Because masking is hash-random, bias
    should sit near zero and MAE near the stratum's mean absolute
    deviation — a stratum where it doesn't is one where missingness
    would NOT be ignorable and mean-imputation would distort training
    data. This is the audit a pipeline runs BEFORE switching on any
    fill-null step at 100 TB (a production run swaps the hash mask for
    the real missingness pattern; nothing else changes).

    Float discipline: 2-dp order totals quantized to DECIMAL for all
    sums; the imputed value is pinned at round-6 so the per-row absolute
    errors are reproducible; every division ANSI-guarded on the masked
    count (mirrored CASE/NULL). Scale shape: two map-side-combined
    passes over orders (moments, then errors against the broadcast
    |strata|-row imputation table)."""
    o = load_table(spark, sf_dir, "orders")
    masked = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("imp:"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10
        == 0
    )
    m = materialize(
        o.select(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_totalprice").alias("p"),
            masked.alias("masked"),
        )
    )
    p2 = F.round(F.col("p"), 2).cast("decimal(18,2)")
    st = m.groupBy("pri").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("masked"), 1).otherwise(0))
        .cast("long")
        .alias("n_masked"),
        F.sum(F.when(~F.col("masked"), p2)).alias("s_keep"),
        F.sum(F.when(F.col("masked"), p2)).alias("s_mask"),
    )
    iv = st.select(
        "pri",
        "n_rows",
        "n_masked",
        "s_mask",
        F.round(
            F.col("s_keep").cast("double")
            / (F.col("n_rows") - F.col("n_masked")).cast("double"),
            6,
        ).alias("imp"),
    )
    ae = (
        m.filter(F.col("masked"))
        .join(F.broadcast(iv.select("pri", "imp")), "pri")
        .groupBy("pri")
        .agg(
            F.sum(
                F.round(F.abs(F.col("p") - F.col("imp")), 4).cast(
                    "decimal(18,4)"
                )
            ).alias("sae")
        )
    )
    tm = F.col("s_mask").cast("double") / F.col("n_masked").cast("double")
    nm_pos = F.col("n_masked") > 0
    return (
        iv.join(ae, "pri", "left")
        .select(
            F.col("pri").alias("o_orderpriority"),
            "n_rows",
            "n_masked",
            F.col("imp").alias("imputed_value"),
            F.when(nm_pos, F.round(tm, 4)).alias("true_mean_masked"),
            F.when(
                nm_pos,
                F.round(
                    F.col("sae").cast("double")
                    / F.col("n_masked").cast("double"),
                    4,
                ),
            ).alias("mae"),
            F.when(nm_pos, F.round((F.col("imp") - tm) / tm, 6)).alias(
                "rel_bias"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "revenue_gini_stats",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey AS nat, c.c_custkey AS ck,
             COALESCE(SUM(CAST(ROUND(o.o_totalprice, 2)
                               AS DECIMAL(18,2))),
                      CAST(0 AS DECIMAL(18,2))) AS rev
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    rk AS (
      SELECT nat, rev,
             ROW_NUMBER() OVER (PARTITION BY nat ORDER BY rev, ck) AS i,
             COUNT(*) OVER (PARTITION BY nat) AS n
      FROM rev
    ),
    agg AS (
      SELECT nat, CAST(MAX(n) AS BIGINT) AS n,
             SUM(rev) AS s,
             SUM(CAST(CAST(i AS DECIMAL(18,0)) * rev
                      AS DECIMAL(38,2))) AS si,
             SUM(CASE WHEN i > n - CAST(ceil(n::DOUBLE / 10.0) AS BIGINT)
                      THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS stop
      FROM rk GROUP BY nat
    )
    SELECT nat AS c_nationkey, n AS n_cust,
           ROUND(s::DOUBLE, 2) AS total_rev,
           CASE WHEN s > 0
                THEN ROUND(2.0 * si::DOUBLE / (n::DOUBLE * s::DOUBLE)
                           - (n + 1)::DOUBLE / n::DOUBLE, 6)
           END AS gini,
           CASE WHEN s > 0
                THEN ROUND(stop::DOUBLE / s::DOUBLE, 6)
           END AS top10pct_share
    FROM agg ORDER BY c_nationkey
    """,
)
def revenue_gini_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per nation: the Gini coefficient of
    customer lifetime revenue (zero-revenue customers included — the
    honest inequality base) plus the share held by the top revenue
    decile. The skew panel at the BUSINESS-key level, complementing
    `join_skew_report` (shuffle-key skew) and the salting family: a
    Gini near 1 in a partition-key dimension is exactly the warning
    that hash-partitioning on it will hotspot and the 10% head deserves
    the salted path.

    Gini via the rank identity G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n
    over ascending (revenue, custkey) ranks — one per-nation window
    sort, integer ranks and DECIMAL revenue products so both moment
    sums are order-insensitive exact; the final formula is a mirrored
    double expression, NULL-guarded for a zero-revenue nation. Scale
    shape: revenue rollup is map-side combined on the order side
    before the customer join; the only heavy step is the per-nation
    rank sort, which partitions by nation and scales out."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        cust.select(
            F.col("c_nationkey").alias("nat"),
            F.col("c_custkey").alias("ck"),
        )
        .join(
            orders.groupBy(F.col("o_custkey").alias("ck")).agg(
                F.sum(
                    F.round("o_totalprice", 2).cast("decimal(18,2)")
                ).alias("orev")
            ),
            "ck",
            "left",
        )
        .select(
            "nat",
            "ck",
            F.coalesce(
                F.col("orev"), F.lit(0).cast("decimal(18,2)")
            ).alias("rev"),
        )
    )
    wrk = Window.partitionBy("nat").orderBy("rev", "ck")
    wn = Window.partitionBy("nat")
    rk = rev.select(
        "nat",
        "rev",
        F.row_number().over(wrk).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    k = F.ceil(F.col("n").cast("double") / 10.0).cast("long")
    agg = rk.groupBy("nat").agg(
        F.max("n").cast("long").alias("n"),
        F.sum("rev").alias("s"),
        F.sum(
            (F.col("i").cast("decimal(18,0)") * F.col("rev")).cast(
                "decimal(38,2)"
            )
        ).alias("si"),
        F.sum(
            F.when(F.col("i") > F.col("n") - k, F.col("rev")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("stop"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    pos = F.col("s") > 0
    return agg.select(
        F.col("nat").alias("c_nationkey"),
        F.col("n").alias("n_cust"),
        F.round(sd, 2).alias("total_rev"),
        F.when(
            pos,
            F.round(
                F.lit(2.0) * F.col("si").cast("double") / (nd * sd)
                - (F.col("n") + 1).cast("double") / nd,
                6,
            ),
        ).alias("gini"),
        F.when(
            pos, F.round(F.col("stop").cast("double") / sd, 6)
        ).alias("top10pct_share"),
    ).orderBy("c_nationkey")


@register(
    "rfm_segmentation",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS ck,
             MAX(o_orderdate) AS last_d,
             CAST(COUNT(*) AS BIGINT) AS f,
             SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS m
      FROM orders GROUP BY o_custkey
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per),
    rq AS (SELECT ck,
                  (ROW_NUMBER() OVER (ORDER BY last_d, ck) - 1) * 5
                    // n.n + 1 AS r_q
           FROM per, n),
    fq AS (SELECT ck,
                  (ROW_NUMBER() OVER (ORDER BY f, ck) - 1) * 5
                    // n.n + 1 AS f_q
           FROM per, n),
    mq AS (SELECT ck, m,
                  (ROW_NUMBER() OVER (ORDER BY m, ck) - 1) * 5
                    // n.n + 1 AS m_q
           FROM per, n)
    SELECT rq.r_q, fq.f_q,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           ROUND(SUM(mq.m)::DOUBLE / COUNT(*), 4) AS avg_monetary,
           ROUND(SUM(mq.m_q)::DOUBLE / COUNT(*), 4) AS avg_m_score
    FROM rq JOIN fq USING (ck) JOIN mq USING (ck)
    GROUP BY rq.r_q, fq.f_q
    ORDER BY r_q, f_q
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation heatmap: every ordering customer scored into
    recency / frequency / monetary quintiles (1 = oldest / least /
    smallest ... 5 = most recent / most / largest), then the (R, F) grid
    with each cell's population, mean lifetime revenue, and mean
    monetary score — the classic churn-vs-champion panel (high-R high-F
    cells should light up in monetary too; a high-F low-R cell is the
    at-risk segment a re-engagement pipeline pulls).

    Quintile assignment needs each customer's GLOBAL rank per metric —
    the scale trap this panel exists to demonstrate: a single unbounded
    row_number window funnels everything through one partition, so ranks
    come from the TeraSort-style `_global_ranks` helper
    (range-repartition + per-partition offsets; every sort stays
    partition-local) shared with the exact-percentile family, and the
    quintile is pure rank arithmetic floor(rn*5/n)+1 — no ntile. Ranks
    and counts are integers, monetary sums DECIMAL: hash-exact.

    All three metrics ride ONE rank pass (round-8 verdict item 7; was 3
    TeraSort passes + a 3-way self-join, pure scheduling floor): melt to
    (metric, value, ck) — values coerced to DECIMAL(38,6), exact for
    epoch-days, counts, and DECIMAL(18,2) sums — range-rank the melt on
    (metric, value, ck), and since every metric contributes exactly n
    rows, the per-metric rank is just rn - metric·n. The quintiles then
    pivot back per customer in the same aggregation that feeds the
    grid."""
    orders = load_table(spark, sf_dir, "orders")
    # no pin: `per` feeds exactly one consumer now (the melt) — the old
    # 3-pass shape needed it three times
    per = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max("o_orderdate").alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("f"),
        F.sum(
            F.round("o_totalprice", 2).cast("decimal(18,2)")
        ).alias("m"),
    )
    melt = per.select(
        "ck",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("mi"),
                    F.datediff(F.col("last_d"), F.lit("1970-01-01"))
                    .cast("decimal(38,6)")
                    .alias("v"),
                ),
                F.struct(
                    F.lit(1).alias("mi"),
                    F.col("f").cast("decimal(38,6)").alias("v"),
                ),
                F.struct(
                    F.lit(2).alias("mi"),
                    F.col("m").cast("decimal(38,6)").alias("v"),
                ),
            )
        ).alias("x"),
    ).select("ck", "x.mi", "x.v")
    ranked, ntot = _global_ranks(melt, "mi", "v", "ck")
    n = ntot // 3
    q = ((F.col("rn") - F.col("mi") * n) * 5 / F.lit(n)).cast("long") + 1
    piv = ranked.select("ck", "mi", "v", q.alias("q")).groupBy("ck").agg(
        F.max(F.when(F.col("mi") == 0, F.col("q"))).alias("r_q"),
        F.max(F.when(F.col("mi") == 1, F.col("q"))).alias("f_q"),
        F.max(F.when(F.col("mi") == 2, F.col("q"))).alias("m_q"),
        F.max(F.when(F.col("mi") == 2, F.col("v"))).alias("m"),
    )
    na = F.count(F.lit(1))
    return (
        piv.groupBy("r_q", "f_q")
        .agg(
            na.cast("long").alias("n_cust"),
            F.round(F.sum("m").cast("double") / na, 4).alias(
                "avg_monetary"
            ),
            F.round(F.sum("m_q").cast("double") / na, 4).alias(
                "avg_m_score"
            ),
        )
        .orderBy("r_q", "f_q")
    )


@register(
    "quality_vs_dup_lift",
    oracle=None,  # set below — needs text_q's shared CTE at import time
)
def quality_vs_dup_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the quality score predict duplication? Documents ranked into
    quality-score deciles (decile 1 = lowest z), each decile scored by
    its exact-duplicate membership rate and the cumulative share of all
    duplicates captured — the lift curve a curation team reads before
    wiring "drop the bottom quality decile" as a cheap pre-dedup filter:
    if dups concentrate in the low deciles, the quality screen is doing
    part of dedup's job for free; a flat curve (this fixture — text and
    duplication are generated independently, noted honestly) says the
    two screens are orthogonal and BOTH must run.

    Reuses two shared artifacts: the frozen-weight quality score
    (`text_q.quality_z_df` / `QUALITY_Z_CTE` — bit-deterministic across
    engines) and the exact-dup fingerprint (md5 of normalized text, the
    `dedup_exact_stats` definition). Decile assignment needs global
    ranks — the TeraSort-style `_global_ranks` helper, not an unbounded
    window. Counts are integers, z-sums round-9 DECIMAL; the cumulative
    dup share is an exact integer window over the 10-row decile table."""
    from .text_q import quality_z_df
    from ..operators.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    qz = quality_z_df(docs)
    fps = docs.select("doc_id", F.md5(normalize_text("text")).alias("fp"))
    wfp = Window.partitionBy("fp")
    dup = fps.select(
        "doc_id", (F.count(F.lit(1)).over(wfp) > 1).alias("is_dup")
    )
    vals = qz.select("doc_id", "z").join(dup, "doc_id")
    ranked, n = _global_ranks(vals, "z", "doc_id")
    dec = ranked.select(
        (F.col("rn") * 10 / F.lit(n)).cast("long").alias("d0"),
        "z",
        "is_dup",
    ).withColumn("decile", F.col("d0") + 1)
    agg = materialize(
        dec.groupBy("decile").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
            F.sum(F.round(F.col("z"), 9).cast("decimal(18,9)")).alias("sz"),
        )
    )
    tot = F.broadcast(agg.agg(F.sum("n_dup").cast("long").alias("td")))
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        agg.crossJoin(tot)
        .withColumn("cum_dup", F.sum("n_dup").over(wcum))
        .select(
            "decile",
            "n_docs",
            "n_dup",
            F.round(
                F.col("n_dup").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
            F.round(
                F.col("sz").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("avg_z"),
            F.when(
                F.col("td") > 0,
                F.round(
                    F.col("cum_dup").cast("double")
                    / F.col("td").cast("double"),
                    6,
                ),
            ).alias("cum_dup_share"),
        )
        .orderBy("decile")
    )


def _quality_vs_dup_oracle() -> str:
    from .text_q import QUALITY_Z_CTE
    from .dedup_q import _NORM

    return f"""
    WITH {QUALITY_Z_CTE},
    fps AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
    dup AS (SELECT doc_id,
                   (COUNT(*) OVER (PARTITION BY fp) > 1) AS is_dup
            FROM fps),
    rk AS (
      SELECT qz.z, d.is_dup,
             ROW_NUMBER() OVER (ORDER BY qz.z, qz.doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM qz JOIN dup d USING (doc_id)
    ),
    dec AS (SELECT (rn - 1) * 10 // n + 1 AS decile, z, is_dup FROM rk),
    agg AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
             SUM(CAST(ROUND(z, 9) AS DECIMAL(18,9))) AS sz
      FROM dec GROUP BY decile
    ),
    tot AS (SELECT CAST(SUM(n_dup) AS BIGINT) AS td FROM agg)
    SELECT decile, n_docs, n_dup,
           ROUND(n_dup::DOUBLE / n_docs::DOUBLE, 6) AS dup_rate,
           ROUND(sz::DOUBLE / n_docs::DOUBLE, 6) AS avg_z,
           CASE WHEN tot.td > 0
                THEN ROUND(SUM(n_dup) OVER (ORDER BY decile
                             ROWS UNBOUNDED PRECEDING)::DOUBLE
                           / tot.td::DOUBLE, 6)
           END AS cum_dup_share
    FROM agg, tot ORDER BY decile
    """


from ..registry import ORACLE_SQL as _ORACLE_SQL  # noqa: E402

_ORACLE_SQL["quality_vs_dup_lift"] = _quality_vs_dup_oracle  # lazy: builder reads sibling modules


#: Poisson-bootstrap resamples.
_BOOT_B = 32
#: Poisson(1) CDF quantized to byte resolution: a resample's weight is
#: the inverse CDF of one md5 BYTE (ub in 0..255) — ub < 94 -> 0 (94/256
#: = .3672 vs the true .3679), < 188 -> 1, < 235 -> 2, < 251 -> 3,
#: < 255 -> 4, else 5. The byte quantization biases each CDF step by
#: < 0.4% — far below the B=32 resampling noise — and lets ONE pair of
#: md5 calls per event seed all 32 resamples (16 bytes each).
_POIS_BYTE_CDF = (94, 188, 235, 251, 255)


def _pois_weight_sql(ub: str) -> str:
    arms = " ".join(
        f"WHEN {ub} < {c} THEN {k}" for k, c in enumerate(_POIS_BYTE_CDF)
    )
    return f"CASE {arms} ELSE 5 END"


@register(
    "bootstrap_ci_mean",
    oracle=f"""
    WITH pinned AS (
      SELECT event_type,
             CAST(ROUND(value, 2) AS DECIMAL(18,2)) AS v,
             md5(CAST(event_id AS VARCHAR) || ':0') AS m0,
             md5(CAST(event_id AS VARCHAR) || ':1') AS m1
      FROM events
    ),
    rs AS (
      SELECT event_type, v, b.b,
             ('0x' || substring(CASE WHEN b.b < 16 THEN m0 ELSE m1 END,
                                (b.b % 16) * 2 + 1, 2))::BIGINT AS ub
      FROM pinned CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
    ),
    wtab AS (
      SELECT t.ub, {_pois_weight_sql('t.ub')} AS w
      FROM (SELECT unnest(range(0, 256)) AS ub) t
    ),
    wm AS (
      SELECT event_type, b,
             SUM(v * w) AS sv,
             CAST(SUM(w) AS BIGINT) AS nw
      FROM rs JOIN wtab USING (ub) GROUP BY event_type, b
    ),
    means AS (
      SELECT event_type,
             CAST(ROUND(sv::DOUBLE / nw::DOUBLE, 9) AS DECIMAL(18,9)) AS m
      FROM wm
    ),
    boot AS (
      SELECT event_type,
             SUM(m) AS s1,
             SUM(CAST(ROUND(m::DOUBLE * m::DOUBLE, 9) AS DECIMAL(18,9)))
               AS s2
      FROM means GROUP BY event_type
    ),
    base AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS sv,
             SUM(CAST(ROUND(value * value, 4) AS DECIMAL(18,4))) AS sv2
      FROM events GROUP BY event_type
    )
    SELECT bs.event_type, bs.n,
           ROUND(bs.sv::DOUBLE / bs.n::DOUBLE, 4) AS mean_value,
           ROUND(sqrt((bs.sv2::DOUBLE / bs.n::DOUBLE
                       - (bs.sv::DOUBLE / bs.n::DOUBLE)
                         * (bs.sv::DOUBLE / bs.n::DOUBLE))
                      / (bs.n::DOUBLE - 1.0)), 6) AS se_analytic,
           ROUND(sqrt((bt.s2::DOUBLE
                       - bt.s1::DOUBLE * bt.s1::DOUBLE / {_BOOT_B}.0)
                      / ({_BOOT_B}.0 - 1.0)), 6) AS se_bootstrap
    FROM base bs JOIN boot bt USING (event_type)
    ORDER BY bs.event_type
    """,
)
def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap standard error of the per-type mean event value
    ({_BOOT_B} deterministic resamples), next to the analytic
    sd/sqrt(n) — the estimator-calibration panel: when the two columns
    agree the CLT is safe and every downstream panel can quote analytic
    intervals; when the bootstrap column is fatter the distribution is
    heavy-tailed and `sampled_revenue_estimate`-style extrapolations
    need the bootstrap, not the formula. Poisson(1) resampling IS the
    distributed bootstrap (Chamandy et al.): independent per-row weights
    need no global n, so each resample is one map-side weight draw — no
    shuffle of resampled rows, B aggregates in a single pass.

    Determinism: the resample weight is the byte-quantized Poisson(1)
    inverse CDF of one md5 byte — TWO md5 digests per event seed all
    {_BOOT_B} resamples (16 bytes each), and the whole weighted
    accumulation runs as ONE Arrow-batched pass (the GEMM precedent of
    `pca_power_iteration_stats`): per partition, numpy digitizes the
    byte matrix against the same integer thresholds the oracle's lookup
    table encodes and accumulates exact int64 (type, b) partials in
    CENTS (value round-2 x 100, quantized JVM-side in DECIMAL so tie
    rounding matches the oracle) — integer arithmetic is exact in any
    order, so the Python path is bit-identical to DuckDB's decimal
    sums. The exploded Catalyst alternative (3.2M-row explode, CASE or
    lookup-join per row) measured 5-15 s at sf0.1; this pass runs ~1 s.
    Each resample mean and its square are round-9-quantized before the
    across-resample moments. Scale shape: partials are |types| x
    {_BOOT_B} int64 cells per partition — the shuffle carries KBs, and
    the hash cost is O(rows), not O(rows x B)."""
    import hashlib

    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        "event_type",
        F.col("event_id").cast("string").alias("eid"),
        (F.round("value", 2).cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("vc"),
    )
    bins = list(_POIS_BYTE_CDF)

    def boot_partials(batches):
        acc: dict[str, np.ndarray] = {}
        cnt: dict[str, np.ndarray] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            by = np.empty((len(pdf), _BOOT_B), dtype=np.uint8)
            for r, eid in enumerate(pdf["eid"]):
                by[r, :16] = np.frombuffer(
                    hashlib.md5((eid + ":0").encode()).digest(), dtype=np.uint8
                )
                by[r, 16:] = np.frombuffer(
                    hashlib.md5((eid + ":1").encode()).digest(), dtype=np.uint8
                )
            w = np.digitize(by, bins).astype(np.int64)
            vc = pdf["vc"].to_numpy(dtype=np.int64)
            codes, uniq = pd.factorize(pdf["event_type"])
            sv = np.zeros((len(uniq), _BOOT_B), dtype=np.int64)
            nw = np.zeros((len(uniq), _BOOT_B), dtype=np.int64)
            np.add.at(sv, codes, w * vc[:, None])
            np.add.at(nw, codes, w)
            for t_i, t in enumerate(uniq):
                acc[t] = acc.get(t, 0) + sv[t_i]
                cnt[t] = cnt.get(t, 0) + nw[t_i]
        rows = [
            (t, b, int(acc[t][b]), int(cnt[t][b]))
            for t in acc
            for b in range(_BOOT_B)
        ]
        yield pd.DataFrame(
            rows, columns=["event_type", "b", "svc", "nw"]
        )

    wm = (
        src.mapInPandas(
            boot_partials, "event_type string, b int, svc long, nw long"
        )
        .groupBy("event_type", "b")
        .agg(
            F.sum("svc").cast("long").alias("svc"),
            F.sum("nw").cast("long").alias("nw"),
        )
    )
    means = wm.select(
        "event_type",
        F.round(
            (F.col("svc").cast("double") / F.lit(100.0))
            / F.col("nw").cast("double"),
            9,
        )
        .cast("decimal(18,9)")
        .alias("m"),
    )
    boot = means.groupBy("event_type").agg(
        F.sum("m").alias("s1"),
        F.sum(
            F.round(F.col("m").cast("double") * F.col("m").cast("double"), 9)
            .cast("decimal(18,9)")
        ).alias("s2"),
    )
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round("value", 2).cast("decimal(18,2)")).alias("sv"),
        F.sum(
            F.round(F.col("value") * F.col("value"), 4).cast("decimal(18,4)")
        ).alias("sv2"),
    )
    mean = F.col("sv").cast("double") / F.col("n").cast("double")
    bb = float(_BOOT_B)
    return (
        base.join(boot, "event_type")
        .select(
            "event_type",
            "n",
            F.round(mean, 4).alias("mean_value"),
            F.round(
                F.sqrt(
                    (
                        F.col("sv2").cast("double") / F.col("n").cast("double")
                        - mean * mean
                    )
                    / (F.col("n").cast("double") - F.lit(1.0))
                ),
                6,
            ).alias("se_analytic"),
            F.round(
                F.sqrt(
                    (
                        F.col("s2").cast("double")
                        - F.col("s1").cast("double")
                        * F.col("s1").cast("double")
                        / F.lit(bb)
                    )
                    / F.lit(bb - 1.0)
                ),
                6,
            ).alias("se_bootstrap"),
        )
        .orderBy("event_type")
    )


#: short-document screen threshold (chars).
_VENN_SHORT = 250


@register("quality_screen_venn", oracle=None)  # composed below
def quality_screen_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen-overlap Venn: every document classified by three
    independent curation screens — bottom-quartile quality (global
    rank of the frozen z-score, the `_global_ranks` TeraSort ranker),
    exact duplicate (normalized-text fingerprint shared), short (< 250
    chars) — with one row per combination. The redundancy audit a
    pipeline owner reads before ordering the screens: documents caught
    ONLY by the expensive screen justify running it; a screen whose
    flagged mass is entirely contained in cheaper screens' cells is
    dead weight at 100 TB (`quality_vs_dup_lift` asks this for one
    pair of screens as a lift curve; the Venn shows all eight cells).

    Exactness: the z-score is the frozen-weight bit-deterministic
    quality core and the quartile cut is pure integer rank arithmetic
    (rn*4//n — no ntile, no unbounded window); the dup flag is the
    exact-dedup fingerprint; all cells are integer counts plus one
    mirrored share division. Scale shape: the rank is the TeraSort
    pattern (range partition + broadcast offsets), the other screens
    are linear projections, and the rollup is 8 rows."""
    from .text_q import quality_z_df
    from ..operators.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    qz = quality_z_df(docs)
    fps = docs.select(
        "doc_id",
        "n_chars",
        F.md5(normalize_text("text")).alias("fp"),
    )
    dup = fps.select(
        "doc_id",
        "n_chars",
        (F.count(F.lit(1)).over(Window.partitionBy("fp")) > 1).alias(
            "is_dup"
        ),
    )
    vals = qz.select("doc_id", "z").join(dup, "doc_id")
    ranked, n = _global_ranks(vals, "z", "doc_id")
    flags = ranked.select(
        ((F.col("rn") * 4 / F.lit(n)).cast("long") == 0).alias(
            "low_quality"
        ),
        "is_dup",
        (F.col("n_chars") < _VENN_SHORT).alias("is_short"),
    )
    cells = materialize(
        flags.groupBy("low_quality", "is_dup", "is_short").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs")
        )
    )
    tot = F.broadcast(cells.agg(F.sum("n_docs").cast("long").alias("t")))
    return (
        cells.crossJoin(tot)
        .select(
            "low_quality",
            "is_dup",
            "is_short",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("t").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("low_quality", "is_dup", "is_short")
    )


def _venn_oracle() -> str:
    from .text_q import QUALITY_Z_CTE
    from .dedup_q import _NORM

    return f"""
    WITH {QUALITY_Z_CTE},
    fps AS (SELECT doc_id, n_chars, md5({_NORM}) AS fp FROM documents),
    dup AS (
      SELECT doc_id, n_chars,
             (COUNT(*) OVER (PARTITION BY fp) > 1) AS is_dup
      FROM fps
    ),
    rk AS (
      SELECT qz.z, d.is_dup, d.n_chars,
             ROW_NUMBER() OVER (ORDER BY qz.z, qz.doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM qz JOIN dup d USING (doc_id)
    ),
    flags AS (
      SELECT ((rn - 1) * 4 // n = 0) AS low_quality, is_dup,
             (n_chars < {_VENN_SHORT}) AS is_short
      FROM rk
    ),
    cells AS (
      SELECT low_quality, is_dup, is_short,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM flags GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM cells)
    SELECT c.low_quality, c.is_dup, c.is_short, c.n_docs,
           ROUND(c.n_docs::DOUBLE / tot.t::DOUBLE, 6) AS share
    FROM cells c, tot
    ORDER BY c.low_quality, c.is_dup, c.is_short
    """


_ORACLE_SQL["quality_screen_venn"] = _venn_oracle  # lazy: builder reads sibling modules


@register("screen_mutual_information", oracle=None)  # composed below
def screen_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between the length-quartile and quality-
    quartile of each document — the information-theoretic answer to
    "is the quality screen just a length screen in disguise?". The
    16-cell contingency table (both quartiles cut by the TeraSort
    ranker) is reported with each cell's pointwise MI, plus the total
    MI in bits and the normalized redundancy MI/H(quality): 0 means the
    screens are independent (run both), 1 means quality is a function
    of length (drop the expensive one). The pairwise-dependence
    complement of `quality_screen_venn` (which shows overlap mass, not
    dependence) and `quality_calibration_stats` (quality vs an outcome,
    not vs another screen).

    Exactness: quartiles are pure integer rank arithmetic; every MI and
    entropy term is one mirrored double expression round-9-quantized to
    DECIMAL before summing. Scale shape: two TeraSort rankings (range
    partition + broadcast offsets), one 16-cell combine, then
    constant-size arithmetic."""
    from .text_q import quality_z_df

    docs = load_table(spark, sf_dir, "documents")
    qz = quality_z_df(docs).select("doc_id", "z")
    vals = docs.select("doc_id", "n_chars").join(qz, "doc_id")
    ranked_l, n = _global_ranks(vals, "n_chars", "doc_id")
    lq = ranked_l.select(
        "doc_id",
        "z",
        (F.col("rn") * 4 / F.lit(n)).cast("long").alias("len_q"),
    )
    ranked_q, _ = _global_ranks(lq, "z", "doc_id")
    cells = materialize(
        ranked_q.select(
            "len_q",
            (F.col("rn") * 4 / F.lit(n)).cast("long").alias("qual_q"),
        )
        .groupBy("len_q", "qual_q")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    rowm = cells.groupBy("len_q").agg(F.sum("k").cast("long").alias("kr"))
    colm = cells.groupBy("qual_q").agg(F.sum("k").cast("long").alias("kc"))
    nn = float(n)
    pmi_term = F.round(
        (F.col("k").cast("double") / F.lit(nn))
        * F.log(
            (F.col("k").cast("double") * F.lit(nn))
            / (F.col("kr").cast("double") * F.col("kc").cast("double"))
        ),
        9,
    ).cast("decimal(12,9)")
    terms = (
        cells.join(F.broadcast(rowm), "len_q")
        .join(F.broadcast(colm), "qual_q")
        .select(
            "len_q",
            "qual_q",
            "k",
            pmi_term.alias("t"),
            F.round(
                F.log(
                    (F.col("k").cast("double") * F.lit(nn))
                    / (F.col("kr").cast("double") * F.col("kc").cast("double"))
                )
                / F.log(F.lit(2.0)),
                4,
            ).alias("pmi_bits"),
        )
    )
    terms = materialize(terms)
    mi = F.broadcast(
        terms.agg(
            (F.sum("t").cast("double") / F.log(F.lit(2.0))).alias("mib")
        )
    )
    hq_term = F.round(
        (F.col("kc").cast("double") / F.lit(nn))
        * F.log(F.lit(nn) / F.col("kc").cast("double")),
        9,
    ).cast("decimal(12,9)")
    hq = F.broadcast(
        colm.select(hq_term.alias("t")).agg(
            (F.sum("t").cast("double") / F.log(F.lit(2.0))).alias("hqb")
        )
    )
    return (
        terms.crossJoin(mi)
        .crossJoin(hq)
        .select(
            "len_q",
            "qual_q",
            F.col("k").alias("n_docs"),
            "pmi_bits",
            F.round("mib", 6).alias("mi_bits"),
            F.round(F.col("mib") / F.col("hqb"), 6).alias("redundancy"),
        )
        .orderBy("len_q", "qual_q")
    )


def _smi_oracle() -> str:
    from .text_q import QUALITY_Z_CTE

    return f"""
    WITH {QUALITY_Z_CTE},
    vals AS (
      SELECT d.doc_id, d.n_chars, qz.z
      FROM documents d JOIN qz ON d.doc_id = qz.doc_id
    ),
    rl AS (
      SELECT doc_id, z,
             (ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1) * 4
               // COUNT(*) OVER () AS len_q,
             COUNT(*) OVER () AS n
      FROM vals
    ),
    rq AS (
      SELECT len_q, n,
             (ROW_NUMBER() OVER (ORDER BY z, doc_id) - 1) * 4
               // n AS qual_q
      FROM rl
    ),
    cells AS (
      SELECT len_q, qual_q, CAST(COUNT(*) AS BIGINT) AS k, MIN(n) AS n
      FROM rq GROUP BY len_q, qual_q
    ),
    rowm AS (SELECT len_q, CAST(SUM(k) AS BIGINT) AS kr FROM cells
             GROUP BY len_q),
    colm AS (SELECT qual_q, CAST(SUM(k) AS BIGINT) AS kc FROM cells
             GROUP BY qual_q),
    terms AS (
      SELECT c.len_q, c.qual_q, c.k,
             CAST(ROUND((c.k::DOUBLE / c.n::DOUBLE)
                        * ln((c.k::DOUBLE * c.n::DOUBLE)
                             / (r.kr::DOUBLE * m.kc::DOUBLE)), 9)
                  AS DECIMAL(12,9)) AS t,
             ROUND(ln((c.k::DOUBLE * c.n::DOUBLE)
                      / (r.kr::DOUBLE * m.kc::DOUBLE)) / ln(2.0), 4)
               AS pmi_bits,
             c.n
      FROM cells c JOIN rowm r USING (len_q) JOIN colm m USING (qual_q)
    ),
    mi AS (SELECT SUM(t)::DOUBLE / ln(2.0) AS mib FROM terms),
    hq AS (
      SELECT SUM(CAST(ROUND((m.kc::DOUBLE / t.n::DOUBLE)
                            * ln(t.n::DOUBLE / m.kc::DOUBLE), 9)
                      AS DECIMAL(12,9)))::DOUBLE / ln(2.0) AS hqb
      FROM colm m, (SELECT MIN(n) AS n FROM terms) t
    )
    SELECT tr.len_q, tr.qual_q, tr.k AS n_docs, tr.pmi_bits,
           ROUND(mi.mib, 6) AS mi_bits,
           ROUND(mi.mib / hq.hqb, 6) AS redundancy
    FROM terms tr, mi, hq
    ORDER BY tr.len_q, tr.qual_q
    """


_ORACLE_SQL["screen_mutual_information"] = _smi_oracle  # lazy: builder reads sibling modules
