"""Aggregations (SURVEY.md §2.5) — all built-in hash aggregates.

Every groupBy here compiles to partial (map-side) + final aggregation, so
the shuffle carries pre-combined state, not raw rows — the property that
keeps these plans viable at 100 TB. Double-typed sums are rounded on both
the Spark and oracle sides because summation order differs across engines.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.registry import register
from ..sources.catalog import load


@register(
    "agg_groupby",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)))::DOUBLE AS sum_disc_price,
           sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6)))::DOUBLE AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(round(sum(l_extendedprice), 2) / count(*), 6) AS avg_price,
           round(round(sum(l_discount), 2) / count(*), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style multi-measure hash aggregation (the engine-target
    generalization; the reference's only aggregation is a list flatten,
    `api/main.py:292-294`)."""
    l = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # Rounding discipline (cross-engine float determinism): a double SUM of
    # grid-valued measures is rounded at the grid (price 2) — at these
    # magnitudes fp accumulation error (~1e-4 over 1e5 rows summing to
    # ~5e9) stays far inside the half-cent. The FINE-grained product
    # measures (disc_price grid 4, charge grid 6) are different: the same
    # ~1e-4 error exceeds their half-grids, and the double sums only
    # matched DuckDB while both engines happened to sum in file order —
    # repartition(7) moved sum_charge by ~1e-4 (measured). Each product is
    # an EXACT 4-/6-decimal rational, so casting the double product to
    # DECIMAL recovers the exact value (the product sits ~1e-11 from its
    # grid point) and the decimal SUM is order-independent on any cluster.
    # An AVG of a non-grid-exact measure is computed as grid-rounded-sum /
    # count, so both engines divide bit-identical inputs. avg(l_quantity)
    # is exact (integer-valued doubles sum exactly).
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.sum(disc_price.cast("decimal(28,4)")).cast("double").alias("sum_disc_price"),
        F.sum((disc_price * (1 + F.col("l_tax"))).cast("decimal(28,6)")).cast("double").alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.round(F.sum("l_extendedprice"), 2) / F.count("*"), 6).alias("avg_price"),
        F.round(F.round(F.sum("l_discount"), 2) / F.count("*"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (expand + two-phase aggregate under the hood)."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register(
    "agg_approx_distinct",
    oracle=None,  # HLL sketches differ across engines; invariant-tested in tests/
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ count-distinct — the 100 TB posture for distinct counts
    (single pass, fixed memory, no expand). Cross-engine sketch values are
    not comparable, so this entry is rows-only; tests assert <5% error vs
    exact."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT r_name, n_name,
           sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)))::DOUBLE AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg", "rollup"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (region → nation → grand total) over the star join; Spark and
    DuckDB use the same NULL-marker convention for super-aggregate rows."""
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            # exact decimal sum: the ROLLUP grand-total row sums the whole
            # fact table, where double-sum order error exceeds the 4-dec
            # half-grid (see agg_groupby)
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping sets in one pass —
    Spark expands to a single Expand + hash aggregate, not 4 scans."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "agg_salted_skew",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "skew"),
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation for skewed keys: stage 1 aggregates on
    (key, salt) spreading each hot key over 16 reducers; stage 2 merges the
    partials per key. Result is identical to the direct groupBy (the
    oracle) — only the shuffle distribution changes. l_returnflag has 3
    values over the whole table, the canonical pathological-skew shape;
    this is the manual form of what AQE's skew-join handling does for
    joins, applicable when a single reducer would otherwise own a hot
    key's entire partial state."""
    l = load(spark, sf_dir, "lineitem")
    salted = l.withColumn("salt", (F.rand(seed=7) * 16).cast("int"))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.sum("l_quantity").alias("part_qty"),
        F.count("*").alias("part_n"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("part_qty").cast("long").alias("sum_qty"),
        F.sum("part_n").alias("n"),
    )


@register(
    "agg_collect_flatten",
    oracle="""
    SELECT 'collect' AS op,
           lang AS k,
           string_agg(DISTINCT source, ',' ORDER BY source) AS v,
           count(*) AS n,
           count(DISTINCT source) AS nd
    FROM documents
    GROUP BY lang
    UNION ALL
    SELECT 'flatten' AS op, word AS k, '' AS v, count(*) AS n, CAST(NULL AS BIGINT) AS nd
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    tags=("agg", "explode"),
)
def agg_collect_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List/set accumulation and its inverse (SURVEY §2.5 agg_collect +
    agg_flatten, generalizing the reference's `messages_added.extend(...)`
    flatten, `api/main.py:292-294`) in one tagged result:

    - 'collect': per-lang collect_set(source) emitted as a sorted joined
      string, plus the exact count(DISTINCT source) (the agg_distinct
      primitive, driver-checked here);
    - 'flatten': explode(split(text)) word counts — the un-nest direction.
    """
    d = load(spark, sf_dir, "documents")
    null_long = F.lit(None).cast("long")
    collect = d.groupBy("lang").agg(
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias("v"),
        F.count("*").alias("n"),
        F.countDistinct("source").alias("nd"),
    ).select(F.lit("collect").alias("op"), F.col("lang").alias("k"), "v", "n", "nd")
    flatten = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .select(F.lit("flatten").alias("op"), F.col("word").alias("k"),
                F.lit("").alias("v"), "n", null_long.alias("nd"))
    )
    return collect.unionByName(flatten)


@register(
    "agg_collect",
    oracle="""
    SELECT lang,
           string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
           count(*) AS n_docs
    FROM documents
    GROUP BY lang
    """,
    tags=("agg",),
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set accumulation per group (generalizes the reference's
    `messages_added.extend(...)`, `api/main.py:292-294`). Emitted as a
    sorted joined string for a type-stable cross-engine comparison."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        F.count("*").alias("n_docs"),
    )


@register(
    "agg_flatten",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    tags=("agg", "explode"),
)
def agg_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-nest + aggregate: the reference's history[].messagesAdded[] flatten
    (`api/main.py:292-294`) generalized to explode + word count."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS n_f,
           CAST(count(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS n_o,
           round(sum(l_extendedprice) FILTER (WHERE l_linestatus = 'F'), 2) AS total_f,
           round(sum(l_extendedprice) FILTER (WHERE l_linestatus = 'O'), 2) AS total_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: rotate l_linestatus values into columns with count + sum
    measures per cell. The pivot values are DECLARED (`pivot(col, [F, O])`),
    not discovered — at 100 TB value discovery is an extra full pass and a
    driver-side collect; declaring them keeps the plan a single partial-agg
    shuffle exactly like a plain groupBy (each pivot cell is a conditional
    aggregate). The oracle states the same query as FILTERed aggregates,
    which is precisely the physical form Spark lowers pivot to."""
    l = load(spark, sf_dir, "lineitem")
    p = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("n"),  # count(*) is rejected inside pivot
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
        )
    )
    return p.select(
        "l_returnflag",
        F.col("F_n").alias("n_f"),
        F.col("O_n").alias("n_o"),
        F.col("F_total").alias("total_f"),
        F.col("O_total").alias("total_o"),
    )


@register(
    "agg_unpivot",
    oracle="""
    SELECT c_custkey, measure, value FROM (
      SELECT c_custkey, 'acctbal' AS measure, c_acctbal AS value FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
    )
    """,
    tags=("agg", "unpivot"),
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide measure columns to (key, measure, value) rows —
    the inverse rotation, used to normalize metric tables before union or
    windowing. Spark's native `unpivot` is a scan-side generate (no
    shuffle); the oracle is the equivalent UNION ALL."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    ).unpivot("c_custkey", ["acctbal", "nationkey"], "measure", "value")


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (median/p90/p99) via Spark's `percentile`
    — both engines use linear interpolation on the sorted group, so the
    values hash-match exactly. Exact percentiles buffer each group; at
    100 TB switch to `approx_percentile` (t-digest sketch, mergeable
    map-side) and accept the documented error bound — the exact form here
    is the oracle-checkable tier."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_extendedprice) / 1e6, 6) AS var_price_m,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_discount), 9) AS cov_qty_disc
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: sample stddev/variance, Pearson
    correlation, sample covariance per group. All are single-pass
    mergeable moment sketches (sum, sum-of-squares, co-moments) — they
    partial-aggregate map-side like any sum, so the shuffle carries one
    moment tuple per (group, partition) regardless of row count."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_extendedprice") / 1e6, 6).alias("var_price_m"),
        # corr as try_divide(covar, sd*sd): identical value, but a
        # zero-variance group yields NULL (as DuckDB's corr does) instead
        # of an ANSI divide-by-zero failure
        F.round(
            F.try_divide(
                F.covar_samp("l_quantity", "l_extendedprice"),
                F.stddev_samp("l_quantity") * F.stddev_samp("l_extendedprice"),
            ),
            6,
        ).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 9).alias("cov_qty_disc"),
    )


@register(
    "agg_approx_percentile",
    oracle=None,  # sketch internals are engine-specific; rank-error bound is pytest-asserted
    tags=("agg", "percentile", "approx"),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: `approx_percentile` (Greenwald-Khanna
    sketch, accuracy 10000 → rank error <= 0.01%). Unlike the exact
    `percentile` (which buffers every group value), the sketch is a fixed
    few-KB state that partial-aggregates map-side and merges in the
    shuffle — per-group memory is O(accuracy), not O(rows). Engine-private
    sketch => no cross-engine oracle; tests/test_invariants.py asserts
    each reported quantile's true rank is within the documented bound of
    its target and that p50<=p90<=p99.

    Partition-layout sensitivity (measured, r4): the GK merge is not
    canonical, so repartitioning the input can move a reported quantile —
    WITHIN the rank-error bound, which is the sketch's actual contract
    and is asserted under repartition(7) in
    tests/test_invariants.py::TestSketchPartitionStability. This is the
    one property class exempted from the registry-wide exact
    partition-order-independence audit (with mv_rollup_distinct_hll)."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("p50"),
        F.expr("approx_percentile(l_extendedprice, 0.9, 10000)").alias("p90"),
        F.expr("approx_percentile(l_extendedprice, 0.99, 10000)").alias("p99"),
    )


@register(
    "udaf_geo_mean",
    oracle="""
    SELECT lang, source,
           round(exp(avg(ln(n_chars))), 6) AS geo_chars,
           count(*) AS n_docs
    FROM documents WHERE n_chars > 0
    GROUP BY lang, source
    """,
    tags=("agg", "udaf"),
)
def udaf_geo_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-aggregate surface (SURVEY §2.9 `udaf_*`): a grouped-agg
    pandas_udf computing the geometric mean of document lengths per
    (lang, source) — the Arrow-batched way to run aggregation logic Spark
    has no built-in for. Scale caveat, by design: pandas grouped aggs get
    NO partial aggregation (each whole group's column ships to one task),
    so at 100 TB prefer an algebraic decomposition into built-ins when one
    exists — here exp(avg(ln(x))), which partial-aggregates map-side like
    any avg; tests/test_invariants.py asserts the two forms agree to 1e-6,
    making the UDAF the semantic spec and the built-in chain the scale
    path."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # the hints are PEP 563 strings, resolved from this module's globals
    # (hence the module-level pandas import)
    @pandas_udf("double")
    def geo(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy(dtype="float64")).mean()))

    # count as a pandas agg too: Spark refuses to mix grouped-agg pandas
    # UDFs with JVM aggregate functions in one agg()
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return d.groupBy("lang", "source").agg(
        F.round(geo("n_chars"), 6).alias("geo_chars"),
        n_rows("n_chars").alias("n_docs"),
    )


@register(
    "agg_outlier_flags",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             avg(value) AS mu,
             stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round(e.value, 2) AS value,
           round((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e JOIN stats s ON s.event_type = e.event_type
    WHERE abs(e.value - s.mu) > 3 * s.sigma
    """,
    tags=("agg", "audit"),
)
def agg_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier audit: events more than 3 sample standard
    deviations from their type's mean, with the z-score. The per-type
    stats are a tiny broadcast aggregate (partial-combined map-side);
    the flagging pass is scan-side arithmetic against the broadcast row
    — the fact table is read once and never shuffles. The 3-sigma
    threshold compares UNROUNDED doubles in both engines; only the
    reported z-score is grid-rounded."""
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4).alias(
                "zscore"
            ),
        )
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT event_type,
             least(9, greatest(0, CAST(floor(value / 10.0) AS INT))) AS bucket
      FROM events
    )
    GROUP BY event_type, bucket
    """,
    tags=("agg", "histogram"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of value per event type (10-unit buckets,
    clamped to [0, 9]) — the distribution profile behind threshold tuning
    and drift monitoring. Bucket assignment is scan-side integer
    arithmetic, so the shuffle carries (type, bucket) pairs pre-combined
    map-side: the full histogram costs one partial-aggregated exchange
    however many rows feed it."""
    ev = load(spark, sf_dir, "events")
    bucket = F.least(
        F.lit(9), F.greatest(F.lit(0), F.floor(F.col("value") / 10.0).cast("int"))
    )
    return (
        ev.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n"))
    )
