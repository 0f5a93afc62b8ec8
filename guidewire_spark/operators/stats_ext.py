"""Round-4 continuation: hypothesis-test aggregates (two-sample KS,
Mann-Whitney U), boolean/bitwise aggregate families, OHLC time-series
downsampling, rolling order statistics and rolling correlation
windows, a k-anonymity privacy audit, Benford first-digit
data-quality analysis, and int8 embedding quantization for
training-data pipelines.

All declarative DataFrame API over ``load_table`` scans (pushdown /
pruning free via Catalyst); float outputs cross a DECIMAL bridge
before rounding so the value-hash is engine-stable (per-row ROUND of
raw doubles diverges between engines on ties).

Scale notes are per-operator docstrings; the ECDF prefix-sums inside
KS/MWU run over the DISTINCT-VALUE-sized aggregate (not the raw fact
table) AND two-phase (twophase.two_phase_ordered) — distinct
cardinality of a continuous double grows with data volume, so even
the bounded aggregate never funnels through a single task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.operators.twophase import two_phase_ordered
from guidewire_spark.plans.catalog import load_table, register_views
from guidewire_spark.registry import query


@query(
    "agg_bool_count_if",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000)   AS all_over_1k,
           bool_or(o_totalprice > 400000)  AS any_over_400k,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bool_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family: bool_and / bool_or (EVERY / ANY) and
    count_if, per group. Pure partial+final hash aggregate — boolean
    partials are one byte each, so the shuffle payload is minimal at
    any scale."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.count("*").alias("n"),
    )


@query(
    "agg_bit_aggregates",
    oracle="""
    SELECT l_returnflag,
           CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS line_and,
           CAST(bit_or(CAST(l_linenumber AS BIGINT))  AS BIGINT) AS line_or,
           CAST(bit_xor(l_orderkey) AS BIGINT)                   AS key_xor
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bit_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and / bit_or / bit_xor).

    bit_xor over a key column is the classic cheap set-difference
    fingerprint: XOR of two table's key-xors is zero iff the multisets
    match — used by the connector's reconciliation checks. All three
    are commutative/associative, so partial aggregation is exact and
    the shuffle carries one int64 per (group, agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    line = F.col("l_linenumber").cast("long")
    return li.groupBy("l_returnflag").agg(
        F.bit_and(line).alias("line_and"),
        F.bit_or(line).alias("line_or"),
        F.bit_xor("l_orderkey").alias("key_xor"),
    )


@query(
    "ts_ohlc_bars",
    oracle="""
    WITH ranked AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts ASC, event_id ASC)  AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bucket,
           CAST(ROUND(CAST(MAX(CASE WHEN rn_a = 1 THEN value END) AS DECIMAL(24,10)), 4) AS DOUBLE) AS open,
           CAST(ROUND(CAST(MAX(value) AS DECIMAL(24,10)), 4) AS DOUBLE) AS high,
           CAST(ROUND(CAST(MIN(value) AS DECIMAL(24,10)), 4) AS DOUBLE) AS low,
           CAST(ROUND(CAST(MAX(CASE WHEN rn_d = 1 THEN value END) AS DECIMAL(24,10)), 4) AS DOUBLE) AS close,
           COUNT(*) AS n_events
    FROM ranked GROUP BY event_type, bucket
    """,
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (series, hour bucket) emit the first
    (open), max (high), min (low), and last (close) observation.

    First/last are taken by row_number over the deterministic
    (ts, event_id) order — min_by/max_by would need a composite
    ordering key, and an explicit rank keeps the tie-break exact on
    both engines. One shuffle on (event_type, bucket) serves both the
    window and the final aggregate (same keys → Catalyst reuses the
    partitioning, no second exchange)."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "bucket", F.date_trunc("hour", "ts")
    )
    asc = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    desc = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = e.select(
        "event_type",
        "bucket",
        "value",
        F.row_number().over(asc).alias("rn_a"),
        F.row_number().over(desc).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "bucket").agg(
        _r(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 4).alias("open"),
        _r(F.max("value"), 4).alias("high"),
        _r(F.min("value"), 4).alias("low"),
        _r(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 4).alias("close"),
        F.count("*").alias("n_events"),
    )


@query(
    "window_rolling_median",
    oracle="""
    SELECT event_id, event_type,
           CAST(ROUND(CAST(quantile_cont(value, 0.5) OVER w AS DECIMAL(24,10)), 4) AS DOUBLE) AS med7,
           CAST(ROUND(CAST(quantile_cont(value, 0.25) OVER w AS DECIMAL(24,10)), 4) AS DOUBLE) AS p25_7,
           CAST(ROUND(CAST(quantile_cont(value, 0.75) OVER w AS DECIMAL(24,10)), 4) AS DOUBLE) AS p75_7
    FROM events
    WHERE event_type IN ('view', 'purchase')
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling order statistics: exact interpolated median and
    quartiles over a 7-row trailing window per series (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, both linear
    interpolation).

    Scale shape (round-6 retrofit): the series key (event_type) has
    ~5 values, so a per-series ROWS window funnels whole series
    through single tasks.  Instead, each row's per-series position
    comes from a TWO-PHASE global rank (twophase.two_phase_ordered
    over (event_type, ts, event_id) minus a broadcast per-type prefix
    offset — the Spearman-retrofit arithmetic), then every row
    EXPLODES into the ≤7 frames it participates in and the frame
    aggregate GROUPs per (event_type, frame) — the covering-windows
    identity ts_rolling_wau already uses.  7× map-side expansion, all
    stages parallel at any scale.

    SINGLE-CONSUMER invariant: the ranked frame feeds exactly ONE
    downstream branch.  The anchor row's event_id rides INTO the
    frame aggregate (max over the seq-element == own-position
    contribution) instead of joining the row table back afterwards —
    a two-branch consumption of a two-phase subtree re-evaluates the
    range-partitioned lineage per branch and spark_partition_id() is
    not stable across evaluations, which intermittently desynced the
    two sides (caught at sf0.1); the fold-in removes the second
    consumer AND a shuffle join."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    ).select("event_id", "event_type", "ts", "value")
    ranked = two_phase_ordered(
        e,
        [F.asc("event_type"), F.asc("ts"), F.asc("event_id")],
        rank_name="gr",
    )
    offs = (
        e.groupBy("event_type")
        .agg(F.count("*").alias("tot"))
        .select(
            "event_type",
            F.coalesce(
                F.sum("tot").over(
                    Window.orderBy("event_type").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("off"),
        )
    )
    rows = ranked.join(F.broadcast(offs), "event_type").select(
        "event_id",
        "event_type",
        "value",
        (F.col("gr") - F.col("off")).alias("rs"),
    )
    contrib = rows.select(
        "event_type",
        "value",
        "rs",
        "event_id",
        F.explode(F.sequence(F.col("rs"), F.col("rs") + 6)).alias("frame"),
    )
    frames = contrib.groupBy("event_type", "frame").agg(
        F.max(
            F.when(F.col("frame") == F.col("rs"), F.col("event_id"))
        ).alias("event_id"),
        _r(F.percentile("value", F.lit(0.5)), 4).alias("med7"),
        _r(F.percentile("value", F.lit(0.25)), 4).alias("p25_7"),
        _r(F.percentile("value", F.lit(0.75)), 4).alias("p75_7"),
    )
    # frames past the series end have no anchor row: drop them
    return frames.where(F.col("event_id").isNotNull()).select(
        "event_id", "event_type", "med7", "p25_7", "p75_7"
    )


@query(
    "agg_ks_statistic",
    oracle="""
    WITH pv AS (
      SELECT value,
             COUNT(*) FILTER (WHERE event_type = 'view')  AS a_c,
             COUNT(*) FILTER (WHERE event_type = 'click') AS b_c
      FROM events WHERE event_type IN ('view', 'click')
      GROUP BY value
    ),
    tot AS (SELECT SUM(a_c) AS n_a, SUM(b_c) AS n_b FROM pv),
    cum AS (
      SELECT SUM(a_c) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(b_c) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      FROM pv
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(ROUND(CAST(MAX(ABS(CAST(ca AS DOUBLE) / n_a
                                  - CAST(cb AS DOUBLE) / n_b)) AS DECIMAL(24,10)), 6) AS DOUBLE) AS ks_d
    FROM cum, tot GROUP BY n_a, n_b
    """,
)
def agg_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: max ECDF gap between
    the 'view' and 'click' value distributions.

    The raw fact rows are first collapsed to one row per DISTINCT
    value (partial+final hash agg); the ECDF prefix sums over that
    table then run TWO-PHASE (twophase.two_phase_ordered: range
    partition on value → partition-local running sums → broadcast
    parts-row carry-in offsets), so no single task ever holds the
    distinct-value table — its cardinality grows ~linearly with data
    for a continuous double.  The grand totals ride the same broadcast
    parts-row summary (sum_totals), replacing the old crossJoin.
    Evaluating the ECDF gap at each distinct value AFTER counting
    ties is exactly the right-continuous ECDF, so ties are handled
    identically on both engines."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click")
    )
    pv = e.groupBy("value").agg(
        F.count_if(F.col("event_type") == "view").alias("a_c"),
        F.count_if(F.col("event_type") == "click").alias("b_c"),
    )
    cum = two_phase_ordered(
        pv,
        [F.asc("value")],
        rank_name=None,
        cumsums={"ca": "a_c", "cb": "b_c"},
        sum_totals={"n_a": "a_c", "n_b": "b_c"},
    )
    gap = cum.select(
        "n_a",
        "n_b",
        F.abs(
            F.col("ca").cast("double") / F.col("n_a")
            - F.col("cb").cast("double") / F.col("n_b")
        ).alias("gap"),
    )
    return gap.groupBy("n_a", "n_b").agg(_r(F.max("gap"), 6).alias("ks_d"))


@query(
    "agg_mann_whitney_u",
    oracle="""
    WITH pv AS (
      SELECT value,
             COUNT(*) FILTER (WHERE event_type = 'view')  AS a_c,
             COUNT(*) FILTER (WHERE event_type = 'click') AS b_c
      FROM events WHERE event_type IN ('view', 'click')
      GROUP BY value
    ),
    ranked AS (
      SELECT a_c, b_c,
             SUM(a_c + b_c) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - (a_c + b_c) + (a_c + b_c + 1) / 2.0 AS midrank
      FROM pv
    ),
    agg AS (
      SELECT SUM(a_c) AS n_a, SUM(b_c) AS n_b,
             SUM(a_c * midrank) AS r_a
      FROM ranked
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(ROUND(CAST(r_a - n_a * (n_a + 1) / 2.0 AS DECIMAL(24,10)), 4) AS DOUBLE) AS u_a,
           CAST(ROUND(CAST(
             (r_a - n_a * (n_a + 1) / 2.0 - n_a * n_b / 2.0)
             / sqrt(n_a * n_b * (n_a + n_b + 1) / 12.0)
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS z
    FROM agg
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) statistic with midrank tie handling
    and the normal-approximation z score (no tie-variance correction;
    documented — ties in continuous doubles are measure-zero).

    Midranks come from the cumulative count over the DISTINCT-value
    table: midrank(v) = count_below(v) + (count_at(v)+1)/2 — this is
    exact under ties without ever materializing per-row ranks.  The
    cumulative count itself runs TWO-PHASE
    (twophase.two_phase_ordered: range partition → local running sum
    → broadcast carry-in), so the
    ordered pass again runs over value cardinality, not raw rows."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click")
    )
    pv = e.groupBy("value").agg(
        F.count_if(F.col("event_type") == "view").alias("a_c"),
        F.count_if(F.col("event_type") == "click").alias("b_c"),
    )
    both = F.col("a_c") + F.col("b_c")
    cum = two_phase_ordered(
        pv.withColumn("t_c", both),
        [F.asc("value")],
        rank_name=None,
        cumsums={"ct": "t_c"},
    )
    ranked = cum.select(
        "a_c",
        "b_c",
        (F.col("ct") - both + (both + 1) / 2.0).alias("midrank"),
    )
    agg = ranked.agg(
        F.sum("a_c").alias("n_a"),
        F.sum("b_c").alias("n_b"),
        F.sum(F.col("a_c") * F.col("midrank")).alias("r_a"),
    )
    n_a, n_b, r_a = F.col("n_a"), F.col("n_b"), F.col("r_a")
    u_a = r_a - n_a * (n_a + 1) / 2.0
    z = (u_a - n_a * n_b / 2.0) / F.sqrt(n_a * n_b * (n_a + n_b + 1) / 12.0)
    return agg.select(
        n_a.cast("long").alias("n_a"),
        n_b.cast("long").alias("n_b"),
        _r(u_a, 4).alias("u_a"),
        _r(z, 4).alias("z"),
    )


@query(
    "sql_group_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(CAST(SUM(l_quantity) AS DECIMAL(24,10)), 2) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY ALL
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+ / DuckDB shared syntax): the grouping
    key list is inferred as every non-aggregate select item. Resolves
    at analysis time to an ordinary hash aggregate — zero runtime
    difference from an explicit GROUP BY."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(CAST(SUM(l_quantity) AS DECIMAL(24,10)), 2) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem GROUP BY ALL
        """
    )


@query(
    "func_inline_explode",
    oracle="""
    SELECT doc_id, u.word AS word, u.wlen AS wlen
    FROM (
      SELECT doc_id,
             unnest(list_transform(list_slice(string_split(text, ' '), 1, 5),
                    w -> {'word': w, 'wlen': CAST(length(w) AS BIGINT)})) AS u
      FROM documents WHERE doc_id % 50 = 0
    ) t
    """,
)
def func_inline_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inline() — table-generating explode of an array<struct>,
    flattening struct fields to top-level columns in one generator
    (vs posexplode + getField). Generators run inside the scan stage:
    no shuffle, output rows stream out of the same task that read the
    parquet page."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 50 == 0)
    words = F.slice(F.split(F.col("text"), " "), 1, 5)
    structs = F.transform(
        words,
        lambda w: F.struct(
            w.alias("word"), F.length(w).cast("long").alias("wlen")
        ),
    )
    return d.select("doc_id", F.inline(structs))


@query(
    "anon_k_anonymity",
    oracle="""
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size,
           COUNT(*) < 5 AS at_risk
    FROM customer GROUP BY c_nationkey, c_mktsegment
    """,
)
def anon_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns: every
    equivalence class of (nation, market segment) with its size and an
    at-risk flag for classes smaller than k=5 — the standard
    re-identification screen run before releasing training data
    derived from user records. Single partial+final aggregate; the
    result is quasi-identifier-cardinality-sized."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("group_size"),
        (F.count("*") < 5).alias("at_risk"),
    )


@query(
    "agg_benford_first_digit",
    oracle="""
    WITH digits AS (
      SELECT CAST(SUBSTRING(CAST(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                                 AS VARCHAR), 1, 1) AS INT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    counts AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT SUM(n) AS total FROM counts)
    SELECT d, CAST(n AS BIGINT) AS n,
           CAST(ROUND(CAST(CAST(n AS DOUBLE) / total AS DECIMAL(24,10)), 6) AS DOUBLE) AS observed,
           CAST(ROUND(CAST(log10(1.0 + 1.0 / d) AS DECIMAL(24,10)), 6) AS DOUBLE) AS benford
    FROM counts, tot
    """,
)
def agg_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen: observed first-significant-
    digit frequencies of order totals vs the log10(1+1/d) expectation
    — the classic fabricated-data detector for ingested corpora.

    The first digit is extracted through an exact integer path
    (cents → bigint → string head) rather than log10-of-double
    bucketing, which can flip at powers of ten between libm
    implementations. Digit histogram is 9 rows; total joins by
    broadcast."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digit = (
        F.substring(
            (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("d")
    )
    counts = o.select(digit).groupBy("d").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        _r(F.col("n").cast("double") / F.col("total"), 6).alias("observed"),
        _r(F.log10(1.0 + 1.0 / F.col("d")), 6).alias("benford"),
    )


@query(
    "ts_rolling_corr",
    oracle="""
    WITH ints AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
             CAST(ROUND(l_quantity, 0) AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS y
      FROM lineitem WHERE l_returnflag = 'R'
    ),
    sums AS (
      SELECT l_suppkey, l_orderkey, l_linenumber,
             COUNT(*) OVER w AS n,
             SUM(x) OVER w      AS sx,
             SUM(y) OVER w      AS sy,
             SUM(x * y) OVER w  AS sxy,
             SUM(x * x) OVER w  AS sxx,
             SUM(y * y) OVER w  AS syy
      FROM ints
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(ROUND(CAST(
                       CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE))
                     AS DECIMAL(24,10)), 6) AS DOUBLE)
           END AS corr30
    FROM sums
    """,
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation: corr(quantity, extended price)
    over each supplier's trailing 30 shipments in ship-date order —
    per-entity partitioning keeps every frame on one executor and the
    window fully parallel across suppliers.

    Computed from EXACT integer rolling sums, not each engine's native
    corr accumulator: quantity is integral and price is 2dp, so x and
    y=cents are int64 and all five frame sums plus both centered
    variance terms stay in exact int64 arithmetic — bit-identical
    however the engine orders the frame. The only float steps are the
    final int64→double conversions (correctly rounded by IEEE in both
    engines) and one divide/sqrt on identical inputs. Native corr
    window aggregates differ per-engine at ~1e-10, which a rounding
    bridge can only paper over until a boundary hits; exact arithmetic
    removes the divergence instead of hiding it. Zero-variance frames
    (n=1 or constant) emit NULL on both sides."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    x = F.round("l_quantity", 0).cast("long")
    y = (F.col("l_extendedprice").cast("decimal(14,2)") * 100).cast("long")
    ints = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        x.alias("x"),
        y.alias("y"),
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-29, 0)
    )
    xy = F.col("x") * F.col("y")
    sums = ints.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(xy).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    var_x = n * sxx - sx * sx  # exact int64
    var_y = n * syy - sy * sy  # exact int64
    num = n * sxy - sx * sy  # exact int64
    return sums.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.when(
            (var_x > 0) & (var_y > 0),
            _r(
                num.cast("double")
                / F.sqrt(var_x.cast("double") * var_y.cast("double")),
                6,
            ),
        ).alias("corr30"),
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH vd AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    scaled AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM vd
    ),
    q AS (
      SELECT vec_id, scale,
             len(v) AS dims,
             list_transform(v, x -> CAST(round(x / scale, 0) AS INT)) AS qv,
             v
      FROM scaled
    )
    SELECT vec_id, CAST(dims AS INT) AS dims,
           CAST(ROUND(CAST(scale AS DECIMAL(24,10)), 6) AS DOUBLE) AS scale,
           CAST(list_sum(list_transform(qv, x -> CAST(abs(x) AS BIGINT))) AS BIGINT) AS q_l1,
           CAST(list_max(qv) AS INT) AS q_max,
           CAST(ROUND(CAST(list_max(list_transform(list_zip(v, qv),
                  p -> abs(p[1] - p[2] * scale))) AS DECIMAL(24,10)), 6) AS DOUBLE) AS err_max
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embedding vectors (per-vector
    absmax scaling, the standard inference/storage compression for
    embedding stores) with reconstruction-error audit.

    Entirely array HOFs on the JVM — transform/zip_with/array_max —
    no Python. Float sums are avoided by design: the only reductions
    are max (order-free) and an exact integer L1; the scale itself is
    an order-free absmax. Row-parallel, zero shuffle."""
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 10 == 0)
    v = F.transform("embedding", lambda x: x.cast("double"))
    e = e.select("vec_id", v.alias("v"))
    scale = F.array_max(F.transform("v", F.abs)) / 127.0
    e = e.select("vec_id", "v", scale.alias("scale"))
    qv = F.transform("v", lambda x: F.round(x / F.col("scale"), 0).cast("int"))
    e = e.select("vec_id", "v", "scale", qv.alias("qv"))
    # Reconstruction error must use the RAW scale: naming the rounded
    # output "scale" in the same select would capture it via lateral
    # column alias resolution, so the error pass runs one projection
    # earlier, against the unrounded column.
    err = F.zip_with("v", "qv", lambda x, q: F.abs(x - q * F.col("scale")))
    e = e.select(
        "vec_id", "v", "scale", "qv", F.array_max(err).alias("raw_err_max")
    )
    return e.select(
        "vec_id",
        F.size("v").alias("dims"),
        _r(F.col("scale"), 6).alias("scale"),
        F.aggregate(
            F.transform("qv", lambda q: F.abs(q).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("q_l1"),
        F.array_max("qv").alias("q_max"),
        _r(F.col("raw_err_max"), 6).alias("err_max"),
    )
