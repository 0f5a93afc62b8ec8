"""Survival analysis and dedup-calibration operators: a Kaplan-Meier
time-to-conversion curve with right-censoring, and a similarity-
threshold sweep over exact shingle-Jaccard pairs (the calibration
query run before committing to a dedup threshold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions import text as T
from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.operators.twophase import two_phase_ordered
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


@query(
    "ts_kaplan_meier",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             MIN(epoch_us(ts)) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS t_purchase,
             MAX(epoch_us(ts)) AS t_last
      FROM events GROUP BY user_id
    ),
    durations AS (
      SELECT (COALESCE(t_purchase, t_last) - t0) // 3600000000 AS t_hours,
             t_purchase IS NOT NULL AS converted
      FROM spans WHERE COALESCE(t_purchase, t_last) > t0
    ),
    counts AS (
      SELECT t_hours,
             count_if(converted) AS d,
             COUNT(*) AS leaving
      FROM durations GROUP BY t_hours
    ),
    risk AS (
      SELECT t_hours, d,
             SUM(leaving) OVER (ORDER BY t_hours DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at_risk
      FROM counts
    ),
    terms AS (
      SELECT t_hours, d, n_at_risk,
             CAST(ROUND(CAST(ln(1.0 - CAST(d AS DOUBLE) / n_at_risk)
                             AS DECIMAL(20,12)), 12) AS DECIMAL(20,12)) AS ln_term
      FROM risk WHERE d > 0 AND d < n_at_risk
    )
    SELECT CAST(t_hours AS BIGINT) AS t_hours,
           CAST(d AS BIGINT) AS d,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(ROUND(CAST(exp(CAST(SUM(ln_term) OVER (ORDER BY t_hours
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE))
                           AS DECIMAL(24,10)), 6) AS DOUBLE) AS survival
    FROM terms
    """,
)
def ts_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase with
    right-censoring: users who never purchase are censored at their
    last observed event — dropping them (the naive mistake) biases
    conversion-time estimates low. S(t) = Π(1 − d_i/n_i) over event
    times, computed as exp of a running sum of DECIMAL-rounded log
    terms: the product reduction is exact and order-free (the
    mutual-information discipline applied to a cumulative product).
    Everything after the per-user span aggregate runs over the
    distinct-duration table; n-at-risk is a reverse cumulative sum,
    not a self-join — and BOTH cumulative passes (the descending
    n-at-risk sum and the ascending survival log-sum) run TWO-PHASE
    (twophase.two_phase_ordered: range partition on t_hours →
    partition-local running sums → broadcast carry-in offsets), so
    the distinct-duration table, which grows with the observation
    span, never funnels through one task."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    spans = e.groupBy("user_id").agg(
        F.min(us).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias(
            "t_purchase"
        ),
        F.max(us).alias("t_last"),
    )
    end = F.coalesce("t_purchase", "t_last")
    durations = spans.where(end > F.col("t0")).select(
        F.expr(
            "(coalesce(t_purchase, t_last) - t0) div 3600000000"
        ).alias("t_hours"),
        F.col("t_purchase").isNotNull().alias("converted"),
    )
    counts = durations.groupBy("t_hours").agg(
        F.count_if("converted").alias("d"), F.count("*").alias("leaving")
    )
    risk = two_phase_ordered(
        counts,
        [F.desc("t_hours")],
        rank_name=None,
        cumsums={"n_at_risk": "leaving"},
    ).select("t_hours", "d", "n_at_risk")
    ln_term = F.round(
        F.log(1.0 - F.col("d").cast("double") / F.col("n_at_risk")).cast(
            "decimal(20,12)"
        ),
        12,
    ).cast("decimal(20,12)")
    terms = two_phase_ordered(
        risk.where((F.col("d") > 0) & (F.col("d") < F.col("n_at_risk")))
        .select("t_hours", "d", "n_at_risk", ln_term.alias("ln_term")),
        [F.asc("t_hours")],
        rank_name=None,
        cumsums={"ln_sum": "ln_term"},
    )
    surv = F.exp(F.col("ln_sum").cast("double"))
    return terms.select(
        F.col("t_hours").cast("long").alias("t_hours"),
        F.col("d").cast("long").alias("d"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        _r(surv, 6).alias("survival"),
    )


@query(
    "dedup_threshold_sweep",
    oracle="""
    WITH shingles AS (
      SELECT DISTINCT doc_id, shingle
      FROM (
        SELECT doc_id,
               array_to_string(words[i : i + 2], ' ') AS shingle
        FROM (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS words
          FROM documents WHERE doc_id < 100
        ), UNNEST(range(1, len(words) - 1)) AS t(i)
        WHERE len(words) >= 3
      )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
      SELECT (i * 1000000) // (sa.n + sb.n - i) AS j_ppm
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT CAST(count_if(j_ppm >= 500000) AS BIGINT) AS pairs_at_050,
           CAST(count_if(j_ppm >= 700000) AS BIGINT) AS pairs_at_070,
           CAST(count_if(j_ppm >= 900000) AS BIGINT) AS pairs_at_090,
           COUNT(*) AS candidate_pairs
    FROM jac
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold calibration: near-dup pair counts at Jaccard ≥
    0.5 / 0.7 / 0.9 from ONE pass over the exact shingle-pair table —
    the sweep run before committing a threshold to the MinHash
    pipeline (dedup_minhash_lsh), because the kept-pair count's
    threshold sensitivity IS the risk measure. Jaccard compares as
    exact integer parts-per-million; the pair table is shingle-sparse
    (only documents sharing a shingle pair up), identical to
    dedup_ngram_jaccard's join discipline."""
    # round-11 second pass: guarded fan_out — the single-file sf
    # scan ran the tokenize in ONE task; no-op at real scale
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100))
    shingles = (
        d.where(F.size(T.words(F.col("text"))) >= 3)
        .select(
            "doc_id",
            F.explode(T.word_shingles(F.col("text"), 3)).alias("shingle"),
        )
        .distinct()
    )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = shingles.alias("a"), shingles.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(F.expr("(i * 1000000) div (na + nb - i)").alias("j_ppm"))
    )
    return jac.agg(
        F.count_if(F.col("j_ppm") >= 500000).alias("pairs_at_050"),
        F.count_if(F.col("j_ppm") >= 700000).alias("pairs_at_070"),
        F.count_if(F.col("j_ppm") >= 900000).alias("pairs_at_090"),
        F.count("*").alias("candidate_pairs"),
    )


@query(
    "func_mask_family",
    oracle="""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             source || '-' || upper(lang) || CAST(doc_id % 100 AS VARCHAR),
             '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
             AS masked_default,
           regexp_replace(
             source || '-' || upper(lang) || CAST(doc_id % 100 AS VARCHAR),
             '[0-9]', '#', 'g') AS masked_digits_only
    FROM documents WHERE doc_id % 50 = 0
    """,
)
def func_mask_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mask() — structure-preserving PII masking: uppercase → X,
    lowercase → x, digits → n (or any custom replacement set), keeping
    length and character-class shape so downstream format validators
    still pass — the complement of text_redact_pii's pattern removal.
    The oracle reproduces the masking with explicit character-class
    replaces, verifying the builtin against its specification."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 50 == 0)
    token = F.concat(
        F.col("source"),
        F.lit("-"),
        F.upper("lang"),
        (F.col("doc_id") % 100).cast("string"),
    )
    return d.select(
        "doc_id",
        F.mask(token).alias("masked_default"),
        F.mask(
            token,
            upperChar=F.lit(None),
            lowerChar=F.lit(None),
            digitChar=F.lit("#"),
        ).alias("masked_digits_only"),
    )


@query(
    "delta_stats_skipping_scan",
    oracle="""
    SELECT l_orderkey, l_extendedprice FROM lineitem
    WHERE l_orderkey BETWEEN 5000 AND 6000
    """,
)
def delta_stats_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping as a query: the lineitem slice lands in a Delta
    table, OPTIMIZE ZORDER BY clusters it on the key so every file's
    add.stats min/max are tight, and the range read consults ONLY the
    log (pruned_files) to decide which files to open — most files are
    skipped without touching parquet, then the residual filter runs on
    the survivors. Correctness is scan-set-independent (skipping is
    sound: files without stats are kept), which the plain-filter
    oracle enforces; the skipping RATIO is asserted in
    tests/test_stats_skipping.py."""

    from guidewire_spark.sources.snapshot import load_snapshot, scan_live_files
    from guidewire_spark.sources.writer import optimize_table, write_delta

    table = scratch_dir("gw_skip_") + "/li"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    write_delta(li, table, mode="append")
    optimize_table(spark, table, target_files=16, zorder_by=["l_orderkey"])
    snap = load_snapshot(table)
    files = snap.pruned_files("l_orderkey", 5000, 6000)
    assert len(files) < len(snap.files), "skipping must prune files"
    return scan_live_files(spark, snap, files).where(
        F.col("l_orderkey").between(5000, 6000)
    )


@query(
    "delta_stats_columns_config",
    oracle="""
    SELECT l_orderkey % 4 AS bucket,
           COUNT(*) AS n,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(l_suppkey) AS BIGINT) AS sum_supp
    FROM lineitem GROUP BY l_orderkey % 4
    """,
)
def delta_stats_columns_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delta.dataSkippingStatsColumns end to end: a 500-column table's
    per-file stats JSON dominates the log at 100 TB, so Delta lets the
    writer restrict stats to the filter columns.  Half of lineitem
    lands before the config (wide stats), half after (stats on
    l_orderkey ONLY) — the query asserts the log shape inline (narrow
    files carry exactly {l_orderkey}; numRecords survives everywhere,
    so metadata-only COUNT stays exact) and then proves reads are
    config-independent by returning a full-table aggregate the oracle
    computes from the raw source."""
    import json as _json

    from guidewire_spark.sources.snapshot import load_snapshot, read_delta
    from guidewire_spark.sources.writer import set_table_properties, write_delta

    table = scratch_dir("gw_scols_") + "/li"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    write_delta(li.where("l_orderkey % 2 = 0"), table, mode="append")
    set_table_properties(table, {"delta.dataSkippingStatsColumns": "l_orderkey"})
    write_delta(li.where("l_orderkey % 2 = 1"), table, mode="append")
    snap = load_snapshot(table)
    shapes = set()
    for p in snap.files:
        st = _json.loads(snap.adds[p]["stats"])
        if st["numRecords"]:  # zero-row task outputs carry no bounds
            shapes.add(tuple(sorted(st["minValues"])))
    if shapes != {("l_orderkey",), ("l_orderkey", "l_quantity", "l_suppkey")}:
        raise AssertionError(f"unexpected stats shapes in log: {shapes}")
    if snap.metadata_count() != li.count():
        raise AssertionError("numRecords must survive stats restriction")
    return (
        read_delta(spark, table)
        .groupBy((F.col("l_orderkey") % 4).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("l_orderkey").alias("sum_key"),
            F.sum("l_suppkey").alias("sum_supp"),
        )
    )
