"""Round-5 frontier operators: log-log price elasticity and
structural template detection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "agg_price_elasticity_loglog",
    oracle="""
    WITH pq AS (
      SELECT l_partkey,
             AVG(CAST(ROUND(l_extendedprice / l_quantity * 100, 0)
                 AS BIGINT)) AS unit_cents,
             SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS qty
      FROM lineitem GROUP BY l_partkey
    ),
    logs AS (
      SELECT CAST(ROUND(CAST(ln(unit_cents) AS DECIMAL(20,12)), 12)
                  AS DECIMAL(20,12)) AS x,
             CAST(ROUND(CAST(ln(CAST(qty AS DOUBLE)) AS DECIMAL(20,12)), 12)
                  AS DECIMAL(20,12)) AS y
      FROM pq WHERE unit_cents > 0 AND qty > 0
    ),
    mom AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM logs
    )
    SELECT CAST(n AS BIGINT) AS n_parts,
           CAST(ROUND(CAST(
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS elasticity,
           CAST(ROUND(CAST(
             (CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                * sx) / n
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS log_intercept
    FROM mom
    """,
)
def agg_price_elasticity_loglog(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Price elasticity of demand from the cross-part log-log
    regression: slope of ln(quantity) on ln(unit price) across parts
    — the constant-elasticity estimate pricing teams start from (a
    slope of −1.2 reads "a 1% price increase loses 1.2% volume").
    The log terms are DECIMAL-rounded at 12 dp before the sums (the
    mutual-information discipline), so the cross-moment accumulation
    is exact and order-free in both engines; the slope division is
    the only float step.  One part-level aggregate, one moment fold."""
    li = load_table(spark, sf_dir, "lineitem")
    pq = li.groupBy("l_partkey").agg(
        F.avg(
            F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100, 0)
            .cast("long")
        ).alias("unit_cents"),
        F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("qty"),
    )
    logs = pq.where((F.col("unit_cents") > 0) & (F.col("qty") > 0)).select(
        F.round(F.log("unit_cents").cast("decimal(20,12)"), 12)
        .cast("decimal(20,12)")
        .alias("x"),
        F.round(F.log(F.col("qty").cast("double")).cast("decimal(20,12)"), 12)
        .cast("decimal(20,12)")
        .alias("y"),
    )
    mom = logs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")) / (
        n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / n
    return mom.select(
        F.col("n").cast("long").alias("n_parts"),
        _r(slope, 6).alias("elasticity"),
        _r(intercept, 6).alias("log_intercept"),
    )


@query(
    "text_template_detection",
    oracle="""
    WITH sig AS (
      SELECT doc_id,
             md5(regexp_replace(regexp_replace(lower(text),
                 '[0-9]+', '#', 'g'), '[a-z]+', 'w', 'g')) AS template_sig
      FROM documents
    ),
    grp AS (
      SELECT template_sig, COUNT(*) AS n_docs,
             MIN(doc_id) AS exemplar_doc
      FROM sig GROUP BY template_sig
    )
    SELECT template_sig, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(exemplar_doc AS BIGINT) AS exemplar_doc
    FROM grp WHERE n_docs >= 5
    """,
)
def text_template_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection: collapse every number to ``#`` and every
    word to ``w``, hash the remaining STRUCTURE (punctuation,
    spacing, layout), and report structural signatures shared by 5+
    documents — the machine-generated-boilerplate catcher (receipt
    spam, scraped listings, lorem farms) that token-level dedup
    misses because the WORDS all differ while the skeleton repeats.
    The standard pre-filter before near-dup in web-corpus cleaning.
    One pass: two JVM regex collapses + md5, then a signature-
    cardinality aggregate with a deterministic exemplar (min
    doc_id)."""
    d = load_table(spark, sf_dir, "documents")
    sig = d.select(
        "doc_id",
        F.md5(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "#"),
                "[a-z]+",
                "w",
            )
        ).alias("template_sig"),
    )
    grp = sig.groupBy("template_sig").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("exemplar_doc"),
    )
    return grp.where(F.col("n_docs") >= 5).select(
        "template_sig",
        "n_docs",
        F.col("exemplar_doc").cast("long").alias("exemplar_doc"),
    )


@query(
    "agg_diff_in_diff",
    oracle="""
    WITH bounds AS (
      SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
    ),
    tagged AS (
      SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treated,
             CASE WHEN epoch_us(ts) >= lo + (hi - lo) / 2 THEN 1 ELSE 0 END
               AS post,
             CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT) AS m
      FROM events CROSS JOIN bounds
    ),
    cells AS (
      SELECT treated, post, COUNT(*) AS n, SUM(m) AS s
      FROM tagged GROUP BY treated, post
    ),
    means AS (
      SELECT MAX(CASE WHEN treated = 1 AND post = 1
                      THEN CAST(s AS DOUBLE) / n END) AS t1,
             MAX(CASE WHEN treated = 1 AND post = 0
                      THEN CAST(s AS DOUBLE) / n END) AS t0,
             MAX(CASE WHEN treated = 0 AND post = 1
                      THEN CAST(s AS DOUBLE) / n END) AS c1,
             MAX(CASE WHEN treated = 0 AND post = 0
                      THEN CAST(s AS DOUBLE) / n END) AS c0
      FROM cells
    )
    SELECT CAST(ROUND(CAST((t1 - t0) / 1000.0 AS DECIMAL(24,10)), 6)
                AS DOUBLE) AS treated_delta,
           CAST(ROUND(CAST((c1 - c0) / 1000.0 AS DECIMAL(24,10)), 6)
                AS DOUBLE) AS control_delta,
           CAST(ROUND(CAST(
             ((t1 - t0) - (c1 - c0)) / 1000.0
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS did_estimate
    FROM means
    """,
)
def agg_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the 2×2 (treated × pre/post) mean
    table and the interaction contrast (Δtreated − Δcontrol) — the
    workhorse causal estimate when treatment wasn't randomized but a
    parallel-trends control exists (the secular drift both groups
    share cancels in the double difference).  Cohorts by user parity,
    the period cut at the time-range midpoint; four exact integer
    cell sums from ONE pass, the contrast is arithmetic on the 4-row
    cell table."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"),
        F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long").alias("m"),
    )
    bounds = e.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    tagged = e.crossJoin(F.broadcast(bounds)).select(
        (F.col("user_id") % 2 == 1).cast("int").alias("treated"),
        (
            F.col("us") >= F.col("lo") + (F.col("hi") - F.col("lo")) / 2
        ).cast("int").alias("post"),
        "m",
    )
    cells = tagged.groupBy("treated", "post").agg(
        F.count("*").alias("n"), F.sum("m").alias("s")
    )
    mean_of = lambda t, p: F.max(
        F.when(
            (F.col("treated") == t) & (F.col("post") == p),
            F.col("s").cast("double") / F.col("n"),
        )
    )
    means = cells.agg(
        mean_of(1, 1).alias("t1"),
        mean_of(1, 0).alias("t0"),
        mean_of(0, 1).alias("c1"),
        mean_of(0, 0).alias("c0"),
    )
    return means.select(
        _r((F.col("t1") - F.col("t0")) / 1000.0, 6).alias("treated_delta"),
        _r((F.col("c1") - F.col("c0")) / 1000.0, 6).alias("control_delta"),
        _r(
            ((F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")))
            / 1000.0,
            6,
        ).alias("did_estimate"),
    )


@query(
    "dq_pii_pattern_scan",
    oracle="""
    SELECT 'email' AS pattern, CAST(COALESCE(SUM(
             len(regexp_extract_all(text,
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'))
           ), 0) AS BIGINT) AS n_hits,
           CAST(COUNT(CASE WHEN regexp_matches(text,
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')
               THEN 1 END) AS BIGINT) AS n_docs
    FROM documents
    UNION ALL
    SELECT 'phone_us', CAST(COALESCE(SUM(
             len(regexp_extract_all(text,
                 '\\(\\d{3}\\) \\d{3}-\\d{4}'))), 0) AS BIGINT),
           CAST(COUNT(CASE WHEN regexp_matches(text,
                 '\\(\\d{3}\\) \\d{3}-\\d{4}') THEN 1 END) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'ssn_like', CAST(COALESCE(SUM(
             len(regexp_extract_all(text,
                 '\\d{3}-\\d{2}-\\d{4}'))), 0) AS BIGINT),
           CAST(COUNT(CASE WHEN regexp_matches(text,
                 '\\d{3}-\\d{2}-\\d{4}') THEN 1 END) AS BIGINT)
    FROM documents
    """,
)
def dq_pii_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pattern scan: per high-risk pattern (email, US phone,
    SSN-shaped), total hits and documents containing at least one —
    the data-governance gate every corpus release runs before
    publishing (and the reference's insurance domain regulates
    hardest).  On the clean synthetic corpus all counts are zero —
    which is precisely the audit's passing state; pytest plants PII
    in a fixture and requires detection.  One corpus pass, three JVM
    regex extractions; the report is patterns-cardinality-sized."""
    d = load_table(spark, sf_dir, "documents")
    patterns = {
        "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
        "phone_us": r"\(\d{3}\) \d{3}-\d{4}",
        "ssn_like": r"\d{3}-\d{2}-\d{4}",
    }
    parts = []
    for name, rx in patterns.items():
        hits = F.size(F.regexp_extract_all("text", F.lit(rx), F.lit(0)))
        parts.append(
            d.agg(
                F.lit(name).alias("pattern"),
                F.coalesce(F.sum(hits), F.lit(0)).cast("long").alias("n_hits"),
                F.sum(F.when(hits > 0, 1).otherwise(0))
                .cast("long")
                .alias("n_docs"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "agg_shapley_channel_attribution",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
             MAX(CASE WHEN event_type = 'share' THEN 1 ELSE 0 END) AS s,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    coalitions AS (
      SELECT v, c, s,
             CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS cr,
             COUNT(*) AS n
      FROM per_user GROUP BY v, c, s
    ),
    -- v(S) = conversion rate of users exposed to EXACTLY coalition S
    vals AS (
      SELECT
        MAX(CASE WHEN v=0 AND c=0 AND s=0 THEN cr ELSE 0 END) AS v000,
        MAX(CASE WHEN v=1 AND c=0 AND s=0 THEN cr ELSE 0 END) AS v100,
        MAX(CASE WHEN v=0 AND c=1 AND s=0 THEN cr ELSE 0 END) AS v010,
        MAX(CASE WHEN v=0 AND c=0 AND s=1 THEN cr ELSE 0 END) AS v001,
        MAX(CASE WHEN v=1 AND c=1 AND s=0 THEN cr ELSE 0 END) AS v110,
        MAX(CASE WHEN v=1 AND c=0 AND s=1 THEN cr ELSE 0 END) AS v101,
        MAX(CASE WHEN v=0 AND c=1 AND s=1 THEN cr ELSE 0 END) AS v011,
        MAX(CASE WHEN v=1 AND c=1 AND s=1 THEN cr ELSE 0 END) AS v111
      FROM coalitions
    )
    SELECT 'view' AS channel, CAST(ROUND(CAST(
      ((v100 - v000) * 2 + (v110 - v010) + (v101 - v001)
       + (v111 - v011) * 2) / 6.0 AS DECIMAL(24,10)), 6) AS DOUBLE)
      AS shapley_value
    FROM vals
    UNION ALL
    SELECT 'click', CAST(ROUND(CAST(
      ((v010 - v000) * 2 + (v110 - v100) + (v011 - v001)
       + (v111 - v101) * 2) / 6.0 AS DECIMAL(24,10)), 6) AS DOUBLE)
    FROM vals
    UNION ALL
    SELECT 'share', CAST(ROUND(CAST(
      ((v001 - v000) * 2 + (v101 - v100) + (v011 - v010)
       + (v111 - v110) * 2) / 6.0 AS DECIMAL(24,10)), 6) AS DOUBLE)
    FROM vals
    """,
)
def agg_shapley_channel_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT Shapley-value attribution over the 3-channel exposure
    game (view / click / share → purchase): the characteristic
    function v(S) is the conversion rate of users exposed to exactly
    coalition S, and each channel's credit is the Shapley average of
    its marginal contributions over all 3! orderings — the only
    attribution scheme that is efficient, symmetric, and
    null-player-consistent, which last-touch heuristics
    (attribution_last_touch) are not.  With 3 channels the 2³
    coalition table is exact and tiny: one user-level exposure
    aggregate (data-sized pass), an 8-row coalition table, and
    closed-form weights 2/1/1/2 over 6."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("v"),
        F.max((F.col("event_type") == "click").cast("int")).alias("c"),
        F.max((F.col("event_type") == "share").cast("int")).alias("s"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "converted"
        ),
    )
    coalitions = per_user.groupBy("v", "c", "s").agg(
        (F.sum("converted").cast("double") / F.count("*")).alias("cr")
    )

    def vof(v, c, s):
        return F.max(
            F.when(
                (F.col("v") == v) & (F.col("c") == c) & (F.col("s") == s),
                F.col("cr"),
            ).otherwise(0.0)
        )

    vals = coalitions.agg(
        *[
            vof(a, b, g).alias(f"v{a}{b}{g}")
            for a in (0, 1)
            for b in (0, 1)
            for g in (0, 1)
        ]
    )
    V = lambda k: F.col(f"v{k}")
    shap_view = (
        (V("100") - V("000")) * 2
        + (V("110") - V("010"))
        + (V("101") - V("001"))
        + (V("111") - V("011")) * 2
    ) / 6.0
    shap_click = (
        (V("010") - V("000")) * 2
        + (V("110") - V("100"))
        + (V("011") - V("001"))
        + (V("111") - V("101")) * 2
    ) / 6.0
    shap_share = (
        (V("001") - V("000")) * 2
        + (V("101") - V("100"))
        + (V("011") - V("010"))
        + (V("111") - V("110")) * 2
    ) / 6.0
    out = (
        vals.select(F.lit("view").alias("channel"), _r(shap_view, 6).alias("shapley_value"))
        .unionByName(
            vals.select(F.lit("click").alias("channel"), _r(shap_click, 6).alias("shapley_value"))
        )
        .unionByName(
            vals.select(F.lit("share").alias("channel"), _r(shap_share, 6).alias("shapley_value"))
        )
    )
    return out


@query(
    "mix_tokenizer_compare",
    oracle="""
    WITH toks AS (
      SELECT source,
             len(list_filter(string_split_regex(text, '\\s+'),
                 w -> w <> '')) AS ws,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS bpe,
             length(text) AS chars
      FROM documents
    )
    SELECT source,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(chars) * 1000 // SUM(ws) AS BIGINT)
             AS chars_per_ws_token_milli,
           CAST(SUM(chars) * 1000 // SUM(bpe) AS BIGINT)
             AS chars_per_bpe_token_milli,
           CAST(SUM(bpe) * 1000000 // SUM(ws) AS BIGINT)
             AS bpe_inflation_ppm
    FROM toks GROUP BY source
    """,
)
def mix_tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer comparison per source: whitespace vs BPE-ish token
    totals, chars-per-token under each, and the inflation ratio —
    the budgeting table you build before committing a token budget
    to a mix (the same text costs different token counts under
    different tokenizers; a source that inflates 40% under the real
    tokenizer eats its budget early).  One corpus pass, two JVM
    tokenizations sharing the scan, exact integer milli/ppm."""
    from guidewire_spark.functions import text as T

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        T.word_count(F.col("text")).alias("ws"),
        T.bpe_ish_token_count(F.col("text")).alias("bpe"),
        F.length("text").alias("chars"),
    )
    return toks.groupBy("source").agg(
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.sum("bpe").cast("long").alias("bpe_tokens"),
        F.expr("sum(chars) * 1000 div sum(ws)").cast("long").alias(
            "chars_per_ws_token_milli"
        ),
        F.expr("sum(chars) * 1000 div sum(bpe)").cast("long").alias(
            "chars_per_bpe_token_milli"
        ),
        F.expr("sum(bpe) * 1000000 div sum(ws)").cast("long").alias(
            "bpe_inflation_ppm"
        ),
    )


@query(
    "join_null_aware_anti",
    oracle="""
    WITH probe AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 50 = 0 THEN NULL
                  ELSE o_custkey END AS custkey
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    blocked AS (
      SELECT c_custkey FROM customer WHERE c_acctbal < 0
    )
    SELECT o_orderkey
    FROM probe
    WHERE custkey NOT IN (SELECT c_custkey FROM blocked)
    """,
)
def join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-AWARE anti join — ``NOT IN (subquery)`` with a NULLABLE
    probe key, the SQL trap with different physics: three-valued
    logic makes a NULL probe key compare UNKNOWN against every
    element, so NULL-keyed rows NEVER qualify (and if the subquery
    contained a NULL, NO row would) — semantics a plain left-anti
    join gets wrong.  Spark 4 plans the single-column case as a
    NULL-AWARE BroadcastHashJoin(LeftAnti) — the NAAJ optimization
    that replaced the old BroadcastNestedLoopJoin fallback — keeping
    the three-valued contract at hash-join speed.  Every 50th probe
    key is
    NULLed to force the path; the blocked set is dim-sized
    (broadcastable — exactly when NOT IN is safe at scale; on a
    data-sized subquery, rewrite to NOT EXISTS)."""
    from guidewire_spark.plans.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH probe AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 50 = 0 THEN NULL
                      ELSE o_custkey END AS custkey
          FROM orders WHERE o_orderkey % 7 = 0
        ),
        blocked AS (
          SELECT c_custkey FROM customer WHERE c_acctbal < 0
        )
        SELECT o_orderkey
        FROM probe
        WHERE custkey NOT IN (SELECT c_custkey FROM blocked)
        """
    )
