"""Scalar-function family coverage (SURVEY.md §2.4 "Scalar functions").

One representative query per family (string / date-time / math /
array / map / JSON / conditional), each kept entirely inside
whole-stage codegen — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "func_string_family",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           LOWER(c_mktsegment) AS seg_lower,
           SUBSTRING(c_name, 1, 8) AS name_prefix,
           LENGTH(c_name) AS name_len,
           CONCAT(c_name, ':', c_mktsegment) AS name_seg,
           TRIM(LPAD(CAST(c_custkey AS VARCHAR), 10, '0')) AS padded_key,
           INSTR(c_name, '0') AS zero_pos,
           REGEXP_REPLACE(c_name, '[0-9]+', '#') AS name_masked,
           REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS name_digits
    FROM customer
    """,
)
def func_string_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions: case, substring, length, concat, pad, trim,
    instr, regexp_replace/extract."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.concat_ws(":", "c_name", "c_mktsegment").alias("name_seg"),
        F.trim(F.lpad(F.col("c_custkey").cast("string"), 10, "0")).alias("padded_key"),
        F.instr(F.col("c_name"), "0").cast("long").alias("zero_pos"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_masked"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
    )


@query(
    "func_split_words",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           string_split(text, ' ')[1] AS first_word
    FROM documents
    """,
)
def func_split_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split + element access + size."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        words.getItem(0).alias("first_word"),
    )


@query(
    "func_datetime_family",
    oracle="""
    SELECT o_orderkey,
           YEAR(o_orderdate) AS order_year,
           MONTH(o_orderdate) AS order_month,
           DAY(o_orderdate) AS order_day,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
           date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch_start,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date_str
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
)
def func_datetime_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time functions: year/month/day, date_trunc, interval add,
    datediff, formatting. Timestamps serialized as strings so the
    value-hash is representation-independent."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 0)
    ts = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(ts).cast("long").alias("order_year"),
        F.month(ts).cast("long").alias("order_month"),
        F.dayofmonth(ts).cast("long").alias("order_day"),
        F.date_format(F.date_trunc("month", ts), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_add(ts.cast("date"), 30), "yyyy-MM-dd").alias("due_date"),
        F.datediff(ts.cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_start"),
        F.date_format(ts, "yyyy-MM-dd").alias("order_date_str"),
    )


@query(
    "func_math_family",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 1) AS price_r1,
           CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
           CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
           ABS(l_quantity - 25) AS qty_dev,
           ROUND(SQRT(l_extendedprice), 4) AS price_sqrt,
           ROUND(LN(l_extendedprice + 1), 6) AS price_ln,
           ROUND(POW(1 + l_tax, 2), 6) AS tax_sq,
           ((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7 AS key_mod7,
           CAST(SIGN(l_quantity - 25.0) AS BIGINT) AS qty_side
    FROM lineitem
    WHERE l_orderkey % 15 = 0
    """,
)
def func_math_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math functions: round/floor/ceil/abs/sqrt/log/pow/pmod/sign."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 15 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.pow(F.lit(1) + F.col("l_tax"), 2), 6).alias("tax_sq"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_mod7"),
        # Spark signum returns DOUBLE while DuckDB SIGN is integer-typed;
        # cast BOTH sides to BIGINT so the driver's value-hash agrees.
        F.signum(F.col("l_quantity") - 25.0).cast("long").alias("qty_side"),
    )


@query(
    "func_array_family",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sq_norm,
           ROUND(CAST(list_sort(list_transform(embedding, x -> CAST(x AS DOUBLE)))[1]
                 AS DOUBLE), 6) AS min_val,
           ROUND(CAST(list_transform(embedding, x -> CAST(x AS DOUBLE))[1] AS DOUBLE), 6)
             AS first_val,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           len(list_distinct(list_transform(embedding, x -> CAST(FLOOR(x * 10) AS INT))))
             AS n_distinct_buckets
    FROM embeddings
    """,
)
def func_array_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions + higher-order functions (transform / filter /
    aggregate) over the embedding column — all JVM-side, no UDF."""
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("sq_norm"),
        F.round(F.sort_array(dbl).getItem(0), 6).alias("min_val"),
        F.round(dbl.getItem(0), 6).alias("first_val"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).cast("long").alias("n_positive"),
        F.size(
            F.array_distinct(
                F.transform(F.col("embedding"), lambda x: F.floor(x * 10).cast("int"))
            )
        ).cast("long").alias("n_distinct_buckets"),
    )


@query(
    "func_explode_posexplode",
    oracle="""
    SELECT doc_id,
           CAST(i - 1 AS BIGINT) AS pos,
           words[i] AS word
    FROM (SELECT doc_id, string_split(text, ' ') AS words
          FROM documents WHERE doc_id % 25 = 0),
         UNNEST(range(1, len(words) + 1)) AS t(i)
    """,
)
def func_explode_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (UDTF-style lateral view) of tokenized text."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).withColumn("pos", F.col("pos").cast("long"))


@query(
    "func_map_family",
    oracle="""
    SELECT o_orderkey,
           'priority,status' AS map_keys_sorted,
           o_orderstatus AS status_val,
           o_orderpriority AS priority_val,
           2 AS map_size
    FROM orders WHERE o_orderkey % 50 = 0
    """,
)
def func_map_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + key/value access (create_map, map_keys,
    element_at, size). The oracle computes the same values without map
    types since the map content is deterministic."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("map_keys_sorted"),
        F.element_at(m, "status").alias("status_val"),
        F.element_at(m, "priority").alias("priority_val"),
        F.size(m).alias("map_size"),
    )


@query(
    "func_json_family",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS INT) AS k_value,
           CAST(props->>'$.k' AS INT) > 50 AS k_large,
           CAST(json_valid(props) AS BOOLEAN) AS is_valid
    FROM events WHERE event_id % 20 = 0
    """,
)
def func_json_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions on events.props: get_json_object + from_json
    schema projection."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") % 20 == 0)
    parsed = F.from_json("props", "k int")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
        (parsed.getField("k") > 50).alias("k_large"),
        F.get_json_object("props", "$.k").isNotNull().alias("is_valid"),
    )


@query(
    "func_conditional_family",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           GREATEST(l_quantity, l_extendedprice / 1000) AS big,
           LEAST(l_discount, l_tax) AS small,
           IF(l_returnflag = 'R', 'returned', 'kept') AS flag_desc,
           NULLIF(l_linestatus, 'O') AS status_or_null
    FROM lineitem WHERE l_orderkey % 25 = 0
    """,
)
def func_conditional_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """greatest / least / if / nullif conditional expressions."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 25 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.greatest(F.col("l_quantity"), F.col("l_extendedprice") / 1000).alias("big"),
        F.least(F.col("l_discount"), F.col("l_tax")).alias("small"),
        F.when(F.col("l_returnflag") == "R", "returned")
        .otherwise("kept")
        .alias("flag_desc"),
        F.nullif(F.col("l_linestatus"), F.lit("O")).alias("status_or_null"),
    )


@query(
    "func_bitwise_family",
    oracle="""
    SELECT l_orderkey,
           l_orderkey & 255 AS band,
           l_orderkey | 4096 AS bor,
           xor(l_orderkey, l_linenumber) AS bxor,
           l_orderkey << 2 AS shl,
           l_orderkey >> 3 AS shr,
           CAST(bit_count(l_orderkey) AS INTEGER) AS popcount
    FROM lineitem WHERE l_linenumber = 1 AND l_orderkey < 5000
    """,
)
def func_bitwise_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator family: and/or/xor, shifts, popcount — the
    primitives under bucketing, bloom filters, and the engine's own
    Morton z-values."""
    li = load_table(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    return li.where((F.col("l_linenumber") == 1) & (k < 5000)).select(
        "l_orderkey",
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(4096)).alias("bor"),
        k.bitwiseXOR(F.col("l_linenumber").cast("long")).alias("bxor"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 3).alias("shr"),
        F.bit_count(k).alias("popcount"),
    )


@query(
    "func_struct_family",
    oracle="""
    WITH packed AS (
      SELECT o_orderkey,
             {'custkey': o_custkey, 'status': o_orderstatus,
              'price_band': CAST(FLOOR(o_totalprice / 50000) AS BIGINT)} AS o
      FROM orders WHERE o_orderkey % 11 = 0
    )
    SELECT o_orderkey,
           o.custkey AS custkey,
           o.status AS status,
           o.price_band AS price_band,
           o.custkey % 10 = 0 AS is_decimal_cust
    FROM packed
    """,
)
def func_struct_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct family: struct construction, dotted field access, and
    expressions over extracted fields. Both engines build a nested
    struct then project its fields back to scalars — the output stays
    flat because Row-vs-dict renderings of nested values are not
    comparable across engines, while their extracted fields are."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 11 == 0)
    packed = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderstatus").alias("status"),
            F.floor(F.col("o_totalprice") / 50000).alias("price_band"),
        ).alias("o"),
    )
    return packed.select(
        "o_orderkey",
        F.col("o.custkey").alias("custkey"),
        F.col("o.status").alias("status"),
        F.col("o.price_band").alias("price_band"),
        (F.col("o.custkey") % 10 == 0).alias("is_decimal_cust"),
    )


@query(
    "func_trig_family",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(SIN(l_quantity / 10.0), 6) AS sin_q,
           ROUND(COS(l_quantity / 10.0), 6) AS cos_q,
           ROUND(TAN(l_discount), 6) AS tan_d,
           ROUND(ATAN2(l_quantity, l_extendedprice / 1000.0), 6) AS bearing,
           ROUND(DEGREES(ATAN(l_tax)), 6) AS tax_deg,
           ROUND(EXP(l_discount), 6) AS exp_d,
           ROUND(LOG10(l_extendedprice), 6) AS log10_price
    FROM lineitem WHERE l_orderkey % 35 = 0
    """,
)
def func_trig_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric/transcendental family: sin/cos/tan/atan2/degrees/
    exp/log10 — the feature-engineering staples (cyclic encodings,
    bearings, log scaling), all inside whole-stage codegen."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 35 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sin(F.col("l_quantity") / 10.0), 6).alias("sin_q"),
        F.round(F.cos(F.col("l_quantity") / 10.0), 6).alias("cos_q"),
        F.round(F.tan("l_discount"), 6).alias("tan_d"),
        F.round(
            F.atan2(F.col("l_quantity"), F.col("l_extendedprice") / 1000.0), 6
        ).alias("bearing"),
        F.round(F.degrees(F.atan("l_tax")), 6).alias("tax_deg"),
        F.round(F.exp("l_discount"), 6).alias("exp_d"),
        F.round(F.log10("l_extendedprice"), 6).alias("log10_price"),
    )


@query(
    "func_string_distance",
    oracle="""
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist,
           (a.c_mktsegment = b.c_mktsegment) AS same_segment
    FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
    WHERE a.c_custkey % 25 = 0
    """,
)
def func_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-distance family: Levenshtein edit distance between
    adjacent customer names (the fuzzy-matching primitive under
    entity resolution), computed JVM-side."""
    c = load_table(spark, sf_dir, "customer")
    a = c.where(F.col("c_custkey") % 25 == 0).alias("a")
    b = c.alias("b")
    return a.join(
        b, F.col("b.c_custkey") == F.col("a.c_custkey") + 1
    ).select(
        F.col("a.c_custkey").alias("cust_a"),
        F.col("b.c_custkey").alias("cust_b"),
        F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias("edit_dist"),
        (F.col("a.c_mktsegment") == F.col("b.c_mktsegment")).alias("same_segment"),
    )


@query(
    "func_try_family",
    oracle="""
    SELECT event_id,
           CAST(ROUND(CAST(CASE WHEN user_id % 3 = 0 THEN NULL
                ELSE value / (user_id % 3) END AS DECIMAL(24,10)), 4)
                AS DOUBLE) AS safe_div,
           TRY_CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS k_num,
           TRY_CAST(event_type AS INTEGER) AS bad_cast,
           CASE WHEN user_id > 0 THEN NULL
                ELSE 9223372036854775807 + user_id END AS add_ovf
    FROM events WHERE event_id % 25 = 0
    """,
)
def func_try_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_* error-safe arithmetic: graceful NULL instead of a runtime
    error under ANSI mode — division by zero, malformed casts, int64
    overflow. The oracle spells out the same semantics with CASE
    guards, which is exactly the contract try_* encapsulates."""
    from guidewire_spark.plans.catalog import load_table

    e = load_table(spark, sf_dir, "events").where(F.col("event_id") % 25 == 0)
    return e.select(
        "event_id",
        stable_round(F.try_divide(F.col("value"), (F.col("user_id") % 3)), 4)
        .alias("safe_div"),
        F.try_to_number(
            F.regexp_extract("props", "[0-9]+", 0), F.lit("999999")
        )
        .cast("int")
        .alias("k_num"),
        F.expr("try_cast(event_type AS INT)").alias("bad_cast"),
        F.try_add(F.lit(9223372036854775807), F.col("user_id")).alias("add_ovf"),
    )


@query(
    "func_hash_family",
    oracle="""
    SELECT o_orderkey,
           md5(o_orderpriority || ':' || CAST(o_orderkey AS VARCHAR)) AS h_md5,
           sha256(o_orderpriority || ':' || CAST(o_orderkey AS VARCHAR))
             AS h_sha256,
           LOWER(to_hex(o_orderkey)) AS key_hex,
           to_base64(encode(o_orderstatus)) AS status_b64
    FROM orders WHERE o_orderkey % 50 = 0
    """,
)
def func_hash_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic/encoding function family: md5, sha2-256, hex,
    base64 — the content-addressing primitives behind exact dedup
    digests and cache keys. (xxhash64/crc32 exist too but are
    engine-specific bit-for-bit, so the portable pair md5/sha2 is what
    cross-engine digests should use — the same reasoning that made the
    dedup operators digest-based.)"""
    from guidewire_spark.plans.catalog import load_table

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    keyed = F.concat_ws(":", F.col("o_orderpriority"), F.col("o_orderkey"))
    return o.select(
        "o_orderkey",
        F.md5(keyed).alias("h_md5"),
        F.sha2(keyed, 256).alias("h_sha256"),
        F.lower(F.hex(F.col("o_orderkey"))).alias("key_hex"),
        F.base64(F.col("o_orderstatus").cast("binary")).alias("status_b64"),
    )


@query(
    "func_variant_family",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           event_type AS t_val,
           user_id AS uid_val
    FROM events WHERE event_id % 40 = 0
    """,
)
def func_variant_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT (Spark 4 semi-structured type): parse_json into a
    binary-encoded variant, then typed path extraction with
    variant_get — the schema-on-read column type that replaces
    string-JSON + from_json for open schemas (shredded storage,
    typed pushdown). One variant is parsed from the stored props
    JSON, a second is constructed from row data via to_json to
    exercise nested '$.a.b' paths; the oracle recomputes the same
    values from the base columns."""
    from guidewire_spark.plans.catalog import load_table

    e = load_table(spark, sf_dir, "events").where(F.col("event_id") % 40 == 0)
    props_v = F.parse_json("props")
    nested_v = F.parse_json(
        F.to_json(
            F.struct(
                F.col("event_type").alias("t"),
                F.struct(F.col("user_id").alias("id")).alias("u"),
            )
        )
    )
    return e.select(
        "event_id",
        F.variant_get(props_v, "$.k", "long").alias("k_val"),
        F.variant_get(nested_v, "$.t", "string").alias("t_val"),
        F.variant_get(nested_v, "$.u.id", "long").alias("uid_val"),
    )


@query(
    "func_aes_roundtrip",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority AS decrypted,
           CAST((length(o_orderpriority) // 16 + 1) * 16 AS BIGINT)
             AS cipher_bytes
    FROM orders WHERE o_orderkey % 60 = 0
    """,
)
def func_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption functions: aes_encrypt/aes_decrypt
    (ECB + PKCS padding here, the deterministic mode — GCM adds a
    random IV, which is what production wants but what no
    cross-engine oracle can check). The oracle verifies the roundtrip
    identity decrypt(encrypt(x)) = x and the PKCS#5 ciphertext length
    contract ((len/16 + 1) * 16 bytes) — the two properties that
    don't depend on the key schedule."""
    from guidewire_spark.plans.catalog import load_table

    key = F.lit("0000111122223333")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 60 == 0)
    cipher = F.expr(
        "aes_encrypt(o_orderpriority, '0000111122223333', 'ECB')"
    )
    return o.select(
        "o_orderkey",
        F.expr(
            "CAST(aes_decrypt(aes_encrypt(o_orderpriority,"
            " '0000111122223333', 'ECB'), '0000111122223333', 'ECB')"
            " AS STRING)"
        ).alias("decrypted"),
        F.octet_length(cipher).cast("long").alias("cipher_bytes"),
    )


@query(
    "func_format_family",
    oracle="""
    SELECT n_nationkey,
           printf('%s#%04d', n_name, n_nationkey) AS tagged,
           repeat(n_name, 2) AS doubled,
           translate(n_name, 'AEIOU', 'aeiou') AS devoweled,
           reverse(n_name) AS reversed
    FROM nation
    """,
)
def func_format_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting family: printf-style format_string, repeat,
    translate (character mapping), reverse — the templating /
    identifier-minting primitives (printf over columns is how
    surrogate keys and report labels are minted without a UDF)."""
    from guidewire_spark.plans.catalog import load_table

    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.format_string("%s#%04d", F.col("n_name"), F.col("n_nationkey")).alias(
            "tagged"
        ),
        F.repeat(F.col("n_name"), 2).alias("doubled"),
        F.translate(F.col("n_name"), "AEIOU", "aeiou").alias("devoweled"),
        F.reverse(F.col("n_name")).alias("reversed"),
    )
