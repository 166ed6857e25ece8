"""Operator-coverage query registry: every SURVEY.md §2 operator class gets a
(spark callable, DuckDB oracle SQL) pair over the driver testdata tables.

Cross-engine determinism rules used throughout (so order-insensitive
value-hash comparison is exact, not approximate):

* money/quantity sums are computed on ``CAST(ROUND(x*100) AS BIGINT)`` —
  exact integer arithmetic in both engines, then one deterministic division;
* variances/correlations/z-scores are derived *closed-form from exact integer
  sums* (SURVEY.md W8: covar/var via sum aggregates), never from streaming
  float accumulators whose order differs per engine;
* embedding math is quantized (``round(x*1000)`` per component) so dot
  products are exact integers;
* hashes are md5/sha256 hex (bit-identical across engines);
* every float output is rounded (4-6 dp) AFTER the deterministic math;
* ``dayofweek``: Spark is 1=Sunday..7, DuckDB 0=Sunday..6 — oracles add 1.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anomaly_detection_spark.functions import dedup, similarity, text

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col) -> F.Column:
    """Exact integer cents/centi-units: the cross-engine-deterministic way to
    sum 2-decimal doubles."""
    return F.round(col * 100).cast("long")


# =====================================================================
# Group A — validation-engine semantics on driver tables
# =====================================================================

def q_profile_lineitem(spark, sf):
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("rows"),
        F.countDistinct("l_suppkey").alias("distinct_suppliers"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        (F.sum(_cents(F.col("l_extendedprice"))) / 100.0).alias("sum_price"),
        F.round(F.sum(_cents(F.col("l_extendedprice"))) / F.count("*") / 100.0, 6).alias("avg_price"),
    )


SQL_PROFILE_LINEITEM = """
SELECT l_returnflag,
       COUNT(*) AS rows,
       COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) / 100.0 AS sum_price,
       ROUND(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) / COUNT(*) / 100.0, 6) AS avg_price
FROM lineitem GROUP BY l_returnflag
"""


def q_null_profile_documents(spark, sf):
    d = load(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("rows"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
        F.sum(F.col("lang").isNull().cast("long")).alias("null_lang"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").alias("distinct_langs"),
    )


# NOTE (applies to every oracle below): DuckDB SUM(integer) returns HUGEINT,
# which pandas materializes as float64/object and the driver's value-hash
# then differs from Spark's BIGINT even when values are equal. Every bare
# integer SUM output column is therefore CAST(... AS BIGINT).
SQL_NULL_PROFILE_DOCUMENTS = """
SELECT source, COUNT(*) AS rows,
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       COUNT(DISTINCT lang) AS distinct_langs
FROM documents GROUP BY source
"""


def q_uniqueness_orders(spark, sf):
    o = load(spark, sf, "orders")
    return (
        o.groupBy(F.col("o_orderkey").alias("dup_key"))
        .agg(F.count("*").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


SQL_UNIQUENESS_ORDERS = """
SELECT o_orderkey AS dup_key, COUNT(*) AS dup_count
FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
"""


def q_referential_lineitem_part(spark, sf):
    li, p = load(spark, sf, "lineitem"), load(spark, sf, "part")
    dangling = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_anti")
    return dangling.groupBy(F.col("l_partkey").alias("missing_partkey")).agg(
        F.count("*").alias("ref_count")
    )


SQL_REFERENTIAL_LINEITEM_PART = """
SELECT l_partkey AS missing_partkey, COUNT(*) AS ref_count
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_partkey IS NULL GROUP BY l_partkey
"""


def q_bloom_membership(spark, sf):
    """Bloom-filter membership (functions/membership.py — the scalable
    referential prescreen): bitset built from supplier keys, probed by
    every distinct lineitem suppkey plus a shifted definitely-absent copy.
    Emits (key, maybe_present, present); present ⇒ maybe_present (no
    false negatives) is checked by the oracle replicating the exact md5
    bit math. Probe side pays ZERO shuffles for the Bloom answer (k
    broadcast word-joins), only the exact `present` marker joins."""
    from anomaly_detection_spark.functions import membership

    sup = load(spark, sf, "supplier").select(
        F.col("s_suppkey").cast("long").alias("key")).distinct()
    li = load(spark, sf, "lineitem").select(
        F.col("l_suppkey").cast("long").alias("key")).distinct()
    probes = li.unionByName(li.select((F.col("key") + 500000).alias("key"))).distinct()
    bits = membership.bloom_bitset(sup, "key", 65536, 3)
    ann = membership.bloom_maybe_contains(probes, "key", bits, 65536, 3)
    return ann.join(
        sup.withColumn("present", F.lit(True)), "key", "left"
    ).select(
        "key", "maybe_present",
        F.coalesce("present", F.lit(False)).alias("present"),
    ).orderBy("key")


SQL_BLOOM_MEMBERSHIP = """
WITH sup AS (SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS key FROM supplier),
li AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS key FROM lineitem),
probes AS (SELECT key FROM li UNION SELECT key + 500000 FROM li),
pos AS (
  SELECT s.key,
    CAST(('0x'||substr(md5(CAST(i AS VARCHAR)||':'||CAST(s.key AS VARCHAR)),1,15)) AS BIGINT) % 65536 AS p
  FROM sup s, generate_series(0, 2) t(i)
), words AS (
  SELECT p // 32 AS w,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS word
  FROM pos GROUP BY 1
), probe_pos AS (
  SELECT pr.key,
    CAST(('0x'||substr(md5(CAST(i AS VARCHAR)||':'||CAST(pr.key AS VARCHAR)),1,15)) AS BIGINT) % 65536 AS p
  FROM probes pr, generate_series(0, 2) t(i)
), checks AS (
  SELECT pp.key,
    CASE WHEN w.word IS NOT NULL
          AND ((w.word >> CAST(pp.p % 32 AS INTEGER)) & 1) = 1
         THEN 1 ELSE 0 END AS hit
  FROM probe_pos pp LEFT JOIN words w ON w.w = pp.p // 32
), ann AS (SELECT key, MIN(hit) = 1 AS maybe_present FROM checks GROUP BY 1)
SELECT a.key, a.maybe_present, (s.key IS NOT NULL) AS present
FROM ann a LEFT JOIN sup s ON a.key = s.key ORDER BY a.key
"""


def q_psi_event_type_drift(spark, sf):
    """PSI of the event_type distribution: first half-month (baseline) vs
    second (current) — the engine's drift statistic on driver data."""
    e = load(spark, sf, "events")
    split = "2024-01-15"
    hist = e.groupBy(
        (F.col("ts") >= split).alias("is_cur"), "event_type"
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("is_cur")
    probs = hist.select(
        "is_cur", "event_type", (F.col("c") / F.sum("c").over(w)).alias("p")
    )
    cur = probs.filter("is_cur").select("event_type", F.col("p").alias("pc"))
    base = probs.filter("NOT is_cur").select("event_type", F.col("p").alias("pb"))
    j = cur.join(base, "event_type", "full_outer").fillna({"pc": 0.0, "pb": 0.0})
    eps = 1e-6
    pc = F.greatest(F.col("pc"), F.lit(eps))
    pb = F.greatest(F.col("pb"), F.lit(eps))
    return j.agg(F.round(F.sum((pc - pb) * F.log(pc / pb)), 6).alias("psi"))


SQL_PSI_EVENT_TYPE_DRIFT = """
WITH hist AS (
  SELECT (ts >= TIMESTAMP '2024-01-15') AS is_cur, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), probs AS (
  SELECT is_cur, event_type,
         c * 1.0 / SUM(c) OVER (PARTITION BY is_cur) AS p
  FROM hist
), j AS (
  SELECT COALESCE(cur.event_type, base.event_type) AS event_type,
         COALESCE(cur.p, 0.0) AS pc, COALESCE(base.p, 0.0) AS pb
  FROM (SELECT * FROM probs WHERE is_cur) cur
  FULL OUTER JOIN (SELECT * FROM probs WHERE NOT is_cur) base
    ON cur.event_type = base.event_type
)
SELECT ROUND(SUM((GREATEST(pc, 1e-6) - GREATEST(pb, 1e-6))
             * LN(GREATEST(pc, 1e-6) / GREATEST(pb, 1e-6))), 6) AS psi
FROM j
"""


def q_ks_value_drift(spark, sf):
    """KS statistic over integer-cents event values, first vs second half."""
    e = load(spark, sf, "events").select(
        (F.col("ts") >= "2024-01-15").alias("is_cur"),
        _cents(F.col("value")).alias("bin"),
    )
    hist = e.groupBy("is_cur", "bin").agg(F.count("*").alias("c"))
    w = Window.partitionBy("is_cur")
    probs = hist.select("is_cur", "bin", (F.col("c") / F.sum("c").over(w)).alias("p"))
    cur = probs.filter("is_cur").select("bin", F.col("p").alias("pc"))
    base = probs.filter("NOT is_cur").select("bin", F.col("p").alias("pb"))
    j = cur.join(base, "bin", "full_outer").fillna({"pc": 0.0, "pb": 0.0})
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cdf = j.select(
        F.sum("pc").over(wc).alias("ca"), F.sum("pb").over(wc).alias("cb")
    )
    return cdf.agg(F.round(F.max(F.abs(F.col("ca") - F.col("cb"))), 6).alias("ks"))


SQL_KS_VALUE_DRIFT = """
WITH e AS (
  SELECT (ts >= TIMESTAMP '2024-01-15') AS is_cur,
         CAST(ROUND(value*100) AS BIGINT) AS bin
  FROM events
), hist AS (
  SELECT is_cur, bin, COUNT(*) AS c FROM e GROUP BY 1, 2
), probs AS (
  SELECT is_cur, bin, c * 1.0 / SUM(c) OVER (PARTITION BY is_cur) AS p FROM hist
), j AS (
  SELECT COALESCE(cur.bin, base.bin) AS bin,
         COALESCE(cur.p, 0.0) AS pc, COALESCE(base.p, 0.0) AS pb
  FROM (SELECT * FROM probs WHERE is_cur) cur
  FULL OUTER JOIN (SELECT * FROM probs WHERE NOT is_cur) base ON cur.bin = base.bin
), cdf AS (
  SELECT SUM(pc) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS ca,
         SUM(pb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cb
  FROM j
)
SELECT ROUND(MAX(ABS(ca - cb)), 6) AS ks FROM cdf
"""


def q_quantile_shift_drift(spark, sf):
    """Quantile-shift drift per event_type: p50/p95 of value, first
    half-month vs second, exact-integer micro-units + a pure integer
    >10 %-relative-shift flag (``drift.quantile_shift``)."""
    from anomaly_detection_spark import drift

    e = load(spark, sf, "events")
    return drift.quantile_shift(
        e, "event_type", "value", F.col("ts") >= "2024-01-15"
    ).orderBy("event_type")


SQL_QUANTILE_SHIFT_DRIFT = """
WITH q AS (
  SELECT event_type,
    CAST(FLOOR(quantile_cont(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN value END, 0.5)
               * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS p50_base_micros,
    CAST(FLOOR(quantile_cont(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN value END, 0.5)
               * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS p50_cur_micros,
    CAST(FLOOR(quantile_cont(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN value END, 0.95)
               * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS p95_base_micros,
    CAST(FLOOR(quantile_cont(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN value END, 0.95)
               * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS p95_cur_micros
  FROM events GROUP BY event_type
)
SELECT event_type, p50_base_micros, p50_cur_micros,
       p50_cur_micros - p50_base_micros AS p50_shift_micros,
       p95_base_micros, p95_cur_micros,
       p95_cur_micros - p95_base_micros AS p95_shift_micros,
       (100 * ABS(p50_cur_micros - p50_base_micros) > 10 * ABS(p50_base_micros)
        OR 100 * ABS(p95_cur_micros - p95_base_micros) > 10 * ABS(p95_base_micros))
         AS drifted
FROM q ORDER BY event_type
"""


def q_wasserstein_value_drift(spark, sf):
    """Wasserstein-1 (earth-mover) distance over integer-cents event values,
    first half-month vs second — completes the drift family (PSI = density
    ratio, KS = max CDF gap, W1 = area between CDFs).

    Exactness: W1·nb·nc = Σ_bins |CC·nb − CB·nc| · gap is pure int64
    arithmetic (CC/CB cumulative counts, gap = distance to next occupied
    bin), so the statistic is bit-identical cross-engine with no float
    summation order to worry about; bound |CC·nb−CB·nc|·Σgap ≤ nc·nb·range
    ≪ 2^63 at any SF here. Scale shape: one hash agg over bins (cardinality
    = distinct cents values, bounded by the value range, not the corpus),
    then a single ordered window over that bounded bin table — same shape as
    the shipped KS query."""
    e = load(spark, sf, "events").select(
        (F.col("ts") >= "2024-01-15").alias("is_cur"),
        _cents(F.col("value")).alias("bin"),
    )
    hist = e.groupBy("bin").agg(
        F.sum(F.col("is_cur").cast("long")).alias("cc"),
        F.sum((~F.col("is_cur")).cast("long")).alias("cb"),
    )
    tot = hist.agg(F.sum("cc").alias("nc"), F.sum("cb").alias("nb"))
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = Window.orderBy("bin")
    cdf = hist.select(
        "bin",
        F.sum("cc").over(wc).alias("CC"),
        F.sum("cb").over(wc).alias("CB"),
        (F.lead("bin").over(wn) - F.col("bin")).alias("gap"),
    ).where(F.col("gap").isNotNull())
    j = cdf.join(F.broadcast(tot))
    scaled = F.sum(
        F.abs(F.col("CC") * F.col("nb") - F.col("CB") * F.col("nc")) * F.col("gap")
    )
    return j.agg(
        scaled.cast("long").alias("w1_scaled"),
        F.max("nc").alias("nc"),
        F.max("nb").alias("nb"),
        F.floor(
            scaled.cast("double") / (F.max("nc") * F.max("nb")).cast("double")
            * F.lit(1e4) + F.lit(0.5)
        ).cast("long").alias("w1_cents_e4"),
    )


SQL_WASSERSTEIN_VALUE_DRIFT = """
WITH e AS (
  SELECT (ts >= TIMESTAMP '2024-01-15') AS is_cur,
         CAST(ROUND(value*100) AS BIGINT) AS bin
  FROM events
), hist AS (
  SELECT bin,
         CAST(SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS cc,
         CAST(SUM(CASE WHEN is_cur THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM e GROUP BY bin
), tot AS (
  SELECT CAST(SUM(cc) AS BIGINT) AS nc, CAST(SUM(cb) AS BIGINT) AS nb FROM hist
), cdf AS (
  SELECT bin,
         SUM(cc) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS CC,
         SUM(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS CB,
         LEAD(bin) OVER (ORDER BY bin) - bin AS gap
  FROM hist
)
SELECT CAST(SUM(ABS(CC * nb - CB * nc) * gap) AS BIGINT) AS w1_scaled,
       MAX(nc) AS nc, MAX(nb) AS nb,
       CAST(FLOOR(CAST(SUM(ABS(CC * nb - CB * nc) * gap) AS DOUBLE)
                  / CAST(MAX(nc) * MAX(nb) AS DOUBLE)
                  * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
         AS w1_cents_e4
FROM cdf CROSS JOIN tot WHERE gap IS NOT NULL
"""


def q_frequent_values(spark, sf):
    """Deequ-style frequent-values profile: top-5 most frequent values per
    profiled column (documents.lang, documents.source, events.event_type) in
    one long-format pass — the data-profiling report a validation engine
    emits next to null-rates and distinct counts.

    ratio_ppm is exact integer math (cnt·1e6 div total), no float rounding.
    Scale shape: per-column unions feed ONE (col_name, value) hash agg with
    map-side combine; the window runs over distinct values per column
    (bounded by column cardinality, not corpus size)."""
    d = load(spark, sf, "documents")
    e = load(spark, sf, "events")
    cols = (
        d.select(F.lit("documents.lang").alias("col_name"), F.col("lang").alias("value"))
        .unionByName(
            d.select(F.lit("documents.source").alias("col_name"), F.col("source").alias("value"))
        )
        .unionByName(
            e.select(F.lit("events.event_type").alias("col_name"), F.col("event_type").alias("value"))
        )
    )
    counts = (
        cols.where(F.col("value").isNotNull())
        .groupBy("col_name", "value")
        .agg(F.count("*").alias("cnt"))
    )
    wt = Window.partitionBy("col_name")
    w = Window.partitionBy("col_name").orderBy(F.desc("cnt"), F.asc("value"))
    return (
        counts.withColumn("total", F.sum("cnt").over(wt))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "col_name", "rank", "value", "cnt",
            F.expr("(cnt * 1000000L) div total").alias("ratio_ppm"),
        )
    )


SQL_FREQUENT_VALUES = """
WITH cols AS (
  SELECT 'documents.lang' AS col_name, lang AS value FROM documents
  UNION ALL
  SELECT 'documents.source', source FROM documents
  UNION ALL
  SELECT 'events.event_type', event_type FROM events
), counts AS (
  SELECT col_name, value, COUNT(*) AS cnt
  FROM cols WHERE value IS NOT NULL GROUP BY col_name, value
), ranked AS (
  SELECT col_name, value, cnt,
         SUM(cnt) OVER (PARTITION BY col_name) AS total,
         ROW_NUMBER() OVER (PARTITION BY col_name ORDER BY cnt DESC, value ASC) AS rank
  FROM counts
)
SELECT col_name, rank, value, cnt,
       CAST((cnt * 1000000) // total AS BIGINT) AS ratio_ppm
FROM ranked WHERE rank <= 5
"""


def q_price_qty_correlation(spark, sf):
    """Per-group Pearson correlation of quantity vs extended price, computed
    from exact integer-cents power sums (A3's mean/std family completed with
    covariance; the profiling correlation matrix a validation report carries).

    Exactness recipe: all five power sums accumulate as decimal(38,0)
    (DuckDB: HUGEINT) — order-independent integer addition — then ONE cast
    to double per term; the closing num/(sqrt·sqrt) uses only correctly
    rounded IEEE ops, so corr is bit-identical cross-engine. Map-side
    partial aggs, one shuffle on the 3-value group key."""
    li = load(spark, sf, "lineitem")
    x = _cents(F.col("l_quantity"))
    y = _cents(F.col("l_extendedprice"))

    def dec(c):
        return c.cast("decimal(38,0)")

    g = li.groupBy("l_returnflag").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(dec(x)).alias("sx"),
        F.sum(dec(y)).alias("sy"),
        F.sum(dec(x * y)).alias("sxy"),
        F.sum(dec(x * x)).alias("sxx"),
        F.sum(dec(y * y)).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    r = num / (F.sqrt(dx) * F.sqrt(dy))
    return g.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.floor(r * F.lit(1e6) + F.lit(0.5)).cast("long").alias("corr_micro"),
    )


SQL_PRICE_QTY_CORRELATION = """
WITH s AS (
  SELECT l_returnflag,
    COUNT(*) AS n,
    SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS sx,
    SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS sy,
    SUM(CAST(ROUND(l_quantity*100) AS BIGINT) * CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS sxy,
    SUM(CAST(ROUND(l_quantity*100) AS BIGINT) * CAST(ROUND(l_quantity*100) AS BIGINT)) AS sxx,
    SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
  CAST(FLOOR(CAST(n*sxy - sx*sy AS DOUBLE)
             / (SQRT(CAST(n*sxx - sx*sx AS DOUBLE)) * SQRT(CAST(n*syy - sy*sy AS DOUBLE)))
             * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS corr_micro
FROM s
"""

# log10(1 + 1/d) in ppm, d = 1..9 — baked constants so no engine computes a
# transcendental (ln/log10 are not correctly rounded; these integers are).
_BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]


def q_benford_totalprice(spark, sf):
    """Benford first-digit profile of order totals — the classic
    data-quality screen for fabricated or truncated numeric columns,
    emitted per digit with exact integer observed-vs-expected ppm.

    Exactness: first digit from an explicit FLOOR→string (Spark casts
    double→bigint by truncation but DuckDB rounds, so neither engine's
    implicit cast is used); observed ppm is integer div. Scale shape: one
    hash agg to ≤9 rows; the 9-row window total is driver-trivial."""
    o = load(spark, sf, "orders").where(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = o.groupBy(digit.alias("digit")).agg(F.count("*").alias("cnt"))
    exp = F.lit(None).cast("int")
    for d, ppm in enumerate(_BENFORD_PPM, start=1):
        exp = F.when(F.col("digit") == d, F.lit(ppm)).otherwise(exp)
    return (
        counts.withColumn("obs_ppm", F.expr("(cnt * 1000000L) div sum(cnt) over ()"))
        .select(
            "digit", "cnt", "obs_ppm",
            exp.alias("exp_ppm"),
            (F.col("obs_ppm") - exp).alias("dev_ppm"),
        )
        .orderBy("digit")
    )


SQL_BENFORD_TOTALPRICE = """
WITH c AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         COUNT(*) AS cnt
  FROM orders WHERE o_totalprice >= 1 GROUP BY 1
), w AS (
  SELECT digit, cnt, (cnt * 1000000) // SUM(cnt) OVER () AS obs_ppm FROM c
)
SELECT digit, cnt, CAST(obs_ppm AS BIGINT) AS obs_ppm,
       CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                  WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                  WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757 END AS exp_ppm,
       CAST(obs_ppm AS BIGINT)
         - CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                      WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                      WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757 END AS dev_ppm
FROM w ORDER BY digit
"""


def q_cross_column_consistency(spark, sf):
    """Cross-column constraint check (§2.10 conditional rule family): the
    stored ``n_chars`` must equal ``length(text)`` under null-safe equality
    — the redundant-derived-column consistency screen a validation engine
    runs on every ingest. One map-side-combined hash agg; violation count
    per source."""
    d = load(spark, sf, "documents")
    viol = ~F.col("n_chars").eqNullSafe(F.length(F.col("text")))
    return d.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(viol.cast("long")).alias("n_violations"),
    )


SQL_CROSS_COLUMN_CONSISTENCY = """
SELECT source, COUNT(*) AS n,
       CAST(SUM(CASE WHEN n_chars IS DISTINCT FROM length(text) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations
FROM documents GROUP BY source
"""


def q_orders_percentiles(spark, sf):
    o = load(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
    )


SQL_ORDERS_PERCENTILES = """
SELECT o_orderpriority,
       ROUND(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4) AS p50,
       ROUND(CAST(quantile_cont(o_totalprice, 0.95) AS DOUBLE), 4) AS p95
FROM orders GROUP BY o_orderpriority
"""


# =====================================================================
# Group B — relational operator coverage (joins, windows, set ops)
# =====================================================================

def q_pricing_summary(spark, sf):
    """TPC-H Q1 shape (A1, A3-A5): one wide agg after a pushed-down filter."""
    li = load(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-01")
    qty, price, disc = _cents(F.col("l_quantity")), _cents(F.col("l_extendedprice")), _cents(F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        (F.sum(qty) / 100.0).alias("sum_qty"),
        (F.sum(price) / 100.0).alias("sum_base_price"),
        F.round(F.sum(price * (F.lit(10000) - disc * 100)) / 1e6, 4).alias("sum_disc_price"),
        F.round(F.sum(qty) / F.count("*") / 100.0, 6).alias("avg_qty"),
        F.round(F.sum(price) / F.count("*") / 100.0, 6).alias("avg_price"),
        F.round(F.sum(disc) / F.count("*") / 100.0, 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty,
  SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) / 100.0 AS sum_base_price,
  ROUND(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
        * (10000 - CAST(ROUND(l_discount*100) AS BIGINT)*100)) / 1e6, 4) AS sum_disc_price,
  ROUND(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) / COUNT(*) / 100.0, 6) AS avg_qty,
  ROUND(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) / COUNT(*) / 100.0, 6) AS avg_price,
  ROUND(SUM(CAST(ROUND(l_discount*100) AS BIGINT)) / COUNT(*) / 100.0, 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_building_orders(spark, sf):
    """TPC-H Q3 shape (J1 multi-join + top-k W6): broadcast dim, exact-cents
    revenue, deterministic top-10."""
    c = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o, li = load(spark, sf, "orders"), load(spark, sf, "lineitem")
    rev = _cents(F.col("l_extendedprice")) * (F.lit(10000) - _cents(F.col("l_discount")) * 100)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(rev) / 1e6, 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


SQL_TOP_BUILDING_ORDERS = """
SELECT o_orderkey,
       ROUND(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
             * (10000 - CAST(ROUND(l_discount*100) AS BIGINT)*100)) / 1e6, 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
"""


def q_nation_revenue(spark, sf):
    """TPC-H Q5 shape: snowflake join through nation/region, broadcast dims."""
    li, o = load(spark, sf, "lineitem"), load(spark, sf, "orders")
    c, n, r = load(spark, sf, "customer"), load(spark, sf, "nation"), load(spark, sf, "region")
    rev = _cents(F.col("l_extendedprice")) * (F.lit(10000) - _cents(F.col("l_discount")) * 100)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.round(F.sum(rev) / 1e6, 4).alias("revenue"))
    )


SQL_NATION_REVENUE = """
SELECT n_name,
       ROUND(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
             * (10000 - CAST(ROUND(l_discount*100) AS BIGINT)*100)) / 1e6, 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' GROUP BY n_name
"""


def q_top3_customers_per_nation(spark, sf):
    """A8/W6: row_number top-k per group with deterministic tie-break."""
    c, n = load(spark, sf, "customer"), load(spark, sf, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("n_name", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "rank")
    )


SQL_TOP3_CUSTOMERS_PER_NATION = """
SELECT n_name, c_custkey, ROUND(c_acctbal, 2) AS acctbal, rank FROM (
  SELECT n_name, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) WHERE rank <= 3
"""


def q_segment_status_matrix(spark, sf):
    """A11 count-by-category matrix as conditional aggs (pivot analogue)."""
    c, o = load(spark, sf, "customer"), load(spark, sf, "orders")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.sum((F.col("o_orderstatus") == "F").cast("long")).alias("n_f"),
        F.sum((F.col("o_orderstatus") == "O").cast("long")).alias("n_o"),
        F.sum((F.col("o_orderstatus") == "P").cast("long")).alias("n_p"),
    )


SQL_SEGMENT_STATUS_MATRIX = """
SELECT c_mktsegment,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_minmax_normalized_prices(spark, sf):
    """A14 global min-max normalization via an empty-frame window."""
    o = load(spark, sf, "orders")
    w = Window.partitionBy()
    return o.select(
        "o_orderkey",
        F.round(
            (F.col("o_totalprice") - F.min("o_totalprice").over(w))
            / (F.max("o_totalprice").over(w) - F.min("o_totalprice").over(w)),
            6,
        ).alias("norm_price"),
    )


SQL_MINMAX_NORMALIZED_PRICES = """
SELECT o_orderkey,
       ROUND((o_totalprice - MIN(o_totalprice) OVER ())
             / (MAX(o_totalprice) OVER () - MIN(o_totalprice) OVER ()), 6) AS norm_price
FROM orders
"""


def q_lineitem_part_supplier_join(spark, sf):
    """J1 composite multi-join: per (brand, supplier nation) stats."""
    li, p = load(spark, sf, "lineitem"), load(spark, sf, "part")
    s, n = load(spark, sf, "supplier"), load(spark, sf, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("p_brand", "n_name")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(_cents(F.col("l_quantity"))) / 100.0).alias("total_qty"),
        )
    )


SQL_LINEITEM_PART_SUPPLIER_JOIN = """
SELECT p_brand, n_name, COUNT(*) AS n_items,
       SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) / 100.0 AS total_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY p_brand, n_name
"""


def q_customers_without_orders(spark, sf):
    """J5/O4 anti-join semantics: customers with zero orders."""
    c, o = load(spark, sf, "customer"), load(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


# ---------------------------------------------------------------- windows

def q_sessionize_events(spark, sf):
    """W1 gap-based sessionization (30-min gap) via lag + running sum,
    exact integer microseconds both engines."""
    e = load(spark, sf, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us")
    gap = F.col("us") - F.lag("us").over(w)
    flagged = e.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    )
    wid = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    sess = wid.groupBy("user_id", "session_id").agg(F.count("*").alias("n"))
    return sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n").alias("max_session_events"),
        (F.sum("n") / F.count("*")).alias("avg_session_events_x"),
    ).select(
        "user_id", "n_sessions", "max_session_events",
        F.round("avg_session_events_x", 6).alias("avg_session_events"),
    )


SQL_SESSIONIZE_EVENTS = """
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
flagged AS (
  SELECT user_id, us,
         CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
              OR LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM e
), wid AS (
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), sess AS (
  SELECT user_id, session_id, COUNT(*) AS n FROM wid GROUP BY 1, 2
)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n) AS max_session_events,
       ROUND(SUM(n) * 1.0 / COUNT(*), 6) AS avg_session_events
FROM sess GROUP BY user_id
"""


def q_daily_event_rollup(spark, sf):
    """W2 tumbling daily windows per event type."""
    e = load(spark, sf, "events")
    return e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        (F.sum(_cents(F.col("value"))) / 100.0).alias("sum_value"),
    )


SQL_DAILY_EVENT_ROLLUP = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n,
       SUM(CAST(ROUND(value*100) AS BIGINT)) / 100.0 AS sum_value
FROM events GROUP BY 1, 2
"""


def q_ewma_control(spark, sf):
    """EWMA control chart (timeseries.ewma_control) per event type: daily
    counts vs the exponentially-weighted mean of the trailing 8 days
    (integer λ=1/4 kernel), 3σ Poisson band squared into pure-integer
    arithmetic — the SPC twin of `change_points`' flat-window z-score.
    Reference analogue: time_series_analyzer.py:132-138 rolling-mean
    daily-count drift. Map-side-combined daily rollup, then one window
    sort per event type over the tiny series."""
    from anomaly_detection_spark.functions.timeseries import ewma_control

    e = load(spark, sf, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return ewma_control(daily).orderBy("event_type", "day")


_EWMA_W = [3 ** (k - 1) * 4 ** (8 - k) for k in range(1, 9)]
_EWMA_NUM = " + ".join(
    f"COALESCE(lag(cnt, {k}) OVER w, 0) * {wk}"
    for k, wk in enumerate(_EWMA_W, start=1))
_EWMA_DEN = " + ".join(
    f"CASE WHEN lag(cnt, {k}) OVER w IS NOT NULL THEN {wk} ELSE 0 END"
    for k, wk in enumerate(_EWMA_W, start=1))

SQL_EWMA_CONTROL = f"""
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
         CAST({_EWMA_NUM} AS BIGINT) AS num,
         CAST({_EWMA_DEN} AS BIGINT) AS den
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day, cnt,
  CAST(CASE WHEN den > 0 THEN (CAST(num AS HUGEINT) * 1000000) // den END
       AS BIGINT) AS pred_micro,
  CAST(CASE WHEN den > 0
            AND CAST(cnt * den - num AS HUGEINT) * (cnt * den - num)
                > 9 * CAST(num AS HUGEINT) * den
       THEN 1 ELSE 0 END AS INTEGER) AS flag
FROM lagged ORDER BY event_type, day
"""


#: The schema-evolution fixture: v1 -> v2 exercises every compat class.
_SCHEMA_V1 = [
    ("doc_id", "string", 1), ("n_chars", "int", 0),
    ("score", "float", 0), ("lang", "string", 1),
    ("legacy_flag", "int", 0), ("source", "string", 0),
    ("loose", "string", 1), ("span_count", "int", 0),
]
_SCHEMA_V2 = [
    ("doc_id", "string", 1),            # unchanged
    ("n_chars", "bigint", 0),           # widened  (ok)
    ("score", "double", 0),             # widened  (ok)
    ("lang", "int", 1),                 # retyped  (breaking)
    ("source", "string", 1),            # requiredness_tightened (breaking)
    ("loose", "string", 0),             # requiredness_loosened  (ok)
    ("span_count", "bigint", 1),        # widened BUT opt→req (breaking)
    ("embedding", "array<float>", 0),   # added optional (ok)
    ("checksum", "string", 1),          # added required (breaking)
]


def q_schema_compat_check(spark, sf):
    """Schema-evolution adjudication (schema_evo.schema_compat): a v1→v2
    schema proposal classified column-by-column under the Iceberg
    evolution contract — widening promotions (int→bigint, float→double)
    pass, retypes/drops/required-adds/requiredness-tightening break, the
    fixture exercises every class. The write-side half of the S1
    schema_match rule; metadata-sized however large the table is. The
    (sf-independent) fixture is the declared schema registry itself, not
    data."""
    from anomaly_detection_spark.functions.schema_evo import schema_compat

    old = spark.createDataFrame(_SCHEMA_V1, "name string, dtype string, required int")
    new = spark.createDataFrame(_SCHEMA_V2, "name string, dtype string, required int")
    return schema_compat(old, new).orderBy("name")


def _schema_values_sql(rows) -> str:
    vals = ", ".join(f"('{n}', '{t}', {r})" for n, t, r in rows)
    return f"(VALUES {vals}) s(name, dtype, required)"


SQL_SCHEMA_COMPAT_CHECK = f"""
WITH o AS (SELECT * FROM {_schema_values_sql(_SCHEMA_V1)}),
n AS (SELECT * FROM {_schema_values_sql(_SCHEMA_V2)}),
j AS (
  SELECT COALESCE(o.name, n.name) AS name,
         o.dtype AS old_type, n.dtype AS new_type,
         o.required AS old_req, n.required AS new_req
  FROM o FULL OUTER JOIN n ON o.name = n.name
), c AS (
  SELECT name, old_type, new_type, old_req, new_req,
    CASE WHEN old_type IS NULL THEN 'added'
         WHEN new_type IS NULL THEN 'dropped'
         WHEN old_type <> new_type THEN
           CASE WHEN (old_type = 'int' AND new_type = 'bigint')
                  OR (old_type = 'float' AND new_type = 'double')
                THEN 'widened' ELSE 'retyped' END
         WHEN old_req = 1 AND new_req = 0 THEN 'requiredness_loosened'
         WHEN old_req = 0 AND new_req = 1 THEN 'requiredness_tightened'
         ELSE 'unchanged' END AS change
  FROM j
)
SELECT name, old_type, new_type, change,
  CASE WHEN change = 'added' THEN
         CASE WHEN new_req = 1 THEN 'breaking' ELSE 'ok' END
       WHEN change IN ('dropped', 'retyped', 'requiredness_tightened')
         THEN 'breaking'
       WHEN old_req = 0 AND new_req = 1 THEN 'breaking'
       ELSE 'ok' END AS compat
FROM c ORDER BY name
"""


def q_cdc_merge(spark, sf):
    """Row-level MERGE INTO / CDC apply (functions/cdc.cdc_apply): a
    deterministic Debezium-style changelog over orders — updates every
    5th key (+100 cents), deletes every 11th, inserts a fresh key for
    every 13th, with per-key LSNs so keys hit by BOTH an update and a
    delete (every 55th) resolve latest-wins — folded into the base
    snapshot by ONE changelog-side window + ONE full-outer equi-join
    (the base side never shuffles twice; with a broadcast-able changelog
    it never shuffles at all). Emits the post-merge per-status rollup.
    Reference analogue: risk_history_tracker.py:35-101's ad-hoc
    append-and-prune upsert, made first-class."""
    from anomaly_detection_spark.functions.cdc import cdc_apply

    o = load(spark, sf, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        _cents(F.col("o_totalprice")).alias("cents"),
        F.col("o_orderstatus").alias("status"),
    )
    st = lambda op, seq, cents, status: F.struct(  # noqa: E731
        F.lit(op).alias("op"), seq.alias("seq"),
        cents.alias("cents"), status.alias("status"))
    k = F.col("k")
    ch_arr = F.array(
        F.when(k % 5 == 0,
               st("U", k * 10 + 1, F.col("cents") + 100, F.col("status"))),
        F.when(k % 11 == 0,
               st("D", k * 10 + 2, F.lit(None).cast("long"),
                  F.lit(None).cast("string"))),
        F.when(k % 13 == 0,
               st("I", k * 10 + 3, k.cast("long"), F.lit("N"))),
    )
    changes = base.select(k, F.explode_outer(ch_arr).alias("_c")) \
        .filter(F.col("_c").isNotNull()) \
        .select(
            F.when(F.col("_c.op") == "I", k + 1_000_000_000)
            .otherwise(k).alias("k"),
            F.col("_c.op").alias("op"), F.col("_c.seq").alias("seq"),
            F.col("_c.cents").alias("cents"),
            F.col("_c.status").alias("status"),
        )
    merged = cdc_apply(base, changes, "k", ["cents", "status"])
    return merged.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    ).orderBy("status")


SQL_CDC_MERGE = """
WITH base AS (
  SELECT o_orderkey AS k,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderstatus AS status
  FROM orders
), ch AS (
  SELECT k, 'U' AS op, k * 10 + 1 AS seq, cents + 100 AS cents, status
  FROM base WHERE k % 5 = 0
  UNION ALL
  SELECT k, 'D', k * 10 + 2, NULL, NULL FROM base WHERE k % 11 = 0
  UNION ALL
  SELECT k + 1000000000, 'I', k * 10 + 3, k, 'N'
  FROM base WHERE k % 13 = 0
), latest AS (
  SELECT k, op, cents, status FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM ch) WHERE rn = 1
), merged AS (
  SELECT COALESCE(b.k, l.k) AS k,
         CASE WHEN l.op IN ('I', 'U') THEN l.cents ELSE b.cents END
           AS cents,
         CASE WHEN l.op IN ('I', 'U') THEN l.status ELSE b.status END
           AS status
  FROM base b FULL OUTER JOIN latest l ON b.k = l.k
  WHERE l.op IS NULL OR l.op <> 'D'
)
SELECT status, COUNT(*) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM merged GROUP BY 1 ORDER BY 1
"""


def q_scd2_versions(spark, sf):
    """SCD Type-2 dimension build (cdc.scd2_build): the cdc_merge
    changelog (updates %5, deletes %11, inserts %13, latest-wins LSNs)
    rendered as effective-dated version rows — every I/U opens a version,
    the key's next change closes it, keys ending in a delete (%55 hits
    both U and D) have NO current row. One changelog-sized window; the
    dimension build never touches fact-table volume. The standard
    warehouse modeling step downstream of CDC ingestion."""
    from anomaly_detection_spark.functions.cdc import scd2_build

    o = load(spark, sf, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        _cents(F.col("o_totalprice")).alias("cents"),
        F.col("o_orderstatus").alias("status"),
    )
    st = lambda op, seq, cents, status: F.struct(  # noqa: E731
        F.lit(op).alias("op"), seq.alias("seq"),
        cents.alias("cents"), status.alias("status"))
    k = F.col("k")
    ch_arr = F.array(
        F.when(k % 5 == 0,
               st("U", k * 10 + 1, F.col("cents") + 100, F.col("status"))),
        F.when(k % 11 == 0,
               st("D", k * 10 + 2, F.lit(None).cast("long"),
                  F.lit(None).cast("string"))),
        F.when(k % 13 == 0,
               st("I", k * 10 + 3, k.cast("long"), F.lit("N"))),
    )
    changes = base.select(k, F.explode_outer(ch_arr).alias("_c")) \
        .filter(F.col("_c").isNotNull()) \
        .select(
            F.when(F.col("_c.op") == "I", k + 1_000_000_000)
            .otherwise(k).alias("k"),
            F.col("_c.op").alias("op"), F.col("_c.seq").alias("seq"),
            F.col("_c.cents").alias("cents"),
            F.col("_c.status").alias("status"),
        )
    return scd2_build(changes, "k", ["cents", "status"]) \
        .orderBy("k", "valid_from")


SQL_SCD2_VERSIONS = """
WITH base AS (
  SELECT o_orderkey AS k,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderstatus AS status
  FROM orders
), ch AS (
  SELECT k, 'U' AS op, k * 10 + 1 AS seq, cents + 100 AS cents, status
  FROM base WHERE k % 5 = 0
  UNION ALL
  SELECT k, 'D', k * 10 + 2, NULL, NULL FROM base WHERE k % 11 = 0
  UNION ALL
  SELECT k + 1000000000, 'I', k * 10 + 3, k, 'N'
  FROM base WHERE k % 13 = 0
), v AS (
  SELECT k, cents, status, op,
         CAST(seq AS BIGINT) AS valid_from,
         CAST(LEAD(seq) OVER (PARTITION BY k ORDER BY seq) AS BIGINT)
           AS valid_to
  FROM ch
)
SELECT k, cents, status, valid_from, valid_to,
       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INTEGER)
         AS is_current
FROM v WHERE op <> 'D' ORDER BY k, valid_from
"""


def q_revenue_grouping_sets(spark, sf):
    """OLAP grouping-sets rollup: revenue at (nation × segment), per
    nation, and grand total from ONE aggregation pass — Spark's
    ``rollup`` lowers to a single Expand + hash aggregate (each input
    row fans to its grouping sets map-side; no re-scan per level, which
    is what separates this from a UNION of three GROUP BYs at 100 TB).
    ``grouping_id`` disambiguates genuine NULL keys from subtotal rows —
    both engines use the same left-to-right bit convention, pinned here.
    Exact integer cents throughout."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        j.rollup("n_name", "c_mktsegment")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.sum(_cents(F.col("o_totalprice"))).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            "gid", "revenue_cents", "n_orders",
        )
        .orderBy("gid", "nation", "segment")
    )


SQL_REVENUE_GROUPING_SETS = """
SELECT n_name AS nation, c_mktsegment AS segment,
       CAST(GROUPING(n_name, c_mktsegment) AS INTEGER) AS gid,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
ORDER BY gid, nation, segment
"""


def q_source_pareto(spark, sf):
    """Pareto concentration report: per-source token mass, share, and
    cumulative share in (tokens DESC, source) order, with the 80%-core
    flag — the concentration diagnostic that decides whether curation
    effort targets a handful of dominant sources or the long tail. The
    corpus scan is ONE map-side-combined token-count agg; every window
    below it runs on the source-cardinality frame (metadata-sized).
    Integer ppm with truncating div; cumulative sums over a total
    order, so both engines agree exactly."""
    d = load(spark, sf, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(text.token_count("text")).cast("long").alias("tokens"))
    total = per_src.agg(F.sum("tokens").alias("_tot"))
    w = Window.orderBy(F.desc("tokens"), F.asc("source")) \
        .rowsBetween(Window.unboundedPreceding, 0)
    ranked = per_src.crossJoin(F.broadcast(total)).select(
        "source", "tokens",
        F.expr("(tokens * 1000000) div _tot").alias("share_ppm"),
        (F.sum("tokens").over(w) * F.lit(1_000_000)).alias("_cumtok"),
        F.col("_tot"),
    ).select(
        "source", "tokens", "share_ppm",
        F.expr("_cumtok div _tot").cast("long").alias("cum_share_ppm"),
    )
    return ranked.select(
        "source", "tokens", "share_ppm", "cum_share_ppm",
        (F.col("cum_share_ppm") <= 800_000).cast("int").alias("core80"),
    ).orderBy(F.desc("tokens"), F.asc("source"))


SQL_SOURCE_PARETO = """
WITH per_src AS (
  SELECT source,
    CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> ''))) AS BIGINT) AS tokens
  FROM documents GROUP BY 1
), t AS (SELECT SUM(tokens) AS tot FROM per_src),
r AS (
  SELECT source, tokens,
         (tokens * 1000000) // tot AS share_ppm,
         (SUM(tokens) OVER (ORDER BY tokens DESC, source
                            ROWS UNBOUNDED PRECEDING) * 1000000) // tot
           AS cum_share_ppm
  FROM per_src, t
)
SELECT source, tokens, CAST(share_ppm AS BIGINT) AS share_ppm,
       CAST(cum_share_ppm AS BIGINT) AS cum_share_ppm,
       CAST(CASE WHEN cum_share_ppm <= 800000 THEN 1 ELSE 0 END AS INTEGER)
         AS core80
FROM r ORDER BY tokens DESC, source ASC
"""


def q_conversion_attribution(spark, sf):
    """Multi-touch conversion attribution: every purchase distributes
    1e6 micro-credits linearly across the SAME user's preceding
    non-purchase events within 24 h; purchases with no preceding touch
    fall into the '(direct)' channel. Per-user total order is
    (ts, event_id) ranks, the nearest following purchase is a windowed
    conditional min over ranks (no ts-tie ambiguity), and the
    contributor→purchase close is a per-user equi-join on the rank —
    bounded by events-per-user, never a time-range theta join. Credits
    are integer `div` shares, so the rollup is engine-exact. The
    marketing twin of `event_funnel`/`event_transitions`."""
    DAY_US = 86_400_000_000
    e = load(spark, sf, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    r = e.withColumn("rnk", F.row_number().over(w))
    isp = F.col("event_type") == "purchase"
    w2 = Window.partitionBy("user_id").orderBy("rnk") \
        .rowsBetween(1, Window.unboundedFollowing)
    r = r.withColumn("next_p", F.min(F.when(isp, F.col("rnk"))).over(w2))
    contributors = r.filter(~isp & F.col("next_p").isNotNull()) \
        .select("user_id", "event_type", "us", F.col("next_p").alias("p_rnk"))
    purchases = r.filter(isp).select(
        "user_id", F.col("rnk").alias("p_rnk"), F.col("us").alias("p_us"))
    touches = contributors.join(purchases, ["user_id", "p_rnk"]) \
        .filter(F.col("p_us") - F.col("us") <= DAY_US)
    per_p = touches.groupBy("user_id", "p_rnk") \
        .agg(F.count(F.lit(1)).alias("_n"))
    credited = touches.join(per_p, ["user_id", "p_rnk"]) \
        .withColumn("credit", F.expr("1000000 div _n"))
    chan = credited.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.lit(1)).alias("touches"),
        F.countDistinct("user_id", "p_rnk").alias("conversions"),
        F.sum("credit").cast("long").alias("credit_micro"),
    )
    direct = purchases.join(per_p, ["user_id", "p_rnk"], "left_anti") \
        .agg(F.count(F.lit(1)).alias("conversions")) \
        .select(
            F.lit("(direct)").alias("channel"),
            F.lit(0).cast("long").alias("touches"),
            F.col("conversions").cast("long"),
            (F.col("conversions") * 1_000_000).cast("long")
            .alias("credit_micro"),
        )
    return chan.unionByName(direct).orderBy("channel")


SQL_CONVERSION_ATTRIBUTION = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY us, event_id) AS rnk
  FROM e
), n AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN rnk END)
         OVER (PARTITION BY user_id ORDER BY rnk
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p
  FROM r
), contributors AS (
  SELECT user_id, event_type, us, next_p AS p_rnk
  FROM n WHERE event_type <> 'purchase' AND next_p IS NOT NULL
), purchases AS (
  SELECT user_id, rnk AS p_rnk, us AS p_us
  FROM r WHERE event_type = 'purchase'
), touches AS (
  SELECT c.user_id, c.event_type, c.p_rnk
  FROM contributors c JOIN purchases p USING (user_id, p_rnk)
  WHERE p.p_us - c.us <= 86400000000
), per_p AS (
  SELECT user_id, p_rnk, COUNT(*) AS n FROM touches GROUP BY 1, 2
), credited AS (
  SELECT t.event_type, t.user_id, t.p_rnk, 1000000 // pp.n AS credit
  FROM touches t JOIN per_p pp USING (user_id, p_rnk)
), chan AS (
  SELECT event_type AS channel, CAST(COUNT(*) AS BIGINT) AS touches,
         CAST(COUNT(DISTINCT (user_id, p_rnk)) AS BIGINT) AS conversions,
         CAST(SUM(credit) AS BIGINT) AS credit_micro
  FROM credited GROUP BY 1
), direct AS (
  SELECT '(direct)' AS channel, CAST(0 AS BIGINT) AS touches,
         CAST(COUNT(*) AS BIGINT) AS conversions,
         CAST(COUNT(*) * 1000000 AS BIGINT) AS credit_micro
  FROM purchases p LEFT JOIN per_p pp USING (user_id, p_rnk)
  WHERE pp.n IS NULL
)
SELECT * FROM chan UNION ALL SELECT * FROM direct ORDER BY channel
"""


def q_session_paths(spark, sf):
    """Clickstream path mining: top-20 session-opening event-type paths
    (first 3 events per 30-min-gap session, '>'-joined) with corpus
    share — the navigation-pattern rollup `event_transitions`' Markov
    pairs can't show (paths are ordered 3-grams ACROSS the session
    boundary logic). Total order inside a session is (ts, event_id) so
    simultaneous events never make the path engine-dependent; the
    ordered collect happens per session (bounded rows), the global
    rollup is a map-side-combined count + TakeOrdered top-k — no global
    sort, no skew (path cardinality is tiny by construction)."""
    e = load(spark, sf, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    flagged = e.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0))
    wid = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ws = Window.partitionBy("user_id", "session_id")         .orderBy("us", "event_id")
    pos = wid.withColumn("_pos", F.row_number().over(ws))         .filter(F.col("_pos") <= 3)
    paths = pos.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(
                    F.struct(F.col("_pos"), F.col("event_type")))),
                lambda s: s["event_type"]),
            ">").alias("path"))
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"))
    total = paths.agg(F.count(F.lit(1)).alias("_tot"))
    top = counts.orderBy(F.desc("n_sessions"), F.asc("path")).limit(20)
    return top.crossJoin(F.broadcast(total)).select(
        "path", "n_sessions",
        F.floor(F.lit(1_000_000.0) * F.col("n_sessions") / F.col("_tot")
                + F.lit(0.5)).cast("long").alias("share_ppm"),
    ).orderBy(F.desc("n_sessions"), F.asc("path"))


SQL_SESSION_PATHS = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
), flagged AS (
  SELECT *, CASE WHEN us - LAG(us) OVER
      (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
      OR LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
    THEN 1 ELSE 0 END AS new_s
  FROM e
), wid AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), pos AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                               ORDER BY us, event_id) AS p
  FROM wid
), paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY p) AS path
  FROM pos WHERE p <= 3 GROUP BY 1, 2
), counts AS (
  SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY 1
), top AS (
  SELECT path, n_sessions FROM counts
  ORDER BY n_sessions DESC, path ASC LIMIT 20
)
SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions,
       CAST(FLOOR(1000000.0 * n_sessions
                  / (SELECT COUNT(*) FROM paths) + 0.5) AS BIGINT)
         AS share_ppm
FROM top ORDER BY n_sessions DESC, path ASC
"""


def q_cusum_control(spark, sf):
    """Two-sided CUSUM drift alarm (timeseries.cusum_control) per event
    type: the Page 1954 recursion in its closed window form (prefix sum
    minus running min), deviations mean-centered WITHOUT division
    (everything n-scaled), alarm at 5× the mean absolute deviation —
    pure-long arithmetic the oracle replays exactly. Catches the
    persistent small shift that per-day bands (`ewma_control`) and spike
    z-scores (`change_points`) both miss. Reference analogue:
    time_series_analyzer.py trend drift over daily counts."""
    from anomaly_detection_spark.functions.timeseries import cusum_control

    e = load(spark, sf, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return cusum_control(daily).orderBy("event_type", "day")


SQL_CUSUM_CONTROL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
         COUNT(*) OVER g * cnt - SUM(cnt) OVER g AS dev,
         COUNT(*) OVER g AS n
  FROM daily
  WINDOW g AS (PARTITION BY event_type)
), t2 AS (
  SELECT *, SUM(ABS(dev)) OVER (PARTITION BY event_type) AS a,
         SUM(dev) OVER r AS s
  FROM t
  WINDOW r AS (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING)
), t3 AS (
  SELECT *, LEAST(0, MIN(s) OVER r) AS mn,
         GREATEST(0, MAX(s) OVER r) AS mx
  FROM t2
  WINDOW r AS (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING)
)
SELECT event_type, day, cnt,
       CAST(s - mn AS BIGINT) AS cusum_pos,
       CAST(mx - s AS BIGINT) AS cusum_neg,
       CAST(CASE WHEN n * (s - mn) > 5 * a OR n * (mx - s) > 5 * a
            THEN 1 ELSE 0 END AS INTEGER) AS flag
FROM t3 ORDER BY event_type, day
"""


def q_change_points(spark, sf):
    """W3 sliding change-point detection: daily totals vs trailing-7-day
    mean/std, z from exact integer sums (closed-form variance)."""
    e = load(spark, sf, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.sum(_cents(F.col("value"))).alias("x")
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    stats = daily.select(
        "day", "x",
        F.count("x").over(w).alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("ss"),
    ).filter(F.col("n") == 7)
    mean = F.col("s") / F.col("n")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("x") - mean) / F.sqrt(var)
    return stats.select("day", F.round(z, 6).alias("z")).filter(F.abs(F.col("z")) > 1.0)


SQL_CHANGE_POINTS = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         SUM(CAST(ROUND(value*100) AS BIGINT)) AS x
  FROM events GROUP BY 1
), stats AS (
  SELECT day, x,
         COUNT(x) OVER w AS n, SUM(x) OVER w AS s, SUM(x*x) OVER w AS ss
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT day, z FROM (
  SELECT day, ROUND((x - s*1.0/n) / sqrt((ss - s*1.0*s/n) / (n-1)), 6) AS z
  FROM stats WHERE n = 7
) WHERE ABS(z) > 1.0
"""


def q_lag_autocorr(spark, sf):
    """W4/J6 lag-1 autocorrelation per event type, closed-form from exact
    integer sums (SURVEY W8: corr via covar/var aggregates)."""
    e = load(spark, sf, "events").select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us"), _cents(F.col("value")).alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("us")
    pairs = e.withColumn("vl", F.lag("v").over(w)).filter(F.col("vl").isNotNull())
    agg = pairs.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("sx"), F.sum("vl").alias("sy"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
        F.sum(F.col("vl") * F.col("vl")).alias("syy"),
        F.sum(F.col("v") * F.col("vl")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return agg.select("event_type", "n", F.round(num / den, 6).alias("lag1_corr"))


SQL_LAG_AUTOCORR = """
WITH e AS (
  SELECT event_type, epoch_us(ts) AS us, CAST(ROUND(value*100) AS BIGINT) AS v
  FROM events
), pairs AS (
  SELECT event_type, v,
         LAG(v) OVER (PARTITION BY event_type ORDER BY us) AS vl
  FROM e
), agg AS (
  SELECT event_type, COUNT(*) AS n, SUM(v) AS sx, SUM(vl) AS sy,
         SUM(v*v) AS sxx, SUM(vl*vl) AS syy, SUM(v*vl) AS sxy
  FROM pairs WHERE vl IS NOT NULL GROUP BY event_type
)
SELECT event_type, n,
       ROUND((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * 1.0 * (n*syy - sy*sy)), 6) AS lag1_corr
FROM agg
"""


def q_first_event_per_user(spark, sf):
    """W5 ordered-first per group."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("first_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        )
    )


SQL_FIRST_EVENT_PER_USER = """
SELECT user_id, event_id AS first_event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
FROM (
  SELECT user_id, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def q_user_day_setops(spark, sf):
    """O4 set semantics: days on which a user both clicked and purchased."""
    e = load(spark, sf, "events")
    per_day = e.groupBy("user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("has_click"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("has_purchase"),
    )
    return (
        per_day.filter((F.col("has_click") == 1) & (F.col("has_purchase") == 1))
        .groupBy("user_id")
        .agg(F.count("*").alias("overlap_days"))
    )


SQL_USER_DAY_SETOPS = """
SELECT user_id, COUNT(*) AS overlap_days FROM (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
  FROM events GROUP BY 1, 2
) WHERE has_click = 1 AND has_purchase = 1 GROUP BY user_id
"""


def q_event_type_entropy(spark, sf):
    """A7 Shannon entropy of each user's event-type distribution."""
    e = load(spark, sf, "events")
    hist = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    w = Window.partitionBy("user_id")
    p = hist.select("user_id", (F.col("c") / F.sum("c").over(w)).alias("p"))
    return p.groupBy("user_id").agg(
        F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("entropy")
    )


SQL_EVENT_TYPE_ENTROPY = """
WITH hist AS (
  SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
), p AS (
  SELECT user_id, c * 1.0 / SUM(c) OVER (PARTITION BY user_id) AS p FROM hist
)
SELECT user_id, ROUND(-SUM(p * log2(p)), 6) AS entropy FROM p GROUP BY user_id
"""


def q_hourly_histogram(spark, sf):
    """A6/P2 time-feature histogram: events per (hour-of-day, is_weekend)."""
    e = load(spark, sf, "events")
    return e.groupBy(
        F.hour("ts").alias("hour"),
        F.dayofweek("ts").isin(1, 7).alias("is_weekend"),
    ).agg(F.count("*").alias("n"))


SQL_HOURLY_HISTOGRAM = """
SELECT EXTRACT(hour FROM ts) AS hour,
       (dayofweek(ts) + 1) IN (1, 7) AS is_weekend,
       COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def q_afterhours_ratio(spark, sf):
    """A5 conditional-ratio agg (≈ reference after-hours ratio,
    feature_engineering.py:184-221): share of events outside 08-18h."""
    e = load(spark, sf, "events")
    off = (F.hour("ts") < 8) | (F.hour("ts") >= 18)
    return e.groupBy("event_type").agg(
        F.round(F.avg(off.cast("int")), 6).alias("afterhours_ratio"),
        F.count("*").alias("n"),
    )


SQL_AFTERHOURS_RATIO = """
SELECT event_type,
       ROUND(AVG(CASE WHEN EXTRACT(hour FROM ts) < 8
                       OR EXTRACT(hour FROM ts) >= 18 THEN 1 ELSE 0 END), 6) AS afterhours_ratio,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""


# =====================================================================
# Group C — corpus text analysis / dedup / similarity (documents, embeddings)
# =====================================================================

_TOKS_SQL = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
_SW_SQL = "['the','a','of','and','to','in','is','it']"


def q_doc_token_stats(spark, sf):
    """Token counting per source: whitespace + BPE-ish regex tokenization,
    exact integer char totals (no float averaging)."""
    d = load(spark, sf, "documents")
    toks = text.tokens(F.col("text"))
    tok_chars = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).alias("total_tokens"),
        F.sum(text.regex_token_count(F.col("text"))).alias("total_regex_tokens"),
        F.sum(tok_chars).alias("total_token_chars"),
    )


SQL_DOC_TOKEN_STATS = f"""
WITH t AS (SELECT source, {_TOKS_SQL} AS toks, text FROM documents)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS total_regex_tokens,
  CAST(SUM(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x -> CAST(length(x) AS BIGINT))))) AS BIGINT) AS total_token_chars
FROM t GROUP BY source
"""


def q_lang_id_accuracy(spark, sf):
    """Language-ID heuristic vs the labeled lang column, per source."""
    d = load(spark, sf, "documents")
    pred = text.lang_id(F.col("text"))
    return d.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum((pred == "en").cast("long")).alias("n_pred_en"),
        F.round(F.avg((pred == F.col("lang")).cast("int")), 6).alias("accuracy"),
    )


SQL_LANG_ID_ACCURACY = f"""
WITH t AS (
  SELECT source, lang,
    len(list_filter({_TOKS_SQL.replace("trim(text)", "trim(lower(text))")}, t -> list_contains({_SW_SQL}, t))) * 1.0
      / GREATEST(len({_TOKS_SQL}), 1) AS swr
  FROM documents
), p AS (
  SELECT source, lang, CASE WHEN swr >= 0.05 THEN 'en' ELSE 'unk' END AS pred FROM t
)
SELECT source, COUNT(*) AS n,
       CAST(SUM(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en,
       ROUND(AVG(CASE WHEN pred = lang THEN 1 ELSE 0 END), 6) AS accuracy
FROM p GROUP BY source
"""


def q_doc_quality(spark, sf):
    d = load(spark, sf, "documents")
    return d.select("doc_id", text.quality_score(F.col("text")).alias("quality"))


SQL_DOC_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS_SQL} AS toks,
    len(list_filter({_TOKS_SQL.replace("trim(text)", "trim(lower(text))")}, t -> list_contains({_SW_SQL}, t))) * 1.0
      / GREATEST(len({_TOKS_SQL}), 1) AS swr,
    (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
      / GREATEST(length(text), 1) AS pr
  FROM documents
)
SELECT doc_id,
  ROUND((LEAST(length(text) / 200.0, 1.0)
       + (1.0 - ABS(swr - 0.15) / 0.85)
       + (1.0 - LEAST(pr * 5.0, 1.0))) / 3.0, 6) AS quality
FROM t
"""


def q_doc_fingerprint(spark, sf):
    """Rolling polynomial document fingerprint (exact integer arithmetic)."""
    d = load(spark, sf, "documents")
    return d.select("doc_id", text.fingerprint(F.col("text")).alias("fp"))


SQL_DOC_FINGERPRINT = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(toks, x -> CAST(length(x)*31 + ascii(substr(x,1,1)) AS BIGINT))),
    (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
FROM t
"""


def q_doc_top_terms(spark, sf):
    """TF-IDF top-3 keywords per document (corpus keyword extraction; ≈ the
    reference's per-keyword content scoring, data_normalizer.py:398-421,
    generalized from a fixed keyword list to corpus-derived TF-IDF).

    idf is the exactly-rounded rational n_docs/df with no log damping:
    IEEE multiply/divide are correctly rounded so the score is bit-identical
    across engines, ln is not. Scale shape: explode → (doc_id,term) hash agg
    with map-side combine; df is a vocab-sized agg (vocab ≪ corpus) joined
    back on term; top-k via per-doc window. No crossJoin; the only scalar
    (n_docs) rides in on a broadcast single-row join.

    df deliberately re-aggregates the tf lineage (second pruned scan) rather
    than a count-over-window on term: hot terms ("the" ≈ every doc) would
    hot-spot a window partition, while groupBy keeps map-side partial aggs;
    and a cached narrow projection measured slower than re-scanning pruned
    parquet columns (BENCH/BASELINE.md). The tf⋈df join broadcasts while the
    vocab is small and falls back to an AQE skew-handled shuffle join."""
    d = load(spark, sf, "documents")
    terms = d.select(
        "doc_id", F.explode(text.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * (F.col("n_docs").cast("double") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id", "rank", "term", "tf", "df",
            F.floor(F.col("score") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("score_micro"),
        )
    )


SQL_DOC_TOP_TERMS = f"""
WITH terms AS (
  SELECT doc_id, unnest({_TOKS_SQL.replace("trim(text)", "trim(lower(text))")}) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         tf.tf * (CAST(n.n_docs AS DOUBLE) / dfreq.df) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, rank, term, tf, df,
       CAST(FLOOR(score * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS score_micro
FROM ranked WHERE rank <= 3
"""


def q_exact_dup_groups(spark, sf):
    return dedup.exact_duplicate_groups(load(spark, sf, "documents"))


SQL_EXACT_DUP_GROUPS = """
SELECT md5(text) AS text_hash, COUNT(*) AS dup_count, MIN(doc_id) AS canonical_id
FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
"""


_SHINGLES_SQL = """CASE WHEN len(toks) >= 3 THEN
  list_transform(generate_series(1, len(toks)-2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
  ELSE CAST([] AS VARCHAR[]) END"""


def q_minhash_signatures(spark, sf):
    return dedup.minhash_signature(load(spark, sf, "documents"), k=4)


SQL_MINHASH_SIGNATURES = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t)
SELECT doc_id,
  list_min(list_transform(sh, s -> md5('0:' || s))) AS mh0,
  list_min(list_transform(sh, s -> md5('1:' || s))) AS mh1,
  list_min(list_transform(sh, s -> md5('2:' || s))) AS mh2,
  list_min(list_transform(sh, s -> md5('3:' || s))) AS mh3
FROM sh
"""


def q_lsh_candidate_pairs(spark, sf):
    return dedup.lsh_candidate_pairs(
        load(spark, sf, "documents"), k=4, bands=2
    )


SQL_LSH_CANDIDATE_PAIRS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t),
sig AS (
  SELECT doc_id,
    list_min(list_transform(sh, s -> md5('0:' || s))) AS mh0,
    list_min(list_transform(sh, s -> md5('1:' || s))) AS mh1,
    list_min(list_transform(sh, s -> md5('2:' || s))) AS mh2,
    list_min(list_transform(sh, s -> md5('3:' || s))) AS mh3
  FROM sh
),
buckets AS (
  SELECT doc_id, md5('0' || '|' || mh0 || '|' || mh1) AS bucket FROM sig WHERE mh0 IS NOT NULL
  UNION ALL
  SELECT doc_id, md5('1' || '|' || mh2 || '|' || mh3) AS bucket FROM sig WHERE mh2 IS NOT NULL
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def q_ngram_jaccard_pairs(spark, sf):
    d = load(spark, sf, "documents")
    cands = dedup.lsh_candidate_pairs(d, k=4, bands=2)
    return dedup.ngram_jaccard_pairs(d, threshold=0.2, candidates=cands)


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
sh AS (SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shset FROM t),
sig AS (
  SELECT t.doc_id,
    list_min(list_transform({_SHINGLES_SQL}, s -> md5('0:' || s))) AS mh0,
    list_min(list_transform({_SHINGLES_SQL}, s -> md5('1:' || s))) AS mh1,
    list_min(list_transform({_SHINGLES_SQL}, s -> md5('2:' || s))) AS mh2,
    list_min(list_transform({_SHINGLES_SQL}, s -> md5('3:' || s))) AS mh3
  FROM t
),
buckets AS (
  SELECT doc_id, md5('0' || '|' || mh0 || '|' || mh1) AS bucket FROM sig WHERE mh0 IS NOT NULL
  UNION ALL
  SELECT doc_id, md5('1' || '|' || mh2 || '|' || mh3) AS bucket FROM sig WHERE mh2 IS NOT NULL
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  ROUND(len(list_intersect(sa.shset, sb.shset)) * 1.0
        / len(list_distinct(list_concat(sa.shset, sb.shset))), 6) AS jaccard
FROM cand JOIN sh sa ON cand.id_a = sa.doc_id JOIN sh sb ON cand.id_b = sb.doc_id
WHERE len(list_intersect(sa.shset, sb.shset)) * 1.0
      / len(list_distinct(list_concat(sa.shset, sb.shset))) >= 0.2
"""


def q_simhash_fingerprints(spark, sf):
    d = load(spark, sf, "documents")
    return dedup.simhash_fingerprints(d)


_SIMHASH_BITS_SQL = " || ".join(
    f"(CASE WHEN 2*len(list_filter(hs, h -> instr('89abcdef', substr(h,{i},1)) > 0)) >= len(hs) "
    f"THEN '1' ELSE '0' END)"
    for i in range(1, 17)
)
SQL_SIMHASH_FINGERPRINTS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
h AS (SELECT doc_id, list_transform(toks, x -> md5(x)) AS hs FROM t)
SELECT doc_id,
  CASE WHEN len(hs) > 0 THEN {_SIMHASH_BITS_SQL} ELSE NULL END AS simhash
FROM h
"""


def _quantize(col):
    return F.transform(col, lambda x: F.round(x.cast("double") * 1000).cast("long"))


def q_embedding_topk(spark, sf):
    """Brute-force cosine top-5 (ANN baseline) for query vectors vec_id<50,
    quantized components ⇒ exact integer dot products in both engines."""
    emb = load(spark, sf, "embeddings")
    nrm = lambda col: F.aggregate(col, F.lit(0).cast("long"), lambda a, x: a + x * x)  # noqa: E731
    # norms precomputed per vector (once), not per pair — the pair-level
    # expression is a single dot-product pass over the bound arrays
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), _quantize(F.col("embedding")).alias("qv")
    ).withColumn("qn", nrm(F.col("qv")))
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), _quantize(F.col("embedding")).alias("cv")
    ).withColumn("cn", nrm(F.col("cv")))
    dot_ = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b), F.lit(0).cast("long"), lambda a, x: a + x
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            (dot_.cast("double") / F.sqrt(F.col("qn").cast("double") * F.col("cn").cast("double"))).alias("cos_x"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_x"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("cos_x", 6).alias("cos"), "rank")
    )


SQL_EMBEDDING_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 50
), c AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS cv
  FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
    CAST(list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i]*cv[i])) AS DOUBLE)
      / sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE)
           * CAST(list_sum(list_transform(cv, x -> x*x)) AS DOUBLE)) AS cos_x
  FROM q, c WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, ROUND(cos_x, 6) AS cos, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_x DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_embedding_ivf_topk(spark, sf):
    """IVF-bucketed ANN: candidates restricted to the same label cluster —
    the join is per-bucket (scale path), same quantized-cosine math. Cells
    above the max_bucket=2000 cap are dropped by the count + broadcast
    anti-join prefilter (similarity._cap_cells — the LSH discipline; a
    skewed data-given cell would otherwise make Σ|cell|² unbounded),
    mirrored in the oracle's HAVING filter."""
    emb = load(spark, sf, "embeddings")
    oversize = (emb.groupBy("label").agg(F.count("*").alias("_sz"))
                .filter(F.col("_sz") > 2000).select("label"))
    emb = emb.join(F.broadcast(oversize), "label", "left_anti")
    nrm = lambda col: F.aggregate(col, F.lit(0).cast("long"), lambda a, x: a + x * x)  # noqa: E731
    q = emb.select(
        F.col("vec_id").alias("query_id"), _quantize(F.col("embedding")).alias("qv"),
        F.col("label").alias("_b"),
    ).withColumn("qn", nrm(F.col("qv")))
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), _quantize(F.col("embedding")).alias("cv"),
        F.col("label").alias("_b"),
    ).withColumn("cn", nrm(F.col("cv")))
    dot_ = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b), F.lit(0).cast("long"), lambda a, x: a + x
    )
    scored = (
        q.join(c, "_b")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            (dot_.cast("double") / F.sqrt(F.col("qn").cast("double") * F.col("cn").cast("double"))).alias("cos_x"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_x"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", F.round("cos_x", 6).alias("cos"), "rank")
    )


SQL_EMBEDDING_IVF_TOPK = """
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qe
  FROM embeddings
), kept AS (
  SELECT label FROM e GROUP BY label HAVING COUNT(*) <= 2000
), scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(generate_series(1, len(a.qe)), i -> a.qe[i]*b.qe[i])) AS DOUBLE)
      / sqrt(CAST(list_sum(list_transform(a.qe, x -> x*x)) AS DOUBLE)
           * CAST(list_sum(list_transform(b.qe, x -> x*x)) AS DOUBLE)) AS cos_x
  FROM e a JOIN kept ON kept.label = a.label
           JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos_x, 6) AS cos, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_x DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_embedding_ivf_multiprobe(spark, sf):
    """IVF ANN with nprobe=2 (similarity.ivf_multiprobe_topk): each query
    searches its TWO nearest coarse cells by integer-exact centroid
    distance — the recall fix over single-cell `embedding_ivf_topk`. The
    codebook (per-label integer sums + counts, no float means) is tiny and
    broadcast; candidates stay in their home cell, so the join is still a
    per-bucket equi-join at 2× the single-probe work."""
    return similarity.ivf_multiprobe_topk(
        load(spark, sf, "embeddings"), k=3, nprobe=2
    ).orderBy("query_id", "rank")


SQL_EMBEDDING_IVF_MULTIPROBE = """
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qe
  FROM embeddings
), cnt AS (
  SELECT label, COUNT(*) AS n FROM e GROUP BY 1 HAVING COUNT(*) <= 2000
),
dimsum AS (
  SELECT e.label, i, CAST(SUM(qe[i]) AS BIGINT) AS s
  FROM e JOIN cnt ON cnt.label = e.label, generate_series(1, 64) t(i)
  GROUP BY 1, 2
), cent AS (
  SELECT label, list(s ORDER BY i) AS sv FROM dimsum GROUP BY 1
), probe AS (
  SELECT query_id, label FROM (
    SELECT q.vec_id AS query_id, c.label,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        (CAST(list_sum(list_transform(generate_series(1, 64),
          i -> (q.qe[i]*cnt.n - c.sv[i]) * (q.qe[i]*cnt.n - c.sv[i])))
          AS DOUBLE) / cnt.n) / cnt.n ASC,
        c.label ASC) AS pr
    FROM e q CROSS JOIN cent c JOIN cnt ON cnt.label = c.label
  ) WHERE pr <= 2
), scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(generate_series(1, 64), i -> q.qe[i]*b.qe[i])) AS DOUBLE)
      / sqrt(CAST(list_sum(list_transform(q.qe, x -> x*x)) AS DOUBLE)
           * CAST(list_sum(list_transform(b.qe, x -> x*x)) AS DOUBLE)) AS cos_x
  FROM e q JOIN probe p ON p.query_id = q.vec_id
           JOIN e b ON b.label = p.label AND b.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos_x, 6) AS cos, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_x DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
ORDER BY query_id, rank
"""


def q_embedding_lsh_buckets(spark, sf):
    """Hyperplane-LSH bucketing of embeddings (the alternative coarse
    quantizer for ivf_topk when no cluster labels exist): 8 sign bits from
    md5-derived deterministic hyperplanes — engine-reproducible, so the
    bucket assignment itself is oracle-checked bit-for-bit."""
    emb = load(spark, sf, "embeddings")
    return emb.select(
        "vec_id",
        similarity.lsh_sign_bucket(F.col("embedding"), n_planes=8, dim=64).alias("bucket"),
    )


def _lsh_bucket_bits_sql(vec: str = "embedding", n_planes: int = 8) -> str:
    """DuckDB expression mirroring similarity.lsh_sign_bucket bit-for-bit:
    md5-derived plane components, left-fold float sums (list_reduce ==
    F.aggregate fold order)."""
    planes = []
    for p in range(n_planes):
        comp = (
            f"((CAST(('0x' || substr(md5('{p}:' || CAST(i - 1 AS VARCHAR)), 1, 4)) AS INT)"
            f" - 32767.5) / 32768.0)"
        )
        s = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, 64), i -> CAST({vec}[i] AS DOUBLE) * {comp})), "
            "(acc, v) -> acc + v)"
        )
        planes.append(f"(CASE WHEN {s} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(planes)


SQL_EMBEDDING_LSH_BUCKETS = (
    f"SELECT vec_id, {_lsh_bucket_bits_sql()} AS bucket FROM embeddings"
)


def q_embedding_lsh_multiprobe(spark, sf):
    """Multi-probe LSH ANN: own bucket + every Hamming-distance-1 bucket —
    the recall fix over single-bucket IVF/LSH; join stays per-bucket."""
    emb = load(spark, sf, "embeddings")
    return similarity.lsh_multiprobe_topk(emb, k=3, n_planes=8, dim=64)


_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, 64), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
    "(acc, v) -> acc + v)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
    "(acc, v) -> acc + v))"
)

SQL_EMBEDDING_LSH_MULTIPROBE = f"""
WITH base AS (
  SELECT vec_id, embedding, {_lsh_bucket_bits_sql()} AS b0 FROM embeddings
), probes AS (
  SELECT vec_id, embedding,
         list_concat([b0], list_transform(generate_series(1, 8),
           j -> substr(b0, 1, j - 1)
                || (CASE WHEN substr(b0, j, 1) = '1' THEN '0' ELSE '1' END)
                || substr(b0, j + 1, 8 - j))) AS pl
  FROM base
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, UNNEST(pl) AS b FROM probes
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, b0 AS b FROM base
), scored AS (
  SELECT query_id, neighbor_id,
         ROUND({_DOT_SQL.format(a='qv', b='cv')}
               / ({_NORM_SQL.format(a='qv')} * {_NORM_SQL.format(a='cv')}), 6) AS cos
  FROM q JOIN c USING (b) WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# =====================================================================
# Group D — multimodal binary-column plumbing
# =====================================================================

def _synth_media_from_docs(spark, sf):
    d = load(spark, sf, "documents")
    return d.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("media_kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def q_media_metadata_stats(spark, sf):
    """Binary-column metadata pass (pure Column exprs — payload pruned when
    unused): byte length + sha256 per media kind."""
    from anomaly_detection_spark.functions.multimodal import media_metadata

    media = _synth_media_from_docs(spark, sf)
    meta = media_metadata(media)
    return meta.groupBy("media_kind").agg(
        F.count("*").alias("n"),
        F.sum("byte_len").alias("total_bytes"),
        F.countDistinct("sha256").alias("distinct_payloads"),
    )


SQL_MEDIA_METADATA_STATS = """
SELECT ['image','audio','video'][CAST((doc_id % 3) + 1 AS INTEGER)] AS media_kind,
       COUNT(*) AS n,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       COUNT(DISTINCT sha256(text)) AS distinct_payloads
FROM documents GROUP BY 1
"""


def q_media_feature_extract(spark, sf):
    """Arrow mapInPandas feature extraction over binary payloads with the
    deterministic fake decoder — oracle-paired: the fake decoder derives
    dimensions from sha256 digest bytes, which DuckDB reproduces from its
    sha256() hex output. Averages as exact integer micro-units (floor(x*1e4
    + 0.5) on integer-sum ratios) to dodge cross-engine ROUND tie-breaks."""
    from anomaly_detection_spark.functions.multimodal import extract_media_features

    media = _synth_media_from_docs(spark, sf)
    feats = extract_media_features(media, fake_decode=True)
    return feats.groupBy("media_kind").agg(
        F.count("*").alias("n"),
        F.floor(F.sum("width") * 10000.0 / F.count("*") + 0.5).cast("long").alias("avg_width_x10k"),
        F.floor(F.sum("height") * 10000.0 / F.count("*") + 0.5).cast("long").alias("avg_height_x10k"),
        F.max("n_frames").alias("max_frames"),
    )


def q_media_frame_sample(spark, sf):
    """Ragged mapInPandas frame sampling (multimodal.sample_frames): one
    output row per sampled frame index (0, 8, 16 … < n_frames), per-frame
    content fingerprint. The oracle regenerates the fake decoder's frame
    count from sha256 hexbytes and the per-frame sha from the same
    byte-concatenation, row-for-row."""
    from anomaly_detection_spark.functions.multimodal import sample_frames

    media = _synth_media_from_docs(spark, sf)
    return sample_frames(media, every_k=8, fake_decode=True).select(
        "media_ref", "media_kind",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "frame_sha",
    ).orderBy("media_ref", "frame_idx")


def q_media_thumbnail_dims(spark, sf):
    """Resize plumbing (multimodal.thumbnail_dims): decoded dims → integer
    thumbnail dims, longest side clamped to 64, aspect preserved via floor
    division, never upscaled — bit-exact integer math in both engines."""
    from anomaly_detection_spark.functions.multimodal import thumbnail_dims

    media = _synth_media_from_docs(spark, sf)
    return thumbnail_dims(media, max_side=64, fake_decode=True).select(
        "media_ref", "media_kind",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("thumb_width").cast("long").alias("thumb_width"),
        F.col("thumb_height").cast("long").alias("thumb_height"),
    ).orderBy("media_ref")


def _hexbyte_sql(h: str, pos: int) -> str:
    """DuckDB expression for byte ``pos`` (0-based) of a hex digest string."""
    i = 2 * pos + 1
    return (
        f"((strpos('0123456789abcdef', substr({h},{i},1))-1)*16"
        f" + strpos('0123456789abcdef', substr({h},{i+1},1))-1)"
    )


SQL_MEDIA_FEATURE_EXTRACT = f"""
WITH m AS (
  SELECT ['image','audio','video'][CAST((doc_id % 3) + 1 AS INTEGER)] AS media_kind,
         sha256(text) AS h
  FROM documents
), d AS (
  SELECT media_kind,
    16 + {_hexbyte_sql('h', 0)} % 240 AS width,
    16 + {_hexbyte_sql('h', 1)} % 240 AS height,
    CASE WHEN media_kind = 'image' THEN 1
         ELSE 1 + {_hexbyte_sql('h', 2)} % 64 END AS n_frames
  FROM m
)
SELECT media_kind, COUNT(*) AS n,
  CAST(FLOOR(SUM(width)*10000.0/COUNT(*) + 0.5) AS BIGINT) AS avg_width_x10k,
  CAST(FLOOR(SUM(height)*10000.0/COUNT(*) + 0.5) AS BIGINT) AS avg_height_x10k,
  MAX(n_frames) AS max_frames
FROM d GROUP BY media_kind
"""


SQL_MEDIA_FRAME_SAMPLE = f"""
WITH m AS (
  SELECT 'm' || doc_id AS media_ref,
         ['image','audio','video'][CAST((doc_id % 3) + 1 AS INTEGER)] AS media_kind,
         text, sha256(text) AS h
  FROM documents
), d AS (
  SELECT media_ref, media_kind, text,
    CASE WHEN media_kind = 'image' THEN 1
         ELSE 1 + {_hexbyte_sql('h', 2)} % 64 END AS n_frames
  FROM m
), e AS (
  SELECT media_ref, media_kind, n_frames,
         unnest(range(0, n_frames, 8)) AS frame_idx
  FROM d
)
SELECT e.media_ref, e.media_kind,
       CAST(e.n_frames AS BIGINT) AS n_frames,
       CAST(e.frame_idx AS BIGINT) AS frame_idx,
       sha256(d.text || CAST(e.frame_idx AS VARCHAR)) AS frame_sha
FROM e JOIN d ON e.media_ref = d.media_ref
ORDER BY e.media_ref, frame_idx
"""


SQL_MEDIA_THUMBNAIL_DIMS = f"""
WITH m AS (
  SELECT 'm' || doc_id AS media_ref,
         ['image','audio','video'][CAST((doc_id % 3) + 1 AS INTEGER)] AS media_kind,
         sha256(text) AS h
  FROM documents
), d AS (
  SELECT media_ref, media_kind,
    16 + {_hexbyte_sql('h', 0)} % 240 AS width,
    16 + {_hexbyte_sql('h', 1)} % 240 AS height
  FROM m
)
SELECT media_ref, media_kind,
  CAST(width AS BIGINT) AS width,
  CAST(height AS BIGINT) AS height,
  CAST(CASE WHEN GREATEST(width, height) <= 64 THEN width
       ELSE GREATEST(1, (width * 64) // GREATEST(width, height)) END AS BIGINT)
    AS thumb_width,
  CAST(CASE WHEN GREATEST(width, height) <= 64 THEN height
       ELSE GREATEST(1, (height * 64) // GREATEST(width, height)) END AS BIGINT)
    AS thumb_height
FROM d ORDER BY media_ref
"""


def q_media_decode_stats(spark, sf):
    """REAL media decode end-to-end, TWO formats (no stub): synthesize
    genuine uncompressed 24-bit BMP bytes for even ids and genuine
    zlib-compressed 8-bit RGB PNG bytes for odd ids executor-side
    (multimodal.encode_bmp / encode_png), then decode every byte back via
    the format-sniffing dispatch (decode_media_features → decode_bmp /
    decode_png — header+CRC validation, zlib inflate, scanline
    unfiltering, bottom-up vs top-down row order) and emit exact integer
    stats. Both formats share one closed-form pixel function, so the
    oracle reproduces dims, pixel sum and the top-left pixel (LAST stored
    row for BMP, FIRST scanline for PNG — proves both orders) per format
    via generate_series. Reference treats attachments as opaque blobs
    (file_parser.py) and never decodes.

    Scale shape: two chained partition-preserving mapInPandas passes, no
    shuffle, bytes never touch the driver; Arrow batch memory bounded by
    maxRecordsPerBatch × image size."""
    from anomaly_detection_spark.functions.multimodal import (
        decode_media_features, synth_bmp_media, synth_png_media)

    ids = load(spark, sf, "documents").filter(
        F.col("doc_id") % 13 == 0).select("doc_id")
    bmp = synth_bmp_media(ids.filter(F.col("doc_id") % 2 == 0))
    png = synth_png_media(ids.filter(F.col("doc_id") % 2 == 1))
    media = bmp.select("media_ref", "payload") \
        .unionByName(png.select("media_ref", "payload"))
    feats = decode_media_features(media)
    return feats.select(
        "media_ref", "format", "width", "height", "pixel_sum",
        "topleft_sum",
        F.floor(F.col("pixel_sum") * 10000.0
                / (3.0 * F.col("width") * F.col("height")) + 0.5)
         .cast("long").alias("mean_pixel_x10k"),
    ).orderBy("media_ref")


SQL_MEDIA_DECODE_STATS = """
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
         doc_id % 256 AS seed,
         CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS format
  FROM documents WHERE doc_id % 13 = 0
), px AS (
  SELECT d.doc_id, d.format, d.w, d.h, d.seed,
         SUM((d.seed + 7*x.x + 13*y.y + 29*c.c) % 256) AS pixel_sum
  FROM dims d
  CROSS JOIN generate_series(0, 16) AS x(x)
  CROSS JOIN generate_series(0, 9) AS y(y)
  CROSS JOIN generate_series(0, 2) AS c(c)
  WHERE x.x < d.w AND y.y < d.h
  GROUP BY 1, 2, 3, 4, 5
)
SELECT 'm' || doc_id AS media_ref, format,
  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  CAST(pixel_sum AS BIGINT) AS pixel_sum,
  CAST(seed % 256 + (seed + 29) % 256 + (seed + 58) % 256 AS BIGINT)
    AS topleft_sum,
  CAST(FLOOR(pixel_sum * 10000.0 / (3.0 * w * h) + 0.5) AS BIGINT)
    AS mean_pixel_x10k
FROM px ORDER BY media_ref
"""


# =====================================================================
# Group E — remaining SURVEY §2 operator classes
# =====================================================================

def q_trend_slope(spark, sf):
    """W8: per-user linear-regression slope of daily event volume, computed
    CLOSED-FORM from exact integer sums (k·Σxy − Σx·Σy)/(k·Σx² − (Σx)²) —
    the distributed form of the reference's scipy.linregress trend
    (trend_detector.py:25-63) with no float accumulation-order dependence."""
    e = load(spark, sf, "events")
    daily = (
        e.select("user_id", F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias("x"))
        .groupBy("user_id", "x").agg(F.count("*").alias("y"))
    )
    sums = daily.groupBy("user_id").agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    denom = sums.k * sums.sxx - sums.sx * sums.sx
    return sums.filter(F.col("k") > 1).select(
        "user_id",
        F.col("k").alias("n_days"),
        F.round(((sums.k * sums.sxy - sums.sx * sums.sy) / denom.cast("double")), 6).alias("slope"),
    )


SQL_TREND_SLOPE = """
WITH daily AS (
  SELECT user_id, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2
), s AS (
  SELECT user_id, COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*y) AS sxy, SUM(x*x) AS sxx
  FROM daily GROUP BY user_id
)
SELECT user_id, k AS n_days,
       ROUND((k*sxy - sx*sy) / CAST(k*sxx - sx*sx AS DOUBLE), 6) AS slope
FROM s WHERE k > 1
"""


def q_revenue_rollup(spark, sf):
    """Grouping-sets analogue: region→nation ROLLUP of order revenue in one
    pass (the reference computes dept and role stats as separate passes,
    risk_factor_analyzer.py:304-333 — rollup fuses them)."""
    o, c, n, r = (load(spark, sf, t) for t in ("orders", "customer", "nation", "region"))
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(_cents(F.col("o_totalprice"))) / 100.0).alias("revenue"),
            F.grouping_id().alias("gid"),
        )
    )


SQL_REVENUE_ROLLUP = """
SELECT r_name, n_name, COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) / 100.0 AS revenue,
       GROUPING(r_name)*2 + GROUPING(n_name) AS gid
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_nation_customer_tiers(spark, sf):
    """A13: group-stats-over-groups — per-customer totals first, then
    per-nation avg/max + high-value count (two-level groupBy, ≈ dept-level
    risk stats, risk_factor_analyzer.py:304-333)."""
    o, c, n = (load(spark, sf, t) for t in ("orders", "customer", "nation"))
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("total_c"))
    )
    return per_cust.groupBy("n_name").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("total_c") / F.count("*") / 100.0, 6).alias("avg_customer_revenue"),
        (F.max("total_c") / 100.0).alias("max_customer_revenue"),
        F.sum((F.col("total_c") > 500_000 * 100).cast("long")).alias("high_value_customers"),
    )


SQL_NATION_CUSTOMER_TIERS = """
WITH per_cust AS (
  SELECT n_name, c_custkey, CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, c_custkey
)
SELECT n_name, COUNT(*) AS n_customers,
       ROUND(SUM(total_c) / COUNT(*) / 100.0, 6) AS avg_customer_revenue,
       MAX(total_c) / 100.0 AS max_customer_revenue,
       CAST(SUM(CASE WHEN total_c > 50000000 THEN 1 ELSE 0 END) AS BIGINT) AS high_value_customers
FROM per_cust GROUP BY n_name
"""


def q_user_risk_ensemble(spark, sf):
    """A12: weighted-average ensemble of per-user behavioral ratios
    (≈ ensemble_model.py:64-77 weighted score combination) — all components
    exact count ratios, one groupBy."""
    e = load(spark, sf, "events")
    per_user = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum((F.hour("ts") >= 20).cast("long")).alias("late"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("errors"),
        F.sum((F.col("value") > 90).cast("long")).alias("high_val"),
    )
    # integer micro-units with floor(x+0.5): ROUND() tie-break RULES differ
    # across engines (Spark HALF_UP vs DuckDB half-even) and weighted count
    # ratios land exactly on representable .5 boundaries (e.g. 0.1390625)
    num = 5 * F.col("late") + 3 * F.col("errors") + 2 * F.col("high_val")
    score_micros = F.floor(num * 100000.0 / F.col("n") + 0.5).cast("long")
    return per_user.select(
        "user_id", "n", score_micros.alias("risk_score_micros")
    )


SQL_USER_RISK_ENSEMBLE = """
SELECT user_id, COUNT(*) AS n,
  CAST(FLOOR((5 * SUM(CASE WHEN EXTRACT(hour FROM ts) >= 20 THEN 1 ELSE 0 END)
            + 3 * SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            + 2 * SUM(CASE WHEN value > 90 THEN 1 ELSE 0 END)) * 100000.0
            / COUNT(*) + 0.5) AS BIGINT) AS risk_score_micros
FROM events GROUP BY user_id
"""


def q_props_json_stats(spark, sf):
    """Semi-structured projection: extract props.k from the JSON column per
    event_type (≈ the reference's per-field derivations on loosely-typed
    inputs, data_normalizer.py:356-504 — as native JSON path extraction)."""
    e = load(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.sum(k.isNull().cast("long")).alias("null_k"),
    )


SQL_PROPS_JSON_STATS = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_k
FROM events GROUP BY event_type
"""


def q_weekly_event_windows(spark, sf):
    """W2: tumbling 7-day windows via native window() (epoch-aligned) —
    ≈ org_analyzer.py:146-176 fixed 7-day windowing."""
    e = load(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "7 days").alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             (F.sum(_cents(F.col("value"))) / 100.0).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )


SQL_WEEKLY_EVENT_WINDOWS = """
SELECT strftime(to_timestamp((CAST(floor(epoch(ts)) AS BIGINT) // 604800) * 604800),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n,
       SUM(CAST(ROUND(value*100) AS BIGINT)) / 100.0 AS sum_value
FROM events GROUP BY 1, 2
"""


def q_doc_sensitivity(spark, sf):
    """P9: additive keyword sensitivity scoring per document + per-source
    rollup of flagged docs."""
    d = load(spark, sf, "documents")
    scored = d.select("source", text.sensitivity_score(F.col("text")).alias("s"))
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum("s"), 6).alias("total_sensitivity"),
        F.sum((F.col("s") >= 0.5).cast("long")).alias("flagged"),
    )


SQL_DOC_SENSITIVITY = """
WITH scored AS (
  SELECT source,
    ROUND(LEAST(
      (CASE WHEN regexp_matches(text, '\\b{k1}\\b') THEN 0.4 ELSE 0.0 END)
    + (CASE WHEN regexp_matches(text, '\\b{k2}\\b') THEN 0.3 ELSE 0.0 END)
    + (CASE WHEN regexp_matches(text, '\\b{k3}\\b') THEN 0.3 ELSE 0.0 END), 1.0), 6) AS s
  FROM documents
)
SELECT source, COUNT(*) AS n_docs, ROUND(SUM(s), 6) AS total_sensitivity,
       CAST(SUM(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS flagged
FROM scored GROUP BY source
""".replace("{k1}", "hash").replace("{k2}", "scan").replace("{k3}", "merge")


def q_user_pair_interactions(spark, sf):
    """J4: self-join pairwise interaction counts — users co-active on the
    same (event_type, day) (≈ high-risk user-pair correlation,
    multidimensional_detector.py:662-676), top-20 pairs. The self-join is
    key-capped (graph.co_activity_pairs) so one degenerate day can't go
    quadratic at scale; the default cap is far above real co-activity here
    (max 587 at sf0.1), so results are exact."""
    from anomaly_detection_spark.functions import graph

    e = load(spark, sf, "events")
    keyed = e.select("user_id", "event_type", F.col("ts").cast("date").alias("d"))
    return (
        graph.co_activity_pairs(keyed, "user_id", ["event_type", "d"])
        .select(
            F.col("entity_a").alias("user_a"),
            F.col("entity_b").alias("user_b"),
            "shared",
        )
        .orderBy(F.desc("shared"), F.asc("user_a"), F.asc("user_b"))
        .limit(20)
    )


SQL_USER_PAIR_INTERACTIONS = """
WITH ud AS (
  SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS d FROM events
)
SELECT a.user_id AS user_a, b.user_id AS user_b, COUNT(*) AS shared
FROM ud a JOIN ud b ON a.event_type = b.event_type AND a.d = b.d
WHERE a.user_id < b.user_id
GROUP BY 1, 2
ORDER BY shared DESC, user_a ASC, user_b ASC
LIMIT 20
"""


def q_profile_documents_long(spark, sf):
    """The engine's own column profiler, oracle-checked: long-format
    (partition, column, metric, value, value_str) stats over documents —
    exact distinct (HLL is the default at scale but not cross-engine
    reproducible), no percentiles for the same reason."""
    from anomaly_detection_spark.profiler import profile_columns

    d = load(spark, sf, "documents").withColumnRenamed("source", "partition")
    return profile_columns(
        d, columns=["n_chars", "lang"], partition_col="partition",
        percentiles=(), exact_distinct=True,
    )


SQL_PROFILE_DOCUMENTS_LONG = """
WITH base AS (SELECT source AS part, n_chars, lang FROM documents)
SELECT part AS partition, '_table_' AS "column", 'rows' AS metric,
       CAST(COUNT(*) AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS value_str
FROM base GROUP BY part
UNION ALL
SELECT part, 'n_chars', 'null_count',
       CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS DOUBLE), NULL
FROM base GROUP BY part
UNION ALL
SELECT part, 'n_chars', 'min', CAST(MIN(n_chars) AS DOUBLE), NULL FROM base GROUP BY part
UNION ALL
SELECT part, 'n_chars', 'max', CAST(MAX(n_chars) AS DOUBLE), NULL FROM base GROUP BY part
UNION ALL
SELECT part, 'n_chars', 'approx_distinct', CAST(COUNT(DISTINCT n_chars) AS DOUBLE), NULL
FROM base GROUP BY part
UNION ALL
SELECT part, 'n_chars', 'null_rate',
       CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), NULL
FROM base GROUP BY part
UNION ALL
SELECT part, 'lang', 'null_count',
       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS DOUBLE), NULL
FROM base GROUP BY part
UNION ALL
SELECT part, 'lang', 'min', CAST(NULL AS DOUBLE), MIN(lang) FROM base GROUP BY part
UNION ALL
SELECT part, 'lang', 'max', CAST(NULL AS DOUBLE), MAX(lang) FROM base GROUP BY part
UNION ALL
SELECT part, 'lang', 'approx_distinct', CAST(COUNT(DISTINCT lang) AS DOUBLE), NULL
FROM base GROUP BY part
UNION ALL
SELECT part, 'lang', 'null_rate',
       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), NULL
FROM base GROUP BY part
"""


def q_hierarchy_levels(spark, sf):
    """W7: iterative BFS level propagation over a synthetic reporting
    hierarchy (parent(k) = floor(sqrt(k)), root 1) derived from customer
    keys — driver-looped DataFrame joins vs the oracle's recursive CTE."""
    from anomaly_detection_spark.functions.graph import bfs_levels

    c = load(spark, sf, "customer")
    edges = (
        c.filter(F.col("c_custkey") > 1)
        .select(
            F.col("c_custkey").alias("id"),
            F.floor(F.sqrt(F.col("c_custkey"))).cast("long").alias("parent"),
        )
    )
    lv = bfs_levels(edges, root_id=1)
    return lv.groupBy("level").agg(
        F.count("*").alias("n_nodes"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


SQL_HIERARCHY_LEVELS = """
WITH RECURSIVE lv AS (
  SELECT CAST(1 AS BIGINT) AS id, 0 AS level
  UNION ALL
  SELECT c.c_custkey, lv.level + 1
  FROM customer c JOIN lv ON CAST(floor(sqrt(c.c_custkey)) AS BIGINT) = lv.id
  WHERE c.c_custkey > 1
)
SELECT level, COUNT(*) AS n_nodes, MIN(id) AS min_id, MAX(id) AS max_id
FROM lv GROUP BY level
"""


# =====================================================================
# Group F — ML-ensemble analogue, risk scoring/forecast, graph, seasonality
# =====================================================================

_FEATURE_COLS = ["n_events", "n_offhours", "n_errors", "value_cents", "n_types"]

_FEATS_SQL = """
  SELECT user_id,
         COUNT(*) AS n_events,
         CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) < 8
                        OR EXTRACT(hour FROM ts) >= 18 THEN 1 ELSE 0 END) AS BIGINT) AS n_offhours,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents,
         COUNT(DISTINCT event_type) AS n_types
  FROM events GROUP BY user_id
"""


def q_ml_outlier_ensemble(spark, sf):
    """§2.9c ML-ensemble analogue: robust-z (Mahalanobis-lite) + IQR excess
    outlier scores over per-user behavioral features, weighted-combined —
    the closed-form replacement for the reference's sklearn trio
    (ml_analyzer.py:70-97, ensemble_model.py:64-77)."""
    from anomaly_detection_spark.functions import ml

    feats = ml.entity_activity_features(load(spark, sf, "events"))
    return ml.outlier_scores(feats, _FEATURE_COLS)


def _ml_oracle_sql() -> str:
    cols = _FEATURE_COLS
    q_sel = ",\n".join(
        f"    quantile_cont({c}, 0.25) AS q1_{c}, quantile_cont({c}, 0.5) AS med_{c}, "
        f"quantile_cont({c}, 0.75) AS q3_{c}" for c in cols
    )
    mad_sel = ",\n".join(
        f"    quantile_cont(abs(f.{c} - q.med_{c}), 0.5) AS mad_{c}" for c in cols
    )
    z_terms, iqr_terms = [], []
    for c in cols:
        z = f"((f.{c} - med_{c}) / (1.4826 * GREATEST(mad_{c}, 1.0)))"
        z_terms.append(f"{z} * {z}")
        iqr = f"GREATEST(q3_{c} - q1_{c}, 1.0)"
        iqr_terms.append(
            f"GREATEST(0.0, f.{c} - (q3_{c} + 1.5 * {iqr}), "
            f"(q1_{c} - 1.5 * {iqr}) - f.{c}) / {iqr}"
        )
    return f"""
WITH f AS ({_FEATS_SQL}),
q AS (SELECT
{q_sel}
FROM f),
m AS (SELECT
{mad_sel}
FROM f, q),
scored AS (
  SELECT f.user_id,
         sqrt({' + '.join(z_terms)}) AS score_z,
         {' + '.join(iqr_terms)} AS score_iqr
  FROM f, q, m
)
SELECT user_id, ROUND(score_z, 6) AS score_z, ROUND(score_iqr, 6) AS score_iqr,
       ROUND(0.6 * score_z + 0.4 * score_iqr, 6) AS ensemble_score,
       (0.6 * score_z + 0.4 * score_iqr) > 3.5 AS is_outlier
FROM scored
"""


SQL_ML_OUTLIER_ENSEMBLE = _ml_oracle_sql()

# LOF distance dims: counts only (cents magnitudes would dominate the metric)
_LOF_COLS = ["n_events", "n_offhours", "n_errors"]
_LOF_K, _LOF_MAX_BUCKET, _LOF_THRESHOLD = 3, 2_000, 1.5


def q_local_outlier_scores(spark, sf):
    """§2.9c density member: exact per-bucket LOF over the entity feature
    vectors — the local-density semantics the global robust-z/IQR ensemble
    cannot see (reference lof_model.py:31-128). Buckets = n_types (a feature-
    grid cell); inside each bucket textbook Breunig LOF with deterministic
    tie-breaks, oracle-checked bit-for-bit at 6 dp."""
    from anomaly_detection_spark.functions import ml

    feats = ml.entity_activity_features(load(spark, sf, "events"))
    return ml.local_outlier_scores(
        feats.withColumn("bucket", F.col("n_types")),
        _LOF_COLS, k=_LOF_K, max_bucket=_LOF_MAX_BUCKET,
        threshold=_LOF_THRESHOLD,
    )


def _lof_oracle_sql(nprobe: int = 1) -> str:
    d2 = " + ".join(
        f"(a.{c} - b.{c}) * (a.{c} - b.{c})" for c in _LOF_COLS
    )
    if nprobe > 1:
        cd2 = " + ".join(
            f"(CAST(k.{c} AS DOUBLE)*c.cn - CAST(c.s_{c} AS DOUBLE))"
            f"*(CAST(k.{c} AS DOUBLE)*c.cn - CAST(c.s_{c} AS DOUBLE))"
            for c in _LOF_COLS
        )
        probe_ctes = f"""
cent AS (
  SELECT bkt, COUNT(*) AS cn,
         {', '.join(f'CAST(SUM({c}) AS BIGINT) AS s_{c}' for c in _LOF_COLS)}
  FROM kept GROUP BY bkt),
others AS (
  SELECT user_id, pbk FROM (
    SELECT k.user_id, c.bkt AS pbk,
           ROW_NUMBER() OVER (PARTITION BY k.user_id
                              ORDER BY {cd2} ASC, c.bkt ASC) AS pr
    FROM kept k CROSS JOIN cent c WHERE c.bkt <> k.bkt) t
  WHERE pr <= {nprobe - 1}),
probed AS (
  SELECT user_id, bkt AS pbk, {', '.join(_LOF_COLS)} FROM kept
  UNION ALL
  SELECT o.user_id, o.pbk, {', '.join(f'k.{c}' for c in _LOF_COLS)}
  FROM others o JOIN kept k USING (user_id)),"""
        pair_src = "probed a JOIN kept b ON a.pbk = b.bkt"
    else:
        probe_ctes = ""
        pair_src = "kept a JOIN kept b ON a.bkt = b.bkt"
    return f"""
WITH f AS ({_FEATS_SQL}),
bk AS (SELECT user_id, {', '.join(_LOF_COLS)}, n_types AS bkt FROM f),
sz AS (SELECT bkt FROM bk GROUP BY bkt HAVING COUNT(*) <= {_LOF_MAX_BUCKET}),
kept AS (SELECT bk.* FROM bk JOIN sz USING (bkt)),{probe_ctes}
pairs AS (
  SELECT a.user_id AS pa, b.user_id AS pb,
         sqrt(CAST({d2} AS DOUBLE)) AS d
  FROM {pair_src} AND a.user_id <> b.user_id),
knn AS (
  SELECT pa, pb, d FROM (
    SELECT pa, pb, d,
           row_number() OVER (PARTITION BY pa ORDER BY d, pb) AS rn
    FROM pairs) t
  WHERE rn <= {_LOF_K}),
kdist AS (SELECT pa, max(d) AS kdist, count(*) AS nn FROM knn GROUP BY pa),
reach AS (
  SELECT k.pa, k.pb, GREATEST(ko.kdist, k.d) AS reach
  FROM knn k JOIN kdist ko ON ko.pa = k.pb),
lrd AS (SELECT pa, 1.0 / GREATEST(avg(reach), 1e-6) AS lrd
        FROM reach GROUP BY pa),
lofs AS (SELECT k.pa, avg(lo.lrd) AS avg_lrd_o
         FROM knn k JOIN lrd lo ON lo.pa = k.pb GROUP BY k.pa),
lof AS (SELECT lofs.pa, lofs.avg_lrd_o / lrd.lrd AS lof
        FROM lofs JOIN lrd ON lrd.pa = lofs.pa)
SELECT f.user_id,
       ROUND(COALESCE(lof.lof, 1.0), 6) AS lof_score,
       ROUND(COALESCE(kdist.kdist, 0.0), 6) AS k_dist,
       CAST(COALESCE(kdist.nn, 0) AS BIGINT) AS n_neighbors,
       COALESCE(lof.lof, 1.0) > {_LOF_THRESHOLD} AS is_local_outlier
FROM f
LEFT JOIN lof ON lof.pa = f.user_id
LEFT JOIN kdist ON kdist.pa = f.user_id
"""


SQL_LOCAL_OUTLIER_SCORES = _lof_oracle_sql()


def q_local_outlier_multiprobe(spark, sf):
    """§2.9c LOF with nprobe=2 — the boundary-blind-spot fix over
    single-bucket `local_outlier_scores` (reference lof_model.py searches
    globally): each point's kNN candidates come from its home feature-grid
    cell PLUS its nearest other cell by exact-integer centroid distance,
    so grid-seam points and singleton cells keep real neighbors. Same
    capped pair-join shape at 2× the work."""
    from anomaly_detection_spark.functions import ml

    feats = ml.entity_activity_features(load(spark, sf, "events"))
    return ml.local_outlier_scores(
        feats.withColumn("bucket", F.col("n_types")),
        _LOF_COLS, k=_LOF_K, max_bucket=_LOF_MAX_BUCKET,
        threshold=_LOF_THRESHOLD, nprobe=2,
    )


SQL_LOCAL_OUTLIER_MULTIPROBE = _lof_oracle_sql(nprobe=2)


_DBSCAN_EPS = 1250  # milli-units; ~10th pct of within-label pair distance
_DBSCAN_MIN_PTS = 4


def q_density_clusters(spark, sf):
    """§2.9c density *clustering* (reference dbscan_model.py:36-125 sklearn
    DBSCAN): core/border/noise labels + min-id cluster assignment over the
    embeddings table, ε-pairs restricted to the coarse label cell (the
    capped per-bucket discipline of local_outlier_scores). Vectors quantize
    to int64 milli-units so the ε test is exact integer math; ε picked at
    the ~10th percentile of within-cell pair distance so all three roles
    are populated at sf0.01 (176 core / 179 border / 145 noise)."""
    from anomaly_detection_spark.functions import ml

    emb = load(spark, sf, "embeddings")
    qz = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000).cast("long"),
    )
    pts = emb.select("vec_id", F.col("label").alias("bucket"), qz.alias("qv"))
    labeled = ml.dbscan_labels(
        pts, id_col="vec_id", vec_col="qv", bucket_col="bucket",
        eps_sq=_DBSCAN_EPS * _DBSCAN_EPS, min_pts=_DBSCAN_MIN_PTS,
    )
    return labeled.select(
        "vec_id", "n_eps", "role",
        F.coalesce("cluster", F.lit(-1)).alias("cluster"),
    )


SQL_DENSITY_CLUSTERS = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, label AS bkt,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings
), sz AS (SELECT bkt FROM e GROUP BY bkt HAVING COUNT(*) <= 2000),
kept AS (SELECT e.* FROM e JOIN sz USING (bkt)),
p AS (
  SELECT a.vec_id AS pa, b.vec_id AS pb
  FROM kept a JOIN kept b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
  WHERE list_sum(list_transform(generate_series(1, 64),
          i -> (a.q[i]-b.q[i])*(a.q[i]-b.q[i]))) <= {_DBSCAN_EPS * _DBSCAN_EPS}
),
n AS (
  SELECT e.vec_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_eps
  FROM e LEFT JOIN (SELECT pa, COUNT(*) AS n FROM p GROUP BY 1) c
  ON c.pa = e.vec_id
),
core AS (SELECT vec_id FROM n WHERE n_eps + 1 >= {_DBSCAN_MIN_PTS}),
ce AS (
  SELECT p.pa AS src, p.pb AS dst
  FROM p JOIN core ca ON ca.vec_id = p.pa JOIN core cb ON cb.vec_id = p.pb
),
reach(node, lbl) AS (
  SELECT vec_id, vec_id FROM core
  UNION
  SELECT ce.dst, reach.lbl FROM reach JOIN ce ON ce.src = reach.node
),
clbl AS (SELECT node AS vec_id, MIN(lbl) AS cluster FROM reach GROUP BY 1),
blbl AS (
  SELECT p.pa AS vec_id, MIN(cl.cluster) AS cluster
  FROM p JOIN clbl cl ON cl.vec_id = p.pb
  WHERE p.pa NOT IN (SELECT vec_id FROM core)
  GROUP BY 1
)
SELECT n.vec_id, n.n_eps,
       CASE WHEN c.vec_id IS NOT NULL THEN 'core'
            WHEN b.cluster IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       COALESCE(cl.cluster, b.cluster, -1) AS cluster
FROM n
LEFT JOIN core c ON c.vec_id = n.vec_id
LEFT JOIN clbl cl ON cl.vec_id = n.vec_id
LEFT JOIN blbl b ON b.vec_id = n.vec_id
"""


def q_entity_risk_scores(spark, sf):
    """Risk aggregation + tiers (risk_calculator.py:47-50,132; config.py:19-21):
    anomalies := error events with value as 0-100 severity; score in exact
    integer micro-units for the oracle gate."""
    from anomaly_detection_spark.functions import risk

    e = load(spark, sf, "events")
    anomalies = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("value").alias("severity")
    )
    return risk.entity_risk_scores(anomalies, micros=True)


SQL_ENTITY_RISK_SCORES = """
WITH a AS (
  SELECT user_id, COUNT(*) AS n_anomalies,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sev_cents
  FROM events WHERE event_type = 'error' GROUP BY user_id
), s AS (
  SELECT user_id, n_anomalies,
         LEAST(100.0, 30.0 + 10.0 * n_anomalies
               + (sev_cents / (100.0 * n_anomalies)) / 3.0) AS score
  FROM a
)
SELECT user_id, n_anomalies,
       CAST(FLOOR(score * 1e6 + 0.5) AS BIGINT) AS risk_score_micros,
       CASE WHEN score >= 70.0 THEN 'high'
            WHEN score >= 40.0 THEN 'medium' ELSE 'low' END AS risk_tier
FROM s
"""


def q_risk_report_summary(spark, sf):
    """Report-generator rollup (report_generator.py:56-152: per-tier user
    counts, score stats, riskiest user) over per-entity risk scores built
    like ``entity_risk_scores`` but from the rarer late-night-error anomaly
    set, so users spread across tiers.  The per-tier top user is a pure
    hash aggregation — ``max(struct(score, -user_id))`` gives the highest
    score with smallest-id tie-break in the SAME groupBy, no per-tier
    window (a 3-partition ``row_number`` window would be the single-reducer
    anti-pattern at 10^12 docs; the oracle states the equivalent semantics
    with a window, valid at oracle scale)."""
    from anomaly_detection_spark.functions import risk

    e = load(spark, sf, "events")
    anomalies = e.filter(
        (F.col("event_type") == "error") & (F.hour("ts") >= 20)
    ).select("user_id", F.col("value").alias("severity"))
    scores = risk.entity_risk_scores(anomalies, micros=True)
    top = F.max(
        F.struct(
            F.col("risk_score_micros").alias("s"),
            (-F.col("user_id")).alias("nu"),
        )
    )
    return (
        scores.groupBy("risk_tier")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("risk_score_micros").alias("sum_score_micros"),
            top.alias("_top"),
        )
        .select(
            "risk_tier",
            "n_users",
            "sum_score_micros",
            F.col("_top.s").alias("max_score_micros"),
            (-F.col("_top.nu")).alias("top_user_id"),
        )
        .orderBy("risk_tier")
    )


SQL_RISK_REPORT_SUMMARY = """
WITH a AS (
  SELECT user_id, COUNT(*) AS n_anomalies,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sev_cents
  FROM events
  WHERE event_type = 'error' AND EXTRACT(hour FROM ts) >= 20
  GROUP BY user_id
), s AS (
  SELECT user_id,
         LEAST(100.0, 30.0 + 10.0 * n_anomalies
               + (sev_cents / (100.0 * n_anomalies)) / 3.0) AS score
  FROM a
), sc AS (
  SELECT user_id,
         CAST(FLOOR(score * 1e6 + 0.5) AS BIGINT) AS m,
         CASE WHEN score >= 70.0 THEN 'high'
              WHEN score >= 40.0 THEN 'medium' ELSE 'low' END AS risk_tier
  FROM s
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY risk_tier
                               ORDER BY m DESC, user_id ASC) AS rn
  FROM sc
)
SELECT risk_tier, COUNT(*) AS n_users,
       CAST(SUM(m) AS BIGINT) AS sum_score_micros,
       CAST(MAX(m) AS BIGINT) AS max_score_micros,
       CAST(MAX(CASE WHEN rn = 1 THEN user_id END) AS BIGINT) AS top_user_id
FROM ranked GROUP BY risk_tier ORDER BY risk_tier
"""


def q_user_entity_report(spark, sf):
    """Per-entity narrative report (report_generator.py:358-409
    generate_user_report: per-user risk score + tier, per-category anomaly
    rollup, narrative line): one row per active user with the risk ensemble,
    the user's top-3 event types (count desc, name asc — the reference's
    most-common categories), a trend direction from exact integer window
    counts (last 7 days of the corpus vs the 7 before — the monotone
    stand-in for the scipy trend test, no float slope in the hash), and a
    composed report string.

    Scale shape: one groupBy(user) for features + one groupBy(user, type) →
    per-user window (partitioned by user — millions of tiny partitions, not
    a single-reducer) → one agg back. The only global piece is the 1-row
    max(ts) broadcast."""
    e = load(spark, sf, "events")
    ends = e.agg(F.max("ts").alias("_maxts"))
    base = e.crossJoin(F.broadcast(ends))
    recent = (F.col("ts") > F.expr("_maxts - INTERVAL 7 DAYS")).cast("long")
    prior = (
        (F.col("ts") > F.expr("_maxts - INTERVAL 14 DAYS"))
        & (F.col("ts") <= F.expr("_maxts - INTERVAL 7 DAYS"))
    ).cast("long")
    per_user = base.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_anomalies"),
        F.sum(recent).alias("_recent"),
        F.sum(prior).alias("_prior"),
    )
    trend = (
        F.when(F.col("_recent") > F.col("_prior"), F.lit("rising"))
        .when(F.col("_recent") < F.col("_prior"), F.lit("falling"))
        .otherwise(F.lit("flat"))
    )
    # risk score/tier: the entity_risk_scores formula over error anomalies;
    # users without anomalies report score 0 / tier 'low' (reference
    # get_user_anomalies returns empty → risk_scores.get(uid, 0))
    from anomaly_detection_spark.functions import risk

    scores = risk.entity_risk_scores(
        e.filter(F.col("event_type") == "error").select(
            "user_id", F.col("value").alias("severity")
        ),
        micros=True,
    ).select("user_id", "risk_score_micros", "risk_tier")
    # top-3 event types per user (count desc, type asc), as one string
    by_type = e.groupBy("user_id", "event_type").agg(F.count("*").alias("_c"))
    w = Window.partitionBy("user_id").orderBy(F.desc("_c"), F.asc("event_type"))
    top3 = (
        by_type.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_rn", "event_type"))),
                    lambda x: x["event_type"],
                ),
            ).alias("top_types")
        )
    )
    out = (
        per_user.join(scores, "user_id", "left")
        .join(top3, "user_id", "left")
        .select(
            "user_id",
            "n_events",
            "n_anomalies",
            F.coalesce("risk_score_micros", F.lit(0)).cast("long").alias(
                "risk_score_micros"
            ),
            F.coalesce("risk_tier", F.lit("low")).alias("risk_tier"),
            F.coalesce("top_types", F.lit("")).alias("top_types"),
            trend.alias("trend"),
        )
    )
    report = F.concat(
        F.lit("user "), F.col("user_id").cast("string"),
        F.lit(": risk="), F.col("risk_tier"),
        F.lit(" anomalies="), F.col("n_anomalies").cast("string"),
        F.lit(" trend="), F.col("trend"),
        F.lit(" top="), F.col("top_types"),
    )
    return out.withColumn("report", report)


SQL_USER_ENTITY_REPORT = """
WITH ends AS (SELECT max(ts) AS maxts FROM events),
per_user AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_anomalies,
         CAST(SUM(CASE WHEN ts > maxts - INTERVAL 7 DAY THEN 1 ELSE 0 END)
           AS BIGINT) AS recent,
         CAST(SUM(CASE WHEN ts > maxts - INTERVAL 14 DAY
                        AND ts <= maxts - INTERVAL 7 DAY THEN 1 ELSE 0 END)
           AS BIGINT) AS prior
  FROM events, ends GROUP BY user_id
),
a AS (
  SELECT user_id, COUNT(*) AS n_anomalies,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sev_cents
  FROM events WHERE event_type = 'error' GROUP BY user_id
),
s AS (
  SELECT user_id,
         LEAST(100.0, 30.0 + 10.0 * n_anomalies
               + (sev_cents / (100.0 * n_anomalies)) / 3.0) AS score
  FROM a
),
sc AS (
  SELECT user_id, CAST(FLOOR(score * 1e6 + 0.5) AS BIGINT) AS risk_score_micros,
         CASE WHEN score >= 70.0 THEN 'high'
              WHEN score >= 40.0 THEN 'medium' ELSE 'low' END AS risk_tier
  FROM s
),
by_type AS (
  SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY c DESC, event_type ASC) AS rn
  FROM by_type
),
top3 AS (
  SELECT user_id, string_agg(event_type, ',' ORDER BY rn) AS top_types
  FROM ranked WHERE rn <= 3 GROUP BY user_id
),
rep AS (
  SELECT p.user_id, p.n_events, p.n_anomalies,
         COALESCE(sc.risk_score_micros, 0) AS risk_score_micros,
         COALESCE(sc.risk_tier, 'low') AS risk_tier,
         COALESCE(t.top_types, '') AS top_types,
         CASE WHEN p.recent > p.prior THEN 'rising'
              WHEN p.recent < p.prior THEN 'falling'
              ELSE 'flat' END AS trend
  FROM per_user p
  LEFT JOIN sc ON sc.user_id = p.user_id
  LEFT JOIN top3 t ON t.user_id = p.user_id
)
SELECT user_id, n_events, n_anomalies, risk_score_micros, risk_tier,
       top_types, trend,
       'user ' || CAST(user_id AS VARCHAR) || ': risk=' || risk_tier ||
       ' anomalies=' || CAST(n_anomalies AS VARCHAR) || ' trend=' || trend ||
       ' top=' || top_types AS report
FROM rep
"""

_OCEAN = ["o", "c", "e", "a", "n"]


def q_psychometric_profile(spark, sf):
    """Psychometric (OCEAN) dimension ingestion (user_profile_builder.py:78:
    psychometric table joined into per-user profiles, FIRST row per user —
    the W5 ordered-dedup + dimension-join shape). The dimension is
    synthesized deterministically from the user key (md5, bit-identical in
    every engine; two survey waves per user so the first-row dedup is real
    work), then joined to the per-user activity profile; the mismatch flag
    pairs high conscientiousness with heavy after-hours activity — the
    trait-vs-behavior deviation the reference feeds into risk.

    Scale shape: dimension build is groupBy(user).distinct + a per-user
    window (millions of tiny partitions, no single reducer); the profile
    join is key-co-partitioned user⋈user. Everything integer-exact."""
    e = load(spark, sf, "events")
    users = e.select("user_id").distinct()
    waves = users.select(
        "user_id",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("wave"),
    )

    def trait(t: str):
        key = F.concat(
            F.col("user_id").cast("string"),
            F.lit(f":{t.upper()}"),
            F.col("wave").cast("string"),
        )
        return (
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 101
        ).alias(f"{t}_score")

    psych = waves.select("user_id", "wave", *[trait(t) for t in _OCEAN])
    w = Window.partitionBy("user_id").orderBy("wave")
    first = (
        psych.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "wave")
    )
    off = (F.hour("ts") < 8) | (F.hour("ts") >= 18)
    act = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(off.cast("long")).alias("_n_off"),
    ).select(
        "user_id", "n_events",
        F.expr("(_n_off * 1000000L) div n_events").alias("afterhours_ppm"),
    )
    joined = act.join(first, "user_id")
    mismatch = (F.col("c_score") >= 70) & (F.col("afterhours_ppm") > 300000)
    return joined.select(
        "user_id", "n_events", "afterhours_ppm",
        *[f"{t}_score" for t in _OCEAN],
        mismatch.alias("profile_mismatch"),
    )


def _psych_oracle_sql() -> str:
    traits = ",\n".join(
        "  CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)||"
        f"':{t.upper()}'||CAST(wave AS VARCHAR)),1,8)) AS BIGINT) % 101 "
        f"AS {t}_score"
        for t in _OCEAN
    )
    return f"""
WITH users AS (SELECT DISTINCT user_id FROM events),
waves AS (SELECT user_id, unnest([1, 2]) AS wave FROM users),
psych AS (SELECT user_id, wave,
{traits}
FROM waves),
first AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY wave) AS rn
    FROM psych) t
  WHERE rn = 1),
act AS (
  SELECT user_id, COUNT(*) AS n_events,
         (CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) < 8
                         OR EXTRACT(hour FROM ts) >= 18
                        THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
           // COUNT(*) AS afterhours_ppm
  FROM events GROUP BY user_id)
SELECT a.user_id, a.n_events, a.afterhours_ppm,
       {', '.join(f'f.{t}_score' for t in _OCEAN)},
       (f.c_score >= 70 AND a.afterhours_ppm > 300000) AS profile_mismatch
FROM act a JOIN first f ON f.user_id = a.user_id
"""


SQL_PSYCHOMETRIC_PROFILE = _psych_oracle_sql()


def q_risk_forecast(spark, sf):
    """Risk forecast (trend_detector.py:224-279): per-user daily risk points
    (10·errors + off-hours count, exact ints) → least-squares extrapolation
    7 days past the series end, clamped to [0, 100]."""
    from anomaly_detection_spark.functions import risk

    e = load(spark, sf, "events")
    off = (F.hour("ts") < 8) | (F.hour("ts") >= 18)
    daily = e.groupBy(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias("x"),
    ).agg(
        (
            F.lit(10) * F.sum((F.col("event_type") == "error").cast("long"))
            + F.sum(off.cast("long"))
        ).alias("y")
    )
    return risk.linear_forecast(daily, "user_id", "x", "y", horizon=7)


SQL_RISK_FORECAST = """
WITH daily AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         10 * CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           + CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) < 8
                            OR EXTRACT(hour FROM ts) >= 18 THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), s AS (
  SELECT user_id, COUNT(*) AS n_days, MAX(x) AS xmax,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx
  FROM daily GROUP BY user_id
), fit AS (
  SELECT user_id, n_days, xmax, sx, sy,
         (n_days * sxy - sx * sy) / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope
  FROM s WHERE n_days >= 2 AND n_days * sxx - sx * sx <> 0
)
SELECT user_id, n_days, ROUND(slope, 6) AS slope,
       ROUND(LEAST(100.0, GREATEST(0.0,
             (sy - slope * sx) / n_days + slope * (xmax + 7))), 6) AS forecast
FROM fit
"""


def q_risk_forecast_branches(spark, sf):
    """Full predict_future_risk branch logic (trend_detector.py:224-279) on
    the same per-user daily risk series as ``risk_forecast``: linear
    extrapolation when \\|slope\\| ≥ 0.1 (exact integer cross-product test,
    no float slope compare), else seasonal replay of the value one 7-day
    period before the 3-day-ahead target, else last-value carry."""
    from anomaly_detection_spark.functions import risk

    e = load(spark, sf, "events")
    off = (F.hour("ts") < 8) | (F.hour("ts") >= 18)
    daily = e.groupBy(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias("x"),
    ).agg(
        (
            F.lit(10) * F.sum((F.col("event_type") == "error").cast("long"))
            + F.sum(off.cast("long"))
        ).alias("y")
    )
    return risk.branched_forecast(
        daily, "user_id", "x", "y", horizon=3, period=7
    ).orderBy("user_id")


SQL_RISK_FORECAST_BRANCHES = """
WITH daily AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         10 * CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           + CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) < 8
                            OR EXTRACT(hour FROM ts) >= 18 THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), wmax AS (
  SELECT *, MAX(x) OVER (PARTITION BY user_id) AS xmax FROM daily
), agg AS (
  SELECT user_id, COUNT(*) AS n_days, MAX(xmax) AS xmax,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
         MAX(CASE WHEN x = xmax + 3 - 7 THEN y END) AS season_y,
         arg_max(y, x) AS last_y
  FROM wmax GROUP BY user_id
), calc AS (
  SELECT *, n_days*sxy - sx*sy AS num, n_days*sxx - sx*sx AS den FROM agg
), br AS (
  SELECT *, CASE WHEN n_days >= 2 AND den > 0 AND 10 * ABS(num) >= den THEN 'linear'
                 WHEN season_y IS NOT NULL THEN 'seasonal'
                 ELSE 'last' END AS branch
  FROM calc
), fc AS (
  SELECT user_id, n_days, branch,
    LEAST(CAST(100 AS DOUBLE), GREATEST(CAST(0 AS DOUBLE),
      CASE WHEN branch = 'linear'
           THEN CAST(sy*den - num*sx + num*n_days*(xmax + 3) AS DOUBLE)
                / CAST(n_days*den AS DOUBLE)
           WHEN branch = 'seasonal' THEN CAST(season_y AS DOUBLE)
           ELSE CAST(last_y AS DOUBLE) END)) AS f
  FROM br
)
SELECT user_id, n_days, branch,
  CAST(FLOOR(f * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
    AS forecast_micros
FROM fc ORDER BY user_id
"""


def q_degree_centrality(spark, sf):
    """§2.9d graph centrality: weighted customer↔supplier interaction edges
    (one row per lineitem joins them), degree centrality per node — the
    one-aggregation member of the reference's centrality family
    (graph_builder.py:32-81 edge build, graph_metrics.py:46-52 degree)."""
    from anomaly_detection_spark.functions import graph

    li, o = load(spark, sf, "lineitem"), load(spark, sf, "orders")
    inter = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = graph.weighted_edges(inter, "src", "dst")
    return graph.degree_centrality(edges)


SQL_DEGREE_CENTRALITY = """
WITH inter AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT src, dst, COUNT(*) AS w FROM inter GROUP BY 1, 2
), sym AS (
  SELECT src AS node, dst AS other, w FROM edges
  UNION ALL
  SELECT dst AS node, src AS other, w FROM edges
), deg AS (
  SELECT node, COUNT(DISTINCT other) AS n_neighbors,
         CAST(SUM(w) AS BIGINT) AS weighted_degree
  FROM sym GROUP BY node
), n AS (SELECT COUNT(*) AS n_nodes FROM deg)
SELECT node, n_neighbors, weighted_degree,
       CAST(FLOOR(n_neighbors * 1e6 / (n_nodes - 1.0) + 0.5) AS BIGINT) AS centrality_micros
FROM deg, n
"""


def q_seasonality_periods(spark, sf):
    """W4 generalized (trend_detector.py:115-156): autocorrelation of each
    event type's daily-count series at lags {7,14,30}; dominant period =
    highest acf among lags with ≥8 aligned pairs (30 days of data ⇒ lag 30
    is correctly excluded by the min-pairs gate)."""
    from anomaly_detection_spark.functions import timeseries

    e = load(spark, sf, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias("x"),
    ).agg(F.count("*").alias("y"))
    return timeseries.dominant_period(
        daily, "event_type", "x", "y", lags=[7, 14, 30], min_pairs=8
    )


def _seasonality_oracle_sql() -> str:
    lag_ctes = []
    for lag in (7, 14, 30):
        lag_ctes.append(f"""
  SELECT a.event_type, {lag} AS lag, COUNT(*) AS n_pairs,
         CAST(SUM(a.y) AS BIGINT) AS sx, CAST(SUM(b.y) AS BIGINT) AS sy,
         CAST(SUM(a.y*a.y) AS BIGINT) AS sxx, CAST(SUM(b.y*b.y) AS BIGINT) AS syy,
         CAST(SUM(a.y*b.y) AS BIGINT) AS sxy
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.x = b.x + {lag}
  GROUP BY 1""")
    return f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2
), lags AS ({' UNION ALL '.join(lag_ctes)}
), acf AS (
  SELECT event_type, lag, n_pairs,
         ROUND(CAST(n_pairs*sxy - sx*sy AS DOUBLE)
               / (sqrt(CAST(n_pairs*sxx - sx*sx AS DOUBLE))
                * sqrt(CAST(n_pairs*syy - sy*sy AS DOUBLE))), 6) AS acf
  FROM lags
  WHERE n_pairs*sxx - sx*sx > 0 AND n_pairs*syy - sy*sy > 0 AND n_pairs >= 8
)
SELECT event_type, lag AS best_lag, n_pairs, acf AS best_acf FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY acf DESC, lag ASC) AS rk
  FROM acf
) WHERE rk = 1
"""


SQL_SEASONALITY_PERIODS = _seasonality_oracle_sql()

_SPLIT_DAY_SQL = "date_diff('day', DATE '1970-01-01', DATE '2024-01-15')"


def q_user_profile_deviation(spark, sf):
    """J3 profile-lookup join (time_analyzer.py:84-94): per-user daily-volume
    profile (mean/std from exact integer sums) built on the first half-month,
    LEFT-joined by each second-half day; missing profile ⇒ 'no_profile'
    verdict (the reference's no-profile branch), else z>2 days are counted."""
    e = load(spark, sf, "events")
    daily = e.groupBy(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias("x"),
    ).agg(F.count("*").alias("y"))
    split = F.datediff(F.lit("2024-01-15"), F.lit("1970-01-01"))
    prof = daily.filter(F.col("x") < split).groupBy("user_id").agg(
        F.count("*").alias("k"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("ss"),
    )
    cur = daily.filter(F.col("x") >= split)
    j = cur.join(prof, "user_id", "left")
    var = (F.col("k") * F.col("ss") - F.col("s") * F.col("s")) / (
        F.col("k") * (F.col("k") - 1)
    ).cast("double")
    z = (F.col("y") - F.col("s") / F.col("k")) / F.sqrt(var)
    anomalous = (
        (F.col("k") >= 2) & (var > 0) & (F.abs(z) > 2.0)
    )
    return j.groupBy("user_id").agg(
        F.count("*").alias("n_days_checked"),
        F.sum(anomalous.cast("long")).alias("n_anomalous"),
        F.when(F.max("k").isNull(), F.lit("no_profile"))
        .when(F.sum(anomalous.cast("long")) > 0, F.lit("anomalous"))
        .otherwise(F.lit("normal"))
        .alias("verdict"),
    )


def q_missing_value_fill(spark, sf):
    """P12 missing-value imputation (data_normalizer.py:506-537): nulls are
    planted deterministically (lang when doc_id%7==0, n_chars when
    doc_id%11==0 — the raw driver tables ship null-free), then repaired —
    numeric → exact median (truncated into the column's integer type),
    categorical → deterministic mode — and the filled frame is rolled up."""
    from anomaly_detection_spark.functions import clean

    d = load(spark, sf, "documents").select(
        "doc_id",
        F.when(F.pmod("doc_id", F.lit(7)) != 0, F.col("lang")).alias("lang"),
        F.when(F.pmod("doc_id", F.lit(11)) != 0, F.col("n_chars")).alias("n_chars"),
    )
    filled = clean.fill_missing(d, numeric_cols=["n_chars"], categorical_cols=["lang"])
    return filled.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


SQL_MISSING_VALUE_FILL = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 <> 0 THEN lang END AS lang,
         CASE WHEN doc_id % 11 <> 0 THEN n_chars END AS n_chars
  FROM documents
), med AS (
  SELECT CAST(TRUNC(quantile_cont(n_chars, 0.5)) AS BIGINT) AS m FROM d
), mode AS (
  SELECT lang AS mv FROM (
    SELECT lang, COUNT(*) AS cnt FROM d WHERE lang IS NOT NULL GROUP BY lang
  ) ORDER BY cnt DESC, lang ASC LIMIT 1
), filled AS (
  SELECT COALESCE(d.lang, mode.mv, 'unknown') AS lang,
         COALESCE(d.n_chars, med.m) AS n_chars
  FROM d, med, mode
)
SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM filled GROUP BY lang
"""


SQL_USER_PROFILE_DEVIATION = f"""
WITH daily AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2
), prof AS (
  SELECT user_id, COUNT(*) AS k, CAST(SUM(y) AS BIGINT) AS s,
         CAST(SUM(y*y) AS BIGINT) AS ss
  FROM daily WHERE x < {_SPLIT_DAY_SQL} GROUP BY user_id
), j AS (
  SELECT c.user_id, c.y, p.k, p.s, p.ss,
         (p.k * p.ss - p.s * p.s) / CAST(p.k * (p.k - 1) AS DOUBLE) AS var,
         (c.y - p.s / p.k) / sqrt((p.k * p.ss - p.s * p.s)
                                  / CAST(p.k * (p.k - 1) AS DOUBLE)) AS z
  FROM (SELECT * FROM daily WHERE x >= {_SPLIT_DAY_SQL}) c
  LEFT JOIN prof p ON c.user_id = p.user_id
), flagged AS (
  SELECT user_id, k,
         CASE WHEN k >= 2 AND var > 0 AND ABS(z) > 2.0 THEN 1 ELSE 0 END AS anom
  FROM j
)
SELECT user_id, COUNT(*) AS n_days_checked,
       CAST(SUM(anom) AS BIGINT) AS n_anomalous,
       CASE WHEN MAX(k) IS NULL THEN 'no_profile'
            WHEN SUM(anom) > 0 THEN 'anomalous' ELSE 'normal' END AS verdict
FROM flagged GROUP BY user_id
"""


def q_path_type_classify(spark, sf):
    """P8 path/kind classify, complete semantics: separator normalization,
    filename + extension extraction, extension→file-type buckets — the
    reference's ``normalize_file_paths``/``get_file_type`` table
    (data_normalizer.py:204-270) as one CASE chain, no UDF. Paths are
    derived deterministically from document columns (this corpus carries no
    path column): Windows-style separators for every third doc, a 12-way
    extension cycle plus a no-extension case, so every normalization branch
    is exercised. All whole-stage codegen."""
    d = load(spark, sf, "documents")
    m = F.col("doc_id") % 13
    exts = ["pdf", "docx", "csv", "xlsx", "pptx", "jpg", "png", "mp3",
            "mp4", "zip", "exe", "xyz"]
    ext_pick = F.element_at(
        F.array(*[F.lit(x) for x in exts]), ((m % 12) + 1).cast("int")
    )
    sep = F.when(F.col("doc_id") % 3 == 0, F.lit("\\")).otherwise(F.lit("/"))
    fname = F.when(
        m == 12, F.concat(F.lit("readme_"), F.col("doc_id").cast("string"))
    ).otherwise(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"),
                 F.lit("."), ext_pick)
    )
    raw = F.concat(F.lit("data"), sep, F.col("source"), sep, fname)
    classified = d.select(
        text.path_extension(raw).alias("extension"),
        text.file_type(text.path_extension(raw)).alias("file_type"),
    )
    return (
        classified.groupBy("file_type", "extension")
        .agg(F.count("*").alias("n_files"))
        .orderBy("file_type", "extension")
    )


_SQL_FILE_TYPE_CASE = """
    CASE WHEN extension = '' THEN 'unknown'
         WHEN extension IN ('doc','docx','txt','pdf','rtf') THEN 'document'
         WHEN extension IN ('xls','xlsx','csv') THEN 'spreadsheet'
         WHEN extension IN ('ppt','pptx') THEN 'presentation'
         WHEN extension IN ('jpg','jpeg','png','gif','bmp') THEN 'image'
         WHEN extension IN ('mp3','wav','ogg') THEN 'audio'
         WHEN extension IN ('mp4','avi','mov','wmv') THEN 'video'
         WHEN extension IN ('zip','tar','gz','rar') THEN 'archive'
         WHEN extension IN ('exe','dll','bat') THEN 'executable'
         ELSE 'other' END
"""

SQL_PATH_TYPE_CLASSIFY = f"""
WITH p AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 3 = 0 THEN '\\' ELSE '/' END AS sep,
         doc_id % 13 AS m
  FROM documents
), paths AS (
  SELECT 'data' || sep || source || sep ||
         CASE WHEN m = 12 THEN 'readme_' || CAST(doc_id AS VARCHAR)
              ELSE 'doc_' || CAST(doc_id AS VARCHAR) || '.' ||
                   (['pdf','docx','csv','xlsx','pptx','jpg','png','mp3',
                     'mp4','zip','exe','xyz'])[CAST(m % 12 AS INT) + 1]
         END AS raw_path
  FROM p
), parts AS (
  SELECT string_split(replace(raw_path, '\\', '/'), '/')[-1] AS filename
  FROM paths
), exts AS (
  SELECT CASE WHEN filename LIKE '%.%'
              THEN lower(string_split(filename, '.')[-1]) ELSE '' END
         AS extension
  FROM parts
)
SELECT {_SQL_FILE_TYPE_CASE} AS file_type, extension, COUNT(*) AS n_files
FROM exts GROUP BY 1, 2 ORDER BY 1, 2
"""


def _supplier_edges(spark, sf):
    """Shared graph fixture for the centrality family: suppliers weighted by
    the number of distinct orders they co-fulfil, strong ties only (≥ 8
    shared orders). The self-join is keyed on l_orderkey, whose group size
    is bounded by lineitems-per-order (~7), so pair expansion is linear in
    lineitems — never quadratic in suppliers."""
    from anomaly_detection_spark.functions import graph

    li = load(spark, sf, "lineitem")
    lo = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_suppkey").alias("s")).distinct()
    inter = (
        lo.join(lo.select(F.col("o"), F.col("s").alias("s2")), "o")
        .filter(F.col("s") < F.col("s2"))
        .select(F.col("s").alias("src"), F.col("s2").alias("dst"))
    )
    return graph.weighted_edges(inter, "src", "dst").filter(F.col("weight") >= 8)


_SQL_SUPPLIER_EDGES = """
lo AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
e AS (
  SELECT a.s AS src, b.s AS dst, COUNT(*) AS w
  FROM lo a JOIN lo b ON a.o = b.o AND a.s < b.s
  GROUP BY 1, 2 HAVING COUNT(*) >= 8
),
sym AS (
  SELECT src AS node, dst AS other, w FROM e
  UNION ALL
  SELECT dst AS node, src AS other, w FROM e
)"""


def q_graph_triangles(spark, sf):
    """§2.9d: per-node triangle count + clustering coefficient over the
    supplier co-fulfilment graph (graph_metrics.py:70-74 nx.triangles /
    nx.clustering) — degree-oriented wedge join, each triangle found once."""
    from anomaly_detection_spark.functions import graph

    return graph.triangle_counts(_supplier_edges(spark, sf)).orderBy("node")


SQL_GRAPH_TRIANGLES = f"""
WITH {_SQL_SUPPLIER_EDGES},
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM e e1
  JOIN e e2 ON e2.src = e1.dst
  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
pn AS (
  SELECT node, COUNT(*) AS triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
),
deg AS (SELECT node, COUNT(*) AS degree FROM sym GROUP BY node)
SELECT d.node, d.degree,
       CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN d.degree < 2 THEN 0
            ELSE CAST(FLOOR(COALESCE(pn.triangles, 0) * 2e6
                            / (d.degree * (d.degree - 1.0)) + 0.5) AS BIGINT)
       END AS clustering_micros
FROM deg d LEFT JOIN pn ON pn.node = d.node
ORDER BY d.node
"""


def q_eigenvector_centrality(spark, sf):
    """§2.9d: eigenvector centrality by 4 exact-integer power iterations
    over the weighted supplier graph (graph_metrics.py:63-67) — weights ≤ ~200
    and degree ≤ nodes keep (max weighted degree)^4 far inside int64."""
    from anomaly_detection_spark.functions import graph

    return graph.eigenvector_scores(_supplier_edges(spark, sf), "weight") \
        .orderBy("node")


SQL_EIGENVECTOR_CENTRALITY = f"""
WITH {_SQL_SUPPLIER_EDGES},
s0 AS (SELECT DISTINCT node, CAST(1 AS BIGINT) AS score FROM sym),
s1 AS (SELECT sym.node, CAST(SUM(sym.w * s.score) AS BIGINT) AS score
       FROM sym JOIN s0 s ON s.node = sym.other GROUP BY sym.node),
s2 AS (SELECT sym.node, CAST(SUM(sym.w * s.score) AS BIGINT) AS score
       FROM sym JOIN s1 s ON s.node = sym.other GROUP BY sym.node),
s3 AS (SELECT sym.node, CAST(SUM(sym.w * s.score) AS BIGINT) AS score
       FROM sym JOIN s2 s ON s.node = sym.other GROUP BY sym.node),
s4 AS (SELECT sym.node, CAST(SUM(sym.w * s.score) AS BIGINT) AS score
       FROM sym JOIN s3 s ON s.node = sym.other GROUP BY sym.node)
SELECT node, score,
       CAST(FLOOR(score * 1e6 / (SELECT MAX(score) FROM s4) + 0.5) AS BIGINT)
       AS eigen_micros
FROM s4 ORDER BY node
"""


def q_graph_components(spark, sf):
    """§2.9d community analogue: connected components via min-label
    propagation to fixpoint (the distributed substitute for
    graph_metrics.py:76-81 greedy modularity) — oracle is the recursive-CTE
    transitive closure."""
    from anomaly_detection_spark.functions import graph

    return graph.connected_components(_supplier_edges(spark, sf)) \
        .orderBy("node")


SQL_GRAPH_COMPONENTS = f"""
WITH RECURSIVE {_SQL_SUPPLIER_EDGES},
reach(node, label) AS (
  SELECT node, node FROM (SELECT DISTINCT node FROM sym)
  UNION
  SELECT sym.other, reach.label FROM reach JOIN sym ON sym.node = reach.node
)
SELECT node, MIN(label) AS component FROM reach GROUP BY node ORDER BY node
"""


_COMMUNITY_ITERS = 4


def q_graph_communities(spark, sf):
    """§2.9d communities proper (reference graph_metrics.py:77
    greedy_modularity_communities): synchronous weighted label propagation
    — FIXED 4 rounds, exact integer votes, min-label tie-break, so the
    oracle is the same recurrence unrolled as plain SQL — then the
    per-community Newman modularity panel (n_nodes, 2×intra weight,
    total weighted degree, q_micro contribution).

    Fixture: parts linked when co-ordered in ≥ 2 distinct orders — the
    supplier graph is a near-clique at small SF (no structure to find),
    while the part graph is sparse with genuine dense groups (~400
    communities at sf0.01). The pair join is keyed on l_orderkey whose
    group size is bounded by parts-per-order (~7), so expansion is
    linear in lineitems, never quadratic in parts."""
    from anomaly_detection_spark.functions import graph

    li = load(spark, sf, "lineitem")
    lo = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("p")).distinct()
    inter = (
        lo.join(lo.select("o", F.col("p").alias("p2")), "o")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("src"), F.col("p2").alias("dst"))
    )
    e = graph.weighted_edges(inter, "src", "dst") \
        .filter(F.col("weight") >= 2)
    labels = graph.community_labels(e, "weight", iters=_COMMUNITY_ITERS)
    return graph.community_modularity(e, labels, "weight") \
        .orderBy("community")


def _lpa_unrolled_sql(iters: int) -> str:
    """The label-propagation recurrence as chained plain-SQL CTEs — one
    (vote, argmax) pair per round, tie-break ORDER BY w DESC, label ASC
    mirroring Spark's min(struct(-w, label)), plus the weight-1 self-vote
    inertia term that breaks synchronous-LPA oscillations."""
    parts = ["l0 AS (SELECT node, node AS label FROM "
             "(SELECT DISTINCT node FROM sym))"]
    for i in range(1, iters + 1):
        parts.append(f"""v{i} AS (
  SELECT node, label, SUM(w) AS w FROM (
    SELECT s.node AS node, l.label AS label, s.w AS w
    FROM sym s JOIN l{i - 1} l ON s.other = l.node
    UNION ALL
    SELECT node, label, 1 AS w FROM l{i - 1}
  ) GROUP BY 1, 2
), l{i} AS (
  SELECT node, label FROM (
    SELECT node, label, ROW_NUMBER() OVER (
      PARTITION BY node ORDER BY w DESC, label ASC) AS rn
    FROM v{i}) t WHERE rn = 1
)""")
    return ",\n".join(parts)


_SQL_PART_EDGES = """
lo AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (
  SELECT a.p AS src, b.p AS dst, COUNT(*) AS w
  FROM lo a JOIN lo b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
sym AS (
  SELECT src AS node, dst AS other, w FROM e
  UNION ALL
  SELECT dst AS node, src AS other, w FROM e
)"""

SQL_GRAPH_COMMUNITIES = f"""
WITH {_SQL_PART_EDGES},
{_lpa_unrolled_sql(_COMMUNITY_ITERS)},
deg AS (SELECT node, SUM(w) AS wdeg FROM sym GROUP BY 1),
m2 AS (SELECT SUM(w) AS m2 FROM sym),
intra AS (
  SELECT la.label AS community, SUM(s.w) AS in2_w
  FROM sym s
  JOIN l{_COMMUNITY_ITERS} la ON s.node = la.node
  JOIN l{_COMMUNITY_ITERS} lb ON s.other = lb.node AND la.label = lb.label
  GROUP BY 1
),
tot AS (
  SELECT l.label AS community, COUNT(*) AS n_nodes, SUM(d.wdeg) AS tot_w
  FROM l{_COMMUNITY_ITERS} l JOIN deg d ON l.node = d.node GROUP BY 1
)
SELECT t.community AS community, n_nodes,
       CAST(COALESCE(in2_w, 0) AS BIGINT) AS in2_w,
       CAST(tot_w AS BIGINT) AS tot_w,
       CAST(FLOOR(1e6 * (COALESCE(CAST(in2_w AS DOUBLE), 0.0)
                           / CAST(m2 AS DOUBLE)
                         - (CAST(tot_w AS DOUBLE) / CAST(m2 AS DOUBLE))
                           * (CAST(tot_w AS DOUBLE) / CAST(m2 AS DOUBLE)))
                  + 0.5) AS BIGINT) AS q_micro
FROM tot t LEFT JOIN intra i ON t.community = i.community
CROSS JOIN m2
ORDER BY community
"""


def q_landmark_closeness(spark, sf):
    """§2.9d: closeness centrality against the 8 smallest-id landmark nodes,
    BFS depth ≤ 4 (sampled stand-in for graph_metrics.py:49-50 closeness;
    exact all-pairs is O(V·E) and stays out of the suite at scale)."""
    from anomaly_detection_spark.functions import graph

    return graph.landmark_closeness(_supplier_edges(spark, sf)).orderBy("node")


# unrolled landmark BFS shared by closeness and stress oracles: level sets
# f0..f4 then min-distance (a recursive UNION ALL CTE enumerates paths, not
# nodes, and explodes on dense graphs — level sets are bounded by V·|lm|)
_SQL_LANDMARK_DIST = """
lm AS (SELECT node AS root FROM (SELECT DISTINCT node FROM sym)
       ORDER BY node LIMIT 8),
f0 AS (SELECT root, root AS node FROM lm),
f1 AS (SELECT DISTINCT f0.root, sym.other AS node
       FROM f0 JOIN sym ON sym.node = f0.node),
f2 AS (SELECT DISTINCT f1.root, sym.other AS node
       FROM f1 JOIN sym ON sym.node = f1.node),
f3 AS (SELECT DISTINCT f2.root, sym.other AS node
       FROM f2 JOIN sym ON sym.node = f2.node),
f4 AS (SELECT DISTINCT f3.root, sym.other AS node
       FROM f3 JOIN sym ON sym.node = f3.node),
lev AS (
  SELECT root, node, 0 AS d FROM f0
  UNION ALL SELECT root, node, 1 FROM f1
  UNION ALL SELECT root, node, 2 FROM f2
  UNION ALL SELECT root, node, 3 FROM f3
  UNION ALL SELECT root, node, 4 FROM f4
),
dist AS MATERIALIZED (SELECT root, node, MIN(d) AS d FROM lev GROUP BY 1, 2)"""

SQL_LANDMARK_CLOSENESS = f"""
WITH {_SQL_SUPPLIER_EDGES},
{_SQL_LANDMARK_DIST}
SELECT node, COUNT(*) AS n_reached, CAST(SUM(d) AS BIGINT) AS total_dist,
       CAST(FLOOR(COUNT(*) * 1e6 / SUM(d) + 0.5) AS BIGINT)
       AS closeness_micros
FROM dist WHERE d > 0 GROUP BY node ORDER BY node
"""


def q_landmark_stress(spark, sf):
    """§2.9d: sampled-source betweenness as exact integer stress centrality
    (graph_metrics.py:53-60 sampled nx.betweenness) — shortest paths from
    the 8-landmark set through each node, σ·T path counting over the BFS
    DAG. Brandes' float dependency ratios are summation-order-dependent
    across engines; the path-count variant is bit-exact."""
    from anomaly_detection_spark.functions import graph

    return graph.landmark_stress(_supplier_edges(spark, sf)).orderBy("node")


def _sql_stress_levels(max_depth: int = 4) -> str:
    parts = [
        "dag AS MATERIALIZED (\n"
        "  SELECT du.root, e2.node AS u, e2.other AS v, du.d AS du\n"
        "  FROM sym e2\n"
        "  JOIN dist du ON du.node = e2.node\n"
        "  JOIN dist dv ON dv.root = du.root AND dv.node = e2.other\n"
        "  WHERE dv.d = du.d + 1\n"
        ")",
        "sg0 AS MATERIALIZED (SELECT root, node, CAST(1 AS BIGINT) AS sigma\n"
        "        FROM dist WHERE d = 0)",
    ]
    for lvl in range(1, max_depth + 1):
        parts.append(
            f"sg{lvl} AS MATERIALIZED (SELECT dag.root, dag.v AS node,\n"
            f"             CAST(SUM(s.sigma) AS BIGINT) AS sigma\n"
            f"        FROM dag JOIN sg{lvl - 1} s\n"
            f"          ON s.root = dag.root AND s.node = dag.u\n"
            f"        WHERE dag.du = {lvl - 1} GROUP BY 1, 2)"
        )
    parts.append(
        f"t{max_depth} AS MATERIALIZED (SELECT root, node, CAST(0 AS BIGINT) AS t\n"
        f"        FROM dist WHERE d = {max_depth})"
    )
    for lvl in range(max_depth - 1, 0, -1):
        parts.append(
            f"c{lvl} AS MATERIALIZED (SELECT dag.root, dag.u AS node,\n"
            f"            CAST(SUM(t.t + 1) AS BIGINT) AS t\n"
            f"       FROM dag JOIN t{lvl + 1} t\n"
            f"         ON t.root = dag.root AND t.node = dag.v\n"
            f"       WHERE dag.du = {lvl} GROUP BY 1, 2)"
        )
        parts.append(
            f"t{lvl} AS MATERIALIZED (SELECT d.root, d.node,\n"
            f"            COALESCE(c.t, CAST(0 AS BIGINT)) AS t\n"
            f"       FROM (SELECT root, node FROM dist WHERE d = {lvl}) d\n"
            f"       LEFT JOIN c{lvl} c ON c.root = d.root AND c.node = d.node)"
        )
    alls = " UNION ALL ".join(f"SELECT * FROM sg{k}" for k in range(1, max_depth + 1))
    allt = " UNION ALL ".join(f"SELECT * FROM t{k}" for k in range(1, max_depth + 1))
    parts.append(f"alls AS ({alls})")
    parts.append(f"allt AS ({allt})")
    return ",\n".join(parts)


SQL_LANDMARK_STRESS = f"""
WITH {_SQL_SUPPLIER_EDGES},
{_SQL_LANDMARK_DIST},
{_sql_stress_levels()},
thr AS (
  SELECT s.node, CAST(SUM(s.sigma * t.t) AS BIGINT) AS stress
  FROM alls s JOIN allt t ON t.root = s.root AND t.node = s.node
  GROUP BY 1
)
SELECT n.node, COALESCE(thr.stress, CAST(0 AS BIGINT)) AS stress
FROM (SELECT DISTINCT node FROM sym) n
LEFT JOIN thr ON thr.node = n.node
ORDER BY n.node
"""


def q_graph_anomaly_scores(spark, sf):
    """§2.9d composite: the reference's graph anomaly score
    (graph_metrics.py:93-130 ``detect_anomalies``): 0.3·degree + 0.3·
    (betweenness → landmark-closeness stand-in, the sampled-shortest-path
    analogue) + 0.3·eigenvector + 0.1·triangles/max, flagged above the exact
    95th percentile. The edge build is checkpointed once and shared by all
    four metric subplans."""
    from anomaly_detection_spark.functions import graph

    edges = _supplier_edges(spark, sf).localCheckpoint()
    deg = graph.degree_centrality(edges).select("node", "centrality_micros")
    tri = graph.triangle_counts(edges).select("node", "triangles")
    eig = graph.eigenvector_scores(edges).select("node", "eigen_micros")
    clo = graph.landmark_closeness(edges).select("node", "closeness_micros")
    mx = tri.agg(F.max("triangles").alias("_mt"))
    tri_n = tri.crossJoin(F.broadcast(mx)).select(
        "node",
        F.when(F.col("_mt") <= 0, F.lit(0).cast("long")).otherwise(
            F.floor(F.col("triangles") * 1e6 / F.col("_mt") + 0.5).cast("long")
        ).alias("tri_micros"),
    )
    scored = (
        deg.join(eig, "node").join(tri_n, "node").join(clo, "node", "left")
        .select(
            "node",
            F.floor(
                0.3 * F.col("centrality_micros")
                + 0.3 * F.col("eigen_micros")
                + 0.3 * F.coalesce("closeness_micros", F.lit(0))
                + 0.1 * F.col("tri_micros")
                + 0.5
            ).cast("long").alias("score_micros"),
        )
    )
    thr = scored.agg(F.expr("percentile(score_micros, 0.95)").alias("_t"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .select("node", "score_micros",
                (F.col("score_micros") > F.col("_t")).alias("is_anomaly"))
        .orderBy("node")
    )


SQL_GRAPH_ANOMALY_SCORES = f"""
WITH {_SQL_SUPPLIER_EDGES},
deg AS (SELECT node, COUNT(DISTINCT other) AS n_neighbors FROM sym GROUP BY node),
nn AS (SELECT COUNT(*) AS n FROM deg),
cent AS (
  SELECT node,
         CAST(FLOOR(n_neighbors * 1e6 / (nn.n - 1.0) + 0.5) AS BIGINT)
         AS cent_micros
  FROM deg, nn
),
tri0 AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM e e1
  JOIN e e2 ON e2.src = e1.dst
  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
pn AS (
  SELECT node, COUNT(*) AS triangles FROM (
    SELECT a AS node FROM tri0
    UNION ALL SELECT b FROM tri0
    UNION ALL SELECT c FROM tri0
  ) GROUP BY node
),
tri AS (
  SELECT d.node, CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles
  FROM deg d LEFT JOIN pn ON pn.node = d.node
),
trin AS (
  SELECT node,
         CASE WHEN (SELECT MAX(triangles) FROM tri) <= 0 THEN 0
              ELSE CAST(FLOOR(triangles * 1e6
                              / (SELECT MAX(triangles) FROM tri) + 0.5)
                        AS BIGINT) END AS tri_micros
  FROM tri
),
s0 AS (SELECT DISTINCT node, CAST(1 AS BIGINT) AS score FROM sym),
s1 AS (SELECT sym.node, CAST(SUM(sym.w * s.score) AS BIGINT) AS score
       FROM sym JOIN s0 s ON s.node = sym.other GROUP BY sym.node),
s2 AS (SELECT sym.node, CAST(SUM(sym.w * s.score) AS BIGINT) AS score
       FROM sym JOIN s1 s ON s.node = sym.other GROUP BY sym.node),
s3 AS (SELECT sym.node, CAST(SUM(sym.w * s.score) AS BIGINT) AS score
       FROM sym JOIN s2 s ON s.node = sym.other GROUP BY sym.node),
s4 AS (SELECT sym.node, CAST(SUM(sym.w * s.score) AS BIGINT) AS score
       FROM sym JOIN s3 s ON s.node = sym.other GROUP BY sym.node),
eig AS (
  SELECT node,
         CAST(FLOOR(score * 1e6 / (SELECT MAX(score) FROM s4) + 0.5) AS BIGINT)
         AS eigen_micros
  FROM s4
),
lm AS (SELECT node AS root FROM (SELECT DISTINCT node FROM sym)
       ORDER BY node LIMIT 8),
f0 AS (SELECT root, root AS node FROM lm),
f1 AS (SELECT DISTINCT f0.root, sym.other AS node
       FROM f0 JOIN sym ON sym.node = f0.node),
f2 AS (SELECT DISTINCT f1.root, sym.other AS node
       FROM f1 JOIN sym ON sym.node = f1.node),
f3 AS (SELECT DISTINCT f2.root, sym.other AS node
       FROM f2 JOIN sym ON sym.node = f2.node),
f4 AS (SELECT DISTINCT f3.root, sym.other AS node
       FROM f3 JOIN sym ON sym.node = f3.node),
lev AS (
  SELECT root, node, 0 AS d FROM f0
  UNION ALL SELECT root, node, 1 FROM f1
  UNION ALL SELECT root, node, 2 FROM f2
  UNION ALL SELECT root, node, 3 FROM f3
  UNION ALL SELECT root, node, 4 FROM f4
),
dist AS (SELECT root, node, MIN(d) AS d FROM lev GROUP BY 1, 2),
clo AS (
  SELECT node,
         CAST(FLOOR(COUNT(*) * 1e6 / SUM(d) + 0.5) AS BIGINT) AS clos_micros
  FROM dist WHERE d > 0 GROUP BY node
),
scored AS (
  -- literals must be DOUBLE: DuckDB's bare 0.3 is exact DECIMAL, whose
  -- product differs from Spark's double 0.3 in the last ulp at FLOOR edges
  SELECT c.node,
         CAST(FLOOR(CAST(0.3 AS DOUBLE) * c.cent_micros
                    + CAST(0.3 AS DOUBLE) * eig.eigen_micros
                    + CAST(0.3 AS DOUBLE) * COALESCE(clo.clos_micros, 0)
                    + CAST(0.1 AS DOUBLE) * trin.tri_micros
                    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS score_micros
  FROM cent c
  JOIN eig ON eig.node = c.node
  JOIN trin ON trin.node = c.node
  LEFT JOIN clo ON clo.node = c.node
)
SELECT node, score_micros,
       score_micros > (SELECT quantile_cont(score_micros, 0.95) FROM scored)
       AS is_anomaly
FROM scored ORDER BY node
"""


def q_embedding_near_dups(spark, sf):
    """Embedding-cosine near-dup detection end to end: the corpus is
    augmented with deterministic perturbed copies (every 10th vector, first
    component +0.05, id offset 100000 — this corpus has no natural
    near-dups, max pairwise cosine ≈ 0.46), then LSH-bucket-blocked pairs
    with exact cosine ≥ 0.98 are reported. Both engines apply the same
    blocking, so a planted pair that flips a sign bit is consistently
    excluded on both sides."""
    emb = load(spark, sf, "embeddings")
    v = F.col("embedding")
    perturbed = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: F.when(i == 1, F.element_at(v, i) + 0.05)
                   .otherwise(F.element_at(v, i).cast("double")),
    )
    aug = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        perturbed.alias("embedding"),
    )
    both = emb.select("vec_id", v.cast("array<double>").alias("embedding")) \
        .unionByName(aug)
    return (
        similarity.near_dup_pairs(both, threshold=0.98)
        .orderBy("id_a", "id_b")
    )


SQL_EMBEDDING_NEAR_DUPS = f"""
WITH aug AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(generate_series(1, 64),
           i -> CASE WHEN i = 1 THEN embedding[i] + 0.05
                     ELSE CAST(embedding[i] AS DOUBLE) END)
  FROM embeddings WHERE vec_id % 10 = 0
), base AS (
  SELECT vec_id, embedding, {_lsh_bucket_bits_sql()} AS b FROM aug
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND({_DOT_SQL.format(a='a.embedding', b='b.embedding')}
               / ({_NORM_SQL.format(a='a.embedding')}
                  * {_NORM_SQL.format(a='b.embedding')}), 6) AS cos
  FROM base a JOIN base b ON a.b = b.b AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.98 ORDER BY id_a, id_b
"""


def q_high_risk_correlations(spark, sf):
    """High-risk user correlation (multidimensional_detector.py:616-676
    ``_analyze_user_correlations``): pairwise interaction strength among
    users whose risk score clears HIGH_RISK_THRESHOLD (70, config.py), with
    the pair's combined risk — the reference's nested dict loop re-expressed
    as bounded co-activity pairs ⋈ broadcast high-risk score lookups."""
    from anomaly_detection_spark.functions import graph, risk

    e = load(spark, sf, "events")
    anomalies = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("value").alias("severity")
    )
    hi = (
        risk.entity_risk_scores(anomalies, micros=True)
        .select("user_id", "risk_score_micros")
        .filter(F.col("risk_score_micros") >= 70_000_000)
    )
    # both pair endpoints must be high-risk, so restrict the co-activity
    # self-join input FIRST (broadcast semi-join): the pair space shrinks
    # from Σ|key ∩ all users|² to Σ|key ∩ high-risk|² — at scale high-risk
    # is a small fraction and this is the difference that matters
    keyed = (
        e.select("user_id", "event_type", F.col("ts").cast("date").alias("d"))
        .join(F.broadcast(hi.select("user_id")), "user_id", "left_semi")
    )
    pairs = graph.co_activity_pairs(keyed, "user_id", ["event_type", "d"])
    a = hi.select(F.col("user_id").alias("user_a"),
                  F.col("risk_score_micros").alias("_ra"))
    b = hi.select(F.col("user_id").alias("user_b"),
                  F.col("risk_score_micros").alias("_rb"))
    return (
        pairs.select(F.col("entity_a").alias("user_a"),
                     F.col("entity_b").alias("user_b"),
                     F.col("shared").alias("strength"))
        .join(F.broadcast(a), "user_a")
        .join(F.broadcast(b), "user_b")
        .select("user_a", "user_b", "strength",
                (F.col("_ra") + F.col("_rb")).alias("combined_risk_micros"))
        .orderBy("user_a", "user_b")
    )


SQL_HIGH_RISK_CORRELATIONS = """
WITH a AS (
  SELECT user_id, COUNT(*) AS n_anomalies,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sev_cents
  FROM events WHERE event_type = 'error' GROUP BY user_id
), s AS (
  SELECT user_id,
         LEAST(100.0, 30.0 + 10.0 * n_anomalies
               + (sev_cents / (100.0 * n_anomalies)) / 3.0) AS score
  FROM a
), hi AS (
  SELECT user_id, CAST(FLOOR(score * 1e6 + 0.5) AS BIGINT) AS risk_micros
  FROM s
  WHERE CAST(FLOOR(score * 1e6 + 0.5) AS BIGINT) >= 70000000
), ud AS (
  SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS d FROM events
), p AS (
  SELECT x.user_id AS user_a, y.user_id AS user_b, COUNT(*) AS strength
  FROM ud x JOIN ud y ON x.event_type = y.event_type AND x.d = y.d
  WHERE x.user_id < y.user_id
  GROUP BY 1, 2
)
SELECT p.user_a, p.user_b, p.strength,
       ha.risk_micros + hb.risk_micros AS combined_risk_micros
FROM p
JOIN hi ha ON ha.user_id = p.user_a
JOIN hi hb ON hb.user_id = p.user_b
ORDER BY user_a, user_b
"""


def q_access_pattern_drift(spark, sf):
    """Day-over-day behavioral drift (time_series_analyzer.py:222-276
    ``_analyze_access_pattern_trend`` + ``_analyze_communication_trend``):
    per user, the Jaccard similarity of consecutive days' accessed-resource
    sets and the new-partner analogue (share of today's resources not seen
    yesterday), averaged over consecutive-day pairs. Per-pair ratios are
    quantized to integer micros BEFORE averaging, so the average is an
    exact integer sum ÷ count — float summation order never appears.
    Resources = the props JSON ``k`` field; consecutive = lag over the
    user's distinct active days."""
    e = load(spark, sf, "events")
    ud = e.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.get_json_object("props", "$.k").alias("k"),
    ).distinct()
    sizes = ud.groupBy("user_id", "d").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy("d")
    days = sizes.select(
        "user_id", "d", "n",
        F.lag("d").over(w).alias("prev_d"),
        F.lag("n").over(w).alias("prev_n"),
    ).filter(F.col("prev_d").isNotNull())
    # attach prev_d to each resource row FIRST, so the prev-day membership
    # probe is a single bounded equi-join — joining cur×prev on (user, k)
    # alone would cross-product every day pair a recurring resource spans
    inter = (
        ud.join(days.select("user_id", "d", "prev_d"), ["user_id", "d"])
        .join(
            ud.select("user_id", F.col("d").alias("prev_d"), "k"),
            ["user_id", "prev_d", "k"],
            "left_semi",
        )
        .groupBy("user_id", "d")
        .agg(F.count("*").alias("n_int"))
    )
    pairs = days.join(inter, ["user_id", "d"], "left").select(
        "user_id",
        F.coalesce("n_int", F.lit(0)).alias("n_int"), "n", "prev_n",
    )
    jac = F.floor(F.col("n_int") * 1e6
                  / (F.col("n") + F.col("prev_n") - F.col("n_int")) + 0.5)
    new_ratio = F.floor((F.col("n") - F.col("n_int")) * 1e6 / F.col("n") + 0.5)
    per_pair = pairs.select(
        "user_id", jac.cast("long").alias("jm"),
        new_ratio.cast("long").alias("nm"),
    )
    return (
        per_pair.groupBy("user_id")
        .agg(
            F.count("*").alias("n_day_pairs"),
            F.floor(F.sum("jm") / F.count("*")).cast("long")
            .alias("avg_jaccard_micros"),
            F.floor(F.sum("nm") / F.count("*")).cast("long")
            .alias("avg_new_ratio_micros"),
        )
        .select(
            "user_id", "n_day_pairs", "avg_jaccard_micros",
            (F.lit(1_000_000) - F.col("avg_jaccard_micros"))
            .alias("trend_strength_micros"),
            "avg_new_ratio_micros",
        )
        .orderBy("user_id")
    )


SQL_ACCESS_PATTERN_DRIFT = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
         json_extract_string(props, '$.k') AS k
  FROM events
), sizes AS (
  SELECT user_id, d, COUNT(*) AS n FROM ud GROUP BY 1, 2
), days AS (
  SELECT user_id, d, n,
         LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d,
         LAG(n) OVER (PARTITION BY user_id ORDER BY d) AS prev_n
  FROM sizes
), pairs AS (SELECT * FROM days WHERE prev_d IS NOT NULL),
inter AS (
  SELECT p.user_id, p.d, COUNT(*) AS n_int
  FROM pairs p
  JOIN ud cur ON cur.user_id = p.user_id AND cur.d = p.d
  JOIN ud prev ON prev.user_id = p.user_id AND prev.d = p.prev_d
             AND prev.k = cur.k
  GROUP BY 1, 2
), per_pair AS (
  SELECT p.user_id,
         CAST(FLOOR(COALESCE(i.n_int, 0) * 1e6
                    / (p.n + p.prev_n - COALESCE(i.n_int, 0)) + 0.5)
              AS BIGINT) AS jm,
         CAST(FLOOR((p.n - COALESCE(i.n_int, 0)) * 1e6 / p.n + 0.5)
              AS BIGINT) AS nm
  FROM pairs p LEFT JOIN inter i ON i.user_id = p.user_id AND i.d = p.d
)
SELECT user_id, COUNT(*) AS n_day_pairs,
       CAST(FLOOR(CAST(SUM(jm) AS BIGINT) / COUNT(*)) AS BIGINT)
       AS avg_jaccard_micros,
       1000000 - CAST(FLOOR(CAST(SUM(jm) AS BIGINT) / COUNT(*)) AS BIGINT)
       AS trend_strength_micros,
       CAST(FLOOR(CAST(SUM(nm) AS BIGINT) / COUNT(*)) AS BIGINT)
       AS avg_new_ratio_micros
FROM per_pair GROUP BY user_id ORDER BY user_id
"""


def q_user_activity_profile(spark, sf):
    """Consolidated per-entity activity profile (user_profile_builder.py:
    87-127 ``_build_activity_profile``: hour histogram + entropy + activity
    breadth, built per user in one pass): event count, active days,
    distinct resources, the 24-bin hour-of-day histogram (canonical
    comma-joined string — array reprs differ between pandas paths), and its
    Shannon entropy. Conditional aggregation — 24 SUM(CASE) bins in ONE
    groupBy, no explode, no pivot second shuffle."""
    e = load(spark, sf, "events")
    hour = F.hour("ts")
    bins = [
        F.sum(F.when(hour == h, 1).otherwise(0)).alias(f"h{h}")
        for h in range(24)
    ]
    base = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct(F.col("ts").cast("date")).alias("n_active_days"),
        F.countDistinct(F.get_json_object("props", "$.k")).alias("n_resources"),
        *bins,
    )
    ent = None
    for h in range(24):
        p = F.col(f"h{h}").cast("double") / F.col("n_events")
        term = F.when(F.col(f"h{h}") > 0, -p * F.log2(p)).otherwise(F.lit(0.0))
        ent = term if ent is None else ent + term
    return base.select(
        "user_id", "n_events", "n_active_days", "n_resources",
        F.concat_ws(",", *[F.col(f"h{h}").cast("string") for h in range(24)])
        .alias("hour_hist"),
        F.round(ent, 6).alias("hour_entropy"),
    ).orderBy("user_id")


def _sql_user_activity_profile() -> str:
    bins = ",\n         ".join(
        f"CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) = {h} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS h{h}"
        for h in range(24)
    )
    hist = " || ',' || ".join(f"CAST(h{h} AS VARCHAR)" for h in range(24))
    terms = " + ".join(
        f"(CASE WHEN h{h} > 0 THEN -(CAST(h{h} AS DOUBLE) / n_events)"
        f" * log2(CAST(h{h} AS DOUBLE) / n_events) ELSE 0.0 END)"
        for h in range(24)
    )
    return f"""
WITH base AS (
  SELECT user_id, COUNT(*) AS n_events,
         COUNT(DISTINCT CAST(ts AS DATE)) AS n_active_days,
         COUNT(DISTINCT json_extract_string(props, '$.k')) AS n_resources,
         {bins}
  FROM events GROUP BY user_id
)
SELECT user_id, n_events, n_active_days, n_resources,
       {hist} AS hour_hist,
       ROUND({terms}, 6) AS hour_entropy
FROM base ORDER BY user_id
"""


SQL_USER_ACTIVITY_PROFILE = _sql_user_activity_profile()


def q_dup_clusters(spark, sf):
    """End-to-end near-dup pipeline — the full shape a 100 TB dedup job
    runs, composed from the engine's own operators: MinHash-LSH candidate
    pairs (bucketed, never all-pairs) → n-gram Jaccard verification →
    connected components over the verified dup edges → per-cluster summary
    (canonical = min doc_id). One registry entry proving the stages
    compose; each stage is also oracle-paired on its own."""
    from anomaly_detection_spark.functions import graph

    d = load(spark, sf, "documents")
    cands = dedup.lsh_candidate_pairs(d, k=4, bands=2)
    verified = dedup.ngram_jaccard_pairs(d, threshold=0.2, candidates=cands)
    edges = verified.select(F.col("id_a").alias("src"),
                            F.col("id_b").alias("dst"))
    comp = graph.connected_components(edges)
    return (
        comp.groupBy("component").agg(F.count("*").alias("n_docs"))
        .orderBy("component")
    )


SQL_DUP_CLUSTERS = f"""
WITH RECURSIVE t AS (SELECT doc_id, {{toks}} AS toks FROM documents),
sh AS (SELECT doc_id, list_distinct({{shingles}}) AS shset FROM t),
sig AS (
  SELECT t.doc_id,
    list_min(list_transform({{shingles}}, s -> md5('0:' || s))) AS mh0,
    list_min(list_transform({{shingles}}, s -> md5('1:' || s))) AS mh1,
    list_min(list_transform({{shingles}}, s -> md5('2:' || s))) AS mh2,
    list_min(list_transform({{shingles}}, s -> md5('3:' || s))) AS mh3
  FROM t
),
buckets AS (
  SELECT doc_id, md5('0' || '|' || mh0 || '|' || mh1) AS bucket FROM sig WHERE mh0 IS NOT NULL
  UNION ALL
  SELECT doc_id, md5('1' || '|' || mh2 || '|' || mh3) AS bucket FROM sig WHERE mh2 IS NOT NULL
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
verified AS MATERIALIZED (
  SELECT id_a, id_b
  FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
            JOIN sh sb ON cand.id_b = sb.doc_id
  WHERE len(list_intersect(sa.shset, sb.shset)) * 1.0
        / len(list_distinct(list_concat(sa.shset, sb.shset))) >= 0.2
),
sym AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM verified
  UNION ALL SELECT id_b, id_a FROM verified
),
reach(node, label) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT sym.b, reach.label FROM reach JOIN sym ON sym.a = reach.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
SELECT component, COUNT(*) AS n_docs
FROM comp GROUP BY component ORDER BY component
"""
SQL_DUP_CLUSTERS = SQL_DUP_CLUSTERS.format(toks=_TOKS_SQL, shingles=_SHINGLES_SQL)


def q_rolling_user_activity(spark, sf):
    """Time-RANGE rolling stats (the reference's moving-average family,
    trend_detector.py): per user, trailing-7-day mean/std of daily event
    counts — a RANGE frame over calendar days, not ROWS, so gaps in a
    user's active days shrink the window as the reference's date math does
    (`change_points` covers the ROWS variant). Closed-form mean/std from
    exact integer sums."""
    e = load(spark, sf, "events")
    daily = e.groupBy("user_id", F.col("ts").cast("date").alias("d")) \
        .agg(F.count("*").alias("c"))
    day_num = F.datediff(F.col("d"), F.lit("1970-01-01"))
    w = Window.partitionBy("user_id").orderBy(day_num).rangeBetween(-6, 0)
    stats = daily.select(
        "user_id", "d", "c",
        F.count("c").over(w).alias("n"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("ss"),
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    return stats.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"), "c", "n",
        F.round(F.col("s") / F.col("n"), 6).alias("mean_c"),
        F.when(F.col("n") > 1, F.round(F.sqrt(var), 6)).alias("std_c"),
    ).orderBy("user_id", "day")


SQL_ROLLING_USER_ACTIVITY = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT user_id, d, c,
         COUNT(c) OVER w AS n,
         CAST(SUM(c) OVER w AS BIGINT) AS s,
         CAST(SUM(c*c) OVER w AS BIGINT) AS ss
  FROM daily
  WINDOW w AS (PARTITION BY user_id
               ORDER BY date_diff('day', DATE '1970-01-01', d)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT user_id, strftime(d, '%Y-%m-%d') AS day, c, n,
       ROUND(CAST(s AS DOUBLE) / n, 6) AS mean_c,
       CASE WHEN n > 1
            THEN ROUND(sqrt((ss - CAST(s AS DOUBLE) * s / n) / (n - 1)), 6)
       END AS std_c
FROM stats ORDER BY user_id, day
"""


def q_pagerank(spark, sf):
    """§2.9d: fixed-point integer PageRank on the supplier graph — the
    canonical iterative graph op at 10^12-edge scale, made bit-exact
    (int64 nanos, 17/20 damping via integer floor-division) so a DuckDB
    oracle can check it; float PageRank's contribution sums are
    summation-order-dependent."""
    from anomaly_detection_spark.functions import graph

    return graph.pagerank_fixed(_supplier_edges(spark, sf)).orderBy("node")


def _sql_pagerank(iters: int = 5, scale: int = 10**9) -> str:
    parts = [
        "deg AS (SELECT node, COUNT(*) AS deg FROM sym GROUP BY node)",
        "nn AS (SELECT COUNT(*) AS n FROM deg)",
        f"pr0 AS (SELECT node, deg, CAST({scale} AS BIGINT) // nn.n AS pr"
        f" FROM deg, nn)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"pr{k} AS MATERIALIZED (\n"
            f"  SELECT d.node, d.deg,\n"
            f"         (CAST({scale} AS BIGINT) * 3) // (20 * nn.n)\n"
            f"         + CAST(SUM((p.pr * 17) // (20 * p.deg)) AS BIGINT) AS pr\n"
            f"  FROM deg d\n"
            f"  JOIN sym ON sym.node = d.node\n"
            f"  JOIN pr{k - 1} p ON p.node = sym.other\n"
            f"  CROSS JOIN nn\n"
            f"  GROUP BY d.node, d.deg, nn.n)"
        )
    return ",\n".join(parts) + f"\nSELECT node, pr AS pagerank_nanos FROM pr{iters} ORDER BY node"


SQL_PAGERANK = f"""
WITH {_SQL_SUPPLIER_EDGES},
{_sql_pagerank()}
"""


_SQL_HASH_BUCKET = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)


def q_corpus_split_stats(spark, sf):
    """Deterministic train/val/test split (80/10/10) by stable md5 hash of
    doc_id — membership never reshuffles as the corpus grows (the property
    hash splits have and row-number splits don't). Per (split, lang):
    document count + total chars."""
    from anomaly_detection_spark.functions import curation

    d = load(spark, sf, "documents")
    return (
        d.select(curation.split_column("doc_id").alias("split"), "lang",
                 "n_chars")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").alias("total_chars"))
        .orderBy("split", "lang")
    )


SQL_CORPUS_SPLIT_STATS = f"""
WITH b AS (
  SELECT CASE WHEN {_SQL_HASH_BUCKET} < 80 THEN 'train'
              WHEN {_SQL_HASH_BUCKET} < 90 THEN 'val'
              ELSE 'test' END AS split,
         lang, n_chars
  FROM documents
)
SELECT split, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_stratified_sample_stats(spark, sf):
    """Deterministic stratified sampling: per-language keep-rates applied as
    a pure hash-bucket filter (no shuffle, no rand() — reproducible and
    scan-pushable at 100 TB). Per language: sampled count + id range."""
    from anomaly_detection_spark.functions import curation

    d = load(spark, sf, "documents")
    s = curation.stratified_sample(
        d, "lang", {"en": 60, "zh": 25, "de": 10}, default_pct=5,
    )
    return (
        s.groupBy("lang")
        .agg(F.count("*").alias("n_sampled"),
             F.min("doc_id").alias("min_id"),
             F.max("doc_id").alias("max_id"))
        .orderBy("lang")
    )


SQL_STRATIFIED_SAMPLE_STATS = f"""
WITH s AS (
  SELECT lang, doc_id FROM documents
  WHERE {_SQL_HASH_BUCKET} <
        CASE lang WHEN 'en' THEN 60 WHEN 'zh' THEN 25 WHEN 'de' THEN 10
                  ELSE 5 END
)
SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id
FROM s GROUP BY lang ORDER BY lang
"""


def q_token_budget_docs(spark, sf):
    """Quality-ranked token-budget selection — the data-mixing primitive:
    best documents first (here an integer pseudo-quality with deliberate
    ties to exercise the id tie-break) until the running token total hits
    20k. The Spark plan's only unpartitioned window runs over distinct
    quality values (curation.token_budget_selection); the oracle states the
    same semantics as one global prefix sum."""
    from anomaly_detection_spark.functions import curation

    d = load(spark, sf, "documents").select(
        "doc_id", text.token_count("text").alias("n_tokens"),
        (F.col("n_chars") % 97).alias("q"),
    )
    sel = curation.token_budget_selection(d, 20_000, "n_tokens", "q", "doc_id")
    return sel.select("doc_id", "n_tokens", "q") \
        .orderBy(F.desc("q"), F.asc("doc_id"))


SQL_TOKEN_BUDGET_DOCS = f"""
WITH t AS (
  SELECT doc_id, len({{toks}}) AS n_tokens, n_chars % 97 AS q FROM documents
), c AS (
  SELECT doc_id, n_tokens, q,
         SUM(n_tokens) OVER (ORDER BY q DESC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, n_tokens, q FROM c WHERE cum <= 20000
ORDER BY q DESC, doc_id
"""
SQL_TOKEN_BUDGET_DOCS = SQL_TOKEN_BUDGET_DOCS.format(toks=_TOKS_SQL)


def q_domain_mixture(spark, sf):
    """Temperature-based (α=0.5) domain mixture weights over `source` under
    a 1M-token budget (curation.domain_mixture): the multilingual/
    multi-domain sampling scheme — weight ∝ √(domain tokens), upweighting
    low-resource domains. Integer-exact: √T is floor'd to an exact int in
    both engines, so every ratio is a single double divide of exact ints."""
    from anomaly_detection_spark.functions import curation

    d = load(spark, sf, "documents").select(
        "source", text.token_count("text").cast("long").alias("n_tokens")
    )
    return curation.domain_mixture(d, "source", "n_tokens", 1_000_000) \
        .orderBy("source")


SQL_DOMAIN_MIXTURE = f"""
WITH t AS (
  SELECT source, CAST(len({_TOKS_SQL}) AS BIGINT) AS n FROM documents
), per AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS domain_tokens
  FROM t GROUP BY 1
), q AS (
  SELECT *, CAST(FLOOR(SQRT(domain_tokens)) AS BIGINT) AS isq FROM per
), d AS (
  SELECT *, CAST(SUM(isq) OVER () AS BIGINT) AS den FROM q
)
SELECT source, n_docs, domain_tokens,
  CAST(FLOOR(CAST(1000000 AS DOUBLE) * isq / den + 0.5) AS BIGINT) AS weight_ppm,
  CAST(FLOOR(CAST(1000000 AS DOUBLE) * (CAST(isq AS DOUBLE) * CAST(1000000 AS DOUBLE)) / (CAST(den AS DOUBLE) * CAST(domain_tokens AS DOUBLE)) + 0.5) AS BIGINT)
    AS epochs_micro
FROM d ORDER BY source
"""


def q_corpus_shuffle_order(spark, sf):
    """Deterministic global training-order shuffle (curation.shuffle_rank):
    unique shuffle_pos in [0,n) following md5-hash order, computed as a
    two-phase distributed prefix sum over 256 hash buckets — the oracle
    states the same total order as ONE global row_number (valid only at
    oracle scale; the Spark plan has no global window)."""
    from anomaly_detection_spark.functions import curation

    return curation.shuffle_rank(load(spark, sf, "documents"), "doc_id") \
        .orderBy("doc_id")


SQL_CORPUS_SHUFFLE_ORDER = """
SELECT doc_id,
       ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
         AS shuffle_pos
FROM documents ORDER BY doc_id
"""


def q_interleaved_span_stats(spark, sf):
    """The north-rule input shape inside the oracle gate: documents →
    interleaved (doc_id, spans:array<struct<kind,text,media_ref,offset>>,
    partition) exactly as ``__spark_entry__.entry()`` builds it — with
    planted offset defects (every 13th doc negative, every 17th duplicate)
    — then per-partition span statistics computed ON the nested column
    (size / filter / transform / sort over array<struct>), so the gate
    checks Spark's nested-array ops against DuckDB list-of-struct lambdas
    value-for-value."""
    raw = load(spark, sf, "documents")
    second_off = (
        F.when(F.col("doc_id") % 13 == 0, F.lit(-1))
        .when(F.col("doc_id") % 17 == 0, F.lit(0))
        .otherwise(F.lit(1))
    )
    docs = raw.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.substring("text", 1, 40).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("image").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.lit("m"), (F.col("doc_id") % 64).cast("string"))
                .alias("media_ref"),
                second_off.alias("offset"),
            ),
        ).alias("spans"),
        F.col("source").alias("partition"),
    )
    spans = F.col("spans")
    offs = F.transform(spans, lambda s: s["offset"])
    valid = (
        (F.sort_array(offs) == offs)
        & (F.size(F.array_distinct(offs)) == F.size(offs))
        & F.forall(offs, lambda o: o >= 0)
    )
    return (
        docs.select(
            "partition",
            F.size(spans).alias("_n_spans"),
            F.size(F.filter(spans, lambda s: s["kind"] == "text"))
            .alias("_n_text"),
            F.size(F.filter(spans, lambda s: s["media_ref"].isNotNull()))
            .alias("_n_media"),
            (~valid).cast("int").alias("_invalid"),
        )
        .groupBy("partition")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n_spans").alias("total_spans"),
            F.sum("_n_text").alias("n_text_spans"),
            F.sum("_n_media").alias("n_media_spans"),
            F.sum("_invalid").alias("n_invalid_offset_docs"),
        )
        .orderBy("partition")
    )


SQL_INTERLEAVED_SPAN_STATS = """
WITH docs AS (
  SELECT doc_id, source AS partition,
         [struct_pack(kind := 'text', text := substr(text, 1, 40),
                      media_ref := CAST(NULL AS VARCHAR), "offset" := 0),
          struct_pack(kind := 'image', text := CAST(NULL AS VARCHAR),
                      media_ref := 'm' || CAST(doc_id % 64 AS VARCHAR),
                      "offset" := CASE WHEN doc_id % 13 = 0 THEN -1
                                       WHEN doc_id % 17 = 0 THEN 0
                                       ELSE 1 END)] AS spans
  FROM documents
), stats AS (
  SELECT partition,
         len(spans) AS n_spans,
         len(list_filter(spans, s -> s.kind = 'text')) AS n_text,
         len(list_filter(spans, s -> s.media_ref IS NOT NULL)) AS n_media,
         CASE WHEN list_sort(list_transform(spans, s -> s."offset"))
                   = list_transform(spans, s -> s."offset")
               AND len(list_distinct(list_transform(spans, s -> s."offset")))
                   = len(spans)
               AND len(list_filter(list_transform(spans, s -> s."offset"),
                                   o -> o < 0)) = 0
              THEN 0 ELSE 1 END AS invalid
  FROM docs
)
SELECT partition, COUNT(*) AS n_docs,
       CAST(SUM(n_spans) AS BIGINT) AS total_spans,
       CAST(SUM(n_text) AS BIGINT) AS n_text_spans,
       CAST(SUM(n_media) AS BIGINT) AS n_media_spans,
       CAST(SUM(invalid) AS BIGINT) AS n_invalid_offset_docs
FROM stats GROUP BY partition ORDER BY partition
"""


def q_span_kind_transitions(spark, sf):
    """Span-kind transition (bigram) counts over OFFSET-SORTED interleaved
    spans — the north-rule ordering invariant used as an analytic: spans are
    sorted by (offset, kind) entirely in-row (``array_sort`` on a repacked
    struct, no per-doc shuffle, no Python), then adjacent kind pairs are
    counted per partition.  Mirrors the reference's per-user event-sequence
    view (``timestamp_processor.py:27-45`` orders events before windowing)
    re-expressed on the ``spans`` nested column.  The 3-span build reuses
    ``q_interleaved_span_stats``'s planted-offset scheme so the image span
    moves position: doc_id%13 → offset -1 (image first), doc_id%17 → tie at
    0 broken by kind, else offset 1 (interleaved mid-document)."""
    raw = load(spark, sf, "documents")
    second_off = (
        F.when(F.col("doc_id") % 13 == 0, F.lit(-1))
        .when(F.col("doc_id") % 17 == 0, F.lit(0))
        .otherwise(F.lit(1))
    )
    docs = raw.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.substring("text", 1, 40).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("image").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.lit("m"), (F.col("doc_id") % 64).cast("string"))
                .alias("media_ref"),
                second_off.alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                F.substring("text", 41, 40).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(2).alias("offset"),
            ),
        ).alias("spans"),
        F.col("source").alias("partition"),
    )
    # Bind each intermediate array as a named column (Catalyst does not CSE
    # inside HOF lambdas); struct-field-order sort (o, k) is the same
    # lexicographic rule DuckDB's list_sort applies, so ties at equal offset
    # break identically cross-engine.
    kinds = docs.select(
        "partition",
        F.transform(
            F.array_sort(
                F.transform(
                    "spans",
                    lambda s: F.struct(
                        s["offset"].alias("o"), s["kind"].alias("k")
                    ),
                )
            ),
            lambda x: x["k"],
        ).alias("kinds"),
    )
    pairs = kinds.select(
        "partition",
        F.zip_with(
            F.slice("kinds", 1, F.size("kinds") - 1),
            F.slice("kinds", 2, F.size("kinds") - 1),
            lambda a, b: F.concat(a, F.lit(">"), b),
        ).alias("pairs"),
    )
    return (
        pairs.select("partition", F.explode("pairs").alias("transition"))
        .groupBy("partition", "transition")
        .agg(F.count("*").alias("n_transitions"))
        .orderBy("partition", "transition")
    )


SQL_SPAN_KIND_TRANSITIONS = """
WITH docs AS (
  SELECT doc_id, source AS partition,
         [struct_pack(kind := 'text', "offset" := 0),
          struct_pack(kind := 'image',
                      "offset" := CASE WHEN doc_id % 13 = 0 THEN -1
                                       WHEN doc_id % 17 = 0 THEN 0
                                       ELSE 1 END),
          struct_pack(kind := 'text', "offset" := 2)] AS spans
  FROM documents
), kinds AS (
  SELECT partition,
         list_transform(
           list_sort(list_transform(spans,
             s -> struct_pack(o := s."offset", k := s.kind))),
           x -> x.k) AS ks
  FROM docs
), pairs AS (
  SELECT partition,
         unnest(list_transform(generate_series(1, len(ks) - 1),
                               i -> ks[i] || '>' || ks[i + 1])) AS transition
  FROM kinds
)
SELECT partition, transition, COUNT(*) AS n_transitions
FROM pairs GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_org_rule_scores(spark, sf):
    """Organizational rule pack — the three §2.10 org-analyzer rules the
    registry didn't yet cover, fused into ONE pass (filter → single groupBy,
    skip predicate applied BEFORE the shuffle so only violating events move):

    * skip-level score (``org_analyzer.py:236-254``): reporting level from a
      closed-form binary reporting tree (parent(k)=floor(k/2), so
      level(k)=floor(log2(k)) is a threshold CASE — no BFS join needed at
      10^12 scale); upward skips of >2 levels score
      ``least(100, (diff-2)*30)``;
    * repeat-offender boost (``org_analyzer.py:400-427``): per-user
      multiplier ``min(1.5, 1 + (n-1)*0.1)`` in exact integer permille;
    * dept-sensitivity boost (``org_analyzer.py:429-458``): per-department
      multiplier map, capped at 100 — all in integer milli-points so the
      DuckDB oracle matches bit-for-bit (no float rounding anywhere).

    The synthetic recipient ``1 + (event_id*31 + 7) % 64`` stands in for
    the email `to` field (deterministic, SF-independent, and dense enough
    that skips occur even at the 15-user sf0.001 smoke table)."""
    e = load(spark, sf, "events")

    def lvl(c):
        # CASE chain top-down: floor(log2(k)), 0 for k in {0,1}
        expr = F.when(c >= 1024, 10)
        for level in range(9, 0, -1):
            expr = expr.when(c >= 2**level, level)
        return expr.otherwise(0)

    recip = F.lit(1) + (F.col("event_id") * 31 + 7) % 64
    skips = (
        e.select(
            "user_id",
            lvl(F.col("user_id")).alias("slvl"),
            lvl(recip).alias("rlvl"),
        )
        .filter(F.col("slvl") - F.col("rlvl") > 2)
        .select(
            "user_id",
            F.least(
                F.lit(100), (F.col("slvl") - F.col("rlvl") - 2) * 30
            ).alias("score"),
        )
    )
    agg = skips.groupBy("user_id").agg(
        F.count("*").alias("n_skip"),
        F.max("score").cast("long").alias("max_skip_score"),
    )
    boost_pm = F.least(
        F.lit(1500).cast("long"), 1000 + (F.col("n_skip") - 1) * 100
    )
    dept_pm = (
        F.when(F.col("user_id") % 5 == 0, 2000)  # finance
        .when(F.col("user_id") % 5 == 1, 1800)  # executive
        .when(F.col("user_id") % 5 == 2, 1500)  # hr
        .when(F.col("user_id") % 5 == 3, 1200)  # it
        .otherwise(1000)
        .cast("long")
    )
    return (
        agg.select(
            "user_id",
            "n_skip",
            "max_skip_score",
            boost_pm.alias("boost_pm"),
            dept_pm.alias("dept_pm"),
            F.least(
                F.lit(100000).cast("long"),
                (F.col("max_skip_score") * boost_pm * dept_pm) / F.lit(1000),
            )
            .cast("long")
            .alias("risk_milli"),
        )
        .orderBy("user_id")
    )


_LOG2_CASE = ("CASE WHEN {c} >= 1024 THEN 10 "
              + " ".join(f"WHEN {{c}} >= {2 ** i} THEN {i}"
                         for i in range(9, 0, -1))
              + " ELSE 0 END")

SQL_ORG_RULE_SCORES = f"""
WITH lv AS (
  SELECT user_id,
         {_LOG2_CASE.format(c='user_id')} AS slvl,
         {_LOG2_CASE.format(c='r')} AS rlvl
  FROM (SELECT user_id, 1 + (event_id * 31 + 7) % 64 AS r FROM events)
), skips AS (
  SELECT user_id, LEAST(100, (slvl - rlvl - 2) * 30) AS score
  FROM lv WHERE slvl - rlvl > 2
), agg AS (
  SELECT user_id, COUNT(*) AS n_skip,
         CAST(MAX(score) AS BIGINT) AS max_skip_score
  FROM skips GROUP BY 1
), mult AS (
  SELECT *,
    LEAST(CAST(1500 AS BIGINT), 1000 + (n_skip - 1) * 100) AS boost_pm,
    CAST(CASE WHEN user_id % 5 = 0 THEN 2000 WHEN user_id % 5 = 1 THEN 1800
              WHEN user_id % 5 = 2 THEN 1500 WHEN user_id % 5 = 3 THEN 1200
              ELSE 1000 END AS BIGINT) AS dept_pm
  FROM agg
)
SELECT user_id, n_skip, max_skip_score, boost_pm, dept_pm,
  CAST(LEAST(CAST(100000 AS BIGINT),
             CAST(FLOOR(CAST(max_skip_score * boost_pm * dept_pm AS DOUBLE)
                        / 1000) AS BIGINT)) AS BIGINT) AS risk_milli
FROM mult ORDER BY user_id
"""


_BIGRAMS_SQL = """CASE WHEN len(toks) >= 2 THEN
  list_transform(generate_series(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1])
  ELSE CAST([] AS VARCHAR[]) END"""


def _ppm_sql(num: str, den: str) -> str:
    """Integer parts-per-million, matching repetition._ppm: force the 1e6
    factor to DOUBLE (bare DuckDB decimals are DECIMAL and multiply exactly,
    diverging from Spark's double product at floor edges)."""
    return f"CAST(FLOOR(CAST(1000000 AS DOUBLE) * {num} / {den} + 0.5) AS BIGINT)"


def q_doc_repetition(spark, sf):
    """Gopher-style repetition stats per document (≥3 tokens): most-frequent
    token / 2-gram fractions and duplicated-3-gram fraction, as integer ppm.
    One tagged explode covers all three gram sizes in a single scan."""
    from anomaly_detection_spark.functions import repetition

    return repetition.repetition_stats(load(spark, sf, "documents")) \
        .orderBy("doc_id")


SQL_DOC_REPETITION = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
f AS (
  SELECT doc_id, toks, {_BIGRAMS_SQL} AS b2, {_SHINGLES_SQL} AS b3
  FROM t WHERE len(toks) >= 3
), ex AS (
  SELECT doc_id, 1 AS n, unnest(toks) AS g FROM f
  UNION ALL SELECT doc_id, 2 AS n, unnest(b2) AS g FROM f
  UNION ALL SELECT doc_id, 3 AS n, unnest(b3) AS g FROM f
), cnt AS (
  SELECT doc_id, n, g, COUNT(*) AS c FROM ex GROUP BY 1, 2, 3
), per AS (
  SELECT doc_id, n, MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS tot,
         COUNT(*) AS dst
  FROM cnt GROUP BY 1, 2
)
SELECT doc_id,
  MAX(CASE WHEN n = 1 THEN tot END) AS n_tokens,
  MAX(CASE WHEN n = 1 THEN {_ppm_sql('mx', 'tot')} END) AS top_token_ppm,
  MAX(CASE WHEN n = 2 THEN {_ppm_sql('mx', 'tot')} END) AS top_bigram_ppm,
  MAX(CASE WHEN n = 3 THEN {_ppm_sql('(tot - dst)', 'tot')} END) AS dup_trigram_ppm
FROM per GROUP BY doc_id ORDER BY doc_id
"""


def q_benchmark_contamination(spark, sf):
    """Benchmark-decontamination scan: 3% of documents (stable md5 hash
    buckets ≥ 97) act as the held-out benchmark; every remaining corpus doc
    sharing a distinct 3-gram with the benchmark is reported with its
    overlap fraction. The benchmark shingle set is broadcast — the corpus
    side never shuffles on shingle."""
    from anomaly_detection_spark.functions import curation, repetition

    d = load(spark, sf, "documents")
    b = curation.hash_bucket("doc_id", 100)
    return repetition.contamination_overlap(
        d.filter(b < 97), d.filter(b >= 97)
    ).orderBy("doc_id")


SQL_BENCHMARK_CONTAMINATION = f"""
WITH t AS (
  SELECT doc_id, {_SQL_HASH_BUCKET} AS bkt, {_TOKS_SQL} AS toks FROM documents
), s AS (
  SELECT doc_id, bkt, list_distinct({_SHINGLES_SQL}) AS sh FROM t
), ex AS (
  SELECT doc_id, unnest(sh) AS g FROM s WHERE bkt < 97
), ev AS (
  SELECT DISTINCT g FROM (SELECT unnest(sh) AS g FROM s WHERE bkt >= 97)
), tot AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM ex GROUP BY 1
), hit AS (
  SELECT ex.doc_id, COUNT(*) AS n_contaminated
  FROM ex JOIN ev USING (g) GROUP BY 1
)
SELECT doc_id, n_shingles, n_contaminated,
       {_ppm_sql('n_contaminated', 'n_shingles')} AS contamination_ppm
FROM tot JOIN hit USING (doc_id) ORDER BY doc_id
"""


def q_asof_signup_join(spark, sf):
    """As-of join (J6 family): each purchase event picks up the user's
    latest signup at-or-before it — built as ONE shuffle (union-tag +
    last-ignorenulls window, timeseries.asof_join), never an inequality
    join. The DuckDB oracle uses its native ASOF JOIN — a genuinely
    independent algorithm for the same semantics."""
    from anomaly_detection_spark.functions import timeseries

    e = load(spark, sf, "events")
    refs = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("signup_value"))
    )
    left = e.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "event_id", "value")
    j = timeseries.asof_join(left, refs, "user_id", "ts", ["event_id", "value"])
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    ref_us = F.unix_micros(F.col("ref_ts").cast("timestamp"))
    return j.filter(F.col("ref_ts").isNotNull()).select(
        "event_id", "user_id",
        ts_us.alias("ts_us"),
        ref_us.alias("signup_ts_us"),
        (ts_us - ref_us).alias("us_since_signup"),
        _cents(F.col("ref_signup_value")).alias("signup_value_cents"),
        _cents(F.col("value")).alias("purchase_cents"),
    ).orderBy("event_id")


SQL_ASOF_SIGNUP_JOIN = """
WITH refs AS (
  SELECT user_id, ts, MAX(value) AS signup_value
  FROM events WHERE event_type = 'signup' GROUP BY 1, 2
), p AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS ts_us,
       epoch_us(r.ts) AS signup_ts_us,
       epoch_us(p.ts) - epoch_us(r.ts) AS us_since_signup,
       CAST(ROUND(r.signup_value * 100) AS BIGINT) AS signup_value_cents,
       CAST(ROUND(p.value * 100) AS BIGINT) AS purchase_cents
FROM p ASOF JOIN refs r ON p.user_id = r.user_id AND p.ts >= r.ts
ORDER BY event_id
"""


def q_sequence_packing(spark, sf):
    """Sequence packing (concat-and-chunk into 512-token LM sequences) via
    the two-phase distributed prefix sum in curation.pack_sequences — the
    oracle states the same thing as one global running sum. bucket_width=64
    forces multiple buckets even at sf0.001, so the gate exercises the
    bucket-offset recombination, not just the within-bucket window."""
    from anomaly_detection_spark.functions import curation

    d = load(spark, sf, "documents").select(
        "doc_id", text.token_count("text").cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    return curation.pack_sequences(
        d, "n_tokens", "doc_id", seq_len=512, bucket_width=64
    ).orderBy("doc_id")


SQL_SEQUENCE_PACKING = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents
), f AS (
  SELECT * FROM t WHERE n_tokens > 0
), c AS (
  SELECT doc_id, n_tokens,
         COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                  0) AS cum_before
  FROM f
)
SELECT doc_id, n_tokens,
       cum_before // 512 AS seq_start,
       cum_before % 512 AS offset_in_seq,
       ((cum_before + n_tokens - 1) // 512) - (cum_before // 512) + 1
         AS n_seqs_spanned
FROM c ORDER BY doc_id
"""


def _inject_pii(did: F.Column, text_col: F.Column) -> F.Column:
    """Deterministically plant PII into a known subset of documents (the
    corpus is synthetic word-salad with no real PII, so the scan would be
    vacuous otherwise). Same CASE/concat expression as the oracle SQL —
    the regex engines, not the planting, are what's under test."""
    s = F.lit("")
    email = F.when(did % 7 == 0, F.concat(
        F.lit(" contact user"), did.cast("string"), F.lit("@example.com"))).otherwise(s)
    ip = F.when(did % 11 == 0, F.concat(
        F.lit(" from "), (did % 256).cast("string"), F.lit("."),
        ((did * 7) % 256).cast("string"), F.lit("."),
        ((did * 13) % 256).cast("string"), F.lit("."),
        ((did * 29) % 256).cast("string"))).otherwise(s)
    phone = F.when(did % 13 == 0, F.concat(
        F.lit(" call "), F.lpad((did % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad(((did * 3) % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(s)
    ssn = F.when(did % 17 == 0, F.concat(
        F.lit(" ssn "), F.lpad((did % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((did % 100).cast("string"), 2, "0"), F.lit("-"),
        F.lpad(((did * 7) % 10000).cast("string"), 4, "0"))).otherwise(s)
    card = F.when(did % 19 == 0, F.concat(
        F.lit(" card 4111-1111-1111-"),
        F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(s)
    return F.concat(text_col, email, ip, phone, ssn, card)


def q_pii_scan(spark, sf):
    """PII screen + redaction over the corpus (functions/pii.py): per-doc
    match counts for email / IPv4 / phone / SSN / card patterns and the
    post-redaction length. Patterns are Java-regex/RE2-identical, so the
    DuckDB oracle runs the LITERAL same regexes. All JVM-side codegen —
    the 100 TB shape is a pure per-row scan, no shuffle."""
    from anomaly_detection_spark.functions import pii

    d = load(spark, sf, "documents")
    aug = _inject_pii(F.col("doc_id"), F.col("text"))
    red = pii.redact(aug)
    return d.select(
        "doc_id",
        *[F.regexp_count(aug, F.lit(p)).cast("long").alias(f"n_{k}")
          for k, p in pii.PII_PATTERNS.items()],
        F.length(aug).cast("long").alias("orig_len"),
        F.length(red).cast("long").alias("redacted_len"),
        F.md5(red).alias("redacted_md5"),
    ).orderBy("doc_id")


_PII_INJECT_SQL = """
  text
  || CASE WHEN doc_id % 7 = 0
       THEN ' contact user' || doc_id || '@example.com' ELSE '' END
  || CASE WHEN doc_id % 11 = 0
       THEN ' from ' || (doc_id % 256) || '.' || ((doc_id*7) % 256) || '.'
            || ((doc_id*13) % 256) || '.' || ((doc_id*29) % 256) ELSE '' END
  || CASE WHEN doc_id % 13 = 0
       THEN ' call ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
            || lpad(CAST((doc_id*3) % 1000 AS VARCHAR), 3, '0') || '-'
            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
  || CASE WHEN doc_id % 17 = 0
       THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
            || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
            || lpad(CAST((doc_id*7) % 10000 AS VARCHAR), 4, '0') ELSE '' END
  || CASE WHEN doc_id % 19 = 0
       THEN ' card 4111-1111-1111-'
            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
"""

_PII_RE = {
    "card": r"\b\d{4}(-\d{4}){3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": r"\b(\d{1,3}\.){3}\d{1,3}\b",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
}

_PII_REDACT_SQL = "aug"
for _k in _PII_RE:
    _PII_REDACT_SQL = (
        f"regexp_replace({_PII_REDACT_SQL}, '{_PII_RE[_k]}', "
        f"'[{_k.upper()}]', 'g')"
    )

SQL_PII_SCAN = f"""
WITH a AS (
  SELECT doc_id, {_PII_INJECT_SQL} AS aug FROM documents
), r AS (
  SELECT doc_id, aug, {_PII_REDACT_SQL} AS red FROM a
)
SELECT doc_id,
       {', '.join(f"CAST(len(regexp_extract_all(aug, '{p}')) AS BIGINT) AS n_{k}" for k, p in _PII_RE.items())},
       CAST(len(aug) AS BIGINT) AS orig_len,
       CAST(len(red) AS BIGINT) AS redacted_len,
       md5(red) AS redacted_md5
FROM r ORDER BY doc_id
"""


def q_doc_chunks(spark, sf):
    """Context-window chunking (curation.chunk_token_windows): document →
    sliding 64-token windows with 16-token overlap; emits per-chunk token
    count + md5. Narrow posexplode stage, no shuffle — linear at 100 TB.
    The oracle states the same integer chunk-count formula with
    generate-series + list_slice."""
    from anomaly_detection_spark.functions import curation

    d = load(spark, sf, "documents")
    ch = curation.chunk_token_windows(d, "text", "doc_id",
                                      chunk_tokens=64, overlap=16)
    return ch.select(
        "doc_id", "chunk_id", "doc_tokens", "chunk_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


SQL_DOC_CHUNKS = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), n AS (
  SELECT doc_id, toks, len(toks) AS nt FROM t WHERE len(toks) > 0
), c AS (
  SELECT doc_id, toks, nt,
         CASE WHEN nt <= 64 THEN 1
              ELSE 1 + (nt - 64 + 47) // 48 END AS nc
  FROM n
), e AS (
  SELECT doc_id, toks, nt, unnest(range(0, nc)) AS chunk_id FROM c
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(nt AS BIGINT) AS doc_tokens,
       CAST(len(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64)) AS BIGINT)
         AS chunk_tokens,
       md5(array_to_string(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64), ' '))
         AS chunk_md5
FROM e ORDER BY doc_id, chunk_id
"""


def q_zorder_codes(spark, sf):
    """Z-order (Morton) interleaved sort key (curation.morton_code): two
    bounded integer dimensions (length bucket × token bucket) woven into one
    BIGINT so a range-partitioned layout prunes on EITHER dimension. The
    unrolled shift/mask expression is pure codegen; the oracle states the
    identical bit arithmetic."""
    from anomaly_detection_spark.functions import curation

    d = load(spark, sf, "documents")
    a = F.pmod(F.col("n_chars"), F.lit(256))
    b = F.pmod(text.token_count("text"), F.lit(256))
    return d.select(
        "doc_id",
        a.cast("long").alias("dim_a"),
        b.cast("long").alias("dim_b"),
        curation.morton_code(a, b, bits=8).alias("zcode"),
    ).orderBy("doc_id")


def _morton_sql(a: str, b: str, bits: int) -> str:
    parts = []
    for i in range(bits):
        parts.append(f"((({a} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(parts)


SQL_ZORDER_CODES = f"""
WITH t AS (
  SELECT doc_id,
         n_chars % 256 AS dim_a,
         CAST(len({_TOKS_SQL}) AS BIGINT) % 256 AS dim_b
  FROM documents
)
SELECT doc_id, CAST(dim_a AS BIGINT) AS dim_a, CAST(dim_b AS BIGINT) AS dim_b,
       CAST({_morton_sql('dim_a', 'dim_b', 8)} AS BIGINT) AS zcode
FROM t ORDER BY doc_id
"""


def q_token_familiarity(spark, sf):
    """Corpus-familiarity quality score: mean corpus-frequency share of a
    document's tokens — the unigram-LM quality signal (rare-token-heavy docs
    score low) computed with EXACT integer sums: familiarity_ppm =
    floor(1e6 · Σ cnt(tok) / (n_doc_tokens · total_tokens)), one double
    divide at the end, no log-of-double accumulation whose order differs
    per engine.

    Plan: explode → one map-side-combined token-count agg → shuffle join of
    tokens to frequencies on the token key (vocab-sized build side) → per-doc
    agg. Three shuffles, each on a key that exists; no broadcast of the
    vocabulary needed, so it scales to open-vocab corpora."""
    d = load(spark, sf, "documents")
    toks = d.select(
        "doc_id", F.explode(text.tokens(F.lower(F.col("text")))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("_cnt"))
    # total from the vocab-sized freq frame, NOT another full tokenize+
    # explode scan of the corpus (Σ cnt over the vocabulary is the same
    # number, computed from rows that already exist)
    total = freq.agg(F.sum("_cnt").alias("_total"))
    per_doc = (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("tok").alias("distinct_tokens"),
            F.sum("_cnt").alias("_s"),
        )
    )
    fam = F.floor(
        F.lit(1_000_000.0) * F.col("_s")
        / (F.col("n_tokens").cast("double") * F.col("_total").cast("double"))
    ).cast("long")
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id", "n_tokens", "distinct_tokens",
        fam.alias("familiarity_ppm"),
    ).orderBy("doc_id")


_TOKS_LOWER_SQL = (
    "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')"
)

SQL_TOKEN_FAMILIARITY = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_LOWER_SQL}) AS tok FROM documents
), freq AS (
  SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1
), total AS (
  SELECT COUNT(*) AS total FROM tok
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT t.tok) AS BIGINT) AS distinct_tokens,
       CAST(FLOOR(CAST(1000000 AS DOUBLE) * CAST(SUM(f.cnt) AS DOUBLE)
            / (CAST(COUNT(*) AS DOUBLE) * CAST(MAX(total.total) AS DOUBLE)))
         AS BIGINT) AS familiarity_ppm
FROM tok t JOIN freq f USING (tok) CROSS JOIN total
GROUP BY t.doc_id ORDER BY t.doc_id
"""


def q_key_skew_report(spark, sf):
    """Heavy-hitter skew diagnostic (profiler.key_skew) on the events
    user_id key — the pre-flight measurement behind the north_rule's
    "salted aggregation for skewed span kinds" decision: exact integer ppm
    share per hot key + key-space size. Top-k via TakeOrderedAndProject
    (never a global sort); the only window runs over the k limited rows."""
    from anomaly_detection_spark import profiler

    e = load(spark, sf, "events")
    return profiler.key_skew(e, "user_id", top_k=5).select(
        F.col("key").cast("long").alias("user_id"),
        "cnt", "share_ppm", "n_keys", "rank",
    ).orderBy("rank")


SQL_KEY_SKEW_REPORT = """
WITH c AS (
  SELECT user_id AS key, COUNT(*) AS cnt FROM events GROUP BY 1
), t AS (
  SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM c
), top AS (
  SELECT key, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC) AS rank
  FROM c ORDER BY cnt DESC, key ASC LIMIT 5
)
SELECT CAST(key AS BIGINT) AS user_id,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
       CAST(n_keys AS BIGINT) AS n_keys,
       CAST(rank AS BIGINT) AS rank
FROM top CROSS JOIN t ORDER BY rank
"""


def q_rule_suggestions(spark, sf):
    """Constraint suggestion (profiler.suggest_rules — the Deequ
    ConstraintSuggestionRunner surface): profile documents once, emit the
    rule each column's evidence supports. lang is NULLIF'd on 'zh' so both
    completeness branches (not_null vs min_completeness_ppm) and the isin
    low-cardinality path are exercised at every SF. The oracle restates
    every decision rule as independent SQL aggregates."""
    from anomaly_detection_spark import profiler

    d = load(spark, sf, "documents").select(
        "doc_id", "text",
        F.nullif(F.col("lang"), F.lit("zh")).alias("lang"),
        "source", "n_chars",
    )
    return profiler.suggest_rules(
        d, ["doc_id", "text", "lang", "source", "n_chars"], isin_max=8
    ).orderBy("column", "rule")


def _suggest_sql(cols: list[tuple[str, bool]], isin_max: int) -> str:
    """Oracle twin of profiler.suggest_rules over the NULLIF'd documents
    view: one stats CTE, one UNION ALL branch per (column, rule)."""
    from anomaly_detection_spark.profiler import (
        FORMAT_PATTERNS as _sugg_formats)

    stats = ["COUNT(*) AS rows"]
    for c, integral in cols:
        stats.append(f"COUNT({c}) AS nn_{c}")
        stats.append(f"COUNT(DISTINCT {c}) AS d_{c}")
        if integral:
            stats.append(f"CAST(MIN({c}) AS BIGINT) AS mn_{c}")
            stats.append(f"CAST(MAX({c}) AS BIGINT) AS mx_{c}")
        else:
            for pname, rx in _sugg_formats:
                stats.append(
                    f"SUM(CASE WHEN regexp_matches({c}, '{rx}') "
                    f"THEN 1 ELSE 0 END) AS fmt_{pname}_{c}")
    branches = []
    for c, integral in cols:
        branches.append(
            f"SELECT '{c}' AS \"column\", 'not_null' AS rule, '' AS param "
            f"FROM s WHERE rows > 0 AND rows - nn_{c} = 0"
        )
        branches.append(
            f"SELECT '{c}', 'min_completeness_ppm', "
            f"CAST(nn_{c} * 1000000 // rows AS VARCHAR) "
            f"FROM s WHERE rows > 0 AND rows - nn_{c} > 0"
        )
        branches.append(
            f"SELECT '{c}', 'unique', '' FROM s "
            f"WHERE nn_{c} > 0 AND d_{c} = nn_{c}"
        )
        if integral:
            branches.append(
                f"SELECT '{c}', 'in_range', "
                f"'[' || CAST(mn_{c} AS VARCHAR) || ',' || "
                f"CAST(mx_{c} AS VARCHAR) || ']' FROM s WHERE nn_{c} > 0"
            )
        branches.append(
            f"SELECT '{c}', 'isin', "
            f"(SELECT array_to_string(list_sort(list(DISTINCT {c})), '|') "
            f"FROM d WHERE {c} IS NOT NULL) "
            f"FROM s WHERE d_{c} > 0 AND d_{c} <= {isin_max}"
        )
        if not integral:
            # format contract: FIRST fully-covering pattern wins, and only
            # when isin did not already pin the exact value set
            not_isin = f"NOT (d_{c} > 0 AND d_{c} <= {isin_max})"
            for i, (pname, rx) in enumerate(_sugg_formats):
                higher = " AND ".join(
                    f"fmt_{_sugg_formats[j][0]}_{c} <> nn_{c}"
                    for j in range(i))
                cond = f"nn_{c} > 0 AND {not_isin} AND fmt_{pname}_{c} = nn_{c}"
                if higher:
                    cond += f" AND {higher}"
                # DuckDB single-quoted literals keep backslashes as-is,
                # matching the raw pattern string Spark emits as param
                branches.append(
                    f"SELECT '{c}', 'matches_regex', '{rx}' FROM s "
                    f"WHERE {cond}")
    return (
        "WITH d AS (SELECT doc_id, text, NULLIF(lang, 'zh') AS lang, "
        "source, n_chars FROM documents),\n"
        "s AS (SELECT " + ", ".join(stats) + " FROM d)\n"
        + "\nUNION ALL\n".join(branches)
        + '\nORDER BY "column", rule'
    )


SQL_RULE_SUGGESTIONS = _suggest_sql(
    [("doc_id", True), ("text", False), ("lang", False),
     ("source", False), ("n_chars", True)],
    isin_max=8,
)


def _interleaved_media_docs(raw, keep=()):
    """Interleaved docs where media density varies: every doc carries a
    text span + one image span (asset = doc_id % 64); every 3rd doc embeds
    a SECOND image span pointing at the hotter doc_id % 17 asset space —
    so assets have genuinely different reference counts. ``keep`` carries
    extra flat columns through (no join-back needed)."""
    text_span = F.struct(
        F.lit("text").alias("kind"),
        F.substring("text", 1, 200).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )

    def img(ref: F.Column, off: int) -> F.Column:
        return F.struct(
            F.lit("image").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            ref.alias("media_ref"),
            F.lit(off).alias("offset"),
        )

    ref64 = F.concat(F.lit("m"), (F.col("doc_id") % 64).cast("string"))
    ref17 = F.concat(F.lit("m"), (F.col("doc_id") % 17).cast("string"))
    spans = F.when(
        F.col("doc_id") % 3 == 0,
        F.array(text_span, img(ref64, 1), img(ref17, 2)),
    ).otherwise(F.array(text_span, img(ref64, 1)))
    return raw.select("doc_id", spans.alias("spans"), *keep)


def q_media_asset_stats(spark, sf):
    """Asset-level dedup over interleaved documents: the same image asset
    is referenced from many docs, so media dedup happens at the media_ref
    key, not the document key. Explodes ONLY the spans.media_ref field,
    then one map-side-combined agg per asset: reference count, distinct
    referencing docs, first referencing doc. On a STORED interleaved table
    that field access prunes the nested parquet schema (the scan never
    decodes span text — pinned in tests/test_plans.py::
    test_media_ref_explode_prunes_nested_schema); in this gate the spans
    are synthesized from the flat fixture, so the scan necessarily reads
    the source text column. The oracle restates the reference arithmetic
    independently (no struct-pack detour)."""
    docs = _interleaved_media_docs(load(spark, sf, "documents"))
    refs = docs.select(
        "doc_id", F.explode(F.col("spans.media_ref")).alias("media_ref")
    ).filter(F.col("media_ref").isNotNull())
    return (
        refs.groupBy("media_ref")
        .agg(
            F.count(F.lit(1)).alias("n_refs"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("media_ref")
    )


SQL_MEDIA_ASSET_STATS = """
WITH docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN ['m' || CAST(doc_id % 64 AS VARCHAR),
                    'm' || CAST(doc_id % 17 AS VARCHAR)]
              ELSE ['m' || CAST(doc_id % 64 AS VARCHAR)] END AS refs
  FROM documents
), r AS (
  SELECT doc_id, unnest(refs) AS media_ref FROM docs
)
SELECT media_ref,
       CAST(COUNT(*) AS BIGINT) AS n_refs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM r GROUP BY media_ref ORDER BY media_ref
"""


def q_interleaved_packing(spark, sf):
    """Sequence packing with an interleaved-media token-cost model: a
    document costs its text-span tokens PLUS 64 tokens per media span (the
    fixed patch-token budget a vision encoder charges per image) — then
    the docs pack end-to-end into 512-token training sequences via the
    SAME two-phase distributed prefix sum as sequence_packing (no global
    unpartitioned window). Cost is computed FROM the nested spans column
    (filter/transform on array<struct>), so the gate checks the interleaved
    cost model itself, not a flat shortcut."""
    from anomaly_detection_spark.functions import curation

    docs = _interleaved_media_docs(load(spark, sf, "documents"))
    spans = F.col("spans")
    text_concat = F.array_join(
        F.transform(
            F.filter(spans, lambda s: s["kind"] == "text"),
            lambda s: F.coalesce(s["text"], F.lit("")),
        ),
        " ",
    )
    n_media = F.size(F.filter(spans, lambda s: s["media_ref"].isNotNull()))
    cost = (
        text.token_count(text_concat).cast("long")
        + F.lit(64) * n_media.cast("long")
    )
    d = docs.select("doc_id", cost.alias("cost_tokens")).filter(
        F.col("cost_tokens") > 0
    )
    return curation.pack_sequences(
        d, "cost_tokens", "doc_id", seq_len=512, bucket_width=64
    ).orderBy("doc_id")


SQL_INTERLEAVED_PACKING = """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(
             regexp_split_to_array(trim(substr(text, 1, 200)), '\\s+'),
             x -> x <> '')) AS BIGINT)
         + 64 * (CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END)
           AS cost_tokens
  FROM documents
), f AS (
  SELECT * FROM t WHERE cost_tokens > 0
), c AS (
  SELECT doc_id, cost_tokens,
         COALESCE(CAST(SUM(cost_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                  0) AS cum_before
  FROM f
)
SELECT doc_id, cost_tokens,
       cum_before // 512 AS seq_start,
       cum_before % 512 AS offset_in_seq,
       ((cum_before + cost_tokens - 1) // 512) - (cum_before // 512) + 1
         AS n_seqs_spanned
FROM c ORDER BY doc_id
"""


def q_boilerplate_phrases(spark, sf):
    """Cross-document boilerplate detection (repetition.boilerplate_phrases):
    top-20 word 3-grams by DISTINCT-document frequency — per-doc distinct
    shingles, one map-side-combined count per shingle,
    TakeOrderedAndProject (no global sort, no vocabulary broadcast)."""
    from anomaly_detection_spark.functions import repetition

    d = load(spark, sf, "documents")
    return repetition.boilerplate_phrases(d, n=3, top_k=20) \
        .orderBy(F.desc("df_docs"), F.asc("phrase"))


SQL_BOILERPLATE_PHRASES = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), s AS (
  SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM t
), ex AS (
  SELECT unnest(sh) AS g FROM s
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), c AS (
  SELECT g, COUNT(*) AS df_docs FROM ex GROUP BY 1
), top AS (
  SELECT g, df_docs FROM c ORDER BY df_docs DESC, g ASC LIMIT 20
)
SELECT g AS phrase, CAST(df_docs AS BIGINT) AS df_docs,
       {_ppm_sql('df_docs', 'n_docs')} AS df_ppm
FROM top CROSS JOIN nd ORDER BY df_docs DESC, phrase ASC
"""


def q_boilerplate_ratio(spark, sf):
    """Per-document boilerplate share (repetition.boilerplate_ratio) against
    the detected top-20 phrase set: the set is BOUNDED and broadcast, so the
    corpus never shuffles on the power-law shingle key — same discipline as
    the contamination scan."""
    from anomaly_detection_spark.functions import repetition

    d = load(spark, sf, "documents")
    phrases = repetition.boilerplate_phrases(d, n=3, top_k=20)
    return repetition.boilerplate_ratio(d, phrases, n=3).orderBy("doc_id")


SQL_BOILERPLATE_RATIO = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), s AS (
  SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM t
), ex AS (
  SELECT doc_id, unnest(sh) AS g FROM s
), c AS (
  SELECT g, COUNT(*) AS df_docs FROM ex GROUP BY 1
), top AS (
  SELECT g FROM c ORDER BY df_docs DESC, g ASC LIMIT 20
), tot AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM ex GROUP BY 1
), hit AS (
  SELECT ex.doc_id, COUNT(*) AS n_boiler FROM ex JOIN top USING (g)
  GROUP BY 1
)
SELECT tot.doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler,
       {_ppm_sql('COALESCE(n_boiler, 0)', 'n_shingles')} AS boiler_ppm
FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
ORDER BY tot.doc_id
"""


def q_media_caption_check(spark, sf):
    """Interleaved caption-adjacency rule (rules/builtin.
    media_caption_adjacent) over synthesized spans with TWO planted defect
    classes: every 7th doc puts the image BEFORE the text (offset order
    violated), every 13th doc blanks the caption text. Per-doc boolean via
    in-row array_sort + positional exists — the gate checks Spark's nested
    ordering semantics against DuckDB's struct list_sort."""
    from anomaly_detection_spark.rules import builtin

    raw = load(spark, sf, "documents")
    text_off = F.when(F.col("doc_id") % 7 == 0, F.lit(1)).otherwise(F.lit(0))
    img_off = F.when(F.col("doc_id") % 7 == 0, F.lit(0)).otherwise(F.lit(1))
    cap = F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("string")) \
        .otherwise(F.substring("text", 1, 40))
    docs = raw.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"), cap.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                text_off.alias("offset"),
            ),
            F.struct(
                F.lit("image").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.lit("m"), (F.col("doc_id") % 64).cast("string"))
                .alias("media_ref"),
                img_off.alias("offset"),
            ),
        ).alias("spans"),
    )
    rule = builtin.media_caption_adjacent()
    return docs.select(
        "doc_id", rule.violation.alias("caption_violation")
    ).orderBy("doc_id")


def q_media_run_check(spark, sf):
    """Interleaved "image wall" rule (rules/builtin.media_run_cap): at most
    2 consecutive media spans in OFFSET order. Every 5th doc plants a
    3-image run; every 11th doc stores the same three images but with a
    text span offset-interleaved INTO the run (stored order scrambled), so
    the gate proves the sort-by-offset decides adjacency, not storage
    order. In-row positional window test, rides the fused scan."""
    from anomaly_detection_spark.rules import builtin

    raw = load(spark, sf, "documents")

    def img(off):
        return F.struct(
            F.lit("image").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(F.lit("m"), (F.col("doc_id") % 64).cast("string"))
            .alias("media_ref"),
            F.lit(off).alias("offset"),
        )

    def txt(off):
        return F.struct(
            F.lit("text").alias("kind"),
            F.substring("text", 1, 40).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(off).alias("offset"),
        )

    spans = (
        # 11 divides before 5 is tested so doc_id % 55 exercises both paths
        F.when(F.col("doc_id") % 11 == 0,
               F.array(img(1), img(2), txt(0), img(4), txt(3)))  # broken run
        .when(F.col("doc_id") % 5 == 0,
              F.array(txt(0), img(1), img(2), img(3)))            # 3-run: BAD
        .otherwise(F.array(txt(0), img(1), txt(2), img(3)))
    )
    docs = raw.select("doc_id", spans.alias("spans"))
    rule = builtin.media_run_cap(max_run=2)
    return docs.select(
        "doc_id", rule.violation.alias("run_violation")
    ).orderBy("doc_id")


SQL_MEDIA_RUN_CHECK = """
SELECT doc_id,
       (doc_id % 11 <> 0 AND doc_id % 5 = 0) AS run_violation
FROM documents ORDER BY doc_id
"""


def q_incremental_dedup(spark, sf):
    """Incremental snapshot dedup (dedup.incremental_exact_dups): validate
    ONE appended commit against the existing corpus without shuffling the
    corpus — new-side fingerprints broadcast, corpus probed map-side. The
    appended slice is synthesized from the fixture: every src19 doc is
    re-keyed +1,000,000; those with doc_id % 2 = 1 keep their text
    verbatim (exact dups of the corpus), the rest get a suffix (novel).
    Only the exact dups must surface, each pointing at its corpus
    canonical."""
    from anomaly_detection_spark.functions import dedup as dd

    raw = load(spark, sf, "documents")
    appended = raw.filter(F.col("source") == "src19").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 1, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" <novel>"))).alias("text"),
    )
    # the "previous snapshot" already contains the src19 originals (the
    # appended slice re-keys modified copies of them) — i.e. the whole
    # fixture table, stated directly like the oracle's prev CTE
    prev = raw.select("doc_id", "text")
    return dd.incremental_exact_dups(prev, appended).orderBy("new_id")


SQL_INCREMENTAL_DEDUP = """
WITH prev AS (
  SELECT doc_id, text FROM documents
), app AS (
  SELECT doc_id + 1000000 AS new_id,
         CASE WHEN doc_id % 2 = 1 THEN text ELSE text || ' <novel>' END AS text
  FROM documents WHERE source = 'src19'
), fp AS (
  SELECT new_id, md5(text) AS text_hash FROM app
), m AS (
  SELECT md5(text) AS text_hash,
         CAST(COUNT(*) AS BIGINT) AS n_corpus_matches,
         CAST(MIN(doc_id) AS BIGINT) AS corpus_canonical_id
  FROM prev
  WHERE md5(text) IN (SELECT text_hash FROM fp)
  GROUP BY 1
)
SELECT new_id, fp.text_hash, n_corpus_matches, corpus_canonical_id
FROM fp JOIN m ON fp.text_hash = m.text_hash
ORDER BY new_id
"""


def q_modality_mix(spark, sf):
    """Per-source modality token budget over interleaved docs: text tokens
    from the text spans, 64 patch tokens per image span, media share in
    integer ppm, plus the count of media-heavy docs (media share > 50%).
    ONE narrow per-doc projection on the nested spans column + one
    map-side-combined groupBy(source) — the corpus-mixture dashboard a
    multimodal data pipeline tracks per crawl source."""
    raw = load(spark, sf, "documents")
    docs = _interleaved_media_docs(raw, keep=("source",))
    spans = F.col("spans")
    text_concat = F.array_join(
        F.transform(
            F.filter(spans, lambda s: s["kind"] == "text"),
            lambda s: F.coalesce(s["text"], F.lit("")),
        ),
        " ",
    )
    text_toks = text.token_count(text_concat).cast("long")
    media_toks = (
        F.lit(64)
        * F.size(F.filter(spans, lambda s: s["media_ref"].isNotNull()))
    ).cast("long")
    per_doc = docs.select(
        "source",
        text_toks.alias("_tt"),
        media_toks.alias("_mt"),
        (media_toks * 2 > text_toks + media_toks).alias("_heavy"),
    )
    tot_t, tot_m = F.sum("_tt"), F.sum("_mt")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            tot_t.alias("text_tokens"),
            tot_m.alias("media_tokens"),
            F.floor(
                F.lit(1000000.0) * tot_m / (tot_t + tot_m) + F.lit(0.5)
            ).cast("long").alias("media_share_ppm"),
            F.sum(F.col("_heavy").cast("long")).alias("n_media_heavy"),
        )
        .orderBy("source")
    )


SQL_MODALITY_MIX = f"""
WITH t AS (
  SELECT source,
         -- COALESCE matches Spark's NULL-text handling (array_join skips
         -- NULL span text -> 0 tokens, doc still counted)
         CAST(COALESCE(len(list_filter(
             regexp_split_to_array(trim(substr(text, 1, 200)), '\\s+'),
             x -> x <> '')), 0) AS BIGINT) AS tt,
         CAST(64 * (CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END) AS BIGINT) AS mt
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tt) AS BIGINT) AS text_tokens,
       CAST(SUM(mt) AS BIGINT) AS media_tokens,
       {_ppm_sql('SUM(mt)', '(SUM(tt) + SUM(mt))')} AS media_share_ppm,
       CAST(SUM(CASE WHEN 2 * mt > tt + mt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_media_heavy
FROM t GROUP BY source ORDER BY source
"""


def q_merged_profile(spark, sf):
    """Mergeable incremental profiling (profiler.mergeable_profile /
    merge_profiles): the corpus is split into two "snapshot commits"
    (doc_id parity), each commit profiled INDEPENDENTLY into exact-integer
    power sums, then the two metadata-sized profiles merged — and the gate
    checks the merge against DuckDB profiling the WHOLE table directly.
    Equality here is the property that makes appends-only incremental
    profiling sound: each commit scans only its own files, the
    table-lifetime stats (incl. derived mean/variance, computed closed-form
    AFTER the merge) are a vector add."""
    from anomaly_detection_spark import profiler

    raw = load(spark, sf, "documents").withColumnRenamed(
        "source", "partition")
    snap_a = raw.filter(F.col("doc_id") % 2 == 0)
    snap_b = raw.filter(F.col("doc_id") % 2 == 1)
    pa = profiler.mergeable_profile(snap_a, ["n_chars"], scale=1)
    pb = profiler.mergeable_profile(snap_b, ["n_chars"], scale=1)
    merged = profiler.merge_profiles(pa, pb)
    mean6 = F.round(F.col("sum_s") / F.col("n"), 6)
    var6 = F.round(
        (F.col("sum_sq_s") - F.col("sum_s") * F.col("sum_s") / F.col("n"))
        / F.col("n"),
        6,
    )
    return merged.select(
        "partition", F.col("column").alias("col_name"),
        "n", "n_null", "sum_s", "sum_sq_s", "min_v", "max_v",
        mean6.alias("mean6"), var6.alias("var6"),
    ).orderBy("partition")


SQL_MERGED_PROFILE = """
SELECT source AS partition,
       'n_chars' AS col_name,
       CAST(COUNT(n_chars) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS sum_s,
       CAST(COALESCE(SUM(n_chars * n_chars), 0) AS BIGINT) AS sum_sq_s,
       CAST(MIN(n_chars) AS BIGINT) AS min_v,
       CAST(MAX(n_chars) AS BIGINT) AS max_v,
       ROUND(SUM(n_chars) * 1.0 / COUNT(n_chars), 6) AS mean6,
       ROUND((SUM(n_chars * n_chars) - SUM(n_chars) * SUM(n_chars) * 1.0
              / COUNT(n_chars)) / COUNT(n_chars), 6) AS var6
FROM documents GROUP BY source ORDER BY partition
"""


def q_merged_drift(spark, sf):
    """Incremental drift (drift.merge_histograms): the CURRENT snapshot
    half arrives as two commits (event_id parity), each histogrammed
    independently; the merged histogram feeds the engine's PSI against the
    baseline half — and the oracle computes PSI from the whole current
    slice directly. Equality is the appends-only property: drift of a
    growing snapshot never re-reads committed files, only merges
    metadata-sized histograms."""
    from anomaly_detection_spark import drift

    e = load(spark, sf, "events").withColumn("partition", F.lit("all"))
    split = "2024-01-15"
    cur = e.filter(F.col("ts") >= split)
    base_h = drift.categorical_histogram(
        e.filter(F.col("ts") < split), F.col("event_type"))
    commit_a = drift.categorical_histogram(
        cur.filter(F.col("event_id") % 2 == 0), F.col("event_type"))
    commit_b = drift.categorical_histogram(
        cur.filter(F.col("event_id") % 2 == 1), F.col("event_type"))
    merged = drift.merge_histograms(commit_a, commit_b)
    return drift.psi(merged, base_h).select(
        "partition", F.round("psi", 6).alias("psi6"))


SQL_MERGED_DRIFT = """
WITH hist AS (
  SELECT (ts >= TIMESTAMP '2024-01-15') AS is_cur, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), probs AS (
  SELECT is_cur, event_type,
         c * 1.0 / SUM(c) OVER (PARTITION BY is_cur) AS p
  FROM hist
), j AS (
  SELECT COALESCE(cur.event_type, base.event_type) AS event_type,
         GREATEST(COALESCE(cur.p, 0.0), 0.000001) AS pc,
         GREATEST(COALESCE(base.p, 0.0), 0.000001) AS pb
  FROM (SELECT event_type, p FROM probs WHERE is_cur) cur
  FULL OUTER JOIN (SELECT event_type, p FROM probs WHERE NOT is_cur) base
    ON cur.event_type = base.event_type
)
SELECT 'all' AS partition,
       ROUND(SUM((pc - pb) * LN(pc / pb)), 6) AS psi6
FROM j
"""


def q_span_dedup(spark, sf):
    """Span-level exact dedup — the interleaved twin of exact_dup_groups:
    the SAME caption text shared across many documents (boilerplate
    "image credit" strings, templated alt-text). Explodes only the text
    spans, hashes the payload, one map-side-combined agg per hash. Every
    4th doc plants a shared boilerplate caption; the rest are unique and
    must not surface."""
    raw = load(spark, sf, "documents")
    cap = F.when(
        F.col("doc_id") % 4 == 0, F.lit("standard header caption")
    ).otherwise(F.substring("text", 1, 40))
    docs = raw.select(
        "doc_id",
        F.array(
            F.struct(F.lit("text").alias("kind"), cap.alias("text"),
                     F.lit(None).cast("string").alias("media_ref"),
                     F.lit(0).alias("offset")),
            F.struct(F.lit("image").alias("kind"),
                     F.lit(None).cast("string").alias("text"),
                     F.concat(F.lit("m"), (F.col("doc_id") % 64)
                              .cast("string")).alias("media_ref"),
                     F.lit(1).alias("offset")),
        ).alias("spans"),
    )
    caps = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.col("spans"), lambda s: s["kind"] == "text")
        ).alias("s"),
    ).select("doc_id", F.md5(F.col("s.text")).alias("span_hash"))
    return (
        caps.groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("n_spans"),
             F.countDistinct("doc_id").alias("n_docs"),
             F.min("doc_id").alias("canonical_doc"))
        .filter(F.col("n_docs") > 1)
        .orderBy("span_hash")
    )


SQL_SPAN_DEDUP = """
WITH caps AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 4 = 0 THEN 'standard header caption'
                  ELSE substr(text, 1, 40) END) AS span_hash
  FROM documents
)
SELECT span_hash,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
FROM caps GROUP BY span_hash HAVING COUNT(DISTINCT doc_id) > 1
ORDER BY span_hash
"""


def q_embedding_drift(spark, sf):
    """Embedding-space drift per label: cosine between the CENTROIDS of
    two snapshot commits (vec_id parity). Sum vectors replace means —
    cosine is scale-invariant, so comparing integer SUM vectors equals
    comparing means while every accumulation stays an exact integer
    (posexplode the quantized components, two shuffles over (label, dim)
    then label — dims are bounded, so state is metadata-sized no matter
    how many vectors). The one float op is the final division, rounded.
    A centroid_cos6 well below 1 flags a commit whose embeddings moved —
    the modality-level drift check the PSI/KS family can't see."""
    emb = load(spark, sf, "embeddings")
    q = emb.select(
        (F.col("vec_id") % 2 == 0).alias("is_a"),
        F.col("label").cast("long").alias("label"),
        F.posexplode(_quantize(F.col("embedding"))).alias("pos", "qx"),
    )
    sums = q.groupBy("label", "pos").agg(
        F.sum(F.when(F.col("is_a"), F.col("qx")).otherwise(0)).alias("sa"),
        F.sum(F.when(~F.col("is_a"), F.col("qx")).otherwise(0)).alias("sb"),
    )
    agg = sums.groupBy("label").agg(
        F.sum(F.col("sa") * F.col("sb")).alias("dot"),
        F.sum(F.col("sa") * F.col("sa")).alias("na"),
        F.sum(F.col("sb") * F.col("sb")).alias("nb"),
    )
    cos = F.col("dot") / F.sqrt(
        F.col("na").cast("double") * F.col("nb").cast("double"))
    return agg.select(
        "label", "dot", "na", "nb", F.round(cos, 6).alias("centroid_cos6")
    ).orderBy("label")


SQL_EMBEDDING_DRIFT = """
WITH q AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))
           AS qv
  FROM embeddings
), e AS (
  -- zipped unnests: generate_series in scalar context is a LIST, and
  -- DuckDB aligns same-length unnests in one SELECT
  SELECT label, (vec_id % 2 = 0) AS is_a,
         unnest(generate_series(1, len(qv))) AS pos,
         unnest(qv) AS qx
  FROM q
), s AS (
  SELECT label, pos,
         SUM(CASE WHEN is_a THEN qx ELSE 0 END) AS sa,
         SUM(CASE WHEN NOT is_a THEN qx ELSE 0 END) AS sb
  FROM e GROUP BY 1, 2
)
SELECT label,
       CAST(SUM(sa*sb) AS BIGINT) AS dot,
       CAST(SUM(sa*sa) AS BIGINT) AS na,
       CAST(SUM(sb*sb) AS BIGINT) AS nb,
       ROUND(CAST(SUM(sa*sb) AS DOUBLE)
             / sqrt(CAST(SUM(sa*sa) AS DOUBLE)
                  * CAST(SUM(sb*sb) AS DOUBLE)), 6) AS centroid_cos6
FROM s GROUP BY label ORDER BY label
"""


SQL_MEDIA_CAPTION_CHECK = """
WITH docs AS (
  SELECT doc_id,
         [struct_pack(o := CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END,
                      k := 'text',
                      t := CASE WHEN doc_id % 13 = 0 THEN CAST(NULL AS VARCHAR)
                                ELSE substr(text, 1, 40) END),
          struct_pack(o := CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END,
                      k := 'image',
                      t := CAST(NULL AS VARCHAR))] AS spans
  FROM documents
), srt AS (
  SELECT doc_id, list_sort(spans) AS s FROM docs
)
SELECT doc_id,
       len(list_filter(range(1, len(s) + 1),
           i -> s[i].k <> 'text'
                AND (i = 1 OR s[i-1].k <> 'text' OR s[i-1].t IS NULL)
       )) > 0 AS caption_violation
FROM srt ORDER BY doc_id
"""


def q_completeness_floor(spark, sf):
    """min_completeness dataset rule (rules/builtin.min_completeness — the
    enforcement half of suggest_rules' completeness suggestion) through the
    REAL rule build: per-source completeness of a NULLIF'd lang column vs a
    900000-ppm learned floor; sources whose zh share pushes completeness
    below the floor emit a table-level violation row. One map-side-combined
    agg per partition, exact integer ppm."""
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleContext

    d = load(spark, sf, "documents").select(
        F.col("source").alias("partition"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.nullif(F.col("lang"), F.lit("zh")).alias("lang"),
    )
    rule = builtin.min_completeness("lang", 900_000)
    return rule.build(d, RuleContext()).orderBy("partition")


SQL_COMPLETENESS_FLOOR = """
WITH d AS (
  SELECT source AS partition, NULLIF(lang, 'zh') AS lang FROM documents
), agg AS (
  SELECT partition, COUNT(*) AS rows, COUNT(lang) AS nn
  FROM d GROUP BY 1
)
SELECT partition,
       'min_completeness:lang' AS rule_id,
       CAST(NULL AS VARCHAR) AS doc_id,
       'completeness_ppm ' || CAST(nn * 1000000 // rows AS VARCHAR)
         || ' < 900000' AS detail
FROM agg WHERE rows > 0 AND nn * 1000000 // rows < 900000
ORDER BY partition
"""


def q_duplicate_key_docs(spark, sf):
    """unique_values dataset rule (rules/builtin.unique_values — the
    enforcement half of suggest_rules' unique suggestion) through the REAL
    rule build: a derived doc_id%97 key collides by construction, and every
    document sharing a key is reported with ITS OWN doc_id. One shuffle —
    a count window partitioned by the key (the exchange a groupBy would
    pay), no join-back re-scan."""
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleContext

    d = load(spark, sf, "documents").select(
        F.col("source").alias("partition"),
        F.col("doc_id").cast("string").alias("doc_id"),
        (F.col("doc_id") % 97).cast("string").alias("bucket_key"),
    )
    rule = builtin.unique_values("bucket_key")
    return rule.build(d, RuleContext()).orderBy("doc_id")


SQL_DUPLICATE_KEY_DOCS = """
WITH d AS (
  SELECT source AS partition,
         CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(doc_id % 97 AS VARCHAR) AS k
  FROM documents
), w AS (
  SELECT partition, doc_id, k,
         COUNT(*) OVER (PARTITION BY k) AS n
  FROM d
)
SELECT partition,
       'unique:bucket_key' AS rule_id,
       doc_id,
       'bucket_key=' || k || ' duplicate x' || CAST(n AS VARCHAR) AS detail
FROM w WHERE n > 1 ORDER BY doc_id
"""


def q_encoding_anomalies(spark, sf):
    """Corpus encoding hygiene (the ``text_encoding_clean`` row rule's
    expression over a whole corpus): plant U+FFFD / C0-control damage in a
    deterministic doc subset, then count damaged docs and anomaly chars per
    source with the same pure-codegen ``encoding_anomaly_count`` the fused
    rule scan runs. The mojibake check the reference's advisory CSV loader
    (data_loader.py:45-52) never had."""
    from anomaly_detection_spark.functions.text import encoding_anomaly_count

    docs = load(spark, sf, "documents")
    t = (
        F.when(F.col("doc_id") % 37 == 0,
               F.concat(F.col("text"), F.lit("�")))
        .when(F.col("doc_id") % 41 == 0,
              F.concat(F.lit("\x07"), F.col("text")))
        .otherwise(F.col("text"))
    )
    per = docs.select("source", encoding_anomaly_count(t).alias("n_anom"))
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_anom") > 0, 1).otherwise(0))
            .alias("n_bad_docs"),
            F.sum("n_anom").cast("long").alias("n_anom_chars"),
        )
        .orderBy("source")
    )


SQL_ENCODING_ANOMALIES = r"""
WITH t AS (
  SELECT source,
         CASE WHEN doc_id % 37 = 0 THEN text || chr(65533)
              WHEN doc_id % 41 = 0 THEN chr(7) || text
              ELSE text END AS tx
  FROM documents
), c AS (
  SELECT source,
         len(regexp_extract_all(tx, '[\x00-\x08\x0B\x0C\x0E-\x1F\x{FFFD}]'))
           AS n_anom
  FROM t
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_anom > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_docs,
       CAST(SUM(COALESCE(n_anom, 0)) AS BIGINT) AS n_anom_chars
FROM c GROUP BY source ORDER BY source
"""


def q_interval_overlaps(spark, sf):
    """Temporal-validity constraint (timeseries.interval_overlap_stats):
    events become intervals [ts, ts + deterministic duration); adjacent
    intervals of the same user that overlap are double-booked sessions.
    ONE shuffle (the per-user sort window), exact integer microseconds."""
    from anomaly_detection_spark.functions.timeseries import interval_overlap_stats

    e = load(spark, sf, "events")
    dur_us = (
        F.pmod(F.floor(F.col("value") * 100).cast("long"), F.lit(7200))
        * F.lit(1_000_000)
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = e.select(
        "user_id", "event_id",
        us.alias("start_us"),
        (us + dur_us).alias("end_us"),
    )
    out = interval_overlap_stats(iv, "user_id", "start_us", "end_us", "event_id")
    return out.select(
        F.col("key").alias("user_id"),
        "n_intervals", "n_overlaps",
        F.col("total_overlap").alias("total_overlap_us"),
        F.col("max_overlap").alias("max_overlap_us"),
    ).orderBy("user_id")


SQL_INTERVAL_OVERLAPS = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts)
           + (((CAST(floor(value*100) AS BIGINT) % 7200) + 7200) % 7200)
             * 1000000 AS e
  FROM events
), p AS (
  SELECT user_id, e,
         LEAD(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS nxt
  FROM iv
), o AS (
  SELECT user_id,
         CASE WHEN nxt IS NOT NULL AND nxt < e THEN e - nxt ELSE 0 END AS ov
  FROM p
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(CASE WHEN ov > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
       CAST(SUM(ov) AS BIGINT) AS total_overlap_us,
       CAST(MAX(ov) AS BIGINT) AS max_overlap_us
FROM o GROUP BY user_id
HAVING SUM(CASE WHEN ov > 0 THEN 1 ELSE 0 END) > 0
ORDER BY user_id
"""


def q_date_gap_check(spark, sf):
    """Calendar-completeness check (timeseries.calendar_gaps): per user,
    days inside [first, last] with no events at all — the "this feed
    skipped a day" freshness alert. One groupBy; the expected calendar
    materializes in-row with ``sequence`` and gaps are an ``array_except``
    — per-key state bounded by the calendar span, never by row count."""
    from anomaly_detection_spark.functions.timeseries import calendar_gaps

    e = load(spark, sf, "events")
    g = calendar_gaps(e, "user_id", "ts")
    return g.select(
        F.col("key").alias("user_id"),
        F.col("n_days_expected").cast("long").alias("n_days_expected"),
        F.col("n_days_present").cast("long").alias("n_days_present"),
        F.col("n_missing").cast("long").alias("n_missing"),
        F.col("first_missing").cast("string").alias("first_missing_day"),
    ).orderBy("user_id")


SQL_DATE_GAP_CHECK = """
WITH d AS (SELECT user_id, CAST(ts AS DATE) AS dd FROM events),
a AS (
  SELECT user_id, MIN(dd) AS mn, MAX(dd) AS mx,
         CAST(COUNT(DISTINCT dd) AS BIGINT) AS np,
         list(DISTINCT dd) AS present
  FROM d GROUP BY user_id
), g AS (
  SELECT user_id,
         CAST(datediff('day', mn, mx) + 1 AS BIGINT) AS n_days_expected,
         np AS n_days_present,
         list_sort(list_filter(
             list_transform(generate_series(mn, mx, INTERVAL 1 DAY),
                            t -> CAST(t AS DATE)),
             x -> NOT list_contains(present, x))) AS missing
  FROM a
)
SELECT user_id, n_days_expected, n_days_present,
       CAST(len(missing) AS BIGINT) AS n_missing,
       CAST(missing[1] AS VARCHAR) AS first_missing_day
FROM g WHERE len(missing) > 0 ORDER BY user_id
"""


def q_semantic_prune(spark, sf):
    """SemDeDup-style semantic dedup (similarity.semantic_prune): vectors
    vec_id<25 get planted near-copies (same direction, 1.02× magnitude —
    cosine ≈ 1, invisible to exact/MinHash dedup) unioned in at id+10000;
    within-cluster pairwise cosine ≥ 0.95 prunes each copy back to its
    original. Natural intra-cluster cosines top out at ~0.47 here, so the
    planted set is exactly what must surface. Per-cluster equi-join —
    Σ|cluster|², never n² — with the default degenerate-cluster cap."""
    from anomaly_detection_spark.functions.similarity import semantic_prune

    emb = load(spark, sf, "embeddings")
    copies = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: (x.cast("double") * F.lit(1.02)).cast("float"),
        ).alias("embedding"),
        "label",
    )
    pruned = semantic_prune(
        emb.select("vec_id", "embedding", "label").unionByName(copies),
        threshold=0.95,
    )
    return pruned.select(
        "vec_id",
        F.col("bucket").cast("long").alias("label"),
        "canonical_id",
        "best_cos6",
    ).orderBy("vec_id")


SQL_SEMANTIC_PRUNE = """
WITH base AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id,
         list_transform(embedding,
                        x -> CAST(CAST(x AS DOUBLE) * 1.02 AS REAL))
           AS embedding,
         label
  FROM embeddings WHERE vec_id < 25
), q AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))
           AS qv
  FROM base
), n AS (
  SELECT vec_id, label, qv,
         CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nn
  FROM q
), ok AS (
  SELECT label FROM n GROUP BY label HAVING COUNT(*) <= 2000
), b AS (
  SELECT n.* FROM n JOIN ok USING (label)
), pairs AS (
  SELECT u.label AS label, u.vec_id AS u_id, v.vec_id AS v_id,
         round(list_inner_product(u.qv, v.qv)
               / sqrt(CAST(u.nn AS DOUBLE) * CAST(v.nn AS DOUBLE)), 6) AS c
  FROM b u JOIN b v ON u.label = v.label AND u.vec_id < v.vec_id
)
SELECT v_id AS vec_id, label,
       MIN(u_id) AS canonical_id, MAX(c) AS best_cos6
FROM pairs WHERE c >= 0.95
GROUP BY v_id, label ORDER BY vec_id
"""


def q_commit_diff(spark, sf):
    """Doc-level commit-to-commit audit (snapshots.snapshot_diff): the
    "current" commit drops doc_id%11 docs, rewrites the text of doc_id%13
    docs, and appends re-keyed copies of doc_id%17 docs; the diff must
    classify every key added/removed/changed/unchanged and roll the counts
    up per source. ONE full-outer merge join on the key — on an Iceberg
    layout bucketed by doc_id, a co-located merge with no extra shuffle."""
    from anomaly_detection_spark.snapshots import snapshot_diff

    raw = load(spark, sf, "documents")
    fp_of = lambda c: F.md5(F.coalesce(c, F.lit("<null>")))  # noqa: E731
    prev = raw.select("doc_id", "source", fp_of(F.col("text")).alias("fp"))
    cur_text = F.when(
        F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    cur = (
        raw.filter(F.col("doc_id") % 11 != 0)
        .select("doc_id", "source", fp_of(cur_text).alias("fp"))
        .unionByName(
            raw.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                "source",
                fp_of(F.concat(F.col("text"), F.lit(" new"))).alias("fp"),
            )
        )
    )
    d = snapshot_diff(prev, cur, key_col="doc_id", fp_col="fp",
                      carry=["source"])
    cnt = lambda k: F.sum(  # noqa: E731
        F.when(F.col("diff_class") == k, 1).otherwise(0)).alias(f"n_{k}")
    return (
        d.groupBy("source")
        .agg(cnt("added"), cnt("removed"), cnt("changed"), cnt("unchanged"))
        .orderBy("source")
    )


SQL_COMMIT_DIFF = """
WITH prev AS (
  SELECT doc_id, source, md5(COALESCE(text, '<null>')) AS fp FROM documents
), cur AS (
  SELECT doc_id, source,
         md5(COALESCE(CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
                           ELSE text END, '<null>')) AS fp
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, source,
         md5(COALESCE(text || ' new', '<null>')) AS fp
  FROM documents WHERE doc_id % 17 = 0
), j AS (
  SELECT COALESCE(c.source, p.source) AS source,
         CASE WHEN p.fp IS NULL THEN 'added'
              WHEN c.fp IS NULL THEN 'removed'
              WHEN p.fp <> c.fp THEN 'changed'
              ELSE 'unchanged' END AS cls
  FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id
)
SELECT source,
       CAST(SUM(CASE WHEN cls = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(SUM(CASE WHEN cls = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN cls = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(SUM(CASE WHEN cls = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM j GROUP BY source ORDER BY source
"""


def q_violation_exemplars(spark, sf):
    """engine.cap_violations through the REAL code path: the violations sink
    at 10^12 docs must stay bounded even when a rule fails broadly, so the
    engine keeps K deterministic exemplars per (partition, rule_id) —
    smallest (doc_id, detail) — while verdict counts (checked elsewhere)
    stay exact. Two rule streams are derived from documents (short docs,
    zh-language docs), capped at K=3 via the skew-safe two-phase top-k
    (salted rank → final rank; a hot pair never lands in one window task).
    Reference analogue: the reference truncates its per-category anomaly
    lists for reporting (report_generator.py top-N rollups)."""
    from anomaly_detection_spark.engine import cap_violations

    d = load(spark, sf, "documents")
    short = d.filter(F.col("n_chars") < 200).select(
        F.col("source").alias("partition"),
        F.lit("short_doc").alias("rule_id"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("n_chars="), F.col("n_chars").cast("string")).alias("detail"),
    )
    zh = d.filter(F.col("lang") == "zh").select(
        F.col("source").alias("partition"),
        F.lit("lang_zh").alias("rule_id"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("lang="), F.col("lang")).alias("detail"),
    )
    return cap_violations(short.unionByName(zh), 3).orderBy(
        "partition", "rule_id", "doc_id")


SQL_VIOLATION_EXEMPLARS = """
WITH v AS (
  SELECT source AS partition, 'short_doc' AS rule_id,
         CAST(doc_id AS VARCHAR) AS doc_id,
         'n_chars=' || CAST(n_chars AS VARCHAR) AS detail
  FROM documents WHERE n_chars < 200
  UNION ALL
  SELECT source AS partition, 'lang_zh' AS rule_id,
         CAST(doc_id AS VARCHAR) AS doc_id,
         'lang=' || lang AS detail
  FROM documents WHERE lang = 'zh'
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY partition, rule_id
    ORDER BY doc_id ASC NULLS FIRST, detail ASC NULLS FIRST
  ) AS rn FROM v
)
SELECT partition, rule_id, doc_id, detail
FROM ranked WHERE rn <= 3
ORDER BY partition, rule_id, doc_id
"""


def q_fd_check(spark, sf):
    """functional_dependency dataset rule (rules/builtin.functional_dependency)
    through the REAL rule build: determinant → dependent single-valuedness,
    the Deequ-family FD screen (same media_ref must always carry the same
    kind; here n_chars → lang on the fixture, which violates on shared
    lengths). TWO map-side-combinable hash aggs — phase 1 dedupes
    (determinant, dependent) pairs before the exchange, phase 2's count(*)
    over the pair frame IS the exact distinct-dependent count; no
    count_distinct expand, no join-back corpus re-scan. Reference analogue:
    the one-department-per-user org map (org_analyzer.py:26-34), which would
    silently keep the last duplicate instead of flagging it."""
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleContext

    d = load(spark, sf, "documents").select(
        F.col("source").alias("partition"), "n_chars", "lang")
    rule = builtin.functional_dependency("n_chars", "lang")
    return rule.build(d, RuleContext()).orderBy("partition", "doc_id")


SQL_FD_CHECK = """
WITH viol AS (
  SELECT n_chars, COUNT(*) AS n_dep FROM (
    SELECT DISTINCT n_chars, lang FROM documents WHERE n_chars IS NOT NULL
  ) GROUP BY n_chars HAVING COUNT(*) > 1
)
SELECT DISTINCT d.source AS partition,
       'fd:n_chars->lang' AS rule_id,
       CAST(v.n_chars AS VARCHAR) AS doc_id,
       'lang takes ' || CAST(v.n_dep AS VARCHAR)
         || ' distinct values for one n_chars' AS detail
FROM viol v JOIN documents d ON d.n_chars = v.n_chars
ORDER BY partition, doc_id
"""


def q_freshness_check(spark, sf):
    """freshness dataset rule (rules/builtin.freshness) through the REAL
    rule build: per-event-type staleness vs the snapshot's newest event —
    the "did partition X stop ingesting?" screen run before a training-data
    cutoff. ONE map-side-combined max agg over the corpus; the global max
    comes from an unpartitioned window over the per-partition RESULT frame
    (bounded rows — not the corpus-sized window trap). Lag in exact integer
    microseconds. Reference analogue: the retention/recency window of
    risk_history_tracker.py:152-161."""
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleContext

    e = load(spark, sf, "events")
    rule = builtin.freshness("ts", 1200)
    return rule.build(e, RuleContext(partition_col="event_type")) \
        .orderBy("partition")


SQL_FRESHNESS_CHECK = """
WITH per AS (
  SELECT event_type AS partition, epoch_us(max(ts)) AS mx
  FROM events GROUP BY 1
), g AS (SELECT max(mx) AS gmx FROM per)
SELECT partition, 'freshness:ts' AS rule_id,
       CAST(NULL AS VARCHAR) AS doc_id,
       'stale by ' || CAST(g.gmx - per.mx AS VARCHAR) || 'us' AS detail
FROM per, g WHERE g.gmx - per.mx > 1200 * 1000000
ORDER BY partition
"""


def q_incremental_lsh(spark, sf):
    """Incremental near-dup candidates (dedup.incremental_lsh_candidates):
    validate ONE appended commit against the existing corpus WITHOUT
    re-minhashing the corpus — probe the previous snapshot's persisted
    band-bucket table (dedup.band_buckets; derived on the fly here so the
    oracle can recompute it) with the commit's broadcast bucket set. Only
    commit text is hashed; the corpus band table is scanned map-side and
    the big side never shuffles — the LSH twin of incremental_dedup.
    Fixture: every src19 doc re-keyed +1,000,000; odd ids keep text
    verbatim (must candidate with their originals), the rest get a suffix
    (near-dup or drop, as the min-hashes fall)."""
    from anomaly_detection_spark.functions import dedup as dd

    raw = load(spark, sf, "documents")
    appended = raw.filter(F.col("source") == "src19").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 1, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" <novel>"))).alias("text"),
    )
    corpus_buckets = dd.band_buckets(raw.select("doc_id", "text"),
                                     k=4, bands=2)
    return dd.incremental_lsh_candidates(
        corpus_buckets, appended, k=4, bands=2,
    ).orderBy("new_id", "corpus_id")


SQL_INCREMENTAL_LSH = f"""
WITH app AS (
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN doc_id % 2 = 1 THEN text ELSE text || ' <novel>' END AS text
  FROM documents WHERE source = 'src19'
),
ct AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
csig AS (
  SELECT doc_id,
    list_min(list_transform({_SHINGLES_SQL}, s -> md5('0:' || s))) AS mh0,
    list_min(list_transform({_SHINGLES_SQL}, s -> md5('1:' || s))) AS mh1,
    list_min(list_transform({_SHINGLES_SQL}, s -> md5('2:' || s))) AS mh2,
    list_min(list_transform({_SHINGLES_SQL}, s -> md5('3:' || s))) AS mh3
  FROM ct
),
cb AS (
  SELECT doc_id, md5('0' || '|' || mh0 || '|' || mh1) AS bucket FROM csig WHERE mh0 IS NOT NULL
  UNION ALL
  SELECT doc_id, md5('1' || '|' || mh2 || '|' || mh3) AS bucket FROM csig WHERE mh2 IS NOT NULL
),
at_ AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM app),
asig AS (
  SELECT doc_id,
    list_min(list_transform({_SHINGLES_SQL}, s -> md5('0:' || s))) AS mh0,
    list_min(list_transform({_SHINGLES_SQL}, s -> md5('1:' || s))) AS mh1,
    list_min(list_transform({_SHINGLES_SQL}, s -> md5('2:' || s))) AS mh2,
    list_min(list_transform({_SHINGLES_SQL}, s -> md5('3:' || s))) AS mh3
  FROM at_
),
ab AS (
  SELECT doc_id, md5('0' || '|' || mh0 || '|' || mh1) AS bucket FROM asig WHERE mh0 IS NOT NULL
  UNION ALL
  SELECT doc_id, md5('1' || '|' || mh2 || '|' || mh3) AS bucket FROM asig WHERE mh2 IS NOT NULL
),
ab2 AS (
  SELECT * FROM ab WHERE bucket NOT IN (
    SELECT bucket FROM ab GROUP BY bucket HAVING COUNT(*) > 1000)
),
cb2 AS (
  SELECT * FROM cb WHERE bucket NOT IN (
    SELECT cb.bucket FROM cb WHERE cb.bucket IN (SELECT bucket FROM ab2)
    GROUP BY cb.bucket HAVING COUNT(*) > 1000)
)
SELECT ab2.doc_id AS new_id, cb2.doc_id AS corpus_id,
       COUNT(*) AS n_shared_buckets
FROM cb2 JOIN ab2 USING (bucket)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_orphaned_assets(spark, sf):
    """orphaned_assets dataset rule (rules/builtin.orphaned_assets) through
    the REAL rule build: the reverse of referential — catalog assets never
    referenced by any span, the storage-reclamation audit. The referenced
    set is a map-side-collapsed distinct over the exploded spans.media_ref
    field; the dimension-sized catalog anti-joins against it, so the corpus
    never shuffles. Fixture: the interleaved docs reference m(doc_id%64)
    and every 3rd doc m(doc_id%17); a 100-asset synthetic catalog leaves
    m64..m99 (and any unhit low ids) orphaned."""
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleContext

    docs = _interleaved_media_docs(load(spark, sf, "documents"))
    catalog = spark.range(100).select(
        F.concat(F.lit("m"), F.col("id").cast("string")).alias("media_ref"))
    rule = builtin.orphaned_assets()
    return rule.build(docs, RuleContext(media_catalog=catalog)) \
        .orderBy("doc_id")


SQL_ORPHANED_ASSETS = """
WITH referenced AS (
  SELECT DISTINCT 'm' || CAST(doc_id % 64 AS VARCHAR) AS media_ref FROM documents
  UNION
  SELECT DISTINCT 'm' || CAST(doc_id % 17 AS VARCHAR) FROM documents WHERE doc_id % 3 = 0
), catalog AS (
  SELECT 'm' || CAST(range AS VARCHAR) AS media_ref FROM range(100)
)
SELECT 'catalog' AS partition, 'orphaned_assets' AS rule_id,
       c.media_ref AS doc_id,
       'catalog asset never referenced by any span' AS detail
FROM catalog c ANTI JOIN referenced r USING (media_ref)
ORDER BY doc_id
"""


def q_ordinal_contiguity(spark, sf):
    """ordinal_contiguity dataset rule (rules/builtin.ordinal_contiguity)
    through the REAL rule build: per-order line numbers must be exactly
    1..n — the partial-write detector (a shard that lost rows leaves a gap
    even though every surviving row is individually valid). Two planted
    defects: orders with key%7==0 lose line 2 (gap), orders with key%11==0
    duplicate line 1 (dup). TWO map-side-combinable hash aggs — pair dedup
    then pure integer min/max/count comparison; no window, no sort.
    Reference analogue: behavior_analyzer.py builds per-user sequences
    positionally and silently assumes completeness."""
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleContext

    li = load(spark, sf, "lineitem").select("l_orderkey", "l_linenumber")
    gap = li.filter(
        ~((F.col("l_linenumber") == 2) & (F.col("l_orderkey") % 7 == 0)))
    dup = li.filter(
        (F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 11 == 0))
    fixture = gap.unionByName(dup).withColumn(
        "partition",
        F.concat(F.lit("p"), (F.col("l_orderkey") % 4).cast("string")))
    rule = builtin.ordinal_contiguity("l_orderkey", "l_linenumber")
    return rule.build(fixture, RuleContext()).orderBy("doc_id")


SQL_ORDINAL_CONTIGUITY = """
WITH fixture AS (
  SELECT l_orderkey, l_linenumber FROM lineitem
  WHERE NOT (l_linenumber = 2 AND l_orderkey % 7 = 0)
  UNION ALL
  SELECT l_orderkey, l_linenumber FROM lineitem
  WHERE l_linenumber = 1 AND l_orderkey % 11 = 0
), per AS (
  SELECT l_orderkey,
         COUNT(*) AS n_rows,
         COUNT(DISTINCT l_linenumber) AS n_distinct,
         MIN(l_linenumber) AS mn, MAX(l_linenumber) AS mx
  FROM fixture GROUP BY 1
)
SELECT 'p' || CAST(l_orderkey % 4 AS VARCHAR) AS partition,
       'ordinal_contiguity:l_orderkey/l_linenumber' AS rule_id,
       CAST(l_orderkey AS VARCHAR) AS doc_id,
       'l_linenumber not dense from 1: min=' || CAST(mn AS VARCHAR)
         || ' max=' || CAST(mx AS VARCHAR)
         || ' distinct=' || CAST(n_distinct AS VARCHAR)
         || ' rows=' || CAST(n_rows AS VARCHAR) AS detail
FROM per
WHERE mn <> 1 OR mx <> n_distinct OR n_rows <> n_distinct
ORDER BY doc_id
"""


def q_rule_cooccurrence(spark, sf):
    """engine.rule_cooccurrence: which rules fail TOGETHER — per rule pair
    the distinct-doc overlap and exact integer-ppm Jaccard, the
    meta-analytics pass that finds redundant rules (Jaccard ≈ 1) and common
    root causes over the violations sink. Three planted rule streams where
    short_doc ⊂ mid_doc (high Jaccard) and lang_zh overlaps both partially.
    Plan: dedupe (rule, doc) pairs, self-join on doc_id (fan bounded by
    suite size, never by corpus), broadcast the per-rule totals back.
    Reference analogue: multidimensional_detector.py's cross-category
    correlation rollup (high_risk_correlations), recast over rule ids."""
    from anomaly_detection_spark.engine import rule_cooccurrence

    d = load(spark, sf, "documents")

    def stream(pred, rid):
        return d.filter(pred).select(
            F.col("source").alias("partition"),
            F.lit(rid).alias("rule_id"),
            F.col("doc_id").cast("string").alias("doc_id"),
            F.lit("").alias("detail"),
        )

    v = (
        stream(F.col("n_chars") < 200, "short_doc")
        .unionByName(stream(F.col("lang") == "zh", "lang_zh"))
        .unionByName(stream(F.col("n_chars") < 400, "mid_doc"))
    )
    return rule_cooccurrence(v).orderBy("rule_a", "rule_b")


SQL_RULE_COOCCURRENCE = """
WITH v AS (
  SELECT DISTINCT 'short_doc' AS rule_id, CAST(doc_id AS VARCHAR) AS doc_id
  FROM documents WHERE n_chars < 200
  UNION
  SELECT DISTINCT 'lang_zh', CAST(doc_id AS VARCHAR)
  FROM documents WHERE lang = 'zh'
  UNION
  SELECT DISTINCT 'mid_doc', CAST(doc_id AS VARCHAR)
  FROM documents WHERE n_chars < 400
), t AS (
  SELECT rule_id, COUNT(*) AS n FROM v GROUP BY 1
), p AS (
  SELECT a.rule_id AS rule_a, b.rule_id AS rule_b, COUNT(*) AS n_both
  FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.rule_id < b.rule_id
  GROUP BY 1, 2
)
SELECT rule_a, rule_b, ta.n AS n_a, tb.n AS n_b, n_both,
       (n_both * 1000000) // (ta.n + tb.n - n_both) AS jaccard_ppm
FROM p
JOIN t ta ON ta.rule_id = p.rule_a
JOIN t tb ON tb.rule_id = p.rule_b
ORDER BY rule_a, rule_b
"""


def q_column_fingerprints(spark, sf):
    """profiler.content_fingerprint: KMV content sketches matching RENAMED
    columns across snapshots by value-set identity — schema_match sees a
    drop + an add, this sees the move. prev = three orders columns; cur =
    the same data with o_orderstatus→status and o_custkey→cust_id renamed
    (must match by sketch) and o_orderpriority value-perturbed (must NOT
    match — an actual content change, not a rename). One stack-unpivot
    scan per side, pair dedup, skew-safe two-phase top-k (cap_violations)
    for the k smallest hashes. Reference analogue: data_loader.py matches
    log columns positionally and breaks silently on renames."""
    from anomaly_detection_spark.profiler import content_fingerprint

    o = load(spark, sf, "orders")
    prev_fp = content_fingerprint(
        o, ["o_orderstatus", "o_orderpriority", "o_custkey"], k=16)
    cur = o.select(
        F.col("o_orderstatus").alias("status"),
        F.concat(F.lit("pri:"), F.col("o_orderpriority")).alias("priority_tag"),
        F.col("o_custkey").alias("cust_id"),
    )
    cur_fp = content_fingerprint(
        cur, ["status", "priority_tag", "cust_id"], k=16)
    return (
        prev_fp.select(F.col("column").alias("prev_col"), "sketch")
        .join(cur_fp.select(F.col("column").alias("cur_col"), "sketch"),
              "sketch", "full_outer")
        .select("prev_col", "cur_col", "sketch")
        .orderBy("sketch")
    )


SQL_COLUMN_FINGERPRINTS = """
WITH prev_vals AS (
  SELECT 'o_orderstatus' AS col, md5(o_orderstatus) AS h
  FROM orders WHERE o_orderstatus IS NOT NULL
  UNION
  SELECT 'o_orderpriority', md5(o_orderpriority)
  FROM orders WHERE o_orderpriority IS NOT NULL
  UNION
  SELECT 'o_custkey', md5(CAST(o_custkey AS VARCHAR))
  FROM orders WHERE o_custkey IS NOT NULL
), prev_k AS (
  SELECT col, h, ROW_NUMBER() OVER (PARTITION BY col ORDER BY h) AS rn
  FROM prev_vals
), prev_fp AS (
  SELECT col AS prev_col, md5(string_agg(h, ',' ORDER BY h)) AS sketch
  FROM prev_k WHERE rn <= 16 GROUP BY col
), cur_vals AS (
  SELECT 'status' AS col, md5(o_orderstatus) AS h
  FROM orders WHERE o_orderstatus IS NOT NULL
  UNION
  SELECT 'priority_tag', md5('pri:' || o_orderpriority)
  FROM orders WHERE o_orderpriority IS NOT NULL
  UNION
  SELECT 'cust_id', md5(CAST(o_custkey AS VARCHAR))
  FROM orders WHERE o_custkey IS NOT NULL
), cur_k AS (
  SELECT col, h, ROW_NUMBER() OVER (PARTITION BY col ORDER BY h) AS rn
  FROM cur_vals
), cur_fp AS (
  SELECT col AS cur_col, md5(string_agg(h, ',' ORDER BY h)) AS sketch
  FROM cur_k WHERE rn <= 16 GROUP BY col
)
SELECT prev_col, cur_col, sketch
FROM prev_fp FULL OUTER JOIN cur_fp USING (sketch)
ORDER BY sketch
"""


def q_sampled_validation(spark, sf):
    """engine.sampled_violation_rates: the 10^12-doc PRE-FLIGHT — evaluate
    row rules on a deterministic 5% md5-bucket sample and report estimated
    per-(partition, rule) violation ppm before committing to the full
    scan. Sampling is a pure pushed-down filter (stable membership, so
    estimates compare run-over-run); all predicates fuse into ONE agg pass
    over the sample; rates are exact integer ppm of the sample.
    Reference analogue: the reference always scans everything
    (main.py runs every analyzer on the full frame) — this is the triage
    pass that decides where that cost goes first."""
    from anomaly_detection_spark.engine import sampled_violation_rates
    from anomaly_detection_spark.rules.core import RowRule, RuleContext

    d = load(spark, sf, "documents").withColumnRenamed("source", "partition")
    rules = [
        RowRule("short_doc", F.col("n_chars") < 200, F.lit("")),
        RowRule("lang_zh", F.col("lang") == "zh", F.lit("")),
    ]
    return sampled_violation_rates(d, rules, RuleContext(), sample_pct=5) \
        .orderBy("partition", "rule_id")


SQL_SAMPLED_VALIDATION = """
WITH s AS (
  SELECT source AS partition, n_chars, lang FROM documents
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % 100 < 5
), agg AS (
  SELECT partition, COUNT(*) AS sample_n,
         CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT)
           AS v_short,
         CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
           AS v_zh
  FROM s GROUP BY 1
)
SELECT partition, 'short_doc' AS rule_id, sample_n, v_short AS n_viol,
       (v_short * 1000000) // sample_n AS est_ppm
FROM agg
UNION ALL
SELECT partition, 'lang_zh', sample_n, v_zh, (v_zh * 1000000) // sample_n
FROM agg
ORDER BY partition, rule_id
"""


def q_rule_recall_audit(spark, sf):
    """Rule-sensitivity audit by deterministic fault injection: plant
    known corruptions into documents (NULLed lang every 7th doc, text
    truncated to 150 chars every 11th), run the rule suite's predicates
    over the corrupted frame, and report per rule (planted, caught,
    missed, recall_ppm). The `short_doc` rule is deliberately specified
    at < 120 chars against a 150-char plant, so the audit EXPOSES an
    under-catching rule (recall 0) next to an exact one (recall 1e6) —
    the mutation-testing loop that tells a 10^12-row validation suite
    which rules are lying about coverage. One fused scan computes plant
    flags and catch flags together; the rollup is rule-count-sized."""
    d = load(spark, sf, "documents")
    k = F.col("doc_id")
    corrupted = d.select(
        "doc_id",
        F.when(k % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("lang")).alias("lang"),
        F.when(k % 11 == 0, F.substring("text", 1, 150))
        .otherwise(F.col("text")).alias("text"),
    )
    plants = {
        "lang_required": k % 7 == 0,
        "short_doc": k % 11 == 0,
    }
    catches = {
        "lang_required": F.col("lang").isNull(),
        "short_doc": F.length("text") < 120,  # mis-specified on purpose
    }
    aggs = []
    for rid in plants:
        p, c = plants[rid], catches[rid]
        aggs += [
            F.sum(p.cast("long")).alias(f"_p_{rid}"),
            F.sum((p & c).cast("long")).alias(f"_c_{rid}"),
        ]
    wide = corrupted.agg(*aggs)
    stack = ", ".join(f"'{rid}', `_p_{rid}`, `_c_{rid}`" for rid in plants)
    long = wide.select(F.expr(
        f"stack({len(plants)}, {stack}) AS (rule_id, planted, caught)"))
    return long.select(
        "rule_id", "planted", "caught",
        (F.col("planted") - F.col("caught")).alias("missed"),
        F.expr("(caught * 1000000) div greatest(planted, 1)")
        .alias("recall_ppm"),
    ).orderBy("rule_id")


SQL_RULE_RECALL_AUDIT = """
WITH c AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
         CASE WHEN doc_id % 11 = 0 THEN substring(text, 1, 150)
              ELSE text END AS text
  FROM documents
), wide AS (
  SELECT
    CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS p_lang,
    CAST(SUM(CASE WHEN doc_id % 7 = 0 AND lang IS NULL THEN 1 ELSE 0 END)
      AS BIGINT) AS c_lang,
    CAST(SUM(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS p_short,
    CAST(SUM(CASE WHEN doc_id % 11 = 0 AND length(text) < 120
             THEN 1 ELSE 0 END) AS BIGINT) AS c_short
  FROM c
), long AS (
  SELECT 'lang_required' AS rule_id, p_lang AS planted, c_lang AS caught
  FROM wide
  UNION ALL
  SELECT 'short_doc', p_short, c_short FROM wide
)
SELECT rule_id, planted, caught, planted - caught AS missed,
       (caught * 1000000) // GREATEST(planted, 1) AS recall_ppm
FROM long ORDER BY rule_id
"""


def q_dq_scores(spark, sf):
    """Composite partition DQ score (engine.dq_scores over
    engine.sampled_violation_rates): weighted rule penalties with ppm
    caps collapse to one 0-100 centi-point score per partition plus its
    worst rule — the engine-side twin of the reference's 0-100 per-user
    risk aggregation (risk_calculator.py:31-35,132-155), rolled up from
    the metadata-sized preflight panel at zero extra scan cost. Pure
    integer arithmetic (two documented truncating divisions)."""
    from anomaly_detection_spark.engine import (
        dq_scores, sampled_violation_rates)
    from anomaly_detection_spark.rules.core import RowRule, RuleContext

    d = load(spark, sf, "documents").withColumnRenamed("source", "partition")
    rules = [
        RowRule("short_doc", F.col("n_chars") < 200, F.lit("")),
        RowRule("lang_zh", F.col("lang") == "zh", F.lit("")),
    ]
    panel = sampled_violation_rates(d, rules, RuleContext(), sample_pct=5)
    SPEC = {"short_doc": (5, 500_000), "lang_zh": (2, 300_000)}
    return dq_scores(panel, SPEC).orderBy("partition")


SQL_DQ_SCORES = """
WITH s AS (
  SELECT source AS partition, n_chars, lang FROM documents
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % 100 < 5
), agg AS (
  SELECT partition, COUNT(*) AS sample_n,
         CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT)
           AS v_short,
         CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
           AS v_zh
  FROM s GROUP BY 1
), panel AS (
  SELECT partition, 'short_doc' AS rule_id,
         (v_short * 1000000) // sample_n AS est_ppm
  FROM agg
  UNION ALL
  SELECT partition, 'lang_zh', (v_zh * 1000000) // sample_n FROM agg
), terms AS (
  SELECT partition, rule_id,
    CASE WHEN rule_id = 'short_doc'
           THEN (5 * LEAST(est_ppm, 500000) * 1000000) // 500000
         WHEN rule_id = 'lang_zh'
           THEN (2 * LEAST(est_ppm, 300000) * 1000000) // 300000
         ELSE 0 END AS term
  FROM panel
), tot AS (
  SELECT partition, SUM(term) AS t FROM terms GROUP BY 1
), worst AS (
  SELECT partition, rule_id AS worst_rule FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY partition
                                 ORDER BY term DESC, rule_id DESC) AS rn
    FROM terms) WHERE rn = 1
)
SELECT t.partition,
       CAST(((7000000 - t.t) * 10000) // 7000000 AS BIGINT) AS dq_centi,
       w.worst_rule
FROM tot t JOIN worst w ON t.partition = w.partition
ORDER BY t.partition
"""


def q_moments_profile(spark, sf):
    """Higher-moment column profile: per-priority skewness and excess
    kurtosis of order totals, derived CLOSED-FORM from exact integer power
    sums (decimal(38,0) sums of cents^1..4 — the same
    order-insensitive-exact discipline as the engine's variance profile,
    extended two moments up). Both engines aggregate exact integers, then
    perform the identical double-precision expression tree, so results are
    bit-identical; m2^1.5 is written m2*sqrt(m2) because sqrt is IEEE
    correctly-rounded where pow is not. One map-side-combined hash agg.

    Accumulator bounds (cents ≤ ~5e7): s3 ≤ 1.6e23/row fits decimal(38,0)
    to ~6e14 rows; cents^4 ≈ 6e30/row would overflow decimal(38,0) near
    1e7 rows, so the 4th power is NOT summed directly — write
    x2 = a*1e8 + b (a, b longs) and accumulate the three long-valued
    pieces of x4 = a²*1e16 + 2ab*1e8 + b² separately (each ≤ ~1e16/row,
    exact in decimal(38,0) to ~1e22 rows), recombining with the identical
    double expression in both engines. Reference analogue:
    statistical_analyzer.py's per-feature moment summary
    (mean/std/skew/kurt via scipy.stats.describe)."""
    o = load(spark, sf, "orders")
    c = _cents(F.col("o_totalprice"))
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    x2 = c * c  # ≤ 2.5e15, fits long
    bl = F.pmod(x2, F.lit(100_000_000))  # exact long mod, x2 ≥ 0
    # (x2 - bl) is a multiple of 1e8 and ≤ 2.5e15 < 2^53, so the double
    # division is exact and the cast recovers the exact integer quotient.
    ah = ((x2 - bl) / F.lit(100_000_000)).cast("long")
    agg = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d38(c)).alias("s1"),
        F.sum(d38(x2)).alias("s2"),
        F.sum(d38(x2) * c).alias("s3"),
        F.sum(d38(ah * ah)).alias("s4a"),
        F.sum(d38(ah * bl)).alias("s4m"),
        F.sum(d38(bl * bl)).alias("s4b"),
    )
    nd = F.col("n").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    s3d = F.col("s3").cast("double")
    s4d = (F.col("s4a").cast("double") * F.lit(1e16)
           + F.lit(2.0) * F.col("s4m").cast("double") * F.lit(1e8)
           + F.col("s4b").cast("double"))
    m1 = s1d / nd
    m2 = s2d / nd - m1 * m1
    m3 = s3d / nd - F.lit(3.0) * m1 * s2d / nd + F.lit(2.0) * m1 * m1 * m1
    m4 = (s4d / nd - F.lit(4.0) * m1 * s3d / nd
          + F.lit(6.0) * m1 * m1 * s2d / nd
          - F.lit(3.0) * m1 * m1 * m1 * m1)
    return agg.select(
        "priority",
        F.col("n"),
        F.round(s1d / nd / F.lit(100.0), 6).alias("mean_price"),
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis_excess"),
    ).orderBy("priority")


SQL_MOMENTS_PROFILE = """
WITH c AS (
  SELECT o_orderpriority AS priority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
), sp AS (
  SELECT priority, c, c * c AS x2,
         (c * c) % 100000000 AS bl,
         (c * c) // 100000000 AS ah
  FROM c
), agg AS (
  SELECT priority, COUNT(*) AS n,
         SUM(CAST(c AS HUGEINT)) AS s1,
         SUM(CAST(x2 AS HUGEINT)) AS s2,
         SUM(CAST(x2 AS HUGEINT) * c) AS s3,
         SUM(CAST(ah AS HUGEINT) * ah) AS s4a,
         SUM(CAST(ah AS HUGEINT) * bl) AS s4m,
         SUM(CAST(bl AS HUGEINT) * bl) AS s4b
  FROM sp GROUP BY 1
), d AS (
  SELECT priority, n, CAST(n AS DOUBLE) AS nd,
         CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
         CAST(s3 AS DOUBLE) AS s3d,
         CAST(s4a AS DOUBLE) * 1e16 + 2.0 * CAST(s4m AS DOUBLE) * 1e8
           + CAST(s4b AS DOUBLE) AS s4d
  FROM agg
), m AS (
  SELECT priority, n, nd, s1d, s2d, s3d, s4d, s1d / nd AS m1 FROM d
), mm AS (
  SELECT priority, n, nd, s1d, s2d, s3d, s4d, m1,
         s2d / nd - m1 * m1 AS m2,
         s3d / nd - 3.0 * m1 * s2d / nd + 2.0 * m1 * m1 * m1 AS m3,
         s4d / nd - 4.0 * m1 * s3d / nd + 6.0 * m1 * m1 * s2d / nd
           - 3.0 * m1 * m1 * m1 * m1 AS m4
  FROM m
)
SELECT priority, n,
       ROUND(s1d / nd / 100.0, 6) AS mean_price,
       ROUND(m3 / (m2 * sqrt(m2)), 6) AS skewness,
       ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
FROM mm ORDER BY priority
"""


def q_violation_slices(spark, sf):
    """engine.violation_slices: root-cause slice localization — for each
    failing rule × (dimension, value) corpus slice, the violation rate in
    the slice vs the rule's overall rate as an exact integer lift. Answers
    "WHERE is this rule failing?" straight off the violations sink (all
    the mojibake is in one source; the short docs are mostly one lang).
    Two planted rule streams over documents, sliced by lang and source.
    Plan: one stack-unpivot scan of the corpus (column-pruned to the
    dims), deduped violating ids joined once (fan-out = #dims per
    violating doc), dimension-sized totals broadcast back; every ratio is
    integer ppm / ×1000 division. Reference analogue:
    multidimensional_detector.py's per-department / per-role anomaly-rate
    breakdowns, generalized to any dimension set."""
    from anomaly_detection_spark.engine import violation_slices

    d = load(spark, sf, "documents")

    def stream(pred, rid):
        return d.filter(pred).select(
            F.col("source").alias("partition"),
            F.lit(rid).alias("rule_id"),
            F.col("doc_id").cast("string").alias("doc_id"),
            F.lit("").alias("detail"),
        )

    v = (
        stream(F.col("n_chars") < 200, "short_doc")
        .unionByName(stream(F.col("lang") == "zh", "lang_zh"))
    )
    return violation_slices(d, v, ["lang", "source"], min_support=10) \
        .orderBy("rule_id", "dim", "value")


SQL_VIOLATION_SLICES = """
WITH unpiv AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'lang' AS dim,
         CAST(lang AS VARCHAR) AS value
  FROM documents
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR), 'source', CAST(source AS VARCHAR)
  FROM documents
), sn AS (
  SELECT dim, value, COUNT(*) AS slice_n FROM unpiv GROUP BY 1, 2
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), v AS (
  SELECT DISTINCT 'short_doc' AS rule_id, CAST(doc_id AS VARCHAR) AS doc_id
  FROM documents WHERE n_chars < 200
  UNION
  SELECT DISTINCT 'lang_zh', CAST(doc_id AS VARCHAR)
  FROM documents WHERE lang = 'zh'
), rt AS (
  SELECT rule_id, COUNT(*) AS n_viol FROM v GROUP BY 1
), sv AS (
  SELECT rule_id, dim, value, COUNT(*) AS slice_viol
  FROM v JOIN unpiv USING (doc_id) GROUP BY 1, 2, 3
)
SELECT rule_id, sv.dim AS dim, sv.value AS value, slice_n, slice_viol,
       (slice_viol * 1000000) // slice_n AS rate_ppm,
       (n_viol * 1000000) // n_docs AS overall_ppm,
       (((slice_viol * 1000000) // slice_n) * 1000)
         // GREATEST((n_viol * 1000000) // n_docs, 1) AS lift_x1000
FROM sv
JOIN sn ON sv.dim = sn.dim AND sv.value IS NOT DISTINCT FROM sn.value
JOIN rt USING (rule_id)
CROSS JOIN nd
WHERE slice_n >= 10
ORDER BY rule_id, sv.dim, sv.value
"""


def q_slo_verdicts(spark, sf):
    """Per-rule violation BUDGETS through the real engine: the verdict is
    pass while violation_count/rows_scanned ≤ max_violation_ppm — the
    data-quality-SLO form (a crawl source tolerates 15% short docs before
    the partition is rejected; zh-language docs are budget-0 strict).
    Exercises ValidationRun end-to-end with documents partitioned by
    source; the comparison is pure integer (count × 1e6 ≤ ppm × rows),
    bit-identical across engines. Reference analogue: config.py's
    per-detector thresholds (e.g. risk_thresholds) — there a score
    cutoff, here a declarative verdict budget on any rule."""
    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.rules.core import RowRule, RuleSet

    d = load(spark, sf, "documents")
    rules = RuleSet(row_rules=[
        RowRule("short_doc_slo", F.col("n_chars") < 200, F.lit(""),
                max_violation_ppm=150_000),
        RowRule("lang_zh_strict", F.col("lang") == "zh", F.lit("")),
    ])
    run = ValidationRun(spark, d, rules, partition_col="source")
    return run.run(persist=False).verdicts.orderBy("partition", "rule_id")


SQL_SLO_VERDICTS = """
WITH parts AS (
  SELECT source AS partition, COUNT(*) AS rows_scanned,
         CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT)
           AS v_short,
         CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
           AS v_zh
  FROM documents GROUP BY 1
)
SELECT partition, 'short_doc_slo' AS rule_id,
       (v_short * 1000000) <= (150000 * rows_scanned) AS pass,
       v_short AS violation_count, rows_scanned
FROM parts
UNION ALL
SELECT partition, 'lang_zh_strict', v_zh = 0, v_zh, rows_scanned
FROM parts
ORDER BY partition, rule_id
"""


def q_benford_check(spark, sf):
    """benford_deviation dataset rule through the real rule build: the
    partition-level Benford first-digit screen (exact integer L1 ppm vs
    the Benford expectation, min-rows gated) over a two-partition fixture
    — natural order totals vs a FABRICATED partition whose values are all
    forced into the 5xxx range (every first digit 5 → L1 ≈ 1.84M ppm,
    far over any threshold). The fabricated branch derives from integer
    cents modulo (non-negative longs — the only % both engines agree on).
    One hash agg with nine SUM(CASE) bins; no window, no pivot.
    Reference analogue: statistical_analyzer.py distribution-shape
    screens."""
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleContext

    o = load(spark, sf, "orders")
    nat = o.select(
        F.lit("natural").alias("partition"),
        F.col("o_totalprice"),
    )
    fab = o.select(
        F.lit("fabricated").alias("partition"),
        (F.lit(5000) + _cents(F.col("o_totalprice")) % 1000)
        .cast("double").alias("o_totalprice"),
    )
    rule = builtin.benford_deviation(
        "o_totalprice", max_l1_ppm=1_000_000, min_rows=100)
    return rule.build(nat.unionByName(fab), RuleContext()).orderBy("partition")


SQL_BENFORD_CHECK = """
WITH fixture AS (
  SELECT 'natural' AS partition, o_totalprice AS v FROM orders
  UNION ALL
  SELECT 'fabricated',
         CAST(5000 + (CAST(ROUND(o_totalprice * 100) AS BIGINT) % 1000)
              AS DOUBLE)
  FROM orders
), d AS (
  SELECT partition,
         CAST(substr(CAST(CAST(FLOOR(v) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS dg
  FROM fixture WHERE v >= 1
), per AS (
  SELECT partition, COUNT(*) AS n,
         CAST(SUM(CASE WHEN dg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN dg = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN dg = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(SUM(CASE WHEN dg = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         CAST(SUM(CASE WHEN dg = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
         CAST(SUM(CASE WHEN dg = 6 THEN 1 ELSE 0 END) AS BIGINT) AS c6,
         CAST(SUM(CASE WHEN dg = 7 THEN 1 ELSE 0 END) AS BIGINT) AS c7,
         CAST(SUM(CASE WHEN dg = 8 THEN 1 ELSE 0 END) AS BIGINT) AS c8,
         CAST(SUM(CASE WHEN dg = 9 THEN 1 ELSE 0 END) AS BIGINT) AS c9
  FROM d GROUP BY 1
), l AS (
  SELECT partition, n,
         ABS((c1 * 1000000) // n - 301030)
         + ABS((c2 * 1000000) // n - 176091)
         + ABS((c3 * 1000000) // n - 124939)
         + ABS((c4 * 1000000) // n - 96910)
         + ABS((c5 * 1000000) // n - 79181)
         + ABS((c6 * 1000000) // n - 66947)
         + ABS((c7 * 1000000) // n - 57992)
         + ABS((c8 * 1000000) // n - 51153)
         + ABS((c9 * 1000000) // n - 45757) AS l1
  FROM per
)
SELECT partition, 'benford:o_totalprice' AS rule_id,
       CAST(NULL AS VARCHAR) AS doc_id,
       'o_totalprice first-digit L1 vs Benford: ' || CAST(l1 AS VARCHAR)
         || ' ppm over ' || CAST(n AS VARCHAR) || ' rows' AS detail
FROM l
WHERE n >= 100 AND l1 > 1000000
ORDER BY partition
"""


def q_corr_matrix(spark, sf):
    """All-pairs Pearson panel over lineitem's four numeric measures in
    ONE aggregation pass (profiler.correlation_matrix): 6 correlations
    from a single scan and a single 1-row hash agg of exact
    decimal(38,0) power sums — where per-pair ``df.corr`` would scan 6
    times. corr_micro = floor(r*1e6+0.5), bit-identical cross-engine.
    Reference analogue: statistical_analyzer.py pairwise feature
    screens."""
    from anomaly_detection_spark.profiler import correlation_matrix

    li = load(spark, sf, "lineitem")
    cols = {
        "quantity": _cents(F.col("l_quantity")),
        "extendedprice": _cents(F.col("l_extendedprice")),
        "discount": _cents(F.col("l_discount")),
        "tax": _cents(F.col("l_tax")),
    }
    return correlation_matrix(li, cols).orderBy("col_x", "col_y")


SQL_CORR_MATRIX = """
WITH c AS (
  SELECT CAST(ROUND(l_quantity*100) AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice*100) AS BIGINT) AS e,
         CAST(ROUND(l_discount*100) AS BIGINT) AS d,
         CAST(ROUND(l_tax*100) AS BIGINT) AS t
  FROM lineitem
), s AS (
  SELECT COUNT(*) AS n,
    SUM(q) AS s_q, SUM(e) AS s_e, SUM(d) AS s_d, SUM(t) AS s_t,
    SUM(CAST(q AS HUGEINT)*q) AS ss_q, SUM(CAST(e AS HUGEINT)*e) AS ss_e,
    SUM(CAST(d AS HUGEINT)*d) AS ss_d, SUM(CAST(t AS HUGEINT)*t) AS ss_t,
    SUM(CAST(q AS HUGEINT)*e) AS sp_qe, SUM(CAST(q AS HUGEINT)*d) AS sp_qd,
    SUM(CAST(q AS HUGEINT)*t) AS sp_qt, SUM(CAST(e AS HUGEINT)*d) AS sp_ed,
    SUM(CAST(e AS HUGEINT)*t) AS sp_et, SUM(CAST(d AS HUGEINT)*t) AS sp_dt
  FROM c
), r AS (
  SELECT 'quantity' AS col_x, 'extendedprice' AS col_y, n,
         CAST(n*sp_qe - s_q*s_e AS DOUBLE) AS num,
         CAST(n*ss_q - s_q*s_q AS DOUBLE) AS dx,
         CAST(n*ss_e - s_e*s_e AS DOUBLE) AS dy FROM s
  UNION ALL SELECT 'quantity', 'discount', n,
         CAST(n*sp_qd - s_q*s_d AS DOUBLE),
         CAST(n*ss_q - s_q*s_q AS DOUBLE),
         CAST(n*ss_d - s_d*s_d AS DOUBLE) FROM s
  UNION ALL SELECT 'quantity', 'tax', n,
         CAST(n*sp_qt - s_q*s_t AS DOUBLE),
         CAST(n*ss_q - s_q*s_q AS DOUBLE),
         CAST(n*ss_t - s_t*s_t AS DOUBLE) FROM s
  UNION ALL SELECT 'extendedprice', 'discount', n,
         CAST(n*sp_ed - s_e*s_d AS DOUBLE),
         CAST(n*ss_e - s_e*s_e AS DOUBLE),
         CAST(n*ss_d - s_d*s_d AS DOUBLE) FROM s
  UNION ALL SELECT 'extendedprice', 'tax', n,
         CAST(n*sp_et - s_e*s_t AS DOUBLE),
         CAST(n*ss_e - s_e*s_e AS DOUBLE),
         CAST(n*ss_t - s_t*s_t AS DOUBLE) FROM s
  UNION ALL SELECT 'discount', 'tax', n,
         CAST(n*sp_dt - s_d*s_t AS DOUBLE),
         CAST(n*ss_d - s_d*s_d AS DOUBLE),
         CAST(n*ss_t - s_t*s_t AS DOUBLE) FROM s
)
SELECT col_x, col_y, CAST(n AS BIGINT) AS n,
       CAST(FLOOR(num/(sqrt(dx)*sqrt(dy))*1000000 + 0.5) AS BIGINT)
         AS corr_micro
FROM r ORDER BY col_x, col_y
"""


def q_checksum_reconcile(spark, sf):
    """Snapshot reconciliation by order-independent content checksum
    (functions/reconcile.py): per-source 60-bit md5 row signatures sum
    mod 1e18 into a metadata-sized (partition, n_rows, checksum) table
    on each side; the migration verdict is a broadcast join of those
    tiny tables — the 100 TB copy is read once per side and never
    shuffled or sorted. Fixture: the 'previous' snapshot plants three
    failure modes against the current documents table — src19 missing
    entirely (only_current), ~1/3 of src7 rows dropped by an md5 gate
    (count_mismatch), ~1/2 of src3 texts corrupted (content_mismatch);
    every other source must report match. Reference analogue:
    risk_history_tracker.py:35-101 snapshot diffing, generalized to
    content equality."""
    from anomaly_detection_spark.functions.reconcile import (
        reconcile, table_checksum)

    d = load(spark, sf, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    hid = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    prev = (
        d.filter(~((F.col("source") == "src7") & (hid % 3 == 0)))
        .filter(F.col("source") != "src19")
        .withColumn(
            "text",
            F.when((F.col("source") == "src3") & (hid % 2 == 0),
                   F.concat(F.col("text"), F.lit("~corrupt")))
            .otherwise(F.col("text")))
    )
    return reconcile(
        table_checksum(d, cols, partition_col="source"),
        table_checksum(prev, cols, partition_col="source"),
    ).orderBy("partition")


SQL_CHECKSUM_RECONCILE = """
WITH hid AS (
  SELECT *, CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
         AS _hid
  FROM documents
), prev_rows AS (
  SELECT doc_id,
         CASE WHEN source = 'src3' AND _hid % 2 = 0
              THEN text || '~corrupt' ELSE text END AS text,
         lang, source, n_chars
  FROM hid
  WHERE NOT (source = 'src7' AND _hid % 3 = 0) AND source <> 'src19'
), sig_cur AS (
  SELECT source, CAST(('0x'||substr(md5(concat_ws(chr(31),
           CASE WHEN doc_id IS NULL THEN chr(1)
                ELSE chr(2) || CAST(doc_id AS VARCHAR) END,
           CASE WHEN text IS NULL THEN chr(1) ELSE chr(2) || text END,
           CASE WHEN lang IS NULL THEN chr(1) ELSE chr(2) || lang END,
           CASE WHEN source IS NULL THEN chr(1) ELSE chr(2) || source END,
           CASE WHEN n_chars IS NULL THEN chr(1)
                ELSE chr(2) || CAST(n_chars AS VARCHAR) END)),1,15)) AS BIGINT)
         AS h
  FROM documents
), sig_prev AS (
  SELECT source, CAST(('0x'||substr(md5(concat_ws(chr(31),
           CASE WHEN doc_id IS NULL THEN chr(1)
                ELSE chr(2) || CAST(doc_id AS VARCHAR) END,
           CASE WHEN text IS NULL THEN chr(1) ELSE chr(2) || text END,
           CASE WHEN lang IS NULL THEN chr(1) ELSE chr(2) || lang END,
           CASE WHEN source IS NULL THEN chr(1) ELSE chr(2) || source END,
           CASE WHEN n_chars IS NULL THEN chr(1)
                ELSE chr(2) || CAST(n_chars AS VARCHAR) END)),1,15)) AS BIGINT)
         AS h
  FROM prev_rows
), cur AS (
  SELECT source AS partition, COUNT(*) AS n_rows,
         CAST(SUM(h) % 1000000000000000000 AS BIGINT) AS checksum
  FROM sig_cur GROUP BY 1
), prev AS (
  SELECT source AS partition, COUNT(*) AS n_rows,
         CAST(SUM(h) % 1000000000000000000 AS BIGINT) AS checksum
  FROM sig_prev GROUP BY 1
)
SELECT COALESCE(cur.partition, prev.partition) AS partition,
       CASE WHEN prev.n_rows IS NULL THEN 'only_current'
            WHEN cur.n_rows IS NULL THEN 'only_previous'
            WHEN cur.n_rows <> prev.n_rows THEN 'count_mismatch'
            WHEN cur.checksum <> prev.checksum THEN 'content_mismatch'
            ELSE 'match' END AS status,
       cur.n_rows AS n_cur, prev.n_rows AS n_prev
FROM cur FULL OUTER JOIN prev ON cur.partition = prev.partition
ORDER BY 1
"""


def q_vocab_overlap_sketch(spark, sf):
    """Cross-source vocabulary overlap from KMV/Theta sketches
    (sketch.kmv_overlap): the bigram vocabularies of three source pairs
    compared WITHOUT ever joining the token sets — k=128 k-min-hash
    sketches per source, theta-cut union sample, exact membership inside
    the cut, Theta scale-up. The exact distinct-set Jaccard rides along
    as the verification side. At 100 TB this is how you screen ALL
    source pairs for shared boilerplate/contamination at kilobytes per
    source instead of a quadratic set-join sweep."""
    from anomaly_detection_spark.functions.dedup import _shingles_of
    from anomaly_detection_spark.functions.sketch import (
        kmv_build, kmv_overlap)

    d = load(spark, sf, "documents")
    base = d.select(
        "source", text.tokens(F.lower(F.col("text"))).alias("_toks"))
    grams = base.select(
        "source", F.explode_outer(_shingles_of(F.col("_toks"), 2)).alias("g")
    ).filter(F.col("g").isNotNull())
    PAIRS = [("src0", "src1"), ("src0", "src2"), ("src1", "src2")]
    outs = []
    for sa, sb in PAIRS:
        A = grams.filter(F.col("source") == sa)
        B = grams.filter(F.col("source") == sb)
        ov = kmv_overlap(kmv_build(A, "g", k=128),
                         kmv_build(B, "g", k=128), k=128)
        da = A.select("g").distinct()
        db = B.select("g").distinct()
        ex = (
            da.join(db, "g", "left_semi")
            .agg(F.count(F.lit(1)).alias("inter_exact"))
            .crossJoin(da.unionByName(db).distinct()
                       .agg(F.count(F.lit(1)).alias("union_exact")))
        )
        outs.append(ov.crossJoin(ex).select(
            F.lit(f"{sa}|{sb}").alias("pair"),
            "union_est", "inter_est", "jaccard_ppm",
            F.col("union_exact").cast("long").alias("union_exact"),
            F.col("inter_exact").cast("long").alias("inter_exact"),
            F.floor(F.lit(1_000_000.0) * F.col("inter_exact")
                    / F.greatest(F.col("union_exact"), F.lit(1))
                    + F.lit(0.5)).cast("long").alias("jaccard_exact_ppm"),
        ))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("pair")


_KMV_SPACE_SQL = "1152921504606846976"


def _vocab_overlap_pair_sql(sa: str, sb: str) -> str:
    sp = _KMV_SPACE_SQL
    return f"""(
  WITH toks AS (
    SELECT source,
           list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS toks
    FROM documents WHERE source IN ('{sa}', '{sb}')
  ), grams AS (
    SELECT source, unnest(CASE WHEN len(toks) >= 2 THEN
        list_transform(generate_series(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i + 1])
      ELSE CAST([] AS VARCHAR[]) END) AS g
    FROM toks
  ), ska AS (
    SELECT DISTINCT CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) AS hash
    FROM grams WHERE source = '{sa}' ORDER BY hash LIMIT 128
  ), skb AS (
    SELECT DISTINCT CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) AS hash
    FROM grams WHERE source = '{sb}' ORDER BY hash LIMIT 128
  ), th AS (
    SELECT LEAST(
      (SELECT CASE WHEN COUNT(*) >= 128 THEN MAX(hash) ELSE {sp} END
       FROM ska),
      (SELECT CASE WHEN COUNT(*) >= 128 THEN MAX(hash) ELSE {sp} END
       FROM skb)) AS th
  ), u AS (
    SELECT hash FROM (SELECT hash FROM ska UNION SELECT hash FROM skb), th
    WHERE hash <= th
  ), cnts AS (
    SELECT (SELECT COUNT(*) FROM u) AS nu,
           (SELECT COUNT(*) FROM u
            WHERE hash IN (SELECT hash FROM ska)
              AND hash IN (SELECT hash FROM skb)) AS ni,
           (SELECT th FROM th) AS th
  ), ex AS (
    SELECT
      (SELECT COUNT(*) FROM (
         SELECT DISTINCT g FROM grams WHERE source = '{sa}'
         INTERSECT SELECT DISTINCT g FROM grams WHERE source = '{sb}'))
        AS inter_exact,
      (SELECT COUNT(DISTINCT g) FROM grams) AS union_exact
  )
  SELECT '{sa}|{sb}' AS pair,
    CAST(CASE WHEN th >= {sp} THEN nu
         ELSE CAST(nu * CAST({sp} AS HUGEINT) // th AS BIGINT) END
      AS BIGINT) AS union_est,
    CAST(CASE WHEN th >= {sp} THEN ni
         ELSE CAST(ni * CAST({sp} AS HUGEINT) // th AS BIGINT) END
      AS BIGINT) AS inter_est,
    CAST(FLOOR(1000000.0 * ni / GREATEST(nu, 1) + 0.5) AS BIGINT)
      AS jaccard_ppm,
    CAST(union_exact AS BIGINT) AS union_exact,
    CAST(inter_exact AS BIGINT) AS inter_exact,
    CAST(FLOOR(1000000.0 * inter_exact / GREATEST(union_exact, 1) + 0.5)
      AS BIGINT) AS jaccard_exact_ppm
  FROM cnts, ex
)"""


SQL_VOCAB_OVERLAP_SKETCH = (
    _vocab_overlap_pair_sql("src0", "src1")
    + " UNION ALL " + _vocab_overlap_pair_sql("src0", "src2")
    + " UNION ALL " + _vocab_overlap_pair_sql("src1", "src2")
    + " ORDER BY pair"
)


def q_kmv_rollup_daily(spark, sf):
    """Lossless sketch rollup (sketch.kmv_build_grouped): per-day KMV
    sketches of distinct active users merged up to months — the k-min
    set of a month IS the k-min of the union of its days' k-min sets, so
    the merged estimate equals the direct monthly estimate EXACTLY,
    proven per month by emitting both columns. This is the operational
    point of mergeable sketches at 100 TB: daily profiling jobs produce
    kilobyte sketches; month/quarter/corpus cardinalities roll up from
    them with no rescan and no added error. k=32 keeps both regimes
    (exact below k, estimator above) in play on this corpus."""
    from anomaly_detection_spark.functions.sketch import (
        kmv_build_grouped, kmv_estimate_grouped)

    K = 32
    e = load(spark, sf, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "yyyy-MM").alias("month"), "user_id")
    daily = kmv_build_grouped(e.select("day", "user_id"), "day", "user_id",
                              k=K)
    day_month = F.expr("substring(day, 1, 7)")
    w = Window.partitionBy("month").orderBy("hash")
    merged = (
        daily.select(day_month.alias("month"), "hash").distinct()
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= K)
    )
    est_merged = kmv_estimate_grouped(merged, "month", k=K) \
        .select("month", F.col("est").alias("est_merged"))
    direct = kmv_build_grouped(e.select("month", "user_id"), "month",
                               "user_id", k=K)
    est_direct = kmv_estimate_grouped(direct, "month", k=K) \
        .select("month", F.col("n_hashes").alias("n_hashes"),
                F.col("est").alias("est_direct"))
    return est_direct.join(est_merged, "month").select(
        "month", "n_hashes", "est_direct", "est_merged",
        (F.col("est_direct") == F.col("est_merged")).cast("int")
        .alias("rollup_exact"),
    ).orderBy("month")


SQL_KMV_ROLLUP_DAILY = """
WITH e AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, strftime(ts, '%Y-%m') AS month,
         user_id
  FROM events
), dh AS (
  SELECT DISTINCT day,
    CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT)
      AS hash
  FROM e WHERE user_id IS NOT NULL
), daily AS (
  SELECT day, hash FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY day ORDER BY hash) AS pos
    FROM dh) WHERE pos <= 32
), merged AS (
  SELECT month, hash FROM (
    SELECT month, hash,
           ROW_NUMBER() OVER (PARTITION BY month ORDER BY hash) AS pos
    FROM (SELECT DISTINCT substring(day, 1, 7) AS month, hash FROM daily))
  WHERE pos <= 32
), est_m AS (
  SELECT month, COUNT(*) AS n, MAX(hash) AS kth FROM merged GROUP BY 1
), mh AS (
  SELECT DISTINCT month,
    CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT)
      AS hash
  FROM e WHERE user_id IS NOT NULL
), direct AS (
  SELECT month, hash FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY month ORDER BY hash) AS pos
    FROM mh) WHERE pos <= 32
), est_d AS (
  SELECT month, COUNT(*) AS n, MAX(hash) AS kth FROM direct GROUP BY 1
), est AS (
  SELECT d.month,
    CAST(d.n AS BIGINT) AS n_hashes,
    CAST(CASE WHEN d.n < 32 THEN d.n
         ELSE CAST(31 * CAST(1152921504606846976 AS HUGEINT) // d.kth
                   AS BIGINT) END AS BIGINT) AS est_direct,
    CAST(CASE WHEN m.n < 32 THEN m.n
         ELSE CAST(31 * CAST(1152921504606846976 AS HUGEINT) // m.kth
                   AS BIGINT) END AS BIGINT) AS est_merged
  FROM est_d d JOIN est_m m ON d.month = m.month
)
SELECT month, n_hashes, est_direct, est_merged,
       CAST(CASE WHEN est_direct = est_merged THEN 1 ELSE 0 END AS INTEGER)
         AS rollup_exact
FROM est ORDER BY month
"""


def q_kmv_distinct(spark, sf):
    """KMV distinct-count sketches (sketch.kmv_build/kmv_estimate) over
    four key columns: the engine-portable cardinality sketch (k smallest
    md5 hashes; HyperLogLog register layouts are engine-private, the
    k-min set is not). Columns under k=256 distinct values take the exact
    path (the sketch IS the distinct set); larger ones exercise the
    (k−1)·SPACE div kth_min estimator — signed error vs the exact
    distinct count is emitted per column. Sketches fold with ONE
    distinct-agg + partial top-k per task (TakeOrderedAndProject), never
    a global sort of the key space; merge==recompute is property-tested
    in tests/test_sketch.py."""
    from anomaly_detection_spark.functions.sketch import (
        kmv_build, kmv_estimate)

    COLS = [
        ("documents.lang", "documents", "lang"),
        ("events.user_id", "events", "user_id"),
        ("lineitem.l_partkey", "lineitem", "l_partkey"),
        ("orders.o_custkey", "orders", "o_custkey"),
    ]
    outs = []
    for label, table, col in COLS:
        t = load(spark, sf, table)
        est = kmv_estimate(kmv_build(t, col, k=256), k=256)
        exact = t.filter(F.col(col).isNotNull()).agg(
            F.countDistinct(col).cast("long").alias("exact"))
        outs.append(
            est.crossJoin(exact)
            .select(F.lit(label).alias("column"), "n_hashes", "est",
                    "exact"))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.select(
        "column", "n_hashes", "est", "exact",
        F.floor(F.lit(1_000_000.0) * (F.col("est") - F.col("exact"))
                / F.greatest(F.col("exact"), F.lit(1)) + F.lit(0.5))
        .cast("long").alias("err_ppm"),
    ).orderBy("column")


def _kmv_col_sql(label: str, table: str, col: str) -> str:
    h = (f"CAST(('0x'||substr(md5(CAST({col} AS VARCHAR)),1,15)) AS BIGINT)")
    return f"""
  SELECT '{label}' AS "column", n_hashes, est,
    (SELECT COUNT(DISTINCT {col}) FROM {table}
     WHERE {col} IS NOT NULL) AS exact
  FROM (
    SELECT COUNT(*) AS n_hashes,
      CASE WHEN COUNT(*) < 256 THEN COUNT(*)
           ELSE CAST(CAST(1152921504606846976 AS HUGEINT) * 255
                     // MAX(hash) AS BIGINT) END AS est
    FROM (SELECT DISTINCT {h} AS hash FROM {table}
          WHERE {col} IS NOT NULL
          ORDER BY hash LIMIT 256))"""


SQL_KMV_DISTINCT = f"""
WITH u AS (
{_kmv_col_sql('documents.lang', 'documents', 'lang')}
  UNION ALL
{_kmv_col_sql('events.user_id', 'events', 'user_id')}
  UNION ALL
{_kmv_col_sql('lineitem.l_partkey', 'lineitem', 'l_partkey')}
  UNION ALL
{_kmv_col_sql('orders.o_custkey', 'orders', 'o_custkey')}
)
SELECT "column", CAST(n_hashes AS BIGINT) AS n_hashes,
       CAST(est AS BIGINT) AS est, CAST(exact AS BIGINT) AS exact,
       CAST(FLOOR(1000000.0 * (est - exact) / GREATEST(exact, 1) + 0.5)
            AS BIGINT) AS err_ppm
FROM u ORDER BY "column"
"""


def q_join_size_estimate(spark, sf):
    """Sketch-based join-cardinality estimation (sketch.cms_inner_product):
    |A ⋈ B| on three TPC-H fk pairs estimated from 4×1024 count-min
    sketches of each key column — the planner-side statistic that decides
    broadcast vs shuffle vs salting WITHOUT executing the join or holding
    per-key counts (whose cardinality is unbounded at 100 TB). The exact
    Σ f_A·f_B rides the key-count join as the verification side; the CMS
    guarantee (estimate never undercounts) is emitted as over_ppm."""
    from anomaly_detection_spark.functions.sketch import (
        cms_build, cms_inner_product)

    PAIRS = [
        ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem_orders", "lineitem", "l_orderkey", "orders",
         "o_orderkey"),
    ]
    outs = []
    for pair, ta, ca, tb, cb in PAIRS:
        a, b = load(spark, sf, ta), load(spark, sf, tb)
        ska = cms_build(a.select(ca), ca, depth=4, width=1024)
        skb = cms_build(b.select(cb), cb, depth=4, width=1024)
        est = cms_inner_product(ska, skb)
        fa = a.groupBy(F.col(ca).alias("_k")).agg(F.count(F.lit(1)).alias("_fa"))
        fb = b.groupBy(F.col(cb).alias("_k")).agg(F.count(F.lit(1)).alias("_fb"))
        exact = fa.join(fb, "_k").agg(
            F.coalesce(F.sum(F.col("_fa") * F.col("_fb")), F.lit(0))
            .cast("long").alias("exact_rows"))
        outs.append(
            exact.crossJoin(est)
            .select(F.lit(pair).alias("pair"), "exact_rows", "est_rows"))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.select(
        "pair", "exact_rows", "est_rows",
        F.floor(F.lit(1_000_000.0) * (F.col("est_rows") - F.col("exact_rows"))
                / F.greatest(F.col("exact_rows"), F.lit(1)) + F.lit(0.5))
        .cast("long").alias("over_ppm"),
    ).orderBy("pair")


def _cms_pair_sql(pair: str, ta: str, ca: str, tb: str, cb: str) -> str:
    def sk(t, c):
        h = (f"CAST(('0x'||substr(md5(CAST(r AS VARCHAR)||':'"
             f"||CAST({c} AS VARCHAR)),1,8)) AS BIGINT) % 1024")
        return (f"SELECT r, {h} AS bucket, COUNT(*) AS cnt "
                f"FROM {t}, rows_ GROUP BY 1, 2")
    return f"""
  SELECT '{pair}' AS pair,
    (SELECT COALESCE(SUM(fa.c * fb.c), 0) FROM
       (SELECT {ca} AS k, COUNT(*) AS c FROM {ta} GROUP BY 1) fa
       JOIN (SELECT {cb} AS k, COUNT(*) AS c FROM {tb} GROUP BY 1) fb
       USING (k)) AS exact_rows,
    (SELECT CASE WHEN COUNT(*) < 4 THEN 0 ELSE MIN(ip) END FROM (
       SELECT a.r, SUM(a.cnt * b.cnt) AS ip
       FROM ({sk(ta, ca)}) a JOIN ({sk(tb, cb)}) b
         ON a.r = b.r AND a.bucket = b.bucket
       GROUP BY a.r)) AS est_rows"""


SQL_JOIN_SIZE_ESTIMATE = f"""
WITH rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r), u AS (
{_cms_pair_sql('orders_customer', 'orders', 'o_custkey',
               'customer', 'c_custkey')}
  UNION ALL
{_cms_pair_sql('lineitem_part', 'lineitem', 'l_partkey',
               'part', 'p_partkey')}
  UNION ALL
{_cms_pair_sql('lineitem_orders', 'lineitem', 'l_orderkey',
               'orders', 'o_orderkey')}
)
SELECT pair, CAST(exact_rows AS BIGINT) AS exact_rows,
       CAST(est_rows AS BIGINT) AS est_rows,
       CAST(FLOOR(1000000.0 * (est_rows - exact_rows)
                  / GREATEST(exact_rows, 1) + 0.5) AS BIGINT) AS over_ppm
FROM u ORDER BY pair
"""


def q_heavy_hitters(spark, sf):
    """Per-column heavy hitters (profiler.frequent_values): top-3 values
    of three documents columns from ONE scan — stack-unpivot, one
    map-side-combined count agg, then the skew-safe two-phase top-k
    (salted phase ranks before the per-column final rank, so a
    doc_id-cardinality column never lands in one window task).
    Deterministic tie-break count DESC, value ASC. Reference analogue:
    statistical_analyzer.py value_counts screens."""
    from anomaly_detection_spark.profiler import frequent_values

    d = load(spark, sf, "documents")
    return frequent_values(d, ["lang", "source", "n_chars"], k=3) \
        .orderBy("column", "rank")


SQL_HEAVY_HITTERS = """
WITH vals AS (
  SELECT 'lang' AS "column", CAST(lang AS VARCHAR) AS value
  FROM documents WHERE lang IS NOT NULL
  UNION ALL
  SELECT 'source', CAST(source AS VARCHAR)
  FROM documents WHERE source IS NOT NULL
  UNION ALL
  SELECT 'n_chars', CAST(n_chars AS VARCHAR)
  FROM documents WHERE n_chars IS NOT NULL
), c AS (
  SELECT "column", value, COUNT(*) AS cnt FROM vals GROUP BY 1, 2
), r AS (
  SELECT "column", value, cnt,
         ROW_NUMBER() OVER (PARTITION BY "column"
                            ORDER BY cnt DESC, value) AS rank
  FROM c
)
SELECT "column", value, cnt, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 3 ORDER BY "column", rank
"""


def q_cms_heavy_hitters(spark, sf):
    """Count-min sketch frequency estimation (functions/sketch.py) over
    the open token vocabulary: fold every token occurrence into a 4×512
    counter table (bounded state regardless of cardinality — the path
    `heavy_hitters`' exact aggregate cannot take when the key space is
    unbounded), then point-estimate the top-10 exact tokens against it.
    The exact counts are the in-test verification side: the sketch
    guarantee ``exact ≤ est ≤ exact + εN`` is emitted as `overcount`.
    Sketch cells use first-8-hex md5 per row — the DuckDB oracle replays
    the identical table. Merge==recompute is property-tested in
    tests/test_sketch.py. Reference analogue: the Counter frequency maps
    of user_profile_builder.py:121-127, exact-only."""
    from anomaly_detection_spark.functions import sketch as sk

    d = load(spark, sf, "documents")
    toks = d.select(
        F.explode_outer(text.tokens(F.col("text"))).alias("token")
    ).filter(F.col("token").isNotNull())
    cms = sk.cms_build(toks, "token", depth=4, width=512)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("token")).limit(10)
    est = sk.cms_estimate(cms, top.select("token"), "token",
                          depth=4, width=512)
    return (
        top.join(est, "token")
        .select(
            "token", "exact_cnt", "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("exact_cnt"), "token")
    )


_CMS_HASH = ("CAST(('0x'||substr(md5(CAST(r AS VARCHAR)||':'||token),1,8))"
             " AS BIGINT) % 512")

SQL_CMS_HEAVY_HITTERS = f"""
WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS token FROM documents
), rows_ AS (
  SELECT unnest([0, 1, 2, 3]) AS r
), sketch AS (
  SELECT r AS row, {_CMS_HASH} AS bucket, COUNT(*) AS cnt
  FROM toks, rows_ GROUP BY 1, 2
), exact AS (
  SELECT token, COUNT(*) AS exact_cnt FROM toks GROUP BY 1
), top AS (
  SELECT token, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, token LIMIT 10
), probes AS (
  SELECT token, exact_cnt, r, {_CMS_HASH} AS bucket FROM top, rows_
), est AS (
  SELECT token, exact_cnt,
         MIN(COALESCE(s.cnt, 0)) AS cms_est
  FROM probes p LEFT JOIN sketch s ON p.r = s.row AND p.bucket = s.bucket
  GROUP BY 1, 2
)
SELECT token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overcount
FROM est ORDER BY exact_cnt DESC, token
"""


def q_json_key_profile(spark, sf):
    """Semi-structured schema discovery (profiler.json_key_profile) over
    the events.props JSON column: per top-level key, presence count,
    type-class counts, and the integer value envelope — one explode +
    one agg, output bounded by key cardinality, never by row count.
    (The oracle renders values via json_each; both engines see the
    integer-valued props this corpus carries identically — string/null
    JSON values have engine-specific renderings covered by the unit
    tests instead.) Reference analogue: data_loader.py's hard-coded
    per-log column lists — this is the discovery pass before them."""
    from anomaly_detection_spark.profiler import json_key_profile

    e = load(spark, sf, "events")
    return json_key_profile(e, "props").orderBy("key")


SQL_JSON_KEY_PROFILE = """
WITH kv AS (
  SELECT key, json_extract_string(props, '$.' || key) AS v
  FROM (
    SELECT props, unnest(json_keys(props)) AS key
    FROM events WHERE props IS NOT NULL
  )
)
SELECT key,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN regexp_full_match(v, '-?[0-9]+')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
       CAST(SUM(CASE WHEN v IN ('true','false') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_bool,
       CAST(0 AS BIGINT) AS n_null,
       CAST(SUM(CASE WHEN NOT regexp_full_match(v, '-?[0-9]+')
                      AND v NOT IN ('true','false')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_other,
       MIN(CASE WHEN regexp_full_match(v, '-?[0-9]+')
                THEN CAST(v AS BIGINT) END) AS vmin,
       MAX(CASE WHEN regexp_full_match(v, '-?[0-9]+')
                THEN CAST(v AS BIGINT) END) AS vmax
FROM kv GROUP BY key ORDER BY key
"""


def q_group_cap_sample(spark, sf):
    """Anti-domination curation cap (curation.group_cap_sample): at most
    7 docs per source, chosen by deterministic md5-hash order of doc_id —
    the skew-safe exact two-phase top-k (salted rank, then final rank
    over ≤ salt_buckets×cap survivors), so a source holding half the
    corpus never funnels into one window task. Reference analogue:
    user_profile_builder.py's per-user history windowing, recast as a
    corpus mixing cap."""
    from anomaly_detection_spark.functions.curation import group_cap_sample

    d = load(spark, sf, "documents")
    return group_cap_sample(d, "source", 7).select(
        "source", "doc_id").orderBy("source", "doc_id")


SQL_GROUP_CAP_SAMPLE = """
WITH r AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
SELECT source, doc_id FROM r WHERE rn <= 7 ORDER BY source, doc_id
"""


def q_seasonal_residuals(spark, sf):
    """Seasonal-baseline anomaly scores (timeseries.seasonal_residuals):
    each (event_type, date, hour) bucket scored against that hour-of-day's
    cross-day baseline in exact micro-z units — "is 3 AM activity unusual
    FOR 3 AM?". Two map-side-combined aggs + one broadcast join of the
    #keys×24-row profile; the corpus shuffles once. z from integer power
    sums, bit-identical cross-engine. Reference analogue:
    time_analyzer.py:40-54 per-hour baselining."""
    from anomaly_detection_spark.functions.timeseries import (
        seasonal_residuals)

    e = load(spark, sf, "events")
    return (
        seasonal_residuals(e)
        # ISO string on both sides: DuckDB DATE materializes to pandas
        # datetime64 ("... 00:00:00") and would hash-mismatch Spark's date
        .withColumn("day", F.col("day").cast("string"))
        .orderBy("key", "day", "hour")
    )


SQL_SEASONAL_RESIDUALS = """
WITH hourly AS (
  SELECT event_type AS key, CAST(ts AS DATE) AS day,
         EXTRACT(hour FROM ts) AS hour, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2, 3
), prof AS (
  SELECT key, hour, COUNT(*) AS n_days,
         SUM(cnt) AS sx, SUM(cnt * cnt) AS sxx
  FROM hourly GROUP BY 1, 2
)
SELECT h.key, CAST(h.day AS VARCHAR) AS day,
       CAST(h.hour AS INTEGER) AS hour, h.cnt, p.n_days,
       CAST(FLOOR(
         CAST(p.n_days * h.cnt - p.sx AS DOUBLE)
         / sqrt(CAST(p.n_days * p.sxx - p.sx * p.sx AS DOUBLE))
         * 1000000 + 0.5) AS BIGINT) AS z_micro
FROM hourly h JOIN prof p ON h.key = p.key AND h.hour = p.hour
WHERE p.n_days >= 3 AND p.n_days * p.sxx > p.sx * p.sx
ORDER BY h.key, h.day, h.hour
"""


def q_containment_pairs(spark, sf):
    """Asymmetric containment dedup (dedup.ngram_containment_pairs):
    |A∩B|/min(|A|,|B|) over 3-gram shingles — the quote-inclusion lens
    MinHash-LSH (a Jaccard sketch) misses. Candidates from a
    frequency-capped shingle inverted index (max_df stop-shingle drop,
    ≥2 shared rare shingles), exact verify on candidates only; fan-out
    bounded by Σ df², pairs docs of very different sizes by design."""
    from anomaly_detection_spark.functions import dedup

    d = load(spark, sf, "documents")
    return dedup.ngram_containment_pairs(
        d, threshold=0.8, max_df=100, min_shared=2
    ).orderBy("id_a", "id_b")


SQL_CONTAINMENT_PAIRS = f"""
WITH t AS (SELECT doc_id, {{toks}} AS toks FROM documents),
s AS (SELECT doc_id, list_distinct({{shingles}}) AS sh FROM t),
ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
keep AS (SELECT g FROM ex GROUP BY g HAVING COUNT(*) <= 100),
exk AS (SELECT ex.doc_id, ex.g FROM ex JOIN keep USING (g)),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM exk a JOIN exk b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), p AS (
  SELECT id_a, id_b, sa.sh AS sh_a, sb.sh AS sh_b
  FROM cand
  JOIN s sa ON sa.doc_id = cand.id_a
  JOIN s sb ON sb.doc_id = cand.id_b
)
SELECT id_a, id_b,
       CAST(len(sh_a) AS INTEGER) AS n_a,
       CAST(len(sh_b) AS INTEGER) AS n_b,
       ROUND(len(list_intersect(sh_a, sh_b))
             / LEAST(len(sh_a), len(sh_b)), 6) AS containment
FROM p
WHERE ROUND(len(list_intersect(sh_a, sh_b))
            / LEAST(len(sh_a), len(sh_b)), 6) >= 0.8
ORDER BY id_a, id_b
"""
SQL_CONTAINMENT_PAIRS = SQL_CONTAINMENT_PAIRS.format(
    toks=_TOKS_SQL, shingles=_SHINGLES_SQL)


def q_correlation_drift(spark, sf):
    """Relationship drift: the all-pairs correlation panel of the current
    snapshot joined against the previous snapshot's — columns whose
    RELATIONSHIP changed (a decoupled fee, a broken derived column) even
    when each column's own distribution profile drifts nowhere. Both
    panels are single-scan exact-power-sum aggs
    (profiler.correlation_matrix); the join is 6 rows ⋈ 6 rows and the
    delta is pure integer micro-units. Fixture: the 'previous' snapshot
    plants l_tax ≡ l_quantity (corr exactly 1.0), so the
    (quantity, tax) pair must surface with the largest delta. Reference
    analogue: statistical_analyzer.py correlation screens, made
    longitudinal."""
    from anomaly_detection_spark.profiler import correlation_matrix

    li = load(spark, sf, "lineitem")
    cols_cur = {
        "quantity": _cents(F.col("l_quantity")),
        "extendedprice": _cents(F.col("l_extendedprice")),
        "tax": _cents(F.col("l_tax")),
    }
    cols_prev = dict(cols_cur, tax=_cents(F.col("l_quantity")))
    cur = correlation_matrix(li, cols_cur)
    prev = correlation_matrix(li, cols_prev).select(
        "col_x", "col_y",
        F.col("corr_micro").alias("prev_corr_micro"))
    return (
        cur.join(prev, ["col_x", "col_y"])
        .select(
            "col_x", "col_y", "n", "corr_micro", "prev_corr_micro",
            F.abs(F.col("corr_micro") - F.col("prev_corr_micro"))
            .alias("delta_micro"),
        )
        .orderBy(F.desc("delta_micro"), "col_x", "col_y")
    )


def _corr3_sql(tax_expr: str) -> str:
    """6-row (col_x, col_y, n, corr_micro) SQL over lineitem's
    (quantity, extendedprice, tax-cents := ``tax_expr``) — the DuckDB
    mirror of correlation_matrix for the drift fixture."""
    names = {"q": "quantity", "e": "extendedprice", "t": "tax"}
    pairs = [("q", "e"), ("q", "t"), ("e", "t")]
    sums = ", ".join(
        [f"SUM({a}) AS s_{a}, SUM(CAST({a} AS HUGEINT)*{a}) AS ss_{a}"
         for a in names]
        + [f"SUM(CAST({a} AS HUGEINT)*{b}) AS sp_{a}{b}" for a, b in pairs])
    rows = "\n  UNION ALL ".join(
        f"SELECT '{names[a]}' AS col_x, '{names[b]}' AS col_y, n, "
        f"CAST(n*sp_{a}{b} - s_{a}*s_{b} AS DOUBLE) AS num, "
        f"CAST(n*ss_{a} - s_{a}*s_{a} AS DOUBLE) AS dx, "
        f"CAST(n*ss_{b} - s_{b}*s_{b} AS DOUBLE) AS dy FROM s"
        for a, b in pairs)
    return f"""(
  WITH c AS (
    SELECT CAST(ROUND(l_quantity*100) AS BIGINT) AS q,
           CAST(ROUND(l_extendedprice*100) AS BIGINT) AS e,
           {tax_expr} AS t
    FROM lineitem
  ), s AS (SELECT COUNT(*) AS n, {sums} FROM c)
  SELECT col_x, col_y, CAST(n AS BIGINT) AS n,
         CAST(FLOOR(num/(sqrt(dx)*sqrt(dy))*1000000 + 0.5) AS BIGINT)
           AS corr_micro
  FROM ({rows})
)"""


SQL_CORRELATION_DRIFT = f"""
SELECT cur.col_x, cur.col_y, cur.n, cur.corr_micro,
       prev.corr_micro AS prev_corr_micro,
       ABS(cur.corr_micro - prev.corr_micro) AS delta_micro
FROM {_corr3_sql("CAST(ROUND(l_tax*100) AS BIGINT)")} cur
JOIN {_corr3_sql("CAST(ROUND(l_quantity*100) AS BIGINT)")} prev
  ON cur.col_x = prev.col_x AND cur.col_y = prev.col_y
ORDER BY delta_micro DESC, cur.col_x, cur.col_y
"""


def q_split_leakage(spark, sf):
    """Train/test leakage audit: duplicate-content groups whose members
    land in DIFFERENT hash splits — identical text in train and in
    val/test silently inflates eval. Splits are the md5-bucket
    `curation.split_column` assignment (membership is a pure function of
    doc_id, so the audit is reproducible); duplicate groups come from
    the exact md5(text) fingerprint. One hash agg over (text_hash) with
    conditional split counts — map-side combined, no window, no join;
    the near-dup generalization feeds `lsh_candidate_pairs` output into
    the same group-spanning test. Returns the leaking groups with
    per-split member counts, worst (largest) first. Reference analogue:
    the reference's exact-dup screens, recast as an eval-integrity
    audit."""
    from anomaly_detection_spark.functions import curation

    d = load(spark, sf, "documents").filter(F.col("text").isNotNull())
    g = (
        d.select(
            F.md5("text").alias("text_hash"),
            curation.split_column("doc_id").alias("split"),
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("split") == "train").cast("long")).alias("n_train"),
            F.sum((F.col("split") == "val").cast("long")).alias("n_val"),
            F.sum((F.col("split") == "test").cast("long")).alias("n_test"),
        )
    )
    spans = (
        (F.col("n_train") > 0).cast("int")
        + (F.col("n_val") > 0).cast("int")
        + (F.col("n_test") > 0).cast("int")
    )
    return (
        g.filter(spans >= 2)
        .orderBy(F.desc("n_docs"), "text_hash")
    )


SQL_SPLIT_LEAKAGE = """
WITH s AS (
  SELECT md5(text) AS text_hash,
         CASE
           WHEN CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))
                     AS BIGINT) % 100 < 80 THEN 'train'
           WHEN CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))
                     AS BIGINT) % 100 < 90 THEN 'val'
           ELSE 'test'
         END AS split
  FROM documents WHERE text IS NOT NULL
), g AS (
  SELECT text_hash, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_val,
         CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_test
  FROM s GROUP BY 1
)
SELECT * FROM g
WHERE (CASE WHEN n_train > 0 THEN 1 ELSE 0 END
       + CASE WHEN n_val > 0 THEN 1 ELSE 0 END
       + CASE WHEN n_test > 0 THEN 1 ELSE 0 END) >= 2
ORDER BY n_docs DESC, text_hash
"""


def q_event_funnel(spark, sf):
    """First-touch funnel view → click → purchase: a user reaches step k
    when every step ≤ k occurred and the FIRST occurrences are in funnel
    order (m_view ≤ m_click ≤ m_purchase) — the standard loose-funnel
    semantics. ONE groupBy(user) agg of conditional min-timestamps (one
    shuffle, map-side combined), then a 150-row flag rollup; counts are
    exact integers. Reference analogue: behavioral sequence screens in
    the reference's per-user event analysis."""
    e = load(spark, sf, "events")
    m = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        .alias("m_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts")))
        .alias("m_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("m_buy"),
    )
    s1 = F.col("m_view").isNotNull()
    s2 = s1 & F.col("m_click").isNotNull() & (F.col("m_view") <= F.col("m_click"))
    s3 = s2 & F.col("m_buy").isNotNull() & (F.col("m_click") <= F.col("m_buy"))
    return m.agg(
        F.sum(s1.cast("long")).alias("n_view"),
        F.sum(s2.cast("long")).alias("n_view_click"),
        F.sum(s3.cast("long")).alias("n_view_click_purchase"),
        F.count(F.lit(1)).alias("n_users"),
    )


SQL_EVENT_FUNNEL = """
WITH m AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS m_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS m_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS m_buy
  FROM events GROUP BY 1
)
SELECT
  CAST(SUM(CASE WHEN m_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_view,
  CAST(SUM(CASE WHEN m_view IS NOT NULL AND m_click IS NOT NULL
                 AND m_view <= m_click THEN 1 ELSE 0 END) AS BIGINT)
    AS n_view_click,
  CAST(SUM(CASE WHEN m_view IS NOT NULL AND m_click IS NOT NULL
                 AND m_view <= m_click AND m_buy IS NOT NULL
                 AND m_click <= m_buy THEN 1 ELSE 0 END) AS BIGINT)
    AS n_view_click_purchase,
  COUNT(*) AS n_users
FROM m
"""


def q_retention_cohorts(spark, sf):
    """Weekly retention cohorts: users grouped by the Monday-start week
    of their FIRST event, counted in each subsequent week-offset they
    were active — the (cohort_week, week_offset, n_users) retention
    triangle. Two aggs (per-user first event; per-(user, active-day)
    dedup) and one equi-join on user_id — one shuffle each, exact
    integer counts, no window. Reference analogue: longitudinal
    activity tracking in risk_history_tracker.py, recast as cohort
    retention."""
    e = load(spark, sf, "events")
    first = e.groupBy("user_id").agg(F.min("ts").alias("_first"))
    cohort = first.select(
        "user_id",
        F.date_trunc("week", F.col("_first")).cast("date").alias("_cw"),
    )
    active = e.select(
        "user_id", F.to_date("ts").alias("_day")).distinct()
    j = active.join(cohort, "user_id")
    off = (F.datediff(F.col("_day"), F.col("_cw")) / 7).cast("long")
    return (
        j.select(F.col("_cw").cast("string").alias("cohort_week"),
                 off.alias("week_offset"), "user_id")
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


SQL_RETENTION_COHORTS = """
WITH first AS (
  SELECT user_id, MIN(ts) AS f FROM events GROUP BY 1
), cohort AS (
  SELECT user_id, CAST(date_trunc('week', f) AS DATE) AS cw FROM first
), active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
)
SELECT CAST(cw AS VARCHAR) AS cohort_week,
       CAST(date_diff('day', cw, day) // 7 AS BIGINT) AS week_offset,
       CAST(COUNT(DISTINCT active.user_id) AS BIGINT) AS n_users
FROM active JOIN cohort ON active.user_id = cohort.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


#: conservative regex syntax only (portable between Java regex and RE2)
FORMAT_PATTERNS = [
    ("integer", "^-?[0-9]+$"),
    ("decimal", "^-?[0-9]+\\.[0-9]+$"),
    ("lower_alpha", "^[a-z]+$"),
    ("alnum", "^[A-Za-z0-9]+$"),
    ("iso_date", "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
    ("empty", "^$"),
]


def q_format_profile(spark, sf):
    """Deequ-style format analyzer: per (column, pattern) the exact match
    count and integer ppm over three documents columns in ONE scan —
    the contract-discovery pass before someone writes `matches(regex)`
    rules by hand. Stack-unpivot (fan-out = #cols) then one
    map-side-combined agg with a SUM(CASE) per pattern; patterns use
    conservative regex syntax portable across engines. Reference
    analogue: data_loader.py's implicit format assumptions, made
    measurable."""
    d = load(spark, sf, "documents")
    cols = ["doc_id", "lang", "source"]
    stack_args = ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in cols)
    long = d.select(F.expr(
        f"stack({len(cols)}, {stack_args}) AS (column, value)"))
    aggs = [F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").isNull().cast("long")).alias("n_null")]
    for name, rx in FORMAT_PATTERNS:
        aggs.append(
            F.sum(F.col("value").rlike(rx).cast("long")).alias(f"n_{name}"))
    g = long.groupBy("column").agg(*aggs)
    out_cols = ["column", "n", "n_null"] + [
        f"n_{name}" for name, _ in FORMAT_PATTERNS]
    return g.select(*out_cols).orderBy("column")


SQL_FORMAT_PROFILE = """
WITH v AS (
  SELECT 'doc_id' AS "column", CAST(doc_id AS VARCHAR) AS value
  FROM documents
  UNION ALL SELECT 'lang', lang FROM documents
  UNION ALL SELECT 'source', source FROM documents
)
SELECT "column", COUNT(*) AS n,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(SUM(CASE WHEN regexp_matches(value, '^-?[0-9]+$')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_integer,
       CAST(SUM(CASE WHEN regexp_matches(value, '^-?[0-9]+\\.[0-9]+$')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_decimal,
       CAST(SUM(CASE WHEN regexp_matches(value, '^[a-z]+$')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_lower_alpha,
       CAST(SUM(CASE WHEN regexp_matches(value, '^[A-Za-z0-9]+$')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_alnum,
       CAST(SUM(CASE WHEN regexp_matches(
                        value, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_iso_date,
       CAST(SUM(CASE WHEN regexp_matches(value, '^$')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
FROM v GROUP BY 1 ORDER BY 1
"""


def q_event_transitions(spark, sf):
    """Per-user event-type Markov transitions: count (prev_type → type)
    over each user's ts-ordered stream (deterministic tie-break
    event_id) — the behavioral-sequence matrix the reference's per-user
    analysis implies. One lag window PARTITIONED BY user (state bounded
    by per-user history, never corpus-wide) + one map-side-combined
    count agg."""
    from pyspark.sql.window import Window

    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        "user_id", "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    return (
        t.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prev_type", "next_type")
    )


SQL_EVENT_TRANSITIONS = """
WITH t AS (
  SELECT event_type,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n
FROM t WHERE prev_type IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_regex_rule_check(spark, sf):
    """The matches_regex format rule through the real engine with an SLO
    budget: lang must be two lowercase letters (strict — all values
    comply), source must match ^src[0-4]$ (fails for src5..src19 — a
    deliberately violated contract) but carries a 790_000-ppm budget, so
    its verdict stays within SLO in partitions where ≤79% of rows
    violate. Exercises matches_regex + budgets end-to-end; pure integer
    verdict compare."""
    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleSet
    from dataclasses import replace

    d = load(spark, sf, "documents")
    rules = RuleSet(row_rules=[
        builtin.matches_regex("lang", "^[a-z]{2}$"),
        replace(builtin.matches_regex("source", "^src[0-4]$"),
                max_violation_ppm=790_000),
    ])
    run = ValidationRun(spark, d, rules, partition_col="lang")
    return run.run(persist=False).verdicts.orderBy("partition", "rule_id")


SQL_REGEX_RULE_CHECK = """
WITH parts AS (
  SELECT lang AS partition, COUNT(*) AS rows_scanned,
         CAST(SUM(CASE WHEN lang IS NOT NULL
                        AND NOT regexp_matches(lang, '^[a-z]{2}$')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_lang,
         CAST(SUM(CASE WHEN source IS NOT NULL
                        AND NOT regexp_matches(source, '^src[0-4]$')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_src
  FROM documents GROUP BY 1
)
SELECT partition, 'format:lang' AS rule_id, v_lang = 0 AS pass,
       v_lang AS violation_count, rows_scanned
FROM parts
UNION ALL
SELECT partition, 'format:source',
       (v_src * 1000000) <= (790000 * rows_scanned), v_src, rows_scanned
FROM parts
ORDER BY partition, rule_id
"""


def q_mixture_downsample(spark, sf):
    """Apply the temperature mixture to the corpus
    (curation.mixture_downsample): over-represented domains
    (epochs_micro < 1e6) are kept at exactly their mixture rate by
    md5-bucket membership; the mixture table is broadcast and the corpus
    pays one scan + a pushed filter — no shuffle, no rand(). Output:
    per-source survivor counts against the original size."""
    from anomaly_detection_spark.functions import curation

    d = load(spark, sf, "documents").select(
        "source", "doc_id",
        text.token_count("text").cast("long").alias("n_tokens"))
    mix = curation.domain_mixture(d, "source", "n_tokens", 10_000)
    kept = curation.mixture_downsample(d, mix, "source", "doc_id")
    return (
        d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
        .join(kept.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_kept")), "source", "left")
        .select("source", "n_docs",
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"))
        .orderBy("source")
    )


SQL_MIXTURE_DOWNSAMPLE = f"""
WITH t AS (
  SELECT source, doc_id, CAST(len({{toks}}) AS BIGINT) AS n FROM documents
), per AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS domain_tokens FROM t GROUP BY 1
), q AS (
  SELECT *, CAST(FLOOR(SQRT(domain_tokens)) AS BIGINT) AS isq FROM per
), d AS (
  SELECT *, CAST(SUM(isq) OVER () AS BIGINT) AS den FROM q
), mix AS (
  SELECT source,
    CAST(FLOOR(CAST(1000000 AS DOUBLE)
      * (CAST(isq AS DOUBLE) * CAST(10000 AS DOUBLE))
      / (CAST(den AS DOUBLE) * CAST(domain_tokens AS DOUBLE)) + 0.5)
      AS BIGINT) AS epochs_micro
  FROM d
), kept AS (
  SELECT t.source FROM t JOIN mix ON t.source = mix.source
  WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
        % 1000000
        < LEAST(epochs_micro, 1000000)
)
SELECT t.source, COUNT(*) AS n_docs,
       COALESCE(MAX(k.n_kept), 0) AS n_kept
FROM t
LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
           FROM kept GROUP BY 1) k
  ON t.source = k.source
GROUP BY 1 ORDER BY 1
"""
SQL_MIXTURE_DOWNSAMPLE = SQL_MIXTURE_DOWNSAMPLE.format(toks=_TOKS_SQL)


def q_embedding_int8_topk(spark, sf):
    """Cosine top-3 over per-vector INT8-quantized embeddings
    (similarity.int8_quantize): 4× smaller storage than float32, and
    since cosine is scale-invariant the per-vector quantization scale
    cancels — ranking is exact integer dot/norm arithmetic with a float
    close, bit-identical cross-engine. Queries bounded to vec_id < 20
    (labeled brute-force rerank baseline, like embedding_topk); the
    production path composes int8 vectors with the IVF/LSH bucket
    joins."""
    from anomaly_detection_spark.functions.similarity import int8_quantize
    from pyspark.sql.window import Window

    emb = load(spark, sf, "embeddings").filter(
        F.array_max(F.transform(
            F.col("embedding"), lambda v: F.abs(v.cast("double")))) > 0)
    nrm = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0).cast("long"), lambda a, x: a + x * x)
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        int8_quantize(F.col("embedding")).alias("qv"),
    ).withColumn("qn", nrm(F.col("qv")))
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        int8_quantize(F.col("embedding")).alias("cv"),
    ).withColumn("cn", nrm(F.col("cv")))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b),
        F.lit(0).cast("long"), lambda a, x: a + x)
    cos_micro = F.floor(
        dot.cast("double")
        / (F.sqrt(F.col("qn").cast("double"))
           * F.sqrt(F.col("cn").cast("double")))
        * F.lit(1e6) + F.lit(0.5)).cast("long")
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos_micro.alias("cos_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_micro"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("query_id", "rank")
    )


def q_embedding_spectral_top(spark, sf):
    """Spectral structure of the embedding table
    (similarity.spectral_top_direction): top singular direction of the
    int8-quantized matrix by 3 rounds of INTEGER power iteration — each
    round is one scan + ONE wide 64-component sum aggregate (the
    IVF-codebook shape), renormalized in a 1-row frame with truncating
    integer division so Spark and DuckDB agree bit-for-bit. Emits
    per-label projection envelopes along the dominant direction — the
    PCA-style class-structure diagnostic next to `class_separation`'s
    centroid geometry. Uncentered by design (at 10^12 rows the mean
    folds in analytically; materializing centered vectors would double
    the integer dynamic range for nothing)."""
    from anomaly_detection_spark.functions.similarity import (
        int8_quantize, spectral_projections, spectral_top_direction)

    e = load(spark, sf, "embeddings")
    qz = e.select(
        "vec_id", "label", int8_quantize(F.col("embedding")).alias("qv"))
    direction = spectral_top_direction(qz, dim=64, iters=3)
    proj = spectral_projections(qz, direction)
    return proj.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("proj").alias("sum_proj"),
        F.min("proj").alias("min_proj"),
        F.max("proj").alias("max_proj"),
    ).orderBy("label")


def _spectral_iter_sql(i: int) -> str:
    prev = f"v{i - 1}"
    return f""", d{i} AS (
  SELECT qv, list_sum(list_transform(range(1, 65),
      k -> qv[k] * v[k])) AS d
  FROM qz, {prev}
), s{i} AS (
  SELECT j, SUM(d * qv[j]) AS s FROM d{i}, dims GROUP BY j
), n{i} AS (
  SELECT GREATEST(MAX(ABS(s)), 1) AS mx FROM s{i}
), v{i} AS (
  SELECT list(CAST(CASE WHEN s < 0
                   THEN -((CAST(ABS(s) AS HUGEINT) * 16384) // mx)
                   ELSE (CAST(ABS(s) AS HUGEINT) * 16384) // mx END
              AS BIGINT) ORDER BY j) AS v
  FROM s{i}, n{i}
)"""


SQL_EMBEDDING_SPECTRAL_TOP = f"""
WITH qz AS (
  SELECT vec_id, label,
    list_transform(embedding,
      v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127 /
                      (CASE WHEN mx > 0 THEN mx ELSE 1 END) + 0.5)
           AS BIGINT)) AS qv
  FROM (
    SELECT *, list_max(list_transform(embedding,
                                      v -> abs(CAST(v AS DOUBLE)))) AS mx
    FROM embeddings)
), dims AS (
  SELECT unnest(range(1, 65)) AS j
), v0 AS (
  SELECT list_transform(range(1, 65), i -> CAST(1 AS BIGINT)) AS v
){_spectral_iter_sql(1)}{_spectral_iter_sql(2)}{_spectral_iter_sql(3)}, proj AS (
  SELECT label, list_sum(list_transform(range(1, 65),
      k -> qv[k] * v[k])) AS d
  FROM qz, v3
)
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(d) AS BIGINT) AS sum_proj,
       CAST(MIN(d) AS BIGINT) AS min_proj,
       CAST(MAX(d) AS BIGINT) AS max_proj
FROM proj GROUP BY label ORDER BY label
"""


def q_embedding_spectral_multi(spark, sf):
    """Multi-component spectral analysis
    (similarity.spectral_top_directions): top-3 singular directions of
    the int8-quantized matrix by deflated integer power iteration — the
    PCA(n_components) analogue of the reference's ML-ensemble
    preprocessing (ml_analyzer.py:86-90). Each round per component is
    one corpus scan + ONE wide 64-component sum aggregate (identical to
    `embedding_spectral_top`); deflation is Gram-Schmidt in the 1-row
    direction frame, so components 2 and 3 cost the same corpus work as
    the first. Emits per-(component, label) projection envelopes; the
    oracle replays every multiply, renormalization, and orthogonalization
    bit-for-bit."""
    from anomaly_detection_spark.functions.similarity import (
        int8_quantize, spectral_top_directions)

    e = load(spark, sf, "embeddings")
    qz = e.select(
        "vec_id", "label", int8_quantize(F.col("embedding")).alias("qv"))
    dirs = spectral_top_directions(qz, n_components=3, iters=2)
    d = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    proj = qz.crossJoin(F.broadcast(dirs)).withColumn("proj", d)
    return proj.groupBy("component", "label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("proj").alias("sum_proj"),
        F.min("proj").alias("min_proj"),
        F.max("proj").alias("max_proj"),
    ).orderBy("component", "label")


def _spectral_renorm_sql(src: str, out: str) -> str:
    return f""", {out} AS (
  SELECT list_transform(v, x -> CAST(CASE WHEN x < 0
           THEN -((CAST(ABS(x) AS HUGEINT) * 16384) // mx)
           ELSE (CAST(ABS(x) AS HUGEINT) * 16384) // mx END AS BIGINT)) AS v
  FROM (SELECT v, GREATEST(list_max(list_transform(v, x -> abs(x))),
                           CAST(1 AS BIGINT)) AS mx FROM {src})
)"""


def _spectral_orth_sql(cur: str, prev: str, out: str) -> str:
    return f""", {out}_u AS (
  SELECT list_transform(range(1, 65), j -> v[j]*np - vp*p[j]) AS v
  FROM (
    SELECT a.v AS v, b.v AS p,
           list_sum(list_transform(b.v, x -> x*x)) AS np,
           list_sum(list_transform(range(1, 65), j -> a.v[j] * b.v[j])) AS vp
    FROM {cur} a, {prev} b)
)""" + _spectral_renorm_sql(f"{out}_u", out)


def _spectral_multi_sql(nc: int, iters: int) -> str:
    parts = ["""
WITH qz AS MATERIALIZED (
  SELECT vec_id, label,
    list_transform(embedding,
      v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127 /
                      (CASE WHEN mx > 0 THEN mx ELSE 1 END) + 0.5)
           AS BIGINT)) AS qv
  FROM (
    SELECT *, list_max(list_transform(embedding,
                                      v -> abs(CAST(v AS DOUBLE)))) AS mx
    FROM embeddings)
), dims AS (
  SELECT unnest(range(1, 65)) AS j
), vinit AS (
  SELECT list_transform(range(1, 65), i -> CAST(1 AS BIGINT)) AS v
)"""]
    finals = []
    for c in range(nc):
        prev = "vinit"
        for i in range(1, iters + 1):
            parts.append(f""", d{c}_{i} AS (
  SELECT qv, list_sum(list_transform(range(1, 65), k -> qv[k] * v[k])) AS d
  FROM qz, {prev}
), s{c}_{i} AS (
  SELECT j, SUM(d * qv[j]) AS s FROM d{c}_{i}, dims GROUP BY j
), w{c}_{i} AS (
  SELECT list(CAST(s AS BIGINT) ORDER BY j) AS v FROM s{c}_{i}
)""")
            cur = f"r{c}_{i}"
            parts.append(_spectral_renorm_sql(f"w{c}_{i}", cur))
            for k, fk in enumerate(finals):
                o = f"o{c}_{i}_{k}"
                parts.append(_spectral_orth_sql(cur, fk, o))
                cur = o
            prev = cur
        finals.append(prev)
    dirs_sql = " UNION ALL ".join(
        f"SELECT {ci} AS component, v FROM {fn}"
        for ci, fn in enumerate(finals))
    parts.append(f""", dirs AS (
  {dirs_sql}
), proj AS (
  SELECT component, label,
         list_sum(list_transform(range(1, 65), k -> qv[k] * v[k])) AS d
  FROM qz, dirs
)
SELECT CAST(component AS INTEGER) AS component, label,
       COUNT(*) AS n_vecs,
       CAST(SUM(d) AS BIGINT) AS sum_proj,
       CAST(MIN(d) AS BIGINT) AS min_proj,
       CAST(MAX(d) AS BIGINT) AS max_proj
FROM proj GROUP BY 1, 2 ORDER BY component, label
""")
    return "".join(parts)


SQL_EMBEDDING_SPECTRAL_MULTI = _spectral_multi_sql(3, 2)


def q_embedding_int8_ivf(spark, sf):
    """INT8 × IVF composed ANN (similarity.int8_ivf_topk) — the production
    configuration at 100 TB: 4×-compressed vectors searched with the
    nprobe=2 broadcast-codebook bucket join, index cells capped at
    max_bucket=2000 by the count + broadcast anti-join prefilter (the
    LSH discipline — a skewed data-given cell can no longer make the
    candidate join Σ|cell|² unbounded; queries still probe their nprobe
    nearest KEPT cells). Closes the r3 gap where int8 rode only the
    bounded brute-force baseline."""
    from anomaly_detection_spark.functions.similarity import int8_ivf_topk

    return int8_ivf_topk(
        load(spark, sf, "embeddings"), k=3, nprobe=2
    ).orderBy("query_id", "rank")


def q_ann_recall_report(spark, sf):
    """ANN recall@3 eval (similarity.ann_recall) — the measurement every
    production ANN deployment runs before choosing nprobe / plane
    counts, previously only asserted qualitatively in tests: brute-force
    int8-cosine ground truth on a 100-query sample, then the fraction of
    true (query, neighbor) pairs each shipped variant returns —
    int8×IVF at nprobe 1 vs 2 (the probe-depth recall curve), the
    kmeans-learned codebook, and multi-probe LSH. Exact integer ppm;
    the oracle replays truth AND all four variants. Ground truth cost
    is sample×corpus, never corpus²."""
    from anomaly_detection_spark.functions import similarity as sim

    emb = load(spark, sf, "embeddings")
    nonzero = emb.filter(
        F.array_max(F.transform(
            F.col("embedding"), lambda v: F.abs(v.cast("double")))) > 0)
    inrm = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0).cast("long"), lambda a, x: a + x * x)
    q = nonzero.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"),
        sim.int8_quantize(F.col("embedding")).alias("qv"),
    ).withColumn("qn", inrm(F.col("qv")))
    c = nonzero.select(
        F.col("vec_id").alias("neighbor_id"),
        sim.int8_quantize(F.col("embedding")).alias("cv"),
    ).withColumn("cn", inrm(F.col("cv")))
    idot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b),
        F.lit(0).cast("long"), lambda a, x: a + x)
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                (idot.cast("double")
                 / F.sqrt(F.col("qn").cast("double")
                          * F.col("cn").cast("double"))).alias("cos_x"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_x"), F.asc("neighbor_id"))
    truth = scored.withColumn("rank", F.row_number().over(w)) \
        .filter(F.col("rank") <= 3).select("query_id", "neighbor_id") \
        .localCheckpoint(eager=False)
    variants = [
        ("int8_ivf_np1", sim.int8_ivf_topk(emb, k=3, nprobe=1)),
        ("int8_ivf_np2", sim.int8_ivf_topk(emb, k=3, nprobe=2)),
        ("ivf_kmeans_np2", sim.ivf_kmeans_topk(
            emb, k=3, n_clusters=_IVFKM_K, n_iters=_IVFKM_ITERS, nprobe=2)),
        ("lsh_multiprobe", sim.lsh_multiprobe_topk(emb, k=3, n_planes=8)),
    ]
    legs = [sim.ann_recall(truth, v.filter(F.col("query_id") < 100), nm)
            for nm, v in variants]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("variant")


def _recall_leg_sql(name: str, v: str) -> str:
    return (
        "SELECT '" + name + "' AS variant,"
        " CAST(COUNT(DISTINCT t.query_id) AS BIGINT) AS n_queries,"
        " CAST(COUNT(*) AS BIGINT) AS n_truth,"
        " CAST(SUM(CASE WHEN " + v + ".neighbor_id IS NOT NULL"
        " THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,"
        " CAST((SUM(CASE WHEN " + v + ".neighbor_id IS NOT NULL"
        " THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS recall_ppm"
        " FROM truth t LEFT JOIN (SELECT DISTINCT query_id, neighbor_id FROM "
        + v + ") " + v + " ON t.query_id = " + v + ".query_id"
        " AND t.neighbor_id = " + v + ".neighbor_id"
    )


def _int8_ivf_sql(nprobe: int) -> str:
    """Full int8×IVF multiprobe oracle, parameterized on nprobe (mirrors
    similarity.int8_ivf_topk with the max_bucket=2000 index-side cap)."""
    return f"""
WITH base AS (
  SELECT vec_id, label, embedding,
         list_max(list_transform(embedding,
                                 v -> abs(CAST(v AS DOUBLE)))) AS mx
  FROM embeddings
), e AS (
  SELECT vec_id, label,
         list_transform(embedding,
           v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127 / mx + 0.5) AS BIGINT))
           AS qe
  FROM base WHERE mx > 0
), cnt AS (
  SELECT label, COUNT(*) AS n FROM e GROUP BY 1 HAVING COUNT(*) <= 2000
),
dimsum AS (
  SELECT e.label, i, CAST(SUM(qe[i]) AS BIGINT) AS s
  FROM e JOIN cnt ON cnt.label = e.label, generate_series(1, 64) t(i)
  GROUP BY 1, 2
), cent AS (
  SELECT label, list(s ORDER BY i) AS sv FROM dimsum GROUP BY 1
), probe AS (
  SELECT query_id, label FROM (
    SELECT q.vec_id AS query_id, c.label,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        (CAST(list_sum(list_transform(generate_series(1, 64),
          i -> (q.qe[i]*cnt.n - c.sv[i]) * (q.qe[i]*cnt.n - c.sv[i])))
          AS DOUBLE) / cnt.n) / cnt.n ASC,
        c.label ASC) AS pr
    FROM e q CROSS JOIN cent c JOIN cnt ON cnt.label = c.label
  ) WHERE pr <= {nprobe}
), scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(generate_series(1, 64), i -> q.qe[i]*b.qe[i])) AS DOUBLE)
      / sqrt(CAST(list_sum(list_transform(q.qe, x -> x*x)) AS DOUBLE)
           * CAST(list_sum(list_transform(b.qe, x -> x*x)) AS DOUBLE)) AS cos_x
  FROM e q JOIN probe p ON p.query_id = q.vec_id
           JOIN e b ON b.label = p.label AND b.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos_x, 6) AS cos, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_x DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
ORDER BY query_id, rank
"""


SQL_ANN_RECALL_REPORT = (
    """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127 / mx + 0.5) AS BIGINT))
           AS qe
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        v -> abs(CAST(v AS DOUBLE)))) AS mx
        FROM embeddings)
  WHERE mx > 0
), truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        CAST(list_sum(list_transform(generate_series(1, 64), i -> q.qe[i]*b.qe[i])) AS DOUBLE)
          / sqrt(CAST(list_sum(list_transform(q.qe, x -> x*x)) AS DOUBLE)
               * CAST(list_sum(list_transform(b.qe, x -> x*x)) AS DOUBLE)) DESC,
        b.vec_id ASC) AS rank
    FROM e q JOIN e b ON q.vec_id < 100 AND q.vec_id <> b.vec_id
  ) WHERE rank <= 3
), v1 AS (SELECT query_id, neighbor_id FROM ("""
    + _int8_ivf_sql(1)
    + """) WHERE query_id < 100
), v2 AS (SELECT query_id, neighbor_id FROM ("""
    + _int8_ivf_sql(2)
    + """) WHERE query_id < 100
), v3 AS (SELECT query_id, neighbor_id FROM ("""
    + "{IVF_KMEANS}"
    + """) WHERE query_id < 100
), v4 AS (SELECT query_id, neighbor_id FROM ("""
    + "{LSH_MULTIPROBE}"
    + """) WHERE query_id < 100
)
SELECT * FROM (
  """
    + "\n  UNION ALL ".join([
        _recall_leg_sql("int8_ivf_np1", "v1"),
        _recall_leg_sql("int8_ivf_np2", "v2"),
        _recall_leg_sql("ivf_kmeans_np2", "v3"),
        _recall_leg_sql("lsh_multiprobe", "v4"),
    ])
    + """
) ORDER BY variant
"""
)


def q_ivf_cell_stats(spark, sf):
    """ANN index observability (similarity.ivf_cell_stats — the ANN twin
    of `lsh_bucket_stats`): cell count/size extremes and what a
    max_bucket cap would DROP, in cells and in ordered query→neighbor
    candidates. The cap here (40) is chosen to actually fire on the test
    labels so the drop arithmetic is oracle-verified; production runs
    log this frame next to every `ivf_*_topk` call — a silent cap reads
    as full coverage."""
    from anomaly_detection_spark.functions.similarity import ivf_cell_stats

    return ivf_cell_stats(load(spark, sf, "embeddings"), max_bucket=40)


SQL_IVF_CELL_STATS = """
WITH sizes AS (
  SELECT label, COUNT(*) AS sz FROM embeddings GROUP BY label
)
SELECT COUNT(*) AS n_cells,
       CAST(MAX(sz) AS BIGINT) AS max_cell_size,
       CAST(SUM(CASE WHEN sz > 40 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cells_dropped,
       CAST(SUM(CASE WHEN sz > 40 THEN sz * (sz - 1) ELSE 0 END) AS BIGINT)
         AS candidates_dropped
FROM sizes
"""


SQL_EMBEDDING_INT8_IVF = _int8_ivf_sql(2)


SQL_EMBEDDING_INT8_TOPK = """
WITH base AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding,
                                 v -> abs(CAST(v AS DOUBLE)))) AS mx
  FROM embeddings
), qz AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127 / mx + 0.5) AS BIGINT))
           AS qv
  FROM base WHERE mx > 0
), n AS (
  SELECT vec_id, qv,
         list_sum(list_transform(qv, x -> x * x)) AS nn
  FROM qz
), scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(FLOOR(
           CAST(list_sum(list_transform(range(1, 65),
                i -> a.qv[i] * b.qv[i])) AS DOUBLE)
           / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(b.nn AS DOUBLE)))
           * 1000000 + 0.5) AS BIGINT) AS cos_micro
  FROM n a JOIN n b ON a.vec_id < 20 AND a.vec_id <> b.vec_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_micro DESC, neighbor_id)
         AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_micro, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 3 ORDER BY query_id, rank
"""


# =====================================================================
# Group N — web-corpus front: HTML extraction, URL canonical dedup
# =====================================================================

def _synth_html(did, text):
    """Deterministic per-doc HTML wrapper: style + script blocks (content
    must be erased wholesale, incl. a '<' inside the script body), a
    varying heading tag, the doc text, and literal entities — everything
    html_to_text must handle, reproduced by the oracle with ||."""
    lvl = (did % 3 + 1).cast("string")
    return F.concat(
        F.lit('<html><head><style>p{color:red}</style></head>'
              '<body><script type="text/js">if(1<2){x();}</script><h'),
        lvl, F.lit(">Doc "), did.cast("string"),
        F.lit("</h"), lvl, F.lit('><p class="b">'), text,
        F.lit(" &amp; tail &lt;x&gt;</p><br/></body></html>"),
    )


def q_html_text_extract(spark, sf):
    """web.html_to_text over per-doc synthesized HTML: script/style erased
    wholesale (non-greedy block, '<' inside code), tags stripped, entities
    decoded (&amp; last), whitespace collapsed. md5 of the extracted text
    pins EXACT string equality per doc against the oracle running the
    literal same RE2-safe patterns. Pure codegen string work, no shuffle,
    scan-speed at 100 TB."""
    from anomaly_detection_spark.functions.web import html_to_text

    d = load(spark, sf, "documents")
    h = d.select("doc_id", _synth_html(F.col("doc_id"), F.col("text")).alias("html"))
    x = h.select("doc_id", "html", html_to_text(F.col("html")).alias("txt"))
    return x.select(
        "doc_id",
        F.length("html").cast("long").alias("raw_len"),
        F.length("txt").cast("long").alias("text_len"),
        F.expr("(length(txt) * 1000000) div length(html)").alias("retained_ppm"),
        F.md5(F.col("txt")).alias("text_md5"),
    ).orderBy("doc_id")


SQL_HTML_TEXT_EXTRACT = r"""
WITH h AS (
  SELECT doc_id,
    '<html><head><style>p{color:red}</style></head><body>'
    || '<script type="text/js">if(1<2){x();}</script><h'
    || CAST((doc_id % 3 + 1) AS VARCHAR) || '>Doc ' || CAST(doc_id AS VARCHAR)
    || '</h' || CAST((doc_id % 3 + 1) AS VARCHAR) || '><p class="b">' || text
    || ' &amp; tail &lt;x&gt;</p><br/></body></html>' AS html
  FROM documents
), x AS (
  SELECT doc_id, html,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(regexp_replace(regexp_replace(html,
          '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
          '<[^>]*>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
      '\s+', ' ', 'g')) AS txt
  FROM h
)
SELECT doc_id,
  CAST(length(html) AS BIGINT) AS raw_len,
  CAST(length(txt) AS BIGINT) AS text_len,
  (length(txt) * 1000000) // length(html) AS retained_ppm,
  md5(txt) AS text_md5
FROM x ORDER BY doc_id
"""


def q_url_canonical_dedup(spark, sf):
    """web.url_canonicalize as the URL-dedup equivalence key: per-doc
    synthesized URLs vary scheme/host case, default ports, utm_* params,
    param ORDER, fragments and trailing slashes — all transport noise the
    canonical form removes — then the dup groups are one hash-agg on the
    canonical string (map-side partials; the only shuffle)."""
    from anomaly_detection_spark.functions.web import url_canonicalize

    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.element_at(F.array(F.lit("http"), F.lit("HTTP"),
                             F.lit("https"), F.lit("HTTPS")),
                     (did % 4 + 1).cast("int")),
        F.lit("://"),
        F.element_at(F.array(F.lit("WWW.Example"), F.lit("www.example"),
                             F.lit("www.EXAMPLE")), (did % 3 + 1).cast("int")),
        (did % 7).cast("string"),
        F.lit(".COM"),
        F.when(did % 5 == 0,
               F.when(did % 4 < 2, F.lit(":80")).otherwise(F.lit(":443")))
         .otherwise(F.lit("")),
        F.lit("/cat"), (did % 5).cast("string"),
        F.element_at(F.array(F.lit(""), F.lit("/")), (did % 2 + 1).cast("int")),
        F.element_at(F.array(F.lit("?utm_source=rss&id="), F.lit("?id=")),
                     (did % 2 + 1).cast("int")),
        (did % 25).cast("string"),
        F.element_at(F.array(F.lit("&b=2&a=1"), F.lit("&a=1&b=2")),
                     (did % 2 + 1).cast("int")),
        F.when(did % 6 == 0, F.lit("#sec2")).otherwise(F.lit("")),
    )
    u = d.select(did.alias("doc_id"), url.alias("url"))
    c = u.select("doc_id", url_canonicalize(F.col("url")).alias("canonical_url"))
    return c.groupBy("canonical_url").agg(
        F.count("*").alias("n_urls"),
        F.min("doc_id").alias("first_doc"),
    ).orderBy("canonical_url")


SQL_URL_CANONICAL_DEDUP = """
WITH u AS (
  SELECT doc_id,
    ['http','HTTP','https','HTTPS'][CAST(doc_id % 4 + 1 AS INTEGER)] || '://'
    || ['WWW.Example','www.example','www.EXAMPLE'][CAST(doc_id % 3 + 1 AS INTEGER)]
    || CAST(doc_id % 7 AS VARCHAR) || '.COM'
    || CASE WHEN doc_id % 5 = 0
            THEN CASE WHEN doc_id % 4 < 2 THEN ':80' ELSE ':443' END
            ELSE '' END
    || '/cat' || CAST(doc_id % 5 AS VARCHAR)
    || ['','/'][CAST(doc_id % 2 + 1 AS INTEGER)]
    || ['?utm_source=rss&id=','?id='][CAST(doc_id % 2 + 1 AS INTEGER)]
    || CAST(doc_id % 25 AS VARCHAR)
    || ['&b=2&a=1','&a=1&b=2'][CAST(doc_id % 2 + 1 AS INTEGER)]
    || CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
      AS authority,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
      AS raw_path,
    regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM u
), canon AS (
  SELECT doc_id,
    scheme || '://'
    || CASE WHEN scheme = 'http' AND ends_with(authority, ':80')
            THEN substring(authority, 1, length(authority) - 3)
            WHEN scheme = 'https' AND ends_with(authority, ':443')
            THEN substring(authority, 1, length(authority) - 4)
            ELSE authority END
    || CASE WHEN raw_path = '' THEN '/'
            WHEN raw_path <> '/' AND ends_with(raw_path, '/')
            THEN substring(raw_path, 1, length(raw_path) - 1)
            ELSE raw_path END
    || CASE WHEN p = '' THEN '' ELSE '?' || p END AS canonical_url
  FROM (
    SELECT *, array_to_string(list_sort(list_filter(string_split(q, '&'),
      x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') AS p
    FROM parts
  )
)
SELECT canonical_url, COUNT(*) AS n_urls, MIN(doc_id) AS first_doc
FROM canon GROUP BY 1 ORDER BY 1
"""


def q_c4_line_filter(spark, sf):
    """C4-style line-level cleaning (web.c4_keep_lines, the published
    Raffel et al. heuristics): per-doc synthesized lines — token groups of
    doc_id-dependent width, two of three lines given terminal punctuation,
    every 11th doc injected with a brace/javascript boilerplate line — then
    the keep-filter (terminal punct AND ≥3 words AND no braces AND no
    'javascript'). All in-row array codegen via one inline_outer (outer ⇒
    no InferFiltersFromGenerate duplicate of the array expression); the
    md5 of the kept text pins exact string equality. Scan-speed at 100 TB."""
    from anomaly_detection_spark.functions.web import c4_keep_lines

    d = load(spark, sf, "documents")
    kk = (F.col("doc_id") % 4 + 3).cast("int")
    base = d.select(
        "doc_id", kk.alias("k"), text.tokens(F.col("text")).alias("toks"))
    nl = F.floor((F.size("toks") + F.col("k") - 1) / F.col("k")).cast("int")
    raw_lines = F.transform(
        F.sequence(F.lit(1), nl),
        lambda i: F.concat(
            F.array_join(
                F.slice(F.col("toks"), (i - 1) * F.col("k") + 1, F.col("k")),
                " "),
            F.when((F.col("doc_id") + i) % 3 != 0, F.lit("."))
             .otherwise(F.lit("")),
        ),
    )
    lines = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(raw_lines,
                 F.array(F.lit("if (x) { enable javascript }"))),
    ).otherwise(raw_lines)
    # Bind lines (and the kept subset) through single-element transform
    # lambdas so the whole construction evaluates once per row, then emit
    # the struct through inline_outer (evaluated once, no inferred filter).
    res = F.element_at(
        F.transform(F.array(lines), lambda ls: F.element_at(
            F.transform(F.array(c4_keep_lines(ls)), lambda kl: F.struct(
                F.size(ls).cast("long").alias("n_lines"),
                F.size(kl).cast("long").alias("kept_lines"),
                F.md5(F.array_join(kl, "\n")).alias("kept_md5"),
            )),
            1,
        )),
        1,
    )
    out = base.select("doc_id", F.inline_outer(F.array(res)))
    return out.select(
        "doc_id", "n_lines", "kept_lines",
        F.expr("(kept_lines * 1000000) div n_lines").alias("kept_ppm"),
        "kept_md5",
    ).orderBy("doc_id")


SQL_C4_LINE_FILTER = f"""
WITH t AS (
  SELECT doc_id, CAST(doc_id % 4 + 3 AS INTEGER) AS k, {_TOKS_SQL} AS toks
  FROM documents
), l AS (
  SELECT doc_id,
    CASE WHEN doc_id % 11 = 0
         THEN list_append(raw_lines, 'if (x) {{ enable javascript }}')
         ELSE raw_lines END AS lines
  FROM (
    SELECT doc_id,
      list_transform(
        generate_series(1, CAST(FLOOR((len(toks) + k - 1) / k) AS INTEGER)),
        i -> array_to_string(toks[(i-1)*k+1 : i*k], ' ')
             || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END
      ) AS raw_lines
    FROM t)
), f AS (
  SELECT doc_id, lines,
    list_filter(lines, x ->
      substr(x, length(x), 1) IN ('.', '!', '?', '"')
      AND len(list_filter(string_split(x, ' '), w -> w <> '')) >= 3
      AND NOT contains(x, '{{') AND NOT contains(x, '}}')
      AND NOT contains(lower(x), 'javascript')) AS kept
  FROM l
)
SELECT doc_id,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS kept_lines,
  (len(kept) * 1000000) // len(lines) AS kept_ppm,
  md5(array_to_string(kept, chr(10))) AS kept_md5
FROM f ORDER BY doc_id
"""


def q_global_line_dedup(spark, sf):
    """Corpus-GLOBAL line dedup (repetition.line_dedup_stats — the C4
    'discard all but one of any three-sentence span occurring more than
    once' step, recast line-level): synthesizes the same deterministic
    line structure as `c4_line_filter` (so every 11th document carries an
    IDENTICAL boilerplate line — a genuinely hot key exercising the
    map-side combine), then keeps only each distinct line's globally first
    occurrence. One line-keyed hash-aggregate, keeper attribution WITHOUT
    any join back on the power-law line key; removed-token volume exact."""
    from anomaly_detection_spark.functions import repetition

    d = load(spark, sf, "documents")
    kk = (F.col("doc_id") % 4 + 3).cast("int")
    base = d.select(
        "doc_id", kk.alias("k"), text.tokens(F.col("text")).alias("toks"))
    nl = F.floor((F.size("toks") + F.col("k") - 1) / F.col("k")).cast("int")
    raw_lines = F.transform(
        F.sequence(F.lit(1), nl),
        lambda i: F.concat(
            F.array_join(
                F.slice(F.col("toks"), (i - 1) * F.col("k") + 1, F.col("k")),
                " "),
            F.when((F.col("doc_id") + i) % 3 != 0, F.lit("."))
             .otherwise(F.lit("")),
        ),
    )
    lines = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(raw_lines,
                 F.array(F.lit("if (x) { enable javascript }"))),
    ).otherwise(raw_lines)
    # posexplode_outer, not posexplode: the inferred non-empty pre-filter
    # would inline the whole line construction into the scan filter and
    # re-evaluate it per position (see repetition_stats).
    ex = base.select(
        "doc_id", F.posexplode_outer(lines).alias("pos", "line"),
    ).select("doc_id", (F.col("pos") + 1).alias("line_no"), "line")
    return repetition.line_dedup_stats(ex).orderBy("doc_id")


SQL_GLOBAL_LINE_DEDUP = f"""
WITH t AS (
  SELECT doc_id, CAST(doc_id % 4 + 3 AS INTEGER) AS k, {_TOKS_SQL} AS toks
  FROM documents
), l AS (
  SELECT doc_id,
    CASE WHEN doc_id % 11 = 0
         THEN list_append(raw_lines, 'if (x) {{ enable javascript }}')
         ELSE raw_lines END AS lines
  FROM (
    SELECT doc_id,
      list_transform(
        generate_series(1, CAST(FLOOR((len(toks) + k - 1) / k) AS INTEGER)),
        i -> array_to_string(toks[(i-1)*k+1 : i*k], ' ')
             || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END
      ) AS raw_lines
    FROM t)
), occ AS (
  SELECT doc_id, u['ord'] AS line_no, u['line'] AS line,
    doc_id * 1000000 + u['ord'] AS k,
    len(list_filter(string_split(u['line'], ' '), w -> w <> '')) AS tok
  FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(lines)),
        i -> {{'ord': i, 'line': lines[i]}})) AS u
    FROM l)
), groups AS (
  SELECT line, MIN(k) AS kk, MAX(tok) AS gt FROM occ GROUP BY line
), keepers AS (
  SELECT CAST(kk // 1000000 AS BIGINT) AS doc_id,
         COUNT(*) AS kept, SUM(gt) AS kept_tok
  FROM groups GROUP BY 1
), spine AS (
  SELECT doc_id, COUNT(*) AS n_lines, SUM(tok) AS n_tokens
  FROM occ GROUP BY doc_id
)
SELECT s.doc_id,
  s.n_lines,
  CAST(s.n_tokens AS BIGINT) AS n_tokens,
  CAST(COALESCE(k.kept, 0) AS BIGINT) AS kept_lines,
  CAST(s.n_lines - COALESCE(k.kept, 0) AS BIGINT) AS removed_lines,
  CAST(FLOOR(1000000.0 * COALESCE(k.kept, 0) / s.n_lines + 0.5) AS BIGINT)
    AS kept_ppm,
  CAST(s.n_tokens - COALESCE(k.kept_tok, 0) AS BIGINT) AS removed_tokens
FROM spine s LEFT JOIN keepers k ON s.doc_id = k.doc_id
ORDER BY s.doc_id
"""


#: 12-token quote planted across documents for the ExactSubstr fixture —
#: long enough that every 8-token window inside it duplicates cross-doc.
_ESS_QUOTE = ("it was the best of times it was the worst of times indeed")


def q_exact_substring_spans(spark, sf):
    """Exact-substring dedup (repetition.exact_substring_spans — Lee et
    al. 2022 ExactSubstr §4.1, the removal pass `dup_length_spectrum`
    sizes): a 12-token quote is planted across documents (appended to
    every 7th, prepended to every 13th — cross-document duplication at
    DIFFERENT positions), then every 8-token window occurring anywhere
    else in the corpus is removed keeping only the globally first
    occurrence, with overlapping removed windows merged to exact token
    coverage. ONE map-side-combined hash-agg on the gram key, keeper
    attribution via doc-keyed regrouping (NO join back on the power-law
    gram key — plan-pinned), in-row span arithmetic for the merge."""
    from anomaly_detection_spark.functions import repetition

    d = load(spark, sf, "documents")
    txt = (
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" " + _ESS_QUOTE)))
        .when(F.col("doc_id") % 13 == 0,
              F.concat(F.lit(_ESS_QUOTE + " "), F.col("text")))
        .otherwise(F.col("text"))
    )
    planted = d.select("doc_id", txt.alias("text"))
    return repetition.exact_substring_spans(planted, n=8).orderBy("doc_id")


SQL_EXACT_SUBSTRING_SPANS = f"""
WITH raw AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN text || ' {_ESS_QUOTE}'
         WHEN doc_id % 13 = 0 THEN '{_ESS_QUOTE} ' || text
         ELSE text END AS text
  FROM documents
), sh AS (
  SELECT doc_id, len(toks) AS nt,
         GREATEST(len(toks) - 7, 0) AS nw, toks
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM raw)
), occ AS (
  SELECT doc_id, u['pos'] AS pos, u['g'] AS g
  FROM (
    SELECT doc_id, unnest(list_transform(range(1, nw + 1),
        i -> {{'pos': i, 'g': array_to_string(toks[i : i + 7], ' ')}})) AS u
    FROM sh)
), groups AS (
  SELECT g, MIN(doc_id * 1000000 + pos) AS mk FROM occ GROUP BY g
), keep AS (
  SELECT CAST(mk // 1000000 AS BIGINT) AS doc_id,
         list_sort(list(mk % 1000000)) AS kp
  FROM groups GROUP BY 1
), rep AS (
  SELECT s.doc_id, CAST(s.nt AS BIGINT) AS n_tokens,
         CAST(s.nw AS BIGINT) AS n_windows,
         list_filter(range(1, s.nw + 1),
                     p -> NOT list_contains(COALESCE(k.kp, []), p)) AS rem
  FROM sh s LEFT JOIN keep k USING (doc_id)
), cov AS (
  SELECT doc_id, n_tokens, n_windows,
         CAST(len(rem) AS BIGINT) AS removed_windows,
         CAST(COALESCE(list_sum(list_transform(range(1, len(rem) + 1),
           i -> CASE WHEN i = len(rem) THEN 8
                ELSE LEAST(rem[i + 1] - rem[i], 8) END)), 0) AS BIGINT)
           AS removed_tokens
  FROM rep
)
SELECT doc_id, n_tokens, n_windows, removed_windows, removed_tokens,
  CAST(FLOOR(1000000.0 * removed_tokens / GREATEST(n_tokens, 1) + 0.5)
       AS BIGINT) AS removed_ppm
FROM cov ORDER BY doc_id
"""


def q_exact_substring_clean(spark, sf):
    """The ExactSubstr APPLY step (repetition.exact_substring_clean):
    same planted-quote corpus as `exact_substring_spans`, but emitting
    the actual cleaned text with every duplicated window's tokens
    removed (globally first occurrence kept) — md5-pinned so the oracle
    verifies the exact post-removal strings, not just counts."""
    from anomaly_detection_spark.functions import repetition

    d = load(spark, sf, "documents")
    txt = (
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" " + _ESS_QUOTE)))
        .when(F.col("doc_id") % 13 == 0,
              F.concat(F.lit(_ESS_QUOTE + " "), F.col("text")))
        .otherwise(F.col("text"))
    )
    planted = d.select("doc_id", txt.alias("text"))
    out = repetition.exact_substring_clean(planted, n=8)
    return out.select(
        "doc_id", "n_tokens", "kept_tokens",
        F.md5(F.col("cleaned_text")).alias("cleaned_md5"),
    ).orderBy("doc_id")


SQL_EXACT_SUBSTRING_CLEAN = f"""
WITH raw AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN text || ' {_ESS_QUOTE}'
         WHEN doc_id % 13 = 0 THEN '{_ESS_QUOTE} ' || text
         ELSE text END AS text
  FROM documents
), sh AS (
  SELECT doc_id, len(toks) AS nt,
         GREATEST(len(toks) - 7, 0) AS nw, toks
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM raw)
), occ AS (
  SELECT doc_id, u['pos'] AS pos, u['g'] AS g
  FROM (
    SELECT doc_id, unnest(list_transform(range(1, nw + 1),
        i -> {{'pos': i, 'g': array_to_string(toks[i : i + 7], ' ')}})) AS u
    FROM sh)
), groups AS (
  SELECT g, MIN(doc_id * 1000000 + pos) AS mk FROM occ GROUP BY g
), keep AS (
  SELECT CAST(mk // 1000000 AS BIGINT) AS doc_id,
         list_sort(list(mk % 1000000)) AS kp
  FROM groups GROUP BY 1
), rep AS (
  SELECT s.doc_id, s.nt, s.toks,
         list_filter(range(1, s.nw + 1),
                     p -> NOT list_contains(COALESCE(k.kp, []), p)) AS rem
  FROM sh s LEFT JOIN keep k USING (doc_id)
), cleaned AS (
  SELECT doc_id, nt,
         list_filter(range(1, nt + 1),
                     t -> len(list_filter(rem,
                              p -> p <= t AND t < p + 8)) = 0) AS kept_idx,
         toks
  FROM rep
)
SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
  CAST(len(kept_idx) AS BIGINT) AS kept_tokens,
  md5(COALESCE(array_to_string(list_transform(kept_idx, t -> toks[t]), ' '),
               '')) AS cleaned_md5
FROM cleaned ORDER BY doc_id
"""


#: Literal BM25 query set for the registry entry: terms drawn from the
#: testdata vocabulary so every query has real hits.
_BM25_QUERIES = [
    (1, ["hash", "join"]),
    (2, ["window", "agg"]),
    (3, ["stream", "batch", "spark"]),
    (4, ["customer", "vector"]),
]


def q_bm25_search(spark, sf):
    """Okapi BM25 lexical top-k (search.bm25_topk): the bounded literal
    query-term set is pushed as an IN-filter on the exploded token before
    any shuffle; tf/df are map-side-combined hash-aggs; df + query map +
    the 1-row corpus stats are broadcast; per-(query,doc,term)
    contributions are floored to integer micros BEFORE the sum so the
    aggregate is order-independent; per-query top-k is a
    WindowGroupLimit."""
    from anomaly_detection_spark.functions.search import bm25_topk

    d = load(spark, sf, "documents")
    return bm25_topk(d, _BM25_QUERIES, k=5).orderBy("query_id", "rank")


_BM25_TERMS_SQL = ("['hash','join','window','agg','stream','batch',"
                   "'spark','customer','vector']")

SQL_BM25_SEARCH = f"""
WITH q(query_id, term) AS (VALUES
  (1,'hash'),(1,'join'),(2,'window'),(2,'agg'),
  (3,'stream'),(3,'batch'),(3,'spark'),(4,'customer'),(4,'vector')
), base AS (
  SELECT doc_id, toks, len(toks) AS dl
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM base
), ex AS (
  SELECT doc_id, dl,
    unnest(list_filter(toks, x -> list_contains({_BM25_TERMS_SQL}, x))) AS term
  FROM base
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2, 3
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), contrib AS (
  SELECT q.query_id, tf.doc_id,
    CAST(FLOOR(
      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
      * ((tf * (1.2 + 1.0))
         / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sum_dl / n_docs))))
      * 1000000.0 + 0.5) AS BIGINT) AS c
  FROM tf JOIN dfq USING (term) JOIN q USING (term) CROSS JOIN stats
), per AS (
  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
  FROM contrib GROUP BY 1, 2
), r AS (
  SELECT query_id, doc_id, score_micro,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score_micro DESC, doc_id ASC) AS rank
  FROM per
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score_micro
FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


def _synth_host(did):
    """Deterministic per-doc hostname: subdomain × site-family × site-digit,
    mixing tracker/content domains so suffix-blocklists and per-domain
    rollups have real variety. Mirrored literally in the oracles."""
    return F.concat(
        F.element_at(
            F.array(F.lit("ads"), F.lit("cdn"), F.lit("www"), F.lit("blog")),
            (did % 4 + 1).cast("int")),
        F.lit("."),
        F.element_at(
            F.array(F.lit("tracker"), F.lit("example"), F.lit("news")),
            (did % 3 + 1).cast("int")),
        (did % 5).cast("string"),
        F.lit(".com"),
    )


_SYNTH_HOST_SQL = (
    "['ads','cdn','www','blog'][CAST(doc_id % 4 + 1 AS INTEGER)] || '.' || "
    "['tracker','example','news'][CAST(doc_id % 3 + 1 AS INTEGER)] || "
    "CAST(doc_id % 5 AS VARCHAR) || '.com'"
)

#: Suffix blocklist: whole registrable domains (tracker0-2.com, news4.com —
#: every subdomain blocked) plus two subdomain-scoped rules that must NOT
#: block their siblings (ads.example{{0,1}}.com blocks only the ads host).
_HOST_BLOCKLIST = [
    "tracker0.com", "tracker1.com", "tracker2.com",
    "ads.example0.com", "ads.example1.com", "news4.com",
]


def q_url_host_blocklist(spark, sf):
    """Suffix-match domain blocklisting (web.host_block_match): the host
    expands to its ≤4 dot-suffixes in-row and matches against the bounded
    literal blocklist — zero joins, zero shuffle, scan-speed at 100 TB (a
    million-entry blocklist swaps in a broadcast equi-join on the exploded
    suffix with identical semantics). Registrable-level rules block every
    subdomain; subdomain-scoped rules must not block siblings."""
    from anomaly_detection_spark.functions.web import host_block_match

    d = load(spark, sf, "documents")
    h = d.select("doc_id", _synth_host(F.col("doc_id")).alias("host"))
    m = h.select(
        "doc_id", "host",
        host_block_match(F.col("host"), _HOST_BLOCKLIST).alias("matched_rule"),
    )
    return m.select(
        "doc_id", "host",
        F.col("matched_rule").isNotNull().cast("int").alias("blocked"),
        "matched_rule",
    ).orderBy("doc_id")


_BLOCKLIST_SQL = ("['tracker0.com','tracker1.com','tracker2.com',"
                  "'ads.example0.com','ads.example1.com','news4.com']")

SQL_URL_HOST_BLOCKLIST = f"""
WITH u AS (
  SELECT doc_id, {_SYNTH_HOST_SQL} AS host FROM documents
), s AS (
  SELECT doc_id, host,
    list_filter(
      list_transform(
        generate_series(1, len(string_split(host, '.')) - 1),
        i -> array_to_string(string_split(host, '.')[i:], '.')),
      x -> list_contains({_BLOCKLIST_SQL}, x)) AS hits
  FROM u
)
SELECT doc_id, host,
  CAST(len(hits) > 0 AS INTEGER) AS blocked,
  list_sort(hits)[1] AS matched_rule
FROM s ORDER BY doc_id
"""


def q_domain_quality_stats(spark, sf):
    """Per-registrable-domain crawl rollup (web.registrable_domain): doc
    count, total chars, mean quality in exact integer micros (each doc's
    rounded-6dp quality → floor(q·1e6+0.5) BIGINT, summed
    order-independently, one integer division at the end), distinct
    languages. ONE hash-agg on the bounded domain key — the per-site QA
    view every crawl pipeline maintains."""
    from anomaly_detection_spark.functions.web import registrable_domain

    d = load(spark, sf, "documents")
    q_micro = F.floor(
        text.quality_score(F.col("text")) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    h = d.select(
        registrable_domain(_synth_host(F.col("doc_id"))).alias("domain"),
        F.col("n_chars"), F.col("lang"), q_micro.alias("q_micro"),
    )
    agg = h.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("q_micro").alias("sum_q"),
        F.countDistinct("lang").alias("n_langs"),
    )
    return agg.select(
        "domain", "n_docs", "total_chars",
        F.expr("sum_q div n_docs").alias("avg_quality_micro"),
        "n_langs",
    ).orderBy("domain")


SQL_DOMAIN_QUALITY_STATS = f"""
WITH t AS (
  SELECT doc_id, lang, n_chars, text, {_TOKS_SQL} AS toks,
    len(list_filter({_TOKS_SQL.replace("trim(text)", "trim(lower(text))")},
        x -> list_contains({_SW_SQL}, x))) * 1.0
      / GREATEST(len({_TOKS_SQL}), 1) AS swr,
    (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
      / GREATEST(length(text), 1) AS pr
  FROM documents
), q AS (
  SELECT lang, n_chars,
    ['tracker','example','news'][CAST(doc_id % 3 + 1 AS INTEGER)]
      || CAST(doc_id % 5 AS VARCHAR) || '.com' AS domain,
    CAST(FLOOR(ROUND((LEAST(length(text) / 200.0, 1.0)
       + (1.0 - ABS(swr - 0.15) / 0.85)
       + (1.0 - LEAST(pr * 5.0, 1.0))) / 3.0, 6) * 1000000.0 + 0.5)
      AS BIGINT) AS q_micro
  FROM t
)
SELECT domain,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(q_micro) // COUNT(*) AS BIGINT) AS avg_quality_micro,
  COUNT(DISTINCT lang) AS n_langs
FROM q GROUP BY domain ORDER BY domain
"""


def q_edit_distance_links(spark, sf):
    """Edit-distance record linkage: deterministic single-char-deletion
    typos are planted in part names (deletion position ≥ 3 keyed by
    p_partkey), then each dirty name links to its best clean match by
    Levenshtein distance ≤ 2 within a 2-char-prefix block — the classic
    fuzzy-match complement to `entity_linkage`'s bigram-Jaccard scorer
    (edit distance catches transposition/deletion typos that bigram sets
    under-penalize on short strings). Levenshtein is a built-in JVM
    expression on both engines with the identical textbook definition,
    so the oracle matches exactly; blocking bounds candidates to
    Σ|block|² like every pair-generating path in this repo."""
    p = load(spark, sf, "part")
    pos = (F.col("p_partkey") % (F.length("p_name") - 3) + 3).cast("int")
    dirty = p.select("p_partkey", "p_name", pos.alias("_pos")).select(
        "p_partkey",
        F.concat(
            F.expr("substring(p_name, 1, _pos - 1)"),
            F.expr("substring(p_name, _pos + 1, 200)"),
        ).alias("dirty_name"),
        F.substring("p_name", 1, 2).alias("_blk"),
    )
    clean = p.select("p_name").distinct()         .select("p_name", F.substring("p_name", 1, 2).alias("_blk"))
    cand = dirty.join(clean, "_blk").select(
        "p_partkey", "dirty_name", "p_name",
        F.levenshtein("dirty_name", "p_name").alias("dist"),
    ).filter(F.col("dist") <= 2)
    w = Window.partitionBy("p_partkey").orderBy(
        F.asc("dist"), F.asc("p_name"))
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("p_partkey", "dirty_name",
                F.col("p_name").alias("matched_name"),
                F.col("dist").cast("int").alias("dist"))
        .orderBy("p_partkey")
    )


SQL_EDIT_DISTANCE_LINKS = """
WITH d AS (
  SELECT p_partkey,
         substring(p_name, 1, pos - 1)
           || substring(p_name, pos + 1, 200) AS dirty_name,
         substring(p_name, 1, 2) AS blk
  FROM (SELECT p_partkey, p_name,
               CAST(p_partkey % (length(p_name) - 3) + 3 AS INTEGER) AS pos
        FROM part)
), c AS (
  SELECT p_name, substring(p_name, 1, 2) AS blk
  FROM (SELECT DISTINCT p_name FROM part)
), cand AS (
  SELECT d.p_partkey, d.dirty_name, c.p_name,
         levenshtein(d.dirty_name, c.p_name) AS dist
  FROM d JOIN c USING (blk)
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_partkey
                               ORDER BY dist ASC, p_name ASC) AS rn
  FROM cand WHERE dist <= 2
)
SELECT p_partkey, dirty_name, p_name AS matched_name,
       CAST(dist AS INTEGER) AS dist
FROM r WHERE rn = 1 ORDER BY p_partkey
"""


def q_golden_records(spark, sf):
    """Survivorship / golden-record consolidation (linkage.golden_records)
    — the MDM step after fuzzy linking: multi-source customer records are
    synthesized deterministically (2-3 source rows per customer; source 2
    disagrees on segment for every 7th key; every (key+source)%5 name is
    NULL), then each cluster collapses to one golden row — most-frequent-
    non-NULL for segment (ties to the smallest value, conflict count
    emitted), latest-non-NULL by record order for name. All attributes
    ride ONE stacked explode and three (cluster, attr)-keyed shuffles
    total, however many columns are consolidated. Reference analogue:
    data_normalizer.py merges sources by exact id only — no survivorship
    semantics at all."""
    from anomaly_detection_spark.functions.linkage import golden_records

    c = load(spark, sf, "customer")
    srcs = F.when(F.col("c_custkey") % 3 == 0,
                  F.array(F.lit(1), F.lit(2), F.lit(3)))         .otherwise(F.array(F.lit(1), F.lit(2)))
    r = c.select("c_custkey", "c_name", "c_mktsegment",
                 F.explode_outer(srcs).alias("s"))
    rec = r.select(
        F.col("c_custkey").alias("cluster_id"),
        (F.col("c_custkey") * 10 + F.col("s")).alias("ord"),
        F.when((F.col("s") == 2) & (F.col("c_custkey") % 7 == 0),
               F.lit("UNKNOWN")).otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.when((F.col("c_custkey") + F.col("s")) % 5 == 0,
               F.lit(None).cast("string"))
        .otherwise(F.concat(F.col("c_name"), F.lit("-"),
                            F.col("s").cast("string"))).alias("name"),
    )
    return golden_records(rec, "cluster_id", ["segment"], ["name"], "ord") \
        .orderBy("cluster_id")


SQL_GOLDEN_RECORDS = """
WITH rec AS (
  SELECT c_custkey AS cluster_id,
         c_custkey * 10 + s AS ord,
         CASE WHEN s = 2 AND c_custkey % 7 = 0 THEN 'UNKNOWN'
              ELSE c_mktsegment END AS segment,
         CASE WHEN (c_custkey + s) % 5 = 0 THEN NULL
              ELSE c_name || '-' || CAST(s AS VARCHAR) END AS name
  FROM (SELECT *, unnest(CASE WHEN c_custkey % 3 = 0 THEN [1, 2, 3]
                         ELSE [1, 2] END) AS s
        FROM customer)
), nrec AS (
  SELECT cluster_id, COUNT(*) AS n_records FROM rec GROUP BY 1
), segc AS (
  SELECT cluster_id, segment AS value, COUNT(*) AS c
  FROM rec WHERE segment IS NOT NULL GROUP BY 1, 2
), segw AS (
  SELECT cluster_id, value,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY c DESC, value ASC) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS nv
  FROM segc
), seg AS (
  SELECT cluster_id, value AS segment,
         CAST(nv - 1 AS BIGINT) AS segment_conflicts
  FROM segw WHERE rn = 1
), phw AS (
  SELECT cluster_id, name,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY (name IS NOT NULL) DESC, ord DESC)
           AS rn
  FROM rec
), ph AS (
  SELECT cluster_id, name FROM phw WHERE rn = 1
)
SELECT n.cluster_id, n.n_records, s.segment, p.name,
       COALESCE(s.segment_conflicts, 0) AS segment_conflicts
FROM nrec n LEFT JOIN seg s USING (cluster_id)
LEFT JOIN ph p USING (cluster_id)
ORDER BY n.cluster_id
"""


def q_entity_linkage(spark, sf):
    """Fuzzy record linkage (linkage.best_links): every 7th customer is
    re-emitted as a 'dirty' source record (lowercased, '#' → space) and
    linked back by blocked candidate join on (nation, segment) + distinct
    char-bigram Jaccard (exact integer ppm) + best-match window.
    ``is_correct`` self-scores the linkage against planted ground truth.
    Pair count is Σ|block|² over 125 bounded blocks, never n²."""
    from anomaly_detection_spark.functions import linkage

    c = load(spark, sf, "customer")
    clean = c.select(
        F.col("c_custkey").alias("rec_id"), F.col("c_name").alias("name"),
        "c_nationkey", "c_mktsegment",
    )
    dirty = c.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 1000000).alias("rec_id"),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit(" ")))
         .alias("name"),
        "c_nationkey", "c_mktsegment",
    )
    links = linkage.best_links(
        dirty, clean, ["c_nationkey", "c_mktsegment"],
        min_ppm=500_000, max_block=1000,
    )
    return links.select(
        "dirty_id", "clean_id", "jacc_ppm",
        (F.col("dirty_id") - 1000000 == F.col("clean_id"))
        .cast("int").alias("is_correct"),
    ).orderBy("dirty_id")


SQL_ENTITY_LINKAGE = """
WITH clean AS (
  SELECT c_custkey AS rec_id, c_name AS name, c_nationkey, c_mktsegment
  FROM customer
), bsz AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS bn FROM clean GROUP BY 1, 2
), cok AS (
  SELECT clean.* FROM clean
  JOIN bsz USING (c_nationkey, c_mktsegment) WHERE bn <= 1000
), dirty AS (
  SELECT c_custkey + 1000000 AS rec_id,
         lower(replace(c_name, '#', ' ')) AS name,
         c_nationkey, c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
), db AS (
  SELECT rec_id AS dirty_id, c_nationkey, c_mktsegment,
    list_distinct(list_transform(
      generate_series(1, length(lower(name)) - 1),
      i -> substr(lower(name), i, 2))) AS bg
  FROM dirty
), cb AS (
  SELECT rec_id AS clean_id, c_nationkey, c_mktsegment,
    list_distinct(list_transform(
      generate_series(1, length(lower(name)) - 1),
      i -> substr(lower(name), i, 2))) AS bg
  FROM cok
), pairs AS (
  SELECT dirty_id, clean_id,
    CAST(FLOOR(CAST(1000000 AS DOUBLE) * len(list_intersect(d.bg, c.bg))
      / GREATEST(len(d.bg) + len(c.bg) - len(list_intersect(d.bg, c.bg)), 1)
      + 0.5) AS BIGINT) AS jacc_ppm
  FROM db d JOIN cb c USING (c_nationkey, c_mktsegment)
), r AS (
  SELECT dirty_id, clean_id, jacc_ppm,
    ROW_NUMBER() OVER (PARTITION BY dirty_id
                       ORDER BY jacc_ppm DESC, clean_id ASC) AS rn
  FROM pairs WHERE jacc_ppm >= 500000
)
SELECT dirty_id, clean_id, jacc_ppm,
  CAST(dirty_id - 1000000 = clean_id AS INTEGER) AS is_correct
FROM r WHERE rn = 1 ORDER BY dirty_id
"""


#: Hashed-classifier weight vector (64 buckets, integer micros) and DSIR
#: target-distribution counts: deterministic literal formulas standing in
#: for trained-model parameters — a real model's weights drop into the
#: same literal-array slot (at 1M buckets, a broadcast map). Both are
#: embedded LITERALLY in the oracles so the engines run the same model.
_QC_BUCKETS = 64
_QC_WEIGHTS_MICRO = [
    ((i * 2654435761) % 1997 - 998) * 1000 for i in range(_QC_BUCKETS)
]
_QC_THRESHOLD = 50_000
_DSIR_TARGET = [(i * 7919) % 97 + 1 for i in range(_QC_BUCKETS)]
_W_SQL = "[" + ", ".join(str(w) for w in _QC_WEIGHTS_MICRO) + "]"
_TGT_SQL = "[" + ", ".join(str(t) for t in _DSIR_TARGET) + "]"
_B_SQL = "CAST(('0x' || substr(md5({t}),1,8)) AS BIGINT) % 64"


def q_quality_classifier(spark, sf):
    """Hashed bag-of-words linear quality classifier
    (scoring.classify_quality): fastText / GPT-3-quality-filter shape —
    md5-hashed token buckets, literal integer-micro weight vector,
    in-row aggregate sum, keep = sum ≥ threshold × n_toks in exact
    integers. Zero shuffle, zero explode: pure scan-speed codegen.
    Reference scores rows only via hand rules (rules/builtin.py); this
    is the trained-model analogue a 100 TB curation pass needs."""
    from anomaly_detection_spark.functions import scoring

    d = load(spark, sf, "documents")
    return scoring.classify_quality(
        d, _QC_WEIGHTS_MICRO, threshold_micro_per_token=_QC_THRESHOLD
    ).orderBy("doc_id")


SQL_QUALITY_CLASSIFIER = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
s AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
    CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(toks,
      t -> CAST({_W_SQL}[CAST({_B_SQL.format(t="t")} + 1 AS INTEGER)] AS BIGINT)
    ))) AS BIGINT) AS logit_sum_micro
  FROM t
)
SELECT doc_id, n_toks, logit_sum_micro,
  CAST(logit_sum_micro >= {_QC_THRESHOLD} * n_toks AS INTEGER) AS keep
FROM s ORDER BY doc_id
"""


def q_dsir_importance(spark, sf):
    """DSIR importance weights (scoring.dsir_log_weights): pass 1 is a
    map-side-combined hash-agg of the corpus's hashed-unigram
    distribution to 64 rows, broadcast back as a 1-row map; pass 2
    scores each doc in-row with per-token log-ratios floored to integer
    micros BEFORE the sum (order-independent BIGINT — can't hash-flip).
    The corpus never shuffles on a row key."""
    from anomaly_detection_spark.functions import scoring

    d = load(spark, sf, "documents")
    return scoring.dsir_log_weights(d, _DSIR_TARGET).orderBy("doc_id")


SQL_DSIR_IMPORTANCE = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
ex AS (
  SELECT doc_id, {_B_SQL.format(t="tok")} AS b
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
), raw AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM ex GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS raw_total FROM raw
), lr AS (
  SELECT b, CAST(FLOOR(ln(
      CAST(({_TGT_SQL}[CAST(b + 1 AS INTEGER)] + 1) * (raw_total + 64) AS DOUBLE)
      / CAST({sum(_DSIR_TARGET) + 64} * (cnt + 1) AS DOUBLE)
    ) * 1000000.0 + 0.5) AS BIGINT) AS lr_micro
  FROM raw CROSS JOIN tot
), per AS (
  SELECT doc_id, CAST(SUM(lr_micro) AS BIGINT) AS s
  FROM ex JOIN lr USING (b) GROUP BY 1
)
SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
  CAST(COALESCE(per.s, 0) AS BIGINT) AS dsir_logw_micro
FROM t LEFT JOIN per ON t.doc_id = per.doc_id ORDER BY t.doc_id
"""

#: Shared DSIR CTE block (pass 1 + per-doc log-weight), reused by the
#: importance query above and the resample query below.
_DSIR_CTES_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
ex AS (
  SELECT doc_id, {_B_SQL.format(t="tok")} AS b
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
), raw AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM ex GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS raw_total FROM raw
), lr AS (
  SELECT b, CAST(FLOOR(ln(
      CAST(({_TGT_SQL}[CAST(b + 1 AS INTEGER)] + 1) * (raw_total + 64) AS DOUBLE)
      / CAST({sum(_DSIR_TARGET) + 64} * (cnt + 1) AS DOUBLE)
    ) * 1000000.0 + 0.5) AS BIGINT) AS lr_micro
  FROM raw CROSS JOIN tot
), per AS (
  SELECT doc_id, CAST(SUM(lr_micro) AS BIGINT) AS s
  FROM ex JOIN lr USING (b) GROUP BY 1
)"""


def q_dsir_resample(spark, sf):
    """DSIR end-to-end: importance weights then Gumbel-top-k weighted
    sampling without replacement (scoring.gumbel_topk_resample) —
    probability ∝ exp(log weight), u from md5('gumbel:'||id) so the
    sample is deterministic and engine-reproducible. The top-k executes
    as TakeOrderedAndProject (per-partition partial top-k), never a
    global sort or a single-partition window."""
    from anomaly_detection_spark.functions import scoring

    d = load(spark, sf, "documents")
    wt = scoring.dsir_log_weights(d, _DSIR_TARGET)
    return scoring.gumbel_topk_resample(wt, k=50).orderBy("rank")


SQL_DSIR_RESAMPLE = f"""{_DSIR_CTES_SQL},
wt AS (
  SELECT t.doc_id, CAST(COALESCE(per.s, 0) AS BIGINT) AS dsir_logw_micro
  FROM t LEFT JOIN per ON t.doc_id = per.doc_id
), keyed AS (
  SELECT doc_id, dsir_logw_micro,
    CAST(FLOOR((CAST(dsir_logw_micro AS DOUBLE) / 1000000.0
      - ln(-ln((CAST(CAST(('0x' || substr(md5('gumbel:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0))
    ) * 1000000.0 + 0.5) AS BIGINT) AS gumbel_key_micro
  FROM wt
), r AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY gumbel_key_micro DESC, doc_id ASC)
              AS INTEGER) AS rank,
         doc_id, dsir_logw_micro, gumbel_key_micro
  FROM keyed
)
SELECT rank, doc_id, dsir_logw_micro, gumbel_key_micro
FROM r WHERE rank <= 50 ORDER BY rank
"""


def q_corpus_dup_ngrams(spark, sf):
    """Cross-document repeated 5-gram profile
    (repetition.corpus_dup_ngrams, the Lee et al. ExactSubstr family):
    per-doc fraction of distinct word 5-grams appearing in ≥2 docs.
    Distinct grams explode once, docs-per-gram is a map-side-combined
    hash-agg, and the join back is keyed on the gram — the one honest
    corpus shuffle a global substring index costs; short docs return
    zeros via the id-spine left join."""
    from anomaly_detection_spark.functions import repetition

    d = load(spark, sf, "documents")
    return repetition.corpus_dup_ngrams(d, n=5, min_docs=2) \
        .orderBy("doc_id")


_FIVEGRAMS_SQL = """CASE WHEN len(toks) >= 5 THEN
  list_transform(generate_series(1, len(toks)-4),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4])
  ELSE CAST([] AS VARCHAR[]) END"""

SQL_CORPUS_DUP_NGRAMS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
sh AS (SELECT doc_id, list_distinct({_FIVEGRAMS_SQL}) AS sh FROM t),
ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
gd AS (SELECT g, COUNT(*) AS ndocs FROM ex GROUP BY 1),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
    CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams
  FROM ex JOIN gd USING (g) GROUP BY 1
)
SELECT d.doc_id,
  CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
  CAST(COALESCE(dup_grams, 0) AS BIGINT) AS dup_grams,
  CAST(FLOOR(1000000.0 * COALESCE(dup_grams, 0)
             / GREATEST(COALESCE(n_grams, 0), 1) + 0.5) AS BIGINT) AS dup_ppm
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
ORDER BY d.doc_id
"""


def q_k_anonymity(spark, sf):
    """k-anonymity risk bands (privacy.k_anonymity_profile) over customer
    quasi-identifiers (nation, segment, account-balance kilo-band):
    class-size hash-agg then a 3-band rollup — the structural
    re-identification check that regex PII scanning cannot see."""
    from anomaly_detection_spark.functions import privacy

    c = load(spark, sf, "customer")
    qi = c.select(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    return privacy.k_anonymity_profile(
        qi, ["c_nationkey", "c_mktsegment", "bal_band"], k=5
    ).orderBy("k_band")


SQL_K_ANONYMITY = """
WITH cls AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
         COUNT(*) AS sz
  FROM customer GROUP BY 1, 2, 3
)
SELECT CASE WHEN sz = 1 THEN 'unique'
            WHEN sz < 5 THEN 'small'
            ELSE 'anonymous' END AS k_band,
  COUNT(*) AS n_classes, CAST(SUM(sz) AS BIGINT) AS n_rows
FROM cls GROUP BY 1 ORDER BY k_band
"""


def q_l_diversity(spark, sf):
    """l-diversity bands (privacy.l_diversity_profile): per (nation,
    segment) class, how many DISTINCT balance bands — homogeneous
    classes leak the sensitive attribute even when k-anonymous."""
    from anomaly_detection_spark.functions import privacy

    c = load(spark, sf, "customer")
    qi = c.select(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    return privacy.l_diversity_profile(
        qi, ["c_nationkey", "c_mktsegment"], "bal_band", l=10
    ).orderBy("l_band")


SQL_L_DIVERSITY = """
WITH cls AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz,
         COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT)) AS nd
  FROM customer GROUP BY 1, 2
)
SELECT CASE WHEN nd = 1 THEN 'homogeneous'
            WHEN nd < 10 THEN 'low'
            ELSE 'diverse' END AS l_band,
  COUNT(*) AS n_classes, CAST(SUM(sz) AS BIGINT) AS n_rows
FROM cls GROUP BY 1 ORDER BY l_band
"""


def q_curation_pipeline(spark, sf):
    """End-to-end LLM training-data curation in ONE lazy plan — the
    flagship composition showing the engine covers the whole pipeline,
    not just its stages: (1) exact dedup, first-wins by content
    fingerprint (one window shuffle, no join); (2) model-based quality
    gate (zero-shuffle hashed-linear classifier, in-row); (3) DSIR
    importance weights over the SURVIVORS (their own raw distribution —
    one 64-row hash-agg broadcast back); (4) Gumbel-top-k weighted
    selection (TakeOrderedAndProject). Four stages, three corpus-wide
    exchanges total, nothing driver-side."""
    from pyspark.sql.window import Window as _W
    from anomaly_detection_spark.functions import scoring
    from anomaly_detection_spark.functions.text import tokens as _tokens

    d = load(spark, sf, "documents")
    w = _W.partitionBy(F.md5("text")).orderBy("doc_id")
    d1 = (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text")
    )
    toks = _tokens(F.col("text"))
    s = scoring.hashed_linear_logit_micro(toks, _QC_WEIGHTS_MICRO)
    d2 = d1.filter(s >= F.lit(_QC_THRESHOLD) * F.size(toks).cast("long"))
    wt = scoring.dsir_log_weights(d2, _DSIR_TARGET)
    return scoring.gumbel_topk_resample(wt, k=100).orderBy("rank")


SQL_CURATION_PIPELINE = f"""
WITH t0 AS (
  SELECT doc_id, text,
    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
), d1 AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM t0 WHERE rn = 1
), cls AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
    CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(toks,
      t -> CAST({_W_SQL}[CAST({_B_SQL.format(t="t")} + 1 AS INTEGER)] AS BIGINT)
    ))) AS BIGINT) AS s
  FROM d1
), d2 AS (
  SELECT doc_id, toks FROM cls WHERE s >= {_QC_THRESHOLD} * n
), ex AS (
  SELECT doc_id, {_B_SQL.format(t="tok")} AS b
  FROM (SELECT doc_id, unnest(toks) AS tok FROM d2)
), raw AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM ex GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS raw_total FROM raw
), lr AS (
  SELECT b, CAST(FLOOR(ln(
      CAST(({_TGT_SQL}[CAST(b + 1 AS INTEGER)] + 1) * (raw_total + 64) AS DOUBLE)
      / CAST({sum(_DSIR_TARGET) + 64} * (cnt + 1) AS DOUBLE)
    ) * 1000000.0 + 0.5) AS BIGINT) AS lr_micro
  FROM raw CROSS JOIN tot
), per AS (
  SELECT doc_id, CAST(SUM(lr_micro) AS BIGINT) AS s
  FROM ex JOIN lr USING (b) GROUP BY 1
), wt AS (
  SELECT d2.doc_id, CAST(COALESCE(per.s, 0) AS BIGINT) AS dsir_logw_micro
  FROM d2 LEFT JOIN per ON d2.doc_id = per.doc_id
), keyed AS (
  SELECT doc_id, dsir_logw_micro,
    CAST(FLOOR((CAST(dsir_logw_micro AS DOUBLE) / 1000000.0
      - ln(-ln((CAST(CAST(('0x' || substr(md5('gumbel:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0))
    ) * 1000000.0 + 0.5) AS BIGINT) AS gumbel_key_micro
  FROM wt
), r AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY gumbel_key_micro DESC, doc_id ASC)
              AS INTEGER) AS rank,
         doc_id, dsir_logw_micro, gumbel_key_micro
  FROM keyed
)
SELECT rank, doc_id, dsir_logw_micro, gumbel_key_micro
FROM r WHERE rank <= 100 ORDER BY rank
"""


def q_ngram_lm_scores(spark, sf):
    """CCNet-style bigram-LM quality filter (lm.bigram_lm_scores,
    Wenzek et al. 2020): train pass runs only over the deterministic
    md5 quarter-slice (explode → map-side-combined hash-aggs, shuffled
    rows vocabulary-sized), vocab is a bounded TakeOrdered top-24 with
    total tie-break, OOV folds to <unk> BEFORE bigram counting so the
    model table is ≤ 25² keys; score pass broadcasts the model as 1-row
    maps and scores every doc in-row (zip_with over adjacent tokens,
    per-pair NLL floored to integer micros before the order-independent
    BIGINT sum) — the corpus never shuffles."""
    from anomaly_detection_spark.functions import lm

    d = load(spark, sf, "documents")
    return lm.bigram_lm_scores(d).orderBy("doc_id")


SQL_NGRAM_LM_SCORES = f"""
WITH t AS (
  SELECT doc_id, COALESCE({_TOKS_LOWER_SQL}, CAST([] AS VARCHAR[])) AS toks
  FROM documents
), ref AS (
  SELECT * FROM t
  WHERE CAST(('0x' || substr(md5('lmref:' || CAST(doc_id AS VARCHAR)),1,8))
             AS BIGINT) % 4 = 0
), uni AS (
  SELECT tok, COUNT(*) AS cnt
  FROM (SELECT unnest(toks) AS tok FROM ref) GROUP BY 1
), vocab AS (
  SELECT list(tok) AS vl
  FROM (SELECT tok FROM uni ORDER BY cnt DESC, tok ASC LIMIT 24)
), mapped AS (
  SELECT doc_id, toks,
    list_transform(toks,
      x -> CASE WHEN list_contains(vl, x) THEN x ELSE '<unk>' END) AS ms
  FROM t CROSS JOIN vocab
), refbg AS (
  SELECT unnest(list_transform(range(1, len(ms)),
                i -> ms[i] || ' ' || ms[i+1])) AS bg
  FROM mapped
  WHERE CAST(('0x' || substr(md5('lmref:' || CAST(doc_id AS VARCHAR)),1,8))
             AS BIGINT) % 4 = 0
), bgc AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM refbg GROUP BY 1
), c1t AS (
  SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
  FROM bgc GROUP BY 1
), allbg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(ms)),
                 i -> ms[i] || ' ' || ms[i+1])) AS bg
  FROM mapped
), scored AS (
  SELECT a.doc_id,
    CAST(SUM(CAST(FLOOR(ln(
        CAST(COALESCE(c1t.c1, 0) + 25 AS DOUBLE)
        / CAST(COALESCE(bgc.c12, 0) + 1 AS DOUBLE)
      ) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM allbg a
  LEFT JOIN bgc USING (bg)
  LEFT JOIN c1t ON c1t.w1 = split_part(a.bg, ' ', 1)
  GROUP BY 1
)
SELECT t.doc_id,
  CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_bigrams,
  CAST(COALESCE(scored.s, 0) AS BIGINT) AS nll_sum_micro,
  CAST(COALESCE(scored.s, 0)
       <= 3100000 * greatest(len(toks) - 1, 0) AS INTEGER) AS keep
FROM t LEFT JOIN scored ON t.doc_id = scored.doc_id
ORDER BY t.doc_id
"""


def q_bpe_pair_stats(spark, sf):
    """BPE merge-candidate statistics (bpe.top_merge_candidates,
    Sennrich et al. 2016): the corpus first collapses to (word, count)
    — ONE map-side-combined hash-agg whose output is vocabulary-sized —
    then each DISTINCT word expands once in-row (transform(sequence) →
    chars + '</w>', zip_with pairs) into the pair hash-agg, whose key
    space is charset²-bounded. The global top-20 runs as
    TakeOrderedAndProject with a (cnt desc, pair asc) total order."""
    from anomaly_detection_spark.functions import bpe

    d = load(spark, sf, "documents")
    return bpe.top_merge_candidates(d, top_n=20)


SQL_BPE_PAIR_STATS = f"""
WITH t AS (
  SELECT COALESCE({_TOKS_LOWER_SQL}, CAST([] AS VARCHAR[])) AS toks
  FROM documents
), wc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt
  FROM (SELECT unnest(toks) AS word FROM t) GROUP BY 1
), sy AS (
  SELECT wcnt,
    list_append(list_transform(range(1, length(word) + 1),
                               i -> substr(word, i, 1)), '</w>') AS syms
  FROM wc
), pr AS (
  SELECT wcnt, unnest(list_transform(range(1, len(syms)),
                      i -> syms[i] || ' ' || syms[i+1])) AS pair
  FROM sy
), pc AS (
  SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt FROM pr GROUP BY 1
), r AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair ASC) AS INTEGER)
           AS rank, pair, cnt
  FROM pc
)
SELECT rank, pair, cnt FROM r WHERE rank <= 20 ORDER BY rank
"""


_BPE_N_MERGES = 6


def q_bpe_learn_merges(spark, sf):
    """Iterative BPE training, 6 rounds (bpe.learn_merges, Sennrich et
    al. 2016 Algorithm 1): ONE corpus scan builds the vocabulary-sized
    (word, wcnt) table; each round is a pair hash-agg + TakeOrdered
    top-1 + one in-row greedy-merge fold over that table (driver
    collects exactly one row per round, localCheckpoint truncates the
    fold lineage). The oracle runs the literally identical fold
    unrolled as a 6-level CTE pyramid with DuckDB list_reduce."""
    from anomaly_detection_spark.functions import bpe

    d = load(spark, sf, "documents")
    table, _, _ = bpe.learn_merges(d, n_merges=_BPE_N_MERGES)
    return table


def q_bpe_encode(spark, sf):
    """Per-document BPE segmentation stats under the 6 learned merges
    (bpe.encode_piece_counts): merges are applied VOCAB-side (once per
    unique word, localCheckpoint per round against the CollapseProject
    fold-inlining trap), then piece counts join back to the exploded
    corpus on word — AQE broadcasts the vocab when small, skew-splits
    the Zipf key when not. n_pieces = Σ_words |syms| after all
    merges."""
    from anomaly_detection_spark.functions import bpe

    d = load(spark, sf, "documents")
    _, _, vocab = bpe.learn_merges(d, n_merges=_BPE_N_MERGES)
    return bpe.encode_piece_counts(d, vocab=vocab).orderBy("doc_id")


def _bpe_sql_pyramid(n_merges: int) -> str:
    """Shared unrolled-CTE preamble for the BPE oracles: t → wc → s0,
    then per round r: pair counts pc{r}, deterministic top-1 top{r}
    (cnt desc, pair asc), and the next symbol state s{r+1} via the
    same greedy left-to-right merge fold the Spark side runs
    (list_reduce over a chr(31)-joined string accumulator). Every CTE
    is MATERIALIZED: each s{{r}} is referenced twice (pc{{r}} and
    s{{r+1}}), so inlining would re-evaluate the whole chain 2^r times
    (measured 148s -> ~2s at sf0.01)."""
    parts = [f"""
WITH t AS MATERIALIZED (
  SELECT doc_id, COALESCE({_TOKS_LOWER_SQL}, CAST([] AS VARCHAR[])) AS toks
  FROM documents
), wc AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt
  FROM (SELECT unnest(toks) AS word FROM t) GROUP BY 1
), s0 AS MATERIALIZED (
  SELECT word, wcnt,
    list_append(list_transform(range(1, length(word) + 1),
                               i -> substr(word, i, 1)), '</w>') AS syms
  FROM wc
)"""]
    for r in range(n_merges):
        parts.append(f""", pc{r} AS MATERIALIZED (
  SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt
  FROM (SELECT wcnt, unnest(list_transform(range(1, len(syms)),
               i -> syms[i] || ' ' || syms[i+1])) AS pair FROM s{r})
  GROUP BY 1
), top{r} AS MATERIALIZED (
  SELECT split_part(pair, ' ', 1) AS ma, split_part(pair, ' ', 2) AS mb,
         pair, cnt
  FROM pc{r} ORDER BY cnt DESC, pair ASC LIMIT 1
), s{r + 1} AS MATERIALIZED (
  SELECT word, wcnt,
    str_split(list_reduce(syms, (acc, x) ->
      CASE WHEN (acc = ma OR ends_with(acc, chr(31) || ma)) AND x = mb
           THEN acc || mb ELSE acc || chr(31) || x END), chr(31)) AS syms
  FROM s{r} CROSS JOIN top{r}
)""")
    return "".join(parts)


SQL_BPE_LEARN_MERGES = _bpe_sql_pyramid(_BPE_N_MERGES) + "\n" + "\n".join(
    ["SELECT step, pair, cnt FROM ("]
    + [
        ("  UNION ALL " if r else "  ")
        + f"SELECT CAST({r + 1} AS INTEGER) AS step, pair, cnt FROM top{r}"
        for r in range(_BPE_N_MERGES)
    ]
    + [") ORDER BY step"]
)


SQL_BPE_ENCODE = _bpe_sql_pyramid(_BPE_N_MERGES) + f""",
enc AS (
  SELECT word, CAST(len(syms) AS BIGINT) AS npieces FROM s{_BPE_N_MERGES}
), dw AS (
  SELECT doc_id, unnest(toks) AS word FROM t
), agg AS (
  SELECT doc_id, CAST(SUM(npieces) AS BIGINT) AS n_pieces
  FROM dw JOIN enc USING (word) GROUP BY 1
)
SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_words,
       COALESCE(agg.n_pieces, 0) AS n_pieces
FROM t LEFT JOIN agg USING (doc_id)
ORDER BY t.doc_id
"""


_KM_K = 4
_KM_ITERS = 3
_KM_DIM = 64


def q_kmeans_clusters(spark, sf):
    """Distributed Lloyd's k-means over the embeddings table
    (clustering.kmeans_summary, k=4, 3 iterations): per-iteration ONE
    corpus-wide hash-agg with the k·dim centroid literals riding the
    assignment expression (no join, no vector shuffle), driver traffic
    k rows of integer sums, round-half-up integer centroid updates on
    shifted-int8 coordinates so every engine floors identically. The
    oracle replays the same rounds as an unrolled MATERIALIZED CTE
    pyramid. Output: (cluster, n_points, wss, centroid_l1) — all exact
    integers."""
    from anomaly_detection_spark.functions import clustering

    e = load(spark, sf, "embeddings")
    return clustering.kmeans_summary(
        e, k=_KM_K, n_iters=_KM_ITERS).orderBy("cluster")


def _kmeans_pyramid_sql(k: int, n_iters: int, dim: int,
                        nonzero: bool = False) -> str:
    """Unrolled Lloyd pyramid through the final assignment ``a{n_iters}``
    (vec_id, qv shifted-int8, j, dist): qz (shifted int8 quantize) → c0
    (k smallest ids) → per round r: argmin assignment a{r} (cross join
    ×k, exact integer distances, ties → smallest centroid index) and
    updated centroids c{r+1} (round-half-up integer division on
    non-negative sums, LEFT JOIN keeps empty clusters' old centroids).
    MATERIALIZED throughout — each level is referenced twice.
    ``nonzero`` adds the int8 zero-vector exclusion (the ivf_kmeans
    search contract)."""
    d1 = dim + 1
    sums = ", ".join(f"SUM(qv[{i + 1}])" for i in range(dim))
    zfilter = " WHERE mx > 0" if nonzero else ""
    parts = [f"""
WITH qz AS MATERIALIZED (
  SELECT vec_id,
    list_transform(embedding,
      v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127
                      / (CASE WHEN mx > 0 THEN mx ELSE 1 END)
                      + 0.5) AS BIGINT) + 127) AS qv
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        v -> abs(CAST(v AS DOUBLE)))) AS mx
        FROM embeddings){zfilter}
), c0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j,
         qv AS c
  FROM (SELECT vec_id, qv FROM qz ORDER BY vec_id LIMIT {k})
)"""]
    for r in range(n_iters + 1):
        parts.append(f""", a{r} AS MATERIALIZED (
  SELECT vec_id, qv, j, dist FROM (
    SELECT d.*, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, j) AS rn
    FROM (
      SELECT q.vec_id, q.qv, c.j,
             CAST(list_sum(list_transform(range(1, {d1}),
                  i -> (q.qv[i] - c.c[i]) * (q.qv[i] - c.c[i])))
                  AS BIGINT) AS dist
      FROM qz q CROSS JOIN c{r} c
    ) d
  ) WHERE rn = 1
)""")
        if r == n_iters:
            break
        parts.append(f""", u{r} AS MATERIALIZED (
  SELECT j, COUNT(*) AS n, [{sums}] AS s
  FROM a{r} GROUP BY j
), c{r + 1} AS MATERIALIZED (
  SELECT c.j,
    CASE WHEN u.j IS NULL THEN c.c
         ELSE list_transform(range(1, {d1}),
                             i -> CAST((2 * u.s[i] + u.n)
                                       // (2 * u.n) AS BIGINT))
    END AS c
  FROM c{r} c LEFT JOIN u{r} u USING (j)
)""")
    return "".join(parts)


def _kmeans_sql(k: int, n_iters: int, dim: int) -> str:
    """Full k-means oracle: the ``_kmeans_pyramid_sql`` rounds plus the
    per-cluster (n_points, wss, centroid_l1) rollup."""
    return _kmeans_pyramid_sql(k, n_iters, dim) + f"""
SELECT agg.cluster, agg.n_points, agg.wss, l1.centroid_l1
FROM (
  SELECT j AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(dist) AS BIGINT) AS wss
  FROM a{n_iters} GROUP BY 1
) agg
JOIN (
  SELECT j AS cluster,
         CAST(list_sum(list_transform(c, x -> abs(x))) AS BIGINT)
         AS centroid_l1
  FROM c{n_iters}
) l1 USING (cluster)
ORDER BY cluster
"""


SQL_KMEANS_CLUSTERS = _kmeans_sql(_KM_K, _KM_ITERS, _KM_DIM)


_IVFKM_K = 8        # codebook size (coarse cells)
_IVFKM_ITERS = 2    # Lloyd rounds


def q_embedding_ivf_kmeans(spark, sf):
    """IVF ANN over a LEARNED codebook (similarity.ivf_kmeans_topk):
    cells come from clustering.kmeans (k=8, 2 Lloyd rounds on shifted
    int8 coordinates) instead of the data-given label column, so cell
    balance is driven by the objective rather than hoped for — the
    production fix for the skewed-cell hazard the max_bucket cap
    backstops. Assignment is in-row (k·dim centroid literals, no join);
    the search is the same int8 nprobe=2 broadcast-codebook bucket join
    as `embedding_int8_ivf`. The oracle replays codebook training AND
    the search bit-for-bit via the unrolled Lloyd pyramid."""
    from anomaly_detection_spark.functions.similarity import ivf_kmeans_topk

    return ivf_kmeans_topk(
        load(spark, sf, "embeddings"), k=3, n_clusters=_IVFKM_K,
        n_iters=_IVFKM_ITERS, nprobe=2,
    ).orderBy("query_id", "rank")


SQL_EMBEDDING_IVF_KMEANS = (
    _kmeans_pyramid_sql(_IVFKM_K, _IVFKM_ITERS, 64, nonzero=True)
    + f""", e AS MATERIALIZED (
  SELECT vec_id, j AS label, list_transform(qv, x -> x - 127) AS qe
  FROM a{_IVFKM_ITERS}
), cnt AS (
  SELECT label, COUNT(*) AS n FROM e GROUP BY 1 HAVING COUNT(*) <= 2000
),
dimsum AS (
  SELECT e.label, i, CAST(SUM(qe[i]) AS BIGINT) AS s
  FROM e JOIN cnt ON cnt.label = e.label, generate_series(1, 64) t(i)
  GROUP BY 1, 2
), cent AS (
  SELECT label, list(s ORDER BY i) AS sv FROM dimsum GROUP BY 1
), probe AS (
  SELECT query_id, label FROM (
    SELECT q.vec_id AS query_id, c.label,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        (CAST(list_sum(list_transform(generate_series(1, 64),
          i -> (q.qe[i]*cnt.n - c.sv[i]) * (q.qe[i]*cnt.n - c.sv[i])))
          AS DOUBLE) / cnt.n) / cnt.n ASC,
        c.label ASC) AS pr
    FROM e q CROSS JOIN cent c JOIN cnt ON cnt.label = c.label
  ) WHERE pr <= 2
), scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(generate_series(1, 64), i -> q.qe[i]*b.qe[i])) AS DOUBLE)
      / sqrt(CAST(list_sum(list_transform(q.qe, x -> x*x)) AS DOUBLE)
           * CAST(list_sum(list_transform(b.qe, x -> x*x)) AS DOUBLE)) AS cos_x
  FROM e q JOIN probe p ON p.query_id = q.vec_id
           JOIN e b ON b.label = p.label AND b.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos_x, 6) AS cos, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_x DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
ORDER BY query_id, rank
""")


# the recall report's v3/v4 legs replay the kmeans-IVF and LSH-multiprobe
# oracles verbatim as subqueries; splice them in now that both exist
SQL_ANN_RECALL_REPORT = (
    SQL_ANN_RECALL_REPORT
    .replace("{IVF_KMEANS}", SQL_EMBEDDING_IVF_KMEANS)
    .replace("{LSH_MULTIPROBE}", SQL_EMBEDDING_LSH_MULTIPROBE)
)


def q_class_separation(spark, sf):
    """Per-label embedding diagnostics (clustering.class_separation):
    intra-class squared spread vs nearest other centroid, Fisher-style
    ratio in exact integer ppm. Two corpus scans — a |labels|·dim sum agg
    whose tiny result becomes centroid LITERALS for the second narrow
    distance pass — plus |labels|² driver-side integer ops; no join of
    the vectors, no float anywhere (integer DIV, never floor-of-double,
    since intra_sqsum·1e6 passes 2^53)."""
    from anomaly_detection_spark.functions import clustering

    e = load(spark, sf, "embeddings")
    return clustering.class_separation(e).orderBy("label")


def _class_separation_sql(dim: int) -> str:
    d1 = dim + 1
    sums = ", ".join(f"SUM(qv[{i + 1}])" for i in range(dim))
    return f"""
WITH qz AS MATERIALIZED (
  SELECT label AS lbl,
    list_transform(embedding,
      v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127
                      / (CASE WHEN mx > 0 THEN mx ELSE 1 END)
                      + 0.5) AS BIGINT) + 127) AS qv
  FROM (SELECT label, embedding,
               list_max(list_transform(embedding,
                        v -> abs(CAST(v AS DOUBLE)))) AS mx
        FROM embeddings)
), cent AS MATERIALIZED (
  SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n,
         list_transform([{sums}],
                        s -> CAST((2 * s + COUNT(*))
                                  // (2 * COUNT(*)) AS BIGINT)) AS c
  FROM qz GROUP BY lbl
), intra AS (
  SELECT q.lbl, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(list_sum(list_transform(range(1, {d1}),
              i -> (q.qv[i] - c.c[i]) * (q.qv[i] - c.c[i]))))
           AS BIGINT) AS intra_sqsum
  FROM qz q JOIN cent c USING (lbl) GROUP BY q.lbl
), inter AS (
  SELECT a.lbl,
         CAST(MIN(list_sum(list_transform(range(1, {d1}),
              i -> (a.c[i] - b.c[i]) * (a.c[i] - b.c[i]))))
           AS BIGINT) AS mi
  FROM cent a JOIN cent b ON a.lbl <> b.lbl GROUP BY a.lbl
)
SELECT i.lbl AS label, i.n, i.intra_sqsum,
  CAST((i.intra_sqsum * 1000000) // i.n AS BIGINT) AS intra_mean_micro,
  e.mi AS min_inter_sqdist,
  CASE WHEN i.intra_sqsum > 0
       THEN CAST((e.mi * i.n * 1000000) // i.intra_sqsum AS BIGINT)
  END AS fisher_ppm
FROM intra i JOIN inter e USING (lbl)
ORDER BY label
"""


SQL_CLASS_SEPARATION = _class_separation_sql(_KM_DIM)


_CAL_BANDS = [-100_000, -50_000, 0, 50_000, 100_000]  # micro per token


def q_score_calibration(spark, sf):
    """Classifier calibration-by-band report: documents bucketed by the
    hashed-linear quality score into 6 bands via integer comparisons
    ``logit_sum ≥ threshold·n_toks`` (mean-logit thresholds with NO
    division — negative-operand DIV semantics differ across engines),
    then per band the positive rate of a reference label (lang='en').
    The eval step every model-based curation filter needs before its
    keep-threshold is trusted: one scan, one 6-row hash-agg; precision
    per band, not a global AUC black box."""
    from anomaly_detection_spark.functions import scoring

    d = load(spark, sf, "documents")
    toks = text.tokens(F.col("text"))
    s = scoring.hashed_linear_logit_micro(toks, _QC_WEIGHTS_MICRO)
    base = d.select(
        (F.col("lang") == "en").cast("long").alias("pos"),
        s.alias("s"), F.size(toks).cast("long").alias("n"))
    band = None
    for t in _CAL_BANDS:
        term = (F.col("s") >= F.lit(int(t)) * F.col("n")).cast("int")
        band = term if band is None else band + term
    return (
        base.groupBy(band.alias("band"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("pos").cast("long").alias("n_pos"))
        .select("band", "n_docs", "n_pos",
                F.expr("(n_pos * 1000000) DIV n_docs").alias("pos_ppm"))
        .orderBy("band")
    )


SQL_SCORE_CALIBRATION = f"""
WITH t AS (SELECT lang, {_TOKS_SQL} AS toks FROM documents),
s AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
    CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(toks,
      t -> CAST({_W_SQL}[CAST({_B_SQL.format(t="t")} + 1 AS INTEGER)]
           AS BIGINT)))) AS BIGINT) AS sc,
    CAST(len(toks) AS BIGINT) AS n
  FROM t
), banded AS (
  SELECT pos,
    ({" + ".join(f"(CASE WHEN sc >= ({t}) * n THEN 1 ELSE 0 END)"
                 for t in _CAL_BANDS)}) AS band
  FROM s
)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(pos) AS BIGINT) AS n_pos,
  CAST((SUM(pos) * 1000000) // COUNT(*) AS BIGINT) AS pos_ppm
FROM banded GROUP BY band ORDER BY band
"""


def q_gopher_quality(spark, sf):
    """Gopher document-quality rules (Rae et al. 2021) as integer-exact flag
    columns: word-count bounds, mean-word-length bounds, symbol-to-word
    ratio, alphabetic-word fraction, distinct-stopword presence, and the
    conjunction keep — the published web-corpus keep/drop gate that runs at
    scan speed over every document (one pass, zero shuffles, pure
    whole-stage codegen; every ratio is a cross-multiplied integer
    comparison so the oracle is bit-identical)."""
    d = load(spark, sf, "documents")
    fl = text.gopher_flags(F.col("text"))
    return d.select("doc_id", *[v.alias(k) for k, v in fl.items()])


SQL_GOPHER_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS_SQL} AS toks,
    {_TOKS_SQL.replace("trim(text)", "trim(lower(text))")} AS toks_l
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n,
    CAST(list_sum(list_prepend(CAST(0 AS BIGINT),
      list_transform(toks, t -> CAST(length(t) AS BIGINT)))) AS BIGINT) AS chars,
    CAST(length(text) - length(replace(text, '#', ''))
      + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS syms,
    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha,
    CAST(len(list_filter({_SW_SQL}, s -> list_contains(toks_l, s))) AS BIGINT) AS swk
  FROM t
)
SELECT doc_id, n AS n_toks,
  CAST(CASE WHEN n >= 50 AND n <= 100000 THEN 1 ELSE 0 END AS INTEGER) AS wc_ok,
  CAST(CASE WHEN chars >= 3 * n AND chars <= 10 * n THEN 1 ELSE 0 END AS INTEGER) AS mwl_ok,
  CAST(CASE WHEN 10 * syms <= n THEN 1 ELSE 0 END AS INTEGER) AS sym_ok,
  CAST(CASE WHEN 5 * alpha >= 4 * n THEN 1 ELSE 0 END AS INTEGER) AS alpha_ok,
  CAST(CASE WHEN swk >= 2 THEN 1 ELSE 0 END AS INTEGER) AS sw_ok,
  CAST(CASE WHEN n >= 50 AND n <= 100000
    AND chars >= 3 * n AND chars <= 10 * n
    AND 10 * syms <= n AND 5 * alpha >= 4 * n
    AND swk >= 2 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM m
"""


def q_token_entropy(spark, sf):
    """Per-document unigram token entropy + type-token ratio: the
    repetition/diversity quality signal (low entropy ⇒ boilerplate or
    degenerate repetition).  Entropy via the c·log2(c) identity —
    H = log2(n) − Σ c·log2(c) / n — so the heavy stage is a map-side-
    combinable (doc_id, token) count agg followed by a doc_id agg; no
    window, no per-doc collect, both shuffles on well-distributed keys."""
    d = load(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("t"))
    cnt = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    return (
        cnt.groupBy("doc_id")
        .agg(F.sum("c").cast("long").alias("n_toks"),
             F.count(F.lit(1)).cast("long").alias("distinct_toks"),
             F.sum(F.col("c") * F.log2("c")).alias("s"))
        .select("doc_id", "n_toks", "distinct_toks",
                F.expr("distinct_toks * 1000000 DIV n_toks").alias("ttr_ppm"),
                F.round(F.log2("n_toks") - F.col("s") / F.col("n_toks"), 6)
                .alias("entropy"))
    )


SQL_TOKEN_ENTROPY = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents
), cnt AS (
  SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t
)
SELECT doc_id,
  CAST(SUM(c) AS BIGINT) AS n_toks,
  CAST(COUNT(*) AS BIGINT) AS distinct_toks,
  CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT) AS ttr_ppm,
  ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6) AS entropy
FROM cnt GROUP BY doc_id
"""


_KC_K = 5


def q_kcenter_coreset(spark, sf):
    """Greedy k-center coreset over embeddings
    (clustering.kcenter_coreset, k=5): farthest-point traversal where
    each round is one corpus scan with the selected vectors as literals
    and a single max_by 1-row collect; the per-center cell rollup
    (n_points, radius², Σdist²) is the k-center objective. The oracle
    replays the greedy rounds as an unrolled MATERIALIZED pyramid with
    the same (distance DESC, id ASC) total order."""
    from anomaly_detection_spark.functions import clustering

    e = load(spark, sf, "embeddings")
    return clustering.kcenter_coreset(e, k=_KC_K).orderBy("center_id")


def _kcenter_sql(k: int, dim: int) -> str:
    d1 = dim + 1
    dist = (f"CAST(list_sum(list_transform(range(1, {d1}), "
            f"i -> (q.qv[i] - s.qv[i]) * (q.qv[i] - s.qv[i]))) AS BIGINT)")
    parts = [f"""
WITH qz AS MATERIALIZED (
  SELECT vec_id,
    list_transform(embedding,
      v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127
                      / (CASE WHEN mx > 0 THEN mx ELSE 1 END)
                      + 0.5) AS BIGINT) + 127) AS qv
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        v -> abs(CAST(v AS DOUBLE)))) AS mx
        FROM embeddings)
), sel0 AS MATERIALIZED (
  SELECT 0 AS j, vec_id, qv FROM qz ORDER BY vec_id LIMIT 1
)"""]
    for r in range(1, k):
        parts.append(f""", m{r} AS MATERIALIZED (
  SELECT q.vec_id, MIN({dist}) AS d
  FROM qz q CROSS JOIN sel{r - 1} s GROUP BY q.vec_id
), sel{r} AS MATERIALIZED (
  SELECT * FROM sel{r - 1}
  UNION ALL
  SELECT {r} AS j, z.vec_id, z.qv
  FROM qz z JOIN (SELECT vec_id FROM m{r}
                  ORDER BY d DESC, vec_id LIMIT 1) p USING (vec_id)
)""")
    parts.append(f""", assigned AS (
  SELECT vec_id, j, d FROM (
    SELECT q.vec_id, s.j, {dist},
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist}, s.j) AS rn
    FROM qz q CROSS JOIN sel{k - 1} s
  ) t(vec_id, j, d, rn) WHERE rn = 1
)
SELECT s.vec_id AS center_id,
  CAST(COUNT(*) AS BIGINT) AS n_points,
  CAST(MAX(a.d) AS BIGINT) AS radius_sq,
  CAST(SUM(a.d) AS BIGINT) AS sum_sqdist
FROM assigned a JOIN sel{k - 1} s USING (j)
GROUP BY s.vec_id ORDER BY center_id
""")
    return "".join(parts)


SQL_KCENTER_CORESET = _kcenter_sql(_KC_K, _KM_DIM)


def q_winsorized_stats(spark, sf):
    """Winsorization decision report per event_type
    (clean.winsorized_stats): exact type-1 p1/p99 clip bounds from the
    one-scan value histogram, clip counts, and integer-micro means
    before/after — the "is tail clipping worth it" profile that pairs
    with robust_outliers (same histogram-not-rows scale shape)."""
    from anomaly_detection_spark.functions import clean

    e = load(spark, sf, "events").filter(F.col("value").isNotNull())
    e = e.select("event_type", _cents(F.col("value")).alias("cents"))
    return clean.winsorized_stats(
        e, "event_type", "cents").orderBy("event_type")


SQL_WINSORIZED_STATS = """
WITH hist AS (
  SELECT event_type AS g, CAST(ROUND(value*100) AS BIGINT) AS v,
         COUNT(*) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), h AS (
  SELECT g, v, c,
         SUM(c) OVER (PARTITION BY g ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(c) OVER (PARTITION BY g) AS n
  FROM hist
), bounds AS (
  SELECT g, MAX(n) AS n,
         MIN(CASE WHEN cum * 100 >= n * 1 THEN v END) AS p_lo,
         MIN(CASE WHEN cum * 100 >= n * 99 THEN v END) AS p_hi
  FROM h GROUP BY g
)
SELECT h.g AS event_type,
  CAST(MAX(b.n) AS BIGINT) AS n,
  CAST(MAX(b.p_lo) AS BIGINT) AS p_lo_cents,
  CAST(MAX(b.p_hi) AS BIGINT) AS p_hi_cents,
  CAST(SUM(CASE WHEN h.v < b.p_lo THEN h.c ELSE 0 END) AS BIGINT)
    AS n_clipped_low,
  CAST(SUM(CASE WHEN h.v > b.p_hi THEN h.c ELSE 0 END) AS BIGINT)
    AS n_clipped_high,
  CAST((SUM(h.v * h.c) * 1000000) // MAX(b.n) AS BIGINT) AS mean_micro,
  CAST((SUM(CASE WHEN h.v < b.p_lo THEN b.p_lo
                 WHEN h.v > b.p_hi THEN b.p_hi
                 ELSE h.v END * h.c) * 1000000) // MAX(b.n) AS BIGINT)
    AS winsorized_mean_micro
FROM hist h JOIN bounds b ON h.g = b.g
GROUP BY h.g ORDER BY event_type
"""


def q_temperature_mixture(spark, sf):
    """Temperature-scaled domain mixture (curation.temperature_mixture):
    α ∈ {1, .5, .25} sampling weights over documents sources — α
    restricted to sqrt chains so the weights are IEEE-bit-identical in
    every engine, micro-quantized before the normalizing sum so shares
    and tail-boosts are pure integer division. One hash-agg to the
    |domains| frame; everything else is metadata-sized."""
    from anomaly_detection_spark.functions import curation

    d = load(spark, sf, "documents")
    return curation.temperature_mixture(d, "source").orderBy(
        "alpha_pct", "domain")


SQL_TEMPERATURE_MIXTURE = """
WITH counts AS (
  SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
), panel AS (
  SELECT 100 AS alpha_pct, domain, n_docs, n_docs AS weight FROM counts
  UNION ALL
  SELECT 50, domain, n_docs,
         CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5)
           AS BIGINT)
  FROM counts
  UNION ALL
  SELECT 25, domain, n_docs,
         CAST(FLOOR(sqrt(sqrt(CAST(n_docs AS DOUBLE))) * 1000000 + 0.5)
           AS BIGINT)
  FROM counts
), shared AS (
  SELECT alpha_pct, domain, n_docs, weight,
         CAST((weight * 1000000)
              // SUM(weight) OVER (PARTITION BY alpha_pct) AS BIGINT)
           AS share_ppm
  FROM panel
)
SELECT s.alpha_pct, s.domain, s.n_docs, s.weight, s.share_ppm,
       CASE WHEN n.share_ppm > 0
            THEN CAST((s.share_ppm * 1000000) // n.share_ppm AS BIGINT)
       END AS boost_ppm
FROM shared s
JOIN (SELECT domain, share_ppm FROM shared WHERE alpha_pct = 100) n
  USING (domain)
ORDER BY alpha_pct, domain
"""


def q_contrastive_pairs(spark, sf):
    """Hard-negative mining (similarity.contrastive_pairs): per anchor the
    best same-label and best different-label neighbour among its
    4-plane LSH sign-bucket mates, int8-cosine-ranked in integer micro
    units, full-outer-joined so one-sided anchors surface with NULLs.
    Bucket equi-join keeps the pair work Σ|bucket|², never n²."""
    from anomaly_detection_spark.functions.similarity import contrastive_pairs

    return contrastive_pairs(
        load(spark, sf, "embeddings"), n_planes=4).orderBy("query_id")


SQL_CONTRASTIVE_PAIRS = f"""
WITH base AS (
  SELECT vec_id, label, embedding,
         list_max(list_transform(embedding,
                                 v -> abs(CAST(v AS DOUBLE)))) AS mx
  FROM embeddings
), n AS (
  SELECT vec_id, label,
         list_transform(embedding,
           v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127 / mx + 0.5) AS BIGINT))
           AS qv,
         {_lsh_bucket_bits_sql('embedding', 4)} AS b
  FROM base WHERE mx > 0
), nn AS (
  SELECT vec_id, label, qv, b,
         list_sum(list_transform(qv, x -> x * x)) AS nrm
  FROM n
), scored AS (
  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
         (a.label = c.label) AS same,
         CAST(FLOOR(
           CAST(list_sum(list_transform(range(1, 65),
                i -> a.qv[i] * c.qv[i])) AS DOUBLE)
           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE)))
           * 1000000 + 0.5) AS BIGINT) AS cm
  FROM nn a JOIN nn c ON a.b = c.b AND a.vec_id <> c.vec_id
), top AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, same
                                 ORDER BY cm DESC, neighbor_id) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT COALESCE(p.query_id, g.query_id) AS query_id,
       p.neighbor_id AS pos_id, p.cm AS pos_cos_micro,
       g.neighbor_id AS neg_id, g.cm AS neg_cos_micro,
       CAST(p.cm - g.cm AS BIGINT) AS margin_micro
FROM (SELECT * FROM top WHERE same) p
FULL JOIN (SELECT * FROM top WHERE NOT same) g
  ON p.query_id = g.query_id
ORDER BY query_id
"""


def q_normalization_dup_gain(spark, sf):
    """Text-normalization dedup gain: how many MORE duplicates casefold +
    whitespace-collapse normalization finds than byte-exact hashing — the
    measurement that decides whether a 100 TB dedup pass should run on
    normalized or raw fingerprints.  The corpus is the documents table
    plus a deterministic re-emission of every 5th doc with flipped case
    and doubled spaces (exact dups 0, normalized dups n/5 — planted, like
    the c4/leakage fixtures).  Because normalization is a coarsening of
    byte equality, exact-group counting nests inside normalized groups:
    one (source, norm_hash) agg with a single countDistinct — never a
    multi-distinct Expand over the corpus."""
    d = load(spark, sf, "documents")
    variant = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
        F.regexp_replace(F.upper("text"), " ", "  ").alias("text"),
        "source")
    corpus = d.select("doc_id", "text", "source").unionByName(variant)
    norm = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    fine = (
        corpus.select("source", F.md5("text").alias("eh"), norm.alias("nh"))
        .groupBy("source", "nh")
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("eh").alias("de"))
    )
    return (
        fine.groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_docs"),
             F.count(F.lit(1)).cast("long").alias("norm_groups"),
             F.sum("de").cast("long").alias("exact_groups"))
        .select(
            "source", "n_docs",
            (F.col("n_docs") - F.col("exact_groups")).alias("exact_dups"),
            (F.col("n_docs") - F.col("norm_groups")).alias("norm_dups"),
            F.expr("(exact_groups - norm_groups) * 1000000"
                   " DIV greatest(n_docs, 1)").alias("gain_ppm"))
        .orderBy("source")
    )


SQL_NORMALIZATION_DUP_GAIN = """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000000,
         replace(upper(text), ' ', '  '), source
  FROM documents WHERE doc_id % 5 = 0
), fine AS (
  SELECT source,
         COUNT(*) AS n,
         COUNT(DISTINCT md5(text)) AS de
  FROM corpus
  GROUP BY source, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
)
SELECT source,
  CAST(SUM(n) AS BIGINT) AS n_docs,
  CAST(SUM(n) - SUM(de) AS BIGINT) AS exact_dups,
  CAST(SUM(n) - COUNT(*) AS BIGINT) AS norm_dups,
  CAST((SUM(de) - COUNT(*)) * 1000000
       // GREATEST(SUM(n), 1) AS BIGINT) AS gain_ppm
FROM fine GROUP BY source ORDER BY source
"""


def q_tokenizer_fertility(spark, sf):
    """Tokenizer-fertility economics per language: subword-ish regex
    tokens per whitespace word (fertility, ppm) and characters per
    subword token (milli) — the per-language cost model that sizes token
    budgets and flags scripts a tokenizer fragments badly.  One codegen
    scan, one tiny hash-agg; all ratios integer DIV after exact sums."""
    d = load(spark, sf, "documents")
    toks = text.tokens(F.col("text"))
    return (
        d.select(
            "lang",
            F.size(toks).cast("long").alias("w"),
            text.regex_token_count(F.col("text")).cast("long").alias("r"),
            F.length("text").cast("long").alias("ch"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("w").alias("ws_tokens"),
             F.sum("r").alias("subword_tokens"),
             F.sum("ch").alias("chars"))
        .select("lang", "n_docs", "ws_tokens", "subword_tokens",
                F.expr("subword_tokens * 1000000 DIV greatest(ws_tokens, 1)")
                .alias("fertility_ppm"),
                F.expr("chars * 1000 DIV greatest(subword_tokens, 1)")
                .alias("chars_per_tok_milli"))
        .orderBy("lang")
    )


SQL_TOKENIZER_FERTILITY = f"""
WITH t AS (
  SELECT lang,
    CAST(len({_TOKS_SQL}) AS BIGINT) AS w,
    CAST(len(regexp_extract_all(lower(text),
         '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS r,
    CAST(length(text) AS BIGINT) AS ch
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(w) AS BIGINT) AS ws_tokens,
  CAST(SUM(r) AS BIGINT) AS subword_tokens,
  CAST(SUM(r) * 1000000 // GREATEST(SUM(w), 1) AS BIGINT) AS fertility_ppm,
  CAST(SUM(ch) * 1000 // GREATEST(SUM(r), 1) AS BIGINT)
    AS chars_per_tok_milli
FROM t GROUP BY lang ORDER BY lang
"""


def q_dup_source_matrix(spark, sf):
    """Source×source near-duplication matrix: LSH candidate pairs rolled
    up to unordered (source_a, source_b) cells with counts and share of
    all pairs (ppm) — the mirror-site / content-farm detector that tells
    a crawl which domains copy from which, and the evidence for dropping
    a whole source rather than deduping it doc-by-doc.  Pair generation
    is the capped Σ|bucket|² LSH path; the rollup joins the (tiny) pair
    set back to doc→source on the distributive doc_id key, then one
    matrix-sized agg."""
    d = load(spark, sf, "documents")
    pairs = dedup.lsh_candidate_pairs(d, k=4, bands=2)
    src = d.select("doc_id", "source")
    j = (
        pairs.join(src.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("source", "_sa"), "id_a")
        .join(src.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("source", "_sb"), "id_b")
        .select(F.least("_sa", "_sb").alias("source_a"),
                F.greatest("_sa", "_sb").alias("source_b"))
    )
    cells = j.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"))
    total = cells.agg(F.sum("n_pairs").alias("_tot"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select("source_a", "source_b", "n_pairs",
                F.expr("n_pairs * 1000000 DIV greatest(_tot, 1)")
                .alias("share_ppm"))
        .orderBy("source_a", "source_b")
    )


SQL_DUP_SOURCE_MATRIX = f"""
WITH pairs AS ({{lsh}}),
s AS (SELECT doc_id, source FROM documents),
j AS (
  SELECT LEAST(a.source, b.source) AS source_a,
         GREATEST(a.source, b.source) AS source_b
  FROM pairs p
  JOIN s a ON p.id_a = a.doc_id
  JOIN s b ON p.id_b = b.doc_id
)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(COUNT(*) * 1000000
       // GREATEST(SUM(COUNT(*)) OVER (), 1) AS BIGINT) AS share_ppm
FROM j GROUP BY source_a, source_b ORDER BY source_a, source_b
"""
# splice the (already-rendered) LSH pair SQL in as the pairs CTE;
# .replace, not .format — the LSH SQL itself is brace-free but that's
# an accident of today's helpers, don't depend on it
SQL_DUP_SOURCE_MATRIX = SQL_DUP_SOURCE_MATRIX.replace(
    "{lsh}", SQL_LSH_CANDIDATE_PAIRS)


_SPECTRUM_NS = [2, 4, 8, 16]


def q_dup_length_spectrum(spark, sf):
    """Duplication-decay spectrum: for match lengths n ∈ {2,4,8,16}
    tokens, how much of the corpus' n-gram mass is duplicated (types
    seen ≥2 times and their occurrence share, ppm) — the curve that
    picks the window size for exact-substring dedup (Lee et al. 2022:
    short grams over-merge, long grams under-merge; the knee is where
    you cut).  ONE corpus scan: all four gram widths are emitted from
    in-row transforms and exploded once; the only shuffle is the
    map-side-combinable (n, gram) count agg — the gram key is never a
    join key (corpus_dup_ngrams' skew discipline), and the final rollup
    is a 4-row agg."""
    d = load(spark, sf, "documents")
    toks = text.tokens(F.col("text"))

    def _bind(x, f):
        # the one-element-array transform binding (dedup.py:74-88): the
        # lambda VARIABLE is an attribute Catalyst cannot inline
        # through, so x evaluates exactly once per doc however the
        # surrounding projections collapse
        return F.element_at(F.transform(F.array(x), f), 1)

    def _lift(p, shift):
        # binary lifting: a 2n-gram is gram n[i] ++ gram n[i+n], so each
        # level is ONE zip_with over two slices of the previous level —
        # O(log n) total references instead of an O(n)-deep fold
        k = F.size(p) - shift
        return F.when(k >= 1, F.zip_with(
            F.slice(p, 1, k), F.slice(p, shift + 1, k),
            lambda a, b: F.concat(a, F.lit(" "), b))
        ).otherwise(F.array().cast("array<string>"))

    def _arm(p, n):
        return F.transform(p, lambda s: F.struct(
            F.lit(n).alias("n"), F.md5(s).alias("g")))

    grams_all = _bind(toks, lambda t: _bind(_lift(t, 1), lambda g2: _bind(
        _lift(g2, 2), lambda g4: _bind(_lift(g4, 4), lambda g8: _bind(
            _lift(g8, 8), lambda g16: F.flatten(F.array(
                _arm(g2, 2), _arm(g4, 4), _arm(g8, 8), _arm(g16, 16))))))))
    per_gram = (
        d.select(F.explode(grams_all).alias("p"))
        .select("p.n", "p.g")
        .groupBy("n", "g").agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_gram.groupBy("n")
        .agg(F.sum("c").cast("long").alias("occurrences"),
             F.count(F.lit(1)).cast("long").alias("gram_types"),
             F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).cast("long")
             .alias("dup_types"),
             F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
             .cast("long").alias("dup_occurrences"))
        .select("n", "occurrences", "gram_types", "dup_types",
                "dup_occurrences",
                F.expr("dup_occurrences * 1000000"
                       " DIV greatest(occurrences, 1)").alias("dup_ppm"))
        .orderBy("n")
    )


_spectrum_arms = "\n  UNION ALL\n".join(f"""
  SELECT {n} AS n,
         md5(array_to_string(toks[i:i+{n - 1}], ' ')) AS g
  FROM t, unnest(generate_series(1, GREATEST(len(toks) - {n - 1}, 0)))
       AS u(i)""" for n in _SPECTRUM_NS)

SQL_DUP_LENGTH_SPECTRUM = f"""
WITH t AS (SELECT {_TOKS_SQL} AS toks FROM documents),
grams AS ({_spectrum_arms}
),
per_gram AS (
  SELECT n, g, COUNT(*) AS c FROM grams GROUP BY n, g
)
SELECT n,
  CAST(SUM(c) AS BIGINT) AS occurrences,
  CAST(COUNT(*) AS BIGINT) AS gram_types,
  CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_types,
  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
    AS dup_occurrences,
  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1000000
       // GREATEST(SUM(c), 1) AS BIGINT) AS dup_ppm
FROM per_gram GROUP BY n ORDER BY n
"""


_JSWEEP_THRESHOLDS = [200_000, 300_000, 500_000, 700_000, 900_000]


def q_jaccard_threshold_sweep(spark, sf):
    """Dedup-threshold calibration: exact n-gram Jaccard (integer micro
    units — inter·1e6 DIV union, no float rounding anywhere) over the
    LSH candidate pairs, rolled into ONE row of how many pairs survive
    each candidate threshold {0.2,…,0.9} — the sweep a team runs before
    committing a 100 TB dedup pass to a single cutoff.  Work is bounded
    by the capped candidate set; the sweep itself is conditional sums in
    the same single agg, not one pass per threshold."""
    d = load(spark, sf, "documents")
    cands = dedup.lsh_candidate_pairs(d, k=4, bands=2)
    sets = d.select(
        F.col("doc_id"),
        F.array_distinct(dedup.shingles(F.col("text"), n=3)).alias("sh"))
    pairs = (
        cands.join(sets.select(F.col("doc_id").alias("id_a"),
                               F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("doc_id").alias("id_b"),
                          F.col("sh").alias("sh_b")), "id_b")
    )
    union = F.size(F.array_union("sh_a", "sh_b")).cast("long")
    jm = F.when(union > 0, F.expr(
        "CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT) * 1000000"
        " DIV CAST(size(array_union(sh_a, sh_b)) AS BIGINT)"
    )).otherwise(F.lit(0)).alias("_jm")
    scored = pairs.select(jm)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_candidates")]
    for t in _JSWEEP_THRESHOLDS:
        aggs.append(
            F.sum((F.col("_jm") >= t).cast("long")).cast("long")
            .alias(f"ge_{t // 10000}pct"))
    return scored.agg(*aggs)


_jsweep_cols = ",\n  ".join(
    f"CAST(SUM(CASE WHEN jm >= {t} THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS ge_{t // 10000}pct" for t in _JSWEEP_THRESHOLDS)

SQL_JACCARD_THRESHOLD_SWEEP = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
sh AS (SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shset FROM t),
sig AS (
  SELECT doc_id,
    list_min(list_transform(shset, s -> md5('0:' || s))) AS mh0,
    list_min(list_transform(shset, s -> md5('1:' || s))) AS mh1,
    list_min(list_transform(shset, s -> md5('2:' || s))) AS mh2,
    list_min(list_transform(shset, s -> md5('3:' || s))) AS mh3
  FROM sh
),
buckets AS (
  SELECT doc_id, md5('0' || '|' || mh0 || '|' || mh1) AS bucket
  FROM sig WHERE mh0 IS NOT NULL
  UNION ALL
  SELECT doc_id, md5('1' || '|' || mh2 || '|' || mh3) AS bucket
  FROM sig WHERE mh2 IS NOT NULL
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
j AS (
  SELECT CASE WHEN len(list_distinct(list_concat(sa.shset, sb.shset))) > 0
    THEN CAST(len(list_intersect(sa.shset, sb.shset)) AS BIGINT) * 1000000
         // CAST(len(list_distinct(list_concat(sa.shset, sb.shset)))
                 AS BIGINT)
    ELSE 0 END AS jm
  FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
            JOIN sh sb ON cand.id_b = sb.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
  {_jsweep_cols}
FROM j
"""


def q_lang_label_mismatch(spark, sf):
    """Language-label audit: confusion cells between the stored ``lang``
    label and the heuristic predictor (text.lang_id) with per-label row
    share ppm — the cheap screen that catches batches whose language
    metadata went wrong upstream (mislabeled crawls dominate lang-ID
    error budgets).  One corpus scan into a languages²-sized agg; the
    share window runs on that tiny cell frame, never on rows."""
    d = load(spark, sf, "documents")
    cells = (
        d.select("lang", text.lang_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("lang")
    return (
        cells.withColumn("_tot", F.sum("n").over(w))
        .select("lang", "predicted", "n",
                F.expr("n * 1000000 DIV _tot").alias("share_ppm"),
                (F.col("lang") != F.col("predicted")).cast("int")
                .alias("mismatch"))
        .orderBy("lang", "predicted")
    )


SQL_LANG_LABEL_MISMATCH = f"""
WITH t AS (
  SELECT lang,
    CASE WHEN len(list_filter({_TOKS_SQL.replace("trim(text)", "trim(lower(text))")},
                 t -> list_contains({_SW_SQL}, t))) * 1.0
              / GREATEST(len({_TOKS_SQL}), 1) >= 0.05
      THEN 'en' ELSE 'unk' END AS predicted
  FROM documents
), cells AS (
  SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
  FROM t GROUP BY lang, predicted
)
SELECT lang, predicted, n,
  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm,
  CAST(CASE WHEN lang <> predicted THEN 1 ELSE 0 END AS INTEGER) AS mismatch
FROM cells ORDER BY lang, predicted
"""


def q_ngram_novelty(spark, sf):
    """Per-doc n-gram novelty vs the previous snapshot: the fraction of a
    current-commit document's distinct 3-gram shingles the base
    snapshot's gram set has never seen (ppm) — the memorization /
    freshness score that ranks incoming docs by how much genuinely new
    text they contribute (novelty ≈ 0 ⇒ the doc is stitched from
    already-ingested content).  Snapshots are the doc_id parity halves.
    Scale shape: base grams deduplicate via a map-side-combinable
    distinct on the well-distributed gram key; the membership probe is a
    left join on that same key (at 100 TB, swap in the Bloom bitset from
    functions/membership.py); per-doc rollup is one count agg — no
    collected vocabularies, nothing driver-side."""
    d = load(spark, sf, "documents")
    sh = dedup.shingles(F.col("text"), n=3)
    base_grams = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(sh).alias("g")).distinct()
        .withColumn("_seen", F.lit(1))
    )
    cur = (
        d.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("g"))
    )
    return (
        cur.join(base_grams, "g", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
             F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
             .cast("long").alias("novel_grams"))
        .select("doc_id", "n_grams", "novel_grams",
                F.expr("novel_grams * 1000000 DIV greatest(n_grams, 1)")
                .alias("novelty_ppm"))
        .orderBy("doc_id")
    )


SQL_NGRAM_NOVELTY = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), g AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS g FROM t
), base AS (
  SELECT DISTINCT g FROM g WHERE doc_id % 2 = 0
), cur AS (
  SELECT doc_id, g FROM g WHERE doc_id % 2 = 1
)
SELECT c.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(CASE WHEN b.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS novel_grams,
  CAST(SUM(CASE WHEN b.g IS NULL THEN 1 ELSE 0 END) * 1000000
       // GREATEST(COUNT(*), 1) AS BIGINT) AS novelty_ppm
FROM cur c LEFT JOIN base b ON c.g = b.g
GROUP BY c.doc_id ORDER BY c.doc_id
"""


_SHARD_K = 8


def q_shard_balance(spark, sf):
    """Token-balanced output sharding (curation.shard_balance): docs laid
    out in (tokens DESC, id) order and dealt round-robin over 8 shards —
    the LPT-style heuristic that keeps every output file's token total
    within one max-doc of the mean.  The global ordering is the
    length_batching two-phase distributed prefix rank, never one
    unpartitioned row_number; the oracle replays it as a naive global
    window, proving the distributed rank is exactly the global rank."""
    from anomaly_detection_spark.functions.curation import shard_balance

    d = load(spark, sf, "documents")
    docs = d.select("doc_id", text.token_count(F.col("text")).alias("n_tokens"))
    return shard_balance(docs, n_shards=_SHARD_K)


SQL_SHARD_BALANCE = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n FROM documents
), ranked AS (
  SELECT n, (ROW_NUMBER() OVER (ORDER BY n DESC, doc_id) - 1) % {_SHARD_K}
           AS shard
  FROM t
), shards AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS tokens
  FROM ranked GROUP BY shard
)
SELECT shard, n_docs, tokens,
  CAST((tokens * {_SHARD_K} - SUM(tokens) OVER ()) * 1000000
       // GREATEST(SUM(tokens) OVER (), 1) AS BIGINT) AS dev_ppm
FROM shards ORDER BY shard
"""


def q_vocab_drift(spark, sf):
    """Cross-snapshot vocabulary drift per language: the current commit's
    token types vs the previous snapshot's vocabulary — new types,
    dropped types, and the OOV occurrence rate (ppm of current token
    OCCURRENCES whose type the old vocab lacks), the signal that decides
    when a tokenizer/vocab must be retrained.  Snapshots are the doc_id
    parity halves (embedding_drift's convention), with ~50 planted
    novel types appended to the current half.  One shuffle on the
    well-distributed (lang, token) key with conditional map-side
    partial sums, then a lang-sized agg — vocabularies never transit
    the driver."""
    d = load(spark, sf, "documents")
    is_cur = (F.col("doc_id") % 2 == 1)
    planted = F.when(
        is_cur, F.concat(F.col("text"),
                         F.lit(" neo"), (F.col("doc_id") % 50).cast("string"),
                         F.lit("term"))
    ).otherwise(F.col("text"))
    tok = d.select(
        "lang", is_cur.alias("cur"),
        F.explode(text.tokens(planted)).alias("t"))
    per = tok.groupBy("lang", "t").agg(
        F.sum(F.when(~F.col("cur"), 1).otherwise(0)).alias("bc"),
        F.sum(F.when(F.col("cur"), 1).otherwise(0)).alias("cc"))
    return (
        per.groupBy("lang")
        .agg(F.sum((F.col("bc") > 0).cast("long")).alias("base_types"),
             F.sum((F.col("cc") > 0).cast("long")).alias("cur_types"),
             F.sum(((F.col("cc") > 0) & (F.col("bc") == 0)).cast("long"))
             .alias("new_types"),
             F.sum(((F.col("bc") > 0) & (F.col("cc") == 0)).cast("long"))
             .alias("dropped_types"),
             F.sum(F.when(F.col("bc") == 0, F.col("cc")).otherwise(0))
             .cast("long").alias("oov_occ"),
             F.sum("cc").cast("long").alias("cur_occ"))
        .select("lang", "base_types", "cur_types", "new_types",
                "dropped_types",
                F.expr("oov_occ * 1000000 DIV greatest(cur_occ, 1)")
                .alias("oov_ppm"))
        .orderBy("lang")
    )


SQL_VOCAB_DRIFT = f"""
WITH d AS (
  SELECT lang, doc_id % 2 = 1 AS cur,
    CASE WHEN doc_id % 2 = 1
      THEN text || ' neo' || CAST(doc_id % 50 AS VARCHAR) || 'term'
      ELSE text END AS text
  FROM documents
), tok AS (
  SELECT lang, cur, unnest({_TOKS_SQL}) AS t FROM d
), per AS (
  SELECT lang, t,
    SUM(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS bc,
    SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS cc
  FROM tok GROUP BY lang, t
)
SELECT lang,
  CAST(SUM(CASE WHEN bc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS base_types,
  CAST(SUM(CASE WHEN cc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cur_types,
  CAST(SUM(CASE WHEN cc > 0 AND bc = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS new_types,
  CAST(SUM(CASE WHEN bc > 0 AND cc = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS dropped_types,
  CAST(SUM(CASE WHEN bc = 0 THEN cc ELSE 0 END) * 1000000
       // GREATEST(SUM(cc), 1) AS BIGINT) AS oov_ppm
FROM per GROUP BY lang ORDER BY lang
"""


_KNN_NOISE_K = 5


def q_knn_label_noise(spark, sf):
    """Label-noise screening (similarity.knn_label_noise): per anchor the
    k=5 most-similar LSH-bucket mates vote with their labels; integer
    majority test 2·n_disagree ≥ n_neighbors flags mislabeling
    candidates. Bucket equi-join keeps pair work Σ|bucket|², never n²;
    anchors alone in their bucket are dropped (no evidence ≠ clean)."""
    from anomaly_detection_spark.functions.similarity import knn_label_noise

    return knn_label_noise(
        load(spark, sf, "embeddings"), k=_KNN_NOISE_K, n_planes=4
    ).orderBy("vec_id")


SQL_KNN_LABEL_NOISE = f"""
WITH base AS (
  SELECT vec_id, label, embedding,
         list_max(list_transform(embedding,
                                 v -> abs(CAST(v AS DOUBLE)))) AS mx
  FROM embeddings
), n AS (
  SELECT vec_id, label,
         list_transform(embedding,
           v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127 / mx + 0.5) AS BIGINT))
           AS qv,
         {_lsh_bucket_bits_sql('embedding', 4)} AS b
  FROM base WHERE mx > 0
), nn AS (
  SELECT vec_id, label, qv, b,
         list_sum(list_transform(qv, x -> x * x)) AS nrm
  FROM n
), scored AS (
  SELECT a.vec_id, a.label,
         CAST(CASE WHEN a.label <> c.label THEN 1 ELSE 0 END AS BIGINT) AS dis,
         CAST(FLOOR(
           CAST(list_sum(list_transform(range(1, 65),
                i -> a.qv[i] * c.qv[i])) AS DOUBLE)
           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE)))
           * 1000000 + 0.5) AS BIGINT) AS cm,
         c.vec_id AS nid
  FROM nn a JOIN nn c ON a.b = c.b AND a.vec_id <> c.vec_id
), topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cm DESC, nid) AS rn
    FROM scored
  ) WHERE rn <= {_KNN_NOISE_K}
)
SELECT vec_id, label,
  CAST(COUNT(*) AS BIGINT) AS n_neighbors,
  CAST(SUM(dis) AS BIGINT) AS n_disagree,
  CAST(SUM(dis) * 1000000 // COUNT(*) AS BIGINT) AS disagree_ppm,
  CAST(CASE WHEN 2 * SUM(dis) >= COUNT(*) THEN 1 ELSE 0 END AS INTEGER)
    AS noisy
FROM topk GROUP BY vec_id, label ORDER BY vec_id
"""


_DSIM_K = 8


def q_domain_similarity(spark, sf):
    """Corpus-level source×source content similarity
    (dedup.group_similarity): per-source UNION MinHash sketch — the
    min-hash of a union of shingle sets is the element-wise MIN of the
    per-doc min-hashes, so one corpus scan + a map-side-combined min
    agg yields a k·|sources| sketch table; the pairwise compare runs on
    that driver-tiny frame, never on the corpus. The mixture-design
    rollup ("which sources duplicate each other's content") that sits
    above doc-level LSH."""
    d = load(spark, sf, "documents")
    return dedup.group_similarity(
        d, group_col="source", k=_DSIM_K).orderBy("group_a", "group_b")


def _domain_similarity_sql(k: int) -> str:
    """Replays the union-sketch identity: per-doc list_min minhashes,
    GROUP BY source MIN, then pairwise position-agreement counting
    (NULL positions never agree, matching Spark's when(a=b,1).else(0))."""
    mins = ",\n".join(
        f"    MIN(list_min(list_transform(sh, s -> md5('{i}:' || s)))) AS mh{i}"
        for i in range(k))
    agree = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(k))
    return f"""
WITH t AS (SELECT source, {_TOKS_SQL} AS toks FROM documents),
sh AS (SELECT source, {_SHINGLES_SQL} AS sh FROM t),
sig AS (
  SELECT source,
{mins}
  FROM sh GROUP BY source
)
SELECT a.source AS group_a, b.source AS group_b,
       CAST({agree} AS BIGINT) AS agree,
       CAST(FLOOR(({agree}) * 1000000.0 / {k}) AS BIGINT) AS jaccard_ppm
FROM sig a JOIN sig b ON a.source < b.source
ORDER BY group_a, group_b
"""


SQL_DOMAIN_SIMILARITY = _domain_similarity_sql(_DSIM_K)


def q_compaction_plan(spark, sf):
    """Small-file compaction economics (maintenance.compaction_summary —
    the Iceberg rewrite_data_files/binPack planner as a query): a
    deterministic day-file manifest is derived from orders (partition =
    month, file = day, size = exact cents), the small-file threshold is
    90% of the mean file size and the pack target 4× that, then files
    are bin-packed PER PARTITION by the fixed-boundary prefix-sum rule.
    The planner input is file METADATA — ~10^6 rows when the table is
    10^13 — so the plan pass is cheap by construction; the only
    driver-side collect here is the 1-row mean-size scalar."""
    from anomaly_detection_spark.functions import maintenance

    o = load(spark, sf, "orders")
    manifest = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd")
        .alias("part"),
        F.col("o_orderdate").cast("date").alias("file_id"),
    ).agg(F.sum(_cents(F.col("o_totalprice"))).alias("size_bytes"))
    tot = manifest.agg(F.sum("size_bytes").alias("t"),
                       F.count(F.lit(1)).alias("n")).first()
    thr = (9 * int(tot["t"])) // (10 * int(tot["n"]))
    return maintenance.compaction_summary(
        manifest, target_size=4 * thr, small_threshold=thr
    ).orderBy("part")


def q_robust_outliers(spark, sf):
    """MAD-based robust outlier profile per event_type
    (ml.robust_outlier_stats): lower-median + MAD on exact integer cents,
    modified-z compare cleared of division (1349·|x−med| > 7000·MAD ⇔
    milli-z > 3500) — one corpus scan builds a (type, cents) histogram and
    the median/MAD/outlier count all run on that bounded distinct-value
    frame, never on rows. The robust twin of the mean/std screens in
    ml_outlier_ensemble (one fat tail can't drag the MAD)."""
    from anomaly_detection_spark.functions import ml

    e = load(spark, sf, "events").filter(F.col("value").isNotNull())
    e = e.select("event_type", _cents(F.col("value")).alias("cents"))
    return ml.robust_outlier_stats(
        e, "event_type", "cents").orderBy("event_type")


SQL_ROBUST_OUTLIERS = """
WITH hist AS (
  SELECT event_type AS g, CAST(ROUND(value*100) AS BIGINT) AS v,
         COUNT(*) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), medsrc AS (
  SELECT g, v,
         SUM(c) OVER (PARTITION BY g ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(c) OVER (PARTITION BY g) AS n
  FROM hist
), med AS (
  SELECT g, MIN(v) AS med, MAX(n) AS n FROM medsrc
  WHERE cum * 2 >= n GROUP BY g
), dev AS (
  SELECT h.g, ABS(h.v - m.med) AS d, SUM(h.c) AS c
  FROM hist h JOIN med m USING (g) GROUP BY 1, 2
), madsrc AS (
  SELECT g, d,
         SUM(c) OVER (PARTITION BY g ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(c) OVER (PARTITION BY g) AS n
  FROM dev
), mad AS (
  SELECT g, MIN(d) AS mad FROM madsrc WHERE cum * 2 >= n GROUP BY g
)
SELECT h.g AS event_type,
  CAST(MAX(m.n) AS BIGINT) AS n,
  CAST(MAX(m.med) AS BIGINT) AS median_cents,
  CAST(MAX(a.mad) AS BIGINT) AS mad_cents,
  CAST(SUM(CASE WHEN a.mad > 0 AND 1349 * ABS(h.v - m.med) > 7000 * a.mad
            THEN h.c ELSE 0 END) AS BIGINT) AS n_outliers,
  CAST(FLOOR(SUM(CASE WHEN a.mad > 0
                       AND 1349 * ABS(h.v - m.med) > 7000 * a.mad
                  THEN h.c ELSE 0 END) * 1000000.0 / MAX(m.n)) AS BIGINT)
    AS outlier_ppm
FROM hist h JOIN med m USING (g) JOIN mad a USING (g)
GROUP BY h.g ORDER BY event_type
"""


def q_length_batching(spark, sf):
    """Dynamic-batching economics (curation.length_batching): padding
    waste of arrival-order vs length-sorted batches of 8 docs over the
    documents token counts — both global orderings computed as two-phase
    distributed prefix ranks (bucket_width=64 forces the multi-bucket
    offset recombination at every SF), never an unpartitioned window.
    The answer to "is sorting the corpus by length before batching worth
    the shuffle" — at 100 TB the padded_slots delta IS the wasted GPU
    time."""
    from anomaly_detection_spark.functions import curation

    d = load(spark, sf, "documents").select(
        "doc_id", text.token_count("text").cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    return curation.length_batching(
        d, batch_size=8, bucket_width=64).orderBy("strategy")


SQL_LENGTH_BATCHING = f"""
WITH d0 AS (
  SELECT doc_id, len({_TOKS_SQL}) AS len FROM documents
), d AS (
  SELECT doc_id, len FROM d0 WHERE len > 0
), a AS (
  SELECT len, (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 8 AS batch FROM d
), s AS (
  SELECT len, (ROW_NUMBER() OVER (ORDER BY len, doc_id) - 1) // 8 AS batch
  FROM d
), aa AS (
  SELECT batch, COUNT(*) AS n, MAX(len) AS mx, SUM(len) AS sm
  FROM a GROUP BY batch
), ss AS (
  SELECT batch, COUNT(*) AS n, MAX(len) AS mx, SUM(len) AS sm
  FROM s GROUP BY batch
)
SELECT 'arrival' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_batches,
  CAST(SUM(sm) AS BIGINT) AS real_tokens,
  CAST(SUM(n * mx) - SUM(sm) AS BIGINT) AS padded_slots,
  CAST(FLOOR(SUM(sm) * 1000000.0 / SUM(n * mx)) AS BIGINT)
    AS efficiency_ppm
FROM aa
UNION ALL
SELECT 'length_sorted', CAST(COUNT(*) AS BIGINT),
  CAST(SUM(sm) AS BIGINT), CAST(SUM(n * mx) - SUM(sm) AS BIGINT),
  CAST(FLOOR(SUM(sm) * 1000000.0 / SUM(n * mx)) AS BIGINT)
FROM ss
ORDER BY strategy
"""


_FD_MINE_COLS = ["lang", "lang_u", "source", "n_chars"]


def q_fd_discovery(spark, sf):
    """Approximate-FD MINING (profiler.fd_mine) over a 4-column candidate
    set on documents — every ordered pair scored with the exact-integer g3
    violation measure from ONE stacked corpus scan (no per-pair re-scan).
    lang→lang_u (a derived upper-case echo) plants a guaranteed-holding FD
    at every SF so both verdict branches are exercised; discovered pairs
    feed rules/builtin.functional_dependency (the enforce side this mines
    for)."""
    from anomaly_detection_spark import profiler

    d = load(spark, sf, "documents").select(
        "lang", F.upper("lang").alias("lang_u"), "source", "n_chars")
    return profiler.fd_mine(d, _FD_MINE_COLS, budget_ppm=0).orderBy(
        "determinant", "dependent")


def _fd_discovery_sql(cols: list[str], budget: int) -> str:
    pairs = [(a, b) for a in cols for b in cols if a != b]
    panel = "\n  UNION ALL\n".join(
        f"  SELECT '{a}' AS determinant, '{b}' AS dependent,\n"
        f"         CAST({a} AS VARCHAR) AS det_val,"
        f" CAST({b} AS VARCHAR) AS dep_val FROM d"
        for a, b in pairs)
    return f"""
WITH d AS (
  SELECT lang, upper(lang) AS lang_u, source, n_chars FROM documents
), panel AS (
{panel}
), counts AS (
  SELECT determinant, dependent, det_val, dep_val, COUNT(*) AS n
  FROM panel GROUP BY ALL
), per_det AS (
  SELECT determinant, dependent, det_val, MAX(n) AS best, SUM(n) AS n_rows
  FROM counts GROUP BY ALL
)
SELECT determinant, dependent,
  CAST(COUNT(*) AS BIGINT) AS n_determinants,
  CAST(SUM(n_rows) - SUM(best) AS BIGINT) AS violating_rows,
  CAST(FLOOR((SUM(n_rows) - SUM(best)) * 1000000.0 / SUM(n_rows))
    AS BIGINT) AS violation_ppm,
  (FLOOR((SUM(n_rows) - SUM(best)) * 1000000.0 / SUM(n_rows)) <= {budget})
    AS holds
FROM per_det GROUP BY determinant, dependent
ORDER BY determinant, dependent
"""


SQL_FD_DISCOVERY = _fd_discovery_sql(_FD_MINE_COLS, 0)


SQL_COMPACTION_PLAN = """
WITH manifest AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS part,
         CAST(o_orderdate AS DATE) AS file_id,
         SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS size_bytes
  FROM orders GROUP BY 1, 2
), c AS (
  SELECT (9 * SUM(size_bytes)) // (10 * COUNT(*)) AS thr FROM manifest
), plan AS (
  SELECT part, file_id, size_bytes,
    CASE WHEN size_bytes < thr THEN 'compact' ELSE 'keep' END AS action,
    CASE WHEN size_bytes < thr THEN
      COALESCE(SUM(CASE WHEN size_bytes < thr THEN size_bytes END)
               OVER (PARTITION BY part ORDER BY file_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      // (4 * thr)
    END AS grp
  FROM manifest CROSS JOIN c
)
SELECT part,
  CAST(COUNT(*) AS BIGINT) AS n_files,
  CAST(SUM(CASE WHEN action = 'compact' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_small,
  CAST(COUNT(DISTINCT CASE WHEN action = 'compact' THEN grp END) AS BIGINT)
    AS n_groups,
  CAST(SUM(CASE WHEN action = 'compact' THEN size_bytes ELSE 0 END)
    AS BIGINT) AS small_bytes,
  CAST(COUNT(*) - SUM(CASE WHEN action = 'compact' THEN 1 ELSE 0 END)
       + COUNT(DISTINCT CASE WHEN action = 'compact' THEN grp END)
    AS BIGINT) AS files_out,
  CAST(((COUNT(*)
         - (COUNT(*) - SUM(CASE WHEN action = 'compact' THEN 1 ELSE 0 END)
            + COUNT(DISTINCT CASE WHEN action = 'compact' THEN grp END)))
        * 1000000) // COUNT(*) AS BIGINT) AS reduction_ppm
FROM plan GROUP BY part ORDER BY part
"""


def q_scan_skip_report(spark, sf):
    """Zone-map pruning what-if (maintenance.zone_stats + skip_report):
    lay events out three ways — insertion order, value-sorted, Z-ordered
    on (value bucket, user) — split the total order into fixed 512-row
    files, and measure how many files (and rows of I/O) three range
    predicates must touch under each layout's per-file min/max envelope.
    This is the planner-side evidence behind `zorder_codes`: a
    single-column sort prunes its own column near-perfectly and the other
    not at all; Morton order prunes BOTH dimensions partially. File
    ranks come from the two-phase prefix-sum (never a global-window
    funnel); zones are metadata-sized, so the predicate sweep is free.
    Reference analogue: none (the reference rescans its CSVs fully —
    data layout is precisely what it lacks at scale)."""
    from anomaly_detection_spark.functions import curation
    from anomaly_detection_spark.functions import maintenance as mt

    R = 512
    PREDS = [("val_low", "cents", 100, 5000),
             ("val_mid", "cents", 20000, 24000),
             ("user_10s", "uid", 10, 19)]
    SC = ["cents", "uid"]

    e = load(spark, sf, "events")
    base = e.select(
        "event_id", _cents(F.col("value")).alias("cents"),
        F.col("user_id").cast("long").alias("uid"))

    def report(files, layout):
        zones = mt.zone_stats(files, "file_id", SC)
        return mt.skip_report(zones, PREDS, SC) \
            .select(F.lit(layout).alias("layout"), "*")

    nat = base.withColumn("file_id", F.expr(f"event_id div {R}"))
    srt = mt.ranked_file_ids(base, "cents", "event_id", R,
                             F.expr("cents div 4096"))
    zc = base.withColumn(
        "_z", curation.morton_code(F.expr("cents div 256"), F.col("uid"),
                                   bits=8))
    zo = mt.ranked_file_ids(zc, "_z", "event_id", R, F.expr("_z div 1024"))
    return (
        report(nat, "natural")
        .unionByName(report(srt, "value_sorted"))
        .unionByName(report(zo, "zorder_value_user"))
        .orderBy("layout", "pred_id")
    )


SQL_SCAN_SKIP_REPORT = f"""
WITH base AS (
  SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CAST(user_id AS BIGINT) AS uid
  FROM events
), nat AS (
  SELECT *, event_id // 512 AS file_id FROM base
), srt AS (
  SELECT *, (ROW_NUMBER() OVER (ORDER BY cents, event_id) - 1) // 512
         AS file_id
  FROM base
), zb AS (
  SELECT *, CAST({_morton_sql('((cents // 256) & 255)', '(uid & 255)', 8)}
         AS BIGINT) AS z
  FROM base
), zo AS (
  SELECT *, (ROW_NUMBER() OVER (ORDER BY z, event_id) - 1) // 512 AS file_id
  FROM zb
), zones AS (
  SELECT 'natural' AS layout, file_id, COUNT(*) AS n_rows,
         MIN(cents) AS min_c, MAX(cents) AS max_c,
         MIN(uid) AS min_u, MAX(uid) AS max_u
  FROM nat GROUP BY 1, 2
  UNION ALL
  SELECT 'value_sorted', file_id, COUNT(*), MIN(cents), MAX(cents),
         MIN(uid), MAX(uid)
  FROM srt GROUP BY 1, 2
  UNION ALL
  SELECT 'zorder_value_user', file_id, COUNT(*), MIN(cents), MAX(cents),
         MIN(uid), MAX(uid)
  FROM zo GROUP BY 1, 2
), preds AS (
  SELECT * FROM (VALUES ('val_low', 'cents', 100, 5000),
                        ('val_mid', 'cents', 20000, 24000),
                        ('user_10s', 'uid', 10, 19)) p(pid, col, lo, hi)
), j AS (
  SELECT z.layout, p.pid,
         CASE WHEN p.col = 'cents' THEN z.min_c ELSE z.min_u END AS mn,
         CASE WHEN p.col = 'cents' THEN z.max_c ELSE z.max_u END AS mx,
         p.lo, p.hi, z.n_rows
  FROM zones z, preds p
), agg AS (
  SELECT layout, pid AS pred_id, COUNT(*) AS n_files,
         SUM(CASE WHEN COALESCE(mx >= lo AND mn <= hi, TRUE)
             THEN 1 ELSE 0 END) AS files_scanned,
         SUM(CASE WHEN COALESCE(mx >= lo AND mn <= hi, TRUE)
             THEN n_rows ELSE 0 END) AS rows_scanned
  FROM j GROUP BY 1, 2
)
SELECT layout, pred_id, CAST(n_files AS BIGINT) AS n_files,
       CAST(files_scanned AS BIGINT) AS files_scanned,
       CAST(rows_scanned AS BIGINT) AS rows_scanned,
       CAST(FLOOR(1000000.0 * (n_files - files_scanned) / n_files + 0.5)
            AS BIGINT) AS skip_ppm
FROM agg ORDER BY layout, pred_id
"""


# =====================================================================
# Registry
# =====================================================================

QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # Group A — validation semantics
    "profile_lineitem": (q_profile_lineitem, SQL_PROFILE_LINEITEM),
    "null_profile_documents": (q_null_profile_documents, SQL_NULL_PROFILE_DOCUMENTS),
    "uniqueness_orders": (q_uniqueness_orders, SQL_UNIQUENESS_ORDERS),
    "referential_lineitem_part": (q_referential_lineitem_part, SQL_REFERENTIAL_LINEITEM_PART),
    "bloom_membership": (q_bloom_membership, SQL_BLOOM_MEMBERSHIP),
    "psi_event_type_drift": (q_psi_event_type_drift, SQL_PSI_EVENT_TYPE_DRIFT),
    "ks_value_drift": (q_ks_value_drift, SQL_KS_VALUE_DRIFT),
    "wasserstein_value_drift": (q_wasserstein_value_drift, SQL_WASSERSTEIN_VALUE_DRIFT),
    "quantile_shift_drift": (q_quantile_shift_drift, SQL_QUANTILE_SHIFT_DRIFT),
    "frequent_values": (q_frequent_values, SQL_FREQUENT_VALUES),
    "price_qty_correlation": (q_price_qty_correlation, SQL_PRICE_QTY_CORRELATION),
    "benford_totalprice": (q_benford_totalprice, SQL_BENFORD_TOTALPRICE),
    "cross_column_consistency": (q_cross_column_consistency, SQL_CROSS_COLUMN_CONSISTENCY),
    "orders_percentiles": (q_orders_percentiles, SQL_ORDERS_PERCENTILES),
    # Group B — relational
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "top_building_orders": (q_top_building_orders, SQL_TOP_BUILDING_ORDERS),
    "nation_revenue": (q_nation_revenue, SQL_NATION_REVENUE),
    "top3_customers_per_nation": (q_top3_customers_per_nation, SQL_TOP3_CUSTOMERS_PER_NATION),
    "segment_status_matrix": (q_segment_status_matrix, SQL_SEGMENT_STATUS_MATRIX),
    "minmax_normalized_prices": (q_minmax_normalized_prices, SQL_MINMAX_NORMALIZED_PRICES),
    "lineitem_part_supplier_join": (q_lineitem_part_supplier_join, SQL_LINEITEM_PART_SUPPLIER_JOIN),
    "customers_without_orders": (q_customers_without_orders, SQL_CUSTOMERS_WITHOUT_ORDERS),
    "sessionize_events": (q_sessionize_events, SQL_SESSIONIZE_EVENTS),
    "daily_event_rollup": (q_daily_event_rollup, SQL_DAILY_EVENT_ROLLUP),
    "change_points": (q_change_points, SQL_CHANGE_POINTS),
    "ewma_control": (q_ewma_control, SQL_EWMA_CONTROL),
    "cusum_control": (q_cusum_control, SQL_CUSUM_CONTROL),
    "session_paths": (q_session_paths, SQL_SESSION_PATHS),
    "conversion_attribution": (q_conversion_attribution, SQL_CONVERSION_ATTRIBUTION),
    "source_pareto": (q_source_pareto, SQL_SOURCE_PARETO),
    "revenue_grouping_sets": (q_revenue_grouping_sets, SQL_REVENUE_GROUPING_SETS),
    "cdc_merge": (q_cdc_merge, SQL_CDC_MERGE),
    "scd2_versions": (q_scd2_versions, SQL_SCD2_VERSIONS),
    "schema_compat_check": (q_schema_compat_check, SQL_SCHEMA_COMPAT_CHECK),
    "lag_autocorr": (q_lag_autocorr, SQL_LAG_AUTOCORR),
    "first_event_per_user": (q_first_event_per_user, SQL_FIRST_EVENT_PER_USER),
    "user_day_setops": (q_user_day_setops, SQL_USER_DAY_SETOPS),
    "event_type_entropy": (q_event_type_entropy, SQL_EVENT_TYPE_ENTROPY),
    "hourly_histogram": (q_hourly_histogram, SQL_HOURLY_HISTOGRAM),
    "afterhours_ratio": (q_afterhours_ratio, SQL_AFTERHOURS_RATIO),
    # Group C — corpus ops
    "doc_token_stats": (q_doc_token_stats, SQL_DOC_TOKEN_STATS),
    "lang_id_accuracy": (q_lang_id_accuracy, SQL_LANG_ID_ACCURACY),
    "doc_quality": (q_doc_quality, SQL_DOC_QUALITY),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "doc_top_terms": (q_doc_top_terms, SQL_DOC_TOP_TERMS),
    "exact_dup_groups": (q_exact_dup_groups, SQL_EXACT_DUP_GROUPS),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIGNATURES),
    "lsh_candidate_pairs": (q_lsh_candidate_pairs, SQL_LSH_CANDIDATE_PAIRS),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD_PAIRS),
    "simhash_fingerprints": (q_simhash_fingerprints, SQL_SIMHASH_FINGERPRINTS),
    "embedding_topk": (q_embedding_topk, SQL_EMBEDDING_TOPK),
    "embedding_ivf_topk": (q_embedding_ivf_topk, SQL_EMBEDDING_IVF_TOPK),
    "embedding_ivf_multiprobe": (q_embedding_ivf_multiprobe, SQL_EMBEDDING_IVF_MULTIPROBE),
    "embedding_lsh_buckets": (q_embedding_lsh_buckets, SQL_EMBEDDING_LSH_BUCKETS),
    "embedding_lsh_multiprobe": (q_embedding_lsh_multiprobe, SQL_EMBEDDING_LSH_MULTIPROBE),
    # Group D — multimodal
    "media_metadata_stats": (q_media_metadata_stats, SQL_MEDIA_METADATA_STATS),
    "media_feature_extract": (q_media_feature_extract, SQL_MEDIA_FEATURE_EXTRACT),
    "media_frame_sample": (q_media_frame_sample, SQL_MEDIA_FRAME_SAMPLE),
    "media_thumbnail_dims": (q_media_thumbnail_dims, SQL_MEDIA_THUMBNAIL_DIMS),
    "media_decode_stats": (q_media_decode_stats, SQL_MEDIA_DECODE_STATS),
    # Group N — web-corpus front
    "html_text_extract": (q_html_text_extract, SQL_HTML_TEXT_EXTRACT),
    "url_canonical_dedup": (q_url_canonical_dedup, SQL_URL_CANONICAL_DEDUP),
    "c4_line_filter": (q_c4_line_filter, SQL_C4_LINE_FILTER),
    "global_line_dedup": (q_global_line_dedup, SQL_GLOBAL_LINE_DEDUP),
    "exact_substring_spans": (q_exact_substring_spans, SQL_EXACT_SUBSTRING_SPANS),
    "exact_substring_clean": (q_exact_substring_clean, SQL_EXACT_SUBSTRING_CLEAN),
    "bm25_search": (q_bm25_search, SQL_BM25_SEARCH),
    "url_host_blocklist": (q_url_host_blocklist, SQL_URL_HOST_BLOCKLIST),
    "domain_quality_stats": (q_domain_quality_stats, SQL_DOMAIN_QUALITY_STATS),
    "entity_linkage": (q_entity_linkage, SQL_ENTITY_LINKAGE),
    "golden_records": (q_golden_records, SQL_GOLDEN_RECORDS),
    "edit_distance_links": (q_edit_distance_links, SQL_EDIT_DISTANCE_LINKS),
    "quality_classifier": (q_quality_classifier, SQL_QUALITY_CLASSIFIER),
    "dsir_importance": (q_dsir_importance, SQL_DSIR_IMPORTANCE),
    "dsir_resample": (q_dsir_resample, SQL_DSIR_RESAMPLE),
    "corpus_dup_ngrams": (q_corpus_dup_ngrams, SQL_CORPUS_DUP_NGRAMS),
    "k_anonymity": (q_k_anonymity, SQL_K_ANONYMITY),
    "l_diversity": (q_l_diversity, SQL_L_DIVERSITY),
    "curation_pipeline": (q_curation_pipeline, SQL_CURATION_PIPELINE),
    # Group E — remaining SURVEY §2 operator classes
    "trend_slope": (q_trend_slope, SQL_TREND_SLOPE),
    "revenue_rollup": (q_revenue_rollup, SQL_REVENUE_ROLLUP),
    "nation_customer_tiers": (q_nation_customer_tiers, SQL_NATION_CUSTOMER_TIERS),
    "user_risk_ensemble": (q_user_risk_ensemble, SQL_USER_RISK_ENSEMBLE),
    "weekly_event_windows": (q_weekly_event_windows, SQL_WEEKLY_EVENT_WINDOWS),
    "doc_sensitivity": (q_doc_sensitivity, SQL_DOC_SENSITIVITY),
    "user_pair_interactions": (q_user_pair_interactions, SQL_USER_PAIR_INTERACTIONS),
    "profile_documents_long": (q_profile_documents_long, SQL_PROFILE_DOCUMENTS_LONG),
    "hierarchy_levels": (q_hierarchy_levels, SQL_HIERARCHY_LEVELS),
    "props_json_stats": (q_props_json_stats, SQL_PROPS_JSON_STATS),
    # Group F — ML ensemble analogue, risk, graph, seasonality, profile join
    "ml_outlier_ensemble": (q_ml_outlier_ensemble, SQL_ML_OUTLIER_ENSEMBLE),
    "local_outlier_scores": (q_local_outlier_scores, SQL_LOCAL_OUTLIER_SCORES),
    "density_clusters": (q_density_clusters, SQL_DENSITY_CLUSTERS),
    "local_outlier_multiprobe": (q_local_outlier_multiprobe, SQL_LOCAL_OUTLIER_MULTIPROBE),
    "entity_risk_scores": (q_entity_risk_scores, SQL_ENTITY_RISK_SCORES),
    "risk_forecast": (q_risk_forecast, SQL_RISK_FORECAST),
    "risk_forecast_branches": (q_risk_forecast_branches, SQL_RISK_FORECAST_BRANCHES),
    "risk_report_summary": (q_risk_report_summary, SQL_RISK_REPORT_SUMMARY),
    "user_entity_report": (q_user_entity_report, SQL_USER_ENTITY_REPORT),
    "psychometric_profile": (q_psychometric_profile, SQL_PSYCHOMETRIC_PROFILE),
    "degree_centrality": (q_degree_centrality, SQL_DEGREE_CENTRALITY),
    "seasonality_periods": (q_seasonality_periods, SQL_SEASONALITY_PERIODS),
    "user_profile_deviation": (q_user_profile_deviation, SQL_USER_PROFILE_DEVIATION),
    "org_rule_scores": (q_org_rule_scores, SQL_ORG_RULE_SCORES),
    "missing_value_fill": (q_missing_value_fill, SQL_MISSING_VALUE_FILL),
    "path_type_classify": (q_path_type_classify, SQL_PATH_TYPE_CLASSIFY),
    "graph_triangles": (q_graph_triangles, SQL_GRAPH_TRIANGLES),
    "eigenvector_centrality": (q_eigenvector_centrality, SQL_EIGENVECTOR_CENTRALITY),
    "graph_components": (q_graph_components, SQL_GRAPH_COMPONENTS),
    "graph_communities": (q_graph_communities, SQL_GRAPH_COMMUNITIES),
    "landmark_closeness": (q_landmark_closeness, SQL_LANDMARK_CLOSENESS),
    "graph_anomaly_scores": (q_graph_anomaly_scores, SQL_GRAPH_ANOMALY_SCORES),
    "embedding_near_dups": (q_embedding_near_dups, SQL_EMBEDDING_NEAR_DUPS),
    "high_risk_correlations": (q_high_risk_correlations, SQL_HIGH_RISK_CORRELATIONS),
    "landmark_stress": (q_landmark_stress, SQL_LANDMARK_STRESS),
    "access_pattern_drift": (q_access_pattern_drift, SQL_ACCESS_PATTERN_DRIFT),
    "user_activity_profile": (q_user_activity_profile, SQL_USER_ACTIVITY_PROFILE),
    "dup_clusters": (q_dup_clusters, SQL_DUP_CLUSTERS),
    "rolling_user_activity": (q_rolling_user_activity, SQL_ROLLING_USER_ACTIVITY),
    "pagerank": (q_pagerank, SQL_PAGERANK),
    "corpus_split_stats": (q_corpus_split_stats, SQL_CORPUS_SPLIT_STATS),
    "stratified_sample_stats": (q_stratified_sample_stats, SQL_STRATIFIED_SAMPLE_STATS),
    "token_budget_docs": (q_token_budget_docs, SQL_TOKEN_BUDGET_DOCS),
    "domain_mixture": (q_domain_mixture, SQL_DOMAIN_MIXTURE),
    "corpus_shuffle_order": (q_corpus_shuffle_order, SQL_CORPUS_SHUFFLE_ORDER),
    "interleaved_span_stats": (q_interleaved_span_stats, SQL_INTERLEAVED_SPAN_STATS),
    "span_kind_transitions": (q_span_kind_transitions, SQL_SPAN_KIND_TRANSITIONS),
    # Group G — training-pipeline ops (repetition, contamination, as-of, packing)
    "doc_repetition": (q_doc_repetition, SQL_DOC_REPETITION),
    "benchmark_contamination": (q_benchmark_contamination, SQL_BENCHMARK_CONTAMINATION),
    "asof_signup_join": (q_asof_signup_join, SQL_ASOF_SIGNUP_JOIN),
    "sequence_packing": (q_sequence_packing, SQL_SEQUENCE_PACKING),
    "pii_scan": (q_pii_scan, SQL_PII_SCAN),
    "doc_chunks": (q_doc_chunks, SQL_DOC_CHUNKS),
    "zorder_codes": (q_zorder_codes, SQL_ZORDER_CODES),
    "token_familiarity": (q_token_familiarity, SQL_TOKEN_FAMILIARITY),
    "key_skew_report": (q_key_skew_report, SQL_KEY_SKEW_REPORT),
    "rule_suggestions": (q_rule_suggestions, SQL_RULE_SUGGESTIONS),
    "media_asset_stats": (q_media_asset_stats, SQL_MEDIA_ASSET_STATS),
    "interleaved_packing": (q_interleaved_packing, SQL_INTERLEAVED_PACKING),
    "completeness_floor": (q_completeness_floor, SQL_COMPLETENESS_FLOOR),
    "duplicate_key_docs": (q_duplicate_key_docs, SQL_DUPLICATE_KEY_DOCS),
    "boilerplate_phrases": (q_boilerplate_phrases, SQL_BOILERPLATE_PHRASES),
    "boilerplate_ratio": (q_boilerplate_ratio, SQL_BOILERPLATE_RATIO),
    "media_caption_check": (q_media_caption_check, SQL_MEDIA_CAPTION_CHECK),
    "media_run_check": (q_media_run_check, SQL_MEDIA_RUN_CHECK),
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    "modality_mix": (q_modality_mix, SQL_MODALITY_MIX),
    "merged_profile": (q_merged_profile, SQL_MERGED_PROFILE),
    "merged_drift": (q_merged_drift, SQL_MERGED_DRIFT),
    "span_dedup": (q_span_dedup, SQL_SPAN_DEDUP),
    "embedding_drift": (q_embedding_drift, SQL_EMBEDDING_DRIFT),
    "encoding_anomalies": (q_encoding_anomalies, SQL_ENCODING_ANOMALIES),
    "interval_overlaps": (q_interval_overlaps, SQL_INTERVAL_OVERLAPS),
    "date_gap_check": (q_date_gap_check, SQL_DATE_GAP_CHECK),
    "semantic_prune": (q_semantic_prune, SQL_SEMANTIC_PRUNE),
    "commit_diff": (q_commit_diff, SQL_COMMIT_DIFF),
    "violation_exemplars": (q_violation_exemplars, SQL_VIOLATION_EXEMPLARS),
    "fd_check": (q_fd_check, SQL_FD_CHECK),
    "freshness_check": (q_freshness_check, SQL_FRESHNESS_CHECK),
    "incremental_lsh": (q_incremental_lsh, SQL_INCREMENTAL_LSH),
    "orphaned_assets": (q_orphaned_assets, SQL_ORPHANED_ASSETS),
    "ordinal_contiguity": (q_ordinal_contiguity, SQL_ORDINAL_CONTIGUITY),
    "rule_cooccurrence": (q_rule_cooccurrence, SQL_RULE_COOCCURRENCE),
    "column_fingerprints": (q_column_fingerprints, SQL_COLUMN_FINGERPRINTS),
    "sampled_validation": (q_sampled_validation, SQL_SAMPLED_VALIDATION),
    "dq_scores": (q_dq_scores, SQL_DQ_SCORES),
    "rule_recall_audit": (q_rule_recall_audit, SQL_RULE_RECALL_AUDIT),
    "moments_profile": (q_moments_profile, SQL_MOMENTS_PROFILE),
    "violation_slices": (q_violation_slices, SQL_VIOLATION_SLICES),
    "slo_verdicts": (q_slo_verdicts, SQL_SLO_VERDICTS),
    "benford_check": (q_benford_check, SQL_BENFORD_CHECK),
    "corr_matrix": (q_corr_matrix, SQL_CORR_MATRIX),
    "checksum_reconcile": (q_checksum_reconcile, SQL_CHECKSUM_RECONCILE),
    "heavy_hitters": (q_heavy_hitters, SQL_HEAVY_HITTERS),
    "cms_heavy_hitters": (q_cms_heavy_hitters, SQL_CMS_HEAVY_HITTERS),
    "join_size_estimate": (q_join_size_estimate, SQL_JOIN_SIZE_ESTIMATE),
    "kmv_distinct": (q_kmv_distinct, SQL_KMV_DISTINCT),
    "kmv_rollup_daily": (q_kmv_rollup_daily, SQL_KMV_ROLLUP_DAILY),
    "vocab_overlap_sketch": (q_vocab_overlap_sketch, SQL_VOCAB_OVERLAP_SKETCH),
    "json_key_profile": (q_json_key_profile, SQL_JSON_KEY_PROFILE),
    "group_cap_sample": (q_group_cap_sample, SQL_GROUP_CAP_SAMPLE),
    "seasonal_residuals": (q_seasonal_residuals, SQL_SEASONAL_RESIDUALS),
    "containment_pairs": (q_containment_pairs, SQL_CONTAINMENT_PAIRS),
    "split_leakage": (q_split_leakage, SQL_SPLIT_LEAKAGE),
    "correlation_drift": (q_correlation_drift, SQL_CORRELATION_DRIFT),
    "event_funnel": (q_event_funnel, SQL_EVENT_FUNNEL),
    "retention_cohorts": (q_retention_cohorts, SQL_RETENTION_COHORTS),
    "format_profile": (q_format_profile, SQL_FORMAT_PROFILE),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "regex_rule_check": (q_regex_rule_check, SQL_REGEX_RULE_CHECK),
    "mixture_downsample": (q_mixture_downsample, SQL_MIXTURE_DOWNSAMPLE),
    "embedding_int8_topk": (q_embedding_int8_topk, SQL_EMBEDDING_INT8_TOPK),
    "ngram_lm_scores": (q_ngram_lm_scores, SQL_NGRAM_LM_SCORES),
    "bpe_pair_stats": (q_bpe_pair_stats, SQL_BPE_PAIR_STATS),
    "bpe_learn_merges": (q_bpe_learn_merges, SQL_BPE_LEARN_MERGES),
    "bpe_encode": (q_bpe_encode, SQL_BPE_ENCODE),
    "embedding_int8_ivf": (q_embedding_int8_ivf, SQL_EMBEDDING_INT8_IVF),
    "ivf_cell_stats": (q_ivf_cell_stats, SQL_IVF_CELL_STATS),
    "embedding_ivf_kmeans": (q_embedding_ivf_kmeans, SQL_EMBEDDING_IVF_KMEANS),
    "ann_recall_report": (q_ann_recall_report, SQL_ANN_RECALL_REPORT),
    "embedding_spectral_multi": (q_embedding_spectral_multi, SQL_EMBEDDING_SPECTRAL_MULTI),
    "embedding_spectral_top": (q_embedding_spectral_top, SQL_EMBEDDING_SPECTRAL_TOP),
    "kmeans_clusters": (q_kmeans_clusters, SQL_KMEANS_CLUSTERS),
    "domain_similarity": (q_domain_similarity, SQL_DOMAIN_SIMILARITY),
    "compaction_plan": (q_compaction_plan, SQL_COMPACTION_PLAN),
    "scan_skip_report": (q_scan_skip_report, SQL_SCAN_SKIP_REPORT),
    "fd_discovery": (q_fd_discovery, SQL_FD_DISCOVERY),
    "length_batching": (q_length_batching, SQL_LENGTH_BATCHING),
    "robust_outliers": (q_robust_outliers, SQL_ROBUST_OUTLIERS),
    "class_separation": (q_class_separation, SQL_CLASS_SEPARATION),
    "contrastive_pairs": (q_contrastive_pairs, SQL_CONTRASTIVE_PAIRS),
    "temperature_mixture": (q_temperature_mixture, SQL_TEMPERATURE_MIXTURE),
    "winsorized_stats": (q_winsorized_stats, SQL_WINSORIZED_STATS),
    "kcenter_coreset": (q_kcenter_coreset, SQL_KCENTER_CORESET),
    "score_calibration": (q_score_calibration, SQL_SCORE_CALIBRATION),
    "gopher_quality": (q_gopher_quality, SQL_GOPHER_QUALITY),
    "token_entropy": (q_token_entropy, SQL_TOKEN_ENTROPY),
    "knn_label_noise": (q_knn_label_noise, SQL_KNN_LABEL_NOISE),
    "normalization_dup_gain": (q_normalization_dup_gain,
                               SQL_NORMALIZATION_DUP_GAIN),
    "tokenizer_fertility": (q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY),
    "shard_balance": (q_shard_balance, SQL_SHARD_BALANCE),
    "vocab_drift": (q_vocab_drift, SQL_VOCAB_DRIFT),
    "dup_source_matrix": (q_dup_source_matrix, SQL_DUP_SOURCE_MATRIX),
    "ngram_novelty": (q_ngram_novelty, SQL_NGRAM_NOVELTY),
    "lang_label_mismatch": (q_lang_label_mismatch, SQL_LANG_LABEL_MISMATCH),
    "jaccard_threshold_sweep": (q_jaccard_threshold_sweep,
                                SQL_JACCARD_THRESHOLD_SWEEP),
    "dup_length_spectrum": (q_dup_length_spectrum, SQL_DUP_LENGTH_SPECTRUM),
}
