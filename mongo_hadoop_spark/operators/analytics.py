"""Event/corpus analytics: funnel, cohort retention, quantiles, sampling.

The large-scale training-pipeline companions to the windows/session suite:
distribution reporting and user-journey rollups that a 100 TB corpus job
runs next to dedup/quality filtering.  All pure built-in column math —
no Python in any hot path.

Scale notes:
- the funnel chains groupBy/join stages all keyed on ``user_id``: Spark
  reuses one hash partitioning across the whole chain (no re-shuffle per
  stage), and each stage's output is strictly smaller than its input;
- cohort retention is |users| + |user-weeks| work, two shuffles;
- the stratified sample is a deterministic hash-mod predicate — at any
  scale it is a scan with a cheap filter, no sampling state, and the
  same rows survive on every engine (md5-based, seed-free);
- the histogram buckets by the integer bit-length of per-user counts
  (⌊log2 n⌋+1 via ``length(bin(n))``) — integer semantics, no float
  log rounding to diverge between engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from mongo_hadoop_spark.functions import (
    dec_to_double,
    dec_to_double_sql,
    md5_long,
    md5_long_sql,
)
from mongo_hadoop_spark.session import table


# ---------------------------------------------------------------------------
# Ordered funnel: view → click → purchase
# ---------------------------------------------------------------------------

def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users reaching each ordered funnel stage (first-touch sequencing).

    Stage k counts users whose earliest stage-k event is at/after their
    earliest stage-(k-1) completion — the standard ordered-funnel rule.
    """
    e = table(spark, sf_dir, "events")
    v = (e.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    c = (e.where(F.col("event_type") == "click")
         .join(v, "user_id")
         .where(F.col("ts") >= F.col("t_view"))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (e.where(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .where(F.col("ts") >= F.col("t_click"))
         .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    one = F.count(F.lit(1)).alias("n_users")
    return (
        v.agg(one).select(F.lit("1_view").alias("stage"), "n_users")
        .unionAll(c.agg(one).select(F.lit("2_click").alias("stage"), "n_users"))
        .unionAll(p.agg(one).select(F.lit("3_purchase").alias("stage"), "n_users"))
    )


FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= v.t_view GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click GROUP BY 1
)
SELECT '1_view' AS stage, count(*) AS n_users FROM v
UNION ALL SELECT '2_click', count(*) FROM c
UNION ALL SELECT '3_purchase', count(*) FROM p
"""


# ---------------------------------------------------------------------------
# Weekly cohort retention
# ---------------------------------------------------------------------------

def _week_index(ts_col) -> F.Column:
    """Monday-based week index from a timestamp, TZ-free.

    ``date_trunc('week', ...)`` is session-timezone-sensitive in Spark but
    naive in DuckDB, so week math goes through pure integer arithmetic on
    the internal epoch value: day = ⌊epoch/86400⌋, week = ⌊(day+3)/7⌋
    (1970-01-01 was a Thursday; +3 aligns breaks to Mondays)."""
    day = F.floor(F.unix_timestamp(ts_col) / 86400)
    return F.floor((day + 3) / 7).cast("long")


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort_week, weeks_since, n_users): users active k weeks after
    their first-activity week."""
    e = table(spark, sf_dir, "events")
    first = (e.groupBy("user_id")
             .agg(_week_index(F.min("ts")).alias("cw")))
    weekly = (e.select("user_id", _week_index(F.col("ts")).alias("w"))
              .distinct())
    monday = F.date_add(F.lit("1969-12-29").cast("date"),
                        (F.col("cw") * 7).cast("int"))
    return (
        weekly.join(first, "user_id")
        .select(
            monday.cast("string").alias("cohort_week"),
            (F.col("w") - F.col("cw")).alias("weeks_since"),
            "user_id",
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


COHORT_SQL = """
WITH first AS (
  SELECT user_id,
         floor((floor(epoch(min(ts)) / 86400) + 3) / 7)::bigint AS cw
  FROM events GROUP BY 1
),
weekly AS (
  SELECT DISTINCT user_id,
         floor((floor(epoch(ts) / 86400) + 3) / 7)::bigint AS w
  FROM events
)
SELECT (DATE '1969-12-29' + (cw * 7)::int)::varchar AS cohort_week,
       (w - cw) AS weeks_since,
       count(DISTINCT user_id) AS n_users
FROM weekly JOIN first USING (user_id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Exact discrete quantiles per group
# ---------------------------------------------------------------------------

def orders_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority order-value quartiles via ``percentile_disc`` — the
    discrete quantile picks an actual data element (no interpolation
    arithmetic), so the result is bit-exact across engines."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_q")
    return spark.sql("""
        SELECT o_orderpriority AS priority,
               count(*) AS n,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS p75
        FROM __orders_q GROUP BY o_orderpriority
    """)


QUANTILE_SQL = """
SELECT o_orderpriority AS priority,
       count(*) AS n,
       quantile_disc(o_totalprice, 0.25) AS p25,
       quantile_disc(o_totalprice, 0.50) AS p50,
       quantile_disc(o_totalprice, 0.75) AS p75
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

SAMPLE_PCT = 10  # keep md5(doc_id) % 100 < SAMPLE_PCT


def documents_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-free ~10% sample with per-language accounting: the survivor
    set is a pure function of doc_id (md5 mod), so it is reproducible on
    any engine, any partitioning, any day — the property a training-data
    pipeline needs to re-materialize a sample."""
    d = table(spark, sf_dir, "documents")
    kept = d.where((md5_long(F.col("doc_id").cast("string")) % 100) < SAMPLE_PCT)
    return (
        d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
        .join(kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled")),
              "lang", "left")
        .select("lang", "n_total", F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"))
    )


SAMPLE_SQL = f"""
WITH kept AS (
  SELECT lang FROM documents
  WHERE ({md5_long_sql('doc_id::varchar')}) % 100 < {SAMPLE_PCT}
)
SELECT d.lang, count(*) AS n_total,
       coalesce(any_value(k.n), 0) AS n_sampled
FROM documents d
LEFT JOIN (SELECT lang, count(*) AS n FROM kept GROUP BY 1) k USING (lang)
GROUP BY d.lang
"""


# ---------------------------------------------------------------------------
# Log-bucketed activity histogram
# ---------------------------------------------------------------------------

def user_activity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-user event counts in power-of-two buckets.
    Bucket = bit length of the count (integer semantics — no float log)."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_user
        .select(F.length(F.bin("n")).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .withColumn("bucket_min", (F.lit(2) ** (F.col("bucket") - 1)).cast("long"))
    )


HISTOGRAM_SQL = """
WITH per_user AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY 1
)
SELECT length(bin(n))::bigint AS bucket,
       count(*) AS n_users,
       (2 ** (length(bin(n)) - 1))::bigint AS bucket_min
FROM per_user GROUP BY length(bin(n))
"""




# ---------------------------------------------------------------------------
# Per-user anomaly flags from exact decimal moments
# ---------------------------------------------------------------------------

Z_THRESHOLD = 2.0


def events_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value deviates > 2σ from the user's own distribution.

    Cross-engine determinism is all in the moments: engines disagree on
    *streaming* variance (Welford vs naive, different partial orders), so
    both sums are accumulated as exact decimals — count, Σv, Σv² have one
    bit-exact value regardless of partitioning — and only then converted
    to double for the (mean, variance, z) arithmetic, which is a fixed
    IEEE expression tree.  The decimal→double step goes through
    :func:`~mongo_hadoop_spark.functions.dec_to_double` because a plain
    cast drifts 1 ulp between engines once the unscaled sum tops 2^53
    (s2 at scale 12 crosses that at a per-user Σv² of just ~9e3 — hit at
    sf0.1).  One groupBy + one broadcast-sized join back; scales as a
    plain two-pass aggregate.
    """
    e = table(spark, sf_dir, "events")
    # ONE double→decimal cast per row, then exact decimal arithmetic: the
    # square is a decimal·decimal product (exact, scale 12), never a cast
    # of the double product — engines round double→decimal differently
    # (DuckDB multiplies by 10^scale in FP and rounds; Spark rounds the
    # exact binary expansion), which flipped the last digit of Σv² once
    # per ~1.5M rows at sf0.1.
    vd = F.col("value").cast("decimal(16,6)")
    stats = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vd).alias("s1"),
        F.sum(vd * vd).alias("s2"),
    ).select(
        "user_id", "n",
        dec_to_double(F.col("s1"), 6).alias("s1d"),
        dec_to_double(F.col("s2"), 12).alias("s2d"),
    )
    mean = F.col("s1d") / F.col("n")
    var = F.col("s2d") / F.col("n") - mean * mean
    # a zero-variance user (one event, or all values equal) has no z:
    # NULL, as DuckDB's x/0.0, so the row fails the filter instead of
    # raising DIVIDE_BY_ZERO under ANSI.  var < 0 is the same case with
    # a rounding error (0.1² ≠ 0.01 in binary), not a NaN row.
    z = F.when(var > 0, (F.col("value") - mean) / F.sqrt(var))
    return (
        e.select("event_id", "user_id", "value")
        .join(F.broadcast(stats), "user_id")
        .select("event_id", "user_id", z.alias("z"))
        .where(F.abs(F.col("z")) > Z_THRESHOLD)
    )


ANOMALY_SQL = f"""
WITH stats AS (
  SELECT user_id, count(*) AS n,
         {dec_to_double_sql('sum(value::decimal(16,6))', 6)} AS s1d,
         {dec_to_double_sql('sum(value::decimal(16,6) * value::decimal(16,6))', 12)} AS s2d
  FROM events GROUP BY 1
)
SELECT event_id, user_id,
       (value - s1d / n) / sqrt(s2d / n - (s1d / n) * (s1d / n)) AS z
FROM events JOIN stats USING (user_id)
WHERE abs((value - s1d / n) / sqrt(s2d / n - (s1d / n) * (s1d / n)))
      > {Z_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Deterministic train/valid/test split (content-keyed)
# ---------------------------------------------------------------------------

SPLIT_SALT = "split"
TRAIN_PCT, VALID_PCT = 98, 1  # train/valid/test = 98/1/1


def documents_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/valid/test by hashing its *content*.

    Content-keyed (not id-keyed) on purpose: byte-identical documents land
    in the same split regardless of which crawl shard produced them, so a
    duplicate can never leak from train into the eval sets — the
    train/test-contamination guarantee a training pipeline needs (the
    cross-corpus analog of :func:`~.dedup.corpus_decontaminate`).

    Map-only scan (md5 mod 100 per row, no shuffle, no state); the
    assignment is reproducible on any engine, partitioning, or day.
    """
    d = table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("text"), salt=SPLIT_SALT) % 100
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VALID_PCT, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return d.select("doc_id", split.alias("split"))


TRAIN_SPLIT_SQL = f"""
SELECT doc_id,
       CASE WHEN ({md5_long_sql('text', salt=SPLIT_SALT)}) % 100 < {TRAIN_PCT}
              THEN 'train'
            WHEN ({md5_long_sql('text', salt=SPLIT_SALT)}) % 100
                 < {TRAIN_PCT + VALID_PCT}
              THEN 'valid'
            ELSE 'test' END AS split
FROM documents
"""


# ---------------------------------------------------------------------------
# Deterministic per-key sample (reservoir-equivalent, seed-free)
# ---------------------------------------------------------------------------

PER_USER_K = 3
EVSAMPLE_SALT = "evsample"


def events_per_user_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep K events per user, chosen by hash rank — the distributed,
    deterministic equivalent of per-key reservoir sampling.

    Ranking by ``md5(event_id)`` instead of a random() draw makes the
    sample a pure function of the data: reproducible across engines,
    retries, and partitionings (random() would break all three).  One
    hash shuffle on ``user_id`` + a bounded per-group sort; no global
    sort, no driver state — the shape survives any corpus size, and
    skewed users cost one partition's sort, not a cross-partition merge.
    """
    e = table(spark, sf_dir, "events")
    rk = md5_long(F.col("event_id").cast("string"), salt=EVSAMPLE_SALT)
    w = Window.partitionBy("user_id").orderBy(rk.asc(), F.col("event_id").asc())
    return (
        e.select("user_id", "event_id", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= PER_USER_K)
    )


PER_USER_SAMPLE_SQL = f"""
SELECT user_id, event_id, rk FROM (
  SELECT user_id, event_id,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY ({md5_long_sql('event_id::varchar', salt=EVSAMPLE_SALT)}),
                    event_id) AS rk
  FROM events
) WHERE rk <= {PER_USER_K}
"""


# ---------------------------------------------------------------------------
# RFM (recency / frequency / monetary) customer segmentation
# ---------------------------------------------------------------------------

def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer RFM segmentation: per-customer recency (days since last
    order, vs the corpus max date), frequency (order count), monetary
    (decimal-exact spend), each cut at the median into H/L, composed into
    an 8-way segment label.

    Scale shape: one groupBy on ``o_custkey`` (map-side partial), one
    1-row global aggregate for the max date and the three
    ``percentile_disc`` medians, broadcast back as scalars — no window
    over customers, no second shuffle.  Integer day math (epoch // 86400)
    keeps recency TZ-free and engine-exact; the median cut uses
    ``percentile_disc`` ↔ ``quantile_disc`` (the proven exact pairing).
    """
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.unix_timestamp("o_orderdate") / F.lit(86400))
         .cast("long").alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("spend_dec"),
    ).select(
        "o_custkey", "last_day", "frequency",
        dec_to_double(F.col("spend_dec")).alias("monetary"),
    )
    per_cust.createOrReplaceTempView("__rfm_cust")
    return spark.sql("""
        WITH cuts AS (
          SELECT max(last_day) AS max_day,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY last_day) AS md_day,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY frequency) AS md_freq,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY monetary) AS md_mon
          FROM __rfm_cust
        )
        SELECT o_custkey,
               (max_day - last_day) AS recency_days,
               frequency, monetary,
               concat(CASE WHEN last_day >= md_day THEN 'R+' ELSE 'R-' END,
                      CASE WHEN frequency > md_freq THEN 'F+' ELSE 'F-' END,
                      CASE WHEN monetary > md_mon THEN 'M+' ELSE 'M-' END)
                 AS segment
        FROM __rfm_cust CROSS JOIN cuts
    """)


RFM_SQL = """
WITH cust AS (
  SELECT o_custkey,
         max(epoch(o_orderdate)::bigint // 86400) AS last_day,
         count(*) AS frequency,
         (trunc(sum(o_totalprice::decimal(38,6)))::bigint::double + (((sum(o_totalprice::decimal(38,6)) % 1)::decimal(16,15)) * 1000000000000000)::bigint::double / 1000000000000000.0) AS monetary
  FROM orders GROUP BY 1
),
cuts AS (
  SELECT max(last_day) AS max_day,
         quantile_disc(last_day, 0.5) AS md_day,
         quantile_disc(frequency, 0.5) AS md_freq,
         quantile_disc(monetary, 0.5) AS md_mon
  FROM cust
)
SELECT o_custkey,
       (max_day - last_day) AS recency_days,
       frequency, monetary,
       (CASE WHEN last_day >= md_day THEN 'R+' ELSE 'R-' END) ||
       (CASE WHEN frequency > md_freq THEN 'F+' ELSE 'F-' END) ||
       (CASE WHEN monetary > md_mon THEN 'M+' ELSE 'M-' END) AS segment
FROM cust CROSS JOIN cuts
"""


# ---------------------------------------------------------------------------
# Temperature-weighted source mixing (sqrt-temperature corpus sampling)
# ---------------------------------------------------------------------------

MIX_CAP = 10          # per-source target scale: keep ≈ sqrt(MIX_CAP · n_s) docs
MIX_MOD = 1_000_000   # hash-threshold resolution
MIX_SALT = "mix"


def _mix_threshold_sql(n_col: str) -> str:
    """Integer keep-threshold for a source with ``n_col`` documents.

    rate_s = min(1, sqrt(MIX_CAP / n_s)) — α=1/2 temperature sampling.
    α is fixed at 1/2 deliberately: IEEE ``sqrt`` is correctly rounded
    (bit-identical everywhere), whereas ``pow(x, 0.7)`` is libm-dependent
    like ``ln`` (see operators/lm.py).  The expression below is division
    → sqrt → multiply → floor: four exact-or-correctly-rounded IEEE ops,
    so the threshold is deterministic cross-engine.
    """
    return (f"least({MIX_MOD}, floor(sqrt({float(MIX_CAP)} / {n_col})"
            f" * {MIX_MOD}))")


def corpus_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture report under sqrt-temperature sampling.

    Multilingual / multi-source LLM corpora are not sampled
    proportionally — big sources are downweighted by n^α (α<1) so small
    sources keep representation (the mBERT/XLM-R exponential-smoothing
    recipe).  With α=1/2 each source keeps ≈ sqrt(MIX_CAP·n_s) documents:
    a 100× larger source contributes only 10× more.

    Scale shape: one tiny per-source count aggregate broadcast back to
    the scan; the keep decision is a row-local md5-threshold test — no
    sampling state, reproducible on any engine or partitioning.
    """
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    thr = F.expr(_mix_threshold_sql("n_docs")).cast("long")
    keep = (md5_long(F.col("doc_id").cast("string"), salt=MIX_SALT)
            % MIX_MOD) < F.col("keep_threshold")
    return (
        d.join(F.broadcast(counts.select(
            "source", F.col("n_docs").alias("n_docs"),
            thr.alias("keep_threshold"))), "source")
        .select("source", "n_docs", "keep_threshold", "doc_id",
                keep.cast("int").alias("kept"))
        .groupBy("source", "n_docs", "keep_threshold")
        .agg(F.sum("kept").alias("n_kept"))
    )


SOURCE_MIXTURE_SQL = f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs,
         ({_mix_threshold_sql('count(*)')})::bigint AS keep_threshold
  FROM documents GROUP BY source
)
SELECT source, n_docs, keep_threshold,
       sum(CASE WHEN ({md5_long_sql('doc_id::varchar', salt=MIX_SALT)})
                     % {MIX_MOD} < keep_threshold
                THEN 1 ELSE 0 END)::bigint AS n_kept
FROM documents JOIN counts USING (source)
GROUP BY source, n_docs, keep_threshold
"""


def corpus_source_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampled document set itself: (doc_id, source) surviving the
    sqrt-temperature mixture — the input manifest for a training run."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    thr = F.expr(_mix_threshold_sql("n_docs")).cast("long")
    return (
        d.join(F.broadcast(counts.select(
            "source", thr.alias("keep_threshold"))), "source")
        .where((md5_long(F.col("doc_id").cast("string"), salt=MIX_SALT)
                % MIX_MOD) < F.col("keep_threshold"))
        .select("doc_id", "source")
    )


SOURCE_MIXTURE_DOCS_SQL = f"""
WITH counts AS (
  SELECT source, ({_mix_threshold_sql('count(*)')})::bigint AS keep_threshold
  FROM documents GROUP BY source
)
SELECT doc_id, source
FROM documents JOIN counts USING (source)
WHERE ({md5_long_sql('doc_id::varchar', salt=MIX_SALT)}) % {MIX_MOD}
      < keep_threshold
"""


QUERIES = {
    "events_funnel": events_funnel,
    "corpus_source_mixture": corpus_source_mixture,
    "corpus_source_mixture_docs": corpus_source_mixture_docs,
    "events_cohort_retention": events_cohort_retention,
    "orders_quantile_rollup": orders_quantile_rollup,
    "documents_stratified_sample": documents_stratified_sample,
    "user_activity_histogram": user_activity_histogram,
    "events_value_anomalies": events_value_anomalies,
    "documents_train_split": documents_train_split,
    "events_per_user_sample": events_per_user_sample,
    "orders_rfm_segments": orders_rfm_segments,
}

ORACLES = {
    "corpus_source_mixture": SOURCE_MIXTURE_SQL,
    "corpus_source_mixture_docs": SOURCE_MIXTURE_DOCS_SQL,
    "documents_train_split": TRAIN_SPLIT_SQL,
    "events_per_user_sample": PER_USER_SAMPLE_SQL,
    "orders_rfm_segments": RFM_SQL,
    "events_funnel": FUNNEL_SQL,
    "events_cohort_retention": COHORT_SQL,
    "orders_quantile_rollup": QUANTILE_SQL,
    "documents_stratified_sample": SAMPLE_SQL,
    "user_activity_histogram": HISTOGRAM_SQL,
    "events_value_anomalies": ANOMALY_SQL,
}
