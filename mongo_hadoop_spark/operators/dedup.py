"""Deduplication operators for large-scale document pipelines.

Four families, all shuffle-conscious for 100 TB scale:

- **Exact** — hash-groupBy on normalized text: one shuffle on the text
  hash, map-side partial aggregation.  At scale, group on ``md5(text)``
  rather than the full text so shuffle keys are 16 bytes, not documents.
- **MinHash + LSH** — word-shingle → K salted min-hashes → banded bucket
  join.  Candidate generation is an equi-join on (band, band_hash): the
  classic linear-scale near-dup pipeline (no all-pairs comparison).
- **SimHash** — 16-bit signatures from token-hash bit votes; exact-match
  grouping on the signature finds near-identical docs with one shuffle.
- **N-gram Jaccard** — blocked pairwise verification: pairs are only
  formed *within* (lang, source) blocks, turning O(n²) into
  O(Σ block²).  Still quadratic in block size — the exhaustive baseline.
- **MinHash-verified** — exact Jaccard restricted to LSH candidate pairs:
  the composition that holds at 100 TB (candidates grow with true dups,
  not corpus²).

Every operator is deterministic cross-engine (md5-based hashing, integer
arithmetic), so all have full DuckDB oracles.

Reference context: the connector has no dedup surface; these are the
driver-mandated extensions (BASELINE.json north star).  The hashing uses
only built-in JVM expressions — no Python UDFs anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mongo_hadoop_spark.functions import (md5_long, md5_long_spark_sql,
                                          md5_long_sql, tokenize,
                                          word_shingles)
from mongo_hadoop_spark.guards import guard_quadratic
from mongo_hadoop_spark.session import materialize, table

# ---------------------------------------------------------------------------
# Exact dedup: keep the lowest doc_id per distinct text
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # Group on md5(text): at 100 TB the shuffle moves 16-byte keys, not docs.
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


EXACT_SQL = """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated document set itself (ids of survivors)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


EXACT_SURVIVORS_SQL = "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text"


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

MINHASH_K = 16          # signature length
LSH_BANDS = 4           # bands of 4 rows each
SHINGLE_N = 3           # word shingle width
_ROWS_PER_BAND = MINHASH_K // LSH_BANDS

# One md5 per shingle + K affine permutations (a_i*h + b_i) mod p — the
# classic "one hash, K universal-family transforms" trick: 16× fewer md5
# evaluations than salting the digest per permutation.  p = 2^31-1 keeps
# a_i*h' < 2^62 (no bigint overflow in either engine); a_i/b_i are
# md5-derived constants baked identically into the Spark plan and the SQL.
MINHASH_P = 2_147_483_647


def _affine_params(i: int) -> tuple[int, int]:
    import hashlib

    a = int(hashlib.md5(f"mh-a{i}".encode()).hexdigest()[:15], 16) % (MINHASH_P - 1) + 1
    b = int(hashlib.md5(f"mh-b{i}".encode()).hexdigest()[:15], 16) % MINHASH_P
    return a, b


_WORDS_SQL = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"
_SHINGLES_SQL = (
    f"list_transform(generate_series(1, greatest(len({_WORDS_SQL}) - {SHINGLE_N - 1}, 0)),"
    f" i -> array_to_string(({_WORDS_SQL})[i:i+{SHINGLE_N - 1}], ' '))"
)


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h{K-1}) MinHash signatures.

    One explode + one groupBy with K min() aggregates: a single shuffle on
    doc_id; partial (map-side) mins make the shuffle tiny.  The base md5
    is computed once per shingle; each signature component is an affine
    transform of it.
    """
    # The documents table may arrive as few (or one) parquet row-groups;
    # the shingle explode + hash is CPU-heavy per row, so fan out first —
    # a tiny shuffle that unlocks full-core (or full-cluster) parallelism.
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = d.select(
        "doc_id", F.explode(word_shingles("text", SHINGLE_N)).alias("s")
    ).select("doc_id", (md5_long(F.col("s")) % MINHASH_P).alias("h"))
    # The K min-aggregates go through one spark.sql string instead of K
    # Column objects: same plan, but ~8 py4j round-trips per component
    # (~0.15 s of driver time per build) collapse into one parse call —
    # and the SQL text is character-identical to the DuckDB oracle's.
    mins = ",\n           ".join(
        "min((h * {a} + {b}) % {p}) AS h{i}".format(
            a=_affine_params(i)[0], b=_affine_params(i)[1], p=MINHASH_P, i=i)
        for i in range(MINHASH_K)
    )
    sh.createOrReplaceTempView("__mh_shingle_hashes")
    return spark.sql(
        f"SELECT doc_id, {mins} FROM __mh_shingle_hashes GROUP BY doc_id")


def signatures_for(docs: DataFrame, view: str = "__mh_sig_for") -> DataFrame:
    """(doc_id, h0..h{K-1}) MinHash signatures of an ARBITRARY documents
    frame (doc_id, text, ...) — the frame-level core of :func:`_signatures`,
    shared with the incremental-crawl classifier and its streaming form
    (per-doc signatures depend on the document bytes alone, so computing
    them per micro-batch is exactly the batch computation).

    ``view`` must be unique among concurrently-built plans (spark.sql
    resolves the temp view eagerly, so sequential reuse is safe)."""
    spark = docs.sparkSession
    # same fan-out rationale as _signatures: shingle explode + hash is
    # CPU-heavy per row; a tiny shuffle unlocks full parallelism.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    sh = docs.select(
        "doc_id", F.explode(word_shingles("text", SHINGLE_N)).alias("s")
    ).select("doc_id", (md5_long(F.col("s")) % MINHASH_P).alias("h"))
    mins = ",\n           ".join(
        "min((h * {a} + {b}) % {p}) AS h{i}".format(
            a=_affine_params(i)[0], b=_affine_params(i)[1], p=MINHASH_P, i=i)
        for i in range(MINHASH_K)
    )
    sh.createOrReplaceTempView(view)
    return spark.sql(f"SELECT doc_id, {mins} FROM {view} GROUP BY doc_id")


def band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) LSH band rows of a signature frame —
    one stack() Generate, no shuffle."""
    stack_args = []
    for b in range(LSH_BANDS):
        cols = ", ".join(f"CAST(h{b * _ROWS_PER_BAND + r} AS STRING)"
                         for r in range(_ROWS_PER_BAND))
        band_key = md5_long_spark_sql(f"concat_ws(':', {cols})",
                                      salt=f"band{b}|")
        stack_args.extend([str(b), band_key])
    return sig.selectExpr(
        "doc_id",
        f"stack({LSH_BANDS}, {', '.join(stack_args)}) AS (band_id, band_hash)",
    )


def _signatures_sql() -> str:
    mins = []
    for i in range(MINHASH_K):
        a, b = _affine_params(i)
        mins.append(f"min((h * {a} + {b}) % {MINHASH_P}) AS h{i}")
    mins_sql = ",\n         ".join(mins)
    return f"""
  sh AS (
    SELECT doc_id, ({md5_long_sql('s')} % {MINHASH_P}) AS h
    FROM (SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents)
  ),
  sig AS (
    SELECT doc_id,
         {mins_sql}
    FROM sh GROUP BY doc_id
  )"""


def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures(spark, sf_dir)


MINHASH_SIG_SQL = "WITH" + _signatures_sql() + "\nSELECT * FROM sig"


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs via LSH banding + signature-agreement score.

    Plan shape (scale-critical): signatures → unpivot to (doc, band,
    band_hash) → self-equi-join on (band, band_hash) → distinct pairs →
    join back to signatures for the estimate.  No cross join anywhere;
    the band join is an ordinary shuffled equi-join Catalyst can also
    broadcast when one side is small.
    """
    # Materialize signatures: they feed the band unpivot AND both sides
    # of the estimate join — without it Spark recomputes the explode+agg
    # pipeline per reference.  At scale this table is tiny relative to
    # the corpus (K longs per doc).
    sig = materialize(_signatures(spark, sf_dir), "minhash signatures")
    stack_args = []
    for b in range(LSH_BANDS):
        cols = ", ".join(f"CAST(h{b * _ROWS_PER_BAND + r} AS STRING)"
                         for r in range(_ROWS_PER_BAND))
        band_key = md5_long_spark_sql(f"concat_ws(':', {cols})",
                                      salt=f"band{b}|")
        stack_args.extend([str(b), band_key])
    bands = sig.selectExpr(
        "doc_id",
        f"stack({LSH_BANDS}, {', '.join(stack_args)}) AS (band_id, band_hash)",
    )
    a = bands.alias("a")
    b_ = bands.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    match_sum = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_K)
    )
    est = F.expr(f"CAST(({match_sum}) AS DOUBLE) / {MINHASH_K}")
    return (
        pairs.join(sa, pairs.doc_a == F.col("sa.doc_id"))
        .join(sb, pairs.doc_b == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= 0.5)
    )


def _minhash_pairs_sql() -> str:
    band_selects = []
    for b in range(LSH_BANDS):
        cols = [f"h{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)]
        concat = " || ':' || ".join(f"{c}::varchar" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, "
            f"{md5_long_sql(f'({concat})', salt=f'band{b}|')} AS band_hash FROM sig"
        )
    bands = "\n    UNION ALL\n    ".join(band_selects)
    match_sum = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K)
    )
    return f"""
WITH {_signatures_sql().lstrip()},
  bands AS (
    {bands}
  ),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
  )
SELECT doc_a, doc_b, ({match_sum})::double / {MINHASH_K} AS est_jaccard
FROM pairs
JOIN sig sa ON doc_a = sa.doc_id
JOIN sig sb ON doc_b = sb.doc_id
WHERE ({match_sum})::double / {MINHASH_K} >= 0.5
"""


MINHASH_PAIRS_SQL = _minhash_pairs_sql()


# ---------------------------------------------------------------------------
# SimHash (16-bit) signatures
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: token-hash bit votes, sign-aggregated.

    explode(tokens) → one groupBy(doc_id) with per-bit vote sums — a single
    shuffle with map-side partial aggregation; signature assembly is pure
    column math afterwards.
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = d.select("doc_id", F.explode(tokenize("text")).alias("w"))
    h = md5_long(F.col("w"), salt="sh|")
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


def _simhash_sql() -> str:
    h = md5_long_sql("w", salt="sh|")
    votes = ",\n         ".join(
        f"sum((({h} >> {j}) & 1) * 2 - 1) AS v{j}" for j in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_WORDS_SQL}) AS w FROM documents
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, ({sig})::bigint AS simhash FROM votes
"""


SIMHASH_SQL = _simhash_sql()


def dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical groups: documents sharing a SimHash signature."""
    sig = dedup_simhash(spark, sf_dir)
    return (
        sig.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_docs") > 1)
    )


SIMHASH_GROUPS_SQL = f"""
WITH sig AS ({SIMHASH_SQL})
SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM sig GROUP BY 1 HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard verification
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.5


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over distinct word sets for pairs within
    (lang, source) blocks.  Integer-count division → deterministic doubles.

    Quadratic in block size — kept as the exactness baseline only, and
    guarded: inputs above the configured bound raise with a pointer to
    ``dedup_minhash_verified`` (same answers, bucketed candidates).
    """
    guard_quadratic(
        table(spark, sf_dir, "documents"),
        "dedup_ngram_jaccard", "dedup_minhash_verified",
        cache_key=f"{sf_dir}/documents",
    )
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source",
        F.array_distinct(tokenize("text")).alias("ws"),
    )
    # probe side fans out so the per-pair set intersections parallelize
    # even when the input is a single small file; the build side stays
    # broadcast-sized (it is the same table).
    a = d.repartition(spark.sparkContext.defaultParallelism, "lang", "source").alias("a")
    b = d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws")))
    union = F.size(F.array_union(F.col("a.ws"), F.col("b.ws")))
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


NGRAM_JACCARD_SQL = f"""
WITH ds AS (
  SELECT doc_id, lang, source, list_distinct({_WORDS_SQL}) AS ws FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.ws, b.ws))::double / len(list_distinct(a.ws || b.ws))::double AS jaccard
FROM ds a JOIN ds b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.ws, b.ws))::double / len(list_distinct(a.ws || b.ws))::double
      >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# LSH candidates → exact Jaccard verification (the scale path)
# ---------------------------------------------------------------------------

def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard verification restricted to LSH candidate pairs.

    This is the composition that survives 100 TB: `dedup_ngram_jaccard`'s
    blocked all-pairs check is quadratic in block size (measured: 8× docs
    → 64× pairs → ~22× runtime), while LSH candidates grow ~linearly with
    true duplicates.  Verification joins the word sets only for pairs that
    banding surfaced."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(tokenize("text")).alias("ws")
    )
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("wa"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("wb"))
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb")))
    union = F.size(F.array_union(F.col("wa"), F.col("wb")))
    jac = inter.cast("double") / union.cast("double")
    return (
        pairs.join(da, "doc_a").join(db, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


MINHASH_VERIFIED_SQL = f"""
WITH pairs_est AS ({MINHASH_PAIRS_SQL}),
ds AS (
  SELECT doc_id, list_distinct({_WORDS_SQL}) AS ws FROM documents
)
SELECT p.doc_a, p.doc_b,
       len(list_intersect(a.ws, b.ws))::double / len(list_distinct(a.ws || b.ws))::double AS jaccard
FROM pairs_est p
JOIN ds a ON p.doc_a = a.doc_id
JOIN ds b ON p.doc_b = b.doc_id
WHERE len(list_intersect(a.ws, b.ws))::double / len(list_distinct(a.ws || b.ws))::double
      >= {JACCARD_THRESHOLD}
"""


def dedup_minhash_ml_pairs(spark: SparkSession, sf_dir: str,
                           num_hash_tables: int = 8) -> DataFrame:
    """Alternative MinHash backend on ``pyspark.ml.feature.MinHashLSH``
    (JVM-side hashing + ``approxSimilarityJoin``), exact-verified to the
    same ``JACCARD_THRESHOLD`` contract as :func:`dedup_minhash_verified`.

    Not a gate query: ml.feature's hash coefficients are seeded JVM-side
    and have no DuckDB re-implementation, so there is no bit-exact oracle
    — the cross-check test instead asserts post-verification equivalence
    with the pure-DataFrame pipeline (precision 1.0 by construction, and
    the candidate generators must agree on the verified pair set).
    Scale posture matches `approxSimilarityJoin`'s banded equi-join: one
    shuffle on hash buckets, candidates ~linear in true duplicates."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(word_shingles("text", SHINGLE_N)).alias("sh")
    ).where(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(docs)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes",
                     numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feats)
    # approxSimilarityJoin distance = 1 - estimated Jaccard
    cand = (
        model.approxSimilarityJoin(feats, feats, 1.0 - JACCARD_THRESHOLD,
                                   distCol="dist")
        .select(F.col("datasetA.doc_id").alias("doc_a"),
                F.col("datasetB.doc_id").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
    )
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(tokenize("text")).alias("ws")
    )
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("wa"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("wb"))
    jac = (F.size(F.array_intersect(F.col("wa"), F.col("wb"))).cast("double")
           / F.size(F.array_union(F.col("wa"), F.col("wb"))).cast("double"))
    return (
        cand.join(da, "doc_a").join(db, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )




# ---------------------------------------------------------------------------
# Benchmark decontamination (cross-corpus shingle overlap)
# ---------------------------------------------------------------------------

BENCH_MOD = 97  # doc_id % BENCH_MOD == 0 → held-out "benchmark" corpus


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training documents sharing word-shingles with a benchmark set.

    Decontamination is dedup's cross-corpus sibling: before training, any
    document overlapping an evaluation set must be dropped, or the
    benchmark is compromised.  Here the benchmark is the ``doc_id %
    97 == 0`` slice (a deterministic stand-in for an external eval
    corpus); the check is a shingle equi-join — the benchmark side is
    distinct shingles (eval sets are tiny → broadcast), the training side
    streams through once.  Never all-pairs; cost is |shingles| + one
    broadcast join at any corpus size.

    Output: contaminated (doc_id, n_shared_shingles), i.e. the drop list
    with evidence counts.
    """
    d = table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(F.array_distinct(word_shingles("text", SHINGLE_N))).alias("s"))
    bench = (sh.where(F.col("doc_id") % BENCH_MOD == 0)
             .select("s").distinct())
    train = sh.where(F.col("doc_id") % BENCH_MOD != 0)
    return (
        train.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


DECONTAMINATE_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS s FROM documents
),
bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0
)
SELECT doc_id, count(*) AS n_shared_shingles
FROM sh JOIN bench USING (s)
WHERE doc_id % {BENCH_MOD} <> 0
GROUP BY 1
"""


def corpus_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination *fraction* against the benchmark set —
    the audit view behind :func:`corpus_decontaminate`'s drop list.

    The GPT-3/PaLM-style report: for every training document, the share
    of its distinct shingles that also occur in the eval corpus
    (|doc ∩ bench| / |doc|), bucketed so a reviewer can pick the drop
    threshold from the distribution instead of guessing.  Plan shape is
    the decontaminate join (benchmark side broadcast) plus one per-doc
    distinct count — two keyed aggregations, no all-pairs anywhere.
    Exactness: the fraction is a ratio of integers computed identically
    in both engines (one double division at the end).
    """
    d = table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles("text", SHINGLE_N))).alias("s"))
    bench = (sh.where(F.col("doc_id") % BENCH_MOD == 0)
             .select("s").distinct())
    train = sh.where(F.col("doc_id") % BENCH_MOD != 0)
    totals = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = (train.join(F.broadcast(bench), "s")
              .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shared")))
    frac = (F.col("n_shared").cast("double")
            / F.col("n_shingles").cast("double"))
    per_doc = (totals.join(shared, "doc_id", "left")
               .select("doc_id", "n_shingles",
                       F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
                       F.coalesce(frac, F.lit(0.0)).alias("frac")))
    bucket = (F.when(F.col("frac") >= 0.5, "high")
              .when(F.col("frac") >= 0.1, "medium")
              .when(F.col("frac") > 0.0, "low")
              .otherwise("clean"))
    return (per_doc.groupBy(bucket.alias("contamination"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_shared").alias("total_shared"))
            .orderBy("contamination"))


CONTAMINATION_REPORT_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS s FROM documents
),
bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0
),
totals AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh
  WHERE doc_id % {BENCH_MOD} <> 0 GROUP BY 1
),
shared AS (
  SELECT doc_id, count(*) AS n_shared
  FROM sh JOIN bench USING (s)
  WHERE doc_id % {BENCH_MOD} <> 0 GROUP BY 1
),
per_doc AS (
  SELECT t.doc_id, t.n_shingles,
         coalesce(s.n_shared, 0) AS n_shared,
         coalesce(s.n_shared::double / t.n_shingles::double, 0.0) AS frac
  FROM totals t LEFT JOIN shared s USING (doc_id)
)
SELECT CASE WHEN frac >= 0.5 THEN 'high'
            WHEN frac >= 0.1 THEN 'medium'
            WHEN frac > 0.0 THEN 'low'
            ELSE 'clean' END AS contamination,
       count(*) AS n_docs, sum(n_shared)::bigint AS total_shared
FROM per_doc GROUP BY 1 ORDER BY 1
"""

# ---------------------------------------------------------------------------
# Near-containment via rare-shingle inverted index
# ---------------------------------------------------------------------------

CONTAIN_MAX_DF = 20      # a shingle appearing in more docs is not a candidate key
CONTAIN_THRESHOLD = 0.8  # |A∩B| / min(|A|,|B|)


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment pairs: catches a small document embedded
    in a larger one, which symmetric Jaccard (MinHash) under-scores.

    Candidate generation is a RARE-shingle inverted index — a different
    scale-safe generator than LSH banding: only shingles appearing in at
    most CONTAIN_MAX_DF documents key the self-join, so candidate volume
    is bounded by Σ df² over rare shingles (stop-shingle rows are dropped
    before the join, the same reason search engines drop stopwords from
    posting intersections).  Verification computes exact containment
    |A∩B| / min(|A|,|B|) over distinct-shingle sets, only for candidates.
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sets = materialize(d.select(
        "doc_id",
        F.array_distinct(word_shingles("text", SHINGLE_N)).alias("sh"),
    ), "containment shingle sets")
    inv = sets.select("doc_id", F.explode("sh").alias("s"))
    rare = (inv.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= CONTAIN_MAX_DF))
    keyed = inv.join(rare, "s")
    pairs = (
        keyed.alias("a").join(
            keyed.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    containment = inter.cast("double") / F.least(
        F.size("sha"), F.size("shb")).cast("double")
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .where((F.size("sha") > 0) & (F.size("shb") > 0))
        .select("doc_a", "doc_b", containment.alias("containment"))
        .where(F.col("containment") >= CONTAIN_THRESHOLD)
    )


CONTAINMENT_SQL = f"""
WITH sets AS (
  SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM documents
),
inv AS (
  SELECT doc_id, unnest(sh) AS s FROM sets
),
rare AS (
  SELECT s FROM inv GROUP BY s HAVING count(*) <= {CONTAIN_MAX_DF}
),
keyed AS (
  SELECT doc_id, s FROM inv JOIN rare USING (s)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keyed a JOIN keyed b ON a.s = b.s AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       len(list_intersect(sa.sh, sb.sh))::double
         / least(len(sa.sh), len(sb.sh))::double AS containment
FROM pairs
JOIN sets sa ON doc_a = sa.doc_id
JOIN sets sb ON doc_b = sb.doc_id
WHERE len(sa.sh) > 0 AND len(sb.sh) > 0
  AND len(list_intersect(sa.sh, sb.sh))::double
        / least(len(sa.sh), len(sb.sh))::double >= {CONTAIN_THRESHOLD}
"""


CC_MAX_ROUNDS = 16      # pointer jumping: supports diameter up to 2^16


def dedup_connected_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate clusters: connected components over the
    verified MinHash pair graph, labeled by the cluster's minimum doc_id
    (the canonical representative every real dedup pipeline keeps).

    Pair generation finds EDGES; production dedup needs COMPONENTS —
    A≈B and B≈C must collapse to one survivor even when A≉C directly.
    This is the step between "near-dup pairs" and "drop list" in every
    published pipeline (e.g. the MinHash-cluster stage of RefinedWeb /
    SlimPajama).

    Algorithm: Hash-Min label propagation accelerated by pointer
    jumping — each superstep takes the min over (own label, neighbors'
    labels, label-of-label), which halves the effective diameter per
    round, so convergence needs O(log diameter) supersteps (≤
    ``CC_MAX_ROUNDS`` covers diameter 2^16; near-dup clusters are
    near-cliques, converging in 2-3).  Each superstep is two keyed
    joins + one min-aggregation — all shuffle-partitioned, nothing
    single-task; the driver only runs the convergence check (one
    count() per superstep — the Pregel vote-to-halt, a scalar).  The
    fixpoint (min reachable id per node) is unique, so the result is
    independent of round count and partitioning — the DuckDB oracle
    computes the same fixpoint by recursive transitive closure.

    Output: (doc_id, cluster_id) for EVERY document (singletons are
    their own cluster) — the drop list is ``doc_id != cluster_id``.
    """
    pairs = dedup_minhash_verified(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_component_labels(pairs, "doc_a", "doc_b")
    d = table(spark, sf_dir, "documents").select("doc_id")
    return (d.join(labels, d.doc_id == labels.node, "left")
            .select("doc_id",
                    F.coalesce("label", "doc_id").alias("cluster_id")))


def connected_component_labels(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(node, label) = min reachable id per node of the undirected graph
    given by the (``a``, ``b``) pair columns — the Hash-Min + pointer-
    jumping superstep loop factored out of
    :func:`dedup_connected_clusters` so any pair generator (and the
    adversarial-topology pytest pins) can cluster through it."""
    # Materialized: each superstep references labels THREE times (self,
    # neighbor join, jump join), so an un-truncated logical plan grows
    # 3^rounds — a path graph deep enough to need 10+ rounds OOMs the
    # DRIVER on plan size alone.  Materializing truncates lineage to the
    # stored partitions each round; a cluster deployment would point
    # this at a reliable checkpoint dir instead of executor-local
    # storage.
    # Lazy (r13, guide §1.5): edges/labels materialize inside the FIRST
    # superstep's action — the eager form paid two extra blocking driver
    # jobs before the loop even started.  (The per-round materialization
    # below stays eager: the Observation-based convergence scalar needs
    # the round's action to have run.)
    edges = materialize(
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(pairs.select(F.col(b).alias("src"),
                                  F.col(a).alias("dst"))),
        "cc edges")
    labels = materialize(
        edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("label")),
        "cc initial labels")
    from pyspark.sql import Observation

    for r in range(1, CC_MAX_ROUNDS + 1):
        nbr = (edges.join(labels, edges.src == labels.node)
               .select(F.col("dst").alias("node"), "label"))
        l2 = labels.select(F.col("node").alias("j_node"),
                           F.col("label").alias("j_label"))
        jump = (labels.join(l2, labels.label == l2.j_node)
                .select("node", F.col("j_label").alias("label")))
        new = (labels.unionByName(nbr).unionByName(jump)
               .groupBy("node").agg(F.min("label").alias("label")))
        # r12 optimization (guide §1.5/§2.4): the convergence scalar used
        # to be a SECOND driver action — a full (new ⋈ old) join + count
        # job after the checkpoint job, every superstep.  Folding the old
        # label into the superstep join and observing the changed-count
        # on the checkpoint's own materialization pass computes the same
        # Pregel vote-to-halt scalar in the SAME job: one action and one
        # pass over `new` per superstep instead of two, at any scale.
        # The inner join preserves rows exactly (labels holds every node
        # and `new` ⊇ labels via the self-union).
        obs = Observation()
        # coalesce: SUM over ZERO rows observes NULL (an empty pair graph
        # — labels has no nodes), which must read as "nothing changed",
        # not as a failed convergence check (r12 advisor: `None == 0` is
        # False, so an empty graph used to spin all CC_MAX_ROUNDS and
        # raise).
        chk = materialize(
            new.join(labels.withColumnRenamed("label", "old"), "node")
            .observe(obs, F.coalesce(
                F.sum((F.col("label") != F.col("old")).cast("long")),
                F.lit(0).cast("long")).alias("changed")),
            f"cc superstep {r}", eager=True)
        labels = chk.select("node", "label")
        if obs.get["changed"] == 0:
            return labels
    raise RuntimeError(
        f"connected components did not converge in "
        f"{CC_MAX_ROUNDS} pointer-jumping rounds")


def _cc_sql(rounds: int) -> str:
    """Oracle for :func:`dedup_connected_clusters`: the SAME Hash-Min +
    pointer-jumping supersteps as the Spark loop, unrolled into ``rounds``
    materialized CTEs (the ``_lloyd_sql`` pattern).

    A recursive-CTE transitive closure (the previous oracle) enumerates
    every (node, smaller-reachable-label) pair — O(k²) rows per size-k
    component, which OOMs DuckDB at sf0.1 where replica duplication
    builds large near-clique clusters.  Unrolled min-propagation keeps
    one row per node per round: O(V + E) per round, ``rounds`` rounds.
    ``rounds`` = CC_MAX_ROUNDS covers graph diameter 2^CC_MAX_ROUNDS;
    were a pathological corpus ever to exceed that, the oracle fixpoint
    would differ from Spark's converged one and the driver hash gate
    would go red — non-convergence cannot silently pass.
    """
    ctes = ([f"vpairs AS MATERIALIZED ({MINHASH_VERIFIED_SQL})",
             EDGES_CTE_SQL] + _cc_label_ctes(rounds))
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN labels{rounds} l ON d.doc_id = l.node
""")


EDGES_CTE_SQL = """edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM vpairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM vpairs
)"""


def _cc_label_ctes(rounds: int) -> list:
    """The unrolled Hash-Min + pointer-jumping label chain
    (labels0..labels{rounds}) over an in-scope ``edges`` CTE — shared
    between the CC oracle and the authority-survivors oracle, which
    composes it with the PageRank chain over ONE pair generation."""
    ctes = ["""labels0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS label FROM edges
)"""]
    for r in range(1, rounds + 1):
        p = f"labels{r - 1}"
        ctes.append(f"""labels{r} AS MATERIALIZED (
  SELECT node, min(label) AS label FROM (
    SELECT node, label FROM {p}
    UNION ALL
    SELECT e.dst AS node, l.label FROM edges e JOIN {p} l ON l.node = e.src
    UNION ALL
    SELECT l.node, j.label AS label FROM {p} l JOIN {p} j ON l.label = j.node
  ) u GROUP BY node
)""")
    return ctes


CONNECTED_CLUSTERS_SQL = _cc_sql(CC_MAX_ROUNDS)


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the connected near-dup components:
    (cluster_size, n_clusters, docs_dropped) — the dedup yield report
    (docs_dropped = members beyond the representative)."""
    cc = dedup_connected_clusters(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return (sizes.groupBy(F.col("sz").alias("cluster_size"))
            .agg(F.count(F.lit(1)).alias("n_clusters"),
                 F.sum(F.col("sz") - 1).alias("docs_dropped")))


CLUSTER_STATS_SQL = f"""
WITH cc AS ({CONNECTED_CLUSTERS_SQL}),
sizes AS (
  SELECT cluster_id, count(*) AS sz FROM cc GROUP BY cluster_id
)
SELECT sz AS cluster_size, count(*) AS n_clusters,
       sum(sz - 1)::bigint AS docs_dropped
FROM sizes GROUP BY sz
"""


# ---------------------------------------------------------------------------
# Incremental crawl dedup: new crawl vs the already-ingested corpus
# ---------------------------------------------------------------------------

CRAWL_MOD = 3  # doc_id % CRAWL_MOD == 0 → "new crawl"; else "seen corpus"


def corpus_crawl_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify each new-crawl document against the already-seen corpus:
    ``exact_dup`` (byte-identical to a seen doc), ``near_dup`` (MinHash
    estimate ≥ 0.5 against a seen doc via cross-crawl LSH banding), or
    ``new`` — the don't-retrain-on-seen-data gate an incremental crawl
    ingests through (the cross-corpus analog of intra-corpus dedup; the
    eval-protection analog is :func:`corpus_decontaminate`).

    Crawl membership is simulated deterministically (doc_id mod
    ``CRAWL_MOD``).  Scale shape: the exact check is one hash equi-join
    on md5(text); the near check reuses the banded-LSH candidate
    generation (`dedup_minhash_lsh_pairs`) but joins new-crawl band rows
    against seen-crawl band rows only — candidates are bucket-bounded
    exactly like the intra-corpus path, never |new|×|seen|.  Exact-dup
    takes precedence over near-dup in the verdict.
    """
    d = table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % CRAWL_MOD == 0
    seen = build_seen_index(d.where(~is_new))
    return classify_against_seen(d.where(is_new), seen)


def build_seen_index(seen_docs: DataFrame) -> dict:
    """Precompute and materialize the seen-corpus artifacts the crawl
    classifier probes: distinct content keys, MinHash signatures, LSH
    band rows.  Built ONCE per corpus; a streaming ingest classifies
    every micro-batch against the same index (see
    ``streaming.jobs.stream_crawl_classify``).

    The artifacts stay materialized as long as the returned handles are
    referenced.  Durability trade-off: they are local checkpoints
    (:func:`~mongo_hadoop_spark.session.materialize`), so their blocks
    live on executor storage and are not recomputable — if an executor
    is lost, every later probe of the index fails.  A long-lived stream
    must then rebuild the index (call this again and restart the stream
    with the new handles); a cluster deployment that cannot afford that
    should write the index to reliable storage instead."""
    keys = materialize(seen_docs.select(F.md5("text").alias("k")).distinct(),
                       "seen index keys")
    sig = materialize(signatures_for(seen_docs, "__mh_sig_seen"),
                      "seen index signatures")
    bands = materialize(band_rows(sig), "seen index bands")
    return {"keys": keys, "sig": sig, "bands": bands}


def classify_against_seen(new_docs: DataFrame, seen: dict) -> DataFrame:
    """(doc_id, verdict) for every row of ``new_docs`` against a
    :func:`build_seen_index` result — the shared core of the batch
    operator and the streaming per-micro-batch classifier.  A document's
    verdict depends only on its own bytes and the seen corpus, never on
    what else shares its batch, so stream ≡ batch holds by construction.
    """
    exact_ids = (new_docs.select("doc_id", F.md5("text").alias("k"))
                 .join(seen["keys"], "k", "left_semi")
                 .select("doc_id"))

    sig_new = signatures_for(new_docs, "__mh_sig_new")
    nb = band_rows(sig_new).alias("n")
    sb = seen["bands"].alias("s")
    cand = (nb.join(sb, (F.col("n.band_id") == F.col("s.band_id"))
                    & (F.col("n.band_hash") == F.col("s.band_hash")))
            .select(F.col("n.doc_id").alias("doc_new"),
                    F.col("s.doc_id").alias("doc_seen"))
            .distinct())
    match_sum = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_K))
    near_ids = (cand.join(sig_new.alias("sa"),
                          cand.doc_new == F.col("sa.doc_id"))
                .join(seen["sig"].alias("sb"),
                      cand.doc_seen == F.col("sb.doc_id"))
                .where(F.expr(f"({match_sum}) * 2 >= {MINHASH_K}"))
                .select(F.col("doc_new").alias("doc_id"))
                .distinct())
    verdict = (F.when(F.col("is_exact"), "exact_dup")
               .when(F.col("is_near"), "near_dup")
               .otherwise("new"))
    return (new_docs.select("doc_id")
            .join(exact_ids.withColumn("is_exact", F.lit(True)),
                  "doc_id", "left")
            .join(near_ids.withColumn("is_near", F.lit(True)),
                  "doc_id", "left")
            .select("doc_id",
                    verdict.alias("verdict")))


def _crawl_increment_sql() -> str:
    band_selects = []
    for b in range(LSH_BANDS):
        cols = [f"h{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)]
        concat = " || ':' || ".join(f"{c}::varchar" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, "
            f"{md5_long_sql(f'({concat})', salt=f'band{b}|')} AS band_hash FROM sig"
        )
    bands = "\n    UNION ALL\n    ".join(band_selects)
    match_sum = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_K))
    return f"""
WITH {_signatures_sql().lstrip()},
  bands AS (
    {bands}
  ),
  exact_ids AS (
    SELECT DISTINCT n.doc_id
    FROM documents n
    JOIN documents s ON md5(n.text) = md5(s.text)
                    AND s.doc_id % {CRAWL_MOD} <> 0
    WHERE n.doc_id % {CRAWL_MOD} = 0
  ),
  cand AS (
    SELECT DISTINCT n.doc_id AS doc_new, s.doc_id AS doc_seen
    FROM bands n JOIN bands s
      ON n.band_id = s.band_id AND n.band_hash = s.band_hash
     AND n.doc_id % {CRAWL_MOD} = 0 AND s.doc_id % {CRAWL_MOD} <> 0
  ),
  near_ids AS (
    SELECT DISTINCT doc_new AS doc_id
    FROM cand
    JOIN sig sa ON doc_new = sa.doc_id
    JOIN sig sb ON doc_seen = sb.doc_id
    WHERE ({match_sum}) * 2 >= {MINHASH_K}
  )
SELECT d.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS verdict
FROM documents d
LEFT JOIN exact_ids e ON d.doc_id = e.doc_id
LEFT JOIN near_ids nr ON d.doc_id = nr.doc_id
WHERE d.doc_id % {CRAWL_MOD} = 0
"""


CRAWL_INCREMENT_SQL = _crawl_increment_sql()


QUERIES = {
    "corpus_crawl_increment": corpus_crawl_increment,
    "dedup_connected_clusters": dedup_connected_clusters,
    "dedup_cluster_stats": dedup_cluster_stats,
    "dedup_exact": dedup_exact,
    "dedup_containment": dedup_containment,
    "dedup_exact_survivors": dedup_exact_survivors,
    "dedup_minhash_signatures": dedup_minhash_signatures,
    "dedup_minhash_lsh_pairs": dedup_minhash_lsh_pairs,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_groups": dedup_simhash_groups,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_verified": dedup_minhash_verified,
    "corpus_decontaminate": corpus_decontaminate,
    "corpus_contamination_report": corpus_contamination_report,
}

ORACLES = {
    "corpus_crawl_increment": CRAWL_INCREMENT_SQL,
    "dedup_connected_clusters": CONNECTED_CLUSTERS_SQL,
    "dedup_cluster_stats": CLUSTER_STATS_SQL,
    "dedup_exact": EXACT_SQL,
    "dedup_containment": CONTAINMENT_SQL,
    "dedup_exact_survivors": EXACT_SURVIVORS_SQL,
    "dedup_minhash_signatures": MINHASH_SIG_SQL,
    "dedup_minhash_lsh_pairs": MINHASH_PAIRS_SQL,
    "dedup_simhash": SIMHASH_SQL,
    "dedup_simhash_groups": SIMHASH_GROUPS_SQL,
    "dedup_ngram_jaccard": NGRAM_JACCARD_SQL,
    "dedup_minhash_verified": MINHASH_VERIFIED_SQL,
    "corpus_decontaminate": DECONTAMINATE_SQL,
    "corpus_contamination_report": CONTAMINATION_REPORT_SQL,
}
