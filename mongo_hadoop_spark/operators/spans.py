"""Exact-substring (duplicated-span) deduplication via winnowed fingerprints.

The ExactSubstr method of Lee et al. 2022 ("Deduplicating Training Data
Makes Language Models Better") finds verbatim text reuse *across*
documents at sub-document granularity — the duplication mode that
document-level exact/MinHash dedup misses (boilerplate headers, licence
blocks, quoted passages).  The paper builds a corpus-wide suffix array;
that is a fundamentally sequential, memory-resident structure.  The
distributed re-expression here is **winnowing** (Schleimer, Wilkerson &
Aiken 2003 — the MOSS fingerprinting algorithm):

- hash every ``SPAN_W``-token window at every position (stride 1);
- slide a selection window of ``WINNOW_K`` consecutive hashes and keep
  each selection window's *minimum* hash as a fingerprint.

Because selection depends only on content, the classic winnowing
guarantee holds position-independently: any verbatim run of at least
``SPAN_W + WINNOW_K - 1`` tokens shared by two documents contains a full
selection window of identical hashes in both, whose minimum is therefore
fingerprinted in both.  (A naive strided sampling has no such guarantee
— copies aligned differently modulo the stride share zero windows.)
Expected fingerprint density is 2/(WINNOW_K+1) per token, so the
fingerprint table is a constant fraction of corpus size.

A fingerprint seen in >= 2 distinct documents marks a *duplicated span*;
per document, the fraction of its fingerprints that are duplicated is
its cross-corpus duplication score, and documents above
``SPAN_DROP_FRAC`` are dropped (RefinedWeb's drop-don't-trim policy for
heavily duplicated pages).

Scale shape (100 TB): window hashing AND fingerprint selection are
linear per token and fully row-local (r13: the per-doc sliding min is
an array expression — a selection window never crosses a document, so
no doc_id shuffle or per-doc sort exists at any scale); the
duplicate-fingerprint table is one groupBy on 32-byte md5 keys with
map-side partial aggregation, and it grows with *duplicated* content,
not corpus size.  No all-pairs comparison anywhere.

Everything is built-in JVM expressions (split/slice/md5/window) — no
Python UDFs — and md5-deterministic, so every query has a full DuckDB
oracle (lexicographic min over hex digests agrees across engines).

Reference context: the connector has no sub-document dedup surface; this
is a driver-mandated training-data-pipeline extension (BASELINE.json).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mongo_hadoop_spark.functions import tokenize
from mongo_hadoop_spark.session import materialize, table

SPAN_W = 10          # token-window (shingle) width
WINNOW_K = 4         # selection window: guarantee = W + K - 1 = 13 tokens
SPAN_DROP_FRAC = 0.5  # drop docs with > half their fingerprints duplicated

_WORDS_SQL = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"
_SHINGLE_HASHES_SQL = (
    f"list_transform(generate_series(1, greatest(len({_WORDS_SQL})"
    f" - {SPAN_W - 1}, 0)),"
    f" i -> md5(array_to_string(({_WORDS_SQL})[i:i+{SPAN_W - 1}], ' ')))"
)


def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) — distinct winnowed fingerprints per document.

    Shape: tokenize ONCE per doc (materialized column — putting the
    tokenizer inside a per-window lambda re-splits the document for every
    window, a measured 10× slowdown), explode 1-based start positions,
    hash each window post-explode (one slice+concat+md5 per window, all
    in one codegen stage before any exchange), then one per-doc window
    function (sliding min over WINNOW_K hashes) → distinct.  Short docs
    (fewer than K windows) keep their global-min hash so any doc with
    >= SPAN_W tokens has at least one fingerprint; the position-1 row's
    frame covers the whole hash list in that case.
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return _fingerprints_from(
        d.select("doc_id", tokenize("text").alias("ws")))


def _fingerprints_from(docs: DataFrame) -> DataFrame:
    """Core of :func:`_fingerprints` over a pre-tokenized (doc_id, ws)
    frame (pipeline.corpus_pretrain_manifest's single-scan path).

    r13 (guide §2.4 "remove shuffles outright"): the selection windows
    are computed ROW-LOCALLY as array expressions instead of the r12
    explode → ``min() OVER (PARTITION BY doc_id ORDER BY i)`` →
    ``DISTINCT`` pipeline.  Every selection window's membership is
    confined to one document — i.e. to one input row's shingle-hash
    array — so the per-doc sliding minimum is
    ``transform(positions, i -> array_min(slice(hashes, i, K)))`` and
    the per-doc DISTINCT is ``array_distinct``: the doc_id exchange, the
    per-doc sort and the distinct exchange all disappear (3 → 0 plan
    nodes before the consumer's own aggregation; at 100 TB that was a
    token-volume shuffle + sort).  Value equivalence with the r12 window
    form, position by position:

    - hashes: ``md5(concat_ws(' ', slice(ws, i, SPAN_W)))`` for
      i = 1..n_h, n_h = size(ws) - SPAN_W + 1 — identical expression;
    - kept positions were ``i + K <= n_h + 1 OR i = 1`` = 1..max(n_h -
      K + 1, 1) (for n_h >= 1; no rows for n_h = 0) — exactly
      ``sequence(1, greatest(n_h - K + 1, 1))`` guarded empty on
      n_h = 0 (the guard matters: Spark's ``sequence(1, 0)`` counts
      DOWN);
    - the frame ``ROWS BETWEEN CURRENT ROW AND K-1 FOLLOWING`` over
      per-doc rows ordered by i is ``slice(hashes, i, K)`` (slice
      truncates at the array end exactly as the frame truncates at the
      partition end), and ``min()`` over non-null strings is
      ``array_min`` — both binary-lexicographic;
    - ``SELECT DISTINCT doc_id, fp`` over one row per doc is
      ``array_distinct`` before the explode.
    The DuckDB oracle keeps its window formulation; the parity gate is
    value-based and pins the equivalence at every SF.
    """
    hi = f"greatest(size(ws) - {SPAN_W - 1} - {WINNOW_K - 1}, 1)"
    fps = (
        f"CASE WHEN size(ws) < {SPAN_W} THEN array()"
        f" ELSE array_distinct(transform(sequence(1, {hi}),"
        f"  i -> array_min(slice(__span_hs, i, {WINNOW_K})))) END"
    )
    return (
        docs.select("doc_id", "ws")
        .withColumn("__span_hs", F.expr(
            f"CASE WHEN size(ws) < {SPAN_W} THEN array()"
            f" ELSE transform(sequence(1, size(ws) - {SPAN_W - 1}),"
            f"  i -> md5(concat_ws(' ', slice(ws, i, {SPAN_W})))) END"))
        .select("doc_id", F.explode(F.expr(fps)).alias("fp"))
    )


_FINGERPRINTS_SQL = f"""
  hashes AS (
    SELECT doc_id, len({_SHINGLE_HASHES_SQL}) AS n_h,
           generate_subscripts({_SHINGLE_HASHES_SQL}, 1) AS i,
           unnest({_SHINGLE_HASHES_SQL}) AS h
    FROM documents
  ),
  fps AS (
    SELECT DISTINCT doc_id, fp FROM (
      SELECT doc_id, i, n_h,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW
                          AND {WINNOW_K - 1} FOLLOWING) AS fp
      FROM hashes
    ) WHERE i + {WINNOW_K} <= n_h + 1 OR i = 1
  )"""


def _positioned_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp, span_off) — winnowed fingerprints WITH the 1-based
    token offset of the fingerprinted window (the position report
    dedup_duplicate_spans drops).

    Arg-min through an order-preserving string pack: the window min
    runs over ``h || ':' || lpad(i, 9, '0')`` — h is fixed-width hex,
    so lexicographic order is (h ASC, i ASC) and the min is the
    EARLIEST position of the minimal hash; the pack then splits back
    into (fp, span_off).  r13: the selection runs ROW-LOCALLY as array
    expressions (same rewrite and value-equivalence argument as
    :func:`_fingerprints_from` — a selection window never crosses a
    document), so the per-doc window shuffle, its sort and the DISTINCT
    exchange are gone at any scale; both engines still compare
    identical packed strings.  The 9-digit pad bounds position at 1e9
    tokens per document — enforced by the row-local assert below,
    loudly."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    docs = d.select("doc_id", tokenize("text").alias("ws"))
    hi = f"greatest(size(ws) - {SPAN_W - 1} - {WINNOW_K - 1}, 1)"
    fpks = (
        f"CASE WHEN size(ws) < {SPAN_W} THEN array()"
        f" ELSE array_distinct(transform(sequence(1, {hi}),"
        f"  i -> array_min(slice(__span_hs, i, {WINNOW_K})))) END"
    )
    return (
        docs
        .where(F.coalesce(
            F.assert_true(
                F.size("ws") - F.lit(SPAN_W - 1) < F.lit(1000000000),
                F.lit("span winnowing: document exceeds 1e9 "
                      "token windows — offset pack overflows"))
            .cast("boolean"), F.lit(True)))
        .withColumn("__span_hs", F.expr(
            f"CASE WHEN size(ws) < {SPAN_W} THEN array()"
            f" ELSE transform(sequence(1, size(ws) - {SPAN_W - 1}),"
            f"  i -> md5(concat_ws(' ', slice(ws, i, {SPAN_W})))"
            f"       || ':' || lpad(cast(i AS string), 9, '0')) END"))
        .select("doc_id", F.explode(F.expr(fpks)).alias("fpk"))
        .select("doc_id",
                F.expr("substring(fpk, 1, 32)").alias("fp"),
                F.expr("cast(substring(fpk, 34, 9) AS int)")
                .alias("span_off"))
    )


def corpus_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-span report with a drop policy — the
    ExactSubstr output shape of Lee et al. 2022: for every fingerprint
    seen in >= 2 distinct documents, each (fingerprint, document) pair
    with its occurrence count and first token offset, the number of
    holding documents, and ``keep`` — true only for the lowest-doc_id
    holder (remove-later-copies: the span survives in its canonical
    document, every other occurrence is scheduled for excision at the
    reported offsets).

    Scale shape: two keyed aggregations — (fp, doc_id) then (fp) — and
    one fp-keyed equi-join; the joined side holds only duplicated
    fingerprints, so it grows with duplicated content, not corpus
    size.  No all-pairs comparison, no window over anything larger
    than a document.
    """
    fps = _positioned_fingerprints(spark, sf_dir)
    per_doc = fps.groupBy("fp", "doc_id").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min("span_off").alias("first_off"),
    )
    stats = (per_doc.groupBy("fp")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.min("doc_id").alias("__canon"))
             .where(F.col("n_docs") >= 2))
    return per_doc.join(stats, "fp").select(
        "fp", "doc_id", "n_occ", "first_off", "n_docs",
        (F.col("doc_id") == F.col("__canon")).alias("keep"))


_POSITIONED_FPS_SQL = f"""
  hashes AS (
    SELECT doc_id, len({_SHINGLE_HASHES_SQL}) AS n_h,
           generate_subscripts({_SHINGLE_HASHES_SQL}, 1) AS i,
           unnest({_SHINGLE_HASHES_SQL}) AS h
    FROM documents
  ),
  fps AS (
    SELECT DISTINCT doc_id,
           substring(fpk, 1, 32) AS fp,
           cast(substring(fpk, 34, 9) AS int) AS span_off
    FROM (
      SELECT doc_id, i, n_h,
             min(h || ':' || lpad(i::varchar, 9, '0'))
               OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN CURRENT ROW
                     AND {WINNOW_K - 1} FOLLOWING) AS fpk
      FROM hashes
    ) WHERE i + {WINNOW_K} <= n_h + 1 OR i = 1
  )"""

CORPUS_DUP_SPANS_SQL = f"""
WITH {_POSITIONED_FPS_SQL.lstrip()},
per_doc AS (
  SELECT fp, doc_id, count(*)::bigint AS n_occ,
         min(span_off) AS first_off
  FROM fps GROUP BY fp, doc_id
),
stats AS (
  SELECT fp, count(*)::bigint AS n_docs, min(doc_id) AS canon
  FROM per_doc GROUP BY fp HAVING count(*) >= 2
)
SELECT p.fp, p.doc_id, p.n_occ, p.first_off, s.n_docs,
       p.doc_id = s.canon AS keep
FROM per_doc p JOIN stats s USING (fp)
"""


def corpus_span_excised(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply :func:`corpus_dup_spans`' drop policy to the text: in every
    NON-canonical holder of a duplicated fingerprint, excise the
    fingerprinted token windows ([span_off, span_off + SPAN_W - 1],
    every occurrence); the lowest-doc_id holder keeps the span.  The
    Lee et al. 2022 ExactSubstr *removal* step, as opposed to
    :func:`documents_span_dedup_survivors`' whole-document drop.

    Output is per-document: original token count, tokens cut, and the
    cleaned token-normalized text (tokens re-joined with single
    spaces — original whitespace is not preserved, same normalization
    as the fingerprinting itself).

    Scale shape — deliberately NO token-level shuffle: the cut-start
    lists are duplicated-content-sized (keyed aggs over the
    fingerprint table), join the corpus once on doc_id, and the
    excision itself is a per-row higher-order filter — each token
    index tests the doc's (small) cut-start list, so the corpus is
    scanned exactly once and only duplicated documents carry any extra
    per-row work.  Overlapping windows compose correctly because the
    filter tests COVERAGE (s <= i < s + W), not window identity.
    """
    fps = _positioned_fingerprints(spark, sf_dir)
    stats = (fps.select("fp", "doc_id").distinct()
             .groupBy("fp")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.min("doc_id").alias("__canon"))
             .where(F.col("n_docs") >= 2))
    cuts = (fps.join(stats, "fp")
            .where(F.col("doc_id") != F.col("__canon"))
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_set("span_off")).alias("cuts")))
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    docs = d.select("doc_id", tokenize("text").alias("ws"))
    joined = docs.join(cuts, "doc_id", "left").select(
        "doc_id", "ws",
        F.coalesce("cuts", F.array().cast("array<int>")).alias("cuts"))
    # greatest(.., 1) + the i <= size(ws) conjunct: Spark's
    # sequence(1, 0) yields DESCENDING [1, 0] (not empty like DuckDB's
    # generate_series), so a zero-token document would otherwise
    # produce phantom indices and an element_at(ws, 0) error
    kept = F.expr(
        f"transform(filter(sequence(1, greatest(size(ws), 1)), "
        f"i -> i <= size(ws) "
        f"AND NOT exists(cuts, s -> s <= i AND i < s + {SPAN_W})), "
        f"i -> element_at(ws, i))")
    return joined.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        (F.size("ws") - F.size(kept)).alias("n_cut"),
        F.concat_ws(" ", kept).alias("clean_text"))


CORPUS_SPAN_EXCISED_SQL = f"""
WITH {_POSITIONED_FPS_SQL.lstrip()},
stats AS (
  SELECT fp, min(doc_id) AS canon
  FROM (SELECT DISTINCT fp, doc_id FROM fps)
  GROUP BY fp HAVING count(*) >= 2
),
cuts AS (
  SELECT f.doc_id, list_sort(list(DISTINCT f.span_off)) AS cuts
  FROM fps f JOIN stats s USING (fp)
  WHERE f.doc_id <> s.canon
  GROUP BY f.doc_id
),
toks AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
),
joined AS (
  SELECT t.doc_id, t.ws, coalesce(c.cuts, []) AS cuts
  FROM toks t LEFT JOIN cuts c USING (doc_id)
),
cleaned AS (
  SELECT doc_id, len(ws) AS n_tokens,
         list_transform(
           list_filter(generate_series(1, len(ws)),
             i -> NOT len(list_filter(cuts,
                    s -> s <= i AND i < s + {SPAN_W})) > 0),
           i -> ws[i]) AS kept
  FROM joined
)
SELECT doc_id, n_tokens::bigint AS n_tokens,
       (n_tokens - len(kept))::bigint AS n_cut,
       -- DuckDB's array_to_string returns NULL on an empty list where
       -- Spark's concat_ws returns '' — fully-excised docs hit this
       coalesce(array_to_string(kept, ' '), '') AS clean_text
FROM cleaned
"""


#: seen/new split modulus for the incremental span classifier (every
#: MOD-th document plays the arriving crawl shard)
SPAN_SEEN_MOD = 5


def seen_span_fingerprints(seen_docs: DataFrame) -> DataFrame:
    """Distinct winnowed fingerprints of a SEEN corpus — the read-mostly
    index an incremental span classifier probes.  At cluster scale this
    is computed once per crawl epoch and persisted; every micro-batch
    joins against it (fingerprint-keyed equi-join, index size
    proportional to seen content)."""
    return (_fingerprints_from(
        seen_docs.select("doc_id", tokenize("text").alias("ws")))
        .select("fp").distinct())


def classify_spans_against_seen(new_docs: DataFrame,
                                seen_fps: DataFrame) -> DataFrame:
    """Per NEW document: the fraction of its winnowed fingerprints
    already present in the seen corpus, and the drop verdict at
    ``SPAN_DROP_FRAC`` — the incremental (crawl-increment) form of
    :func:`documents_span_stats`, where the duplicate set is a FIXED
    prior corpus instead of the batch itself.  A document's verdict
    depends only on its bytes and the seen index, never on which
    micro-batch delivered it — the stream ≡ batch property
    (streaming.jobs.stream_span_classify, pinned in
    tests/test_streaming.py)."""
    fps = _fingerprints_from(
        new_docs.select("doc_id", tokenize("text").alias("ws")))
    flagged = fps.join(
        seen_fps.select("fp", F.lit(1).alias("seen")), "fp", "left")
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.sum(F.coalesce(F.col("seen"), F.lit(0))).alias("n_seen_fps"))
    return new_docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_fps", F.lit(0)).alias("n_fps"),
        F.coalesce("n_seen_fps", F.lit(0)).alias("n_seen_fps"),
        F.when(F.coalesce("n_fps", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(F.col("n_seen_fps").cast("double")
                   / F.col("n_fps").cast("double")).alias("seen_frac"),
        F.when(F.coalesce("n_fps", F.lit(0)) == 0, F.lit(True))
        .otherwise(F.col("n_seen_fps").cast("double")
                   / F.col("n_fps").cast("double")
                   <= F.lit(SPAN_DROP_FRAC)).alias("keep"))


def corpus_span_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental span dedup over a deterministic seen/new split: every
    ``SPAN_SEEN_MOD``-th document arrives as the new crawl shard and is
    scored against the winnowed fingerprints of the rest — drop-don't-
    trim at the same threshold as the batch policy.  One fingerprint
    pass per side, one fp-keyed join, one doc-keyed aggregate."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    seen = d.where(F.col("doc_id") % SPAN_SEEN_MOD != 0)
    new = d.where(F.col("doc_id") % SPAN_SEEN_MOD == 0)
    return classify_spans_against_seen(new, seen_span_fingerprints(seen))


def _fps_cte(prefix: str, where: str) -> str:
    """The winnowing CTE pair over a filtered documents view — the
    parameterized form of ``_FINGERPRINTS_SQL`` (distinct CTE names so
    seen and new sides coexist in one oracle)."""
    return f"""
  {prefix}hashes AS (
    SELECT doc_id, len({_SHINGLE_HASHES_SQL}) AS n_h,
           generate_subscripts({_SHINGLE_HASHES_SQL}, 1) AS i,
           unnest({_SHINGLE_HASHES_SQL}) AS h
    FROM documents {where}
  ),
  {prefix}fps AS (
    SELECT DISTINCT doc_id, fp FROM (
      SELECT doc_id, i, n_h,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW
                          AND {WINNOW_K - 1} FOLLOWING) AS fp
      FROM {prefix}hashes
    ) WHERE i + {WINNOW_K} <= n_h + 1 OR i = 1
  )"""


SPAN_INCREMENT_SQL = f"""
WITH {_fps_cte("seen_", f"WHERE doc_id % {SPAN_SEEN_MOD} <> 0").lstrip()},
{_fps_cte("new_", f"WHERE doc_id % {SPAN_SEEN_MOD} = 0").lstrip()},
seen_set AS (SELECT DISTINCT fp FROM seen_fps),
per_doc AS (
  SELECT n.doc_id, count(*)::bigint AS n_fps,
         sum(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END)::bigint
           AS n_seen_fps
  FROM new_fps n LEFT JOIN seen_set s USING (fp)
  GROUP BY n.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_fps, 0) AS n_fps,
       coalesce(p.n_seen_fps, 0) AS n_seen_fps,
       CASE WHEN coalesce(p.n_fps, 0) = 0 THEN 0.0
            ELSE p.n_seen_fps::double / p.n_fps::double END AS seen_frac,
       CASE WHEN coalesce(p.n_fps, 0) = 0 THEN TRUE
            ELSE p.n_seen_fps::double / p.n_fps::double
                 <= {SPAN_DROP_FRAC} END AS keep
FROM documents d LEFT JOIN per_doc p USING (doc_id)
WHERE d.doc_id % {SPAN_SEEN_MOD} = 0
"""


#: max token gap between successive winnowed fingerprints of ONE
#: verbatim run: selection windows guarantee a fingerprint at least
#: every WINNOW_K positions inside a shared run, and each covers
#: SPAN_W tokens — gaps beyond this split the alignment into runs
SPAN_RUN_GAP = SPAN_W + WINNOW_K


def dedup_span_alignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aligned duplicated-passage extraction: for every (canonical
    holder a, duplicate holder b) document pair that shares winnowed
    fingerprints, group the shared fingerprints by OFFSET DELTA
    (off_b - off_a) — fingerprints of one verbatim passage copied at a
    fixed displacement all share a delta — and chain same-delta
    fingerprints whose spacing stays within the winnowing guarantee
    into maximal runs.  Reports per pair: total shared fingerprints,
    the longest run's fingerprint count, and its estimated token
    length (last_off - first_off + SPAN_W).  This is the alignment
    analysis of Lee et al. 2022's ExactSubstr output — WHERE the
    verbatim reuse sits and HOW LONG it is, vs corpus_dup_spans'
    per-occurrence report.

    Scale shape: pair generation is a STAR join through each
    fingerprint's canonical (lowest-doc_id) holder — linear in shared
    fingerprints, never the k² all-pairs per fingerprint.  Run
    chaining is the islands-and-gaps pattern: one window per
    (a, b, delta) partition (bounded by that pair's shared content),
    then two keyed aggregations.  Intra-document repeats collapse to
    the first occurrence per (fingerprint, document) before pairing —
    deterministic and linear.
    """
    from pyspark.sql import Window

    fps = _positioned_fingerprints(spark, sf_dir)
    per_doc = fps.groupBy("fp", "doc_id").agg(
        F.min("span_off").alias("off"))
    stats = (per_doc.groupBy("fp")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.min("doc_id").alias("__canon"))
             .where(F.col("n_docs") >= 2)
             .select("fp", "__canon"))
    flagged = per_doc.join(stats, "fp")
    canon = (flagged.where(F.col("doc_id") == F.col("__canon"))
             .select("fp", F.col("doc_id").alias("a"),
                     F.col("off").alias("off_a")))
    others = (flagged.where(F.col("doc_id") != F.col("__canon"))
              .select("fp", F.col("doc_id").alias("b"),
                      F.col("off").alias("off_b")))
    shared = canon.join(others, "fp").select(
        "a", "b", "off_a",
        (F.col("off_b") - F.col("off_a")).alias("delta"))
    w = Window.partitionBy("a", "b", "delta").orderBy("off_a")
    chained = shared.select(
        "a", "b", "delta", "off_a",
        F.when(F.lag("off_a").over(w).isNull(), F.lit(1))
        .when(F.col("off_a") - F.lag("off_a").over(w)
              > F.lit(SPAN_RUN_GAP), F.lit(1))
        .otherwise(F.lit(0)).alias("new_run"))
    runs = (chained
            .select("a", "b", "delta", "off_a",
                    F.sum("new_run").over(
                        w.rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow)).alias("run_id"))
            .groupBy("a", "b", "delta", "run_id")
            .agg(F.count(F.lit(1)).alias("n_fps"),
                 (F.max("off_a") - F.min("off_a")
                  + F.lit(SPAN_W)).alias("run_tokens")))
    return runs.groupBy("a", "b").agg(
        F.sum("n_fps").alias("n_shared_fps"),
        F.max("n_fps").alias("longest_run_fps"),
        F.max("run_tokens").alias("longest_run_tokens"))


SPAN_ALIGNMENTS_SQL = f"""
WITH {_POSITIONED_FPS_SQL.lstrip()},
per_doc AS (
  SELECT fp, doc_id, min(span_off) AS off
  FROM fps GROUP BY fp, doc_id
),
stats AS (
  SELECT fp, min(doc_id) AS canon
  FROM per_doc GROUP BY fp HAVING count(*) >= 2
),
shared AS (
  SELECT c.a, o.b, c.off_a, o.off_b - c.off_a AS delta
  FROM (SELECT p.fp, p.doc_id AS a, p.off AS off_a
        FROM per_doc p JOIN stats s USING (fp)
        WHERE p.doc_id = s.canon) c
  JOIN (SELECT p.fp, p.doc_id AS b, p.off AS off_b
        FROM per_doc p JOIN stats s USING (fp)
        WHERE p.doc_id <> s.canon) o USING (fp)
),
chained AS (
  SELECT a, b, delta, off_a,
         CASE WHEN lag(off_a) OVER
                (PARTITION BY a, b, delta ORDER BY off_a) IS NULL THEN 1
              WHEN off_a - lag(off_a) OVER
                (PARTITION BY a, b, delta ORDER BY off_a)
                > {SPAN_RUN_GAP} THEN 1
              ELSE 0 END AS new_run
  FROM shared
),
runs AS (
  SELECT a, b, delta, run_id, count(*)::bigint AS n_fps,
         (max(off_a) - min(off_a) + {SPAN_W})::int AS run_tokens
  FROM (SELECT a, b, delta, off_a,
               sum(new_run) OVER (PARTITION BY a, b, delta ORDER BY off_a
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS run_id
        FROM chained)
  GROUP BY a, b, delta, run_id
)
SELECT a, b, sum(n_fps)::bigint AS n_shared_fps,
       max(n_fps)::bigint AS longest_run_fps,
       max(run_tokens) AS longest_run_tokens
FROM runs GROUP BY a, b
"""


def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed fingerprints that occur in >= 2 distinct documents.

    One groupBy on the fingerprint digest (fingerprints are already
    distinct per doc, so count(*) = distinct doc count).  Output size is
    proportional to duplicated content only.
    """
    return (
        _fingerprints(spark, sf_dir)
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


DUPLICATE_SPANS_SQL = f"""
WITH {_FINGERPRINTS_SQL.lstrip()}
SELECT fp, count(*) AS n_docs, min(doc_id) AS first_doc
FROM fps GROUP BY fp HAVING count(*) >= 2
"""


def documents_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-fingerprint fraction.

    Fingerprints are flagged by an equi-join against the duplicated set
    (broadcast when small), then one groupBy doc_id.  Documents shorter
    than ``SPAN_W`` tokens have zero fingerprints and a 0.0 fraction
    (re-attached by a left join so every document appears).
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return span_stats_from(d.select("doc_id", tokenize("text").alias("ws")))


def span_stats_from(docs: DataFrame) -> DataFrame:
    """Core of :func:`documents_span_stats` over a pre-tokenized
    (doc_id, ws) frame — the manifest's single-scan path; the doc_id
    universe for the final left join comes from the same frame."""
    # Materialize: fingerprints feed both the duplicate-set aggregation
    # and the per-doc flag join; without it the explode+window pipeline
    # runs twice.  The fingerprint table is a constant fraction of token
    # count (2/(K+1) rows of 32-byte digests) — small relative to text.
    fps = materialize(_fingerprints_from(docs), "span fingerprints")
    dup = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("fp", F.lit(1).alias("is_dup"))
    )
    per_doc = (
        fps.join(dup, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_fps"),
        )
    )
    d = docs.select("doc_id")
    return d.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_fps", F.lit(0)).alias("n_fps"),
        F.coalesce("n_dup_fps", F.lit(0)).alias("n_dup_fps"),
        F.when(F.coalesce("n_fps", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(
            F.col("n_dup_fps").cast("double") / F.col("n_fps").cast("double")
        )
        .alias("dup_frac"),
    )


_SPAN_STATS_BODY = """
  dup AS (
    SELECT fp FROM fps GROUP BY fp HAVING count(*) >= 2
  ),
  per_doc AS (
    SELECT f.doc_id, count(*) AS n_fps,
           sum(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END)::bigint
             AS n_dup_fps
    FROM fps f LEFT JOIN dup d USING (fp)
    GROUP BY f.doc_id
  ),
  stats AS (
    SELECT doc_id,
           coalesce(n_fps, 0) AS n_fps,
           coalesce(n_dup_fps, 0) AS n_dup_fps,
           CASE WHEN coalesce(n_fps, 0) = 0 THEN 0.0
                ELSE n_dup_fps::double / n_fps::double
           END AS dup_frac
    FROM documents LEFT JOIN per_doc USING (doc_id)
  )"""

SPAN_STATS_SQL = f"""
WITH {_FINGERPRINTS_SQL.lstrip()},
{_SPAN_STATS_BODY.lstrip()}
SELECT * FROM stats
"""


def documents_span_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents whose duplicated-fingerprint fraction is <= SPAN_DROP_FRAC.

    The drop-don't-trim policy: heavily cross-duplicated documents are
    removed outright; canonical-copy selection for *whole*-document
    duplicates stays with dedup_exact / dedup_minhash_verified.
    """
    stats = documents_span_stats(spark, sf_dir)
    return stats.where(F.col("dup_frac") <= SPAN_DROP_FRAC).select("doc_id")


SPAN_SURVIVORS_SQL = f"""
WITH {_FINGERPRINTS_SQL.lstrip()},
{_SPAN_STATS_BODY.lstrip()}
SELECT doc_id FROM stats WHERE dup_frac <= {SPAN_DROP_FRAC}
"""


def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split span-leakage audit: for every winnowed span
    fingerprint held by documents in TWO OR MORE different train/valid/
    test splits, the split combination it leaks across — the check a
    pretraining run performs AFTER content-hash splitting, because
    byte-identical documents can never cross splits
    (analytics.documents_train_split's guarantee) but NEAR-duplicate
    passages still can, and a training passage shared verbatim with the
    held-out set compromises the eval exactly like a contaminated
    benchmark.

    Output: (split_combo, n_leaked_fps, n_docs_involved) — e.g.
    ``test+train`` with the count of fingerprints seen in both and how
    many distinct documents hold them.  An empty result certifies the
    split; a non-empty one prices the leak for the reviewer.

    Scale shape (100 TB): the winnowed fingerprint table (linear,
    per-doc windows — see module docstring) joined to the map-only
    split assignment on doc_id, then two keyed aggregations (per-fp
    split set, per-combination counts).  The split-set aggregation is
    over 32-byte md5 keys with map-side partial aggregation; nothing is
    all-pairs and nothing is corpus-wide beyond the fingerprint table
    itself.  Deterministic: the combo string is the SORTED distinct
    split list, identical in both engines.
    """
    from mongo_hadoop_spark.operators.analytics import documents_train_split

    fps = _fingerprints(spark, sf_dir)
    split = documents_train_split(spark, sf_dir)
    per_fp = (fps.join(split, "doc_id")
              .groupBy("fp")
              .agg(F.array_join(F.array_sort(F.collect_set("split")), "+")
                   .alias("split_combo"),
                   F.count_distinct("doc_id").alias("n_docs")))
    return (per_fp.where(F.col("split_combo").contains("+"))
            .groupBy("split_combo")
            .agg(F.count(F.lit(1)).alias("n_leaked_fps"),
                 F.sum("n_docs").cast("long").alias("n_doc_slots"))
            .orderBy("split_combo"))


def _split_leakage_sql() -> str:
    from mongo_hadoop_spark.functions import md5_long_sql
    from mongo_hadoop_spark.operators.analytics import (SPLIT_SALT,
                                                        TRAIN_PCT, VALID_PCT)

    return f"""
WITH {_FINGERPRINTS_SQL.lstrip()},
  split AS (
    SELECT doc_id,
           CASE WHEN ({md5_long_sql('text', salt=SPLIT_SALT)}) % 100
                     < {TRAIN_PCT} THEN 'train'
                WHEN ({md5_long_sql('text', salt=SPLIT_SALT)}) % 100
                     < {TRAIN_PCT + VALID_PCT} THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
  ),
  per_fp AS (
    SELECT fp,
           array_to_string(list_sort(list(DISTINCT split)), '+')
             AS split_combo,
           count(DISTINCT doc_id) AS n_docs
    FROM fps JOIN split USING (doc_id)
    GROUP BY fp
  )
SELECT split_combo, count(*)::bigint AS n_leaked_fps,
       sum(n_docs)::bigint AS n_doc_slots
FROM per_fp
WHERE contains(split_combo, '+')
GROUP BY split_combo
ORDER BY split_combo
"""


QUERIES = {
    "corpus_split_leakage": corpus_split_leakage,
    "corpus_dup_spans": corpus_dup_spans,
    "corpus_span_excised": corpus_span_excised,
    "dedup_span_alignments": dedup_span_alignments,
    "corpus_span_increment": corpus_span_increment,
    "dedup_duplicate_spans": dedup_duplicate_spans,
    "documents_span_stats": documents_span_stats,
    "documents_span_dedup_survivors": documents_span_dedup_survivors,
}

ORACLES = {
    "corpus_split_leakage": _split_leakage_sql(),
    "corpus_dup_spans": CORPUS_DUP_SPANS_SQL,
    "corpus_span_excised": CORPUS_SPAN_EXCISED_SQL,
    "dedup_span_alignments": SPAN_ALIGNMENTS_SQL,
    "corpus_span_increment": SPAN_INCREMENT_SQL,
    "dedup_duplicate_spans": DUPLICATE_SPANS_SQL,
    "documents_span_stats": SPAN_STATS_SQL,
    "documents_span_dedup_survivors": SPAN_SURVIVORS_SQL,
}
