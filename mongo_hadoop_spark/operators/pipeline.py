"""Composed training-data pipeline: the end-to-end flow a 100 TB corpus
run executes, as one declarative plan.

    documents
      → quality gate   (length + stopword-ratio features, textstats)
      → exact dedup    (keep lowest doc_id per text)
      → yield report   (per lang × source: surviving docs, tokens kept,
                        rejection/duplication accounting)

Everything stays in one Catalyst plan: the quality features are pure
column math, dedup is one shuffle on md5(text), the report is one more
keyed aggregation.  No Python, no collect; at scale the only wide ops are
the two group-bys.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from mongo_hadoop_spark.session import materialize, table
from mongo_hadoop_spark.functions import tokenize

MIN_TOKENS = 20
MAX_CHARS_PER_TOKEN = 8.0


def corpus_yield_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = tokenize("text")
    feats = d.select(
        "doc_id", "lang", "source", "text", "n_chars",
        F.size(words).alias("n_tokens"),
    ).withColumn(
        "chars_per_token",
        F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"),
    )
    passed = feats.where(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("chars_per_token") <= MAX_CHARS_PER_TOKEN)
    )
    # exact dedup among survivors: rank within text-hash, keep first
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    survivors = (
        passed.withColumn("rn", F.row_number().over(w))
        .withColumn("is_kept", (F.col("rn") == 1).cast("int"))
    )
    return (
        survivors.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("docs_passed_quality"),
            F.sum("is_kept").alias("docs_kept"),
            F.sum(F.when(F.col("is_kept") == 1, F.col("n_tokens"))
                  .otherwise(0)).alias("tokens_kept"),
            (F.count(F.lit(1)) - F.sum("is_kept")).alias("docs_deduped_away"),
        )
    )


YIELD_SQL = rf"""
WITH feats AS (
  SELECT doc_id, lang, source, text, n_chars,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens
  FROM documents
), passed AS (
  SELECT *, n_chars::double / n_tokens::double AS chars_per_token
  FROM feats
  WHERE n_tokens >= {MIN_TOKENS}
    AND n_chars::double / n_tokens::double <= {MAX_CHARS_PER_TOKEN}
), survivors AS (
  SELECT *, CASE WHEN row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
                 THEN 1 ELSE 0 END AS is_kept
  FROM passed
)
SELECT lang, source,
       count(*) AS docs_passed_quality,
       sum(is_kept)::bigint AS docs_kept,
       sum(CASE WHEN is_kept = 1 THEN n_tokens ELSE 0 END)::bigint AS tokens_kept,
       (count(*) - sum(is_kept))::bigint AS docs_deduped_away
FROM survivors GROUP BY 1, 2
"""


def corpus_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE corpus-preparation flow as one declarative plan:

        documents
          → quality gate      (token count + chars/token, as above)
          → exact dedup       (keep lowest doc_id per text)
          → decontaminate     (drop anything sharing a word-shingle with
                               the benchmark slice — broadcast join,
                               dedup.corpus_decontaminate semantics)
          → train/valid/test  (content-hash 98/1/1, leak-proof —
                               analytics.documents_train_split rule)
          → manifest          (per split × lang: docs, tokens)

    One Catalyst plan end to end; wide ops are the dedup shuffle, the
    broadcast contamination join, and the final keyed aggregation —
    the quality gate, split assignment, and shingle explode are all
    map-side.  This is the "would it run the real 100 TB job" flagship:
    every stage is the oracle-verified operator, composed.
    """
    from mongo_hadoop_spark.operators.analytics import (SPLIT_SALT,
                                                        TRAIN_PCT, VALID_PCT)
    from mongo_hadoop_spark.operators.dedup import BENCH_MOD, SHINGLE_N
    from mongo_hadoop_spark.functions import md5_long, word_shingles

    d = table(spark, sf_dir, "documents")
    words = tokenize("text")
    feats = d.select(
        "doc_id", "lang", "text",
        F.size(words).alias("n_tokens"),
        (F.col("n_chars").cast("double")
         / F.size(words).cast("double")).alias("cpt"),
    )
    passed = feats.where(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("cpt") <= MAX_CHARS_PER_TOKEN)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (passed.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn"))

    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles("text", SHINGLE_N))).alias("s"))
    bench_shingles = (sh.where(F.col("doc_id") % BENCH_MOD == 0)
                      .select("s").distinct())
    contaminated = (sh.where(F.col("doc_id") % BENCH_MOD != 0)
                    .join(F.broadcast(bench_shingles), "s")
                    # no distinct: the LEFT ANTI join below is
                    # duplicate-insensitive on its build side (r12)
                    .select("doc_id"))
    clean = (kept.where(F.col("doc_id") % BENCH_MOD != 0)
             .join(contaminated, "doc_id", "left_anti"))

    bucket = md5_long(F.col("text"), salt=SPLIT_SALT) % 100
    split = (F.when(bucket < TRAIN_PCT, F.lit("train"))
             .when(bucket < TRAIN_PCT + VALID_PCT, F.lit("valid"))
             .otherwise(F.lit("test")))
    return (
        clean.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("docs"),
             F.sum("n_tokens").alias("tokens"))
    )


def _manifest_sql() -> str:
    from mongo_hadoop_spark.functions import md5_long_sql
    from mongo_hadoop_spark.operators.analytics import (SPLIT_SALT,
                                                        TRAIN_PCT, VALID_PCT)
    from mongo_hadoop_spark.operators.dedup import (_SHINGLES_SQL, BENCH_MOD)

    return rf"""
WITH feats AS (
  SELECT doc_id, lang, text,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
         n_chars::double
           / len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::double
           AS cpt
  FROM documents
), passed AS (
  SELECT * FROM feats
  WHERE n_tokens >= {MIN_TOKENS} AND cpt <= {MAX_CHARS_PER_TOKEN}
), kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM passed) WHERE rn = 1
), sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS s FROM documents
), bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0
), contaminated AS (
  SELECT DISTINCT doc_id FROM sh JOIN bench USING (s)
  WHERE doc_id % {BENCH_MOD} <> 0
), clean AS (
  SELECT k.* FROM kept k
  WHERE k.doc_id % {BENCH_MOD} <> 0
    AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT CASE WHEN ({md5_long_sql('text', salt=SPLIT_SALT)}) % 100 < {TRAIN_PCT}
              THEN 'train'
            WHEN ({md5_long_sql('text', salt=SPLIT_SALT)}) % 100
                 < {TRAIN_PCT + VALID_PCT}
              THEN 'valid'
            ELSE 'test' END AS split,
       lang, count(*) AS docs, sum(n_tokens)::bigint AS tokens
FROM clean GROUP BY 1, 2
"""


def _tokenized_base(spark: SparkSession, sf_dir: str,
                    with_text: bool = False) -> DataFrame:
    """(doc_id, lang, source, ws, nsym[, text]) — the corpus scanned and
    whitespace-tokenized ONCE, materialized so every funnel stage reads
    the tokenized stream instead of re-scanning parquet and re-splitting
    text.  A query calls this once and passes the frame to every stage.

    The raw text column is DROPPED by default (the tokens nearly
    duplicate it, so carrying both doubles the materialized bytes); the
    only text-derived scalar the funnel needs — Gopher's symbol count —
    is precomputed into ``nsym``.  ``with_text=True`` keeps text for
    consumers that re-derive differently-cased tokens (the BPE token
    budget).
    """
    from mongo_hadoop_spark.operators.textstats import gopher_nsym

    cols = ["doc_id", "lang", "source",
            tokenize("text").alias("ws"), gopher_nsym().alias("nsym")]
    if with_text:
        cols.insert(3, F.col("text"))
    return materialize(
        table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(*cols),
        "tokenized documents")


def _ppl_dsir_scores_from(base: DataFrame) -> DataFrame:
    """(doc_id, lang, n_tokens, surprisal_bits, avg_q20_per_token) — the
    perplexity AND the DSIR per-document scores in ONE token pass.

    Run separately, lm._doc_scores and selection.dsir_weights each
    explode the token stream, aggregate a model table over it, broadcast
    the model back over a second explode, and aggregate per doc — five
    full-token-stream aggregations between them.  Both models are pure
    functions of the TERM, so this fuses them: one (term, lang) count
    table (token stream pass #1) feeds the unigram counts AND the DSIR
    raw/target bucket counts on vocabulary-sized tables; the per-term
    (bits, score_q20) lookup broadcasts back over one explode (token
    stream pass #2) into one per-doc aggregation.  Every intermediate is
    the same integer arithmetic the standalone operators perform, so the
    per-document doubles are bit-identical to theirs (pinned by
    tests/test_pretrain_manifest.py::test_fused_scores_match_standalone).
    """
    from mongo_hadoop_spark.operators.selection import (_BUCKET_SPARK,
                                                        _SCORE_SPARK)

    # r12 optimization (guide §2.3 "aggregate before you shuffle"): the
    # token stream is exploded ONCE into per-document term counts, and
    # both the model fit and the per-doc application run on (doc, term)
    # rows instead of raw tokens.  Before r12 the stream was exploded
    # twice (model-fit pass + apply pass) — two token-volume shuffles.
    # Exactness: both per-term quantities are INTEGERS (bits: int;
    # score_q20: Q20 fixed-point bigint — selection._SCORE_SPARK), so
    # c_dt-weighted sums equal the token-repeated sums bit-for-bit, and
    # n_tokens = Σ c_dt exactly; the per-document doubles derived from
    # them are unchanged (still pinned against the standalone operators
    # by tests/test_pretrain_manifest.py).
    toks = base.select("doc_id", "lang", F.explode("ws").alias("term"))
    # r13: dt is referenced TWICE (the tl→vocab→model fit chain and the
    # final per-doc application join), and without materialization the
    # explode + token-volume partial aggregation — the single heaviest
    # stage of every funnel — executed once per reference (guide
    # §2.4/§5); dt is (doc, lang, term, count) — far smaller than the
    # token stream it summarizes.
    dt = materialize(toks.groupBy("doc_id", "lang", "term")
                     .agg(F.count(F.lit(1)).alias("c_dt")),
                     "funnel doc-term counts")
    # tl is read by every branch of the model fit (vocab → vb → raw /
    # term_model, tgt, total) — materialized so each branch re-aggregates
    # the vocabulary-sized (term, lang) table, not the (doc, term) table
    tl = materialize(dt.groupBy("term", "lang").agg(
        F.sum("c_dt").cast("long").alias("c_tl")), "funnel term-lang counts")
    vocab = tl.groupBy("term").agg(F.sum("c_tl").cast("long").alias("c"))
    vb = vocab.select("term", "c", F.expr(_BUCKET_SPARK).alias("bucket"))
    raw = vb.groupBy("bucket").agg(F.sum("c").cast("long").alias("c_r"))
    tgt = (
        tl.where(F.col("lang") == "en")
        .select(F.expr(_BUCKET_SPARK).alias("bucket"), "c_tl")
        .groupBy("bucket").agg(F.sum("c_tl").cast("long").alias("c_t"))
    )
    model = raw.join(tgt, "bucket", "left").select(
        "bucket", "c_r", F.coalesce("c_t", F.lit(0).cast("long")).alias("c_t"))
    totals = model.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))
    scored_model = model.crossJoin(F.broadcast(totals)).select(
        "bucket", F.expr(_SCORE_SPARK).alias("score_q20"))
    total = vocab.agg(F.sum("c").alias("n_total"))
    term_model = (
        vb.join(F.broadcast(scored_model), "bucket")
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            (F.length(F.bin("n_total")) - F.length(F.bin("c"))).alias("bits"),
            "score_q20",
        )
    )
    return (
        dt.join(F.broadcast(term_model), "term")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c_dt").cast("long").alias("n_tokens"),
            F.sum(F.col("c_dt") * F.col("bits")).alias("sum_bits"),
            F.sum(F.col("c_dt") * F.col("score_q20")).alias("weight_q20"),
        )
        .select(
            "doc_id", "lang", "n_tokens",
            (F.col("sum_bits").cast("double")
             / F.col("n_tokens").cast("double")).alias("surprisal_bits"),
            (F.col("weight_q20").cast("double")
             / F.col("n_tokens").cast("double")).alias("avg_q20_per_token"),
        )
    )


def _funnel_inputs(base: DataFrame, percentile_accuracy: int | None = None):
    """The four per-doc funnel tables + the 1-row threshold frame shared
    by corpus_pretrain_manifest and corpus_pretrain_token_budget.

    ``percentile_accuracy`` selects the threshold-cut mode: ``None`` →
    exact ``percentile_disc`` (doc-count-sized aggregation buffer — the
    milder instance of the exact-percentile scale caveat), an int → the
    production ``approx_percentile`` path (mergeable bounded-state GK
    summary, rank-exact while accuracy > 2·n_docs — see
    plans/aggpipe.py `_APPROX_PCTL`).

    The per-doc scores table (doc_id, n_tokens, surprisal_bits,
    avg_q20_per_token) is materialized: it feeds BOTH the percentile
    cuts and the doc_id join, and without the materialization Catalyst
    executed the whole scores subtree (~2.2 s at sf0.1) once per
    consumer (three times before r8 — the r7 probe's 1.45× at 8× was
    exactly this; zero ReusedExchange in the physical plan).  Scores
    are doc-count-sized and 4 columns wide — the canonical
    two-pass-quantile materialization every selection pipeline pays at
    100 TB, tiny next to the token stream.  ``base`` is the caller's
    materialized tokenized stream; scores use only doc_id/lang/ws, so
    the with-text variant yields bit-identical scores.  The span-dedup
    stats are read once (the doc_id join), so they are not materialized.
    Both cuts come from ONE aggregation over the materialized copy;
    ``CAST(k AS DOUBLE)/n`` keeps the identical binary64 fractions the
    oracle uses (see corpus_perplexity_buckets / corpus_dsir_selected).
    """
    from mongo_hadoop_spark.operators.spans import span_stats_from
    from mongo_hadoop_spark.operators.textstats import gopher_flags

    d = base.select("doc_id", "lang", "source")
    gph = gopher_flags(base).select("doc_id", "keep")
    scores = materialize(
        _ppl_dsir_scores_from(base).select(
            "doc_id", "n_tokens", "surprisal_bits", "avg_q20_per_token"),
        "funnel scores")
    spn = span_stats_from(base).select("doc_id", "dup_frac")
    if percentile_accuracy is not None:
        acc = int(percentile_accuracy)
        cuts = scores.selectExpr(
            f"approx_percentile(surprisal_bits, "
            f"CAST(2 AS DOUBLE)/3, {acc}) AS t2",
            f"approx_percentile(avg_q20_per_token, "
            f"CAST(3 AS DOUBLE)/4, {acc}) AS q3")
    else:
        cuts = scores.selectExpr(
            "percentile_disc(CAST(2 AS DOUBLE)/3) "
            "WITHIN GROUP (ORDER BY surprisal_bits) AS t2",
            "percentile_disc(CAST(3 AS DOUBLE)/4) "
            "WITHIN GROUP (ORDER BY avg_q20_per_token) AS q3")
    return d, gph, scores, spn, cuts


def corpus_pretrain_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern selection stack (CCNet/Gopher/DSIR, round-5 operators
    composed) as ONE declarative funnel — the pipeline a real 100 TB
    pretraining run executes between "crawl" and "train":

        documents
          → Gopher rule gate      (textstats.text_gopher_quality —
                                   published Rae et al. 2021 rules)
          → CCNet perplexity gate (lm surprisal tertiles: keep the
                                   head+middle, i.e. surprisal ≤ the
                                   2/3 percentile_disc cut — broadcast
                                   threshold, never a global ntile)
          → span dedup            (spans.documents_span_stats winnowed
                                   fingerprints: drop dup_frac > 1/2)
          → DSIR selection        (selection.corpus_dsir_weights: keep
                                   strictly above the 3/4 cut of
                                   avg_q20_per_token)
          → mixture manifest      (per lang × source: the surviving-doc
                                   funnel count at every stage + tokens
                                   selected)

    Every stage is the already-oracle-verified operator, composed; the
    funnel is monotone (each flag ANDs the previous).  Cut populations
    are the FULL corpus distributions (matching corpus_perplexity_buckets
    and corpus_dsir_selected exactly), so this manifest is consistent
    with reading those two reports separately.

    Scale shape (100 TB): four per-doc tables (flags, surprisal, span
    stats, DSIR weights) — each linear with bucketed/broadcast internals
    (see their own docstrings) — joined on doc_id, two 1-row threshold
    aggregates broadcast back, one final keyed aggregation.  The corpus
    is scanned and tokenized ONCE: the (doc_id, lang, source, text, ws)
    stream is materialized and all four stages read the
    materialized copy instead of re-scanning parquet and re-splitting
    text per stage (r6 verdict item 2 — at 100 TB a 4× scan is 4× the
    bill).  Null semantics: a document missing from a stage (e.g. zero
    tokens → no surprisal row) fails that gate — ``coalesce(flag,
    false)`` in BOTH engines.
    """
    return _pretrain_manifest(spark, sf_dir, percentile_accuracy=None)


def corpus_pretrain_manifest_approx(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """corpus_pretrain_manifest with the PRODUCTION threshold-cut mode:
    both funnel percentile cuts via ``approx_percentile`` (mergeable
    bounded-state GK summary) instead of exact ``percentile_disc``.

    Accuracy 1,000,000 makes the GK rank-error bound ε·n = n/1e6 < 1/2
    for any corpus under 500k documents, so at every verification scale
    the cuts are PROVABLY identical to the exact ones (the gate shares
    corpus_pretrain_manifest's DuckDB oracle verbatim) while the
    aggregation state stays bounded and mergeable at any corpus size —
    at 100 TB this is the path a real run flips on
    (`spark.mongo_hadoop_spark.percentileAccuracy`), trading the last
    ±ε of cut placement for a reducer that cannot OOM."""
    return _pretrain_manifest(spark, sf_dir, percentile_accuracy=1_000_000)


def _pretrain_manifest(spark: SparkSession, sf_dir: str,
                       percentile_accuracy: int | None) -> DataFrame:
    from mongo_hadoop_spark.operators.spans import SPAN_DROP_FRAC

    base = _tokenized_base(spark, sf_dir)
    d, gph, scores, spn, cuts = _funnel_inputs(
        base, percentile_accuracy=percentile_accuracy)
    j = (d.join(gph, "doc_id", "left")
         .join(scores, "doc_id", "left")
         .join(spn, "doc_id", "left")
         .crossJoin(F.broadcast(cuts)))
    g_ok = F.coalesce(F.col("keep"), F.lit(False))
    p_ok = F.coalesce(g_ok & (F.col("surprisal_bits") <= F.col("t2")),
                      F.lit(False))
    s_ok = F.coalesce(p_ok & (F.col("dup_frac") <= F.lit(SPAN_DROP_FRAC)),
                      F.lit(False))
    sel = F.coalesce(s_ok & (F.col("avg_q20_per_token") > F.col("q3")),
                     F.lit(False))
    return (
        j.select("lang", "source", "n_tokens",
                 g_ok.alias("g_ok"), p_ok.alias("p_ok"),
                 s_ok.alias("s_ok"), sel.alias("sel"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_raw"),
            F.sum(F.col("g_ok").cast("long")).alias("n_gopher"),
            F.sum(F.col("p_ok").cast("long")).alias("n_ppl_head_middle"),
            F.sum(F.col("s_ok").cast("long")).alias("n_span_clean"),
            F.sum(F.col("sel").cast("long")).alias("n_selected"),
            F.sum(F.when(F.col("sel"), F.col("n_tokens")).otherwise(0))
            .alias("tokens_selected"),
        )
    )


def _pretrain_manifest_sql() -> str:
    from mongo_hadoop_spark.operators.lm import UNIGRAM_SURPRISAL_SQL
    from mongo_hadoop_spark.operators.selection import DSIR_WEIGHTS_SQL
    from mongo_hadoop_spark.operators.spans import (SPAN_DROP_FRAC,
                                                    SPAN_STATS_SQL)
    from mongo_hadoop_spark.operators.textstats import GOPHER_SQL

    # Each stage's published oracle is embedded verbatim as a nested
    # WITH inside its CTE, so stage semantics (and their CTE-local names,
    # which collide across stages — both lm and selection define "toks")
    # stay single-sourced.
    return f"""
WITH gph AS ({GOPHER_SQL}),
ppl AS ({UNIGRAM_SURPRISAL_SQL}),
spn AS ({SPAN_STATS_SQL}),
dsr AS ({DSIR_WEIGHTS_SQL}),
cuts AS (
  SELECT quantile_disc(surprisal_bits, 2::double/3) AS t2 FROM ppl
),
qcut AS (
  SELECT quantile_disc(avg_q20_per_token, 3::double/4) AS q3 FROM dsr
),
funnel AS (
  SELECT d.lang, d.source, ppl.n_tokens,
         coalesce(gph.keep, false) AS g_ok,
         coalesce(gph.keep AND ppl.surprisal_bits <= cuts.t2, false) AS p_ok,
         coalesce(gph.keep AND ppl.surprisal_bits <= cuts.t2
                  AND spn.dup_frac <= {SPAN_DROP_FRAC}, false) AS s_ok,
         coalesce(gph.keep AND ppl.surprisal_bits <= cuts.t2
                  AND spn.dup_frac <= {SPAN_DROP_FRAC}
                  AND dsr.avg_q20_per_token > qcut.q3, false) AS sel
  FROM documents d
  LEFT JOIN gph ON d.doc_id = gph.doc_id
  LEFT JOIN ppl ON d.doc_id = ppl.doc_id
  LEFT JOIN spn ON d.doc_id = spn.doc_id
  LEFT JOIN dsr ON d.doc_id = dsr.doc_id
  CROSS JOIN cuts CROSS JOIN qcut
)
SELECT lang, source,
       count(*) AS n_docs_raw,
       sum(g_ok::bigint)::bigint AS n_gopher,
       sum(p_ok::bigint)::bigint AS n_ppl_head_middle,
       sum(s_ok::bigint)::bigint AS n_span_clean,
       sum(sel::bigint)::bigint AS n_selected,
       sum(CASE WHEN sel THEN n_tokens ELSE 0 END)::bigint AS tokens_selected
FROM funnel GROUP BY 1, 2
"""


def corpus_pretrain_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection funnel priced in TRAINED-TOKENIZER tokens: the
    corpus_pretrain_manifest `sel` gate composed with the BPE apply-side
    counts (operators/bpe.py) — per lang × source, how many model
    context positions the selected data actually buys, plus fertility
    (BPE tokens per whitespace word).  This is the number a pretraining
    run budgets against; whitespace token counts under-price morpheme-
    rich sources.

    Scale shape: the funnel flags and the BPE counts are both per-doc
    tables with bucketed/broadcast internals; one doc_id equi-join, one
    final keyed aggregation.  Selected documents always have words (the
    perplexity gate requires a surprisal row), so the counts join is
    lossless by construction.  Like the manifest, all funnel stages AND
    the BPE token counts read the single checkpointed tokenized stream.
    The expensive apply side (explode words → seg_sizes join) is
    OUTPUT-bound, not corpus-bound: the selected doc_ids (materialized
    once — the doc-count-sized selection is read by both the semi-join
    and the final join) gate the stream BEFORE the explode, so only
    tokens the budget actually prices flow through the join — at 100 TB
    the unselected majority of the corpus never reaches the widest
    stage.  (Before r9 the explode ran over the full corpus and the
    downstream inner join discarded the unselected rows — same answer,
    corpus-proportional cost; the 8× probe read 1.64× where the funnel
    alone reads 1.23×.)  The id frame rides a BROADCAST semi-join so
    the text stream is never shuffled (plan-pinned); keys-only at
    ~8 B/doc it broadcasts comfortably to ~10^8 selected docs — beyond
    that drop the hint and the plan degrades to the pre-r9 shape
    (count every doc map-side, join doc-sized aggregates), which stays
    linear with a tiny shuffle.
    """
    from mongo_hadoop_spark.operators.bpe import _train
    from mongo_hadoop_spark.operators.spans import SPAN_DROP_FRAC

    base = _tokenized_base(spark, sf_dir, with_text=True)
    d, gph, scores, spn, cuts = _funnel_inputs(base)
    j = (d.join(gph, "doc_id", "left")
         .join(scores, "doc_id", "left")
         .join(spn, "doc_id", "left")
         .crossJoin(F.broadcast(cuts)))
    sel = F.coalesce(
        F.col("keep") & (F.col("surprisal_bits") <= F.col("t2"))
        & (F.col("dup_frac") <= F.lit(SPAN_DROP_FRAC))
        & (F.col("avg_q20_per_token") > F.col("q3")), F.lit(False))
    selected = materialize(j.where(sel)
                           .select("doc_id", "lang", "source", "n_tokens"),
                           "token budget selection")

    _, w = _train(spark, sf_dir)
    seg_sizes = w.select(
        "word", F.size(F.split(F.col("seg"), " ")).alias("n_syms"))
    # lowercased words for the tokenizer-count side: re-derived from the
    # checkpointed text (a map over the materialized stream, no rescan),
    # gated to SELECTED docs before the explode (see docstring)
    counts = (base.join(F.broadcast(selected.select("doc_id")),
                        "doc_id", "semi")
              .select("doc_id",
                      F.explode(tokenize(F.lower(F.col("text"))))
                      .alias("word"))
              .join(seg_sizes, "word")
              .groupBy("doc_id")
              .agg(F.sum("n_syms").cast("long").alias("bpe_tok")))
    return (selected.join(counts, "doc_id")
            .groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs_selected"),
                 F.sum("n_tokens").alias("ws_tokens"),
                 F.sum("bpe_tok").alias("bpe_tokens"))
            .select("lang", "source", "n_docs_selected", "ws_tokens",
                    "bpe_tokens",
                    (F.col("bpe_tokens").cast("double")
                     / F.col("ws_tokens").cast("double"))
                    .alias("fertility")))


def _pretrain_token_budget_sql() -> str:
    from mongo_hadoop_spark.operators.bpe import BPE_MERGES, _oracle_core
    from mongo_hadoop_spark.operators.lm import UNIGRAM_SURPRISAL_SQL
    from mongo_hadoop_spark.operators.selection import DSIR_WEIGHTS_SQL
    from mongo_hadoop_spark.operators.spans import (SPAN_DROP_FRAC,
                                                    SPAN_STATS_SQL)
    from mongo_hadoop_spark.operators.textstats import GOPHER_SQL

    return f"""
WITH gph AS ({GOPHER_SQL}),
ppl AS ({UNIGRAM_SURPRISAL_SQL}),
spn AS ({SPAN_STATS_SQL}),
dsr AS ({DSIR_WEIGHTS_SQL}),
cuts AS (
  SELECT quantile_disc(surprisal_bits, 2::double/3) AS t2 FROM ppl
),
qcut AS (
  SELECT quantile_disc(avg_q20_per_token, 3::double/4) AS q3 FROM dsr
),
selected AS (
  SELECT d.doc_id, d.lang, d.source, ppl.n_tokens
  FROM documents d
  LEFT JOIN gph ON d.doc_id = gph.doc_id
  LEFT JOIN ppl ON d.doc_id = ppl.doc_id
  LEFT JOIN spn ON d.doc_id = spn.doc_id
  LEFT JOIN dsr ON d.doc_id = dsr.doc_id
  CROSS JOIN cuts CROSS JOIN qcut
  WHERE coalesce(gph.keep AND ppl.surprisal_bits <= cuts.t2
                 AND spn.dup_frac <= {SPAN_DROP_FRAC}
                 AND dsr.avg_q20_per_token > qcut.q3, false)
),
{_oracle_core().lstrip().lstrip(chr(10)).strip()},
tok AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
  FROM documents
),
sz AS (
  SELECT word, len(string_split(seg, ' '))::bigint AS n_syms
  FROM w{BPE_MERGES}
),
counts AS (
  SELECT doc_id, sum(n_syms)::bigint AS bpe_tok
  FROM tok JOIN sz USING (word) GROUP BY doc_id
)
SELECT s.lang, s.source, count(*)::bigint AS n_docs_selected,
       sum(s.n_tokens)::bigint AS ws_tokens,
       sum(c.bpe_tok)::bigint AS bpe_tokens,
       sum(c.bpe_tok)::bigint::double / sum(s.n_tokens)::bigint::double
         AS fertility
FROM selected s JOIN counts c ON s.doc_id = c.doc_id
GROUP BY 1, 2
"""


QUERIES = {"corpus_yield_report": corpus_yield_report,
           "corpus_training_manifest": corpus_training_manifest,
           "corpus_pretrain_manifest": corpus_pretrain_manifest,
           "corpus_pretrain_manifest_approx": corpus_pretrain_manifest_approx,
           "corpus_pretrain_token_budget": corpus_pretrain_token_budget}
ORACLES = {"corpus_yield_report": YIELD_SQL,
           "corpus_training_manifest": _manifest_sql(),
           "corpus_pretrain_manifest": _pretrain_manifest_sql(),
           # the approx gate shares the EXACT oracle: at verification SF
           # the GK rank-error bound n/1e6 < 1/2 makes the sketch cuts
           # provably equal to percentile_disc's (see the docstring)
           "corpus_pretrain_manifest_approx": _pretrain_manifest_sql(),
           "corpus_pretrain_token_budget": _pretrain_token_budget_sql()}
