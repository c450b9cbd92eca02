"""Distributed byte-pair-encoding vocabulary training.

The canonical LLM-preprocessing operator: learn the top-K BPE merges
from the corpus (Sennrich et al. 2016, the algorithm behind GPT-2/
RoBERTa-style tokenizers) and report the resulting symbol inventory.

Scale design — the production BPE-trainer shape:
- ONE corpus-wide pass builds the distinct-word frequency table
  (``groupBy(word)`` — map-side partial agg, output is vocabulary-sized,
  not corpus-sized).  Every merge round after that works on the word
  table only, so per-round cost is O(|vocab|) regardless of corpus
  size — exactly how HuggingFace/SentencePiece trainers scale.
- Each round is: adjacent-pair count (keyed agg over the vocab table,
  weighted by word frequency) → deterministic argmax (ORDER BY count
  DESC, pair ASC LIMIT 1 — ``TakeOrderedAndProject``, never a global
  sort) → merge application as a 1-row broadcast join + a per-row
  ``replace`` on the space-joined symbol string.
- Rounds are materialized (``session.materialize``, the graph-operator
  pattern) so the K-round lineage doesn't re-execute prior rounds
  exponentially.

Cross-engine exactness: the segmentation state is a SPACE-JOINED symbol
string (symbols come from whitespace-split words, so they can never
contain the separator).  A merge (a, b) -> ab applies with CANONICAL
Sennrich semantics — every occurrence merged in one leftmost
non-overlapping pass, ``a a a a`` -> ``aa aa`` — via the OWNED-SPACE
encoding: re-render the segmentation with TWO spaces between symbols
and one at each end (every symbol "owns" exactly one space per side),
then a plain ``replace(' a  b ', ' ab ')`` consumes only the merged
region's owned spaces, so consecutive occurrences no longer fight over
a shared delimiter; collapse double spaces and trim afterwards.  This
is provably identical to Sennrich's lookaround-regex apply (pinned
against a regex reference in tests/test_bpe.py over random corpora)
but uses only ``replace``, which has identical left-to-right
non-overlapping semantics in Spark and DuckDB — DuckDB's RE2 regex has
no lookarounds, so the regex rendering could never gate.  Counts are
integer sums and the argmax tiebreak is total, so every round is
bit-deterministic; the DuckDB oracle unrolls the same K rounds as
chained CTEs (the Lloyd/PageRank oracle pattern), generated by the
same Python loop that builds the Spark plan.

Reference analog: the reference has no BPE, but the streaming word-count
jobs (streaming/examples/treasury_yield/mapper.py) establish the
tokenize-then-aggregate shape this extends.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mongo_hadoop_spark.functions import tokenize
from mongo_hadoop_spark.session import materialize, table

#: number of merge rounds learned (and unrolled in the oracle)
BPE_MERGES = 6

#: top-N symbols reported by corpus_bpe_symbol_stats
BPE_TOP_SYMBOLS = 25

_PAIRS = ("zip_with(slice(syms, 1, size(syms) - 1), "
          "slice(syms, 2, size(syms) - 1), "
          "(x, y) -> concat(x, ' ', y))")


def _word_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct lowercased whitespace words with corpus frequencies and
    their initial character segmentation."""
    d = table(spark, sf_dir, "documents")
    words = (d.select(F.explode(tokenize(F.lower(F.col("text"))))
                      .alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    return words.select(
        "word", "freq",
        # 'abc' -> 'a b c': each char followed by a space, then trimmed
        F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")).alias("seg"))


def _pair_counts(w: DataFrame) -> DataFrame:
    return (w.select("freq", F.expr(_PAIRS.replace(
                "syms", "split(seg, ' ')")).alias("pairs"))
            .select("freq", F.explode("pairs").alias("pair"))
            .groupBy("pair").agg(F.sum("freq").alias("cnt")))


def _top_merge(pairs: DataFrame) -> DataFrame:
    return pairs.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(1)


#: canonical merge application (see module docstring): owned-space
#: encoding (double internal spaces) -> plain replace -> collapse.
#: Identical string in the Spark expr and the oracle CTE.
_APPLY_SEG = ("trim(replace("
              "replace(' ' || replace(seg, ' ', '  ') || ' ', "
              "' ' || replace(pair, ' ', '  ') || ' ', "
              "' ' || replace(pair, ' ', '') || ' '), "
              "'  ', ' '))")


def _apply_merge(w: DataFrame, merge: DataFrame) -> DataFrame:
    return (w.crossJoin(F.broadcast(merge))
            .select("word", "freq", F.expr(_APPLY_SEG).alias("seg")))


def _train(spark: SparkSession, sf_dir: str):
    """Run the merge loop; returns (merge DataFrames list, final words).

    Each round's word table is materialized: the round output is
    vocabulary-sized, and without truncation round r's lazy plan would
    re-execute rounds 1..r-1 once per consumer.  The materializations
    are lazy — nothing in the loop needs a value on the driver (fixed
    BPE_MERGES rounds, no convergence check), so the final stage of
    each round runs inside the consumer's first action instead of
    paying 2·BPE_MERGES+1 eager driver-action round-trips (guide
    §1.5/§5.4).

    Degenerate corpora (every word a single symbol — no adjacent pairs
    left) drain the loop: the round's argmax is empty, the cross join
    empties the working table, and the remaining merge rows are simply
    absent.  The oracle's CROSS JOIN propagates emptiness the same way,
    so both engines agree exactly (pinned in tests/test_bpe.py); real
    corpora never get near this inside BPE_MERGES rounds."""
    w = materialize(_word_table(spark, sf_dir), "bpe word table")
    merges = []
    for r in range(1, BPE_MERGES + 1):
        m = materialize(_top_merge(_pair_counts(w)), f"bpe merge {r}")
        merges.append(m)
        w = materialize(_apply_merge(w, m), f"bpe words after merge {r}")
    return merges, w


def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table: rank, the merged pair (space-joined),
    and its weighted adjacent-pair count at learn time — the constant-
    size model a tokenizer ships with."""
    merges, _ = _train(spark, sf_dir)
    out = None
    for i, m in enumerate(merges, start=1):
        row = m.select(F.lit(i).alias("merge_rank"), "pair", "cnt")
        out = row if out is None else out.unionByName(row)
    return out


def corpus_bpe_symbol_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol inventory after the learned merges: the top symbols by
    weighted occurrence (count DESC, symbol ASC — total order), with the
    number of distinct word types each appears in."""
    _, w = _train(spark, sf_dir)
    syms = (w.select("freq", F.explode(F.split(F.col("seg"), " "))
                     .alias("symbol"))
            .groupBy("symbol")
            .agg(F.sum("freq").alias("n_occurrences"),
                 F.count(F.lit(1)).alias("n_word_types")))
    return (syms.orderBy(F.col("n_occurrences").desc(),
                         F.col("symbol").asc())
            .limit(BPE_TOP_SYMBOLS))


def corpus_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of BPE: tokenize the whole corpus with the learned
    merges and report per-language compression — words, BPE tokens,
    characters, and chars-per-token (what a pretraining pipeline
    measures before sequence packing).

    Corpus tokenization is a JOIN from the corpus token stream to the
    trained word→segmentation table (vocabulary-sized — a keyed
    equi-join, exactly how production tokenizers amortize: segment each
    distinct word once, look it up everywhere).  The per-token symbol
    count is ``size(split(seg, ' '))`` — no per-document re-derivation.
    chars-per-token divides two exact integer sums (identical IEEE
    division both engines)."""
    _, w = _train(spark, sf_dir)
    seg_sizes = w.select(
        "word", F.size(F.split(F.col("seg"), " ")).alias("n_syms"))
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(tokenize(F.lower(F.col("text")))).alias("word"))
    return (toks.join(seg_sizes, "word")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_syms").alias("n_bpe_tokens"),
                 F.sum(F.length("word")).alias("n_chars"))
            .select("lang", "n_words", "n_bpe_tokens", "n_chars",
                    (F.col("n_chars").cast("double")
                     / F.col("n_bpe_tokens").cast("double"))
                    .alias("chars_per_token")))


#: packing budget in BPE tokens (BPE emits more tokens per doc than the
#: whitespace packer's words, so the budget is larger)
PACK_BPE_TOKENS = 4096


def _symbol_counts(w: DataFrame) -> DataFrame:
    return (w.select("freq", F.explode(F.split(F.col("seg"), " "))
                     .alias("symbol"))
            .groupBy("symbol").agg(F.sum("freq").alias("scnt")))


def _top_wordpiece_merge(w: DataFrame) -> DataFrame:
    """WordPiece argmax: maximize count(ab) / (count(a) * count(b)) —
    the pair whose merge most raises the unigram-LM corpus likelihood
    (Schuster & Nakajima 2012), vs BPE's raw count.  The score is one
    double division of exactly-representable integer counts (products
    stay far under 2^53 at these corpus sizes), correctly rounded and
    identical in both engines; ties break on the pair string."""
    pairs = _pair_counts(w)
    syms = _symbol_counts(w)
    left = F.substring_index(F.col("pair"), " ", 1)
    right = F.substring_index(F.col("pair"), " ", -1)
    scored = (pairs
              .join(syms.select(F.col("symbol").alias("__l"),
                                F.col("scnt").alias("lcnt")),
                    left == F.col("__l"))
              .join(syms.select(F.col("symbol").alias("__r"),
                                F.col("scnt").alias("rcnt")),
                    right == F.col("__r"))
              .select("pair", "cnt",
                      (F.col("cnt").cast("double")
                       / (F.col("lcnt").cast("double")
                          * F.col("rcnt").cast("double"))).alias("score")))
    return (scored.orderBy(F.col("score").desc(), F.col("pair").asc())
            .limit(1))


def corpus_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WordPiece merge table: the BPE loop with the likelihood-score
    argmax — rank, pair, pair count, and the score that won the round.
    Same scale shape as BPE: every round runs on the vocabulary-sized
    word table (pair counts + symbol counts are two keyed aggs), the
    argmax is TakeOrderedAndProject, the merge applies as a 1-row
    broadcast string replace."""
    merges, _ = _train_wordpiece(spark, sf_dir)
    out = None
    for i, m in enumerate(merges, start=1):
        row = m.select(F.lit(i).alias("merge_rank"), "pair", "cnt", "score")
        out = row if out is None else out.unionByName(row)
    return out


def _train_wordpiece(spark: SparkSession, sf_dir: str):
    """The WordPiece merge loop (likelihood argmax); same
    materialized-round shape as :func:`_train`."""
    w = materialize(_word_table(spark, sf_dir), "wordpiece word table")
    merges = []
    for r in range(1, BPE_MERGES + 1):
        m = materialize(_top_wordpiece_merge(w), f"wordpiece merge {r}")
        merges.append(m)
        w = materialize(_apply_merge(w, m.select("pair")),
                        f"wordpiece words after merge {r}")
    return merges, w


def corpus_wordpiece_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of WordPiece: per-language compression under the
    likelihood-trained merges — the same join-to-trained-segmentation
    shape as :func:`corpus_bpe_compression`, so the two queries compare
    tokenizer FERTILITY (chars per token) between the count argmax and
    the likelihood argmax on identical corpora."""
    _, w = _train_wordpiece(spark, sf_dir)
    seg_sizes = w.select(
        "word", F.size(F.split(F.col("seg"), " ")).alias("n_syms"))
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(tokenize(F.lower(F.col("text")))).alias("word"))
    return (toks.join(seg_sizes, "word")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_syms").alias("n_wp_tokens"),
                 F.sum(F.length("word")).alias("n_chars"))
            .select("lang", "n_words", "n_wp_tokens", "n_chars",
                    (F.col("n_chars").cast("double")
                     / F.col("n_wp_tokens").cast("double"))
                    .alias("chars_per_token")))


def documents_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware sequence packing: the whitespace packer
    (textstats.documents_pack_sequences) with the ACTUAL trained-BPE
    token counts — what a real loader packs by, since the budget that
    matters is model context positions, not words.

    Per-document counts come from the corpus-token-stream join to the
    trained segmentation table (see corpus_bpe_compression); documents
    with no words keep a zero-count row (left join + coalesce) so the
    packing covers every document like the whitespace packer does.
    Same scale shape after that: one window per source shard, greedy
    budget bins, never a global sort."""
    from pyspark.sql import Window

    _, w = _train(spark, sf_dir)
    seg_sizes = w.select(
        "word", F.size(F.split(F.col("seg"), " ")).alias("n_syms"))
    d = table(spark, sf_dir, "documents")
    counts = (d.select("doc_id",
                       F.explode(tokenize(F.lower(F.col("text"))))
                       .alias("word"))
              .join(seg_sizes, "word")
              .groupBy("doc_id")
              .agg(F.sum("n_syms").cast("long").alias("n_tok")))
    doc_tok = (d.select("source", "doc_id").join(counts, "doc_id", "left")
               .select("source", "doc_id",
                       F.coalesce(F.col("n_tok"), F.lit(0)).alias("n_tok")))
    win = (Window.partitionBy("source").orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    binned = doc_tok.select(
        "source", "doc_id", "n_tok",
        F.floor((F.sum("n_tok").over(win) - F.col("n_tok"))
                / PACK_BPE_TOKENS).alias("seq_bin"))
    return binned.groupBy("source", "seq_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"))


# every chained CTE is AS MATERIALIZED: w{i-1} is referenced 2-3 times
# per round (pair counts, symbol counts, the apply), and DuckDB inlines
# plain CTEs — the un-materialized WordPiece chain re-evaluated the
# whole prefix 3^K times (487 s at sf0.01; 0.9 s materialized)
_ORACLE_BASE = r"""
  words AS MATERIALIZED (
    SELECT word, count(*)::bigint AS freq
    FROM (SELECT unnest(list_filter(
                   string_split_regex(lower(text), '\s+'), x -> x <> ''))
            AS word FROM documents)
    GROUP BY word
  ),
  w0 AS MATERIALIZED (
    SELECT word, freq,
           trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seg
    FROM words
  )"""


def _pairs_cte(i: int) -> str:
    return f"""
  p{i} AS MATERIALIZED (
    SELECT pair, sum(freq)::bigint AS cnt
    FROM (SELECT freq,
                 unnest(list_transform(
                   generate_series(1, len(syms) - 1),
                   i -> syms[i] || ' ' || syms[i + 1])) AS pair
          FROM (SELECT freq, string_split(seg, ' ') AS syms FROM w{i - 1}))
    GROUP BY pair
  )"""


def _apply_cte(i: int) -> str:
    return f"""
  w{i} AS MATERIALIZED (
    SELECT word, freq, {_APPLY_SEG} AS seg
    FROM w{i - 1} CROSS JOIN m{i}
  )"""


def _oracle_core() -> str:
    """The K merge rounds as chained CTEs — generated by the same loop
    count as the Spark plan."""
    parts = [_ORACLE_BASE]
    for i in range(1, BPE_MERGES + 1):
        parts.append("," + _pairs_cte(i) + f""",
  m{i} AS (
    SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair LIMIT 1
  ),""" + _apply_cte(i))
    return "".join(parts)


def _wp_oracle_core() -> str:
    """The WordPiece rounds: same base, pair counts PLUS per-round
    symbol counts, likelihood-score argmax."""
    parts = [_ORACLE_BASE]
    for i in range(1, BPE_MERGES + 1):
        parts.append("," + _pairs_cte(i) + f""",
  s{i} AS MATERIALIZED (
    SELECT symbol, sum(freq)::bigint AS scnt
    FROM (SELECT freq, unnest(string_split(seg, ' ')) AS symbol
          FROM w{i - 1})
    GROUP BY symbol
  ),
  m{i} AS (
    SELECT p.pair, p.cnt,
           p.cnt::double / (l.scnt::double * r.scnt::double) AS score
    FROM p{i} p
    JOIN s{i} l ON split_part(p.pair, ' ', 1) = l.symbol
    JOIN s{i} r ON split_part(p.pair, ' ', 2) = r.symbol
    ORDER BY score DESC, p.pair LIMIT 1
  ),""" + _apply_cte(i))
    return "".join(parts)


BPE_MERGES_SQL = f"""
WITH {_oracle_core().lstrip()}
{" UNION ALL ".join(
    f"SELECT {i}::int AS merge_rank, pair, cnt FROM m{i}"
    for i in range(1, BPE_MERGES + 1))}
"""

BPE_SYMBOL_STATS_SQL = f"""
WITH {_oracle_core().lstrip()}
SELECT symbol, sum(freq)::bigint AS n_occurrences,
       count(*)::bigint AS n_word_types
FROM (SELECT freq, unnest(string_split(seg, ' ')) AS symbol
      FROM w{BPE_MERGES})
GROUP BY symbol
ORDER BY n_occurrences DESC, symbol
LIMIT {BPE_TOP_SYMBOLS}
"""

BPE_COMPRESSION_SQL = f"""
WITH {_oracle_core().lstrip()},
  tok AS (
    SELECT lang,
           unnest(list_filter(
             string_split_regex(lower(text), '\\s+'), x -> x <> ''))
             AS word
    FROM documents
  ),
  sz AS (
    SELECT word, len(string_split(seg, ' '))::bigint AS n_syms
    FROM w{BPE_MERGES}
  )
SELECT lang, count(*)::bigint AS n_words,
       sum(n_syms)::bigint AS n_bpe_tokens,
       sum(length(word))::bigint AS n_chars,
       sum(length(word))::bigint::double
         / sum(n_syms)::bigint::double AS chars_per_token
FROM tok JOIN sz USING (word)
GROUP BY lang
"""

PACK_BPE_SQL = f"""
WITH {_oracle_core().lstrip()},
  tok AS (
    SELECT doc_id,
           unnest(list_filter(
             string_split_regex(lower(text), '\\s+'), x -> x <> ''))
             AS word
    FROM documents
  ),
  sz AS (
    SELECT word, len(string_split(seg, ' '))::bigint AS n_syms
    FROM w{BPE_MERGES}
  ),
  counts AS (
    SELECT doc_id, sum(n_syms)::bigint AS n_tok
    FROM tok JOIN sz USING (word) GROUP BY doc_id
  ),
  doc_tok AS (
    SELECT d.source, d.doc_id, coalesce(c.n_tok, 0)::bigint AS n_tok
    FROM documents d LEFT JOIN counts c ON d.doc_id = c.doc_id
  ),
  binned AS (
    SELECT source, doc_id, n_tok,
           floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tok) / {PACK_BPE_TOKENS})::bigint AS seq_bin
    FROM doc_tok
  )
SELECT source, seq_bin, count(*) AS n_docs, sum(n_tok)::bigint AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM binned GROUP BY 1, 2
"""

WORDPIECE_MERGES_SQL = f"""
WITH {_wp_oracle_core().lstrip()}
{" UNION ALL ".join(
    f"SELECT {i}::int AS merge_rank, pair, cnt, score FROM m{i}"
    for i in range(1, BPE_MERGES + 1))}
"""

WORDPIECE_COMPRESSION_SQL = f"""
WITH {_wp_oracle_core().lstrip()},
  tok AS (
    SELECT lang,
           unnest(list_filter(
             string_split_regex(lower(text), '\\s+'), x -> x <> ''))
             AS word
    FROM documents
  ),
  sz AS (
    SELECT word, len(string_split(seg, ' '))::bigint AS n_syms
    FROM w{BPE_MERGES}
  )
SELECT lang, count(*)::bigint AS n_words,
       sum(n_syms)::bigint AS n_wp_tokens,
       sum(length(word))::bigint AS n_chars,
       sum(length(word))::bigint::double
         / sum(n_syms)::bigint::double AS chars_per_token
FROM tok JOIN sz USING (word)
GROUP BY lang
"""

QUERIES = {
    "corpus_wordpiece_merges": corpus_wordpiece_merges,
    "corpus_wordpiece_compression": corpus_wordpiece_compression,
    "corpus_bpe_merges": corpus_bpe_merges,
    "corpus_bpe_symbol_stats": corpus_bpe_symbol_stats,
    "corpus_bpe_compression": corpus_bpe_compression,
    "documents_pack_sequences_bpe": documents_pack_sequences_bpe,
}

ORACLES = {
    "corpus_wordpiece_merges": WORDPIECE_MERGES_SQL,
    "corpus_wordpiece_compression": WORDPIECE_COMPRESSION_SQL,
    "corpus_bpe_merges": BPE_MERGES_SQL,
    "corpus_bpe_symbol_stats": BPE_SYMBOL_STATS_SQL,
    "corpus_bpe_compression": BPE_COMPRESSION_SQL,
    "documents_pack_sequences_bpe": PACK_BPE_SQL,
}
