"""Structured Streaming jobs over the events stream.

The reference's "streaming" is the Hadoop Streaming subprocess protocol
(SURVEY §2.11) — no watermarks, no event-time windows.  The Spark-native
engine supplies real stream processing: file-source streams with
event-time tumbling/sliding windows + watermarks, and built-in session
windows.  Each job's batch-equivalent lives in
``operators.windows`` — tests assert streaming output (availableNow,
complete/update modes) equals the batch result, which is the property
that matters when backfilling 100 TB of history with the same code that
handles the live stream.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mongo_hadoop_spark.operators.windows import (
    SESSION_GAP_SECONDS, TUMBLE_SECONDS,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def streaming_events_source(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files —
    at scale this is the landing zone written by ingest; new files are
    discovered per micro-batch."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
    )


def stream_tumbling_counts(events: DataFrame,
                           watermark: str = "1 hour") -> DataFrame:
    """Tumbling event-time window counts with a watermark for late data.
    Batch-equivalent: operators.windows.events_tumbling_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{TUMBLE_SECONDS} seconds").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type", "cnt",
        )
    )


def stream_stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (n_events, total_value)
    maintained across micro-batches with ``applyInPandasWithState`` — the
    Spark-native form of the reference's arbitrary per-key reducer
    (streaming reducer.py:108-124), but incremental and fault-tolerant
    (state lives in the checkpoint).  Emits the updated running totals for
    every user seen in the batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({
            "user_id": [key[0]], "n_events": [n], "total_value": [total]
        })

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_stateful_user_totals_tws(events: DataFrame) -> DataFrame:
    """Same per-user running totals via ``transformWithStateInPandas`` —
    Spark 4's successor stateful API (typed state handles, timers,
    RocksDB-backed).  Functionally identical to
    :func:`stream_stateful_user_totals`; kept as the forward-looking
    variant the engine will migrate to (state schema evolution + TTL come
    free here, neither exists under ``applyInPandasWithState``).

    Requires ``spark.sql.streaming.stateStore.providerClass`` =
    ``...state.RocksDBStateStoreProvider`` on the session (the HDFS-backed
    default provider does not support transformWithState).
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle,
    )

    class _UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            cur = self._totals.get()
            n, total = cur if cur is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame({
                "user_id": [key[0]], "n_events": [n], "total_value": [total]
            })

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        _UserTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def stream_sessionized(events: DataFrame,
                       watermark: str = "1 hour") -> DataFrame:
    """Built-in session windows (gap-merged) per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_SECONDS} seconds").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


def stream_dedup_events(events: DataFrame,
                        watermark: str = "1 hour") -> DataFrame:
    """Streaming ingest dedup: drop redundant deliveries of the same
    ``event_id`` (at-least-once sources re-deliver on retry).

    ``dropDuplicatesWithinWatermark`` keeps the seen-key state bounded by
    the watermark — at 100 TB/day the state holds one key per event inside
    the lateness horizon instead of growing forever, which is what makes
    streaming dedup viable at all.  Batch-equivalent: a plain
    ``dropDuplicates`` over the same keys (asserted in tests)."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def stream_dedup_content(events: DataFrame,
                         watermark: str = "1 hour") -> DataFrame:
    """Content-hash streaming dedup — the streaming form of the corpus
    ``dedup_exact`` operator: identical payloads collapse to their first
    delivery even when ids differ.  The 16-byte md5 is the dedup key, so
    state stays small regardless of payload width."""
    hashed = events.withColumn(
        "content_hash",
        F.md5(F.concat_ws("\x1f", "user_id", "event_type", "value", "props")),
    )
    return (
        hashed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def streaming_documents_source(spark: SparkSession, documents_dir: str) -> DataFrame:
    """File-source stream over a documents landing zone — the crawl-shard
    arrival pattern a training-data pipeline ingests from."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(documents_dir)
    )


def stream_train_split(documents: DataFrame) -> DataFrame:
    """Streaming form of :func:`~.operators.analytics.documents_train_split`:
    assign train/valid/test by hashing document CONTENT, per micro-batch.

    Stateless map — the split of a document depends on its bytes alone,
    never on arrival order or batch boundaries, so backfill ≡ live holds
    by construction and a duplicate can never leak from train into eval
    no matter which crawl increment delivers it.  Route the output with
    ``BucketedDocumentSink(store, "corpus_{split}")`` to land each split
    in its own collection incrementally (the foreachBatch half).
    """
    from mongo_hadoop_spark.operators.analytics import (SPLIT_SALT, TRAIN_PCT,
                                                        VALID_PCT)
    from mongo_hadoop_spark.functions import md5_long

    bucket = md5_long(F.col("text"), salt=SPLIT_SALT) % 100
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VALID_PCT, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return documents.select("doc_id", split.alias("split"))


ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def streaming_orders_source(spark: SparkSession, orders_dir: str) -> DataFrame:
    """File-source stream over an orders landing zone (same pattern as
    :func:`streaming_events_source`)."""
    return (
        spark.readStream.schema(ORDERS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(orders_dir)
    )


def stream_join_events_orders(
    events: DataFrame,
    orders: DataFrame,
    watermark: str = "1 hour",
    horizon_days: int = 7,
) -> DataFrame:
    """Stream-stream interval join: each event pairs with the same user's
    orders placed within ``horizon_days`` before the event.

    The two state-bounding requirements of a stream-stream join at scale
    are explicit here: BOTH sides carry a watermark, and the join
    condition contains an event-time interval — together they let Spark
    evict buffered rows once the watermark passes the interval's reach,
    so state is O(traffic inside the horizon), not O(history).  Without
    the time bound the join would buffer both streams forever, which is
    exactly the failure mode a 100 TB/day pipeline cannot have.

    Batch-equivalent: the same join expression over static DataFrames
    (asserted in tests) — one shuffle on ``user_id`` either way.
    """
    e = events.withWatermark("ts", watermark)
    o = orders.withWatermark("o_orderdate", watermark)
    cond = (
        (e["user_id"] == o["o_custkey"])
        & (o["o_orderdate"] <= e["ts"])
        & (o["o_orderdate"] >= e["ts"] - F.expr(f"INTERVAL {horizon_days} DAYS"))
    )
    return e.join(o, cond, "inner").select(
        "event_id", "user_id", "o_orderkey",
        F.unix_timestamp(e["ts"]).alias("ts_s"),
        F.unix_timestamp(o["o_orderdate"]).alias("order_s"),
    )


HH_STREAM_SHARDS = 8
HH_STREAM_M = 500


def stream_heavy_hitter_candidates(tokens: DataFrame,
                                   n_shards: int = HH_STREAM_SHARDS,
                                   m: int = HH_STREAM_M) -> DataFrame:
    """Streaming Misra–Gries heavy-hitter candidates, maintained across
    micro-batches — the streaming half of the batch
    ``text_heavy_hitters`` operator.

    Tokens hash into ``n_shards`` key groups; each group's state is one
    bounded MG summary (≤ ``m`` counters serialized as JSON in the
    checkpoint), merged per micro-batch under the standard truncation
    rule.  A token always routes to the same shard, so the per-shard MG
    guarantee carries over: any token whose within-shard share exceeds
    1/(m+1) is present in that shard's candidates — size the shard count
    so m ≫ shards/φ and the streaming candidate union is a superset of
    the true heavy hitters at every point in the stream.  Each batch
    emits every live shard's current candidates (update mode); the
    latest emission per shard is the current summary.

    State is O(n_shards · m) regardless of stream length or vocabulary —
    the property that makes corpus-frequency tracking viable on an
    unbounded ingest feed.
    """
    import json

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        counts: dict[str, int] = (
            json.loads(state.get[0]) if state.exists else {})
        for pdf in pdfs:
            for w, c in pdf["w"].value_counts().items():
                counts[w] = counts.get(w, 0) + int(c)
            if len(counts) > m:
                kth = sorted(counts.values(), reverse=True)[m]
                counts = {w: c - kth for w, c in counts.items() if c > kth}
        state.update((json.dumps(counts),))
        yield pd.DataFrame({
            "shard": [key[0]] * len(counts),
            "w": list(counts.keys()),
            "mg_count": list(counts.values()),
        })

    sharded = tokens.withColumn(
        "shard", F.pmod(F.xxhash64("w"), F.lit(n_shards)))
    return (
        sharded.groupBy("shard")
        .applyInPandasWithState(
            update,
            outputStructType="shard long, w string, mg_count long",
            stateStructType="counts string",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_cms_cells(documents: DataFrame) -> DataFrame:
    """Streaming Count-Min sketch over arriving document shards.

    The sketch is a *linear* projection of the token-count vector, so the
    engine's incremental aggregation state IS the sketch: after any prefix
    of micro-batches, the complete-mode output equals the batch sketch of
    the data seen so far (asserted in tests), and two independently
    sketched streams merge by cell-wise addition.  State is bounded at
    d·w rows regardless of stream length — the property that makes CMS
    the streaming frequency monitor at any scale.
    """
    from mongo_hadoop_spark.functions import tokenize
    from mongo_hadoop_spark.operators.sketches import _cms_cells

    return _cms_cells(
        documents.select(F.explode(tokenize("text")).alias("term"))
    )


#: pipeline stages that are pure per-row transformations — no global
#: sort, no unbounded state — and therefore legal on an unbounded stream
#: ($sample is NOT here: its deterministic top-N-by-hash needs a global
#: ordering over the corpus, which a stream never has)
STREAM_SAFE_STAGES = frozenset({
    "$match", "$project", "$addFields", "$set", "$unset", "$unwind",
    "$replaceRoot", "$replaceWith", "$redact",
})


def aggregate_stream(sdf: DataFrame, pipeline: list[dict]) -> DataFrame:
    """Run the *stateless* subset of the Mongo pipeline language on a
    streaming DataFrame — the incremental form of ``plans.aggpipe``.

    Every stage in ``STREAM_SAFE_STAGES`` is a pure per-row
    transformation ($match incl. $jsonSchema validation, projections,
    $unwind, $redact …), so micro-batch boundaries cannot change the
    result: stream ≡ batch by construction (pinned in
    test_streaming.py).  Stages that need a global view ($sort, $group,
    $limit, $lookup, $setWindowFields, …) raise — express those as
    event-time windows / stateful operators, or run them per-batch in
    ``foreachBatch`` where batch-local semantics are what you want.
    """
    from mongo_hadoop_spark.plans.aggpipe import aggregate

    for stage in pipeline:
        (op, _spec), = stage.items()
        if op not in STREAM_SAFE_STAGES:
            raise ValueError(
                f"stage {op} is not streaming-safe (needs a global view); "
                f"streaming-safe stages: {sorted(STREAM_SAFE_STAGES)} — "
                f"use event-time windows or foreachBatch for the rest")
    return aggregate(sdf, pipeline)


def stream_quality_gate(documents: DataFrame) -> DataFrame:
    """Streaming form of the Gopher quality gate
    (:func:`~.operators.textstats.text_gopher_quality`): per-document
    rule flags + keep verdict computed on arriving crawl shards.

    Stateless map (every rule is a JVM expression over one tokenize of
    the document itself), so the gate of a document depends on its
    bytes alone — backfill ≡ live by construction, and the incremental
    output can feed ``BucketedDocumentSink`` routing keeps vs rejects.
    Corpus-relative stages (perplexity tertiles, DSIR cuts) stay batch:
    their thresholds are corpus statistics, recomputed per epoch and
    applied to the stream as broadcast literals.
    """
    from mongo_hadoop_spark.operators.textstats import gopher_flags

    return gopher_flags(documents)


def stream_geofence(events: DataFrame, center: tuple[float, float],
                    radius_rad: float) -> DataFrame:
    """Streaming spherical geofence: keep events whose synthesized
    [lon, lat] lies within ``radius_rad`` great-circle radians of
    ``center``, annotated with the radian distance.

    A stateless per-row map-filter on the deterministic polynomial
    haversine of plans/trig.py — the range test runs on the asin-free
    monotone kernel (h <= sin^2(r/2), one driver literal), and only
    surviving rows pay the polynomial asin.  An event's verdict depends
    on its coordinates alone, so stream ≡ batch holds by construction
    (pinned in tests/test_streaming.py); at scale this is the
    geo-routing gate in front of a regional sink, fully fused into the
    micro-batch scan."""
    from mongo_hadoop_spark.plans.trig import (
        asin_col, center_sphere_threshold, haversine_h_col)

    lon = (F.col("value") % F.lit(360.0)) - F.lit(180.0)
    lat = (F.col("user_id") % F.lit(181)).cast("double") - F.lit(90.0)
    h = haversine_h_col(lon, lat, F.lit(float(center[0])),
                        F.lit(float(center[1])))
    return (events.withColumn("_h", h)
            .where(F.col("_h") <= F.lit(center_sphere_threshold(radius_rad)))
            .select("event_id", "event_type",
                    (F.lit(2.0) * asin_col(
                        F.sqrt(F.least(F.col("_h"), F.lit(1.0)))))
                    .alias("dist_rad")))


def stream_bpe_tokenize(documents: DataFrame,
                        merges: list[str]) -> DataFrame:
    """Streaming BPE tokenization with a TRAINED merge table: per-doc
    whitespace word count and trained-tokenizer token count on arriving
    crawl shards.

    ``merges`` is the rank-ordered pair list from
    :func:`~.operators.bpe.corpus_bpe_merges` — an epoch-static,
    driver-side artifact (the broadcast-threshold pattern: the
    tokenizer retrains per epoch in batch; the stream APPLIES it).
    Application is the identical canonical (owned-space encoded — see
    operators/bpe.py) merge-replace cascade the trainer uses, run per
    word inside a ``transform`` lambda, so a document's token count
    depends on its bytes and the frozen merges alone — stream ≡ batch
    by construction (pinned in tests/test_streaming.py against the
    word-table-join batch path of ``corpus_bpe_compression``).
    At 100 TB this is the token-budget meter in front of a pack/ship
    sink: a stateless map, fully fused into the micro-batch scan."""
    from mongo_hadoop_spark.functions import tokenize

    words = tokenize(F.lower(F.col("text")))

    def _n_tokens(w):
        seg = F.trim(F.regexp_replace(w, "(.)", "$1 "))
        for pair in merges:
            merged = pair.replace(" ", "")
            dpair = pair.replace(" ", "  ")
            # canonical apply: double internal spaces so each symbol
            # owns one delimiter per side, replace, collapse (the
            # trainer's _APPLY_SEG rendered with F.replace)
            seg = F.trim(F.replace(F.replace(
                F.concat(F.lit(" "),
                         F.replace(seg, F.lit(" "), F.lit("  ")),
                         F.lit(" ")),
                F.lit(" " + dpair + " "), F.lit(" " + merged + " ")),
                F.lit("  "), F.lit(" ")))
        return F.size(F.split(seg, " "))

    return documents.select(
        "doc_id", "lang",
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(F.transform(words, _n_tokens), F.lit(0),
                    lambda a, x: a + x).cast("long").alias("n_bpe_tokens"))


def stream_chunk_windows(documents: DataFrame) -> DataFrame:
    """Streaming RAG chunker: the batch chunker core
    (:func:`~.operators.textstats.chunk_windows`) applied to arriving
    crawl shards — a stateless per-doc explode, so every chunk row
    (offsets included) is identical to the batch run's (stream ≡ batch
    pinned).  At scale this feeds the embedding/ingest sink
    incrementally instead of re-chunking the corpus per epoch."""
    from mongo_hadoop_spark.operators.textstats import chunk_windows

    return chunk_windows(documents)


def stream_fim_transform(documents: DataFrame) -> DataFrame:
    """Streaming FIM rearrangement: the batch core
    (:func:`~.operators.textstats.fim_transform`) on the stream — the
    md5-derived pivots depend on doc_id alone, so the cut is identical
    whichever micro-batch delivers the document."""
    from mongo_hadoop_spark.operators.textstats import fim_transform

    return fim_transform(documents)


def stream_span_classify(seen_fps: DataFrame, out_path: str):
    """foreachBatch body for incremental SPAN-level dedup: score each
    arriving micro-batch of documents against a fixed seen-corpus
    winnowed-fingerprint index
    (:func:`~.operators.spans.seen_span_fingerprints`) and append
    (doc_id, n_fps, n_seen_fps, seen_frac, keep) verdicts to
    ``out_path`` — the streaming form of
    :func:`~.operators.spans.corpus_span_increment`.

    The per-batch fingerprinting needs a per-doc window + distinct
    (stateful in pure streaming), so it runs batch-side per trigger via
    foreachBatch; a document's verdict depends only on its bytes and
    the seen index, never on batch boundaries, so stream ≡ batch holds
    by construction (pinned in tests/test_streaming.py).  At cluster
    scale the index is persisted once per crawl epoch and every
    micro-batch probes it with one fingerprint-keyed equi-join.
    """
    from mongo_hadoop_spark.operators.spans import classify_spans_against_seen

    def classify_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (classify_spans_against_seen(batch_df, seen_fps)
         .write.mode("append").parquet(out_path))

    return classify_batch


def stream_crawl_classify(seen_index: dict, out_path: str):
    """foreachBatch body for incremental-crawl dedup: classify each
    arriving micro-batch of documents against a fixed seen-corpus index
    (:func:`~.operators.dedup.build_seen_index`) and append verdicts to
    ``out_path`` — the streaming form of
    :func:`~.operators.dedup.corpus_crawl_increment`.

    Classification needs per-batch ``distinct``/multi-joins (stateful in
    pure streaming), so it runs batch-side per trigger via foreachBatch;
    a document's verdict depends only on its bytes and the seen index,
    never on batch boundaries, so stream ≡ batch holds by construction
    (pinned in tests/test_streaming.py).  The index frames are
    materialized once and every micro-batch probes them — the same
    read-mostly broadcast/probe shape the batch operator uses (see
    :func:`~.operators.dedup.build_seen_index` for what an executor loss
    costs).

    Usage::

        q = (new_docs_stream.writeStream
             .foreachBatch(stream_crawl_classify(seen, out))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    """
    from mongo_hadoop_spark.operators.dedup import classify_against_seen

    def classify_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (classify_against_seen(batch_df, seen_index)
         .write.mode("append").parquet(out_path))

    return classify_batch
