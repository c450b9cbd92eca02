"""End-to-end mongodoc DataSource: partitioned reads with pushdown, schema
inference, writes with commit protocol (reference lifecycle SURVEY §3.1)."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from mongo_hadoop_spark.store import DocumentStore
from mongo_hadoop_spark.bsonio import ObjectId


@pytest.fixture()
def store(tmp_path):
    s = DocumentStore(str(tmp_path / "db"))
    docs = [
        {"_id": i, "status": "A" if i % 2 else "B", "qty": i,
         "nested": {"tag": f"t{i % 3}"}, "price": i * 1.5}
        for i in range(200)
    ]
    # two segments so the bson_file splitter has >1 file to range over
    s.collection("orders").insert_many(docs[:100], segment_hint="seg0")
    s.collection("orders").insert_many(docs[100:], segment_hint="seg1")
    return s


@pytest.fixture()
def registered(spark):
    from mongo_hadoop_spark.sources import register

    register(spark)
    return spark


def read_orders(spark, store, **options):
    r = (spark.read.format("mongodoc")
         .option("path", store.path).option("collection", "orders"))
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def test_schema_inference_and_full_read(registered, store):
    df = read_orders(registered, store)
    assert df.count() == 200
    types = dict(df.dtypes)
    assert types["_id"] == "bigint" and types["status"] == "string"
    assert types["price"] == "double"
    assert types["nested"].startswith("struct<tag:string")


def test_filter_pushdown_correctness(registered, store):
    df = read_orders(registered, store, pushdown="true")
    got = df.where((F.col("status") == "A") & (F.col("qty") > 150)).count()
    assert got == sum(1 for i in range(200) if i % 2 and i > 150)


def test_no_cross_query_leak_by_default(registered, store):
    """Regression: Spark caches the planned python scan per DataFrame, so a
    pushed filter from query 1 would poison query 2 on the same DataFrame.
    The default (no-pushdown) reader must count correctly after a filtered
    query on the same DataFrame object."""
    df = read_orders(registered, store)
    assert df.where(F.col("status") == "A").count() == 100
    assert df.count() == 200  # would be 100 if pushdown state leaked


def test_pushdown_fresh_load_contract(registered, store):
    """With pushdown enabled, a fresh load() per query is always correct."""
    a = read_orders(registered, store, pushdown="true")
    assert a.where(F.col("qty") < 50).count() == 50
    b = read_orders(registered, store, pushdown="true")
    assert b.count() == 200


def test_static_query_option_and_pushdown_conjunction(registered, store):
    # static table query (F7) AND'd with a pushed filter (F5/F6)
    df = read_orders(registered, store, query='{"status": "B"}')
    assert df.count() == 100
    assert df.where(F.col("qty") < 10).count() == 5


def test_partition_planning_strategies(registered, store):
    for strategy, opts in [
        ("bson_file", {"split_size": "2048"}),
        ("single", {}),
        ("sample", {"split_size": "2048"}),
        ("paginating", {"min_docs": "37"}),
    ]:
        df = read_orders(registered, store, splitter=strategy, **opts)
        assert df.count() == 200, strategy
        # disjoint cover: no duplicates
        assert df.select("_id").distinct().count() == 200, strategy
        if strategy in ("bson_file", "paginating"):
            assert df.rdd.getNumPartitions() > 1, strategy


def test_multi_collection_union(registered, store):
    DocumentStore(store.path).collection("orders2").insert_many(
        [{"_id": 1000 + i, "status": "A", "qty": i, "nested": {"tag": "z"},
          "price": 0.0} for i in range(10)]
    )
    df = (registered.read.format("mongodoc")
          .option("path", store.path)
          .option("collection", "orders,orders2").load())
    assert df.count() == 210


def test_projection_stays_correct(registered, store):
    df = read_orders(registered, store).select("qty")
    assert df.agg(F.sum("qty")).collect()[0][0] == sum(range(200))


def test_write_insert_and_read_back(registered, store, tmp_path):
    df = registered.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(50)], "id long, name string, v double"
    )
    out = str(tmp_path / "outdb")
    (df.write.format("mongodoc").option("path", out)
       .option("collection", "sink").mode("append").save())
    back = (registered.read.format("mongodoc")
            .option("path", out).option("collection", "sink").load())
    assert back.count() == 50
    assert dict(back.dtypes)["name"] == "string"
    # no uncommitted temp files
    import os
    assert all(not n.endswith(".inprogress")
               for n in os.listdir(os.path.join(out, "sink")))


def test_write_overwrite(registered, store, tmp_path):
    out = str(tmp_path / "odb")
    df1 = registered.createDataFrame([(1,)], "a long")
    df2 = registered.createDataFrame([(2,), (3,)], "a long")
    for df, mode in [(df1, "append"), (df2, "overwrite")]:
        (df.write.format("mongodoc").option("path", out)
           .option("collection", "c").mode(mode).save())
    back = (registered.read.format("mongodoc")
            .option("path", out).option("collection", "c").load())
    assert sorted(r.a for r in back.collect()) == [2, 3]


def test_schemaless_mode(registered, store):
    """SURVEY §1.3 mode 1: whole document as one extended-JSON column."""
    df = read_orders(registered, store, schemaless="true")
    assert df.columns == ["doc"]
    import json

    first = json.loads(df.orderBy("doc").limit(1).collect()[0].doc)
    assert set(first) >= {"_id", "status", "qty", "nested"}
    assert df.count() == 200


def test_columns_mapping_mode(registered, store):
    """SURVEY §1.3 mode 2: declared renames incl. dotted nested paths
    (mongo.columns.mapping analog)."""
    df = read_orders(
        registered, store,
        columns_mapping='{"id": "_id", "tag": "nested.tag"}',
    )
    assert {"id", "tag"} <= set(df.columns)
    assert "_id" not in df.columns
    rows = {r.id: r.tag for r in df.select("id", "tag").collect()}
    assert rows[7] == "t1" and rows[9] == "t0"
    assert df.where(F.col("tag") == "t0").count() == 67


def test_objectid_bridging(registered, tmp_path):
    s = DocumentStore(str(tmp_path / "oiddb"))
    oids = [ObjectId(f"{i:024x}") for i in range(5)]
    s.collection("docs").insert_many([{"_id": o, "n": i} for i, o in enumerate(oids)])
    df = (registered.read.format("mongodoc")
          .option("path", s.path).option("collection", "docs").load())
    got = sorted(r._id for r in df.collect())
    assert got == [f"{i:024x}" for i in range(5)]


def test_full_type_bridge_roundtrip(registered, tmp_path):
    """Every SURVEY §1.2 bridged type survives store → DataFrame: double,
    long, string, bool, binary, datetime, ObjectId (hex string), nested
    struct, array, regex (string render), BsonTimestamp (timestamp)."""
    import datetime as dt

    from mongo_hadoop_spark.bsonio import Binary, BsonTimestamp, ObjectId, Regex

    s = DocumentStore(str(tmp_path / "types"))
    when = dt.datetime(2021, 3, 4, 5, 6, 7, 123000, tzinfo=dt.timezone.utc)
    s.collection("t").insert_many([{
        "_id": ObjectId("ab" * 12),
        "d": 1.25, "i": 2**40, "s": "héllo", "b": True,
        "bin": Binary(b"\x01\x02", 0), "raw": b"\xff\x00",
        "when": when, "bts": BsonTimestamp(1600000000, 3),
        "rx": Regex("^a", "i"),
        "nested": {"x": [1, 2, 3], "y": {"z": "deep"}},
        "arr": [{"k": 1}, {"k": 2}],
    }])
    df = (registered.read.format("mongodoc")
          .option("path", s.path).option("collection", "t").load())
    row = df.collect()[0]
    assert row._id == "ab" * 12
    assert row.d == 1.25 and row.i == 2**40 and row.s == "héllo" and row.b is True
    assert bytes(row.bin) == b"\x01\x02" and bytes(row.raw) == b"\xff\x00"
    assert row.when == when.replace(tzinfo=None) or row.when == when
    assert row.rx == "/^a/i"
    assert row.nested.x == [1, 2, 3] and row.nested.y.z == "deep"
    assert [e.k for e in row.arr] == [1, 2]
    types = dict(df.dtypes)
    assert types["when"] == "timestamp" and types["bts"] == "timestamp"
    assert types["bin"] == "binary"


def test_concurrent_append_segments(registered, tmp_path):
    """Two independent writes to the same collection commit disjoint
    segments (uuid names) — no clobbering, counts add up."""
    out = str(tmp_path / "cc")
    for k in range(2):
        (registered.range(100).selectExpr(f"id + {k * 1000} as v")
         .write.format("mongodoc").option("path", out)
         .option("collection", "c").mode("append").save())
    back = (registered.read.format("mongodoc")
            .option("path", out).option("collection", "c").load())
    assert back.count() == 200
    assert back.select("v").distinct().count() == 200


def test_overwrite_retires_meta_then_drop(registered, tmp_path):
    """A mongodoc overwrite retires the earlier segments together with
    their .meta.json sidecars: count() and find() see only the new rows,
    and drop() empties the directory."""
    store = DocumentStore(str(tmp_path / "odb"))
    coll = store.collection("c")
    coll.insert_many([{"a": i} for i in range(5)])
    assert coll.count() == 5
    (registered.createDataFrame([(10,), (11,)], "a long")
     .write.format("mongodoc").option("path", store.path)
     .option("collection", "c").mode("overwrite").save())
    assert coll.count() == 2
    assert sorted(d["a"] for d in coll.find()) == [10, 11]
    store.drop("c")
    assert "c" not in store.list_collections()


def test_write_sidecar_and_reader_reuse(registered, tmp_path):
    """W4: write_sidecar=true persists .splits beside each segment; the
    bson_file splitter then plans from the sidecar (and respects it even
    if its ranges differ from a fresh recompute)."""
    import glob
    import os

    out = str(tmp_path / "scdb")
    (registered.range(500).selectExpr("id", "repeat('x', 40) as pad")
     .write.format("mongodoc").option("path", out)
     .option("collection", "c").option("write_sidecar", "true")
     .option("split_size", "2000").mode("append").save())
    segs = glob.glob(os.path.join(out, "c", "*.bson"))
    assert segs
    for seg in segs:
        d, name = os.path.split(seg)
        assert os.path.exists(os.path.join(d, f".{name}.splits")), seg
    back = (registered.read.format("mongodoc").option("path", out)
            .option("collection", "c").option("splitter", "bson_file")
            .option("split_size", "2000").load())
    assert back.count() == 500
    assert back.rdd.getNumPartitions() > len(segs)  # sidecar ranges used


def test_write_compressed_segments_roundtrip(registered, tmp_path):
    """compression=gzip writes .bson.gz segments; reads are transparent
    and each compressed segment is a single split."""
    df = registered.createDataFrame([(i, f"n{i}") for i in range(40)],
                                    "i long, name string")
    (df.repartition(2).write.format("mongodoc")
       .option("path", str(tmp_path)).option("collection", "gz")
       .option("compression", "gzip").mode("append").save())
    import glob as _g
    segs = _g.glob(str(tmp_path / "gz" / "*.bson.gz"))
    assert len(segs) == 2 and not _g.glob(str(tmp_path / "gz" / "*.bson"))
    back = (registered.read.format("mongodoc")
            .option("path", str(tmp_path)).option("collection", "gz").load())
    assert back.count() == 40
    assert back.rdd.getNumPartitions() == 2  # one split per compressed seg


# ---------------------------------------------------------------------------
# Live-backend read path (MongoInputSplit.java:272-299 cursor semantics)
# ---------------------------------------------------------------------------

def _live_uri(store):
    return f"mongodb://localhost/testdb.orders?storePath={store.path}"

FACTORY = "mongo_hadoop_spark.sources.live_read:store_client"


def read_live(spark, store, **options):
    r = (spark.read.format("mongodoc")
         .option("backend", "live").option("uri", _live_uri(store))
         .option("client_factory", FACTORY))
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def test_live_read_equals_store_scan(registered, store):
    """backend=live through the store-backed client must produce the same
    rows as the file-store scan on the same data."""
    live = read_live(registered, store)
    filebased = read_orders(registered, store)
    assert sorted(live.collect()) == sorted(filebased.collect())
    assert live.count() == 200


def test_live_read_query_and_fields(registered, store):
    """Server-side query + projection (F1/F2 over the live protocol)."""
    df = read_live(registered, store, query='{"status": "A"}',
                   fields='{"_id": 1, "qty": 1}')
    rows = df.collect()
    assert len(rows) == 100
    assert all(r["status"] is None for r in rows)  # projected out server-side
    assert all(r["qty"] is not None for r in rows)


def test_live_paginating_splits_and_ranges(registered, store):
    """P7 paginating splitter drives range discovery through live
    cursors; split range queries must partition the id space exactly."""
    from mongo_hadoop_spark.sources.mongo_datasource import LiveDocumentReader

    opts = {"backend": "live", "uri": _live_uri(store),
            "client_factory": FACTORY, "splitter": "paginating",
            "min_docs": "64"}
    reader = LiveDocumentReader(opts, None)
    parts = reader.partitions()
    assert len(parts) >= 3  # 200 docs / 64 per split
    # ranges tile [min, max] without overlap: lower bound of split k+1 ==
    # upper bound of split k
    bounds = [p.spec.query.get("_id", {}) for p in parts]
    for prev, nxt in zip(bounds, bounds[1:]):
        assert prev.get("$lt") == nxt.get("$gte")
    # and the union of splits re-reads the full collection
    df = read_live(registered, store, splitter="paginating", min_docs="64")
    assert df.count() == 200


def test_live_per_split_cursor_options(registered, store):
    """sort/skip/limit are PER-SPLIT cursor options, as in the reference
    (limit is effectively limit x numSplits)."""
    from fake_mongo import FakeCollection
    from mongo_hadoop_spark.plans.splitters import SplitSpec
    from mongo_hadoop_spark.sources.live_read import split_cursor

    fake = FakeCollection("orders")
    fake.docs = [{"_id": i, "qty": 100 - i} for i in range(10)]
    spec = SplitSpec(collection="orders", query={"_id": {"$lt": 8}},
                     projection={"_id": 1, "qty": 1},
                     sort=(("qty", 1),), skip=2, limit=3)
    got = list(split_cursor(fake, spec))
    # query -> sort by qty asc -> skip 2 -> limit 3
    assert [d["_id"] for d in got] == [5, 4, 3]
    # single-split datasource read applies the same options end-to-end
    df = read_live(registered, store, sort='{"qty": -1}', limit="5")
    assert df.count() == 5
    assert [r["qty"] for r in df.collect()] == [199, 198, 197, 196, 195]


def test_live_schema_inference_matches_file_backend(registered, store):
    live = read_live(registered, store)
    filebased = read_orders(registered, store)
    assert live.schema == filebased.schema


def test_live_pushdown_reaches_server_cursor(registered, store):
    """backend=live + pushdown=true: the Catalyst filter lands in the
    split's server-side query, not just above the scan."""
    from mongo_hadoop_spark.sources.mongo_datasource import (
        LivePushdownDocumentReader)

    df = read_live(registered, store, pushdown="true")
    got = df.where((F.col("status") == "A") & (F.col("qty") > 150)).count()
    assert got == sum(1 for i in range(200) if i % 2 and i > 150)

    reader = LivePushdownDocumentReader(
        {"backend": "live", "uri": _live_uri(store),
         "client_factory": FACTORY}, None)
    residual = list(reader.pushFilters([]))
    assert residual == [] and reader.pushed_query == {}


def test_live_full_loop_read_transform_commit(registered, store, tmp_path):
    """The complete connector loop with no mongod: live READ from one
    'server' -> DataFrame transform -> spooled journal -> live COMMIT
    into another 'server', final state checked."""
    from fake_mongo import FakeCollection
    from mongo_hadoop_spark.sinks.live import commit_updates_live
    from mongo_hadoop_spark.sinks.writers import (_default_builder,
                                                  _UpdateJournalTask)
    from mongo_hadoop_spark.store import DocumentStore

    # read from the live backend, aggregate per status
    src = read_live(registered, store)
    agg = (src.groupBy("status")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("qty").alias("total_qty")))

    # journal the aggregate as upserts (the task half), then replay into
    # a destination fake server (the commit half)
    spool = DocumentStore(str(tmp_path / "spool"))
    agg.foreachPartition(
        _UpdateJournalTask(spool.path, "status_rollup",
                           _default_builder("upsert", ["status"])))
    dest = FakeCollection("status_rollup")
    stats = commit_updates_live(spool.path, "status_rollup", dest)
    assert stats["upserted"] == 2
    final = {d["status"]: d for d in dest.find()}
    assert final["A"]["n"] == 100 and final["B"]["n"] == 100
    assert final["A"]["total_qty"] == sum(i for i in range(200) if i % 2)


def test_store_cursor_limit_zero_means_no_limit(store):
    """pymongo protocol: limit(0) is 'no limit' — the store-backed cursor
    must agree with FakeCursor and real pymongo."""
    from mongo_hadoop_spark.sources.live_read import StoreBackedCollection

    coll = StoreBackedCollection(store.path, "orders")
    assert len(list(coll.find({}).limit(0))) == 200
    assert len(list(coll.find({}).limit(5))) == 5


def test_live_write_append_and_read_back(registered, store, tmp_path):
    """df.write backend=live: per-task ordered insert_many batches (the
    MongoRecordWriter shape), read back through the live read path."""
    dest = str(tmp_path / "livedb")
    uri = f"mongodb://localhost/testdb.sink?storePath={dest}"
    df = registered.range(2500).selectExpr("id AS k", "id * 2 AS v")
    (df.repartition(2).write.format("mongodoc")
     .option("backend", "live").option("uri", uri)
     .option("client_factory", FACTORY)
     .option("batch_size", "1000").mode("append").save())

    back = (registered.read.format("mongodoc")
            .option("backend", "live").option("uri", uri)
            .option("client_factory", FACTORY).load())
    assert back.count() == 2500
    assert {r["k"] for r in back.collect()} == set(range(2500))
    # one store segment per insert_many call -> >= ceil-per-partition batches
    import glob as _g
    import os as _os
    segs = _g.glob(_os.path.join(dest, "sink", "*.bson*"))
    assert len(segs) >= 3  # 2500 rows / 1000 per batch across 2 tasks

    with pytest.raises(Exception, match="append"):
        (df.write.format("mongodoc").option("backend", "live")
         .option("uri", uri).option("client_factory", FACTORY)
         .mode("overwrite").save())


# ---------------------------------------------------------------------------
# Streaming tail (DocumentStreamReader): segments become micro-batches
# ---------------------------------------------------------------------------


def _tail_stream(spark, store, out_dir, **options):
    r = (spark.readStream.format("mongodoc")
         .option("path", store.path).option("collection", "orders"))
    for k, v in options.items():
        r = r.option(k, v)
    df = r.load()
    return (df.writeStream.format("parquet")
            .option("path", f"{out_dir}/data")
            .option("checkpointLocation", f"{out_dir}/ckpt")
            .trigger(availableNow=True))


def test_stream_tail_reads_existing_then_new_segments(
        registered, store, tmp_path):
    spark = registered
    out = str(tmp_path / "out")
    q = _tail_stream(spark, store, out).start()
    q.awaitTermination(120)
    got = spark.read.parquet(f"{out}/data")
    assert got.count() == 200
    # append a new segment; a second availableNow run picks up ONLY it
    store.collection("orders").insert_many(
        [{"_id": 1000 + i, "status": "C", "qty": i,
          "nested": {"tag": "t9"}, "price": 1.0} for i in range(7)],
        segment_hint="seg2")
    q2 = _tail_stream(spark, store, out).start()
    q2.awaitTermination(120)
    got2 = spark.read.parquet(f"{out}/data")
    assert got2.count() == 207
    assert got2.where(F.col("status") == "C").count() == 7


def test_stream_tail_starting_offsets_latest_and_query(
        registered, store, tmp_path):
    spark = registered
    out = str(tmp_path / "out2")
    # latest: existing segments are skipped entirely
    q = _tail_stream(spark, store, out,
                     startingOffsets="latest",
                     query='{"qty": {"$gte": 3}}').start()
    q.awaitTermination(120)
    import os

    datadir = f"{out}/data"
    n0 = (spark.read.parquet(datadir).count()
          if os.path.exists(datadir) and os.listdir(datadir) else 0)
    assert n0 == 0
    store.collection("orders").insert_many(
        [{"_id": 2000 + i, "status": "D", "qty": i,
          "nested": {"tag": "t8"}, "price": 2.0} for i in range(10)],
        segment_hint="seg3")
    q2 = _tail_stream(spark, store, out,
                      startingOffsets="latest",
                      query='{"qty": {"$gte": 3}}').start()
    q2.awaitTermination(120)
    got = spark.read.parquet(datadir)
    # only the 7 new docs with qty >= 3 (server-side query on the tail)
    assert got.count() == 7
    assert got.agg(F.min("qty")).collect()[0][0] == 3


def test_stream_tail_rejects_multi_collection(store):
    from mongo_hadoop_spark.sources.mongo_datasource import (
        DocumentStreamReader,
    )

    with pytest.raises(ValueError, match="exactly one collection"):
        DocumentStreamReader(
            {"path": store.path, "collection": "orders,other"}, None)


def test_live_shard_chunk_splitter(spark, tmp_path):
    """splitter=shard_chunk against a live topology: partition planning
    reads config.chunks/config.shards through the client (the mongos
    route of ShardChunkMongoSplitter.java:59-148), one partition per
    chunk, disjoint range cover — the read equals the single-split scan
    with no duplicated or dropped documents."""
    from mongo_hadoop_spark.sources import register
    from mongo_hadoop_spark.sources.live_read import StoreBackedCollection

    register(spark)
    store = str(tmp_path / "shardeddb")
    data = [{"_id": i, "k": i, "v": f"r{i}"} for i in range(100)]
    StoreBackedCollection(store, "c").insert_many(data)
    StoreBackedCollection(store, "chunks").insert_many([
        {"_id": "c-0", "ns": "db.c", "min": None, "max": {"k": 30},
         "shard": "s0"},
        {"_id": "c-1", "ns": "db.c", "min": {"k": 30}, "max": {"k": 60},
         "shard": "s1"},
        {"_id": "c-2", "ns": "db.c", "min": {"k": 60}, "max": None,
         "shard": "s0"},
        {"_id": "other", "ns": "db.other", "min": None, "max": None,
         "shard": "s1"},
    ])
    StoreBackedCollection(store, "shards").insert_many([
        {"_id": "s0", "host": "rs0/h1:27017,h2:27017"},
        {"_id": "s1", "host": "h3:27017"},
    ])
    uri = f"mongodb://localhost/db.c?storePath={store}"
    factory = "mongo_hadoop_spark.sources.live_read:store_client"
    df = (spark.read.format("mongodoc")
          .option("backend", "live").option("uri", uri)
          .option("client_factory", factory)
          .option("splitter", "shard_chunk").option("key", "k")
          .load())
    rows = df.collect()
    assert df.rdd.getNumPartitions() == 3          # one per db.c chunk
    assert sorted(r["k"] for r in rows) == list(range(100))  # disjoint cover
    # chunk ranges compose with a user query
    df2 = (spark.read.format("mongodoc")
           .option("backend", "live").option("uri", uri)
           .option("client_factory", factory)
           .option("splitter", "shard_chunk").option("key", "k")
           .option("query", '{"k": {"$gte": 25, "$lt": 65}}')
           .load())
    assert sorted(r["k"] for r in df2.collect()) == list(range(25, 65))
    # unsharded namespace fails loudly at split planning
    bad = f"mongodb://localhost/db.shards?storePath={store}"
    with pytest.raises(Exception, match="config.chunks"):
        (spark.read.format("mongodoc")
         .option("backend", "live").option("uri", bad)
         .option("client_factory", factory)
         .option("splitter", "shard_chunk").load()).collect()


def test_live_shard_chunk_wrong_key_fails_loudly(spark, tmp_path):
    """A doc-form chunk bound without the configured key must raise —
    silently unbounded ranges would duplicate every row per chunk."""
    from mongo_hadoop_spark.sources import register
    from mongo_hadoop_spark.sources.live_read import StoreBackedCollection

    register(spark)
    store = str(tmp_path / "wrongkey")
    StoreBackedCollection(store, "c").insert_many(
        [{"_id": i, "user_id": i} for i in range(5)])
    StoreBackedCollection(store, "chunks").insert_many([
        {"_id": "c-0", "ns": "db.c", "min": {"user_id": 0},
         "max": {"user_id": 5}, "shard": "s0"}])
    StoreBackedCollection(store, "shards").insert_many(
        [{"_id": "s0", "host": "h:27017"}])
    uri = f"mongodb://localhost/db.c?storePath={store}"
    with pytest.raises(Exception, match="has no ..?field '_id'|no\\s+field"):
        (spark.read.format("mongodoc")
         .option("backend", "live").option("uri", uri)
         .option("client_factory",
                 "mongo_hadoop_spark.sources.live_read:store_client")
         .option("splitter", "shard_chunk").load()).collect()


def test_live_shard_chunk_uuid_keyed_chunks(spark, tmp_path):
    """MongoDB 5.0+ keys config.chunks by collection uuid instead of ns
    (SERVER-53105): the splitter must resolve the uuid through
    config.collections and find the same chunks."""
    from mongo_hadoop_spark.sources import register
    from mongo_hadoop_spark.sources.live_read import StoreBackedCollection

    register(spark)
    store = str(tmp_path / "uuiddb")
    StoreBackedCollection(store, "c").insert_many(
        [{"_id": i, "k": i} for i in range(40)])
    StoreBackedCollection(store, "collections").insert_many([
        {"_id": "db.c", "uuid": "u-123"},
        {"_id": "db.other", "uuid": "u-999"},
    ])
    StoreBackedCollection(store, "chunks").insert_many([
        {"_id": "c-0", "uuid": "u-123", "min": None, "max": {"k": 20},
         "shard": "s0"},
        {"_id": "c-1", "uuid": "u-123", "min": {"k": 20}, "max": None,
         "shard": "s1"},
        {"_id": "x", "uuid": "u-999", "min": None, "max": None,
         "shard": "s0"},
    ])
    StoreBackedCollection(store, "shards").insert_many([
        {"_id": "s0", "host": "h1:27017"}, {"_id": "s1", "host": "h2:27017"},
    ])
    uri = f"mongodb://localhost/db.c?storePath={store}"
    df = (spark.read.format("mongodoc")
          .option("backend", "live").option("uri", uri)
          .option("client_factory",
                  "mongo_hadoop_spark.sources.live_read:store_client")
          .option("splitter", "shard_chunk").option("key", "k")
          .load())
    assert df.rdd.getNumPartitions() == 2
    assert sorted(r["k"] for r in df.collect()) == list(range(40))
    # a namespace absent from both chunks and collections still fails
    bad = f"mongodb://localhost/db.shards?storePath={store}"
    with pytest.raises(Exception, match="config.chunks"):
        (spark.read.format("mongodoc")
         .option("backend", "live").option("uri", bad)
         .option("client_factory",
                 "mongo_hadoop_spark.sources.live_read:store_client")
         .option("splitter", "shard_chunk").load()).collect()
