"""Document store: cursor semantics, commit protocol, GridFS analog."""

from __future__ import annotations

from mongo_hadoop_spark.store import DocumentStore


def make_store(tmp_path):
    return DocumentStore(str(tmp_path / "db"))


def test_insert_find_cursor_options(tmp_path):
    store = make_store(tmp_path)
    c = store.collection("items")
    c.insert_many([{"_id": i, "v": i % 3, "s": f"x{i}"} for i in range(20)])

    assert c.count() == 20
    assert c.count({"v": 0}) == 7
    # filter → sort → skip → limit → project (MongoInputSplit.getCursor order)
    got = c.find({"v": 0}, projection={"_id": 1}, sort=[("_id", -1)], skip=1, limit=2)
    assert got == [{"_id": 15}, {"_id": 12}]


def test_multi_segment_and_stats(tmp_path):
    store = make_store(tmp_path)
    c = store.collection("seg")
    c.insert_many([{"i": 1}])
    c.insert_many([{"i": 2}])
    assert len(c.segments()) == 2
    st = c.stats()
    assert st["count"] == 2 and st["size"] > 0 and st["avgObjSize"] > 0


def test_commit_protocol_leaves_no_temp(tmp_path):
    store = make_store(tmp_path)
    c = store.collection("t")
    c.insert_many([{"i": i} for i in range(5)])
    import os
    names = os.listdir(c.path)
    assert all(not n.endswith(".inprogress") for n in names)


def test_sample_values_deterministic(tmp_path):
    store = make_store(tmp_path)
    c = store.collection("s")
    c.insert_many([{"k": i} for i in range(1000)])
    a = c.sample_values("k", 50)
    b = c.sample_values("k", 50)
    assert a == b and len(a) == 50


def test_create_index_records_intent(tmp_path):
    store = make_store(tmp_path)
    c = store.collection("idx")
    c.create_index([("user", 1), ("ts", -1)], unique=True)
    assert c.requested_indexes() == ["user_1_ts_-1"]


def test_gridfs_roundtrip(tmp_path):
    store = make_store(tmp_path)
    data = bytes(range(256)) * 40  # 10240 bytes
    fid = store.gridfs_put("blob.bin", data, chunk_size=4096,
                           metadata={"kind": "test"})
    files = store.collection("fs.files").find({"_id": fid})
    assert files[0]["length"] == len(data)
    assert files[0]["numChunks"] == 3
    assert store.gridfs_get(fid) == data


def test_drop(tmp_path):
    store = make_store(tmp_path)
    store.collection("gone").insert_many([{"a": 1}])
    assert "gone" in store.list_collections()
    store.drop("gone")
    assert "gone" not in store.list_collections()


def test_segment_meta_sidecar_fast_count(tmp_path):
    """insert_many commits a .meta.json stats sidecar per segment; an
    unfiltered count() sums sidecars without decoding any document, and
    falls back to a decode scan per segment whose sidecar is missing."""
    import os

    from mongo_hadoop_spark.store import META_SUFFIX

    store = make_store(tmp_path)
    c = store.collection("metered")
    c.insert_many([{"a": i} for i in range(7)])
    c.insert_many([{"a": i} for i in range(5)])
    segs = c.segments()
    assert len(segs) == 2
    for seg in segs:
        assert os.path.exists(seg + META_SUFFIX)
    assert c.count() == 12
    assert c.count(limit=10) == 10
    # stats() is metadata-only too
    assert c.stats()["count"] == 12
    # remove one sidecar → that segment is scanned, total unchanged
    os.remove(segs[0] + META_SUFFIX)
    assert c.count() == 12
    # filtered count still scans
    assert c.count({"a": {"$gte": 3}}) == 4 + 2


def test_rewrite_refreshes_meta(tmp_path):
    import os

    from mongo_hadoop_spark.store import META_SUFFIX

    store = make_store(tmp_path)
    c = store.collection("rw")
    c.insert_many([{"a": i} for i in range(9)])
    c.rewrite([{"a": i} for i in range(4)])
    segs = c.segments()
    assert len(segs) == 1
    assert os.path.exists(segs[0] + META_SUFFIX)
    assert c.count() == 4
    # no stale sidecars left behind
    metas = [p for p in os.listdir(c.path) if p.endswith(META_SUFFIX)]
    assert len(metas) == 1
    store.drop("rw")


def test_zone_map_prunes_segment_io(tmp_path):
    """Pruning skips the segment's bytes entirely: after corrupting the
    .bson file (sidecar intact), an out-of-bounds query still answers
    (segment never decoded) while an in-bounds query hits the corruption."""
    import pytest

    store = make_store(tmp_path)
    c = store.collection("zoned")
    c.insert_many([{"a": i, "tag": f"t{i}"} for i in range(10)])
    seg = c.segments()[0]
    with open(seg, "wb") as f:
        f.write(b"\xff" * 32)  # garbage: any decode now fails

    assert c.find({"a": {"$gte": 100}}) == []          # pruned, no decode
    assert c.find({"tag": "zzz"}) == []                 # string bounds prune
    assert c.find({"a": {"$in": [50, 60]}}) == []       # $in prune
    with pytest.raises(Exception):
        c.find({"a": {"$gte": 5}})                      # overlaps → decodes


def test_zone_map_mixed_and_nested_keys_not_pruned(tmp_path):
    store = make_store(tmp_path)
    c = store.collection("mixed")
    c.insert_many([
        {"a": 1, "m": 5},
        {"a": "two", "m": {"x": 1}},   # a: mixed family; m: poisoned by dict
    ])
    # poisoned keys never prune — queries still evaluate correctly
    assert len(c.find({"a": 1})) == 1
    assert len(c.find({"a": "two"})) == 1
    assert len(c.find({"m.x": 1})) == 1   # dotted path: no top-level bounds


def test_drop_removes_splits_sidecars(tmp_path):
    """drop() must clear .splits sidecars or rmdir fails (ADVICE r1)."""
    import os

    from mongo_hadoop_spark import bsonio

    store = DocumentStore(str(tmp_path / "db"))
    coll = store.collection("c")
    coll.insert_many(({"i": i} for i in range(20)))
    for seg in coll.segments():
        bsonio.write_splits_sidecar(seg, bsonio.find_split_points(seg, 64))
        assert os.path.exists(bsonio.sidecar_path(seg))
    store.drop("c")
    assert "c" not in store.list_collections()


def test_rewrite_clears_old_splits_sidecars(tmp_path):
    import os

    from mongo_hadoop_spark import bsonio

    store = DocumentStore(str(tmp_path / "db"))
    coll = store.collection("c")
    coll.insert_many(({"i": i} for i in range(20)))
    old_segs = coll.segments()
    for seg in old_segs:
        bsonio.write_splits_sidecar(seg, bsonio.find_split_points(seg, 64))
    coll.rewrite([{"i": 99}])
    for seg in old_segs:
        assert not os.path.exists(bsonio.sidecar_path(seg))
    assert [d["i"] for d in coll.find()] == [99]


def test_compact_merges_small_segments(tmp_path):
    """Many per-task segments → few packed ones; contents, counts, and
    zone-map pruning all preserved."""
    from mongo_hadoop_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "cdb"))
    coll = store.collection("c")
    for i in range(10):
        coll.insert_many([{"k": i * 100 + j, "s": f"v{i}-{j}"}
                          for j in range(50)])
    assert len(coll.segments()) == 10
    before_docs = sorted(coll.find(), key=lambda d: d["k"])
    before_count = coll.count()

    stats = coll.compact(target_bytes=1 << 20)  # everything fits in one
    assert stats["before"] == 10 and stats["rewritten"] == 500
    assert len(coll.segments()) == stats["after"] <= 2
    assert coll.count() == before_count
    assert sorted(coll.find(), key=lambda d: d["k"]) == before_docs
    # zone-map sidecars rebuilt: a range query still prunes/answers
    assert coll.count({"k": {"$gte": 900}}) == len(
        [d for d in before_docs if d["k"] >= 900])


def test_compact_respects_target_size(tmp_path):
    from mongo_hadoop_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "cdb2"))
    coll = store.collection("c")
    for i in range(8):
        coll.insert_many([{"k": i, "pad": "x" * 1000}] * 20)
    stats = coll.compact(target_bytes=8000)  # ~8 docs per segment
    assert stats["after"] > 1               # split across several
    assert coll.count() == 160
    sizes = [__import__("os").path.getsize(s) for s in coll.segments()]
    assert max(sizes) <= 8000 + 1100        # one doc overshoot at most


def _fail_segment_publish(monkeypatch):
    """Make the segment rename of publish() fail (the meta rename before
    it still succeeds), as a crash or full disk would."""
    import os

    real = os.rename

    def rename(src, dst):
        if dst.endswith(".bson"):
            raise OSError("injected publish failure")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", rename)


def test_rewrite_failed_publish_keeps_old_documents(tmp_path, monkeypatch):
    import pytest

    store = make_store(tmp_path)
    c = store.collection("rw")
    c.insert_many([{"a": i} for i in range(5)])
    _fail_segment_publish(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        c.rewrite([{"a": 99}])
    monkeypatch.undo()
    assert sorted(d["a"] for d in c.find()) == list(range(5))
    assert c.count() == 5
    store.drop("rw")
    assert "rw" not in store.list_collections()


def test_overwrite_failed_publish_keeps_old_documents(tmp_path, monkeypatch):
    """The mongodoc overwrite commit publishes before it retires: a failed
    publish leaves the documents that were there before."""
    import pytest
    from pyspark.sql import Row
    from pyspark.sql.types import LongType, StructField, StructType

    from mongo_hadoop_spark.sources.mongo_datasource import DocumentWriter

    store = make_store(tmp_path)
    c = store.collection("ow")
    c.insert_many([{"a": i} for i in range(5)])
    writer = DocumentWriter({"path": store.path, "collection": "ow"},
                            StructType([StructField("a", LongType())]),
                            overwrite=True)
    message = writer.write(iter([Row(a=99)]))
    _fail_segment_publish(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        writer.commit([message])
    monkeypatch.undo()
    writer.abort([message])
    assert sorted(d["a"] for d in c.find()) == list(range(5))
    assert c.count() == 5
