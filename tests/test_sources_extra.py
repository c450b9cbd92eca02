"""bson format helpers, GridFS DataFrame readers, Hive-style SQL views."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from mongo_hadoop_spark import bsonio
from mongo_hadoop_spark.sources.bson_format import read_bson, write_bson
from mongo_hadoop_spark.sources.gridfs import (
    read_gridfs_chunks, read_gridfs_files, read_gridfs_text_tokens,
)
from mongo_hadoop_spark.sources.sqlviews import register_collection_view
from mongo_hadoop_spark.store import DocumentStore


@pytest.fixture()
def registered(spark):
    from mongo_hadoop_spark.sources import register

    register(spark)
    return spark


def test_bson_roundtrip_via_dataframe(registered, tmp_path):
    df = registered.createDataFrame(
        [(i, f"n{i}", float(i) / 2) for i in range(25)],
        "i long, name string, v double",
    )
    out = str(tmp_path / "dump")
    write_bson(df, out)
    back = read_bson(registered, out)
    assert back.count() == 25
    assert {r.name for r in back.collect()} == {f"n{i}" for i in range(25)}
    # raw file is valid BSON (mongorestore-compatible framing)
    import glob
    seg = glob.glob(out + "/*.bson")[0]
    with open(seg, "rb") as f:
        docs = list(bsonio.decode_file_iter(f))
    assert set(docs[0]) == {"i", "name", "v"}


@pytest.fixture()
def dump(registered, tmp_path):
    """A directory already holding one two-row .bson dump."""
    out = str(tmp_path / "dump")
    write_bson(registered.createDataFrame([(1,), (2,)], "i long"), out)
    return out


def test_write_bson_error_mode_refuses_existing_segments(registered, dump):
    df = registered.createDataFrame([(3,)], "i long")
    with pytest.raises(FileExistsError):
        write_bson(df, dump)
    with pytest.raises(FileExistsError):
        write_bson(df, dump, mode="error")
    assert read_bson(registered, dump).count() == 2


def test_write_bson_append_mode(registered, dump):
    write_bson(registered.createDataFrame([(3,)], "i long"), dump, mode="append")
    assert sorted(r.i for r in read_bson(registered, dump).collect()) == [1, 2, 3]


def test_write_bson_overwrite_mode(registered, dump):
    write_bson(registered.createDataFrame([(3,)], "i long"), dump,
               mode="overwrite")
    assert [r.i for r in read_bson(registered, dump).collect()] == [3]


def test_write_bson_unknown_mode(registered, dump):
    with pytest.raises(ValueError, match="mode"):
        write_bson(registered.createDataFrame([(3,)], "i long"), dump,
                   mode="ignore")
    assert read_bson(registered, dump).count() == 2


def test_read_single_bson_file(registered, tmp_path):
    p = str(tmp_path / "one.bson")
    bsonio.write_bson_file(p, ({"k": i, "tag": f"t{i%3}"} for i in range(40)))
    df = read_bson(registered, p, query='{"tag": "t0"}')
    assert df.count() == 14


@pytest.fixture()
def media_store(tmp_path):
    store = DocumentStore(str(tmp_path / "media"))
    store.gridfs_put("a.txt", b"alpha\nbeta\r\ngamma", chunk_size=4)
    store.gridfs_put("b.txt", b"delta\nepsilon", chunk_size=4)
    store.gridfs_put("blob.bin", bytes(range(200)), chunk_size=64,
                     metadata={"kind": "binary"})
    return store


def test_gridfs_chunks(registered, media_store):
    chunks = read_gridfs_chunks(registered, media_store.path)
    assert chunks.where(F.col("filename") == "blob.bin").count() == 4  # 200/64
    got = chunks.groupBy("filename").agg(F.count(F.lit(1)).alias("n")).collect()
    assert {r.filename: r.n for r in got}["a.txt"] == 5  # ceil(17/4)


def test_gridfs_whole_files(registered, media_store):
    files = read_gridfs_files(registered, media_store.path)
    content = {r.filename: bytes(r.content) for r in files.collect()}
    assert content["a.txt"] == b"alpha\nbeta\r\ngamma"
    assert content["blob.bin"] == bytes(range(200))


def test_gridfs_text_tokens_default_delimiter(registered, media_store):
    toks = read_gridfs_text_tokens(
        registered, media_store.path,
        file_query='{"filename": {"$regex": "\\\\.txt$"}}',
    )
    got = sorted(r.token for r in toks.collect())
    assert got == sorted(["alpha", "beta", "gamma", "delta", "epsilon"])


def test_sql_view_with_columns_mapping(registered, tmp_path):
    # HiveQueryTest fixture: 1000 docs {_id, i, j=i%5}; view col id ↔ _id
    store = DocumentStore(str(tmp_path / "hivedb"))
    store.collection("querytest").insert_many(
        [{"_id": i, "i": i, "j": i % 5} for i in range(1000)]
    )
    register_collection_view(registered, store.path, "querytest", "querytest",
                             columns_mapping={"id": "_id"})
    # HiveQueryTest.java:33-61 row-count assertions
    assert registered.sql("SELECT * FROM querytest WHERE i > 20").count() == 979
    assert registered.sql(
        "SELECT * FROM querytest WHERE i > 20 AND j = 0").count() == 195
    assert registered.sql(
        "SELECT * FROM querytest WHERE j > 2 AND j = 0").count() == 0
    assert registered.sql("SELECT max(id) FROM querytest").collect()[0][0] == 999


@pytest.mark.parametrize("ext", [".gz", ".bz2"])
def test_read_compressed_bson_dataframe(registered, tmp_path, ext):
    """Codec-suffixed dumps read like plain ones, as ONE partition each
    (unsplittable, BSONFileInputFormat.java:45-60)."""
    docs = [{"k": i, "tag": f"t{i % 3}"} for i in range(60)]
    plain = str(tmp_path / "a.bson")
    comp = str(tmp_path / ("b.bson" + ext))
    bsonio.write_bson_file(plain, docs[:30])
    bsonio.write_bson_file(comp, docs[30:])
    df = read_bson(registered, str(tmp_path), split_size=64)
    assert df.count() == 60
    # the plain half splits by bytes; the compressed half is a single task
    comp_only = read_bson(registered, comp, split_size=64)
    assert comp_only.rdd.getNumPartitions() == 1
    assert comp_only.count() == 30
    # query pushdown still applies through the codec stream
    assert read_bson(registered, comp, query='{"tag": "t0"}').count() == 10


def test_extjson_lines_roundtrip(spark, tmp_path):
    """mongoexport interchange: extended-JSON lines → DataFrame → lines."""
    import json

    from mongo_hadoop_spark import bsonio
    from mongo_hadoop_spark.sources.extjson import (
        read_extjson_lines, to_extjson_value, write_extjson_lines,
    )

    p = str(tmp_path / "dump.json")
    docs = [
        {"_id": {"$oid": f"{i:024x}"}, "k": i, "name": f"n{i}",
         "ts": {"$date": 1700000000000 + i * 1000}}
        for i in range(25)
    ]
    with open(p, "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")

    df = read_extjson_lines(spark, p)
    assert df.count() == 25
    got = {r.k: r for r in df.collect()}
    assert got[3].name == "n3"
    # ObjectId survives as its hex form, $date as timestamp
    assert "3" in str(got[3]._id) or got[3]._id is not None

    out = str(tmp_path / "out")
    write_extjson_lines(df.select("k", "name"), out)
    back = read_extjson_lines(spark, out)
    assert back.count() == 25
    assert {r.name for r in back.collect()} == {f"n{i}" for i in range(25)}
