""".bson files ⇄ DataFrames (mongorestore interchange).

Reference: BSONFileInputFormat / BSONFileOutputFormat (SURVEY §2.1 S4/S5,
§2.10 W4) — scan `.bson` dumps with document-boundary splits, write dumps
restorable by mongorestore.  Here the read path goes through the mongodoc
DataSource's byte-range partitions (one task per ~split_size of file), and
the write path emits one `.bson` segment per task via the commit protocol.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from mongo_hadoop_spark.store import DocumentCollection


def read_bson(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    split_size: int | None = None,
    query: str | None = None,
) -> DataFrame:
    """Read a .bson file (or directory / glob of them) as a DataFrame.

    The mongodoc DataSource expects a store/collection layout, so the
    file's parent directory acts as the store and the file(s) are exposed
    as a one-off collection view via symlinks in a planning directory —
    zero copy of data bytes.
    """
    import tempfile

    if os.path.isdir(path):
        files = DocumentCollection(path).segments()
    else:
        files = sorted(glob.glob(path)) if any(c in path for c in "*?[") else [path]
    files = [f for f in files if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no .bson files under {path!r}")

    store_dir = tempfile.mkdtemp(prefix="bson_read_")
    coll_dir = os.path.join(store_dir, "data")
    os.makedirs(coll_dir)
    for f in files:
        os.symlink(os.path.abspath(f), os.path.join(coll_dir, os.path.basename(f)))

    reader = (
        spark.read.format("mongodoc")
        .option("path", store_dir)
        .option("collection", "data")
        .option("splitter", "bson_file")
    )
    if split_size:
        reader = reader.option("split_size", str(split_size))
    if query:
        reader = reader.option("query", query)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load()


def write_bson(df: DataFrame, path: str, mode: str = "error") -> None:
    """Write a DataFrame as .bson segments under ``path`` (a directory);
    the segments concatenate into a valid mongorestore dump.  ``mode`` is
    ``error`` (refuse a directory that already holds segments),
    ``append`` or ``overwrite``."""
    if mode not in ("error", "append", "overwrite"):
        raise ValueError(f"write_bson mode must be error, append or "
                         f"overwrite, got {mode!r}")
    if mode == "error" and DocumentCollection(path).segments():
        raise FileExistsError(f"{path!r} already holds .bson segments; "
                              "use mode='append' or 'overwrite'")
    parent, name = os.path.split(path.rstrip("/"))
    (df.write.format("mongodoc")
       .option("path", parent or ".")
       .option("collection", name)
       .mode("overwrite" if mode == "overwrite" else "append")
       .save())
