"""SparkSession factory with scale-appropriate defaults.

Design notes (100 TB posture):
- AQE on (runtime coalesce, skew-join splitting) — replaces the reference's
  static split sizing (`mongo.input.split_size`, 8 MB) with runtime
  re-planning; our sources still plan initial partitions explicitly.
- `spark.sql.shuffle.partitions` defaults to the local core count for tests;
  on a real cluster AQE's coalescing makes the initial number less critical.
- Session timezone pinned to UTC so date/time semantics are reproducible and
  match the DuckDB oracle (naive timestamps).
- Arrow enabled for every Python boundary (Pandas UDF / mapInPandas /
  toPandas) — the analog of the reference's pickle bridge
  (spark/src/main/python/pymongo_spark.py) but columnar and vectorized.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mongo-hadoop-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured; on a real deployment the
    ``spark-submit`` master wins.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Only set master when not already provided by the environment
    # (spark-submit --master takes precedence on clusters).
    if "SPARK_MASTER" not in os.environ:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", master))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: session → {(realpath, mtime_ns, size) → loaded DataFrame}.  A
#: DataFrame is an immutable logical plan, so reuse is safe; keying on the
#: file's stat identity invalidates on regeneration.  The outer map is a
#: WeakKeyDictionary on the SparkSession itself: a DataFrame is bound to
#: the exact session that created it (newSession() siblings share an
#: applicationId but not temp views/confs), and weak keys mean a dead
#: session's entries vanish with it — no id()-reuse collisions, no leak
#: from short-lived sessions.  This is the catalog role: without it every
#: query rebuild re-lists and re-footers the same parquet (~0.1 s per
#: table per build — measured at 0.3-0.9 s per multi-table query).
import weakref

_TABLE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def table(spark: SparkSession, sf_dir: str, name: str):
    """Load one synthetic table (parquet) from a scale-factor directory.

    Normalizes timestamp physical encodings so operators never see them:

    - nanosecond-precision INT64 parquet timestamps (which Spark's
      converter rejects) are read as raw nanos via the legacy conf and
      truncated to microsecond timestamps — the same ns→µs truncation
      DuckDB applies, keeping the oracle comparison exact;
    - tz-less ``timestamp[us]`` parquet (read by Spark as TIMESTAMP_NTZ)
      is cast to ``timestamp``.  The NTZ→LTZ reinterpretation happens in
      the session timezone, so the session timezone is pinned to UTC here
      (not only in `get_spark` — external harnesses hand us vanilla
      sessions in arbitrary host timezones).  Under UTC the cast is exact
      and matches DuckDB's naive-timestamp semantics; functions like
      ``unix_micros`` that reject NTZ input then work uniformly.

    This engine declares UTC datetime semantics: every operator reads its
    inputs through this function, so pinning here makes date/time results
    session-TZ-independent by construction.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = per_session = None
    try:
        st = os.stat(path)
        # abspath, NOT realpath: the DataFrame binds to the path it was
        # read from, and collapsing a symlink with its target would serve
        # a DataFrame bound to the other access path (which may be gone)
        key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
        per_session = _TABLE_CACHE.setdefault(spark, {})
    except (OSError, TypeError):
        pass  # missing file, or a session object that can't be weakly keyed
    if per_session is not None and key in per_session:
        return per_session[key]
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    try:
        # source-size breadcrumb consumed by spread() below
        df._mhs_src_bytes = os.stat(path).st_size
    except OSError:
        pass
    if per_session is not None:
        per_session[key] = df
    return df


def materialize(df, name: str, eager: bool = False):
    """The package's one materialization point: ``df.localCheckpoint``
    under the Spark job description ``name``.

    Policy.  Materialize only what a consumer reads more than once
    (Catalyst inlines a subtree at every plan reference, and column
    pruning gives each reference a different subtree, so ReuseExchange
    does not deduplicate them) or what a loop would otherwise re-execute
    every round (lineage truncation).  Always ``localCheckpoint``, never
    ``persist()``/``cache()``: a persisted deterministic plan registers
    in the session CacheManager and is silently served to later queries
    that build the same plan, so a repeated run would read the previous
    run's blocks instead of computing.  A local checkpoint belongs to
    the RDD this call builds; its blocks are freed once the returned
    DataFrame is unreachable.  The trade: local checkpoint blocks live
    on executor storage and are not recomputable, so losing an executor
    loses them.

    ``eager=False`` defers the final stage to the consumer's first
    action; the upstream shuffle stages still run at call time under
    AQE.  ``eager=True`` runs the whole plan now; the loops whose
    convergence scalar rides an ``Observation`` on the checkpoint pass
    need it.  Either way the jobs the call itself triggers carry
    ``name`` as their description, and the caller's description is
    restored afterwards."""
    sc = df.sparkSession.sparkContext
    old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        return df.localCheckpoint(eager=eager)
    finally:
        sc.setLocalProperty("spark.job.description", old)


def spread(spark: SparkSession, df):
    """Parallelism repair for unsplittable local inputs (optimization
    guide §2.5 "input skew: one huge unsplittable file … repartition
    immediately after the read" / §6 input split sizing).

    The local test tables are single-file, SINGLE-ROW-GROUP parquet, so
    any scan of them is one task no matter how `maxPartitionBytes` /
    `minPartitionNum` slice the byte range — heavy per-row work riding
    the scan (trig kernels, tokenization, decimal partial aggregation)
    serializes on one core.  This helper round-robin-repartitions to the
    session default parallelism ONLY when the source's estimated split
    count is below it:

        est_splits = max(1, file_bytes // maxPartitionBytes)

    At cluster scale — multi-file inputs totalling ≥ cores ×
    maxPartitionBytes — the condition is false and the call is an exact
    no-op: the plan gains no Exchange and the scale posture (map work
    rides the scan) is unchanged.  Catalyst pushes filters and prunes
    columns through Repartition, so pushed scan predicates survive.

    Only row-value-preserving queries may use this: a round-robin
    exchange changes row ENCOUNTER ORDER, so operators whose results
    depend on it ($push/$first without sort keys, $mergeObjects
    accumulators) must not sit downstream.  Every call site is
    oracle-re-verified (see OPTIMIZATION_r12.md).

    ``SPARK_GRAFT_SPREAD=0`` disables it (plan-posture tests assert the
    scale-shape plan through this switch)."""
    if os.environ.get("SPARK_GRAFT_SPREAD", "1") == "0":
        return df
    size = getattr(df, "_mhs_src_bytes", None)
    if size is None:
        return df
    try:
        # Spark's own byte-string parser (r12 advisor: the previous
        # string surgery treated k/m/g as decimal — ~5-7% off for binary
        # units — and misparsed forms like "0.5g")
        max_pb = int(spark._jvm.org.apache.spark.util.Utils
                     .byteStringAsBytes(
                         spark.conf.get("spark.sql.files.maxPartitionBytes")))
    except Exception:
        max_pb = 128 * 1024 * 1024
    par = spark.sparkContext.defaultParallelism
    if max(1, size // max_pb) >= par:
        return df
    return df.repartition(par)
