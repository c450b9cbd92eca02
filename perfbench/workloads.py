"""The two workloads: ``queries`` and ``connector``.

A workload turns the seed into its inputs (``prepare``), sets up a
session (``setup``, timed, repeated), lists the jobs of one pass in seed
order (``jobs``) and checks the results of a timed phase (``check``).
One job is one query's build plus execute, or one connector operation.
Each job runs under its own Spark job groups (``<group>:build`` /
``<group>:exec``) so the traced run can read Spark's status stores per
group.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Callable

import datagen

# The ``queries`` workload runs both lists.  Headline queries of the
# execution-bound modules: relational*, windows, asof, skew and mongoagg
# (the aggpipe compiler's registry users).
ANALYTICS = [
    "tpch_q1", "count_distinct_suppliers", "tpch_q9_profit",
    "tpch_q16_supplier_cnt", "events_session_windows",
    "events_asof_last_order", "skew_salted_rollup",
    "pipeline_merge_objects_rollup",
]
# Headline queries of the build-bound modules: fixpoint loops, lazy
# checkpoints and pandas UDFs.
CORPUS = [
    "dedup_minhash_lsh_pairs", "ivf_knn", "corpus_bpe_merges", "text_langid",
    "multimodal_decode_features", "documents_epoch_shuffle",
    "embedding_pca_whitened",
]


@dataclass
class Job:
    name: str   # query name or connector operation
    run: Callable  # (tracer, job group) -> observed value


@dataclass
class Result:
    name: str
    start: float
    seconds: float
    observed: object = None
    error: str | None = None
    group: str = ""
    failed: bool = False
    spark: dict = field(default_factory=dict)  # job group phase -> status


class Workload:
    nominal_pass_s: float  # one pass on a 4-core host; sets passes per run

    def __init__(self, seed: int, seconds: int, work: str, small: bool = False):
        self.seed, self.work, self.small = seed, work, small
        self.cache = os.path.join(os.path.dirname(work), "oracle")
        self.passes = max(1, round(seconds / self.nominal_pass_s))
        self.spark = None
        self.traced = False

    def next_session(self, spark):
        """Session for a repeated set-up: a new one, with its own catalog,
        confs and ``session.table`` cache."""
        return spark.newSession()

    def group(self, group: str, phase: str, desc: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{group}:{phase}", desc)


class Queries(Workload):
    """Headline registry queries at sf0.01, one job each, in seed order."""

    nominal_pass_s = 12.0

    def prepare(self) -> None:
        self.sf_dir = datagen.tables(os.path.join(self.work, "data"),
                                     0.001 if self.small else 0.01)
        self.order = ANALYTICS + CORPUS
        random.Random(self.seed).shuffle(self.order)

    def setup(self, spark, tr) -> None:
        from mongo_hadoop_spark import operators
        from mongo_hadoop_spark.session import table

        self.spark = spark
        self.queries = operators.all_queries()
        self.built = {}
        t = {n: table(spark, self.sf_dir, n) for n in (
            "lineitem", "orders", "customer", "part", "supplier", "events",
            "documents", "embeddings")}
        # warm-up outside the timed region, so the first timed query does
        # not pay first-use costs: a scan-join-aggregate, a local
        # checkpoint, and the Python UDF workers
        (t["lineitem"].join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
         .groupBy("o_orderpriority").count().localCheckpoint()
         .write.format("noop").mode("overwrite").save())
        spark.range(64, numPartitions=spark.sparkContext.defaultParallelism) \
            .mapInPandas(lambda it: it, "id long").count()

    def jobs(self) -> list[Job]:
        return [Job(n, self._query_job(n)) for n in self.order]

    def _query_job(self, name: str):
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        fn = self.queries[name]

        def run(tr, group):
            self.group(group, "build", name)
            with tr.span("operators.build"):
                df = fn(self.spark, self.sf_dir)
            self.built[name] = df  # the check re-executes the last build
            if self.traced:
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            self.group(group, "exec", name)
            obs = Observation(f"rows_{group}")
            with tr.span("operators.exec"):
                (df.observe(obs, F.count(F.lit(1)).alias("n"))
                 .write.format("noop").mode("overwrite").save())
            return int(obs.get["n"])

        return run

    def check(self, results: list[Result], expect: dict | None = None) -> dict:
        """Oracle-check each query once, outside the timed region, by
        re-executing its last timed build; every timed execution's row
        count must equal the checked count.  ``expect`` overrides oracle
        results (the smoke test uses it to plant a wrong expectation)."""
        from mongo_hadoop_spark import oracle

        checked: dict[str, dict] = {}
        for name in self.order:
            try:
                want = self.reference(name)
                if expect and name in expect:
                    want = expect[name](want)
                res = oracle.compare(name, self.built[name], want)
                checked[name] = {"ok": res.ok, "rows": res.rows_spark,
                                 "why": "; ".join(res.mismatches[:2])}
            except Exception as exc:  # noqa: BLE001 — a check that raises fails
                checked[name] = {"ok": False, "rows": -1,
                                 "why": f"{type(exc).__name__}: {exc}"[:300]}
        for r in results:
            c = checked.get(r.name, {"ok": False, "rows": -1})
            r.failed = r.error is not None or not c["ok"] or r.observed != c["rows"]
        return checked

    def reference(self, name: str):
        """The DuckDB oracle's result for ``name`` on this run's tables.
        It depends only on the oracle SQL and the table bytes, so it is
        kept under ``.perfbench/oracle`` keyed by both (some oracles take
        half a minute; the program's own result is re-checked every run)."""
        import duckdb
        import pandas as pd
        from mongo_hadoop_spark import operators, oracle

        sql = operators.all_oracles()[name]
        key = hashlib.sha256(sql.encode())
        for t in oracle.TABLES:
            with open(os.path.join(self.sf_dir, f"{t}.parquet"), "rb") as f:
                key.update(f.read())
        path = os.path.join(self.cache, f"{name}-{key.hexdigest()[:24]}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{self.work}/duckdb'")
            for t in oracle.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            want = con.execute(sql).fetchdf()
        finally:
            con.close()
        os.makedirs(self.cache, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        want.to_parquet(tmp)
        os.replace(tmp, path)
        return want


# --- connector ----------------------------------------------------------------

# $group by (sensor, year): the treasury avg-by-year shape keyed like the
# sensors rollup.
PIPELINE = [
    {"$group": {"_id": {"sensor": "$sensor", "year": {"$year": "$ts"}},
                "n": {"$sum": 1}, "total": {"$sum": "$count"},
                "avg": {"$avg": "$reading"}}},
    {"$project": {"sensor": "$_id.sensor", "year": "$_id.year",
                  "n": 1, "total": 1, "avg": 1}},
]
PUSHDOWNS_PER_PASS = 2
PUSHDOWN_FRAC = 0.01  # share of documents each pushdown scan returns


@dataclass
class Truth:
    n_docs: int = 0
    seq_sum: int = 0
    bson_bytes: int = 0
    groups: dict = field(default_factory=dict)  # (sensor, year) -> [n, total]
    seeded: set = field(default_factory=set)    # groups pre-seeded in summary


class Connector(Workload):
    """MongoTool-shaped round trip on a file-backed store: insert through
    the ``mongodoc`` sink, full read-back, pushdown reads, an aggpipe
    rollup, and an upsert of the rollup into a summary collection."""

    nominal_pass_s = 6.0

    def prepare(self) -> None:
        from mongo_hadoop_spark.store import DocumentStore

        nproc = os.cpu_count() or 1
        # one ~1.4 MB segment per task slot (documents average ~1.1 KB):
        # the sink writes one segment per source partition, so the
        # bson_file splitter yields one split per slot
        n = 1500 if self.small else nproc * 1200
        self.store_path = os.path.join(self.work, "store")
        store = DocumentStore(self.store_path)
        truth = Truth()
        src = store.collection("source")
        docs = list(datagen.documents(self.seed, n))
        for part in range(nproc):  # one contiguous seq range per segment
            src.insert_many(docs[part * n // nproc:(part + 1) * n // nproc],
                            segment_hint=f"part{part:03d}")
        for d in docs:
            key = (d["sensor"], d["ts"].year)
            g = truth.groups.setdefault(key, [0, 0])
            g[0] += 1
            g[1] += d["count"]
        truth.n_docs = n
        truth.seq_sum = n * (n - 1) // 2
        truth.bson_bytes = sum(os.path.getsize(s) for s in src.segments())
        # the summary collection starts with every other group, so each
        # upsert both matches and inserts
        keys = sorted(truth.groups)
        truth.seeded = set(keys[::2])
        store.collection("summary_seed").insert_many(
            {"sensor": s, "year": y, "n": 0, "total": 0, "avg": 0.0}
            for s, y in sorted(truth.seeded))
        rng = random.Random(self.seed)
        width = max(1, int(n * PUSHDOWN_FRAC))
        self.ranges = [(lo, lo + width - 1) for lo in
                       (rng.randrange(0, n - width) for _ in range(self.passes * PUSHDOWNS_PER_PASS))]
        self.truth = truth
        self.pass_no = 0
        self.rollup: list = []  # the last aggregate's rows, for the upsert

    def load(self, tr, collection: str, pushdown: bool = False):
        reader = (self.spark.read.format("mongodoc")
                  .option("path", self.store_path)
                  .option("collection", collection))
        if pushdown:
            reader = reader.option("pushdown", "true")
        with tr.span("sources.load"):
            return reader.load()

    def next_session(self, spark):
        # Spark 4.1 keeps a registered Python data source out of sight of
        # new sessions but refuses to register it again: keep the session
        return spark

    def setup(self, spark, tr) -> None:
        from mongo_hadoop_spark.sources import register

        if self.spark is None:
            register(spark)
        self.spark = spark
        if getattr(self, "source", None) is not None:
            self.source.unpersist(blocking=True)
        self.source = self.load(tr, "source").persist()
        self.source.count()
        # warm-up: the sink and the pushdown reader on a small collection
        self.source.limit(64).write.format("mongodoc") \
            .option("path", self.store_path).option("collection", "warmup") \
            .mode("overwrite").save()
        self.load(tr, "warmup", pushdown=True).where("seq >= 0") \
            .write.format("noop").mode("overwrite").save()

    def jobs(self) -> list[Job]:
        p = self.pass_no
        self.pass_no += 1
        coll, summary = f"docs_{p}", f"summary_{p}"
        shutil.copytree(os.path.join(self.store_path, "summary_seed"),
                        os.path.join(self.store_path, summary))
        jobs = [Job("insert", self._insert(coll)), Job("scan", self._scan(coll))]
        for k in range(PUSHDOWNS_PER_PASS):
            jobs.append(Job("pushdown_scan", self._pushdown(
                coll, self.ranges[p * PUSHDOWNS_PER_PASS + k])))
        jobs += [Job("aggregate", self._aggregate(coll)),
                 Job("upsert", self._upsert(summary))]
        return jobs

    def end_pass(self, last: bool) -> None:
        """Drop the pass's collections, keeping the last pass's for the
        end-of-run store measurements."""
        if not last:
            p = self.pass_no - 1
            for c in (f"docs_{p}", f"summary_{p}"):
                shutil.rmtree(os.path.join(self.store_path, c), ignore_errors=True)

    def _insert(self, coll):
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        def run(tr, group):
            self.group(group, "exec", "insert")
            obs = Observation(f"rows_{group}")
            with tr.span("writers.insert"):
                (self.source.observe(obs, F.count(F.lit(1)).alias("n"))
                 .write.format("mongodoc").option("path", self.store_path)
                 .option("collection", coll).mode("append").save())
            return int(obs.get["n"])

        return run

    def _scan(self, coll):
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        def run(tr, group):
            self.group(group, "exec", "scan")
            df = self.load(tr, coll)
            if self.traced:
                self._plan(tr, coll, df.schema, None)
            obs = Observation(f"rows_{group}")
            (df.observe(obs, F.count(F.lit(1)).alias("n"),
                        F.sum("seq").alias("seq_sum"))
             .write.format("noop").mode("overwrite").save())
            return (int(obs.get["n"]), int(obs.get["seq_sum"]))

        return run

    def _pushdown(self, coll, rng):
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        lo, hi = rng

        def run(tr, group):
            self.group(group, "exec", "pushdown_scan")
            df = self.load(tr, coll, pushdown=True)
            if self.traced:
                self._plan(tr, coll, df.schema, rng)
            obs = Observation(f"rows_{group}")
            (df.where(F.col("seq").between(lo, hi))
             .select("seq", "sensor", "reading", F.col("loc.site").alias("site"))
             .observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
            return int(obs.get["n"])

        return run

    def _plan(self, tr, coll, schema, rng) -> None:
        """Traced run only: call the reader's partition planning directly
        (Spark runs it in a Python worker, out of the tracer's sight)."""
        from pyspark.sql.datasource import (GreaterThanOrEqual, IsNotNull,
                                            LessThanOrEqual)

        from mongo_hadoop_spark.sources.mongo_datasource import (
            DocumentReader, PushdownDocumentReader)

        opts = {"path": self.store_path, "collection": coll}
        if rng is None:
            reader = DocumentReader(opts, schema)
        else:
            reader = PushdownDocumentReader({**opts, "pushdown": "true"}, schema)
            list(reader.pushFilters([IsNotNull(("seq",)),
                                     GreaterThanOrEqual(("seq",), rng[0]),
                                     LessThanOrEqual(("seq",), rng[1])]))
        with tr.span("sources.partitions") as s:
            parts = reader.partitions()
        s.attrs.update(partitions=len(parts), pushdown=rng is not None,
                       segments=sorted({p.spec.segment_path for p in parts}))

    def _aggregate(self, coll):
        from mongo_hadoop_spark.plans.aggpipe import aggregate

        def run(tr, group):
            self.group(group, "build", "aggregate")
            df = self.load(tr, coll)
            out = aggregate(df, PIPELINE)
            self.group(group, "exec", "aggregate")
            self.rollup = out.collect()
            return {(r["sensor"], r["year"]): [r["n"], r["total"]] for r in self.rollup}

        return run

    def _upsert(self, summary):
        from mongo_hadoop_spark.sinks.writers import write_documents

        def run(tr, group):
            self.group(group, "exec", "upsert")
            rows = [(r["sensor"], r["year"], r["n"], r["total"], r["avg"])
                    for r in self.rollup]
            df = self.spark.createDataFrame(
                rows, "sensor string, year int, n long, total long, avg double")
            with tr.span("writers.write_documents"):
                stats = write_documents(df, self.store_path, summary,
                                        mode="upsert", key_cols=["sensor", "year"])
            return stats

        return run

    def check(self, results: list[Result], expect: dict | None = None) -> dict:
        t = self.truth
        want = {
            "insert": t.n_docs,
            "scan": (t.n_docs, t.seq_sum),
            "aggregate": {k: list(v) for k, v in t.groups.items()},
            "upsert": {"matched": len(t.seeded),
                       "upserted": len(t.groups) - len(t.seeded),
                       "applied": len(t.groups)},
        }
        want.update(expect or {})
        ranges = iter(self.ranges)
        for r in results:
            if r.name == "pushdown_scan":
                lo, hi = next(ranges)
                ok = r.observed == hi - lo + 1
            else:
                ok = r.observed == want[r.name]
            r.failed = r.error is not None or not ok
        return {"n_docs": t.n_docs, "groups": len(t.groups),
                "seeded_groups": len(t.seeded), "bson_bytes": t.bson_bytes}


WORKLOADS = {"queries": Queries, "connector": Connector}
