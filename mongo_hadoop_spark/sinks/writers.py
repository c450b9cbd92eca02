"""Document-store writers: insert / update / replace / upsert.

Reference semantics reproduced (SURVEY §2.10):
- W1/W2 — tasks spool typed records to temp files; commit replays them as
  bulk batches (default 1000, ordered)
  (core/.../output/MongoRecordWriter.java:41-130,
   MongoOutputCommitter.java:91-186, MongoConfigUtil.java:635-647).
- W3 — row→document assembly.
- W6/W8 — insert storage and per-row update storage: each output row can
  be a *mutation* (query, modifiers, upsert, multi, replace) — the
  MongoUpdateWritable 5-tuple (core/.../io/MongoUpdateWritable.java:43-47).
- W7/W10 — ensure-index on store (pig/.../MongoStorage.java:237-238).

Execution model: ``write_documents`` runs ``foreachPartition`` so every
Spark task writes its own segment in parallel (documents for insert,
mutations for the update modes).  Each task publishes its segment when it
ends, so a retried or speculative task publishes its rows again: both
paths are at-least-once.  The exactly-once file-store path is the
``mongodoc`` sink, whose job commit publishes one segment per partition.
Journaled mutations are then replayed against the collection by
``apply_pending_updates`` (the committer step).  On a live MongoDB this
replay would be pymongo ``bulk_write`` per batch; the file store applies
them in one merge pass.

Update idempotence caveat (reference mongo-defaults.xml:9-16): $inc/$push
replays are not idempotent under task retry — same contract as the
reference, documented not solved.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame

DEFAULT_BATCH_SIZE = 1000  # mongo.output.batch.size


@dataclass
class UpdateSpec:
    """MongoUpdateWritable analog (+ arrayFilters for $[ident] paths)."""
    query: dict
    update: dict
    upsert: bool = True
    multi: bool = False
    replace: bool = False
    array_filters: list | None = None


def _to_bson_value(v):
    if hasattr(v, "asDict"):
        return {k: _to_bson_value(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: _to_bson_value(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_to_bson_value(x) for x in v]
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return _dt.datetime(v.year, v.month, v.day, tzinfo=_dt.timezone.utc)
    return v


def row_to_doc(row) -> dict:
    return {k: _to_bson_value(v) for k, v in row.asDict().items()}


def write_documents(
    df: DataFrame,
    store_path: str,
    collection: str,
    mode: str = "insert",
    key_cols: list[str] | None = None,
    update_builder: Callable[[dict], UpdateSpec] | None = None,
    batch_size: int = DEFAULT_BATCH_SIZE,
    ordered: bool = True,
    ensure_indexes: list[tuple[list[tuple[str, int]], dict]] | None = None,
) -> dict | None:
    """Write a DataFrame to a collection.  Update modes return
    :func:`apply_pending_updates`' ``{"matched", "upserted", "applied"}``
    stats; insert mode returns None.

    - ``insert``: every row becomes a document (parallel committed segments).
    - ``update``/``upsert``/``replace``: every row becomes a mutation —
      either via ``update_builder(doc) -> UpdateSpec`` or derived from
      ``key_cols`` (query = key columns; update = $set of the rest, or the
      whole doc for replace; upsert per mode) — journaled in parallel,
      then replayed by :func:`apply_pending_updates`.
    """
    from mongo_hadoop_spark.store import DocumentStore

    store = DocumentStore(store_path)
    for keys, opts in ensure_indexes or []:
        store.collection(collection).create_index(keys, **opts)

    if mode == "insert":
        df.foreachPartition(_InsertTask(store_path, collection))
        return None

    if mode not in ("update", "upsert", "replace"):
        raise ValueError(f"unknown write mode {mode!r}")
    if update_builder is None:
        if not key_cols:
            raise ValueError("update modes need key_cols or update_builder")
        update_builder = _default_builder(mode, key_cols)
    df.foreachPartition(_UpdateJournalTask(store_path, collection, update_builder))
    return apply_pending_updates(store_path, collection,
                                 batch_size=batch_size, ordered=ordered)


def template_update_builder(
    query_template: dict,
    update_template: dict,
    upsert: bool = True,
    multi: bool = False,
    replace: bool = False,
) -> Callable[[dict], UpdateSpec]:
    """Update-template substitution DSL (U10): ``$name`` placeholders in
    query/update templates are filled from row fields, recursing into
    nested documents and arrays.

    Reference: pig/.../JSONPigReplace.java:47-251 (`substitute` 93-130,
    `replaceAll` 199-223) — e.g. MongoUpdateStorage('{"_id": "$device_id"}',
    '{"$inc": {"logs_count": "$cnt"}}').  Placeholders must be whole string
    values; unresolved placeholders raise.
    """

    def fill(node, doc):
        if isinstance(node, dict):
            return {k: fill(v, doc) for k, v in node.items()}
        if isinstance(node, list):
            return [fill(v, doc) for v in node]
        if isinstance(node, str) and node.startswith("$") and not node.startswith("$$"):
            field = node[1:]
            if field not in doc:
                raise KeyError(f"update template placeholder ${field} "
                               f"missing from row fields {sorted(doc)}")
            return doc[field]
        if isinstance(node, str) and node.startswith("$$"):
            return node[1:]  # escaped literal "$..."
        return node

    def build(doc: dict) -> UpdateSpec:
        return UpdateSpec(
            fill(query_template, doc), fill(update_template, doc),
            upsert=upsert, multi=multi, replace=replace,
        )

    return build


def _default_builder(mode: str, key_cols: list[str]) -> Callable[[dict], UpdateSpec]:
    def build(doc: dict) -> UpdateSpec:
        query = {k: doc[k] for k in key_cols}
        rest = {k: v for k, v in doc.items() if k not in key_cols}
        if mode == "replace":
            return UpdateSpec(query, dict(doc), upsert=True, replace=True)
        return UpdateSpec(query, {"$set": rest}, upsert=(mode == "upsert"))

    return build


@dataclass
class _InsertTask:
    store_path: str
    collection: str

    def __call__(self, rows) -> None:
        from mongo_hadoop_spark.store import DocumentStore

        docs = (row_to_doc(r) for r in rows)
        DocumentStore(self.store_path).collection(self.collection).insert_many(docs)


@dataclass
class _UpdateJournalTask:
    store_path: str
    collection: str
    builder: Callable[[dict], UpdateSpec] = field(repr=False)

    def __call__(self, rows) -> None:
        from mongo_hadoop_spark.store import DocumentStore

        def mutation_docs():
            for r in rows:
                spec = self.builder(row_to_doc(r))
                yield {
                    "q": spec.query, "u": spec.update,
                    "upsert": spec.upsert, "multi": spec.multi,
                    "replace": spec.replace,
                    "af": spec.array_filters,
                }

        journal = DocumentStore(self.store_path).collection(
            f"{self.collection}.updates"
        )
        journal.insert_many(mutation_docs())


def apply_pending_updates(
    store_path: str,
    collection: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    ordered: bool = True,
) -> dict:
    """Committer step: replay journaled mutations against the collection.

    Returns {"matched": n, "upserted": n, "applied": n}.  Batching mirrors
    the reference's bulk replay; on the file store it bounds memory of the
    pending set per pass.
    """
    from mongo_hadoop_spark.plans.filters import match
    from mongo_hadoop_spark.plans.updates import apply_update, init_upsert_doc
    from mongo_hadoop_spark.store import DocumentStore

    store = DocumentStore(store_path)
    journal = store.collection(f"{collection}.updates")
    mutations = list(journal.find())
    if not mutations:
        return {"matched": 0, "upserted": 0, "applied": 0}
    coll = store.collection(collection)
    docs = list(coll.find())
    matched = upserted = applied = 0
    for start in range(0, len(mutations), batch_size):
        for m in mutations[start : start + batch_size]:
            hit = False
            for d in docs:
                if match(d, m["q"]):
                    hit = True
                    matched += 1
                    if m.get("replace") and (isinstance(m["u"], list) or any(
                            k.startswith("$") for k in m["u"])):
                        # server parity: replaceOne rejects update operators
                        raise ValueError(
                            "replace=True update document must not contain "
                            f"$-operators: {sorted(m['u'])}"
                        )
                    apply_update(d, m["u"], m.get("af"))
                    applied += 1
                    if not m.get("multi"):
                        break
            if not hit and m.get("upsert"):
                docs.append(init_upsert_doc(m["q"], m["u"]))
                upserted += 1
                applied += 1
    coll.rewrite(docs)
    store.drop(f"{collection}.updates")
    return {"matched": matched, "upserted": upserted, "applied": applied}
