"""Degenerate-input pins: fixture tables derived from sf0.001 into
``tmp_path`` and compared against the DuckDB oracle
(:func:`mongo_hadoop_spark.oracle.run_all`)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from mongo_hadoop_spark.operators.similarity import IVF_TRAIN_N, PQ_TRAIN_N
from mongo_hadoop_spark.oracle import run_all

from conftest import SF_SMOKE

#: registry queries whose trained state is seeded from the vec_id prefix
FIXED_SEED_QUERIES = [
    "ivf_assign_fixed", "embedding_pq_codes_fixed", "pq_knn_adc_fixed",
    "ivf_pq_knn_fixed", "dedup_semantic_survivors_ivf_fixed",
    "dedup_semantic_survivors_ivf_capped", "dedup_semantic_cell_density",
]


def _assert_oracle_match(spark, sf_dir, names):
    results = run_all(spark, str(sf_dir), only=names)
    assert len(results) == len(names)
    assert all(r.ok for r in results), [str(r) for r in results if not r.ok]


def test_fixed_seed_queries_with_empty_seed_set(spark, tmp_path):
    """Every vec_id past the training prefix: the fixed IVF centroids and
    the PQ codebook train on nothing, so assignment emits no rows — the
    oracle's join against an empty codebook — not NULL cells/codes."""
    emb = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    i = emb.schema.get_field_index("vec_id")
    shifted = pc.add(emb["vec_id"], max(IVF_TRAIN_N, PQ_TRAIN_N))
    pq.write_table(emb.set_column(i, emb.schema.field(i), shifted),
                   tmp_path / "embeddings.parquet")
    _assert_oracle_match(spark, tmp_path, FIXED_SEED_QUERIES)


def _first_event_per_user(ev: pd.DataFrame) -> pd.DataFrame:
    return ev.sort_values("event_id").drop_duplicates("user_id")


def test_value_anomalies_zero_variance_users(spark, tmp_path):
    """Users with one event, and users whose events all carry the same
    value, have zero variance: no z, so no anomaly rows (DuckDB: x/0.0
    is NULL) instead of an ANSI DIVIDE_BY_ZERO.  One user keeps its full
    history so the normal path still emits rows.  Values are integral so
    both engines compute the variance as exactly 0 (DuckDB's sqrt raises
    on the tiny negative variance a non-integral value can round to)."""
    table = pq.read_table(f"{SF_SMOKE}/events.parquet")
    ev = table.to_pandas()
    busiest = ev["user_id"].value_counts().idxmax()
    single = _first_event_per_user(ev[ev["user_id"] != busiest])
    single["value"] = np.floor(single["value"])
    twins = single.iloc[::2].copy()
    twins["event_id"] += ev["event_id"].max() + 1
    out = pd.concat([ev[ev["user_id"] == busiest], single, twins])
    pq.write_table(pa.Table.from_pandas(out, schema=table.schema,
                                        preserve_index=False),
                   tmp_path / "events.parquet")
    _assert_oracle_match(spark, tmp_path, ["events_value_anomalies"])


def test_value_anomalies_rounded_zero_variance_is_dropped(spark, tmp_path):
    """One event per user with its real value: the computed variance is
    0 or a rounding error either side of it; every user drops out
    (no DIVIDE_BY_ZERO, no NaN z rows)."""
    from mongo_hadoop_spark.operators.analytics import events_value_anomalies

    table = pq.read_table(f"{SF_SMOKE}/events.parquet")
    single = _first_event_per_user(table.to_pandas())
    pq.write_table(pa.Table.from_pandas(single, schema=table.schema,
                                        preserve_index=False),
                   tmp_path / "events.parquet")
    assert events_value_anomalies(spark, str(tmp_path)).count() == 0
