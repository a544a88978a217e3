"""Benchmark inputs, made from a seed with the engine's own generators and
written in the layout of the shared test data: one parquet file per table,
``events.ts`` as a naive TIMESTAMP in microseconds."""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class EventShape:
    """``n_events`` events with the reference generator's per-key rate of
    ~53 events per user over 30 days, plus a hot pool: ``hot_share`` of the
    events fall on ``hot_users`` users (ids 0..hot_users-1) that each carry
    about 2000 events, as the 100 hot customers do in a 1M-event log."""

    n_events: int
    hot_share: float = 0.0
    hot_events_per_user: int = 2000
    events_per_user: int = 53

    @property
    def n_hot(self) -> int:
        return int(self.n_events * self.hot_share)

    @property
    def hot_users(self) -> int:
        return max(1, round(self.n_hot / self.hot_events_per_user)) if self.n_hot else 0

    @property
    def n_users(self) -> int:
        return max(150, (self.n_events - self.n_hot) // self.events_per_user)


def _events_table(spark, shape: EventShape, seed: int) -> pa.Table:
    from pyspark.sql import functions as F

    from aml_feature_store_spark.sources.generator import generate_events

    # generate_events draws column k from F.rand(seed + k); seeds 1000 apart
    # keep the two parts' streams disjoint
    base = 1000 * seed
    n_main = shape.n_events - shape.n_hot
    df = generate_events(spark, n=n_main, n_users=shape.n_users, seed=base + 1)
    if shape.n_hot:
        hot = generate_events(
            spark, n=shape.n_hot, n_users=shape.hot_users, seed=base + 501
        ).withColumn("event_id", F.col("event_id") + n_main)
        df = df.unionByName(hot)
    pdf = df.toPandas()
    cols = {c: pa.array(pdf[c].to_numpy()) for c in pdf.columns}
    # the generator emits epoch-ns longs; the testdata layout is naive µs
    cols["ts"] = pa.array(pdf["ts"].to_numpy() // 1000, pa.timestamp("us"))
    return pa.table(cols)


def _documents_table(spark, n_docs: int, seed: int) -> pa.Table:
    from aml_feature_store_spark.sources.generator import generate_documents

    return pa.Table.from_pandas(
        generate_documents(spark, n=n_docs, seed=1000 * seed + 1).toPandas(),
        preserve_index=False,
    )


def write_inputs(spark, out_dir: str, shape: EventShape, n_docs: int, seed: int) -> dict[str, int]:
    """Generate and write the tables; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {"events": _events_table(spark, shape, seed)}
    if n_docs:
        tables["documents"] = _documents_table(spark, n_docs, seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def split_by_time(events_path: str, out_dir: str, n_files: int) -> list[str]:
    """Cut the event log into ``n_files`` files of consecutive time ranges,
    equal in row count up to one row; returns their paths in time order."""
    table = pq.read_table(events_path)
    order = np.argsort(table.column("ts").to_numpy(), kind="stable")
    table = table.take(pa.array(order))
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, idx in enumerate(np.array_split(np.arange(table.num_rows), n_files)):
        p = os.path.join(out_dir, f"events-{i:04d}.parquet")
        pq.write_table(table.slice(int(idx[0]), len(idx)), p)
        paths.append(p)
    return paths
