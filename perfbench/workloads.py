"""The benchmark's workloads: what each one generates, calls and checks.

Query workloads call registry queries (``queries.load_registry()``)
and force each result with a ``noop`` write. The ingest workload runs
the README's incremental loop (probe a crawl batch against the
persisted signature index, append the survivors, commit them with
``upsert_parquet_table``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import corpus


@dataclass(frozen=True)
class Workload:
    """Inputs and calls of one workload; why each exists, and which
    layers it exercises and bypasses, is in METRICS.md."""

    name: str
    base: corpus.Shape
    replicas: int
    tables: tuple[str, ...]
    # untimed first-call passes (crawl batches for the ingest loop)
    # before timing: pass times still fall for several passes while the
    # JIT settles, so the warm-up is a count of passes
    warm_passes: int
    queries: tuple[str, ...] = ()


# the three-stylesheet XSLT chain of q_xsl_execute runs in one
# Arrow-batched pandas UDF; the others are JVM-only plans
ETL = Workload(
    name="etl_10x",
    base=corpus.Shape.at(0.001),
    replicas=10,
    tables=("customer", "orders", "lineitem", "events"),
    warm_passes=4,
    queries=(
        "q_schema_apply",            # schema coercion
        "q_match_route",             # validate / route
        "q_nest_customer_orders",    # nest view
        "q_fixed_width_encode",      # fixed-width encoding
        "q3_shipping_priority",      # TPC-H-style join
        "q_xsl_execute",             # three-stylesheet XSLT chain
        "stream_sessionize",         # stream_* batch twin
    ),
)

INGEST = Workload(
    name="ingest_incremental",
    base=corpus.Shape.at(0.001, documents=100, embeddings=10),
    replicas=10,
    tables=("documents",),
    warm_passes=1,
)

WORKLOADS = {w.name: w for w in (ETL, INGEST)}

# incremental-loop parameters: the README's index settings
INGEST_PARAMS = {"n": 4, "k": 64, "bands": 16}
INGEST_PROBE = {"threshold": 0.5, "min_band_collisions": 2}
STANDING_FRAC = 0.6
CRAWL_BATCHES = 10
RECRAWLS = 8


@dataclass
class Inputs:
    """Generated files of one invocation."""

    corpus_dir: str
    input_rows: int
    standing_ids: np.ndarray | None = None
    batch_dirs: tuple[str, ...] = ()


def generate(w: Workload, seed: int, root: str) -> Inputs:
    tables = corpus.replicate(seed, corpus.base_tables(seed, w.base), w.replicas)
    corpus_dir = os.path.join(root, "corpus")
    corpus.write_corpus(tables, corpus_dir)
    if w is not INGEST:
        return Inputs(corpus_dir, sum(tables[t].num_rows for t in w.tables))
    standing, batches = corpus.crawl_batches(
        seed, tables["documents"], STANDING_FRAC, CRAWL_BATCHES, RECRAWLS)
    batch_dirs = []
    for i, batch in enumerate(batches):
        d = os.path.join(root, "crawl", f"batch{i:03d}")
        os.makedirs(d)
        pq.write_table(batch, os.path.join(d, "part-0.parquet"))
        batch_dirs.append(d)
    # one batch per pass
    return Inputs(corpus_dir, batches[-1].num_rows, standing_ids=standing,
                  batch_dirs=tuple(batch_dirs))


def documents(spark, inputs: Inputs, ids) -> "DataFrame":  # noqa: F821
    from pyspark.sql import functions as F

    from cpx_etl_spark.sources.registry import load_table

    docs = load_table(spark, inputs.corpus_dir, "documents")
    return docs.filter(F.col("doc_id").isin([int(i) for i in ids]))


def build_standing(spark, inputs: Inputs, root: str) -> tuple[str, str]:
    """Persist the standing corpus as a signature index and an upsert
    table; returns (index_path, table_path)."""
    from cpx_etl_spark.operators.dedup import write_signature_index
    from cpx_etl_spark.sources.sinks import upsert_parquet_table

    standing = documents(spark, inputs, inputs.standing_ids)
    index_path = os.path.join(root, "index")
    table_path = os.path.join(root, "table")
    write_signature_index(standing, index_path, "doc_id", "text", **INGEST_PARAMS)
    upsert_parquet_table(standing, table_path, keys=["doc_id"])
    return index_path, table_path


def count_files(*paths: str) -> int:
    return sum(len(files) for path in paths for _, _, files in os.walk(path))
