"""Serving-plane ANN: build the vector index once, probe it per query.

The reference's query plane never scans — it hands every query vector to a
vector index built at sync time (mcp/src/server.ts:448-476,
database.ts:89-94). This example is that workflow on the Spark engine's
round-13 routed tier:

  ingest -> build_chunk_ann_index (train the coarse quantizer ONCE on the
  bounded sample) -> persist the per-chunk cell assignment as a column
  (the partition/bucket key a deployment stores) -> answer queries through
  query_documentation_routed, which probes ONE cell instead of scanning —
  and, below the routing threshold, falls through to the exact scan with
  bit-identical reference-parity results.

Run:  python examples/serving_ann.py
Hermetic (deterministic hash embeddings, in-memory frames);
tests/test_examples.py executes this script as part of the suite.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from pyspark.sql import functions as F

    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.operators.serving import (
        build_chunk_ann_index,
        cell_assignment_col,
        query_documentation_routed,
    )
    from doc2vec_spark.query import query_documentation
    from doc2vec_spark.session import get_spark

    spark = get_spark("doc2vec-spark-serving")
    spark.sparkContext.setLogLevel("ERROR")

    # a corpus with one planted answer and filler pages
    planted = "the zanzibar quokka protocol reconciles vector clocks"
    filler = "routine configuration notes about services and endpoints. " * 25
    docs = spark.createDataFrame(
        [("https://docs.example.com/planted.md", f"# Protocols\n{planted}", "p", "1")]
        + [
            (f"https://docs.example.com/f{i}.md", f"# Page {i}\n{filler} v{i}", "p", "1")
            for i in range(8)
        ],
        "url string, markdown string, product_name string, version string",
    )
    chunks = with_embeddings(chunk_documents(docs)).cache()
    n = chunks.count()

    # 1. build the index ONCE (bounded-sample Lloyd; at 100 TB this runs per
    #    sync and the k*dim floats live next to the sync watermarks)
    index = build_chunk_ann_index(chunks)
    print(f"index built: {len(index)} cells over {n} chunks")

    # 2. persist the assignment as a column — the partition key a deployment
    #    bucket-writes so a probe is a partition-pruned read
    assigned = chunks.withColumn("cell", cell_assignment_col(index))
    profile = sorted(
        (r["cell"], r["cnt"])
        for r in assigned.groupBy("cell").agg(F.count("*").alias("cnt")).collect()
    )
    print(f"cell occupancy: {profile}")

    # 3. probe per query: the routed API filters to ONE cell before the
    #    metadata filters and top-k (no over-fetch needed)
    hits = query_documentation_routed(
        chunks, planted, index=index, ann_threshold=0, k=3
    ).collect()
    print(f"probe answer: {hits[0]['url']} (of {len(hits)} hits)")

    # 4. below the threshold the routed call IS the exact scan — identical
    #    rows, reference parity preserved
    routed = query_documentation_routed(chunks, planted, k=3)
    exact = query_documentation(chunks, planted, k=3)
    same = [r.asDict() for r in routed.collect()] == [
        r.asDict() for r in exact.collect()
    ]
    print(f"small-corpus fallthrough == exact scan: {same}")

    # 5. the PERSISTED lifecycle: sync into a ChunkStore, train the index
    #    once per commit (cached by the store's version token in memory and
    #    on disk), reload WITHOUT retraining, and watch a rewrite invalidate
    #    it by commit
    import tempfile

    from doc2vec_spark import artifacts
    from doc2vec_spark.operators.serving import (
        ensure_chunk_ann_index,
        ensure_pq_codebooks,
    )
    from doc2vec_spark.store import ChunkStore
    from doc2vec_spark.sync import sync_documents

    with tempfile.TemporaryDirectory() as td:
        store = ChunkStore(spark, f"{td}/chunks")
        sync_documents(spark, store, docs)
        idx1 = ensure_chunk_ann_index(store)  # trains + caches
        idx2 = ensure_chunk_ann_index(store)  # loads, no retraining
        print(f"persisted index reload identical: {idx1 == idx2}")
        # the PQ codebooks are cached under the SAME version token: a
        # deployment trains both quantizers once per sync and every later
        # session serves trained-PQ ADC scans without the Lloyd loop
        cbs1 = ensure_pq_codebooks(store)  # trains + caches
        cbs2 = ensure_pq_codebooks(store)  # loads, no retraining
        print(f"persisted PQ codebooks reload identical: {cbs1 == cbs2}")
        sync_documents(  # rewrite -> version token moves -> index stale
            spark, store,
            docs.withColumn("markdown", F.concat(F.col("markdown"), F.lit(" updated"))),
        )
        for label, kind, ensure in (
            ("", "ann_index", ensure_chunk_ann_index),
            ("PQ ", "ann_pq", ensure_pq_codebooks),
        ):
            misses = artifacts.stats(kind)["misses"]
            ensure(store)  # the new commit is a new version: retrains
            print(f"{label}stale after rewrite: {artifacts.stats(kind)['misses'] > misses}")

    chunks.unpersist()


if __name__ == "__main__":
    main()
