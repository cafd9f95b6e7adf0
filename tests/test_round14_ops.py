"""Round-14 behavioral tests: empty-input guards, the nprobe serving knob,
trained PQ codebooks, and the persisted ANN index lifecycle."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _mini_corpus(spark, n_filler: int = 8):
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings

    phrase = "the zanzibar quokka protocol handles vector reconciliation"
    filler = "ordinary documentation text about configuration. " * 20
    docs = spark.createDataFrame(
        [("https://d/planted.md", phrase, "p", "1")]
        + [
            (f"https://d/f{i}.md", f"# H{i}\n{filler} v{i}", "p", "1")
            for i in range(n_filler)
        ],
        "url string, markdown string, product_name string, version string",
    )
    return phrase, with_embeddings(chunk_documents(docs))


def test_serving_api_nprobe_recall_floor(spark):
    """VERDICT r13 #4: the nprobe knob on the routed serving API. On the
    forced ANN route, nprobe=2 recall vs the exact (unrouted) result must
    be >= nprobe=1 recall, and the nprobe=2 candidates must come from at
    most two cells (still a bounded membership filter, never a scan)."""
    from doc2vec_spark.operators.serving import (
        build_chunk_ann_index,
        cell_assignment_col,
        query_documentation_routed,
    )
    from doc2vec_spark.query import query_documentation

    phrase, chunks = _mini_corpus(spark)
    chunks = chunks.cache()
    try:
        index = build_chunk_ann_index(chunks)
        exact = [r["chunk_id"] for r in query_documentation(chunks, phrase, k=3).collect()]
        got = {}
        for np_ in (1, 2):
            rows = query_documentation_routed(
                chunks, phrase, index=index, ann_threshold=0, k=3, nprobe=np_
            ).collect()
            got[np_] = [r["chunk_id"] for r in rows]
            cells = {
                r["cell"]
                for r in chunks.join(
                    spark.createDataFrame([(c,) for c in got[np_]], "chunk_id string"),
                    "chunk_id",
                )
                .select(cell_assignment_col(index).alias("cell"))
                .collect()
            }
            assert len(cells) <= np_
        rec = {np_: len(set(ids) & set(exact)) / max(len(exact), 1) for np_, ids in got.items()}
        assert rec[2] >= rec[1]
        # the planted phrase must survive the widened probe at rank 1
        assert got[2] and got[2][0] == exact[0]
    finally:
        chunks.unpersist()


def test_nearest_cells_head_is_own_cell(spark):
    """probed[0] must equal the cell the query embedding would be ASSIGNED
    to (the packed (d6, cell) tie-break convention) for every sampled
    query, so nprobe=1 stays exactly the single-probe tier."""
    from doc2vec_spark.embedding import DEFAULT_DIM, embed_text
    from doc2vec_spark.operators.serving import (
        _nearest_cell,
        _nearest_cells,
        build_chunk_ann_index,
    )

    phrase, chunks = _mini_corpus(spark)
    index = build_chunk_ann_index(chunks)
    for text in (phrase, "configuration", "alpha beta"):
        qv = [float(x) for x in embed_text(text, DEFAULT_DIM)]
        ranked = _nearest_cells(index, qv, nprobe=3)
        assert ranked[0] == _nearest_cell(index, qv)
        assert len(ranked) == len(set(ranked)) == 3


def test_trained_pq_codebooks_reconstruct_better_than_seeded(spark):
    """VERDICT r13 #5's accuracy gate: the per-subspace Lloyd-trained
    codebooks must reconstruct the corpus far better than the seeded
    gaussian literals (which are scale-mismatched to the data). Measured
    at sf0.001: seeded MSE ~20.5, trained ~0.57 per vector — assert a
    conservative 5x margin so the gate survives data refreshes."""
    import numpy as np
    import pyarrow.parquet as pq

    from doc2vec_spark.operators.serving import train_pq_codebooks
    from doc2vec_spark.operators.similarity import CODEBOOKS, PQ_M, PQ_SUB

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vs = np.vstack(t["embedding"].to_numpy()).astype(np.float64)
    trained = np.asarray(train_pq_codebooks(spark, SF_DIR))
    assert trained.shape == (PQ_M, 16, PQ_SUB)

    def mse(cb):
        total = 0.0
        for m in range(PQ_M):
            sub = vs[:, m * PQ_SUB : (m + 1) * PQ_SUB]
            d = ((sub[:, None, :] - cb[m][None, :, :]) ** 2).sum(-1)
            total += d.min(1).mean()
        return total

    m_seeded = mse(np.asarray(CODEBOOKS))
    m_trained = mse(trained)
    assert m_trained < m_seeded / 5
    assert m_trained < 2.0  # absolute sanity: sub-unit avg quantization error


def test_trained_pq_query_rank1_self(spark):
    """The ADC self-consistency invariant carried over from the seeded
    variant: the query vector itself must surface at rank 1 through the
    trained pipeline."""
    from doc2vec_spark.operators.serving import ann_ivf_pq_search_trained

    rows = ann_ivf_pq_search_trained(spark, SF_DIR).collect()
    assert rows and rows[0]["vec_id"] == 0 and rows[0]["rnk"] == 1


def _sync_store(spark, tmp_path, markdowns):
    from doc2vec_spark.store import ChunkStore
    from doc2vec_spark.sync import sync_documents

    store = ChunkStore(spark, str(tmp_path / "chunks"))
    docs = spark.createDataFrame(
        [(f"https://d/{i}", md, "prod", "1.0") for i, md in enumerate(markdowns)],
        "url string, markdown string, product_name string, version string",
    )
    sync_documents(spark, store, docs)
    return store


def test_persisted_ann_index_survives_sessions_and_rewrites(
    spark, tmp_path, monkeypatch
):
    """VERDICT r13 #2's lifecycle gate, both halves:
    1. sync -> cached index -> a NEW session (in-process tier cleared,
       train forcibly disabled) loads from disk without retraining and
       gets the bitwise-identical index;
    2. a rewrite of the chunk data — plan-identical (same store path, same
       read() plan) — must serve the NEW index, not the stale one."""
    from doc2vec_spark import artifacts
    from doc2vec_spark.operators import serving
    from doc2vec_spark.operators.serving import ensure_chunk_ann_index
    from doc2vec_spark.sync import sync_documents

    monkeypatch.setenv(artifacts.CACHE_ENV, str(tmp_path / "cache"))
    bodies = [f"# D{i}\ndocumentation paragraph about topic {i}. " * 25 for i in range(6)]
    store = _sync_store(spark, tmp_path, bodies)

    idx1 = ensure_chunk_ann_index(store)
    assert idx1 and all(isinstance(c, int) for c in idx1)

    # (1) new session: a fresh process must LOAD, never retrain
    def _no_train(*a, **k):
        raise AssertionError("retrained despite a current persisted index")

    artifacts.clear_memory()
    with monkeypatch.context() as m:
        m.setattr(serving, "build_chunk_ann_index", _no_train)
        hits = artifacts.stats("ann_index")["disk_hits"]
        idx2 = ensure_chunk_ann_index(store)
        assert artifacts.stats("ann_index")["disk_hits"] == hits + 1
    assert idx2 == idx1

    # (2) rewrite under the same plan: the sync commit moves the version
    # token, so the stale index must NOT be served — it retrains on the
    # new data and caches the new version
    docs2 = spark.createDataFrame(
        [
            (f"https://d/{i}", f"# D{i}\nreplaced corpus text {i}. " * 30, "prod", "2.0")
            for i in range(6)
        ],
        "url string, markdown string, product_name string, version string",
    )
    sync_documents(spark, store, docs2)
    misses = artifacts.stats("ann_index")["misses"]
    idx3 = ensure_chunk_ann_index(store)  # stale-by-commit: retrains
    assert artifacts.stats("ann_index")["misses"] == misses + 1
    assert idx3 != idx1  # trained on the rewritten data
    assert ensure_chunk_ann_index(store) == idx3
    assert artifacts.stats("ann_index")["misses"] == misses + 1


def test_persisted_index_feeds_routed_query(spark, tmp_path):
    """End to end: the persisted index drives query_documentation_routed's
    probe (index= bypasses the frame-keyed routed cache entirely) and still
    surfaces the planted document."""
    from doc2vec_spark.operators.serving import (
        ensure_chunk_ann_index,
        query_documentation_routed,
    )

    phrase = "the zanzibar quokka protocol handles vector reconciliation"
    # the planted markdown is the bare phrase (no heading) so its chunk
    # embedding equals embed_text(phrase) — the round-13 planted-corpus
    # convention; fillers carry headings like real docs
    bodies = [phrase] + [
        f"# F{i}\nordinary filler documentation {i}. " * 25 for i in range(5)
    ]
    store = _sync_store(spark, tmp_path, bodies)
    index = ensure_chunk_ann_index(store)
    hits = query_documentation_routed(
        store.read(), phrase, index=index, k=3
    ).collect()
    assert hits and hits[0]["url"] == "https://d/0"


def test_pq_codebook_training_matches_oracle_ctes(spark, duck):
    """Train-side parity pinned DIRECTLY (stronger than the end-to-end
    search hash): the engine's integer Lloyd (train_pq_codebooks) must
    produce bitwise the codeword floats the oracle's _pq_train_ctes
    derive in SQL, for every (m, j, dim)."""
    from doc2vec_spark.operators.kmeans import _SAMPLE_CTE
    from doc2vec_spark.operators.serving import _pq_train_ctes, train_pq_codebooks
    from doc2vec_spark.operators.similarity import PQ_K, PQ_M

    engine = train_pq_codebooks(spark, SF_DIR)
    sql = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_SAMPLE_CTE},
    {_pq_train_ctes()}
    SELECT m, j, c FROM cbf ORDER BY m, j
    """
    rows = duck.sql(sql).fetchall()
    assert len(rows) == PQ_M * PQ_K
    for m, j, c in rows:
        assert list(c) == engine[m][j], (m, j)


def test_index_store_corrupt_payload_and_invalidate(spark, tmp_path, monkeypatch):
    """A corrupted cached entry must read as absent (retrain), never raise
    into the serving path; a commit invalidates the index, and the sync
    watermarks beside the store are untouched by any of it."""
    from doc2vec_spark import artifacts
    from doc2vec_spark.operators.serving import ensure_chunk_ann_index
    from doc2vec_spark.store import SyncStateStore
    from doc2vec_spark.sync import sync_documents

    root = tmp_path / "cache"
    monkeypatch.setenv(artifacts.CACHE_ENV, str(root))
    kv = SyncStateStore(str(tmp_path / "kv.json"))
    kv.put("watermark:other", "keep-me")
    store = _sync_store(
        spark, tmp_path, [f"# D{i}\ncorpus text {i}. " * 25 for i in range(4)]
    )
    idx = ensure_chunk_ann_index(store)
    (entry,) = root.glob("*.json")
    entry.write_text("{not json")
    artifacts.clear_memory()
    before = artifacts.stats("ann_index")
    assert ensure_chunk_ann_index(store) == idx  # retrained, same data
    after = artifacts.stats("ann_index")
    assert after["rejected"] == before["rejected"] + 1
    assert after["misses"] == before["misses"] + 1

    docs2 = spark.createDataFrame(
        [(f"https://d/{i}", f"# D{i}\nother text {i}. " * 25, "prod", "2.0") for i in range(4)],
        "url string, markdown string, product_name string, version string",
    )
    sync_documents(spark, store, docs2)
    assert ensure_chunk_ann_index(store) != idx  # invalidated by commit
    assert kv.get("watermark:other") == "keep-me"


def test_nprobe_probe_is_membership_filter_not_join(spark):
    """The nprobe>1 probe must stay a map-only membership predicate on the
    assignment fold (In/isin over probed cells) — no join, no extra
    exchange added by widening the probe (the multiprobe plan pin,
    carried to the serving API)."""
    from doc2vec_spark.operators.serving import (
        build_chunk_ann_index,
        query_documentation_routed,
    )

    phrase, chunks = _mini_corpus(spark)
    index = build_chunk_ann_index(chunks)
    df = query_documentation_routed(
        chunks, phrase, index=index, ann_threshold=0, k=3, nprobe=2
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "least(" in plan  # the assignment fold is present
    # no join anywhere in the probe plan (query_documentation itself is
    # join-free over a single chunk frame)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_routed_api_empty_index_and_bad_nprobe(spark, tmp_path):
    """Review r14: an EMPTY trained index (fresh tenant) must fall through
    to the exact scan instead of crashing on a zero-arm least()/probed[0];
    nprobe < 1 is a ValueError, not a silent empty/near-full scan."""
    from doc2vec_spark import artifacts
    from doc2vec_spark.operators.serving import (
        ensure_chunk_ann_index,
        query_documentation_routed,
    )
    from doc2vec_spark.store import ChunkStore

    store = ChunkStore(spark, str(tmp_path / "chunks"))  # never synced: empty
    idx = ensure_chunk_ann_index(store)
    assert idx == {}
    misses = artifacts.stats("ann_index")["misses"]
    assert ensure_chunk_ann_index(store) == {}  # nothing cached: trains again
    assert artifacts.stats("ann_index")["misses"] == misses + 1

    _, chunks = _mini_corpus(spark, n_filler=2)
    rows = query_documentation_routed(chunks, "alpha", index=idx, k=2).collect()
    assert rows  # falls through to the exact scan

    with pytest.raises(ValueError):
        query_documentation_routed(chunks, "alpha", nprobe=0, k=2)


def test_index_store_rejects_malformed_payload_shapes(tmp_path, monkeypatch):
    """Review r14: corrupt-reads-as-absent must hold for VALID-JSON shapes
    too — null, scalars, a missing/non-object payload, non-numeric cells —
    through the store index's own decoder: each reads as a rejected entry
    and rebuilds."""
    from doc2vec_spark import artifacts
    from doc2vec_spark.operators.serving import _decode_index

    root = tmp_path / "cache"
    monkeypatch.setenv(artifacts.CACHE_ENV, str(root))
    artifacts.clear_memory()
    good = {"0": [1.0]}
    artifacts.get_or_build("ann_index", lambda: ("v",), lambda: good, _decode_index)
    (entry,) = root.glob("*.json")
    key = json.loads(entry.read_text())["k"]
    for bad in (
        "null",
        "5",
        '"x"',
        "[]",
        json.dumps({"k": key}),
        json.dumps({"k": key, "v": 7}),
        json.dumps({"k": key, "v": {"not-an-int": [1.0]}}),
    ):
        entry.write_text(bad)
        artifacts.clear_memory()
        before = artifacts.stats("ann_index")
        out = artifacts.get_or_build(
            "ann_index", lambda: ("v",), lambda: good, _decode_index
        )
        after = artifacts.stats("ann_index")
        assert out == {0: [1.0]}, bad
        assert after["rejected"] == before["rejected"] + 1, bad
        assert after["misses"] == before["misses"] + 1, bad
