"""Round-17 determinism fixes (VERDICT r16 #1, ADVICE r15 #3).

The blanktext sweep (r16) exposed that the KNN top-k was underdetermined
under distance ties and that two chunk-plane oracles disagreed with the
chunker's empty-content contract; the dup-PK probe showed the hybrid
oracle's probe CTE fanning out. Each fix gets a behavioral pin here; the
cross-engine hash parity itself is test_parity.py + degenerate_sweep.py.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.test_parity import _normalize


def test_knn_topk_deterministic_under_ties(spark):
    """A corpus of identical chunks ties at identical (distance, chunk_id);
    the url tie-break must make the k-cut well-defined: the k
    lexicographically-smallest urls, stable across runs."""
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding_native import with_embeddings_native
    from doc2vec_spark.query import query_documentation

    docs = spark.createDataFrame(
        [(f"https://d/p{i:02d}.md", "identical content everywhere", "prod", "1.0")
         for i in range(12)],
        "url string, markdown string, product_name string, version string",
    )
    chunks = with_embeddings_native(chunk_documents(docs))
    expected = [f"https://d/p{i:02d}.md" for i in range(4)]
    for _ in range(2):  # stable, not luck-of-the-partition-order
        rows = query_documentation(chunks, "identical content everywhere", k=4).collect()
        assert [r["url"] for r in rows] == expected
        assert all(r["distance"] == pytest.approx(0.0, abs=1e-12) for r in rows)


def test_chunk_oracle_trim_guard_is_python_strip():
    """The oracle's whitespace-only exclusion must match str.strip(): a
    '\\n\\t'-padded doc is blank on both sides (DuckDB's one-arg trim strips
    spaces only — the r17 guard uses the ASCII-whitespace charset form)."""
    import duckdb

    from doc2vec_spark.operators.domain import QUERIES

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(0, '', 'en', 'a', 0), (1, '   ', 'en', 'a', 3), "
        "(2, e' \\n\\t ', 'en', 'a', 4), (3, e'\\n keepme \\t', 'en', 'a', 10)"
        ") AS t(doc_id, text, lang, source, n_chars)"
    )
    chunk = con.sql(QUERIES["doc_chunk_pipeline"].oracle).df()
    assert list(chunk["content"]) == ["keepme"]  # python-strip, not space-trim
    page = con.sql(QUERIES["doc_reconstruct_pages"].oracle).df()
    assert list(page["page"]) == ["keepme"]


def test_hybrid_engine_matches_oracle_on_duplicate_probe_id(spark, tmp_path):
    """ADVICE r15 #3: a duplicated probe doc_id must not fan the oracle's q
    CTE out through the cross joins. With the dup rows carrying identical
    text (the only deterministic dup shape), engine and oracle agree
    row-for-row; before the LIMIT 1 fix the oracle diverged silently."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [f"alpha beta w{i} x{i % 3} y{i % 5} gamma" for i in range(30)]
    ids = list(range(30)) + [7]
    rows = {
        "doc_id": ids,
        "text": [texts[i] for i in ids],
        "lang": ["en"] * len(ids),
        "source": ["s"] * len(ids),
        "n_chars": [len(texts[i]) for i in ids],
    }
    pq.write_table(pa.table(rows), tmp_path / "documents.parquet")

    from doc2vec_spark.operators.domain import QUERIES

    spec = QUERIES["doc_hybrid_search_rrf"]
    engine, e_cols = _normalize(spec.fn(spark, str(tmp_path)).toPandas())
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path / 'documents.parquet'}'"
    )
    oracle, o_cols = _normalize(con.sql(spec.oracle).df())
    assert e_cols == o_cols
    assert engine == oracle


# ---------------------------------------------------------------------------
# artifact-cache per-entry-file layout (VERDICT r16 #4) + shared validators
# (ADVICE r16 #1/#2)
# ---------------------------------------------------------------------------


@pytest.fixture
def cache_dir(tmp_path, monkeypatch):
    from doc2vec_spark import artifacts

    root = tmp_path / "tc"
    monkeypatch.setenv(artifacts.CACHE_ENV, str(root))
    artifacts.clear_memory()
    yield root
    artifacts.clear_memory()


def _put(key, value):
    from doc2vec_spark import artifacts

    return artifacts.get_or_build("km", lambda: key, lambda: value, lambda p: p)


def _disk_get(key):
    from doc2vec_spark import artifacts

    artifacts.clear_memory()
    return artifacts.get_or_build("km", lambda: key, lambda: None, lambda p: p)


def _entry(root, key):
    from doc2vec_spark import artifacts

    return artifacts._entry_path(root, artifacts._key("km", key, __name__))


def test_train_cache_two_writers_lose_nothing(cache_dir):
    """A single-file layout that read-merge-writes the whole store lets two
    concurrent writers drop each other's entry. Per-entry files make
    every write an independent atomic replace: after two threads write
    disjoint key sets concurrently, EVERY entry is on disk."""
    import threading

    from doc2vec_spark import artifacts

    per_writer = artifacts.MAX_ENTRIES // 2  # stay inside the bound

    def writer(tag):
        for i in range(per_writer):
            _put((tag, i), [tag, i])

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for tag in ("a", "b"):
        for i in range(per_writer):
            assert _disk_get((tag, i)) == [tag, i], (tag, i)


def test_train_cache_entry_key_verified_on_read(cache_dir):
    """Each entry file records its full logical key; a mismatch (hand edit,
    hash-prefix collision) reads as absent — never the wrong artifact."""
    from doc2vec_spark import artifacts

    _put(("x",), [1])
    p = _entry(cache_dir, ("x",))
    assert _disk_get(("x",)) == [1]
    import json

    payload = json.loads(p.read_text())
    payload["k"] = artifacts._key("km", ("other",), __name__)
    p.write_text(json.dumps(payload))
    rejected = artifacts.stats("km")["rejected"]
    assert _disk_get(("x",)) is None
    assert artifacts.stats("km")["rejected"] == rejected + 1
    p.write_text("{not json")  # corrupt file also reads as absent
    assert _disk_get(("x",)) is None


def test_train_cache_eviction_bound_on_files(cache_dir):
    """The disk tier holds at most MAX_ENTRIES, enforced as an
    oldest-mtime file sweep; a vanished file mid-eviction is skipped, not
    raised."""
    import os

    from doc2vec_spark import artifacts

    for i in range(artifacts.MAX_ENTRIES + 5):
        _put(("k", i), [i])
        # distinct mtimes so "oldest" is well-defined on coarse filesystems
        os.utime(_entry(cache_dir, ("k", i)), (i, i))
    _put(("fresh",), [99])
    files = list(cache_dir.glob("*.json"))
    assert len(files) <= artifacts.MAX_ENTRIES
    assert _disk_get(("fresh",)) == [99]
    assert _disk_get(("k", 0)) is None  # oldest gone


@pytest.mark.parametrize(
    "fn,val,ok",
    [
        ("finite_components", [1, 2.5], [1.0, 2.5]),
        ("finite_components", ["1.5"], None),  # numeric string rejected
        ("finite_components", [True], None),
        ("finite_components", [float("inf")], None),
        ("finite_components", [float("nan")], None),
        ("finite_components", [], None),
        ("integer_components", [1, -2], [1, -2]),
        ("integer_components", [1.0], None),  # float means not-our-writer
        ("integer_components", [float("inf")], None),  # r16 OverflowError shape
        ("integer_components", ["5"], None),
        ("integer_components", [True], None),
        ("cell_id", "7", 7),
        ("cell_id", 99, 99),
        ("cell_id", 100, None),  # %100 packing cap
        ("cell_id", -1, None),
        ("cell_id", "-1", None),
        ("cell_id", "07x", None),
        ("cell_id", True, None),
        # r17 review: str.isdigit() alone accepts unicode digits — int()
        # RAISES on '²' (superscript two) and silently normalizes
        # '٧' (Arabic-Indic 7) to a key we never wrote
        ("cell_id", "²", None),
        ("cell_id", "٧", None),
        ("cell_id", " 7", None),
        ("cell_id", "+7", None),
    ],
)
def test_shared_validators(fn, val, ok):
    from doc2vec_spark import artifacts

    assert getattr(artifacts, fn)(val) == ok


def test_kmeans_hit_survives_infinity_payload(spark, cache_dir):
    """ADVICE r16 #1 exactly: a JSON ``Infinity`` component used to raise
    OverflowError inside int() on the query path; it must read as absent
    and retrain."""
    import json

    from doc2vec_spark import artifacts
    from doc2vec_spark.operators import kmeans as km
    from doc2vec_spark.operators.coreset import dataset_version
    from tests.conftest import SF_DIR

    key = artifacts._key("km", dataset_version(SF_DIR), km.__name__)
    path = artifacts._entry_path(cache_dir, key)
    cache_dir.mkdir()
    for bad in (
        {"0": [float("inf")]},          # the OverflowError crash shape
        {"0": [1.5]},                   # non-integer component
        {"0": ["5"]},                   # numeric string
        {"150": [1]},                   # cell id past the %100 packing cap
        {"-1": [1]},                    # negative cell id
    ):
        path.write_text(json.dumps({"k": key, "v": bad}))
        artifacts.clear_memory()
        rejected = artifacts.stats("km")["rejected"]
        cents = km.train_kmeans(spark, SF_DIR)  # retrains, no crash
        assert cents and all(isinstance(v[0], int) for v in cents.values())
        assert artifacts.stats("km")["rejected"] == rejected + 1


def test_index_store_validator_is_the_shared_one():
    """Every decoder enforces ONE value discipline (ADVICE r16 #2): the
    store index and the routed index decode through artifacts' shared
    validators, so they accept and reject exactly what those accept."""
    from doc2vec_spark import artifacts
    from doc2vec_spark.operators import coreset, serving

    assert serving.finite_components is artifacts.finite_components
    assert coreset.cell_id is artifacts.cell_id
    cap = artifacts.CELL_ID_CAP
    assert serving._decode_index({str(cap - 1): [1.0]}) == {cap - 1: [1.0]}
    assert serving._decode_index({str(cap): [1.0]}) is None
    assert serving._decode_index({"0": [1.0], "00": [2.0]}) is None  # aliasing


# ---------------------------------------------------------------------------
# ingest-time key-uniqueness gate (VERDICT r16 #8)
# ---------------------------------------------------------------------------


def test_upsert_rejects_duplicate_chunk_keys(spark, tmp_path):
    """The r16 dup-PK probe showed duplicated keys fanning silently through
    14 downstream queries; the DECIDED contract makes ingest the enforcement
    point (the reference's url-keyed upsert cannot represent duplicates,
    database.ts:339-472). A batch with a duplicated (url, chunk_index) must
    be rejected whole — nothing ingested — and a clean batch still lands."""
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding_native import with_embeddings_native
    from doc2vec_spark.store import ChunkStore

    store = ChunkStore(spark, str(tmp_path / "chunks"), num_buckets=4)
    docs = spark.createDataFrame(
        [("https://d/a", "doc a body", "p", "1"), ("https://d/b", "doc b body", "p", "1")],
        "url string, markdown string, product_name string, version string",
    )
    good = with_embeddings_native(chunk_documents(docs))
    store.upsert_documents(good)
    n = store.count()
    assert n > 0

    dup = good.filter(F.col("url") == "https://d/b").unionByName(
        good.filter(F.col("url") == "https://d/b")
    )  # same (url, chunk_index) twice — the planted duplicate
    with pytest.raises(ValueError, match="duplicate chunk keys"):
        store.upsert_documents(dup)
    assert store.count() == n  # rejected batch ingested NOTHING
    # the gate lives in apply() itself (r17 review: sync.run_sync commits
    # through apply, not the upsert wrapper — a wrapper-only gate would
    # let the main ingest path bypass the contract)
    with pytest.raises(ValueError, match="duplicate chunk keys"):
        store.apply(dup, None)
    assert store.count() == n


def test_dupkey_dataset_builder_shape(tmp_path):
    """The fifth sweep mode's corpus: the doc_id 0/7 rows appear exactly
    twice, everything else once, non-documents tables byte-identical."""
    import sys
    from pathlib import Path

    import pyarrow.parquet as pq

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import degenerate_sweep as ds

    out = ds.build_dataset("dupkey")
    src = pq.read_table(f"{ds.SRC_SF}/documents.parquet")
    new = pq.read_table(str(out / "documents.parquet"))
    assert new.num_rows == src.num_rows + 2
    assert new.schema.equals(src.schema)
    from collections import Counter

    counts = Counter(new.column("doc_id").to_pylist())
    assert counts[0] == 2 and counts[7] == 2
    assert all(v == 1 for k, v in counts.items() if k not in (0, 7))
    emb_src = pq.read_table(f"{ds.SRC_SF}/embeddings.parquet")
    emb_new = pq.read_table(str(out / "embeddings.parquet"))
    assert emb_new.equals(emb_src)


# ---------------------------------------------------------------------------
# validator total-function properties: the reads-as-absent contract means
# NEVER RAISE, on any JSON-decodable input whatsoever
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _json_scalars = (
        st.none()
        | st.booleans()
        | st.integers()
        | st.floats(allow_nan=True, allow_infinity=True)
        | st.text()
    )
    _json_values = st.recursive(
        _json_scalars,
        lambda child: st.lists(child, max_size=4)
        | st.dictionaries(st.text(max_size=8), child, max_size=4),
        max_leaves=12,
    )

    @given(_json_values)
    @settings(max_examples=300, deadline=None)
    def test_validators_are_total_functions(v):
        """Any corrupt payload shape must map to a value or None — an
        exception here IS the r16 OverflowError bug class."""
        from doc2vec_spark import artifacts
        from doc2vec_spark.operators import coreset, serving

        for fn in (
            artifacts.finite_components,
            artifacts.integer_components,
            artifacts.cell_id,
        ):
            out = fn(v)  # must not raise
            assert out is None or isinstance(out, (int, list))
        # the payload decoders built on them are total as well
        for fn in (
            serving._decode_index,
            serving._decode_codebooks,
            coreset._decode_centers,
        ):
            out = fn(v)  # must not raise
            assert out is None or isinstance(out, (dict, list))

    @given(st.text(max_size=12))
    @settings(max_examples=300, deadline=None)
    def test_cell_id_on_text_never_raises_and_roundtrips(s):
        from doc2vec_spark import artifacts

        out = artifacts.cell_id(s)
        if out is not None:  # accepted keys are canonical ASCII decimals
            assert 0 <= out < artifacts.CELL_ID_CAP
            assert s.isascii() and s.isdigit() and int(s) == out

except ImportError:  # hypothesis is baked into this env; belt and braces
    pass
