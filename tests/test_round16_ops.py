"""Round-16 behavioral tests: PQ-codebook persistence
(serving.ensure_pq_codebooks — VERDICT r15 #3), value-level validation
of cached store indexes and the caller-frame persistence bypass (ADVICE
r14 #1/#3 via VERDICT r15 #4), the cross-session disk tier of the
trained-artifact cache (artifacts.py), and the unigram piece-cost
broadcast-join plan assertion promised by test_round15_ops's docstring.
"""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import SF_DIR


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


# ---------------------------------------------------------------------------
# PQ-codebook persistence (the seam serving.train_chunk_pq_codebooks
# documents; reference parity: database.ts:36-52 persists the whole index)
# ---------------------------------------------------------------------------


@pytest.fixture
def cache_dir(tmp_path, monkeypatch):
    from doc2vec_spark import artifacts

    root = tmp_path / "cache"
    monkeypatch.setenv(artifacts.CACHE_ENV, str(root))
    artifacts.clear_memory()
    yield root
    artifacts.clear_memory()


def _count(kind, event):
    from doc2vec_spark import artifacts

    return artifacts.stats(kind)[event]


def test_pq_codebooks_persist_and_serve_without_retraining(
    spark, tmp_path, monkeypatch, cache_dir
):
    """A fresh session over the same disk tier must LOAD the trained
    codebooks, never retrain (the BENCH_r15 8.6 s first-rep stall); a
    rewrite of the chunk data moves the version token and retrains."""
    from doc2vec_spark import artifacts
    from doc2vec_spark.operators import serving
    from doc2vec_spark.operators.serving import ensure_pq_codebooks
    from doc2vec_spark.sync import sync_documents

    bodies = [f"# D{i}\ndocumentation paragraph about topic {i}. " * 25 for i in range(6)]
    store = _sync_store(spark, tmp_path, bodies)

    cbs1 = ensure_pq_codebooks(store)
    assert cbs1 and all(isinstance(w[0], float) for m in cbs1 for w in m)

    def _no_train(*a, **k):
        raise AssertionError("retrained despite current persisted codebooks")

    artifacts.clear_memory()
    with monkeypatch.context() as m:
        m.setattr(serving, "train_chunk_pq_codebooks", _no_train)
        hits = _count("ann_pq", "disk_hits")
        cbs2 = ensure_pq_codebooks(store)
        assert _count("ann_pq", "disk_hits") == hits + 1
    assert cbs2 == cbs1

    docs2 = spark.createDataFrame(
        [
            (f"https://d/{i}", f"# D{i}\nreplaced corpus text {i}. " * 30, "prod", "2.0")
            for i in range(6)
        ],
        "url string, markdown string, product_name string, version string",
    )
    sync_documents(spark, store, docs2)
    misses = _count("ann_pq", "misses")
    cbs3 = ensure_pq_codebooks(store)  # stale-by-commit: retrains
    assert _count("ann_pq", "misses") == misses + 1
    assert cbs3 != cbs1
    assert ensure_pq_codebooks(store) == cbs3
    assert _count("ann_pq", "misses") == misses + 1


def test_pq_and_coarse_persist_side_by_side(spark, tmp_path, cache_dir):
    """Both quantizers are cached under the same commit token as
    independent kinds; one commit invalidates both."""
    from doc2vec_spark import artifacts
    from doc2vec_spark.operators.serving import (
        ensure_chunk_ann_index,
        ensure_pq_codebooks,
    )
    from doc2vec_spark.sync import sync_documents

    store = _sync_store(
        spark, tmp_path, [f"# D{i}\ncorpus text {i}. " * 25 for i in range(4)]
    )
    idx = ensure_chunk_ann_index(store)
    cbs = ensure_pq_codebooks(store)
    assert len(list(cache_dir.glob("*.json"))) == 2
    artifacts.clear_memory()
    hits = (_count("ann_index", "disk_hits"), _count("ann_pq", "disk_hits"))
    assert ensure_chunk_ann_index(store) == idx and ensure_pq_codebooks(store) == cbs
    assert (_count("ann_index", "disk_hits"), _count("ann_pq", "disk_hits")) == (
        hits[0] + 1,
        hits[1] + 1,
    )
    docs2 = spark.createDataFrame(
        [(f"https://d/{i}", f"# D{i}\nnew text {i}. " * 25, "prod", "2.0") for i in range(4)],
        "url string, markdown string, product_name string, version string",
    )
    sync_documents(spark, store, docs2)
    misses = (_count("ann_index", "misses"), _count("ann_pq", "misses"))
    ensure_chunk_ann_index(store)
    ensure_pq_codebooks(store)
    assert (_count("ann_index", "misses"), _count("ann_pq", "misses")) == (
        misses[0] + 1,
        misses[1] + 1,
    )


def test_caller_frame_bypasses_persistence(spark, tmp_path, monkeypatch, cache_dir):
    """ADVICE r14 #3: a caller-supplied chunks frame has no verifiable
    derivation from the committed store — it must neither read nor write
    the cached index (a mispaired index would become 'current' for every
    later session)."""
    from doc2vec_spark.operators.serving import (
        ensure_chunk_ann_index,
        ensure_pq_codebooks,
    )

    store = _sync_store(
        spark, tmp_path, [f"# D{i}\nsome corpus text {i}. " * 25 for i in range(4)]
    )
    # a filtered frame — NOT the committed chunk set
    subset = store.read().limit(2)
    idx = ensure_chunk_ann_index(store, chunks=subset)
    cbs = ensure_pq_codebooks(store, chunks=subset)
    assert idx and cbs
    # nothing cached under the committed token: the full-store calls train
    assert not list(cache_dir.glob("*.json"))
    misses = (_count("ann_index", "misses"), _count("ann_pq", "misses"))
    full = ensure_chunk_ann_index(store)
    ensure_pq_codebooks(store)
    assert (_count("ann_index", "misses"), _count("ann_pq", "misses")) == (
        misses[0] + 1,
        misses[1] + 1,
    )
    assert ensure_chunk_ann_index(store) == full  # now cached
    # and a cached full-store index is NOT served to a caller frame:
    from doc2vec_spark.operators import serving

    calls = []
    real = serving.build_chunk_ann_index
    monkeypatch.setattr(
        serving, "build_chunk_ann_index", lambda f: calls.append(1) or real(f)
    )
    hits = _count("ann_index", "memory_hits")
    ensure_chunk_ann_index(store, chunks=subset)
    assert calls, "caller frame must train fresh, not read the cached index"
    assert _count("ann_index", "memory_hits") == hits


# ---------------------------------------------------------------------------
# value-level validation (ADVICE r14 #1): corrupt payloads read as absent —
# never load, never crash later inside cell_assignment_col. The decoders
# are what get_or_build applies to every stored entry.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "cents",
    [
        {"0": "abc"},  # list("abc") passed the r14 shape check
        {"0": [0.1, "x"]},  # non-numeric component
        {"0": [0.1, float("inf")] if True else None},  # non-finite
        {"0": []},  # empty vector
        {"0": [0.1, True]},  # bool masquerading as a number
        {"101": [0.1, 0.2]},  # cell id outside the %100 packing range
        {"-1": [0.1, 0.2]},
        {"x": [0.1, 0.2]},  # non-int cell key
        {},  # empty centroid map
    ],
)
def test_corrupt_centroid_values_read_as_absent(tmp_path, cents):
    from doc2vec_spark.operators.serving import _decode_index

    assert _decode_index(json.loads(json.dumps(cents))) is None


def test_nan_centroid_reads_as_absent(tmp_path):
    # NaN survives json round-trips as a non-finite float
    from doc2vec_spark.operators.serving import _decode_index

    assert _decode_index(json.loads('{"0": [NaN, 0.2]}')) is None


@pytest.mark.parametrize(
    "cbs",
    [
        "abc",
        [],
        [[]],
        [["abc"]],
        [[[0.1, "x"]]],
        [[[0.1]], "not-a-subspace"],
    ],
)
def test_corrupt_pq_payloads_read_as_absent(tmp_path, cbs):
    from doc2vec_spark.operators.serving import _decode_codebooks

    assert _decode_codebooks(cbs) is None


def test_valid_payload_still_loads(tmp_path):
    from doc2vec_spark.operators.serving import _decode_codebooks, _decode_index

    assert _decode_index({"3": [0.5, -0.25], "0": [1.0, 2.0]}) == {
        0: [1.0, 2.0],
        3: [0.5, -0.25],
    }
    assert _decode_codebooks([[[0.1, 0.2]], [[0.3, 0.4]]]) == [
        [[0.1, 0.2]],
        [[0.3, 0.4]],
    ]
    # stale-by-commit: another token is another key
    from doc2vec_spark import artifacts

    mod = "doc2vec_spark.operators.serving"
    assert artifacts._key("ann_index", ("s", ("v", 7)), mod) != artifacts._key(
        "ann_index", ("s", ("other", 1)), mod
    )


# ---------------------------------------------------------------------------
# cross-session disk tier of the trained-artifact cache (artifacts.py)
# ---------------------------------------------------------------------------


def _put(kind, key, value):
    from doc2vec_spark import artifacts

    return artifacts.get_or_build(kind, lambda: key, lambda: value, lambda p: p)


def _disk_get(kind, key):
    """The disk tier's entry for (kind, key), or None: a miss builds None
    (returned, never stored)."""
    from doc2vec_spark import artifacts

    artifacts.clear_memory()
    return artifacts.get_or_build(kind, lambda: key, lambda: None, lambda p: p)


def test_train_cache_round_trip_and_eviction(cache_dir, monkeypatch):
    from doc2vec_spark import artifacts

    path = cache_dir  # a DIRECTORY of per-entry files
    assert _disk_get("km", ("a",)) is None
    _put("km", ("a",), {"0": [1, 2]})
    assert _disk_get("km", ("a",)) == {"0": [1, 2]}
    # kind separates namespaces
    assert _disk_get("pq", ("a",)) is None
    # eviction keeps the most recent MAX_ENTRIES (oldest-mtime swept; give
    # each entry a distinct mtime so "oldest" is filesystem-independent)

    def entry(key):
        return artifacts._entry_path(path, artifacts._key("km", key, __name__))

    os.utime(entry(("a",)), (1, 1))
    for i in range(artifacts.MAX_ENTRIES + 5):
        _put("km", ("k", i), [i])
        os.utime(entry(("k", i)), (i + 2, i + 2))
    assert _disk_get("km", ("a",)) is None  # oldest evicted
    assert _disk_get("km", ("k", artifacts.MAX_ENTRIES + 4)) == [
        artifacts.MAX_ENTRIES + 4
    ]
    # corrupt entry file reads as absent, then heals on the next build
    key = ("k", artifacts.MAX_ENTRIES + 3)
    entry(key).write_text("{not json")
    assert _disk_get("km", key) is None
    _put("km", ("z",), [9])
    assert _disk_get("km", ("z",)) == [9]
    # empty env value disables the tier
    monkeypatch.setenv(artifacts.CACHE_ENV, "")
    _put("km", ("d",), [1])
    assert _disk_get("km", ("d",)) is None


def test_trained_quantizers_served_from_disk_in_fresh_process_state(
    spark, cache_dir
):
    """Simulate a fresh session: empty in-process tier, a private disk
    tier; train once, clear the in-process tier again, and prove the second
    call does not run the Lloyd loop: two disk hits and no Spark job."""
    from doc2vec_spark import artifacts
    from doc2vec_spark.operators import kmeans as km
    from doc2vec_spark.operators import serving as sv

    cents1 = km.train_kmeans(spark, SF_DIR)
    cbs1 = sv.train_pq_codebooks(spark, SF_DIR)
    assert cents1 and cbs1

    artifacts.clear_memory()
    tracker = spark.sparkContext.statusTracker()
    jobs = len(tracker.getJobIdsForGroup(None) or [])
    before = artifacts.stats()
    assert km.train_kmeans(spark, SF_DIR) == cents1
    assert sv.train_pq_codebooks(spark, SF_DIR) == cbs1
    after = artifacts.stats()
    assert after["disk_hits"] == before["disk_hits"] + 2
    assert after["misses"] == before["misses"]
    assert len(tracker.getJobIdsForGroup(None) or []) == jobs


def test_disk_tier_key_carries_the_spec_digest(cache_dir):
    """An algorithm edit (different module digest) must MISS — a stale
    trained artifact served across a code change would silently diverge
    from the oracle."""
    from doc2vec_spark import artifacts

    d1 = artifacts.module_digest("doc2vec_spark.operators.kmeans")
    # the digest folds the spec-hash closure digest (what the driver-stamp
    # discipline reopens on) WITH the universal-module stamp: closure
    # digests deliberately exclude tables/session/spec/caching, but a
    # loader edit changes training inputs, so the disk key must move too
    from doc2vec_spark import spec_hashes

    closure = spec_hashes._closure_digests()["doc2vec_spark.operators.kmeans"]
    assert d1 == closure + ":" + spec_hashes.universal_hash()
    k1 = artifacts._key("km", ("sf", "fp"), "doc2vec_spark.operators.kmeans")
    assert k1.endswith(d1)
    _put("km", ("sf", "fp"), {"0": [1]})
    with pytest.MonkeyPatch.context() as m:
        m.setattr(artifacts, "module_digest", lambda mod: "other-digest")
        assert _disk_get("km", ("sf", "fp")) is None
    assert _disk_get("km", ("sf", "fp")) == {"0": [1]}
    # unknown module: digest falls back to the dotted name (still a key,
    # still universal-stamped)
    assert artifacts.module_digest("not.a.module").startswith("not.a.module:")


def test_value_corrupt_disk_entries_fall_through_to_retrain(
    spark, monkeypatch, cache_dir
):
    """A valid-JSON cache entry with wrong-typed values must read as
    absent (retrain), never raise into the query path (round-16 review:
    the index-store value-validation lesson applies to this tier too)."""
    from doc2vec_spark import artifacts
    from doc2vec_spark.operators import kmeans as km
    from doc2vec_spark.operators import serving as sv
    from doc2vec_spark.operators.coreset import dataset_version

    ver = dataset_version(SF_DIR)
    km_key = artifacts._key("km", ver, km.__name__)
    pq_key = artifacts._key("pq", ver, sv.__name__)
    km_path = artifacts._entry_path(cache_dir, km_key)
    pq_path = artifacts._entry_path(cache_dir, pq_key)
    cache_dir.mkdir()
    for bad in ({"0": "abc"}, {"0": 5}, {"x": [1]}, {"0": []}):
        km_path.write_text(json.dumps({"k": km_key, "v": bad}))
        artifacts.clear_memory()
        rejected = artifacts.stats("km")["rejected"]
        cents = km.train_kmeans(spark, SF_DIR)  # retrains, no crash
        assert cents and all(isinstance(v[0], int) for v in cents.values())
        assert artifacts.stats("km")["rejected"] == rejected + 1
    for bad in ("abc", [[]], [["ab"]], [[[1, "x"]]], [5]):
        pq_path.write_text(json.dumps({"k": pq_key, "v": bad}))
        artifacts.clear_memory()
        rejected = artifacts.stats("pq")["rejected"]
        cbs = sv.train_pq_codebooks(spark, SF_DIR)  # retrains, no crash
        assert cbs and isinstance(cbs[0][0][0], float)
        assert artifacts.stats("pq")["rejected"] == rejected + 1


# ---------------------------------------------------------------------------
# unigram piece-cost broadcast plan (the r15 fix: alphabet-sized map
# literal -> broadcast hash join; promised by test_round15_ops's docstring)
# ---------------------------------------------------------------------------


def test_unigram_segment_plans_a_broadcast_piece_cost_join(spark):
    from doc2vec_spark.registry import all_queries

    df = all_queries()["ta_unigram_segment"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the old shape carried a vocab-sized map literal into codegen; the
    # plan string stays bounded now (no thousand-entry literal dump)
    assert len(plan) < 200_000


def test_train_cache_round_trips_arbitrary_json_values(cache_dir):
    """Hypothesis property: any non-empty JSON-representable artifact
    survives a disk round trip bitwise (the disk tier's 'hit is bitwise
    the retrain result' claim rests on exact JSON float round-trips)."""
    from hypothesis import assume, given, settings
    from hypothesis import strategies as st

    leaf = st.one_of(
        st.integers(min_value=-(2**53), max_value=2**53),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=8),
    )
    value = st.one_of(
        st.lists(st.lists(leaf, max_size=4), max_size=4),
        st.dictionaries(st.text(max_size=6), st.lists(leaf, max_size=4), max_size=4),
    )

    @settings(max_examples=60, deadline=None)
    @given(v=value, key_i=st.integers(min_value=0, max_value=5))
    def prop(v, key_i):
        assume(v)  # empty artifacts are never stored
        _put("km", ("prop", key_i, repr(v)), v)
        assert _disk_get("km", ("prop", key_i, repr(v))) == v

    prop()


def test_blanktext_dataset_builder_shape(tmp_path):
    """The fourth sweep mode's corpus: same row count and schema as the
    source, every text degenerate, probe anchors still present."""
    import sys
    from pathlib import Path

    import pyarrow.parquet as pq

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import degenerate_sweep as ds

    out = ds.build_dataset("blanktext")
    src = pq.read_table(f"{ds.SRC_SF}/documents.parquet")
    new = pq.read_table(str(out / "documents.parquet"))
    assert new.num_rows == src.num_rows
    assert new.schema.equals(src.schema)
    texts = set(new.column("text").to_pylist())
    assert texts <= {"", "   ", " \n\t ", "x"}
    ids = set(new.column("doc_id").to_pylist())
    assert 0 in ids and 7 in ids  # probe anchors intact
    # non-documents tables are byte-identical copies
    emb_src = pq.read_table(f"{ds.SRC_SF}/embeddings.parquet")
    emb_new = pq.read_table(str(out / "embeddings.parquet"))
    assert emb_new.equals(emb_src)
