"""The one cache for trained artifacts (doc2vec_spark/artifacts.py).

``test_every_consumer_obeys_the_cache_rules`` runs the same five checks
for each of the six consumers: memory hit on repeat, disk hit without a
training job after the in-process tier is cleared, a miss on every change
of the data version and on a changed spec digest, and hits that callers
may mutate freely. The remaining tests pin the rules the module enforces
once for every kind: provenance, the version re-check around a build,
bad entries reading as absent, and the disk tier's file discipline.
"""

from __future__ import annotations

import copy
import json
import os
import re
import shutil
import threading

import pyarrow.parquet as pq
import pytest

from doc2vec_spark import artifacts
from tests.conftest import SF_DIR


@pytest.fixture
def cache_dir(tmp_path, monkeypatch):
    """A private disk tier and an empty in-process tier."""
    root = tmp_path / "artifact_cache"
    monkeypatch.setenv(artifacts.CACHE_ENV, str(root))
    artifacts.clear_memory()
    yield root
    artifacts.clear_memory()


def _delta(kind: str, fn):
    before = artifacts.stats(kind)
    out = fn()
    after = artifacts.stats(kind)
    return out, {e: after[e] - before[e] for e in artifacts.EVENTS if after[e] != before[e]}


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


def _scribble(obj) -> None:
    """Mutate every container reachable from obj in place."""
    if isinstance(obj, dict):
        for v in list(obj.values()):
            _scribble(v)
        obj.clear()
    elif isinstance(obj, (list, tuple)):
        for v in obj:
            _scribble(v)
        if isinstance(obj, list):
            obj.append("scribbled")


# ---------------------------------------------------------------------------
# the six consumers: how to call each, and how to move its data version
# ---------------------------------------------------------------------------


def _path_consumer(kind, fn):
    """Registry-table kinds over a nested embeddings table (store.py's
    partitionBy shape, two levels deep). Two data changes: a same-path
    rewrite of the whole table, then an in-place rewrite of one nested
    part file with every ancestor directory's mtime pinned."""

    def make(spark, tmp_path, monkeypatch):
        tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet")
        sf = tmp_path / "sf"
        root = sf / "embeddings.parquet"

        def write(t):
            half = t.num_rows // 2
            for b, part in enumerate((t.slice(0, half), t.slice(half))):
                d = root / f"bucket={b}" / "product_name=x"
                d.mkdir(parents=True, exist_ok=True)
                pq.write_table(part, str(d / "part-000.parquet"))

        write(tbl)

        def same_path_rewrite():
            shutil.rmtree(root)
            write(tbl.slice(0, tbl.num_rows - 1))

        def nested_part_rewrite():
            dirs = [root, root / "bucket=1", root / "bucket=1" / "product_name=x"]
            pinned = {d: os.stat(d).st_mtime_ns for d in dirs}
            part = root / "bucket=1" / "product_name=x" / "part-000.parquet"
            t = pq.read_table(str(part))
            pq.write_table(t.slice(0, t.num_rows - 1), str(part))
            for d, ns in pinned.items():
                os.utime(d, ns=(ns, ns))

        return {
            "call": lambda: fn(spark, str(sf)),
            "changes": [same_path_rewrite, nested_part_rewrite],
        }

    return kind, make


def _km(spark, sf):
    from doc2vec_spark.operators.kmeans import train_kmeans

    return train_kmeans(spark, sf)


def _pq(spark, sf):
    from doc2vec_spark.operators.serving import train_pq_codebooks

    return train_pq_codebooks(spark, sf)


def _fps(spark, sf):
    from doc2vec_spark.operators.coreset import fps_select

    return fps_select(spark, sf)


def _docs(spark, tag: str, n: int = 6):
    return spark.createDataFrame(
        [
            (f"https://d/{i}", f"# D{i}\n{tag} documentation about topic {i}. " * 25, "p", "1")
            for i in range(n)
        ],
        "url string, markdown string, product_name string, version string",
    )


def _store_consumer(kind, ensure_name):
    """ChunkStore kinds: the data version is the commit token, so a sync
    that commits new content is the data change."""

    def make(spark, tmp_path, monkeypatch):
        from doc2vec_spark.operators import serving
        from doc2vec_spark.store import ChunkStore
        from doc2vec_spark.sync import sync_documents

        store = ChunkStore(spark, str(tmp_path / "chunks"))
        sync_documents(spark, store, _docs(spark, "first"))

        def commit():
            sync_documents(spark, store, _docs(spark, "rewritten"))

        return {
            "call": lambda: getattr(serving, ensure_name)(store),
            "changes": [commit],
        }

    return kind, make


def _routed(spark, tmp_path, monkeypatch):
    """The routed serving tier with no ``index=``: the data version is the
    session, the frame's plan hash and its input files. The data change
    rewrites the input file in place under the SAME frame (same plan):
    same size, one embedding component changed, new mtime."""
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.operators import serving

    path = str(tmp_path / "chunks.parquet")
    tbl = with_embeddings(chunk_documents(_docs(spark, "routed", n=4))).toArrow()

    def write(t):
        pq.write_table(t, path, compression="none", use_dictionary=False)

    write(tbl)
    frame = spark.read.parquet(path)
    n = tbl.num_rows
    captured = []
    real = serving.cell_assignment_col
    monkeypatch.setattr(
        serving, "cell_assignment_col", lambda index: captured.append(index) or real(index)
    )

    def call():
        serving.query_documentation_routed(
            frame, "topic 1", ann_threshold=0, corpus_size=n, k=2
        )
        return captured[-1]

    def rewrite_input_file():
        import pyarrow as pa

        size, ns = os.path.getsize(path), os.stat(path).st_mtime_ns
        emb = tbl.column("embedding").to_pylist()
        emb[0] = [-x for x in emb[0]]
        write(tbl.set_column(
            tbl.schema.get_field_index("embedding"),
            "embedding",
            pa.array(emb, type=tbl.schema.field("embedding").type),
        ))
        os.utime(path, ns=(ns + 10**9, ns + 10**9))
        assert os.path.getsize(path) == size  # same plan, same size

    return {"call": call, "changes": [rewrite_input_file]}


CONSUMERS = dict(
    [
        _path_consumer("km", _km),
        _path_consumer("pq", _pq),
        _path_consumer("fps", _fps),
        _store_consumer("ann_index", "ensure_chunk_ann_index"),
        _store_consumer("ann_pq", "ensure_pq_codebooks"),
        ("routed", _routed),
    ]
)


@pytest.mark.parametrize("kind", sorted(CONSUMERS))
def test_every_consumer_obeys_the_cache_rules(
    kind, spark, tmp_path, monkeypatch, cache_dir
):
    c = CONSUMERS[kind](spark, tmp_path, monkeypatch)
    call = c["call"]
    first, d = _delta(kind, call)
    assert first and d == {"misses": 1}
    snapshot = copy.deepcopy(first)

    # 1. a repeat call is a memory hit
    again, d = _delta(kind, call)
    assert d == {"memory_hits": 1} and again == snapshot

    # 2. with the in-process tier cleared: a disk hit, no training job
    artifacts.clear_memory()
    jobs = _jobs(spark)
    again, d = _delta(kind, call)
    assert d == {"disk_hits": 1} and again == snapshot
    assert _jobs(spark) == jobs

    # 5. a hit hands out objects the caller may mutate freely
    _scribble(again)
    _scribble(first)
    again, d = _delta(kind, call)
    assert d == {"memory_hits": 1} and again == snapshot

    # 4. a changed spec digest (a code edit) misses
    with monkeypatch.context() as m:
        m.setattr(artifacts, "module_digest", lambda mod: "edited:" + mod)
        _, d = _delta(kind, call)
        assert d == {"misses": 1}

    # 3. every change of the data version misses; the new version caches
    for change in c["changes"]:
        change()
        _, d = _delta(kind, call)
        assert d == {"misses": 1}, change.__name__
        _, d = _delta(kind, call)
        assert d == {"memory_hits": 1}, change.__name__


# ---------------------------------------------------------------------------
# rules enforced once, for every kind
# ---------------------------------------------------------------------------


def _ident(payload):
    return payload


def _get(kind, version, value, decode=_ident):
    return artifacts.get_or_build(kind, lambda: version, lambda: value, decode)


def test_unknown_version_builds_and_stores_nothing(cache_dir):
    for _ in range(2):
        out, d = _delta("t", lambda: _get("t", None, [1, 2]))
        assert out == [1, 2] and d == {"misses": 1}
    assert not cache_dir.exists()


def test_empty_artifact_is_returned_not_stored(cache_dir):
    for _ in range(2):
        out, d = _delta("t", lambda: _get("t", ("v",), {}))
        assert out == {} and d == {"misses": 1}


def test_version_moving_during_the_build_is_not_stored(cache_dir):
    """A commit or rewrite that lands while training runs must not pair
    the fresh artifact with the version read before the build."""
    versions = iter([("v", 1), ("v", 2)])
    out = artifacts.get_or_build("t", lambda: next(versions), lambda: [1], _ident)
    assert out == [1]
    for v in (("v", 1), ("v", 2)):
        _, d = _delta("t", lambda: _get("t", v, [2]))
        assert d == {"misses": 1}


def test_store_commit_during_training_is_not_stored(spark, tmp_path, cache_dir):
    """The store-kind form of the re-check: the version token read after
    training differs from the one read before, so nothing is cached."""
    from doc2vec_spark.operators.serving import ensure_chunk_ann_index
    from doc2vec_spark.store import ChunkStore
    from doc2vec_spark.sync import sync_documents

    store = ChunkStore(spark, str(tmp_path / "chunks"))
    sync_documents(spark, store, _docs(spark, "toctou", n=4))
    real = store.version_token
    tokens = iter([real(), (10**6, ())])
    store.version_token = lambda: next(tokens, real())
    assert ensure_chunk_ann_index(store)
    _, d = _delta("ann_index", lambda: ensure_chunk_ann_index(store))
    assert d == {"misses": 1}


def test_miss_returns_decoded_copy_not_the_built_payload(cache_dir):
    built = {"0": [1.0, 2.0]}
    out = _get("t", ("v",), built, lambda p: artifacts.cell_map(p, artifacts.finite_components))
    assert out == {0: [1.0, 2.0]}
    out[0].append(9.0)
    assert built == {"0": [1.0, 2.0]}


def test_decoder_rejecting_a_fresh_build_raises(cache_dir):
    with pytest.raises(ValueError, match="own validator"):
        _get("t", ("v",), ["x"], lambda p: None)


def test_memory_tier_is_bounded_lru(cache_dir, monkeypatch):
    monkeypatch.setenv(artifacts.CACHE_ENV, "")  # memory tier only
    for i in range(artifacts.MAX_ENTRIES):
        _get("t", ("k", i), [i])
    _get("t", ("k", 0), [0])  # touch the oldest: now most recent
    _get("t", ("k", "new"), ["new"])  # evicts ("k", 1)
    _, d = _delta("t", lambda: _get("t", ("k", 0), [0]))
    assert d == {"memory_hits": 1}
    _, d = _delta("t", lambda: _get("t", ("k", 1), [1]))
    assert d == {"misses": 1}


def test_stale_tmp_files_are_reaped_fresh_ones_kept(cache_dir):
    """A writer that died between write and replace leaves an owned tmp
    file; eviction reaps it once it is an hour old and never touches a
    fresh one (an active writer's)."""
    _get("t", ("seed",), [0])
    stale = cache_dir / ("a" * 32 + ".tmp.123-456")
    fresh = cache_dir / ("b" * 32 + ".tmp.123-456")
    for p in (stale, fresh):
        p.write_text("partial")
    os.utime(stale, (1, 1))
    _get("t", ("next",), [1])
    assert not stale.exists() and fresh.exists()


def test_disk_tier_reads_are_stats_counted(cache_dir):
    _get("t", ("x",), [1])
    artifacts.clear_memory()
    artifacts._entry_path(cache_dir, artifacts._key("t", ("x",), __name__)).write_text("{")
    _, d = _delta("t", lambda: _get("t", ("x",), [1]))
    assert d == {"rejected": 1, "misses": 1}
    artifacts.clear_memory()
    _, d = _delta("t", lambda: _get("t", ("x",), [1]))
    assert d == {"disk_hits": 1}  # the rebuild healed the entry


def test_owned_names_match_what_is_written(cache_dir):
    _get("t", ("x",), [1])
    names = [p.name for p in cache_dir.iterdir()]
    assert names and all(re.fullmatch(r"[0-9a-f]{32}\.json", n) for n in names)
    entry = json.loads((cache_dir / names[0]).read_text())
    assert entry == {"k": artifacts._key("t", ("x",), __name__), "v": [1]}


def test_concurrent_same_key_writers_leave_a_valid_entry(cache_dir):
    """More threads than cores, each clearing the in-process tier and
    building the same key: no call is lost from the counters, the disk
    entry ends valid, and no tmp file is left behind."""
    import sys

    n_threads, rounds = 2 * (os.cpu_count() or 2), 20
    before = artifacts.stats("t")

    def writer():
        for _ in range(rounds):
            artifacts.clear_memory()
            assert _get("t", ("same",), [1, 2, 3]) == [1, 2, 3]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    after = artifacts.stats("t")
    calls = sum(after[e] - before[e] for e in ("memory_hits", "disk_hits", "misses"))
    assert calls == n_threads * rounds
    artifacts.clear_memory()
    _, d = _delta("t", lambda: _get("t", ("same",), [1, 2, 3]))
    assert d == {"disk_hits": 1}
    assert not list(cache_dir.glob("*.tmp.*"))
