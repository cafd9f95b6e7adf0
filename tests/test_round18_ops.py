"""Round-18 behavioral tests.

Covers the r18 edits:
- artifact-cache eviction ownership + serialization guard (ADVICE r17 #1/#2)
- CC loop conf scoping: both variants restore AQE and shuffle-partition
  state, and size loop shuffles to the measured edge/state count
- the bound-tokens shingle rewrite stays value-identical to the unbound
  helper (the oracle parity suite checks values vs DuckDB; this pins the
  Spark-vs-Spark equivalence the 18x rewrite relies on)
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# artifact cache: eviction only touches its own files (ADVICE r17 #1)
# ---------------------------------------------------------------------------


def _put(key, value, decode=lambda p: p):
    from doc2vec_spark import artifacts

    return artifacts.get_or_build("km", lambda: key, lambda: value, decode)


def test_evict_never_unlinks_unrelated_json(tmp_path, monkeypatch):
    """SPARK_GRAFT_TRAIN_CACHE may point at a directory holding unrelated
    JSON files; eviction must only ever unlink the 32-hex entry files this
    module wrote (and its own stale tmp files), never a bystander."""
    import os

    from doc2vec_spark import artifacts

    root = tmp_path / "tc"
    root.mkdir()
    monkeypatch.setenv(artifacts.CACHE_ENV, str(root))
    bystanders = ["config.json", "deadbeef.json", "a" * 31 + ".json", "G" * 32 + ".json"]
    for name in bystanders:
        (root / name).write_text("{}")
    stale_foreign_tmp = root / "build.tmp.1"
    stale_foreign_tmp.write_text("x")
    os.utime(stale_foreign_tmp, (1, 1))  # ancient: would be reaped if owned
    for name in bystanders:
        os.utime(root / name, (1, 1))  # ancient: oldest-mtime if eligible
    for i in range(artifacts.MAX_ENTRIES + 5):
        _put(("k", i), [i])
        p = artifacts._entry_path(root, artifacts._key("km", ("k", i), __name__))
        os.utime(p, (1000 + i, 1000 + i))
    _put(("fresh",), [99])
    for name in bystanders:
        assert (root / name).exists(), name
    assert stale_foreign_tmp.exists()
    # the bound still holds over OWNED entries
    import re

    owned = [p for p in root.glob("*.json") if re.fullmatch(r"[0-9a-f]{32}\.json", p.name)]
    assert len(owned) <= artifacts.MAX_ENTRIES


def test_put_swallows_unserializable_value(tmp_path, monkeypatch):
    """ADVICE r17 #2: json.dumps raises TypeError on a non-serializable
    value; the 'never raise into the query path' contract covers that, not
    just OSError. The failed store leaves no entry and no partial file
    behind, and the caller still gets the built artifact."""
    from doc2vec_spark import artifacts

    root = tmp_path / "tc"
    monkeypatch.setenv(artifacts.CACHE_ENV, str(root))
    artifacts.clear_memory()
    bad = [object()]
    assert _put(("bad",), bad) is bad  # must not raise
    misses = artifacts.stats("km")["misses"]
    assert _put(("bad",), [1, 2]) == [1, 2]  # nothing was cached
    assert artifacts.stats("km")["misses"] == misses + 1
    assert not list(root.glob("*.tmp.*")) if root.exists() else True
    # the later good build on the same key is cached
    artifacts.clear_memory()
    assert _put(("bad",), [3]) == [1, 2]


# ---------------------------------------------------------------------------
# CC loop conf scoping (r18: shuffle partitions joined AQE in the loop scope)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("variant", ["propagation", "star"])
@pytest.mark.parametrize("small_input", [False, True])
def test_cc_loops_restore_session_conf(spark, variant, small_input):
    """Both CC variants override spark.sql.adaptive.enabled AND
    spark.sql.shuffle.partitions for their iteration scope only; after the
    call the session sees exactly its prior values — in both the default
    scope and the widened small_input (static edge-build) scope."""
    from pyspark.sql import functions as F

    from doc2vec_spark.operators.pipeline import (
        connected_components,
        connected_components_star,
    )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", None)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "u long, v long"
    )
    fn = connected_components if variant == "propagation" else connected_components_star
    out = {
        r["doc_id"]: r["component"]
        for r in fn(edges, small_input=small_input).collect()
    }
    assert out[3] == 1 and out[11] == 10 and out[22] == 20
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    assert spark.conf.get("spark.sql.adaptive.enabled", None) == prev_aqe


def test_cc_star_loop_conf_restored_even_on_failure(spark):
    """The finally must restore conf when a round job dies mid-loop."""
    from doc2vec_spark.operators.pipeline import connected_components_star

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", None)
    # the failing expression must produce a USED column or pruning removes it
    bad = spark.createDataFrame([(1, 2)], "u long, v long").selectExpr(
        "if(u > 99, u, cast(raise_error('boom') as long)) as u", "v"
    )
    with pytest.raises(Exception):
        connected_components_star(bad).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    assert spark.conf.get("spark.sql.adaptive.enabled", None) == prev_aqe


def test_cc_loop_partition_sizing_clamps():
    """Loop shuffle partitions: 1 for tiny graphs, session default as the
    ceiling for 100 TB-scale edge counts (pure arithmetic of the clamp the
    two loops apply)."""
    from doc2vec_spark.operators.pipeline import STAR_EDGES_PER_PARTITION

    default = 32

    def parts(n_rows: int) -> int:
        return max(1, min(default, n_rows // STAR_EDGES_PER_PARTITION + 1))

    assert parts(0) == 1
    assert parts(285) == 1
    assert parts(STAR_EDGES_PER_PARTITION - 1) == 1
    assert parts(STAR_EDGES_PER_PARTITION) == 2
    assert parts(10**12) == default  # ceiling: the session default fans out


# ---------------------------------------------------------------------------
# size-scaled posting-aggregate partitioning (the 32x rehearsal fix)
# ---------------------------------------------------------------------------


def test_corpus_agg_partitions_scales_and_clamps(tmp_path):
    """corpus_agg_partitions: session default for small/missing corpora
    (callers then skip the pre-repartition and keep AQE coalescing),
    size-scaled above it, ceilinged at 32x the default."""
    from doc2vec_spark.operators.dedup import corpus_agg_partitions
    from doc2vec_spark.session import default_parallelism

    n = default_parallelism()
    # missing table / bad dir -> default (non-file schemes take this path)
    assert corpus_agg_partitions(str(tmp_path)) == n
    assert corpus_agg_partitions("s3a://bucket/prefix") == n
    # small corpus -> default (sf0.1 documents is ~0.6 MB)
    assert corpus_agg_partitions("/root/testdata/sf0.1") == n
    # growing sizes scale the count; the ceiling is 32x the default
    small = tmp_path / "small"
    small.mkdir()
    (small / "documents.parquet").write_bytes(b"x" * (20 << 20))  # 20 MB
    mid = corpus_agg_partitions(str(small))
    assert n < mid <= 32 * n
    big = tmp_path / "big"
    big.mkdir()
    with (big / "documents.parquet").open("wb") as f:
        f.seek((10 << 30) - 1)
        f.write(b"\0")  # 10 GB sparse
    assert corpus_agg_partitions(str(big)) == 32 * n


# ---------------------------------------------------------------------------
# bound-tokens shingle rewrite: Spark-vs-Spark value identity
# ---------------------------------------------------------------------------


def test_bound_shingle_hash_rows_match_unbound_form(spark):
    """The r18 hot-path form (tokens bound to a column, then
    word_shingles_from) must emit exactly the rows of the documented
    unbound helper — the 18x is plan shape only."""
    from pyspark.sql import functions as F

    from doc2vec_spark.operators.dedup import (
        _tokens,
        word_shingles,
        word_shingles_from,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hash_of = lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    unbound = docs.select(
        "doc_id",
        F.explode(F.transform(word_shingles(5), hash_of)).alias("h"),
    )
    bound = docs.select("doc_id", _tokens().alias("ws")).select(
        "doc_id",
        F.explode(F.transform(word_shingles_from(F.col("ws"), 5), hash_of)).alias("h"),
    )
    assert unbound.exceptAll(bound).count() == 0
    assert bound.exceptAll(unbound).count() == 0
