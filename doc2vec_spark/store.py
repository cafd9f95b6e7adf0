"""Chunk store with merge/delete semantics (SURVEY K1-K6, J1).

The reference maintains a SQLite vec0 table / Qdrant collection with
per-chunk upserts, delete-by-url before reinsert, and paginated anti-join
cleanup loops (database.ts:339-678). Spark-first, those collapse into set
operations on a parquet-backed table:

- upsert            = anti-join out the replaced urls, union the new chunks
- delete_by_url     = left-anti filter (K3)
- cleanup_obsolete  = left-anti join against the visited-url set (K4/K5) —
                      the reference's Qdrant scroll pagination loop
                      (database.ts:576-601) disappears entirely

Commits are INCREMENTAL and bucketed: rows hash-bucket by url
(``pmod(xxhash64(url), num_buckets)``), a manifest maps each bucket to the
version directory holding its current files, and a commit rewrites ONLY the
buckets containing touched urls — an upsert of 0.1% of urls rewrites ~0.1%
of a 100 TB store, not all of it. The manifest flips atomically last
(write-ahead versioning), giving the all-or-nothing visibility the
reference approximates with its `sync_complete` flag (W8) — on a real
deployment this is exactly a Delta/Iceberg MERGE with partition overwrite
(`replaceWhere`), and the url-bucket layout is the same lever layout.py
proves Exchange-free for url-keyed joins. Within each version, files
partition by product_name (the reference's per-product databases,
mcp/src/server.ts:417-430) so metadata-filtered KNN prunes at the scan.
Commits serialize on an advisory flock (two unlocked commits would lose one
set of bucket pointers); superseded version directories survive exactly one
further commit before GC, so readers holding the previous manifest finish
their scans (a deployment would widen that to a snapshot-isolation TTL).
``rebucket`` migrates a store to a new bucket count in one rewrite.

A small KV `sync_state` table mirrors vec_metadata (database.ts:121-126)
for watermarks.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.chunking import CHUNK_SCHEMA

EMBED_FIELD = "embedding"
DEFAULT_NUM_BUCKETS = 16


class ChunkStore:
    def __init__(self, spark: SparkSession, path: str, num_buckets: int = DEFAULT_NUM_BUCKETS):
        self.spark = spark
        self.path = path.rstrip("/")
        self.num_buckets = num_buckets
        os.makedirs(self.path, exist_ok=True)

    # -- manifest machinery --------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "MANIFEST")

    def _manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                m = json.load(f)
            if not isinstance(m.get("buckets"), dict):
                raise ValueError("bad manifest")
            return m
        except (OSError, ValueError):
            return {"counter": 0, "num_buckets": self.num_buckets, "buckets": {}}

    def _flip(self, manifest: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())  # atomic flip = the "transaction"

    @contextmanager
    def _write_lock(self):
        """Advisory inter-process lock serializing commits (ADVICE r02):
        an unlocked read-modify-write of MANIFEST would silently drop one of
        two concurrent commits' bucket pointers. Writers queue on flock;
        readers never take the lock (they resolve a consistent snapshot from
        whatever manifest they read, and deferred GC below keeps that
        snapshot's files alive through the next commit)."""
        import fcntl

        with open(os.path.join(self.path, ".lock"), "w") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(f, fcntl.LOCK_UN)

    def _gc(self, manifest: dict) -> None:
        """Remove version dirs neither referenced by the new manifest nor
        retired by THIS commit — superseded versions survive exactly one
        more commit (``retired``), so a reader that resolved file paths from
        the previous manifest finishes its scan before the files vanish. A
        real deployment would widen this to a snapshot-isolation TTL."""
        live = set(manifest["buckets"].values()) | set(manifest.get("retired", []))
        for name in os.listdir(self.path):
            if name.startswith("v") and name not in live:
                full = os.path.join(self.path, name)
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)

    def _bucket_expr(self, nb: int):
        return F.pmod(F.xxhash64(F.col("url")), F.lit(nb)).cast("int")

    def _empty(self) -> DataFrame:
        from pyspark.sql import types as T

        schema = T.StructType(
            CHUNK_SCHEMA.fields
            + [T.StructField(EMBED_FIELD, T.ArrayType(T.FloatType()))]
        )
        return self.spark.createDataFrame([], schema)

    def _read_buckets(self, manifest: dict, buckets: list[int]) -> DataFrame:
        # group by owning version: one scan per version dir (with basePath so
        # bucket/product_name partition columns parse), unioned by name —
        # #versions <= num_buckets, and each scan lists only selected buckets
        by_version: dict[str, list[int]] = {}
        for b in buckets:
            ver = manifest["buckets"].get(str(b))
            if ver is not None:
                by_version.setdefault(ver, []).append(b)
        if not by_version:
            return self._empty()
        cols = [f.name for f in self._empty().schema.fields]
        parts = []
        for ver, bs in sorted(by_version.items()):
            base = os.path.join(self.path, ver)
            paths = [os.path.join(base, f"bucket={b}") for b in bs]
            parts.append(
                self.spark.read.option("basePath", base).parquet(*paths).select(*cols)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- reads ---------------------------------------------------------------

    def read(self) -> DataFrame:
        # resolve every key present in the manifest rather than range(nb):
        # during an incremental rebucket the key space is MIXED — un-migrated
        # old-layout buckets plus migrated new-layout buckets — and the two
        # are disjoint by construction (see rebucket_start), so the union of
        # all keys is always exactly one copy of every row
        manifest = self._manifest()
        return self._read_buckets(manifest, sorted(int(k) for k in manifest["buckets"]))

    def count(self) -> int:
        return self.read().count()

    def version_token(self) -> tuple:
        """Cheap identity of the current committed state (tests use this to
        assert that a no-op sync does not advance the store)."""
        m = self._manifest()
        return (m["counter"], tuple(sorted(m["buckets"].items())))

    # -- writes (K1-K5) ------------------------------------------------------

    def apply(self, new_chunks: DataFrame | None, delete_urls: DataFrame | None) -> None:
        """ONE commit covering both mutation kinds of a sync: urls in
        ``new_chunks`` get their chunks replaced (delete-by-url-then-insert,
        database.ts:630-678 + doc2vec.ts:1957-1969), urls in ``delete_urls``
        are purged. Only buckets containing a touched url are rewritten.
        Commits serialize on the store's advisory write lock.

        The batch is persisted for the commit's duration (r17 review): the
        chunker/embedder lineage behind a typical batch is a mapInPandas
        stage, and the commit reads the batch at least twice (touched-url
        collect + the bucket write) — three times with the key gate below —
        so without a persist every ingest re-ran the Python chunk/embed
        pipeline per pass. Unpersisted in a finally.

        Key-uniqueness gate (VERDICT r16 #8): (url, chunk_index) is the
        chunk primary key — the reference's url-keyed upsert makes
        duplicates unrepresentable (database.ts:339-472), and the r16
        dup-PK probe showed duplicated keys fanning silently through 14
        downstream joins/groupings. EVERY ingest passes through apply()
        (upsert_documents and sync.run_sync alike — enforcing it only in
        the wrapper would let the main sync path bypass it), so the
        contract is checked here: one batch-sized aggregate over the
        persisted batch, whole-batch rejection, nothing written."""
        # persist only if the CALLER hasn't (sync.run_sync hands us its own
        # persisted frame) — unpersisting a borrowed cache would silently
        # drop the caller's, and re-persisting raises on level mismatch
        own_persist = new_chunks is not None and not new_chunks.is_cached
        if own_persist:
            new_chunks = new_chunks.persist()
        try:
            self._apply_inner(new_chunks, delete_urls)
        finally:
            if own_persist:
                new_chunks.unpersist()

    def _apply_inner(
        self, new_chunks: DataFrame | None, delete_urls: DataFrame | None
    ) -> None:
        if new_chunks is not None:
            dup = (
                new_chunks.groupBy("url", "chunk_index")
                .count()
                .filter(F.col("count") > 1)
                .limit(3)
                .collect()
            )
            if dup:
                sample = "; ".join(
                    f"({r['url']}, {r['chunk_index']})" for r in dup
                )
                raise ValueError(
                    "duplicate chunk keys in ingest batch — (url, chunk_index) "
                    f"must be unique per commit; first offenders: {sample}"
                )
        parts = []
        if new_chunks is not None:
            parts.append(new_chunks.select("url"))
        if delete_urls is not None:
            parts.append(delete_urls.select("url"))
        if not parts:
            return
        touched = parts[0]
        for p in parts[1:]:
            touched = touched.unionByName(p)
        touched = touched.distinct()

        with self._write_lock():
            manifest = self._manifest()
            nb = manifest.get("num_buckets", self.num_buckets)
            mig = manifest.get("migration")

            if mig is None:
                affected = sorted(
                    r["b"]
                    for r in touched.select(self._bucket_expr(nb).alias("b")).distinct().collect()
                )
                if not affected:
                    return
                write_nb = nb
                drop_keys: list[int] = []
                expect = list(affected)
            else:
                # mid-migration commit: a touched url lives either in an
                # un-migrated OLD bucket or in a migrated NEW bucket. Old
                # buckets this commit touches are migrated opportunistically
                # (their full contents rewritten in the new layout), so
                # writes never extend the old layout's lifetime.
                new_nb, migrated = mig["target"], set(mig["migrated"])
                tb = (
                    touched.select(
                        self._bucket_expr(nb).alias("ob"),
                        self._bucket_expr(new_nb).alias("nbk"),
                    )
                    .distinct()
                    .collect()
                )
                old_aff = sorted({r["ob"] for r in tb} - migrated)
                new_aff = sorted({r["nbk"] for r in tb if r["ob"] in migrated})
                if not old_aff and not new_aff:
                    return
                write_nb = new_nb
                drop_keys = old_aff
                # every new-layout bucket this commit can produce: the image
                # sets of the old buckets being migrated plus the already-
                # migrated buckets being edited (disjoint; nb divides new_nb)
                expect = sorted(
                    set(new_aff)
                    | {b + k * nb for b in old_aff for k in range(new_nb // nb)}
                )
                affected = old_aff + new_aff

            # no broadcast hint: a full-listing sync routes EVERY source url
            # through `touched`, far beyond broadcast scale at the store's
            # target size — AQE picks broadcast itself whenever the set is
            # actually small
            kept = self._read_buckets(manifest, affected).join(
                touched, "url", "left_anti"
            )
            out = kept if new_chunks is None else kept.unionByName(new_chunks)

            old_versions = set(manifest["buckets"].values())
            manifest["counter"] += 1
            name = f"v{manifest['counter']:08d}-{uuid.uuid4().hex[:8]}"
            out_dir = os.path.join(self.path, name)
            (
                out.withColumn("bucket", self._bucket_expr(write_nb))
                .repartition(max(len(expect), 1), F.col("bucket"))
                .write.partitionBy("bucket", "product_name")
                .mode("overwrite")
                .parquet(out_dir)
            )
            for b in drop_keys:  # old-layout keys superseded by migration
                manifest["buckets"].pop(str(b), None)
            # a bucket left empty by deletes has no bucket=K dir -> drop its entry
            for b in expect:
                if os.path.isdir(os.path.join(out_dir, f"bucket={b}")):
                    manifest["buckets"][str(b)] = name
                else:
                    manifest["buckets"].pop(str(b), None)
            if mig is not None:
                mig["migrated"] = sorted(set(mig["migrated"]) | set(drop_keys))
                self._maybe_finalize_migration(manifest)
            live = set(manifest["buckets"].values())
            manifest["retired"] = sorted(old_versions - live)
            self._flip(manifest)
            self._gc(manifest)

    def rebucket(self, new_num_buckets: int) -> None:
        """Migration (VERDICT r02 #7): rewrite the store ONCE under a new
        url-bucket count and flip — a store created small (16 buckets) can
        grow toward the 100 TB layout (thousands of buckets) without losing
        commit-counter continuity or changing read() contents. One full
        rewrite is the honest cost: the bucket id is pmod(hash(url), nb), so
        every row can move. Subsequent commits rewrite only touched buckets
        of the new layout."""
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")
        with self._write_lock():
            manifest = self._manifest()
            old_nb = manifest.get("num_buckets", self.num_buckets)
            all_rows = self._read_buckets(manifest, list(range(old_nb)))

            old_versions = set(manifest["buckets"].values())
            manifest["counter"] += 1
            name = f"v{manifest['counter']:08d}-{uuid.uuid4().hex[:8]}"
            out_dir = os.path.join(self.path, name)
            (
                all_rows.withColumn("bucket", self._bucket_expr(new_num_buckets))
                .repartition(new_num_buckets, F.col("bucket"))
                .write.partitionBy("bucket", "product_name")
                .mode("overwrite")
                .parquet(out_dir)
            )
            manifest["buckets"] = {
                str(b): name
                for b in range(new_num_buckets)
                if os.path.isdir(os.path.join(out_dir, f"bucket={b}"))
            }
            manifest["num_buckets"] = new_num_buckets
            manifest.pop("migration", None)  # a full rewrite subsumes any
            manifest["retired"] = sorted(old_versions)
            self.num_buckets = new_num_buckets
            self._flip(manifest)
            self._gc(manifest)

    # -- incremental rebucket (VERDICT r03 #8) -------------------------------
    # The full rebucket above rewrites the whole store in ONE commit — at the
    # 100 TB layout that is a single giant job and a long write outage for
    # the commit lock. The incremental path migrates N old buckets per
    # commit behind the same lock. Correctness hinges on one invariant:
    # new_num_buckets is a MULTIPLE of the old count, so old bucket b's rows
    # land exactly in the new-layout image set {b + k*old_nb} — image sets of
    # distinct old buckets are disjoint, and a manifest key is unambiguous
    # (key K is new-layout iff K % old_nb is in migration.migrated, which
    # read() never needs to know: it just resolves every key). Readers stay
    # green throughout: each commit atomically swaps one batch of old keys
    # for their images, and deferred GC keeps the prior snapshot's files
    # alive through the next commit.

    def _maybe_finalize_migration(self, manifest: dict) -> None:
        mig = manifest.get("migration")
        old_nb = manifest.get("num_buckets", self.num_buckets)
        if mig is not None and len(mig["migrated"]) == old_nb:
            manifest["num_buckets"] = mig["target"]
            self.num_buckets = mig["target"]
            manifest.pop("migration", None)

    def rebucket_start(self, new_num_buckets: int) -> None:
        """Begin an incremental migration to ``new_num_buckets`` (must be a
        proper multiple of the current count). Manifest-only commit; data
        moves in subsequent ``rebucket_step`` / ``apply`` commits (apply
        migrates the old buckets it touches opportunistically)."""
        with self._write_lock():
            manifest = self._manifest()
            old_nb = manifest.get("num_buckets", self.num_buckets)
            if manifest.get("migration") is not None:
                raise ValueError("a rebucket migration is already in progress")
            if new_num_buckets <= old_nb or new_num_buckets % old_nb != 0:
                raise ValueError(
                    f"incremental rebucket needs a proper multiple of {old_nb} "
                    f"(got {new_num_buckets}); use rebucket() for arbitrary counts"
                )
            manifest["migration"] = {"target": new_num_buckets, "migrated": []}
            manifest["counter"] += 1
            manifest["retired"] = []
            self._flip(manifest)

    def rebucket_step(self, max_buckets: int = 4) -> int:
        """Migrate up to ``max_buckets`` not-yet-migrated old buckets in one
        commit; returns how many old buckets remain. Finalizes (flips
        num_buckets to the target) when the last batch lands."""
        with self._write_lock():
            manifest = self._manifest()
            mig = manifest.get("migration")
            if mig is None:
                return 0
            old_nb = manifest.get("num_buckets", self.num_buckets)
            new_nb, migrated = mig["target"], set(mig["migrated"])
            batch = [b for b in range(old_nb) if b not in migrated][:max_buckets]

            old_versions = set(manifest["buckets"].values())
            manifest["counter"] += 1
            if batch:
                name = f"v{manifest['counter']:08d}-{uuid.uuid4().hex[:8]}"
                out_dir = os.path.join(self.path, name)
                images = sorted(
                    b + k * old_nb for b in batch for k in range(new_nb // old_nb)
                )
                (
                    self._read_buckets(manifest, batch)
                    .withColumn("bucket", self._bucket_expr(new_nb))
                    .repartition(len(images), F.col("bucket"))
                    .write.partitionBy("bucket", "product_name")
                    .mode("overwrite")
                    .parquet(out_dir)
                )
                for b in batch:
                    manifest["buckets"].pop(str(b), None)
                for b in images:
                    if os.path.isdir(os.path.join(out_dir, f"bucket={b}")):
                        manifest["buckets"][str(b)] = name
                mig["migrated"] = sorted(migrated | set(batch))
            remaining = old_nb - len(mig["migrated"])
            self._maybe_finalize_migration(manifest)
            live = set(manifest["buckets"].values())
            manifest["retired"] = sorted(old_versions - live)
            self._flip(manifest)
            self._gc(manifest)
            return remaining

    def upsert_documents(self, chunks: DataFrame) -> None:
        """K1/K2: replace all chunks of every url present in ``chunks``,
        keep everything else. Key uniqueness is enforced by apply() — the
        choke point sync.run_sync also passes through."""
        self.apply(chunks, None)

    def delete_by_urls(self, urls: DataFrame) -> None:
        self.apply(None, urls.select("url"))

    def cleanup_obsolete(self, url_prefix: str, visited_urls: DataFrame) -> int:
        """K4: delete chunks under ``url_prefix`` whose url was not visited —
        one left-anti join (database.ts:522-619)."""
        stored = self.read()
        in_scope = stored.filter(F.col("url").startswith(url_prefix))
        # visited/obsolete sets scale with the crawl, not with a dimension
        # table — leave join strategy to AQE rather than forcing broadcast
        obsolete_urls = (
            in_scope.select("url")
            .distinct()
            .join(visited_urls.select("url").distinct(), "url", "left_anti")
        )
        n = stored.join(obsolete_urls, "url", "left_semi").count()
        if n:
            self.apply(None, obsolete_urls)
        return n


class SyncStateStore:
    """KV watermark store (vec_metadata, database.ts:121-126; the reference
    stores etag:<url>, lastmod:<url>, last_run_<src>... keys). Tiny by
    construction, so a single JSON file with atomic replace is the right
    local implementation; the API is what matters (get/put/delete by key)."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def _load(self) -> dict[str, str]:
        try:
            with open(self.path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def get(self, key: str, default: str | None = None) -> str | None:
        return self._load().get(key, default)

    def _save(self, state: dict[str, str]) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)

    def put(self, key: str, value: str) -> None:
        self.put_many({key: value})

    def put_many(self, items: dict[str, str]) -> None:
        state = self._load()
        state.update(items)
        self._save(state)

    def delete(self, key: str) -> None:
        state = self._load()
        state.pop(key, None)
        self._save(state)
