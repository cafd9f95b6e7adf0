"""Reference answers the benchmark compares the engine's outputs against.

The store should hold, for every page on disk, exactly the chunks that
``chunking.chunk_markdown`` gives for its text, each embedded with
``embedding.embed_text``. The KNN reference is a numpy brute force over
those rows that replays the engine's arithmetic step for step (the same
left-to-right dot-product fold, the same norm and divide order), so
distances agree bit for bit and the tie-break key (distance, chunk_id, url,
chunk_index) orders both sides the same way.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from doc2vec_spark.chunking import Chunk, chunk_markdown
from doc2vec_spark.embedding import embed_text
from doc2vec_spark.query import DEFAULT_K

from perfbench.corpus import Call, Corpus, Mutation, SOURCES


def _fold_dot(matrix: np.ndarray, vec: np.ndarray) -> np.ndarray:
    """Row-wise dot product as a sequential left fold from 0.0, the order
    the engine's ``aggregate(zip_with(...))`` uses."""
    acc = np.zeros(matrix.shape[0])
    for j in range(matrix.shape[1]):
        acc = acc + matrix[:, j] * vec[j]
    return acc


@dataclass
class Row:
    url: str
    product: str
    chunk: Chunk


class Reference:
    """Chunks and embeddings of the corpus as it is on disk."""

    def __init__(self, corpus: Corpus):
        self.corpus = corpus
        self._chunks: dict[str, tuple[str, list[Chunk]]] = {}
        self._vectors: dict[str, np.ndarray] = {}
        self._table = None
        self._table_key = None

    def chunks(self, path: str) -> list[Chunk]:
        text = self.corpus.pages[path]
        cached = self._chunks.get(path)
        if cached is None or cached[0] != text:
            cached = (text, chunk_markdown(text))
            self._chunks[path] = cached
        return cached[1]

    def vector(self, chunk: Chunk) -> np.ndarray:
        vec = self._vectors.get(chunk.chunk_id)
        if vec is None:
            vec = embed_text(chunk.content)
            self._vectors[chunk.chunk_id] = vec
        return vec

    def rows(self) -> list[Row]:
        return [
            Row(Corpus.url(p), self.corpus.product_of(p), c)
            for p in sorted(self.corpus.pages)
            for c in self.chunks(p)
        ]

    def chunk_total(self) -> int:
        return sum(len(self.chunks(p)) for p in self.corpus.pages)

    # -- predicted sync counters ---------------------------------------------

    def _count(self, paths, text_of=None) -> int:
        if text_of is None:
            return sum(len(self.chunks(p)) for p in paths)
        return sum(len(chunk_markdown(text_of[p])) for p in paths)

    def predict(self, mutation: Mutation | None, cold: bool = False) -> list[dict]:
        """SyncCounters per source, in config order, for a cold ingest
        (``cold``), a run with nothing changed (``mutation`` None), or the run
        after ``mutation``."""
        out = []
        for source in SOURCES:

            def own(paths):
                return [p for p in paths if self.corpus.product_of(p) == source.product]

            mine = own(self.corpus.pages)
            c = dict.fromkeys(
                (
                    "items_new",
                    "items_updated",
                    "items_unchanged",
                    "items_deleted",
                    "chunks_added",
                    "chunks_deleted",
                ),
                0,
            )
            if cold:
                c["items_new"] = len(mine)
                c["chunks_added"] = self._count(mine)
            elif mutation is None:
                c["items_unchanged"] = len(mine)
            else:
                edited, added, deleted = (
                    own(mutation.edited),
                    own(mutation.added),
                    own(mutation.deleted),
                )
                c["items_new"] = len(added)
                c["items_updated"] = len(edited)
                c["items_deleted"] = len(deleted)
                c["items_unchanged"] = len(mine) - len(added) - len(edited)
                c["chunks_added"] = self._count(edited + added)
                c["chunks_deleted"] = self._count(edited + deleted, mutation.old_text)
            out.append(c)
        return out

    # -- query answers -----------------------------------------------------------

    def _knn_table(self):
        key = tuple(sorted((p, hash(t)) for p, t in self.corpus.pages.items()))
        if self._table_key != key:
            rows = self.rows()
            matrix = np.array([self.vector(r.chunk) for r in rows], dtype=np.float64)
            norms = np.sqrt(_fold_dot(matrix * matrix, np.ones(matrix.shape[1])))
            self._table = (rows, matrix, norms)
            self._table_key = key
        return self._table

    def knn(self, call: Call) -> list[tuple[str, int, float]]:
        rows, matrix, norms = self._knn_table()
        q = [float(x) for x in embed_text(call.text)]
        acc = 0.0
        for x in q:
            acc += x * x
        qn = math.sqrt(acc)
        dist = 1.0 - _fold_dot(matrix, np.array(q)) / (norms * qn)
        exts = [e.lower() for e in call.extensions or []]
        keep = []
        for i, r in enumerate(rows):
            if call.product is not None and r.product != call.product:
                continue
            if call.url_prefix is not None and not r.url.startswith(call.url_prefix):
                continue
            if exts and not any(r.url.lower().endswith(e) for e in exts):
                continue
            if not r.chunk.content.strip():
                continue
            keep.append((float(dist[i]), r.chunk.chunk_id, r.url, r.chunk.chunk_index))
        keep.sort()
        return [(url, idx, d) for d, _cid, url, idx in keep[:DEFAULT_K]]

    def get_chunks(self, call: Call) -> list[Chunk]:
        return [
            c
            for c in self.chunks(call.path)
            if (call.start is None or c.chunk_index >= call.start)
            and (call.end is None or c.chunk_index <= call.end)
        ]

    def page(self, call: Call) -> str:
        return "\n\n".join(c.content for c in self.chunks(call.path))

    # -- comparisons -------------------------------------------------------------

    def check_call(self, call: Call, result) -> str | None:
        """None when ``result`` (rows as dicts, or the page string) is the
        right answer to ``call``, else a one-line reason."""
        if call.kind == "reconstruct":
            return None if result == self.page(call) else f"reconstruct_page({call.path}) differs"
        if call.kind == "get_chunks":
            want = [
                (
                    c.chunk_index,
                    c.chunk_id,
                    c.content,
                    c.section,
                    c.heading_hierarchy,
                    c.total_chunks,
                )
                for c in self.get_chunks(call)
            ]
            got = [
                (
                    r["chunk_index"],
                    r["chunk_id"],
                    r["content"],
                    r["section"],
                    list(r["heading_hierarchy"]),
                    r["total_chunks"],
                )
                for r in result
            ]
            product = self.corpus.product_of(call.path)
            if got != want or any(
                r["url"] != Corpus.url(call.path) or r["product_name"] != product for r in result
            ):
                return f"get_chunks({call.path}, {call.start}, {call.end}) differs"
            return None
        want = self.knn(call)
        got = [(r["url"], r["chunk_index"], r["distance"]) for r in result]
        same = len(got) == len(want) and all(
            g[:2] == w[:2] and abs(g[2] - w[2]) <= 1e-12 for g, w in zip(got, want)
        )
        return None if same else f"{call.kind}({call.text!r}) top-{DEFAULT_K} differs"

    def check_store(self, stored, deleted_urls) -> str | None:
        """Compare every stored row (url, chunk_index, chunk_id, product_name,
        embedding) with the reference; deleted urls must be gone."""
        want = {
            (r.url, r.chunk.chunk_index): (r.chunk.chunk_id, r.product, r.chunk)
            for r in self.rows()
        }
        got_keys = set()
        for r in stored:
            key = (r["url"], r["chunk_index"])
            if key in got_keys or key not in want:
                return f"unexpected or duplicate stored chunk {key}"
            got_keys.add(key)
            chunk_id, product, chunk = want[key]
            if r["chunk_id"] != chunk_id or r["product_name"] != product:
                return f"stored chunk {key} has the wrong id or product"
            if not np.array_equal(np.asarray(r["embedding"], dtype=np.float32), self.vector(chunk)):
                return f"stored chunk {key} has the wrong embedding"
        if got_keys != set(want):
            return f"{len(set(want) - got_keys)} chunks missing from the store"
        if any(url in {k[0] for k in got_keys} for url in deleted_urls):
            return "a deleted url is still in the store"
        return None
