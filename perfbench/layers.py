"""Per-layer metrics of a traced run, named after the program's modules.

The traced run does the same fixed work as the untraced one (the cold
ingest, a warm-up block, then the workload's rounds), so its counts do not
depend on how fast the host is. Scopes:

- ``ingest.*``: the cold ingest;
- ``sources.local``, ``chunking``, ``sync``: every edit run plus every
  no-change run;
- ``embedding_native``, ``store`` write side: every edit run;
- ``engine.run_self_s``: the no-change run, per source;
- ``store`` read side and ``query.<op>``: median per tool call;
- ``spark``: everything after the warm-up block.
"""

from __future__ import annotations

import os
import statistics

from perfbench.trace import Span, Tracer

STORE_SPANS = ("ChunkStore.read", "ChunkStore.apply")
QUERY_OPS = ("knn", "code", "get_chunks", "reconstruct")
CHUNKING = ("python_run_s", "python_init_s", "arrow_bytes_in", "arrow_bytes_out", "chunks_out")

UNITS = {
    "files_listed": "count",
    "bytes_read": "B",
    "scan_ms": "ms",
    "python_run_s": "s",
    "python_init_s": "s",
    "arrow_bytes_in": "B",
    "arrow_bytes_out": "B",
    "chunks_out": "count",
    "useful_ratio": "ratio",
    "new_hash_share": "ratio",
    "chunks_embedded": "count",
    "build_ms": "ms",
    "self_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "exec_cpu_s": "s",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "read_s": "s",
    "read_jobs": "count",
    "live_versions": "count",
    "files": "count",
    "apply_s": "s",
    "buckets_rewritten": "count",
    "bytes_written": "B",
    "files_written": "count",
    "write_amp": "ratio",
    "catalyst_ms": "ms",
    "exec_s": "s",
    "bytes_scanned": "B",
    "rows_scanned_per_row": "ratio",
    "run_self_s": "s",
    "gc_s": "s",
    "span_overhead_ms": "ms",
}


def install_tracer(spark) -> Tracer:
    """Spans around the program's public calls, wrapped where the callers
    look them up: ``engine`` imports ``sync_documents`` by name, ``sync``
    imports the chunker and embedder by name, and the engine imports the
    local source and the query functions from their modules at call time."""
    import doc2vec_spark.engine as engine
    import doc2vec_spark.query as query
    import doc2vec_spark.sources.local as local
    import doc2vec_spark.sync as sync
    from doc2vec_spark.store import ChunkStore

    t = Tracer(spark)
    t.wrap(engine.Doc2VecSparkEngine, "run", "engine.run")
    t.wrap(local, "read_local_directory", "read_local_directory")
    t.wrap(engine, "sync_documents", "sync_documents")
    for name in ("chunk_documents", "diff_status", "with_embeddings_native"):
        t.wrap(sync, name, name)
    t.wrap(ChunkStore, "read", "ChunkStore.read")
    t.wrap(ChunkStore, "apply", "ChunkStore.apply")
    for name in ("query_documentation", "query_code", "get_chunks", "reconstruct_page"):
        t.wrap(query, name, "query.build")
    return t


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class Layers:
    def __init__(self, tracer: Tracer, loop):
        self.t = tracer
        self.loop = loop
        self.values: dict[str, float] = {}

    def _spans(self, roots: list[Span], name: str | None = None) -> list[Span]:
        out = [s for r in roots for s in self.t.subtree(r)]
        return out if name is None else [s for s in out if s.name == name]

    def _op(self, spans: list[Span], layer: str, counter: str) -> float:
        return sum(s.operators[layer][counter] for s in spans)

    def _seconds(self, spans: list[Span], name: str) -> float:
        return sum(s.seconds for s in spans if s.name == name)

    def _put(self, name: str, value: float) -> None:
        self.values[name] = float(value)

    def _runs(self, kind: str) -> list[Span]:
        return [s for s in self.t.spans if s.parent is None and s.name == f"run.{kind}"]

    # -- engine.run layers --------------------------------------------------------

    def _run_layers(self, prefix: str, scan: list[Span], write: list[Span]) -> None:
        spans, wspans, wops = self._spans(scan), self._spans(write), self._ops(write)
        values = {
            "sources.local.files_listed": self._op(spans, "sources.local", "files_listed"),
            "sources.local.bytes_read": self._op(spans, "sources.local", "bytes_read"),
            "sources.local.scan_ms": 1e3 * self._seconds(spans, "read_local_directory"),
            **{f"chunking.{c}": self._op(spans, "chunking", c) for c in CHUNKING},
            "embedding_native.chunks_embedded": sum(
                c["chunks_added"] for op in wops for c in op.counters
            ),
            "embedding_native.build_ms": 1e3 * self._seconds(wspans, "with_embeddings_native"),
            "store.apply_s": self._seconds(wspans, "ChunkStore.apply"),
            "store.buckets_rewritten": sum(op.buckets_rewritten for op in wops),
            "store.bytes_written": self._op(wspans, "store.write", "bytes_written"),
            "store.files_written": self._op(wspans, "store.write", "files_written"),
        }
        for name, value in values.items():
            self._put(prefix + name, value)

    def _ops(self, run_spans: list[Span]):
        """The loop's ops for top-level run spans, matched by order."""
        out = []
        for sp in run_spans:
            kind = sp.name.split(".", 1)[1]
            ops = [o for o in self.loop.ops if o.kind == kind]
            out.append(ops[self._runs(kind).index(sp)])
        return out

    def _spark(self, prefix: str, spans: list[Span]) -> None:
        self._put(f"{prefix}spark.jobs", sum(s.jobs for s in spans))
        self._put(f"{prefix}spark.exec_cpu_s", sum(s.cpu_s for s in spans))
        self._put(f"{prefix}spark.gc_s", sum(s.gc_s for s in spans))

    def _sync(self, runs: list[Span]) -> None:
        syncs = self._spans(runs, "sync_documents")
        inner = [
            s
            for root in syncs
            for s in self.t.subtree(root)
            if not any(a.name in STORE_SPANS for a in self._ancestors(s, root))
        ]
        self._put("sync.self_s", sum(self.t.self_seconds(s) for s in syncs))
        self._put("sync.jobs", sum(s.jobs for s in inner))
        self._put("sync.stages", sum(s.stages for s in inner))
        self._put("sync.tasks", sum(s.tasks for s in inner))
        self._put("sync.exec_cpu_s", sum(s.cpu_s for s in inner))
        self._put("sync.shuffle_read_bytes", sum(s.shuffle_read_bytes for s in inner))
        self._put("sync.shuffle_write_bytes", sum(s.shuffle_write_bytes for s in inner))
        self._put("sync.spill_bytes", sum(s.spill_bytes for s in inner))

    def _ancestors(self, sp: Span, root: Span) -> list[Span]:
        """``sp`` and its ancestors up to, not including, ``root``."""
        out = []
        while sp is not None and sp.id != root.id:
            out.append(sp)
            sp = self.t.spans[sp.parent] if sp.parent is not None else None
        return out

    # -- query layers ----------------------------------------------------------------

    def _queries(self) -> None:
        q_ops = [o for o in self.loop.ops if o.phase == "burst"]
        q_spans = [s for s in self.t.spans if s.parent is None and s.name.startswith("query.")]
        rows = dict(zip((s.id for s in q_spans), (o.rows for o in q_ops)))
        reads = [c for s in q_spans for c in self.t.children(s) if c.name == "ChunkStore.read"]
        self._put("store.read_s", statistics.median(s.seconds for s in reads))
        self._put(
            "store.read_jobs",
            statistics.median(sum(x.jobs for x in self.t.subtree(s)) for s in reads),
        )
        for op in QUERY_OPS:
            calls = [s for s in q_spans if s.name == f"query.{op}"]
            per_call = {
                "build_ms": [1e3 * sum(c.seconds for c in self.t.children(s)) for s in calls],
                "catalyst_ms": [sum(c.catalyst_ms for c in self.t.children(s)) for s in calls],
                "exec_s": [self.t.self_seconds(s) for s in calls],
                "jobs": [sum(x.jobs for x in self.t.subtree(s)) for s in calls],
                "tasks": [sum(x.tasks for x in self.t.subtree(s)) for s in calls],
                "exec_cpu_s": [sum(x.cpu_s for x in self.t.subtree(s)) for s in calls],
                "bytes_scanned": [
                    self._op(self.t.subtree(s), "store.scan", "bytes_scanned") for s in calls
                ],
                "rows_scanned_per_row": [
                    _ratio(self._op(self.t.subtree(s), "store.scan", "rows_scanned"), rows[s.id])
                    for s in calls
                ],
            }
            for counter, values in per_call.items():
                self._put(f"query.{op}.{counter}", statistics.median(values))

    def _store_layout(self) -> None:
        store = self.loop.engine.store
        versions = {v for _b, v in store.version_token()[1]}
        files = 0
        for v in versions:
            for _dir, _sub, names in os.walk(os.path.join(store.path, v)):
                files += sum(n.endswith(".parquet") for n in names)
        self._put("store.live_versions", len(versions))
        self._put("store.files", files)

    # -- all -----------------------------------------------------------------------------

    def compute(self) -> dict[str, float]:
        ingest = self._runs("ingest")
        self._run_layers("ingest.", ingest, ingest)
        self._spark("ingest.", self._spans(ingest))

        edits, noops = self._runs("edit"), self._runs("noop")
        self._run_layers("", edits + noops, edits)
        changed_chunks = sum(r["changed_chunks"] for r in self.loop.rounds)
        chunks_out = self.values["chunking.chunks_out"]
        self._put("chunking.useful_ratio", _ratio(changed_chunks, chunks_out))
        embedded = self.values["embedding_native.chunks_embedded"]
        self._put("embedding_native.useful_ratio", _ratio(embedded, changed_chunks))
        new_hashes = sum(r["new_hashes"] for r in self.loop.rounds)
        self._put("embedding_native.new_hash_share", _ratio(new_hashes, embedded))
        rows_written = self._op(self._spans(edits), "store.write", "rows_written")
        self._put("store.write_amp", _ratio(rows_written, embedded))
        self._sync(edits + noops)
        self._put(
            "engine.run_self_s",
            _ratio(
                sum(self.t.self_seconds(s) for s in self._spans(noops, "engine.run")),
                len(noops) * len(self.loop.config["sources"]),
            ),
        )
        self._queries()
        self._store_layout()
        measured = [
            s
            for s in self.t.spans
            if s.parent is None and s.name != "run.ingest" and not s.name.startswith("warm_up.")
        ]
        self._spark("", self._spans(measured))
        self._put("trace.span_overhead_ms", 1e3 * self.t.bookkeeping_s)
        return self.values


def unit(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[1]]


def names() -> list[str]:
    """The per-layer metric names, in the order BENCHMARK.json lists them."""
    run = [
        "sources.local.files_listed",
        "sources.local.bytes_read",
        "sources.local.scan_ms",
        *(f"chunking.{c}" for c in CHUNKING),
    ]
    write = [
        "embedding_native.chunks_embedded",
        "embedding_native.build_ms",
        "store.apply_s",
        "store.buckets_rewritten",
        "store.bytes_written",
        "store.files_written",
    ]
    spark = ["spark.jobs", "spark.exec_cpu_s", "spark.gc_s"]
    out = [f"ingest.{n}" for n in run + write + spark]
    out += run + ["chunking.useful_ratio"]
    out += write[:2] + ["embedding_native.useful_ratio", "embedding_native.new_hash_share"]
    out += [
        f"sync.{c}"
        for c in (
            "self_s",
            "jobs",
            "stages",
            "tasks",
            "exec_cpu_s",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
        )
    ]
    out += ["store.read_s", "store.read_jobs", "store.live_versions", "store.files"]
    out += write[2:] + ["store.write_amp"]
    out += [
        f"query.{op}.{c}"
        for op in QUERY_OPS
        for c in (
            "build_ms",
            "catalyst_ms",
            "exec_s",
            "jobs",
            "tasks",
            "exec_cpu_s",
            "bytes_scanned",
            "rows_scanned_per_row",
        )
    ]
    out += ["engine.run_self_s"] + spark + ["trace.span_overhead_ms"]
    return out
