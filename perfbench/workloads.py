"""The doc2vec loop as a closed loop with one client: ingest a corpus, re-sync
it after seeded edits, and serve MCP tool calls, each output checked
against ``checks.Reference``.

Workloads (one client; each call waits for the previous reply, as an MCP
agent does). Both interleave their operations, so the samples of every
metric are spread over the whole measured window rather than bunched in
one part of it: a shared host changes speed from one few-second stretch to
the next, and a metric sampled in one stretch moves with it.

- ``resync``: after the cold ingest, re-sync rounds on the same store,
  never reset or compacted. A round mutates the corpus and runs
  ``engine.run``, sends three tool calls, runs ``engine.run`` again with
  nothing changed and sends three more, so reads follow every manifest
  flip.
- ``query``: after the cold ingest, one edit run, then rounds of three
  tool calls, a no-change ``engine.run`` and three more calls. The edit run
  makes the re-sync metrics exist for this workload too.

Both start from a cold ingest in a fresh process, which is what a user of
the CLI pays on every scheduled run; its throughput is ``ingest_docs_per_s``.
A warm-up block of one call per tool follows it, checked but not timed:
the first calls of a process wait for the JVM to compile the query paths.
"""

from __future__ import annotations

import os
import time
from dataclasses import asdict, dataclass, field

from doc2vec_spark.chunking import chunk_markdown
from doc2vec_spark.engine import Doc2VecSparkEngine

from perfbench.checks import Reference
from perfbench.corpus import KINDS, KNN_KINDS, Call, Corpus, Mutation, QueryPlan

# nominal seconds of one round of either workload on a 4-core host. The
# number of rounds is derived from --seconds with it, not from the clock, so
# every run with the same --seconds does the same work however fast the
# host is at that moment.
ROUND_S = 12.0
# tool calls after each re-sync run: with 2, a run of `resync` had four
# timed calls per class and their median spread most of all its metrics
GAP_CALLS = 3


def rounds_for(seconds: float) -> int:
    return max(1, round(seconds / ROUND_S))


@dataclass
class Op:
    kind: str  # ingest | edit | noop | knn | lookup
    seconds: float
    error: str | None = None
    phase: str = ""  # tool calls: warm_up | burst (timed, after an edit run)
    counters: list[dict] = field(default_factory=list)
    rows: int = 0
    buckets_rewritten: int = 0


@dataclass
class Loop:
    spark: object
    root: str
    seed: int
    pages: int
    tracer: object = None
    ops: list[Op] = field(default_factory=list)
    rounds: list[dict] = field(default_factory=list)

    def __post_init__(self):
        t0 = time.perf_counter()
        self.corpus = Corpus(os.path.join(self.root, "corpus"), self.seed, self.pages)
        self.generate_s = time.perf_counter() - t0
        self.ref = Reference(self.corpus)
        self.plan = QueryPlan(self.seed)
        self.store_dir = os.path.join(self.root, "store")
        self.engine = Doc2VecSparkEngine(self.spark, self.store_dir)
        self.config = self.corpus.config()
        self.deleted_urls: set[str] = set()
        self.mutations: list[Mutation] = []
        # store bytes on disk, retired versions included, per markdown byte,
        # at the end of the workload
        self.store_bytes_per_doc_byte: float | None = None
        self.sizes = {
            "pages": len(self.corpus.pages),
            "markdown_bytes": self.corpus.markdown_bytes(),
            "chunks": self.ref.chunk_total(),
            "sources": len(self.config["sources"]),
        }

    # -- timed operations ----------------------------------------------------

    def _span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name)

    def _harvest(self) -> None:
        if self.tracer is not None:
            self.tracer.harvest()

    def _sync(self, kind: str, expected: list[dict]) -> Op:
        token = self.engine.store.version_token()
        t0 = time.perf_counter()
        try:
            with self._span(f"run.{kind}"):
                stats = self.engine.run(self.config)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            op = Op(kind, time.perf_counter() - t0, f"engine.run raised {e!r}")
        else:
            op = Op(kind, time.perf_counter() - t0)
            got = [asdict(s.counters) for s in stats]
            op.counters = got
            after = dict(self.engine.store.version_token()[1])
            before = dict(token[1])
            op.buckets_rewritten = sum(
                before.get(b) != after.get(b) for b in set(before) | set(after)
            )
            if not all(s.ok for s in stats):
                op.error = "; ".join(str(s.error) for s in stats if not s.ok)
            elif got != expected:
                op.error = f"counters {got} != predicted {expected}"
            elif kind == "noop" and self.engine.store.version_token() != token:
                op.error = "a run with nothing changed advanced the store version"
        self.ops.append(op)
        self._harvest()
        return op

    def ingest(self) -> Op:
        return self._sync("ingest", self.ref.predict(None, cold=True))

    def call(self, call: Call, phase: str):
        """One tool call, timed from request to the collected reply. Returns
        the op and the reply, which ``check_calls`` verifies later."""
        e = self.engine
        t0 = time.perf_counter()
        try:
            with self._span(f"{'warm_up' if phase == 'warm_up' else 'query'}.{call.kind}"):
                if call.kind == "reconstruct":
                    reply = e.reconstruct_page(Corpus.url(call.path))
                elif call.kind == "get_chunks":
                    reply = e.get_chunks(Corpus.url(call.path), call.start, call.end).collect()
                elif call.kind == "code":
                    reply = e.query_code(call.text, product_name=call.product).collect()
                else:
                    reply = e.query_documentation(
                        call.text,
                        product_name=call.product,
                        url_prefix=call.url_prefix,
                        extensions=call.extensions,
                    ).collect()
        except Exception as ex:  # noqa: BLE001 - a failed call is counted, not fatal
            op = Op(self._class(call), time.perf_counter() - t0, repr(ex), phase)
            reply = None
        else:
            op = Op(self._class(call), time.perf_counter() - t0, phase=phase)
            if call.kind != "reconstruct":
                reply = [r.asDict() for r in reply]
            op.rows = 1 if call.kind == "reconstruct" else len(reply)
        self.ops.append(op)
        self._harvest()
        return op, reply

    @staticmethod
    def _class(call: Call) -> str:
        return "knn" if call.kind in KNN_KINDS else "lookup"

    def next_call(self) -> Call:
        return self.plan.next_call(self.corpus, lambda p: len(self.ref.chunks(p)))

    def check_calls(self, answered) -> None:
        """Compare replies with the reference after the timed calls, against
        the corpus as it was when they were sent."""
        for call, op, reply in answered:
            if op.error is None:
                op.error = self.ref.check_call(call, reply)

    def edit(self) -> Op:
        """Mutate the corpus by the plan of the next round, then re-sync."""
        mutation: Mutation = self.corpus.mutate(len(self.mutations))
        self.deleted_urls |= {Corpus.url(p) for p in mutation.deleted}
        op = self._sync("edit", self.ref.predict(mutation))
        changed = mutation.edited + mutation.added
        new_hashes = 0
        for p in changed:
            old = mutation.old_text.get(p)
            known = {c.chunk_id for c in chunk_markdown(old)} if old is not None else set()
            new_hashes += sum(c.chunk_id not in known for c in self.ref.chunks(p))
        self.rounds.append(
            {
                "round": len(self.mutations),
                "edited": len(mutation.edited),
                "deleted": len(mutation.deleted),
                "added": len(mutation.added),
                "changed_chunks": sum(len(self.ref.chunks(p)) for p in changed),
                "new_hashes": new_hashes,
                "edit_s": op.seconds,
            }
        )
        self.mutations.append(mutation)
        return op

    def noop(self) -> Op:
        return self._sync("noop", self.ref.predict(None))

    def calls(self, n: int, phase: str) -> None:
        """The next ``n`` calls of the plan, checked against the corpus as it
        is now, before the next mutation."""
        answered = []
        for _ in range(n):
            call = self.next_call()
            answered.append((call, *self.call(call, phase)))
        self.check_calls(answered)

    def block(self, phase: str) -> None:
        """One call of each tool: the warm-up after the cold ingest."""
        self.plan.start_block()
        self.calls(len(KINDS), phase)

    def check_store(self) -> None:
        """Every stored row against the reference; counted as one operation."""
        stored = [
            r.asDict()
            for r in self.engine.store.read()
            .select("url", "chunk_index", "chunk_id", "product_name", "embedding")
            .collect()
        ]
        self.ops.append(Op("check", 0.0, self.ref.check_store(stored, self.deleted_urls)))

    # -- workloads -------------------------------------------------------------

    def run_resync(self, rounds: int) -> None:
        """``rounds`` rounds of: edit run, calls, no-change run, calls."""
        self.plan.start_block()
        for _ in range(rounds):
            self.edit()
            self.calls(GAP_CALLS, "burst")
            self.noop()
            self.calls(GAP_CALLS, "burst")
        self._store_size()

    def run_query(self, rounds: int) -> None:
        """One edit run, so the calls read a store that has been re-synced,
        as a served store is; then ``rounds`` rounds of: calls, no-change
        run, calls."""
        self.plan.start_block()
        self.edit()
        for _ in range(rounds):
            self.calls(GAP_CALLS, "burst")
            self.noop()
            self.calls(GAP_CALLS, "burst")
        self._store_size()

    def _store_size(self) -> None:
        self.store_bytes_per_doc_byte = (
            directory_bytes(self.store_dir) / self.corpus.markdown_bytes()
        )

    # -- results ---------------------------------------------------------------

    def errors(self) -> list[str]:
        return [f"{o.kind}: {o.error}" for o in self.ops if o.error]


def directory_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total
