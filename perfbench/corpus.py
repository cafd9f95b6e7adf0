"""Seeded inputs of the doc2vec loop benchmark: the markdown corpus on disk,
the mutation plan of each re-sync round, and the list of MCP tool calls.

The text imitates the sf ``documents`` table: paragraphs of 44-577
characters whose words are drawn uniformly from that table's 30-word
vocabulary, namespaced per replica (``r3_spark``) the way
``scripts/make_scale10.py`` replicates the table, so pages of different
replicas share no words. A raw document is one short paragraph, which would
be exactly one chunk; here paragraphs are grouped into pages with ``#``,
``##`` and ``###`` headings, so the heading-aware chunker merges small
sibling sections and splits pages the way it does on real documentation.

Everything is a pure function of the seed. The engine only ever sees the
files written here and the arguments of the API calls.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REPLICAS = 8


@dataclass(frozen=True)
class Source:
    product: str
    dirname: str
    extensions: tuple[str, ...]


# One local_directory source. It admits two extensions, so `extensions`
# filters select a subset. Each source of a config costs a whole sync
# (about 2 s with nothing changed, 4 s after an edit) and a second one did
# not fit the time budget of the runs.
SOURCES = (Source("docs", "docs", (".md", ".markdown")),)
SUBDIRS = ("guide", "api", "ops")

EDIT_SHARE = 0.02
DELETE_SHARE = 0.005
ADD_SHARE = 0.005


def _paragraph(rng: random.Random, replica: int) -> str:
    target = rng.randint(44, 577)
    words: list[str] = []
    length = -1
    while length < target:
        word = f"r{replica}_{rng.choice(VOCAB)}"
        words.append(word)
        length += len(word) + 1
    return " ".join(words)


def _page_text(rng: random.Random, number: int) -> str:
    replica = number % REPLICAS
    lines = [f"# Page {number}: {rng.choice(VOCAB)} {rng.choice(VOCAB)}", ""]
    lines += [_paragraph(rng, replica), ""]
    for s in range(rng.randint(3, 8)):
        lines += [f"## Section {s} {rng.choice(VOCAB)}", "", _paragraph(rng, replica), ""]
        for t in range(rng.randint(0, 3)):
            lines += [f"### Topic {s}.{t} {rng.choice(VOCAB)}", ""]
            lines += [_paragraph(rng, replica), ""]
    return "\n".join(lines)


def _unit(*parts: object) -> float:
    """Deterministic value in [0, 1) from md5 of the parts."""
    digest = hashlib.md5("/".join(map(str, parts)).encode()).hexdigest()
    return int(digest, 16) / float(1 << 128)


@dataclass
class Mutation:
    """One round's change set, as paths. ``old_text`` holds the text each
    edited or deleted page had before the round."""

    edited: list[str] = field(default_factory=list)
    deleted: list[str] = field(default_factory=list)
    added: list[str] = field(default_factory=list)
    old_text: dict[str, str] = field(default_factory=dict)


class Corpus:
    """The pages on disk plus an in-memory copy that the checks read."""

    def __init__(self, root: str, seed: int, pages: int):
        self.root = root
        self.seed = seed
        self.pages: dict[str, str] = {}
        self._next_number = 0
        for _ in range(pages):
            self._add_page()

    # -- layout ---------------------------------------------------------------

    def config(self) -> dict:
        return {
            "sources": [
                {
                    "type": "local_directory",
                    "path": os.path.join(self.root, s.dirname),
                    "product_name": s.product,
                    "include_extensions": list(s.extensions),
                }
                for s in SOURCES
            ]
        }

    @staticmethod
    def url(path: str) -> str:
        return "file://" + path

    def product_of(self, path: str) -> str:
        top = os.path.relpath(path, self.root).split(os.sep)[0]
        return next(s.product for s in SOURCES if s.dirname == top)

    def markdown_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.pages.values())

    def _write(self, path: str, text: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        self.pages[path] = text

    def _add_page(self) -> str:
        number = self._next_number
        self._next_number += 1
        rng = random.Random(f"{self.seed}/page/{number}")
        source = SOURCES[number % len(SOURCES)]
        ext = source.extensions[rng.randrange(len(source.extensions))]
        sub = SUBDIRS[(number // len(SOURCES)) % len(SUBDIRS)]
        path = os.path.join(self.root, source.dirname, sub, f"page-{number:05d}{ext}")
        self._write(path, _page_text(rng, number))
        return path

    # -- mutation plan --------------------------------------------------------

    def mutate(self, round_no: int) -> Mutation:
        """Edit ~2%, delete ~0.5% and add ~0.5% of the pages. Pages are ranked
        by md5(seed, round, path); the lowest ranks are edited, the next ones
        deleted. An edit replaces one paragraph, so some of the page's chunks
        change and the others keep their hashes."""
        n = len(self.pages)
        n_edit = max(1, round(EDIT_SHARE * n))
        n_delete = max(1, round(DELETE_SHARE * n))
        n_add = max(1, round(ADD_SHARE * n))
        rel = {p: os.path.relpath(p, self.root) for p in self.pages}
        ranked = sorted(self.pages, key=lambda p: (_unit(self.seed, round_no, rel[p]), p))
        m = Mutation()
        for path in ranked[:n_edit]:
            m.old_text[path] = self.pages[path]
            rng = random.Random(f"{self.seed}/edit/{round_no}/{rel[path]}")
            lines = self.pages[path].split("\n")
            body = [i for i, line in enumerate(lines) if line and not line.startswith("#")]
            number = int(os.path.basename(path).split("-")[1].split(".")[0])
            lines[rng.choice(body)] = _paragraph(rng, number % REPLICAS)
            self._write(path, "\n".join(lines))
            m.edited.append(path)
        for path in ranked[n_edit : n_edit + n_delete]:
            m.old_text[path] = self.pages.pop(path)
            os.remove(path)
            m.deleted.append(path)
        for _ in range(n_add):
            m.added.append(self._add_page())
        return m


# One block holds each MCP tool once: query_documentation, query_code,
# get_chunks and reconstruct_page.
KINDS = ("knn", "code", "get_chunks", "reconstruct")
KNN_KINDS = ("knn", "code")
REPEAT_SHARE = 1 / 3


@dataclass
class Call:
    kind: str
    text: str | None = None
    product: str | None = None
    url_prefix: str | None = None
    extensions: list[str] | None = None
    path: str | None = None
    start: int | None = None
    end: int | None = None


class QueryPlan:
    """Seeded stream of MCP tool calls. Calls come in blocks holding each
    tool once, in a seeded order. ``query_documentation`` is sent
    unfiltered, with ``product_name``, or with ``url_prefix`` and
    ``extensions``. About a third of the KNN texts repeat an earlier one, so
    work shared between requests can show. Pages are picked from the corpus
    as it is when the call is made, so a call never names a page that a
    re-sync round deleted."""

    def __init__(self, seed: int):
        self._rng = random.Random(f"{seed}/queries")
        self._texts: list[str] = []
        self._block: list[str] = []

    def _text(self) -> str:
        if self._texts and self._rng.random() < REPEAT_SHARE:
            return self._rng.choice(self._texts)
        replica = self._rng.randrange(REPLICAS)
        words = [f"r{replica}_{self._rng.choice(VOCAB)}" for _ in range(self._rng.randint(3, 9))]
        text = " ".join(words)
        self._texts.append(text)
        return text

    def start_block(self) -> None:
        """Begin a fresh block, so the next len(KINDS) calls hold each tool."""
        self._block = []

    def next_call(self, corpus: Corpus, chunk_count) -> Call:
        if not self._block:
            self._block = list(KINDS)
            self._rng.shuffle(self._block)
        kind = self._block.pop()
        rng = self._rng
        if kind == "code":
            return Call(kind, text=self._text(), product=rng.choice(SOURCES).product)
        if kind == "knn":
            source = rng.choice(SOURCES)
            variant = rng.randrange(3)
            if variant == 0:
                return Call(kind, text=self._text())
            if variant == 1:
                return Call(kind, text=self._text(), product=source.product)
            prefix = os.path.join(corpus.root, source.dirname, rng.choice(SUBDIRS), "")
            return Call(
                kind,
                text=self._text(),
                url_prefix=Corpus.url(prefix),
                extensions=[rng.choice(source.extensions)],
            )
        path = rng.choice(sorted(corpus.pages))
        if kind == "reconstruct":
            return Call(kind, path=path)
        n = chunk_count(path)
        start = rng.randrange(n)
        end = min(n - 1, start + rng.randint(0, 3))
        return Call(
            kind,
            path=path,
            start=None if rng.random() < 0.25 else start,
            end=None if rng.random() < 0.25 else end,
        )
