"""The one cache for trained artifacts: IVF coarse centroids, PQ codebooks
and FPS coreset centers, over registry tables, ChunkStores and serving
frames alike.

The serving plane trains a quantizer once and probes it for every query
(the reference builds its collection once per sync and probes it per
query, database.ts:89-94). Every artifact cached here is deterministic
(md5-ordered bounded sample, integer fixed-point arithmetic), so it can go
stale for exactly two reasons, and the key carries both:

- the DATA changed. The data version is the recursive file fingerprint of
  a registry table, ``(store path, ChunkStore.version_token())`` for a
  store, or (application id, plan hash, input-file fingerprint) for a
  serving frame;
- the CODE changed. The spec digest is the spec-hash closure digest of
  the module that defines ``build``, folded with the universal stamp
  (``module_digest``).

Key = (kind, data version, spec digest). One in-process LRU sits over one
per-entry disk tier, both bounded by MAX_ENTRIES, and both hold the JSON
payload, so every hit is decoded into fresh objects the caller may mutate.
``get_or_build`` enforces, for every kind:

- unknown provenance is never cached: a ``None`` version builds and stores
  nothing (unfingerprintable paths, caller-supplied frames);
- a bad entry reads as absent: unreadable JSON, a mismatched key, or a
  payload ``decode`` rejects is rebuilt, never served, never raised;
- the version is read before and after a build, and the result is stored
  only when the two agree, so a commit or rewrite that lands during
  training never pairs new artifacts with the old version;
- an empty artifact (empty corpus) is returned and never stored;
- the disk tier never raises into the query path.

Disk layout: one file per entry, ``<sha256(key)[:32]>.json`` holding
``{"k": key, "v": payload}``, under ``<repo>/.train_cache/``.
SPARK_GRAFT_TRAIN_CACHE overrides the directory; an empty value disables
the disk tier. Every write is tmp + os.replace, so concurrent writers of
different keys never interact and same-key writers race between identical
payloads. Eviction unlinks the oldest-mtime entries beyond MAX_ENTRIES and
reaps tmp files older than an hour, touching only file names this module
writes: the directory may hold unrelated files.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import threading
import time
from collections import Counter, OrderedDict
from functools import lru_cache
from pathlib import Path
from typing import Any, Callable, Hashable

CACHE_ENV = "SPARK_GRAFT_TRAIN_CACHE"
_DEFAULT = Path(__file__).resolve().parent.parent / ".train_cache"
MAX_ENTRIES = 32  # per tier; least recently used / oldest mtime go first
_TMP_TTL_S = 3600.0  # an active writer's tmp file is seconds old
_ENTRY_NAME = re.compile(r"[0-9a-f]{32}\.json")
_TMP_NAME = re.compile(r"[0-9a-f]{32}\.tmp\.\d+-\d+")

# cell ids are packed into the assignment fold as (d6 * 100 + cell) % 100
# (serving.cell_assignment_col / _d6_int callers), so any id outside
# [0, CELL_ID_CAP) would silently COLLIDE with another cell after the mod —
# a stored payload carrying one must read as absent, never load.
CELL_ID_CAP = 100

EVENTS = ("memory_hits", "disk_hits", "misses", "rejected")

_MEM: OrderedDict[str, str] = OrderedDict()  # key -> payload JSON text
_LOCK = threading.Lock()
_STATS: Counter = Counter()


# ---------------------------------------------------------------------------
# payload validators: total functions, a value or None, never an exception
# ---------------------------------------------------------------------------


def finite_components(v) -> list[float] | None:
    """v as a non-empty list of finite numbers, else None. Rejects bools
    (int subclass, never a legitimate component) and numeric STRINGS
    (float("1e999") would otherwise smuggle non-finite values past JSON).
    The value-level guard the r14 shape checks missed: {"0": "abc"} passes
    list("abc") and only crashes later inside cell_assignment_col."""
    if not isinstance(v, (list, tuple)) or not v:
        return None
    out = []
    for x in v:
        if isinstance(x, bool) or not isinstance(x, (int, float)):
            return None
        fx = float(x)
        if not math.isfinite(fx):
            return None
        out.append(fx)
    return out


def integer_components(v) -> list[int] | None:
    """v as a non-empty list of true ints (the kmeans fixed-point payload
    shape), else None. Stricter than finite_components: a float component
    means the entry was not written by train_kmeans — read as absent
    rather than truncating (JSON Infinity/NaN arrive as floats and are
    rejected here by TYPE, closing the r16 OverflowError crash)."""
    if not isinstance(v, (list, tuple)) or not v:
        return None
    out = []
    for x in v:
        if isinstance(x, bool) or not isinstance(x, int):
            return None
        out.append(x)
    return out


def cell_id(c) -> int | None:
    """c as a valid packed-assignment cell id in [0, CELL_ID_CAP), else
    None. Accepts ints and the ASCII-digit strings JSON object keys arrive
    as; rejects bools, signs, whitespace/underscore int() extensions, and
    out-of-range ids (which would silently collide under the %100
    packing). ASCII check matters twice over (r17 review): str.isdigit()
    alone accepts unicode digits where int() either RAISES ('\\u00b2' —
    a ValueError escaping into the query path breaks the reads-as-absent
    contract) or silently normalizes ('\\u0667' -> 7, aliasing a key we
    never wrote)."""
    if isinstance(c, bool):
        return None
    if isinstance(c, str):
        if not (c.isascii() and c.isdigit()):
            return None
        c = int(c)
    if not isinstance(c, int) or not (0 <= c < CELL_ID_CAP):
        return None
    return c


def cell_map(payload, components: Callable) -> dict[int, list] | None:
    """{cell id: components(value)} from a JSON-object payload, else None:
    any invalid key or value rejects the whole payload, and so do two keys
    that alias one cell id ("7" and "07"), which would silently drop a
    centroid."""
    if not isinstance(payload, dict) or not payload:
        return None
    out = {}
    for c, v in payload.items():
        cell, comps = cell_id(c), components(v)
        if cell is None or comps is None:
            return None
        out[cell] = comps
    return out if len(out) == len(payload) else None


# ---------------------------------------------------------------------------
# the key
# ---------------------------------------------------------------------------


@lru_cache(maxsize=1)
def _digests() -> tuple[dict[str, str], str]:
    """(closure digests, universal stamp), computed ONCE per process —
    _closure_digests itself re-hashes every module's closure per call."""
    from doc2vec_spark import spec_hashes

    return spec_hashes._closure_digests(), spec_hashes.universal_hash()


@lru_cache(maxsize=None)
def module_digest(dotted: str) -> str:
    """Spec digest of a first-party module + its transitive import closure,
    FOLDED WITH the universal-module stamp. Closure digests deliberately
    exclude UNIVERSAL_MODULES (tables/session/spec/caching) so a loader
    edit doesn't reopen all 200 driver stamps — the registry compensates
    with the separate global stamp. A disk cache has no such second
    channel, and tables.py shapes every training input, so the key must
    carry both or a loader edit would serve stale artifacts."""
    closures, universal = _digests()
    return closures.get(dotted, dotted) + ":" + universal


def _key(kind: str, version: Hashable, module: str) -> str:
    return f"{kind}:{version!r}:{module_digest(module)}"


# ---------------------------------------------------------------------------
# get_or_build
# ---------------------------------------------------------------------------


def get_or_build(
    kind: str,
    version: Callable[[], Hashable | None],
    build: Callable[[], Any],
    decode: Callable[[Any], Any],
):
    """The artifact of ``kind`` for the data ``version()`` names.

    ``build()`` trains and returns the JSON-able payload; ``decode(payload)``
    validates a payload and returns fresh caller-owned objects, or None to
    reject it. The spec digest is that of the module defining ``build``.
    ``version`` is a callable because it is read twice around a build."""
    v = version()
    key = None if v is None else _key(kind, v, build.__module__)
    if key is not None:
        out = _lookup(kind, key, decode)
        if out is not None:
            return out
    _count(kind, "misses")
    payload = build()
    if not payload:
        return payload  # empty corpus: nothing to reuse, never stored
    out = decode(payload)
    if out is None:
        raise ValueError(f"{kind}: built payload fails its own validator")
    if key is not None and version() == v:
        _store(key, payload)
    return out


def stats(kind: str | None = None) -> dict[str, int]:
    """Memory hits, disk hits, misses (builds) and rejected entries, for
    one kind or, with no argument, over all kinds."""
    with _LOCK:
        return {e: _STATS[kind, e] for e in EVENTS}


def clear_memory() -> None:
    """Empty the in-process tier (the disk tier keeps its entries)."""
    with _LOCK:
        _MEM.clear()


def _count(kind: str, event: str) -> None:
    with _LOCK:
        _STATS[kind, event] += 1
        _STATS[None, event] += 1


def _lookup(kind: str, key: str, decode: Callable):
    with _LOCK:
        text = _MEM.get(key)
        if text is not None:
            _MEM.move_to_end(key)
    if text is not None:
        out = decode(json.loads(text))
        if out is not None:
            _count(kind, "memory_hits")
            return out
    root = _cache_dir()
    if root is None:
        return None
    try:
        entry = json.loads(_entry_path(root, key).read_text())
    except FileNotFoundError:
        return None
    except (OSError, ValueError):
        entry = None
    # the entry records its full key: a hand edit or a hash-prefix
    # collision reads as absent, never as the wrong artifact
    ok = isinstance(entry, dict) and entry.get("k") == key
    out = decode(entry["v"]) if ok and "v" in entry else None
    if out is None:
        _count(kind, "rejected")
        return None
    _remember(key, json.dumps(entry["v"]))
    _count(kind, "disk_hits")
    return out


def _remember(key: str, text: str) -> None:
    with _LOCK:
        _MEM[key] = text
        _MEM.move_to_end(key)
        while len(_MEM) > MAX_ENTRIES:
            _MEM.popitem(last=False)


def _store(key: str, payload) -> None:
    try:
        text = json.dumps(payload)
    except (TypeError, ValueError):
        return  # unserializable payload: serve it, cache nothing
    _remember(key, text)
    root = _cache_dir()
    if root is None:
        return
    try:
        root.mkdir(parents=True, exist_ok=True)
        dst = _entry_path(root, key)
        # pid + thread suffix: no two writers ever share a tmp file
        tmp = dst.with_name(
            f"{dst.stem}.tmp.{os.getpid()}-{threading.get_ident()}"
        )
        tmp.write_text('{"k": %s, "v": %s}' % (json.dumps(key), text))
        os.replace(tmp, dst)
        _evict(root)
    except OSError:
        pass  # the cache is an optimization, never a correctness dependency


# ---------------------------------------------------------------------------
# disk tier
# ---------------------------------------------------------------------------


def _cache_dir() -> Path | None:
    v = os.environ.get(CACHE_ENV)
    if v is not None:
        return Path(v) if v else None
    return _DEFAULT


def _entry_path(root: Path, key: str) -> Path:
    return root / (hashlib.sha256(key.encode()).hexdigest()[:32] + ".json")


def _evict(root: Path) -> None:
    """Unlink owned entries beyond MAX_ENTRIES, oldest mtime first, and
    owned tmp files older than _TMP_TTL_S (a writer that died between
    write and replace). A file that vanished meanwhile is skipped: the
    worst case of a race is one rebuild."""

    def mtime(p: Path) -> float:
        try:
            return p.stat().st_mtime
        except OSError:
            return 0.0

    files = list(root.iterdir())
    entries = sorted(
        (p for p in files if _ENTRY_NAME.fullmatch(p.name)),
        key=lambda p: (mtime(p), p.name),
    )
    stale_tmp = [
        p
        for p in files
        if _TMP_NAME.fullmatch(p.name) and time.time() - mtime(p) > _TMP_TTL_S
    ]
    for p in entries[: max(0, len(entries) - MAX_ENTRIES)] + stale_tmp:
        try:
            p.unlink()
        except OSError:
            pass
