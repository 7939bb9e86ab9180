"""The serving core: BM25 top-k over the compressed doc-sharded index — the
scale path for the reference's search (`colbert_live/colbert_live.py:146-208`).

One query path serves both a monolithic index and a live segment root
(index/segments.py). A monolithic index is a one-segment root with no
tombstones, an identity term map and weight scale 1.

1. :func:`resolve` turns the source plus a batch of queries into one
   :class:`Plan`, entirely on the driver with zero Spark jobs:
   - the queries are tokenized (T1 analog `colbert_live/models.py:92-93`);
   - each segment's dictionary is point-read with pyarrow (an OR-of-equality
     predicate prunes parquet row groups — the analog of the reference's
     per-token index probe, `colbert_live/db/astra.py:235-247`) through the
     driver-side term cache;
   - corpus statistics (N, avgdl, df minus the tombstone df deltas, idf)
     are global across segments, so answers equal a rebuild over the live
     docs;
   - the plan lists every postings file with its salt (doc shard), the
     segment-to-global term-id map, the ``w_scale`` bound factor and the
     tombstone files of that salt.
2. Two executors run a plan:
   - :func:`run_local` scores all files as ONE logical shard in-process
     (zero Spark jobs — the "one user waits" path);
   - :func:`run_spark` runs ONE TASK PER POSTINGS FILE (``mapInPandas``).
     A doc's postings live wholly inside one file (the builder writes each
     doc shard, salt = hash(doc_id) mod D, into exactly one file, and doc
     ids are unique across segments), so per-file exact top-k candidates
     union to a superset of the global top-k. With a ``doc_filter`` the
     8-byte filter ids group by doc shard and each group task scores that
     shard's files; it is the only shuffle before the D·k-per-query merge.
     Compressed block bytes never enter an Exchange.

The layout is checked, never worked around: a shard split across several
postings files, or tombstones not partitioned by ``shard=<salt>``, raises
and asks for a rebuild or a compact().

Safe-pruning invariant (tested): pruned output == unpruned output exactly.
Term lists are processed in one global order per query; θ = k-th largest
accumulated score (a valid lower bound: scores only grow). New docs are
admitted only while Σ max-impact of the remaining lists ≥ θ — a doc first
seen later can never reach θ; accumulated docs always receive exact
contributions, so surviving scores are exact. This is the inverted-index
re-expression of the reference's two-phase cheap-candidates→exact-rescore
design (`colbert_live/colbert_live.py:189-204`).
"""

from __future__ import annotations

import itertools
import json
import math
import re
import threading
from collections import OrderedDict
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from colbert_live_spark.functions.tokenize import py_tokenize
from colbert_live_spark.index import fsio
from colbert_live_spark.index.codec import bm25_weight_np

OUT_SCHEMA = "query_id string, rank int, doc_id long, score double"


def expand_budget(k: int, a: float = 94.9, b: float = 11.0,
                  c: float = -1.48) -> int:
    """Candidate-budget heuristic, same shape as the reference's ``_expand``
    (`colbert_live/colbert_live.py:14-20`: max(x, a + b·x + c·x·ln x) —
    superlinear growth that decays as k grows; its fitted LoTTE constants
    give f(10)=171). Used to cap the scorer's accumulator between term
    lists: docs outside the top expand_budget(k) by upper bound can never
    enter the final top-k."""
    return int(max(k, a + b * k + c * k * math.log(max(k, 2))))


def _decode_many(first_docs, ns, docs_blobs, tfs_blobs, dls_blobs):
    """Decode a set of blocks into flat (doc_ids, tfs, dls) arrays —
    single-pass vectorized (see codec.decode_blocks)."""
    from colbert_live_spark.index.codec import decode_blocks
    return decode_blocks(first_docs, ns, list(docs_blobs), list(tfs_blobs),
                         list(dls_blobs))


def _merge_acc(acc_d, acc_s, new_d, new_s):
    """Merge sorted accumulator with new sorted, doc-unique (doc, score)
    contributions — vectorized two-way sorted merge, no re-sort (the
    accumulator path is the batched-serving hot loop)."""
    if acc_d.size == 0:
        return new_d.copy(), new_s.astype(np.float64, copy=True)
    pos = np.searchsorted(acc_d, new_d)
    pos_c = np.minimum(pos, acc_d.size - 1)
    hit = acc_d[pos_c] == new_d
    # existing docs: add in place (term order preserved → deterministic)
    acc_s = acc_s.copy()
    acc_s[pos_c[hit]] += new_s[hit]
    miss_d, miss_s = new_d[~hit], new_s[~hit]
    if miss_d.size == 0:
        return acc_d, acc_s
    # classic vectorized merge placement of the misses
    ins = np.searchsorted(acc_d, miss_d)
    total = acc_d.size + miss_d.size
    take = np.zeros(total, dtype=bool)
    take[ins + np.arange(miss_d.size)] = True
    out_d = np.empty(total, dtype=np.int64)
    out_s = np.empty(total, dtype=np.float64)
    out_d[take], out_d[~take] = miss_d, acc_d
    out_s[take], out_s[~take] = miss_s, acc_s
    return out_d, out_s


def pruning_isin(field: str, values):
    """A pyarrow predicate equivalent to ``field.isin(values)`` that
    actually PRUNES parquet row groups. pyarrow evaluates only
    equality/comparison guarantees against row-group statistics — a bare
    ``isin`` reads every row group (measured: 20/20 matched on a
    1000-term/20-row-group file; OR-of-equalities matched 2). Small value
    sets (queries are dozens of terms) become the OR chain; larger sets
    keep ``isin`` for the row filter but add a min/max range conjunct so
    stats pruning still skips row groups outside the value span."""
    import functools
    import operator

    import pyarrow.dataset as pads
    vals = sorted(values)
    if not vals:
        return pads.field(field).isin(vals)
    if len(vals) <= 64:
        return functools.reduce(
            operator.or_, [pads.field(field) == v for v in vals])
    return ((pads.field(field) >= vals[0]) & (pads.field(field) <= vals[-1])
            & pads.field(field).isin(vals))


def build_qmeta(queries: list[tuple[str, str]], resolve) -> tuple[dict, dict]:
    """(qmeta, nq_map) shared by every serving path: qmeta maps query_id →
    [(term_id, qtf·idf)] in the query's GLOBAL processing order (impact
    desc, term_id tiebreak — LOAD-BEARING: every shard must sum a doc's
    contributions in the same float order or ties break shard-dependently);
    nq_map maps query_id → raw distinct-token count (conjunctive emptiness
    checks). ``resolve(term) -> (term_id, idf) | None``. One implementation
    so local, cluster, and segment paths cannot drift apart."""
    qmeta: dict[str, list[tuple[int, float]]] = {}
    nq_map: dict[str, int] = {}
    for qid, qtext in queries:
        counts: dict[str, int] = {}
        for t in py_tokenize(qtext):
            counts[t] = counts.get(t, 0) + 1
        nq_map[qid] = len(counts)
        terms = []
        for term, qtf in sorted(counts.items()):
            r = resolve(term)
            if r is not None:
                terms.append((r[0], qtf * r[1]))
        terms.sort(key=lambda x: (-x[1], x[0]))
        if terms:
            qmeta[qid] = terms
    return qmeta, nq_map


# ------------------------------------------------------- shard-batch scoring

PARTIAL_SCHEMA = "query_id string, doc_id long, score double"


def _empty_partial() -> pd.DataFrame:
    return pd.DataFrame({"query_id": pd.array([], dtype="str"),
                         "doc_id": pd.array([], dtype="int64"),
                         "score": pd.array([], dtype="float64")})


def _member_mask(ids: np.ndarray, members: np.ndarray) -> np.ndarray:
    """Boolean mask: ids[i] in members (members sorted unique)."""
    if members.size == 0:
        return np.zeros(ids.size, dtype=bool)
    pos = np.minimum(np.searchsorted(members, ids), members.size - 1)
    return members[pos] == ids


class ShardLists:
    """One doc shard's matched posting lists: lazy decode + idf-free weight
    cache. A list is decoded at most once per (shard, batch) no matter how
    many queries subscribe to its term — together with the shard grouping,
    this is what makes batched throughput independent of batch size.
    Optional ``filter_ids`` (permitted) / ``exclude_ids`` (tombstoned) apply
    once at decode time (they are query-independent)."""

    def __init__(self, pdf: pd.DataFrame, avgdl: float,
                 filter_ids: np.ndarray | None = None,
                 exclude_ids: np.ndarray | None = None):
        self._avgdl = avgdl
        self._filter = filter_ids
        self._exclude = exclude_ids
        self._groups: dict[int, pd.DataFrame] = {}
        self._sigma: dict[int, float] = {}
        self._sizes: dict[int, int] = {}
        if len(pdf):
            for tid, sub in pdf.groupby("term_id", sort=False):
                tid = int(tid)
                self._groups[tid] = sub
                self._sigma[tid] = float(sub["max_weight"].max())
                self._sizes[tid] = int(sub["n"].sum())
        self._cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def __contains__(self, tid: int) -> bool:
        return tid in self._groups

    def sigma_base(self, tid: int) -> float:
        return self._sigma[tid]

    def size(self, tid: int) -> int:
        return self._sizes[tid]

    def get(self, tid: int) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids sorted, idf-free weights) for the shard-local list."""
        hit = self._cache.get(tid)
        if hit is None:
            rows = self._groups[tid]
            d, tf, dl = _decode_many(rows["first_doc"].to_numpy(),
                                     rows["n"].to_numpy(),
                                     rows["docs"].to_list(),
                                     rows["tfs"].to_list(),
                                     rows["dls"].to_list())
            if d.size and not np.all(d[:-1] <= d[1:]):
                order = np.argsort(d, kind="stable")
                d, tf, dl = d[order], tf[order], dl[order]
            if self._filter is not None:
                keep = _member_mask(d, self._filter)
                d, tf, dl = d[keep], tf[keep], dl[keep]
            if self._exclude is not None and self._exclude.size:
                keep = ~_member_mask(d, self._exclude)
                d, tf, dl = d[keep], tf[keep], dl[keep]
            hit = (d, bm25_weight_np(tf, dl, self._avgdl))
            self._cache[tid] = hit
        return hit


def _score_one(lists: ShardLists, qterms: list[tuple[int, float]], k: int,
               prune: bool) -> tuple[np.ndarray, np.ndarray]:
    """Exact shard-local top-k for one query (disjunctive MaxScore).
    ``qterms``: [(term_id, qtf·idf)] — only terms present in this shard,
    in the query's GLOBAL processing order (driver-fixed: impact desc,
    term_id tiebreak). The order must be identical in every shard so that
    two docs with equal contribution multisets sum in the same float order
    and tie bit-identically regardless of which shard they live in; the
    MaxScore admission proof holds for ANY fixed order (suffix bounds are
    computed over the order actually processed), per-shard σ only loses a
    little tightness vs a per-shard σ-desc order."""
    infos = [(coef * lists.sigma_base(tid), tid, coef) for tid, coef in qterms]
    sigma_v = np.array([s for s, _, _ in infos], dtype=np.float64)
    suffix = np.concatenate([np.cumsum(sigma_v[::-1])[::-1], [0.0]])
    acc_d = np.zeros(0, dtype=np.int64)
    acc_s = np.zeros(0, dtype=np.float64)
    admission = True
    for ti, (_sig, tid, coef) in enumerate(infos):
        theta = (np.partition(acc_s, acc_s.size - k)[acc_s.size - k]
                 if acc_s.size >= k else 0.0)
        if prune and admission and suffix[ti] < theta:
            admission = False
        if prune and not admission and acc_d.size == 0:
            break
        d, wb = lists.get(tid)
        if d.size == 0:
            continue
        if prune and not admission:
            # admission closed: only accumulated docs can gain — search the
            # SMALL accumulator into the big list (O(|acc|·log|list|), not
            # O(|list|·log|acc|)) and weight only the hits. Each doc occurs
            # at most once per list, so the per-doc addition order is
            # unchanged (bit-identical to the unpruned sum — tested).
            pos = np.minimum(np.searchsorted(d, acc_d), d.size - 1)
            hit = d[pos] == acc_d
            if hit.any():
                acc_s[hit] += coef * wb[pos[hit]]
        else:
            acc_d, acc_s = _merge_acc(acc_d, acc_s, d, coef * wb)
        cap = max(4 * k, expand_budget(k))
        if prune and acc_s.size > cap:
            th = np.partition(acc_s, acc_s.size - k)[acc_s.size - k]
            keep = acc_s + suffix[ti + 1] >= th
            if int(keep.sum()) >= k:
                acc_d, acc_s = acc_d[keep], acc_s[keep]
    if acc_d.size == 0:
        return acc_d, acc_s
    kk = min(k, acc_d.size)
    order = np.lexsort((acc_d, -acc_s))[:kk]
    return acc_d[order], acc_s[order]


def _intersect_one(lists: ShardLists, qterms: list[tuple[int, float]],
                   k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact shard-local conjunctive top-k (the caller guarantees every raw
    query term is present in this shard). Candidate generation intersects
    smallest list first (cheap); SCORING then sums in the query's global
    processing order so float ties resolve identically across shards."""
    ordered = sorted(qterms, key=lambda x: (lists.size(x[0]), x[0]))
    cand_d: np.ndarray | None = None
    for tid, _coef in ordered:
        d, _w = lists.get(tid)
        if cand_d is None:
            cand_d = d
            continue
        if cand_d.size == 0 or d.size == 0:
            cand_d = cand_d[:0]
            break
        pos = np.minimum(np.searchsorted(d, cand_d), d.size - 1)
        cand_d = cand_d[d[pos] == cand_d]
    if cand_d is None or cand_d.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    cand_s = np.zeros(cand_d.size, dtype=np.float64)
    for tid, coef in qterms:  # global fixed order — candidates ⊆ every list
        d, wb = lists.get(tid)
        pos = np.searchsorted(d, cand_d)
        cand_s += coef * wb[pos]
    kk = min(k, cand_d.size)
    order = np.lexsort((cand_d, -cand_s))[:kk]
    return cand_d[order], cand_s[order]


def score_shard_queries(
    pdf: pd.DataFrame,
    qmeta: dict[str, list[tuple[int, float]]],
    nq_map: dict[str, int],
    avgdl: float,
    k: int,
    prune: bool = True,
    conjunctive: bool = False,
    filter_ids: np.ndarray | None = None,
    exclude_ids: np.ndarray | None = None,
) -> pd.DataFrame:
    """Score EVERY query of the batch against one doc shard's matched
    blocks; emit ≤ k exact candidates per query. Queries iterate in sorted
    qid order (determinism is data-defined, not partitioning-defined)."""
    if not len(pdf):
        return _empty_partial()
    lists = ShardLists(pdf, avgdl, filter_ids, exclude_ids)
    out_q: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    out_s: list[np.ndarray] = []
    for qid in sorted(qmeta):
        present = [(tid, coef) for tid, coef in qmeta[qid] if tid in lists]
        if not present:
            continue
        if conjunctive:
            if len(present) < nq_map[qid]:
                continue  # a query term has no postings in this doc shard
            d, s = _intersect_one(lists, present, k)
        else:
            d, s = _score_one(lists, present, k, prune)
        if d.size:
            out_q.append(np.full(d.size, qid, dtype=object))
            out_d.append(d)
            out_s.append(s)
    if not out_d:
        return _empty_partial()
    return pd.DataFrame({"query_id": np.concatenate(out_q),
                         "doc_id": np.concatenate(out_d),
                         "score": np.concatenate(out_s)})


def shard_expr(doc_id_col, doc_shards: int):
    """The doc-shard assignment expression — MUST match the build-side salt
    (index/builder.py merge_index)."""
    return F.pmod(F.xxhash64(doc_id_col.cast("long")),
                  F.lit(doc_shards)).cast("int")


def merge_topk(partial: DataFrame, k: int) -> DataFrame:
    """Global merge of per-shard candidates: D·k tiny rows per query."""
    from colbert_live_spark.operators.bm25 import topk
    return topk(partial, k)


# ------------------------------------------------------ driver-side cache

# One entry per index dir or segment root, valid for ONE meta/manifest text:
# every rebuild or commit rewrites that text, so a changed text drops the
# entry (identical text implies the same deterministic build, hence the same
# dictionaries). Reads happen outside the lock; the lock only guards the
# LRU bookkeeping, so concurrent callers never see a half-updated map.
# Bounded three ways — roots, terms and tombstone df deltas — so neither a
# driver serving many roots nor an adversarial stream of distinct (absent)
# terms grows memory; an evicted entry is simply point-read again.
_CACHE: OrderedDict[str, _Source] = OrderedDict()
_CACHE_LOCK = threading.Lock()
_CACHE_ROOTS_MAX = 64
_CACHE_TERMS_MAX = 65536  # ~hot web working set; a few MB per root


class _Source:
    """Cached reads of one index or root state."""

    def __init__(self, text: str):
        self.text = text
        # term -> {segment dir: (term_id, df)}; {} caches an absent term
        self.terms: OrderedDict[str, dict] = OrderedDict()
        self.deltas: OrderedDict[str, int] = OrderedDict()  # tombstoned df
        self.tombs: dict[int, tuple[str, ...]] | None = None  # salt -> files
        self.excl: np.ndarray | None = None  # every tombstoned id, sorted


def _source(path: str, text: str) -> _Source:
    with _CACHE_LOCK:
        src = _CACHE.pop(path, None)
        if src is None or src.text != text:
            src = _Source(text)
        _CACHE[path] = src
        while len(_CACHE) > _CACHE_ROOTS_MAX:
            _CACHE.popitem(last=False)
    return src


def _cached(lru: OrderedDict, keys: list, load) -> dict:
    """{key: value} through a bounded LRU; ``load(misses)`` must return a
    value for every miss and runs outside the lock."""
    out = {}
    with _CACHE_LOCK:
        for key in keys:
            if key in lru:
                lru.move_to_end(key)
                out[key] = lru[key]
    misses = [key for key in keys if key not in out]
    if misses:
        found = load(misses)
        with _CACHE_LOCK:
            for key in misses:
                out[key] = lru[key] = found[key]
            while len(lru) > _CACHE_TERMS_MAX:
                lru.popitem(last=False)
    return out


def _point_lookup(dirs: list[str], terms: list[str]) -> dict[str, dict]:
    """{term -> {dir: (term_id, df)}} from each index dir's term-sorted
    dictionary. The predicate prunes to the row groups holding the queried
    terms, so the read is O(matched row groups), not O(vocabulary) — what
    keeps a driver-side lookup viable at a 10^8-term web vocabulary.
    Segments are read concurrently (pyarrow releases the GIL)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.dataset as pads

    def one(d: str):
        fs, p = fsio.resolve(f"{d}/dict")
        t = (pads.dataset(p, format="parquet", filesystem=fs)
             .to_table(filter=pruning_isin("term", terms),
                       columns=["term", "term_id", "df"]))
        return d, zip(t.column("term").to_pylist(),
                      t.column("term_id").to_pylist(),
                      t.column("df").to_pylist())

    if len(dirs) == 1:
        found = [one(dirs[0])]
    else:
        with ThreadPoolExecutor(max_workers=min(16, len(dirs))) as ex:
            found = list(ex.map(one, dirs))
    out: dict[str, dict] = {t: {} for t in terms}
    for d, rows in found:
        for term, tid, df in rows:
            out[term][d] = (int(tid), int(df))
    return out


def _df_deltas(root: str, delta_files: list[str],
               terms: list[str]) -> dict[str, int]:
    """{term -> df removed by tombstones}: the delete-time delta files are
    |terms of the deleted docs|-sized, so a driver-side read is cheap."""
    import pyarrow.dataset as pads
    out = dict.fromkeys(terms, 0)
    for rel in delta_files:
        fs, p = fsio.resolve(f"{root}/{rel}")
        t = (pads.dataset(p, format="parquet", filesystem=fs)
             .to_table(filter=pads.field("term").isin(terms),
                       columns=["term", "ddf"]))
        for term, ddf in zip(t.column("term").to_pylist(),
                             t.column("ddf").to_pylist()):
            out[term] += int(ddf)
    return out


def _partition_files(path: str, key: str) -> dict[int, list[str]]:
    """{n -> parquet files under ``<key>=<n>/``} of a partitioned dir."""
    out: dict[int, list[str]] = {}
    for f in fsio.list_files(path, ".parquet"):
        m = re.search(rf"/{key}=(\d+)/[^/]+$", f)
        if m is None:
            raise ValueError(
                f"{f} is not under a {key}=<n> directory: the layout "
                "predates doc-shard partitioning; rebuild the index or "
                "compact() the root")
        out.setdefault(int(m.group(1)), []).append(f)
    return out


# ------------------------------------------------------------ the plan

class FileTask(NamedTuple):
    """One postings file = one doc shard of one index/segment."""
    path: str
    salt: int
    part: int               # which index/segment of the source
    tids: list[int]         # the part's matched term ids (read predicate)
    term_map: dict | None   # part term id -> global term id; None = same
    w_scale: float          # stored block-max bound factor (avgdl drift)
    tombs: tuple[str, ...]  # tombstone files of this salt


class Plan(NamedTuple):
    qmeta: dict[str, list[tuple[int, float]]]
    nq_map: dict[str, int]
    avgdl: float
    doc_shards: int
    files: list[FileTask]
    source: _Source


def resolve(path: str, queries: list[tuple[str, str]]) -> Plan | None:
    """The plan for ``queries`` over an index dir or a segment root (told
    apart by its MANIFEST.json); None when nothing can match.

    Stored block ``max_weight`` bounds were computed with the segment's own
    avgdl; w grows at most linearly in avgdl, so scaling by
    max(1, avgdl_global / avgdl_segment) keeps it a true upper bound (safe
    pruning under avgdl drift)."""
    from colbert_live_spark.index import segments
    text = segments._manifest_text(path)
    if text is None:
        text = fsio.read_text(f"{path}/_INDEX_META.json")
        meta = json.loads(text)
        if meta.get("doc_shards") is None or meta.get("layout") != "salt_v3":
            raise ValueError(
                f"{path} has layout {meta.get('layout')!r} (doc_shards="
                f"{meta.get('doc_shards')}), not one postings file per doc "
                "shard; rebuild the index with the current builder")
        m = None
        n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
        doc_shards = int(meta["doc_shards"])
        parts = [(path, avgdl)]
    else:
        m = segments._parse_manifest(text)
        if not m["segments"]:
            return None
        segments._require_doc_sharded(m, "search")
        n_docs, avgdl = segments._global_stats(m)
        doc_shards = m["doc_shards"]
        parts = [(f"{path}/segments/{s['name']}", float(s["avgdl"]))
                 for s in m["segments"]]
    if n_docs <= 0:
        return None

    src = _source(path, text)
    dirs = [d for d, _ in parts]
    terms = sorted({t for _, q in queries for t in py_tokenize(q)})
    hits = _cached(src.terms, terms, lambda ts: _point_lookup(dirs, ts))
    df = {t: sum(v for _, v in per.values()) for t, per in hits.items()
          if per}
    if m is not None and m["tombstones"]["delta_files"] and df:
        gone = _cached(src.deltas, sorted(df), lambda ts: _df_deltas(
            path, m["tombstones"]["delta_files"], ts))
        df = {t: v - gone[t] for t, v in df.items() if v > gone[t]}
    if len(parts) == 1:
        gid = {t: hits[t][dirs[0]][0] for t in df}
    else:
        gid = {t: i for i, t in enumerate(sorted(df))}
    idf = {t: math.log(1.0 + (n_docs - v + 0.5) / (v + 0.5))
           for t, v in df.items()}
    qmeta, nq_map = build_qmeta(
        queries, lambda t: (gid[t], idf[t]) if t in df else None)
    if not qmeta:
        return None

    if src.tombs is None:
        tombs: dict[int, list[str]] = {}
        for rel in (m["tombstones"]["files"] if m is not None else []):
            for salt, fs in _partition_files(f"{path}/{rel}",
                                             "shard").items():
                tombs.setdefault(salt, []).extend(fs)
        src.tombs = {s: tuple(fs) for s, fs in tombs.items()}
    files = []
    for i, (d, part_avgdl) in enumerate(parts):
        tmap = {hits[t][d][0]: gid[t] for t in df if d in hits[t]}
        if not tmap:
            continue
        w_scale = max(1.0, avgdl / part_avgdl) if part_avgdl else 1.0
        for salt, fs in sorted(_partition_files(f"{d}/postings",
                                                "salt").items()):
            if len(fs) > 1:
                raise ValueError(
                    f"{d}: doc shard {salt} spans {len(fs)} postings files; "
                    "rebuild the index or compact() the root")
            files.append(FileTask(fs[0], salt, i, sorted(tmap),
                                  None if len(parts) == 1 else tmap,
                                  w_scale, src.tombs.get(salt, ())))
    return Plan(qmeta, nq_map, avgdl, doc_shards, files, src)


def _read_blocks(tasks: list[FileTask]) -> pd.DataFrame:
    """The matched blocks of ``tasks``' files in global term ids, with the
    block-max bounds scaled; one pyarrow read per index/segment."""
    import pyarrow.dataset as pads
    frames = []
    for _, grp in itertools.groupby(tasks, key=lambda f: f.part):
        grp = list(grp)
        f0 = grp[0]
        fs, _ = fsio.resolve(f0.path)
        blocks = (pads.dataset([fsio.resolve(f.path)[1] for f in grp],
                               format="parquet", filesystem=fs)
                  .to_table(filter=pruning_isin("term_id", f0.tids))
                  .to_pandas())
        if f0.term_map is not None:
            blocks["term_id"] = (blocks["term_id"].map(f0.term_map)
                                 .astype(np.int64))
        if f0.w_scale != 1.0:
            blocks["max_weight"] = blocks["max_weight"] * f0.w_scale
        frames.append(blocks)
    return frames[0] if len(frames) == 1 else pd.concat(frames,
                                                        ignore_index=True)


def _read_ids(paths) -> np.ndarray:
    """Sorted unique doc ids of tombstone files (empty for none)."""
    if not paths:
        return np.zeros(0, dtype=np.int64)
    return np.unique(np.concatenate([
        fsio.read_parquet_table(p, columns=["doc_id"]).column("doc_id")
        .to_numpy() for p in paths])).astype(np.int64)


# ----------------------------------------------------------- executors

def _empty_ranked() -> pd.DataFrame:
    return pd.DataFrame({"query_id": pd.array([], dtype="str"),
                         "rank": pd.array([], dtype="int32"),
                         "doc_id": pd.array([], dtype="int64"),
                         "score": pd.array([], dtype="float64")})


def run_local(plan: Plan | None, k: int, prune: bool = True,
              conjunctive: bool = False,
              filter_ids: np.ndarray | None = None) -> pd.DataFrame:
    """In-process executor: every file of the plan scored as ONE logical
    shard, then one top-k finalisation — zero Spark jobs."""
    if plan is None or not plan.files:
        return _empty_ranked()
    src = plan.source
    if src.excl is None:
        src.excl = _read_ids([f for fs in src.tombs.values() for f in fs])
    partial = score_shard_queries(_read_blocks(plan.files), plan.qmeta,
                                  plan.nq_map, plan.avgdl, k, prune,
                                  conjunctive, filter_ids, src.excl)
    if not len(partial):
        return _empty_ranked()
    # (query_id, score DESC, doc_id) order; ≤ k rows per query already
    qids, q = np.unique(partial["query_id"].to_numpy(), return_inverse=True)
    d, s = partial["doc_id"].to_numpy(), partial["score"].to_numpy()
    order = np.lexsort((d, -s, q))
    q = q[order]
    rank = np.arange(q.size) - np.searchsorted(q, q) + 1
    return pd.DataFrame({"query_id": qids[q], "rank": rank.astype(np.int32),
                         "doc_id": d[order], "score": s[order]})


def run_spark(spark: SparkSession, plan: Plan | None, k: int,
              prune: bool = True, conjunctive: bool = False,
              doc_filter: DataFrame | None = None) -> DataFrame:
    """Spark executor: one ``mapInPandas`` task per postings file; with a
    ``doc_filter``, one ``groupBy(shard)`` task per shard over that
    shard's files. Both end in :func:`merge_topk`."""
    if plan is None or not plan.files:
        return spark.createDataFrame([], OUT_SCHEMA)
    avgdl, n = plan.avgdl, len(plan.files)
    bc = spark.sparkContext.broadcast((plan.qmeta, plan.nq_map, plan.files))

    def score(tasks: list[FileTask], filter_ids=None) -> pd.DataFrame:
        qm, nq, _ = bc.value
        return score_shard_queries(_read_blocks(tasks), qm, nq, avgdl, k,
                                   prune, conjunctive, filter_ids,
                                   _read_ids(tasks[0].tombs))

    if doc_filter is None:
        def run_files(it):
            files = bc.value[2]
            for pdf in it:
                for i in pdf["i"]:
                    out = score([files[int(i)]])
                    if len(out):
                        yield out

        idx = spark.createDataFrame(
            spark.sparkContext.parallelize([(i,) for i in range(n)], n),
            "i int")
        partial = idx.mapInPandas(run_files, schema=PARTIAL_SCHEMA)
    else:
        # A doc only scores in its own shard: shards without permitted ids
        # are never read.
        def run_shard(key: tuple, filt: pd.DataFrame) -> pd.DataFrame:
            mine = [f for f in bc.value[2] if f.salt == int(key[0])]
            if not mine:
                return _empty_partial()
            return score(mine, np.unique(filt["doc_id"].to_numpy(np.int64)))

        partial = (doc_filter
                   .select(F.col(doc_filter.columns[0]).cast("long")
                           .alias("doc_id"))
                   .withColumn("shard", shard_expr(F.col("doc_id"),
                                                   plan.doc_shards))
                   .groupBy("shard")
                   .applyInPandas(run_shard, schema=PARTIAL_SCHEMA))
    return merge_topk(partial, k)


# ------------------------------------------------------- public entry points

def wand_search_local(
    index_dir: str,
    queries: list[tuple[str, str]],
    k: int = 10,
    prune: bool = True,
    conjunctive: bool = False,
    filter_ids=None,
) -> pd.DataFrame:
    """Low-latency serving with ZERO Spark jobs — "a user issues one query
    and waits": :func:`resolve` + :func:`run_local`, results identical to
    :func:`wand_search` (tested). Appropriate while Σ matched-list bytes
    fit one process — p50 ≈ tens of ms vs the ~1 s Spark job round trip.
    ``filter_ids``: any iterable of permitted doc ids. Reference cost-model
    analog: O(log n) probe + O(candidates) rescore, colbert_live.py:167-169.
    """
    fids = None
    if filter_ids is not None:
        fids = np.unique(np.fromiter((int(x) for x in filter_ids),
                                     dtype=np.int64))
    return run_local(resolve(index_dir, queries), k, prune, conjunctive,
                     fids)


def wand_search(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[str, str]],
    k: int = 10,
    prune: bool = True,
    conjunctive: bool = False,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Batched top-k over a built index: :func:`resolve` +
    :func:`run_spark`. Returns (query_id, rank, doc_id, score).
    ``conjunctive=True`` switches to posting-list-intersection semantics
    (AND across query terms); it composes with ``doc_filter``.

    ``doc_filter``: optional single-column (doc_id) DataFrame of permitted
    docs — the composable metadata predicate, distributed end to end (the
    ids shuffle by doc shard, never to the driver; reference analog: tag
    filter inside the ANN scan, `example/cmdline/db.py:82-88`). Corpus
    statistics stay GLOBAL, matching the reference's semantics."""
    return run_spark(spark, resolve(index_dir, queries), k, prune,
                     conjunctive, doc_filter)
