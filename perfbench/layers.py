"""Per-layer measurements taken from outside the program: index files,
in-process kernel timings, query classes on warm and fresh handles, and
an independent BM25 reference for checking served top-k lists.

Layer names follow the program's modules (analysis, index.segments,
index.codec, index.merge, query_server, search.wand, pipeline.dedup).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections import Counter

import numpy as np

import corpus
from harness import clock, closed_loop, median


# ---------------------------------------------------------------------------
# committed index files
# ---------------------------------------------------------------------------

def live_segments(index_dir: str) -> list[dict]:
    from clucene_spark.index.segments import read_manifest

    return read_manifest(index_dir)["segments"]


def _segment_files(index_dir: str, name: str) -> list[str]:
    """Every file of a segment, sorted (a merged segment's postings are a
    directory of part files)."""
    root = os.path.join(index_dir, "segments", name)
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                  for f in fs)


def segment_bytes(index_dir: str, name: str) -> int:
    return sum(os.path.getsize(f) for f in _segment_files(index_dir, name))


def index_bytes(index_dir: str) -> int:
    """Bytes of the segments the latest manifest commits."""
    return sum(segment_bytes(index_dir, s["name"])
               for s in live_segments(index_dir))


def index_digest(index_dir: str) -> str:
    """sha256 over the committed segment list (without its commit time)
    and every byte of every committed segment file."""
    h = hashlib.sha256()
    segs = live_segments(index_dir)
    h.update(json.dumps(segs, sort_keys=True).encode())
    for s in segs:
        for f in _segment_files(index_dir, s["name"]):
            h.update(os.path.relpath(f, index_dir).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def postings_file(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, "segments", name, "postings.parquet")


def term_dfs(index_dir: str) -> dict[str, int]:
    """Global df per term: Σ of the segment-local dfs."""
    import pyarrow.parquet as pq

    dfs: Counter = Counter()
    for s in live_segments(index_dir):
        t = pq.read_table(postings_file(index_dir, s["name"]),
                          columns=["term", "df"])
        dfs.update(dict(zip(t.column("term").to_pylist(),
                            t.column("df").to_pylist())))
    return dict(dfs)


def ranked(dfs: dict[str, int]) -> list[str]:
    return sorted(dfs, key=lambda t: (-dfs[t], t))


# ---------------------------------------------------------------------------
# serving handles
# ---------------------------------------------------------------------------

def open_store(index_dir: str):
    from tools.query_server import open_store as _open

    return _open(index_dir)


def close_store(store) -> None:
    """Stop the read pool a serving handle starts on its first
    multi-segment query; a handle is never closed by the program."""
    pool = getattr(store, "_serve_pool", None)
    if pool is not None:
        pool.shutdown(wait=True)


def query(store, q, k: int = 10):
    from clucene_spark.search.wand import wand_query_local

    terms, mode = q
    return wand_query_local(store, terms, k=k, mode=mode)


# A term no analyzer emits (upper case): an AND query containing it
# reads and decodes every other term into the handle's postings cache,
# then returns before scoring because one term has no postings.
_ABSENT = "ABSENT-TERM"


def warm(store, terms: list[str], chunk: int = 200) -> None:
    """Fill the handle's decoded-postings cache for `terms`."""
    for i in range(0, len(terms), chunk):
        query(store, (terms[i:i + chunk] + [_ABSENT], "AND"))


# ---------------------------------------------------------------------------
# independent BM25 reference
# ---------------------------------------------------------------------------

K1, B = 1.2, 0.75  # Robertson BM25 defaults


def doc_terms(docs, terms) -> list[tuple[int, int, dict[str, int]]]:
    """(doc_id, analyzed token count, {term: tf} for the given terms) per
    (doc_id, text), by the program's analyzer."""
    from clucene_spark.analysis.standard import standard_analyze_terms

    out = []
    for d, text in docs:
        toks = standard_analyze_terms(text)
        out.append((d, len(toks), dict(Counter(t for t in toks if t in terms))))
    return out


class Bm25Reference:
    """Exhaustive BM25 over analyzed documents (rows of doc_terms), for
    checking served top-k lists. Uses the program's analyzer for tokens
    but none of its index, codec or search code. N and avgdl count the
    documents with at least one term, as Lucene's BM25 docCount does: a
    document whose text analyzes to nothing (all stop words) is not in
    the index."""

    def __init__(self, rows):
        self.dl: dict[int, int] = {}
        tf: dict[str, list[tuple[int, int]]] = {}
        for d, n, tfs in rows:
            if not n:
                continue
            self.dl[int(d)] = int(n)
            for t, c in tfs.items():
                tf.setdefault(t, []).append((int(d), int(c)))
        self.n = len(self.dl)
        self.avgdl = sum(self.dl.values()) / self.n if self.n else 1.0
        # per term: doc ids, tfs and doc lengths as arrays
        self.post = {
            t: (np.array([d for d, _ in p], np.int64),
                np.array([c for _, c in p], np.float64),
                np.array([self.dl[d] for d, _ in p], np.float64))
            for t, p in tf.items()}

    def topk(self, q, k: int = 10) -> list[tuple[int, float]]:
        terms, mode = q
        terms = list(dict.fromkeys(terms))
        present = [t for t in terms if t in self.post]
        if not present or (mode == "AND" and len(present) < len(terms)):
            return []
        docs, scores = [], []
        for t in present:
            d, tf, dl = self.post[t]
            df = len(d)
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            norm = K1 * (1.0 - B + B * dl / self.avgdl)
            docs.append(d)
            scores.append(idf * (tf * (K1 + 1.0)) / (tf + norm))
        ids, at = np.unique(np.concatenate(docs), return_inverse=True)
        total = np.bincount(at, weights=np.concatenate(scores))
        hits = np.bincount(at)
        need = len(terms) if mode == "AND" else 1
        keep = hits >= need
        ids, total = ids[keep], total[keep]
        order = np.lexsort((ids, -total))[:k]
        return [(int(ids[i]), float(total[i])) for i in order]


def same_topk(served, ref, places: int = 4) -> bool:
    """Equal lists once scores are rounded as the server rounds them;
    docs whose rounded scores tie may come in either order."""
    a = sorted((-round(s, places), d) for d, s in served)
    b = sorted((-round(s, places), d) for d, s in ref)
    return len(a) == len(b) and all(
        x[1] == y[1] and abs(x[0] - y[0]) <= 1.5 * 10 ** -places
        for x, y in zip(a, b))


# ---------------------------------------------------------------------------
# independent exact-Jaccard reference for near-duplicate pairs
# ---------------------------------------------------------------------------

def planted_twins(docs: list[tuple[int, str]], every: int = 10,
                  id_offset: int = 1_000_000,
                  keep_frac: float = 0.8) -> list[tuple[int, str]]:
    """docs plus the twins with_planted_dups adds: every `every`-th doc
    again, cut to its first keep_frac of space-separated tokens."""
    out = list(docs)
    for d, text in docs:
        if d % every == 0:
            toks = text.split(" ")
            out.append((d + id_offset,
                        " ".join(toks[:max(1, math.floor(len(toks) * keep_frac))])))
    return out


def exact_jaccard_pairs(docs: list[tuple[int, str]], n: int = 3,
                        threshold: float = 0.5, min_shingles: int = 64):
    """Sorted (a, b, jaccard) over all doc pairs with a < b, both with at
    least min_shingles distinct token n-grams (minhash_lsh_pairs'
    signature floor) and Jaccard >= threshold."""
    sets = {}
    for d, text in docs:
        toks = text.split(" ")
        sh = {" ".join(toks[i:i + n])
              for i in range(max(len(toks) - n, 0) + 1)}
        if len(sh) >= min_shingles:
            sets[d] = sh
    ids = sorted(sets)
    out = []
    for i, a in enumerate(ids):
        sa = sets[a]
        for b in ids[i + 1:]:
            sb = sets[b]
            lo, hi = sorted((len(sa), len(sb)))
            if lo < threshold * hi:  # Jaccard <= lo / hi
                continue
            inter = len(sa & sb)
            j = inter / (len(sa) + len(sb) - inter)
            if j >= threshold:
                out.append((a, b, j))
    return out


# ---------------------------------------------------------------------------
# kernel layers, measured in-process
# ---------------------------------------------------------------------------

def analysis_layer(docs: list[tuple[int, str]]) -> dict:
    from clucene_spark.analysis.standard import standard_analyze_terms

    t0 = clock()
    n_tok = sum(len(standard_analyze_terms(text)) for _, text in docs)
    dt = clock() - t0
    return {"analysis.us_per_doc": dt / len(docs) * 1e6,
            "analysis.tokens_per_doc": n_tok / len(docs)}


def codec_layer(index_dir: str, max_rows: int = 20000) -> dict:
    """Decode the doc/tf blobs of up to max_rows term rows of the index,
    then re-encode the decoded arrays."""
    import pyarrow.parquet as pq

    from clucene_spark.index.codec import (decode_postings, encode_postings,
                                           vbyte_decode)

    rows = []
    for s in live_segments(index_dir):
        t = pq.read_table(postings_file(index_dir, s["name"]),
                          columns=["doc_blob", "tf_blob", "dl_blob"])
        rows.extend(zip(t.column("doc_blob").to_pylist(),
                        t.column("tf_blob").to_pylist(),
                        t.column("dl_blob").to_pylist()))
        if len(rows) >= max_rows:
            break
    rows = rows[:max_rows]
    t0 = clock()
    decoded = [decode_postings(db, tb) for db, tb, _ in rows]
    dt_dec = clock() - t0
    dls = [vbyte_decode(r[2]).astype(np.int64) for r in rows]
    n_post = sum(len(d) for d, _ in decoded)
    t0 = clock()
    for (docs, tfs), dl in zip(decoded, dls):
        encode_postings(docs, tfs, dl)
    dt_enc = clock() - t0
    return {"index.codec.decode_mpostings_per_s": n_post / dt_dec / 1e6,
            "index.codec.encode_mpostings_per_s": n_post / dt_enc / 1e6}


def search_layer(index_dir: str, dfs: dict[str, int], seed: int,
                 per_class: int = 8, hot_repeats: int = 3) -> dict:
    """Each class query on a freshly opened handle (cold: parquet read,
    decode and score) and then repeated on that warm handle (hot: score
    only)."""
    classes = corpus.class_queries(ranked(dfs), per_class, seed)
    out: dict[str, float] = {}
    opens, gaps, ns_per_posting = [], [], []
    for name, qs in classes.items():
        cold, hot = [], []
        for q in qs:
            t0 = clock()
            store = open_store(index_dir)
            opens.append(clock() - t0)
            t0 = clock()
            query(store, q)
            c = clock() - t0
            reps = []
            for _ in range(hot_repeats):
                t0 = clock()
                query(store, q)
                reps.append(clock() - t0)
            close_store(store)
            h = median(reps)
            cold.append(c)
            hot.append(h)
            gaps.append(c - h)
            postings = sum(dfs.get(t, 0) for t in q[0])
            if postings:
                ns_per_posting.append(h * 1e9 / postings)
        out[f"search.wand.hot_ms.{name}"] = median(hot) * 1e3
        out[f"search.wand.cold_ms.{name}"] = median(cold) * 1e3
    out["search.wand.read_decode_ms"] = median(gaps) * 1e3
    out["search.wand.ns_per_posting"] = median(ns_per_posting)
    out["query_server.open_store_ms"] = median(opens) * 1e3
    return out


def client_scaling(store, queries, n_clients: int, seconds: float) -> float:
    """Closed-loop capacity with n_clients ÷ capacity with one client."""
    one, t1 = closed_loop(lambda q: query(store, q), queries, 1, seconds)
    many, tn = closed_loop(lambda q: query(store, q), queries, n_clients,
                           seconds)
    return (sum(r.ok for r in many) / tn) / (sum(r.ok for r in one) / t1)


class TouchCounter:
    """Share of a query stream's (segment, term) lookups that the same
    stream already made on the same handle: how much of it a postings
    cache filled by the stream itself would serve."""

    def __init__(self):
        self.seen: set = set()
        self.lookups = self.repeats = 0

    def note(self, segments: list[str], terms: list[str]) -> None:
        for s in segments:
            for t in terms:
                self.lookups += 1
                if (s, t) in self.seen:
                    self.repeats += 1
                else:
                    self.seen.add((s, t))

    @property
    def frac(self) -> float:
        return self.repeats / self.lookups if self.lookups else 0.0


def spark_layer(prefix: str, stats: list[dict], wall_s: float,
                cores: int) -> dict:
    """Event-log task metrics of the jobs run under `prefix` layer
    descriptions, and the share of the available task slots they kept
    busy during the layer's calls."""
    tot = Counter()
    for st in stats:
        tot.update(st)
    busy = tot["run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
    return {
        f"{prefix}.jobs": tot["jobs"],
        f"{prefix}.tasks": tot["tasks"],
        f"{prefix}.executor_run_s": tot["run_s"],
        f"{prefix}.executor_cpu_s": tot["cpu_s"],
        f"{prefix}.jvm_gc_s": tot["gc_s"],
        f"{prefix}.slot_busy_frac": busy,
        f"{prefix}.shuffle_write_bytes": tot["shuffle_write_bytes"],
        f"{prefix}.shuffle_records": tot["shuffle_records"],
        f"{prefix}.spill_bytes": tot["spill_bytes"],
    }
