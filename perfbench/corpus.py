"""Seeded inputs: corpus windows and query streams.

A document's text is a pure function of its doc id
(clucene_spark.data.webtext.make_doc), so the seed varies the corpus by
choosing which window of doc ids a run uses. Queries and deletes come
from numpy generators seeded with the same seed. The program under test
only ever sees the generated parquet files and query terms.
"""

from __future__ import annotations

import os

import numpy as np

# Doc-id windows are 2^20 ids apart, wide enough for a workload's corpus
# plus its probe corpus and probe batch (workloads.PROBE_OFFSET). make_doc
# seeds its generator with (SEED * 1_000_003 + doc_id) mod (2^31 - 1), so
# every id of every window stays below 2^31 - 1: two windows never share a
# generator seed. Seeds congruent modulo N_WINDOWS share a corpus (their
# query streams still differ). The twins with_planted_dups adds (id +
# 1,000,000) are copies, not make_doc ids, so they need not lie in the
# window; they only have to miss the ids of their own dedup input.
WINDOW = 1 << 20
N_WINDOWS = 2046


def doc_base(seed: int) -> int:
    """First doc id of this seed's window."""
    return (1 + seed % N_WINDOWS) * WINDOW


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream of one seed."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed & 0xFFFFFFFF, tag])


def make_docs(first: int, n: int) -> list[tuple[int, str]]:
    """(doc_id, text) for ids first..first+n-1, messy webtext."""
    from clucene_spark.data.webtext import make_doc

    return [(d, make_doc(d, messy=True)[4]) for d in range(first, first + n)]


def write_docs(path: str, rows: list[tuple[int, str]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                  "text": pa.array([r[1] for r in rows], pa.string())}),
        path,
    )


def write_corpus(out_dir: str, first: int, sizes: list[int]
                 ) -> list[tuple[int, str]]:
    """Consecutive doc ids from `first`, one parquet file per entry of
    `sizes`, named in doc-id order. Returns the generated docs."""
    os.makedirs(out_dir)
    docs = make_docs(first, sum(sizes))
    at = 0
    for i, n in enumerate(sizes):
        write_docs(os.path.join(out_dir, f"part-{i:05d}.parquet"),
                   docs[at:at + n])
        at += n
    return docs


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

# Query terms are drawn Zipf(ZIPF_A) over the index's own term dictionary
# ranked by descending df, truncated to the dictionary (draws past its
# end are redrawn), so a few head terms with long postings dominate.
# ZIPF_A, AND_SHARE and the uniform choice of 1, 2 or 3 terms are
# assumptions of this benchmark, not values taken from a query log: no
# log or published study of one was at hand to set them from.
ZIPF_A = 1.15
AND_SHARE = 0.3
HEAD, TORSO = 100, 2000  # rank bounds of the head and torso classes


def zipf_queries(ranked_terms: list[str], n: int, seed: int,
                 stream: str = "queries") -> list[tuple[list[str], str]]:
    """n queries of 1-3 distinct terms, mode AND for AND_SHARE of the
    multi-term ones and OR otherwise."""
    g = rng(seed, stream)
    top = len(ranked_terms)
    out = []
    for _ in range(n):
        k = int(g.integers(1, 4))
        terms: list[str] = []
        while len(terms) < k:
            r = int(g.zipf(ZIPF_A)) - 1
            if r < top and ranked_terms[r] not in terms:
                terms.append(ranked_terms[r])
        mode = "AND" if k > 1 and g.random() < AND_SHARE else "OR"
        out.append((terms, mode))
    return out


def class_queries(ranked_terms: list[str], per_class: int,
                  seed: int) -> dict[str, list[tuple[list[str], str]]]:
    """Fixed query classes for per-layer timing: two head terms (OR and
    AND), two torso terms, two tail terms, and one of each."""
    g = rng(seed, "classes")
    top = len(ranked_terms)
    head = ranked_terms[:HEAD]
    torso = ranked_terms[HEAD:min(TORSO, top)]
    tail = ranked_terms[min(TORSO, top):] or torso

    def pick(pool, k):
        return [pool[i] for i in g.choice(len(pool), size=k, replace=False)]

    out: dict[str, list] = {}
    out["head_or"] = [(pick(head, 2), "OR") for _ in range(per_class)]
    out["head_and"] = [(pick(head, 2), "AND") for _ in range(per_class)]
    out["torso_or"] = [(pick(torso, 2), "OR") for _ in range(per_class)]
    out["tail_or"] = [(pick(tail, 2), "OR") for _ in range(per_class)]
    out["mixed_or"] = [
        (pick(head, 1) + pick(torso, 1) + pick(tail, 1), "OR")
        for _ in range(per_class)
    ]
    return out
