"""Seeded corpus and embedding set with planted structure, plus the NumPy
references the corpus workload checks its operator outputs against.

- Documents: ``DOC_TOKENS`` Zipf-distributed tokens over ``VOCAB`` words.
  Planted: exact-duplicate groups (an original plus 1-3 identical copies)
  and near-duplicate pairs (a copy with 2 tokens replaced, bigram Jaccard
  about 0.8). Unplanted documents share almost no bigrams.
- Embeddings: ``EMBED_N`` float32 vectors around ``EMBED_CLUSTERS``
  centres; queries are perturbed corpus vectors under ids of their own.
"""

from __future__ import annotations

import math
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import config as C

QUERY_ID_BASE = 1_000_000


class Corpus:
    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng(seed)
        n_docs, n_vecs = C.CORPUS_DOCS, C.EMBED_N
        self.n_docs = n_docs
        p = 1.0 / np.arange(1, C.VOCAB + 1) ** 1.1
        toks = rng.choice(C.VOCAB, size=(n_docs, C.DOC_TOKENS), p=p / p.sum())
        n_exact = min(C.EXACT_DUP_GROUPS, n_docs // 10)
        n_near = min(C.NEAR_DUP_PAIRS, n_docs // 10)
        copies = rng.integers(1, 4, size=n_exact)
        slots = rng.permutation(n_docs)[: n_exact + int(copies.sum()) + 2 * n_near].tolist()
        self.exact_groups: list[tuple[int, ...]] = []
        for c in copies.tolist():
            group = tuple(sorted(slots[: c + 1]))
            del slots[: c + 1]
            toks[list(group[1:])] = toks[group[0]]
            self.exact_groups.append(group)
        self.near_pairs: list[tuple[int, int]] = []
        for _ in range(n_near):
            a, b = sorted(slots[:2])
            del slots[:2]
            toks[b] = toks[a]
            pos = rng.choice(C.DOC_TOKENS, size=2, replace=False)
            toks[b, pos] = rng.integers(C.VOCAB, size=2)
            self.near_pairs.append((a, b))
        self.texts = [" ".join(f"w{t}" for t in row) for row in toks.tolist()]
        # BM25 query: mid-frequency terms.
        self.bm25_terms = [f"w{t}" for t in rng.choice(np.arange(20, 400), C.BM25_TERMS, replace=False)]

        centres = rng.standard_normal((C.EMBED_CLUSTERS, C.EMBED_DIM))
        label = rng.integers(C.EMBED_CLUSTERS, size=n_vecs)
        self.vecs = (centres[label] + 0.35 * rng.standard_normal((n_vecs, C.EMBED_DIM))).astype(
            np.float32
        )
        src = rng.choice(n_vecs, size=C.QUERIES, replace=False)
        self.queries = (self.vecs[src] + 0.05 * rng.standard_normal((C.QUERIES, C.EMBED_DIM))).astype(
            np.float32
        )
        self.check_docs = sorted(rng.choice(n_docs, size=min(C.CHECK_SAMPLE, n_docs), replace=False).tolist())

    # -- files ---------------------------------------------------------------

    def write(self, root: Path) -> dict[str, Path]:
        root.mkdir(parents=True, exist_ok=True)
        paths = {k: root / f"{k}.parquet" for k in ("docs", "embeddings", "queries")}
        pq.write_table(
            pa.table({"doc_id": pa.array(range(self.n_docs), pa.int64()),
                      "text": pa.array(self.texts, pa.string())}),
            paths["docs"],
        )
        for key, ids, m in (
            ("embeddings", range(len(self.vecs)), self.vecs),
            ("queries", range(QUERY_ID_BASE, QUERY_ID_BASE + len(self.queries)), self.queries),
        ):
            emb = pa.FixedSizeListArray.from_arrays(pa.array(m.ravel(), pa.float32()), m.shape[1])
            pq.write_table(
                pa.table({"vec_id": pa.array(ids, pa.int64()),
                          "embedding": emb.cast(pa.list_(pa.float32()))}),
                paths[key],
            )
        return paths

    def logical_bytes(self) -> int:
        """Doc ids and UTF-8 text, vector ids and float32 components."""
        text = sum(len(t.encode()) for t in self.texts) + 8 * self.n_docs
        vecs = (self.vecs.size + self.queries.size) * 4 + 8 * (len(self.vecs) + len(self.queries))
        return text + vecs

    # -- references ----------------------------------------------------------

    def expected_exact_groups(self) -> set[tuple[int, int]]:
        """(keep_id, n_copies) of every text held by more than one doc."""
        by_text: dict[str, list[int]] = {}
        for i, t in enumerate(self.texts):
            by_text.setdefault(t, []).append(i)
        return {(min(ids), len(ids)) for ids in by_text.values() if len(ids) > 1}

    def cosine_topk(self, k: int) -> dict[int, list[int]]:
        """Exact top-k corpus ids per query, with the operator's own
        arithmetic: float32 inputs widened to double, dot products and
        squared norms summed left to right, ties broken by corpus id."""
        c = self.vecs.astype(np.float64)
        c_norm = np.sqrt(np.cumsum(c * c, axis=1)[:, -1])
        out = {}
        for qi, q in enumerate(self.queries.astype(np.float64)):
            dot = np.cumsum(c * q, axis=1)[:, -1]
            cos = dot / (np.sqrt(np.cumsum(q * q)[-1]) * c_norm)
            order = np.lexsort((np.arange(len(c)), -cos))
            out[QUERY_ID_BASE + qi] = order[:k].tolist()
        return out

    def _doc_tokens(self) -> list[list[str]]:
        return [t.lower().split(" ") for t in self.texts]

    def tfidf_scores(self, doc_ids: list[int]) -> dict[int, dict[str, float]]:
        """tf * ln((N+1)/(df+1)) per term of each of ``doc_ids``."""
        docs = self._doc_tokens()
        df = Counter(t for toks in docs for t in set(toks))
        n = len(docs)
        return {
            d: {t: tf * math.log((n + 1) / (df[t] + 1)) for t, tf in Counter(docs[d]).items()}
            for d in doc_ids
        }

    def bm25_topk(self, terms: list[str], k: int, idf_scale: int = 1000,
                  out_scale: int = 1_000_000) -> list[int]:
        """``operators.text.bm25_topk``'s exact-integer BM25, replayed."""
        docs = self._doc_tokens()
        n_docs = len(docs)
        total = sum(len(t) for t in docs)
        tfs = [Counter(t for t in toks if t in terms) for toks in docs]
        df = Counter(t for tf in tfs for t in tf)
        scores = {}
        for d, tf in enumerate(tfs):
            if not tf:
                continue
            dl = len(docs[d])
            s = 0
            for t, n in tf.items():
                idf = ((n_docs - df[t] + 1) * idf_scale) // (df[t] + 1)
                denom = 20 * total * n + 6 * total + 18 * dl * n_docs
                s += math.floor(float(idf * n * 44) * float(total) / float(denom) * float(out_scale))
            scores[d] = s
        return sorted(scores, key=lambda d: (-scores[d], d))[:k]
