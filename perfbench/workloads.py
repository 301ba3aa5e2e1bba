"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one returned.

A workload has ``setup`` (input generation and initial load), ``round``
(the operation kinds of one full cycle; untimed preparation, such as
landing the next source change batch, happens here), ``run`` (one timed
operation; returns the input rows it completed), ``check_op`` (untimed
output check of one operation's result) and ``check_end``.
"""

from __future__ import annotations

import os
import time
from pathlib import Path
from urllib.parse import urlparse

from pyspark.sql import functions as F

from dlt_salesforce_iceberg_rest_demo_spark import check_tables, orchestration
from dlt_salesforce_iceberg_rest_demo_spark.operators import dedup, similarity, text
from dlt_salesforce_iceberg_rest_demo_spark.pipeline import SalesforcePipeline
from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import ParquetLake
from dlt_salesforce_iceberg_rest_demo_spark.state import StateStore

from . import config as C
from . import sparkstats
from .corpus import Corpus
from .org import OBJECTS, Org, digest_expr
from .transport import BenchTransport

LINEAGE_COLS = 2  # _dlt_load_id, _dlt_id


class Workload:
    name = ""

    def __init__(self, seed: int, root: Path, spark, tracer) -> None:
        self.seed = seed
        self.root = root
        self.spark = spark
        self.tracer = tracer
        self.layer: dict[str, float] = {}  # per-layer numbers only the workload knows

    def collect(self, df) -> list:
        """Run ``df``'s whole plan and fetch its rows; in traced rounds,
        also a span and the executed plan's exchange and Python-UDF
        counts."""
        span = self.tracer.open("spark.execute")
        try:
            rows = df.collect()
        finally:
            self.tracer.close(span)
        if span is not None:
            counts = sparkstats.plan_counts(df)
            self.tracer.spans[span].attrs.update(
                exchanges=counts.exchanges, python_rows=counts.python_rows
            )
        return rows

    def rows_changed(self, kind: str) -> int:
        """Source rows changed since the last round that operation ``kind``
        should pick up."""
        return 0

    def check_op(self, kind: str) -> list[str]:
        return []

    def check_end(self) -> list[str]:
        return []


def _lake_files(lake: ParquetLake) -> tuple[int, int]:
    """(live parquet files, live bytes) over every table's current snapshot."""
    files = [urlparse(f).path for t in lake.list_tables() for f in lake.read(t).inputFiles()]
    return len(files), sum(os.path.getsize(f) for f in files)


class CrmIncrementalSync(Workload):
    """The reference's own traffic. An org is fully loaded through the
    package's pipeline; then each round lands a seeded batch of updates
    and inserts in the org and runs, one operation each:

    - an incremental pipeline run per resource (merge-on-Id with cursors,
      replace, and keyless merge that falls back to append);
    - the reference's verification, ``orchestration.verify_data_load``,
      and its inspection utility, ``check_tables.check_tables``;
    - a time-travel read of account as of the round before, checked
      against that round's digest, and account's change feed since then;
    - a join-aggregate of contact x account.

    The last three read the snapshots the syncs leave behind, so a write
    path that leaves more files or snapshots shows up as read cost."""

    name = "crm_incremental_sync"
    tables = C.SYNC_TABLES

    def setup(self) -> None:
        self.org = Org(self.seed, C.ORG_SIZES)
        self.transport = BenchTransport(self.org, tracer=self.tracer)
        self.lake = ParquetLake(self.spark, self.root / "lake")
        self.state = StateStore(self.root / "state.json")
        self.pipeline = SalesforcePipeline(self.spark, self.transport, self.lake, self.state)
        self.pipeline.run(self.tables)
        self.failures: list[str] = []

    def round(self) -> list[str]:
        # what the previous round left: the snapshot the time-travel read
        # and the change feed of this round start from
        self.before = {
            "as_of": time.time_ns() // 1000,
            "version": self.lake.current_version("account"),
            "digest": self.org.expected_digest("account"),
        }
        batch = self.org.apply(C.SYNC_UPDATES, C.SYNC_INSERTS)
        self.changed = {f"sync:{t}": len(batch.updated[t]) + len(batch.inserted[t])
                        for t in self.tables}
        self.diff_expected = {
            "insert": len(batch.updated["account"]) + len(batch.inserted["account"]),
            "delete": len(batch.updated["account"]),
        }
        return [f"sync:{t}" for t in self.tables] + [
            "verify_data_load", "check_tables", "travel:account", "diff:account", "join_agg",
        ]

    def rows_changed(self, kind: str) -> int:
        return self.changed.get(kind, 0)

    def run(self, kind: str) -> int:
        op, _, t = kind.partition(":")
        if op == "sync":
            before = self.transport.rows_fetched
            self.pipeline.run((t,))
            return self.transport.rows_fetched - before
        counts = {t: self.org.expected_digest(t)[0] for t in self.tables}
        if op == "verify_data_load":
            result = {"status": "success", "message": "",
                      "config": {"SALESFORCE_RESOURCES": ",".join(self.tables)}}
            got = orchestration.verify_data_load(self.lake, result)["verification_results"]
            for t in self.tables:
                if got[t].get("record_count") != counts[t]:
                    self.failures.append(f"verify_data_load {t}: {got[t]} != {counts[t]} rows")
            return sum(counts.values())
        if op == "check_tables":
            report = check_tables.check_tables(self.lake)
            for t in self.tables:
                want = (counts[t], len(OBJECTS[t][2]) + LINEAGE_COLS)
                got = (report[t]["n_rows"], report[t]["n_fields"])
                if got != want:
                    self.failures.append(f"check_tables {t}: (rows, fields) {got} != {want}")
            return sum(counts.values())
        if op == "travel":
            snap = self.before
            v = self.lake.version_as_of(t, snap["as_of"])
            got = self.digest(self.lake.read(t, v), t)
            if (v, got) != (snap["version"], snap["digest"]):
                self.failures.append(
                    f"time travel {t}: v{v} {got} != v{snap['version']} {snap['digest']}"
                )
            return got[0]
        if op == "diff":
            first = self.before["version"]
            rows = self.collect(self.lake.diff(t, first).groupBy("change_type").count())
            got = {r["change_type"]: r["count"] for r in rows}
            if got != self.diff_expected:
                self.failures.append(f"diff {t} since v{first}: {got} != {self.diff_expected}")
            return self.before["digest"][0] + counts[t]
        if op == "join_agg":
            con, acc = self.lake.read("contact"), self.lake.read("account")
            joined = con.join(acc.select("id", "industry", "annual_revenue"),
                              con.account_id == acc.id)
            rows = self.collect(joined.groupBy("industry").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("annual_revenue").cast("long").alias("revenue"),
            ))
            got = {r["industry"]: (r["n"], r["revenue"]) for r in rows}
            if got != self._join_expected():
                self.failures.append("join_agg: contact x account aggregate differs from the org")
            return counts["contact"] + counts["account"]
        raise ValueError(kind)

    def _join_expected(self) -> dict[str, tuple[int, int]]:
        """Contacts per account industry, and the revenue of their accounts."""
        acc = self.org.rows["account"]
        out: dict[str, tuple[int, int]] = {}
        for con in self.org.rows["contact"].values():
            a = acc.get(con["AccountId"])
            if a is not None:
                n, revenue = out.get(a["Industry"], (0, 0))
                out[a["Industry"]] = (n + 1, revenue + int(a["AnnualRevenue"]))
        return out

    def digest(self, df, table: str) -> tuple[int, int]:
        row = self.collect(df.agg(*digest_expr(table)))[0]
        return int(row["n"]), int(row["h"])

    def check_op(self, kind: str) -> list[str]:
        out, self.failures = self.failures, []
        return out

    def check_end(self) -> list[str]:
        """Every table's current snapshot against the org, merge-table key
        uniqueness, and the persisted cursors."""
        bad = []
        for t in self.tables:
            row = self.lake.read(t).agg(
                *digest_expr(t), F.count_distinct("id").alias("ids")
            ).collect()[0]
            got, want = (row["n"], row["h"]), self.org.expected_digest(t)
            if got != want:
                bad.append(f"{t}: lake (rows, hash) {got} != expected {want}")
            if self.org.primary_key[t] and row["ids"] != row["n"]:
                bad.append(f"{t}: {row['n'] - row['ids']} duplicated primary keys")
            cursor = self.org.expected_cursor(t)
            if self.state.get(t) != cursor:
                bad.append(f"{t}: cursor {self.state.get(t)!r} != expected {cursor!r}")
        files, _ = _lake_files(self.lake)
        self.layer["sinks.dispositions.live_files"] = files
        return bad

    def storage_ratio(self) -> float:
        _, live = _lake_files(self.lake)
        return live / sum(self.org.logical_bytes(t) for t in self.tables)


class CorpusDedupSearch(Workload):
    """The dedup, similarity and text operators over a seeded corpus and
    embedding set; no source, no lake."""

    name = "corpus_dedup_search"
    KINDS = ("exact_dedup", "minhash_dedup_pairs", "cosine_topk", "ann_lsh_topk",
             "tfidf_top_terms", "bm25_topk")

    def setup(self) -> None:
        self.corpus = Corpus(self.seed)
        self.paths = self.corpus.write(self.root / "corpus")
        read = self.spark.read.parquet
        self.docs = read(str(self.paths["docs"]))
        self.vecs = read(str(self.paths["embeddings"]))
        self.queries = read(str(self.paths["queries"]))
        self.rows: list = []

    def round(self) -> list[str]:
        return list(self.KINDS)

    def _call(self, kind: str):
        if kind == "exact_dedup":
            return dedup.exact_dedup(self.docs, ["text"])
        if kind == "minhash_dedup_pairs":
            return dedup.minhash_dedup_pairs(self.docs)
        if kind == "cosine_topk":
            return similarity.cosine_topk(self.vecs, self.queries, k=C.TOPK)
        if kind == "ann_lsh_topk":
            return similarity.ann_lsh_topk(self.vecs, self.queries, k=C.TOPK, dim=C.EMBED_DIM)
        if kind == "tfidf_top_terms":
            return text.tfidf_top_terms(self.docs)
        if kind == "bm25_topk":
            return text.bm25_topk(self.docs, self.corpus.bm25_terms, k=C.TOPK)
        raise ValueError(kind)

    def run(self, kind: str) -> int:
        self.rows = self.collect(self._call(kind))
        if kind in ("cosine_topk", "ann_lsh_topk"):
            return len(self.corpus.vecs) + len(self.corpus.queries)
        return self.corpus.n_docs

    def check_op(self, kind: str) -> list[str]:
        """Checks the result of the operation that just ran."""
        self.spark.catalog.clearCache()  # minhash_dedup_pairs persists its signatures
        rows, self.rows = self.rows, []
        bad: list[str] = []
        c = self.corpus
        if kind == "exact_dedup":
            got = {(r["keep_id"], r["n_copies"]) for r in rows if r["n_copies"] > 1}
            if got != c.expected_exact_groups():
                bad.append("exact_dedup: duplicate groups differ from the planted ones")
        elif kind == "minhash_dedup_pairs":
            pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
            recall = sum(p in pairs for p in c.near_pairs) / max(1, len(c.near_pairs))
            self.layer["operators.dedup.planted_pair_recall"] = recall
            if recall < C.NEAR_DUP_RECALL_FLOOR:
                bad.append(f"minhash_dedup_pairs: planted near-dup recall {recall:.3f}")
        elif kind in ("cosine_topk", "ann_lsh_topk"):
            got: dict[int, list[tuple[int, int]]] = {}
            for r in rows:
                got.setdefault(r["query_id"], []).append((r["rank"], r["corpus_id"]))
            got_ids = {q: [cid for _, cid in sorted(v)] for q, v in got.items()}
            want = c.cosine_topk(C.TOPK)
            if kind == "cosine_topk":
                if got_ids != want:
                    bad.append("cosine_topk: differs from the NumPy brute force")
            else:
                hit = sum(len(set(got_ids.get(q, [])) & set(w)) for q, w in want.items())
                recall = hit / (C.TOPK * len(want))
                self.layer["operators.similarity.ann_recall"] = recall
                if recall < C.ANN_RECALL_FLOOR:
                    bad.append(f"ann_lsh_topk: recall@{C.TOPK} {recall:.3f}")
        elif kind == "tfidf_top_terms":
            sample = c.check_docs
            scores = c.tfidf_scores(sample)
            got = {}
            for r in rows:
                got.setdefault(r["doc_id"], []).append((r["term"], r["tfidf"]))
            for d in sample:
                mine = got.get(d, [])
                top = sorted(scores[d].values(), reverse=True)[:3]
                vals = sorted((v for _, v in mine), reverse=True)
                if (len(mine) != len(top)
                        or any(abs(scores[d][term] - v) > 1e-5 for term, v in mine)
                        or any(abs(a - b) > 1e-5 for a, b in zip(vals, top))):
                    bad.append(f"tfidf_top_terms: doc {d} top terms differ")
                    break
        elif kind == "bm25_topk":
            got = [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])]
            if got != c.bm25_topk(c.bm25_terms, C.TOPK):
                bad.append("bm25_topk: ranking differs from the replayed scores")
        return bad

    def storage_ratio(self) -> float:
        disk = sum(p.stat().st_size for p in self.paths.values())
        return disk / self.corpus.logical_bytes()


WORKLOADS = {w.name: w for w in (CrmIncrementalSync, CorpusDedupSearch)}
