"""In-memory span tracer around the program's public functions.

The tracer patches module and class attributes of the package for the
duration of a traced round and restores them afterwards, so untraced
rounds run the program untouched. Every span records its name, start,
end, parent span and operation id, and runs its Spark jobs under a job
group of its own, so Spark counters can be attributed to the innermost
span that caused them. Spans stay in memory; ``dump`` writes them out
when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

from . import sparkstats

COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_bytes_written")


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op_id: int
    end: float = 0.0
    jobs: sparkstats.JobCounts = field(default_factory=sparkstats.JobCounts)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _write_kind(args, kwargs) -> str:
    """``ParquetLake.write`` span name by the disposition that really
    runs: merge without a usable key falls back to append."""
    _, df, table, disposition, *rest = args
    pk = rest[0] if rest else kwargs.get("primary_key", ())
    if disposition == "merge" and (not pk or any(k not in df.columns for k in pk)):
        disposition = "append"
    return f"sinks.dispositions.write.{disposition}"


def _write_attrs(span: Span, args, result) -> None:
    span.attrs["rows_loaded"] = result.rows_written


def _data_dir_attrs(span: Span, args, result) -> None:
    lake, table = args[0], args[1]
    name, rows = result
    files = list((lake.root / table / name).rglob("*.parquet"))
    span.attrs["rows_rewritten"] = rows
    span.attrs["bytes_written"] = sum(p.stat().st_size for p in files)


def _patch_targets():
    """(owner, attribute, span name, result hook) for every public entry
    point the benchmark traces, plus the lake's data-dir writer whose
    row and byte counts give the write amplification. ``pipeline``
    imports its collaborators by name, so those names are patched where
    ``pipeline`` looks them up."""
    from dlt_salesforce_iceberg_rest_demo_spark import check_tables, orchestration, pipeline
    from dlt_salesforce_iceberg_rest_demo_spark.operators import dedup, similarity, text
    from dlt_salesforce_iceberg_rest_demo_spark.sinks import dispositions
    from dlt_salesforce_iceberg_rest_demo_spark.state import StateStore

    lake = dispositions.ParquetLake
    return [
        (pipeline.SalesforcePipeline, "run", "pipeline.run", None),
        (pipeline, "read_object", "sources.salesforce.read_object", None),
        (pipeline, "snake_case_columns", "normalize.snake_case_columns", None),
        (pipeline, "add_lineage", "normalize.add_lineage", None),
        (lake, "write", _write_kind, _write_attrs),
        (lake, "_new_data_dir", "sinks.dispositions.new_data_dir", _data_dir_attrs),
        (lake, "read", "sinks.dispositions.read", None),
        (lake, "count", "sinks.dispositions.count", None),
        (lake, "diff", "sinks.dispositions.diff", None),
        (lake, "version_as_of", "sinks.dispositions.version_as_of", None),
        (StateStore, "get", "state.get", None),
        (StateStore, "advance", "state.advance", None),
        (check_tables, "check_tables", "check_tables.check_tables", None),
        (orchestration, "verify_data_load", "orchestration.verify_data_load", None),
        (dedup, "exact_dedup", "operators.dedup.exact_dedup", None),
        (dedup, "minhash_dedup_pairs", "operators.dedup.minhash_dedup_pairs", None),
        (similarity, "cosine_topk", "operators.similarity.cosine_topk", None),
        (similarity, "ann_lsh_topk", "operators.similarity.ann_lsh_topk", None),
        (text, "tfidf_top_terms", "operators.text.tfidf_top_terms", None),
        (text, "bm25_topk", "operators.text.bm25_topk", None),
    ]


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.active = False
        self.op_id = -1

    # -- spans -------------------------------------------------------------

    def open(self, name: str) -> int | None:
        """Start a span (when tracing); returns its id for :meth:`close`."""
        if not self.active:
            return None
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), parent, self.op_id))
        self._stack.append(idx)
        self.sc.setJobGroup(f"perfbench-span-{idx}", name)
        return idx

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(f"perfbench-span-{self._stack[-1]}", "")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, fn, name, hook=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(name if isinstance(name, str) else name(args, kwargs))
            try:
                result = fn(*args, **kwargs)
                if hook is not None and idx is not None:
                    hook(self.spans[idx], args, result)
                return result
            finally:
                self.close(idx)

        return traced

    # -- rounds ------------------------------------------------------------

    def start(self) -> None:
        """Install the patches; spans are recorded until :meth:`stop`."""
        for owner, attr, name, hook in _patch_targets():
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(orig, name, hook))
        self.active = True

    def stop(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
        self.active = False

    def resolve_jobs(self, first_span: int) -> None:
        """Attach Spark counters to spans recorded since ``first_span``."""
        for idx in range(first_span, len(self.spans)):
            self.spans[idx].jobs = sparkstats.group_counts(self.sc, f"perfbench-span-{idx}")

    # -- derived numbers ---------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its children cover
        (spans are strictly nested: the client is one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        return [s.duration - c for s, c in zip(self.spans, child)]

    def per_op(self) -> dict[int, dict[str, dict[str, float]]]:
        """op id -> span name -> summed ``calls``, ``total_s``, ``self_s``,
        the span attributes, the Spark counters of the span's own jobs
        and, as ``jobs_incl``, the jobs of the span and all its children."""
        selfs = self.self_times()
        incl = [s.jobs.jobs for s in self.spans]
        for i in range(len(self.spans) - 1, -1, -1):
            parent = self.spans[i].parent
            if parent is not None:
                incl[parent] += incl[i]
        out: dict[int, dict[str, dict[str, float]]] = defaultdict(
            lambda: defaultdict(lambda: defaultdict(float))
        )
        for s, self_s, jobs_incl in zip(self.spans, selfs, incl):
            agg = out[s.op_id][s.name]
            agg["calls"] += 1
            agg["total_s"] += s.duration
            agg["self_s"] += self_s
            agg["jobs_incl"] += jobs_incl
            for k in COUNTERS:
                agg[k] += getattr(s.jobs, k)
            for k, v in s.attrs.items():
                agg[k] += v
        return out

    def dump(self, path) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for i, (s, self_s) in enumerate(zip(self.spans, selfs)):
                rec = {
                    "id": i, "name": s.name, "op": s.op_id, "parent": s.parent,
                    "start": s.start, "end": s.end, "self_s": self_s,
                    **{k: getattr(s.jobs, k) for k in COUNTERS}, **s.attrs,
                }
                f.write(json.dumps(rec) + "\n")
