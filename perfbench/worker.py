"""One benchmark run of one workload, in the process that drives Spark.

``run.py`` starts this module with the environment pinned and reads the
JSON document it writes to ``--out``: end-to-end numbers from untraced
rounds and, with ``--trace 1``, per-layer numbers from traced ones.
"""

from __future__ import annotations

import argparse
import json
import logging
import math
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from . import config as C
from .tracing import Tracer
from .workloads import WORKLOADS

def start_spark(work: Path):
    from dlt_salesforce_iceberg_rest_demo_spark.session import get_spark

    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    })


def tail_percentile(n: int) -> int:
    """The highest of p75/p90/p95/p99 with at least ten of ``n`` samples
    beyond it; p90 when there are fewer than forty samples."""
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p
    return 90


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


@dataclass
class Loop:
    """What a series of rounds produced."""

    samples: dict[bool, list[tuple[str, float, int]]] = field(
        default_factory=lambda: {False: [], True: []}
    )
    changed_traced: int = 0  # source rows changed for the traced operations
    failures: list[str] = field(default_factory=list)  # failed operations and checks
    check_s: float = 0.0  # time spent in output checks
    op_id: int = 0


def measure(w, seconds: float, min_rounds: int, tracer: Tracer, trace: bool,
            loop: Loop) -> None:
    """The closed loop: whole rounds, at least ``min_rounds``, until
    ``seconds`` have passed. With ``trace``, every other operation is
    traced, shifted by one each round, so over two rounds every kind of
    operation is traced once and untraced once."""
    deadline = time.perf_counter() + seconds
    n_round = 0
    while n_round < min_rounds or time.perf_counter() < deadline:
        for i, kind in enumerate(w.round()):
            traced = trace and (i + n_round) % 2 == 1
            tracer.op_id = loop.op_id
            if traced:
                tracer.start()
                loop.changed_traced += w.rows_changed(kind)
            first_span = len(tracer.spans)
            root = tracer.open(f"op.{kind}")
            t0 = time.perf_counter()
            try:
                rows = w.run(kind)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
                logging.exception("operation %s failed", kind)
                loop.failures.append(f"{kind}: {type(e).__name__}: {e}")
                rows = 0
            dt = time.perf_counter() - t0
            tracer.close(root)
            if traced:
                tracer.stop()
                tracer.resolve_jobs(first_span)
            loop.samples[traced].append((kind, dt, rows))
            t0 = time.perf_counter()
            loop.failures += [f"{kind}: {m}" for m in w.check_op(kind)]
            loop.check_s += time.perf_counter() - t0
            loop.op_id += 1
        n_round += 1


def tracing_overhead(loop: Loop) -> float:
    """Median over operation kinds of traced over untraced latency, less 1."""
    plain = defaultdict(list)
    for kind, dt, _ in loop.samples[False]:
        plain[kind].append(dt)
    ratios = [dt / statistics.median(plain[kind])
              for kind, dt, _ in loop.samples[True] if plain[kind]]
    return statistics.median(ratios) - 1 if ratios else 0.0


def end_to_end(samples: list[tuple[str, float, int]]) -> dict:
    lat = [dt for _, dt, _ in samples]
    p_tail = tail_percentile(len(lat))
    return {
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": percentile(lat, p_tail),
        "tail_percentile": p_tail,
        "throughput_rows_per_s": sum(r for _, _, r in samples) / sum(lat),
        "ops": len(lat),
    }


def per_layer(w, tracer: Tracer, get_spark_s: float, traced_ops: int, changed: int,
              rows: int) -> dict[str, float]:
    """Per-layer numbers from the traced rounds of workload ``w``, which
    changed ``changed`` source rows and completed ``rows`` input rows
    in ``traced_ops`` operations. Times are medians, over
    the traced operations that call the layer, of the per-operation sum;
    counts are means per traced operation; ratios are over all traced
    operations."""
    ops = list(tracer.per_op().values())

    def named(name: str, prefixes) -> bool:
        return prefixes is None or any(name == p or name.startswith(p + ".") for p in prefixes)

    def calls(prefix: str):
        return lambda spans: any(named(n, [prefix]) for n in spans)

    def per_op(prefixes, key, where=None) -> list[float]:
        return [sum(v[key] for n, v in spans.items() if named(n, prefixes))
                for spans in ops if where is None or where(spans)]

    def med(prefixes, key="total_s", where=None) -> float:
        vals = [v for v in per_op(prefixes, key, where) if v]
        return statistics.median(vals) if vals else 0.0

    def total(prefixes, key) -> float:
        return sum(per_op(prefixes, key))

    def mean(prefixes, key) -> float:
        return total(prefixes, key) / max(1, traced_ops)

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    def lake_read(spans) -> bool:
        return calls("sinks.dispositions")(spans) and not calls("pipeline")(spans)

    transport, write = ["sources.salesforce.transport"], ["sinks.dispositions.write"]
    new_dir = ["sinks.dispositions.new_data_dir"]
    return {
        "session.get_spark_s": get_spark_s,
        "sources.salesforce.read_object_self_s": med(["sources.salesforce.read_object"], "self_s"),
        "sources.salesforce.transport_s": med(transport),
        "sources.salesforce.rows_fetched_per_row_changed":
            ratio(total(transport, "rows_fetched"), changed),
        "normalize.call_s": med(["normalize"]),
        "sinks.dispositions.merge_s": med(["sinks.dispositions.write.merge"]),
        "sinks.dispositions.replace_s": med(["sinks.dispositions.write.replace"]),
        "sinks.dispositions.append_s": med(["sinks.dispositions.write.append"]),
        "sinks.dispositions.spark_jobs_per_write":
            ratio(total(write, "jobs_incl"), total(write, "calls")),
        "sinks.dispositions.rows_rewritten_per_row_loaded":
            ratio(total(new_dir, "rows_rewritten"), total(write, "rows_loaded")),
        "sinks.dispositions.bytes_written_per_user_byte":
            ratio(total(new_dir, "bytes_written"), total(transport, "bytes_fetched")),
        # lake reads: the lake's scan planning plus the scans the reading
        # operation ran, by self time so nested spans count once
        "sinks.dispositions.read_s": med(
            ["sinks.dispositions.read", "sinks.dispositions.count", "sinks.dispositions.diff",
             "sinks.dispositions.version_as_of", "spark.execute"], "self_s", lake_read),
        "sinks.dispositions.live_files": w.layer.get("sinks.dispositions.live_files", 0),
        "check_tables.check_tables_s": med(["check_tables"]),
        "orchestration.verify_data_load_s": med(["orchestration"]),
        "state.ops": mean(["state"], "calls"),
        "state.advance_s": med(["state.advance"]),
        "pipeline.run_self_s": med(["pipeline.run"], "self_s"),
        "operators.dedup.exec_s": med(["op"], where=calls("operators.dedup")),
        "operators.similarity.exec_s": med(["op"], where=calls("operators.similarity")),
        "operators.text.exec_s": med(["op"], where=calls("operators.text")),
        "operators.dedup.planted_pair_recall": w.layer.get("operators.dedup.planted_pair_recall", 0.0),
        "operators.similarity.ann_recall": w.layer.get("operators.similarity.ann_recall", 0.0),
        "functions.python_rows_per_input_row": ratio(total(["spark.execute"], "python_rows"), rows),
        "spark.jobs": mean(None, "jobs"),
        "spark.tasks": mean(None, "tasks"),
        "spark.shuffle_bytes_written": mean(None, "shuffle_bytes_written"),
        "spark.failed_tasks": mean(None, "failed_tasks"),
        "spark.exchanges": mean(["spark.execute"], "exchanges"),
        "trace.sources_calls": mean(["sources"], "calls"),
        "trace.sinks_calls": mean(["sinks"], "calls"),
        "trace.operators_calls": mean(["operators"], "calls"),
        "trace.spans_per_op": mean(None, "calls"),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--out", type=Path, required=True)
    args = ap.parse_args()
    logging.basicConfig(level=logging.WARNING)
    logging.getLogger("dlt_salesforce_iceberg_rest_demo_spark").setLevel(logging.ERROR)

    # setup_s: one setup in a cold JVM, from the session start through
    # input generation, the initial load and the warm-up rounds that
    # compile code before the timed rounds (less their output checks).
    # Output checks run on every round, warm-up included.
    loop, warm = Loop(), Loop()
    phases: dict[str, float] = {}
    tracer = Tracer(None)
    t0 = time.perf_counter()
    spark = start_spark(args.work)
    tracer.sc = spark.sparkContext
    phases["get_spark_s"] = time.perf_counter() - t0
    w = WORKLOADS[args.workload](args.seed, args.work / "setup", spark, tracer)
    w.setup()
    phases["load_s"] = time.perf_counter() - t0 - phases["get_spark_s"]
    t1 = time.perf_counter()
    measure(w, 0, C.WARM_UP_ROUNDS, tracer, False, warm)
    phases["warm_up_s"] = time.perf_counter() - t1 - warm.check_s
    setup_s = time.perf_counter() - t0 - warm.check_s
    t0 = time.perf_counter()
    measure(w, args.seconds, C.TIMED_ROUNDS_MIN, tracer, bool(args.trace), loop)
    phases["loop_s"] = time.perf_counter() - t0
    loop.failures += [f"warm-up {f}" for f in warm.failures]
    t0 = time.perf_counter()
    loop.failures += w.check_end()
    phases["check_end_s"] = time.perf_counter() - t0

    untraced, traced = loop.samples[False], loop.samples[True]
    e2e = end_to_end(untraced)
    op_latency: dict[str, list[float]] = defaultdict(list)
    for kind, dt, _ in untraced:
        op_latency[kind].append(round(dt, 4))
    doc = {
        "setup_s": setup_s,
        "storage_bytes_per_user_byte": w.storage_ratio(),
        "attempted": len(untraced) + len(traced),
        "failures": loop.failures[:20],
        "n_failures": len(loop.failures),
        "phases": phases,
        "op_latency_s": op_latency,
        **e2e,
    }
    if args.trace:
        layer = per_layer(w, tracer, phases["get_spark_s"], len(traced),
                          loop.changed_traced, sum(r for _, _, r in traced))
        layer["trace.overhead_ratio"] = tracing_overhead(loop)
        doc["per_layer"] = layer
        tracer.dump(args.work.parent / f"trace-{args.workload}-{args.seed}.jsonl")
    spark.stop()
    args.out.write_text(json.dumps(doc))


if __name__ == "__main__":
    main()
