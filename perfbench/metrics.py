"""Metric arithmetic of the benchmark, kept free of I/O so that
`test_metrics.py` can check it without a JVM.

A run record is the JSON `perfbench.Harness` writes: timed `passes`, one
`ops` entry per timed query operation, and, for traced runs, the listener
`trace` (jobs, stages, query executions, streaming batches). All times are
epoch seconds.
"""
import math
import random
from statistics import median

EXAMPLE_ROWS = 500
MB = 1 << 20


def percentile(xs, q):
    """Nearest-rank percentile: the smallest value with at least q% of the
    samples at or below it."""
    s = sorted(xs)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def pass_orders(queries, seed, n):
    """n query orders, one per pass, fixed by the seed alone."""
    rng = random.Random(seed)
    return [rng.sample(queries, len(queries)) for _ in range(n)]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the span."""
    s, e = span
    inside = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(inside)


def tasks_per_stage(stages):
    """Mean tasks per stage attempt."""
    return sum(st["tasks"] for st in stages) / len(stages) if stages else 0.0


def op_latency(op):
    return op["end"] - op["start"]


def query_latencies(ops, bad_ops):
    """Each query's median latency over its (index, op) pairs that passed
    the check. A run has 2-8 ops per query and mode, too few for a tail
    percentile of single ops, so the percentiles are taken over these
    medians. When no op passed, over all ops, so that a failing run still
    reports its figures (and `ok_ratio` 0)."""
    def medians(pairs):
        by = {}
        for _, o in pairs:
            by.setdefault(o["query"], []).append(op_latency(o))
        return [median(v) for v in by.values()]
    return medians([(i, o) for i, o in ops if i not in bad_ops]) or medians(ops)


def end_to_end(run, setup_s, bad_ops):
    """End-to-end metrics of an untraced run. `bad_ops` holds the indexes of
    ops that threw or whose output did not match the oracle."""
    passes = [p for p in run["passes"] if not p["traced"]]
    ops = run["ops"]
    full_ops = [(i, o) for i, o in enumerate(ops) if o["mode"] == "full"]
    ex_ops = [(i, o) for i, o in enumerate(ops) if o["mode"] == "example"]
    full = query_latencies(full_ops, bad_ops)
    # an example workload times the first 500 rows; the others take the
    # full result, which is what a user waits for before seeing any row
    examples = query_latencies(ex_ops, bad_ops) if ex_ops else full
    return {
        "setup_s": setup_s,
        "pass_s": median([p["full_end"] - p["start"] for p in passes]),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": run["peak_rss_mb"],
        "ok_ratio": 1.0 - len(bad_ops) / len(ops),
        "query_p50_s": percentile(full, 50),
        "query_p90_s": percentile(full, 90),
        "example_p50_s": percentile(examples, 50),
        "example_p90_s": percentile(examples, 90),
    }


def _pass_of(tag):
    head = tag.split("/", 1)[0]
    return int(head) if head.isdigit() else None


def layer_pass(run, p):
    """Per-layer figures of one traced pass."""
    tr = run["trace"]
    s, e = p["start"], p["end"]

    def within(x):
        return s <= x["start"] < e

    jobs = [j for j in tr["jobs"] if _pass_of(j["tag"]) == p["index"] or
            (_pass_of(j["tag"]) is None and within(j))]
    stages = [st for st in tr["stages"] if _pass_of(st["tag"]) == p["index"] or
              (_pass_of(st["tag"]) is None and within(st))]
    qes = [q for q in tr["qes"] if within(q)]
    batches = [b for b in tr["batches"] if within(b)]
    ops = [o for o in run["ops"] if o["pass"] == p["index"]]

    def tot(xs, k):
        return sum(x.get(k) or 0.0 for x in xs)

    run_s, cpu_s = tot(stages, "run_s"), tot(stages, "cpu_s")
    out_rows = tot(qes, "out_rows")
    return {
        # the traced pass's wall time, full results and examples: the
        # denominator of every share of a pass in README.md
        "trace.pass_s": e - s,
        "entry.build_s": sum(o["built"] - o["start"] for o in ops if o["built"] is not None),
        "entry.build_jobs": sum(1 for j in jobs if j["tag"].endswith("/build")),
        "catalyst.analysis_s": tot(qes, "analysis_s"),
        "catalyst.optimizer_s": tot(qes, "optimization_s"),
        "catalyst.planning_s": tot(qes, "planning_s"),
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": tot(stages, "tasks"),
        "scheduler.tasks_per_stage": tasks_per_stage(stages),
        "scheduler.driver_gap_s": self_time((s, e), [(j["start"], j["end"]) for j in jobs]),
        "scheduler.task_failures": tot(stages, "failed_tasks"),
        "executor.run_s": run_s,
        "executor.cpu_s": cpu_s,
        "executor.offcpu_s": run_s - cpu_s,
        "executor.gc_s": tot(stages, "gc_s"),
        "executor.busy_ratio": run_s / (run["cpus"] * (e - s)),
        "op.wscg_s": tot(qes, "wscg_s"),
        "op.agg_s": tot(qes, "agg_s"),
        "op.sort_s": tot(qes, "sort_s"),
        "op.join_build_s": tot(qes, "join_build_s"),
        "op.scan_rows_per_output_row": tot(qes, "scan_rows") / out_rows if out_rows else 0.0,
        "shuffle.write_mb": tot(stages, "shuffle_write_b") / MB,
        "shuffle.read_mb": tot(stages, "shuffle_read_b") / MB,
        "shuffle.spill_mb": tot(stages, "spill_b") / MB,
        "streaming.batches": len(batches),
        "streaming.add_batch_s": tot(batches, "add_batch_s"),
        "streaming.planning_s": tot(batches, "planning_s"),
        "streaming.wal_commit_s": tot(batches, "wal_commit_s"),
        "sources.bytes_written_mb": tot(stages, "output_b") / MB,
    }


def per_layer(run):
    """Per-layer metrics of a traced run: the median over its traced passes,
    plus the JVM figures of every timed pass, what the set-up passes left
    in /tmp, and the tracing overhead."""
    traced = [p for p in run["passes"] if p["traced"]]
    plain = [p for p in run["passes"] if not p["traced"]]
    rows = [layer_pass(run, p) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}

    def pass_s(ps):
        return median([p["full_end"] - p["start"] for p in ps])

    out["tmp.left_mb"] = run["tmp_left_b"] / MB
    out["tmp.entries_left"] = run["tmp_entries_left"]
    out["jvm.jit_s"] = median([p["jit_s"] for p in run["passes"]])
    out["jvm.gc_s"] = median([p["gc_s"] for p in run["passes"]])
    out["trace.overhead_s"] = pass_s(traced) - pass_s(plain)
    return out
