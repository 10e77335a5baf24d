"""Metric registry of the benchmark and the statistics over op latencies.

BENCHMARK.json lists the same end-to-end and per-layer metrics; the runner
refuses to start if the two disagree. Each per-layer entry names the
end-to-end metric and workload it is expected to move (the prediction a
later change is held to); the expected bypasses follow the table.
"""
import json
import os

# graph_rounds runs here but is not in BENCHMARK.json: a benchmark pass
# makes 4 + 22 runs per listed workload in a fixed time, which fits two
# workloads that warm up long enough to be steady
WORKLOADS = ("catalog", "corpus_stream", "graph_rounds")

# name, unit, better, bound (share of the parent's median). Sets of ten
# seeded runs on a shared 4-core host spread (IQR / median) by 0.056-0.165
# (op_p50_s), 0.064-0.133 (items_per_s) and at most 0.011 (peak_heap_mb),
# and medians of two sets moved by up to 10%; the timing bounds are the
# widest allowed.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("peak_heap_mb", "MB", "lower", 0.1),
]

# items_per_s under the name and unit each workload's summary prints it with
THROUGHPUT = {
    "catalog": ("queries_per_s", "1/s"),
    "corpus_stream": ("docs_per_s", "docs/s"),
    "graph_rounds": ("edges_per_s", "edges/s"),
}

_CAT = "op_p50_s+items_per_s@catalog"
_STREAM = "op_p50_s+items_per_s@corpus_stream"
_GRAPH = "op_p50_s@graph_rounds"
_ALONE = "none: standalone span on the corpus_stream corpus"

# name, unit, better, expected to move (metric@workload; ...)
PER_LAYER = [
    ("catalyst.analysis_ms", "ms", "lower", f"{_CAT}; {_STREAM}"),
    ("catalyst.optimizer_ms", "ms", "lower", f"{_CAT}; {_STREAM}"),
    ("catalyst.planning_ms", "ms", "lower", f"{_CAT}; {_STREAM}"),
    ("catalyst.executions", "count", "lower", f"{_CAT}; {_STREAM}"),
    ("sched.jobs", "count", "lower", f"{_GRAPH}; {_CAT}"),
    ("sched.stages", "count", "lower", f"{_GRAPH}; {_CAT}"),
    ("sched.tasks", "count", "lower", f"{_GRAPH}; {_CAT}"),
    ("sched.delay_ms", "ms", "lower", f"{_GRAPH}; {_CAT}"),
    ("sched.task_busy_share", "ratio", "higher", _STREAM),
    ("exec.cpu_s", "s", "lower", f"{_STREAM}; {_GRAPH}"),
    ("exec.run_s", "s", "lower", f"{_STREAM}; {_GRAPH}"),
    ("exec.gc_s", "s", "lower", f"{_STREAM}; op_tail_s@catalog"),
    ("shuffle.write_bytes", "bytes", "lower", f"{_GRAPH}; {_STREAM}"),
    ("shuffle.read_bytes", "bytes", "lower", f"{_GRAPH}; {_STREAM}"),
    ("shuffle.fetch_wait_ms", "ms", "lower", f"{_GRAPH}; {_STREAM}"),
    ("spill.bytes", "bytes", "lower", f"{_GRAPH}; {_STREAM}"),
    ("scan.bytes", "bytes", "lower", f"{_CAT}; {_STREAM}"),
    ("scan.records", "count", "lower", f"{_CAT}; {_STREAM}"),
] + [
    (f"node.{n}_s", "s", "lower", _STREAM)
    for n in ("normalized", "scrubbed", "deduped", "scored", "kept")
] + [
    (f"trigger.{p}_ms", "ms", "lower", _STREAM)
    for p in ("addBatch", "queryPlanning", "walCommit", "latestOffset", "getBatch")
] + [
    ("trigger.rows", "count", "higher", _STREAM),
    ("write.bytes", "bytes", "lower", _STREAM),
    ("write.files", "count", "lower", _STREAM),
    ("runlog.bytes", "bytes", "lower", _STREAM),
    ("write_amp", "ratio", "lower", _STREAM),
] + [
    (f"op.{f}_s", "s", "lower", _ALONE)
    for f in ("Dedup.decontaminate", "TextAnalysis.scrubPii", "CorpusModule.dedupe",
              "Dedup.jaccardPairs", "Components.keepClusterKeepers",
              "CorpusModule.score")
] + [
    ("dedup.pairs", "count", "lower", _ALONE),
    ("dedup.kept_ratio", "ratio", "higher", _ALONE),
] + [
    (f"op.Components.{f}_{k}", u, "lower",
     f"{_GRAPH}; else a standalone span on the corpus_stream pair graph")
    for f in ("connectedComponents", "pageRank", "labelPropagation", "bfsDistances")
    for k, u in (("s", "s"), ("jobs", "count"))
] + [
    ("storage.leaked_blocks", "count", "lower", "peak_heap_mb@all; op_tail_s@catalog"),
    ("trace_overhead", "ratio", "lower", "none: traced over untraced op_p50_s"),
]

# Expected bypasses, where a change should move nothing:
#   Components or Iterate     -> catalog, corpus_stream
#   Streams or RunLog         -> catalog, graph_rounds
#   Dedup or TextAnalysis     -> catalog, graph_rounds


def check_manifest(path):
    """Fail unless BENCHMARK.json names exactly this registry's metrics."""
    with open(path) as f:
        spec = json.load(f)
    want = {
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b, _ in PER_LAYER],
    }
    listed = {w["name"] for w in spec.get("workloads", [])}
    for key, value in want.items():
        if spec.get(key) != value:
            raise SystemExit(f"perfbench: {os.path.basename(path)} '{key}' does "
                             f"not match perfbench/metrics.py")
    if not listed <= set(WORKLOADS):
        raise SystemExit(f"perfbench: unknown workloads {sorted(listed - set(WORKLOADS))}")


def tail(latencies):
    """Latency at the highest percentile with at least ten ops beyond it:
    (value, percentile, op count), or None while that is below p90."""
    n = len(latencies)
    if n < 100:
        return None
    s = sorted(latencies)
    return s[n - 11], 100.0 * (n - 10) / n, n

