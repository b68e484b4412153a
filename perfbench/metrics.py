"""Metric names, the lists the benchmark JVM is given, and the reduction of
JVM run records to the result line.

This file is the one place that lists the snapshots, stages and queries;
run.py passes them to the JVM on its command line. BENCHMARK.json lists the
same metric names; tests/test_bench.py keeps the two in step. README.md says
which end-to-end metric each layer metric should move.
"""
import math
import statistics

WORKLOADS = {
    "kg_build": {"pin_key": "kg_build/pages=200"},
    "corpus_ops": {"pin_key": "corpus_ops/sf0.1"},
}

# (name, unit, better, bound)
END_TO_END = [
    ("op_s", "s", "lower", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("live_heap_mb", "MB", "lower", 0.1),
    ("setup_s", "s", "lower", 0.25),
]

# the snapshot directories KgRunner commits, and the small metadata ones
# that are reported together as the stage `meta`
KG_SNAPSHOTS = ["triples", "mention_tokens", "links", "canon", "nodes", "edges",
                "group_triples", "model_info", "model_eval_results",
                "training_info", "ner_info", "ner_eval", "source_segment",
                "corpus_info", "source_labeled", "ner_result"]
META_SNAPSHOTS = ["group_triples", "model_info", "model_eval_results",
                  "training_info", "ner_info", "ner_eval", "source_labeled"]
KG_STAGES = [s for s in KG_SNAPSHOTS if s not in META_SNAPSHOTS] + ["meta"]
# the corpus_ops queries, and the dumps some of their oracles read via {OUT}
QUERIES = ["dedup_minhash_lsh", "dedup_cluster_pick", "dedup_embedding_cos",
           "web_host_components", "tq_fingerprint", "tok_bpe_merges"]
ORACLE_INPUTS = ["dedup_minhash_sigs"]
SENTENCE = [
    ("extract.ns_per_page", "ns", "lower"),
    ("dict.ns_per_sent", "ns", "lower"),
    ("ner.scan_ns_per_sent", "ns", "lower"),
    ("ner.predict_ns_per_sent", "ns", "lower"),
    ("ner.ensemble_ns_per_sent", "ns", "lower"),
    ("ner.confidence_ns_per_sent", "ns", "lower"),
    ("ner.boundary_ns_per_sent", "ns", "lower"),
    ("merge.ner_seg_ns_per_sent", "ns", "lower"),
    ("merge.round1_ns_per_sent", "ns", "lower"),
    ("merge.round2_ns_per_sent", "ns", "lower"),
    ("merge.rules_ns_per_sent", "ns", "lower"),
    ("pipeline.annotate_ns_per_sent", "ns", "lower"),
    ("pipeline.step_coverage", "ratio", "higher"),
    ("pipeline.alloc_bytes_per_sent", "B", "lower"),
    ("pipeline.sentences_per_page", "count", "higher"),
    ("pipeline.entities_per_sent", "count", "higher"),
]
JVM = [
    ("jvm.peak_heap_mb", "MB", "lower"),
    ("jvm.steal_frac", "ratio", "lower"),
]
SPARK = [
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_s", "s", "lower"),
    ("spark.busy_frac", "ratio", "higher"),
    ("spark.idle_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.cache_peak_mb", "MB", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("spark.out_mb", "MB", "lower"),
]


def per_layer():
    out = []
    for s in KG_STAGES:
        out += [(f"stage.{s}.wall_s", "s", "lower"), (f"stage.{s}.task_s", "s", "lower"),
                (f"stage.{s}.jobs", "count", "lower"), (f"stage.{s}.shuffle_mb", "MB", "lower")]
    out += [(f"stage.{s}.rows", "count", "higher") for s in ("triples", "links", "canon", "edges")]
    out += [("stage.other.jobs", "count", "lower"),
            ("snapshot.bytes_per_triple", "B", "lower"),
            ("pipeline.annotate_passes", "count", "lower")]
    out += SENTENCE + JVM + SPARK
    for q in QUERIES:
        out += [(f"query.{q}.s", "s", "lower"), (f"query.{q}.jobs", "count", "lower"),
                (f"query.{q}.cache_mb", "MB", "lower")]
    out.append(("trace.overhead_frac", "ratio", "lower"))
    return out


PER_LAYER = per_layer()


def _ops(records):
    return [o for r in records for o in r["ops"]]


def _completed(ops):
    """Ops that ran to the end (whatever their checks said)."""
    return [o for o in ops if not (o.get("error") or "").startswith("op threw")]


def op_s(op):
    """Wall seconds of an op without the CPU time the hypervisor stole from
    the VM meanwhile: wall × (1 − steal share of all CPU time)."""
    return op["wall_s"] * (1.0 - op.get("steal_frac", 0.0))


def result(workload, records, trace, ref_op_s):
    """The result line from the JVM records of one run. `ref_op_s` is the
    untraced op time a traced run compares its op with."""
    ops = _ops(records)
    failed = sum(1 for o in ops if o.get("problems"))
    done = _completed(ops)
    if not done:
        raise ValueError("no op completed; nothing to measure")
    if trace:
        values = layer_values(workload, records, ref_op_s)
        units = {n: u for n, u, _ in PER_LAYER}
    else:
        values = {
            "op_s": statistics.median(op_s(o) for o in done),
            "cpu_s": statistics.median(o["cpu_s"] for o in done),
            "rows_per_s": statistics.median(o.get("out_rows", 0) / op_s(o) for o in done),
            "live_heap_mb": statistics.median(o["live_heap_mb"] for o in done),
            "setup_s": statistics.median(r["setup_s"] for r in records),
        }
        units = {n: u for n, u, _, _ in END_TO_END}
    bad = [n for n in units if not math.isfinite(values[n])]
    if bad:
        raise ValueError(f"metrics that are not finite numbers: {bad}")
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units}}


def layer_values(workload, records, ref_op_s):
    """Per-layer figures of the traced op; 0 for layers the workload does
    not exercise (no KgRunner stage runs in corpus_ops, no query in
    kg_build)."""
    values = {n: 0.0 for n, _, _ in PER_LAYER}
    traced = [(r, o) for r in records for o in r["ops"] if o.get("traced")]
    rec, op = traced[0]
    reported = {**op.get("layers", {}), **rec.get("sentence", {})}
    unknown = sorted(set(reported) - set(values))
    if unknown:
        raise ValueError(f"the JVM reported metrics BENCHMARK.json does not list: {unknown}")
    values.update(reported)
    values["jvm.peak_heap_mb"] = op.get("peak_heap_mb", 0.0)
    values["jvm.steal_frac"] = op.get("steal_frac", 0.0)
    if workload == "kg_build" and op.get("out_rows"):
        values["snapshot.bytes_per_triple"] = op["out_bytes"] / op["out_rows"]
    for q, s in op.get("query_s", {}).items():
        values[f"query.{q}.s"] = s
    for q, figs in op.get("queries", {}).items():
        values[f"query.{q}.jobs"] = figs["jobs"]
        values[f"query.{q}.cache_mb"] = figs["cache_mb"]
    if ref_op_s:
        values["trace.overhead_frac"] = op_s(op) / ref_op_s - 1.0
    return values
