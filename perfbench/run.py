"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload er_sparse --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It starts a local[N] Spark session
(N = the host's cores, at most 4), generates the workload's inputs from
the seed, sets up several times (the median is ``setup_s``), warms up while
running the full output checks, then runs operations closed-loop -- one
client, the next operation starts when the previous one returns -- for
``--seconds``. It prints every metric by name with its unit, writes a
result file under ``perfbench/out/results/``, and prints one JSON object
as its last line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first runs
untraced operations for half the time, then traced ones: every public
call is wrapped in a span whose result is materialized inside it, Spark
jobs are tagged with the span, and stage metrics come from the Spark
event log afterwards. It reports the per-layer metrics, writes the spans
and the per-layer table beside the result file, and prints the tracing
overhead (traced minus untraced median operation time).

Exit status 2, without a result line, when the engine package is not
importable from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from statistics import median
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

MAX_CONSECUTIVE_FAILURES = 3

# (name, unit) of every end-to-end metric.
END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("items_per_s", "items/s"),
    ("quality", "ratio"),
    ("peak_rss_mb", "MB"),
    ("ok_rate", "ratio"),
]

# Layer metrics: span names (reported as <span>_s) and counts.
SPAN_TIMES = [
    "tfidf.tokenize",
    "tfidf.idf",
    "tfidf.weights",
    "similarity.join",
    "evaluation.sweep",
    "dedup.near",
    "dedup.spans",
    "dedup.semantic",
    "pipeline.lines",
    "pipeline.merge",
    "pipeline.verdict",
    "sources.read",
    "retrieval.query",
]
COUNTS = [
    ("tfidf.tokens", "count"),
    ("tfidf.vocab", "count"),
    ("tfidf.weight_rows", "count"),
    ("similarity.postings", "count"),
    ("similarity.join_rows", "count"),
    ("similarity.candidate_pairs", "count"),
    ("similarity.blocking_ratio", "ratio"),
    ("similarity.pairs_per_join_row", "ratio"),
    ("evaluation.gold_matched", "count"),
    ("dedup.lsh_candidates", "count"),
    ("dedup.lsh_precision", "ratio"),
    ("pipeline.kept_docs", "count"),
    ("pipeline.history_rows", "count"),
    ("sources.bytes_written", "bytes"),
    ("retrieval.scored_rows", "count"),
    ("retrieval.rows_per_hit", "ratio"),
]
# Spans that also get Spark engine counters and plan-exchange counts; the
# smaller spans carry only their time.
ENGINE_SPANS = [
    "tfidf.idf",
    "tfidf.weights",
    "similarity.join",
    "evaluation.sweep",
    "dedup.near",
    "dedup.spans",
    "pipeline.verdict",
    "retrieval.query",
]


def per_layer_names() -> list[tuple[str, str]]:
    from spans import AUDIT_KEYS, ENGINE_KEYS

    units = {"executor_run_s": "s", "gc_s": "s"}
    names = [(f"{s}_s", "s") for s in SPAN_TIMES]
    names.append(("sources.write_s", "s"))
    names += COUNTS
    for s in ENGINE_SPANS:
        names += [(f"{s}.{k}", units.get(k, "bytes" if k.endswith("bytes") else "count"))
                  for k in ENGINE_KEYS]
        names += [(f"{s}.{k}", "count") for k in AUDIT_KEYS]
    names.append(("tracing.overhead_s", "s"))
    return names


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _one_op(w, clock, log: list, storage: list, tracer) -> bool:
    """Run one operation and log (seconds, items, ok, traced, counts) and
    the bytes cached after it; a traced operation's seconds exclude the
    benchmark's own counting jobs. False once the last few operations
    all failed."""
    import harness

    t = clock()
    m0 = tracer.untraced_s if tracer is not None else 0.0
    counts: dict = {}
    try:
        if tracer is not None:
            with tracer.span("op"):
                counts, ok = w.traced_op(tracer)
            items = w.items_per_op
        else:
            items, ok = w.op()
    except Exception:
        traceback.print_exc()
        items, ok = 0, False
    measuring = tracer.untraced_s - m0 if tracer is not None else 0.0
    log.append((clock() - t - measuring, items, ok, tracer is not None, counts))
    storage.append(harness.storage_used_bytes(w.spark))
    w.after_op()
    recent = log[-MAX_CONSECUTIVE_FAILURES:]
    return not (len(recent) == MAX_CONSECUTIVE_FAILURES and not any(e[2] for e in recent))


def measure(w, clock, seconds: float, log: list, storage: list, tracer=None) -> None:
    """Closed loop: run operations until ``seconds`` have passed, at least
    one. With a tracer, the first half runs untraced and the second half
    traced (at least one of each)."""
    start = clock()
    phases = [(seconds, None)] if tracer is None else [(seconds / 2, None), (seconds, tracer)]
    for until, tr in phases:
        n0 = len(log)
        while len(log) == n0 or clock() - start < until:
            if not _one_op(w, clock, log, storage, tr):
                return


def layer_metrics(tracer, log, event_log_dir: str) -> dict:
    from spans import AUDIT_KEYS, ENGINE_KEYS, engine_by_group
    traced = [e for e in log if e[3]]
    untraced = [e for e in log if not e[3]]
    n = max(1, len(traced))
    engine = engine_by_group(event_log_dir)
    by_name: dict = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        if s.name == "op":
            continue
        agg = by_name[s.name]
        agg["s"] += s.seconds
        for k, v in s.counts.items():
            agg[k] += v
        for k, v in engine.get(s.id, {}).items():
            agg[k] += v
    out: dict = {}
    for s in SPAN_TIMES:
        out[f"{s}_s"] = by_name[s]["s"] / n if s in by_name else 0.0
    out["sources.write_s"] = sum(agg["write_s"] for agg in by_name.values()) / n
    sums: dict = defaultdict(float)
    for e in traced:
        for k, v in e[4].items():
            sums[k] += v
    for k, _ in COUNTS:
        out[k] = sums[k] / n
    for s in ENGINE_SPANS:
        agg = by_name.get(s, {})
        for k in ENGINE_KEYS + AUDIT_KEYS:
            out[f"{s}.{k}"] = agg.get(k, 0) / n
    if traced and untraced:
        out["tracing.overhead_s"] = median([e[0] for e in traced]) - median(
            [e[0] for e in untraced]
        )
    else:
        out["tracing.overhead_s"] = 0.0
    return out


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import sparkbigdatatextanalysis_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    args = parse_args(argv)

    import harness
    from harness import Clock, RssSampler
    from workloads import WORKLOADS

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, "work", tag)
    results = os.path.join(OUT, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results, exist_ok=True)
    event_log_dir = os.path.join(work, "eventlog") if args.trace else None

    clock = Clock()
    env_start = harness.environment()
    log: list = []
    with RssSampler() as rss:
        spark = harness.start_spark(work, event_log_dir)
        session_s = clock()
        try:
            t = clock()
            w = WORKLOADS[args.workload](spark, args.seed, work)
            gen_s = clock() - t
            setup_times = []
            for _ in range(w.setup_reps):
                t = clock()
                w.setup()
                setup_times.append(clock() - t)
            t = clock()
            checks = w.warm_up()
            warm_s = clock() - t
            tracer = None
            if args.trace:
                from spans import Tracer

                tracer = Tracer(spark, clock)
            storage: list = []
            measure(w, clock, args.seconds, log, storage, tracer)
            end_checks, failed_ops = w.end_checks()
            checks += end_checks
            heap_mb = harness.heap_after_gc_mb(spark)
            spark.catalog.clearCache()
            env_end = harness.environment(spark)
        finally:
            harness.stop_spark(spark)

    measured = [e for e in log if not e[3]]
    op_s = [e[0] for e in measured] or [e[0] for e in log]
    attempted = len(log) + len(checks)
    failed = sum(not e[2] for e in log) + sum(not ok for _, ok in checks) + failed_ops
    tail = harness.tail(op_s)
    metrics = {
        "setup_s": median(setup_times),
        "op_p50_ms": 1000.0 * median(op_s),
        "items_per_s": sum(e[1] for e in measured) / sum(op_s) if measured else 0.0,
        "quality": w.quality(),
        "peak_rss_mb": rss.peak_mb,
        "ok_rate": 1.0 - failed / attempted,
    }
    units = dict(END_TO_END)
    out_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": {"start": env_start, "end": env_end},
        "session_start_s": session_s,
        "generate_s": gen_s,
        "setup_reps_s": setup_times,
        "warm_up_s": warm_s,
        "ops": [{"s": e[0], "items": e[1], "ok": e[2], "traced": e[3]} for e in log],
        "op_tail": {"percentile": tail[0], "ms": 1000.0 * tail[1]} if tail else None,
        "n_ops": len(op_s),
        "storage_used_bytes_after_each_op": storage,
        "heap_live_mb": heap_mb,
        "checks": dict(checks),
        "failed_ops_found_by_end_checks": failed_ops,
        "error_rate": failed / attempted,
        "summary": w.summary(),
        "end_to_end": out_metrics,
    }

    print(f"# {args.workload} seed={args.seed} trace={args.trace} cores={env_end['cores_used']} "
          f"spark={env_end['spark']} java={env_end['java']} python={env_end['python']}")
    print(f"# loadavg start={env_start['loadavg']} end={env_end['loadavg']} "
          f"foreign_jvms start={env_start['foreign_jvms']} end={env_end['foreign_jvms']}")
    print(f"# session_start_s={session_s:.3f} generate_s={gen_s:.3f} "
          f"setup_reps_s={[round(x, 3) for x in setup_times]} warm_up_s={warm_s:.3f}")
    print(f"# ops={len(op_s)} ({w.item}, {w.items_per_op} per op) "
          f"failed/attempted={failed}/{attempted} storage_used_bytes_max={max(storage)}")
    for name, ok in checks:
        print(f"# check {name}: {'ok' if ok else 'FAILED'}")
    print(f"# summary {json.dumps(w.summary(), sort_keys=True)}")
    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v:.6g} {units[k]}")
    # the same figures under this workload's own names
    for alias, k, scale, unit in w.ALIASES:
        print(f"{args.workload} {alias} = {metrics[k] * scale:.6g} {unit}")
    name, scale, unit = w.TAIL
    print(f"{args.workload} {name} = " + (
        f"{1000 * tail[1] * scale:.6g} {unit} (p{tail[0]:.1f} of {len(op_s)} samples)"
        if tail else f"n/a ({len(op_s)} samples, needs 20)"))
    print(f"{args.workload} error_rate = {failed / attempted:.6g} ratio")
    print(f"{args.workload} heap_live_mb = {heap_mb:.6g} MB")

    if args.trace:
        layer_units = dict(per_layer_names())
        layers = layer_metrics(tracer, log, event_log_dir)
        result["per_layer"] = {k: {"value": v, "unit": layer_units[k]} for k, v in layers.items()}
        with open(os.path.join(results, f"{tag}-spans.json"), "w") as f:
            json.dump([s.__dict__ for s in tracer.spans], f, indent=1)
        table = "\n".join(f"{k:45s} {v:16.6g} {layer_units[k]}" for k, v in layers.items())
        with open(os.path.join(results, f"{tag}-layers.txt"), "w") as f:
            f.write(table + "\n")
        print(table)
        print(f"{args.workload} tracing overhead = {layers['tracing.overhead_s']:.6g} s per op")
        out_metrics = result["per_layer"]
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
