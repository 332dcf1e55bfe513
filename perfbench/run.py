"""Benchmark of the KG-construction engine.

    python3 perfbench/run.py --workload {campaign,maintain,queries} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process drives the package as one
closed-loop client on local[nproc]: each operation starts only after the
previous one completed. A run:

1. starts the session, then generates the seeded inputs and warms up
   SETUP_REPS times; ``setup_s`` is the session start plus the median
   round (the traced run does one round);
2. runs the workload's operation in a closed loop for ``--seconds``
   (whole passes of the query mix for ``queries``), checking every
   output.

The warm-up of the transcript workloads is the golden P/R check, so it
runs once per set-up round.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a separate
traced run with Spark's event log on: it runs half the loop plainly and
half inside spans (their ratio is ``trace.overhead_ratio``), times each
public layer function on materialized input, times the registered
queries over the committed transcript corpus, and prints the per-layer
metrics.

Human-readable lines and one JSON report line come first; the last line
of stdout is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = (
    "biosd_feature_annotator_spark/session.py", "__spark_entry__.py",
    "tools/oracle_check.py", "tests/golden/lexicon.json",
    "tests/golden/golden_triples.json", "tests/golden/synth_corpus.parquet",
)
SETUP_REPS = 3

# Registered queries over the committed transcript corpus: the batch and
# streaming pipelines and the graph operators on their output. Every
# traced run times these; the queries workload times the whole mix.
KG_QUERIES = ("transcripts_kg", "transcripts_kg_stream", "entity_stats_kg",
              "kg_pagerank", "kg_khop")


PER_LAYER = {
    "sources.scan_s": "s", "sources.rows": "rows",
    "pipeline.exchanges": "count", "pipeline.shuffle_write_mb": "MB",
    "extract.s": "s", "extract.turns_per_s": "turns/s", "extract.hit_ratio": "ratio",
    "extract.python_mb_sent": "MB",
    "link.s": "s", "link.distinct_keys": "count", "link.miss_ratio": "ratio",
    "structural.s": "s",
    "canonicalize.s": "s", "canonicalize.nodes": "count", "canonicalize.edges": "count",
    "materialize.files": "count", "materialize.mb_written": "MB",
    "materialize.bytes_per_triple": "B", "materialize.graph_s": "s",
    "materialize.fingerprint_s": "s", "materialize.read_manifests_s": "s",
    "materialize.diff_s": "s", "materialize.parts_reprocessed": "count",
    **{f"query.{q}_s": "s" for q in KG_QUERIES},
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.spill_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "session.get_spark_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def closed_loop(w, spark, span, seconds: float, ops_per_round: int):
    """Run w.op back to back until `seconds` have passed, in whole rounds.
    Returns (results, failures, attempted)."""
    from workloads import CheckFailed

    results, failures, i = [], [], 0
    t_start = time.perf_counter()
    while True:
        for _ in range(ops_per_round):
            try:
                results.append(w.op(spark, i, span))
            except CheckFailed as e:
                failures.append(str(e))
            except Exception:  # an op that errors is counted, not fatal
                failures.append(traceback.format_exc(limit=3))
            i += 1
        if time.perf_counter() - t_start >= seconds:
            return results, failures, i


def pass_times(results: list[dict], per_pass: int) -> list[float]:
    """Wall of each complete pass of the query mix (query time only)."""
    return [sum(r["query_s"] for r in results[k:k + per_pass])
            for k in range(0, len(results) - per_pass + 1, per_pass)]


def op_times(w, results: list[dict], per_round: int) -> list[float]:
    if w.name == "queries":
        return pass_times(results, per_round)
    return [r["op_s"] for r in results]


def summarize(w, results: list[dict], per_round: int) -> dict:
    """The workload's own end-to-end figures: (median, unit, samples)."""
    out = {}
    if w.name == "campaign":
        for k, unit in (("campaign_s", "s"), ("turns_per_s", "turns/s")):
            xs = [r[k] for r in results]
            out[k] = (_median(xs), unit, len(xs))
    elif w.name == "maintain":
        for k in ("resume_s", "diff_s"):
            xs = [r[k] for r in results]
            out[k] = (_median(xs), "s", len(xs))
    else:
        passes = pass_times(results, per_round)
        out["pass_s"] = (_median(passes), "s", len(passes))
        qs = sorted(r["query_s"] for r in results)
        out["query_p50_s"] = (_median(qs), "s", len(qs))
        if len(qs) >= 100:  # at least ten samples beyond the 90th percentile
            out["query_p90_s"] = (statistics.quantiles(qs, n=10)[-1], "s", len(qs))
    return out


def run(args, work: str, session, sampler, facts: dict, env: dict) -> dict:
    from tracing import Tracer
    from workloads import QUERY_MIX, WORKLOADS

    import pyarrow
    import pyspark

    w = WORKLOADS[args.workload](work, args.seed)
    per_round = len(QUERY_MIX) if w.name == "queries" else 1
    tracer = Tracer(w.name, enabled=False)
    event_dir = os.path.join(work, "eventlog")

    # set-up: one session start (it launches the JVM), then SETUP_REPS
    # rounds of input generation and warm-up on that session; the first
    # round also pays the cold start of the Python workers and codegen
    start_s = session.start(event_log=event_dir if args.trace else None)
    setup_times, warm_failures = [], []
    for _ in range(1 if args.trace else SETUP_REPS):
        t0 = time.perf_counter()
        w.generate()
        warm_failures += w.warm(session.spark)
        setup_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    w.prepare(session.spark)
    prepare_s = time.perf_counter() - t0

    seconds = args.seconds / 2 if args.trace else args.seconds
    t0 = time.perf_counter()
    results, failures, attempted = closed_loop(w, session.spark, tracer.span, seconds, per_round)
    loop_s = time.perf_counter() - t0
    failures += warm_failures
    attempted += len(setup_times)
    report = {"workload": w.name, "seed": args.seed, "trace": args.trace, "inputs": w.props,
              "host": {**facts, **env, "spark": pyspark.__version__,
                       "pyarrow": pyarrow.__version__, "conf": session.effective_conf()},
              "session_start_s": start_s, "setup_reps_s": setup_times,
              "prepare_s": prepare_s, "loop_s": loop_s}

    if args.trace:
        metrics, t_failures, t_attempted = traced(args, w, session, tracer, results,
                                                  per_round, seconds, start_s, work, event_dir)
        failures += t_failures
        attempted += t_attempted
        report["spans"] = os.path.relpath(tracer.path, ROOT)
    else:
        ops = op_times(w, results, per_round)
        report["workload_metrics"] = {k: {"value": v, "unit": u, "n": n}
                                      for k, (v, u, n) in summarize(w, results, per_round).items()}
        report["op_samples_s"] = ops
        metrics = {
            "setup_s": {"value": start_s + _median(setup_times), "unit": "s"},
            "op_s": {"value": _median(ops), "unit": "s"},
            "peak_rss_mb": {"value": sampler.peak / 1e6, "unit": "MB"},
        }
        report["samples"] = {"setup_s": len(setup_times), "op_s": len(ops), "peak_rss_mb": 1}
        report["peak_rss_jvm_mb"] = sampler.peak_largest / 1e6
    report["failures"] = failures
    return {"metrics": metrics, "attempted": attempted, "failed": len(failures), "report": report}


def traced(args, w, session, tracer, plain_results, per_round, seconds, start_s,
           work, event_dir):
    """The second half of a traced run: the loop again inside spans, the
    layer cuts, the corpus queries, then the event log. Returns
    (metrics, failures, attempted)."""
    from tracing import EventLog, layer_cuts
    from workloads import QUERY_MIX, QueryRunner

    # the first half ran without spans; the event log is on for both
    plain_op = _median(op_times(w, plain_results, per_round))
    tracer.spark, tracer.enabled = session.spark, True
    results, failures, attempted = closed_loop(w, session.spark, tracer.span, seconds, per_round)
    layer = {"trace.overhead_ratio": _median(op_times(w, results, per_round)) / plain_op,
             "session.get_spark_s": start_s}
    layer.update(layer_cuts(session.spark, tracer, w.cut_input, w.lex_path,
                            os.path.join(work, "cut_out")))
    if w.name == "queries":
        for q in QUERY_MIX:
            layer[f"query.{q}_s"] = _median([r["query_s"] for r in results if r["query"] == q])
    else:
        layer["materialize.parts_reprocessed"] = _median([r["parts"] for r in results])
        runner = QueryRunner(None)
        for q in KG_QUERIES:
            attempted += 1
            try:
                layer[f"query.{q}_s"] = runner.run(session.spark, q, tracer.span)
            except Exception:  # counted as a failed operation
                failures.append(traceback.format_exc(limit=3))
        runner.close()

    app_id = session.spark.sparkContext.applicationId
    session.stop()  # flushes the event log
    ev = EventLog(event_dir, app_id)
    layer["pipeline.exchanges"] = ev.sink_exchanges.get("cut.run_annotate", 0)
    layer["pipeline.shuffle_write_mb"] = ev.get("cut.run_annotate", "shuffle_write_bytes") / 1e6
    layer["extract.python_mb_sent"] = ev.get("cut.extract", "python_bytes_sent") / 1e6
    # engine totals per operation of the traced loop
    op_prefix = "query." if w.name == "queries" else "op."
    n_ops = max(len(results), 1)
    for name, key, scale in (
        ("spark.jobs", "jobs", 1), ("spark.tasks", "tasks", 1),
        ("spark.executor_run_s", "executor_run_ms", 1e-3),
        ("spark.executor_cpu_s", "executor_cpu_ns", 1e-9),
        ("spark.gc_s", "gc_ms", 1e-3), ("spark.spill_mb", "spill_bytes", 1e-6),
        ("spark.shuffle_write_mb", "shuffle_write_bytes", 1e-6),
    ):
        layer[name] = ev.summed(op_prefix, key) * scale / n_ops

    tracer.write(os.path.join(HERE, ".out", f"spans-{w.name}-seed{args.seed}.jsonl"))
    units = {**PER_LAYER, **{k: "s" for k in layer if k.startswith("query.")}}
    return {k: {"value": layer[k], "unit": u} for k, u in units.items()}, failures, attempted


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("campaign", "maintain", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the package; missing {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import host

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    facts = host.host_facts()
    env = host.configure_env(work, facts)
    sampler = host.RssSampler()
    sampler.start()
    session = host.Session(work, facts["nproc"], env["driver_mem"])
    try:
        out = run(args, work, session, sampler, facts, env)
    finally:
        session.shutdown_jvm()
        sampler.stop()
        killed = host.reap_children()
        _remove_stream_dirs()
        shutil.rmtree(work, ignore_errors=True)
    report = out["report"]
    report["killed_children"] = killed
    samples = report.get("samples", {})
    for name, m in out["metrics"].items():
        n = f"  (median of {samples[name]})" if name in samples else ""
        print(f"{name:34s} {m['value']:.6g} {m['unit']}{n}")
    for name, m in report.get("workload_metrics", {}).items():
        print(f"{name:34s} {m['value']:.6g} {m['unit']}  (median of {m['n']})")
    attempted, failed = out["attempted"], out["failed"]
    print(f"{'failed_ratio':34s} {failed}/{attempted} = {failed / attempted:.4f} failed/attempted")
    for f in report["failures"]:
        print("FAILED:", f.strip().splitlines()[-1])
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out["metrics"]}))
    return 0


def _remove_stream_dirs() -> None:
    """Drop the scratch dirs the registered stream queries made for this
    process (they live under the checkout's .tmp/)."""
    entry = sys.modules.get("__spark_entry__")
    token = getattr(entry, "_RUN_TOKEN", None)
    if token and os.path.isdir(os.path.join(ROOT, ".tmp")):
        for d in os.listdir(os.path.join(ROOT, ".tmp")):
            shutil.rmtree(os.path.join(ROOT, ".tmp", d, token), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
