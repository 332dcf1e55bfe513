"""The traced run: spans recorded from outside the program, layer cuts
that time each public function on already-materialized input, and a
reader for Spark's event log grouped by the job descriptions the spans
set."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

_NOOP = "noop"


class Tracer:
    """Spans (name, start, end, parent, workload), kept in memory. When
    enabled, each span also sets the Spark job description to its name,
    so the event log can be grouped by span."""

    def __init__(self, workload: str, enabled: bool):
        self.workload, self.enabled = workload, enabled
        self.spark = None
        self.spans: list[dict] = []
        self.path: str | None = None
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        sc.setJobDescription(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            sc.setJobDescription(parent)
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "workload": self.workload})

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        self.path = path
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _noop(df) -> None:
    df.write.format(_NOOP).mode("overwrite").save()


def _tree_size(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            files += 1
            nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


def layer_cuts(spark, tracer: Tracer, input_path: str, lex_path: str, out_dir: str) -> dict:
    """Time each public layer function on input that is already
    materialized, forcing every result through the noop sink. Caches are
    released before each cut that could otherwise be served from a
    plan-equal frame persisted by an earlier cut."""
    import shutil

    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark import cache
    from biosd_feature_annotator_spark.operators.canonicalize import canonicalize
    from biosd_feature_annotator_spark.operators.extract import extract_mentions
    from biosd_feature_annotator_spark.operators.link import (
        link_entities, structural_triples, term_triples_from_linked, value_triples)
    from biosd_feature_annotator_spark.plans.materialize import (
        diff_runs, fingerprint, materialize_graph, read_manifests, read_triples, run_annotate)
    from biosd_feature_annotator_spark.sources.lexicon import lexicon_df, load_lexicon
    from biosd_feature_annotator_spark.sources.transcripts import read_transcripts

    def release():
        cache.release_all()
        spark.catalog.clearCache()

    def cut(name: str, *frames) -> float:
        with tracer.span(name):
            for df in frames:
                _noop(df)
        return tracer.total(name)

    m = {}
    lex = load_lexicon(lex_path)
    release()

    m["sources.scan_s"] = cut("cut.sources", read_transcripts(spark, input_path))
    src = (read_transcripts(spark, input_path)
           .repartition(spark.sparkContext.defaultParallelism * 2, "conv_id").persist())
    m["sources.rows"] = src.count()

    m["extract.s"] = cut("cut.extract", extract_mentions(src, lex))
    shipped = src.where(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)).count()
    m["extract.turns_per_s"] = shipped / m["extract.s"]
    mentions = extract_mentions(src, lex).persist()
    m["extract.hit_ratio"] = mentions.select("subj").distinct().count() / max(shipped, 1)

    linked = link_entities(mentions, lexicon_df(spark, lex))
    m["link.s"] = cut("cut.link",
                      term_triples_from_linked(linked).unionByName(value_triples(mentions)))
    terms = mentions.where(F.col("kind") == "term")
    m["link.distinct_keys"] = terms.select("match_norm", "match_kind").distinct().count()
    m["link.miss_ratio"] = 1.0 - linked.count() / max(terms.count(), 1)

    m["structural.s"] = cut("cut.structural", structural_triples(src))

    nodes, edges = canonicalize(linked, fixed_rounds=1)
    m["canonicalize.s"] = cut("cut.canonicalize", nodes, edges)
    nodes, edges = nodes.persist(), edges.persist()
    m["canonicalize.nodes"], m["canonicalize.edges"] = nodes.count(), edges.count()

    shutil.rmtree(out_dir, ignore_errors=True)
    with tracer.span("cut.graph"):
        materialize_graph({"nodes": nodes, "edges": edges}, out_dir, "g")
    m["materialize.graph_s"] = tracer.total("cut.graph")
    release()
    shutil.rmtree(out_dir)

    with tracer.span("cut.run_annotate"):
        manifest = run_annotate(spark, read_transcripts(spark, input_path), lex,
                                out_dir=out_dir, run_id="t1", n_parts=16).collect()
    m["materialize.parts_reprocessed"] = len(manifest)
    _, triple_bytes = _tree_size(os.path.join(out_dir, "triples"))
    m["materialize.files"], nbytes = _tree_size(out_dir)
    m["materialize.mb_written"] = nbytes / 1e6
    m["materialize.bytes_per_triple"] = triple_bytes / max(sum(r.n_triples for r in manifest), 1)

    with tracer.span("cut.fingerprint"):
        fingerprint(read_triples(spark, out_dir, "t1"),
                    ["subj", "pred", "obj", "confidence"]).collect()
    m["materialize.fingerprint_s"] = tracer.total("cut.fingerprint")
    with tracer.span("cut.read_manifests"):
        read_manifests(spark, out_dir).collect()
    m["materialize.read_manifests_s"] = tracer.total("cut.read_manifests")
    with tracer.span("cut.diff"):
        diff_runs(spark, out_dir, "t1", "t1").count()
    m["materialize.diff_s"] = tracer.total("cut.diff")
    release()
    return m


# events the reader has no use for, skipped before JSON parsing
_SKIP = tuple('{"Event":"%s"' % e for e in (
    "SparkListenerTaskStart", "SparkListenerStageSubmitted", "SparkListenerStageCompleted",
    "SparkListenerJobEnd", "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
    "SparkListenerBlockUpdated", "SparkListenerExecutorMetricsUpdate"))


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", ()):
        yield from _plan_nodes(c)


class EventLog:
    """Per-description aggregates from one application's event log:
    jobs, task metrics, bytes sent to Python workers, and the Exchange
    nodes in the final plan of the execution that writes the triple
    sink."""

    def __init__(self, log_dir: str, app_id: str):
        files = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*")))
        files += [p for p in glob.glob(os.path.join(log_dir, f"*{app_id}*")) if os.path.isfile(p)]
        self.by_desc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self.sink_exchanges: dict[str, int] = {}
        stage_desc: dict[int, str] = {}
        sink_exec: dict[int, str] = {}
        final_plan: dict[int, dict] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    if line.startswith(_SKIP):
                        continue
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                        self.by_desc[desc]["jobs"] += 1
                        for sid in ev.get("Stage IDs", ()):
                            stage_desc[sid] = desc
                    elif kind == "SparkListenerTaskEnd":
                        self._task(ev, stage_desc.get(ev["Stage ID"], ""))
                    elif kind.endswith("SQLExecutionStart"):
                        plan = ev["sparkPlanInfo"]
                        final_plan[ev["executionId"]] = plan
                        if any(n["nodeName"] == "Execute InsertIntoHadoopFsRelationCommand"
                               and "/triples/run_id=" in n["simpleString"]
                               for n in _plan_nodes(plan)):
                            sink_exec[ev["executionId"]] = ev.get("description") or ""
                    elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                        final_plan[ev["executionId"]] = ev["sparkPlanInfo"]
        for eid, desc in sink_exec.items():
            self.sink_exchanges[desc] = sum(
                1 for n in _plan_nodes(final_plan[eid]) if n["nodeName"] == "Exchange")

    def _task(self, ev: dict, desc: str) -> None:
        tm = ev.get("Task Metrics") or {}
        d = self.by_desc[desc]
        d["tasks"] += 1
        d["executor_run_ms"] += tm.get("Executor Run Time", 0)
        d["executor_cpu_ns"] += tm.get("Executor CPU Time", 0)
        d["gc_ms"] += tm.get("JVM GC Time", 0)
        d["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        d["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
            if acc.get("Name") == "data sent to Python workers":
                d["python_bytes_sent"] += int(acc.get("Update") or 0)

    def get(self, desc: str, key: str) -> float:
        return self.by_desc.get(desc, {}).get(key, 0.0)

    def summed(self, prefix: str, key: str) -> float:
        return sum(v.get(key, 0.0) for d, v in self.by_desc.items() if d.startswith(prefix))
