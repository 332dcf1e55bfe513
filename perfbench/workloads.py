"""The three benchmark workloads.

Each workload has the same shape:

- ``generate()`` writes the seeded inputs (run in every set-up rep);
- ``warm(spark)`` runs one small operation through the measured path, so
  Python workers are up and the plan shapes are compiled (every rep); it
  returns the failures of the output check it makes;
- ``prepare(spark)`` does untimed one-off preparation after set-up;
- ``op(spark, i, span)`` is one closed-loop operation; it returns its
  phase timings and raises ``CheckFailed`` when its output is wrong;

Why these three: ``campaign`` is the CLI's production path, where Python
extraction dominates and the sink does all of its writing; ``maintain``
uses the same sink and manifests the other way round (reads, anti-joins,
fingerprints; extraction covers 2 of 16 parts); ``queries`` runs the
registered queries, where the operators and the planner do the work and
Python extraction is close to zero. BENCHMARK.json lists campaign and
maintain only: one pass of the query mix takes 30-60 s on a 4-core host,
too long to repeat in every benchmark run, so queries is run by hand.
"""

from __future__ import annotations

import os
import shutil
import time

import gen

ROOT = gen.ROOT
N_PARTS = 16


class CheckFailed(Exception):
    """An operation finished but its output is wrong."""


def _manifest_check(manifest_rows, n_turns: int, n_parts: int) -> None:
    parts = {r.part_id for r in manifest_rows}
    rows = sum(r.n_rows for r in manifest_rows)
    if len(parts) != n_parts or rows != n_turns:
        raise CheckFailed(f"manifest has {len(parts)} parts / {rows} rows, "
                          f"want {n_parts} / {n_turns}")


def _campaign(spark, input_path: str, lex_path: str, out_dir: str, run_id: str, **kw):
    """One annotation campaign the way jobs/annotate.py runs it: load the
    lexicon, read the transcripts, run_annotate into the partitioned sink,
    then collect the manifest rows of this run."""
    from biosd_feature_annotator_spark.plans.materialize import run_annotate
    from biosd_feature_annotator_spark.sources.lexicon import load_lexicon
    from biosd_feature_annotator_spark.sources.transcripts import read_transcripts

    lex = load_lexicon(lex_path)
    transcripts = read_transcripts(spark, input_path)
    return run_annotate(spark, transcripts, lex, out_dir=out_dir, run_id=run_id,
                        n_parts=N_PARTS, **kw).collect()


class _TranscriptWorkload:
    """Shared plumbing: a seeded corpus, its lexicon and a warm-up slice."""

    spec: gen.CorpusSpec
    tag: str

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.lex_path = os.path.join(work, "lexicon.json")
        self.input = os.path.join(work, "transcripts")
        self.cut_input = os.path.join(work, "cut_transcripts")
        self.props: dict = {}

    def generate(self) -> None:
        terms = gen.make_lexicon(self.seed)
        gen.write_lexicon(self.lex_path, terms)
        cols, mentioned = gen.make_transcripts(self.seed, self.spec, terms, self.tag)
        shutil.rmtree(self.input, ignore_errors=True)
        nbytes = gen.write_transcripts(self.input, cols)
        self.props = gen.corpus_props(cols, mentioned, len(terms), nbytes)
        self.n_turns = self.props["turns"]
        shutil.rmtree(self.cut_input, ignore_errors=True)
        gen.write_transcripts(self.cut_input, {k: v[:8000] for k, v in cols.items()}, n_files=1)

    def warm(self, spark) -> list[str]:
        """The golden P/R check doubles as the warm-up: it runs the whole
        annotate pipeline on the golden corpus."""
        return golden_check(spark)


class Campaign(_TranscriptWorkload):
    name, tag = "campaign", "a"
    spec = gen.CorpusSpec(n_turns=24_000, words_lo=20, words_hi=60, value_rate=0.3, term_rate=0.4)

    def prepare(self, spark) -> None:
        """One untimed campaign: it loads the workload's lexicon into the
        Python workers and compiles the sink and graph paths, which the
        golden warm-up does not reach (maintain's full run does the same
        for it)."""
        out = os.path.join(self.work, "prepare_out")
        _campaign(spark, self.input, self.lex_path, out, "prepare", build_graph=True)
        shutil.rmtree(out)

    def op(self, spark, i: int, span) -> dict:
        out = os.path.join(self.work, "campaign_out")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        with span("op.campaign"):
            manifest = _campaign(spark, self.input, self.lex_path, out, f"c{i}", build_graph=True)
        dt = time.perf_counter() - t0
        _manifest_check(manifest, self.n_turns, N_PARTS)
        for table in ("nodes", "edges"):
            if not os.path.isdir(os.path.join(out, table, f"run_id=c{i}")):
                raise CheckFailed(f"campaign wrote no {table}")
        return {"campaign_s": dt, "turns_per_s": self.n_turns / dt, "op_s": dt,
                "parts": len(manifest)}


class Maintain(_TranscriptWorkload):
    name, tag = "maintain", "m"
    spec = gen.CorpusSpec(n_turns=30_000, words_lo=4, words_hi=10, value_rate=0.3, term_rate=0.4)
    n_added, n_removed = 300, 200
    done_parts = list(range(14))

    def prepare(self, spark) -> None:
        """Build the graph being maintained from one full run of the
        corpus: the run itself; a crashed run that committed 14 of its 16
        parts (the full run's part directories and manifest rows); and a
        changed run, the full run with planted triples added and removed."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from biosd_feature_annotator_spark.plans.materialize import manifest_path

        self.template = t = os.path.join(self.work, "maintain_template")
        shutil.rmtree(t, ignore_errors=True)
        t0 = time.perf_counter()
        _campaign(spark, self.input, self.lex_path, t, "full")
        for p in self.done_parts:
            shutil.copytree(os.path.join(t, "triples", "run_id=full", f"part_id={p}"),
                            os.path.join(t, "triples", "run_id=crash", f"part_id={p}"))
        rows = pq.read_table(manifest_path(t))
        rows = rows.filter(pc.is_in(rows["part_id"], value_set=pa.array(self.done_parts, pa.int32())))
        rows = rows.set_column(0, rows.schema.field(0), pa.array(["crash"] * rows.num_rows))
        # the same physical types Spark wrote, INT96 timestamps included
        pq.write_table(rows, os.path.join(manifest_path(t), "part-crash.parquet"),
                       use_deprecated_int96_timestamps=True)
        self.expected = plant_changed_run(os.path.join(t, "triples"), self.seed,
                                          self.n_added, self.n_removed)
        self.props["planted_diff_rows"] = len(self.expected)
        self.props["prepare_s"] = round(time.perf_counter() - t0, 3)

    def op(self, spark, i: int, span) -> dict:
        from biosd_feature_annotator_spark.plans.materialize import diff_runs

        out = os.path.join(self.work, "maintain_out")
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.template, out)
        t0 = time.perf_counter()
        with span("op.resume"):
            manifest = _campaign(spark, self.input, self.lex_path, out, "crash", resume=True)
        t1 = time.perf_counter()
        with span("op.diff"):
            diff = diff_runs(spark, out, "full", "changed").collect()
        t2 = time.perf_counter()
        _manifest_check(manifest, self.n_turns, N_PARTS)
        got = {(r.change, r.subj, r.pred, r.obj) for r in diff}
        if got != self.expected:
            raise CheckFailed(f"diff has {len(got)} rows, {len(got ^ self.expected)} "
                              f"differ from the {len(self.expected)} planted")
        resumed_vs_full = diff_runs(spark, out, "full", "crash").count()
        if resumed_vs_full:
            raise CheckFailed(f"resumed run differs from the uninterrupted one in {resumed_vs_full} triples")
        return {"resume_s": t1 - t0, "diff_s": t2 - t1, "op_s": t2 - t0,
                "parts": len(manifest) - len(self.done_parts)}


# Planted values lie far above any generated number, so each added triple
# is new to its turn.
PLANT_BASE = 7_000_000


def plant_changed_run(triples_dir: str, seed: int, n_added: int, n_removed: int) -> set:
    """Write run `changed`: run `full` minus n_removed of its triple keys
    plus n_added new hasNumber triples on existing turns. Returns the exact
    diff_runs("full", "changed") result as {(change, subj, pred, obj)}."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    full = pq.read_table(os.path.join(triples_dir, "run_id=full"))
    full = full.cast(full.schema.set(full.schema.get_field_index("part_id"),
                                     pa.field("part_id", pa.int32())))
    rng = np.random.default_rng([seed, 7])
    keys = sorted(set(zip(*(full.column(c).to_pylist() for c in ("subj", "pred", "obj")))))
    removed = [keys[k] for k in rng.choice(len(keys), n_removed, replace=False)]
    key_col = pc.binary_join_element_wise(full["subj"], full["pred"], full["obj"], "\x00")
    drop = pa.array(["\x00".join(k) for k in removed])
    kept = full.filter(pc.invert(pc.is_in(key_col, value_set=drop)))

    rows = full.take(pa.array(rng.choice(full.num_rows, n_added, replace=False)))
    added = {
        "subj": rows["subj"], "pred": pa.array(["hasNumber"] * n_added),
        "obj": pa.array([f"num:{PLANT_BASE + k}" for k in range(n_added)]),
        "obj_kind": pa.array(["number"] * n_added), "conf": pa.array([1.0] * n_added),
        "confidence": pa.array(["HIGH"] * n_added),
        "unit": pa.array([None] * n_added, pa.string()),
        "provenance": pa.array(["extract"] * n_added),
        "conv_id": rows["conv_id"], "turn_idx": rows["turn_idx"], "part_id": rows["part_id"],
    }
    changed = pa.concat_tables([kept, pa.table(added).cast(kept.schema)])
    pq.write_to_dataset(changed, os.path.join(triples_dir, "run_id=changed"),
                        partition_cols=["part_id"])
    return ({("added", s, "hasNumber", f"num:{PLANT_BASE + k}")
             for k, s in enumerate(rows["subj"].to_pylist())}
            | {("removed", *k) for k in removed})


# The query mix: five of these run on the committed transcript corpus (the
# batch and the streaming pipeline, and graph operators on their output),
# nine on the generated tables.
QUERY_MIX = (
    "transcripts_kg", "transcripts_kg_stream", "entity_stats_kg", "kg_pagerank",
    "kg_triangles", "kg_khop", "kg_run_diff", "docs_dedup_clusters",
    "docs_minhash_pairs", "emb_ann_topk", "star_join_revenue", "dedup_exact_docs",
    "tfidf_top_terms", "pricing_summary",
)


class QueryRunner:
    """Runs registered queries and compares each result with its DuckDB
    oracle (tools/oracle_check's multiset check). tables_dir holds the
    generated tables; None serves only the queries over the committed
    transcript corpus."""

    def __init__(self, tables_dir: str | None):
        import duckdb

        import __spark_entry__ as entry

        self.tables_dir = tables_dir
        self.queries, self.oracles = entry.queries(), entry.oracle_sql()
        self.con = duckdb.connect()
        for t in gen.TABLES if tables_dir else ():
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"parquet_scan('{os.path.join(tables_dir, t)}.parquet')")

    def run(self, spark, name: str, span) -> float:
        t0 = time.perf_counter()
        with span(f"query.{name}"):
            result = self.queries[name](spark, self.tables_dir).toPandas()
        dt = time.perf_counter() - t0
        self.check(name, result)
        return dt

    def check(self, name: str, result) -> None:
        from tools.oracle_check import frame_multiset

        want = self.con.sql(self.oracles[name]).df()
        if len(result) != len(want):
            raise CheckFailed(f"{name}: {len(result)} rows, oracle {len(want)}")
        if sorted(map(str.lower, result.columns)) != sorted(map(str.lower, want.columns)):
            raise CheckFailed(f"{name}: columns {sorted(result.columns)} != {sorted(want.columns)}")
        if frame_multiset(result) != frame_multiset(want):
            raise CheckFailed(f"{name}: values differ from the oracle")

    def close(self) -> None:
        self.con.close()


class Queries:
    name = "queries"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.tables = os.path.join(work, "tables")
        self.lex_path = os.path.join(work, "lexicon.json")
        self.cut_input = os.path.join(work, "cut_transcripts")
        self.props: dict = {}
        self.runner: QueryRunner | None = None

    def generate(self) -> None:
        shutil.rmtree(self.tables, ignore_errors=True)
        self.props = gen.write_tables(self.seed, self.tables)
        # a small corpus for the traced run's layer cuts
        terms = gen.make_lexicon(self.seed)
        gen.write_lexicon(self.lex_path, terms)
        cols, _ = gen.make_transcripts(self.seed, gen.CorpusSpec(8000, 4, 10, 0.3, 0.4), terms, "q")
        shutil.rmtree(self.cut_input, ignore_errors=True)
        gen.write_transcripts(self.cut_input, cols, n_files=1)

    def warm(self, spark) -> list[str]:
        import __spark_entry__ as entry

        entry.queries()["pricing_summary"](spark, self.tables).toPandas()
        return []

    def prepare(self, spark) -> None:
        self.runner = QueryRunner(self.tables)

    def op(self, spark, i: int, span) -> dict:
        name = QUERY_MIX[i % len(QUERY_MIX)]
        dt = self.runner.run(spark, name, span)
        return {"query": name, "query_s": dt, "op_s": dt}


def golden_check(spark) -> list[str]:
    """Golden precision/recall >= 0.95 on synth.golden_transcripts against
    tests/golden/golden_triples.json, with the frozen golden lexicon."""
    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark.plans.pipeline import annotate
    from biosd_feature_annotator_spark.sources.lexicon import load_lexicon
    from biosd_feature_annotator_spark.synth import golden_cases, golden_transcripts

    value_preds = ["hasAge", "hasAgeRange", "hasDate", "hasNumber", "hasOrganism",
                   "hasRange", "hasSex"]
    cases = golden_cases()
    expected = {(f"{c['id']}:1", e["pred"], e["obj"]) for c in cases for e in c["expected"]}
    lex = load_lexicon(os.path.join(ROOT, "tests", "golden", "lexicon.json"))
    triples = annotate(spark, golden_transcripts(spark), lex, build_graph=False)["triples"]
    rows = (triples.where(F.col("pred").isin(value_preds))
            .where(F.col("conv_id").isin(sorted(c["id"] for c in cases)))
            .select("subj", "pred", "obj").collect())
    got = {(r.subj, r.pred, r.obj) for r in rows}
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected)
    if precision < 0.95 or recall < 0.95:
        return [f"golden precision {precision:.3f} recall {recall:.3f} below 0.95"]
    return []


WORKLOADS = {w.name: w for w in (Campaign, Maintain, Queries)}
