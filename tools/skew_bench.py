"""M7 skew-stress bench (SURVEY §7.1): one hot entity at 30% frequency,
timed salted vs unsalted at bench scale, min-of-2 — the measurement the
r4 VERDICT asked for (ask #5).

Two arms, both on the same synthetic star corpus (N edges, ONE term
holding 30% of all surface links — the hot-entity shape BASELINE.json
calls out):

1. stats_salted vs stats_unsalted — a min aggregate per entity as a
   two-phase (key, salt) partial → final (`salted_min`) vs a direct
   groupBy(dst).
2. join_aqe_on vs join_aqe_off — the CC push join (edges ⋈ comp on the
   hot node) as a forced sort-merge join with AQE skew-join splitting
   enabled vs disabled; broadcast thresholds zeroed so the skewed
   exchange actually happens.

HONESTY NOTE, recorded with the numbers: for ALGEBRAIC aggregates
(min/count) Spark always runs a map-side partial aggregation, which
already reduces a 30%-hot key to one row per input partition before the
shuffle — so arm 1 is expected to show EQUIVALENCE, not a salted win;
the salt exists to bound the reducer when the aggregation state is NOT
map-side combinable (collect_set-like states) and to keep the guarantee
independent of partial-agg fallback behavior. The genuinely skew-prone
physical op is the shuffle JOIN on the hot key — arm 2 — where AQE's
skew-join splitting is the production mitigation.

Usage: python tools/skew_bench.py [n_edges]    (default 2_000_000)
Prints one JSON line; paste the table into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from biosd_feature_annotator_spark.operators.canonicalize import salted_min  # noqa: E402
from biosd_feature_annotator_spark.session import get_spark  # noqa: E402

HOT_FRAC = 0.30
N_TERMS = 100_000


def synth_star_edges(spark, n: int):
    """n surface→term edges; floor(n*HOT_FRAC) of them point at ONE hot
    term, the rest spread uniformly over N_TERMS terms. Surfaces are
    unique (star forest + one giant star). Deterministic."""
    hot_n = int(n * HOT_FRAC)
    return spark.range(n).select(
        F.concat(F.lit("1:s"), F.col("id")).alias("src"),
        F.when(F.col("id") < hot_n, F.lit("0:HOT"))
        .otherwise(
            F.concat(F.lit("0:t"), F.pmod(F.xxhash64("id"), F.lit(N_TERMS)))
        )
        .alias("dst"),
    )


def _timed(fn) -> float:
    """One timed run; gc.collect() afterwards lets Py4J finalizers free
    the JVM objects the run left behind, so the next arm does not start
    under their memory pressure."""
    import gc

    t0 = time.monotonic()
    fn()
    d = time.monotonic() - t0
    gc.collect()
    return d


def paired_min(fn_a, fn_b, reps: int = 2, warmup: int = 1) -> tuple[float, float]:
    """min-of-`reps` for two arms with INTERLEAVED reps (a,b,a,b,…)
    after `warmup` untimed runs of each. Interleaving is load-bearing:
    sequential arms absorb slow box-noise drift into whichever runs
    first (measured 23 s vs 17 s sequentially for two arms that
    interleave to 9.3-10.2 s vs 9.0-10.8 s)."""
    for _ in range(warmup):
        _timed(fn_a)
        _timed(fn_b)
    ta, tb = [], []
    for _ in range(reps):
        ta.append(_timed(fn_a))
        tb.append(_timed(fn_b))
    return round(min(ta), 3), round(min(tb), 3)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(master=f"local[{cpus}]", app_name="skew-bench",
                      shuffle_partitions=int(cpus))
    edges = synth_star_edges(spark, n).persist()
    edges.count()  # materialize: every arm reads the same cached input

    out: dict[str, float] = {}

    # --- arm 1: entity-stats min, two-phase salted vs direct -----------
    out["stats_salted_sec"], out["stats_unsalted_sec"] = paired_min(
        lambda: salted_min(
            edges.withColumn("v", F.col("src")), "dst", "v", n_salt=8
        ).count(),
        lambda: edges.groupBy("dst").agg(F.min("src").alias("v")).count(),
    )

    # --- arm 2: hot-key shuffle join, AQE skew split on vs off ---------
    comp = edges.select(F.col("dst").alias("node")).distinct() \
        .withColumn("comp", F.col("node")).persist()
    comp.count()

    def push_join():
        return (
            edges.hint("merge")
            .join(comp.hint("merge"), edges.dst == comp.node)
            .select("src", "comp")
            .count()
        )

    def with_conf(pairs, fn):
        old = {k: spark.conf.get(k, None) for k in pairs}
        try:
            for k, v in pairs.items():
                spark.conf.set(k, v)
            return fn()
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    base = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8MB",
    }
    aqe_on = {**base, "spark.sql.adaptive.skewJoin.enabled": "true"}
    aqe_off = {**base, "spark.sql.adaptive.skewJoin.enabled": "false",
               "spark.sql.adaptive.enabled": "false"}
    out["join_aqe_on_sec"], out["join_aqe_off_sec"] = paired_min(
        lambda: with_conf(aqe_on, push_join),
        lambda: with_conf(aqe_off, push_join),
    )

    print(json.dumps({
        "n_edges": n, "hot_frac": HOT_FRAC, "cpus": cpus,
        "protocol": "interleaved min-of-2 after untimed warmups, "
                    "gc between reps", **out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
