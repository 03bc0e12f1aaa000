"""Shuffle-bytes evidence for runtime bloom-filter join pruning.

Runs the bloom_filter_pruned_join aggregation twice — once with
InjectRuntimeFilter enabled (the registered query's confs) and once
with it disabled — and measures actual shuffle WRITE bytes of each
variant's timed run, read from the ``action:`` span perfbench's Tracer
records around it. The bloom filter's promise is map-side row
pruning BEFORE the exchange, so shuffle write is the honest meter —
scan bytes are identical in both variants (the filter sits above the
scan, not inside it; that side is DPP's job, plans/partitioned.py).

Both variants must return identical results (asserted): bloom false
positives are re-checked by the join, so the filter can only shrink
the exchange, never change the answer.

Usage: python tools/bloom_experiment.py [sf_dir]  (default /root/testdata/sf0.1)
  A scaled replica (``scale_experiment.build_replica``) lives under the
  scratch root of the process that built it and is removed at its exit,
  so meter a replica from inside that process, or pass a fixture dir.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from perfbench.tracing import RETENTION, Tracer
    from pipeline_query_engine_demo_spark.plans import relational
    from pipeline_query_engine_demo_spark.session import get_spark, held_confs

    spark = get_spark("bloom-experiment", **RETENTION)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, os.devnull)  # noop sink: no sink dir to watch

    def agg():
        return (
            relational.build_bloom_filter_join(spark, sf_dir)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)")
                )
                .cast("double")
                .alias("revenue"),
            )
        )

    variants = {
        "bloom_on": relational.BLOOM_FILTER_CONFS,
        "bloom_off": {
            **relational.BLOOM_FILTER_CONFS,
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
        },
    }
    out: dict[str, dict] = {}
    results: dict[str, list] = {}
    for label, confs in variants.items():
        with held_confs(spark, confs):
            df = agg()
            df.write.format("noop").mode("overwrite").save()  # warmup
            with tracer.span(f"action:{label}", "exec", label):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                wall = time.perf_counter() - t0
            plan = df._jdf.queryExecution().executedPlan().toString()
            results[label] = sorted(map(tuple, agg().collect()))
            out[label] = {
                "wall_s": round(wall, 3),
                "might_contain_in_plan": "might_contain" in plan,
            }
    layers = tracer.collect({})["queries"]
    for label in variants:
        out[label]["shuffle_write_bytes"] = layers[label]["shuffle_write_bytes"]
    assert out["bloom_on"]["might_contain_in_plan"]
    assert not out["bloom_off"]["might_contain_in_plan"]
    assert results["bloom_on"] == results["bloom_off"], "results diverged"
    summary = {
        "sf_dir": sf_dir,
        **out,
        "results_identical": True,
        "shuffle_bytes_ratio": round(
            out["bloom_on"]["shuffle_write_bytes"]
            / max(1, out["bloom_off"]["shuffle_write_bytes"]),
            4,
        ),
    }
    print(json.dumps(summary, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
