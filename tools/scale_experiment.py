"""Scale harness: replicate the base fixture's fact tables ×factor (with
shifted keys so cardinalities scale realistically), run the queries at
the base and at the replica through ``bench.traced_pass``, and compare
per-query wall time to see how close to linear the plans scale.

The replica is written under the process's scratch root
(``session.replica_path``) and leaves with it at exit; nothing is
written to the repo. Each pass is the bench's traced pass, so a query
that raises lands under ``errors`` and the run goes on; the report
carries each pass's per-query ``layers`` record. Exits 1 if a query
raised.

Usage: python tools/scale_experiment.py [factor] [query ...]
  factor defaults to 10, queries to ``bench.HEADLINE``; the base fixture
  is ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

import bench  # noqa: E402

#: (table, [id columns to shift]) — shifted by copy_i * 10**9 so keys
#: stay unique across copies; foreign keys into the dims (custkey etc.)
#: are left alone so join fan-outs stay realistic.
SCALED = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
UNSCALED = ["region", "nation", "customer", "supplier", "part"]


def build_replica(spark, base: str, factor: int) -> str:
    """Write the ×``factor`` replica of fixture ``base`` and return its
    directory: the scaled tables as write-once replicas (a table whose
    write left ``_SUCCESS`` is not rebuilt), the dims symlinked to
    ``base``."""
    from pipeline_query_engine_demo_spark.session import replica_path
    from pipeline_query_engine_demo_spark.sources.catalog import load_table

    sf_dir = replica_path(base, f"x{factor}")[0]
    os.makedirs(sf_dir, exist_ok=True)
    for t, id_cols in SCALED.items():
        dest, ready = replica_path(base, f"x{factor}/{t}.parquet")
        if ready:
            continue
        # Replicate via explode(sequence(0, factor-1)) rather than a
        # factor-way unionByName: one scan, a plan whose size does not
        # grow with factor, and even output partitions at x100.
        out = load_table(spark, base, t).withColumn(
            "__copy", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        )
        for col in id_cols:
            out = out.withColumn(
                col, F.col(col) + F.col("__copy").cast("long") * F.lit(10**9)
            )
        n_parts = min(256, max(32, factor * 4))
        out.drop("__copy").repartition(n_parts).write.mode("overwrite").parquet(dest)
        print(f"built {t}: {spark.read.parquet(dest).count()} rows", file=sys.stderr)
    for t in UNSCALED:
        link = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.lexists(link):
            os.symlink(os.path.join(base, f"{t}.parquet"), link)
    return sf_dir


def scaled_width(spark, factor: int) -> int:
    """Shuffle width of a ×``factor`` run: the session's cores times
    ⌊√factor⌋. At ×100 a core-count width puts ~2 GB in each shuffle
    partition (spill territory); sqrt-scaling keeps per-partition bytes
    flat-ish while AQE coalesces the small stages back down."""
    return spark.sparkContext.defaultParallelism * max(1, math.isqrt(factor))


def run_at(spark, sf_dir: str, names: list[str], width: int | None = None):
    """``bench.traced_pass`` over ``names`` at ``sf_dir``, with the shuffle
    width held at ``width`` for the pass (the session default if None)."""
    from pipeline_query_engine_demo_spark import plans
    from pipeline_query_engine_demo_spark.session import held_confs

    confs = {} if width is None else {"spark.sql.shuffle.partitions": str(width)}
    with held_confs(spark, confs):
        return bench.traced_pass(spark, sf_dir, names, plans.queries())


def _session():
    from pipeline_query_engine_demo_spark.session import get_spark

    spark = get_spark("scale-experiment", **bench.RETENTION)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_then_trace(spark, base: str, sf_dir: str, names: list[str], width=None):
    """An untimed warm-up pass at ``base`` (the first run of each path
    pays JIT, codegen and Python-worker start), then ``run_at``. A query
    that raises in the warm-up raises again, and is recorded, in the
    traced pass."""
    from pipeline_query_engine_demo_spark import plans

    qs = plans.queries()
    for name in names:
        with contextlib.suppress(Exception):
            bench.noop_write(qs[name](spark, base))
        bench.drop_run_blocks(spark)
    return run_at(spark, sf_dir, names, width)


def main(argv: list[str]) -> None:
    factor = int(argv[0]) if argv else 10
    names = argv[1:] or bench.HEADLINE
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    label, scaled = os.path.basename(os.path.normpath(base)), f"x{factor}"

    spark = _session()
    sf_dir = build_replica(spark, base, factor)
    widths = {
        label: int(spark.conf.get("spark.sql.shuffle.partitions")),
        scaled: scaled_width(spark, factor),
    }
    base_walls, base_layers, base_errors = _warm_then_trace(spark, base, base, names)
    # One traced pass per SparkContext: every Tracer numbers its spans
    # from 0 and owns each job grouped perfbench-<span id>, so a second
    # pass in one context would be charged the first one's jobs.
    spark.stop()
    spark = _session()
    walls, layers, errors = _warm_then_trace(spark, base, sf_dir, names, widths[scaled])
    report = {
        "factor": factor,
        "shuffle_partitions": widths,
        "queries": {
            n: {
                f"{label}_s": base_walls.get(n),
                f"{scaled}_s": walls.get(n),
                "ratio": round(walls[n] / base_walls[n], 2)
                if base_walls.get(n) and n in walls
                else None,
            }
            for n in names
        },
        "errors": {
            **{f"{label}:{n}": e for n, e in base_errors.items()},
            **{f"{scaled}:{n}": e for n, e in errors.items()},
        },
        "layers": {label: base_layers, scaled: layers},
    }
    print(json.dumps(report, indent=2))
    if report["errors"]:
        sys.exit(1)


if __name__ == "__main__":
    main(sys.argv[1:])
