"""Per-query layer record: where does the wall-clock go?

Runs each named query ``reps`` times untraced (warm-up), then once more
under the same traced pass ``bench.py`` runs cold, and prints the bench's
``layers`` map for them as one JSON line: build vs action seconds, jobs
started at build time, stages, tasks, executor run/CPU/GC seconds,
shuffle and spill bytes, Python-worker bytes and streaming micro-batch
durations per query. Exits 1 if a query raised.

Usage: python tools/query_profile.py <query_name>[,<query_name>...] [sf_dir] [reps]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    import bench
    from pipeline_query_engine_demo_spark import plans
    from pipeline_query_engine_demo_spark.session import get_spark

    spark = get_spark("query-profile", **bench.RETENTION)
    spark.sparkContext.setLogLevel("ERROR")
    qs = plans.queries()
    for _ in range(reps):
        for name in names:
            bench.noop_write(qs[name](spark, sf_dir))
            bench.drop_run_blocks(spark)
    _, layers, errors = bench.traced_pass(spark, sf_dir, names, qs)
    print(json.dumps(layers))
    if errors:
        print(json.dumps({"errors": errors}), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
