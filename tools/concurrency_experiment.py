"""Concurrent multi-query throughput experiment (round-10 verdict item 2).

Everything measured so far is serialized; real clusters multiplex many
queries over one scheduler. This experiment runs the 17 bench headline
queries on ONE session under the FAIR scheduler, submitted from 4 and
then 8 driver threads (each thread in its own scheduler pool, so the
fair share is per-query), and records:

- aggregate wall vs the serialized sum (the multiplexing win),
- per-query result fingerprints — asserted identical to the serialized
  pass AND to the committed MANIFEST.json at sf0.1 (concurrency must
  not change answers),
- per-query plan fingerprints (tools/plan_fingerprint.py, the same
  strategy-set reduction PLANS.md uses) — asserted identical to the
  serialized pass (concurrency must not change plans).

Spawns a fresh worker subprocess so the FAIR scheduler mode (fixed at
session launch) cannot leak into or from the caller's JVM. Writes
nothing to the repo; results land in SCALE.md.

Usage: python tools/concurrency_experiment.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = "/root/testdata/sf0.1"
THREAD_COUNTS = (4, 8)


def worker(out_path: str, sf_dir: str) -> None:
    from pipeline_query_engine_demo_spark.session import get_spark

    spark = get_spark("concurrency-experiment", **{"spark.scheduler.mode": "FAIR"})
    spark.sparkContext.setLogLevel("ERROR")

    import bench  # the headline list IS the bench's, never a copy
    from tools import plan_fingerprint
    from tools.check_correctness import fingerprint

    import __spark_entry__ as entry

    qs = entry.queries()
    names = list(bench.HEADLINE)

    def run_one(name: str, pool: str | None) -> dict:
        if pool is not None:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
        t0 = time.perf_counter()
        sdf = qs[name](spark, sf_dir)
        pdf = sdf.toPandas()
        wall = round(time.perf_counter() - t0, 3)
        fp = fingerprint(pdf)
        try:
            fp["plan"] = plan_fingerprint.of_df(sdf)
        except Exception:
            fp["plan"] = None
        return {"wall_sec": wall, **fp}

    # Cold pass (warms footers/codegen/Python workers), then the
    # serialized reference pass.
    for name in names:
        run_one(name, None)
    serialized = {name: run_one(name, None) for name in names}

    runs: dict[str, dict] = {"serialized": {"queries": serialized}}
    serialized_sum = round(sum(r["wall_sec"] for r in serialized.values()), 2)
    runs["serialized"]["total_wall_sec"] = serialized_sum

    for n_threads in THREAD_COUNTS:
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=n_threads) as ex:
            futs = {
                name: ex.submit(run_one, name, f"pool-{i % n_threads}")
                for i, name in enumerate(names)
            }
            results = {name: f.result() for name, f in futs.items()}
        wall = round(time.perf_counter() - t0, 2)
        runs[f"threads_{n_threads}"] = {
            "queries": results,
            "aggregate_wall_sec": wall,
            "vs_serialized_sum": round(serialized_sum / wall, 2) if wall else None,
        }

    json.dump({"sf_dir": sf_dir, "runs": runs}, open(out_path, "w"), indent=1)


def main() -> None:
    if "--worker" in sys.argv:
        i = sys.argv.index("--worker")
        worker(sys.argv[i + 1], sys.argv[i + 2])
        return

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else BASE
    out = "/tmp/concurrency_experiment.json"
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", out, sf_dir],
        check=True,
        cwd=REPO,
    )
    data = json.load(open(out))
    runs = data["runs"]
    serial = runs["serialized"]["queries"]

    manifest = {}
    label = os.path.basename(os.path.normpath(sf_dir))
    mpath = os.path.join(REPO, "MANIFEST.json")
    if os.path.exists(mpath):
        manifest = json.load(open(mpath)).get(label, {})

    report = {
        "sf_dir": sf_dir,
        "serialized_sum_sec": runs["serialized"]["total_wall_sec"],
        "concurrent": {},
        "per_query_serialized_sec": {n: r["wall_sec"] for n, r in serial.items()},
    }
    all_ok = True
    for key in (f"threads_{n}" for n in THREAD_COUNTS):
        r = runs[key]
        mism_res = [
            n
            for n, q in r["queries"].items()
            if (q["hash"], q["rows"]) != (serial[n]["hash"], serial[n]["rows"])
        ]
        mism_plan = [
            n
            for n, q in r["queries"].items()
            if q.get("plan") is not None
            and serial[n].get("plan") is not None
            and q["plan"] != serial[n]["plan"]
        ]
        mism_manifest = [
            n
            for n, q in r["queries"].items()
            if n in manifest and q["hash"] != manifest[n]["hash"]
        ]
        ok = not (mism_res or mism_plan or mism_manifest)
        all_ok &= ok
        report["concurrent"][key] = {
            "aggregate_wall_sec": r["aggregate_wall_sec"],
            "throughput_vs_serialized": r["vs_serialized_sum"],
            "results_match_serialized": not mism_res,
            "plans_match_serialized": not mism_plan,
            "results_match_manifest": not mism_manifest,
            **({"result_mismatches": mism_res} if mism_res else {}),
            **({"plan_mismatches": mism_plan} if mism_plan else {}),
            **({"manifest_mismatches": mism_manifest} if mism_manifest else {}),
        }
    report["all_checks_pass"] = all_ok
    print(json.dumps(report, indent=2))
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
