"""Scan-reduction evidence for partition pruning (r11 verdict item 1).

Runs the three partitioned-layout queries (plans/partitioned.py) twice:
once against the Hive-partitioned replica (pruned scan) and once
against an UNPARTITIONED twin of the same derived table (full scan),
and reports two meters:

- ``metadata_bytes``: bytes through Hadoop's GlobalStorageStatistics
  ("file" scheme). IMPORTANT CAVEAT, discovered in round 12 session 3:
  Spark 4's local parquet DATA-PAGE reads bypass the Hadoop FS layer
  (nio), so this counter sees footers/column-index metadata only — it
  is a faithful FILES-TOUCHED meter (pruned directories are never
  opened), not a data-volume meter. Earlier SCALE.md prose calling it
  "scan bytes" overstated it; the ratios were still right because
  footer traffic is proportional to files opened.
- ``decoded_rows``: the parquet scan leaves' numOutputRows metric from
  the executed plan — rows actually decoded from data pages, the
  faithful data-volume meter (row groups in pruned partitions are
  never decoded).

Both variants read the same dimension-side base tables, so the
partitioned-vs-twin delta isolates exactly what pruning saved. Each
variant runs twice and the SECOND run is reported (first pays codegen
warmup; the bytes figure is identical across runs, the wall figure is
steady-state).

Results go into SCALE.md ("Round 12: partition pruning" section).

Usage: python tools/dpp_experiment.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main() -> None:
    from pipeline_query_engine_demo_spark.plans import partitioned
    from pipeline_query_engine_demo_spark.session import get_spark, replica_path

    spark = get_spark("dpp-experiment")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm

    def bytes_read() -> int:
        s = jvm.org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics().get(
            "file"
        )
        return int(s.getLong("bytesRead")) if s is not None else 0

    def decoded_rows(df) -> int:
        """Sum numOutputRows over the executed plan's parquet scan
        leaves (descending through AQE stages / reused exchanges)."""
        plan = df._jdf.queryExecution().executedPlan()
        try:
            plan = plan.finalPhysicalPlan()
        except Exception:
            pass

        def walk(node) -> int:
            cls = node.getClass().getSimpleName()
            if "QueryStageExec" in cls:
                return walk(node.plan())
            if "ReusedExchange" in cls:
                return walk(node.child())
            total = 0
            if "FileSourceScan" in cls or "BatchScan" in cls:
                total += int(node.metrics().apply("numOutputRows").value())
            ch = node.children().iterator()
            while ch.hasNext():
                total += walk(ch.next())
            return total

        return walk(plan)

    # Partitioned replicas (written once per process by the plans module)
    # and unpartitioned twins carrying the same derived column.
    li_part = partitioned.lineitem_by_ship_month(spark, SF_DIR)
    ev_part = partitioned.events_by_day(spark, SF_DIR)
    li_twin, li_ready = replica_path(SF_DIR, "lineitem_twin_flat")
    ev_twin, ev_ready = replica_path(SF_DIR, "events_twin_flat")
    if not li_ready:
        spark.read.parquet(li_part).write.mode("overwrite").parquet(li_twin)
    if not ev_ready:
        spark.read.parquet(ev_part).write.mode("overwrite").parquet(ev_twin)

    from pipeline_query_engine_demo_spark.sources.catalog import load_table

    def q_static(fact):
        return (
            fact.filter(F.col("l_ship_month").between("1996-01", "1996-03"))
            .groupBy(F.col("l_ship_month").alias("ship_month"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def q_dpp_lineitem(fact):
        dim = (
            load_table(spark, SF_DIR, "orders")
            .filter(
                (F.col("o_orderpriority") == "1-URGENT")
                & (F.year("o_orderdate") == 1997)
            )
            .select(F.date_format("o_orderdate", "yyyy-MM").alias("ord_month"))
            .distinct()
        )
        return (
            fact.join(dim, fact["l_ship_month"] == dim["ord_month"])
            .groupBy(F.col("l_ship_month").alias("ship_month"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def q_dpp_events(fact):
        top_day = (
            fact.filter(F.col("event_type") == "purchase")
            .groupBy("event_date")
            .agg(F.count(F.lit(1)).alias("n_purch"))
            .orderBy(F.col("n_purch").desc(), F.col("event_date").asc())
            .limit(1)
            .select("event_date")
        )
        return (
            fact.join(top_day, "event_date")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    scenarios = [
        ("static_partition_prune_lineitem", q_static, li_part, li_twin),
        ("dpp_urgent_months_revenue", q_dpp_lineitem, li_part, li_twin),
        ("dpp_events_top_day_mix", q_dpp_events, ev_part, ev_twin),
    ]

    rows = []
    for name, q, part_path, twin_path in scenarios:
        out = {"query": name}
        for label, path in (("partitioned", part_path), ("unpartitioned", twin_path)):
            fact = spark.read.parquet(path)
            df = q(fact)
            df.write.format("noop").mode("overwrite").save()  # warmup
            b0 = bytes_read()
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            b1 = bytes_read()
            res = sorted(map(tuple, q(spark.read.parquet(path)).collect()))
            out[label] = {
                "metadata_bytes": b1 - b0,
                "decoded_rows": decoded_rows(df),
                "wall_s": round(wall, 3),
                "result_rows": len(res),
            }
            out.setdefault("_results", []).append(res)
        a, b = out.pop("_results")
        out["results_identical"] = a == b
        out["metadata_bytes_ratio"] = round(
            out["partitioned"]["metadata_bytes"]
            / max(1, out["unpartitioned"]["metadata_bytes"]),
            4,
        )
        out["decoded_rows_ratio"] = round(
            out["partitioned"]["decoded_rows"]
            / max(1, out["unpartitioned"]["decoded_rows"]),
            4,
        )
        rows.append(out)
        print(json.dumps(out))

    print("\nSUMMARY")
    for r in rows:
        print(
            f"{r['query']:38} "
            f"rows={r['partitioned']['decoded_rows']:>11,}/"
            f"{r['unpartitioned']['decoded_rows']:>11,} "
            f"({r['decoded_rows_ratio']:.3f})  "
            f"metaB={r['partitioned']['metadata_bytes']:>9,}/"
            f"{r['unpartitioned']['metadata_bytes']:>9,} "
            f"({r['metadata_bytes_ratio']:.3f}) "
            f"identical={r['results_identical']}"
        )
    assert all(r["results_identical"] for r in rows)
    spark.stop()


if __name__ == "__main__":
    main()
