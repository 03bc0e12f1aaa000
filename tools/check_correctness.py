"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at a given SF dir and compares it against
its ``oracle_sql()`` SQL in DuckDB: row count, column names/types, and
exact values after sorting columns by name and rows by all columns.
Queries without an oracle fail as NO-ORACLE. Each non-streaming query's
executed (AQE-final) plan is also checked against the rules in
tools/audit_plans.py; a broken rule fails the query as PLAN-VIOLATION.

Usage: python tools/check_correctness.py [sf_dir] [query ...]

Golden-manifest mode (round-exit drift tripwire over ALL registered queries,
including the ones the driver has never sampled):

    # record (rows, schema signature, value hash) per query at this SF:
    python tools/check_correctness.py /root/testdata/sf0.01 --manifest-write MANIFEST.json
    # later: fail if any query's result drifted from the committed manifest
    python tools/check_correctness.py /root/testdata/sf0.01 --manifest-check MANIFEST.json

The manifest keys results under the SF label (sf0.01 / sf0.1), so one
file holds both sweeps. Check mode still runs the full DuckDB oracle
comparison; the manifest adds ATTRIBUTION — engine/fixture/oracle drift
shows up as a hash diff against a committed baseline, pinnable to a
commit without re-deriving DuckDB state.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import audit_plans, plan_fingerprint  # noqa: E402


def sf_label(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def fingerprint(pdf: pd.DataFrame) -> dict:
    """(rows, schema signature, value hash) of a canonicalized result.

    Floats are rendered at 17 significant digits (round-trip exact for
    IEEE doubles), timestamps at ns — the hash is stable across runs of
    the same engine output but flips on ANY value/type/shape drift."""
    c = canon(pdf)
    schema = [f"{col}:{_kind(c[col].dtype)}" for col in c.columns]
    h = hashlib.sha256()
    h.update(("|".join(schema) + "\n").encode())
    for col in c.columns:
        vals = c[col]
        if _kind(vals.dtype) == "float":
            rendered = vals.map(lambda v: "nan" if pd.isna(v) else f"{v:.17g}")
        elif _kind(vals.dtype) == "datetime":
            rendered = vals.astype("datetime64[ns]").astype(str)
        else:
            rendered = vals.astype(str)
        h.update(("\x1f".join(rendered) + "\x1e").encode())
    return {"rows": int(len(c)), "schema": schema, "hash": h.hexdigest()[:24]}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    # Deliberately NO list-to-tuple rescue: the driver's canonicalizer
    # crashes on list-valued cells (TypeError: unhashable type 'list'),
    # so an array-typed output column must be a FAIL here too.
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def _kind(dt) -> str:
    """Coarse dtype class for hash-compat purposes."""
    if np.issubdtype(dt, np.bool_):
        return "bool"
    if np.issubdtype(dt, np.integer):
        return "int"
    if np.issubdtype(dt, np.floating):
        return "float"
    if np.issubdtype(dt, np.datetime64):
        return "datetime"
    return "object"


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str:
    if len(spark_pdf) != len(duck_pdf):
        return f"ROWCOUNT spark={len(spark_pdf)} duck={len(duck_pdf)}"
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"COLUMNS spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
    # Driver strictness (verified by the round-2 gate): the driver's
    # value hash does NOT coerce across numeric classes — int64 1234 vs
    # float64 1234.0 is a hash MISMATCH — and list-valued cells crash
    # its canonicalizer.  Only int width (int32/64) and datetime unit
    # (ns/us) are tolerated.  We therefore fail on any cross-class
    # dtype drift and on any list/ndarray cell, before value compare.
    for c in sorted(spark_pdf.columns):
        sk, dk = _kind(spark_pdf[c].dtype), _kind(duck_pdf[c].dtype)
        if sk != dk:
            return (
                f"DTYPE col={c} spark={spark_pdf[c].dtype}({sk}) "
                f"duck={duck_pdf[c].dtype}({dk}) — driver hash mismatch"
            )
        for side, pdf in (("spark", spark_pdf), ("duck", duck_pdf)):
            if pdf[c].dtype == object and any(
                isinstance(v, (list, np.ndarray)) for v in pdf[c].head(100)
            ):
                return f"LISTVALS col={c} side={side} — driver canonicalizer crashes on lists"
    try:
        a, b = canon(spark_pdf), canon(duck_pdf)
    except TypeError as ex:
        return f"CANON-CRASH {ex} (driver would error identically)"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) and np.issubdtype(bv.dtype, np.floating):
            both_nan = np.isnan(av) & np.isnan(bv)
            if not bool(np.all(both_nan | (av == bv))):
                i = int(np.argmax(~(both_nan | (av == bv))))
                return f"VALUES col={c} row{i}: spark={av[i]!r} duck={bv[i]!r}"
        elif np.issubdtype(av.dtype, np.datetime64) and np.issubdtype(bv.dtype, np.datetime64):
            av = av.astype("datetime64[ns]")
            bv = bv.astype("datetime64[ns]")
            if not bool(np.all((pd.isna(av) & pd.isna(bv)) | (av == bv))):
                i = int(np.argmax(~((pd.isna(av) & pd.isna(bv)) | (av == bv))))
                return f"VALUES col={c} row{i}: spark={av[i]!r} duck={bv[i]!r}"
        else:
            av = pd.Series(av).astype(str).to_numpy()
            bv = pd.Series(bv).astype(str).to_numpy()
            if not bool(np.all(av == bv)):
                i = int(np.argmax(av != bv))
                return f"VALUES col={c} row{i}: spark={av[i]!r} duck={bv[i]!r}"
    return "OK"


def main() -> None:
    args = sys.argv[1:]
    manifest_write = manifest_check = None
    if "--manifest-write" in args:
        i = args.index("--manifest-write")
        manifest_write = args[i + 1]
        del args[i : i + 2]
    if "--manifest-check" in args:
        i = args.index("--manifest-check")
        manifest_check = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from pipeline_query_engine_demo_spark import plans
    from pipeline_query_engine_demo_spark.session import get_spark

    import __spark_entry__ as e

    # Plan strings truncate metadata fields at 100 chars by default,
    # which cuts PushedFilters lists mid-token and would make the
    # audit's pushed-filter patterns unmatchable. It only changes how
    # plans print.
    spark = get_spark(
        "correctness-check", **{"spark.sql.maxMetadataStringLength": "1000"}
    )
    con = duckdb_views(sf_dir)

    qs, oracles = e.queries(), e.oracle_sql()
    label = sf_label(sf_dir)
    manifest = {}
    if manifest_check:
        manifest = json.load(open(manifest_check))
    golden = manifest.get(label, {})
    new_entries: dict[str, dict] = {}
    n_ok = n_fail = 0
    failures = []
    for name, build in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = build(spark, sf_dir)
            spark_pdf = sdf.toPandas()
            # The executed plan, read after the action so AQE has
            # settled it (runtime SMJ->BHJ conversions included): the
            # manifest fingerprints it and the plan rules check it.
            plan = sdf._jdf.queryExecution().executedPlan().toString()
            if manifest_write or manifest_check:
                try:
                    fp = fingerprint(spark_pdf)
                except TypeError as ex:
                    fp = {"rows": int(len(spark_pdf)), "schema": [], "hash": f"CANON-CRASH:{ex}"}
                # Strategy-set fingerprint: a broadcast silently demoting
                # to SortMergeJoin or an Arrow path regressing to row
                # Python is caught here even when the RESULT hash is
                # unchanged.
                fp["plan"] = plan_fingerprint.extract(plan)
                new_entries[name] = fp
            if name in oracles:
                duck_pdf = con.sql(oracles[name]).df()
                verdict = compare(name, spark_pdf, duck_pdf)
                if verdict == "OK" and manifest_check and name in golden:
                    g, mine = golden[name], new_entries[name]
                    if any(
                        g.get(k) != mine.get(k) for k in ("rows", "schema", "hash")
                    ):
                        verdict = (
                            f"MANIFEST-DRIFT was={g['hash']}/{g['rows']}r "
                            f"now={mine['hash']}/{mine['rows']}r"
                        )
                    # Plan drift diffs only when the golden entry carries
                    # a plan (pre-r11 manifests don't) and this run could
                    # extract one. The GATE compares only the strategy-set
                    # keys (distinct exchanges, joins, python_eval,
                    # bare_windows) — `exchanges_raw` is informational
                    # (r11 advisor): it drifts benignly under the AQE
                    # stage-reuse race, but a same-descriptor shuffle
                    # duplication (lost ReusedExchange) shows ONLY there,
                    # so print it rather than hide it.
                    elif (
                        g.get("plan") is not None
                        and mine.get("plan") is not None
                        and any(
                            g["plan"].get(k) != mine["plan"].get(k)
                            for k in ("exchanges", "joins", "python_eval", "bare_windows")
                        )
                    ):
                        verdict = (
                            f"MANIFEST-PLAN-DRIFT was={json.dumps(g['plan'])} "
                            f"now={json.dumps(mine['plan'])}"
                        )
                    elif (
                        g.get("plan") is not None
                        and mine.get("plan") is not None
                        and g["plan"].get("exchanges_raw") is not None
                        and g["plan"].get("exchanges_raw")
                        != mine["plan"].get("exchanges_raw")
                    ):
                        print(
                            f"INFO {name}: raw exchange count drifted "
                            f"{g['plan']['exchanges_raw']} -> "
                            f"{mine['plan']['exchanges_raw']} (distinct count "
                            f"unchanged; benign under AQE stage reuse, but check "
                            f"for a lost ReusedExchange if persistent)"
                        )
            else:
                # The driver records oracle-less queries as err:no_oracle
                # (no rows-only fallback exists in practice) — so a
                # registered query without an oracle is a FAIL here.
                verdict = f"NO-ORACLE n={len(spark_pdf)} (driver records err:no_oracle)"
            # A streaming builder runs its stream inside the builder and
            # returns the sink read-back, whose plan is not the streaming
            # computation: the plan rules skip it by registry category.
            if verdict == "OK" and plans.REGISTRY[name].category != "streaming":
                broken = audit_plans.violations(name, plan)
                if broken:
                    verdict = "PLAN-VIOLATION " + "; ".join(broken)
        except Exception as ex:
            verdict = f"ERROR {type(ex).__name__}: {str(ex).splitlines()[0][:200]}"
            traceback.print_exc(limit=3)
        dt = time.time() - t0
        ok = verdict == "OK"
        n_ok += ok
        n_fail += not ok
        if not ok:
            failures.append(name)
        print(f"{'PASS' if ok else 'FAIL':4} {name:40} {dt:6.2f}s  {verdict}")
    print(f"\n{n_ok} ok, {n_fail} fail" + (f": {failures}" if failures else ""))
    if manifest_check:
        missing = sorted(set(golden) - set(new_entries)) if not only else []
        unrecorded = sorted(set(new_entries) - set(golden))
        if missing:
            print(f"manifest entries not re-run: {missing}")
        if unrecorded:
            print(f"queries not in manifest[{label}]: {unrecorded}")
    if manifest_write and manifest_check and n_fail:
        # r11 advisor: when --manifest-check and --manifest-write name the
        # same file, a detected DRIFT must NOT immediately overwrite the
        # committed baseline (the drift would be recoverable only from
        # git, and a same-invocation step 3 would then diff against the
        # freshly rewritten file instead of the round baseline). Only a
        # clean check earns a rewrite.
        print(
            f"manifest write SKIPPED ({n_fail} failures with --manifest-check "
            f"active; baseline {manifest_write} left untouched)"
        )
    elif manifest_write:
        existing = {}
        if os.path.exists(manifest_write):
            existing = json.load(open(manifest_write))
        existing.setdefault(label, {}).update(new_entries)
        existing[label] = dict(sorted(existing[label].items()))
        json.dump(dict(sorted(existing.items())), open(manifest_write, "w"), indent=1)
        print(f"manifest[{label}]: wrote {len(new_entries)} entries -> {manifest_write}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
