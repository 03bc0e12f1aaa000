"""Full-corpus plan audit at a scale replica (round-10 verdict item 4).

Round 10 could only audit 20 headline plans at the ×100 replica: a
monolithic audit session accumulates shuffle/checkpoint disk across all
427 builders (several execute real work at build time — iterative CC
loops, adaptive-bypass scalars, recall sweeps) and the deliberately
UNCAPPED quadratic teaching queries explode at clone-replica document
frequencies (~78 GB transient spill, then SPILL_OUT_OF_MEMORY).

This driver makes the full audit tractable:

- one FRESH WORKER JVM per REGISTRY category (tools/audit_plans.py with
  a query filter) — all shuffle/checkpoint temp space is freed at JVM
  exit, so no cross-category accumulation;
- the known-quadratic teaching queries (CAPPED_AT_BASE below) audit
  their plans at sf0.1 instead of the replica: they exist to prove
  SEMANTICS (the raw posting-list tier the capped LSH funnel replaces),
  and their plan shape is scale-independent — the cap is recorded
  per-query in the merged report;
- a per-batch timeout with per-query fallback, so one pathological
  builder fails alone instead of sinking its whole category.

Merged report: /tmp/PLANS_at_scale.md (+ JSON summary on stdout).

Usage: python tools/audit_plans_at_scale.py [replica_dir]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPLICA = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_scale100"
BASE = "/root/testdata/sf0.1"
OUT_DIR = "/tmp/plans_at_scale"
BATCH_TIMEOUT = 2400
QUERY_TIMEOUT = 1500

#: Audited at sf0.1 instead of the replica, each with the reason. These
#: are the teaching tier: they demonstrate the UNCAPPED baseline the
#: production operators (LSH funnel, bucketed ANN, sketches) replace,
#: so their cost is quadratic in per-key frequency BY DESIGN and a
#: clone replica multiplies exactly that. Their plan strategy set does
#: not depend on SF (verified: sf0.01 and sf0.1 audits agree).
CAPPED_AT_BASE = {
    "ngram_jaccard_pairs_docs": "raw shingle posting-list self-join (the quadratic baseline LSH banding replaces); clone replica multiplies every posting list x100",
    "containment_dedup_pairs": "same raw posting-list tier (asymmetric containment variant)",
    "semantic_dedup_embeddings": "fixed 4-centroid demo cells -> in-cell pairs quadratic in corpus (SCALE.md records why; production scales centroid count via kmeans_train)",
    "gram_matrix_embeddings": "N x N gram matrix is quadratic output by definition (teaching row for the blocked formulation)",
}


def run_audit(sf_dir: str, out_md: str, names: list[str], timeout: int) -> tuple[bool, str]:
    cmd = [sys.executable, os.path.join(REPO, "tools", "audit_plans.py"), sf_dir, out_md, *names]
    try:
        p = subprocess.run(
            cmd, capture_output=True, text=True, timeout=timeout, cwd=REPO,
        )
    except subprocess.TimeoutExpired:
        return False, "TIMEOUT"
    tail = (p.stdout or "").strip().splitlines()
    summary = next((ln for ln in reversed(tail) if "plans audited" in ln), "")
    if p.returncode == 0 and summary:
        return True, summary
    viol = [ln for ln in tail if ln.startswith("VIOLATION")]
    return False, summary + ("; " + "; ".join(viol) if viol else "") or f"rc={p.returncode}"


def main() -> None:
    from pipeline_query_engine_demo_spark.plans import REGISTRY

    os.makedirs(OUT_DIR, exist_ok=True)
    by_cat: dict[str, list[str]] = {}
    for name, spec in REGISTRY.items():
        by_cat.setdefault(spec.category, []).append(name)

    results: dict[str, dict] = {}
    audited = violations = 0
    failures: list[str] = []
    for cat in sorted(by_cat):
        replica_names = sorted(n for n in by_cat[cat] if n not in CAPPED_AT_BASE)
        batches = []
        if replica_names:
            batches.append((REPLICA, replica_names))
        capped = sorted(n for n in by_cat[cat] if n in CAPPED_AT_BASE)
        if capped:
            batches.append((BASE, capped))
        for sf_dir, names in batches:
            tag = f"{cat}{'_capped' if sf_dir == BASE else ''}"
            out_md = os.path.join(OUT_DIR, f"{tag}.md")
            ok, summary = run_audit(sf_dir, out_md, names, BATCH_TIMEOUT)
            if not ok and summary == "TIMEOUT":
                # fall back per-query so one pathological builder fails alone
                per = {}
                for n in names:
                    ok1, s1 = run_audit(
                        sf_dir, os.path.join(OUT_DIR, f"{tag}_{n}.md"), [n], QUERY_TIMEOUT
                    )
                    per[n] = s1 if ok1 else f"FAIL {s1}"
                    if not ok1:
                        failures.append(f"{n}: {s1}")
                    else:
                        audited += 1
                results[tag] = {"mode": "per-query-fallback", "queries": per}
                continue
            results[tag] = {"sf_dir": sf_dir, "n": len(names), "summary": summary, "ok": ok}
            if ok:
                audited += int(summary.split()[0])
            else:
                failures.append(f"{tag}: {summary}")
            print(f"{tag}: {summary}", file=sys.stderr)

    # merge the per-batch tables into one report
    merged = os.path.join("/tmp", "PLANS_at_scale.md")
    with open(merged, "w") as out:
        out.write(
            f"# Plan audit at {REPLICA} (full corpus, batched per category)\n\n"
            f"Capped-at-sf0.1 teaching queries: "
            f"{json.dumps(CAPPED_AT_BASE, indent=1)}\n\n"
            "| Query | Shuffles | Join strategies / Python eval |\n|---|---|---|\n"
        )
        for tag in sorted(results):
            path = os.path.join(OUT_DIR, f"{tag}.md")
            if not os.path.exists(path):
                continue
            for ln in open(path):
                if ln.startswith("| ") and not ln.startswith("| Query"):
                    out.write(ln)
    print(json.dumps({
        "replica": REPLICA,
        "plans_audited": audited,
        "failures": failures,
        "capped_at_base": sorted(CAPPED_AT_BASE),
        "report": merged,
    }, indent=2))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
