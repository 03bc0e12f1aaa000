"""Bench regression tripwire (r5 verdict task 4).

Compares a current bench record against a prior round's record and
FAILS (exit 1) if any query's current warm median exceeds 1.5x the top
of its prior [min, max] spread — turning the r4-style "is it noise or
a regression?" debate into a mechanical check: medians-vs-spread
absorbs single-rep noise, the 1.5x headroom absorbs host-load drift,
and anything past that is a real plan change worth a bisect.

Usage:
    python tools/bench_compare.py CURRENT.json PREVIOUS.json

Accepts either format for both files:
  * the bench.py sidecar / stdout payload itself
    ({"queries": ..., "spread": ..., "extended": ...}), or
  * a driver BENCH_r{N}.json wrapper ({"parsed": <payload>, ...}).
A previous file without spreads (pre-r5) falls back to comparing
against 1.5x the prior median. Queries present on only one side are
reported but never fail the check (the corpus grows every round).
When both files are bench.py detail records with per-query ``layers``,
each REGRESSION row gets one more line naming the layer field that
moved most (largest relative change).
"""

from __future__ import annotations

import json
import sys

FACTOR = 1.5

#: Absolute noise floor (seconds), round-10 verdict item 4: a sub-second
#: row whose prior spread max is 0.3 s trips the 1.5x bound on 0.16 s of
#: scheduler jitter — pure noise. A row now regresses only if it is BOTH
#: past 1.5x the prior spread max AND at least this much slower in
#: absolute terms. Multi-second rows are unaffected (their 1.5x headroom
#: already exceeds the floor).
ABS_FLOOR = 0.25

#: Per-query ``layers`` fields searched for the one that moved most.
LAYER_FIELDS = ("build_s", "build_jobs", "action_s", "cpu_s", "shuffle_write_bytes")


def load_payload(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    if "parsed" in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    if not isinstance(d, dict) or "queries" not in d:
        raise SystemExit(
            f"{path}: no parseable bench payload (driver wrapper with "
            "parsed:null? point at a bench.py sidecar instead)"
        )
    return d


def flatten(p: dict) -> tuple[dict[str, float], dict[str, list[float]]]:
    meds = dict(p.get("queries", {}))
    meds.update(p.get("extended", {}))
    spreads = dict(p.get("spread", {}))
    spreads.update(p.get("extended_spread", {}))
    return meds, spreads


def moved_layer(cur: dict, prev: dict) -> str | None:
    """``"field prev -> cur"`` for the layer field with the largest
    relative change between two per-query layer records."""
    best = None
    for k in LAYER_FIELDS:
        if k in cur and k in prev:
            a, b = prev[k], cur[k]
            rel = abs(b - a) / max(abs(a), 1e-9)
            if best is None or rel > best[0]:
                best = (rel, f"{k} {a} -> {b}")
    return best and best[1]


def main() -> None:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    cur_p, prev_p = load_payload(sys.argv[1]), load_payload(sys.argv[2])
    cur_meds, _ = flatten(cur_p)
    prev_meds, prev_spreads = flatten(prev_p)
    cur_layers, prev_layers = cur_p.get("layers", {}), prev_p.get("layers", {})

    regressions = []
    print(f"{'query':36} {'prev':>8} {'bound':>8} {'cur':>8}  verdict")
    for name in sorted(cur_meds):
        cur = cur_meds[name]
        if name not in prev_meds:
            print(f"{name:36} {'-':>8} {'-':>8} {cur:8.3f}  NEW (not checked)")
            continue
        prev = prev_meds[name]
        hi = prev_spreads.get(name, [prev, prev])[1]
        bound = round(max(FACTOR * hi, hi + ABS_FLOOR), 3)
        ok = cur <= bound
        print(
            f"{name:36} {prev:8.3f} {bound:8.3f} {cur:8.3f}  "
            f"{'ok' if ok else 'REGRESSION'}"
        )
        if not ok:
            regressions.append((name, prev, bound, cur))
            if name in cur_layers and name in prev_layers:
                moved = moved_layer(cur_layers[name], prev_layers[name])
                if moved:
                    print(f"{'':36} moved most: {moved}")
    for name in sorted(set(prev_meds) - set(cur_meds)):
        print(f"{name:36} {prev_meds[name]:8.3f} {'-':>8} {'-':>8}  DROPPED")

    if regressions:
        print(f"\n{len(regressions)} regression(s) past {FACTOR}x prior spread max:")
        for name, prev, bound, cur in regressions:
            print(f"  {name}: {prev} -> {cur} (bound {bound})")
        sys.exit(1)
    print("\nno regressions past the tripwire")


if __name__ == "__main__":
    main()
