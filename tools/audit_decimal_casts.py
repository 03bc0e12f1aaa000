"""Half-way-point audit for DECIMAL→DOUBLE cast sites (r7 verdict item 6).

The hazard class (observed live in r7's sprt_ab_conversion draft, see
NOTES_r7 / the parity-recipes notes): Spark's BigDecimal→double cast is
always correctly rounded, but DuckDB's wide-decimal (INT128) → double
conversion can double-round, so when a DECIMAL value lands essentially
ON the half-way point between two adjacent doubles the engines can
disagree by one ulp. The nano-lattice rewrite removed the cast class
from SPRT; this audit measures how close every REMAINING cast site's
output comes to a half-way point on real data.

Method, per registered oracle that contains a DECIMAL(p>18) cast and an
AS DOUBLE cast: run the oracle in DuckDB at the given SF, and for every
finite float64 output value x
  1. recover the decimal-lattice value v behind it (round x to the
     oracle's max decimal scale s; skip the value if v no longer rounds
     back to x — then x was produced by further double arithmetic, not
     a bare cast, and the cast-rounding question doesn't apply);
  2. compute the exact distances from v to the two rounding boundaries
     (x ± ulp/2) in Fraction arithmetic;
  3. record margin = min(distance)/ulp — the fraction of an ulp by
     which v clears the boundary. A margin of 0 is the SPRT trap; a
     margin below MARGIN_FLAG means the gate's agreement at this SF is
     luck, not safety, and the site should move to an integer lattice.

Exit 1 if any value is flagged. Writes a per-query summary to stdout;
record the run in NOTES_r8. Usage:
    python tools/audit_decimal_casts.py [sf_dir]
"""

from __future__ import annotations

import math
import os
import re
import sys
from fractions import Fraction

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipeline_query_engine_demo_spark.plans import registry  # noqa: E402
import __spark_entry__  # noqa: E402,F401  (imports register every query)
from tools.check_correctness import duckdb_views  # noqa: E402

#: Flag when the decimal value clears a double rounding boundary by less
#: than this fraction of an ulp. 1e-6 ulps is ~6 orders of magnitude
#: wider than any plausible engine disagreement window, so a pass means
#: "not even close", while normal data sits at margins ~0.01-0.5 ulp.
MARGIN_FLAG = 1e-6

_WIDE_DEC = re.compile(r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", re.IGNORECASE)


def audit_sites() -> dict[str, int]:
    """name -> max decimal scale, for oracles with wide-decimal + double casts."""
    sites: dict[str, int] = {}
    for name, spec in registry.REGISTRY.items():
        o = spec.oracle
        if not o or "AS DOUBLE" not in o.upper().replace("  ", " "):
            continue
        decs = [(int(p), int(s)) for p, s in _WIDE_DEC.findall(o)]
        if any(p > 18 for p, s in decs):
            sites[name] = max(s for p, s in decs)
    return sites


def margin_ulps(x: float, scale: int) -> float | None:
    """min distance from x's backing decimal to a rounding boundary, in ulps.

    None = x is not a bare cast of a scale-`scale` decimal (skip)."""
    if not math.isfinite(x) or x == 0.0:
        return None
    q = 10**scale
    v = Fraction(round(Fraction(x) * q), q)  # nearest lattice point
    ulp = Fraction(math.ulp(x))
    lo, hi = Fraction(x) - ulp / 2, Fraction(x) + ulp / 2
    if not (lo <= v <= hi):  # v wouldn't round back to x: not a bare cast
        return None
    return float(min(v - lo, hi - v) / ulp)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    con = duckdb_views(sf_dir)
    sites = audit_sites()
    print(f"{len(sites)} oracle(s) with wide-DECIMAL -> DOUBLE cast sites @ {sf_dir}")
    flagged: list[tuple[str, str, float, float]] = []
    worst: tuple[float, str, str] = (math.inf, "", "")
    n_checked = 0
    for name, scale in sorted(sites.items()):
        pdf = con.execute(registry.REGISTRY[name].oracle).fetchdf()
        q_min = math.inf
        q_n = 0
        for col in pdf.columns:
            if pdf[col].dtype != np.float64:
                continue
            for x in pdf[col].dropna().tolist():
                m = margin_ulps(float(x), scale)
                if m is None:
                    continue
                q_n += 1
                n_checked += 1
                if m < q_min:
                    q_min = m
                if m < worst[0]:
                    worst = (m, name, col)
                if m < MARGIN_FLAG:
                    flagged.append((name, col, float(x), m))
        status = "-" if q_n == 0 else f"min_margin={q_min:.3g} ulp over {q_n} vals"
        print(f"  {name:44} scale={scale:<3} {status}")
    print(
        f"\n{n_checked} cast values checked; worst margin "
        f"{worst[0]:.3g} ulp ({worst[1]}.{worst[2]})"
        if n_checked
        else "\nno bare-cast values found"
    )
    if flagged:
        print(f"{len(flagged)} EXPOSED cast value(s) (< {MARGIN_FLAG} ulp from a boundary):")
        for name, col, x, m in flagged:
            print(f"  {name}.{col} = {x!r}  margin {m:.3g} ulp")
        raise SystemExit(1)
    print("0 exposed casts")


if __name__ == "__main__":
    main()
