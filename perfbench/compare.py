"""Compare sets of perfbench runs.

Each argument is a set of runs: a directory (every file in it) or a
file holding the standard output of ``perfbench/run.py`` runs.  Each
run contributes its ``perfbench-record`` line.

    python3 perfbench/compare.py RUNS_A [RUNS_B]

For every workload × metric the command prints the median and
quartiles of each set and the spread (quartile distance over median).
For an end-to-end metric it marks whether the spread is within the
metric's bound in ``BENCHMARK.json`` and, given two sets, whether set
B's median is no worse than set A's by more than that bound.  For
per-layer counts (units ``count`` and ``bytes``) it flags any that do
not repeat exactly across a set's runs: only exact counts can carry a
claim.  Where a set holds both untraced and traced runs of a workload,
it reports the tracing overhead on each end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics

from run import RECORD_PREFIX

HERE = os.path.dirname(os.path.abspath(__file__))
COUNT_UNITS = ("count", "bytes")


def load_records(path: str) -> list[dict]:
    files = (
        [os.path.join(path, f) for f in sorted(os.listdir(path))] if os.path.isdir(path) else [path]
    )
    records = []
    for f in files:
        with open(f, errors="replace") as fh:
            for line in fh:
                if line.startswith(RECORD_PREFIX):
                    records.append(json.loads(line[len(RECORD_PREFIX) :]))
    return records


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, q2, q3 = quartiles(values)
    if q3 == q1:
        return 0.0
    return (q3 - q1) / q2 if q2 else float("inf")


def series(records: list[dict], workload: str, trace: int, group: str, name: str) -> list[float]:
    return [
        r[group][name]
        for r in records
        if r["workload"] == workload and r["trace"] == trace and r[group].get(name) is not None
    ]


def worse_by(a: float, b: float, better: str) -> float:
    """How much worse b is than a, as a share of a (negative = better)."""
    if a == 0:
        return 0.0
    return (b - a) / a if better == "lower" else (a - b) / a


def main() -> None:
    ap = argparse.ArgumentParser(description="Compare sets of perfbench runs.")
    ap.add_argument("runs", nargs="+", help="one or two run sets (directory or file)")
    ap.add_argument("--spec", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args()
    if len(args.runs) > 2:
        ap.error("give one or two run sets")
    with open(args.spec) as f:
        spec = json.load(f)
    sets = [load_records(p) for p in args.runs]
    workloads = [w["name"] for w in spec["workloads"]]
    fmt = "{:<14} {:<30} {:>12} {:>12} {:>12} {:>8}  {}"

    for wl in workloads:
        print(f"== {wl}")
        print(fmt.format("set", "metric", "q1", "median", "q3", "spread", "verdict"))
        for m in spec["end_to_end"]:
            medians = []
            for i, recs in enumerate(sets):
                vals = series(recs, wl, 0, "e2e", m["name"])
                if not vals:
                    continue
                q1, q2, q3 = quartiles(vals)
                medians.append(q2)
                s = spread(vals)
                verdict = f"n={len(vals)} spread {'ok' if s <= m['bound'] else 'OVER'} bound {m['bound']}"
                if m["name"] == "setup_s":
                    verdict = f"n={len(vals)} (spread not bounded)"
                if i == 1 and len(medians) == 2:
                    w = worse_by(medians[0], medians[1], m["better"])
                    verdict += f"; B vs A {w:+.1%} worse, {'within' if w <= m['bound'] else 'OUTSIDE'} bound"
                print(fmt.format("AB"[i], f"{m['name']} [{m['unit']}]", f"{q1:.5g}", f"{q2:.5g}", f"{q3:.5g}", f"{s:.1%}", verdict))
        for m in spec["per_layer"]:
            for i, recs in enumerate(sets):
                vals = series(recs, wl, 1, "layers", m["name"])
                if not vals:
                    continue
                q1, q2, q3 = quartiles(vals)
                note = f"n={len(vals)}"
                if m["unit"] in COUNT_UNITS:
                    note += " exact" if len(set(vals)) == 1 else f" NOT EXACT {sorted(set(vals))[:6]}"
                print(fmt.format("AB"[i], f"{m['name']} [{m['unit']}]", f"{q1:.5g}", f"{q2:.5g}", f"{q3:.5g}", f"{spread(vals):.1%}", note))
        for i, recs in enumerate(sets):
            for m in spec["end_to_end"]:
                plain = series(recs, wl, 0, "e2e", m["name"])
                traced = series(recs, wl, 1, "e2e", m["name"])
                if plain and traced:
                    a, b = statistics.median(plain), statistics.median(traced)
                    print(f"   set {'AB'[i]} tracing overhead {m['name']}: {b - a:+.5g} {m['unit']} ({(b - a) / a:+.1%})")


if __name__ == "__main__":
    main()
