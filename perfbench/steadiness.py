"""Steadiness report over sets of benchmark runs.

    python3 perfbench/steadiness.py perfbench/evidence/set1.jsonl
    python3 perfbench/steadiness.py set1.jsonl set2.jsonl [traced.jsonl]

For every workload and end-to-end metric of each set (a JSONL file
written by ``sweep.py``) it prints the median, the quartiles, min and
max, and the spread: the inter-quartile distance as a share of the
median. A spread must stay within the metric's bound in BENCHMARK.json,
``setup_s``'s too; the target is a third of the bound. Given two
sets, it also checks that the second set's median is not worse than
the first's by more than the bound. Traced runs (``--trace 1``) in
any file give the tracing overhead: their ``traced.light_s`` and
``traced.heavy_s`` medians against the first set's ``light_s`` and
``heavy_s``. Exits 1 when a check fails.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.stats import quartiles  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def load_set(path: str, traced: int = 0) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values, from the runs of a file with the
    given ``--trace`` setting."""
    out: dict[str, dict[str, list[float]]] = {}
    for line in Path(path).read_text().splitlines():
        rec = json.loads(line)
        if rec.get("trace", 0) != traced or not rec.get("result"):
            continue
        for name, m in rec["result"]["metrics"].items():
            out.setdefault(rec["workload"], {}).setdefault(name, []).append(
                m["value"])
    return out


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of
    ``first`` (negative when it is better)."""
    delta = (second - first) if better == "lower" else (first - second)
    return delta / first


def report(sets: list[dict], metrics: list[dict]) -> tuple[list[str], bool]:
    lines, ok = [], True
    workloads = sorted({w for s in sets for w in s})
    for w in workloads:
        lines.append(f"== {w}")
        lines.append(f"{'metric':12s} {'set':>3s} {'n':>3s} {'median':>11s} "
                     f"{'q1':>11s} {'q3':>11s} {'min':>11s} {'max':>11s} "
                     f"{'spread':>7s} {'bound':>6s}  verdict")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            medians = []
            for i, s in enumerate(sets, start=1):
                vals = s.get(w, {}).get(name, [])
                if len(vals) < 2:
                    lines.append(f"{name:12s} {i:3d} {len(vals):3d}  too few runs")
                    ok = False
                    continue
                q1, med, q3 = quartiles(vals)
                medians.append(med)
                spread = (q3 - q1) / med
                if spread > bound:
                    verdict, ok = "FAIL: spread over bound", False
                elif spread > bound / 3:
                    verdict = "within bound, above target"
                else:
                    verdict = "ok"
                lines.append(
                    f"{name:12s} {i:3d} {len(vals):3d} {med:11.5g} {q1:11.5g} "
                    f"{q3:11.5g} {min(vals):11.5g} {max(vals):11.5g} "
                    f"{spread:7.3f} {bound:6.3f}  {verdict}")
            if len(medians) == 2:
                shift = worse_by(medians[0], medians[1], m["better"])
                agree = shift <= bound
                ok &= agree
                lines.append(f"{name:12s}  set 2 vs set 1: worse by {shift:+.3f}"
                             f" (bound {bound})  {'agree' if agree else 'FAIL'}")
    return lines, ok


def overhead(untraced: dict, traced: dict) -> list[str]:
    lines = ["== tracing overhead (traced median / untraced median - 1)"]
    for w in sorted(traced):
        for cls in ("light_s", "heavy_s"):
            t = traced[w].get(f"traced.{cls}", [])
            u = untraced.get(w, {}).get(cls, [])
            if t and u:
                ratio = statistics.median(t) / statistics.median(u) - 1
                lines.append(f"{w:10s} {cls:8s} n={len(t)} vs {len(u)}: {ratio:+.3f}")
    return lines


def main(argv=None) -> int:
    paths = (argv if argv is not None else sys.argv[1:])
    sets = [s for s in (load_set(p) for p in paths) if s]
    if not paths or not 1 <= len(sets) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    metrics = json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]
    lines, ok = report(sets, metrics)
    traced: dict = {}
    for p in paths:
        for w, ms in load_set(p, traced=1).items():
            for name, vals in ms.items():
                traced.setdefault(w, {}).setdefault(name, []).extend(vals)
    if traced:
        lines += overhead(sets[0], traced)
    print("\n".join(lines))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
