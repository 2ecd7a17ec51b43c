"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records as ``run.py`` writes them to
``.perfbench/runs/`` (copy them aside between the two commits). Untraced
records only are compared. For every workload × metric (end-to-end,
family and per-op figures; all lower-is-better) it prints each side's
median and quartiles, the paired win share of the new side (runs paired
by seed; ties count for neither side) and a verdict by the rule of the
choosing-metrics guide: a gain needs wins in at least nine tenths of the
pairs and a median difference larger than the base's own quartile
spread.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(path: str) -> dict[tuple[str, int], list[dict]]:
    runs: dict[tuple[str, int], list[dict]] = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            rec = json.load(fh)
        if rec.get("trace"):
            continue
        runs.setdefault((rec["workload"], rec["seed"]), []).append(rec)
    return runs


def figures(rec: dict) -> dict[str, float]:
    out = dict(rec["e2e"])
    out.update((k, v) for k, v in rec["families"].items() if k.endswith("_s"))
    out.update((f"op.{k}", v) for k, v in rec["ops"].items())
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def compare(base: dict, new: dict) -> list[dict]:
    rows = []
    for wl in sorted({w for w, _ in base} | {w for w, _ in new}):
        seeds = sorted({s for w, s in base if w == wl} & {s for w, s in new if w == wl})
        b_recs = [r for (w, _), rs in base.items() if w == wl for r in rs]
        n_recs = [r for (w, _), rs in new.items() if w == wl for r in rs]
        if not b_recs or not n_recs:
            continue
        metrics = sorted(set(figures(b_recs[0])) & set(figures(n_recs[0])))
        for m in metrics:
            bv = [figures(r)[m] for r in b_recs]
            nv = [figures(r)[m] for r in n_recs]
            wins = losses = 0
            for s in seeds:
                b = statistics.median(figures(r)[m] for r in base[(wl, s)])
                n = statistics.median(figures(r)[m] for r in new[(wl, s)])
                wins += n < b
                losses += n > b
            bq, nq = quartiles(bv), quartiles(nv)
            share = wins / len(seeds) if seeds else float("nan")
            spread = bq[2] - bq[0]
            diff = nq[1] - bq[1]
            if seeds and share >= 0.9 and -diff > spread:
                verdict = "gain"
            elif seeds and losses / len(seeds) >= 0.9 and diff > spread:
                verdict = "loss"
            else:
                verdict = "-"
            rows.append({"workload": wl, "metric": m, "base": bq, "new": nq,
                         "pairs": len(seeds), "win_share": share, "verdict": verdict})
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    rows = compare(load(argv[0]), load(argv[1]))
    print(f"{'workload':<14} {'metric':<34} {'base q1/med/q3':>26} {'new q1/med/q3':>26} "
          f"{'pairs':>5} {'wins':>5} verdict")
    for r in rows:
        b = "/".join(f"{x:.4g}" for x in r["base"])
        n = "/".join(f"{x:.4g}" for x in r["new"])
        print(f"{r['workload']:<14} {r['metric']:<34} {b:>26} {n:>26} "
              f"{r['pairs']:>5} {r['win_share']:>5.2f} {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
