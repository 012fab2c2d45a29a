"""Per-query regression accounting between two bench artifacts.

Diffs the per-query medians of two runs and lists every regression above
the threshold, with the newer run's recorded rep spread beside it, so a
"regression" inside the rep spread reads as weather, not a defect.

    python tools/bench_diff.py OLD.json NEW.json
    python tools/bench_diff.py bench_archive/BENCH_FULL_r17.json BENCH_LAST.json
    python tools/bench_diff.py OLD.json NEW.json --threshold 0.5

Either side may be a full artifact (BENCH_LAST.json or a copy of one, such
as bench_archive/*.json) or a per-round record (BENCH_rNN.json), whose bench
line sits under "parsed" and carries only the slowest queries. Two runs at
different scale factors are refused. Prints a markdown table (for NOTES.md)
plus one JSON summary line. Queries present in only one run are listed
separately (added/removed), never as regressions.
"""

from __future__ import annotations

import argparse
import json


def _load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    d = d.get("parsed") or d
    if not isinstance(d, dict) or "queries" not in d:
        raise SystemExit(
            f"{path} has no per-query map (per-round record with a truncated or "
            "unparsed bench line) — cannot diff it"
        )
    return d


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old", help="the baseline artifact")
    ap.add_argument("new", help="the artifact compared against it")
    ap.add_argument("--threshold", type=float, default=0.3,
                    help="relative slowdown that counts as a regression")
    args = ap.parse_args()

    old, new = _load(args.old), _load(args.new)
    if old.get("sf") != new.get("sf"):
        raise SystemExit(
            f"refusing to diff sf {old.get('sf')} ({args.old}) against "
            f"sf {new.get('sf')} ({args.new})"
        )
    oq, nq = old["queries"], new["queries"]
    spread = (new.get("noise") or {}).get("per_query_spread", {})

    shared = sorted(set(oq) & set(nq))
    regressions, improvements = [], []
    for name in shared:
        if not oq[name]:
            continue
        rel = (nq[name] - oq[name]) / oq[name]
        row = (name, oq[name], nq[name], rel, spread.get(name, 0.0))
        if rel > args.threshold:
            regressions.append(row)
        elif rel < -args.threshold:
            improvements.append(row)

    print(f"## bench diff {args.old} -> {args.new} "
          f"(sf {new.get('sf')}, {len(shared)} shared queries, "
          f"threshold {args.threshold:.0%})\n")
    if regressions:
        print("| query | old (s) | new (s) | delta | rep spread |")
        print("|---|---|---|---|---|")
        for name, a, b, rel, sp in sorted(regressions, key=lambda r: -r[3]):
            print(f"| {name} | {a} | {b} | +{rel:.0%} | {sp:.0%} |")
    else:
        print("no regressions above threshold")
    if improvements:
        print(f"\n{len(improvements)} queries improved by more than "
              f"{args.threshold:.0%}: "
              + ", ".join(f"{n} ({rel:+.0%})"
                          for n, _, _, rel, _ in
                          sorted(improvements, key=lambda r: r[3])))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    if added:
        print(f"\nadded: {', '.join(added)}")
    if removed:
        print(f"removed: {', '.join(removed)}")
    print()
    print(json.dumps({
        "old": args.old, "new": args.new, "sf": new.get("sf"),
        "shared": len(shared),
        "regressions": [r[0] for r in regressions],
        "improvements": [r[0] for r in improvements],
        "added": added, "removed": removed,
        "total_old": old.get("value"), "total_new": new.get("value"),
    }))


if __name__ == "__main__":
    main()
