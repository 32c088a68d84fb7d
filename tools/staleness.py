"""Per-query driver-row staleness report.

The external driver verifies only a ~50-name prefix window of
``queries()`` each round, so individual queries accumulate "staleness"
— rounds since their latest CORRECTNESS_r*.json row.  The round-9
judge computed this by hand to find 36 six-round-stale names; this
tool makes it a one-command check for the round-end checklist.

Usage:  python tools/staleness.py [--repo DIR] [--max-age N]

Prints one line per registered query: latest driver round (or NEVER),
status in that row, sorted oldest-first; then a summary histogram.
Exit code 1 if any registered query's latest row is older than
``--max-age`` rounds behind the newest CORRECTNESS file (default: no
gate, report only).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path


def row_status(row: dict) -> str:
    if row.get("err"):
        return "ERR"
    if row.get("hash_match") is True:
        return "pass"
    if row.get("rows_match") is True:
        return "rows-only"
    return "FAIL"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=str(Path(__file__).resolve().parent.parent))
    ap.add_argument("--max-age", type=int, default=None,
                    help="exit 1 if any query is staler than N rounds")
    args = ap.parse_args()
    repo = Path(args.repo)

    sys.path.insert(0, str(repo))
    from clickhub_spark.plans import all_specs  # noqa: PLC0415
    from clickhub_spark.plans.registry import latest_rows, load_rounds  # noqa: PLC0415

    rounds = load_rounds(repo)
    if not rounds:
        print("no CORRECTNESS_r*.json files found", file=sys.stderr)
        return 2
    newest = max(rounds)
    latest = latest_rows(rounds)
    names = list(all_specs())

    rows = []
    for name in names:
        if name in latest:
            rnd, row = latest[name]
            rows.append((rnd, name, row_status(row)))
        else:
            rows.append((-1, name, "NEVER"))
    rows.sort(key=lambda t: (t[0], t[1]))

    hist: dict[int, int] = {}
    for rnd, name, status in rows:
        label = f"r{rnd}" if rnd >= 0 else "NEVER"
        print(f"{label:>6}  {status:<9}  {name}")
        hist[rnd] = hist.get(rnd, 0) + 1

    print("---")
    for rnd in sorted(hist):  # numeric: r10 sorts after r9, NEVER first
        label = f"r{rnd}" if rnd >= 0 else "NEVER"
        print(f"{label:>6}: {hist[rnd]}")
    print(f"registered: {len(names)}  newest driver round: r{newest}")

    if args.max_age is not None:
        stale = [(r, n) for r, n, _ in rows if r < 0 or newest - r > args.max_age]
        if stale:
            print(f"STALE (> {args.max_age} rounds): {len(stale)}")
            return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
