#!/usr/bin/env python
"""Union the driver's CORRECTNESS_r*.json artifacts against the live
queries() registry and report each query's LATEST driver evidence
(read by `__spark_entry__.latest_rows`, the same data
`__spark_entry__.verify_order` computes the driver's order from).

Prints one line per status bucket plus the stale backlog in
oldest-first order (the order the next round's prefix should re-green
them), and exits non-zero if any query's LATEST recorded row is red
or if a registry query has never been driver-checked AND is not in
the upcoming 50-row prefix.

Usage: python scripts/check_union.py [--repo <checkout dir>]
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    args = ap.parse_args()
    sys.path.insert(0, args.repo)

    import __spark_entry__ as entry

    ordered = list(entry.queries())
    latest = entry.latest_rows(args.repo)

    prefix = set(ordered[:50])
    red, never, by_round = [], [], {}
    for name in ordered:
        if name not in latest:
            never.append(name)
            continue
        rnd, ok = latest[name]
        if not ok:
            red.append((name, rnd))
        by_round.setdefault(rnd, []).append(name)

    print(f"registry queries: {len(ordered)}")
    for rnd in sorted(by_round):
        print(f"  latest-green r{rnd}: {len(by_round[rnd])}")
    print(f"  never driver-checked: {len(never)} "
          f"({sum(1 for n in never if n in prefix)} in the next prefix)")
    if never:
        print("    " + ", ".join(never))
    if red:
        print(f"RED latest rows: {red}")
    stale_rounds = sorted(by_round)[:-1] if len(by_round) > 1 else []
    backlog = [n for r in stale_rounds for n in by_round[r]
               if n not in prefix]
    if backlog:
        print(f"stale backlog outside the next prefix ({len(backlog)}, "
              "oldest first):")
        for r in stale_rounds:
            names = [n for n in by_round[r] if n not in prefix]
            if names:
                print(f"  r{r}: " + ", ".join(names))

    bad_never = [n for n in never if n not in prefix]
    sys.exit(1 if (red or bad_never) else 0)


if __name__ == "__main__":
    main()
