"""One command for every workload.

    python3 perfbench/report.py [--seed N] [--seconds S] [--trace]

Runs each workload (``http_stream``, ``detect_batch``, ``corpus_batch``)
in its own fresh process through ``run.py`` and prints one table row per
workload: set-up time, the end-to-end metrics, ``failed_ops_ratio`` and
the correctness verdict. With ``--trace`` it also makes one traced run
per workload and prints the tracing overhead, traced minus untraced, for
each end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from run import END_TO_END, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    cols = list(END_TO_END)
    print("workload      " + " ".join(f"{c:>15}" for c in cols)
          + "  failed_ops_ratio  correct")
    for wl in WORKLOADS:
        r = run_once(wl, a.seed, a.seconds, 0)
        m = r["metrics"]
        ratio = r["failed"] / r["attempted"]
        print(f"{wl:<13} " + " ".join(f"{m[c]['value']:.4g} {m[c]['unit']}".rjust(15)
                                      for c in cols)
              + f"  {ratio:>16.4g}  {r['correct']}")
        if a.trace:
            t = run_once(wl, a.seed, a.seconds, 1)
            print(f"{'  overhead':<13} " + " ".join(
                f"{t['metrics']['traced.' + c]['value'] - m[c]['value']:>+15.4g}"
                for c in cols) + f"  {'':>16}  {t['correct']}")


if __name__ == "__main__":
    main()
