#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and then traced on the
same seed, and print traced minus untraced for each end-to-end metric.

    python3 perfbench/overhead.py --workload serve_ingest_20k --seed 1 --seconds 4
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _end_to_end(args, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    if trace:
        line = next(x for x in out if x.startswith('# {"end_to_end_traced"'))
        return json.loads(line[2:])["end_to_end_traced"]
    return {k: v["value"] for k, v in json.loads(out[-1])["metrics"].items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    plain, traced = _end_to_end(args, 0), _end_to_end(args, 1)
    print(json.dumps({k: {"untraced": plain[k], "traced": traced[k],
                          "overhead": traced[k] - plain[k]} for k in plain}, indent=1))


if __name__ == "__main__":
    main()
