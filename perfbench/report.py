"""Run every workload once untraced and once traced, and print each
end-to-end metric with its unit, the per-layer metrics, and the tracing
overhead (traced minus untraced ``job_p50_s``).

    python3 perfbench/report.py --seed 1 --seconds 10

Each run is a separate ``run.py`` process, started with the same
arguments as a single benchmark run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ALL = ("mhw_batch", "mhw_append", "corpus_dedup")


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True,
                         cwd=os.path.dirname(HERE), timeout=900).stdout
    lines = [json.loads(x) for x in out.splitlines() if x.startswith("{")]
    return lines[-2]["info"], lines[-1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    for w in ALL:
        info, res = run(w, args.seed, args.seconds, 0)
        tinfo, tres = run(w, args.seed, args.seconds, 1)
        print(f"== {w}  correct={res['correct']} jobs={res['attempted']} "
              f"failed={res['failed']} item={info['item']}")
        for k, m in res["metrics"].items():
            print(f"  {k:<34} {m['value']:>14.6g} {m['unit']}")
        extra = {k: v for k, v in info.items() if k.startswith(("events", "job_p", "candidate", "finish"))}
        if extra:
            print(f"  {extra}")
        print(f"  -- traced run: correct={tres['correct']}")
        for k, m in tres["metrics"].items():
            if m["value"]:
                print(f"  {k:<34} {m['value']:>14.6g} {m['unit']}")
        overhead = tres["metrics"]["trace.job_p50_s"]["value"] - res["metrics"]["job_p50_s"]["value"]
        print(f"  {'tracing_overhead_s':<34} {overhead:>14.6g} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
