"""Run the benchmark over several seeds and keep every run's record.

    python3 perfbench/sweep.py --seeds 1-10 --out perfbench/evidence/set1.jsonl
    python3 perfbench/sweep.py --workloads sql_write --seeds 1-5 --trace 1 --out t.jsonl

Each run is a fresh ``perfbench/run.py`` process, run one after another
(never concurrently: runs would share the cores they measure). One
JSON line per run is appended to ``--out``: workload, seed, exit code,
wall time, the environment record, the summary and the result.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def tagged(lines: list[str], tag: str):
    for line in lines:
        if line.startswith(tag + " "):
            return json.loads(line[len(tag) + 1:])
    return None


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        result = json.loads(lines[-1])
    return {
        "workload": workload, "seed": seed, "trace": trace,
        "returncode": proc.returncode, "wall_s": time.perf_counter() - t,
        "env": tagged(lines, "perfbench-env"),
        "summary": tagged(lines, "perfbench-summary"),
        "result": result,
        "stderr_tail": proc.stderr.strip().splitlines()[-5:]
        if proc.returncode else [],
    }


def main(argv=None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    out = Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    bad = 0
    # seeds outer, workloads inner: host drift hits every workload alike
    for seed in parse_seeds(args.seeds):
        for workload in args.workloads.split(","):
            rec = run_one(workload, seed, args.seconds, args.trace)
            with out.open("a") as f:
                f.write(json.dumps(rec) + "\n")
            res = rec["result"] or {}
            ok = rec["returncode"] == 0 and res.get("correct")
            bad += not ok
            print(f"{workload} seed={seed} rc={rec['returncode']} "
                  f"wall={rec['wall_s']:.1f}s correct={res.get('correct')} "
                  f"failed={res.get('failed')}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
