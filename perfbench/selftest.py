"""Negative self-test: corrupted output and raising passes must be caught.

  python3 perfbench/selftest.py [--workload extract_hot|pipeline_job]

Runs the benchmark twice on the workload:

- ``--inject corrupt``: one sampled conversation's cleaned text is
  upper-cased on its way to the sink.  The result must say
  ``correct: false`` with every pass failed and ``turn_equality`` < 1.
- ``--inject raise``: every pass raises.  The benchmark must still print
  its result line, with ``correct: false``, every pass failed and no
  metrics.

Exits 0 when both are caught.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, inject: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1",
         "--trace", "0", "--inject", inject],
        capture_output=True, text=True, timeout=300,
    )
    if out.returncode != 0:
        print(out.stderr[-3000:], file=sys.stderr)
        return {"inject": inject, "caught": False,
                "error": f"benchmark exited with {out.returncode}"}
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    caught = (not result["correct"] and result["attempted"] > 0
              and result["failed"] == result["attempted"])
    if inject == "corrupt":
        caught = caught and detail["turn_equality"] < 1.0
    else:
        caught = caught and result["metrics"] == {}
    return {"inject": inject, "caught": caught,
            "attempted": result["attempted"], "failed": result["failed"],
            "error_rate": detail["error_rate"],
            "turn_equality": detail["turn_equality"],
            "problems": detail["problems"][:1]}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", default="extract_hot",
                   choices=["extract_hot", "pipeline_job"])
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    results = [run(args.workload, args.seed, inject)
               for inject in ("corrupt", "raise")]
    for r in results:
        print(json.dumps(r))
    return 0 if all(r["caught"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
