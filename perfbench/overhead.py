"""Tracing overhead: the same workload and seed run untraced, then traced.

    python3 perfbench/overhead.py --workload ingest --seed 1

Prints the untraced ``pass_s`` (wall time of one pass, from the detail line),
the traced ``trace.pass_s``, their difference, and the traced run's own
bookkeeping time (``trace.self_s``).
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def metrics(workload: str, seed: int, trace: int) -> dict:
    """The run's metrics, plus its detail line's numbers."""
    p = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    *_, detail, result = p.stdout.splitlines()
    values = {k: v for k, v in json.loads(detail)["detail"].items() if isinstance(v, float)}
    values.update({k: v["value"] for k, v in json.loads(result)["metrics"].items()})
    return values


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    a = p.parse_args()
    plain = metrics(a.workload, a.seed, 0)
    traced = metrics(a.workload, a.seed, 1)
    print(json.dumps({
        "workload": a.workload,
        "seed": a.seed,
        "pass_s": plain["pass_s"],
        "traced_pass_s": traced["trace.pass_s"],
        "overhead_s": traced["trace.pass_s"] - plain["pass_s"],
        "tracer_self_s": traced["trace.self_s"],
    }))


if __name__ == "__main__":
    main()
