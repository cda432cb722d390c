"""Self-tests of the benchmark itself (not of the package).

    python3 perfbench/selftest.py

1. The generator writes byte-identical inputs for one seed, other ones for
   another seed.
2. A tiny-input run of each workload exits 0, reports ``correct`` and
   prints exactly the metric names BENCHMARK.json lists (traced for one
   workload, untraced for the other).
3. A run whose expected digests are deliberately wrong exits non-zero and
   reports ``correct: false``: the correctness gate can fail.
4. In a directory holding only BENCHMARK.json and the benchmark's files the
   benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import filecmp
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

TINY = {"ingest": "0.02", "curation_ops": "0.1"}


def same_tree(a: Path, b: Path) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(a / d, b / d) for d in cmp.common_dirs)


def check_generator(tmp: Path) -> None:
    for seed, name in ((7, "a"), (7, "b"), (8, "c")):
        gen.main(["--seed", str(seed), "--out", str(tmp / name), "--scale", "0.05"])
    assert same_tree(tmp / "a", tmp / "b"), "same seed gave different inputs"
    assert not same_tree(tmp / "a", tmp / "c"), "different seeds gave the same inputs"


def bench(args: list[str], cwd: Path = ROOT, corrupt: bool = False) -> tuple[int, list[str]]:
    code = ("import sys; sys.path.insert(0, 'perfbench'); import run; "
            f"sys.exit(run.main({args!r}, corrupt={corrupt}))")
    p = subprocess.run([sys.executable, "-c", code], cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def check_smoke() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for workload, trace in (("ingest", "0"), ("curation_ops", "1")):
        rc, lines = bench(["--workload", workload, "--seed", "3", "--seconds", "1",
                           "--trace", trace, "--scale", TINY[workload]])
        result = json.loads(lines[-1])
        assert rc == 0 and result["correct"] and result["failed"] == 0, (workload, lines[-2:])
        want = {m["name"]: m["unit"] for m in spec["end_to_end" if trace == "0" else "per_layer"]}
        have = {k: v["unit"] for k, v in result["metrics"].items()}
        assert have == want, (workload, set(have) ^ set(want))


def check_gate_fails() -> None:
    for workload in ("ingest", "curation_ops"):
        rc, lines = bench(["--workload", workload, "--seed", "3", "--seconds", "1",
                           "--trace", "0", "--scale", TINY[workload]], corrupt=True)
        result = json.loads(lines[-1])
        assert rc != 0 and not result["correct"] and result["failed"] > 0, (workload, lines[-2:])


def check_bare_directory(tmp: Path) -> None:
    bare = tmp / "bare"
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    p = subprocess.run([sys.executable, f"{HERE.name}/run.py", "--workload", "ingest", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True,
                       text=True, timeout=180)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout[-300:])


def main() -> int:
    (ROOT / ".perfbench_work").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench_work") as tmp:
        tmp = Path(tmp)
        for name, fn in (("generator is deterministic", lambda: check_generator(tmp)),
                         ("bare directory fails", lambda: check_bare_directory(tmp)),
                         ("tiny runs are correct", check_smoke),
                         ("wrong expected digests fail the run", check_gate_fails)):
            fn()
            print(f"ok  {name}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
