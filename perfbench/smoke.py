"""Smoke test of the benchmark harness at tiny sizes.

    python3 perfbench/smoke.py

Run from the root of a checkout (about five minutes on 4 cores). It checks
that, for every workload in ``BENCHMARK.json``:

- an untraced run exits 0, passes its correctness gate, and prints every
  end-to-end metric by name with the unit ``BENCHMARK.json`` gives it;
- a traced run does the same for every per-layer metric, and records
  spans, while the untraced run records none;

and that the gate is live and the harness refuses to run without the
engine:

- a run whose gate sees a copy of the table with one manifest entry
  dropped (``--corrupt``) exits non-zero with ``correct: false``;
- a directory holding only ``BENCHMARK.json`` and the benchmark's files
  makes the run exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
SCALE = "0.05"
SECONDS = "2"


def run(workload: str, *extra: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", SECONDS, "--scale", SCALE, *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def check_metrics(result: dict, spec: list[dict], what: str) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    assert set(got) == set(want), f"{what}: metrics {sorted(set(got) ^ set(want))} differ"
    for name, unit in want.items():
        assert got[name]["unit"] == unit, f"{what}: {name} unit {got[name]['unit']} != {unit}"
        assert isinstance(got[name]["value"], (int, float)), f"{what}: {name} is not a number"


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, spec in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            code, lines = run(wl, "--trace", trace)
            assert code == 0, f"{wl} trace={trace}: exit {code}\n" + "\n".join(lines[-3:])
            detail, result = json.loads(lines[-2]), json.loads(lines[-1])
            assert result["correct"] and result["failed"] == 0, (wl, detail["errors"])
            assert result["attempted"] >= 1
            check_metrics(result, spec, f"{wl} trace={trace}")
            assert (detail["spans_recorded"] > 0) == (trace == "1"), (wl, trace, detail["spans_recorded"])
            if trace == "0":
                assert all(v["value"] > 0 for v in result["metrics"].values()), (wl, result["metrics"])
            print(f"ok  {wl} trace={trace}: {len(result['metrics'])} metrics, gate passed")

    wl = bench["workloads"][0]["name"]
    code, lines = run(wl, "--trace", "0", "--corrupt")
    result = json.loads(lines[-1])
    assert code != 0 and not result["correct"] and result["failed"] >= 1, (code, lines[-2:])
    print(f"ok  {wl} --corrupt: gate failed the run ({json.loads(lines[-2])['errors']})")

    bare = HERE / ".work" / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    try:
        code, lines = run(wl, "--trace", "0", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not any(line.startswith("{") for line in lines), (code, lines)
    print(f"ok  without the engine: exit {code}, no result printed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
