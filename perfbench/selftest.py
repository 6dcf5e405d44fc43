"""Self-test of the benchmark itself, at the smallest input sizes.

    python3 perfbench/selftest.py

For each workload it checks that
  * a --trace 0 run prints every end-to-end metric of BENCHMARK.json, and a
    --trace 1 run every per-layer metric, each with its declared unit, and
    that both runs pass their output checks;
  * a planted corruption (one edge dropped before the output check) is
    counted as a failure and makes the run incorrect;
and for build_bulk that a 1-core build (taskset -c 0, local[1]) writes the
same graph, row for row, as the 4-core build.
Exits 0 when every assertion holds. Takes several minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run(workload: str, trace: int, *extra: str, prefix=()) -> tuple:
    cmd = [*prefix, sys.executable, str(BENCH / "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} exited {p.returncode}:\n{p.stderr}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    side = json.loads((BENCH / "out" /
                       f"last_{workload}_trace{trace}.json").read_text())
    return result, side


def check_metrics(result: dict, declared: list, what: str) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    assert set(got) == set(want), f"{what}: metric names {sorted(got)}"
    for name, unit in want.items():
        assert got[name]["unit"] == unit, f"{what}: {name} unit"
        assert isinstance(got[name]["value"], (int, float)), name


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for wl in (w["name"] for w in spec["workloads"]):
        result, side = run(wl, 0)
        check_metrics(result, spec["end_to_end"], f"{wl} trace 0")
        assert result["correct"] and result["failed"] == 0, side["failures"]
        digest_4 = side["detail"]["graph_digest"]

        result, side = run(wl, 1)
        check_metrics(result, spec["per_layer"], f"{wl} trace 1")
        assert result["correct"] and result["failed"] == 0, side["failures"]

        result, side = run(wl, 0, "--drop-one-edge")
        assert not result["correct"], f"{wl}: planted corruption passed"
        assert result["failed"] >= 1, f"{wl}: planted corruption not counted"
        print(f"{wl}: metrics, units and corruption detection ok "
              f"({result['failed']}/{result['attempted']} failed as planted)")

        if wl == "build_bulk":
            _, side = run(wl, 0, "--cores", "1", prefix=("taskset", "-c", "0"))
            assert side["detail"]["graph_digest"] == digest_4, \
                "1-core and 4-core graphs differ"
            print(f"{wl}: 1-core and 4-core graphs identical")
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
