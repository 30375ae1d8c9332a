"""Tiny-size smoke check of the benchmark: every workload (the ones
BENCHMARK.json lists and the focused ones they fold), untraced and
traced, at a small input scale. Asserts the run succeeds, its answers
are correct, the last line carries every end-to-end (or per-layer)
metric of BENCHMARK.json as a number with its unit, and the report names
every metric with its unit.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(Path(__file__).resolve().parent))

from metrics import E2E, LAYERS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    listed = [w["name"] for w in spec["workloads"]]
    for w in listed + [w for w in WORKLOADS if w not in listed]:
        for trace in (0, 1):
            cmd = [*spec["command"], "--workload", w, "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--scale", "0.05"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert out.returncode == 0, out.stderr[-3000:]
            lines = out.stdout.strip().splitlines()
            last = json.loads(lines[-1])
            assert set(last) == {"correct", "attempted", "failed", "metrics"}, last
            assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1, lines
            want = spec["per_layer" if trace else "end_to_end"]
            assert set(last["metrics"]) == {m["name"] for m in want}, last["metrics"]
            for m in want:
                got = last["metrics"][m["name"]]
                assert got["unit"] == m["unit"], (m, got)
                assert isinstance(got["value"], (int, float)), (m, got)
            report = "\n".join(lines[:-1])
            for name, unit in {**E2E, **(LAYERS if trace else {})}.items():
                assert any(name in ln and ln.rstrip().endswith(" " + unit) for ln in lines[:-1]), (name, report)
            print(f"ok {w} trace={trace}: {len(last['metrics'])} metrics, {last['attempted']} ops")


if __name__ == "__main__":
    main()
