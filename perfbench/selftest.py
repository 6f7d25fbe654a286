"""Quick self-test of the benchmark: tiny sizes, every workload, both modes.

    python3 perfbench/selftest.py

Checks that each run exits 0, that its last stdout line is the result
object with exactly the expected keys, that every correctness check
passed, and that the metric names and units equal those declared in
``BENCHMARK.json`` (end-to-end with ``--trace 0``, per-layer with
``--trace 1``). Spark's fixed start-up cost dominates: about a minute
per run.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def check(workload: str, trace: int, declared: dict) -> list[str]:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: keys {sorted(out)}")
    if not out.get("correct") or out.get("failed") != 0 or out.get("attempted", 0) < 1:
        errors.append(f"{where}: correct={out.get('correct')} failed={out.get('failed')}")
    want = {m["name"]: m["unit"] for m in declared["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out.get("metrics", {}).items()}
    if got != want:
        errors.append(f"{where}: metrics differ: missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}, "
                      f"units {sorted(k for k in want if k in got and got[k] != want[k])}")
    return errors


def main() -> int:
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors = []
    for w in declared["workloads"]:
        for trace in (0, 1):
            errors += check(w["name"], trace, declared)
            print(f"selftest: {w['name']} --trace {trace} done", file=sys.stderr)
    for e in errors:
        print("selftest: FAIL", e, file=sys.stderr)
    print("selftest: ok" if not errors else f"selftest: {len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
