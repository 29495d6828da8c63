"""Smoke test of the benchmark itself, on tiny inputs (sf0.001 tables, a
2x replica, a 2-batch refresh, a small evidence input).

    python3 perfbench/smoke.py [workload ...]

For each workload it makes two runs of ``perfbench/run.py --size tiny``:

* untraced: the run is correct, and every end-to-end metric of
  ``BENCHMARK.json`` is in the result with its unit and printed by name,
  as are ``item_p50_s``, ``item_tail_s``, ``peak_rss_mb`` and
  ``error_rate``;
* traced, with one output of every kind of item corrupted (a catalog
  result row, a duplicated ready document, a duplicated evidence string):
  every per-layer metric is in the result with its unit, the tracing
  overhead is taken against the untraced run of the same seed, and an
  item of every kind fails, so ``error_rate`` is above 0 (the checks
  bite).

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# the kinds of item each workload runs, by item id prefix
KINDS = {"catalog_relational": {"q"},
         "pipelines": {"q", "batch", "slapenrich"}}


def run(workload: str, *extra: str) -> tuple[dict, str, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False)
    if proc.returncode != 0:
        sys.exit(f"{workload} {extra}: exit {proc.returncode}\n"
                 f"{proc.stderr[-3000:]}")
    lines = proc.stdout.rstrip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1]), proc.stderr


def check_metrics(result: dict, specs: list[dict], where: str) -> None:
    for spec in specs:
        got = result["metrics"].get(spec["name"])
        assert got is not None, f"{where}: {spec['name']} missing"
        assert got["unit"] == spec["unit"], f"{where}: {spec['name']} unit"
        assert isinstance(got["value"], (int, float)), where
    assert set(result["metrics"]) == {s["name"] for s in specs}, where


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for workload in names:
        result, text, _ = run(workload, "--trace", "0")
        assert result["correct"] and result["failed"] == 0, (workload, result)
        assert result["attempted"] >= 1, workload
        check_metrics(result, bench["end_to_end"], workload)
        for name in [s["name"] for s in bench["end_to_end"]] + [
                "item_p50_s", "item_tail_s", "peak_rss_mb", "error_rate"]:
            assert f"  {name} " in text, f"{workload}: {name} not printed"
        result, text, err = run(workload, "--trace", "1", "--corrupt")
        check_metrics(result, bench["per_layer"], f"{workload} traced")
        assert "untraced wall_s" in err and "(seed 7)" in err, (
            f"{workload}: overhead not taken against the untraced run")
        assert result["failed"] > 0 and not result["correct"], (
            f"{workload}: a corrupted output row did not fail an item")
        failed = {line.split()[2].split("#")[0].rstrip("0123456789")
                  for line in err.splitlines()
                  if line.startswith("perfbench: item ")}
        assert failed == KINDS[workload], (
            f"{workload}: failed item kinds {failed}, want {KINDS[workload]}")
        print(f"smoke: {workload} ok ({result['failed']} of "
              f"{result['attempted']} items failed on the corrupted run)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
