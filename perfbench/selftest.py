#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

Runs one query of each workload untraced and traced, and asserts that every
metric BENCHMARK.json names is emitted with its unit and a finite value,
that the output check passed, that the traced run attributed every Spark job
to a layer, and that the structural-repeat report covers every counter.

Usage (from the checkout root): python3 perfbench/selftest.py
"""
import json
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

CASES = {"etl_warehouse": ["q74_group_topk"], "pairs_loops": ["q42_ann_ivf"]}
STRUCTURAL = {"jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_records", "broadcast_bytes"}


def check(workload, queries, trace):
    rec = run.run(workload, seed=0, seconds=0.1, trace=trace, sf="sf0.001",
                  queries=queries, setup_samples=1)
    line = json.loads(json.dumps(run.result_line(rec)))
    assert line["correct"] and line["failed"] == 0, (workload, trace, rec.get("verdicts"))
    assert line["attempted"] == len(queries)
    section = "per_layer" if trace else "end_to_end"
    for name, unit in run.spec_metrics(section):
        got = line["metrics"].get(name)
        assert got is not None, f"{workload}: metric {name} missing"
        assert got["unit"] == unit, f"{workload}: {name} unit {got['unit']} != {unit}"
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), (name, got)
    assert set(line["metrics"]) == {n for n, _ in run.spec_metrics(section)}
    if trace:
        for p in rec["traced"]:
            assert "unattributed" not in p["job_layers"], p["job_layers"]
            assert sum(p["job_layers"].values()) == p["metrics"]["driver.jobs"] > 0
        assert set(rec["repeat"]) == STRUCTURAL, rec["repeat"]
    print(f"ok {workload} trace={trace}: {len(line['metrics'])} metrics")


def main():
    build.build()
    for w, qs in CASES.items():
        for trace in (0, 1):
            check(w, qs, trace)
    print("selftest passed")


if __name__ == "__main__":
    main()
