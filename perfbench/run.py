#!/usr/bin/env python3
"""graft benchmark: named workloads of `SparkEntry.queries` entries.

Usage (from the checkout root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The seed fixes the order of the warm passes; the data is the fixed seed-42
test data in `perfbench/data`. One JVM runs a cold pass (which also saves the
results for the output check), untimed warm-up passes and measured passes in
a closed loop filling about `--seconds` (`--trace 1`: one measured pass and
two traced passes instead); one more JVM times session set-up alone. The last
stdout line is the result record; the full record (per query, per pass) is
written to `<build dir>/results/`.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import check  # noqa: E402

BENCH = Path(__file__).resolve().parent
DATA = BENCH / "data"

# Why each workload exists is recorded in BENCHMARK.json.
WORKLOADS = {
    "etl_warehouse": {
        "sf": "sf0.01",
        "queries": [
            "q43_full_pipeline", "q06_upsert", "q91_asof_native", "q74_group_topk",
        ],
    },
    "pairs_loops": {
        "sf": "sf0.01",
        "queries": ["q202_jaro_winkler", "q42_ann_ivf"],
    },
}
SETUP_SAMPLES = 2
PASS_S = 3.5  # seconds of one measured pass over either workload
WARMUP_PASSES = 1
DEADLINE_S = 170.0
# -XX:-UsePerfData: no hsperfdata file in the system temp directory.
JVM_OPTS = [
    "-Xmx2g", "-Xms2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def nproc():
    return len(os.sched_getaffinity(0))


def java_cmd(tmp, *args):
    return (["java"] + JVM_OPTS +
            [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-cp", build.classpath(), "perfbench.Harness"] + list(args))


def launch(cmd, cwd, deadline):
    """Start a JVM; return (process, seconds from launch to its READY line)."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    for line in proc.stdout:
        if line.strip() == "READY":
            return proc, time.perf_counter() - t0
        if time.monotonic() > deadline:
            break
    return proc, None


def finish(proc, deadline):
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    return proc.returncode


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def per_query(passes, key, stat):
    """`stat` of each query's values over the measured passes."""
    values = {}
    for p in passes:
        for q in p:
            values.setdefault(q["query"], []).append(q[key])
    return [stat(v) for v in values.values()]


def run(workload, seed, seconds, trace, sf=None, queries=None, setup_samples=SETUP_SAMPLES):
    """Run one benchmark invocation; return the full record."""
    start = time.monotonic()
    deadline = start + DEADLINE_S
    spec = WORKLOADS[workload]
    sf_dir = DATA / (sf or spec["sf"])
    batch = list(queries or spec["queries"])
    names = random.Random(seed).sample(batch, len(batch))
    root = build.build_dir()
    out = root / "out" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        cores = nproc()
        # A fixed pass count, whole Latin squares of the query order: passes get
        # faster as the JIT settles, so a count decided by a clock would make
        # the per-query medians depend on how fast the machine happened to be.
        passes = len(batch) * max(1, round(seconds / (PASS_S * len(batch))))
        cmd = java_cmd(tmp, "run", str(sf_dir), str(cores), str(WARMUP_PASSES), str(passes), str(trace),
                       str(out), ",".join(batch), ",".join(names))
        proc, setup0 = launch(cmd, out, deadline)
        code = finish(proc, deadline)
        setups = [setup0] if setup0 is not None else []
        for _ in range(setup_samples - 1):
            if time.monotonic() > deadline - 20:
                break
            p, s = launch(java_cmd(tmp, "setup", str(cores)), out, deadline)
            finish(p, deadline)
            if s is not None:
                setups.append(s)
        res_file = out / "result.json"
        if code != 0 or not res_file.exists():
            return {"workload": workload, "seed": seed, "order": names, "crashed": True,
                    "exit_code": code, "failed_queries": names}
        res = json.loads(res_file.read_text())
        trace_doc = json.loads((out / "trace.json").read_text()) if trace else None
        verdicts = check.verify(sf_dir, out / "check", res["checks"], res["errors"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(out / "check", ignore_errors=True)

    failed = sorted(q for q, v in verdicts.items() if v != "ok")
    record = {
        "workload": workload, "seed": seed, "order": names, "sf": sf_dir.name, "cores": cores,
        "seconds": seconds, "warmup": WARMUP_PASSES, "passes": passes, "trace": trace, "setup_samples_s": setups,
        "calib_s": res["calib_s"], "cold": res["cold"], "warm": res["warm"],
        "verdicts": verdicts, "failed_queries": failed,
        "elapsed_s": time.monotonic() - start,
        "end_to_end": {
            "setup_s": median(setups),
            "cpu_s": sum(per_query(res["warm"], "cpu_s", statistics.median)),
            # Least over the passes: a reading can only be too high, when
            # Spark's cleaner has not yet dropped an earlier query's broadcasts.
            "heap_live_mb": max(per_query(res["warm"], "live_mb", min)),
            "ok_ratio": 1.0 - len(failed) / len(names),
        },
    }
    if trace:
        passes = res["traced"]
        keys = passes[0]["metrics"].keys()
        layer = {k: statistics.fmean(p["metrics"][k] for p in passes) for k in keys}
        traced_wall = sum(sum(m["wall_s"] for m in p["per_query"].values()) for p in passes)
        untraced_wall = sum(sum(q["wall_s"] for q in p) for p in res["untraced_ref"])
        layer["driver.wall_s"] = sum(per_query(res["warm"], "wall_s", statistics.median))
        layer["driver.cold_wall_s"] = sum(q["wall_s"] for q in res["cold"])
        layer["box.calib_s"] = statistics.fmean(res["calib_s"])
        layer["trace.overhead"] = traced_wall / untraced_wall
        record["per_layer"] = layer
        record["traced"] = passes
        record["repeat"] = trace_doc["repeat"]
        record["trace_file"] = str(save(root, record, "trace", trace_doc))
    record["record_file"] = str(save(root, record, "record", record))
    shutil.rmtree(out, ignore_errors=True)
    return record


def save(root, record, kind, doc):
    d = root / "results"
    d.mkdir(parents=True, exist_ok=True)
    f = d / f"{record['workload']}-seed{record['seed']}-trace{record['trace']}.{kind}.json"
    f.write_text(json.dumps(doc))
    return f


def spec_metrics(section):
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec[section]]


def result_line(record):
    if record.get("crashed"):
        n = len(record["order"])
        return {"correct": False, "attempted": n, "failed": n, "metrics": {}}
    section, values = (("per_layer", record["per_layer"]) if record["trace"]
                       else ("end_to_end", record["end_to_end"]))
    return {
        "correct": not record["failed_queries"],
        "attempted": len(record["order"]),
        "failed": len(record["failed_queries"]),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in spec_metrics(section)},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    build.build()
    record = run(a.workload, a.seed, a.seconds, a.trace)
    print(f"# {a.workload} seed={a.seed} order={','.join(record['order'])} "
          f"failed={record['failed_queries']} record={record.get('record_file')}")
    print(json.dumps(result_line(record)))


if __name__ == "__main__":
    main()
