"""Benchmark entry point.

    python3 perfbench/run.py --workload {search,lookup} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  One closed-loop client (this process)
drives the engine through its public functions against seeded synthetic
inputs; Spark runs local[nproc] through ``session.get_spark``.  Each op's
output is checked.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics (0 for a layer the workload does not run).  Everything the run
writes goes under ``.perfbench_work/`` in the checkout.

Steady state: set-up runs SETUP_REPS times (setup_s takes the median), then
untimed warm-up ops run until per-op process-tree CPU stops falling, then a
fixed number of timed ops (derived from --seconds and the workload's
nominal op wall, never from measured speed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Tracer, spark_metrics, trace_submit_args, udf_profile_ms)

# engine dials the benchmark never sets: scrubbed so the default code path
# is what gets measured (and a deleted dial leaves the benchmark unchanged)
DIALS = ("SPARK_GRAFT_TOKENIZER", "SPARK_GRAFT_CAP_IMPL",
         "SPARK_GRAFT_LSH_PAIR_IMPL", "SPARK_GRAFT_PROFILE",
         "SPARK_GRAFT_CURATE_PROF", "SPARK_MASTER", "SPARK_DRIVER_MEM")
SETUP_REPS = 3
WORK = os.path.join(ROOT, ".perfbench_work")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare_env(run_dir: str, traced: bool) -> dict:
    """Child-process environment for the JVM and the Python workers."""
    scrubbed = {d: os.environ.pop(d, None) is not None for d in DIALS}
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}",
              "--conf", "spark.ui.showConsoleProgress=false"]
    if traced:
        submit += trace_submit_args(os.path.join(run_dir, "events"))
    os.environ.update({
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    import tempfile
    tempfile.tempdir = None
    return {"dials_were_set": scrubbed, "local": f"local[{nproc}]"}


def _check_digests(name: str, seed: int, digests: dict) -> int:
    """Outputs must repeat across runs with the same seed: compare with any
    earlier run's digests for this (workload, seed); return mismatches."""
    path = os.path.join(WORK, "digests", f"{name}-{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    old = {}
    if os.path.exists(path):
        with open(path) as f:
            old = json.load(f)
    bad = sum(old[k] != v for k, v in digests.items() if k in old)
    with open(path, "w") as f:
        json.dump({**old, **digests}, f)
    return bad


def _stop_spark(spark) -> None:
    """Stop the session, close the JVM and wait for the whole tree to end."""
    from pyspark import SparkContext
    pids = host.tree_pids()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    host.wait_tree_gone(pids)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    traced = bool(args.trace)
    spec = _load_spec()

    info = {"host": host.host_facts(), "workload": args.workload,
            "seed": args.seed, "trace": traced}
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    info["env"] = _prepare_env(run_dir, traced)

    from perfbench.search import WORKLOADS
    from text_retrieval_and_search_engines_spark.session import get_spark
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    tr = Tracer()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    boot_s = time.perf_counter() - T_START
    try:
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed, tr, traced)
        result = _run(spark, wl, args, traced, tr, info)
    finally:
        _stop_spark(spark)
    if traced:
        events = os.path.join(run_dir, "events")
        sm = spark_metrics(events, info.pop("untraced_windows"))
        result["layers"].update(sm)
        result["layers"]["session.get_spark.s"] = session_s
    tr.dump(os.path.join(run_dir, "spans.json"))

    setup_s = boot_s + statistics.median(info["setup_unit_s"]) \
        + info["warmup_s"]
    result["e2e"]["setup_s"] = setup_s
    failed = result["failed"] + _check_digests(
        wl.name, args.seed, result.pop("digests"))
    info["ops_checked"] = result["attempted"]
    with open(os.path.join(run_dir, "info.json"), "w") as f:
        json.dump(info, f, indent=1, default=str)
    print("perfbench info " + json.dumps(info, default=str), file=sys.stderr)

    section = spec["per_layer"] if traced else spec["end_to_end"]
    got = result["layers"] if traced else result["e2e"]
    names = {m["name"] for m in section}
    extra = sorted(set(got) - names)
    if extra:
        print(f"metrics missing from BENCHMARK.json: {extra}",
              file=sys.stderr)
        return 3
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in section}
    print(json.dumps({"correct": failed == 0 and result["correct"],
                      "attempted": result["attempted"], "failed": failed,
                      "metrics": metrics}))
    return 0


def _run(spark, wl, args, traced: bool, tr: Tracer, info: dict) -> dict:
    units = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup(rep)
        units.append(time.perf_counter() - t)
    info["setup_unit_s"] = units
    info["setup_layers"] = wl.setup_layers
    info["inputs"] = wl.input_facts()

    attempted = failed = 0
    digests: dict[str, str] = {}

    def run_op(i: int, op_traced: bool) -> tuple[int, float, float]:
        nonlocal attempted, failed
        items, ok, dig = wl.op(i, op_traced)
        span = tr.last_root       # the op span: checks run outside it
        wall, cpu = span["end"] - span["start"], span["cpu_s"]
        key = str(wl.digest_key(i))
        attempted += 1
        failed += not ok or digests.setdefault(key, dig) != dig
        return items, wall, cpu

    # warm-up: untimed, until per-op CPU stops falling: the mean of the last
    # two ops is within 5 % of the mean of the two before (bounded count)
    t = time.perf_counter()
    lo, hi = wl.warm_ops
    warm_cpu: list[float] = []
    i = 0
    while len(warm_cpu) < hi:
        warm_cpu.append(run_op(i, False)[2])
        i += 1
        if len(warm_cpu) >= lo and sum(warm_cpu[-2:]) >= \
                0.95 * sum(warm_cpu[-4:-2]):
            break
    info["warmup_s"] = time.perf_counter() - t
    info["warmup_cpu_s"] = warm_cpu

    # timed window: fixed op count
    n_ops = max(2, round(args.seconds / wl.op_s))
    # traced run: untraced and traced ops alternate; the gap is the overhead
    plan = [traced and j % 2 == 1 for j in range(n_ops)]
    if traced:
        spark.profile.clear(type="perf")
    walls = {False: [], True: []}
    items_total, cpu_total = 0, 0.0
    untraced_windows = []
    # RSS sampling walks /proc in a client thread; only traced runs pay it
    with host.RssSampler(enabled=traced) as rss:
        for op_traced in plan:
            if op_traced:
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            items, wall, cpu = run_op(i, op_traced)
            if op_traced:
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
            else:
                untraced_windows.append((tr.last_root["start"] * 1e3,
                                         tr.last_root["end"] * 1e3))
            i += 1
            walls[op_traced].append(wall)
            if not op_traced:
                items_total += items
                cpu_total += cpu
    base_walls = walls[False]
    e2e = {
        "items_per_s": items_total / sum(base_walls),
        "op_p50_ms": statistics.median(base_walls) * 1e3,
        "cpu_s_per_item": cpu_total / items_total,
        "bytes_per_input_byte": wl.bytes_per_input_byte(),
    }
    info["op_walls_s"] = base_walls
    # peak RSS is a layer metric: the JVM's heap sizing makes it vary by
    # about a quarter between runs, too much for an end-to-end bound
    layers: dict[str, float] = {"process.peak_rss_mb": rss.peak_mb}
    correct = True
    if traced:
        p50_t = statistics.median(walls[True]) * 1e3
        p50_u = e2e["op_p50_ms"]
        wl_layers, correct = wl.layer_metrics()
        layers.update(wl_layers)
        layers["spark.python_udf_ms_per_op"] = udf_profile_ms(
            spark, os.path.join(wl.work, "udfprof")) / len(walls[True])
        layers["trace.overhead_ms_per_op"] = p50_t - p50_u
        layers["trace.overhead_share"] = (p50_t - p50_u) / p50_u
        layers["trace.span_coverage"] = statistics.median(
            tr.coverage("op.traced"))
        setup_med = {k: statistics.median(d[k] for d in wl.setup_layers)
                     for k in wl.setup_layers[0]}
        layers.update(setup_med)
        info["untraced_windows"] = untraced_windows
    return {"e2e": e2e, "layers": layers, "attempted": attempted,
            "failed": failed, "correct": correct, "digests": digests}


if __name__ == "__main__":
    sys.exit(main())
