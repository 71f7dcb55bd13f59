"""Benchmark of demeton-spark: the hillshade job as shipped, into an
empty sink and resuming a partly written one, in one held ``local[4]``
session.

    python3 perfbench/run.py --workload hillshade_full --seed 1 \\
        --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

Each run sets up its seeded inputs, repeats its operation in a closed
loop (one operation at a time) for ``--seconds``, checks every result,
prints a report and, as its last line, one JSON object.  ``--trace 0``
reports the end-to-end metrics named in BENCHMARK.json; ``--trace 1``
the per-layer ones, from one more, traced operation and, on
hillshade_full, one cold run of six contract queries.  All files go
under ``.perfbench_work/`` in the checkout and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

CONFIG = {
    "master": "local[4]",
    "cores": 4,
    # the session default (24g) exceeds the host; a fixed heap keeps the
    # JVM from resizing it at run-dependent moments
    "driver_memory": "2g",
    "arrow_max_records_per_batch": 512,  # as jobs/hillshade_job.py sets it
}

# 4x4 tiles of 900² cells in 150² blocks: 576 blocks, 13 Mpx.  JIT
# warm-up lasts a few runs, so two stay untimed.
WORLD = {"tiles_per_side": 4, "tile_size": 900, "block_size": 150,
         "warmup_ops": 2, "min_ops": 3, "replay_tiles": 2, "replay_reps": 5}

# contract queries run once, cold, in traced runs of hillshade_full: two
# point-to-tile joins and the four banded near-duplicate joins
QUERY_PROBE = {
    "queries": ["tile_assign_events", "tile_metadata_join",
                "doc_near_dup_pairs", "emb_near_dup_pairs",
                "doc_simhash_near_dup", "image_phash_near_dup"],
    "events": 2000, "documents": 400, "embeddings": 500,
}

WORKLOADS = {
    "hillshade_full": {**WORLD, "query_probe": QUERY_PROBE},
    "hillshade_resume": WORLD,
}

TINY_WORLD = {"tiles_per_side": 3, "tile_size": 60, "block_size": 20,
              "warmup_ops": 1, "min_ops": 1, "replay_tiles": 1,
              "replay_reps": 1}
SELF_TEST = {
    "hillshade_full": {**TINY_WORLD, "query_probe": {
        "queries": ["tile_assign_events", "image_phash_near_dup"],
        "events": 300, "documents": 100, "embeddings": 100}},
    "hillshade_resume": TINY_WORLD,
}


# An operation during which the hypervisor gave more than this share of
# our CPUs to other guests measures the host, not the program: its time
# is kept out of wall_s while uncontended operations can still be had.
STEAL_LIMIT = 0.03
LOOP_CAP = 2.5


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def configure_env() -> None:
    """Fit the host and keep every file inside the checkout.  Python
    workers import the package from the checkout root."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = CONFIG["driver_memory"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)


def start_session(ui: bool):
    from demeton_spark.session import build_session

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.sql.execution.arrow.maxRecordsPerBatch":
            str(CONFIG["arrow_max_records_per_batch"]),
        "spark.driver.extraJavaOptions":
            f"-Xms{CONFIG['driver_memory']} -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:  # the REST stage tables need the UI; timed runs keep it off
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    spark = build_session(app_name="perfbench", master=CONFIG["master"],
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def closed_loop(wl, seconds: float, min_ops: int, sampler) -> list[dict]:
    """Run operations one after another until ``seconds`` have passed and
    at least ``min_ops`` ran on an uncontended host, or until
    ``LOOP_CAP`` × ``seconds`` have passed; prepare, check and cleanup
    stay outside the timing."""
    recs: list[dict] = []
    start = time.monotonic()
    while True:
        recs.append(one_op(wl, sampler))
        elapsed = time.monotonic() - start
        clean = sum(1 for r in recs if not r["contended"])
        if elapsed >= seconds and clean >= min_ops:
            return recs
        if elapsed >= LOOP_CAP * seconds:
            return recs


def one_op(wl, sampler, keep: bool = False) -> dict:
    from probes import host_steal_s

    state = wl.prepare()
    sampler.reset()
    steal0 = host_steal_s()
    t0 = time.perf_counter()
    try:
        result = wl.op(state)
        wall = time.perf_counter() - t0
        steal = host_steal_s() - steal0
        jvm_mb, workers_mb, workers = sampler.peak()
        rec = {"wall": wall, "peak_mb": jvm_mb + workers_mb,
               "peak_split": [round(jvm_mb), round(workers_mb), workers],
               "steal_share": steal / (wall * CONFIG["cores"]),
               "result": result,
               "out_bytes": wl.written_bytes(state)}
        rec.update(wl.check(state, result))
    except Exception:
        traceback.print_exc()
        rec = {"wall": time.perf_counter() - t0, "failed": wl.n_ops(),
               "steal_share": 0.0, "result": None}
    rec["contended"] = rec["steal_share"] > STEAL_LIMIT
    rec["state"] = state
    if not keep:
        wl.cleanup(state)
    return rec


def traced_run(wl, sampler, jvm: int, untraced_wall_s: float
               ) -> tuple[dict[str, float], dict]:
    """One more operation with spans on, then the layer probes; returns
    the per-layer metrics and the operation counts it added."""
    import workloads
    from probes import SparkRest, stage_totals, tree_cpu_s

    wl.rest = SparkRest(wl.spark)
    wl.tracer.enabled = True
    cpu0 = tree_cpu_s(jvm)
    rec = one_op(wl, sampler, keep=True)
    cpu1 = tree_cpu_s(jvm)
    counts = {"wall": rec["wall"], "attempted": wl.n_ops(),
              "failed": rec["failed"]}
    stages = [s for g in wl.groups for s in wl.rest.group_stages(g)]
    tot = stage_totals(stages)
    busy = rec["wall"] * CONFIG["cores"]
    metrics = {
        "spark.task_s": tot["task_s"], "spark.cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"], "spark.cpu_util": tot["cpu_s"] / busy,
        "proc.cpu_util": (cpu1[0] - cpu0[0] + cpu1[1] - cpu0[1]) / busy,
        "proc.jvm_cpu_s": cpu1[0] - cpu0[0],
        "proc.python_cpu_s": cpu1[1] - cpu0[1],
        "scan.rows_read": tot["rows_read"],
        "shuffle.write_mb": tot["shuffle_write_mb"],
        "shuffle.read_mb": tot["shuffle_read_mb"],
        "trace.overhead_s": rec["wall"] - untraced_wall_s,
    }
    metrics.update(wl.layers(stages, rec["result"], rec["state"]))
    wl.cleanup(rec["state"])
    probe = wl.sizes.get("query_probe")
    if probe:
        log("probing the contract queries")
        cj = workloads.ContractJoins(wl.spark, wl.work, wl.seed, probe,
                                     wl.tracer)
        cj.rest = wl.rest
        cj.setup()
        rec = one_op(cj, sampler, keep=True)
        counts["attempted"] += cj.n_ops()
        counts["failed"] += rec["failed"]
        metrics.update(cj.layers(rec["result"], rec["state"]))
        cj.cleanup(rec["state"])
    return metrics, counts


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 sizes: dict, spec: dict) -> tuple[dict, set[str]]:
    """One run; returns the result line and the names of the metrics it
    measured."""
    from pyspark import SparkContext

    import workloads
    from probes import RssSampler, Tracer

    log(f"{name} seed={seed} trace={int(trace)}: starting Spark")
    t0 = time.perf_counter()
    spark = start_session(ui=trace)
    session_s = time.perf_counter() - t0
    log("session up; setting up inputs")
    jvm = SparkContext._gateway.proc.pid
    sampler = RssSampler(jvm)
    tracer = Tracer(enabled=False)
    cls = {"hillshade_full": workloads.Hillshade,
           "hillshade_resume": workloads.HillshadeResume}[name]
    wl = cls(spark, os.path.join(WORK, "run"), seed, sizes, tracer)
    try:
        setup = wl.setup()
        log("set up; measuring")
        recs = closed_loop(wl, seconds, sizes["min_ops"], sampler)
        log(f"measured {len(recs)} operations")
        ok = [r for r in recs if not r["failed"]]
        clean = [r for r in ok if not r["contended"]]
        timed = clean if len(clean) >= sizes["min_ops"] else ok
        walls = [r["wall"] for r in timed] or [0.0]
        e2e = {
            "wall_s": statistics.median(walls),
            "sink_mb": statistics.median(
                r.get("out_bytes", 0) for r in recs) / 1e6,
            "peak_rss_mb": max(r.get("peak_mb", 0.0) for r in recs),
            "setup_s": session_s + setup["input_s"] + setup["warmup_s"],
        }
        attempted = wl.n_ops() * len(recs)
        failed = sum(r["failed"] for r in recs)
        report = {
            "workload": name, "seed": seed, "ops": len(recs),
            "config": {**CONFIG, "png_level": workloads.codec.RGBA_PNG_LEVEL,
                       "shade_partitions":
                           spark.sparkContext.defaultParallelism * 4,
                       "script": workloads.SCRIPT},
            "inputs": wl.describe(),
            "setup": {"session_s": session_s, **setup},
            "wall_s_each": [round(r["wall"], 4) for r in recs],
            "steal_share_each": [round(r["steal_share"], 4) for r in recs],
            "wall_s_from": f"{len(timed)} of {len(recs)} operations",
            # per operation: JVM MB, Python workers MB, worker count
            "peak_rss_split": [r.get("peak_split") for r in recs],
            "error_rate": failed / attempted,
        }
        rates = [r["mpx"] / r["wall"] for r in timed if "mpx" in r]
        if rates:
            report["mpx_per_s"] = statistics.median(rates)
        metrics = e2e
        if trace:
            metrics, traced = traced_run(wl, sampler, jvm, e2e["wall_s"])
            attempted += traced["attempted"]
            failed += traced["failed"]
            report["traced_wall_s"] = traced["wall"]
            report["spans"] = {k: {"n": n, "total_s": round(t, 4),
                                   "self_s": round(s, 4)}
                               for k, (n, t, s) in tracer.self_times().items()}
    finally:
        sampler.close()
        stop_session(spark)
        log("Spark stopped")
    for key, val in e2e.items():
        report[key] = val
    print(json.dumps(report, indent=1))
    want = spec["per_layer" if trace else "end_to_end"]
    unknown = set(metrics) - {m["name"] for m in want}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer a workload does not run reads 0 (no queries in a hillshade run)
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                       "unit": m["unit"]} for m in want}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out}, set(metrics)


def self_test(spec: dict) -> int:
    """Every workload at a tiny size, untraced and traced: all results
    correct, and every per-layer metric measured on some workload."""
    ok, layered = True, set()
    for name, sizes in SELF_TEST.items():
        for trace in (False, True):
            res, produced = run_workload(name, 7, 0.5, trace, sizes, spec)
            if trace:
                layered |= produced
            ok = ok and res["correct"]
            print(f"self-test {name} trace={int(trace)}: "
                  f"{'ok' if res['correct'] else 'FAILED'}")
    tiny = SELF_TEST["hillshade_full"]["query_probe"]["queries"]
    unmeasured = {m["name"] for m in spec["per_layer"]
                  if m["name"].split(".")[0] != "queries"
                  or m["name"].split(".")[1] in tiny} - layered
    if unmeasured:
        print(f"self-test: per-layer metrics never measured: {sorted(unmeasured)}")
    return 0 if ok and not unmeasured else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not args.self_test and not args.workload:
        ap.error("--workload or --self-test is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        configure_env()
        if args.self_test:
            return self_test(spec)
        result, _ = run_workload(args.workload, args.seed, args.seconds,
                                 bool(args.trace), WORKLOADS[args.workload],
                                 spec)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
