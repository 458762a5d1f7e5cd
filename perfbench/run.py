"""Benchmark entry point: one workload in this fresh process.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 26 --trace 0

Run it from the repository root.  It reads the fixed test tables in
``perfbench/testdata/sf<SF>`` (checked against ``SHA256SUMS`` first), then
times calls into the library's public entry points: ``get_spark``, the
``__spark_entry__.queries()`` functions through the noop sink, and
``SpatialDataset.write_zarr`` / ``read_zarr``.  Set-up (import,
``get_spark`` and one warm-up pass over the workload's own ops) is
``setup_s``.  The timed region runs whole rounds of the workload's ops,
one caller waiting for each op (a closed loop with one client), each
round in an order shuffled with ``--seed`` (the seed changes nothing
else); the round count comes from ``--seconds`` (see ``Workload.rounds``).  After it, every op is checked once against
its oracle.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are BENCHMARK.json's ``end_to_end`` list; with
``--trace 1`` they are its ``per_layer`` list.  A traced run alternates
traced and untraced rounds (at least four, in ABBA order) and reports
the difference as ``overhead.<metric>``.  Everything the run writes lives under
``.perfbench/`` in the working directory and is removed before exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procfs  # noqa: E402
from workloads import ALL_OPS, WORKLOADS, Runner  # noqa: E402

WORK_DIR = ".perfbench"
TESTDATA = os.path.join(HERE, "testdata")
MB = 1024.0 * 1024.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return _median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def end_to_end(rounds: list[dict]) -> dict[str, float]:
    insts = [i for r in rounds for i in r["insts"]]
    lat = [i["latency"] for i in insts]
    per_op: dict[str, list[float]] = {}
    for i in insts:
        per_op.setdefault(i["name"], []).append(i["latency"])
    n = max(len(insts), 1)
    return {
        "latency_p50_s": _median(lat),
        "latency_p90_s": _p90(lat),
        "op_geomean_s": math.exp(statistics.fmean(math.log(_median(v)) for v in per_op.values())) if per_op else 0.0,
        "ops_per_s": len(insts) / max(sum(r["wall"] for r in rounds), 1e-9),
        "cpu_s_per_op": sum(r["cpu"] for r in rounds) / n,
        # per-round resident size; an untraced run reports the peak instead
        "driver_peak_rss_mb": _median([r["rss"] for r in rounds]),
    }


def per_layer(rounds, recs, session, tracer, stores, jvm_pid) -> dict[str, float]:
    """Layer metrics from the traced rounds' Spark records ``recs``;
    per-op latencies from every round."""
    traced = [r for r in rounds if r["traced"]]
    untraced = [r for r in rounds if not r["traced"]]
    insts = [i for r in traced for i in r["insts"]]
    n = max(len(recs), 1)

    def per_op(key: str, scale: float = 1.0) -> float:
        return sum(r[key] for r in recs) / scale / n

    lat_by_op: dict[str, list[float]] = {}
    for i in (i for r in rounds for i in r["insts"]):
        lat_by_op.setdefault(i["name"], []).append(i["latency"])
    out = {
        "session.start_s": session["start_s"],
        "session.warmup_s": session["warmup_s"],
        "construct.p50_s": _median([i["construct"] for i in insts]),
        "construct.share": _median([i["construct"] / i["latency"] for i in insts if i["latency"] > 0]),
        "spark.plan_s_p50": _median([r["plan_s"] for r in recs if r["plan_s"] is not None]),
        "spark.idle_s_p50": _median([r["idle_s"] for r in recs]),
        "spark.jobs_per_op": per_op("jobs"),
        "spark.stages_per_op": per_op("stages"),
        "spark.tasks_per_op": per_op("tasks"),
        "executor.run_s_per_op": per_op("run_s"),
        "executor.cpu_s_per_op": per_op("cpu_s"),
        "executor.deserialize_s_per_op": per_op("deserialize_s"),
        "executor.gc_s_per_op": per_op("gc_s"),
        "executor.slot_use": sum(r["run_s"] for r in recs) / max(sum(r["slot_s"] for r in recs), 1e-9),
        "shuffle.write_mb_per_op": per_op("shuffle_write_b", MB),
        "shuffle.read_mb_per_op": per_op("shuffle_read_b", MB),
        "shuffle.fetch_wait_s_per_op": per_op("fetch_wait_s"),
        "scan.input_mb_per_op": per_op("input_b", MB),
        "spill.mb_per_op": per_op("spill_b", MB),
        "python.run_s_per_op": per_op("python_run_s"),
        "python.start_s_per_op": per_op("python_start_s"),
        "python.init_s_per_op": per_op("python_init_s"),
        "python.mb_sent_per_op": per_op("python_sent_b", MB),
        "cache.persisted_mb": tracer.persisted_mb(),
        "sources.write_s_p50": _median(lat_by_op.get("roundtrip_write", [])),
        "sources.read_s_p50": _median(lat_by_op.get("roundtrip_read", [])),
        "sources.files_written": _median([f for f, _ in stores]),
        "sources.mb_written": _median([b / MB for _, b in stores]),
        "jvm.peak_rss_mb": procfs.peak_rss_mb(jvm_pid) if jvm_pid else 0.0,
    }
    for name in ALL_OPS:
        out[f"op.{name}.p50_s"] = _median(lat_by_op.get(name, []))
    with_trace, without = end_to_end(traced), end_to_end(untraced)
    for k in with_trace:
        out[f"overhead.{k}"] = with_trace[k] - without[k]
    out["overhead.setup_s"] = session["tracer_init_s"]
    return out


def _run_op(op, group, tracer, log) -> dict | None:
    if tracer is not None:
        tracer.tag(group)
    try:
        t0 = time.perf_counter()
        plan = op.build()
        t1, w1 = time.perf_counter(), time.time()
        op.act(plan)
        t2, w2 = time.perf_counter(), time.time()
    except Exception as e:  # counted as a failed op and reported by name
        log(f"FAIL {op.name}: {type(e).__name__}: {e}")
        return None
    finally:
        if tracer is not None:
            tracer.tag(None)
    return {"name": op.name, "group": group, "construct": t1 - t0, "latency": t2 - t0,
            "action_t0": w1, "action_t1": w2}


def _spark_env(work: str) -> None:
    """Keep every file Spark writes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM spark-submit starts (its launcher too) skips /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


def _stop(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    tree = procfs.descendants(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procfs.reap(tree)


def measure(args, root: str, data: str, work: str, log) -> tuple[dict, int, int]:
    wl = WORKLOADS[args.workload]
    _spark_env(work)
    sys.path.insert(0, root)
    cores = len(os.sched_getaffinity(0))
    pid = os.getpid()
    attempted = failed = 0

    t_setup = time.perf_counter()
    from spatialdata_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    t_started = time.perf_counter()
    runner = Runner(spark, data, wl, args.seed, os.path.join(work, "stores"))
    try:
        for op in runner.round(warm=True):
            attempted += 1
            failed += _run_op(op, None, None, log) is None
        runner.end_round()
        t_first = time.perf_counter()
        session = {"start_s": t_started - t_setup, "warmup_s": t_first - t_started}

        tracer = None
        if args.trace:
            from sparktrace import Tracer

            t = time.perf_counter()
            tracer = Tracer(spark)
            session["tracer_init_s"] = time.perf_counter() - t
        rounds: list[dict] = []
        layers: list[dict] = []
        n_rounds = wl.rounds(args.seconds) if tracer is None else max(4, wl.rounds(args.seconds))
        for i in range(n_rounds):
            # traced rounds in ABBA order (traced, untraced, untraced, traced,
            # ...) so the JVM's warming trend weighs on both halves of the
            # overhead alike
            traced = tracer is not None and i % 4 in (0, 3)
            insts = []
            cpu0, r0 = procfs.cpu_seconds(pid), time.perf_counter()
            for k, op in enumerate(runner.round()):
                attempted += 1
                inst = _run_op(op, f"{op.name}#{len(rounds)}.{k}", tracer if traced else None, log)
                if inst is None:
                    failed += 1
                else:
                    insts.append(inst)
            wall, cpu = time.perf_counter() - r0, procfs.cpu_seconds(pid) - cpu0
            rounds.append({"traced": traced, "insts": insts, "wall": wall, "cpu": cpu,
                           "rss": procfs.rss_mb(pid)})
            runner.end_round()
            if traced:
                layers.extend(tracer.collect(insts, cores))

        if args.trace:
            metrics = per_layer(rounds, layers, session, tracer, runner.stores,
                                procfs.java_pid(pid))
        else:
            metrics = end_to_end(rounds)
            metrics["setup_s"] = t_first - t_setup
            metrics["driver_peak_rss_mb"] = procfs.peak_rss_mb(pid)
        n_inst = sum(len(r["insts"]) for r in rounds)
        log(f"{args.workload}: {len(rounds)} rounds, {n_inst} op instances, "
            f"{sum(r['wall'] for r in rounds):.2f} s timed, setup {t_first - t_setup:.2f} s")
        for r in rounds:
            log(f"round {r['wall']:.2f} s, cpu {r['cpu']:.2f} s: " + " ".join(
                f"{i['name']}={i['latency']:.3f}" for i in sorted(r["insts"], key=lambda i: i["name"])))

        t_check = time.perf_counter()
        checks = runner.check()
        for name, ok, msg in checks:
            attempted += 1
            if not ok:
                failed += 1
                log(f"FAIL {name}: {msg}")
        log(f"{args.workload}: {len(checks)} correctness checks in {time.perf_counter() - t_check:.2f} s")
    finally:
        runner.close()
        _stop(spark)
    return metrics, attempted, failed


def _program_present(root: str) -> bool:
    return all(
        os.path.exists(os.path.join(root, p))
        for p in ("BENCHMARK.json", "__spark_entry__.py", "spatialdata_spark/session.py", "tests/parity.py")
    )


def testdata_dir(sf: float) -> str:
    """The fixed tables at ``sf``, after checking every file against
    ``SHA256SUMS``: the benchmark never runs on altered inputs."""
    prefix = f"sf{sf:g}/"
    with open(os.path.join(TESTDATA, "SHA256SUMS")) as f:
        sums = [line.split() for line in f if line.strip()]
    files = [(digest, name) for digest, name in sums if name.startswith(prefix)]
    if not files:
        raise FileNotFoundError(f"no test data for sf{sf:g} in {TESTDATA}")
    for digest, name in files:
        with open(os.path.join(TESTDATA, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                raise ValueError(f"test data {name} does not match SHA256SUMS")
    return os.path.join(TESTDATA, prefix.rstrip("/"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spatialdata-spark benchmark: one workload per run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="scale factor (default: the workload's own)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not _program_present(root):
        print("perfbench: run from the repository root; the library sources are missing here", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    def log(msg: str) -> None:
        print(f"perfbench: {msg}", flush=True)

    work = os.path.join(root, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        data = testdata_dir(args.sf or WORKLOADS[args.workload].sf)
        metrics, attempted, failed = measure(args, root, data, work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_DIR))
        except OSError:
            pass  # another run still owns a directory there
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
