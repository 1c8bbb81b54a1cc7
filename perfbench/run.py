"""Per-change benchmark of the engine: workloads ``batch`` and ``search``.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  Each workload runs in a fresh
process on ``local[nproc]``.  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics declared in ``BENCHMARK.json``, with ``--trace 1``
the per-layer ones.  The line before it is the run's record (environment,
input sizes, errors, every workload-level metric by name); the record and,
when traced, the spans are also written to ``perfbench/.out/``.

``--workload all`` runs every workload, each in its own process, and prints
their workload-level metrics by name.  ``--tiny`` shrinks the inputs for
the self-test (``perfbench/selftest.py``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("batch", "search")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _declared() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        _fail(f"no BENCHMARK.json at {ROOT}")
    with open(path) as f:
        return json.load(f)


def _pin_environment(work: str) -> None:
    """Everything the run writes stays under ``work``; Python workers import
    the library from this checkout, wherever the benchmark is started."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _source_digest() -> str:
    h = hashlib.sha256()
    lib = os.path.join(ROOT, "vector_search_spark")
    for d, _, files in sorted(os.walk(lib)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, check=True)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine since boot, in jiffies."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it started
    have exited."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    started = [proc.pid, *_descendants(proc.pid)]
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started[1:]):
        time.sleep(0.1)


def run_one(args) -> int:
    declared = _declared()
    if not os.path.isdir(os.path.join(ROOT, "vector_search_spark")):
        _fail(f"no vector_search_spark package at {ROOT}: run from a source checkout")
    steal0, total0 = _cpu_jiffies()
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)

    import pyspark

    from perfbench import workloads
    from perfbench.tracing import Tracer
    from vector_search_spark import session

    cpus = os.cpu_count() or 1
    t0 = time.perf_counter()
    spark = session.get_spark(
        "perfbench", cpus=cpus, shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, enabled=bool(args.trace))
    tracer.record("session.start", t0, t1)
    run = workloads.Run(spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
                        work=work, sizes=workloads.SIZES["tiny" if args.tiny else "full"],
                        setup_s=t1 - t0)
    try:
        workloads.WORKLOADS[args.workload](run, bool(args.trace))
    except Exception as e:  # noqa: BLE001 - report the root cause, then fail the run
        run.record_failure(f"{args.workload} workload", [workloads.root_cause(e)])
        import traceback

        traceback.print_exc()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    steal1, total1 = _cpu_jiffies()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tiny": args.tiny, "cpus": cpus, "commit": _commit(),
        "source_digest": _source_digest(), "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "env_extra_conf": dict(session.LAST_ENV_EXTRA_CONF),
        # share of the machine's CPU time the hypervisor gave to other
        # guests during the run: high values explain slow runs
        "cpu_steal_share": (steal1 - steal0) / max(total1 - total0, 1), "inputs": run.info,
        "errors": run.errors,
    }
    _stop(spark)

    attempted = max(run.attempted, 1)
    named = dict(run.named)
    named.update(setup_s=(run.setup_s, "s"), peak_rss_mb=(peak_rss, "MB"),
                 fail_ratio=(run.failed / attempted, "ratio"))
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
    slots = dict(run.slots, setup_s=run.setup_s)
    metrics = {}
    if args.trace:
        layers = dict(run.layers)
        layers["session.start_s"] = (sum(s.dur for s in tracer.by_name("session.start")), "s")
        layers["session.warmup_s"] = (sum(s.dur for s in tracer.by_name("session.warmup")), "s")
        layers["session.peak_rss_mb"] = (peak_rss, "MB")
        for m in declared["per_layer"]:
            value = layers.get(m["name"], (0.0, m["unit"]))[0]
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        record["spans"] = tracer.dump()
    else:
        for m in declared["end_to_end"]:
            value = slots.get(m["name"], math.nan)
            if not math.isfinite(value):
                run.record_failure("metrics", [f"{m['name']} not measured"])
                continue
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    record.pop("spans", None)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": run.failed == 0, "attempted": max(attempted, run.failed),
                      "failed": run.failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload in a fresh process; prints each workload-level metric."""
    _declared()
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.tiny:
            cmd.append("--tiny")
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            sys.stderr.write(proc.stderr[-4000:])
            _fail(f"workload {name} exited with {proc.returncode}")
        record, result = json.loads(lines[-2])["record"], json.loads(lines[-1])
        total["correct"] &= result["correct"]
        total["attempted"] += result["attempted"]
        total["failed"] += result["failed"]
        source = result["metrics"] if args.trace else record["metrics"]
        for metric, v in source.items():
            key = metric if args.trace or metric not in ("setup_s", "peak_rss_mb", "fail_ratio") \
                else f"{name}.{metric}"
            total["metrics"][key] = v
            print(f"{name:8s} {metric:40s} {v['value']:.6g} {v['unit']}")
    total["metrics"]["fail_ratio"] = {
        "value": total["failed"] / max(total["attempted"], 1), "unit": "ratio"}
    print(json.dumps(total))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
