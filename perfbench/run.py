"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload stream_mixed --seed 1 --seconds 25 --trace 0

Builds its inputs from ``--seed`` under ``perfbench/.work`` (removed on
exit), starts a local Spark session on every core this process may use,
sets the workload up, measures it for ``--seconds`` seconds and checks
every answer.  Each metric is printed as ``<name> = <value> <unit>``; the
last line is one JSON object with the end-to-end metrics (``--trace 0``)
or the per-layer metrics (``--trace 1``) named in ``BENCHMARK.json``.  A
traced run also writes its spans to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: Seconds of the canary job on an idle host, by core count; a run whose
#: canary reads much slower than this shared its cores with other work.
CANARY_IDLE_S = {4: 0.2}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: Path) -> None:
    """Keep Spark's and Python's scratch files inside ``work`` and make the
    engine importable in Spark's Python workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell')
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import tempfile

    tempfile.tempdir = str(tmp)


def _canary(spark, cpus: int) -> float:
    """A fixed CPU-bound job, timed; compare with ``CANARY_IDLE_S``."""
    job = spark.range(0, 20_000_000, numPartitions=cpus).selectExpr("sum(id * 7 % 13)")
    job.first()  # compiles the job; the second run is the measure
    t = time.perf_counter()
    job.first()
    return time.perf_counter() - t


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, session_s: float) -> dict:
    """The gated metrics, defined alike on every workload.  The foreground
    op is a read on ``stream_mixed`` (so ``op_p50_s`` is its read median),
    an ``insert_rows`` batch on ``ingest_write`` and one declared query on
    ``declared_queries``.  A run has 12-30 ops, too few for a higher
    percentile to keep ten samples above it."""
    return {
        "setup_s": session_s + res.setup,
        "op_p50_s": _median(x for xs in res.latencies.values() for x in xs),
    }


def _unit(name: str) -> str:
    if name.endswith("per_point"):
        return "B/pt"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    return "count"


def per_layer(res, spans: list, session_s: float, op_p50: float) -> dict:
    from gen import READ_MIX
    from spans import layer_self_per_op
    from workloads import DECLARED

    by_name: dict[str, list] = {}
    roots = {s["op"]: s for s in spans if s["parent"] is None}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s["end"] - s["start"])
        if s["name"] == "parse":
            kind = roots.get(s["op"], {}).get("name")
            by_name.setdefault(f"{kind}.parse", []).append(s["end"] - s["start"])
    ops = [s for s in roots.values() if "jobs" in s and s["layer"] == "bench"]
    out = {
        "session_start_s": session_s,
        "canonicalize_s": _median(by_name.get("canonicalize", [])),
        "append_s": _median(by_name.get("append", [])),
        "relation_s": _median(by_name.get("relation", [])),
        "wire_decode_s": _median(by_name.get("decode", [])),
        "promql_parse_s": _median(by_name.get("promql.parse", [])),
        "promql_range_parse_s": _median(by_name.get("promql_range.parse", [])),
        "process_batch_s": _median(by_name.get("process_batch", [])),
        "jobs_per_op": _median(s["jobs"] for s in ops),
        "stages_per_op": _median(s["stages"] for s in ops),
        "tasks_per_op": _median(s["tasks"] for s in ops),
        "traced_op_p50_s": op_p50,
    }
    for kind in READ_MIX:
        out[f"{kind}_plan_s"] = _median(by_name.get(f"{kind}.plan", []))
        out[f"{kind}_exec_s"] = _median(by_name.get(f"{kind}.collect", []))
        out[f"{kind}_rows"] = _median(res.kind_rows.get(kind, []))
    for name in DECLARED:
        runs = [s for s in ops if s["name"] == name]
        out[f"q_{name}_s"] = _median(s["end"] - s["start"] for s in runs)
        out[f"q_{name}_jobs"] = _median(s["jobs"] for s in runs)
        out[f"q_{name}_stages"] = _median(s["stages"] for s in runs)
    for layer, seconds in layer_self_per_op(
            [s for s in spans if s["op"] != "setup"]).items():
        if layer not in ("bench", "session"):
            out[f"self_{layer}_s"] = seconds
    for name in ("files_written", "bytes_written_per_point", "store_files_total",
                 "samples_decoded", "batches",
                 "rows_per_batch", "trigger_wait_s", "ingest_lag_p50_s",
                 "generator_late_s"):
        out[name] = res.layer.get(name, 0)
    return out


def main(argv=None) -> int:
    import workloads
    from spans import Tracer

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    # BENCHMARK.json names the gated workloads; the others run by hand
    ap.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "mandodb_spark" / "__init__.py").is_file():
        print(f"no engine to benchmark: {ROOT / 'mandodb_spark'} is missing", file=sys.stderr)
        return 2

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path.insert(0, str(ROOT))

    cpus = _cpus()
    load_before = os.getloadavg()
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t = time.perf_counter()
        with tracer.span("get_spark", "session", op="setup"):
            from mandodb_spark import get_spark

            spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cpus}]",
                              shuffle_partitions=cpus)
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        tracer.sc = spark.sparkContext
        version = spark.version
        canary = _canary(spark, cpus)
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, tracer)
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(res, session_s)
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cpus_used": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": version, "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(), "canary_s": round(canary, 4),
        "canary_vs_idle": (round(canary / CANARY_IDLE_S[cpus], 3)
                           if cpus in CANARY_IDLE_S else None),
    }
    print("environment " + json.dumps(stamp))
    info = dict(res.info, session_start_s=session_s, rows_per_s=res.rows / res.wall,
                op_count=sum(map(len, res.latencies.values())))
    for kind, xs in sorted({**res.latencies, **res.commits}.items()):
        info[f"{kind}_p50_s"] = _median(xs)
        info[f"{kind}_count"] = len(xs)
    info["ops_failed_ratio"] = res.failed / max(res.attempted, 1)
    for name, value in sorted(info.items()):
        unit = "ratio" if name == "ops_failed_ratio" else _unit(name)
        print(f"{name} = {value:.6g} {unit}")

    if args.trace:
        tracer.dump(HERE / "out" / f"spans-{args.workload}-{args.seed}.json")
        values = per_layer(res, tracer.spans, session_s, e2e["op_p50_s"])
        defs = bench["per_layer"]
        listed = {d["name"] for d in defs}
        for name, value in sorted(values.items()):
            if name not in listed:
                print(f"{name} = {value:.6g} {_unit(name)}")
    else:
        values = e2e
        defs = bench["end_to_end"]
    metrics = {d["name"]: {"value": values[d["name"]], "unit": d["unit"]} for d in defs}
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics},
                     separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
