"""Run one benchmark workload and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke

``--workload`` is one of ``etl_nightly``, ``dashboard_reads`` and
``curation_ingest`` (see perfbench/README.md). The run generates its
inputs from ``--seed``, starts a Spark session on
``local[$SPARK_GRAFT_CPUS]`` (default: every CPU this process may use),
warms the session up, then measures one pass of the workload. Every
pass models a job (or a dashboard session) in a fresh process, so a
second pass in the same process would measure something else; on a
4-core host one pass lasts 15-80 s, longer than the ``--seconds``
(5) the benchmark asks for. Every operation's output is checked once
the session has stopped.

Output: one ``name value unit`` line per metric and a provenance line,
then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). A traced run
also writes its spans and per-operation records to
``.perfbench_out/<workload>-seed<n>-trace1.json``. The exit code is 0
only when every check passed.

``--smoke`` runs every workload once, untraced and traced, at the
smallest inputs, and checks that each prints every metric with its
unit and passes every check.

All state lives under ``.perfbench_work/`` in the checkout (removed
before and after a run): generated inputs, the benchmark's own
warehouse database, checkpoints, Spark scratch and temp files. The
DuckDB twins' results are cached in ``.perfbench_cache/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics, printed by every untraced run. The pass is
#: measured in CPU seconds of the process tree (JVM, Python driver,
#: Python workers), each operation's scaled by the share of the
#: machine's CPU time not stolen during it: on a shared host the
#: wall-clock figures follow the neighbours' load, and so, nearly one
#: for one with the steal share, do raw CPU seconds (README.md). The
#: wall-clock and raw CPU figures are printed as headline lines.
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "op_cpu_gmean_s": "s", "peak_rss_mb": "MB"}

#: per-layer metrics, printed by every traced run; a layer the workload
#: does not reach reads 0
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "spark.fixed_plan_s": "s",
    "sources.csv_read_s": "s",
    "sources.write_s": "s",
    "sources.fact_write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "pipeline.transform_gate_s": "s",
    "pipeline.load_gate_s": "s",
    "pipeline.run_log_s": "s",
    "scd2.merge_s": "s",
    "scd2.new_versions": "count",
    "dash.plan_s": "s",
    "dash.exec_s": "s",
    "dash.plan_jobs": "count",
    "dash.jobs": "count",
    "dash.tasks": "count",
    "dash.exchanges": "count",
    "dash.rows_returned": "count",
    "cur.plan_s": "s",
    "cur.exec_s": "s",
    "cur.shared_builds": "count",
    "cur.plan_jobs": "count",
    "cur.jobs": "count",
    "cur.tasks": "count",
    "cur.python_nodes": "count",
    "cur.exchanges": "count",
    "cur.reused_exchanges": "count",
    "stream.startup_s": "s",
    "stream.batches": "count",
    "stream.empty_batches": "count",
    "stream.batch_p50_s": "s",
    "stream.add_batch_s": "s",
    "stream.overhead_s": "s",
    "stream.rows_per_s": "rows/s",
    "trace.pass_s": "s",
    "trace.pass_cpu_s": "s",
    "trace.self_s": "s",
}

#: input sizes: the shipped tables (under perfbench/data/) the queries
#: read, and the raw CSV rows the ETL loads
SIZES = {
    "default": {"sf": "sf0.01", "etl_rows": 2_000},
    "smoke": {"sf": "sf0.001", "etl_rows": 500},
}

DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("etl_nightly", "dashboard_reads", "curation_ingest"))
    ap.add_argument("--seed", type=int, default=1)
    # one pass always runs, and on a 4-core host lasts longer than this
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="default")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    return args


def _isolate(work: str) -> None:
    """Point every file Spark, the JVM and Python write into ``work``."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.chdir(work)
    for p in (ROOT, os.path.join(ROOT, "tools"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _session_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size does not
        # depend on when the collector first grows or touches the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
        # keep every job, stage and SQL execution of a run readable
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def _jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on EOF
    proc.wait(timeout=60)


def run(args: argparse.Namespace) -> int:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", nproc()))
    if cpus > nproc():
        print(f"refusing to run: SPARK_GRAFT_CPUS={cpus} exceeds nproc={nproc()}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    load_start = os.getloadavg()[0]
    try:
        return _measure(args, work, out_dir, load_start)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _measure(args: argparse.Namespace, work: str, out_dir: str, load_start: float) -> int:
    import pyspark
    from spans import Tracer, host_cpu_ticks
    from workloads import WORKLOADS, Context, fixed_plan_probe

    wl = WORKLOADS[args.workload]
    size = SIZES[args.size]
    tracer = Tracer(enabled=bool(args.trace), run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Context(
        spark=None, tracer=tracer, seed=args.seed, work=work,
        cache=os.path.join(ROOT, ".perfbench_cache"),
        sf_dir=os.path.join(HERE, "data", size["sf"]), etl_rows=size["etl_rows"],
    )
    with tracer.span("setup.inputs"):
        wl.inputs(ctx)
    from _multi_source_retail_data_integration_hub_spark.session import get_spark

    with tracer.span("session.start") as s_start:
        ctx.spark = get_spark("perfbench", _session_conf(work))
    spark = ctx.spark
    try:
        with tracer.span("session.warmup") as s_warm:
            wl.warm_up(ctx)
        setup_s = time.perf_counter() - T_START
        tracer.attach(spark)  # after the warm-up: traced counts cover the pass only

        undo = wl.traced_calls(tracer) if tracer.enabled and hasattr(wl, "traced_calls") else []
        steal0 = host_cpu_ticks()
        try:
            with tracer.span("pass"):
                p = wl.run_pass(ctx)
        finally:
            for u in undo:
                u()
        steal1 = host_cpu_ticks()
        if tracer.enabled:
            p["fixed_plan_s"] = fixed_plan_probe(spark)
        tracer.detach()
        peak_rss_mb = _jvm_hwm_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        _stop(spark)

    ops = p["ops"]
    with tracer.span("check"):
        wl.check(ctx, ops)
    failed = [op for op in ops if op.get("error")]
    # one clock tick at least: an operation that failed at once costs ~0
    cpu = [max(op["cpu_s"] * (1 - op["steal_share"]), 0.01) for op in ops]
    e2e = {
        "setup_s": setup_s,
        "pass_cpu_s": sum(cpu),
        # every operation weighs the same, whatever its length
        "op_cpu_gmean_s": statistics.geometric_mean(cpu),
        "peak_rss_mb": peak_rss_mb,
    }
    headline = {
        "pass_s": (p["wall_s"], "s"),
        "op_gmean_s": (statistics.geometric_mean(op["latency_s"] for op in ops), "s"),
        "pass_raw_cpu_s": (sum(op["cpu_s"] for op in ops), "s"),
        **wl.headline(p),
        "fail_ratio": (len(failed) / len(ops), "ratio"),
    }
    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc(),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "shuffle_partitions": int(shuffle_partitions),
        "driver_memory": DRIVER_MEMORY,
        "sf_dir": os.path.relpath(ctx.sf_dir, ROOT),
        "etl_rows": ctx.etl_rows if ctx.snap else None,
        "pyspark": pyspark.__version__,
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
        # share of the machine's CPU time the hypervisor gave to others
        # during the pass: what slows the wall-clock figures down
        "steal_share_pass": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
    }
    for name, value in e2e.items():
        print(f"{name} {value:.6g} {END_TO_END[name]}")
    for name, (value, unit) in headline.items():
        print(f"{name} {value:.6g} {unit}")
    for op in failed:
        print(f"FAILED {op['name']}: {op['error']}")
    print("provenance " + json.dumps(provenance, sort_keys=True))

    if args.trace:
        layers = {name: 0.0 for name in PER_LAYER}
        layers["session.start_s"] = s_start["dur"]
        layers["session.warmup_s"] = s_warm["dur"]
        layers["spark.fixed_plan_s"] = p["fixed_plan_s"]
        layers.update(wl.layers(p, tracer.spans))
        layers["trace.pass_s"] = p["wall_s"]
        layers["trace.pass_cpu_s"] = e2e["pass_cpu_s"]
        layers["trace.self_s"] = tracer.self_s
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in layers.items()}
        os.makedirs(out_dir, exist_ok=True)
        artifact = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace1.json")
        tracer.dump(artifact, {
            "provenance": provenance,
            "end_to_end": e2e,
            "headline": {k: v[0] for k, v in headline.items()},
            "per_layer": layers,
            "pass": p,
        })
        print(f"trace artifact {os.path.relpath(artifact, ROOT)}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed), "metrics": metrics}))
    return 0 if not failed else 1


def smoke() -> int:
    """Every workload once, untraced then traced, at the smallest sizes:
    every metric must print with its unit and every check must pass.
    Reports the tracing overhead (traced minus untraced pass, in CPU and
    wall-clock seconds)."""
    problems = []
    for workload in ("etl_nightly", "dashboard_reads", "curation_ingest"):
        cost = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", "1", "--seconds", "0", "--trace", str(trace), "--size", "smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, ValueError):
                problems.append(f"{workload} trace={trace}: no result line (exit {proc.returncode})\n{proc.stderr[-2000:]}")
                continue
            want = PER_LAYER if trace else END_TO_END
            got = {k: v.get("unit") for k, v in result["metrics"].items()}
            if got != want:
                problems.append(f"{workload} trace={trace}: metrics/units differ: {sorted(set(got.items()) ^ set(want.items()))}")
            if proc.returncode != 0 or not result["correct"]:
                problems.append(f"{workload} trace={trace}: exit {proc.returncode}, {result['failed']} failed\n" + "\n".join(lines[:-1]))
            m = {k: v.get("value") for k, v in result["metrics"].items()}
            if trace:
                cost[1] = (m.get("trace.pass_cpu_s"), m.get("trace.pass_s"))
            else:
                wall = [float(line.split()[1]) for line in lines if line.startswith("pass_s ")]
                cost[0] = (m.get("pass_cpu_s"), wall[0] if wall else None)
            print(f"{workload} trace={trace}: exit {proc.returncode}, attempted {result['attempted']}, failed {result['failed']}")
        if None not in cost.get(0, (None,)) + cost.get(1, (None,)):
            (cpu0, wall0), (cpu1, wall1) = cost[0], cost[1]
            print(f"{workload}: tracing overhead {cpu1 - cpu0:+.3f} s on pass_cpu_s {cpu0:.3f} s, "
                  f"{wall1 - wall0:+.3f} s on pass_s {wall0:.3f} s")
    for p in problems:
        print("SMOKE PROBLEM " + p)
    print("smoke: " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


def main(argv: list[str]) -> int:
    args = parse(argv)
    if args.smoke:
        return smoke()
    return run(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
