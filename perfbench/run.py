"""perfbench: layered benchmark of the parquet_batch_spark engine.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload row_stream --seed 1 --seconds 10 --trace 0

One process, one closed-loop client (the next operation starts when the
previous one returns), Spark on ``local[<cpus of this process>]``.
A run:

1. generates the workload's input tables into a scratch directory
   inside the checkout (``perfbench/datagen.py``, in a child process so
   its memory is not the driver's).  Like the engine's read-only test
   fixtures, the tables are the same in every run (generator seed
   ``DATA_SEED``); ``--seed`` permutes the operations of every pass and
   picks ``row_stream``'s filter bounds;
2. starts the engine's session (``session.get_spark``) and does the
   workload's untimed set-up: shared-stage warm-ups, the reference
   calibration line and the output checks, which are also the warm
   pass;
3. runs whole passes of the workload's operations, each pass in a
   seed-permuted order, at least two and until ``--seconds`` have
   passed;
4. stops Spark, waits for its JVM, removes the scratch directory and
   prints a human-readable report, one ``perfbench-record`` JSON line
   (every metric, end-to-end and per-layer, read by ``compare.py``) and,
   last, the result object.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` records a span around every call into an engine layer,
counts each call's Spark jobs, stages and tasks, reports the per-layer
metrics and writes the spans to ``.perfbench/spans/`` in the checkout.
Exit status is 0 when a result was printed, 2 when the engine sources
or ``BENCHMARK.json`` are missing.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORD_PREFIX = "perfbench-record "
DATA_SEED = 42
# A run must end within 180 s; past this it stops and exits non-zero.
DEADLINE_S = 150
# Units of the report-only values (the rest come from BENCHMARK.json).
REPORT_UNITS = {
    "op_tail_s": "s",
    "op_tail_pct": "%",
    "window_s": "s",
    "first_row_s": "s",
    "bytes_per_input_byte": "ratio",
}

# Per-pass span totals reported as per-layer metrics:
# span name -> {metric: None (span duration) or a key of span.counts}.
PASS_METRICS = {
    "reader.stream": {
        "reader.wait_s": "wait_s",
        "reader.jobs": "jobs",
        "reader.tasks": "tasks",
        "reader.rows": "rows",
    },
    "operators.build": {
        "operators.build_s": None,
        "operators.build_jobs": "jobs",
        "operators.build_tasks": "tasks",
    },
    "plan": {"plan.s": None},
    "exec.action": {
        "exec.action_s": None,
        "exec.jobs": "jobs",
        "exec.stages": "stages",
        "exec.tasks": "tasks",
        "exec.bytes_read": "bytes_read",
        "exec.shuffle_write_bytes": "shuffle_write_bytes",
        "exec.spill_bytes": "spill_bytes",
        "exec.output_rows": "output_rows",
    },
}


def parse_args():
    ap = argparse.ArgumentParser(description="perfbench: layered engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def spark_env(work: str) -> None:
    """The environment the engine's session factory reads, set before it
    is imported: all of this process's CPUs, a 2 GiB driver heap, and
    every scratch path inside the run's scratch directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_CONF"] = ";".join(
        [
            "spark.ui.showConsoleProgress=false",
            f"spark.local.dir={os.path.join(work, 'spark-local')}",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        ]
    )
    # Both JVMs spark-submit starts keep temp and perf-counter files
    # out of the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_window(ctx, workload, seconds: float):
    """Run whole passes, at least two, until ``seconds`` have passed, so
    every operation is timed at least twice.  Returns the
    operation latencies, rows, failures, the op ids of each pass and
    the latencies by operation name and the window's length."""
    from spans import reset_peak_rss

    lat, rows, failed, passes, by_name = [], 0, 0, [], {}
    op_id = 0
    reset_peak_rss()
    t0 = time.perf_counter()
    while True:
        ids = []
        for name, op in workload.pass_ops(ctx):
            a = time.perf_counter()
            try:
                n, ok = op(op_id)
            except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
                n, ok = 0, False
            lat.append(time.perf_counter() - a)
            by_name.setdefault(name, []).append(lat[-1])
            rows += n
            failed += not ok
            ids.append(op_id)
            op_id += 1
        passes.append(ids)
        if len(passes) >= 2 and time.perf_counter() - t0 >= seconds:
            break
    return lat, rows, failed, passes, by_name, time.perf_counter() - t0


def layer_metrics(ctx, workload, passes) -> dict[str, float]:
    """Per-layer values: set-up readings plus per-pass span totals
    (median over passes) of the traced run."""
    from spans import median

    tr = ctx.tracer
    out = dict(ctx.layers)
    by_op: dict[int, list] = {}
    for s in tr.spans:
        if s.op is not None:
            by_op.setdefault(s.op, []).append(s)
    for span_name, metrics in PASS_METRICS.items():
        for metric, key in metrics.items():
            totals = []
            for ids in passes:
                spans = [s for i in ids for s in by_op.get(i, []) if s.name == span_name]
                totals.append(
                    sum((s.end - s.start) if key is None else s.counts.get(key, 0) for s in spans)
                )
            out[metric] = median(totals) if totals else 0.0
    loads = [s for s in tr.spans if s.name == "catalog.load"]
    if loads:
        out["catalog.load_s"] = median([s.end - s.start for s in loads])
        out["catalog.load_jobs"] = median([s.counts.get("jobs", 0) for s in loads])
        out["catalog.count_table_s"] = tr.total("catalog.count_table")
    if any(s.name == "writer.write" for s in tr.spans):
        out["writer.jobs"] = tr.total("writer.write", "jobs")
    firsts = getattr(workload, "first_rows", None)
    if firsts:
        out["reader.first_row_s"] = median(firsts)
    return out


def main() -> int:
    args = parse_args()
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not (
        os.path.isdir(os.path.join(ROOT, "parquet_batch_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isfile(bench_json)
    ):
        print("perfbench: engine sources or BENCHMARK.json not found under " + ROOT, file=sys.stderr)
        return 2
    with open(bench_json) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    import workloads as wl
    from spans import Tracer, median, peak_rss_mb, tail

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workload = wl.WORKLOADS[args.workload]()

    def past_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, past_deadline)
    signal.alarm(DEADLINE_S)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        data_dir = os.path.join(work, "data")
        t = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), data_dir, "--seed", str(DATA_SEED), "--rows"]
            + [f"{t}={n}" for t, n in workload.tables.items()],
            check=True,
        )
        gen_s = time.perf_counter() - t
        spark_env(work)
        from parquet_batch_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t
        ctx = wl.Ctx(
            spark=spark,
            data_dir=data_dir,
            work_dir=work,
            tracer=Tracer(bool(args.trace), spark),
            rng=random.Random(args.seed),
        )
        ctx.layers["session.get_spark_s"] = get_spark_s
        ctx.layers["bench.datagen_s"] = gen_s
        workload.setup(ctx)
        setup_s = time.perf_counter() - T_START
        lat, rows, failed, passes, by_name, window = timed_window(ctx, workload, args.seconds)
        peak = peak_rss_mb()
        layers = layer_metrics(ctx, workload, passes)
        if args.trace:
            spans_dir = os.path.join(ROOT, ".perfbench", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(spans_dir, f"{args.workload}-s{args.seed}.json"))
        bad = dict(ctx.bad)
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    tail_s, tail_pct, n = tail(lat)
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(lat),
        "ops_per_s": n / window,
        "rows_per_s": rows / window,
        "peak_rss_mb": peak,
    }
    extra = {
        "op_tail_s": tail_s,
        "failed_frac": failed / n,
        "op_tail_pct": tail_pct,
        "samples": n,
        "passes": len(passes),
        "window_s": window,
        "first_row_s": layers.get("reader.first_row_s"),
        "bytes_per_input_byte": layers.get("writer.bytes_per_input_byte"),
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(REPORT_UNITS)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    for name, value in {**e2e, **extra}.items():
        if value is not None:
            print(f"  {name:24s} {value:14.6g} {units.get(name, '')}")
    if args.trace:
        for name in sorted(layers):
            print(f"  {name:34s} {layers[name]:14.6g} {units.get(name, '')}")
    for key, why in bad.items():
        print(f"  FAILED CHECK {key}: {why}")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "e2e": e2e,
        "extra": extra,
        "op_latency_s": by_name,
        "layers": layers,
        "failed_checks": bad,
    }
    print(RECORD_PREFIX + json.dumps(record))
    print(
        json.dumps(
            {"correct": not bad and failed == 0, "attempted": n, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
