"""Benchmark of the engine's public operator and pipeline calls.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dsp_ragged --seed 1 --seconds 8 --trace 0

One run generates the workload's inputs from the seed (cached under
``.perfbench/``), sets a Spark session up three times, makes one cold pass
over the workload's op mix, then repeats the mix for ``--seconds``, in
whole passes and at least one (closed loop: one call in flight), checks
every op's output once outside the timed phase, and prints one JSON
object as the last line of stdout:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The full record (host key, provenance, every call) goes
to ``.perfbench/records/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORKLOAD_NAMES = ("dsp_long", "dsp_ragged", "corpus_pipeline")
N_SETUPS = 3
# tolerance of the dsp output checks against numpy references
DSP_RTOL = 1e-9


def configure_env(workload: str, seed: int) -> dict[str, str]:
    """Host-sized session settings, through the environment variables the
    library reads, plus scratch locations inside the checkout."""
    from host import mem_total_gb, nproc

    tmp = os.path.join(STATE, "tmp", f"{workload}-s{seed}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    env = {
        # half the CPUs: at these input sizes two task slots run a pass
        # faster than four, with less CPU, and the JVM's compiler and GC
        # threads and the calling process keep CPUs of their own
        "SPARK_GRAFT_CPUS": str(max(1, nproc() // 2)),
        # an eighth of physical memory, 1 to 8 GiB (the library's default
        # is a fixed 48g)
        "SPARK_GRAFT_DRIVER_MEM": f"{min(8, max(1, round(mem_total_gb() / 8)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        # the JVM's temp files and perf-data file stay out of /tmp; its JIT
        # compiler threads live as long as it does (see spans.tree_cpu_s)
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # the bare-kernel timings run single-threaded, like one task
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    os.environ.update(env)
    return env


class Session:
    """The Spark session, set up and torn down from outside the library."""

    def __init__(self):
        self.spark = None

    def setup(self) -> tuple[float, float]:
        """(get_spark seconds, warm-up seconds). The first call launches
        the JVM; later calls stop the session and build a new one in it."""
        from xarray_scipy_spark import operators as ops
        from xarray_scipy_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        # warm-up: one small grouped-map job starts the Python workers
        frame = self.spark.range(0, 4096).selectExpr(
            "id % 4 AS user_id", "CAST(id AS DOUBLE) AS t", "sin(id) AS value"
        )
        noop(ops.rfft(frame, by=["user_id"], dim="t"))
        return t1 - t0, time.perf_counter() - t1

    def close(self) -> None:
        """Stop the session and the JVM, and wait until every process
        this run started has exited."""
        from pyspark import SparkContext

        from spans import descendants

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=120)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_call(spark, op, data_dir: str, rows: int, reader, tag: str, collect: bool) -> dict:
    """One op call: build, then execute into the noop sink, or with
    ``collect`` into a pandas frame kept for the output check."""
    from spans import tree_cpu_s

    call = {"op": op.name, "layer": op.layer, "rows": rows, "error": None}
    if reader is not None:
        reader.set_group(f"{tag}-build")
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    t1 = None
    try:
        df = op.build(spark, data_dir)
        t1 = time.perf_counter()
        if reader is not None:
            reader.set_group(f"{tag}-exec")
        if collect:
            call["output"] = df.toPandas()
        else:
            noop(df)
    except Exception as exc:  # a failed call is counted, not fatal
        call["error"] = f"{type(exc).__name__}: {exc}"[:400]
    t2 = time.perf_counter()
    cpu1 = tree_cpu_s()
    call.update(wall_s=t2 - t0, build_s=(t1 or t2) - t0, exec_wall_s=t2 - (t1 or t2))
    call.update(cpu_s=cpu1[0] - cpu0[0], jit_cpu_s=cpu1[1] - cpu0[1])
    if reader is not None:
        reader.clear_group()
        r0 = time.perf_counter()
        call["eager_jobs"] = len(reader.jobs(f"{tag}-build"))
        call["exec"] = reader.read([f"{tag}-build", f"{tag}-exec"])
        call["trace_read_s"] = time.perf_counter() - r0
    return call


def run_pass(spark, mix, data_dir: str, rows: dict, reader, n: int, collect: bool = False) -> dict:
    t0 = time.perf_counter()
    calls = [
        run_call(spark, op, data_dir, rows[op.table], reader, f"pb{n}-{i}", collect)
        for i, op in enumerate(mix)
    ]
    return {
        "wall_s": time.perf_counter() - t0,
        "cpu_s": sum(c["cpu_s"] for c in calls),
        "jit_cpu_s": sum(c["jit_cpu_s"] for c in calls),
        "calls": calls,
    }


def check_outputs(workload: str, calls: list[dict], data_dir: str, tables) -> dict[str, str | None]:
    """Each collected output against its reference: None when it
    matches, else what differs. Runs outside every timed span."""
    import workloads as wl

    results: dict[str, str | None] = {}
    ops = {op.name: op for op in wl.WORKLOADS[workload]}
    if workload == "corpus_pipeline":
        import duckdb

        con = duckdb.connect()
        con.sql(f"SET temp_directory = '{os.environ['TMPDIR']}'")
        for name in tables:
            path = os.path.join(data_dir, name + ".parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        reference = lambda name: con.sql(ops[name].oracle()).df()  # noqa: E731
        rtol = 0.0
    else:
        blocks = wl.Blocks.from_events(tables["events"])
        reference = lambda name: wl.dsp_reference(name, blocks)  # noqa: E731
        rtol = DSP_RTOL
    for call in calls:
        name = call["op"]
        if call["error"]:
            results[name] = call["error"]
            continue
        try:
            results[name] = wl.compare(call.pop("output"), reference(name), ops[name].keys, rtol)
        except Exception as exc:  # a broken reference fails the check
            results[name] = f"reference: {type(exc).__name__}: {exc}"[:400]
    return results


def bare_kernels(tables, repeats: int = 3) -> dict[str, float]:
    """Seconds each op's public numpy kernel takes on the workload's
    series, single-threaded and without Spark (median of ``repeats``)."""
    import workloads as wl
    from spans import median

    blocks = wl.Blocks.from_events(tables["events"])
    out = {}
    for name, kernel in wl.BARE.items():
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            kernel(blocks)
            times.append(time.perf_counter() - t0)
        out[name] = median(times)
    return out


def scan_seconds(spark, data_dir: str, table: str, repeats: int = 3) -> float:
    """A bare ``load_table`` into the noop sink: the floor every op pays."""
    from xarray_scipy_spark.sources import load_table

    from spans import median

    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        noop(load_table(spark, table, data_dir))
        times.append(time.perf_counter() - t0)
    return median(times)


def per_layer(mix, setups, cold, passes, rows, bare, scan_s, scan_table) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, and the per-op breakdown.

    Every metric is measured on every workload: aggregates are the median
    over timed passes of per-pass totals over the workload's calls. The
    per-op breakdown (medians over each op's timed calls) names only the
    workload's own ops, so it goes to the record, not to the result.
    """
    import workloads as wl
    from spans import EXEC_FIELDS, median, sum_records

    def per_pass(fn) -> float:
        return median(fn(p["calls"]) for p in passes)

    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (median(s[0] for s in setups), "s")
    m["session.warmup_s"] = (median(s[1] for s in setups), "s")
    m["session.cold_setup_s"] = (sum(setups[0]), "s")
    m["sources.scan_s"] = (scan_s, "s")
    m["sources.scan_rows_per_s"] = (rows[scan_table] / scan_s, "rows/s")
    m["call.build_s"] = (per_pass(lambda cs: sum(c["build_s"] for c in cs)), "s")
    m["call.exec_wall_s"] = (per_pass(lambda cs: sum(c["exec_wall_s"] for c in cs)), "s")
    m["call.eager_jobs"] = (per_pass(lambda cs: sum(c["eager_jobs"] for c in cs)), "count")
    units = {"shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
             "stages": "count", "tasks": "count", "task_retries": "count"}
    for key in EXEC_FIELDS:
        m[f"exec.{key}"] = (per_pass(lambda cs: sum_records([c["exec"] for c in cs])[key]), units.get(key, "s"))
    py_s = m["exec.py_s"][0]
    bare_s = sum(bare.get(op.name, 0.0) for op in mix)
    m["kernels.share"] = (bare_s / py_s if py_s else 0.0, "ratio")
    m["core.py_overhead_s"] = (py_s - bare_s, "s")
    m["exec.jit_cpu_s"] = (per_pass(lambda cs: sum(c["jit_cpu_s"] for c in cs)), "cpu-s")
    m["wall.rows_per_s"] = (rows_per(passes, "wall_s"), "rows/s")
    m["wall.op_s.p50"] = (median(c["wall_s"] for p in passes for c in p["calls"]), "s")
    m["wall.cold_pass_s"] = (cold["wall_s"], "s")
    m["trace.read_s"] = (per_pass(lambda cs: sum(c["trace_read_s"] for c in cs)), "s")
    m["trace.rows_per_cpu_s"] = (rows_per(passes, "cpu_s"), "rows/cpu-s")

    detail = {
        f"{layer}.build_s": per_pass(lambda cs: sum(c["build_s"] for c in cs if c["layer"] == layer))
        for layer in ("operators", "pipeline")
    }
    detail["pipeline.eager_jobs"] = per_pass(
        lambda cs: sum(c["eager_jobs"] for c in cs if c["layer"] == "pipeline")
    )
    detail["kernels.bare_s"] = bare_s
    for op in mix:
        calls = [c for p in passes for c in p["calls"] if c["op"] == op.name]
        med = lambda f: median(f(c) for c in calls)  # noqa: E731
        detail[f"{op.name}.wall_s"] = med(lambda c: c["wall_s"])
        detail[f"{op.name}.build_s"] = med(lambda c: c["build_s"])
        detail[f"{op.name}.exec_wall_s"] = med(lambda c: c["exec_wall_s"])
        for key in ("task_s", "jvm_cpu_s", "py_s"):
            detail[f"{op.name}.exec.{key}"] = med(lambda c: c["exec"][key])
        detail[f"{op.name}.exec.shuffle_mb"] = med(
            lambda c: c["exec"]["shuffle_read_mb"] + c["exec"]["shuffle_write_mb"]
        )
        detail[f"{op.name}.exec.stages"] = med(lambda c: c["exec"]["stages"])
        if op.name in wl.BARE:
            detail[f"{op.name}.kernels.bare_s"] = bare[op.name]
    return m, detail


def rows_per(passes, key: str) -> float:
    """Input rows of one pass over the mix ÷ the sum, over its calls, of
    each call's median ``key`` (``cpu_s`` or ``wall_s``) across the timed
    passes, so that from three passes on, one call that a busy host slowed
    does not set the figure."""
    from spans import median

    calls = passes[0]["calls"]
    spent = sum(median(p["calls"][i][key] for p in passes) for i in range(len(calls)))
    return sum(c["rows"] for c in calls) / spent


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke self-test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "xarray_scipy_spark")):
        print(f"perfbench: no xarray_scipy_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    env = configure_env(args.workload, args.seed)

    import gen
    import workloads as wl
    from host import HostWatch
    from spans import StatusReader, median, peak_rss_mb

    watch = HostWatch()
    data_dir, tables, sizes = gen.generate(
        args.workload, args.size, args.seed, os.path.join(STATE, "inputs")
    )
    rows = {name: t.num_rows for name, t in tables.items()}
    mix = wl.WORKLOADS[args.workload]
    session = Session()
    try:
        setups = [session.setup() for _ in range(N_SETUPS)]
        spark = session.spark
        reader = StatusReader(spark) if args.trace else None
        cold = run_pass(spark, mix, data_dir, rows, reader, 0, collect=True)
        passes = []
        t_end = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < t_end:
            passes.append(run_pass(spark, mix, data_dir, rows, reader, len(passes) + 1))
        if args.trace:
            scan_table = "documents" if args.workload == "corpus_pipeline" else "events"
            scan_s = scan_seconds(spark, data_dir, scan_table)
            bare = bare_kernels(tables) if "events" in tables else {}
        rss = peak_rss_mb()
    finally:
        session.close()
    checks = check_outputs(args.workload, cold["calls"], data_dir, tables)
    shutil.rmtree(env["TMPDIR"], ignore_errors=True)

    calls = [c for p in [cold, *passes] for c in p["calls"]]
    failed = sum(1 for c in calls if c["error"] or checks.get(c["op"]))
    detail = {}
    if args.trace:
        metrics, detail = per_layer(mix, setups, cold, passes, rows, bare, scan_s, scan_table)
    else:
        metrics = {
            "setup_s": (median(a + b for a, b in setups), "s"),
            "rows_per_cpu_s": (rows_per(passes, "cpu_s"), "rows/cpu-s"),
            "op_cpu_s.p50": (median(c["cpu_s"] for p in passes for c in p["calls"]), "cpu-s"),
            "cold_pass_cpu_s": (cold["cpu_s"], "cpu-s"),
            "peak_rss_mb": (sum(rss.values()), "MB"),
            "ok_ratio": ((len(calls) - failed) / len(calls), "ratio"),
        }
    result = {
        "correct": failed == 0 and not any(checks.values()),
        "attempted": len(calls),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "inputs": sizes,
        "session_env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")},
        "host": watch.record(ROOT),
        "checks": checks,
        "setups": setups,
        "peak_rss_mb": rss,
        "layer_detail": detail,
        "passes": len(passes),
        "cold_pass": cold,
        "timed_passes": passes,
        "result": result,
    }
    out_dir = os.path.join(STATE, "records")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    summary = {
        k: record[k]
        for k in ("workload", "seed", "trace", "inputs", "session_env", "host", "checks", "layer_detail")
    }
    print(json.dumps({"record": os.path.relpath(path, ROOT), **summary}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
