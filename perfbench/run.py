"""Benchmark of the jsonschema_spark engine, driven through its public
functions in one process on local[nproc].

    python3 perfbench/run.py --workload flagship_images --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all     # every workload, both modes
    python3 perfbench/run.py --self-test

Run it from the repository root. One run:

1. checks that every output checker rejects corrupted outputs (``oracles``);
2. sizes the Spark session to the host (cores = nproc, a driver heap below
   physical RAM; it refuses to start otherwise);
3. generates the workload's inputs, once per checkout and in a process of
   its own, into ``perfbench/.cache`` (timed apart from set-up);
4. set-up: session start and input load (median of three loads);
5. measures iterations for ``--seconds`` (at least one), checking each
   iteration's output;
6. with ``--trace 1``, the same iterations carry spans around each layer
   call; then each layer's public function runs standalone three times,
   and Spark's stage metrics are attributed to the spans;
7. writes an immutable record to ``perfbench/records`` and prints every
   metric as ``name value unit``, then one JSON result line.

With ``--trace 0`` the result carries the end-to-end metrics, with
``--trace 1`` the per-layer ones (see BENCHMARK.json).

There is no warm-up: a run times the first iteration of a fresh session,
which is what a ``spark-submit`` of the job pays. Measured on the 4-core
host, the flagship's walls fall from ~30 s (first) to ~17 s (second) and
keep falling for about ten more iterations; steady state costs more than a
run's share of the time the benchmark may take, and the first iteration
repeats as closely from run to run as the second does.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import host
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_DIR = os.path.join(HERE, ".cache")
WORK_DIR = os.path.join(HERE, ".work")
RECORDS_DIR = os.path.join(HERE, "records")

SPARK_CONF = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # the status store keeps this many jobs/stages for the span attribution
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}

PASSES = ("scan", "rows", "stats", "unique", "refs", "drift", "anomaly")
# standalone layer calls are repeated and their spans' medians reported
PROBE_REPS = 3
PASS_FIELDS = (("task_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))


def _prepare_env(cfg: dict, run_dir: str) -> None:
    """Everything the session and its workers write stays in ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cfg["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": cfg["driver_mem"],
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        # every JVM, the spark-submit launcher's too: temp files in run_dir,
        # and no perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [f"--conf {k}={v}" for k, v in SPARK_CONF.items()] + ["pyspark-shell"]),
    })
    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM: closing its stdin makes the
    gateway exit, and the Python workers exit with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — reap_descendants kills it below
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs iterations of one workload, counting attempts and failures."""

    def __init__(self, wl) -> None:
        self.wl = wl
        self.attempted = 0
        self.failures: list[str] = []

    def once(self, tr) -> dict | None:
        self.attempted += 1
        try:
            it = self.wl.iteration(tr)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            self.failures.append(traceback.format_exc(limit=5))
            return None
        if it["problems"]:
            self.failures.append("; ".join(it["problems"]))
            return None
        return it

    def loop(self, tr, seconds: float) -> list[dict]:
        """Iterations until ``seconds`` have passed, at least one."""
        out: list[dict] = []
        t0 = time.time()
        while True:
            it = self.once(tr)
            if it is not None:
                out.append(it)
            if time.time() - t0 >= seconds:
                return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate", action="store_true",
                    help="only build the workload's cached inputs")
    ap.add_argument("--self-test", action="store_true",
                    help="only check that every output checker rejects "
                         "corrupted outputs")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "jsonschema_spark")):
        print(f"no jsonschema_spark package under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import oracles

    broken = oracles.self_test()
    if broken:
        print("checker self-test failed:\n  " + "\n  ".join(broken), file=sys.stderr)
        return 3
    if args.self_test:
        print("checker self-test passed: every checker rejects its corrupted outputs")
        return 0

    from workloads import WORKLOADS

    if args.workload == "all":
        return _run_all(args, WORKLOADS)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be 'all' or one of {sorted(WORKLOADS)}")
    try:
        cfg = host.session_config(os.environ)
    except ValueError as e:
        print(f"refusing to start: {e}", file=sys.stderr)
        return 4

    os.makedirs(CACHE_DIR, exist_ok=True)
    os.makedirs(WORK_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_DIR)
    try:
        _prepare_env(cfg, run_dir)
        if args.generate:
            _generate(args.workload, cfg)
            return 0
        # Inputs are generated in a process of their own, so that no run
        # measures a JVM that generation has already warmed.
        gen_s = 0.0
        if WORKLOADS[args.workload](None, args.seed, CACHE_DIR, None).missing():
            t = time.time()
            subprocess.run([sys.executable, os.path.abspath(__file__), "--generate",
                            "--workload", args.workload], check=True,
                           stdout=subprocess.DEVNULL)
            gen_s = time.time() - t
        result = _run(args, cfg, run_dir, gen_s)
    finally:
        if "pyspark" in sys.modules:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is not None:
                _stop_spark(spark)
        host.reap_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, (value, unit) in result["metrics"].items():
        print(f"{name} {value:.6g} {unit}")
    print(f"failed_frac {result['failed'] / result['attempted']:.6g} ratio")
    print(f"record {os.path.relpath(result['record'], ROOT)}")
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in result["metrics"].items()}}))
    return 0


def _run_all(args, workloads) -> int:
    """Every workload, untraced then traced, each run in a process of its
    own; prints their metric lines prefixed by the workload's name."""
    ok = True
    for name in workloads:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)], stdout=subprocess.PIPE, text=True)
            lines = out.stdout.strip().splitlines()
            for line in lines[:-1]:
                print(f"{name} {line}")
            ok = ok and out.returncode == 0 and json.loads(lines[-1])["correct"]
    print(f"all workloads correct: {ok}")
    return 0 if ok else 1


def _generate(workload: str, cfg: dict) -> None:
    """Build every seed variant of the workload's inputs into the cache."""
    from jsonschema_spark.engine import get_session
    from workloads import DRIFT_VARIANTS, WORKLOADS

    spark = get_session(f"perfbench-inputs-{workload}", parallelism=cfg["cpus"])
    spark.sparkContext.setLogLevel("ERROR")
    for seed in range(DRIFT_VARIANTS):
        WORKLOADS[workload](spark, seed, CACHE_DIR, None).prepare()


def _run(args, cfg: dict, run_dir: str, gen_s: float) -> dict:
    from workloads import WORKLOADS

    t_start = time.time()
    from jsonschema_spark.engine import get_session

    spark = get_session(f"perfbench-{args.workload}", parallelism=cfg["cpus"])
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t_start

    wl = WORKLOADS[args.workload](spark, args.seed, CACHE_DIR,
                                  os.path.join(run_dir, "work"))
    wl.prepare()
    loads = []
    for _ in range(3):
        t = time.time()
        wl.load()
        loads.append(time.time() - t)
    run = Runner(wl)
    setup_s = session_s + statistics.median(loads)

    interference = host.Interference()
    rss = host.PeakRss()
    rss.start()
    tracer = spans.Tracer(bool(args.trace))
    timed = run.loop(tracer, args.seconds)
    peak_rss = rss.stop()
    interf = interference.finish()

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "started": t_start, "host": cfg,
        "spark_conf": SPARK_CONF, "input_gen_s": gen_s,
        "setup": {"session_s": session_s, "load_s": loads},
        "timed": timed, "interference": interf,
        "peak_rss_bytes": peak_rss, "peak_rss_split": rss.at_peak,
    }
    if args.trace:
        for _ in range(PROBE_REPS):
            wl.probes(tracer)
        stages, jobs = spans.read_status_store(spark)
        metrics = layer_metrics(tracer, stages, jobs, cfg["cpus"], timed,
                                untraced_walls(args.workload, cfg, args.seconds))
        record["spans"] = tracer.spans
    else:
        metrics = {}
        if timed:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (statistics.median(i["wall"] for i in timed), "s"),
                "img_per_s": (statistics.median(i["rows"] / i["wall"] for i in timed), "img/s"),
                "peak_rss_mb": (peak_rss / 1e6, "MB"),
            }
    failed = len(run.failures)
    record.update(metrics={k: v for k, (v, _) in metrics.items()},
                  attempted=run.attempted, failed=failed,
                  failures=run.failures)
    os.makedirs(RECORDS_DIR, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(t_start))
    path = os.path.join(
        RECORDS_DIR, f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(path, "x") as f:  # never replaces an earlier record
        json.dump(record, f, indent=1, default=str)
    return {"metrics": metrics, "attempted": run.attempted, "failed": failed,
            "correct": failed == 0 and bool(metrics), "record": path}


def untraced_walls(workload: str, cfg: dict, seconds: float) -> list[float]:
    """wall_s of every correct untraced run on record of ``workload`` with
    the same host config and run length."""
    walls = []
    for path in glob.glob(os.path.join(RECORDS_DIR, f"*-{workload}-s*-t0-*.json")):
        with open(path) as f:
            rec = json.load(f)
        if (rec.get("failed") == 0 and rec.get("host") == cfg
                and rec.get("seconds") == seconds
                and "wall_s" in rec.get("metrics", {})):
            walls.append(rec["metrics"]["wall_s"])
    return walls


def layer_metrics(tracer, stages, jobs, cores, traced, untraced) -> dict:
    """Every per-layer metric; a layer this workload does not exercise
    reads 0. ``trace.overhead_frac`` compares the traced walls with the
    untraced runs on record (same schedule, so the same point of the
    warm-up slope); it reads 0 until an untraced run is on record."""
    med = statistics.median

    def span_s(name: str) -> float:
        ss = tracer.named(name)
        return med(s["end"] - s["start"] for s in ss) if ss else 0.0

    def window(name: str) -> dict[str, float]:
        return spans.median_window(tracer.named(name), stages, jobs, cores)

    out: dict[str, tuple[float, str]] = {}
    for m, v in window("iteration").items():
        out[f"spark.{m}"] = (v, spans.SPARK_UNITS.get(m, "s" if m.endswith("_s") else "MB"))
    out["spec.compile_s"] = (span_s("spec.compile"), "s")
    out["engine.plan_s"] = (span_s("engine.plan"), "s")
    out["engine.exec_s"] = (span_s("engine.exec"), "s")
    files = [i["sink_files"] for i in traced if "sink_files" in i]
    out["sink.files"] = (med(files) if files else 0.0, "count")
    bpr = [i["sink_bytes"] / i["rows"] for i in traced if "sink_bytes" in i]
    out["sink.bytes_per_row"] = (med(bpr) if bpr else 0.0, "B/row")
    pass_sum = 0.0
    for p in PASSES:
        s = span_s(f"pass.{p}")
        pass_sum += s
        out[f"pass.{p}_s"] = (s, "s")
        w = window(f"pass.{p}")
        for field, unit in PASS_FIELDS:
            out[f"pass.{p}.{field}"] = (w[field], unit)
    fid, arrow = span_s("pass.fidelity"), span_s("pass.fidelity_arrow")
    # base: the timed fused iteration, the first of the session; the
    # standalone passes run after it, on a warmer JVM
    traced_walls = [i["wall"] for i in traced]
    flag = med(traced_walls) if traced_walls and pass_sum else 0.0
    out["pass.fusion_ratio"] = ((pass_sum + fid) / flag if flag else 0.0, "ratio")
    out["pass.fidelity_arrow_s"] = (arrow, "s")
    # reads below 0 when decoding the few sampled images costs less than
    # the run-to-run noise of the two medians
    out["pass.fidelity_decode_s"] = (fid - arrow if fid else 0.0, "s")
    out["pass.headers_s"] = (span_s("pass.headers"), "s")
    out["manifest.filter_pending_s"] = (span_s("manifest.filter_pending"), "s")
    out["manifest.record_s"] = (span_s("manifest.record"), "s")
    for part in ("fresh_s", "resume_s"):
        vals = [i[part] for i in traced if part in i]
        out[f"job.{part}"] = (med(vals) if vals else 0.0, "s")
    if untraced and traced_walls:
        base = med(untraced)
        out["trace.overhead_frac"] = ((med(traced_walls) - base) / base, "ratio")
    else:
        out["trace.overhead_frac"] = (0.0, "ratio")
    return out


if __name__ == "__main__":
    sys.exit(main())
