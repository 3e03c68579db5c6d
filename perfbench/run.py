"""One run of one benchmark workload of the giraph_spark engine.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run is a fresh process on
``local[nproc]``: it starts a session, builds the workload's inputs from
the seed, runs whole rounds of engine calls for about ``--seconds`` (at
least one round: the timed region), checks every output against an
independent reference, and prints two JSON lines: a ``detail`` record
(environment, every metric, checks run), then the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, from Spark's status store. A wrong output
exits non-zero without a result line.

    python3 perfbench/run.py --selftest

runs every workload at a tiny size in both modes and asserts that every
metric of BENCHMARK.json is printed with its unit and every check ran.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# input set-ups per run; setup_s takes their median
SETUP_REPEATS = 3
LAYER_CALLS = ("pagerank", "wcc", "lpa", "triangles", "resume")
CALL_FIELDS = {
    "wall_s": "s", "setup_s": "s", "supersteps": "count", "superstep_p50_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count", "driver_s": "s",
    "executor_cpu_s": "s", "executor_run_s": "s", "gc_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("crawl", "small-graphs"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if args.selftest:
        return selftest()
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "giraph_spark")):
        print(f"perfbench: no giraph_spark package in {ROOT}", file=sys.stderr)
        return 2

    # everything the run writes stays in one directory of the checkout,
    # removed at exit: Spark's local dirs, JVM and Python temp files, the
    # warehouse, the bucketed table and the snapshots
    tmp = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a 2 GB heap is ample at these sizes, and a cap that the heap reaches
    # keeps peak RSS from following the GC's adaptive sizing run to run
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    try:
        detail, result = bench(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


def bench(args, tmp: str) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)
    env = environment()
    if not env["quiet_box"]:
        print(f"perfbench: {env['other_java']} other java process(es) alive at start",
              file=sys.stderr)
    from giraph_spark.session import get_spark

    import workloads
    from spans import RETAIN_CONF, Tracer

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update(RETAIN_CONF)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    with tracer.span("session.start") as started:
        spark = get_spark(
            app_name=f"perfbench-{args.workload}", cores=env["nproc"], extra_conf=conf
        )
    sc = tracer.sc = spark.sparkContext
    try:
        sc.setLogLevel("ERROR")
        env["spark_version"] = spark.version
        env["java_version"] = sc._jvm.System.getProperty("java.version")  # noqa: SLF001
        w = workloads.WORKLOADS[args.workload](
            spark, tracer, args.seed, args.tiny, tmp, env["nproc"]
        )
        setups = []
        for rep in range(SETUP_REPEATS):
            if rep:
                w.release_inputs()
            t = time.time()
            w.setup(rep)
            setups.append(time.time() - t)
        setup_s = started["end"] - PROCESS_START + statistics.median(setups)

        start = time.time()
        w.run_for(args.seconds)
        wall = time.time() - start

        w.check()
        counters = tracer.spark_counters() if args.trace else {}
        w.release_inputs()
        rdds_left = sc._jsc.getPersistentRDDs().size()  # noqa: SLF001
        rss_mb = peak_rss_mb(sc)
    finally:
        stop(spark)
    env["steal_s"] = cpu_steal_s() - env.pop("steal_s_at_start")

    calls = [s for s in tracer.spans if s["call"]]
    ok = [s for s in calls if s.get("ok")]
    if not ok or not tracer.named("pagerank"):
        raise RuntimeError(f"no engine call completed: {w.failures[:3]}")
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "pagerank_s": (_median(s["seconds"] for s in ok if s["name"] == "pagerank"), "s"),
        "pagerank_edges_per_s": (_median(
            s["superstep_count"] * w.edges_per_call(s) / s["seconds"]
            for s in ok if s["name"] == "pagerank"), "edges/s"),
        "runs_per_min": (runs_per_min(ok, start), "1/min"),
        "run_p50_s": (_median(s["seconds"] for s in ok), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    layers = layer_metrics(w, tracer, counters, rdds_left, len(calls))
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tiny": args.tiny, "env": env,
        "setup_repeats_s": setups,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_call": per_call_walls(ok),
        "tail": tail(sorted(s["seconds"] for s in ok)),
        "checks": {c: w.checks.count(c) for c in sorted(set(w.checks))},
        "failures": w.failures,
        "failed_frac": len(w.failures) / len(calls),
    }
    if args.trace:
        detail["per_layer"] = {k: v for k, (v, _) in layers.items()}
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".bench_out", f"spans-{run_id}.jsonl"))
    metrics = layers if args.trace else e2e
    result = {
        "correct": True,
        "attempted": len(calls),
        "failed": len(w.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def layer_metrics(w, tracer, counters: dict, rdds_left: int, attempted: int) -> dict:
    """Per-layer metrics: medians over the spans of each layer (a layer
    the workload never calls reads 0)."""
    from spans import busy_seconds

    out: dict[str, tuple[float, str]] = {}
    for name in ("session.start", "datasets.generate", "corpus.generate", "storage.write"):
        out[name + "_s"] = (_median(s["seconds"] for s in tracer.named(name)), "s")

    def call_values(span: dict) -> dict:
        c = counters.get(span.get("group"), {})
        secs = span.get("superstep_seconds", [])
        v = {
            "wall_s": span["seconds"],
            "setup_s": span["seconds"] - sum(secs),
            "supersteps": len(secs),
            "superstep_p50_s": statistics.median(secs) if secs else 0.0,
            "driver_s": span["seconds"] - busy_seconds(
                c.get("intervals", []), span["start"], span["end"]),
        }
        for k in ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
                  "shuffle_read_mb", "shuffle_write_mb"):
            v[k] = c.get(k, 0)
        return v

    per = {name: [call_values(s) for s in tracer.named(name) if s.get("ok")]
           for name in ("extract",) + LAYER_CALLS}
    ext = per["extract"]
    out["corpus.extract_s"] = (_median(v["wall_s"] for v in ext), "s")
    out["corpus.extract_pages_per_s"] = (
        _median(w.n_pages / v["wall_s"] for v in ext) if ext else 0.0, "pages/s")
    for k, unit in (("executor_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB")):
        out[f"corpus.{k}"] = (_median(v[k] for v in ext), unit)
    for name in LAYER_CALLS:
        for k, unit in CALL_FIELDS.items():
            out[f"{name}.{k}"] = (_median(v[k] for v in per[name]), unit)
    snaps = [snapshots(d) for d in w.checkpoint_dirs]
    for i, (k, unit) in enumerate((("checkpoint.snapshots", "count"),
                                   ("checkpoint.write_s", "s"), ("checkpoint.mb", "MB"))):
        out[k] = (_median(s[i] for s in snaps), unit)
    out["pregel.rdds_left"] = (rdds_left, "count")
    out["client.failed_frac"] = (len(w.failures) / attempted, "ratio")
    return out


def snapshots(directory: str) -> tuple[int, float, float]:
    """Snapshots in one checkpoint directory, the sum of their
    ``metrics.json`` write seconds, and the megabytes on disk."""
    metas = glob.glob(os.path.join(directory, "superstep=*", "metrics.json"))
    write_s = 0.0
    for m in metas:
        with open(m) as f:
            write_s += json.load(f)["write_seconds"]
    size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(directory) for f in fs)
    return len(metas), write_s, size / 1e6


def runs_per_min(spans: list[dict], start: float) -> float:
    """Completed calls per minute, summed over clients; each client's
    rate is its calls over the time until its last call returned, so a
    call that ends just past the deadline does not skew the rate."""
    by_client: dict[int, list[float]] = {}
    for s in spans:
        by_client.setdefault(s.get("client", 0), []).append(s["end"])
    return sum(len(ends) / (max(ends) - start) for ends in by_client.values()) * 60.0


def per_call_walls(spans: list[dict]) -> dict:
    out: dict[str, list[float]] = {}
    for s in spans:
        out.setdefault(s["name"], []).append(s["seconds"])
    return {
        f"{k}_s": {"median": statistics.median(v), "n": len(v)} for k, v in out.items()
    }


def tail(walls: list[float]) -> dict:
    """The highest percentile with at least ten calls beyond it."""
    n = len(walls)
    if n < 11:
        return {"run_tail_s": None, "percentile": None, "n": n}
    return {"run_tail_s": walls[n - 11], "percentile": 100.0 * (n - 10) / n, "n": n}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def environment() -> dict:
    """Machine and code identity, taken before the session starts."""
    others = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    others += f.read().strip() == "java"
            except OSError:
                continue
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "giraph_spark", "**", "*.py"),
                                 recursive=True)):
        with open(path, "rb") as f:
            digest.update(f.read())
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, check=False)
        sha = p.stdout.strip() or None
    return {
        "steal_s_at_start": cpu_steal_s(),
        "git_sha": sha,
        "source_sha256": digest.hexdigest(),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "other_java": others,
        "quiet_box": others == 0,
        "python": sys.version.split()[0],
    }


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(sc) -> float:
    """Peak RSS of the driver JVM (VmHWM) plus this Python process."""
    pid = sc._jvm.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def stop(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# self-test
# ---------------------------------------------------------------------------

EXPECTED_CHECKS = {
    "crawl": {"extract", "pagerank", "triangles"},
    "small-graphs": {"storage", "pagerank", "resume", "wcc", "lpa"},
}
DETAIL_METRICS = {
    "crawl": ("extract_s", "pagerank_s", "triangles_s"),
    "small-graphs": ("pagerank_s", "resume_s", "wcc_s", "lpa_s"),
}


def selftest() -> int:
    """Every workload at a tiny size, untraced and traced side by side."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for wl in spec["workloads"]:
        name = wl["name"]
        t = time.time()
        procs = [
            (trace, key, subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", "3",
                 "--seconds", "3", "--trace", str(trace), "--tiny"],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=ROOT,
            ))
            for trace, key in ((0, "end_to_end"), (1, "per_layer"))
        ]
        for trace, key, p in procs:
            out, err = p.communicate(timeout=170)
            tag = f"{name} --trace {trace}"
            lines = out.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                problems.append(f"{tag}: exit {p.returncode}: {err[-2000:]}")
                continue
            result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
            problems += [f"{tag}: {msg}" for msg in check_result(spec[key], result, detail)]
            print(f"selftest {tag}: checks {detail['checks']}", flush=True)
        print(f"selftest {name}: {time.time() - t:.1f} s", flush=True)
    for msg in problems:
        print("selftest FAIL", msg)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


def check_result(metrics: list[dict], result: dict, detail: dict) -> list[str]:
    """What is wrong with one run's output, if anything."""
    name = detail["workload"]
    problems = []
    if not result["correct"] or result["failed"]:
        problems.append(f"failures {detail['failures']}")
    for m in metrics:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            problems.append(f"metric {m['name']} [{m['unit']}] is {got}")
    if set(result["metrics"]) != {m["name"] for m in metrics}:
        problems.append("metrics not in BENCHMARK.json were printed")
    missing = EXPECTED_CHECKS[name] - set(detail["checks"])
    if missing:
        problems.append(f"checks not run: {sorted(missing)}")
    for m in DETAIL_METRICS[name]:
        if m not in detail["per_call"]:
            problems.append(f"no {m} in the detail record")
    return problems


if __name__ == "__main__":
    sys.exit(main())
