"""sparklead job benchmark: whole jobs through the public entry points on
local[4], one driver process, closed loop (the next job starts when the
previous one has committed).

    python3 perfbench/run.py --workload seq_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all                 # every workload, every metric with its unit
    python3 perfbench/run.py --steadiness 10       # two sets of runs, compared with the bounds

One run (``--workload``): generate the seeded inputs as parquet, set up
once (fresh JVM + session + the first, cold job: ``setup_s``), run the
workload's untimed warm jobs, then time warm jobs for ``--seconds`` (at
least ``MIN_JOBS``) and report medians.
Every job's output is checked; a job that raises or fails its check counts
in ``failed``. ``--trace 1`` instead brackets one traced warm job with two
untraced ones, traces the other listed workloads' jobs too, and reports the
per-layer numbers (see spans.py, layers.py and README.md).

The last line of standard output is the result object; the line before it
is a report with the environment stamp, input shares, lanes and samples.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
MIN_JOBS = 2  # timed jobs per run, however long they take
RSS_INTERVAL_S = 0.1
REAP_TIMEOUT_S = 30.0


# ------------------------------------------------------------ process tree

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssPeak:
    """Peak summed RSS of this process and all its descendants (driver,
    JVM, Python workers), sampled every ``RSS_INTERVAL_S``; ``take`` returns
    the peak since the previous ``take``."""

    def __init__(self):
        self.peak = 0.0
        self._since = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_mb(p) for p in [os.getpid(), *descendants()])
            with self._lock:
                self.peak = max(self.peak, total)
                self._since = max(self._since, total)
            self._stop.wait(RSS_INTERVAL_S)

    def take(self) -> float:
        with self._lock:
            peak, self._since = self._since, 0.0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


# ------------------------------------------------------------ session

def start_session(master: str = f"local[{CORES}]", partitions: int = CORES):
    from sparklead import get_spark

    spark = get_spark("perfbench", master=master, shuffle_partitions=partitions)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, jvm: bool) -> None:
    """Stop the context; with ``jvm`` also end the JVM (its stdin pipe is
    its life line) and wait for every process it left behind."""
    from pyspark import SparkContext

    spark.stop()
    if not jvm or SparkContext._gateway is None:
        return
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap()


def reap() -> None:
    """Wait for every descendant to end; kill what outlives ``REAP_TIMEOUT_S``."""
    deadline = time.time() + REAP_TIMEOUT_S
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants():
        time.sleep(0.1)


def env_stamp(spark) -> dict:
    import platform

    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "jvm_options": conf.get("spark.driver.extraJavaOptions", ""),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


# ------------------------------------------------------------ one run

class Runner:
    def __init__(self, workload, seed: int, log):
        self.w = workload
        self.seed = seed
        self.log = log
        self.dir = os.path.join(WORK, f"{workload.name}-{seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.facts: dict = {}  # what the generator planted
        self.last = None  # the last correct job's result
        self._n = 0

    def job(self, spark, tracer=None) -> float | None:
        """One checked job; returns its wall time, or None when it failed.
        With a ``tracer``, the job (and not its check) is the "job" span."""
        out = os.path.join(self.dir, f"out{self._n}")
        self._n += 1
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with tracer.span("job") if tracer else contextlib.nullcontext():
                res = self.w.job(spark, out, tracer)
            wall = time.perf_counter() - t0
            errs = self.w.check(res, out)
            if not errs:
                self.last = res
        except Exception:
            wall, errs = None, [traceback.format_exc(limit=3)]
        shutil.rmtree(out, ignore_errors=True)
        if errs:
            self.failed += 1
            self.errors += errs
            self.log(f"job failed: {errs}")
            return None
        return wall

    def setup(self) -> tuple[object, float, float]:
        """Fresh JVM + session + cold job: (spark, session start s, setup s)."""
        t0 = time.perf_counter()
        spark = start_session()
        started = time.perf_counter() - t0
        self.job(spark)
        return spark, started, time.perf_counter() - t0


def run_once(args, log) -> dict:
    import jobs

    names = [args.workload]
    if args.trace:
        # a traced run measures every layer BENCHMARK.json names, so it also
        # traces the other listed workloads' jobs, after the requested one
        names += [w["name"] for w in bench_spec()["workloads"] if w["name"] != args.workload]
    runners = [Runner(jobs.WORKLOADS[n](), args.seed, log) for n in names]
    r = runners[0]
    try:
        for x in runners:
            shutil.rmtree(x.dir, ignore_errors=True)
            os.makedirs(x.dir)
            x.facts = x.w.generate(os.path.join(x.dir, "in"), args.seed)
        report = {"workload": r.w.name, "seed": args.seed, "records": r.w.records,
                  "shares": r.facts["shares"], "lanes": r.w.lanes}
        if args.trace:
            metrics = traced(runners, report, log)
        else:
            metrics = untraced(r, args.seconds, report, log)
    finally:
        for x in runners:
            shutil.rmtree(x.dir, ignore_errors=True)
    missing = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    for k in missing:  # the run is not correct; JSON gets a 0
        r.errors.append(f"metric {k} was not measured")
        metrics[k]["value"] = 0.0
    report["errors"] = [e for x in runners for e in x.errors][:5]
    print(json.dumps(report), flush=True)
    failed = sum(x.failed for x in runners)
    return {"correct": failed == 0 and not missing, "attempted": sum(x.attempted for x in runners),
            "failed": failed, "metrics": metrics}


def untraced(r: Runner, seconds: float, report: dict, log) -> dict:
    # one setup per run: a second fresh JVM + cold job would cost 18-44 s
    # (4-core host), more than a run's share of the 57-minute budget for a
    # full measurement (22 runs per workload) allows
    spark, started, setup = r.setup()
    log(f"setup: session {started:.2f} s, session + cold job {setup:.2f} s")
    report["env"] = env_stamp(spark)
    for _ in range(r.w.warm_jobs):
        r.job(spark)
    walls, rss_mb = [], []
    with RssPeak() as rss:
        t_end = time.perf_counter() + seconds
        while (time.perf_counter() < t_end or len(walls) < MIN_JOBS) and r.failed <= 3:
            rss.take()
            wall = r.job(spark)
            if wall is not None:
                walls.append(wall)
                rss_mb.append(rss.take())
                log(f"job {len(walls)}: {wall:.3f} s, peak rss {rss_mb[-1]:.0f} MB")
    stop_session(spark, jvm=True)
    report.update(walls_s=walls, job_peak_rss_mb=rss_mb, window_peak_rss_mb=rss.peak,
                  setup_s=setup, session_start_s=started)
    med = statistics.median(walls) if walls else float("nan")
    # the median job's peak: the heap grows by ~300 MB a job and single jobs
    # spike by 3 GB, so the window's peak would track the job count and the
    # spikes (it is in the report)
    rss_med = statistics.median(rss_mb) if rss_mb else float("nan")
    return {
        "throughput_rps": {"value": r.w.records / med, "unit": "1/s"},
        "wall_s": {"value": med, "unit": "s"},
        "setup_s": {"value": setup, "unit": "s"},
        "peak_rss_mb": {"value": rss_med, "unit": "MB"},
    }


def traced(runners: list[Runner], report: dict, log) -> dict:
    """The requested workload's traced job, bracketed by two untraced ones
    (the JVM still warms up over the first jobs, so the traced job is
    compared with the mean of its neighbours); then each other workload's
    cold job and traced job. Whole-job values (``job.*``, ``driver.*``,
    ``trace.*``, ``session.*``) come from the requested workload."""
    import layers

    r = runners[0]
    spark, started, setup = r.setup()
    report["env"] = env_stamp(spark)
    before = r.job(spark)
    values, spans = layers.trace_job(r, spark, CORES, log)
    after = r.job(spark)
    plain = {r.w.name: (before + after) / 2 if before and after else float("nan")}
    values["session.start_s"] = started
    values["trace.overhead_s"] = values.pop("job.wall_s") - plain[r.w.name]
    report.update(untraced_walls_s=[before, after], setup_s=setup)
    for other in runners[1:]:
        other.job(spark)  # its cold job, untimed
        more, more_spans = layers.trace_job(other, spark, CORES, log)
        plain[other.w.name] = more["job.wall_s"]
        values.update({k: v for k, v in more.items()
                       if k not in values and not k.startswith(("job.", "driver.", "trace."))})
        spans += more_spans
    seq = next((x for x in runners if x.w.name == "seq_pipeline"), None)
    if seq is not None:
        # the north rule's N -> 4N: the same job on local[1] (warm JVM, new context)
        stop_session(spark, jvm=False)
        spark = start_session("local[1]", 1)
        one = seq.job(spark)
        values["pipeline.scaling_eff_1to4"] = (one or float("nan")) / (CORES * plain[seq.w.name])
    stop_session(spark, jvm=True)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{r.w.name}-{r.seed}.json")
    with open(path, "w") as f:
        json.dump({"report": report, "values": values, "spans": spans}, f, indent=1)
    report["trace_file"] = os.path.relpath(path, ROOT)
    # a metric the trace did not produce stays NaN, which fails the run
    return {
        m["name"]: {"value": float(values.get(m["name"], float("nan"))), "unit": m["unit"]}
        for m in bench_spec()["per_layer"]
    }


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith((".jobs", ".stages", ".tasks", "_jobs", "jobs_per_run")):
        return "count"
    return "ratio"


# ------------------------------------------------------------ many runs

def _child(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False).stdout
    lines = out.strip().splitlines()
    if len(lines) < 2:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}, "report": {}}
    res = json.loads(lines[-1])
    res["report"] = json.loads(lines[-2])
    return res


def run_all(seed: int, trace: int) -> None:
    """One run per workload (all three, also the one BENCHMARK.json leaves
    out); prints every metric by name with its unit."""
    import jobs

    spec = bench_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name in jobs.WORKLOADS:
        res = _child(name, seed, spec["run_seconds"], trace)
        ops = res["failed"] / max(res["attempted"], 1)
        print(f"{name}  (records {res['report'].get('records')}, "
              f"shares {res['report'].get('shares')})")
        metrics = {k: (m["value"], m["unit"]) for k, m in res["metrics"].items()}
        if trace and res["report"].get("trace_file"):
            with open(os.path.join(ROOT, res["report"]["trace_file"])) as f:
                values = json.load(f)["values"]
            metrics = {k: (v, units.get(k, _unit(k))) for k, v in values.items()}
        for k, (v, unit) in metrics.items():
            print(f"  {k:52s} {v:14.4f} {unit}")
        print(f"  {'failed_ops':48s} {ops:14.4f} failed/attempted ({res['failed']}/{res['attempted']})")
        if trace == 0:
            print(f"  env {res['report'].get('env')}")


def steadiness(n: int) -> None:
    """Two independent sets of ``n`` runs (seeds 1..n, then n+1..2n); per
    metric and workload they agree when the quartile spread / median of
    each set and the distance between the two medians (as a share of the
    first) are all within the metric's bound."""
    spec = bench_spec()
    verdict = True
    for wl in [w["name"] for w in spec["workloads"]]:
        sets = []
        for first in (1, n + 1):
            vals: dict[str, list[float]] = {}
            for s in range(first, first + n):
                res = _child(wl, s, spec["run_seconds"], 0)
                verdict &= res["failed"] == 0
                for k, m in res["metrics"].items():
                    vals.setdefault(k, []).append(m["value"])
                print(json.dumps({"workload": wl, "seed": s, "failed": res["failed"],
                                  **{k: round(m["value"], 4) for k, m in res["metrics"].items()}}),
                      flush=True)
            sets.append(vals)
        for m in spec["end_to_end"]:
            k, bound = m["name"], m["bound"]
            a, b = sets[0].get(k, []), sets[1].get(k, [])
            if len(a) < 4 or len(b) < 4:
                print(f"{wl:14s} {k:16s} too few values")
                verdict = False
                continue
            spreads = []
            for v in (a, b):
                q = statistics.quantiles(v, n=4)
                spreads.append((q[2] - q[0]) / statistics.median(v))
            ma, mb = statistics.median(a), statistics.median(b)
            shift = abs(mb - ma) / ma
            ok = shift <= bound and max(spreads) <= bound
            verdict &= ok
            print(f"{wl:14s} {k:16s} median {ma:12.4f} {mb:12.4f} {m['unit']:5s} "
                  f"spread {spreads[0]:.3f} {spreads[1]:.3f}  shift {shift:.3f}  "
                  f"bound {bound}  {'agree' if ok else 'DISAGREE'}")
    print("steady" if verdict else "not steady")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--all", action="store_true", help="run every workload once and print each metric")
    p.add_argument("--steadiness", type=int, metavar="N", help="two sets of N runs per workload")
    p.add_argument("--verbose", action="store_true")
    args = p.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import sparklead  # noqa: F401  the program under test, from this checkout
    except ImportError as e:
        print(f"perfbench: cannot import sparklead from {ROOT}: {e}", file=sys.stderr)
        return 2

    if args.all:
        run_all(args.seed, args.trace)
        return 0
    if args.steadiness:
        steadiness(args.steadiness)
        return 0
    import jobs

    if args.workload not in jobs.WORKLOADS:
        p.error(f"--workload must be one of {sorted(jobs.WORKLOADS)}")

    # keep every file the run writes inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import sparklead from this checkout, wherever they start
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    import tempfile

    tempfile.tempdir = None

    t0 = time.perf_counter()

    def log(msg: str) -> None:
        if args.verbose:
            print(f"[{time.perf_counter() - t0:7.2f}] {msg}", file=sys.stderr, flush=True)

    try:
        result = run_once(args, log)
    finally:
        reap()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
