"""Repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload pbf_tiles --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout and reads and writes only inside it
(inputs cached per seed and run scratch under ``.perfbench/``). Builds
the session with ``local[nproc]`` and a driver memory that fits the box.

``--trace 0`` prints every end-to-end metric of BENCHMARK.json:
  setup_s             process start to a ready session with the staged
                      inputs attached: the median of two fresh processes
                      (a set-up-only child, then this one)
  first_pass_s        the first pass in this fresh process
  wall_s              median of the warm passes in ``--seconds`` (at least two)
  resume_s            reruns over the outputs the passes left complete
  worker_rss_peak_mb  the largest peak RSS of any Python worker (/proc)
``--trace 1`` runs one traced pass after an untraced one and prints every
per-layer metric (layers a workload never calls read 0).

Earlier stdout lines carry the environment, every metric with its unit,
error_rate and the output digests; the last line is the JSON result.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
N_SETUPS = 2  # fresh processes timed from start to a ready session
MIN_WARM = 2
N_RESUMES = 4  # per warm pass: curation resumes are sub-second, report their median


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the smoke test")
    # internal: the run stages inputs and times extra set-ups in children
    p.add_argument("--phase", choices=("run", "stage", "setup"), default="run", help=argparse.SUPPRESS)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# environment and session
# ---------------------------------------------------------------------------


def _mem_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                out[k] = int(v.split()[0]) // 1024
    return out


def _since_process_start() -> float:
    """Seconds since this process started (``/proc``, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_calibration() -> float:
    """Seconds for a fixed single-core workload (about 0.1 s on a quiet
    4-vCPU VM): recorded before and after every run, so a host that got
    slower shows in the output and not only as a slower result."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def _driver_mem_mb(total_mb: int) -> int:
    """A quarter of the box, at most 4 GiB: the workloads hold small
    inputs, and the Python workers need the rest."""
    return max(1024, min(4096, total_mb // 4))


def _session_conf(run_dir: str, driver_mb: int, event_log: str | None) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": f"{driver_mb}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _children(pid: int) -> list[int]:
    """All descendants of ``pid`` (from /proc)."""
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
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:
        return False


class WorkerRss:
    """Samples the peak resident set (VmHWM) of each Python worker every
    0.2 s in a background thread. Workers are the Python processes the
    PySpark daemon forks: Python children of a Python parent."""

    def __init__(self):
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        for pid in _children(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = dict(line.split(":", 1) for line in f if ":" in line)
                if not (_is_python(pid) and _is_python(int(status["PPid"]))):
                    continue
                kb = int(status["VmHWM"].split()[0])
            except (OSError, KeyError, ValueError):
                continue
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._sample()
        self._stop.set()
        self._thread.join(timeout=5)


def _shutdown(spark, kill: bool = False) -> None:
    """Stop the session, then the JVM, and wait until every process
    this run started has ended. ``kill`` skips the orderly stop: a
    set-up-only child has nothing to flush."""
    from pyspark import SparkContext

    if spark is not None and not kill:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        if kill and proc is not None:
            proc.kill()
        else:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while _children(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in _children(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _guarded(wl, chk, fn):
    """Run one pass; a pass that raises counts all its operations failed."""
    try:
        return _timed(fn)
    except Exception as exc:  # the run must still report the failure
        import traceback

        traceback.print_exc(file=sys.stderr)
        wl.failed_pass(chk, f"pass raised {type(exc).__name__}: {exc}"[:300])
        return None, None


def _measure(spark, wl, tracer_off, seconds: float, chk) -> tuple[dict, dict]:
    """First pass, then warm passes for ``seconds`` (at least MIN_WARM);
    for curation, each warm pass is followed by N_RESUMES resumes on its
    store, so the resumes sample the host over the whole run and not
    over one short window. Returns (timings, output digests)."""
    from perfbench.workloads import Curation

    digests = {}
    first, out = _guarded(wl, chk, lambda: wl.run_pass(spark, tracer_off))
    if out is not None:
        digests["first"] = wl.check(spark, out, chk)
    warm: list[float] = []
    resumes: list[float] = []
    t_begin = time.perf_counter()
    while len(warm) < MIN_WARM or time.perf_counter() - t_begin + warm[-1] <= seconds:
        dt, out = _guarded(wl, chk, lambda: wl.run_pass(spark, tracer_off))
        if dt is None:
            break
        warm.append(dt)
        digests["warm"] = wl.check(spark, out, chk)
        if isinstance(wl, Curation):
            resumes += _resumes(spark, wl, tracer_off, chk)
    if not isinstance(wl, Curation):
        # every workload must report resume_s, and the engine has no tile
        # cache: pbf_tiles' reruns over a complete tree are its warm passes
        resumes = warm
    return {"first": first, "warm": warm, "resume": resumes}, digests


def _resumes(spark, wl, tracer_off, chk) -> list[float]:
    """N_RESUMES all-hit reruns on the current store; each must leave the
    store untouched, and the last must return the cold passes' rows."""
    times: list[float] = []
    for k in range(N_RESUMES):
        before = wl.snapshot()
        dt, out = _guarded(wl, chk, lambda: wl.run_pass(spark, tracer_off, resume=True))
        if dt is None:
            break
        times.append(dt)
        wl.check_resume(spark, out, chk, wl.snapshot() == before, rows=k == N_RESUMES - 1)
    return times


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _layer_metrics(tracer, wl, get_spark_s: float, overhead: float) -> dict[str, float]:
    from perfbench.spans import COUNTERS

    root = tracer.spans[0]  # the traced pass; a traced resume is the next root
    selfs = tracer.self_times()
    vals: dict[str, float] = {
        "session.get_spark.self_s": get_spark_s, "trace.overhead_ratio": overhead,
        "trace.wall_s": root.duration, "trace.unattributed_s": selfs[root.id],
    }
    for name, t in tracer.layer_totals().items():
        if name.startswith("plans.checkpoint.lineage."):
            stage = name.rsplit(".", 1)[1]
            vals[f"plans.checkpoint.run_stage.{stage}.lineage_s"] = t["self_s"]
            vals["plans.checkpoint.lineage.jobs"] = vals.get("plans.checkpoint.lineage.jobs", 0) + t["jobs"]
            continue
        vals[f"{name}.self_s"] = t["self_s"]
        for k in COUNTERS:
            vals[f"{name}.{k}"] = t[k]
    vals.update(wl.ratios)
    if getattr(wl, "counts", {}).get("attempts"):
        vals["plans.checkpoint.hit_rate"] = wl.counts["hits"] / wl.counts["attempts"]
    return vals


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    since_start = _since_process_start()  # interpreter start, counted in setup_s
    t_entry = time.perf_counter()
    args = _parse(argv)
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    if args.phase == "run":
        for old in glob.glob(os.path.join(work, "run-*")):  # left by killed runs
            if not os.path.exists(f"/proc/{old.rsplit('-', 1)[1]}"):
                shutil.rmtree(old, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
    })
    sys.path.insert(0, ROOT)
    try:
        if args.phase == "stage":
            from perfbench.workloads import WORKLOADS

            _workload(args, WORKLOADS, work, run_dir).stage()
            return 0
        if args.phase == "setup":
            spark, _wl, setup_s, get_spark_s = _setup(args, work, run_dir, since_start, t_entry, None)
            _shutdown(spark, kill=True)
            print(json.dumps({"setup_s": setup_s, "get_spark_s": get_spark_s}))
            return 0
        return _run(args, work, run_dir, since_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _workload(args, workloads, work: str, run_dir: str):
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(workloads)}")
    with open(os.path.join(HERE, "digests.json")) as f:
        recorded = json.load(f).get(args.workload, {})
    return workloads[args.workload](args.seed, args.size, os.path.join(work, "cache"), run_dir, recorded)


def _setup(args, work: str, run_dir: str, since_start: float, t_begin: float, event_log: str | None):
    """Session plus staged inputs. Returns (spark, workload, seconds from
    process start to ready, seconds in get_spark). The clock counts the
    interpreter start and the time from ``t_begin`` on; whatever the
    process did between its start and ``t_begin`` (staging, the set-up
    children) is left out."""
    from osm_render_spark.session import get_spark
    from perfbench.workloads import WORKLOADS

    wl = _workload(args, WORKLOADS, work, run_dir)
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=len(os.sched_getaffinity(0)),
                      extra_conf=_session_conf(run_dir, _driver_mem_mb(_mem_mb()["MemTotal"]), event_log))
    get_spark_s = time.perf_counter() - t0
    wl.load(spark)
    return spark, wl, since_start + time.perf_counter() - t_begin, get_spark_s


def _child(args, phase: str) -> str:
    """Run this script in a fresh process for one phase; its stdout."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--size", args.size, "--phase", phase]
    return subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True, timeout=300).stdout


def _run(args, work: str, run_dir: str, since_start: float) -> int:
    cpus = len(os.sched_getaffinity(0))
    mem = _mem_mb()
    env = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "size": args.size,
        "nproc": cpus, "mem_total_mb": mem["MemTotal"], "mem_available_mb": mem["MemAvailable"],
        "driver_memory_mb": _driver_mem_mb(mem["MemTotal"]),
        "loadavg_before": os.getloadavg(), "cpu_calib_s_before": _cpu_calibration(),
        "python": platform.python_version(),
    }
    # inputs are generated (or found cached) before any set-up is timed
    t0 = time.perf_counter()
    _child(args, "stage")
    env["stage_s"] = time.perf_counter() - t0
    setups, get_spark_s = [], []
    if not args.trace:
        for _ in range(N_SETUPS - 1):
            probe = json.loads(_child(args, "setup").strip().splitlines()[-1])
            setups.append(probe["setup_s"])
            get_spark_s.append(probe["get_spark_s"])
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    spark, wl, own_setup, own_get_spark = _setup(args, work, run_dir, since_start, time.perf_counter(), event_log)
    setups.append(own_setup)
    get_spark_s.append(own_get_spark)
    import pyspark

    from perfbench.spans import Tracer
    from perfbench.workloads import Check

    env["spark"] = pyspark.__version__
    chk = Check()
    tracer_off = Tracer(spark, enabled=False)
    metrics: dict[str, tuple[float, str]] = {}
    try:
        if args.trace:
            metrics = _traced_run(spark, wl, chk, tracer_off, own_get_spark, event_log)
            spark = None
        else:
            with WorkerRss() as rss:
                t, digests = _measure(spark, wl, tracer_off, args.seconds, chk)
            if t["first"] is not None:
                metrics["first_pass_s"] = (t["first"], "s")
            if t["warm"]:
                metrics["wall_s"] = (statistics.median(t["warm"]), "s")
            if t["resume"]:
                metrics["resume_s"] = (statistics.median(t["resume"]), "s")
            metrics["setup_s"] = (statistics.median(setups), "s")
            peaks = sorted(v / 1024 for v in rss.peak_kb.values())
            if peaks:
                metrics["worker_rss_peak_mb"] = (peaks[-1], "MB")
            env["worker_peaks_mb"] = [round(v, 1) for v in peaks]
            env["passes"] = t
            env["digests"] = digests
    finally:
        _shutdown(spark)
    env["setups_s"] = setups
    env["get_spark_s"] = get_spark_s
    env["loadavg_after"] = os.getloadavg()
    env["cpu_calib_s_after"] = _cpu_calibration()

    print("env: " + json.dumps(env, default=str))
    for name, (v, unit) in metrics.items():
        print(f"{name} {v:.6g} {unit}")
    rate = chk.failed / max(chk.attempted, 1)
    print(f"error_rate {rate:.6g} ({chk.failed} failed / {chk.attempted} attempted)")
    for p in chk.problems[:20]:
        print("check failed: " + p)
    result = {
        "correct": chk.failed == 0 and chk.attempted > 0,
        "attempted": max(chk.attempted, 1),
        "failed": chk.failed if chk.attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _traced_run(spark, wl, chk, tracer_off, get_spark_s: float, event_log) -> dict:
    """Untraced first and warm pass, then the traced pass (and, for
    curation, a traced resume); counters come from the event log."""
    from perfbench.spans import Tracer
    from perfbench.workloads import Curation

    tracer = Tracer(spark, enabled=True)
    _guarded(wl, chk, lambda: wl.run_pass(spark, tracer_off))  # warm-up
    untraced, out = _guarded(wl, chk, lambda: wl.run_pass(spark, tracer_off))
    if out is not None:
        wl.check(spark, out, chk)
    traced, out = _guarded(wl, chk, lambda: wl.run_pass(spark, tracer))
    if out is not None:
        wl.check(spark, out, chk)
    if isinstance(wl, Curation):
        before = wl.snapshot()
        wl.counts.update(attempts=0, hits=0)
        _dt, out = _guarded(wl, chk, lambda: wl.run_pass(spark, tracer, resume=True))
        if out is not None:
            wl.check_resume(spark, out, chk, wl.snapshot() == before, rows=True)
    _shutdown(spark)
    tracer.attribute(event_log)
    for p in tracer.check_tree():
        chk.op(False, "span tree: " + p)
    selfs = tracer.self_times()
    print("spans: " + json.dumps([
        {"id": s.id, "name": s.name, "parent": s.parent, "duration": s.duration, "self": selfs[s.id]}
        for s in tracer.spans
    ]))
    print(f"traced pass {traced} s, untraced pass {untraced} s")
    overhead = traced / untraced if traced and untraced else 0.0
    vals = _layer_metrics(tracer, wl, get_spark_s, overhead) if tracer.spans else {}
    return {m["name"]: (float(vals.get(m["name"], 0.0)), m["unit"]) for m in _bench()["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
