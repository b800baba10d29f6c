"""Repository benchmark: end-to-end metrics per workload, or a traced
per-layer breakdown.

    python3 perfbench/run.py --workload ecg_cohort_csv --seed 1 \
        --seconds 5 --trace 0

Run it from the repository root. It imports the engine from there, runs
one workload as a closed loop (one client, one pipeline or query in
flight) on ``local[nproc]`` with ``nproc`` shuffle partitions, and prints
as its last stdout line one JSON object ``{correct, attempted, failed,
metrics}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
reports the per-layer metrics of perfbench/layers.py. Everything it
writes goes under ``.perfbench/`` in the repository root; a run's
scratch directory is removed when it ends, its report is kept in
``.perfbench/reports/``.

A run: generate inputs from ``--seed``; set up the session (this first
set-up also launches the JVM); run the workload once (the cold run);
check its outputs; repeat warm runs until ``--seconds`` have passed,
sampling the resident memory of the process tree; then stop and set up
the session three more times. ``setup_s`` is the median of those three.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
RESETUPS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def proc_table() -> tuple[dict[int, list[int]], dict[int, tuple[str, int]]]:
    """Every process in /proc: children by parent pid, and (state, RSS in
    KiB) by pid."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, int]] = {}
    page_kib = os.sysconf("SC_PAGE_SIZE") // 1024
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process ended between listdir and open
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        pid = int(entry)
        children.setdefault(int(ppid), []).append(pid)
        info[pid] = (state, pages * page_kib)
    return children, info


def descendants(root: int) -> list[int]:
    children, _ = proc_table()
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (Python driver, JVM, Python workers), sampled from /proc."""

    PERIOD_S = 0.5

    def __init__(self):
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def tree_rss_kib(root: int) -> int:
        children, info = proc_table()
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            total += info.get(pid, ("", 0))[1]
            todo.extend(children.get(pid, ()))
        return total

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kib = max(self.peak_kib, self.tree_rss_kib(me))
            self._stop.wait(self.PERIOD_S)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kib = max(self.peak_kib, self.tree_rss_kib(os.getpid()))


def alive(pid: int) -> bool:
    """True while ``pid`` exists, as a zombie too if it is this process's
    own child: a JVM's main thread turns zombie before its other threads
    have ended, and only reaping it here makes sure they have."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
    return state != "Z" or int(ppid) == os.getpid()


def reap() -> None:
    """Collect every child of this process that has exited."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (Linux
    PR_SET_CHILD_SUBREAPER), so the processes the JVM leaves behind when
    it exits are reaped here rather than outliving the benchmark."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def end_processes(pids: list[int], grace_s: float) -> None:
    """Wait up to ``grace_s`` for ``pids`` to exit, then SIGTERM, then
    SIGKILL, and return only once every one of them has ended and every
    exited child has been reaped."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0),
                        (signal.SIGKILL, 10.0)):
        reap()
        left = [p for p in pids if alive(p)]
        if not left:
            break
        for pid in left:
            if sig is not None:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        t_end = time.monotonic() + wait_s
        while any(alive(p) for p in left) and time.monotonic() < t_end:
            reap()
            time.sleep(0.05)
    reap()


def shutdown_jvm() -> None:
    """End the JVM that pyspark launched for this process and everything
    under it (Python worker daemons), and wait until each has exited.
    ``SparkSession.stop`` leaves the JVM running until the Python process
    exits, so it would outlive the benchmark by its shutdown time."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None and proc.stdin is not None:
            try:  # the gateway server exits on EOF on its stdin
                proc.stdin.close()
            except OSError:
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    end_processes(pids, grace_s=30.0)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """Session settings the benchmark pins instead of inheriting: every
    file Spark or the JVM writes stays in the run's scratch directory."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Bench:
    """One benchmark invocation: a workload, its session shape and the
    measurements taken so far."""

    def __init__(self, args, work: str):
        from workloads import WORKLOADS

        self.args = args
        self.cores = nproc()
        self.workload = WORKLOADS[args.workload]()
        self.conf = session_conf(work, bool(args.trace))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.report: dict = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "master": f"local[{self.cores}]",
            "shuffle_partitions": self.cores,
        }

    # -- session ---------------------------------------------------------
    def setup(self, cores: int | None = None) -> dict[str, float]:
        """get_spark + package shipping until spark.range(1).count(), on
        ``local[cores]`` with ``cores`` shuffle partitions."""
        import __spark_entry__ as entry
        from physioview_spark.session import get_spark

        cores = cores or self.cores
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=self.conf)
        t1 = time.perf_counter()
        entry._ship_package(spark)
        t2 = time.perf_counter()
        spark.range(1).count()
        t3 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return {"start_s": t1 - t0, "ship_s": t2 - t1, "first_job_s": t3 - t2,
                "setup_s": t3 - t0}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def resetups(self) -> list[dict[str, float]]:
        out = []
        for _ in range(RESETUPS):
            self.stop()
            out.append(self.setup())
        return out

    # -- runs ------------------------------------------------------------
    def one_run(self, ref: dict | None) -> tuple[float, dict | None]:
        """Run the workload once; a run that raises, or whose outputs
        differ from the checked reference, counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            held = self.workload.run(self.spark)
        except Exception:
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3))
            return float("nan"), None
        wall = time.perf_counter() - t0
        if ref is not None and not self.workload.same(held, ref):
            self.failed += 1
            self.problems.append("warm run output differs from checked run")
        return wall, held

    def cold_and_check(self) -> tuple[float, dict | None]:
        wall, held = self.one_run(None)
        if held is not None:
            problems = self.workload.check(self.spark, held)
            if problems:
                self.failed += 1
                self.problems.extend(problems)
        self.release()
        return wall, held

    def release(self) -> None:
        """Drop every cache a run left, so the next run recomputes it."""
        from physioview_spark import cache

        cache.release_pinned()
        self.spark.catalog.clearCache()

    def warm_loop(self, ref: dict | None, seconds: float) -> list[float]:
        """At least one warm run, then more until ``seconds`` have passed."""
        walls: list[float] = []
        t_end = time.perf_counter() + seconds
        while True:
            wall, held = self.one_run(ref)
            if held is not None:
                walls.append(wall)
            self.release()
            if time.perf_counter() >= t_end:
                return walls or [float("nan")]


def machine_state() -> dict:
    import bench

    return {"nproc": nproc(), "loadavg": [round(x, 2) for x in os.getloadavg()],
            "mem_epoch": bench._mem_epoch()}


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_untraced(b: Bench) -> dict:
    w = b.workload
    first = b.setup()
    cold, ref = b.cold_and_check()
    with RssSampler() as rss:
        walls = b.warm_loop(ref, b.args.seconds)
    setups = b.resetups()
    b.stop()
    run_s = statistics.median(walls)
    setup_s = statistics.median(s["setup_s"] for s in setups)
    b.report.update({
        "first_setup": first, "setups": setups, "cold_run_s": cold,
        "warm_runs_s": walls, "input_rows": w.input_rows,
    })
    return {
        "run_s": metric(run_s, "s"),
        "rows_per_s": metric(w.input_rows / run_s, "rows/s"),
        "cold_run_s": metric(cold, "s"),
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mib": metric(rss.peak_kib / 1024, "MiB"),
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Point every temp-file user at the run's scratch directory and make
    the engine (repository root) and its oracle checker importable."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # wins over spark.local.dir, so an inherited value cannot send shuffle
    # files elsewhere
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM does not see the session's java options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None
    for p in (HERE, os.path.join(ROOT, "tools"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds through the finally below, so the JVM still ends
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()
    if not (os.path.isdir(os.path.join(ROOT, "physioview_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no engine source next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"run-{os.getpid()}")
    prepare_environment(work)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    b = Bench(args, work)
    try:
        b.report["machine_before"] = machine_state()
        b.workload.prepare(args.seed, work)
        if args.trace:
            from layers import run_traced

            metrics = run_traced(b)
        else:
            metrics = run_untraced(b)
        b.report["machine_after"] = machine_state()
    finally:
        try:
            b.stop()
        finally:
            shutdown_jvm()
            shutil.rmtree(work, ignore_errors=True)
    b.report.update({"metrics": metrics, "problems": b.problems,
                     "attempted": b.attempted, "failed": b.failed})
    os.makedirs(os.path.join(OUT, "reports"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, "reports", name), "w") as fh:
        json.dump(b.report, fh, indent=1, default=str)
    print(json.dumps({"report": {k: v for k, v in b.report.items()
                                 if k not in ("spans", "metrics")}},
                     default=str))
    for k, v in metrics.items():
        print(f"{args.workload:<20} {k:<34} {v['value']:>14.6g} {v['unit']}")
    error_rate = b.failed / b.attempted if b.attempted else 1.0
    print(f"{args.workload:<20} {'error_rate':<34} {error_rate:>14.6g} "
          f"({b.failed}/{b.attempted})")
    for p in b.problems:
        print(f"problem: {p}", file=sys.stderr)
    print(json.dumps({"correct": not b.failed and b.attempted > 0,
                      "attempted": b.attempted, "failed": b.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
