"""The traced run: per-layer metrics measured from outside the engine.

Three sources, none of which changes engine code:

- spans recorded around calls into each layer's public functions (the
  functions are wrapped in this process only), each call also labelled
  with a Spark job group so the jobs it starts can be attributed;
- ``QueryExecution.tracker().phases()`` for the Catalyst phases;
- the Spark JSON event log, enabled in this run's session config, for
  task, stage and Python-worker metrics.

Layers are the engine's modules (``session``, ``sources``, ``functions``,
``operators``, ``pipeline``/``cache``, ``plans``, ``llm``) and, below
them, Spark's ``catalyst`` and ``exec``. A metric of a layer the
workload does not use reads 0.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

MIB = 1024 * 1024

# (module, function, layer): the public entry points wrapped with spans
WRAPPED = [
    ("physioview_spark.pipeline", "run_pipeline", "pipeline"),
    ("physioview_spark.sources.csv", "load_signal_csv", "sources"),
    ("physioview_spark.functions.spark_kernels", "annotate_cardiac",
     "functions"),
    ("physioview_spark.operators.ibi", "attach_ibis", "operators"),
    ("physioview_spark.operators.metrics", "compute_metrics", "operators"),
    ("physioview_spark.operators.metrics", "cardiac_summary", "operators"),
    ("physioview_spark.llm.dedup", "dup_clusters", "llm"),
    ("physioview_spark.llm.dedup", "decontaminate", "llm"),
    ("physioview_spark.llm.dedup", "dedup_passages", "llm"),
    ("physioview_spark.llm.text", "quality_score", "llm"),
]

PER_LAYER = {
    "session.jvm_launch_s": "s", "session.start_s": "s",
    "session.ship_s": "s",
    "sources.construct_s": "s", "sources.eager_jobs": "count",
    "sources.scan_s": "s",
    "functions.annotate_exec_s": "s", "functions.python_sent_mib": "MiB",
    "functions.python_received_mib": "MiB",
    "functions.python_boot_s": "s", "functions.python_total_s": "s",
    "functions.kernel_numpy_s": "s", "functions.boundary_share": "ratio",
    "functions.kernel_passes": "ratio",
    "operators.construct_s": "s", "operators.exec_s": "s",
    "pipeline.persist_mib": "MiB",
    "plans.construct_s": "s", "plans.py4j_calls": "count",
    "plans.eager_jobs": "count",
    "llm.dup_clusters_s": "s", "llm.decontaminate_s": "s",
    "llm.quality_score_s": "s", "llm.dedup_passages_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.cpu_util": "ratio",
    "exec.gc_s": "s", "exec.shuffle_write_mib": "MiB",
    "exec.shuffle_read_mib": "MiB", "exec.spill_mib": "MiB",
    "exec.task_skew": "ratio", "exec.driver_result_mib": "MiB",
    "exec.speedup_vs_1core": "ratio",
    "trace.run_s": "s", "trace.overhead_s": "s",
}

PYTHON_METRICS = {
    "data sent to Python workers": "sent",
    "data returned from Python workers": "received",
    "time to start Python workers": "boot",
    "time to run Python workers": "total",
}


class Tracer:
    """Spans kept in memory, a py4j call counter and job-group labels."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.run = ""
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.py4j_calls = 0
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        group = f"{prev}/{name}" if prev else name
        rec = {"name": name, "group": group, "workload": self.workload,
               "run": self.run,
               "parent": self.stack[-1] if self.stack else None,
               "py4j_calls": -self.py4j_calls}
        self.spans.append(rec)
        self.stack.append(len(self.spans) - 1)
        sc.setLocalProperty("spark.jobGroup.id", group)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] += self.py4j_calls
            self.stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev)

    def _wrap(self, fn, name):
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Wrap the layer entry points and the registered query builders,
        and count py4j round trips."""
        import importlib

        from physioview_spark.plans import queries_llm

        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._patched.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, f"{layer}.{attr}"))
        for qname, fn in list(queries_llm.QUERIES.items()):
            self._patched.append((queries_llm.QUERIES, qname, fn))
            queries_llm.QUERIES[qname] = self._wrap(fn, f"plans.{qname}")
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting(*a, **kw):
            self.py4j_calls += 1
            return send(*a, **kw)
        client.send_command = counting
        self._patched.append((client, "send_command", None))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            if fn is None:
                delattr(owner, attr)
            elif isinstance(owner, dict):
                owner[attr] = fn
            else:
                setattr(owner, attr, fn)
        self._patched.clear()

    def total(self, prefix: str, key: str = "dur") -> float:
        out = 0.0
        for s in self.spans:
            if s["name"].startswith(prefix):
                out += (s["end"] - s["start"]) if key == "dur" else s[key]
        return out


def noop(df) -> None:
    """Materialize every column of ``df`` without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def catalyst_ms(frames) -> dict[str, float]:
    """Sum of each Catalyst phase over the frames' QueryExecutions."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for df in frames:
        qe = df._jdf.queryExecution()
        qe.executedPlan()  # no-op once the action planned it
        phases = qe.tracker().phases()
        for k in out:
            opt = phases.get(k)
            if opt.isDefined():
                out[k] += float(opt.get().durationMs())
    return out


def storage_mib(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MIB


# -- event log -------------------------------------------------------------

def parse_event_logs(log_dir: str) -> tuple[dict[str, int], list[dict]]:
    """Jobs started per job group, and one record per finished task."""
    jobs: dict[str, int] = {}
    tasks: list[dict] = []
    row_ids: set[int] = set()
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        ends = []
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    jobs[group] = jobs.get(group, 0) + 1
                    stage_group.update(dict.fromkeys(ev["Stage IDs"], group))
                elif kind == "SparkListenerTaskEnd":
                    ends.append(ev)
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    row_ids |= _python_row_metric_ids(ev["sparkPlanInfo"])
        for ev in ends:
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            rec = {
                "group": stage_group.get(ev["Stage ID"], ""),
                "stage": (path, ev["Stage ID"]),
                "ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "result": m.get("Result Size", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)),
                "python_rows": 0,
            }
            for a in info.get("Accumulables", ()):
                key = PYTHON_METRICS.get(a.get("Name"))
                if key:
                    rec[key] = rec.get(key, 0) + int(a.get("Update", 0))
                if a.get("ID") in row_ids:
                    rec["python_rows"] += int(a.get("Update", 0))
            tasks.append(rec)
    return jobs, tasks


def _python_row_metric_ids(plan: dict) -> set[int]:
    """Accumulator ids of 'number of output rows' on Python-worker nodes."""
    out: set[int] = set()
    todo = [plan]
    while todo:
        node = todo.pop()
        metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", ())}
        if "data returned from Python workers" in metrics and \
                "number of output rows" in metrics:
            out.add(metrics["number of output rows"])
        todo.extend(node.get("children", ()))
    return out


def total(tasks: list[dict], key: str) -> int:
    return sum(t.get(key, 0) for t in tasks)


def exec_metrics(jobs: int, tasks: list[dict], wall_s: float,
                 cores: int) -> dict[str, float]:
    per_stage: dict[tuple, list[int]] = {}
    for t in tasks:
        per_stage.setdefault(t["stage"], []).append(t["ms"])
    skews = [max(ms) / statistics.median(ms) for ms in per_stage.values()
             if len(ms) > 1 and statistics.median(ms) > 0]
    return {
        "exec.jobs": jobs, "exec.stages": len(per_stage),
        "exec.tasks": len(tasks),
        "exec.executor_run_s": total(tasks, "run_ms") / 1e3,
        "exec.cpu_util": total(tasks, "cpu_ns") / 1e9 / (wall_s * cores),
        "exec.gc_s": total(tasks, "gc_ms") / 1e3,
        "exec.shuffle_write_mib": total(tasks, "shuffle_write") / MIB,
        "exec.shuffle_read_mib": total(tasks, "shuffle_read") / MIB,
        "exec.spill_mib": total(tasks, "spill") / MIB,
        "exec.task_skew": max(skews, default=1.0),
        "exec.driver_result_mib": total(tasks, "result") / MIB,
    }


# -- per-workload layer isolation ------------------------------------------

def isolate_ecg(b, tr: Tracer, out: dict) -> None:
    """sources scan, annotate on a persisted input, the operators over the
    persisted annotated frame, the NumPy kernels in-process, and the
    same workload at local[1]."""
    from physioview_spark.functions import spark_kernels as sk
    from physioview_spark.operators.ibi import attach_ibis
    from physioview_spark.operators.metrics import (
        cardiac_summary, compute_metrics)
    from physioview_spark.sources.csv import load_signal_csv

    w, spark, cfg = b.workload, b.spark, b.workload.config()
    loaded = load_signal_csv(spark, w.path, "ecg", header_map=cfg.headers,
                             fs=cfg.fs)
    with tr.span("sources.scan") as s:
        noop(loaded)
    out["sources.scan_s"] = s["end"] - s["start"]

    samples = loaded.persist()
    samples.count()
    annotate = dict(fs=cfg.fs, dtype="ECG", value_col="ecg",
                    detector=cfg.beat_detector,
                    artifact_method=cfg.artifact_method,
                    artifact_tol=cfg.artifact_tol,
                    filter_on=cfg.filter_on, initial_hr=cfg.initial_hr)
    with tr.span("functions.annotate_exec") as s:
        noop(sk.annotate_cardiac(samples, **annotate))
    out["functions.annotate_exec_s"] = s["end"] - s["start"]

    annotated = sk.annotate_cardiac(samples, **annotate).persist()
    noop(annotated)
    with tr.span("operators.construct") as s:
        frames = [attach_ibis(annotated, fs=cfg.fs)]
        frames.append(compute_metrics(annotated, fs=cfg.fs,
                                      seg_size=cfg.seg_size,
                                      min_hr=cfg.min_hr, with_ts=True))
        frames.append(cardiac_summary(frames[-1]))
    out["operators.construct_s"] = s["end"] - s["start"]
    with tr.span("operators.exec") as s:
        for f in frames:
            noop(f)
    out["operators.exec_s"] = s["end"] - s["start"]
    b.release()

    # the body of annotate_cardiac's per-subject kernel, on the same arrays
    det = sk.DETECTORS[cfg.beat_detector]
    t0 = time.perf_counter()
    for x in w.signals.values():
        xf = sk.default_filter("ECG", cfg.fs)(x)
        beats = det(xf, cfg.fs)
        sk.identify_artifacts(beats, cfg.fs, method=cfg.artifact_method,
                              tol=cfg.artifact_tol,
                              initial_hr=cfg.initial_hr)
    out["functions.kernel_numpy_s"] = time.perf_counter() - t0


def isolate_curation(b, tr: Tracer, out: dict) -> None:
    """Each LLM gate of the curation plan, built and drained to a noop
    sink on its own, with the arguments the plan passes."""
    from pyspark.sql import functions as F

    from physioview_spark.llm import dedup, text
    from physioview_spark.plans.common import read, read_fanned

    spark, sf = b.spark, b.workload.sf_dir
    docs = read(spark, sf, "documents")
    gates = {
        "dup_clusters": lambda: dedup.dup_clusters(
            read_fanned(spark, sf, "documents", "doc_id")),
        "decontaminate": lambda: dedup.decontaminate(
            docs.where(F.col("doc_id") % 25 != 0),
            docs.where(F.col("doc_id") % 25 == 0), k=3, min_hits=3),
        "quality_score": lambda: text.quality_score(docs),
        "dedup_passages": lambda: dedup.dedup_passages(
            docs, passage_tokens=16),
    }
    for name, build in gates.items():
        with tr.span(f"llm.{name}_isolated") as s:
            noop(build())
        out[f"llm.{name}_s"] = s["end"] - s["start"]
        b.release()


def run_traced(b) -> dict:
    """Cold run and check; a warm-up run; untraced, traced, untraced warm
    runs (the traced one minus the mean of the other two is the tracing
    overhead);
    the layer isolation of the workload; then the event log and the
    re-setups."""
    w = b.workload
    out = dict.fromkeys(PER_LAYER, 0.0)
    first = b.setup()
    out["session.jvm_launch_s"] = first["setup_s"]
    cold, ref = b.cold_and_check()
    b.warm_loop(ref, 0)  # the first warm run is still warming up
    untraced = b.warm_loop(ref, 0)

    tr = Tracer(b.spark, w.name)
    tr.run = "traced"
    tr.install()
    try:
        b.spark.sparkContext.setLocalProperty("spark.jobGroup.id", "run")
        t0 = time.perf_counter()
        held = w.run(b.spark)
        traced = time.perf_counter() - t0
        b.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    finally:
        tr.uninstall()
    b.attempted += 1
    if ref is None or not w.same(held, ref):
        b.failed += 1
        b.problems.append("traced run output differs from checked run")
    for k, v in catalyst_ms(w.drained(held)).items():
        out[f"catalyst.{k}_ms"] = v
    out["pipeline.persist_mib"] = storage_mib(b.spark)
    b.release()
    untraced = statistics.mean(untraced + b.warm_loop(ref, 0))
    out["trace.run_s"] = traced
    out["trace.overhead_s"] = traced - untraced
    out["sources.construct_s"] = tr.total("sources.")
    out["plans.construct_s"] = tr.total("plans.")
    out["plans.py4j_calls"] = tr.total("plans.", "py4j_calls")

    tr.run = "isolated"
    if w.name == "ecg_cohort_csv":
        isolate_ecg(b, tr, out)
        # parallelism invariance: the same run at local[1]
        b.stop()
        b.setup(cores=1)
        b.spark.sparkContext.setLocalProperty("spark.jobGroup.id", "local1")
        b.attempted += 1
        t0 = time.perf_counter()
        held1 = w.run(b.spark)
        one_core = time.perf_counter() - t0
        if ref is None or not w.same(held1, ref):
            b.failed += 1
            b.problems.append("local[1] outputs differ from local[nproc]")
        out["exec.speedup_vs_1core"] = one_core / untraced
    else:
        isolate_curation(b, tr, out)
    b.stop()

    jobs, tasks = parse_event_logs(b.conf["spark.eventLog.dir"])

    def in_run(group: str) -> bool:
        return group == "run" or group.startswith("run/")

    run = [t for t in tasks if in_run(t["group"])]
    out.update(exec_metrics(sum(n for g, n in jobs.items() if in_run(g)),
                            run, traced, b.cores))
    out["sources.eager_jobs"] = sum(
        n for g, n in jobs.items() if in_run(g) and "/sources." in g)
    out["plans.eager_jobs"] = sum(
        n for g, n in jobs.items() if in_run(g) and "/plans." in g)
    py = [t for t in tasks if t["group"] == "functions.annotate_exec"]
    out["functions.python_sent_mib"] = total(py, "sent") / MIB
    out["functions.python_received_mib"] = total(py, "received") / MIB
    out["functions.python_boot_s"] = total(py, "boot") / 1e3
    out["functions.python_total_s"] = total(py, "total") / 1e3
    if out["functions.python_total_s"] > 0:
        out["functions.boundary_share"] = (
            1 - out["functions.kernel_numpy_s"] / out["functions.python_total_s"])
    out["functions.kernel_passes"] = total(run, "python_rows") / w.input_rows

    setups = b.resetups()
    b.stop()
    out["session.start_s"] = statistics.median(s["start_s"] for s in setups)
    out["session.ship_s"] = statistics.median(s["ship_s"] for s in setups)
    base = tr.spans[0]["start"] if tr.spans else 0.0
    for s in tr.spans:
        s["start"] -= base
        s["end"] -= base
    b.report.update({"first_setup": first, "setups": setups,
                     "cold_run_s": cold, "untraced_run_s": untraced,
                     "spans": tr.spans, "job_groups": jobs})
    return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in out.items()}
