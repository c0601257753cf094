"""The traced run (``--trace 1``): per-layer metrics.

After the workload's set-up, untraced and traced jobs alternate
(untraced first and last) on the same session, so the tracing overhead —
traced ``job_s_p50`` ÷ untraced − 1 — is measured in one process.
Per-layer numbers are medians over the traced jobs. Spark's task
metrics come from the event log, enabled only here, and are assigned to
a job by the submission time of each Spark job. Spans are written to
``.perfbench/trace/`` when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import time

import procstat
import run as bench
from spans import Tracer, layer_self_times, parallel_overlap

# Self-time layers reported as ``<layer>_s``; together with the
# overlap they must account for a validation job's wall.
SELF_LAYERS = (
    "contract.schema_gate",
    "manifest.snapshot", "manifest.read", "manifest.append",
    "states.read", "states.write",
    "suite.run_suite", "suite.materialize",
    "uniqueness.key_index_read", "uniqueness.key_index_write",
    "uniqueness.cross_partition",
    "writer.write_partitioned",
    "cli.violations_write", "cli.verdicts_write", "cli.tail", "cli.actions",
    "cli.untraced",
)
PREP_STAGES = ("quality", "dedup", "tokenize", "split", "pack", "shuffle")

SPARK_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.core_busy_frac": "ratio", "spark.max_task_skew": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit (the ``--trace 1`` output)."""
    units = {"session.get_spark_s": "s"}
    units.update({f"{layer}_s": "s" for layer in SELF_LAYERS})
    units.update({
        "manifest.pending_partitions": "count",
        "suite.violation_rows": "count",
        "uniqueness.dup_keys": "count",
        "writer.certified_rows": "count",
        "writer.files": "count",
    })
    units.update({f"prep.{s}_s": "s" for s in PREP_STAGES})
    units.update({"prep.kept_frac": "ratio", "dedup.clustered_nodes": "count"})
    units.update(SPARK_UNITS)
    units.update({
        "trace.job_s_p50": "s",
        "trace.overhead_frac": "ratio",
        "trace.parallel_overlap_s": "s",
        "trace.other_s": "s",
        "trace.accounted_frac": "ratio",
    })
    return units


def span_metrics(spans, wall: float) -> dict[str, float]:
    """Self-time layers, overlap and accounting for one traced job
    (``spans`` all belong to it; the root is the ``job`` span).

    A validation job is accounted by its self-time layers less the
    overlap; a prep job by its stage walls, which tile ``prep_corpus``
    (the prep operators' own spans nest inside them)."""
    root = next(s for s in spans if s.name == "job")
    by_layer = layer_self_times(spans)
    out = {f"{layer}_s": by_layer.get(layer, 0.0) for layer in SELF_LAYERS}
    out.update(prep_stage_walls(spans))
    overlap = parallel_overlap(spans, root)
    named = sum(by_layer.get(layer, 0.0) for layer in SELF_LAYERS)
    prep = sum(v for k, v in by_layer.items() if k.startswith("prep."))
    out["trace.parallel_overlap_s"] = overlap
    out["trace.other_s"] = sum(by_layer.values()) - named - prep
    if prep:
        out["trace.accounted_frac"] = sum(out[f"prep.{s}_s"] for s in PREP_STAGES) / wall
    else:
        out["trace.accounted_frac"] = (named - overlap) / wall
    return out


def prep_stage_walls(spans) -> dict[str, float]:
    """Each prep stage's wall: from the previous stage's state write
    (or the start of ``prep_corpus``) to its own state write."""
    out = {f"prep.{s}_s": 0.0 for s in PREP_STAGES}
    corpus = [s for s in spans if s.name == "pipeline.prep_corpus"]
    if not corpus:
        return out
    last = corpus[0].start
    marks = sorted((s for s in spans if s.name == "pipeline.write_stage_state"), key=lambda s: s.end)
    for m in marks:
        stage = (m.info or "").removeprefix("prep_")
        if stage in PREP_STAGES:
            out[f"prep.{stage}_s"] = m.end - last
        last = m.end
    return out


def read_eventlog(log_dir: str) -> list[dict]:
    events = []
    # Spark 4 writes a directory of (possibly rolled) event files
    for path in glob.glob(os.path.join(log_dir, "**", "events*"), recursive=True):
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def spark_metrics(events: list[dict], epoch0: float, epoch1: float, cores: int) -> dict[str, float]:
    """Task metrics of the Spark jobs submitted within [epoch0, epoch1]."""
    lo, hi = epoch0 * 1000, epoch1 * 1000
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"
            and lo <= e["Submission Time"] <= hi]
    stage_ids = {sid for j in jobs for sid in j["Stage IDs"]}
    stages = [e for e in events if e["Event"] == "SparkListenerStageCompleted"
              and e["Stage Info"]["Stage ID"] in stage_ids]
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"
             and e["Stage ID"] in stage_ids and e.get("Task Metrics")]

    def tm(e, *path):
        v = e["Task Metrics"]
        for p in path:
            v = v.get(p, 0) if isinstance(v, dict) else 0
        return v or 0

    run_s = sum(tm(t, "Executor Run Time") for t in tasks) / 1000
    skew = 1.0
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["Stage ID"], []).append(tm(t, "Executor Run Time"))
    for runs in by_stage.values():
        med = statistics.median(runs)
        if len(runs) >= cores and med > 0:
            skew = max(skew, max(runs) / med)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(tm(t, "Executor CPU Time") for t in tasks) / 1e9,
        "spark.gc_s": sum(tm(t, "JVM GC Time") for t in tasks) / 1000,
        "spark.input_bytes": sum(tm(t, "Input Metrics", "Bytes Read") for t in tasks),
        "spark.output_bytes": sum(tm(t, "Output Metrics", "Bytes Written") for t in tasks),
        "spark.shuffle_write_bytes": sum(
            tm(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks
        ),
        "spark.spill_bytes": sum(
            tm(t, "Memory Bytes Spilled") + tm(t, "Disk Bytes Spilled") for t in tasks
        ),
        "spark.core_busy_frac": run_s / ((epoch1 - epoch0) * cores),
        "spark.max_task_skew": skew,
    }


def job_metrics(wl, rec: dict, spans, events, cores: int) -> dict[str, float]:
    report = rec["report"] or {}
    facts = rec["facts"]
    out = span_metrics(spans, rec["wall"])
    out.update(spark_metrics(events, *rec["epoch"], cores))
    resume = wl.name == "resume_delta"
    out.update({
        "manifest.pending_partitions": report.get("partitions", 0) if resume else 0,
        "suite.violation_rows": report.get("violations", 0),
        "uniqueness.dup_keys": facts.get("dup_keys", 0),
        "writer.certified_rows": report.get("certified_rows", 0),
        "writer.files": rec["files"],
        "prep.kept_frac": facts["kept"] / wl.size["docs"] if "kept" in facts else 0.0,
        "dedup.clustered_nodes": facts.get("clustered_nodes", 0),
    })
    return out


def main(args, wl, work: str, gen_s: float) -> int:
    from teleharvest_spark import session

    log_dir = os.path.join(work, "eventlog", str(os.getpid()))
    trace_dir = os.path.join(work, "trace")
    os.makedirs(log_dir, exist_ok=True)
    os.makedirs(trace_dir, exist_ok=True)
    tracer = Tracer().install()

    tracer.enabled = True
    spark = session.get_spark(
        app_name=f"perfbench-{wl.name}-traced",
        extra_conf={
            **bench.session_conf(work),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    tracer.enabled = False
    get_spark_s = next(s.end - s.start for s in tracer.spans if s.name == "session.get_spark")
    cores = spark.sparkContext.defaultParallelism

    @contextlib.contextmanager
    def traced(i):
        tracer.job = i
        tracer.enabled = True
        try:
            with tracer.span("job", "cli.untraced"):
                yield
        finally:
            tracer.enabled = False
            tracer.job = None

    sampler = procstat.PeakRss(os.getpid())
    recs = []
    try:
        wl.setup(spark, traced=True)
        t_measure = time.perf_counter()
        i = 0
        # untraced, traced, untraced, ...: each traced job sits between
        # two untraced ones, so warming from job to job does not bias
        # the overhead
        while (
            len(recs) < 3
            or len(recs) % 2 == 0
            or time.perf_counter() - t_measure < args.seconds
        ):
            around = traced if i % 2 else contextlib.nullcontext
            recs.append(bench.run_job(wl, spark, i, sampler, os.getpid(), around))
            i += 1
    finally:
        sampler.close()
        bench.stop_spark(spark)
        tracer.uninstall()
        shutil.rmtree(wl.runs, ignore_errors=True)

    events = read_eventlog(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    spans_path = os.path.join(trace_dir, f"spans-{wl.name}-{args.seed}.jsonl")
    tracer.dump(spans_path)

    traced_recs = [r for r in recs if r["i"] % 2]
    plain_recs = [r for r in recs if not r["i"] % 2]
    per_job = [
        job_metrics(wl, r, [s for s in tracer.spans if s.job == r["i"]], events, cores)
        for r in traced_recs
    ]
    values = {k: statistics.median(m[k] for m in per_job) for k in per_job[0]}
    traced_p50 = statistics.median(r["wall"] for r in traced_recs)
    values.update({
        "session.get_spark_s": get_spark_s,
        "trace.job_s_p50": traced_p50,
        "trace.overhead_frac": traced_p50 / statistics.median(r["wall"] for r in plain_recs) - 1,
    })
    units = per_layer_units()
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}

    failed = sum(1 for r in recs if r["errors"])
    for r in recs:
        bench.log(f"job {r['i']} ({'traced' if r['i'] % 2 else 'untraced'}): "
                  f"{r['wall']:.3f} s", "OK" if not r["errors"] else f"FAILED {r['errors']}")
    if wl.name == "prep_corpus":
        for r in traced_recs:
            cross = {k: v.get("wall_sec") for k, v in (r["report"] or {}).get("stages", {}).items()}
            bench.log(f"prep report stage wall_sec (cross-check) job {r['i']}: {cross}")
    bench.log(f"spans: {spans_path}; error_rate {failed / len(recs):.3f} ({failed}/{len(recs)})")
    for k, v in metrics.items():
        bench.log(f"{wl.name} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(recs), "failed": failed,
                      "metrics": metrics}))
    return 0
