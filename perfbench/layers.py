"""Per-layer metrics of a traced run, named after the library's modules.

Sources: the benchmark's own spans around its calls into each module,
and the Spark event log of the traced session, split by job group (one
group per timed op, ``<op>/run`` and ``<op>/write`` for the phases of a
MEDS pass, ``ladder/<stage>`` for the stage ladder). A metric of a layer
the workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics
import time

from measure import EventLog, read_event_log

LADDER_STAGES = (
    "filter_subjects", "aggregate_code_metadata", "occlude_outliers",
    "fit_vocabulary_indices", "normalization", "canonical_sort",
    "filter_measurements", "minhash_lsh_dedup", "exact_dedup", "semantic_dedup",
)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def run_ladder(spark, wl) -> dict:
    """Each stage on eagerly pinned inputs, its output sent to the noop
    sink under its own job group; pinning and row counts run outside it."""
    sc = spark.sparkContext
    sc.setJobGroup("ladder-pin", "pin")
    stages = wl.ladder(spark)
    pinned, out = {}, {}
    for stage, fn in stages:
        sc.setJobGroup(f"ladder/{stage}", stage)
        t0 = time.perf_counter()
        df = fn(pinned)
        df.write.format("noop").mode("overwrite").save()
        self_s = time.perf_counter() - t0
        sc.setJobGroup("ladder-pin", "pin")
        pinned[stage] = df.localCheckpoint(eager=True)
        out[stage] = {"self_s": self_s, "rows_out": pinned[stage].count()}
    return out


def per_layer(r, base: dict, t: dict, ladder: dict, evdir: str) -> tuple[dict, dict]:
    """``r`` is the run's Runner; ``base`` and ``t`` the untraced and traced
    timed phases. Returns the metrics and the event-log layer table: the
    totals of every traced op's and every ladder stage's job group."""
    log = EventLog(read_event_log(evdir))
    spans = r.spans
    wl = r.wl
    ops = [
        log.layer(lambda g, gid=gid: g == gid or g.startswith(gid + "/"))
        for gid in t["groups"]
    ]

    def med(key):
        return _median([o.get(key, 0) for o in ops])

    def mean(key):
        return _mean([o.get(key, 0) for o in ops])

    uses_pipeline = wl.name == "meds_etl"
    m = {
        "session.get_spark_s": r.get_spark_s[0],
        "sources.read_call_s": _median(spans.durations("sources.read_call", under="op")),
        "sources.write_s": _median(spans.durations("sources.write", under="op")),
        # records, not bytes: Spark's "Bytes Read" misses most of what the
        # local parquet reader reads (~6% of the files' size here)
        "sources.scan_amp": mean("input_records") / wl.input_rows,
        "plans.pipeline_run_call_s": _median(spans.durations("plans.pipeline_run_call", under="op")),
        "plans.jobs_in_run_call": _median([
            log.layer(lambda g, gid=gid: g == gid + "/run")["jobs"] for gid in t["groups"]
        ]) if uses_pipeline else 0,
        "plans.jobs_per_pass": med("jobs") if uses_pipeline else 0,
        "driver.planning_s": _median([lat - o["job_busy_s"] for lat, o in zip(t["lat"], ops)]),
        "driver.jobs_per_op": med("jobs"),
        "driver.stages_per_op": med("stages"),
        "driver.tasks_per_op": med("tasks"),
        "driver.scheduler_delay_s": med("scheduler_delay_s"),
        "exec.task_run_s": mean("task_run_s"),
        "exec.task_cpu_s": mean("task_cpu_s"),
        "exec.gc_s": mean("gc_s"),
        "exec.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "exec.spill_disk_bytes": mean("spill_disk_bytes"),
        "exec.peak_execution_memory_mb": max([o.get("peak_execution_memory_mb", 0) for o in ops] or [0]),
        "exec.failed_tasks": sum(o.get("failed_tasks", 0) for o in ops),
        # JVM plus Python workers, after both timed halves: unbounded here,
        # since G1 grows get_spark's default heap by run-dependent amounts
        "exec.peak_rss_mb": t["peak_rss_mb"],
        "python.bytes_to_workers": mean("py_bytes_to_workers"),
        "python.bytes_from_workers": mean("py_bytes_from_workers"),
        "python.rows_out": mean("py_rows_out"),
        "python.stage_run_s": mean("py_stage_run_s"),
        "trace.overhead_frac": (t["wall"] / len(t["lat"])) / (base["wall"] / len(base["lat"])) - 1,
    }
    written = wl.written() if uses_pipeline else (0, 0)
    m["sources.bytes_written"], m["sources.files_written"] = written
    table = {"ops": dict(zip(t["groups"], ops)), "ladder": {}}
    for stage in LADDER_STAGES:
        lay = log.layer(lambda g, s=stage: g == f"ladder/{s}") if stage in ladder else {}
        if lay:
            table["ladder"][stage] = lay
        run = ladder.get(stage, {})
        m[f"operators.{stage}.self_s"] = run.get("self_s", 0.0)
        m[f"operators.{stage}.jobs"] = lay.get("jobs", 0)
        m[f"operators.{stage}.shuffle_write_bytes"] = lay.get("shuffle_write_bytes", 0)
        m[f"operators.{stage}.rows_out"] = run.get("rows_out", 0)
    return m, table
