"""Benchmark entry point.

    python3 perfbench/run.py --workload meds_etl --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --steadiness 5 --workload all --seconds 24

Run from the repository root. One run is one fresh process: it writes the
seeded inputs, sets up Spark (``get_spark`` plus the first, cold operation
on the inputs), runs the workload's untimed settle passes, then runs the
workload as a single closed-loop client on ``local[4]`` for a fixed
number of operations sized to take about ``--seconds``.
Outside the timed phase it checks every output against a replay and runs
the two known-defect probes. It prints one JSON line. ``--trace 1`` prints the per-layer metrics instead; see
README.md. ``--steadiness N`` runs each workload N times in fresh
processes and prints each metric's spread next to its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER, CORES = "local[4]", 4


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _env(work: str) -> None:
    """Keep every file Spark, its Python workers and the JVM write inside
    the work directory, and let workers import the package from source."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher included: no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # get_spark's own defaults: local[4] and its RAM-derived driver heap
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_DRIVER_MEMORY", None)


def _conf(work: str, event_log: str | None) -> dict:
    conf = {
        # fixed compiler threads: cpu_s leaves them out, which needs them alive
        "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    return conf


class Runner:
    def __init__(self, args, work: str):
        from measure import Spans
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.spans = Spans(f"{args.workload}-seed{args.seed}", enabled=False)
        self.wl = WORKLOADS[args.workload](work, args.seed, self.spans)
        self.setup_s: list[float] = []
        self.get_spark_s: list[float] = []
        self.n_ops = 0
        #: attempted / failed operations by kind: the workload's passes
        #: are one kind, each probe is another
        self.attempts: Counter = Counter()
        self.fails: Counter = Counter()
        self.n_returned = 0
        self.errors: list[str] = []

    def setup(self, event_log: str | None = None):
        from meds_transforms_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench.{self.args.workload}", master=MASTER, shuffle_partitions=CORES,
            extra_conf=_conf(self.work, event_log),
        )
        self.get_spark_s.append(time.perf_counter() - t0)
        self.wl.warm(spark)
        self.setup_s.append(time.perf_counter() - t0)
        return spark

    def n_ops_for(self, seconds: float) -> int:
        """Operations in a timed phase of ``seconds``: a fixed count, so
        that every run of a workload attempts the same operations."""
        return max(1, round(seconds / self.wl.op_s))

    def timed(self, spark, seconds: float, traced: bool) -> dict:
        """Closed loop of ``n_ops_for(seconds)`` operations."""
        from measure import tree_cpu_s

        pid = os.getpid()
        lat, cpu, rows, groups = [], [], 0, []
        t_start = time.perf_counter()
        for _ in range(self.n_ops_for(seconds)):
            i = self.n_ops
            self.n_ops += 1
            group = f"op{i:05d}" if traced else None
            if group:
                spark.sparkContext.setJobGroup(group, self.args.workload)
                groups.append(group)
            self.attempts["pass"] += 1
            c0, t0 = tree_cpu_s(pid), time.perf_counter()
            try:
                with self.spans.span("op"):
                    rows += self.wl.op(spark, i, group)
                self.n_returned += 1
            except Exception as e:  # a failed op is counted, not fatal
                self.fails["pass"] += 1
                self.errors.append(f"op {i}: {type(e).__name__}: {str(e)[:300]}")
            lat.append(time.perf_counter() - t0)
            cpu.append(tree_cpu_s(pid) - c0)
        elapsed = time.perf_counter() - t_start
        return {"lat": lat, "cpu": cpu, "wall": elapsed, "rows": rows, "groups": groups}

    def finish(self, spark) -> None:
        """Output checks and probes, after the timed phase."""
        oks, notes = self.wl.check()
        assert len(oks) == self.n_returned
        self.fails["pass"] += oks.count(False)
        self.errors += notes
        for name, ok, detail in self.wl.probes(spark):
            self.attempts[f"probe.{name}"] += 1
            self.fails[f"probe.{name}"] += not ok
            print(f"probe {name}: {'ok' if ok else 'FAILED'} ({detail})", file=sys.stderr)

    def failed_frac(self) -> float:
        """Failed over attempted operations, averaged over operation kinds
        (passes, and each probe), so that a failing probe weighs the same
        whatever the number of timed passes."""
        return statistics.fmean(self.fails[k] / n for k, n in self.attempts.items())

    @staticmethod
    def end_to_end(t: dict, setup_s: float, failed_frac: float) -> dict:
        return {
            "run_wall_s": t["wall"] / len(t["lat"]),
            "throughput_rows_per_s": t["rows"] / t["wall"],
            "op_latency_p50_s": _median(t["lat"]),
            "cpu_s": _median(t["cpu"]),
            "setup_s": setup_s,
            "ops_failed_frac": failed_frac,
        }


def run(args, work: str) -> dict:
    """One run. The timed phase runs in the first Spark session, right
    after its cold set-up and the workload's settle passes."""
    import layers
    from measure import host_steal_s, tree_peak_rss_mb

    phases = {}
    t0 = time.perf_counter()
    r = Runner(args, work)
    r.wl.generate()
    phases["generate"] = time.perf_counter() - t0
    spark = r.setup()
    phases["setup"] = r.setup_s[0]
    t0 = time.perf_counter()
    for _ in range(r.wl.settle_ops):
        r.wl.warm(spark)
    phases["settle"] = time.perf_counter() - t0
    if not args.trace:
        steal0 = host_steal_s()
        t = r.timed(spark, args.seconds, traced=False)
        phases["timed"] = t["wall"]
        phases["timed_host_steal"] = host_steal_s() - steal0
        t0 = time.perf_counter()
        r.finish(spark)
        phases["checks_probes"] = time.perf_counter() - t0
        metrics = r.end_to_end(t, r.setup_s[0], r.failed_frac())
    else:
        # untraced half, then a traced session (event log on) for the other
        # half and the stage ladder; their wall-time ratio is the overhead
        base = r.timed(spark, args.seconds / 2, traced=False)
        spark.stop()
        evdir = os.path.join(work, "eventlog")
        r.spans.enabled = True
        spark = r.setup(event_log=evdir)
        t = r.timed(spark, args.seconds / 2, traced=True)
        t["peak_rss_mb"] = tree_peak_rss_mb(os.getpid())
        ladder = layers.run_ladder(spark, r.wl)
        r.finish(spark)
        app_id = spark.sparkContext.applicationId
        r.spans.enabled = False
        metrics, table = layers.per_layer(r, base, t, ladder, evdir)
        out = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}")
        os.makedirs(out, exist_ok=True)
        r.spans.write(os.path.join(out, "spans.jsonl"))
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump({"app_id": app_id, "metrics": metrics, "ladder": ladder, "layers": table},
                      f, indent=1)
    print(f"phases_s={ {k: round(v, 2) for k, v in phases.items()} } "
          f"op_latency_s={[round(x, 3) for x in t['lat']]}", file=sys.stderr)
    for e in r.errors:
        print(e, file=sys.stderr)
    # the probes exercise known defects: they count in `failed`, while
    # `correct` covers the checked outputs of the workload's own operations
    return {
        "correct": not any(n for k, n in r.fails.items() if not k.startswith("probe.")),
        "attempted": sum(r.attempts.values()),
        "failed": sum(r.fails.values()),
        "metrics": metrics,
    }


def _stop_jvm() -> None:
    """Shut the Spark JVM down and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def steadiness(args) -> int:
    """Run each workload ``--steadiness`` times in fresh processes and
    print median, quartiles and IQR/median next to each metric's bound."""
    spec = _spec()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    names = [w["name"] for w in spec["workloads"]] if args.workload == "all" else [args.workload]
    report = {}
    for wl in names:
        values: dict[str, list[float]] = {}
        for k in range(args.steadiness):
            seed = args.seed + k
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            took = time.perf_counter() - t0
            if p.returncode != 0:
                print(p.stderr[-2000:], file=sys.stderr)
                return p.returncode
            res = json.loads(p.stdout.strip().splitlines()[-1])
            timings = [ln for ln in p.stderr.splitlines() if ln.startswith("phases_s=")]
            print(f"{wl} seed={seed} took={took:.1f}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} {' '.join(timings)}",
                  flush=True)
            for m, v in res["metrics"].items():
                values.setdefault(m, []).append(v["value"])
        print(f"\n{wl}: {'metric':24s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'bound':>6s}")
        rows = {}
        for m, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(m)
            flag = "" if b is None or spread <= b / 3 else ("  > bound/3" if spread <= b else "  > BOUND")
            print(f"{wl}: {m:24s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} {b if b is not None else '':>6}{flag}")
            rows[m] = {"values": xs, "median": med, "q1": q1, "q3": q3, "iqr_frac": spread, "bound": b}
        report[wl] = rows
    out = os.path.join(HERE, "results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"steadiness-{args.workload}.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steadiness", type=int, default=0, metavar="N")
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "meds_transforms_spark", "__init__.py")):
        print(f"meds_transforms_spark/ not found under {ROOT}: run from a repository "
              "checkout", file=sys.stderr)
        return 2
    spec = _spec()
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS and not (args.steadiness and args.workload == "all"):
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.steadiness:
        return steadiness(args)

    work = os.path.join(HERE, "work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    try:
        result = run(args, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [m for m in wanted if m not in result["metrics"]]
    if missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 3
    result["metrics"] = {m: {"value": result["metrics"][m], "unit": units[m]} for m in wanted}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
