"""Closed-loop benchmark of the engine on two workloads.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 18 --trace 0

One driver process, one SparkSession on ``local[<cores>]``. The seed
generates the input tables (or picks the ingest cities) and the step
order of every pass. After an unmeasured warm-up pass, whole passes run
steps back to back, one at a time: ``--seconds`` over the workload's
nominal pass time, rounded up, and at least two. Each step's output is checked
after its clock stops: query rows must hash-match the DuckDB oracle,
the ingest lake must hold every listed vendor in the reference layout.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` also runs one
traced pass (spans around the package's public calls, a Spark event log)
and prints the per-layer metrics. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. See
``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG_DIR = ROOT / "food_panda_etl_spark"
WARMUP_PASSES = 1


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["queries", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


class Ctx:
    """What a step needs: the session and this pass's inputs."""

    def __init__(self, spark, table_dir: str, cities: list[str], lake: str, backend_spec: str,
                 oracle_digests: dict):
        self.spark = spark
        self.table_dir = table_dir
        self.cities = cities
        self.lake = lake
        self.backend_spec = backend_spec
        self.oracle_digests = oracle_digests
        self.n_vendors: dict[str, int] = {}
        self.lake_stats: list[dict] = []


class RssSampler(threading.Thread):
    """Peak resident set of one process, sampled from /proc every 50 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.path = f"/proc/{pid}/status"
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        with open(self.path) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                    return

    def run(self) -> None:
        while not self._stop_evt.wait(0.05):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


def run_step(step, ctx, tracer=None):
    """Build then act; returns (seconds, result). With a tracer, the step
    is a span with ``build`` and ``action`` children, and the Catalyst
    phase times of the acted-on DataFrame are attached to it."""
    if tracer is None:
        t0 = time.perf_counter()
        df = step.build(ctx)
        res = step.action(ctx, df)
        return time.perf_counter() - t0, res
    rec = tracer.open("step", step.name, query=hasattr(step, "key"))
    try:
        df = tracer.call("build", step.name, step.build, ctx)
        res = tracer.call("action", step.name, step.action, ctx, df)
    finally:
        tracer.close(rec)
    rec["phases"] = catalyst_phases(df)
    return rec["dur"], res


def catalyst_phases(df) -> dict[str, dict]:
    """Catalyst phase summaries (ms, epoch ms) from the acted-on
    DataFrame's QueryPlanningTracker."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        ph = kv._2()
        out[kv._1()] = {"ms": int(ph.durationMs()), "end": int(ph.endTimeMs())}
    return out


def attempt(step, ctx, failures: list[str], tracer=None):
    """Run one step, then check its output with the clock stopped.
    Returns ``(seconds, result, ok)``; ``seconds`` is None if it raised."""
    try:
        dt, res = run_step(step, ctx, tracer)
    except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
        failures.append(f"{step.name}: raised {exc!r}"[:500])
        return None, None, False
    try:
        problems = step.check(ctx, res)
    except Exception as exc:  # noqa: BLE001 - a crashing check is a wrong output
        problems = [f"{step.name}: check raised {exc!r}"]
    failures.extend(problems)
    return dt, res, not problems


def run_pass(wl, order: list, ctx, failures: list[str], tracer=None):
    """Steps of one pass in ``order``; the pass's lake (if any) is
    recorded and dropped. Returns per-step seconds, results, the names of
    the steps attempted and the failed count."""
    times, results = {}, {}
    attempted: list[str] = []
    failed = 0
    for step in order:
        attempted.append(step.name)
        dt, res, ok = attempt(step, ctx, failures, tracer)
        failed += not ok
        if dt is not None:
            times[step.name] = dt
            results[step] = res
    wl.end_pass(ctx, results)
    return times, results, attempted, failed


def measured_passes(wl, seconds: float) -> int:
    """Whole passes that fill ``seconds`` at the workload's nominal pass
    time, at least two. The count does not depend on how fast this run
    goes, so a slow run and a fast one time the same passes."""
    return max(2, math.ceil(seconds / wl.pass_s))


def measure(wl, ctx, rng: random.Random, seconds: float, failures: list[str]):
    """Closed loop: ``measured_passes`` whole passes, steps back to back.
    Returns per-step samples, result row counts and attempt counts."""
    samples: dict[str, list[float]] = defaultdict(list)
    rows: dict[str, int] = {}
    attempted = failed = 0
    for _ in range(measured_passes(wl, seconds)):
        times, results, names, bad = run_pass(wl, wl.pass_order(rng), ctx, failures)
        attempted += len(names)
        failed += bad
        for name, dt in times.items():
            samples[name].append(dt)
        rows.update({step.name: len(res.rows) for step, res in results.items()})
    return samples, rows, attempted, failed


def calibration_probe() -> dict[str, float]:
    """The byte-frozen pure-Python machine-speed probe body of the repo's
    ``bench.py``; median of 3 here rather than 5, to keep a traced run
    short. Its JVM probe (``cal.cpu``) is left out: under the C1-only JIT
    it ran for minutes and no longer measured what ``bench.py`` does."""

    def py_once() -> float:
        t0 = time.perf_counter()
        acc = 7
        for i in range(10_000_000):
            acc = (acc * 31 + i) % 1000003
        return time.perf_counter() - t0

    return {"py": round(statistics.median(py_once() for _ in range(3)), 3)}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    args = parse_args()
    if not (PKG_DIR / "__init__.py").is_file():
        print(f"perfbench: package directory {PKG_DIR.name}/ not found next to perfbench/", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "counts", "eventlog"):
        (work / sub).mkdir(parents=True)
    # Every file Spark, its Python workers and the JVM write stays in the
    # work directory; the workers import the package from the checkout.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [str(ROOT), str(HERE)]

    import datagen
    import workloads
    from oracle import Oracle

    from food_panda_etl_spark.queries import ORACLES
    from food_panda_etl_spark.session import get_spark
    from food_panda_etl_spark.tables import TABLES

    cores = len(os.sched_getaffinity(0))
    rng = random.Random(args.seed)
    wl = workloads.make(args.workload)
    failures: list[str] = []
    table_dir = str(work / "tables")
    cities: list[str] = []
    digests = {}
    if args.workload == "ingest":
        cities = workloads.pick_cities(rng, wl.n_cities)
    else:
        datagen.generate(table_dir, args.seed, workloads.SF)
        oracle = Oracle(table_dir, TABLES, threads=cores)
        digests = {s.key: oracle.digest(ORACLES[s.key]) for s in wl.steps}
        oracle.close()
    spec = workloads.BACKEND_SPEC + (f"?log={work / 'counts'}" if args.trace else "")

    conf = {
        "spark.ui.enabled": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.memory": "2g",
        # The JVM compiles with its quick compiler (C1) only. With the
        # optimising one, passes kept getting faster for five passes while
        # its threads took half the CPU; with C1 the first pass after the
        # warm-up is steady, and at these input sizes as fast.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work / 'eventlog'}",
                "spark.eventLog.compress": "false",
            }
        )

    # ---- set-up: session start, then an unmeasured pass of the same
    # steps on the same inputs, which compiles every plan and starts the
    # Python workers.
    t_setup = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    session_start_s = time.perf_counter() - t_setup
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(spark, table_dir, cities, str(work / "lake"), spec, digests)
    wl.prepare(ctx)
    attempted = failed = 0
    warm_rng = random.Random(args.seed)
    warm_times: dict[str, list[float]] = defaultdict(list)
    for _ in range(WARMUP_PASSES):
        for step in wl.pass_order(warm_rng):
            try:
                warm_times[step.name].append(run_step(step, ctx)[0])
            except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
                attempted += 1
                failed += 1
                failures.append(f"warm-up {step.name}: raised {exc!r}"[:500])
        shutil.rmtree(ctx.lake, ignore_errors=True)
    setup_s = time.perf_counter() - t_setup

    # ---- measured closed loop.
    t_measure = time.perf_counter()
    sampler = RssSampler(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    sampler.start()
    samples, rows, n, bad = measure(wl, ctx, rng, args.seconds, failures)
    rss_mb = sampler.stop()
    measure_s = time.perf_counter() - t_measure
    attempted += n
    failed += bad

    med = {name: statistics.median(v) for name, v in samples.items()}
    wall_s = sum(med.values())
    if args.workload == "ingest":
        landed = statistics.median(s["rows"] for s in ctx.lake_stats)
        rows_per_s = landed / med["land"]
        detail = {
            "ingest_rows_per_s": (rows_per_s, "1/s"),
            "lake_bytes_per_row": (statistics.median(s["bytes"] for s in ctx.lake_stats) / landed, "B"),
            "lake_scan_s": (med["scan_full"] + med["scan_city"], "s"),
        }
    else:
        rows_per_s = sum(rows.values()) / wall_s
        detail = {}
    end_to_end = {
        "wall_s": (wall_s, "s"),
        "setup_s": (setup_s, "s"),
        "ok_ratio": (1.0 - failed / attempted, "ratio"),
        "rows_per_s": (rows_per_s, "1/s"),
    }
    detail["jvm_peak_rss_mb"] = (rss_mb, "MB")

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cores,
        "spark": spark.version,
        "python": platform.python_version(),
        "cities": cities,
        "session_start_s": session_start_s,
        "warmup_s": setup_s - session_start_s,
        "measure_s": measure_s,
        "samples": dict(samples),
        "warmup_samples": dict(warm_times),
        "fail_ratio": failed / attempted,
        "failures": failures[:20],
    }

    per_layer = None
    if args.trace:
        per_layer, n, bad = traced_pass(wl, ctx, rng, spark, work, cores, session_start_s, record, failures)
        per_layer["jvm.peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
        attempted += n
        failed += bad
    else:
        stop_spark(spark)

    for name, (value, unit) in {**end_to_end, **detail}.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print("fail_ratio = " + f"{failed / attempted:.6g}")
    for f in failures[:10]:
        print(f"FAIL {f}")
    print("record " + json.dumps(record, sort_keys=True))
    metrics = per_layer if args.trace else {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def traced_pass(wl, ctx, rng, spark, work, cores, session_start_s, record, failures) -> tuple[dict, int, int]:
    """An untraced pass, a traced pass, another untraced pass, then the
    event log. Returns per-layer metrics, steps attempted, steps failed."""
    from counting_backend import read_counts
    from tracer import Tracer, layer_report, read_event_log

    tracer = Tracer(spark.sparkContext)
    attempted = bad = 0
    walls = []
    for traced in (False, True, False):
        if traced:
            tracer.install()
            before = read_counts(str(work / "counts"))
        times, _, names, n_bad = run_pass(wl, wl.pass_order(rng), ctx, failures, tracer if traced else None)
        if traced:
            tracer.uninstall()
            after = read_counts(str(work / "counts"))
        attempted += len(names)
        bad += n_bad
        walls.append(sum(times.values()))
    stop_spark(spark)
    cal = calibration_probe()

    records, tot = layer_report(tracer.spans, read_event_log(str(work / "eventlog")), cores)
    calls = {k: after["calls"].get(k, 0) - before["calls"].get(k, 0) for k in ("list", "details", "ratings", "reviews")}
    lookups = calls["details"] + calls["ratings"] + calls["reviews"]
    needed = sum(after["distinct"].get(k, 0) for k in ("details", "ratings", "reviews"))
    lake = ctx.lake_stats[-1] if ctx.lake_stats else {}
    mb = 1024.0 * 1024.0
    m = {
        "session.start_s": (session_start_s, "s"),
        "tables.load_calls": (tot.get("tables_calls", 0), "count"),
        "tables.load_s": (tot.get("tables_s", 0.0), "s"),
        "tables.schema_jobs": (tot.get("schema_jobs", 0), "count"),
        "queries.build_s": (tot.get("query_build_s", 0.0), "s"),
        "queries.build_jobs": (tot.get("query_build_jobs", 0), "count"),
        "queries.eager_job_s": (tot.get("query_eager_job_s", 0.0), "s"),
        "operators.s": (tot.get("operators_s", 0.0), "s"),
        "operators.calls": (tot.get("operators_calls", 0), "count"),
        "catalyst.analysis_ms": (tot.get("catalyst_analysis_ms", 0), "ms"),
        "catalyst.optimizer_ms": (tot.get("catalyst_optimization_ms", 0), "ms"),
        "catalyst.planning_ms": (tot.get("catalyst_planning_ms", 0), "ms"),
        "catalyst.s": (tot.get("catalyst_s", 0.0), "s"),
        "exec.s": (tot.get("exec_s", 0.0), "s"),
        "exec.job_s": (tot.get("exec_job_s", 0.0), "s"),
        "exec.jobs": (tot.get("action_jobs", 0), "count"),
        "exec.stages": (tot.get("exec_stages", 0), "count"),
        "exec.tasks": (tot.get("exec_tasks", 0), "count"),
        "exec.run_s": (tot.get("exec_run_s", 0.0), "s"),
        "exec.cpu_s": (tot.get("exec_cpu_s", 0.0), "s"),
        "exec.gc_s": (tot.get("exec_gc_s", 0.0), "s"),
        "exec.shuffle_read_mb": (tot.get("exec_shuffle_read_b", 0.0) / mb, "MB"),
        "exec.shuffle_write_mb": (tot.get("exec_shuffle_write_b", 0.0) / mb, "MB"),
        "exec.spill_mb": (tot.get("exec_spill_b", 0.0) / mb, "MB"),
        "exec.core_util": (tot.get("core_util", 0.0), "ratio"),
        "functions.bytes_to_python": (tot.get("py_bytes_in", 0.0), "B"),
        "functions.rows_from_python": (tot.get("py_rows_out", 0.0), "count"),
        "sources.list_calls": (calls["list"], "count"),
        "sources.lookup_calls": (lookups, "count"),
        "sources.backend_s": (after["backend_s"] - before["backend_s"], "s"),
        "sources.lookup_amplification": (lookups / needed if needed else 0.0, "ratio"),
        "sources.scan_amplification": (
            calls["list"] / after["distinct"]["list"] if after["distinct"].get("list") else 0.0,
            "ratio",
        ),
        "sinks.write_s": (tot.get("sinks_s", 0.0), "s"),
        "sinks.files_written": (lake.get("files", 0), "count"),
        "sinks.bytes_written": (lake.get("bytes", 0), "B"),
        "sinks.partitions_written": (lake.get("partitions", 0), "count"),
        "vendor.enrich_s": (tot.get("vendor_s", 0.0), "s"),
        "trace.overhead": (walls[1] / ((walls[0] + walls[2]) / 2), "ratio"),
        "trace.max_gap": (tot["max_gap"], "ratio"),
        "trace.unreconciled_steps": (tot["unreconciled"], "count"),
    }
    record["cal"] = cal
    out_dir = ROOT / ".perfbench_work" / "traces"
    out_dir.mkdir(parents=True, exist_ok=True)
    with open(out_dir / f"{wl.name}-seed{record['seed']}.json", "w") as fh:
        json.dump({"record": record, "steps": records, "totals": tot, "metrics": {k: v[0] for k, v in m.items()}},
                  fh, indent=1, sort_keys=True, default=str)
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, attempted, bad


if __name__ == "__main__":
    sys.exit(main())
