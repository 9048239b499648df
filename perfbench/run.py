#!/usr/bin/env python3
"""geoglue_spark benchmark: one workload, one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload assign_hotspot --seed 1 --seconds 13 --trace 0

One client drives ``local[<usable CPUs / 2>]``; each job starts when the
previous one has finished. The run generates its seeded inputs (untimed),
starts the session, makes a cold and then two warm set-up passes, warms
up with untimed jobs, runs jobs for ``--seconds``, checks every
output against a reference computed without Spark, and prints a table of
metrics followed, as its last line, by one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
spans, Spark's event log and a 1-core scaling pass, and reports the
per-layer metrics instead. Artifacts (result, host record, spans) go to
``.perfbench_work/out/`` under the repository root. See README.md beside
this file for the workloads, metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_PASSES = 2  # warm set-up passes, after the cold one
MIN_JOBS = 3  # a median needs three
# Untimed full-size jobs run until this much time has passed: the JIT
# compiles the hot paths while the tasks compete with it for the CPUs, so
# job walls keep falling for about this long (measured at local[2] on
# 4 vCPUs with the heap below; at local[4] with a growing heap, over 30 s)
WARMUP_S = 10.0
# Driver JVM heap: sized up front with a fixed young generation. With G1
# growing the heap and resizing the young generation as it went, job times
# shifted in steps during a run and kept falling for over 30 s
JVM_HEAP_OPTS = "-Xms6g -Xmn2g"


def _declared() -> tuple[dict, dict]:
    """name -> (unit, better) of the end-to-end and per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        decl = json.load(f)
    return tuple(
        {m["name"]: (m["unit"], m["better"]) for m in decl[key]}
        for key in ("end_to_end", "per_layer")
    )


# per-layer metrics with these prefixes are medians over the run's jobs,
# except incremental.partitions, a count per run
PER_JOB_PREFIXES = ("plan.", "exec.", "assign.", "zonal.", "timeagg.", "incremental.")
# layers a workload never calls: reported as 0 with this reason
NOT_EXERCISED = {
    "assign_hotspot": ("cover.blocks", "timeagg.", "incremental."),
    "raster_daily": ("assign.",),
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["assign_hotspot", "raster_daily"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return args


def p_high(values: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n <= 10:
        return None
    p = int(100 * (n - 10) / n)
    k = max(0, min(n - 1, int(p / 100 * n) - 1))
    return p, sorted(values)[k]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Groups:
    """Job groups ``<run>:<unit>:<phase>``; PySpark 4.1 has no
    clearJobGroup, so clearing resets the local property."""

    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id

    def name(self, unit: str, phase: str) -> str:
        return f"{self.run_id}:{unit}:{phase}"

    def tagger(self, unit: str):
        def tag(phase: str) -> None:
            g = self.name(unit, phase)
            self.sc.setJobGroup(g, g)

        return tag

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def _stop_spark(spark) -> None:
    """Stop the context, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    end_to_end, per_layer = _declared()
    if not os.path.isfile(os.path.join(ROOT, "geoglue_spark", "__init__.py")):
        print(f"geoglue_spark not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    t_run = time.perf_counter()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    evdir = os.path.join(run_dir, "eventlog")
    for d in (tmp, evdir, os.path.join(WORK, "out")):
        os.makedirs(d, exist_ok=True)
    # keep every scratch file of the driver, JVM and Python workers in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    sys.path[0] = ROOT

    from geoglue_spark.session import get_spark

    from perfbench import host, workloads
    from perfbench.spans import Tracer

    # half the usable CPUs: an assign task keeps two processes busy (the JVM
    # task thread and its Python worker), and the driver, JIT and GC need
    # CPUs too. On 4 vCPUs, local[4] was no faster than local[2] for either
    # workload, and its rows_per_s spread wider from run to run (0.19 against
    # 0.07, quartile spread / median over five seeds)
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    tr = Tracer(run_id, bool(args.trace))
    if args.workload == "assign_hotspot":
        wl = workloads.AssignHotspot(WORK, args.seed)
    else:
        wl = workloads.RasterDaily(WORK, args.seed, run_dir)
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_HEAP_OPTS}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    run_wall = {"inputs_s": time.perf_counter() - t_run}  # where the run's own time went

    # ---- set-up: session, a cold and two warm set-up passes, warm-up --------
    phases = {}
    cpu0 = host.cpu_times()
    t0 = time.perf_counter()
    with tr.span("session.get_spark"):
        spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    session_s = time.perf_counter() - t0
    run_wall["session_s"] = session_s
    groups = Groups(spark.sparkContext, run_id)
    passes: list[tuple[float, dict]] = []
    for k in range(SETUP_PASSES + 1):
        groups.tagger(f"setup{k}")("setup")
        t0 = time.perf_counter()
        with tr.span("setup_pass", k=k):
            layer = wl.setup_pass(spark, tr)
        passes.append((time.perf_counter() - t0, layer))
    # warm passes only: the JVM start and the cold first pass are
    # session.start_s and setup.first_pass_s
    setup_s = _median([p[0] for p in passes[1:]])
    # the warm-up comes last: timed jobs that followed set-up passes started
    # slower and sped up again over the next 8 s
    warm = _warmup(wl, spark, groups, tr)
    run_wall.update(setup_passes_s=[p[0] for p in passes], warmup_walls_s=warm)
    groups.clear()
    phases["setup"] = host.cpu_shares(cpu0, host.cpu_times())

    # ---- timed phase ----------------------------------------------------------
    cpu0 = host.cpu_times()
    with host.RssSampler() as rss:
        jobs, timed_s = _timed_loop(wl, spark, groups, tr, args.seconds)
    phases["timed"] = host.cpu_shares(cpu0, host.cpu_times())
    run_wall["timed_s"] = timed_s

    # ---- output checks (untimed) ----------------------------------------
    t0 = time.perf_counter()
    good = [j for j in jobs if "error" not in j]
    try:
        extra = wl.finish(spark, good)
    except Exception:  # the read-back itself failed: one more failed operation
        extra = [{"error": traceback.format_exc(limit=3), "unit": "finish"}]
    failures = []
    for j in jobs + extra:
        errs = [j["error"]] if "error" in j else wl.check(j)
        j["ok"] = not errs
        if errs:
            failures.append({"unit": j["unit"], "errors": errs[:5]})
    checked = [j for j in good if j["ok"]]
    selftest_caught = bool(checked) and bool(wl.check(wl.corrupt(checked[-1])))
    attempted, failed = len(jobs) + len(extra), len(failures)
    run_wall["checks_s"] = time.perf_counter() - t0

    # ---- traced extras: direct pip call, 1-core scaling pass ------------------
    t0 = time.perf_counter()
    layer = {"peak_rss_mb": rss.peak / 2**20}
    if args.trace:
        layer["pip.points_per_s"] = workloads.pip_points_per_s(tr)
        # one run per core count keeps a traced run within the run budget
        tn = wl.scale_job(spark, tr)
        spark.stop()  # same JVM, new 1-core context
        spark = get_spark("perfbench-1core", cores=1, extra_conf=conf)
        wl.attach(spark)
        wl.scale_job(spark, tr, warmup=True)  # Python workers of the new context
        t1 = wl.scale_job(spark, tr)
        layer["scaling.rows_per_s_n"] = wl.scale_rows / tn
        layer["scaling.rows_per_s_1"] = wl.scale_rows / t1
        layer["scaling.eff"] = t1 / (cores * tn)
    record = host.host_record(ROOT, cores, spark, phases)
    _stop_spark(spark)
    run_wall["extras_and_stop_s"] = time.perf_counter() - t0

    # ---- metrics -----------------------------------------------------------
    e2e = {"rows_per_s": _median([j["rows"] / j["wall_s"] for j in good]), "setup_s": setup_s}
    samples = {"rows_per_s": len(good), "setup_s": SETUP_PASSES}
    notes: dict[str, str] = {}
    if args.trace:
        layer.update(_layer_metrics(wl, good, passes, session_s, evdir, groups, cores))
        samples = {
            k: len(good) if k.startswith(PER_JOB_PREFIXES) and k != "incremental.partitions" else 1
            for k in per_layer
        }
        samples.update({"cover.build_s": SETUP_PASSES, "pip.points_per_s": 3})
        for name in per_layer:
            if name.startswith(NOT_EXERCISED[args.workload]):
                notes[name] = "not exercised by this workload"
        metrics = {k: layer.get(k, 0.0) for k in per_layer}
    else:
        metrics = e2e
    units = per_layer if args.trace else end_to_end

    # ---- report ------------------------------------------------------------
    out_path = os.path.join(WORK, "out", f"{args.workload}-s{args.seed}-trace{args.trace}.json")
    overhead = _overhead(out_path.replace("trace1", "trace0"), e2e) if args.trace else None
    walls = [j["wall_s"] for j in good]
    ph = p_high(walls)
    print(f"workload {args.workload} seed {args.seed}: local[{cores}], closed loop, 1 client")
    print(f"  jobs {len(jobs)} in {timed_s:.1f} s; job wall median {_median(walls):.3f} s "
          f"(n={len(walls)}); p-high: " + (f"p{ph[0]} {ph[1]:.3f} s" if ph else "none (n<=10)"))
    print(f"  failed_frac {failed / max(attempted, 1):.4f} ({failed}/{attempted}); "
          f"corrupted-result self-test counted as failed: {selftest_caught}")
    for f in failures[:5]:
        print(f"  FAILED {f['unit']}: {f['errors'][0][:300]}")
    t = record["phases"]["timed"]
    print(f"  host: steal {t['steal_frac']:.3f} iowait {t['iowait_frac']:.3f} over the timed phase; "
          f"load {record['loadavg'][0]:.2f}")
    for name, value in metrics.items():
        note = f"[{notes[name]}]" if name in notes else f"(median of {samples[name]})"
        print(f"  {name:28s} {value:>16.6g} {units[name][0]}  {note}")
    if overhead is not None:
        print("  tracing overhead, traced / untraced - 1 for this seed: " + (
            ", ".join(f"{k} {v:+.1%} ({end_to_end[k][1]} is better)" for k, v in overhead.items())
            if overhead else "no untraced result for this seed yet"))
    run_wall["total_s"] = time.perf_counter() - t_run
    print("  run wall: " + ", ".join(
        f"{k} {v:.1f}" if isinstance(v, float) else f"{k} {[round(x, 1) for x in v]}"
        for k, v in run_wall.items()))

    correct = failed == 0 and selftest_caught and bool(good)
    with open(out_path, "w") as f:
        json.dump(
            {
                "run_id": run_id, "correct": correct, "attempted": attempted, "failed": failed,
                "end_to_end": e2e, "per_layer": layer, "notes": notes, "failures": failures,
                "tracing_overhead": overhead, "host": record, "run_wall": run_wall,
                "jobs": [{k: j[k] for k in ("unit", "wall_s", "build_s", "exec_s", "rows",
                                            "steal_frac", "driver_jobs", "ok") if k in j}
                         for j in jobs],
                "spans": tr.spans, "span_self_s": tr.self_times(),
            },
            f, indent=1, default=str,
        )
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()},
    }))
    return 0


def _timed_loop(wl, spark, groups, tr, seconds: float) -> tuple[list[dict], float]:
    """Closed loop: the next job starts when the previous one returned;
    jobs start until ``seconds`` have passed and at least MIN_JOBS ran."""
    from perfbench import host

    tracker = spark.sparkContext.statusTracker()
    jobs: list[dict] = []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or len(jobs) < MIN_JOBS:
        unit = f"job{len(jobs)}"
        cpu0 = host.cpu_times()
        t0 = time.perf_counter()
        try:
            with tr.span("job", unit=unit):
                job = wl.job(spark, unit, groups.tagger(unit), tr)
        except Exception:  # a failed job is counted, not fatal
            job = {"error": traceback.format_exc(limit=3), "rows": 0}
        job_wall = time.perf_counter() - t0
        job.update(
            unit=unit,
            wall_s=job_wall,
            steal_frac=host.cpu_shares(cpu0, host.cpu_times())["steal_frac"],
            driver_jobs=len(tracker.getJobIdsForGroup(groups.name(unit, "build"))),
        )
        jobs.append(job)
    groups.clear()
    return jobs, time.perf_counter() - start


def _warmup(wl, spark, groups, tr) -> list[float]:
    """The timed job, untimed and unchecked, until WARMUP_S have passed;
    returns each warm-up job's wall time."""
    walls: list[float] = []
    start = time.perf_counter()
    with tr.span("warmup"):
        while time.perf_counter() - start < WARMUP_S:
            unit = f"warm{len(walls)}"
            t0 = time.perf_counter()
            with tr.span("job", unit=unit):
                wl.job(spark, unit, groups.tagger(unit), tr)
            walls.append(time.perf_counter() - t0)
    return walls


def _overhead(untraced_path: str, traced: dict[str, float]) -> dict[str, float]:
    """Relative change of each end-to-end metric, traced vs untraced."""
    try:
        with open(untraced_path) as f:
            base = json.load(f)["end_to_end"]
    except (OSError, KeyError, ValueError):
        return {}
    return {k: traced[k] / base[k] - 1 for k in traced if base.get(k)}


def _layer_metrics(wl, good, passes, session_s, evdir, groups, cores) -> dict[str, float]:
    """Per-job layer metrics (medians over the run's jobs, see PER_JOB_PREFIXES)
    from the event log, plus the set-up and incremental values."""
    from perfbench.eventlog import EventLog

    log = EventLog(evdir)
    per_job = []
    for j in good:
        group = groups.name(j["unit"], "exec")
        ex = log.exec_metrics(group)
        m = {f"exec.{k}": v for k, v in ex.items()}
        m["exec.s"] = j["exec_s"]
        m["exec.busy_frac"] = ex["run_s"] / (j["exec_s"] * cores) if j["exec_s"] else 0.0
        m["plan.build_s"] = j["build_s"]
        m["plan.driver_jobs"] = j["driver_jobs"]
        m.update(wl.plan_metrics(log.plans(group)))
        per_job.append(m)
    out = {k: _median([m[k] for m in per_job]) for k in (per_job[0] if per_job else {})}
    out["session.start_s"] = session_s
    out["setup.first_pass_s"] = passes[0][0]
    out["cover.build_s"] = _median([p[1]["cover.build_s"] for p in passes[1:]])
    for k in ("cover.cells", "cover.blocks", "cover.boundary_frac"):
        out[k] = passes[-1][1][k]
    if wl.name == "raster_daily":
        out["incremental.run_s"] = _median([j["wall_s"] for j in good])
        out["incremental.partitions"] = len(good)
        out["incremental.resume_s"] = _median([j["resume_s"] for j in good if "resume_s" in j])
    return out


if __name__ == "__main__":
    sys.exit(main())
