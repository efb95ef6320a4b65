"""Gate -> dedup benchmark driver.

    python3 dedupbench/run.py --workload dedup_batch --seed 7 --seconds 10 --trace 0

Run from the repository root.  One closed loop: a single client in this
process runs one job at a time against a ``local[k]`` session (k = min(3,
nproc)); each job starts when the previous one ends.  The run goes:

1. make the inputs for (workload, seed) -- cached, never timed;
2. host probe in a child process (steal jiffies, memcpy GB/s);
3. set-up: ``get_spark`` plus its first action, timed; an untraced run
   sets up SETUPS times (tearing the JVM down in between) and keeps the
   last session, ``setup_s`` is the median;
4. the cold job (``cold_job_s``), then the run's untimed once-per-run
   check where it has one, then ``measured_jobs()`` jobs, about
   ``--seconds`` of them, one when tracing (``rows_per_s`` = input rows /
   median measured wall).  The jobs before the measured ones are dropped
   from ``rows_per_s`` by count, never by a time window;
5. with ``--trace 1`` the traced pass;
6. teardown, host probe again, and the result as the last stdout line.

With ``--trace 0`` the result holds the end-to-end metrics, with
``--trace 1`` the per-layer ones (see BENCHMARK.json and NOTES.md).  The
line before it is the run record: settings, host annotation, every job
wall, every check.  Everything the run writes stays under ``.benchwork/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".benchwork")
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402

# Set-ups per untraced run; setup_s is their median.  A traced run reports
# no setup_s and sets up once.
SETUPS = 2
# Measured jobs per run = round(--seconds / nominal warm-job wall), at least
# one.  The count depends only on --seconds, never on how fast the jobs ran:
# job walls still fall from job to job, so a run that fits one more job
# would read faster for that reason alone.
NOMINAL_JOB_S = {"dedup_batch": 9.5, "gate_json_intake": 2.5}
CORES = min(3, len(os.sched_getaffinity(0)))
# A small cap keeps peak_rss_mb from following when G1 chooses to grow the
# heap: with 2g the JVM grew ~250 MB a dedup job and the peak spread 15 %
# over five runs, with 1g 3 %.  No -Xms and no AlwaysPreTouch: the RSS is
# what the program touched.
DRIVER_MEM = "1g"
# bench.py's own clean-draw thresholds; a run past either is flagged, never dropped
STEAL_MAX = 0.04
MEM_GBS_MIN = 6.0

WORKLOADS = {
    "dedup_batch": "images",
    "gate_json_intake": "json_images",
}


def session_conf() -> dict:
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark takes SPARK_LOCAL_DIRS over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = tmp  # in case an import already cached /tmp
    # the JVMs would otherwise keep their perf-counter files in /tmp, outside
    # the checkout; the launcher JVM of spark-submit reads SPARK_LAUNCHER_OPTS
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


# Units of the printed metrics.  BENCHMARK.json declares them too; the
# self-tests check that the two agree.
E2E_UNITS = {
    "rows_per_s": "rows/s", "cold_job_s": "s", "setup_s": "s",
    "peak_rss_mb": "MB", "ok_job_ratio": "ratio", "truth_recall": "ratio",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("precision", "_rate")):
        return "ratio"
    return "count"


def set_up(get_spark, conf: dict):
    """The program's set-up, timed: get_spark and its first action."""
    t0 = time.perf_counter()
    spark = get_spark(cores=CORES, extra_conf=conf)
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def host_probe() -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "host.py"), "probe"],
        capture_output=True, text=True, check=True, cwd=ROOT,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def host_record(before: dict, after: dict, load: tuple) -> dict:
    dt = after["t"] - before["t"]
    nproc = len(os.sched_getaffinity(0))
    steal = (after["steal_jiffies"] - before["steal_jiffies"]) / 100.0 / (dt * os.cpu_count())
    mem = min(before["mem_gbs"], after["mem_gbs"])
    return {
        "nproc": nproc,
        "loadavg_start": load,
        "loadavg_end": os.getloadavg(),
        "steal_frac": steal,
        "mem_gbs": [before["mem_gbs"], after["mem_gbs"]],
        "noisy": steal > STEAL_MAX or mem < MEM_GBS_MIN,
    }


def measured_jobs(workload: str, seconds: float, trace: bool) -> int:
    # A traced run reports no end-to-end metric; its one measured job is the
    # untraced baseline of trace.overhead_s, and the traced pass, the
    # checkpoint layer and the resumable check still fit in 180 s.
    return 1 if trace else max(1, round(seconds / NOMINAL_JOB_S[workload]))


class RssSampler:
    """Peak RSS of this process tree, sampled by a child process."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "host.py"), "rss", str(os.getpid())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def stop(self) -> float:
        out, _ = self.proc.communicate("stop\n", timeout=30)
        return json.loads(out.strip().splitlines()[-1])["peak_rss_mb"]


def reap_children() -> None:
    """Stop whatever this run started that is still alive, and wait for it."""
    from host import descendants

    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, 15)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


class Run:
    """One run: the job loop, its checks and its record."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.workload = workload
        self.seconds = seconds
        self.trace = trace
        self.path, self.truth = gen.cached_dataset(
            WORKLOADS[workload], seed, os.path.join(WORK, "inputs")
        )
        self.jobs: list[dict] = []
        self.checks: list[dict] = []
        self.recalls: list[float] = []
        self.recall = 0.0
        self.last_result = None

    # -- one timed job -------------------------------------------------------

    def job(self, spark, phase: str) -> None:
        from workloads import check_histogram, check_labels, dedup_job, gate_job

        rec = {"phase": phase, "ok": False}
        try:
            t0 = time.perf_counter()
            if self.workload == "dedup_batch":
                result = dedup_job(spark, self.path)
            else:
                result = gate_job(spark, self.path)
            rec["wall_s"] = time.perf_counter() - t0
            # checks run after the clock stops
            if self.workload == "dedup_batch":
                ok, recall, why = check_labels(result[0], result[1], self.truth)
                self.recalls.append(recall)
            else:
                ok, why = check_histogram(result, self.truth)
            rec["ok"] = ok
            if why:
                rec["why"] = why
            self.last_result = result
        except Exception:  # a failed job counts against ok_job_ratio
            rec["why"] = traceback.format_exc(limit=3)
            print(rec["why"], file=sys.stderr)
        self.jobs.append(rec)

    def check(self, name: str, ok: bool, detail="", **extra) -> None:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail, **extra})

    # -- phases ----------------------------------------------------------------

    def loop(self, spark) -> list[float]:
        self.job(spark, "cold")
        self.once_per_run_check(spark)
        for _ in range(measured_jobs(self.workload, self.seconds, self.trace)):
            self.job(spark, "measured")
        return [j["wall_s"] for j in self.jobs if j["phase"] == "measured" and j["ok"]]

    def once_per_run_check(self, spark) -> None:
        """The untimed check a run makes once, between the cold job and the
        measured ones: the per-row reason check on gate_json_intake, the
        resumable_pipeline check on a traced dedup_batch run.  An untraced
        dedup_batch run has none: its measured job is job 2."""
        import workloads as w

        if self.workload == "dedup_batch" and not self.trace:
            return
        gate = self.workload == "gate_json_intake"
        name = "gate_reason_per_row" if gate else "resumable_labels_equal_dedup"
        t0 = time.perf_counter()
        try:
            if gate:
                self.recall = w.gate_reason_recall(spark, self.path, self.truth)
                ok, detail = self.recall == 1.0, self.recall
            else:
                labels = w.resumable_labels(spark, self.path, os.path.join(WORK, "checkpoints"))
                ok = self.last_result is not None and labels == self.last_result[0]
                detail = ""
        except Exception:
            ok, detail = False, traceback.format_exc(limit=3)
            print(detail, file=sys.stderr)
        self.check(name, ok, detail, wall_s=time.perf_counter() - t0)

    def truth_recall(self) -> float:
        if self.workload == "dedup_batch":
            return min(self.recalls) if self.recalls else 0.0
        return self.recall

    def traced(self, spark, untraced_median: float) -> dict:
        from spans import Tracer
        import workloads as w

        tr = Tracer(spark, "bench.trace")
        if self.workload == "dedup_batch":
            labels, n, counts = w.dedup_traced(spark, self.path, tr, self.truth)
            out = w.dedup_layer_report(tr, counts)
            ok, _, why = w.check_labels(labels, n, self.truth)
            self.check("traced_labels_pass", ok, why)
            self.check("traced_labels_equal_untraced", labels == self.last_result[0])
            out.update(w.checkpoint_layer(
                spark, Tracer(spark, "bench.lanes"), counts["frames"],
                os.path.join(WORK, "checkpoints"),
            ))
            for df in counts["release"]:
                df.unpersist()
        else:
            lanes = Tracer(spark, "bench.lanes")
            hist, out = w.gate_traced(spark, self.path, tr, lanes, self.truth)
            ok, why = w.check_histogram(hist, self.truth)
            self.check("traced_histogram", ok, why)
            valid = self.truth["valid"]
            self.check("filter_lanes_count_valid", out.pop("lanes_valid") == (valid, valid))
        out["pipeline.driver_gap_s"] = tr.driver_gap_s()
        out["trace.job_wall_s"] = tr.job_wall_s
        out["trace.layer_sum_s"] = tr.layer_sum_s()
        out["trace.overhead_s"] = tr.job_wall_s - untraced_median
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program itself; absent in a checkout that holds only the benchmark
    from jsonschema_jl_spark.session import get_spark, shutdown_jvm, stop_spark

    os.chdir(ROOT)
    conf = session_conf()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    load0 = os.getloadavg()
    probe0 = host_probe()
    sampler = None
    spark = None
    setups: list[float] = []
    try:
        for _ in range(0 if run.trace else SETUPS - 1):
            spark, wall = set_up(get_spark, conf)
            setups.append(wall)
            stop_spark(spark)
            shutdown_jvm()
            spark = None
        sampler = RssSampler()
        spark, wall = set_up(get_spark, conf)
        setups.append(wall)
        spark.sparkContext.setLogLevel("ERROR")

        walls = run.loop(spark)
        peak_rss = sampler.stop()
        sampler = None
        median = statistics.median(walls) if walls else None
        recall = run.truth_recall()
        layers = run.traced(spark, median or 0.0) if run.trace else None
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            stop_spark(spark)
            shutdown_jvm()
        reap_children()
    host = host_record(probe0, host_probe(), load0)

    attempted = len(run.jobs)
    ok_jobs = sum(j["ok"] for j in run.jobs)
    correct = ok_jobs == attempted and all(c["ok"] for c in run.checks) and bool(walls)
    end_to_end = {
        # a run without a passing measured job is not correct; report 0
        "rows_per_s": run.truth["rows"] / median if median else 0.0,
        "cold_job_s": run.jobs[0].get("wall_s", 0.0),
        "setup_s": statistics.median(setups),
        "peak_rss_mb": peak_rss,
        "ok_job_ratio": ok_jobs / attempted,
        "truth_recall": recall,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input_rows": run.truth["rows"],
        "settings": {"master": f"local[{CORES}]", "driver_memory": DRIVER_MEM, **conf,
                     "setups": setups,
                     "measured_jobs": measured_jobs(args.workload, args.seconds, run.trace)},
        "host": host, "jobs": run.jobs, "checks": run.checks,
        "end_to_end": end_to_end,
        "layers": layers,
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    name = f"{args.workload}_s{args.seed}_t{args.trace}_{int(time.time())}.json"
    with open(os.path.join(WORK, "runs", name), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({"run_record": record}, default=str))

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    if run.trace:
        # a layer the workload does not run reads 0
        values, unit = layers, layer_unit
        declared = [m["name"] for m in spec["per_layer"]]
    else:
        values, unit = end_to_end, E2E_UNITS.get
        declared = [m["name"] for m in spec["end_to_end"]]
    undeclared = set(values) - set(declared)
    missing = set(declared) - set(values)
    if undeclared or (missing and not run.trace):
        print(f"metrics not in BENCHMARK.json: {sorted(undeclared)}; "
              f"declared but not computed: {sorted(missing)}", file=sys.stderr)
        return 1
    metrics = {n: {"value": values.get(n, 0), "unit": unit(n)} for n in declared}
    print(json.dumps({
        "correct": correct, "attempted": attempted,
        "failed": attempted - ok_jobs, "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
