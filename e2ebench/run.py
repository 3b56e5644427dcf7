#!/usr/bin/env python3
"""End-to-end benchmark of `graft run`: a cold process per run, timed from
start to exit, on a project generated from --seed.

    python3 e2ebench/run.py --workload small_project --seed 1 --seconds 20 --trace 0

One closed-loop client launches one graft process at a time, the way
`sbt run` forks graft (build.sbt's javaOptions, compiled classes plus the
Spark jars), with SPARK_GRAFT_CPUS set to the cores this process may use
and a fixed heap. Every process, this one included, runs under
RLIMIT_FSIZE = CAP_BYTES, so no file it writes can exceed the cap: an
overshoot fails the run, and the run counts as failed.

--trace 0 times the end-to-end metrics: `graft compile` (setup_s, three
times), `graft run` back to back for --seconds (run_wall_s, rows_per_s),
and `graft run` again on the unchanged project (skip_wall_s, exit 99).
--trace 1 makes one untraced run and one traced run (tracer/GraftTrace.scala)
and prints the per-layer metrics. Every output is checked by the oracle in
workloads.py. The last line of stdout is the result JSON; the line before
it gives each metric's quartiles and sample count.
"""
import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import workloads  # noqa: E402

CAP_BYTES = 128 * 1024 * 1024
HEAP = "2g"
SETUP_REPEATS = 3
SKIP_REPEATS = 7
JVM_START_REPEATS = 3
# every process must end within the 180 s a run is allowed
BUDGET_S = 150

END_TO_END = {"run_wall_s": "s", "rows_per_s": "1/s", "setup_s": "s", "skip_wall_s": "s"}
PER_LAYER = {
    "cli.jvm_start_s": "s", "cli.session_start_s": "s",
    "engine.config.load_s": "s", "engine.compile_s": "s",
    "engine.runsfile.hash_s": "s", "engine.runsfile.bytes_hashed": "bytes",
    "engine.sources.read_s": "s", "engine.sources.jobs": "count",
    "ops.apply_s": "s", "ops.jobs": "count",
    "functions.graph.apply_s": "s", "functions.graph.jobs": "count",
    "functions.graph.driver_gap_s": "s",
    "template.compile_s": "s", "template.udf_templates": "count",
    "template.native_templates": "count", "template.render_s": "s",
    "engine.destinations.input_s": "s", "engine.destinations.write_s": "s",
    "engine.destinations.sink_s": "s", "engine.destinations.jobs": "count",
    "engine.destinations.bytes_written": "bytes", "engine.destinations.files_written": "count",
    "engine.destinations.max_file_bytes": "bytes",
    "engine.execute_s": "s", "engine.results_count_jobs": "count",
    "engine.results_count_s": "s", "engine.cached_frames_after": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.catalyst_s": "s", "spark.codegen_compile_s": "s",
    "spark.codegen_classes": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.tasks_failed": "count",
    "process.peak_rss_mb": "MB", "process.cpu_s": "s", "trace.overhead_s": "s",
}
# small_project runs with `-r results.json`, the reference's results epilogue
RESULTS_FILE = {"small_project": True, "bulk_render": False}


class Proc:
    def __init__(self, what, code, wall, cpu, rss_mb, log, launch_ms, end_ms):
        self.what, self.code, self.wall, self.cpu, self.rss_mb = what, code, wall, cpu, rss_mb
        self.log, self.launch_ms, self.end_ms = log, launch_ms, end_ms
        self.problems = []

    def fail(self, problem):
        self.problems.append(problem)

    @property
    def ok(self):
        return not self.problems

    def summary(self):
        return {"what": self.what, "exit": self.code, "wall_s": self.wall,
                "problems": self.problems}


def _limit_file_size(cap):
    def set_cap():
        resource.setrlimit(resource.RLIMIT_FSIZE, (cap, cap))
    return set_cap


def launch(what, cmd, cwd, env, log, timeout, cap=CAP_BYTES):
    """Run `cmd` under the file-size cap; wall time from spawn to reaped exit."""
    # flush earlier runs' dirty pages first, so their writeback does not
    # land inside this process's wall time
    os.sync()
    with open(log, "wb") as lf:
        launch_ms = time.time() * 1000
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             preexec_fn=_limit_file_size(cap))
        killer = threading.Timer(max(timeout, 1), p.kill)
        killer.start()
        try:
            _, status, ru = os.wait4(p.pid, 0)
        finally:
            killer.cancel()
        wall = time.perf_counter() - t0
        end_ms = time.time() * 1000
    p.returncode = os.waitstatus_to_exitcode(status)
    proc = Proc(what, p.returncode, wall, ru.ru_utime + ru.ru_stime, ru.ru_maxrss / 1024,
                log, launch_ms, end_ms)
    text = Path(log).read_bytes()
    if b"File too large" in text:
        proc.fail("File too large: a write hit the per-file cap")
    if p.returncode < 0 or wall >= timeout:
        proc.fail(f"killed after {wall:.1f} s")
    return proc


def largest_file(*dirs):
    sizes = [f.stat().st_size for d in dirs if Path(d).is_dir()
             for f in Path(d).rglob("*") if f.is_file()]
    return max(sizes, default=0)


class Bench:
    """One workload's generated project and the processes run on it."""

    def __init__(self, workload, seed, cap=CAP_BYTES):
        self.workload, self.cap = workload, cap
        self.graft_classes, self.tracer_classes = build.ensure_built()
        self.java_options = build.java_options()
        self.work = build.CACHE / "work" / f"{workload}-{seed}"
        shutil.rmtree(self.work, ignore_errors=True)
        self.project = self.work / "project"
        self.tmp = self.work / "tmp"
        self.logs = self.work / "logs"
        for d in (self.project, self.tmp, self.logs):
            d.mkdir(parents=True)
        self.rows = workloads.generate(workload, seed, self.project)
        self.expected = workloads.expect(workload, self.project)
        self.procs = []
        self.max_file_bytes = 0
        self.deadline = time.monotonic() + BUDGET_S
        cpus = len(os.sched_getaffinity(0))
        self.env = {k: v for k, v in os.environ.items()
                    if k not in ("SPARK_MASTER", "SPARK_GRAFT_AQE_MIN_PARTITION")}
        self.env.update(SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=str(self.tmp))

    def time_left(self):
        return self.deadline - time.monotonic()

    def java(self, main, args, classes, what):
        cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={self.tmp}",
               *self.java_options, "-cp", build.classpath(*classes), main, *args]
        proc = launch(what, cmd, self.project, self.env,
                      self.logs / f"{len(self.procs):03d}-{what}.log", self.time_left(), self.cap)
        self.procs.append(proc)
        self.max_file_bytes = max(self.max_file_bytes,
                                  largest_file(self.project / "output", self.tmp))
        return proc

    def graft(self, *args, what):
        return self.java("graft.cli.Main", list(args), [self.graft_classes], what)

    def clean_outputs(self):
        for p in ("output", "runs.csv", "results.json", "graft_compiled.yaml"):
            path = self.project / p
            shutil.rmtree(path) if path.is_dir() else path.unlink(missing_ok=True)

    def check(self, proc, out_dir, want_exit=0):
        if proc.code != want_exit:
            proc.fail(f"exit {proc.code}, expected {want_exit}")
        if want_exit == 0 and out_dir is not None:
            for problem in workloads.check(out_dir, self.expected):
                proc.fail(problem)

    def run_args(self):
        return ["run", "-c", "graft.yaml"] + (["-r", "results.json"] if RESULTS_FILE[self.workload] else [])

    def cold_run(self):
        """One `graft run` from an empty output directory and no state."""
        self.clean_outputs()
        proc = self.graft(*self.run_args(), what="run")
        self.check(proc, self.project / "output")
        if proc.ok and RESULTS_FILE[self.workload] and not (self.project / "results.json").is_file():
            proc.fail("results.json not written")
        return proc

    def measure(self, seconds):
        setup = []
        for _ in range(SETUP_REPEATS):
            p = self.graft("compile", "-c", "graft.yaml", what="compile")
            self.check(p, None)
            setup.append(p)
        runs = []
        stop = time.monotonic() + seconds
        while self.time_left() > 0:
            runs.append(self.cold_run())
            if time.monotonic() >= stop:
                break
        skips = []
        if runs and runs[-1].ok:
            for _ in range(SKIP_REPEATS):
                if self.time_left() <= 0:
                    break
                p = self.graft(*self.run_args(), what="skip")
                self.check(p, None, want_exit=99)
                skips.append(p)
        walls = {"setup_s": _walls(setup), "run_wall_s": _walls(runs), "skip_wall_s": _walls(skips)}
        samples = dict(walls, rows_per_s=[self.rows / w for w in walls["run_wall_s"]])
        return {m: samples[m] for m in END_TO_END}

    def trace(self):
        jvm = [self.graft("-v", what="version") for _ in range(JVM_START_REPEATS)]
        for p in jvm:
            self.check(p, None)
        untraced = self.cold_run()
        self.clean_outputs()
        out_b, out_a = self.work / "trace-execute", self.work / "trace-by-node"
        trace_file = self.work / "trace.json"
        launch_ms = int(time.time() * 1000)
        traced = self.java("org.apache.spark.sql.graftbench.GraftTrace",
                           ["graft.yaml", str(out_b), str(out_a), str(trace_file), str(launch_ms),
                            str(RESULTS_FILE[self.workload]).lower()],
                           [self.tracer_classes, self.graft_classes], "trace")
        self.check(traced, out_b)
        self.check(traced, out_a)
        self.max_file_bytes = max(self.max_file_bytes, largest_file(out_a, out_b))
        if not (untraced.ok and traced.ok):
            return None
        t = json.loads(trace_file.read_text())
        m = layer_metrics(t, out_b)
        traced_wall = ((t["execute_end_ms"] - t["launch_ms"]) + (traced.end_ms - t["stop_start_ms"])) / 1000
        m.update({
            "cli.jvm_start_s": statistics.median(_walls(jvm)),
            "process.peak_rss_mb": untraced.rss_mb,
            "process.cpu_s": untraced.cpu,
            "trace.overhead_s": traced_wall - untraced.wall,
        })
        return {k: [m[k]] for k in PER_LAYER}

    def finish(self, samples, names):
        failed = sum(not p.ok for p in self.procs)
        detail = {"workload": self.workload, "input_rows": self.rows, "cap_bytes": self.cap,
                  "max_file_bytes": self.max_file_bytes,
                  "failures": [p.summary() for p in self.procs if not p.ok], "metrics": {}}
        metrics = {}
        for name, unit in names.items():
            values = (samples or {}).get(name) or []
            if not values:
                continue
            q = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
            detail["metrics"][name] = {"median": statistics.median(values), "q1": q[0], "q3": q[2],
                                       "n": len(values), "unit": unit}
            metrics[name] = {"value": statistics.median(values), "unit": unit}
        result = {"correct": failed == 0 and len(metrics) == len(names),
                  "attempted": len(self.procs), "failed": failed, "metrics": metrics}
        shutil.rmtree(self.work, ignore_errors=True)
        return detail, result


def _walls(procs):
    return [p.wall for p in procs if p.ok]


def _union_s(intervals, lo, hi):
    """Seconds of [lo, hi] (ms) covered by the union of `intervals` (ms)."""
    covered, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > cur:
            covered += b - max(a, cur)
            cur = b
    return covered / 1000


def layer_metrics(t, product_out):
    spans, jobs = t["spans"], t["jobs"]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(ss):
        return sum(s["end_ns"] - s["start_ns"] for s in ss) / 1e9

    def jobs_of(ss):
        ids = {s["id"] for s in ss}
        return [j for j in jobs if j["span"] in ids]

    def gap(ss):
        return sum((s["end_ns"] - s["start_ns"]) / 1e9 - _union_s(
            [(j["start_ms"], j["end_ms"]) for j in jobs_of([s])], s["start_ns"] / 1e6, s["end_ns"] / 1e6)
            for s in ss)

    execute = named("engine.execute")[0]
    exec_jobs = jobs_of([execute])
    lo, hi = execute["start_ns"] / 1e6, execute["end_ns"] / 1e6
    compiles = named("template.compile")
    render = dur(named("template.render")) - dur(named("engine.destinations.input"))
    write = dur(named("engine.destinations.write"))
    files = workloads.output_files(product_out)
    a = execute["attrs"]
    return {
        "cli.session_start_s": dur(named("cli.session")),
        "engine.config.load_s": dur(named("engine.config.load")),
        "engine.compile_s": dur(named("engine.compile")),
        "engine.runsfile.hash_s": dur(named("engine.runsfile.hash")),
        "engine.runsfile.bytes_hashed": named("engine.runsfile.hash")[0]["attrs"]["bytes"],
        "engine.sources.read_s": dur(named("engine.sources.read")),
        "engine.sources.jobs": len(jobs_of(named("engine.sources.read"))),
        "ops.apply_s": dur(named("ops.apply")),
        "ops.jobs": len(jobs_of(named("ops.apply"))),
        "functions.graph.apply_s": dur(named("functions.graph.apply")),
        "functions.graph.jobs": len(jobs_of(named("functions.graph.apply"))),
        "functions.graph.driver_gap_s": gap(named("functions.graph.apply")),
        "template.compile_s": dur(compiles),
        "template.udf_templates": sum(s["attrs"]["udf"] for s in compiles),
        "template.native_templates": sum(not s["attrs"]["udf"] for s in compiles),
        "template.render_s": render,
        "engine.destinations.input_s": dur(named("engine.destinations.input")),
        "engine.destinations.write_s": write,
        "engine.destinations.sink_s": write - render,
        "engine.destinations.jobs": sum(j["desc"].startswith("graft: destinations.") for j in exec_jobs),
        "engine.destinations.bytes_written": sum(f.stat().st_size for f in files),
        "engine.destinations.files_written": len(files),
        "engine.destinations.max_file_bytes": max((f.stat().st_size for f in files), default=0),
        "engine.execute_s": dur([execute]),
        "engine.results_count_jobs": len(jobs_of(named("engine.results_count"))),
        "engine.results_count_s": dur(named("engine.results_count")),
        "engine.cached_frames_after": a["cached_frames_after"],
        "spark.jobs": len(exec_jobs),
        "spark.stages": sum(j["stages"] for j in exec_jobs),
        "spark.tasks": sum(j["tasks"] for j in exec_jobs),
        "spark.driver_gap_s": gap([execute]),
        "spark.catalyst_s": sum(q["catalyst_ms"] for q in t["queries"] if lo <= q["start_ms"] <= hi) / 1000,
        "spark.codegen_compile_s": (a["codegen_ns1"] - a["codegen_ns0"]) / 1e9,
        "spark.codegen_classes": a["codegen_n1"] - a["codegen_n0"],
        "spark.executor_run_s": sum(j["run_ms"] for j in exec_jobs) / 1000,
        "spark.executor_cpu_s": sum(j["cpu_ns"] for j in exec_jobs) / 1e9,
        "spark.gc_s": sum(j["gc_ms"] for j in exec_jobs) / 1000,
        "spark.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in exec_jobs),
        "spark.spill_bytes": sum(j["spill_bytes"] for j in exec_jobs),
        "spark.tasks_failed": sum(j["failed_tasks"] for j in exec_jobs) + sum(not j["ok"] for j in exec_jobs),
    }


def run(workload, seed, seconds, trace, cap=CAP_BYTES):
    """Returns (detail, result) for one benchmark run."""
    bench = Bench(workload, seed, cap)
    if trace:
        return bench.finish(bench.trace(), PER_LAYER)
    return bench.finish(bench.measure(seconds), END_TO_END)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    soft, hard = resource.getrlimit(resource.RLIMIT_FSIZE)
    cap = CAP_BYTES if hard == resource.RLIM_INFINITY else min(CAP_BYTES, hard)
    resource.setrlimit(resource.RLIMIT_FSIZE, (cap, cap))
    try:
        detail, result = run(args.workload, args.seed, args.seconds, args.trace, cap)
    except build.BuildError as e:
        print(f"e2ebench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
