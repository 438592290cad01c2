"""Seeded end-to-end benchmark of wukong_spark, with per-layer attribution.

    python3 perfbench/run.py --workload dag_sql --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload
    python3 perfbench/run.py --workload dag_sql --smoke  # tiny dims, all metrics

Run from the repository root.  One driver process, `SPARK_GRAFT_CPUS` =
the usable core count, every `WukongClient` with that many workers.  A run:

1. generates the workload's inputs from `--seed` (untimed);
2. sets the session up (`session.get_spark` plus a first SQL job), runs
   one untimed warm-up pass (JIT, codegen, Python worker imports), then
3. runs passes while the next one should end within `--seconds` (at
   least three), checking every op's output after each pass, outside
   the timed region; the end-to-end timings are medians over these passes;
4. sets the session up four times more (SparkContext restarts on the
   same JVM); `setup_s` is the median of the five set-ups;
5. prints a line per metric and, last, one JSON object:
   `{"correct", "attempted", "failed", "metrics"}`.  `--trace 0` reports
   the end-to-end metrics of BENCHMARK.json; `--trace 1` the per-layer
   ones: it measures half its passes as usual, restarts the session with
   the Spark UI on (and re-warms the Python workers), measures the other
   half, and attributes Spark's job, stage and task metrics to the spans
   of those passes.

Everything the run writes (tables, Spark local dirs, warehouse, temp
files, the span dump) stays under `.perfbench/` in the working directory.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 5
# the end-to-end medians rest on at least this many passes, even when a
# slow host stretches them past `--seconds`.  With `run_seconds` 12 and
# passes of 4 s or more this is also the most a run measures, so every
# run's medians come from the same passes after the warm-up: passes keep
# getting faster for a minute, and a fast host that fitted more passes
# into the window would otherwise report later, faster ones
MIN_PASSES = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run makes inside `work`, and let Python workers
    import the library and this package."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # C1-only JIT: it reaches its steady state within the warm-up pass,
    # where C2 keeps speeding passes up for over a minute (-35 % from the
    # first measured pass to the fifth on the 4-core host this was built
    # on), so every measured pass runs at the same JIT state
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        "-XX:TieredStopAtLevel=1")
    # a fixed heap, so set-up time does not follow the host's free memory
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def calibrate() -> dict:
    """Fixed single-thread numpy dgemm and pure-Python loop, plus load."""
    import numpy as np

    a = np.random.default_rng(0).random((384, 384))
    dgemm = []
    for _ in range(5):
        t = time.perf_counter()
        a @ a
        dgemm.append(time.perf_counter() - t)
    loop = []
    for _ in range(3):
        t = time.perf_counter()
        s = 0
        for i in range(200_000):
            s += i
        loop.append(time.perf_counter() - t)
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    return {"dgemm_ms": 1e3 * min(dgemm), "pyloop_ms": 1e3 * min(loop),
            "loadavg_1m": os.getloadavg()[0], "steal_ticks": cpu[7],
            "cpu_ticks": sum(cpu)}


def steal_ratio(host0: dict, host1: dict) -> float:
    """Share of the machine's CPU time the hypervisor gave to other
    guests between two calibrations."""
    ticks = host1["cpu_ticks"] - host0["cpu_ticks"]
    return (host1["steal_ticks"] - host0["steal_ticks"]) / ticks if ticks else 0.0


def peak_rss_mb(reset: bool = False) -> float:
    """The driver process's peak RSS since the last reset (VmHWM)."""
    if reset:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    with open("/proc/self/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024


def session_conf(work: str, ui: bool) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "10000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, q)) if len(xs) else 0.0


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


class Runner:
    def __init__(self, args, work: str):
        from perfbench import workloads
        from perfbench.trace import Tracer

        self.args = args
        self.work = work
        self.wl = workloads
        self.tracer = Tracer()
        self.phases = workloads.phases(args.workload, args.smoke)
        self.ctx = workloads.Ctx(None, self.tracer, args.seed, nproc(), work)
        self.setups: list[tuple[float, float]] = []
        self.passes: list = []  # PassStats of measured passes
        self.traced_ids: set[int] = set()
        self.untraced_ids: set[int] = set()
        self.jobs: dict[int, list] = {}  # traced pass id → Spark jobs
        self.next_pass = 0

    # -- session ---------------------------------------------------------
    def setup(self, ui: bool = False) -> tuple[float, float]:
        """`session.get_spark` plus a first SQL job; returns both times."""
        from wukong_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=session_conf(self.work, ui))
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        self.wl.warm_sql(spark, nproc())
        self.ctx.spark = spark
        return t1 - t0, time.perf_counter() - t1

    def stop_session(self) -> None:
        if self.ctx.spark is not None:
            self.ctx.spark.stop()
            self.ctx.spark = None

    @staticmethod
    def stop_jvm() -> None:
        """End the JVM (and with it the Python worker daemon) and wait."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    # -- passes ----------------------------------------------------------
    def run_pass(self):
        pid = self.next_pass
        self.next_pass += 1
        self.tracer.pass_id = pid
        self.ctx.stats = self.wl.PassStats(pid)
        peak_rss_mb(reset=True)
        for ph in self.phases:
            ph.run(self.ctx, pid)
        self.ctx.stats.extra["rss_peak_mb"] = peak_rss_mb()
        self.passes.append(self.ctx.stats)
        return self.ctx.stats

    def measure(self, seconds: float, traced: bool, rest=None, min_passes: int = 1) -> None:
        """Run passes while the next one should still end within
        `seconds` (`min_passes` at least)."""
        t0 = time.perf_counter()
        for n in itertools.count(1):
            t = time.perf_counter()
            st = self.run_pass()
            if traced:
                self.traced_ids.add(st.pass_id)
                self.jobs[st.pass_id] = rest.new_jobs()
            now = time.perf_counter()
            log(f"pass {st.pass_id}: wall {st.wall:.2f} s, with checks {now - t:.1f} s")
            if n >= min_passes and now + (now - t) > t0 + seconds:
                break

    def run(self) -> None:
        args = self.args
        t = time.perf_counter()
        for ph in self.phases:
            ph.prepare(self.ctx)
        self.inputs_s = time.perf_counter() - t
        log(f"inputs ready in {self.inputs_s:.1f} s")
        self.setups.append(self.setup())
        log("set-up 0: get_spark {:.1f} s, first job {:.1f} s".format(*self.setups[-1]))
        if not args.smoke:
            t = time.perf_counter()
            st = self.run_pass()  # warm-up: JIT, codegen, Python worker imports
            self.passes.pop()
            del self.ctx.ops[:]
            log(f"warm-up pass: wall {st.wall:.1f} s, with checks "
                f"{time.perf_counter() - t:.1f} s")
        if args.trace:
            from perfbench.trace import SparkRest

            self.measure(args.seconds / 2, traced=False)
            self.untraced_ids = {p.pass_id for p in self.passes}
            self.stop_session()
            self.setup(ui=True)
            self.wl.warm_workers(self.ctx.spark, nproc())
            rest = SparkRest(self.ctx.spark)
            rest.new_jobs()  # drop the warm-up jobs
            self.measure(args.seconds / 2, traced=True, rest=rest)
        else:
            self.measure(args.seconds, traced=False,
                         min_passes=1 if args.smoke else MIN_PASSES)
        for i in range(1, 1 if args.smoke else SETUPS):
            self.stop_session()
            self.setups.append(self.setup())
            log(f"set-up {i}: " + "get_spark {:.1f} s, first job {:.1f} s".format(
                *self.setups[-1]))

    # -- metrics ---------------------------------------------------------
    def end_to_end(self) -> dict:
        """Medians over the untraced passes: of the pass wall, and of each
        op's latency (then the geometric mean across ops)."""
        untraced = [p for p in self.passes if p.pass_id not in self.traced_ids]
        by_op: dict[str, list] = {}
        for o in self.ctx.ops:
            if o.pass_id not in self.traced_ids and not o.task:
                by_op.setdefault(o.name, []).append(o.ms)
        return {
            "setup_s": median(sum(s) for s in self.setups),
            "wall_s": median(p.wall for p in untraced),
            "op_geomean_ms": math.exp(statistics.fmean(
                math.log(median(ms)) for ms in by_op.values())),
            "driver_rss_peak_mb": max(p.extra["rss_peak_mb"] for p in untraced),
        }

    def per_layer(self, host0: dict, host1: dict) -> dict:
        from perfbench.trace import attribute, union_length

        m: dict[str, float] = {}
        traced = [p for p in self.passes if p.pass_id in self.traced_ids]
        untraced = [p for p in self.passes if p.pass_id in self.untraced_ids]
        per_pass: dict[str, list] = {}
        task_samples: dict[str, list] = {"pool_wait": [], "job": [], "return": [], "lat": []}

        def put(name, value):
            per_pass.setdefault(name, []).append(value)

        for st in traced:
            spans = self.tracer.of_pass(st.pass_id)
            owner = attribute(self.jobs[st.pass_id], spans)
            owner.pop(-1, None)  # input preparation and output checks
            jobs = [j for js in owner.values() for j in js]
            kids: dict[int, list[int]] = {}
            for i, s in spans.items():
                kids.setdefault(s.parent, []).append(i)

            def jobs_under(i, owner=owner, kids=kids):
                """Jobs of span i and its descendants."""
                out, todo = [], [i]
                while todo:
                    j = todo.pop()
                    out += owner.get(j, [])
                    todo += kids.get(j, [])
                return out

            def dur(name, spans=spans):
                return sum(s.dur for s in spans.values() if s.name == name)

            # taskgraph
            ex = st.extra
            tasks = [(i, s) for i, s in spans.items() if s.name == "taskgraph.task"]
            graph = [(i, s) for i, s in tasks if "group_prefix" in s.attrs]
            dag_wall = dur("dag")
            put("taskgraph.submit_ms", ex.get("submit_ms", 0.0))
            put("taskgraph.jobs_per_task",
                sum(len(owner.get(i, [])) for i, _ in graph) / len(graph) if graph else 0.0)
            put("taskgraph.memo_hit_ratio",
                ex["memo_hits"] / ex["memo_dups"] if ex.get("memo_dups") else 0.0)
            put("taskgraph.tasks_per_s", len(tasks) / dag_wall if dag_wall else 0.0)
            for i, s in graph:
                task_jobs = owner.get(i, [])
                if task_jobs:
                    j = task_jobs[0]
                    task_samples["pool_wait"].append(1e3 * (j.submitted - s.start))
                    task_samples["job"].append(1e3 * (j.completed - j.submitted))
                    task_samples["return"].append(1e3 * (s.end - j.completed))
            task_samples["lat"] += [1e3 * s.dur for _, s in tasks]

            # blockmatrix, mlops, graph, queries, session
            for op in ("random", "from_numpy", "matmul", "svd_tall_skinny", "svd_compressed",
                       "tsqr_check", "cholesky_blocked"):
                put(f"blockmatrix.{op}_s", dur(f"blockmatrix.{op}"))
            flop_ops = {o.name: o.gflop for o in self.ctx.ops
                        if o.gflop and o.pass_id == st.pass_id}
            flop_spans = [i for i, s in spans.items() if s.name in flop_ops]
            gflop = sum(flop_ops.values())
            flop_s = sum(spans[i].dur for i in flop_spans)
            task_s = sum(j.metrics["executor_run_s"] for i in flop_spans for j in jobs_under(i))
            put("blockmatrix.gflop", gflop)
            put("blockmatrix.gflop_per_s", gflop / flop_s if flop_s else 0.0)
            put("blockmatrix.gflop_per_task_s", gflop / task_s if task_s else 0.0)
            put("mlops.als_fit_s", dur("mlops.als_fit"))
            put("graph.pagerank_bucketed_s", dur("graph.pagerank_bucketed"))
            put("queries.build_s", dur("queries.build"))
            put("queries.exec_s", dur("queries.exec"))
            put("session.release_pending_s", dur("session.release_pending"))
            put("session.released", ex.get("released", 0))

            # Spark engine, summed over the jobs of the timed sections
            put("spark.jobs", len(jobs))
            put("spark.stages", sum(j.stages for j in jobs))
            n_tasks = sum(j.tasks for j in jobs)
            failed = sum(j.failed_tasks for j in jobs)
            put("spark.tasks", n_tasks)
            put("spark.failed_tasks", failed)
            put("spark.task_success_ratio", (n_tasks - failed) / n_tasks if n_tasks else 1.0)
            busy = union_length([(j.submitted, j.completed) for j in jobs])
            put("spark.job_busy_s", busy)
            put("spark.driver_gap_s", max(0.0, st.wall - busy))
            for key in ("executor_run_s", "executor_cpu_s", "gc_s", "deserialize_s",
                        "shuffle_write_mb", "shuffle_read_mb", "input_mb", "output_mb",
                        "spill_mb", "result_mb"):
                put(f"spark.{key}", sum(j.metrics[key] for j in jobs))
            put("spark.core_util",
                sum(j.metrics["executor_run_s"] for j in jobs) / (st.wall * nproc()))

            # wall time under named spans; jobs no named span below a
            # timed section claims
            sections = kids[None]
            covered = sum(union_length([(spans[k].start, spans[k].end)
                                        for k in kids.get(i, [])]) for i in sections)
            put("trace.span_coverage", covered / st.wall)
            put("trace.unattributed_jobs", sum(len(owner.get(i, [])) for i in sections))

        m.update({k: median(v) for k, v in per_pass.items()})
        m["trace.span_coverage"] = min(per_pass["trace.span_coverage"])
        m["taskgraph.pool_wait_ms_p50"] = pct(task_samples["pool_wait"], 50)
        m["taskgraph.job_ms_p50"] = pct(task_samples["job"], 50)
        m["taskgraph.return_ms_p50"] = pct(task_samples["return"], 50)
        m["taskgraph.task_p50_ms"] = pct(task_samples["lat"], 50)
        m["taskgraph.task_p90_ms"] = pct(task_samples["lat"], 90)
        m["trace.overhead_ratio"] = (median(p.wall for p in traced)
                                     / median(p.wall for p in untraced))
        m["session.get_spark_s"] = median(s[0] for s in self.setups)
        m["session.first_job_s"] = median(s[1] for s in self.setups)
        m["session.cold_start_s"] = sum(self.setups[0])
        for k in ("dgemm_ms", "pyloop_ms", "loadavg_1m"):
            m[f"host.{k}_start"] = host0[k]
            m[f"host.{k}_end"] = host1[k]
        m["host.steal_ratio"] = steal_ratio(host0, host1)
        return m

    def summary(self) -> dict:
        """Figures printed beside the metrics (not in BENCHMARK.json)."""
        ops = [o for o in self.ctx.ops if o.pass_id not in self.traced_ids and not o.task]
        ids = {p.pass_id for p in self.passes} - self.traced_ids
        ms = [o.ms for o in ops]
        out = {"fail_ratio": sum(not o.ok for o in ops) / len(ops) if ops else 0.0,
               "passes": len(ids), "op_samples": len(ms), "op_p50_ms": pct(ms, 50),
               "op_p90_ms": pct(ms, 90)}
        tasks = [o.ms for o in self.ctx.ops if o.task and o.pass_id in ids]
        if tasks:
            dag_wall = sum(s.dur for s in self.tracer.spans
                           if s.name == "dag" and s.pass_id in ids)
            out.update(task_samples=len(tasks), task_p50_ms=pct(tasks, 50),
                       task_p90_ms=pct(tasks, 90), tasks_per_s=len(tasks) / dag_wall)
        flop = [o for o in ops if o.gflop]
        if flop:
            out["gflop_per_s_computed"] = (sum(o.gflop for o in flop)
                                           / sum(o.end - o.start for o in flop))
        return out


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(args) -> int:
    spec = load_spec()
    work = os.path.join(os.getcwd(), ".perfbench", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    sys.path.insert(0, ROOT)
    import wukong_spark  # noqa: F401 — before numpy: pins BLAS to one thread

    host0 = calibrate()
    runner = Runner(args, work)
    try:
        runner.run()
    finally:
        runner.stop_session()
        runner.stop_jvm()
    host1 = calibrate()

    e2e = runner.end_to_end()
    metrics: dict[str, dict] = {}
    wanted = list(spec["end_to_end"])
    if args.trace or args.smoke:
        wanted = (wanted if args.smoke else []) + list(spec["per_layer"])
        layer = runner.per_layer(host0, host1)
    for m in wanted:
        value = e2e[m["name"]] if m["name"] in e2e else layer[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}

    ops = [o for o in runner.ctx.ops if not o.task]
    failed = [o for o in ops if not o.ok]
    for o in failed[:20]:
        print(f"FAILED {o.name} (pass {o.pass_id}): {o.error}", file=sys.stderr)
    print(f"workload {args.workload} seed {args.seed} nproc {nproc()} "
          f"passes {len(runner.passes)} ops {len(ops)} failed {len(failed)}")
    print("host " + json.dumps({"start": host0, "end": host1,
                                "steal_ratio": steal_ratio(host0, host1)}))
    for k, v in runner.summary().items():
        print(f"summary {k} {v:.6g}")
    by_name: dict[str, list] = {}
    for o in runner.ctx.ops:
        by_name.setdefault(o.name, []).append(o.ms)
    for name, ms in sorted(by_name.items()):
        print(f"op {name} n {len(ms)} p50 {pct(ms, 50):.1f} ms")
    for k, v in metrics.items():
        print(f"metric {k} {v['value']:.6g} {v['unit']}")
    if args.trace:
        runner.tracer.dump(os.path.join(os.path.dirname(work),
                                        f"spans-{args.workload}-{args.seed}.json"))
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Run each workload in its own process; the last line merges them."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in [w["name"] for w in load_spec()["workloads"]]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(f"[{name}] {ln}" for ln in lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"workload {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny dims, one set-up; prints every metric")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "wukong_spark")):
        print("wukong_spark not found next to perfbench/", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.seconds is None:
        args.seconds = 0 if args.smoke else spec["run_seconds"]
    if args.smoke:
        args.trace = 1
    if args.workload == "all":
        return run_all(args)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        p.error(f"unknown workload {args.workload}")
    try:
        return run_one(args)
    finally:
        shutil.rmtree(os.path.join(os.getcwd(), ".perfbench",
                                   f"{args.workload}-{os.getpid()}"), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
