"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a checkout of the repository. One client, closed
loop: a single Python process with one ``local[4]`` Spark session runs
the workload's ops one after another. The run

1. generates the workload's inputs from ``--seed`` in a child process
   (cached per seed under ``.perfbench/`` in the checkout, outside any
   timing);
2. sets up ``SETUP_REPS`` times (session start plus the workload's
   one-time preparation), each time on a fresh Spark context;
3. runs passes over the workload's ops until ``--seconds`` have passed
   and at least the workload's ``min_passes`` are done (graph_updates:
   one batch per pass); the end-to-end figures come from the first
   ``min_passes`` passes only, so both sides of a comparison measure
   the same passes;
4. reads the peak memory, then checks every distinct output against an
   independent reference;
5. prints a human-readable report on stderr and, as the last line of
   stdout, ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` no wrapper is installed and the metrics are the
end-to-end ones. With ``--trace 1`` untraced and traced passes alternate,
and the metrics are the per-layer ones (see ``tracing.py``). The full
record of every run, with per-op and per-family figures, is written to
``.perfbench/runs/`` for ``compare.py``; traced runs also write their
spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
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
STATE = os.path.join(ROOT, ".perfbench")
CPUS = 4
SETUP_REPS = 5
#: traced runs: an untraced warm-up pass, then traced (T) and untraced
#: (U) passes in the order T U T, so linear warm-up drift cancels in the
#: tracing overhead
TRACE_WARM = 1
TRACE_ORDER = (False,) * TRACE_WARM + (True, False, True)

E2E_UNITS = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.get_spark_s": "s", "catalog.build_derived_artifacts_s": "s",
    "catalog.artifact_jobs": "count", "spark.input_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_s": "s", "spark.job_busy_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.cpu_per_run": "ratio",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_records": "count", "spark.spill_mb": "MB", "spark.gc_s": "s",
    "spark.failed_tasks": "count", "plans.checkpoint_calls": "count",
    "plans.checkpoint_s": "s", "plans.raw_checkpoints": "count",
    "plans.helper_share": "ratio", "operators.local_frames": "count",
    "operators.local_frame_s": "s", "llm.pairs_yield": "ratio",
    "streaming.process_s": "s", "streaming.dyn_cc_s": "s",
    "streaming.dyn_bfs_s": "s", "streaming.jobs_per_batch": "count",
    "trace.overhead_frac": "ratio",
}
SETUP_LAYER = ("session.get_spark_s", "catalog.build_derived_artifacts_s", "catalog.artifact_jobs")


def log(msg: str = "") -> None:
    print(msg, file=sys.stderr, flush=True)


def configure_env() -> None:
    """Keep Spark's and Python's scratch files inside the checkout and
    size the session for one 4-core client."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # executors' Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # JVM scratch files too; without perf data no JVM writes to /tmp
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options \"-XX:-UsePerfData -Djava.io.tmpdir={tmp}\" pyspark-shell",
    })
    tempfile.tempdir = tmp


# -- process accounting --------------------------------------------------
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s(root: int) -> float:
    """User+system CPU of process ``root`` and all its descendants (the
    Spark JVM and its Python workers; reaped children included), in
    seconds."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                parent[int(d)] = (int(st[1]), st)
    todo, total, seen = [root], 0, set()
    while todo:
        p = todo.pop()
        if p in seen or p not in parent:
            continue
        seen.add(p)
        st = parent[p][1]
        total += sum(int(x) for x in st[11:15])
        todo.extend(c for c, (pp, _) in parent.items() if pp == p)
    return total / _TICK


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- helpers ---------------------------------------------------------------
def table_digest(result) -> str:
    """Order-insensitive digest of a collected pyarrow table (or tuple)."""
    if result is None:
        return "none"
    if isinstance(result, int):
        return str(result)
    if isinstance(result, tuple):
        return "|".join(table_digest(r) for r in result)
    rows = sorted(map(repr, zip(*(c.to_pylist() for c in result.columns))))
    h = hashlib.sha256(repr(result.column_names).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


class Run:
    def __init__(self, args):
        from workloads import WORKLOADS

        self.args = args
        # a child process generates, so the driver's peak memory does not
        # depend on whether this seed's inputs were cached
        gen = subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), args.workload, str(args.seed),
             os.path.join(STATE, "inputs")],
            check=True, stdout=subprocess.PIPE, text=True)
        self.inputs = gen.stdout.strip().splitlines()[-1]
        self.wl = WORKLOADS[args.workload](self.inputs)
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # per pass: {"traced", "wall", "cpu", "ops": {op: secs}, "jobs": {op: n}, "layer": {op: {...}}}
        self.passes: list[dict] = []
        # per pass: what to check, by op; checked after the last pass
        self.outputs: list[dict] = []
        self.peak_rss_mb: dict[str, float] = {}
        self.setup_cpu: list[float] = []
        self.setup_wall: list[float] = []
        self.setup_layers: list[dict] = []
        # wall time per phase of the run
        self.phases: dict[str, float] = {}
        self.check_s = 0.0

    # -- session ---------------------------------------------------------
    def pids(self) -> list[int]:
        return [os.getpid(), self.spark.sparkContext._gateway.proc.pid]

    def setup_once(self, traced: bool) -> None:
        """One set-up on a fresh Spark context; traced set-ups record the
        session and catalog layers from job 0 of that context."""
        import tracing

        from icebug_spark import session

        if self.spark is not None:
            self.spark.stop()
        if traced:
            self.tracer.install()
            self.tracer.begin_op("setup")
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        if traced:
            self.tracer.bind(self.spark)
        self.wl.setup(self.spark)
        self.setup_wall.append(time.perf_counter() - t0)
        self.setup_cpu.append(tree_cpu_s(os.getpid()) - cpu0)
        if traced:
            root = self.tracer.end_op(0, self.tracer.collector.next_job_id())
            self.tracer.uninstall()
            self.setup_layers.append(tracing.op_metrics(self.tracer.spans, root))

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()

    # -- ops -------------------------------------------------------------
    def run_op(self, name, fn, traced: bool, record: dict) -> tuple[bool, object]:
        import tracing

        coll = self.collector
        j0 = coll.next_job_id()
        if traced:
            self.tracer.begin_op(name, pass_no=len(self.passes))
        t0 = time.perf_counter()
        try:
            out = fn()
            err = None
        except Exception:  # an op that raises is a failed attempt
            out, err = None, traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        j1 = coll.next_job_id()
        self.attempted += 1
        record["ops"][name] = dt
        record["jobs"][name] = j1 - j0
        if traced:
            root = self.tracer.end_op(j0, j1)
            m = tracing.op_metrics(self.tracer.spans, root)
            m["layer_self_s"] = tracing.layer_self_times(self.tracer.spans, root)
            if name in self.wl.pair_ops and out is not None:
                m["pairs"] = out.num_rows
            record["layer"][name] = m
        if err is not None:
            self.failed += 1
            self.errors.append(f"{name}: {err.strip().splitlines()[-1]}")
        return err is None, out

    def check_outputs(self) -> None:
        """Check each distinct output of an op (by digest) once, in pass
        order; a wrong output counts as a failed attempt every time it
        recurred."""
        t0 = time.perf_counter()
        checked: dict[tuple[str, str], str | None] = {}
        for outputs in self.outputs:
            for name, out in outputs.items():
                key = (name, table_digest(out))
                if key not in checked:
                    try:
                        checked[key] = self.wl.check(name, out)
                    except Exception:
                        checked[key] = "check raised: " + traceback.format_exc(limit=2).strip().splitlines()[-1]
                if checked[key] is not None:
                    self.failed += 1
                    self.errors.append(f"{name}: wrong output: {checked[key]}")
        self.check_s = time.perf_counter() - t0

    def one_pass(self, traced: bool) -> None:
        rec = {"traced": traced, "ops": {}, "jobs": {}, "layer": {}}
        self.wl.before_pass()
        if traced:
            self.tracer.install()
        cpu0 = tree_cpu_s(os.getpid())
        results = {}
        for name, fn in self.wl.ops():
            ok, out = self.run_op(name, fn, traced, rec)
            if ok:
                results[name] = out
        rec["cpu"] = tree_cpu_s(os.getpid()) - cpu0
        if traced:
            self.tracer.uninstall()
        rec["wall"] = sum(rec["ops"].values())
        self.passes.append(rec)
        self.outputs.append(self.wl.outputs(results))
        if len(self.passes) == self.wl.min_passes:
            # before any check (DuckDB, networkx) runs in this process
            self.peak_rss_mb = dict(zip(("python", "jvm"), map(vm_hwm_mb, self.pids())))

    def main(self) -> dict:
        import tracing

        trace_on = bool(self.args.trace)
        t_start = time.perf_counter()
        if trace_on:
            self.tracer = tracing.Tracer()
        for _ in range(SETUP_REPS):
            self.setup_once(traced=trace_on)
        self.collector = self.tracer.bind(self.spark) if trace_on else tracing.StatusCollector(self.spark)
        self.phases["setup"] = time.perf_counter() - t_start
        if trace_on:
            for traced in TRACE_ORDER:
                self.one_pass(traced=traced)
        else:
            t_end = time.perf_counter() + self.args.seconds
            while len(self.passes) < self.wl.min_passes or time.perf_counter() < t_end:
                if self.wl.exhausted():
                    break
                self.one_pass(traced=False)
        self.check_outputs()
        self.phases["total"] = time.perf_counter() - t_start
        return self.report()

    # -- metrics ---------------------------------------------------------
    def report(self) -> dict:
        plain = [p for p in self.passes if not p["traced"]]
        traced = [p for p in self.passes if p["traced"]]
        med, mean = statistics.median, statistics.fmean
        # Every run makes the same first min_passes passes from a freshly
        # set-up session (graph_updates: the same batches), and a timing
        # is the mean over exactly those, the cold first pass included
        # (bench.py times one cold pass). Later passes, which only a
        # faster program reaches within --seconds, are recorded but not
        # averaged in. The JVM still compiles for several passes and the
        # host adds one-sided delays, so one pass, or the median of a
        # few, moves far more from run to run than the total of a fixed
        # schedule does.
        timed = plain[: self.wl.min_passes]
        ops = {op: mean(p["ops"][op] for p in timed) for op in timed[0]["ops"]}
        # set-up and passes are timed in CPU seconds, which exclude the
        # host's steal (0.5-21% measured); wall time moved by up to half
        # between runs, CPU time by about a tenth
        e2e = {
            "setup_s": med(self.setup_cpu),
            "cpu_s": mean(p["cpu"] for p in timed),
            "peak_rss_mb": sum(self.peak_rss_mb.values()),
        }
        families = {"setup_wall_s": med(self.setup_wall), "wall_s": sum(ops.values())}
        families.update((f, sum(ops[o] for o in members)) for f, members in self.wl.families.items())
        if self.wl.batched:
            batches = [p["ops"]["batch"] for p in timed]
            families["update_p50_s"] = med(batches)
            families["update_max_s"] = max(batches)
            families["update_samples"] = len(batches)
        record = {
            "workload": self.wl.name, "seed": self.args.seed, "trace": self.args.trace,
            "seconds": self.args.seconds, "attempted": self.attempted, "failed": self.failed,
            "error_rate": self.failed / max(1, self.attempted),
            "e2e": e2e, "families": families, "ops": ops,
            "jobs": {op: plain[0]["jobs"][op] for op in ops},
            "setup_cpu": self.setup_cpu, "setup_wall": self.setup_wall,
            "peak_rss_parts_mb": self.peak_rss_mb,
            "passes": [{k: p[k] for k in ("traced", "wall", "cpu", "ops")} for p in self.passes],
            "phases": {**self.phases, "checks": self.check_s},
            "errors": self.errors[:20],
        }
        if traced:
            record["layers"], record["layer_ops"] = self.layer_metrics(plain, traced)
            record["jobs_match"] = self.jobs_match
        return record

    def layer_metrics(self, plain: list[dict], traced: list[dict]) -> tuple[dict, dict]:
        med = statistics.median
        sums = []
        for p in traced:
            tot = {}
            for m in p["layer"].values():
                for k, v in m.items():
                    if isinstance(v, (int, float)):
                        tot[k] = tot.get(k, 0) + v
            sums.append(tot)
        keys = set().union(*sums)
        layers = {k: med(s.get(k, 0) for s in sums) for k in keys}
        run, cpu = layers.get("spark.executor_run_s", 0), layers.get("spark.executor_cpu_s", 0)
        layers["spark.cpu_per_run"] = cpu / run if run else 0.0
        helper, raw = layers.get("plans.checkpoint_calls", 0), layers.get("plans.raw_checkpoints", 0)
        layers["plans.helper_share"] = helper / (helper + raw) if helper + raw else 0.0
        recs = [m for p in traced for op, m in p["layer"].items() if op in self.wl.pair_ops]
        shuffled = sum(m["spark.shuffle_records"] for m in recs)
        layers["llm.pairs_yield"] = sum(m.get("pairs", 0) for m in recs) / shuffled if shuffled else 0.0
        layers["streaming.jobs_per_batch"] = (
            layers.get("spark.jobs", 0) if self.wl.batched else 0)
        for k in SETUP_LAYER:
            layers[k] = med(s[k] for s in self.setup_layers) if self.setup_layers else 0.0
        wall_u = statistics.fmean(p["wall"] for p in plain[TRACE_WARM:])
        wall_t = statistics.fmean(p["wall"] for p in traced)
        layers["trace.overhead_frac"] = (wall_t - wall_u) / wall_u
        # spark.jobs per op must not depend on tracing; batches differ
        # from one another, so batched workloads are not compared
        self.jobs_match = None
        if not self.wl.batched:
            self.jobs_match = all(p["jobs"] == plain[0]["jobs"] for p in plain + traced)
        per_op = {}
        for op in traced[0]["layer"]:
            per_op[op] = {k: med(p["layer"][op][k] for p in traced)
                          for k, v in traced[0]["layer"][op].items() if isinstance(v, (int, float))}
            per_op[op]["layer_self_s"] = traced[0]["layer"][op]["layer_self_s"]
        return {k: layers.get(k, 0.0) for k in LAYER_UNITS}, per_op


def print_report(rec: dict) -> None:
    log(f"== {rec['workload']} seed={rec['seed']} trace={rec['trace']} "
        f"attempted={rec['attempted']} failed={rec['failed']} error_rate={rec['error_rate']:.4f}")
    for k, v in rec["e2e"].items():
        log(f"  {k:<24} {v:12.4f} {E2E_UNITS[k]}")
    for k, v in rec["families"].items():
        unit = "count" if k == "update_samples" else "s"
        log(f"  {k:<24} {v:12.4f} {unit}")
    log("  per op (mean s over the first min_passes passes, jobs):")
    for op, v in rec["ops"].items():
        log(f"    {op:<32} {v:9.4f} {rec['jobs'][op]:6d}")
    if "layers" in rec:
        log(f"  spark.jobs identical traced/untraced: {rec['jobs_match']}")
        for k, v in rec["layers"].items():
            log(f"  {k:<36} {v:14.4f} {LAYER_UNITS[k]}")
        for op, m in rec["layer_ops"].items():
            selfs = ", ".join(f"{k}={v:.3f}" for k, v in sorted(m["layer_self_s"].items()))
            log(f"    {op}: jobs={m['spark.jobs']} stages={m['spark.stages']} "
                f"driver_s={m['spark.driver_s']:.3f} busy_s={m['spark.job_busy_s']:.3f} "
                f"run_s={m['spark.executor_run_s']:.3f} cpu_s={m['spark.executor_cpu_s']:.3f} "
                f"shuffle_mb={m['spark.shuffle_read_mb']:.2f} ckpt={m['plans.checkpoint_calls']} "
                f"raw={m['plans.raw_checkpoints']} frames={m['operators.local_frames']} | self: {selfs}")
    log("  phases (s): " + ", ".join(f"{k}={v:.1f}" for k, v in rec["phases"].items()))
    for e in rec["errors"]:
        log(f"  ERROR {e}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    try:
        import icebug_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the program from {ROOT}: {exc}")
        return 2
    configure_env()
    run = Run(args)
    try:
        rec = run.main()
    finally:
        run.close()
    print_report(rec)
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    path = os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{time.time_ns()}.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
    if run.tracer is not None:
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        with open(path.replace("runs", "traces"), "w") as f:
            json.dump(run.tracer.spans, f)
    metrics = rec["layers"] if args.trace else rec["e2e"]
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
