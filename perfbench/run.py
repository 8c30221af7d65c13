"""Seeded end-to-end and per-layer benchmark for the dedup engine.

    python3 perfbench/run.py --workload batch|substring|stream \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed`` into
``.perfbench_work/`` (see ``corpus.py``); the engine only reads the parquet.
The load is one closed-loop client: one Spark driver process at
``local[nproc]``, and the next unit of work starts only when the previous one
has finished.

``--trace 0`` (end to end, tracing off): ``setup_s`` is the session start
plus one untimed warm-up unit over small inputs of the same shape; then
units run until ``--seconds`` of unit wall time is spent, plus one more unit
when the hypervisor stole more than ``STEAL_LIMIT_PCT`` of CPU time during
every unit so far. Every unit's output is checked (``workloads.py``); a unit
that raises, times out or fails a check counts in ``failed``. Printed
metrics: ``setup_s``, ``job_s`` (median unit wall), ``docs_per_s`` and
``recall``; ``error_rate`` is ``failed / attempted``. The peak resident
memory of the Spark driver JVM plus its Python workers is reported beside
them but not gated: JVM heap growth moves it by up to a third between runs
of identical code.

A unit whose Spark jobs are still running after ``UNIT_TIMEOUT_S`` has
them cancelled and counts as failed.

``--trace 1`` (per layer): the unit is recomposed from the same public
functions with each output forced inside a span, jobs are tagged by span,
and Spark's event log is parsed for stage metrics (``trace.py``). Untraced
and traced units alternate so the tracing overhead is reported. A traced
unit also fails when the layer self times cover less or more than
``COVERAGE_TOLERANCE`` of its wall, when a span or kernel its workload must
produce is missing, or when the traced and untraced walls differ by more
than ``OVERHEAD_TOLERANCE``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
UNIT_TIMEOUT_S = 60.0   # a unit's Spark jobs are cancelled past this
RUN_BUDGET_S = 150.0    # stop starting units past this, whatever --seconds
# a timed unit during which the hypervisor stole more than this share of
# CPU time is timed again, at most EXTRA_UNITS more times; job_s and
# docs_per_s then use the undisturbed units (all units if none was)
STEAL_LIMIT_PCT = 5.0
EXTRA_UNITS = 1
COVERAGE_TOLERANCE = 0.10   # |layer self times / traced unit wall - 1|
# |traced - untraced| / untraced median unit wall: the recomposition skips
# recomputation (7-17% faster) and each side is one ~10%-noisy sample
OVERHEAD_TOLERANCE = 0.50


def _source_tag() -> str:
    """Hash of the engine's sources: keys the stored output digests, so a
    changed program is compared only with its own earlier runs."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "dedup", "*.py"))):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


class DigestRegistry:
    """Output digests of earlier runs in this checkout, keyed by workload,
    seed, input parameters and program source; a mismatch fails the unit."""

    def __init__(self, path: str):
        self.path = path
        self.data = {}
        if os.path.exists(path):
            with open(path) as f:
                self.data = json.load(f)

    def check(self, key: str, digest: str) -> str | None:
        seen = self.data.setdefault(key, digest)
        if seen == digest:
            return None
        return f"digest {digest[:12]} != {seen[:12]} from an earlier run"

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


def start_spark(app: str, extra_conf: dict | None = None):
    from dedup.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {"spark.ui.showConsoleProgress": "false", **(extra_conf or {})}
    return get_spark(app, master=f"local[{cores}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and that JVM's Python workers,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    from perfbench.host import process_tree

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


class Runner:
    def __init__(self, args):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.source_tag = _source_tag()
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.layout = self._layout(warm=False)
        self.wl = WORKLOADS[args.workload](self.layout, self.run_dir)
        self.warm_wl = WORKLOADS[args.workload](
            self._layout(warm=True), os.path.join(self.run_dir, "warm"))
        self.registry = DigestRegistry(os.path.join(WORK, "digests.json"))
        self.attempted = self.failed = 0
        self.recalls: list[float] = []
        self.problems: list[str] = []
        self.noise: list[dict] = []

    def _layout(self, warm: bool) -> dict:
        """The timed (or warm-up) inputs, plus the places of the stream
        snapshot and the live directory a stream round runs in."""
        from perfbench import corpus

        w = self.args.workload
        layout = corpus.materialize_inputs(
            w, self.args.seed, os.path.join(WORK, "inputs"), warm=warm)
        name = f"{w}-warm" if warm else w
        # the stream base snapshot is program output: keyed by the input
        # parameters and the program source that wrote it
        layout["snapshot"] = os.path.join(
            WORK, "snapshots",
            f"{name}-{layout['params_tag']}-{self.source_tag}")
        layout["live"] = os.path.join(WORK, "live", name)
        return layout

    def one_unit(self, spark, fn, timed: bool = True,
                 wl=None) -> float | None:
        """Run one unit (``fn(spark, dir)``) of workload ``wl`` (default:
        the timed one), check its output and return its wall time, or None
        when it failed."""
        from perfbench.host import HostNoise

        wl = wl or self.wl
        d = wl.unit_dir()
        wl.before(spark, d)
        self.attempted += 1
        err = None
        noise = HostNoise()
        timed_out = threading.Event()

        def cancel() -> None:
            timed_out.set()
            spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(UNIT_TIMEOUT_S, cancel)
        try:
            with noise:
                timer.start()
                t0 = time.perf_counter()
                try:
                    fn(spark, d)
                finally:
                    wall = time.perf_counter() - t0
                    timer.cancel()
            if timed_out.is_set():
                raise TimeoutError(f"jobs cancelled after {UNIT_TIMEOUT_S}s")
            v = wl.check(spark, d)
            self.recalls.append(v.recall)
            problems = list(v.problems)
            key = (f"{self.args.workload}/s{self.args.seed}/"
                   f"{wl.layout['params_tag']}/{self.source_tag}")
            mismatch = self.registry.check(key, v.digest)
            if mismatch:
                problems.append(mismatch)
            if problems:
                err = "; ".join(problems)
        except Exception as e:  # a failing unit is counted, not fatal
            if timed_out.is_set():
                e = TimeoutError(f"unit timed out after {UNIT_TIMEOUT_S}s")
            err = f"{type(e).__name__}: {str(e)[:300]}"
        if err:
            self.failed += 1
            self.problems.append(err)
            print(f"unit {self.attempted} FAILED: {err}", file=sys.stderr)
            return None
        if timed:
            self.noise.append(noise.as_dict())
        return wall

    def setup(self, app: str, extra_conf: dict | None = None):
        """Session start plus one warm-up unit over the workload's small
        warm-up inputs: returns the session and the set-up wall. Workload
        preparation (the stream base snapshots) is the benchmark's own
        cost: it runs in a session of its own, so the timed set-up starts
        as cold as on every later run."""
        todo = [wl for wl in (self.wl, self.warm_wl) if not wl.prepared()]
        if todo:
            t1 = time.perf_counter()
            spark = start_spark(app + "-prepare")
            for wl in todo:
                wl.prepare(spark)
            stop_spark(spark)
            print(f"prepare_s={time.perf_counter() - t1:.3f}", file=sys.stderr)
        t0 = time.perf_counter()
        spark = start_spark(app, extra_conf)
        t_session = time.perf_counter() - t0
        unit = self.one_unit(spark, self.warm_wl.unit, timed=False,
                             wl=self.warm_wl)
        print(f"setup: session {t_session:.3f}s warm-up unit {unit}; "
              f"{time.time() - T_START:.1f}s since start", file=sys.stderr)
        return spark, t_session + (unit or 0.0)

    def run_untraced(self) -> dict:
        from perfbench.host import RssSampler

        t_start = time.time()
        spark, setup_s = self.setup(f"perfbench-{self.args.workload}")
        walls: list[float] = []
        quiet: list[float] = []
        with RssSampler(jvm_pid()) as rss:
            while ((sum(walls) < self.args.seconds
                    or (not quiet and len(walls) <= EXTRA_UNITS))
                   and self.failed <= len(walls) + 2
                   and time.time() - t_start < RUN_BUDGET_S):
                w = self.one_unit(spark, self.wl.unit)
                if w is not None:
                    walls.append(w)
                    if self.noise[-1]["steal_pct"] <= STEAL_LIMIT_PCT:
                        quiet.append(w)
        stop_spark(spark)
        if not walls:
            raise SystemExit("no unit succeeded")
        # units the hypervisor disturbed count only when no quiet unit ran
        used = quiet or walls
        return {
            "setup_s": (setup_s, "s"),
            "job_s": (statistics.median(used), "s"),
            "docs_per_s": (self.wl.docs * len(used) / sum(used), "docs/s"),
            "recall": (min(self.recalls), "fraction"),
        }, {"samples": len(used), "job_walls_s": [round(w, 4) for w in walls],
            "quiet_walls_s": [round(w, 4) for w in quiet],
            "peak_rss_mb": rss.peak / 2**20}

    def trace_problems(self, table: dict[str, float]) -> list[str]:
        """Why a traced unit's table cannot be trusted: its spans miss more
        than the tolerance of its wall, or a span or kernel the workload
        must produce is absent from it."""
        problems = []
        cov = table["trace.coverage"]
        if abs(cov - 1) > COVERAGE_TOLERANCE:
            problems.append(f"layer self times cover {cov:.3f} of the "
                            "traced unit wall")
        missing = [f"{n}.wall_s" for n in self.wl.spans
                   if f"{n}.wall_s" not in table]
        missing += [f"{n}.python_s" for n in self.wl.kernels
                    if table.get(f"{n}.python_s", 0.0) <= 0.0]
        if missing:
            problems.append(f"no {', '.join(missing)} in the traced unit")
        return problems

    def run_traced(self) -> dict:
        from perfbench.host import RssSampler
        from perfbench.trace import Tracer

        log_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(log_dir)
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}
        spark, setup_s = self.setup(f"perfbench-{self.args.workload}-trace",
                                    conf)
        tr = Tracer(spark)
        untraced: list[float] = []
        t_start = time.time()
        with RssSampler(jvm_pid()) as rss:
            while True:
                w = self.one_unit(spark, self.wl.unit)
                if w is not None:
                    untraced.append(w)
                if self.one_unit(spark, lambda sp, d: tr.counters.append(
                        self.wl.traced_unit(sp, d, tr))) is None:
                    break
                traced = [b - a for a, b in tr.units]
                if (sum(untraced) + sum(traced) >= self.args.seconds
                        or time.time() - t_start > RUN_BUDGET_S):
                    break
        stop_spark(spark)
        if not untraced or len(tr.units) != len(tr.counters):
            raise SystemExit("no traced unit succeeded")
        metrics, per_unit = tr.layer_table(log_dir)
        base = statistics.median(untraced)
        metrics["trace.overhead_s"] = metrics["trace.unit_wall_s"] - base
        drift = []
        if abs(metrics["trace.overhead_s"]) > OVERHEAD_TOLERANCE * base:
            drift.append(f"traced unit wall {metrics['trace.unit_wall_s']:.3f}"
                         f"s is more than {OVERHEAD_TOLERANCE:.0%} off the "
                         f"untraced {base:.3f}s")
        # the traced units passed their output checks; a table that cannot
        # be trusted fails them after all
        for i, table in enumerate(per_unit):
            problems = self.trace_problems(table) + drift
            if problems:
                self.failed += 1
                self.problems.append(f"traced unit {i}: " + "; ".join(problems))
                print(f"traced unit {i} FAILED: {self.problems[-1]}",
                      file=sys.stderr)
        metrics["session.peak_rss_mb"] = rss.peak / 2**20
        return metrics, {"untraced_walls_s": untraced,
                         "traced_walls_s": [b - a for a, b in tr.units]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT]
    # the engine's imports must come from this checkout
    import dedup  # noqa: F401
    from perfbench.workloads import WHY, WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    os.makedirs(WORK, exist_ok=True)
    # Spark scratch, JVM temp files and Python temp files stay in the checkout
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.environ[var] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["SPARK_GC_OPTS"] = (
        os.environ.get("SPARK_GC_OPTS",
                       "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2")
        + f" -Djava.io.tmpdir={os.environ['TMPDIR']}")

    runner = Runner(args)
    try:
        if args.trace:
            metrics, detail = runner.run_traced()
            from perfbench.trace import PER_LAYER

            out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
        else:
            metrics, detail = runner.run_untraced()
            out = {k: {"value": float(v), "unit": u}
                   for k, (v, u) in metrics.items()}
    finally:
        runner.registry.save()
        shutil.rmtree(runner.run_dir, ignore_errors=True)
        # inputs are cheap to regenerate; only the stream snapshots are kept
        for wl in (runner.wl, runner.warm_wl):
            shutil.rmtree(wl.layout["live"], ignore_errors=True)
            shutil.rmtree(wl.layout["dir"], ignore_errors=True)
    print(f"run done {time.time() - T_START:.1f}s since start",
          file=sys.stderr)
    steal = [n["steal_pct"] for n in runner.noise]
    report = dict(
        workload=args.workload, why=WHY[args.workload], seed=args.seed,
        error_rate=runner.failed / max(runner.attempted, 1),
        steal_pct_median=statistics.median(steal) if steal else None,
        steal_pct_max=max(steal) if steal else None,
        noise=runner.noise, problems=runner.problems, **detail)
    print(json.dumps(report))
    for k, m in out.items():
        print(f"{k:48s} {m['value']:14.6f} {m['unit']}")
    print(f"{'error_rate':48s} {report['error_rate']:14.6f} fraction")
    if "samples" in detail:
        print(f"{'peak_rss_mb':48s} {detail['peak_rss_mb']:14.6f} MB")
        print(f"{'samples':48s} {detail['samples']:14d} units")
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
