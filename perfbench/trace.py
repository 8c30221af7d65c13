"""Per-layer tracing: spans recorded around the library's public calls, and
Spark's event log parsed for the stage metrics of each span's jobs.

A span tags its jobs with ``SparkContext.setJobGroup``. Jobs that run on
another thread (the Structured Streaming micro-batch thread inside
``ingest_stream``) carry Spark's own group; they are attributed to the span
whose interval contains their submission. Inside the two calls whose bodies
cannot be split through public functions (``ingest_stream`` and
``stream_clusters``) each job goes to a child layer by the SQL plan it
executes: the ``mapInPandas`` kernel it runs, or else the warehouse table it
writes. Time in which stages of several child layers run is split in equal
parts among them, so it counts once; a composite span's self time is its
wall minus its children's shares. The self times of all layers therefore
sum to the time the unit spends inside spans, and ``trace.coverage`` (that
sum over the unit wall) shows how much of the unit the spans miss.
``idle_s`` is a layer's self time minus the union of its own stage
intervals, i.e. time the Spark driver spends with no stage of the layer
running.

The table describes the recomposed plan, not the program's own: forcing
each output at its boundary computes it once, where the untraced plan may
recompute it, so ``trace.overhead_s`` (traced minus untraced median unit
wall) can be negative.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_SPANS = (
    "pipeline.exact_stage", "minhash.compute_signatures",
    "pipeline.signature_blocks", "pipeline.decode_signature_blocks",
    "minhash.compute_bands", "lsh.candidate_pairs", "verify.verified_pairs",
    "cluster.connected_components", "cluster.attach_singletons",
    "suffix.fingerprints", "suffix.anchored_candidates",
    "suffix.verified_substring_pairs", "streaming.ingest_stream",
    "streaming.stream_clusters",
)
# mapInPandas function name in a plan -> the layer that owns the kernel
_KERNELS = {
    "compute": "minhash.compute_signatures",
    "to_blocks": "pipeline.signature_blocks",
    "decode": "pipeline.decode_signature_blocks",
    "to_bands": "minhash.compute_bands",
    "fp": "suffix.fingerprints",
    "verify": "suffix.verified_substring_pairs",
}
# public calls whose bodies cannot be split through public calls
_COMPOSITE = ("streaming.ingest_stream", "streaming.stream_clusters")
_WAREHOUSE = ("warehouse.write", "warehouse.append",
              "warehouse.record_metrics", "warehouse.record_lineage")
_SPAN_METRICS = {"wall_s": "s", "self_s": "s", "cpu_s": "s", "jobs": "count",
                 "idle_s": "s", "shuffle_mb": "MB"}
_KERNEL_METRICS = {"python_s": "s", "arrow_mb": "MB"}

PER_LAYER: dict[str, str] = {}
for _name in _SPANS:
    for _m, _u in _SPAN_METRICS.items():
        PER_LAYER[f"{_name}.{_m}"] = _u
    if _name in _KERNELS.values():
        for _m, _u in _KERNEL_METRICS.items():
            PER_LAYER[f"{_name}.{_m}"] = _u
for _name in _WAREHOUSE:
    PER_LAYER[f"{_name}.wall_s"] = "s"
    PER_LAYER[f"{_name}.jobs"] = "count"
PER_LAYER.update({
    "pipeline.exact_stage.fold_ratio": "fraction",
    "pipeline.signature_blocks.bytes_per_doc": "bytes",
    "lsh.dropped_slot_share": "fraction",
    "verify.yield": "fraction",
    "suffix.verify_yield": "fraction",
    "warehouse.files_written": "count",
    "session.jobs": "count",
    "session.tasks": "count",
    "session.idle_s": "s",
    "session.gc_s": "s",
    "session.spill_mb": "MB",
    "session.python_init_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.unit_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage": "fraction",
})

_KERNEL_RE = re.compile(r"MapInPandas (\w+)\(")
_WRITE_RE = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s*\n(?:[^\n]*\n)*?"
    r"Arguments: file:([^,\s]+), [^\n]*?, (Append|Overwrite|ErrorIfExists)")


@dataclass
class Span:
    name: str
    t0: float
    t1: float
    group: str
    unit: int


@dataclass
class _Job:
    t0: float
    t1: float
    group: str | None
    execution: int | None
    stages: list[int] = field(default_factory=list)


def _shares(intervals: list[tuple[float, float, str]], lo: float, hi: float
            ) -> dict[str, float]:
    """Split the union of labelled intervals, clipped to [lo, hi], among
    their labels: each stretch of time goes in equal parts to the labels
    running in it, so stages of two layers that overlap count once."""
    cuts = sorted({lo, hi} | {min(max(t, lo), hi)
                              for a, b, _ in intervals for t in (a, b)})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        live = {n for s, e, n in intervals if s <= a and e >= b}
        for n in live:
            out[n] = out.get(n, 0.0) + (b - a) / len(live)
    return out


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.units: list[tuple[float, float]] = []
        self.files_written: list[int] = []
        self.counters: list[dict] = []
        self._t0: float | None = None
        self._root: str | None = None
        self._files0 = 0

    @staticmethod
    def force(df):
        """Compute a boundary output once, inside the current span."""
        from dedup.session import materialize

        return materialize(df, eager=True)

    def begin_unit(self, wh_root: str) -> None:
        self._root, self._files0 = wh_root, _parquet_files(wh_root)
        self._t0 = time.time()

    def end_unit(self) -> None:
        self.units.append((self._t0, time.time()))
        self.files_written.append(_parquet_files(self._root) - self._files0)

    @contextmanager
    def span(self, name: str):
        group = f"perfbench-span-{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, t0, t1, group, len(self.units)))

    # -- event log -----------------------------------------------------------
    def layer_table(self, log_dir: str
                    ) -> tuple[dict[str, float], list[dict[str, float]]]:
        """Per-layer metrics, each the median over the traced units, and
        each traced unit's own table."""
        jobs, stages, plans = _read_event_log(log_dir)
        per_unit = [self._unit_table(i, jobs, stages, plans)
                    for i in range(len(self.units))]
        keys = set().union(*per_unit)
        # a layer missing from a unit is idle in it
        out = {k: statistics.median(u.get(k, 0.0) for u in per_unit)
               for k in keys}
        out["warehouse.files_written"] = statistics.median(self.files_written)
        for c in self.counters:
            for k, v in c.items():
                out.setdefault(k, v)
        return out, per_unit

    def _unit_table(self, i: int, jobs: dict[int, _Job], stages: dict,
                    plans: dict[int, str]) -> dict[str, float]:
        u0, u1 = self.units[i]
        spans = [s for s in self.spans if s.unit == i]
        by_group = {s.group: s for s in spans}
        layer_jobs: dict[str, int] = {}
        layer_stages: dict[str, list[dict]] = {}
        # stages of child layers inside each composite span
        child_stages: dict[int, list[tuple[float, float, str]]] = {}
        unit_stages: list[dict] = []
        n_jobs = 0
        for j in jobs.values():
            span = by_group.get(j.group)
            if span is None:
                span = next((s for s in spans if s.t0 <= j.t0 <= s.t1), None)
            if span is None:
                continue
            n_jobs += 1
            st = [stages[x] for x in j.stages if x in stages]
            unit_stages.extend(st)
            if span.name not in _COMPOSITE:
                layer_jobs[span.name] = layer_jobs.get(span.name, 0) + 1
                layer_stages.setdefault(span.name, []).extend(st)
                continue
            # inside a composite call each stage goes to the kernel that
            # spent the most Python time in it, else to the warehouse
            # write its job performs, else to the call itself
            written = _written_layer(plans.get(j.execution, ""))
            job_layer = written or span.name
            for x in st:
                layer = _stage_kernel(x) or written or span.name
                layer_stages.setdefault(layer, []).append(x)
                if layer != span.name:
                    child_stages.setdefault(id(span), []).append(
                        (x["t0"], x["t1"], layer))
            heavy = max(st, key=lambda x: x["t1"] - x["t0"], default=None)
            if heavy is not None and _stage_kernel(heavy):
                job_layer = _stage_kernel(heavy)
            layer_jobs[job_layer] = layer_jobs.get(job_layer, 0) + 1
        # a child layer's wall is its share of the composite span's time;
        # the span keeps the rest as self time
        child_wall: dict[str, float] = {}
        cover: dict[int, float] = {}
        for s in spans:
            sh = _shares(child_stages.get(id(s), []), s.t0, s.t1)
            for name, v in sh.items():
                child_wall[name] = child_wall.get(name, 0.0) + v
            cover[id(s)] = sum(sh.values())
        out: dict[str, float] = {}
        self_total = 0.0
        for name in {s.name for s in spans} | set(child_wall):
            own = [s for s in spans if s.name == name]
            wall = sum(s.t1 - s.t0 for s in own) + child_wall.get(name, 0.0)
            self_s = wall - sum(cover[id(s)] for s in own)
            self_total += self_s
            st = layer_stages.get(name, [])
            busy = _union([(x["t0"], x["t1"]) for x in st], u0, u1)
            out.update({
                f"{name}.wall_s": wall,
                f"{name}.self_s": self_s,
                f"{name}.jobs": float(layer_jobs.get(name, 0)),
                f"{name}.cpu_s": sum(x["cpu_s"] for x in st),
                f"{name}.idle_s": max(self_s - busy, 0.0),
                f"{name}.shuffle_mb": sum(x["shuffle_mb"] for x in st),
            })
        # Python time and Arrow bytes go to the layer owning each kernel,
        # wherever its stage ran
        for x in unit_stages:
            for fn, k in x["kernels"].items():
                layer = _KERNELS.get(fn)
                if layer is None:
                    continue
                for m in ("python_s", "arrow_mb"):
                    key = f"{layer}.{m}"
                    out[key] = out.get(key, 0.0) + k[m]
        wall = u1 - u0
        out.update({
            "session.jobs": float(n_jobs),
            "session.tasks": float(sum(x["tasks"] for x in unit_stages)),
            "session.idle_s": wall - _union(
                [(x["t0"], x["t1"]) for x in unit_stages], u0, u1),
            "session.gc_s": sum(x["gc_s"] for x in unit_stages),
            "session.spill_mb": sum(x["spill_mb"] for x in unit_stages),
            "session.python_init_s": sum(x["python_init_s"]
                                         for x in unit_stages),
            "trace.unit_wall_s": wall,
            "trace.coverage": self_total / wall if wall > 0 else 0.0,
        })
        return out


def _stage_kernel(stage: dict) -> str | None:
    """The layer of the kernel that spent the most Python time in a stage."""
    known = {fn: k for fn, k in stage["kernels"].items() if fn in _KERNELS}
    if not known:
        return None
    return _KERNELS[max(known, key=lambda fn: known[fn]["python_s"])]


def _written_layer(plan: str) -> str | None:
    m = _WRITE_RE.search(plan)
    if m is None:
        return None
    table = os.path.basename(m.group(1).rstrip("/"))
    if table == "metrics":
        return "warehouse.record_metrics"
    return "warehouse.append" if m.group(2) == "Append" else "warehouse.write"


def _parquet_files(root: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs)


def _kernel_accumulators(node: dict, out: dict[int, str]) -> None:
    """Accumulator id -> mapInPandas function name, from a SparkPlanInfo
    tree (a node's simpleString reads ``MapInPandas fn(...)``)."""
    if node.get("nodeName") == "MapInPandas":
        m = _KERNEL_RE.match(node.get("simpleString", ""))
        if m:
            for met in node.get("metrics", []):
                out[met["accumulatorId"]] = m.group(1)
    for child in node.get("children", []):
        _kernel_accumulators(child, out)


_PY_RUN = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _stage(si: dict, acc_fn: dict[int, str]) -> dict:
    """One completed stage: interval, task metric totals, and Python time
    and Arrow bytes per mapInPandas kernel. Times in seconds."""
    total: dict[str, float] = {}
    kernels: dict[str, dict[str, float]] = {}
    for a in si.get("Accumulables", []):
        try:
            v = float(a.get("Value", 0))
        except (TypeError, ValueError):
            continue
        name = a["Name"]
        total[name] = total.get(name, 0.0) + v
        fn = acc_fn.get(a.get("ID"))
        if fn is not None and (name == _PY_RUN or name in _PY_BYTES):
            k = kernels.setdefault(fn, {"python_s": 0.0, "arrow_mb": 0.0})
            if name == _PY_RUN:
                k["python_s"] += v / 1e3
            else:
                k["arrow_mb"] += v / 2**20
    return dict(
        t0=si["Submission Time"] / 1000,
        t1=si["Completion Time"] / 1000,
        tasks=si["Number of Tasks"],
        cpu_s=total.get("internal.metrics.executorCpuTime", 0) / 1e9,
        gc_s=total.get("internal.metrics.jvmGCTime", 0) / 1e3,
        spill_mb=total.get("internal.metrics.diskBytesSpilled", 0) / 2**20,
        shuffle_mb=total.get("internal.metrics.shuffle.write.bytesWritten", 0)
        / 2**20,
        python_init_s=(total.get("time to start Python workers", 0)
                       + total.get("time to initialize Python workers", 0))
        / 1e3,
        kernels=kernels,
    )


def _read_event_log(log_dir: str):
    """→ (jobs by id, completed stages by id, plan text by execution id),
    with times in seconds."""
    jobs: dict[int, _Job] = {}
    stages: dict[int, dict] = {}
    plans: dict[int, str] = {}
    owner: dict[int, int] = {}
    acc_fn: dict[int, str] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    t = e["Submission Time"] / 1000
                    jobs[e["Job ID"]] = _Job(
                        t, t, props.get("spark.jobGroup.id"),
                        int(ex) if ex is not None else None)
                    for sid in e["Stage IDs"]:
                        owner.setdefault(sid, e["Job ID"])
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].t1 = e["Completion Time"] / 1000
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if "Submission Time" in si:
                        stages[si["Stage ID"]] = _stage(si, acc_fn)
                elif "sparkPlanInfo" in e:
                    # SQL execution start and adaptive re-plans
                    _kernel_accumulators(e["sparkPlanInfo"], acc_fn)
                    if ev.endswith("SQLExecutionStart"):
                        plans[e["executionId"]] = e.get(
                            "physicalPlanDescription", "")
    for sid, jid in owner.items():
        jobs[jid].stages.append(sid)
    return jobs, stages, plans
