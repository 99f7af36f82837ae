"""Layer-attributed tracing for the traced (``--trace 1``) run.

Spans are recorded from the benchmark's side, around calls into the
repository's modules; no program code changes. Each span runs its Spark
jobs under the job group ``pb:<outer>/<inner>/...``, so the event log
(written only in the traced run) attributes every job, and the executor
time of its tasks, to the span path that launched it.

Layers are named after the repository's modules:

=====================  =====================================================
layer                  spans
=====================  =====================================================
``session``            ``session.get_spark`` plus input registration
``sources``            ``sources.idat.read_idat_files``; its jobs also count
                       the ``signal`` frame-source publish, which is where
                       the IDAT scan is first evaluated
``plans.session``      ``MethylSession.from_idata`` / ``run_pipeline`` and the
                       read of their betas
``plans.manifest``     every ``PipelineManifest.stage`` / ``frame_source``
                       call, one span ``plans.manifest.<stage>`` each
``preprocessing``      the jobs of the infer_channel, dye_bias, noob and
                       poobah_mask manifest stages
``combat``/``dm``/``cnv``  ``combat_betas`` / ``compute_dmp`` /
                       ``cnv_pipeline``, each with its output materialised
``operators.curate``   ``curate_pipeline`` and ``curate_increment``
``streaming.events``   ``streaming_curate_to_store`` until the stream drains
=====================  =====================================================
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "pb:"
OFF_GROUP = "pb-off"
_GROUP_PROP = "spark.jobGroup.id"

PREPROCESSING_STAGES = ("infer_channel", "dye_bias", "noob", "poobah_mask")
METHYL_STAGES = ("signal", "masks") + PREPROCESSING_STAGES + ("betas",)
CURATE_STAGES = (
    "langid_filter",
    "dedup_exact",
    "fuzzy_bands",
    "fuzzy_dedup",
    "dedup_paragraphs",
    "quality_gate",
    "gate_bands",
    "increment",
    "inc_langid_filter",
    "inc_dedup_exact",
    "inc_fuzzy_dedup",
    "inc_dedup_paragraphs",
    "inc_quality_gate",
)
MANIFEST = "plans.manifest"


@dataclass
class _Open:
    name: str
    start: float
    child: float = 0.0
    prev_group: str | None = None


@dataclass
class Tracer:
    """Records span self/inclusive time per name and sets Spark job
    groups. One stack for the process: the stream's ``foreachBatch``
    callback runs while the main thread is blocked in
    ``awaitTermination`` inside the ``streaming.events`` span, so its
    spans nest under that span."""

    sc: object = None
    enabled: bool = True
    self_s: dict = field(default_factory=dict)
    incl_s: dict = field(default_factory=dict)
    # inclusive wall of the outermost span of each layer (no double count)
    layer_incl_s: dict = field(default_factory=dict)
    top_s: float = 0.0  # wall of the outermost spans
    stage_calls: list = field(default_factory=list)  # (name, from_cache)
    increment_s: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            prev = self.sc.getLocalProperty(_GROUP_PROP) if self.sc else None
            self._stack.append(_Open(name, time.perf_counter(), prev_group=prev))
            if self.sc is not None:
                path = "/".join(o.name for o in self._stack)
                self.sc.setLocalProperty(_GROUP_PROP, GROUP_PREFIX + path)
        try:
            yield
        finally:
            with self._lock:
                top = self._stack.pop()
                dur = time.perf_counter() - top.start
                self.self_s[name] = self.self_s.get(name, 0.0) + dur - top.child
                self.incl_s[name] = self.incl_s.get(name, 0.0) + dur
                layer = layer_of(name)
                if all(layer_of(o.name) != layer for o in self._stack):
                    self.layer_incl_s[layer] = self.layer_incl_s.get(layer, 0.0) + dur
                if self._stack:
                    self._stack[-1].child += dur
                else:
                    self.top_s += dur
                if self.sc is not None:
                    self.sc.setLocalProperty(_GROUP_PROP, top.prev_group)

    @contextlib.contextmanager
    def disabled(self, off: bool):
        """Run the block untraced when ``off``: no spans, and its jobs go
        under a group the event-log parser drops."""
        if not off:
            yield
            return
        self.enabled = False
        prev = self.sc.getLocalProperty(_GROUP_PROP)
        self.sc.setLocalProperty(_GROUP_PROP, OFF_GROUP)
        try:
            yield
        finally:
            self.sc.setLocalProperty(_GROUP_PROP, prev)
            self.enabled = True

    @contextlib.contextmanager
    def installed(self):
        """Patch the manifest and the increment entry point for the
        duration of the block (class/module attributes, restored after)."""
        from pylluminator_spark.operators import curate
        from pylluminator_spark.plans.manifest import PipelineManifest

        stage, frame_source = PipelineManifest.stage, PipelineManifest.frame_source
        increment = curate.curate_increment
        tracer = self

        def traced_stage(m, name, *args, **kwargs):
            with tracer.span(f"{MANIFEST}.{name}"):
                ref = stage(m, name, *args, **kwargs)
            if tracer.enabled:
                tracer.stage_calls.append((name, ref.from_cache))
            return ref

        def traced_frame_source(m, name, *args, **kwargs):
            with tracer.span(f"{MANIFEST}.{name}"):
                ref = frame_source(m, name, *args, **kwargs)
            if tracer.enabled:
                tracer.stage_calls.append((name, ref.from_cache))
            return ref

        def traced_increment(*args, **kwargs):
            t0 = time.perf_counter()
            with tracer.span("operators.curate"):
                res = increment(*args, **kwargs)
            tracer.increment_s.append(time.perf_counter() - t0)
            return res

        PipelineManifest.stage = traced_stage
        PipelineManifest.frame_source = traced_frame_source
        curate.curate_increment = traced_increment
        try:
            yield self
        finally:
            PipelineManifest.stage, PipelineManifest.frame_source = stage, frame_source
            curate.curate_increment = increment


def layer_of(span_name: str) -> str:
    return MANIFEST if span_name.startswith(MANIFEST + ".") else span_name


# ---------------------------------------------------------------------------
# event log


@dataclass
class Job:
    path: tuple  # span names, outermost first; () when not under a span
    busy_s: float = 0.0
    python_s: float = 0.0
    shuffle_bytes: int = 0
    output_bytes: int = 0
    failed_tasks: int = 0


def event_log_conf(log_dir: str) -> dict:
    """Plain single-file JSON event log (Spark 4.1 otherwise writes a
    compressed rolling directory)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(path: str, stream_groups: dict) -> list:
    """Jobs of one application log with their task totals.
    ``stream_groups`` maps a streaming query's run-id job group to the
    span path its framework jobs belong to."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(_GROUP_PROP) or ""
                if group == OFF_GROUP:
                    continue
                if group.startswith(GROUP_PREFIX):
                    p = tuple(group[len(GROUP_PREFIX):].split("/"))
                else:
                    p = stream_groups.get(group, ())
                jobs[ev["Job ID"]] = Job(p)
                for s in ev["Stage IDs"]:
                    stage_job[s] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is None:
                    continue
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                if info.get("Failed"):
                    job.failed_tasks += 1
                job.busy_s += tm.get("Executor Run Time", 0) / 1000.0
                job.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                for acc in info.get("Accumulables") or []:
                    if acc.get("Name") == "time to run Python workers":
                        job.python_s += float(acc.get("Update") or 0) / 1000.0
    return list(jobs.values())


def app_log(log_dir: str, app_id: str) -> str:
    paths = glob.glob(os.path.join(log_dir, app_id + "*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return paths[0]


# ---------------------------------------------------------------------------
# per-layer metrics

SPAN_LAYERS = ("sources", "plans.session", "combat", "dm", "cnv")


def _in(layer: str, path: tuple) -> bool:
    return any(layer_of(p) == layer for p in path)


def _sum(jobs, attr):
    return sum(getattr(j, attr) for j in jobs)


def layer_metrics(
    tracer: Tracer,
    jobs: list,
    cores: int,
    setup_s: float,
    batch_s: list,
    overhead_frac: float,
) -> dict:
    """Every per-layer metric, as ``{name: (value, unit)}``. Layers the
    workload does not run report zeros."""
    out: dict = {}
    wall = tracer.self_s

    def driver(layer, busy):
        return max(0.0, tracer.layer_incl_s.get(layer, 0.0) - busy / cores)

    out["session.wall_s"] = (setup_s, "s")
    for layer in SPAN_LAYERS + ("operators.curate",):
        mine = [j for j in jobs if _in(layer, j.path)]
        if layer == "sources":
            mine += [j for j in jobs if j.path and j.path[-1] == f"{MANIFEST}.signal"
                     and not _in("sources", j.path)]
        busy = _sum(mine, "busy_s")
        out[f"{layer}.wall_s"] = (wall.get(layer, 0.0), "s")
        out[f"{layer}.jobs"] = (len(mine), "count")
        if layer == "plans.session":
            out[f"{layer}.driver_s"] = (driver(layer, busy), "s")
            continue
        out[f"{layer}.busy_s"] = (busy, "s")
        if layer == "operators.curate":
            out[f"{layer}.driver_s"] = (driver(layer, busy), "s")
            out[f"{layer}.shuffle_bytes"] = (_sum(mine, "shuffle_bytes"), "bytes")
        else:
            out[f"{layer}.python_s"] = (_sum(mine, "python_s"), "s")

    pre = [j for j in jobs if j.path and j.path[-1] in
           {f"{MANIFEST}.{s}" for s in PREPROCESSING_STAGES}]
    out["preprocessing.busy_s"] = (_sum(pre, "busy_s"), "s")
    out["preprocessing.python_s"] = (_sum(pre, "python_s"), "s")
    out["preprocessing.shuffle_bytes"] = (_sum(pre, "shuffle_bytes"), "bytes")

    man = [j for j in jobs if _in(MANIFEST, j.path)]
    man_wall = sum(v for k, v in wall.items() if layer_of(k) == MANIFEST)
    calls = tracer.stage_calls
    out[f"{MANIFEST}.wall_s"] = (man_wall, "s")
    out[f"{MANIFEST}.jobs"] = (len(man), "count")
    out[f"{MANIFEST}.driver_s"] = (driver(MANIFEST, _sum(man, "busy_s")), "s")
    out[f"{MANIFEST}.publish_bytes"] = (_sum(man, "output_bytes"), "bytes")
    out[f"{MANIFEST}.stages_published"] = (sum(1 for _, c in calls if not c), "count")
    out[f"{MANIFEST}.reuse_ratio"] = (
        sum(1 for _, c in calls if c) / len(calls) if calls else 0.0,
        "ratio",
    )
    for stage in METHYL_STAGES + CURATE_STAGES:
        out[f"{MANIFEST}.{stage}.wall_s"] = (tracer.incl_s.get(f"{MANIFEST}.{stage}", 0.0), "s")

    overheads = [b - i for b, i in zip(batch_s, tracer.increment_s)]
    out["streaming.events.wall_s"] = (wall.get("streaming.events", 0.0), "s")
    out["streaming.events.batches"] = (len(batch_s), "count")
    out["streaming.events.batch_overhead_s"] = (
        statistics.median(overheads) if overheads else 0.0,
        "s",
    )

    total_busy = _sum(jobs, "busy_s")
    attributed = _sum([j for j in jobs if j.path], "busy_s")
    out["trace.overhead_frac"] = (overhead_frac, "ratio")
    out["trace.attributed_frac"] = (attributed / total_busy if total_busy else 0.0, "ratio")
    out["spark.failed_tasks"] = (_sum(jobs, "failed_tasks"), "count")
    return out


def exec_share(tracer: Tracer, jobs: list, cores: int) -> float:
    """Share of the traced span wall time in which the executor cores
    were busy: near 1 when a run is compute-bound, low when the driver
    (planning, scheduling, publishes) dominates."""
    busy = _sum([j for j in jobs if j.path], "busy_s")
    return busy / cores / tracer.top_s if tracer.top_s else 0.0
