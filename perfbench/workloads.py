"""The two workloads. Each has a registration step (part of set-up), a
timed cold pass whose outputs are materialised, and a closed loop: one
client, zero think time. The loop alternates a one-knob re-run and an
unchanged re-run; its first cycle is an untimed warm-up, so each kind of
op is past its first call, and the timed cycles follow until the run's
seconds are spent and at least the workload's minimum number of cycles
are done.

Spans (``ctx.tracer``) wrap every call into the repository's modules; in
the untraced run the tracer is disabled and a span is a no-op.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import checks
from perfbench.inputs import TILE_WIDTH, CurateInputs, MethylInputs

CNV_SHUFFLES = 200
CNV_MIN_OVERLAP = 5
CURATE_KNOBS = {"keep_lang": "en", "fuzzy": True, "min_tokens": 10}
# least timed loop cycles per run: a methyl_batch cycle costs ~6.5 s and
# a curate_stream cycle ~2.4 s, and a run has to stay near a minute
METHYL_CYCLES = 3
CURATE_CYCLES = 3


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    tmp: str
    registered: dict = field(default_factory=dict)


@dataclass
class Result:
    rows: int
    cold_s: float = 0.0
    # cold-pass steps of the traced run only: methyl_batch's combat, dm
    # and cnv; curate_stream's streamed increment
    traced_only_s: float = 0.0
    samples: dict = field(default_factory=lambda: {"rerun": [], "knob": []})
    warmup: dict = field(default_factory=dict)  # kind -> untimed first op's seconds
    # op seconds with tracing on / off (traced run only)
    traced_s: list = field(default_factory=list)
    untraced_s: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0  # operations that raised
    bad: int = 0  # operations whose output failed its check
    errors: list = field(default_factory=list)
    batch_s: list = field(default_factory=list)
    stream_groups: dict = field(default_factory=dict)

    def check(self, errs: list) -> None:
        if errs:
            self.bad += 1
            self.errors += errs


def closed_loop(ctx: Ctx, res: Result, cycle: list, min_cycles: int) -> None:
    """Run ``cycle`` ((kind, op, check) triples) once as an untimed
    warm-up, so each kind of op is past its first call, then over and
    over until ``ctx.seconds`` have passed and at least ``min_cycles``
    timed cycles are done, always finishing the cycle in flight. Every
    output, the warm-up's too, is checked after its op's timing stops.
    In the traced run every other timed cycle runs with tracing off,
    which gives ``trace.overhead_frac``."""
    tracer = ctx.tracer
    traced_run = tracer.enabled
    end = None
    i = -1  # the warm-up cycle
    while i < min_cycles or time.perf_counter() < end:
        on = i >= 0 and (not traced_run or i % 2 == 0)
        for kind, op, check in cycle:
            res.attempted += 1
            with tracer.disabled(traced_run and not on):
                t0 = time.perf_counter()
                try:
                    out = op()
                except Exception as exc:  # noqa: BLE001 — count, keep looping
                    res.failed += 1
                    res.errors.append(f"{kind} op {i}: {type(exc).__name__}: {exc}"[:300])
                    continue
                dt = time.perf_counter() - t0
            if i < 0:
                res.warmup[kind] = dt
            else:
                res.samples[kind].append(dt)
                if traced_run:
                    (res.traced_s if on else res.untraced_s).append(dt)
            res.check(check(out))
        if i < 0:
            end = time.perf_counter() + ctx.seconds
        i += 1


def _fresh(seed: int, values: np.ndarray) -> Iterator:
    """Seeded order over knob values, none of them the cold pass's."""
    return iter(np.random.default_rng(seed + 1).permutation(values).tolist())


# ---------------------------------------------------------------------------
# methyl_batch


def register_methyl(spark, inp: MethylInputs) -> dict:
    return {
        "manifest": spark.createDataFrame(
            inp.manifest,
            "probe_id string, type string, channel string, probe_type string, "
            "mask_info string, address_a long, address_b long",
        ),
        "sheet": spark.createDataFrame(inp.sheet),
        "ranges": spark.createDataFrame(inp.ranges),
        "seq_length": spark.createDataFrame(inp.seq_length),
        "idat_glob": os.path.join(inp.idat_dir, "*.idat"),
    }


def methyl_batch(ctx: Ctx, inp: MethylInputs) -> Result:
    from pyspark.sql import functions as F

    from pylluminator_spark import cnv, dm
    from pylluminator_spark.combat import combat_betas
    from pylluminator_spark.plans.manifest import PipelineManifest
    from pylluminator_spark.plans.session import MethylSession
    from pylluminator_spark.sources import idat

    spark, tr, reg = ctx.spark, ctx.tracer, ctx.registered
    res = Result(rows=inp.signal_rows)
    fp = f"idat-seed{ctx.seed}"
    root = os.path.join(ctx.tmp, "methyl_manifest")

    def read_betas(out):
        return out.betas(apply_mask=True).select("sample", "probe_id", "beta").toPandas()

    t0 = time.perf_counter()
    res.attempted += 1
    with tr.span("sources"):
        idata = idat.read_idat_files(spark, reg["idat_glob"])
    with tr.span("plans.session"):
        sess = MethylSession.from_idata(spark, idata, reg["manifest"], sample_sheet=reg["sheet"])
        m = PipelineManifest(spark, root)
        out, _ = sess.run_pipeline(m, source_fingerprint=fp)
        betas = read_betas(out)
    res.cold_s = time.perf_counter() - t0
    res.check(checks.check_betas(betas, inp.n_probes, inp.n_samples))

    if tr.enabled:
        # the downstream analyses run in the traced run only: they leave
        # the loop's layers untouched, and the untraced run spends their
        # ~13 s on loop samples instead (README, "Budget")
        t0 = time.perf_counter()
        res.attempted += 3
        with tr.span("combat"):
            cg = out.betas(apply_mask=False).filter(F.col("probe_type") == "cg")
            corrected = combat_betas(cg.select("probe_id", "sample", "beta"), reg["sheet"], "batch")
            corrected = corrected.persist()
            corrected.count()
        with tr.span("dm"):
            dmps, _ = dm.compute_dmp(corrected, inp.sheet, "~ group")
            dmp = dmps.toPandas()
        with tr.span("cnv"):
            target = F.col("sample") == inp.sheet["sample"][0]
            _, _, segs = cnv.cnv_pipeline(
                out.signal.filter(target),
                out.signal.filter(~target),
                reg["ranges"],
                reg["seq_length"],
                minimum_overlap=CNV_MIN_OVERLAP,
                shuffles=CNV_SHUFFLES,
                tile_width=TILE_WIDTH,
            )
            segments = segs.toPandas()
        res.traced_only_s = time.perf_counter() - t0
        res.check(checks.check_dmp(dmp, corrected.toPandas(), inp.sheet, inp.n_cg, ctx.seed))
        res.check(checks.check_segments(segments))
        corrected.unpersist()

    # pOOBAH threshold knob: recomputes the poobah_mask stage only; the
    # cold pass used the default 0.05
    grid = np.round(np.arange(0.010, 0.200, 0.001), 3)
    thresholds = _fresh(ctx.seed, grid[grid != 0.05])

    def rerun():
        with tr.span("plans.session"):
            o, _ = sess.run_pipeline(m, source_fingerprint=fp)
            return read_betas(o)

    def knob():
        with tr.span("plans.session"):
            o, _ = sess.run_pipeline(m, source_fingerprint=fp, poobah_threshold=next(thresholds))
            return read_betas(o)

    closed_loop(
        ctx,
        res,
        [
            ("knob", knob, lambda got: checks.check_betas(got, inp.n_probes, inp.n_samples)),
            ("rerun", rerun, lambda got: checks.check_same("betas", got, betas, ["sample", "probe_id"])),
        ],
        METHYL_CYCLES,
    )
    return res


# ---------------------------------------------------------------------------
# curate_stream


def register_curate(spark, inp: CurateInputs) -> dict:
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string, source string, f int")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp.batch_dir)
        .drop("f")
    )
    return {"base_path": inp.base_path, "stream": stream}


def curate_stream(ctx: Ctx, inp: CurateInputs) -> Result:
    from pylluminator_spark.operators.curate import curate_pipeline
    from pylluminator_spark.streaming.events import streaming_curate_to_store

    spark, tr, reg = ctx.spark, ctx.tracer, ctx.registered
    res = Result(rows=len(inp.base))
    root = os.path.join(ctx.tmp, "curate_manifest")
    store = os.path.join(ctx.tmp, "curate_store")

    def curate(**knobs):
        r = curate_pipeline(spark, root, reg["base_path"], pack_budget=None, **{**CURATE_KNOBS, **knobs})
        return r.documents.select("doc_id", "text", "n_tokens").toPandas()

    t0 = time.perf_counter()
    res.attempted += 1
    with tr.span("operators.curate"):
        base_out = curate()
    res.cold_s = time.perf_counter() - t0
    docs, pairs = base_out[["doc_id", "text"]], inp.pairs

    if tr.enabled:
        # the streamed increment runs in the traced run only, like
        # methyl_batch's downstream analyses (README, "Budget")
        t0 = time.perf_counter()
        res.attempted += len(inp.batches)
        with tr.span("streaming.events"):
            q = streaming_curate_to_store(
                reg["stream"],
                root,
                store,
                checkpoint_location=os.path.join(ctx.tmp, "curate_checkpoint"),
                fingerprint_prefix=f"batch-seed{ctx.seed}",
                **CURATE_KNOBS,
            )
            res.stream_groups[str(q.runId)] = ("streaming.events",)
            q.awaitTermination()
        res.traced_only_s = time.perf_counter() - t0
        res.batch_s = [
            p.durationMs["addBatch"] / 1000.0 for p in q.recentProgress if p.numInputRows > 0
        ]
        if len(res.batch_s) != len(inp.batches):
            res.check([f"{len(res.batch_s)} micro-batches != {len(inp.batches)} batch files"])
        drained = spark.read.parquet(os.path.join(store, "docs")).select("doc_id", "text").toPandas()
        docs = pd.concat([docs, drained], ignore_index=True)
    else:
        pairs = [pair for pair in pairs if pair[2] < len(inp.base)]
    res.check(checks.check_pairs(docs, pairs))

    min_tokens = _fresh(ctx.seed, np.arange(11, 60))

    def rerun():
        with tr.span("operators.curate"):
            return curate()

    def knob():
        k = next(min_tokens)
        with tr.span("operators.curate"):
            return k, curate(min_tokens=k)

    closed_loop(
        ctx,
        res,
        [
            ("knob", knob, lambda got: checks.check_gate(got[1], base_out, got[0])),
            ("rerun", rerun, lambda got: checks.check_same("curated documents", got, base_out, ["doc_id"])),
        ],
        CURATE_CYCLES,
    )
    return res
