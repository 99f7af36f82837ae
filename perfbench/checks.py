"""Output checks, run on materialised pandas outputs after the timed
calls. Each returns a list of failure messages (empty = pass), so a
corrupted output names what is wrong. ``test_perfbench.py`` feeds each
one a corrupted output."""

from __future__ import annotations

import numpy as np
import pandas as pd

LSTSQ_PROBES = 8
LSTSQ_RTOL = 1e-6


def check_betas(betas: pd.DataFrame, n_probes: int, n_samples: int) -> list:
    errs = []
    if len(betas) != n_probes * n_samples:
        errs.append(f"betas rows {len(betas)} != {n_probes} probes x {n_samples} samples")
    vals = betas["beta"].dropna()
    if len(vals) == 0:
        errs.append("every beta is masked")
    elif not ((vals >= 0) & (vals <= 1)).all():
        errs.append(f"betas outside [0, 1]: min {vals.min()}, max {vals.max()}")
    return errs


def check_same(label: str, got: pd.DataFrame, want: pd.DataFrame, keys: list) -> list:
    """``got`` must equal ``want`` exactly (row order aside)."""
    a = got.sort_values(keys).reset_index(drop=True)
    b = want.sort_values(keys).reset_index(drop=True)
    if a.shape != b.shape or not a.equals(b):
        return [f"{label}: output differs from the expected output"]
    return []


def check_gate(got: pd.DataFrame, cold: pd.DataFrame, min_tokens: int) -> list:
    """A ``min_tokens`` re-run keeps exactly the cold survivors (gated at
    a lower ``min_tokens``) that have at least ``min_tokens`` tokens:
    dedup runs before the gate, so the gate alone decides the difference."""
    want = cold[cold["n_tokens"] >= min_tokens]
    return check_same(f"min_tokens={min_tokens} documents", got, want, ["doc_id"])


def check_dmp(
    dmp: pd.DataFrame,
    corrected: pd.DataFrame,
    sheet: pd.DataFrame,
    n_cg: int,
    seed: int,
) -> list:
    """One row per cg probe, and the group estimate of a seeded sample of
    probes equals numpy ``lstsq`` on the ComBat-corrected betas."""
    errs = []
    if len(dmp) != n_cg:
        errs.append(f"dmp rows {len(dmp)} != {n_cg} cg probes")
    col = "group[T.B]_estimate"
    if col not in dmp.columns:
        return errs + [f"dmp lacks {col}"]
    wide = corrected.pivot(index="probe_id", columns="sample", values="beta")
    samples = list(sheet["sample"])
    x = np.column_stack([np.ones(len(samples)), (sheet["group"] == "B").to_numpy(float)])
    est = dmp.set_index("probe_id")[col]
    rng = np.random.default_rng(seed)
    probes = rng.choice(wide.index.to_numpy(), min(LSTSQ_PROBES, len(wide)), replace=False)
    for pid in probes:
        y = wide.loc[pid, samples].to_numpy(float)
        ok = ~np.isnan(y)
        coef = np.linalg.lstsq(x[ok], y[ok], rcond=None)[0][1]
        if pid not in est.index or not np.isclose(est[pid], coef, rtol=LSTSQ_RTOL, atol=1e-9):
            errs.append(f"dmp estimate for {pid}: {est.get(pid)} != lstsq {coef}")
    return errs


def check_segments(segments: pd.DataFrame) -> list:
    if len(segments) == 0:
        return ["cnv produced no segments"]
    if (segments["nb_bins"] <= 0).any():
        return ["cnv segment with no bins"]
    return []


def check_pairs(docs: pd.DataFrame, pairs: list) -> list:
    """``docs``: every curated survivor (base + drained batches).
    No injected pair keeps both members, and at least one keeps one."""
    errs = []
    text = dict(zip(docs["doc_id"], docs["text"]))
    survived = 0
    for kind, a, b, shared in pairs:
        if kind == "paragraph":
            both = a in text and b in text and shared in text[a] and shared in text[b]
        else:
            both = a in text and b in text
        if both:
            errs.append(f"{kind} pair ({a}, {b}) kept both members")
        survived += a in text or b in text
    if pairs and survived == 0:
        errs.append("no injected pair kept any member")
    if docs["doc_id"].duplicated().any():
        errs.append("a document id was curated twice")
    return errs
