"""Tests of the benchmark itself: every output check rejects a corrupted
output, inputs are a pure function of the seed, and (opt-in,
PERFBENCH_SLOW=1) the timed loop samples sit past the warm-up knee.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, inputs
from perfbench.run import ROOT

# -- methyl checks -----------------------------------------------------------


def _betas(n_probes=5, n_samples=2):
    rng = np.random.default_rng(0)
    return pd.DataFrame(
        {
            "sample": np.repeat([f"s{i}" for i in range(n_samples)], n_probes),
            "probe_id": [f"cg{p}" for p in range(n_probes)] * n_samples,
            "beta": rng.uniform(0, 1, n_probes * n_samples),
        }
    )


def test_check_betas():
    good = _betas()
    assert checks.check_betas(good, 5, 2) == []
    high = good.copy()
    high.loc[3, "beta"] = 1.5
    assert checks.check_betas(high, 5, 2)
    assert checks.check_betas(good.iloc[1:], 5, 2)
    masked = good.assign(beta=np.nan)
    assert checks.check_betas(masked, 5, 2)


def test_check_same():
    a = _betas()
    assert checks.check_same("b", a.iloc[::-1], a, ["sample", "probe_id"]) == []
    b = a.copy()
    b.loc[0, "beta"] += 1e-12
    assert checks.check_same("b", b, a, ["sample", "probe_id"])
    assert checks.check_same("b", a.iloc[1:], a, ["sample", "probe_id"])


def _dmp_case():
    sheet = pd.DataFrame(
        {"sample": [f"s{i}" for i in range(6)], "group": ["A", "B"] * 3, "batch": "b1"}
    )
    rng = np.random.default_rng(1)
    rows, est = [], {}
    x = np.column_stack([np.ones(6), (sheet["group"] == "B").to_numpy(float)])
    for p in range(20):
        y = rng.uniform(0, 1, 6)
        est[f"cg{p}"] = np.linalg.lstsq(x, y, rcond=None)[0][1]
        rows += [(s, f"cg{p}", float(v)) for s, v in zip(sheet["sample"], y)]
    corrected = pd.DataFrame(rows, columns=["sample", "probe_id", "beta"])
    dmp = pd.DataFrame({"probe_id": list(est), "group[T.B]_estimate": list(est.values())})
    return dmp, corrected, sheet


def test_check_dmp():
    dmp, corrected, sheet = _dmp_case()
    assert checks.check_dmp(dmp, corrected, sheet, 20, seed=3) == []
    wrong = dmp.assign(**{"group[T.B]_estimate": dmp["group[T.B]_estimate"] * 1.01})
    assert checks.check_dmp(wrong, corrected, sheet, 20, seed=3)
    assert checks.check_dmp(dmp.iloc[:-1], corrected, sheet, 20, seed=3)


def test_check_segments():
    segs = pd.DataFrame({"chromosome": ["1"], "nb_bins": [4], "mean_cnv": [0.1]})
    assert checks.check_segments(segs) == []
    assert checks.check_segments(segs.iloc[:0])
    assert checks.check_segments(segs.assign(nb_bins=0))


# -- curate checks -----------------------------------------------------------

PAIRS = [("exact", 1, 2, ""), ("near", 3, 4, ""), ("paragraph", 5, 6, "shared para")]


def _docs(ids_texts):
    return pd.DataFrame(ids_texts, columns=["doc_id", "text"])


def test_check_pairs():
    good = _docs([(1, "a"), (3, "b"), (5, "x shared para"), (6, "y")])
    assert checks.check_pairs(good, PAIRS) == []
    assert checks.check_pairs(_docs([(1, "a"), (2, "a")]), PAIRS)
    assert checks.check_pairs(_docs([(5, "shared para"), (6, "shared para z")]), PAIRS)
    assert checks.check_pairs(_docs([(9, "unrelated")]), PAIRS)
    assert checks.check_pairs(_docs([(1, "a"), (1, "a")]), PAIRS)


def test_check_gate():
    cold = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "text": ["a", "b", "c", "d"], "n_tokens": [12, 30, 45, 75]}
    )
    assert checks.check_gate(cold.iloc[[3, 1, 2]], cold, 20) == []
    assert checks.check_gate(cold, cold, 20)  # kept a document below min_tokens
    assert checks.check_gate(cold.iloc[[1, 3]], cold, 20)  # dropped one above it
    wrong = cold.iloc[[1, 2, 3]].assign(text=["b", "c", "x"])
    assert checks.check_gate(wrong, cold, 20)


# -- inputs ------------------------------------------------------------------


def test_curate_inputs_follow_the_seed(tmp_path):
    a = inputs.make_curate_inputs(7, str(tmp_path / "a"))
    b = inputs.make_curate_inputs(7, str(tmp_path / "b"))
    c = inputs.make_curate_inputs(8, str(tmp_path / "c"))
    assert a.base.equals(b.base) and a.pairs == b.pairs
    assert not a.base.equals(c.base)
    kinds = {k for k, *_ in a.pairs}
    assert kinds == {"exact", "near", "paragraph"}
    # the min_tokens knob range (11-59) cuts through the document lengths,
    # and never through an injected pair document
    n_tok = a.base["text"].str.split().str.len()
    assert 0.1 < (n_tok < 59).mean() < 0.5
    injected = {i for _, x, y, _ in a.pairs for i in (x, y) if i < len(a.base)}
    assert (n_tok[sorted(injected)] >= 60).all()
    assert len(a.base) == inputs.N_BASE_DOCS
    assert [len(b) for b in a.batches] == [inputs.BATCH_DOCS] * inputs.N_BATCHES


def test_methyl_inputs_follow_the_seed(tmp_path):
    a = inputs.make_methyl_inputs(7, str(tmp_path / "a"))
    b = inputs.make_methyl_inputs(7, str(tmp_path / "b"))
    assert a.manifest.equals(b.manifest)
    for name in sorted(os.listdir(a.idat_dir)):
        with open(os.path.join(a.idat_dir, name), "rb") as fa, open(
            os.path.join(b.idat_dir, name), "rb"
        ) as fb:
            assert fa.read() == fb.read(), name
    assert len(os.listdir(a.idat_dir)) == 2 * inputs.N_SAMPLES
    assert (a.manifest["type"] == "I").mean() == pytest.approx(inputs.TYPE1_FRAC, abs=0.01)


# -- warm-up knee (runs the benchmark; opt-in) -------------------------------

KNEE_RATIO = 1.25


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SLOW"), reason="set PERFBENCH_SLOW=1")
@pytest.mark.parametrize("workload,seconds", [("curate_stream", 12), ("methyl_batch", 30)])
def test_loop_samples_sit_past_the_knee(workload, seconds):
    """The first timed loop sample of each kind is no slower than the
    later ones: the cold pass and the untimed warm-up cycle before the
    timed loop took each kind of op past its first call."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout.splitlines()
    assert json.loads(out[-1])["correct"]
    for kind in ("rerun", "knob"):
        line = next(x for x in out if x.strip().startswith(f"samples {kind}"))
        print(workload, line.strip())
        xs = [float(v) for v in line.split()[2:]]
        assert len(xs) >= 3, line
        assert xs[0] <= KNEE_RATIO * float(np.median(xs[1:])), line
