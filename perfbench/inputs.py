"""Seeded input generators for the two workloads.

Everything here is numpy/pandas only: the same seed gives byte-identical
inputs, and no Spark session is needed to build them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pylluminator_spark.sources.idat import write_idat

# methyl_batch sizes: 2 groups x 2 batches, one sample each
N_PROBES = 2000
N_NEGATIVE = 20
N_NORM = 8
TYPE1_FRAC = 0.13  # EPICv2 share of type I probes
N_SAMPLES = 4
N_CHROM = 2
PROBE_SPACING = 1000
TILE_WIDTH = 20_000
DM_PROBE_FRAC = 0.1

# curate_stream sizes
N_BASE_DOCS = 1000
N_BATCHES = 1
BATCH_DOCS = 100
PARAS_PER_DOC = 3
TOKENS_PER_PARA = 25  # injected pair documents: 75 tokens
# other documents: 3 paragraphs of 3-47 tokens each, so min_tokens knob
# values (11-59) drop some of them at the quality gate
PARA_TOKENS_RANGE = (3, 48)
LANG_SHARES = {"en": 0.7, "de": 0.1, "fr": 0.1, "es": 0.1}
# per-language alphabets keep character n-gram language ID unambiguous
ALPHABETS = {
    "en": "abcdefghijklm",
    "de": "hijklmnopqrst",
    "fr": "nopqrstuvwxyz",
    "es": "abcdeuvwxyzst",
}
VOCAB_SIZE = 400
PAIRS_PER_KIND = 4  # per (kind, scope): exact / near / paragraph


@dataclass
class MethylInputs:
    idat_dir: str
    manifest: pd.DataFrame
    sheet: pd.DataFrame
    ranges: pd.DataFrame
    seq_length: pd.DataFrame

    @property
    def n_probes(self) -> int:
        return len(self.manifest)

    @property
    def n_samples(self) -> int:
        return len(self.sheet)

    @property
    def n_cg(self) -> int:
        return int((self.manifest["probe_type"] == "cg").sum())

    @property
    def signal_rows(self) -> int:
        return self.n_probes * self.n_samples


def make_methyl_inputs(seed: int, root: str) -> MethylInputs:
    """Write 2 x N_SAMPLES IDATs under ``root`` and return the probe
    manifest, sample sheet and genomic ranges that go with them."""
    rng = np.random.default_rng(seed)
    n_t1 = int(N_PROBES * TYPE1_FRAC)
    n_cg = N_PROBES - N_NEGATIVE - N_NORM
    rows = []
    for i in range(N_NEGATIVE):
        rows.append((f"ctl_negative_{i:04d}", "II", None, "ctl"))
    for i in range(N_NORM):
        name = "norm_c" if i % 2 == 0 else "norm_t"
        rows.append((f"ctl_{name}_{i:03d}", "II", None, "ctl"))
    for i in range(n_cg):
        if i < n_t1:
            rows.append((f"cg{i:07d}", "I", "G" if i % 2 == 0 else "R", "cg"))
        else:
            rows.append((f"cg{i:07d}", "II", None, "cg"))
    man = pd.DataFrame(rows, columns=["probe_id", "type", "channel", "probe_type"])
    man["mask_info"] = ""
    n_addr = N_PROBES + n_t1
    addresses = rng.choice(np.arange(10_000, 10_000 + 20 * n_addr), n_addr, replace=False)
    man["address_a"] = addresses[:N_PROBES].astype("int64")
    addr_b = np.full(N_PROBES, -1, dtype="int64")
    is_t1 = (man["type"] == "I").to_numpy()
    addr_b[is_t1] = addresses[N_PROBES:]
    man["address_b"] = pd.array(np.where(addr_b < 0, None, addr_b), dtype="Int64")

    samples = [f"s{i}" for i in range(N_SAMPLES)]
    sheet = pd.DataFrame(
        {
            "sample": samples,
            "group": ["A", "B"] * (N_SAMPLES // 2),
            "batch": ["b1"] * (N_SAMPLES // 2) + ["b2"] * (N_SAMPLES // 2),
        }
    )

    base_beta = np.clip(
        np.where(rng.random(N_PROBES) < 0.5, rng.beta(2, 12, N_PROBES), rng.beta(12, 2, N_PROBES)),
        0.01,
        0.99,
    )
    is_dm = rng.random(N_PROBES) < DM_PROBE_FRAC
    is_ctl = (man["probe_type"] == "ctl").to_numpy()
    ids = np.concatenate([man["address_a"].to_numpy(), addresses[N_PROBES:]])
    os.makedirs(root, exist_ok=True)
    for s_i, sample in enumerate(samples):
        grp_b = sheet["group"][s_i] == "B"
        batch_scale = 1.0 if sheet["batch"][s_i] == "b1" else 1.3
        beta = np.clip(base_beta + np.where(is_dm & grp_b, 0.25, 0.0) + rng.normal(0, 0.02, N_PROBES), 0.0, 1.0)
        total = rng.lognormal(8.3, 0.4, N_PROBES) * batch_scale
        meth, unmeth = beta * total, (1 - beta) * total
        bg = lambda n: rng.gamma(4.0, 60.0, n)  # noqa: E731 — out-of-band background
        grn_a, red_a = np.empty(N_PROBES), np.empty(N_PROBES)
        # type II: green = M, red = U on the single address
        grn_a[:], red_a[:] = meth, unmeth
        # type I: both addresses in one channel (A = U, B = M); the other
        # channel reads out-of-band background
        t1g = is_t1 & (man["channel"] == "G").to_numpy()
        t1r = is_t1 & (man["channel"] == "R").to_numpy()
        grn_b, red_b = bg(n_t1), bg(n_t1)
        grn_a[t1g], red_a[t1g] = unmeth[t1g], bg(int(t1g.sum()))
        red_a[t1r], grn_a[t1r] = unmeth[t1r], bg(int(t1r.sum()))
        grn_b[t1g[is_t1]] = meth[t1g]
        red_b[t1r[is_t1]] = meth[t1r]
        neg = is_ctl & man["probe_id"].str.contains("negative").to_numpy()
        grn_a[neg], red_a[neg] = bg(int(neg.sum())), bg(int(neg.sum()))
        norm_c = man["probe_id"].str.contains("norm_c").to_numpy()
        norm_t = man["probe_id"].str.contains("norm_t").to_numpy()
        grn_a[norm_c] = rng.normal(9000, 400, int(norm_c.sum())) * batch_scale
        red_a[norm_t] = rng.normal(8000, 400, int(norm_t.sum())) * batch_scale
        for chan, a, b in (("Grn", grn_a, grn_b), ("Red", red_a, red_b)):
            vals = np.clip(np.concatenate([a, b]), 1, 65_000).astype("uint16")
            write_idat(
                os.path.join(root, f"{sample}_{chan}.idat"),
                ids,
                vals,
                rng.integers(10, 400, len(ids)),
                rng.integers(3, 20, len(ids)),
            )

    per_chrom = N_PROBES // N_CHROM
    pos = (np.arange(N_PROBES) % per_chrom) * PROBE_SPACING
    ranges = pd.DataFrame(
        {
            "probe_id": man["probe_id"],
            "chromosome": [str(1 + i // per_chrom) for i in range(N_PROBES)],
            "start": pos.astype("int64"),
            "end": (pos + 2).astype("int64"),
        }
    )
    seq_length = pd.DataFrame(
        {
            "chromosome": [str(c + 1) for c in range(N_CHROM)],
            "seq_length": [per_chrom * PROBE_SPACING] * N_CHROM,
        }
    )
    return MethylInputs(root, man, sheet, ranges, seq_length)


@dataclass
class CurateInputs:
    base: pd.DataFrame
    base_path: str
    batch_dir: str
    batches: list[pd.DataFrame]
    # injected duplicate pairs: (kind, keep_candidate_id, dup_id, shared_text)
    pairs: list[tuple[str, int, int, str]] = field(default_factory=list)


def _vocab(rng: np.random.Generator) -> dict[str, np.ndarray]:
    out = {}
    for lang, alphabet in ALPHABETS.items():
        letters = np.array(list(alphabet))
        lengths = rng.integers(3, 9, VOCAB_SIZE)
        out[lang] = np.array(["".join(rng.choice(letters, n)) for n in lengths])
    return out


def make_curate_inputs(seed: int, root: str) -> CurateInputs:
    """Base corpus parquet plus N_BATCHES micro-batch parquet files under
    ``root``, with exact-duplicate, near-duplicate and repeated-paragraph
    pairs injected within the base, from the base into batch 0, and from
    each batch into the next. Injected documents are English and long enough
    to pass the quality gate at every knob value, so dedup alone decides
    their fate; the other documents vary in length."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)

    def para(lang: str, n: int) -> str:
        return " ".join(rng.choice(vocab[lang], n))

    def doc(lang: str, varied: bool = False) -> list[str]:
        if varied:
            sizes = rng.integers(*PARA_TOKENS_RANGE, PARAS_PER_DOC)
        else:
            sizes = [TOKENS_PER_PARA] * PARAS_PER_DOC
        return [para(lang, n) for n in sizes]

    langs = list(LANG_SHARES)
    n_total = N_BASE_DOCS + N_BATCHES * BATCH_DOCS
    doc_langs = rng.choice(langs, n_total, p=list(LANG_SHARES.values()))
    paras = [doc(lang, varied=True) for lang in doc_langs]
    # slot ranges: base, then each batch
    bounds = [(0, N_BASE_DOCS)] + [
        (N_BASE_DOCS + b * BATCH_DOCS, N_BASE_DOCS + (b + 1) * BATCH_DOCS)
        for b in range(N_BATCHES)
    ]
    used: set[int] = set()

    def pick(lo: int, hi: int) -> int:
        while True:
            i = int(rng.integers(lo, hi))
            if i not in used:
                used.add(i)
                return i

    pairs = []
    scopes = [(bounds[0], bounds[0])] + [
        (bounds[b], bounds[b + 1]) for b in range(N_BATCHES)
    ]
    for src_rng, dst_rng in scopes:
        for kind in ("exact", "near", "paragraph"):
            for _ in range(PAIRS_PER_KIND):
                a, b = pick(*src_rng), pick(*dst_rng)
                a, b = min(a, b), max(a, b)
                doc_langs[a] = doc_langs[b] = "en"
                paras[a] = doc("en")
                if kind == "exact":
                    # whitespace differs: normalised exact dedup
                    paras[b] = [p.replace(" ", "  ", 1) + " " for p in paras[a]]
                    shared = ""
                elif kind == "near":
                    toks = " ".join(paras[a]).split(" ")
                    toks[int(rng.integers(len(toks)))] = str(rng.choice(vocab["en"]))
                    n = TOKENS_PER_PARA
                    paras[b] = [" ".join(toks[k * n:(k + 1) * n]) for k in range(PARAS_PER_DOC)]
                    shared = ""
                else:
                    paras[b] = doc("en")
                    shared = paras[a][1]
                    paras[b][1] = shared
                pairs.append((kind, a, b, shared))

    frame = pd.DataFrame(
        {
            "doc_id": np.arange(n_total, dtype="int64"),
            "text": ["\n\n".join(p) for p in paras],
            "lang": doc_langs.astype(str),
            "source": [f"src{i % 7}" for i in range(n_total)],
        }
    )
    base = frame.iloc[: N_BASE_DOCS].reset_index(drop=True)
    base_path = os.path.join(root, "base.parquet")
    batch_dir = os.path.join(root, "batches")
    os.makedirs(root, exist_ok=True)
    base.to_parquet(base_path, index=False)
    batches = []
    for b in range(N_BATCHES):
        lo, hi = bounds[b + 1]
        part = frame.iloc[lo:hi].reset_index(drop=True)
        out = os.path.join(batch_dir, f"f={b}")
        os.makedirs(out, exist_ok=True)
        part.to_parquet(os.path.join(out, "part-0.parquet"), index=False)
        batches.append(part)
    return CurateInputs(base, base_path, batch_dir, batches, pairs)
