"""curate_pipeline (operators/curate.py): end-to-end semantics of the
manifest-backed corpus curation chain, stage caching on rerun, and
param-change invalidation that recomputes only downstream stages —
the corpus-side analogue of test_session_pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pylluminator_spark.operators.curate import curate_pipeline

BOILER = "subscribe to our newsletter for updates and alerts"

# languages with disjoint character sets: "aa" uses a-m words, "zz" uses
# n-z words — the self-labeled 3-gram fit separates them exactly
AA_BODY = (
    "alpha beckons calmly deep echoes fill glades here in jade kelp "
    "light meadows abide calm deeds echo fields glide"
)
ZZ_BODY = "zonal suns warm upper stones zest on proud town spurs"


def _corpus():
    rows = []
    # 6 base aa docs: unique body + shared boilerplate paragraph + html
    for i in range(6):
        body = f"{AA_BODY} variant {'able ' * (i + 1)}".strip()
        rows.append(
            (i, "aa", f"<p>{body}</p>\n\n{BOILER}")
        )
    # 2 duplicates of doc 0: 100 differs only in case (normalization
    # lowercases, so it collapses onto 0), 101 is an exact copy
    rows.append((100, "aa", f"<P>{AA_BODY} variant ABLE</p>\n\n{BOILER}"))
    rows.append((101, "aa", f"<p>{AA_BODY} variant able</p>\n\n{BOILER}"))
    # a boilerplate-only aa doc: after paragraph dedup its text is empty
    # -> token gate drops it
    rows.append((102, "aa", BOILER))
    # a doc whose unique paragraph is later GATE-dropped (3 tokens < 5):
    # its content is NOT in the curated corpus, so it must never
    # suppress new content in increments
    rows.append((103, "aa", "reject me now"))
    # 3 zz docs: language filter must drop them
    for i in range(3):
        rows.append((200 + i, "zz", f"{ZZ_BODY} zone {'zz' * (i + 1)}"))
    return rows


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        _corpus(), "doc_id long, lang string, text string"
    )


def _run(spark, docs, root, **kw):
    kw.setdefault("keep_lang", "aa")
    kw.setdefault("min_tokens", 5)
    kw.setdefault("max_tokens", 10_000)
    kw.setdefault("pack_budget", 40)
    kw.setdefault("langid_buckets", 256)
    return curate_pipeline(
        spark, root, docs, source_fingerprint="test-corpus-v1", **kw
    )


def test_end_to_end_semantics(spark, docs, tmp_path):
    res = _run(spark, docs, str(tmp_path / "m"))
    assert set(res.stages) == {
        "docs", "langid_filter", "dedup_exact", "dedup_paragraphs",
        "quality_gate", "pack",
    }
    out = res.documents.toPandas().set_index("doc_id")
    # zz docs gone (language filter), 100/101 gone (exact dup of 0 after
    # normalization), 102 gone (boilerplate-only -> empty after para
    # dedup -> under min_tokens)
    assert sorted(out.index) == [0, 1, 2, 3, 4, 5]
    # html stripped everywhere
    assert not out["text"].str.contains("<p>", case=False).any()
    # boilerplate survives exactly once (globally-first doc 0)
    assert out["text"].str.contains(BOILER).sum() == 1
    assert BOILER in out.loc[0, "text"]
    # token counts recorded and within the gate
    assert (out["n_tokens"] >= 5).all()
    # packing: dense seq ids, token totals conserved
    seq = res.sequences.toPandas()
    assert sorted(seq["doc_id"]) == [0, 1, 2, 3, 4, 5]
    assert seq["n_tokens"].sum() == out["n_tokens"].sum()
    assert set(seq["seq_id"]) == set(range(seq["seq_id"].max() + 1))


def test_second_run_is_all_cache(spark, docs, tmp_path):
    root = str(tmp_path / "m")
    first = _run(spark, docs, root)
    assert not any(
        first.from_cache[k]
        for k in ("langid_filter", "dedup_exact", "dedup_paragraphs",
                  "quality_gate", "pack")
    )
    second = _run(spark, docs, root)
    assert all(second.from_cache.values()), second.from_cache
    a = first.documents.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = second.documents.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_unchanged_path_rerun_launches_one_job(
    spark, docs, tmp_path, count_jobs
):
    """A cache-hit re-run reads every stage with the schema its ledger
    row recorded: the only job left is the schema inference of the
    external parquet source itself."""
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    kw = dict(
        keep_lang="aa", min_tokens=5, max_tokens=10_000, pack_budget=40,
        langid_buckets=256, fuzzy=True,
    )
    first = curate_pipeline(spark, str(tmp_path / "m"), src, **kw)
    want = first.documents.toPandas().sort_values("doc_id")
    with count_jobs() as jobs:
        second = curate_pipeline(spark, str(tmp_path / "m"), src, **kw)
    assert jobs["n"] <= 1
    assert all(second.from_cache.values()), second.from_cache
    got = second.documents.toPandas().sort_values("doc_id")
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))


def test_param_change_recomputes_only_downstream(spark, docs, tmp_path):
    root = str(tmp_path / "m")
    _run(spark, docs, root)
    # tighten the quality gate: upstream stages must come from cache,
    # quality_gate and pack must recompute
    changed = _run(spark, docs, root, min_tokens=25)
    fc = changed.from_cache
    assert fc["langid_filter"] and fc["dedup_exact"]
    assert fc["dedup_paragraphs"]
    assert not fc["quality_gate"]
    assert not fc["pack"]
    # and the tightened gate actually binds (variant-1 doc has fewer
    # tokens than the longest variants)
    n_before = 6
    assert changed.documents.count() < n_before


def test_skip_flags(spark, docs, tmp_path):
    res = _run(
        spark, docs, str(tmp_path / "m"),
        keep_lang=None, pack_budget=None,
    )
    assert "langid_filter" not in res.stages
    assert "pack" not in res.stages
    assert res.sequences is None
    # without the language filter the zz docs survive curation
    ids = {r.doc_id for r in res.documents.select("doc_id").collect()}
    assert {200, 201, 202} <= ids


def test_validation(spark, docs, tmp_path):
    with pytest.raises(ValueError):
        _run(spark, docs, str(tmp_path / "m"), min_tokens=100, max_tokens=5)
    with pytest.raises(ValueError):
        _run(spark, docs, str(tmp_path / "m2"), pack_budget=0)


class TestIncrementalOperators:
    def test_dedup_exact_against(self, spark):
        from pylluminator_spark.operators.dedup import dedup_exact_against

        existing = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "delta epsilon")],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [
                (10, "ALPHA   beta gamma"),   # dup of existing 1 (normalized)
                (11, "new unique document"),
                (12, "new  unique DOCUMENT"), # within-batch dup of 11
                (13, "another fresh one"),
            ],
            ["doc_id", "text"],
        )
        got = sorted(
            r.doc_id for r in dedup_exact_against(batch, existing).collect()
        )
        assert got == [11, 13]
        # normalize=False: casing/spacing differences make everything unique
        raw = sorted(
            r.doc_id
            for r in dedup_exact_against(
                batch, existing, normalize=False
            ).collect()
        )
        assert raw == [10, 11, 12, 13]

    def test_dedup_paragraphs_against(self, spark):
        from pylluminator_spark.operators.cleanup import (
            dedup_paragraphs_against,
        )

        existing = spark.createDataFrame(
            [(1, "corpus body one\n\nshared boilerplate here")],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [
                # boilerplate suppressed by corpus; body kept
                (10, "fresh body ten\n\nshared boilerplate here"),
                # batch-internal dup paragraph: first occurrence (10? no —
                # 'batch dup para' first appears in 11) kept once
                (11, "batch dup para\n\nfresh body eleven"),
                (12, "batch dup para\n\nfresh body twelve"),
            ],
            ["doc_id", "text"],
        )
        got = {
            r.doc_id: (r.clean_text, r.n_paras_kept, r.n_paras_dropped)
            for r in dedup_paragraphs_against(batch, existing).collect()
        }
        assert got[10] == ("fresh body ten", 1, 1)
        assert got[11] == ("batch dup para\n\nfresh body eleven", 2, 0)
        assert got[12] == ("fresh body twelve", 1, 1)

    def test_min_chars_exemption_never_suppressed(self, spark):
        from pylluminator_spark.operators.cleanup import (
            dedup_paragraphs_against,
        )

        existing = spark.createDataFrame(
            [(1, "Intro\n\nlong corpus paragraph body")],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [(10, "Intro\n\nnew long body paragraph")],
            ["doc_id", "text"],
        )
        got = dedup_paragraphs_against(
            batch, existing, min_chars=10
        ).collect()[0]
        # "Intro" < 10 chars: exempt — kept even though the corpus has it
        assert got.clean_text == "Intro\n\nnew long body paragraph"


class TestCurateIncrement:
    def _increment(self, spark, root, batch, **kw):
        from pylluminator_spark.operators.curate import curate_increment

        kw.setdefault("min_tokens", 2)
        kw.setdefault("max_tokens", 10_000)
        return curate_increment(
            spark, root, batch,
            source_fingerprint=kw.pop("source_fingerprint", "batch-v1"),
            **kw,
        )

    def test_increment_semantics(self, spark, docs, tmp_path):
        root = str(tmp_path / "m")
        _run(spark, docs, root)  # base run
        batch = spark.createDataFrame(
            [
                # exact dup of base doc 0 (same raw text)
                (500, "aa", f"<p>{AA_BODY} variant able</p>\n\n{BOILER}"),
                # fresh doc carrying the base boilerplate paragraph:
                # boilerplate suppressed, body kept
                (501, "aa", f"fresh increment body text\n\n{BOILER}"),
                # boilerplate-only: everything suppressed -> token gate
                (502, "aa", BOILER),
                # within-batch duplicate pair
                (503, "aa", "brand new increment document"),
                (504, "aa", "brand  new increment DOCUMENT"),
            ],
            "doc_id long, lang string, text string",
        )
        res = self._increment(spark, root, batch)
        out = {r.doc_id: r.text for r in res.documents.collect()}
        assert sorted(out) == [501, 503]
        assert BOILER not in out[501]
        assert "fresh increment body text" in out[501]

    def test_increment_caching_and_base_invalidation(
        self, spark, docs, tmp_path
    ):
        root = str(tmp_path / "m")
        _run(spark, docs, root)
        batch = spark.createDataFrame(
            [(600, "aa", "one incremental document body")],
            "doc_id long, lang string, text string",
        )
        first = self._increment(spark, root, batch)
        assert not first.from_cache["inc_dedup_exact"]
        second = self._increment(spark, root, batch)
        assert second.from_cache["inc_dedup_exact"]
        assert second.from_cache["inc_quality_gate"]
        # re-running the BASE with a different paragraph knob re-keys
        # its dedup_paragraphs stage AND (downstream) its quality gate;
        # since every increment suppression reference is gate-filtered,
        # every increment stage depends on the base gate and recomputes
        # — Merkle invalidation flows through the whole increment
        _run(spark, docs, root, para_min_chars=3)
        # the increment must match the new base's paragraph knob (the
        # r12 ledger-param validation raises otherwise)
        third = self._increment(spark, root, batch, para_min_chars=3)
        assert not third.from_cache["inc_dedup_exact"]
        assert not third.from_cache["inc_dedup_paragraphs"]
        assert not third.from_cache["inc_quality_gate"]
        # and a rerun against the new base is again pure cache
        fourth = self._increment(spark, root, batch, para_min_chars=3)
        assert fourth.from_cache["inc_dedup_exact"]
        assert fourth.from_cache["inc_quality_gate"]

    def test_increment_pack_continues_base(self, spark, docs, tmp_path):
        # packing the increment with token_offset = base total tokens
        # must equal ONE packing pass over base-then-batch
        from pylluminator_spark.operators.corpus import pack_sequences

        root = str(tmp_path / "m")
        base = _run(spark, docs, root)  # pack_budget=40
        batch = spark.createDataFrame(
            [
                (700, "aa", "seven hundred incremental body words here"),
                (701, "aa", "seven hundred one another body of words"),
            ],
            "doc_id long, lang string, text string",
        )
        res = self._increment(spark, root, batch, pack_budget=40)
        combined_docs = base.documents.select("doc_id", "text").unionByName(
            res.documents.select("doc_id", "text")
        )
        direct = {
            r.doc_id: (r.n_tokens, r.seq_id)
            for r in pack_sequences(combined_docs, budget=40).collect()
        }
        got = {
            r.doc_id: (r.n_tokens, r.seq_id)
            for r in base.sequences.unionByName(res.sequences).collect()
        }
        assert got == direct
        with pytest.raises(ValueError):
            self._increment(spark, root, batch, pack_budget=0)

    def test_rejected_base_content_never_suppresses(self, spark, docs, tmp_path):
        # base doc 103 ("reject me now") passes paragraph dedup but is
        # dropped by the token gate -> its paragraph exists NOWHERE in
        # the curated corpus and must not suppress a new doc carrying it
        root = str(tmp_path / "m")
        base = _run(spark, docs, root)
        assert 103 not in {
            r.doc_id for r in base.documents.select("doc_id").collect()
        }
        batch = spark.createDataFrame(
            [(800, "aa", "reject me now\n\nwith a much longer fresh body")],
            "doc_id long, lang string, text string",
        )
        res = self._increment(spark, root, batch)
        out = {r.doc_id: r.text for r in res.documents.collect()}
        assert "reject me now" in out[800]

    def test_cross_batch_dedup(self, spark, docs, tmp_path):
        # a second batch must dedup against accepted content from the
        # FIRST batch, both doc-level and paragraph-level
        root = str(tmp_path / "m")
        _run(spark, docs, root)
        b1 = spark.createDataFrame(
            [(900, "aa", "day one document body\n\nday one boiler para")],
            "doc_id long, lang string, text string",
        )
        r1 = self._increment(
            spark, root, b1, source_fingerprint="batch-day1"
        )
        assert {r.doc_id for r in r1.documents.collect()} == {900}
        b2 = spark.createDataFrame(
            [
                # exact copy of day-1 doc: must drop
                (950, "aa", "day one document body\n\nday one boiler para"),
                # fresh doc carrying day-1's paragraph: paragraph
                # suppressed, body kept
                (951, "aa", "day two fresh body here\n\nday one boiler para"),
            ],
            "doc_id long, lang string, text string",
        )
        r2 = self._increment(
            spark, root, b2, source_fingerprint="batch-day2"
        )
        out = {r.doc_id: r.text for r in r2.documents.collect()}
        assert sorted(out) == [951]
        assert "day one boiler para" not in out[951]
        assert "day two fresh body here" in out[951]

    def test_increment_requires_base(self, spark, tmp_path):
        batch = spark.createDataFrame(
            [(1, "aa", "text body")], "doc_id long, lang string, text string"
        )
        with pytest.raises(ValueError, match="prior curate_pipeline"):
            self._increment(spark, str(tmp_path / "empty"), batch)


def test_dedup_exact_prefer_col(spark):
    """prefer_col winner rule: highest preference survives per content
    group, ties break toward the lowest id, NULL preferences lose to any
    scored row, and the default (no prefer_col) stays min-id."""
    from pylluminator_spark.operators.dedup import dedup_exact

    rows = [
        # group A: ids 1,2,3 same content — id 2 has the best score
        (1, "same content here", 0.2),
        (2, "same  CONTENT here", 0.9),
        (3, "same content HERE", 0.9),   # tie with 2 -> lower id 2 wins
        # group B: NULL score loses to scored copy
        (4, "other doc body", None),
        (5, "other DOC body", 0.1),
        # group C: all NULL -> lowest id survives
        (6, "third unique text", None),
        (7, "third UNIQUE text", None),
        # singleton
        (8, "nothing like the rest", 0.5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, q double")
    got = sorted(
        r.doc_id for r in dedup_exact(df, prefer_col="q").collect()
    )
    assert got == [2, 5, 6, 8]
    # default rule unchanged: min id per group
    base = sorted(r.doc_id for r in dedup_exact(df).collect())
    assert base == [1, 4, 6, 8]


def test_dedup_exact_against_prefer_col(spark):
    """Within-batch quality winner; corpus-held content always drops
    regardless of preference."""
    from pylluminator_spark.operators.dedup import dedup_exact_against

    existing = spark.createDataFrame(
        [(1, "held by the corpus")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "held BY the corpus", 99.0),  # corpus dup: drops anyway
            (11, "fresh new body", 0.1),
            (12, "FRESH new body", 0.9),       # best copy wins
        ],
        "doc_id long, text string, q double",
    )
    got = sorted(
        r.doc_id
        for r in dedup_exact_against(
            batch, existing, prefer_col="q"
        ).collect()
    )
    assert got == [12]


def test_increment_with_prefit_langid_model(spark, tmp_path):
    """Increments can classify under a model fit on the BIG corpus
    (fit_langid) instead of a statistically-weak self-labeled fit on
    the small batch — the zz-language doc is dropped even though the
    batch alone carries too little signal to fit anything."""
    from pylluminator_spark.operators.curate import (
        curate_increment,
        curate_pipeline,
    )
    from pylluminator_spark.operators.langid import fit_langid

    root = str(tmp_path / "m")
    base = spark.createDataFrame(_corpus(), "doc_id long, lang string, text string")
    curate_pipeline(
        spark, root, base, source_fingerprint="base-v1",
        keep_lang="aa", min_tokens=5, langid_buckets=256,
        pack_budget=None,
    )
    weights, langs = fit_langid(base, n=3, buckets=256)
    batch = spark.createDataFrame(
        [
            (700, "aa", "fresh alpha like body made of calm deeds here"),
            (701, "zz", ZZ_BODY + " tonnes"),
        ],
        "doc_id long, lang string, text string",
    )
    res = curate_increment(
        spark, root, batch,
        source_fingerprint="batch-m1",
        keep_lang="aa", langid_model=(weights, langs),
        langid_buckets=256, min_tokens=2,
    )
    ids = {r.doc_id for r in res.documents.collect()}
    assert ids == {700}
    assert "inc_langid_filter" in res.stages
    # rerun: model frames re-fingerprint to the same content -> cache
    res2 = curate_increment(
        spark, root, batch,
        source_fingerprint="batch-m1",
        keep_lang="aa", langid_model=(weights, langs),
        langid_buckets=256, min_tokens=2,
    )
    assert res2.from_cache["inc_langid_filter"]


def test_dedup_exact_prefer_col_native_precision(spark):
    """Native-type ordering: int64 preferences beyond 2^53 (ns-epoch
    crawl timestamps) must not collapse under a double cast — the
    freshest copy wins by the exact integer."""
    from pylluminator_spark.operators.dedup import dedup_exact

    t0 = 1_723_800_000_000_000_000
    rows = [
        (1, "same doc body", t0),
        (2, "same DOC body", t0 + 100),  # +100 ns: invisible in double
        (3, "same doc BODY", t0 + 50),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts long")
    got = [r.doc_id for r in dedup_exact(df, prefer_col="ts").collect()]
    assert got == [2]


def test_increment_model_refit_does_not_self_suppress(spark, tmp_path):
    """Re-running the SAME batch with a refit langid model must treat
    its own prior run as itself (cache miss is fine — the model
    changed — but the output must not vanish into 'corpus duplicate'
    self-suppression)."""
    from pylluminator_spark.operators.curate import (
        curate_increment,
        curate_pipeline,
    )
    from pylluminator_spark.operators.langid import fit_langid

    root = str(tmp_path / "m")
    base = spark.createDataFrame(
        _corpus(), "doc_id long, lang string, text string"
    )
    curate_pipeline(
        spark, root, base, source_fingerprint="base-v1",
        keep_lang="aa", min_tokens=5, langid_buckets=256,
        pack_budget=None,
    )
    m1 = fit_langid(base, n=3, buckets=256)
    batch = spark.createDataFrame(
        [(700, "aa", "fresh alpha like body made of calm deeds here")],
        "doc_id long, lang string, text string",
    )
    kw = dict(
        source_fingerprint="batch-r1", keep_lang="aa",
        langid_buckets=256, min_tokens=2,
    )
    r1 = curate_increment(spark, root, batch, langid_model=m1, **kw)
    assert {r.doc_id for r in r1.documents.collect()} == {700}
    # refit on base + accepted batch: different model content
    m2 = fit_langid(
        base.select("doc_id", "lang", "text").unionByName(batch),
        n=3, buckets=256,
    )
    r2 = curate_increment(spark, root, batch, langid_model=m2, **kw)
    assert {r.doc_id for r in r2.documents.collect()} == {700}


def test_increment_langid_model_validation(spark, tmp_path):
    from pylluminator_spark.operators.curate import (
        curate_increment,
        curate_pipeline,
    )
    from pylluminator_spark.operators.langid import fit_langid

    root = str(tmp_path / "m")
    base = spark.createDataFrame(
        _corpus(), "doc_id long, lang string, text string"
    )
    curate_pipeline(
        spark, root, base, source_fingerprint="base-v1",
        keep_lang="aa", min_tokens=5, langid_buckets=256,
        pack_budget=None,
    )
    model = fit_langid(base, n=3, buckets=1024)
    batch = spark.createDataFrame(
        [(700, "aa", "fresh alpha like body")],
        "doc_id long, lang string, text string",
    )
    # model without keep_lang: must raise, never silently ignore
    with pytest.raises(ValueError, match="keep_lang"):
        curate_increment(
            spark, root, batch, source_fingerprint="b-x",
            langid_model=model, min_tokens=2,
        )
    # model fit with MORE buckets than the classify-time space: caught
    with pytest.raises(Exception, match="buckets"):
        curate_increment(
            spark, root, batch, source_fingerprint="b-y",
            keep_lang="aa", langid_model=model,
            langid_buckets=256, min_tokens=2,
        ).documents.count()


def test_pipeline_prefer_col_winner(spark, tmp_path):
    """curate_pipeline's exact-dedup stage honors prefer_col: among
    identical docs the highest-quality copy survives curation."""
    docs = spark.createDataFrame(
        [
            (1, "shared body of words here today", 0.1),
            (2, "shared BODY of words here today", 0.9),
            (3, "a different unique document body", 0.5),
        ],
        "doc_id long, text string, q double",
    )
    res = curate_pipeline(
        spark, str(tmp_path / "m"), docs,
        source_fingerprint="q-v1", keep_lang=None,
        prefer_col="q", min_tokens=2, pack_budget=None,
    )
    ids = sorted(r.doc_id for r in res.documents.collect())
    assert ids == [2, 3]


# ---------------------------------------------------------------------------
# r11: persisted fingerprint stages — increments probe 8 B/doc fingerprint
# columns instead of re-scanning every generation's full text
# ---------------------------------------------------------------------------


class TestFingerprintProbes:
    def test_dedup_exact_against_fp_frame_parity(self, spark):
        """Probing a persisted fingerprint column must equal re-hashing
        the corpus text — same fingerprints, same survivors."""
        from pylluminator_spark.operators.dedup import (
            content_fp_expr,
            dedup_exact_against,
        )

        existing = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "delta epsilon")],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [
                (10, "ALPHA   beta gamma"),
                (11, "new unique document"),
                (12, "new  unique DOCUMENT"),
            ],
            ["doc_id", "text"],
        )
        via_text = sorted(
            r.doc_id for r in dedup_exact_against(batch, existing).collect()
        )
        fps = existing.select(content_fp_expr("text").alias("content_fp"))
        via_fp = sorted(
            r.doc_id
            for r in dedup_exact_against(
                batch, fps, existing_fp_col="content_fp"
            ).collect()
        )
        assert via_text == via_fp == [11]

    def test_dedup_paragraphs_against_fp_frame_parity(self, spark):
        """Array<long> and pre-exploded long fingerprint frames both
        reproduce the text-scan suppression exactly."""
        from pylluminator_spark.operators.cleanup import (
            dedup_paragraphs,
            dedup_paragraphs_against,
        )

        existing = spark.createDataFrame(
            [(1, "corpus body one\n\nshared boilerplate here")],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [
                (10, "fresh body ten\n\nshared boilerplate here"),
                (11, "batch dup para\n\nfresh body eleven"),
                (12, "batch dup para\n\nfresh body twelve"),
            ],
            ["doc_id", "text"],
        )

        def snap(df):
            return {
                r.doc_id: (r.clean_text, r.n_paras_kept, r.n_paras_dropped)
                for r in df.collect()
            }

        via_text = snap(dedup_paragraphs_against(batch, existing))
        fp_arrays = dedup_paragraphs(
            existing, keep_fps_col="para_fps"
        ).select("para_fps")
        via_arr = snap(
            dedup_paragraphs_against(
                batch, fp_arrays, existing_fps_col="para_fps"
            )
        )
        fp_longs = fp_arrays.select(
            F.explode("para_fps").alias("para_fp")
        )
        via_long = snap(
            dedup_paragraphs_against(
                batch, fp_longs, existing_fps_col="para_fp"
            )
        )
        assert via_text == via_arr == via_long

    def test_keep_fps_col_matches_resplit(self, spark):
        """The persisted para_fps must equal re-splitting + re-hashing
        the reassembled clean_text — the invariant the incremental
        probe depends on."""
        from pylluminator_spark.operators.cleanup import (
            dedup_paragraphs,
            split_paragraphs,
        )

        docs = spark.createDataFrame(
            [
                (1, "first body para\n\nshared common para"),
                (2, "shared common para\n\nsecond body para"),
                (3, ""),  # empty doc: empty fps array, still present
            ],
            ["doc_id", "text"],
        )
        out = dedup_paragraphs(docs, keep_fps_col="para_fps")
        resplit = {
            r.doc_id: sorted(r.fps)
            for r in split_paragraphs(
                out.select("doc_id", F.col("clean_text").alias("text"))
            )
            .groupBy("doc_id")
            .agg(F.collect_list(F.xxhash64("para")).alias("fps"))
            .collect()
        }
        got = {r.doc_id: sorted(r.para_fps) for r in out.collect()}
        assert got[3] == []
        for doc_id, fps in resplit.items():
            assert got[doc_id] == sorted(set(fps))

    def test_increment_plan_reads_only_fingerprint_columns(
        self, spark, docs, tmp_path
    ):
        """The physical plan of both incremental dedup stages must scan
        the generations' stage parquet WITHOUT the text column — the
        whole point of persisting fingerprints (VERDICT r10 #1): an
        increment's corpus cost is a pruned 8 B/doc (8 B/para) read."""
        from pylluminator_spark.operators.curate import (
            _stage_inc_dedup_exact,
            _stage_inc_dedup_paragraphs,
        )

        root = str(tmp_path / "m")
        base = _run(spark, docs, root)
        exact = spark.read.parquet(base.stages["dedup_exact"].path)
        paras = spark.read.parquet(base.stages["dedup_paragraphs"].path)
        gate = spark.read.parquet(base.stages["quality_gate"].path)
        batch = spark.createDataFrame(
            [(990, "aa", "fingerprint probe plan check body")],
            "doc_id long, lang string, text string",
        )
        # plan strings truncate Location paths at maxMetadataStringLength
        # (default 100) — widen so the gate-path assertion can see them
        prev_len = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
        spark.conf.set("spark.sql.maxMetadataStringLength", "2000")

        def assert_gate_only_scan(df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            scans = [
                ln for ln in plan.splitlines()
                if "FileScan" in ln and root.replace("\\", "/") in ln
            ]
            assert scans, plan  # generation parquet must appear as scans
            gate_path = base.stages["quality_gate"].path
            for ln in scans:
                schema = ln.split("ReadSchema:")[-1]
                assert "text" not in schema, ln
                # r11 fast path: the gate parquet carries the
                # fingerprints as passenger columns, so it is the ONLY
                # generation parquet in the plan — no dedup-stage scan,
                # no gate semi join (zero per-increment corpus shuffle)
                assert gate_path in ln, ln

        try:
            out_exact = _stage_inc_dedup_exact(
                spark, batch, exact, gate,
                text_col="text", doc_col="doc_id", normalize=True,
            )
            assert_gate_only_scan(out_exact)
            assert out_exact.count() == 1  # fresh doc survives
            out_paras = _stage_inc_dedup_paragraphs(
                spark, batch.select("doc_id", "text"), paras, gate,
                text_col="text", doc_col="doc_id", min_chars=0,
            )
            assert_gate_only_scan(out_paras)
        finally:
            spark.conf.set("spark.sql.maxMetadataStringLength", prev_len)

    def test_legacy_generation_without_fp_columns(
        self, spark, docs, tmp_path
    ):
        """All three generation formats suppress identically: r11 fast
        path (fingerprints on the gate), intermediate (fingerprints on
        the dedup stage only — one gate semi join), and pre-fingerprint
        legacy (text re-hash fallback)."""
        from pylluminator_spark.operators.curate import (
            _stage_inc_dedup_exact,
            _stage_inc_dedup_paragraphs,
        )

        root = str(tmp_path / "m")
        base = _run(spark, docs, root)
        exact = spark.read.parquet(base.stages["dedup_exact"].path)
        paras = spark.read.parquet(base.stages["dedup_paragraphs"].path)
        gate = spark.read.parquet(base.stages["quality_gate"].path)
        bare_gate = gate.drop("content_fp", "para_fps")
        batch = spark.createDataFrame(
            [
                # exact dup of base doc 0
                (500, "aa", f"<p>{AA_BODY} variant able</p>\n\n{BOILER}"),
                # fresh body + suppressed boilerplate paragraph
                (501, "aa", f"legacy probe fresh body\n\n{BOILER}"),
            ],
            "doc_id long, lang string, text string",
        )
        kw = dict(text_col="text", doc_col="doc_id")
        variants = [
            _stage_inc_dedup_exact(  # fast path: gate carries fps
                spark, batch, exact, gate, normalize=True, **kw
            ),
            _stage_inc_dedup_exact(  # intermediate: stage fps + semi join
                spark, batch, exact, bare_gate, normalize=True, **kw
            ),
            _stage_inc_dedup_exact(  # legacy: text re-hash
                spark, batch, exact.drop("content_fp"), bare_gate,
                normalize=True, **kw
            ),
        ]
        got = [sorted(r.doc_id for r in v.collect()) for v in variants]
        assert got[0] == got[1] == got[2] == [501]
        p_variants = [
            _stage_inc_dedup_paragraphs(
                spark, batch.select("doc_id", "text"), paras, gate,
                min_chars=0, **kw
            ),
            _stage_inc_dedup_paragraphs(
                spark, batch.select("doc_id", "text"), paras, bare_gate,
                min_chars=0, **kw
            ),
            _stage_inc_dedup_paragraphs(
                spark, batch.select("doc_id", "text"),
                paras.drop("para_fps"), bare_gate, min_chars=0, **kw
            ),
        ]
        p_got = [
            {(r.doc_id, r.text) for r in v.collect()} for v in p_variants
        ]
        assert p_got[0] == p_got[1] == p_got[2]

    def test_same_content_different_source_key_raises(
        self, spark, docs, tmp_path
    ):
        """ADVICE r10: re-running the same batch CONTENT under a
        different source_fingerprint must raise instead of silently
        treating its own earlier output as a prior generation (which
        would suppress the whole batch to empty)."""
        from pylluminator_spark.operators.curate import curate_increment

        root = str(tmp_path / "m")
        _run(spark, docs, root)
        batch = spark.createDataFrame(
            [(600, "aa", "stable fingerprint content body")],
            "doc_id long, lang string, text string",
        )
        curate_increment(
            spark, root, batch, source_fingerprint="day1",
            min_tokens=2, max_tokens=10_000,
        )
        with pytest.raises(ValueError, match="different source"):
            curate_increment(
                spark, root, batch, source_fingerprint="day1-RENAMED",
                min_tokens=2, max_tokens=10_000,
            )

    def test_gate_only_generation_still_suppresses(
        self, spark, docs, tmp_path
    ):
        """ADVICE r11 (medium): gc'ing a fingerprint-era generation's
        INTERMEDIATE stage parquet is not a loss — its gate carries
        content_fp + para_fps, so the chain walks fall back to
        gate-only probing (no warning) and planted duplicates are
        still suppressed, exactly as the _stage_quality_gate docstring
        promises."""
        import shutil
        import warnings as _warnings

        from pylluminator_spark.operators.curate import curate_increment

        root = str(tmp_path / "m")
        _run(spark, docs, root)
        b1 = spark.createDataFrame(
            [(700, "aa", "first day increment body words")],
            "doc_id long, lang string, text string",
        )
        r1 = curate_increment(
            spark, root, b1, source_fingerprint="day1",
            min_tokens=2, max_tokens=10_000,
        )
        shutil.rmtree(r1.stages["inc_dedup_exact"].path)
        shutil.rmtree(r1.stages["inc_dedup_paragraphs"].path)
        b2 = spark.createDataFrame(
            [
                # exact dup of day1 doc 700 — the gate-only generation
                # must still suppress it
                (750, "aa", "first day increment body words"),
                (751, "aa", "second day genuinely fresh body words"),
            ],
            "doc_id long, lang string, text string",
        )
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            r2 = curate_increment(
                spark, root, b2, source_fingerprint="day2",
                min_tokens=2, max_tokens=10_000,
            )
        assert not any(
            "gc'd stage parquet" in str(w.message) for w in caught
        )
        assert sorted(
            r.doc_id for r in r2.documents.collect()
        ) == [751]

    def test_gcd_generation_warns(self, spark, docs, tmp_path):
        """A generation that truly cannot be probed — a
        PRE-FINGERPRINT gate (no passenger columns) whose intermediate
        stage parquet is gone — can no longer suppress duplicates; the
        next increment must say so instead of silently skipping it."""
        import shutil

        from pylluminator_spark.operators.curate import curate_increment

        root = str(tmp_path / "m")
        _run(spark, docs, root)
        b1 = spark.createDataFrame(
            [(700, "aa", "first day increment body words")],
            "doc_id long, lang string, text string",
        )
        r1 = curate_increment(
            spark, root, b1, source_fingerprint="day1",
            min_tokens=2, max_tokens=10_000,
        )
        shutil.rmtree(r1.stages["inc_dedup_exact"].path)
        # strip the fingerprint passengers from the generation's gate
        # parquet (simulating a pre-r11 pipeline's format) — the
        # gate-only fallback cannot engage without them
        gate_path = r1.stages["inc_quality_gate"].path
        legacy = (
            spark.read.parquet(gate_path)
            .drop("content_fp", "para_fps")
            .toPandas()
        )
        shutil.rmtree(gate_path)
        spark.createDataFrame(legacy).write.parquet(gate_path)
        b2 = spark.createDataFrame(
            [(750, "aa", "second day increment body words")],
            "doc_id long, lang string, text string",
        )
        with pytest.warns(UserWarning, match="gc'd stage parquet"):
            curate_increment(
                spark, root, b2, source_fingerprint="day2",
                min_tokens=2, max_tokens=10_000,
            )


# ---------------------------------------------------------------------------
# r11: optional MinHash-LSH fuzzy (near-dup) stage in the curation chain
# ---------------------------------------------------------------------------

NEAR_A = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "startled geese scatter across the frozen pond at dawn light"
)
# one word changed -> high shingle overlap, not exact-identical
NEAR_B = NEAR_A.replace("frozen", "misty")
UNIQUE_C = (
    "completely different subject matter entirely here involving "
    "submarine cables, ocean currents and deep trench cartography"
)


class TestFuzzyStage:
    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_dedup_minhash_lsh_against_matches_union(self, spark):
        """Batch survivors of the incremental operator must equal the
        batch slice of corpus-wide dedup_minhash_lsh over the union
        (corpus ids all below batch ids)."""
        from pylluminator_spark.operators.dedup import (
            dedup_minhash_lsh,
            dedup_minhash_lsh_against,
            lsh_band_table,
            minhash_signature,
        )

        corpus = self._mk(
            spark, [(1, NEAR_A), (2, UNIQUE_C)]
        )
        batch = self._mk(
            spark,
            [
                (10, NEAR_B),            # near-dup of corpus 1 -> drop
                (11, UNIQUE_C + " x"),   # near-dup of corpus 2 -> drop
                (12, "a genuinely fresh batch document about volcanoes "
                     "and the geology of basalt columns in iceland"),
                (13, "a genuinely fresh batch document about volcanoes "
                     "and the geology of basalt pillars in iceland"),
                # 13 near-dups 12 -> lower batch id 12 survives
            ],
        )
        bands_tbl = lsh_band_table(
            minhash_signature(corpus, "text", 64, 3), bands=16
        )
        inc = sorted(
            r.doc_id
            for r in dedup_minhash_lsh_against(
                batch, bands_tbl, corpus, threshold=0.5
            ).collect()
        )
        union = dedup_minhash_lsh(
            corpus.unionByName(batch), threshold=0.5
        )
        union_batch = sorted(
            r.doc_id for r in union.collect() if r.doc_id >= 10
        )
        assert inc == union_batch == [12]
        # bands-only mode: no corpus text needed, same drops here
        bands_only = sorted(
            r.doc_id
            for r in dedup_minhash_lsh_against(
                batch, bands_tbl, None, threshold=None
            ).collect()
        )
        assert bands_only == [12]
        # threshold without corpus text is an explicit error
        with pytest.raises(ValueError, match="existing_docs"):
            dedup_minhash_lsh_against(
                batch, bands_tbl, None, threshold=0.5
            ).collect()

    def test_pipeline_fuzzy_stage(self, spark, tmp_path):
        docs = self._mk(
            spark,
            [(1, NEAR_A), (2, NEAR_B), (3, UNIQUE_C)],
        )
        res = curate_pipeline(
            spark, str(tmp_path / "m"), docs,
            source_fingerprint="fz-v1", keep_lang=None,
            fuzzy={"threshold": 0.5}, min_tokens=2, pack_budget=None,
        )
        assert "fuzzy_bands" in res.stages and "fuzzy_dedup" in res.stages
        ids = sorted(r.doc_id for r in res.documents.collect())
        assert ids == [1, 3]  # near-dup 2 dropped, lower id 1 kept
        # knob validation
        with pytest.raises(ValueError, match="unknown fuzzy knob"):
            curate_pipeline(
                spark, str(tmp_path / "m2"), docs,
                source_fingerprint="fz-v1", keep_lang=None,
                fuzzy={"thresold": 0.5}, pack_budget=None,
            )
        with pytest.raises(ValueError, match="multiple of bands"):
            curate_pipeline(
                spark, str(tmp_path / "m3"), docs,
                source_fingerprint="fz-v1", keep_lang=None,
                fuzzy={"num_hashes": 10, "bands": 16}, pack_budget=None,
            )

    def test_increment_fuzzy_probes_stored_index(self, spark, tmp_path):
        from pylluminator_spark.operators.curate import curate_increment
        from pylluminator_spark.plans.manifest import PipelineManifest

        root = str(tmp_path / "m")
        docs = self._mk(spark, [(1, NEAR_A), (2, UNIQUE_C)])
        curate_pipeline(
            spark, root, docs, source_fingerprint="fz-base",
            keep_lang=None, fuzzy={"threshold": 0.5},
            min_tokens=2, pack_budget=None,
        )
        batch = self._mk(
            spark,
            [
                (10, NEAR_B),  # near-dup of base doc 1 -> drop
                (11, "entirely new increment content mentioning railway "
                     "gauges, viaducts and the economics of freight"),
            ],
        )
        res = curate_increment(
            spark, root, batch, source_fingerprint="fz-day1",
            fuzzy={"threshold": 0.5}, min_tokens=2, max_tokens=10_000,
        )
        assert "inc_fuzzy_dedup" in res.stages
        ids = sorted(r.doc_id for r in res.documents.collect())
        assert ids == [11]
        # the base generation's band table was REUSED (cache), not
        # rebuilt: exactly two fuzzy_bands materializations exist —
        # the base's and the batch's
        m = PipelineManifest(spark, root)
        assert len(m.entries_named("fuzzy_bands")) == 2
        # chain walk resolves through the fuzzy stage: a second batch
        # deduping against BOTH generations
        b2 = self._mk(
            spark,
            [
                # near-dup of increment doc 11 -> must drop against the
                # PRIOR INCREMENT's band table
                (20, "entirely new increment content mentioning railway "
                     "gauges, viaducts and the economics of cargo"),
                (21, "fresh second-day material on beekeeping, hive "
                     "frames and the winter cluster behaviour of bees"),
            ],
        )
        r2 = curate_increment(
            spark, root, b2, source_fingerprint="fz-day2",
            fuzzy={"threshold": 0.5}, min_tokens=2, max_tokens=10_000,
        )
        assert sorted(r.doc_id for r in r2.documents.collect()) == [21]

    def test_increment_fuzzy_on_prefuzzy_base(self, spark, tmp_path):
        """Enabling fuzzy at increment time on a base run that never
        built a band table: the index is built ONCE through the
        manifest cache, then reused."""
        from pylluminator_spark.operators.curate import curate_increment
        from pylluminator_spark.plans.manifest import PipelineManifest

        root = str(tmp_path / "m")
        docs = self._mk(spark, [(1, NEAR_A), (2, UNIQUE_C)])
        curate_pipeline(
            spark, root, docs, source_fingerprint="fz-base",
            keep_lang=None, min_tokens=2, pack_budget=None,
        )
        m = PipelineManifest(spark, root)
        assert len(m.entries_named("fuzzy_bands")) == 0
        batch = self._mk(spark, [(10, NEAR_B)])
        res = curate_increment(
            spark, root, batch, source_fingerprint="fz-day1",
            fuzzy={"threshold": 0.5}, min_tokens=2, max_tokens=10_000,
        )
        assert res.documents.count() == 0  # suppressed by the base
        m = PipelineManifest(spark, root)
        assert len(m.entries_named("fuzzy_bands")) == 2

    def test_bands_only_min_rule_equals_pair_enumeration(self, spark):
        """The per-bucket-min loser rule (r12 rewrite of the bands-only
        corpus stage) must drop exactly the ids the candidate-pair
        formulation drops — checked on a corpus with a 4-member
        duplicate family, a pair, and uniques."""
        from pylluminator_spark.operators.curate import _stage_fuzzy_dedup
        from pylluminator_spark.operators.dedup import (
            lsh_band_table,
            lsh_pairs_from_bands,
            minhash_signature,
        )

        fam = "the quarterly report template with boilerplate header "
        docs = self._mk(
            spark,
            [
                (1, fam + "and totals"),
                (4, fam + "and totals"),
                (7, fam + "and totals"),
                (9, fam + "and totals"),
                (2, NEAR_A),
                (5, NEAR_A),
                (3, UNIQUE_C),
                (8, "fresh content on tidal estuaries and salt marsh "
                    "vegetation zonation gradients"),
            ],
        )
        bands_tbl = lsh_band_table(
            minhash_signature(docs, "text", 64, 3), bands=16
        )
        out = sorted(
            r.doc_id
            for r in _stage_fuzzy_dedup(
                spark, docs, bands_tbl,
                text_col="text", doc_col="doc_id",
                shingle_size=3, threshold=None,
            ).collect()
        )
        pair_losers = {
            r.id_b
            for r in lsh_pairs_from_bands(bands_tbl, "doc_id").collect()
        }
        expected = sorted(
            r.doc_id
            for r in docs.collect()
            if r.doc_id not in pair_losers
        )
        assert out == expected
        assert 1 in out and 4 not in out and 7 not in out  # family min

    def test_bands_only_stage_plan_has_no_bucket_self_join(self, spark):
        """threshold=None must not enumerate candidate pairs: the plan
        is a window min over the band table plus exactly ONE join (the
        final anti join) — a planted 500-doc hot bucket stays linear."""
        import re

        from pylluminator_spark.operators.curate import _stage_fuzzy_dedup
        from pylluminator_spark.operators.dedup import (
            lsh_band_table,
            minhash_signature,
        )

        hot = spark.range(500).select(
            F.col("id").alias("doc_id"),
            F.lit(
                "identical template body repeated across the whole "
                "scraped template family of documents"
            ).alias("text"),
        )
        bands_tbl = lsh_band_table(
            minhash_signature(hot, "text", 64, 3), bands=16
        )
        out = _stage_fuzzy_dedup(
            spark, hot, bands_tbl,
            text_col="text", doc_col="doc_id",
            shingle_size=3, threshold=None,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        joins = re.findall(
            r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"
            r"|BroadcastNestedLoopJoin|CartesianProduct",
            plan,
        )
        assert len(joins) == 1, f"expected 1 (anti) join, got: {joins}"
        assert "Window" in plan
        assert [r.doc_id for r in out.collect()] == [0]

    def test_incremental_bands_only_min_rule_equals_pair_rule(self, spark):
        """dedup_minhash_lsh_against threshold=None (r12 per-bucket-min
        rewrite) must keep exactly the batch ids the old candidate-pair
        rule kept: corpus partner in a shared bucket always wins; a
        batch partner wins iff lower id."""
        from pylluminator_spark.operators.dedup import (
            dedup_minhash_lsh_against,
            lsh_band_table,
            minhash_signature,
        )

        fam = "the recurring newsletter footer template about unsubscribe "
        corpus = self._mk(
            spark,
            [(100, fam + "links"), (101, NEAR_A), (102, UNIQUE_C)],
        )
        batch = self._mk(
            spark,
            [
                (10, fam + "links"),   # bucket-mate of corpus 100 -> drop
                (11, NEAR_B),          # near-dup of corpus 101: bands-only
                                       # drops it only if a bucket collides
                (12, "fresh batch content about glacier moraines and "
                     "outwash plain sediment sorting"),
                (13, "fresh batch content about glacier moraines and "
                     "outwash plain sediment sorting"),  # dup of 12 -> drop
            ],
        )
        idx = lsh_band_table(
            minhash_signature(corpus, "text", 64, 3), bands=16
        )
        new = sorted(
            r.doc_id
            for r in dedup_minhash_lsh_against(
                batch, idx, None, threshold=None
            ).collect()
        )
        # reference: the pre-r12 candidate-pair formulation, inline
        bb = lsh_band_table(
            minhash_signature(batch, "text", 64, 3), bands=16
        )
        n = bb.select("_band", "_band_hash", F.col("doc_id").alias("_nid"))
        o = bb.unionByName(idx).select(
            "_band", "_band_hash", F.col("doc_id").alias("_oid")
        )
        cand = (
            n.join(o, ["_band", "_band_hash"])
            .filter(F.col("_nid") != F.col("_oid"))
            .select("_nid", "_oid")
            .distinct()
            .collect()
        )
        batch_ids = {10, 11, 12, 13}
        losers = {
            c._nid
            for c in cand
            if c._oid not in batch_ids or c._oid < c._nid
        }
        expected = sorted(batch_ids - losers)
        assert new == expected
        assert 10 not in new and 13 not in new and 12 in new

    def test_incremental_bands_only_plan_aggregates_buckets(self, spark):
        """The bands-only incremental plan carries the per-bucket
        winner aggregate (no candidate-pair distinct): the executed
        plan shows the _wkey min aggregate and never a CartesianProduct."""
        from pylluminator_spark.operators.dedup import (
            dedup_minhash_lsh_against,
            lsh_band_table,
            minhash_signature,
        )

        corpus = self._mk(spark, [(100, NEAR_A), (101, UNIQUE_C)])
        batch = self._mk(spark, [(10, NEAR_B), (11, UNIQUE_C + " y")])
        idx = lsh_band_table(
            minhash_signature(corpus, "text", 64, 3), bands=16
        )
        out = dedup_minhash_lsh_against(batch, idx, None, threshold=None)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "_wkey" in plan
        assert "CartesianProduct" not in plan
        out.collect()

    def test_inc_fuzzy_probes_persisted_gate_bands_only(
        self, spark, tmp_path
    ):
        """r12: each generation persists a GATE-FILTERED band stage
        (gate_bands), so a bands-only increment's plan scans that
        parquet and nothing else of the generation — no per-increment
        band ⋉ gate semi join, no gate or exact-stage read."""
        from pylluminator_spark.operators.curate import (
            _stage_inc_fuzzy_dedup,
            curate_increment,
        )
        from pylluminator_spark.operators.dedup import (
            lsh_band_table,
            minhash_signature,
        )
        from pylluminator_spark.plans.manifest import PipelineManifest

        root = str(tmp_path / "m")
        docs = self._mk(spark, [(1, NEAR_A), (2, UNIQUE_C)])
        base = curate_pipeline(
            spark, root, docs, source_fingerprint="gb-base",
            keep_lang=None, fuzzy={"threshold": None},
            min_tokens=2, pack_budget=None,
        )
        assert "gate_bands" in base.stages
        batch = self._mk(
            spark,
            [(10, NEAR_A), (11, "fresh content about canal locks and "
                                "the hydraulics of mitre gates")],
        )
        bb = lsh_band_table(
            minhash_signature(batch, "text", 64, 3), bands=16
        )
        out = _stage_inc_fuzzy_dedup(
            spark, batch, bb,
            spark.read.parquet(base.stages["gate_bands"].path),
            spark.read.parquet(base.stages["dedup_exact"].path),
            spark.read.parquet(base.stages["quality_gate"].path),
            text_col="text", doc_col="doc_id",
            shingle_size=3, threshold=None,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        scans = [
            ln for ln in plan.splitlines()
            if "FileScan" in ln and root.replace("\\", "/") in ln
        ]
        assert scans
        # every generation scan reads band rows only — never the gate
        # or exact stage's text/token columns (paths are truncated in
        # the plan string, so assert on ReadSchema)
        for ln in scans:
            schema = ln.split("ReadSchema:")[-1]
            assert "text" not in schema and "n_tokens" not in schema, ln
            assert "_band" in schema, f"non-band generation scan: {ln}"
        assert sorted(r.doc_id for r in out.collect()) == [11]
        # the composed increment wires the same stage: one gate_bands
        # per generation, the increment's own added after its gate
        res = curate_increment(
            spark, root, batch, source_fingerprint="gb-day1",
            fuzzy={"threshold": None}, min_tokens=2, max_tokens=10_000,
        )
        assert sorted(
            r.doc_id for r in res.documents.collect()
        ) == [11]
        m = PipelineManifest(spark, root)
        # base's (cache-hit by the increment) + the increment's own
        assert len(m.entries_named("gate_bands")) == 2

    def test_increment_dedup_knob_mismatch_raises(self, spark, tmp_path):
        """r12: an increment whose normalize_exact / para_min_chars
        differ from the referenced generations' recorded stage params
        raises (it would probe fingerprints computed in another
        normalization space); a fuzzy knob mismatch only warns — the
        band index is content-addressed by knob and rebuilds."""
        import warnings as _warnings

        from pylluminator_spark.operators.curate import curate_increment

        root = str(tmp_path / "m")
        docs = self._mk(spark, [(1, NEAR_A), (2, UNIQUE_C)])
        curate_pipeline(
            spark, root, docs, source_fingerprint="kb-base",
            keep_lang=None, normalize_exact=True, para_min_chars=0,
            fuzzy={"threshold": 0.5}, min_tokens=2, pack_budget=None,
        )
        batch = self._mk(spark, [(10, NEAR_B)])
        with pytest.raises(ValueError, match="normalize_exact"):
            curate_increment(
                spark, root, batch, source_fingerprint="kb-day1",
                normalize_exact=False, min_tokens=2, max_tokens=10_000,
            )
        with pytest.raises(ValueError, match="para_min_chars"):
            curate_increment(
                spark, root, batch, source_fingerprint="kb-day1",
                para_min_chars=25, min_tokens=2, max_tokens=10_000,
            )
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            res = curate_increment(
                spark, root, batch, source_fingerprint="kb-day1",
                fuzzy={"threshold": 0.9, "bands": 32},
                min_tokens=2, max_tokens=10_000,
            )
        assert any("fuzzy knobs" in str(w.message) for w in caught)
        res.documents.collect()  # mismatch warns but still runs
        # matching knobs (same-batch re-run keeps its source key): no
        # error, no fuzzy warning
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            res2 = curate_increment(
                spark, root, batch, source_fingerprint="kb-day1",
                fuzzy={"threshold": 0.5}, min_tokens=2,
                max_tokens=10_000,
            )
            res2.documents.collect()
        assert not any("fuzzy knobs" in str(w.message) for w in caught)

    def test_verified_path_max_bucket_cap_warns_and_bounds(self, spark):
        """With verification on, a planted hot bucket (identical docs
        -> every band bucket holds all of them) is SKIPPED under
        max_bucket with a warning counting capped buckets; pairs in
        under-cap buckets still verify."""
        import warnings as _warnings

        from pylluminator_spark.operators.dedup import (
            dedup_minhash_lsh_against,
            lsh_band_table,
            lsh_pairs_from_bands,
            minhash_signature,
        )

        hot = spark.range(50).select(
            (F.col("id") + 100).alias("doc_id"),
            F.lit(
                "boilerplate legal disclaimer repeated verbatim across "
                "the scraped template family"
            ).alias("text"),
        )
        small = self._mk(spark, [(1, NEAR_A), (2, NEAR_B)])
        corpus = hot.unionByName(small)
        bands_tbl = lsh_band_table(
            minhash_signature(corpus, "text", 64, 3), bands=16
        )
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            pairs = lsh_pairs_from_bands(
                bands_tbl, "doc_id", max_bucket=10
            ).collect()
        msgs = [str(w.message) for w in caught]
        assert any("skipping 16 bucket(s)" in m for m in msgs), msgs
        got = {(p.id_a, p.id_b) for p in pairs}
        assert (1, 2) in got  # under-cap bucket pairs survive
        assert all(a < 100 for a, b in got)  # hot-family pairs capped
        # incremental verified path: cap engages on the union side
        batch = self._mk(spark, [(200, NEAR_A + " z"), (201, UNIQUE_C)])
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            kept = sorted(
                r.doc_id
                for r in dedup_minhash_lsh_against(
                    batch,
                    bands_tbl,
                    corpus,
                    threshold=0.5,
                    max_bucket=10,
                ).collect()
            )
        assert any("dedup_minhash_lsh_against" in str(w.message)
                   for w in caught)
        assert kept == [201]  # 200 near-dups corpus 1 via small bucket


# ---------------------------------------------------------------------------
# r11: optional quality stages — ccnet paragraph cut, gopher thresholds,
# pre-fit classifier — composed through the manifest
# ---------------------------------------------------------------------------

GOOD_BODY = (
    "the research vessel departed the northern harbour before dawn and "
    "charted the shallow banks for three weeks while the crew logged "
    "water temperature salinity and current speed at every station"
)


class TestQualityStages:
    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_gopher_knob_drops_planted_garbage(self, spark, tmp_path):
        docs = self._mk(
            spark,
            [
                (1, GOOD_BODY),
                # planted: no stopwords, short tokens, digit soup ->
                # fails alpha ratio / stopword rules
                (2, "11 22 33 44 55 66 77 88 99 00 11 22 33 44 55"),
                # planted: one word repeated -> dup_word_fraction ~ 1
                (3, ("lorem " * 40).strip()),
            ],
        )
        res = curate_pipeline(
            spark, str(tmp_path / "m"), docs,
            source_fingerprint="gq-v1", keep_lang=None,
            min_tokens=2, pack_budget=None,
            gopher={"min_words": 5, "min_stopword_hits": 1},
        )
        ids = sorted(r.doc_id for r in res.documents.collect())
        assert ids == [1]
        # gate survivors ARE the curated documents (suppression
        # invariant): the quality_gate stage parquet equals documents
        gate_ids = sorted(
            r.doc_id
            for r in spark.read.parquet(
                res.stages["quality_gate"].path
            ).collect()
        )
        assert gate_ids == [1]
        with pytest.raises(ValueError, match="unknown gopher knob"):
            curate_pipeline(
                spark, str(tmp_path / "m2"), docs,
                source_fingerprint="gq-v1", keep_lang=None,
                gopher={"min_wordz": 5}, pack_budget=None,
            )

    def test_classifier_knob(self, spark, tmp_path):
        docs = self._mk(
            spark,
            [
                (1, GOOD_BODY),
                (2, "!!! ??? ;;; ,,, ... !!! ??? ;;; ,,, ... !!! ???"),
            ],
        )
        # a hand-set model: punish punctuation ratio hard
        clf = {
            "weights": {"punct_ratio": -40.0, "stopword_ratio": 4.0},
            "intercept": 2.0,
            "threshold": 0.5,
        }
        res = curate_pipeline(
            spark, str(tmp_path / "m"), docs,
            source_fingerprint="cl-v1", keep_lang=None,
            min_tokens=2, pack_budget=None, classifier=clf,
        )
        assert sorted(r.doc_id for r in res.documents.collect()) == [1]
        with pytest.raises(ValueError, match="unknown classifier feature"):
            curate_pipeline(
                spark, str(tmp_path / "m2"), docs,
                source_fingerprint="cl-v1", keep_lang=None,
                classifier={"weights": {"nope": 1.0}}, pack_budget=None,
            )

    def test_ccnet_stage_cuts_tail_paragraphs(self, spark, tmp_path):
        # corpus where each doc = a fluent paragraph + a rare-word
        # gibberish paragraph; with a reference LM fit on fluent text
        # the gibberish ranks tail and is cut
        fluent = [
            "the quiet harbour opened before the morning ferry arrived",
            "the morning ferry arrived while the quiet harbour slept",
            "before the ferry arrived the harbour pilots checked the tide",
            "the tide turned and the pilots guided the ferry to the quay",
        ]
        gibberish = [
            "zxqv bnmt krrw ploo vvxz qqrt",
            "mmze ttlo ppra zzkc wwqu hhgb",
        ]
        rows = [
            (i, f"{fluent[i]}\n\n{gibberish[i % 2]} extra{i}")
            for i in range(4)
        ]
        docs = self._mk(spark, rows)
        ref = self._mk(
            spark, [(100 + i, t) for i, t in enumerate(fluent * 3)]
        )
        res = curate_pipeline(
            spark, str(tmp_path / "m"), docs,
            source_fingerprint="cc-v1", keep_lang=None,
            min_tokens=2, pack_budget=None,
            ccnet={"keep": ["head"], "keep_short": False,
                   "head_frac": 0.5, "middle_frac": 0.25},
            ccnet_reference=ref,
        )
        assert "ccnet_filter" in res.stages
        out = {r.doc_id: r.text for r in res.documents.collect()}
        # fluent paragraphs survive; at least the head cut dropped the
        # bottom half of paragraphs by perplexity — no gibberish in any
        # surviving doc's head text
        for i, t in out.items():
            assert fluent[i].split()[1] in t
        joined = " ".join(out.values())
        assert "zxqv" not in joined and "mmze" not in joined
        with pytest.raises(ValueError, match="ccnet_reference"):
            curate_pipeline(
                spark, str(tmp_path / "m2"), docs,
                source_fingerprint="cc-v1", keep_lang=None,
                ccnet_reference=ref, pack_budget=None,
            )

    def test_increment_with_quality_stages(self, spark, tmp_path):
        """The quality stages compose in increments, and the chain walk
        resolves generations THROUGH the inc_ccnet_filter stage; the
        ccnet stage's para_fps (post-cut survivors) is the paragraph
        suppression reference — a paragraph ccnet dropped from the
        corpus must not suppress new content."""
        from pylluminator_spark.operators.curate import curate_increment

        root = str(tmp_path / "m")
        shared = "a steady shared paragraph that repeats across documents"
        kept_doc = f"{GOOD_BODY}\n\n{shared}"
        docs = self._mk(spark, [(1, kept_doc), (2, GOOD_BODY + " two")])
        curate_pipeline(
            spark, root, docs, source_fingerprint="q-base",
            keep_lang=None, min_tokens=2, pack_budget=None,
            ccnet={"keep": ["head", "middle"], "keep_short": False,
                   "head_frac": 0.9, "middle_frac": 0.05},
            gopher={"min_words": 3, "min_stopword_hits": 1},
        )
        batch = self._mk(
            spark,
            [
                # carries the base's surviving shared paragraph -> that
                # paragraph suppressed, fresh body kept
                (10, f"fresh incremental reporting body arrived with the "
                     f"evening tide and salt spray\n\n{shared}"),
                # planted gopher garbage -> dropped by the inc gate
                (11, "00 11 22 33 44 55 66 77 88 99"),
            ],
        )
        res = curate_increment(
            spark, root, batch, source_fingerprint="q-day1",
            min_tokens=2, max_tokens=10_000,
            ccnet={"keep": ["head", "middle"], "keep_short": False,
                   "head_frac": 0.9, "middle_frac": 0.05},
            gopher={"min_words": 3, "min_stopword_hits": 1},
        )
        assert "inc_ccnet_filter" in res.stages
        out = {r.doc_id: r.text for r in res.documents.collect()}
        assert sorted(out) == [10]
        assert shared not in out[10]
        assert "evening tide" in out[10]


def test_increment_pack_with_fully_suppressed_batch(spark, docs, tmp_path):
    """A batch whose every document is suppressed (all exact dups of the
    base) must pack to an empty frame without errors — the running sum
    over zero rows and the id-ordering validation both see no rows
    (VERDICT r10 #7 review spot)."""
    from pylluminator_spark.operators.curate import curate_increment

    root = str(tmp_path / "m")
    _run(spark, docs, root)  # pack_budget=40
    batch = spark.createDataFrame(
        [(5000, "aa", f"<p>{AA_BODY} variant able</p>\n\n{BOILER}")],
        "doc_id long, lang string, text string",
    )
    res = curate_increment(
        spark, root, batch, source_fingerprint="empty-day",
        min_tokens=2, max_tokens=10_000, pack_budget=40,
    )
    assert res.documents.count() == 0
    assert res.sequences is not None
    assert res.sequences.count() == 0


# ---------------------------------------------------------------------------
# r11: domain cap / blocklist policy stage
# ---------------------------------------------------------------------------


class TestDomainStage:
    def _mk(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )

    def test_pipeline_cap_and_blocklist(self, spark, tmp_path):
        rows = [
            (i, "bulk.example", f"bulk domain doc body number {i} words")
            for i in range(10)
        ]
        rows += [
            (100, "spam.example", "blocked domain document body words"),
            (101, "nice.example", "a perfectly fine document body here"),
        ]
        docs = self._mk(spark, rows)
        res = curate_pipeline(
            spark, str(tmp_path / "m"), docs,
            source_fingerprint="dom-v1", keep_lang=None,
            domain_cap=3, domain_blocklist=["spam.example"],
            min_tokens=2, pack_budget=None,
        )
        assert "domain_filter" in res.stages
        out = {r.doc_id for r in res.documents.collect()}
        assert 100 not in out              # blocklisted
        assert 101 in out                  # untouched domain
        assert len(out & set(range(10))) == 3  # capped to 3
        # DataFrame-shaped blocklist gives the same drop, and the
        # keyed-hash cap sample is deterministic across runs
        bl = spark.createDataFrame(
            [("spam.example",)], ["domain"]
        )
        res2 = curate_pipeline(
            spark, str(tmp_path / "m2"), docs,
            source_fingerprint="dom-v1", keep_lang=None,
            domain_cap=3, domain_blocklist=bl,
            min_tokens=2, pack_budget=None,
        )
        assert {r.doc_id for r in res2.documents.collect()} == out

    def test_increment_blocklist_and_batch_root_stability(
        self, spark, tmp_path
    ):
        """Domain knobs on an increment must not change the batch's
        frame-source identity: a re-run of the SAME batch with a
        different blocklist resolves to the same root (no
        self-suppression), and blocked rows drop before dedup."""
        from pylluminator_spark.operators.curate import curate_increment

        root = str(tmp_path / "m")
        base = self._mk(
            spark,
            [(1, "a.example", "the base corpus document body words")],
        )
        curate_pipeline(
            spark, root, base, source_fingerprint="dom-base",
            keep_lang=None, min_tokens=2, pack_budget=None,
        )
        batch = self._mk(
            spark,
            [
                (10, "spam.example", "spam content body words here"),
                (11, "ok.example", "a fresh increment document body"),
            ],
        )
        r1 = curate_increment(
            spark, root, batch, source_fingerprint="dom-day1",
            domain_blocklist=["spam.example"],
            min_tokens=2, max_tokens=10_000,
        )
        assert {r.doc_id for r in r1.documents.collect()} == {11}
        # same batch, different policy: the chain re-keys (recompute)
        # but the batch root is still the frame source — its own prior
        # run is excluded and the batch does NOT self-suppress
        r2 = curate_increment(
            spark, root, batch, source_fingerprint="dom-day1",
            domain_blocklist=["spam.example", "other.example"],
            min_tokens=2, max_tokens=10_000,
        )
        assert {r.doc_id for r in r2.documents.collect()} == {11}


def test_all_optional_stages_compose(spark, tmp_path):
    """Kitchen sink: domain filter + langid + exact dedup + fuzzy +
    paragraph dedup + ccnet + gate(gopher) + pack all enabled in the
    base, then an increment with the same knobs — exercises the chain
    walk through every optional stage at once, and a second identical
    run of each must be pure cache."""
    from pylluminator_spark.operators.curate import (
        curate_increment,
        curate_pipeline,
    )

    good = (
        "the steady research narrative continued through the harbour "
        "season while the crew kept careful notes about the tides"
    )
    rows = []
    for i in range(6):
        rows.append(
            (i, "a.example", "aa",
             f"{AA_BODY} chapter {'able ' * (i + 1)}\n\n{good}")
        )
    rows.append((50, "spam.example", "aa", f"{AA_BODY} spam body\n\n{good}"))
    rows.append((60, "a.example", "zz", f"{ZZ_BODY} zone\n\n{ZZ_BODY} more"))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )
    kw = dict(
        keep_lang="aa",
        langid_buckets=256,
        domain_blocklist=["spam.example"],
        fuzzy={"threshold": 0.5},
        ccnet={"keep": ["head", "middle"], "keep_short": True,
               "head_frac": 0.5, "middle_frac": 0.4},
        gopher={"min_words": 3, "min_stopword_hits": 1},
        min_tokens=2,
        max_tokens=10_000,
    )
    root = str(tmp_path / "m")
    res = curate_pipeline(
        spark, root, docs, source_fingerprint="sink-v1",
        pack_budget=40, **kw
    )
    expected_stages = {
        "docs", "domain_filter", "langid_filter", "dedup_exact",
        "fuzzy_bands", "fuzzy_dedup", "dedup_paragraphs", "ccnet_filter",
        "quality_gate", "pack",
    }
    assert expected_stages <= set(res.stages)
    ids = {r.doc_id for r in res.documents.collect()}
    assert 50 not in ids  # blocklisted domain
    assert 60 not in ids  # language filter
    assert ids  # something survives
    rerun = curate_pipeline(
        spark, root, docs, source_fingerprint="sink-v1",
        pack_budget=40, **kw
    )
    assert all(rerun.from_cache.values())
    batch = spark.createDataFrame(
        [
            (100, "a.example", "aa",
             f"a genuinely fresh increment chapter about beacons and "
             f"signal lamps along the coast\n\n{good}"),
            (101, "spam.example", "aa", "blocked increment body words"),
        ],
        "doc_id long, source string, lang string, text string",
    )
    inc = curate_increment(
        spark, root, batch, source_fingerprint="sink-day1",
        pack_budget=40, **kw
    )
    assert "inc_fuzzy_dedup" in inc.stages
    assert "inc_ccnet_filter" in inc.stages
    assert "inc_domain_filter" in inc.stages
    out = {r.doc_id: r.text for r in inc.documents.collect()}
    assert sorted(out) == [100]
    assert good not in out[100]  # shared paragraph suppressed
    inc2 = curate_increment(
        spark, root, batch, source_fingerprint="sink-day1",
        pack_budget=40, **kw
    )
    assert all(
        v for k, v in inc2.from_cache.items() if k.startswith("inc_")
    )


# ---------------------------------------------------------------------------
# r12: storage reclamation — curate_gc keeps gates + band indexes only
# ---------------------------------------------------------------------------


class TestCurateGC:
    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_gc_reclaims_intermediates_and_increments_still_work(
        self, spark, tmp_path
    ):
        import os
        import warnings as _warnings

        from pylluminator_spark.operators.curate import (
            curate_gc,
            curate_increment,
        )
        from pylluminator_spark.plans.manifest import PipelineManifest

        root = str(tmp_path / "m")
        docs = self._mk(spark, [(1, NEAR_A), (2, UNIQUE_C)])
        base = curate_pipeline(
            spark, root, docs, source_fingerprint="gc-base",
            keep_lang=None, fuzzy={"threshold": None},
            min_tokens=2, pack_budget=None,
        )
        b1 = self._mk(
            spark,
            [(10, "first increment content about aqueduct maintenance "
                  "schedules and roman concrete formulas")],
        )
        r1 = curate_increment(
            spark, root, b1, source_fingerprint="gc-day1",
            fuzzy={"threshold": None}, min_tokens=2, max_tokens=10_000,
        )
        # dry run: reports, deletes nothing
        plan = curate_gc(
            spark, root, keep_latest_base=False, dry_run=True
        )
        assert plan["removed"] and not plan["skipped"]
        assert os.path.exists(base.stages["dedup_exact"].path)
        stats = curate_gc(spark, root, keep_latest_base=False)
        assert sorted(stats["removed"]) == sorted(plan["removed"])
        for name in ("dedup_exact", "fuzzy_dedup", "dedup_paragraphs"):
            assert not os.path.exists(base.stages[name].path), name
        assert not os.path.exists(base.stages["fuzzy_bands"].path)
        assert not os.path.exists(r1.stages["inc_dedup_exact"].path)
        # the probe surfaces survive
        assert os.path.exists(base.stages["quality_gate"].path)
        assert os.path.exists(base.stages["gate_bands"].path)
        assert os.path.exists(r1.stages["inc_quality_gate"].path)
        assert os.path.exists(r1.stages["gate_bands"].path)
        # post-gc increment: exact dups of BOTH generations and a
        # near-dup of the base all suppressed, no gc warnings, and the
        # stored gate_bands are reused (the only live fuzzy_bands
        # afterwards is the new batch's own — nothing re-banded)
        b2 = self._mk(
            spark,
            [
                (20, NEAR_A),       # exact dup of base doc 1
                (21, NEAR_B),       # near-dup of base doc 1 (bands)
                (22, "first increment content about aqueduct "
                     "maintenance schedules and roman concrete "
                     "formulas"),   # exact dup of increment doc 10
                (23, "genuinely fresh post-gc content about tide "
                     "mills and medieval grain milling output"),
            ],
        )
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            r2 = curate_increment(
                spark, root, b2, source_fingerprint="gc-day2",
                fuzzy={"threshold": None}, min_tokens=2,
                max_tokens=10_000,
            )
        assert not any(
            "gc'd stage parquet" in str(w.message) for w in caught
        )
        assert sorted(
            r.doc_id for r in r2.documents.collect()
        ) == [23]
        m = PipelineManifest(spark, root)
        live_bands = m.entries_named("fuzzy_bands")
        assert len(live_bands) == 1  # the new batch's own, nothing else

    def test_gc_protects_latest_base_and_skips_legacy(
        self, spark, tmp_path
    ):
        import os
        import shutil

        from pylluminator_spark.operators.curate import curate_gc

        root = str(tmp_path / "m")
        docs = self._mk(spark, [(1, NEAR_A), (2, UNIQUE_C)])
        base = curate_pipeline(
            spark, root, docs, source_fingerprint="gc2-base",
            keep_lang=None, min_tokens=2, pack_budget=None,
        )
        stats = curate_gc(spark, root)  # keep_latest_base=True
        assert stats["removed"] == []
        assert os.path.exists(base.stages["dedup_exact"].path)
        # a legacy gate (no fingerprint passengers) is never reclaimed
        gate_path = base.stages["quality_gate"].path
        legacy = (
            spark.read.parquet(gate_path)
            .drop("content_fp", "para_fps")
            .toPandas()
        )
        shutil.rmtree(gate_path)
        spark.createDataFrame(legacy).write.parquet(gate_path)
        stats = curate_gc(spark, root, keep_latest_base=False)
        assert stats["removed"] == []
        assert stats["skipped"] == [base.stages["quality_gate"].key]
        assert os.path.exists(base.stages["dedup_exact"].path)
