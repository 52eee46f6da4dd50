"""DSIR data selection (Xie et al. 2023) — ``pipeline/curation.py``.

The full method is oracle-gated by x45 (scores) and x47 (resampling).
These pin what the oracles cannot see:

* the ONE histogram kernel behind ``train_dsir``, ``DsirModel.log_weights``
  and ``dsir_fit_score`` against the native explode reference
  ``_dsir_reference``: λ bit-identical, scores within float64
  summation-order noise, ``n_feats`` exact;
* model contracts (target separation, feature counts, save/load);
* plan shapes (one Python node per plan, the x45 histogram cache);
* resampling: repartition/salt stability, the boundary gaps that make
  the top-k immune to summation noise, and the token-budget regimes.
"""

from __future__ import annotations

import math
import statistics

import pytest
from pyspark.sql import functions as F

from bertrand_spark.pipeline import curation as CU
from bertrand_spark.sources import read_table

# hostile whitespace, NULL text, NULL predicate, empty and repeated docs
ROWS = [
    (0, "en", "the cat sat on the mat"),
    (1, "en", "a dog  and\ta cat"),
    (2, "de", "der hund und die katze"),
    (3, "fr", "le chat est la"),
    (4, "en", ""),
    (5, None, "stray null lang row"),
    (6, "en", "the the the repeated the"),
    (7, "en", "tab\tand\nnewline  runs"),
    (8, "de", None),
]
SCHEMA = "doc_id long, lang string, text string"


def _en():
    """The x45/x47 target predicate: the English slice."""
    return F.col("lang") == "en"


def _python_nodes(df) -> int:
    """Distinct Python-boundary nodes in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(
        {
            ln.strip(" :+-*")
            for ln in plan.splitlines()
            if "MapInPandas" in ln
            or "ArrowEvalPython" in ln
            or "BatchEvalPython" in ln
        }
    )


def _lam(model) -> dict:
    return {r["bucket"]: r["lam"] for r in model.lam.collect()}


class TestDsir:
    @pytest.fixture(scope="class")
    def model_and_docs(self, spark, sf_dir):
        d = read_table(spark, sf_dir, "documents")
        m = CU.train_dsir(d.filter(_en()), d, buckets=512, alpha=1.0)
        return m, d

    def test_target_slice_separates(self, spark, model_and_docs):
        m, d = model_and_docs
        w = m.log_weights(d).join(d.select("doc_id", "lang"), "doc_id")
        rows = w.select("lang", "dsir_logw").collect()
        en = [r["dsir_logw"] for r in rows if r["lang"] == "en"]
        other = [r["dsir_logw"] for r in rows if r["lang"] != "en"]
        assert statistics.median(en) > 0 > statistics.median(other)
        # the keep rule is exactly the sign
        kept = {r["doc_id"] for r in m.log_weights(d).filter("keep").collect()}
        pos = {
            r["doc_id"]
            for r in m.log_weights(d).filter(F.col("dsir_logw") > 0).collect()
        }
        assert kept == pos

    def test_feature_count_is_2n_minus_1(self, spark, model_and_docs):
        m, _ = model_and_docs
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "solo")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["n_feats"] for r in m.log_weights(df).collect()}
        assert got == {1: 7, 2: 1}  # 4 unigrams + 3 bigrams; 1 + 0

    def test_save_load_scores_identical(self, spark, model_and_docs, tmp_path):
        m, d = model_and_docs
        p = str(tmp_path / "dsir")
        m.save(p)
        m2 = CU.DsirModel.load(spark, p)
        a = {r["doc_id"]: r["dsir_logw"] for r in m.log_weights(d).collect()}
        b = {r["doc_id"]: r["dsir_logw"] for r in m2.log_weights(d).collect()}
        assert a == b  # bit-identical: same λ rows, same plan


class TestDsirOnePassTraining:
    def test_lambda_table_identical_to_two_pass(self, spark):
        d = spark.createDataFrame(ROWS[:7], SCHEMA)
        two = CU.train_dsir(d.filter(_en()), d, buckets=64, alpha=1.0)
        one = CU.train_dsir(
            d.filter(_en()), d, buckets=64, alpha=1.0, target_pred=_en()
        )
        assert _lam(two) == _lam(one)  # exact float equality

    def test_null_predicate_rows_count_raw_only(self, spark):
        """A NULL predicate (lang IS NULL) must count toward raw and
        never toward target — filter semantics, not three-valued sum."""
        d = spark.createDataFrame(
            [(0, "en", "alpha beta"), (1, None, "alpha beta")], SCHEMA
        )
        two = CU.train_dsir(d.filter(_en()), d, buckets=16)
        one = CU.train_dsir(None, d, buckets=16, target_pred=_en())
        ref, _ = CU._dsir_reference(d, _en(), buckets=16)
        assert sorted(two.lam.collect()) == sorted(one.lam.collect())
        assert sorted(ref.lam.collect()) == sorted(one.lam.collect())


class TestDsirKernelTraining:
    def test_kernel_profile_equals_native_explode(self, spark):
        """The kernel's integer profiles equal the native explode
        reference's, so the λ table is EXACTLY equal (same ints, same
        float arithmetic)."""
        d = spark.createDataFrame(ROWS, SCHEMA)
        ref, _ = CU._dsir_reference(d, _en(), buckets=64)
        ker = CU.train_dsir(None, d, buckets=64, target_pred=_en())
        assert _lam(ref) == _lam(ker)


class TestOneKernel:
    def test_one_kernel_behind_every_entry_point(
        self, spark, monkeypatch, tmp_path
    ):
        """train_dsir (both modes) and log_weights each plan exactly one
        Python node; both training modes give the same λ; a saved and
        reloaded model scores like dsir_fit_score."""
        d = spark.createDataFrame(ROWS, SCHEMA)
        cls = type(d)
        collect = cls.collect
        planned = []

        def spy(df):
            planned.append(_python_nodes(df))
            return collect(df)

        monkeypatch.setattr(cls, "collect", spy)
        two = CU.train_dsir(d.filter(_en()), d, buckets=64)
        one = CU.train_dsir(None, d, buckets=64, target_pred=_en())
        monkeypatch.undo()
        assert planned == [1, 1]  # one collected frame per mode
        assert _lam(two) == _lam(one)

        assert _python_nodes(one.log_weights(d)) == 1

        p = str(tmp_path / "dsir")
        one.save(p)
        loaded = CU.DsirModel.load(spark, p)
        got = {r["doc_id"]: r for r in loaded.log_weights(d).collect()}
        _, scored = CU.dsir_fit_score(d, _en(), buckets=64)
        try:
            want = {r["doc_id"]: r for r in scored.collect()}
        finally:
            spark.catalog.clearCache()
        assert set(got) == set(want)
        for did, r in got.items():
            assert r["n_feats"] == want[did]["n_feats"]
            assert math.isclose(
                r["dsir_logw"], want[did]["dsir_logw"],
                rel_tol=1e-12, abs_tol=1e-12,
            ), did


class TestDsirFitScoreParity:
    ROWS = [
        (1, "en", "the cat sat on the mat"),
        (2, "de", "der Hund lief  über\tdie Straße"),
        (3, "en", "a b a b a b a b"),
        (4, "en", None),
        (5, "fr", ""),
        (6, "en", "  leading and trailing  "),
        (7, "xx", "tok"),
    ]

    def test_lambda_bit_identical_to_reference(self, spark):
        d = spark.createDataFrame(self.ROWS, SCHEMA)
        ref, _ = CU._dsir_reference(d, _en(), buckets=64)
        model, _ = CU.dsir_fit_score(d, _en(), buckets=64)
        try:
            assert _lam(ref) == _lam(model)  # same ints, same math
        finally:
            spark.catalog.clearCache()

    def test_scores_match_reference(self, spark):
        d = spark.createDataFrame(self.ROWS, SCHEMA)
        _, ref_scored = CU._dsir_reference(d, _en(), buckets=64)
        ref = {r["doc_id"]: r for r in ref_scored.collect()}
        _, scored = CU.dsir_fit_score(d, _en(), buckets=64)
        try:
            got = {r["doc_id"]: r for r in scored.collect()}
            assert set(got) == set(ref)  # same doc set (feats > 0 only)
            for did, r in got.items():
                e = ref[did]
                assert r["n_feats"] == e["n_feats"]  # exact int
                assert math.isclose(
                    r["dsir_logw"], e["dsir_logw"],
                    rel_tol=1e-12, abs_tol=1e-12,
                ), (did, r["dsir_logw"], e["dsir_logw"])
                assert r["keep"] == e["keep"]
        finally:
            spark.catalog.clearCache()

    def test_keep_boundary_dwarfs_summation_noise(self, spark, sf_dir):
        """``keep`` = (Σ count·λ > 0): the reordered sum differs from
        the per-occurrence sum by ~1e-15 relative, so the sign can only
        flip if some document's |logw| sits at that scale.  Re-measure
        the minimum |logw| on every run (the x16/x47 spectral-gap
        standard) instead of trusting a one-off check."""
        from bertrand_spark.plans.queries import _tw

        d = _tw(spark, sf_dir, "documents")
        _, scored = CU.dsir_fit_score(d, _en(), buckets=512, alpha=1.0)
        try:
            rows = scored.select("dsir_logw", "n_feats").collect()
            assert rows
            min_abs = min(abs(r["dsir_logw"]) for r in rows)
            scale = max(
                abs(r["dsir_logw"]) * 1e-12 + r["n_feats"] * 1e-13
                for r in rows
            )
            assert min_abs > 100 * scale, (min_abs, scale)
        finally:
            spark.catalog.clearCache()

    def test_x45_x47_single_kernel_pass(self, spark, sf_dir):
        """Exactly ONE Python-boundary node in each query's plan
        (training and scoring share it via the histogram cache)."""
        from bertrand_spark.plans.queries import QUERIES

        for name in ("x45_dsir_weights", "x47_dsir_resample"):
            df = QUERIES[name](spark, sf_dir)
            try:
                n = _python_nodes(df)
                assert n == 1, f"{name}: {n} Python nodes"
            finally:
                spark.catalog.clearCache()


class TestX47GumbelBoundaryGap:
    """x47's per-doc λ sums differ from the native reference's by
    float64 summation noise only, so its top-100 selection is unchanged
    IFF the Gumbel-key gaps at and inside the boundary dwarf ulp scale.
    Re-measure the gap on every run (the x16/x05 spectral-gap standard)
    instead of trusting the one-off measurement."""

    def test_boundary_and_adjacent_gaps_dwarf_ulp(self, spark, sf_dir):
        from bertrand_spark.plans.queries import _tw  # same read as x47

        d = _tw(spark, sf_dir, "documents")
        # pull EVERY doc's key (small at test SF) from the native
        # reference and measure the boundary the way the query's LIMIT
        # does
        _, scored = CU._dsir_reference(d, _en(), buckets=512, alpha=1.0)
        keyed = CU.dsir_resample(scored, 10**6).collect()
        keys = sorted((r["gumbel_key"] for r in keyed), reverse=True)
        n = min(100, len(keys) - 1)
        boundary = keys[n - 1] - keys[n]
        min_adj = min(keys[i] - keys[i + 1] for i in range(n))
        scale = max(abs(keys[0]), 1.0)
        # ulp noise on a float64 sum is ~1e-15 relative; demand the
        # measured gaps sit ≥ 1e6 ulps above it
        assert boundary > 1e-9 * scale, (boundary, scale)
        assert min_adj > 1e-9 * scale, (min_adj, scale)


class TestX45SortSamplesCacheNotKernel:
    """x45's final orderBy(doc_id) must not re-run the Arrow kernel via
    the range exchange's sampling pass: the kernel lives under an
    InMemoryRelation (the histogram cache) with the scoring groupBy's
    exchange between it and the sort, and the output order is kept."""

    def test_plan_kernel_under_cache_and_order_kept(self, spark, sf_dir):
        from bertrand_spark.plans.queries import QUERIES

        df = QUERIES["x45_dsir_weights"](spark, sf_dir)
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, plan[:2000]
            # the cached relation wraps the histogram kernel: every
            # MapInPandas print sits BELOW the first InMemoryTableScan
            first_scan = plan.index("InMemoryTableScan")
            first_kernel = plan.index("MapInPandas")
            assert first_scan < first_kernel, plan[:2000]
            rows = df.collect()
            ids = [r["doc_id"] for r in rows]
            assert len(ids) > 0 and ids == sorted(ids)
        finally:
            spark.catalog.clearCache()


class TestDsirResample:
    def _model_and_docs(self, spark, sf_dir):
        d = read_table(spark, sf_dir, "documents")
        model = CU.train_dsir(d.filter(_en()), d, buckets=512, alpha=1.0)
        return model, d

    def test_repartition_stable(self, spark, sf_dir):
        """The Gumbel draw is md5-derived — the selected set must not
        depend on physical partitioning."""
        model, d = self._model_and_docs(spark, sf_dir)
        a = CU.dsir_resample(model.log_weights(d), 50)
        b = CU.dsir_resample(model.log_weights(d.repartition(17)), 50)
        assert sorted(r["doc_id"] for r in a.collect()) == sorted(
            r["doc_id"] for r in b.collect()
        )

    def test_kernel_matches_native(self, spark, sf_dir):
        """Kernel scores (log_weights) and the native reference's
        scores select the identical top-k."""
        d = read_table(spark, sf_dir, "documents")
        model, native = CU._dsir_reference(d, _en(), buckets=512, alpha=1.0)
        k = CU.dsir_resample(model.log_weights(d), 40).collect()
        n = CU.dsir_resample(native, 40).collect()
        assert sorted(r["doc_id"] for r in k) == sorted(r["doc_id"] for r in n)
        kw = {r["doc_id"]: r["gumbel_key"] for r in k}
        nw = {r["doc_id"]: r["gumbel_key"] for r in n}
        for did in kw:
            assert abs(kw[did] - nw[did]) < 1e-9 * max(1.0, abs(nw[did]))

    def test_salt_gives_fresh_draw(self, spark, sf_dir):
        """A different salt is an independent sample: overlap exists
        (high-weight docs dominate any draw) but the sets differ."""
        model, d = self._model_and_docs(spark, sf_dir)
        scored = model.log_weights(d)
        a = {r["doc_id"] for r in CU.dsir_resample(scored, 50).collect()}
        b = {
            r["doc_id"]
            for r in CU.dsir_resample(scored, 50, salt="run2").collect()
        }
        assert a != b

    def test_weight_bias(self, spark, sf_dir):
        """Sampling ∝ exp(logw): the selected set's mean log-weight
        must exceed the corpus mean (the whole point of DSIR)."""
        model, d = self._model_and_docs(spark, sf_dir)
        scored = model.log_weights(d)
        sel = CU.dsir_resample(scored, 50)
        sel_mean = sel.agg(F.avg("dsir_logw")).collect()[0][0]
        all_mean = scored.agg(F.avg("dsir_logw")).collect()[0][0]
        assert sel_mean > all_mean


def _small_setup(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents").limit(300)
    model = CU.train_dsir(d.filter(_en()), d, buckets=512, alpha=1.0)
    return d, model


class TestDsirResampleTokens:
    """dsir_resample_tokens: the paper's sample-to-TOKEN-budget mode —
    maximal Gumbel-key prefix whose token sum fits the budget."""

    def test_maximal_prefix_property(self, spark, sf_dir):
        """The selection is exactly the prefix of the full Gumbel order
        that fits: total <= budget, and adding the FIRST excluded doc
        would overflow."""
        d, model = _small_setup(spark, sf_dir)
        budget = 5000
        sel = CU.dsir_resample_tokens(d, model, budget).collect()
        total = sum(r["n_tokens"] for r in sel)
        assert total <= budget
        # reconstruct the full ordering driver-side and check the prefix
        full = CU.dsir_resample(model.log_weights(d), d.count()).collect()
        sel_ids = [r["doc_id"] for r in sel]
        full_ids = [r["doc_id"] for r in full]
        assert full_ids[: len(sel_ids)] == sel_ids  # same order, a prefix
        # first excluded doc overflows
        if len(full) > len(sel):
            nxt = full[len(sel)]["doc_id"]
            nxt_tokens = (
                d.filter(F.col("doc_id") == nxt)
                .select(
                    F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
                ).collect()[0][0]
            )
            assert total + nxt_tokens > budget

    def test_repartition_stable(self, spark, sf_dir):
        d, model = _small_setup(spark, sf_dir)
        a = CU.dsir_resample_tokens(d, model, 3000).collect()
        b = CU.dsir_resample_tokens(d.repartition(17), model, 3000).collect()
        assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]

    def test_tiny_budget_and_zero_budget(self, spark, sf_dir):
        d, model = _small_setup(spark, sf_dir)
        tiny = CU.dsir_resample_tokens(d, model, 30).collect()
        assert sum(r["n_tokens"] for r in tiny) <= 30
        assert CU.dsir_resample_tokens(d, model, 0).count() == 0

    def test_precomputed_token_col(self, spark, sf_dir):
        """token_col plugs in a learned count (here: a constant, so the
        budget maps exactly to a document count)."""
        d, model = _small_setup(spark, sf_dir)
        d2 = d.withColumn("toks", F.lit(10).cast("long"))
        sel = CU.dsir_resample_tokens(
            d2, model, 95, token_col="toks"
        ).collect()
        assert len(sel) == 9 and all(r["n_tokens"] == 10 for r in sel)


class TestTokenPrefixByThreshold:
    """The distributed key-threshold path of the resamplers (the
    >max_candidates regime is a real selection path, not a ValueError)
    must produce the IDENTICAL selection to the TakeOrdered fast
    path."""

    def test_threshold_path_equals_takeordered_path(self, spark, sf_dir):
        """Forced-small regime (max_candidates=0 routes every call to
        the threshold path; tiny collect_max + 8 bins force several
        real histogram-bisection rounds): identical ids, order, and
        token counts across budgets spanning empty → near-complete."""
        d, model = _small_setup(spark, sf_dir)
        for budget in (0, 30, 3_000, 30_000):
            fast = CU.dsir_resample_tokens(d, model, budget).collect()
            slow = CU.dsir_resample_tokens(
                d,
                model,
                budget,
                max_candidates=0,
                threshold_bins=8,
                threshold_collect_max=16,
            ).collect()
            assert [(r["doc_id"], r["n_tokens"]) for r in slow] == [
                (r["doc_id"], r["n_tokens"]) for r in fast
            ], f"budget={budget}"

    def test_threshold_path_everything_fits(self, spark, sf_dir):
        """A budget above the corpus total selects the whole corpus —
        the no-cutoff branch."""
        d, model = _small_setup(spark, sf_dir)
        sel = CU.dsir_resample_tokens(
            d, model, 10**9, max_candidates=0, threshold_bins=8
        )
        assert sel.count() == d.count()

    def test_retry_doubling_rechecks_regime(self, spark, sf_dir):
        """The undershoot-doubling loop must re-check the regime bound
        instead of collecting an ever-larger pull.  With
        max_candidates=20 and a budget needing ~all 300 docs, the
        initial estimate passes but a doubling crosses the bound — the
        call must still succeed (via the threshold path), never collect
        more than max_candidates rows through TakeOrdered."""
        d, model = _small_setup(spark, sf_dir)
        sel = CU.dsir_resample_tokens(
            d, model, 100_000, max_candidates=20, threshold_bins=8
        ).collect()
        ref = CU.dsir_resample_tokens(d, model, 100_000).collect()
        assert [r["doc_id"] for r in sel] == [r["doc_id"] for r in ref]

    def test_doc_count_variant_routes_to_threshold(self, spark, sf_dir):
        """dsir_resample (document-COUNT budget) beyond its regime
        bound routes to the same cutoff search (unit weights) —
        identical selection to the TakeOrdered path on a forced-small
        regime."""
        d, model = _small_setup(spark, sf_dir)
        scored = model.log_weights(d)
        for n in (1, 17, 299, 10_000):
            fast = CU.dsir_resample(scored, n).collect()
            slow = CU.dsir_resample(scored, n, max_candidates=0).collect()
            assert [r["doc_id"] for r in slow] == [
                r["doc_id"] for r in fast
            ], n
            assert slow[0].asDict().keys() == fast[0].asDict().keys()

    def test_threshold_path_repartition_stable(self, spark, sf_dir):
        d, model = _small_setup(spark, sf_dir)
        a = CU.dsir_resample_tokens(
            d, model, 3000, max_candidates=0, threshold_bins=8
        ).collect()
        b = CU.dsir_resample_tokens(
            d.repartition(17), model, 3000, max_candidates=0,
            threshold_bins=8,
        ).collect()
        assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
