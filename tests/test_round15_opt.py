"""Round-15 optimization gates: the shared session recipe.

The ``dsir_fit_score`` parity gates live in tests/test_dsir.py.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"


class TestSessionRecipe:
    def test_queries_apply_recommended_conf(self, spark, sf_dir):
        """Every declared query applies the shared session recipe to
        the session it is handed (r15 verdict item 7) — the driver's
        verify session gets the same confs as the bench session."""
        from bertrand_spark.plans.queries import QUERIES
        from bertrand_spark.session import RECOMMENDED_RUNTIME_CONF

        key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        spark.conf.set(key, "false")
        QUERIES["q03_generic_casts"](spark, sf_dir)
        for k, v in RECOMMENDED_RUNTIME_CONF.items():
            assert spark.conf.get(k) == v

    def test_bench_routes_through_shared_recipe(self):
        import os

        bench_src = open(
            os.path.join(os.path.dirname(__file__), "..", "bench.py")
        ).read()
        assert "tune_session" in bench_src
