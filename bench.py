"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 8).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

HEADLINE = [
    # the two posting-join heavies run FIRST: round-2 showed them paying a
    # ~2x in-sequence JVM-aging penalty (codegen cache churn + metaspace
    # growth across 18 prior queries) over their standalone times.  Queries
    # are independent, so order is bench hygiene, not semantics.
    "x02_minhash_near_dup",
    "x03_ngram_jaccard",
    # ...same hygiene for the round-3 composites (near-dup clustering and
    # the two-corpus LSH join): they run 2x slower after 20 queries of
    # JVM history than they do fresh
    "x30_dedup_clusters",
    "x32_fuzzy_join",
    # cast/type engine over the biggest table
    "q01_detect_tags",
    "q03_generic_casts",
    "q04_rounding_rules",
    "q11_datetime_units",
    "q13_parse_temporal",
    # range adaptors / positional ops (shuffle-heavy)
    "q16_enumerate",
    "q21_reductions",
    "q23_ordered_dedup",
    # joins Spark lacks natively
    "q29_asof_join",
    "q30_range_join",
    # LLM-pipeline extensions
    "x01_exact_dedup",
    "x04_simhash_near_dup",
    "x05_cosine_topk",
    "x08_token_stats",
    "x11_events_rollup",
    "x16_cosine_near_dup",
    # corpus curation
    "x20_decontaminate",
    "x22_pack_sequences",
    # round-3 flagships: tf-idf, span dedup (clustering + fuzzy join run
    # up top with the other heavies)
    "x34_tfidf_top_terms",
    "x35_chunk_dedup",
    # round-3b: star-join top-N + exact kNN graph
    "q40_shipping_priority",
    "x38_knn_graph",
    # round-4: the TPC-H shapes a 100x scale-up stresses first (Q1 full
    # scan+agg, CUBE multi-grouping).  HEADLINE is append-only (verdict
    # item 9): never remove or rename entries — round-over-round deltas
    # compare by name.
    "q39_pricing_summary",
    "q44_cube_orders",
    # round-4: full Q5 shape incl. the supplier nation-cycle — the
    # hardest join-ordering probe in the suite
    "q47_supplier_nation_cycle",
    # the flagship: the whole pretraining composition as ONE query
    "x18_pipeline_end_to_end",
    # round-6 appends (policy: append-only, new names go at the END):
    # Q8's seven-table ratio join (the widest tree in the suite), Q21's
    # per-order double-EXISTS rewrite (two lineitem shuffles), and the
    # DSIR scoring pass (train 2 bounded count jobs + native score scan)
    "q51_market_share",
    "q56_waiting_supplier",
    "x45_dsir_weights",
    # round-7 appends: the three partsupp shapes that close TPC-H at
    # 22/22 (Q2's keyed-window correlated min, Q11's global-scalar
    # HAVING, Q20's nested semi-joins) and the DSIR Gumbel-top-k
    # resample (score pass + TakeOrderedAndProject)
    "q58_min_cost_supplier",
    "q59_important_stock",
    "q60_potential_promotion",
    "x47_dsir_resample",
    # round-11 append: the HTML→text extractor (Arrow-batched stdlib
    # parser — the first operator of any crawl pipeline; per-doc
    # Python kernel, so its cost scales with corpus bytes and belongs
    # under per-round watch).  NOTE for total-comparisons: the suite
    # total grows by this query's time from round 11 on; per-name
    # deltas remain the comparable signal.
    "x48_html_extract",
    # round-12 append: the PDF→text extractor (typeset + re-extract
    # round trip per document — the heaviest per-doc Python kernel in
    # the suite, same per-round-watch rationale as x48; the suite
    # total grows again from round 12 on).
    "x49_pdf_extract",
    # round-13 append: the DOCX→text extractor (zip+XML typeset +
    # re-extract round trip per document, same per-round-watch
    # rationale; the suite total grows again from round 13 on) and
    # its PPTX/XLSX siblings on the same seam.
    "x51_docx_extract",
    "x52_pptx_extract",
    "x53_xlsx_extract",
    "x54_epub_extract",
    "x55_rtf_extract",
    "x56_odt_extract",
    # round-14 appends: the unified document router (typeset format
    # cycling across all eleven container formats → magic-sniff
    # dispatch — the single-operator crawl pipeline; its cost is
    # roughly the per-format extractor mean) and the legacy binary
    # Office family: .doc piece-table, .xls BIFF8 record walk, .ppt
    # record-tree text atoms (CFB build + walk each, same
    # per-round-watch rationale; the suite total grows again from
    # round 14 on).
    "x57_document_router",
    "x58_doc_extract",
    "x59_xls_extract",
    "x60_ppt_extract",
]

# BENCH-SET POLICY for store-backed paths (round 6, VERDICT item 7):
# the bucketed-store variants (exact_dedup_incremental_store,
# fuzzy_join_band_store, stream_dedup_against_fingerprint_store) are
# deliberately NOT headline entries.  Their performance claim is a PLAN
# SHAPE — zero-Exchange history side, write cost amortized across
# batches — which a one-shot timed run cannot express: a single bench
# iteration would time store-write + one batch, charging the amortized
# cost to the wrong side and measuring mostly parquet/bucket IO on a
# store that production would have written months earlier.  They are
# therefore gated where plan shape is checkable: plan-assertion unit
# tests (tests/test_round5.py, tests/test_round6.py) and the
# scale_smoke relational50 bucketed-q43 datapoint (SCALE.md), which
# measures the same bucketed-scan-vs-shuffle effect at 30M rows.  The
# INLINE siblings of each store path (x01/x36, x02/x32, x25) stay in
# the headline/oracle sets and exercise the shared kernels end-to-end.

# the multi-stage composites: double-warmed, min-of-3, and re-sampled at
# the end of the run — ONE list so a future addition cannot get half the
# treatment
COMPOSITES = (
    "x02_minhash_near_dup", "x03_ngram_jaccard",
    "x30_dedup_clusters", "x32_fuzzy_join",
    "x18_pipeline_end_to_end",
)

# healthy-host probe baselines (min-of-2 on an idle window; the checks
# allow 15% slack on top).  The JVM range-sum baseline is the round-7
# value; the pandas-UDF round-trip baseline was measured r15 when the
# probe was added (verdict item 2: the JVM probe provably misses
# Python-worker degradation) — steady-state 0.45-0.60 s over 8
# calibration calls on a JVM-healthy window (probe 0.13-0.19).  The
# baseline is that range's upper bound, so the whole healthy range sits
# below the 15%-slack cutoff (0.69 s).
_JVM_HEALTHY = 0.2
_PY_HEALTHY = 0.60


def fold_attempts(timings: dict, sf, attempts_dir: str,
                  round_tag) -> tuple[dict, int]:
    """(per-query minima, attempt count incl. this run) across the
    attempt records in ``attempts_dir``.  A record folds only when its
    ``sf`` matches AND (when this run has a round tag) its
    ``round_tag`` matches — sf-only filtering let a mis-stamped
    prior-round file leak into the round-12 composite."""
    import glob as _glob

    cross = {n: t for n, t in timings.items() if t >= 0}
    n_attempts = 1
    for f in sorted(_glob.glob(os.path.join(attempts_dir, "*.json"))):
        try:
            rec = json.load(open(f))
        except Exception:
            continue
        if rec.get("sf") != sf or not rec.get("queries"):
            continue
        if round_tag and rec.get("round_tag") != round_tag:
            continue  # prior-round / mis-stamped record: never fold
        n_attempts += 1
        for nq, t in rec["queries"].items():
            if isinstance(t, (int, float)) and t > 0 and nq in cross:
                cross[nq] = min(cross[nq], t)
    return cross, n_attempts


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    from bertrand_spark.session import build_session

    spark = build_session(cpus, "bertrand_spark_bench")

    from bertrand_spark.plans.queries import QUERIES

    # untimed warmup: JVM codegen + parquet reader init otherwise land on
    # the first timed query (~7s of pure startup attributed to q01)
    from pyspark.sql import functions as F

    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    spark.range(1000).select((F.col("id") * 2).alias("v")).count()

    # spin up the Arrow python-worker pool (one worker per core; spawn +
    # numpy import otherwise lands on the first pandas-UDF query)
    from pyspark.sql.functions import pandas_udf as _pudf

    @_pudf("long")
    def _warm(s: pd.Series) -> pd.Series:
        import numpy as _np  # noqa: F401 — preload in the worker

        return s

    spark.range(0, 10000, 1, int(cpus)).select(_warm("id")).count()

    # host-speed probe: this VM has minutes-long phases where identical
    # plans run 3-30x slower (sys% bursts, zero IO).  A fixed 6M-row sum
    # measures the HOST, not the engine — healthy ≈ 0.2s.  Recorded in
    # the output JSON so a degraded-phase bench is distinguishable from
    # an engine regression.
    def host_probe() -> float:
        pr = spark.range(0, 6_000_000, 1, int(cpus)).select(
            (F.col("id") * 3 % 7).alias("v")
        )
        pr.select(F.sum("v")).collect()
        best = None
        for _ in range(2):
            t0 = time.time()
            pr.select(F.sum("v")).collect()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    # Python-boundary probe (r15, verdict item 2): the JVM range-sum
    # probe provably misses Python-worker degradation — r14 attempt 1
    # read degraded_host=false while the two most Python-boundary-heavy
    # queries ran 2.2x over their folds.  This probe times a fixed
    # pandas-UDF round trip (Arrow IPC + worker latency, the exact
    # constant the Arrow-kernel queries pay per stage) so the record
    # distinguishes JVM-clean/Python-degraded windows.  Additions-only:
    # recorded under py_* keys beside the JVM probes.
    def py_probe() -> float:
        pr = spark.range(0, 2_000_000, 1, int(cpus)).select(
            _warm("id").alias("v")
        )
        pr.select(F.sum("v")).collect()  # untimed: absorb worker ramp
        best = None
        for _ in range(2):
            t0 = time.time()
            pr.select(F.sum("v")).collect()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    # if the run STARTS inside a degraded host phase (documented: this
    # VM has minutes-long uniform 1.3-30x slowdowns), every min-of-N
    # below is polluted at once.  Wait — bounded to ~2 min — for a
    # healthy probe before timing anything; record how long we waited.
    probe_before = host_probe()
    py_before = py_probe()
    waited = 0.0
    while (
        probe_before > _JVM_HEALTHY * 1.15 or py_before > _PY_HEALTHY * 1.15
    ) and waited < 120:
        time.sleep(20)
        waited += 20
        probe_before = host_probe()
        py_before = py_probe()
    probes: dict[str, float] = {"before": probe_before, "py_before": py_before}
    if waited:
        probes["healthy_wait_sec"] = waited

    # untimed per-query warmup at the smallest SF, run IMMEDIATELY before
    # each timed run: whole-stage codegen compiles each query's generated
    # classes once (Janino caches on source text, so the sf-dir literal
    # must not appear in the plan — it doesn't; only scan paths differ).
    # First-run compile of the big CASE WHEN / regex expressions otherwise
    # adds 2-5 s per query to the timed run — and the codegen cache is a
    # bounded LRU (~100 classes), so warming ALL queries up front evicts
    # the earliest entries before they're timed.  The bench measures
    # steady-state throughput, not compiler latency.
    warm_dir = "/root/testdata/sf0.001"
    warm = (
        os.path.isdir(warm_dir)
        and os.path.abspath(warm_dir) != os.path.abspath(sf_dir)
    )

    timings: dict[str, float] = {}
    n_samples: dict[str, int] = {}
    # the mid-suite probe anchors at the midpoint of the names that will
    # actually run (HEADLINE is append-only, so this stays stable
    # round-over-round unless entries append past it)
    _present = [n for n in HEADLINE if n in QUERIES]
    _MID_SUITE_NAME = _present[len(_present) // 2] if _present else ""
    for name in HEADLINE:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        # the multi-stage composites reach JIT steady state one run later
        # than single-plan queries (measured r3: run1 ~8s, run2 ~5.5s,
        # run3 ~3.5s for x02 at sf0.1) — warm their exact plan shape
        # TWICE at sf0.001 so C2-compiled code is already live when the
        # timed runs start (round-4 item 5: close the 4.1s-vs-3.5s gap)
        composite = name in COMPOSITES
        if warm:
            try:
                for _ in range(2 if composite else 1):
                    fn(spark, warm_dir).write.mode("overwrite").format("noop").save()
                    # free the warmup's persisted tables (minhash prep,
                    # posting lists) before the timed run
                    spark.catalog.clearCache()
            except Exception:
                pass
        # min of N timed runs: this VM shows bimodal kernel-time stalls
        # (vmstat sys% bursts to 50-97% with zero IO, 3-30 s swings on an
        # identical plan) — the min is the engine's number, the max is the
        # host's.  Standard practice (hyperfine reports min for the same
        # reason).  The four multi-stage composites get a third run: their
        # many generated classes reach JIT steady state one run later than
        # the single-plan queries (measured: run1 ~8s, run2 ~5.5s, run3
        # ~3.5s for x02 at sf0.1).  Round 10 (r9 drift postmortem): every
        # query whose best lands under 1.5 s ALSO gets a third run —
        # the r9 +12% drift hid entirely in single-shot 0.2-1.3 s
        # timings where one JIT/GC hiccup is 30-50% of the reading.
        n_runs = 3 if composite else 2
        best = None
        samples = 0
        try:
            while samples < n_runs:
                t0 = time.time()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
                samples += 1
                spark.catalog.clearCache()
                if samples == n_runs and n_runs == 2 and best < 1.5:
                    n_runs = 3  # sub-1.5s: noise-dominated, min-of-3
        except Exception as exc:  # keep a successful first run's timing
            print(f"bench error in {name}: {exc}", file=sys.stderr)
        timings[name] = round(best, 3) if best is not None else -1.0
        n_samples[name] = samples
        # mid-run probes: this VM has minutes-long phases where
        # identical plans run uniformly 1.3-30x slower; a probe at both
        # ends can read healthy while the middle of the run sat in a
        # degraded phase.  Four probe points (start, post-heavies,
        # mid-suite, end) make a phase-shifted bench self-evident in
        # the JSON.
        if name == "x32_fuzzy_join":
            probes["after_heavies"] = host_probe()
            probes["py_after_heavies"] = py_probe()
        elif name == _MID_SUITE_NAME:
            probes["mid_suite"] = host_probe()
            probes["py_mid_suite"] = py_probe()
        spark.catalog.clearCache()
        # drop dead generated classes + unreferenced shuffles between
        # queries (untimed) so later queries don't pay earlier queries' GC
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    def rerun(names) -> None:
        """One more timed sample of each named query that has a timing,
        min'd into it; a failing re-run keeps the earlier timing."""
        for name in names:
            fn = QUERIES.get(name)
            if fn is None or timings.get(name, -1.0) < 0:
                continue
            try:
                t0 = time.time()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                timings[name] = min(timings[name], round(time.time() - t0, 3))
                n_samples[name] = n_samples.get(name, 0) + 1
            except Exception:
                pass
            spark.catalog.clearCache()

    # composites get one more timed sample at the END of the run:
    # min-of-3 CONSECUTIVE runs cannot see past a multi-minute degraded
    # host phase (measured: x02 3.3s vs 4.8-4.9s across whole runs whose
    # endpoint probes all read healthy); a sample minutes apart usually
    # lands in a different phase.
    rerun([n for n in HEADLINE if n in COMPOSITES])
    probes["after"] = host_probe()
    probes["py_after"] = py_probe()
    # mid-run degradation handling, two independent signals (round-7,
    # from the r5 postmortem): (1) the host probe — catches sys%-burst
    # phases where the 6M-row range-sum itself slows; (2) the ENVELOPE
    # check below — the r5 failure class had probes reading HEALTHY
    # (0.163/0.154 s) while every query ran 25-40% over, so the probe
    # alone cannot catch query-level degradation and a secondary signal
    # against the prior round's recorded timings is required.  Either
    # signal firing triggers the same recovery: wait — bounded — for a
    # healthy probe, re-run one timed pass over every query, min it in;
    # if the record still looks degraded it is explicitly marked
    # instead of silently shipping inflated numbers.
    _healthy = _JVM_HEALTHY * 1.15
    _py_h = _PY_HEALTHY * 1.15
    degraded = any(
        v > _healthy
        for k, v in probes.items()
        if k != "healthy_wait_sec" and not k.startswith("py_")
    ) or any(
        v > _py_h for k, v in probes.items() if k.startswith("py_")
    )
    if degraded:
        waited = 0.0
        p, py = probes["after"], probes["py_after"]
        while (p > _healthy or py > _py_h) and waited < 90:
            time.sleep(15)
            waited += 15
            p, py = host_probe(), py_probe()
        probes["resample_probe"] = p
        probes["py_resample_probe"] = py
        if p <= _healthy and py <= _py_h:
            rerun(HEADLINE)
            probes["after_resample"] = host_probe()
            probes["py_after_resample"] = py_probe()
            degraded = (
                probes["after_resample"] > _healthy
                or probes["py_after_resample"] > _py_h
            )

    # envelope check: median ratio of this run's timings to the prior
    # recorded round over common queries.  Uniform host slowness lifts
    # the median; a genuine per-query plan regression is localized and
    # leaves it near 1.  Sub-0.3 s queries are noise-dominated and
    # excluded.  Median ≥ 1.25 over ≥ 5 common queries → same recovery
    # pass as the probe signal, and if the re-run still reads ≥ 1.25
    # the record ships with degraded_host=true + the reason.
    def _median_vs_prior() -> tuple:
        import glob as _glob

        files = sorted(_glob.glob(os.path.join(_REPO, "BENCH_r*.json")))
        # Envelope baseline = per-query BEST across all usable priors
        # (min-of-best-phase, same as the record methodology): the
        # newest record alone can itself be phase-inflated (r06 read
        # +24% over r04 with no plan change), which would loosen the
        # envelope exactly when it matters.  Usable = the driver's
        # "parsed" payload exists (null when that round's bench
        # failed), same scale factor, and not itself degraded_host
        # (a degraded baseline would mask current degradation: bad/bad
        # ≈ 1.0 is the r5 failure class this check exists to catch).
        prior: dict = {}
        for f in files:
            try:
                parsed = json.load(open(f)).get("parsed") or {}
            except Exception:
                continue
            if (
                not parsed.get("queries")
                or parsed.get("sf") != sf
                or parsed.get("degraded_host")
            ):
                continue
            for name, t in parsed["queries"].items():
                if t and t > 0 and (name not in prior or t < prior[name]):
                    prior[name] = t
        if not prior:
            return None, 0
        # Noise-floor gate is on EITHER side exceeding 0.3 s (round-7
        # ADVICE): the old both-sides gate excluded exactly the queries
        # whose current-run inflation this check exists to see (a 0.2 s
        # query degrading to 0.5 s never contributed); prior-side-only
        # would exclude the same case from the other direction.  Two
        # sub-floor timings stay excluded as pure noise.
        ratios = sorted(
            timings[n] / prior[n]
            for n in timings
            if n in prior
            and timings[n] > 0
            and max(timings[n], prior[n]) > 0.3
        )
        if len(ratios) < 5:
            return None, len(ratios)
        return ratios[len(ratios) // 2], len(ratios)

    envelope_median, _n_common = _median_vs_prior()
    if envelope_median is not None and envelope_median >= 1.25:
        probes["envelope_median"] = round(envelope_median, 3)
        if not degraded:  # probe path already re-ran everything
            rerun(HEADLINE)
        envelope_median, _ = _median_vs_prior()
        probes["envelope_median_after"] = (
            round(envelope_median, 3) if envelope_median is not None else None
        )
        if envelope_median is not None and envelope_median >= 1.25:
            degraded = True
    total = round(sum(v for v in timings.values() if v >= 0), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # per-query timed-sample counts (round 10): the r9 drift
        # postmortem needs the record to show HOW each number
        # was measured — sub-1.5s queries carry >=3 samples
        "samples": n_samples,
        "sf": sf,
        "degraded_host": degraded,
        "host_probe_sec": {
            **probes,
            "healthy": _JVM_HEALTHY,
            "py_healthy": _PY_HEALTHY,
        },
    }

    # Cross-attempt per-query-minimum composite (round 12, from the
    # round-11 verdict's item 3): when sustained external co-tenancy
    # denies a clean window, the best evidence is the per-query MINIMUM
    # across every attempt made this round — each cell the
    # least-disturbed observation of that query (observed time is
    # always >= true cost, so the min is the tightest upper bound the
    # attempts support).  Previous rounds carried that composite only
    # in SCALE.md prose; it now travels IN the artifact.  Attempt
    # records live in SPARK_GRAFT_ATTEMPTS_DIR (default
    # bench_attempts/current).
    #
    # Round-13 hygiene (round-12 ADVICE): (a) every attempt is stamped
    # with the round tag (the committed ROUND_TAG file in the attempts
    # dir, overridable via SPARK_GRAFT_ROUND_TAG) and the fold filters
    # on it — sf alone let a mis-stamped prior-round record leak into
    # the round-12 minima; (b) the append is OPT-IN
    # (SPARK_GRAFT_APPEND_ATTEMPT=1, set by the builder's idle-host
    # protocol) so merely running the benchmark never dirties a
    # checkout; (c) filenames carry nanoseconds+pid so same-second
    # runs cannot overwrite each other.
    attempts_dir = os.environ.get(
        "SPARK_GRAFT_ATTEMPTS_DIR",
        os.path.join(_REPO, "bench_attempts", "current"),
    )
    round_tag = os.environ.get("SPARK_GRAFT_ROUND_TAG")
    if not round_tag:
        try:
            with open(os.path.join(attempts_dir, "ROUND_TAG")) as fh:
                round_tag = fh.read().strip() or None
        except OSError:
            round_tag = None
    payload["round_tag"] = round_tag
    if os.path.isdir(attempts_dir):
        cross, n_attempts = fold_attempts(
            timings, sf, attempts_dir, round_tag)
        if n_attempts > 1:
            payload["cross_attempt"] = {
                "n_attempts": n_attempts,
                "total_min": round(sum(cross.values()), 3),
                "queries": cross,
            }
        if os.environ.get("SPARK_GRAFT_APPEND_ATTEMPT") == "1":
            try:
                out_path = os.path.join(
                    attempts_dir,
                    "attempt_%d_%d.json" % (time.time_ns(), os.getpid()),
                )
                with open(out_path, "w") as fh:
                    json.dump(payload, fh)
            except OSError:
                pass  # read-only checkout: the composite still printed

    print(json.dumps(payload))


if __name__ == "__main__":
    main()
