"""The benchmark's workloads: which declared queries one pass runs, and why.

Every op is one query from ``bertrand_spark.plans.queries.QUERIES`` run
over the seeded inputs (see ``datagen``) and checked against its DuckDB
oracle in ``ORACLES``.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "typecast": {
        "why": "The paper's core verbs over TPC-H tables: type detection, casts, rounding, "
               "radix and temporal parsing, plus the row operators (enumerate, asof join).",
        "ops": (
            "q01_detect_tags", "q03_generic_casts", "q04_rounding_rules",
            "q06_downcast_feasibility", "q09_radix_format", "q13_parse_temporal",
            "q27_object_roundtrip", "q28_anonymous_cast", "q16_enumerate", "q29_asof_join",
        ),
    },
    "curation": {
        "why": "LLM-data operators over documents: near-dup pairs, clusters, similarity, "
               "DSIR and extraction. Arrow kernels feed shuffles; persist cuts, driver probes.",
        "ops": (
            "x16_cosine_near_dup", "x30_dedup_clusters", "x34_tfidf_top_terms",
            "x35_chunk_dedup", "x45_dsir_weights", "x57_document_router",
        ),
    },
}
