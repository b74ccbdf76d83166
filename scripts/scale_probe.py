"""Scaling probe: run representative headline queries at every available
scale factor and print per-SF wall time + input-rows/sec, as measured
evidence for SCALE.md's linearity claims (sub-linear time growth vs the
100x row growth from sf0.001 to sf0.1 = fixed overhead still dominating;
~linear growth = compute-bound already).

Usage: python scripts/scale_probe.py [sf_dir_root=/root/testdata]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bicis_spark.plans import queries as registry  # noqa: E402
from bicis_spark.session import get_spark  # noqa: E402

PROBES = [
    "hour_profile",          # agg+join on events
    "pricing_summary",       # scan-agg on lineitem (largest table)
    "next_window_target",    # bucketed window
    "dedup_minhash_lsh_fast",  # LSH self-join on documents
    "ann_topk_lsh",          # bucketed ANN on embeddings
    "sequence_packing",      # per-shard window on documents
    # round-6 additions
    "embedding_covariance_ints",  # broadcast-dim pair agg on embeddings
    "skipgram_pairs",        # array-native pair gen on documents
    "zorder_layout_orders",  # map-side z-value + one agg on orders
    "incremental_join_view",  # 4-term delta join decomposition
    # round-7 additions: the re-planned rows
    "ols_isotonic_calibration",   # one-pass cents histogram + bounded frames
    "kcore_parts",                # cascading k=80 peel, combination pair build
    "clustering_coefficient_parts",  # degree-oriented wedge join
    # round-8 additions (r7 verdict task #6): remaining top-10 bench rows
    # + the rest of the dedup/ANN family, probed one SF up (sf0.3/sf1 via
    # scripts/gen_testdata.py into testdata_local/)
    "golden_record_customers",    # FastSS linkage -> CC -> survivorship
    "shortest_path_copurchase",   # Bellman-Ford fixed rounds
    "pagerank_part_supplier",     # fixed-point iteration
    "corpus_kl_divergence",       # closed-form absent-mass decomposition
    "frequent_itemsets_parts",    # k=2/3 itemset self-joins
    "dedup_exact",                # fingerprint shuffle
    "dedup_simhash",              # 64-bit banded hamming blocks
    "dedup_embedding_cosine_lsh",  # sign-bit banded blocking + exact verify
    "semantic_dedup_two_level_flags",  # super->sub k-means shards
    "ann_topk_ivf",               # IVF lists, n_probe=6
    "ann_topk_pq",                # PQ/ADC + exact re-rank
    # round-9 additions: the regime-gated low-tau pairs row (now kmeans
    # blocking), the high-tau banded pruning profile, and the probed-list
    # ADC composition
    "dedup_embedding_lsh_band_profile",
    "ann_topk_ivfpq",
    "exact_substring_spans",
    "multimodal_video_decode",
    # round-10 additions: the fixed-size-|Q| re-declared rows re-probed
    # (exponents were 1.97 for pq under the growing-|Q| rule), plus the
    # √N-list IVF-PQ on the clustered corpus and the auto-r banded profile
    "ann_topk_bruteforce",
    "ann_topk_ivfpq_sqrt",
    "dedup_embedding_lsh_band_auto",
    # round-11 additions: the int8 scalar-quantized scan (landed after
    # the r10 probe ran — r10 verdict #5) — expected ~1.0 (fixed-|Q|
    # linear scan); the IVF-SQ8 composition; the MMR diversified re-rank
    # (N-dependence only in its shortlist stage)
    "ann_topk_sq8",
    "ann_topk_ivfsq8",
    "ann_mmr_diversified",
    "ann_topk_hamming",
    "doc_retrieval_hashed",
    "hybrid_retrieval_doc_rrf",
    "embedding_pca_top_eigvec",
]

TABLE_OF = {
    "hour_profile": "events",
    "pricing_summary": "lineitem",
    "next_window_target": "events",
    "dedup_minhash_lsh_fast": "documents",
    "ann_topk_lsh": "embeddings",
    "sequence_packing": "documents",
    "embedding_covariance_ints": "embeddings",
    "skipgram_pairs": "documents",
    "zorder_layout_orders": "orders",
    "incremental_join_view": "lineitem",
    "ols_isotonic_calibration": "lineitem",
    "kcore_parts": "lineitem",
    "clustering_coefficient_parts": "lineitem",
    "golden_record_customers": "customer",
    "shortest_path_copurchase": "lineitem",
    "pagerank_part_supplier": "lineitem",
    "corpus_kl_divergence": "documents",
    "frequent_itemsets_parts": "lineitem",
    "dedup_exact": "documents",
    "dedup_simhash": "documents",
    "dedup_embedding_cosine_lsh": "embeddings",
    "semantic_dedup_two_level_flags": "embeddings",
    "ann_topk_ivf": "embeddings",
    "ann_topk_pq": "embeddings",
    "dedup_embedding_lsh_band_profile": "embeddings",
    "ann_topk_ivfpq": "embeddings",
    "exact_substring_spans": "documents",
    "multimodal_video_decode": "documents",
    "ann_topk_bruteforce": "embeddings",
    "ann_topk_ivfpq_sqrt": "embeddings",
    "dedup_embedding_lsh_band_auto": "embeddings",
    "ann_topk_sq8": "embeddings",
    "ann_topk_ivfsq8": "embeddings",
    "ann_mmr_diversified": "embeddings",
    "ann_topk_hamming": "embeddings",
    "doc_retrieval_hashed": "documents",
    "hybrid_retrieval_doc_rrf": "documents",
    "embedding_pca_top_eigvec": "embeddings",
}


def _sqrt_build_search_split(spark, sf_dir: str) -> dict[str, float]:
    """Build-vs-search cost split for the √N IVF-PQ row (round 11, r10
    verdict #3's done-criterion): time (a) the index build alone — coarse
    training on the bounded sample + the one-pass full assignment + PQ
    encode, materialized via a count — and (b) the search stage over the
    pre-built persisted index. The declared row times (a)+(b) fused; this
    split shows which term carries the sf1→sf3 growth."""
    from bicis_spark.caching import release_tracked
    from bicis_spark.extensions.similarity import _ivfpq_build, _ivfpq_search
    from bicis_spark.plans.extension_queries import (
        _PQ_DIMS,
        _PQ_ITERS,
        _PQ_K,
        _PQ_MOD,
        _PQ_RERANK,
        _PQ_SUBS,
        _ann_queries,
        _clustered_corpus,
        _sqrt_sizing,
    )

    emb = _clustered_corpus(spark, sf_dir)
    queries = _ann_queries(emb)
    n_lists, n_probe, train_sample = _sqrt_sizing(emb)
    best_b, best_s = float("inf"), float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        c, cents, cb, codes = _ivfpq_build(
            emb, 50, None, 1, _PQ_SUBS, _PQ_DIMS, _PQ_MOD, _PQ_ITERS,
            _PQ_K, "vec_id", "embedding",
            n_lists=n_lists, persist_codes=True, train_sample=train_sample,
        )
        codes.count()  # materialize the persisted index
        best_b = min(best_b, time.perf_counter() - t0)
        t0 = time.perf_counter()
        _ivfpq_search(
            c, cents, cb, codes, queries, 5, n_probe, _PQ_SUBS, _PQ_DIMS,
            _PQ_RERANK, "vec_id", "embedding",
        ).write.format("noop").mode("overwrite").save()
        best_s = min(best_s, time.perf_counter() - t0)
        release_tracked()
        spark.catalog.clearCache()
    return {"build_sec": round(best_b, 4), "search_sec": round(best_s, 4)}


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata"
    probes = PROBES
    if len(sys.argv) > 2:  # optional comma-separated probe subset
        wanted = set(sys.argv[2].split(","))
        probes = [p for p in PROBES if p in wanted]
    sfs = sorted(
        d for d in os.listdir(root) if d.startswith("sf") and
        os.path.isdir(os.path.join(root, d))
    )
    spark = get_spark(app_name="scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    import duckdb

    rows_per_sf: dict[str, dict[str, int]] = {}
    for sf in sfs:
        rows_per_sf[sf] = {}
        for t in set(TABLE_OF.values()):
            rows_per_sf[sf][t] = duckdb.sql(
                f"SELECT count(*) FROM '{os.path.join(root, sf, t)}.parquet'"
            ).fetchone()[0]

    out: dict[str, dict[str, dict[str, float]]] = {}
    for name in probes:
        out[name] = {}
        for sf in sfs:
            sf_dir = os.path.join(root, sf)
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            n = rows_per_sf[sf][TABLE_OF[name]]
            out[name][sf] = {
                "sec": round(best, 4),
                "input_rows": n,
                "rows_per_sec": round(n / best),
            }
            if name == "ann_topk_ivfpq_sqrt":
                out[name][sf].update(_sqrt_build_search_split(spark, sf_dir))
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
