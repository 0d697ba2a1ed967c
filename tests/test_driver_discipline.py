"""Driver-discipline gates: the SCALE.md claims about driver-side
collects, cross joins, and unpartitioned windows, converted from a
hand audit (round-3 VERDICT) into an AST-enforced allowlist.

Every site below was individually audited: collects move only
scalar/centroid/iteration state (never row data), cross joins carry a
1-row aggregate or a broadcast-bounded sample side, and unpartitioned
windows run over frames bounded by a domain (calendar, vocabulary,
bucket grid) rather than by corpus size. Adding a NEW site fails these
tests until it is audited and listed — with its justification —
exactly like a new query needs an oracle.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "weather_bigdata_project_spark",
)

#: function -> why its .collect() is scale-safe (driver-loop state only)
COLLECT_ALLOWED = {
    "queries/geo.py:join_geo_nearest_station":
        "station dim guarded <= 128 rows, collapses to one broadcast row",
    "queries/ml.py:ml_logreg_gd":
        "gradient-descent driver loop: one (d+1)-vector of exact sums "
        "per iteration",
    "queries/similarity.py:embed_kmeans_parallel_init":
        "k-means|| seed state: <= k centroids per round",
    "queries/similarity.py:embed_power_iteration_pc1":
        "power iteration: one d-vector + scalar per round",
    "queries/text.py:uv_vocab_rows":
        "trained-tokenizer export: the <= V+alphabet (piece, cost) "
        "model artifact shipped to the ingest twin — never row data",
}

#: function -> why its .crossJoin() never builds a pair blowup
CROSSJOIN_ALLOWED = {
    "queries/analytics.py:weather_temp_histogram":
        "1-row bounds aggregate broadcast back",
    "queries/advanced.py:basket_association_rules":
        "1-row basket-total aggregate broadcast",
    "queries/curation.py:corpus_cluster_split":
        "1-row totals aggregate",
    "queries/curation.py:corpus_cluster_split_sampled":
        "1-row totals aggregate (sampled twin)",
    "queries/curation.py:corpus_dsir_importance":
        "1-row corpus-stats aggregate",
    "queries/webingest.py:corpus_link_triangles":
        "1-row triangle/edge-count aggregates composed into the "
        "single summary row",
    "queries/curation.py:corpus_kneser_ney":
        "1-row bigram-types x vocab-size scalar frame",
    "queries/ml.py:ml_naive_bayes_langid":
        "class-prior / vocab-size single-row frames",
    "queries/relational.py:events_approx_percentile_bounds":
        "1-row exact-percentile frame",
    "queries/retrieval.py:_bm25_scored":
        "1-row corpus stats (N, avgdl)",
    "queries/retrieval.py:retrieval_hybrid_morelikethis":
        "1-row query-doc vector + corpus stats",
    "queries/similarity.py:embed_binary_quantize_recall":
        "broadcast query rows x corpus (query side fixed-size)",
    "queries/similarity.py:embed_hard_negatives":
        "broadcast anchor sample",
    "queries/similarity.py:embed_hnsw_search":
        "1-row entry-point frame + broadcast query batch x K-bounded "
        "descent frontier",
    "queries/similarity.py:_beam_audit":
        "broadcast query batch x corpus for the exact-truth audit "
        "(shared core of the graph/HNSW search legs)",
    "queries/text.py:_uv_train":
        "1-row piece-count total broadcast onto the <=V+alphabet vocab "
        "(shared train side of the batch query and the ingest twin)",
    "queries/similarity.py:embed_ivf_nprobe_matrix":
        "broadcast probe set",
    "queries/similarity.py:embed_ivf_recall":
        "broadcast probe set",
    "queries/similarity.py:embed_ivf_search":
        "1-row query vector",
    "queries/similarity.py:embed_knn_bruteforce":
        "1-row query vector",
    "queries/similarity.py:embed_matryoshka_recall":
        "broadcast probe set",
    "queries/similarity.py:embed_mmr_rerank":
        "broadcast shortlist (fixed k)",
    "queries/similarity.py:_nndescent_graph":
        "broadcast hash-sampled probe set (bounded); shared core of "
        "embed_nndescent_knn and its sampled twin",
    "queries/text.py:text_bpe_encode":
        "1-row merge-table frame (top-K trained merges) broadcast",
    "queries/webingest.py:_doc_edges":
        "1-row corpus-count aggregate (edge-target modulus)",
    "queries/webingest.py:_pagerank_state":
        "1-row corpus-count + per-iteration 1-row dangling-mass "
        "aggregates broadcast into the rank update; shared core of "
        "corpus_pagerank and corpus_pagerank_convergence",
    "queries/warehouse.py:part_single_source_risk":
        "1-row revenue-total aggregate broadcast",
    "queries/warehouse.py:part_xyz_variability":
        "1-row week-count aggregate broadcast",
    "queries/similarity.py:embed_sq8_quantize":
        "1-row min/max frame",
    "queries/similarity.py:embed_sq8_recall":
        "1-row min/max frame + broadcast probe set",
    "queries/sketches.py:events_cms_joinsize":
        "1-row sketch frames",
    "queries/sketches.py:lineitem_bloom_join_prune":
        "1-row bitset aggregate",
    "queries/stats.py:lineitem_hbos_outliers":
        "1-row histogram-bounds frame",
    "queries/text.py:text_bpe_holdout_compression":
        "1-row merge-table array",
    "queries/text.py:text_bpe_train":
        "1-row best-pair frame per round",
    "sources/readers.py:write_parquet_zorder":
        "1-row min/max bounds for Morton normalization",
}

#: function -> the bounded domain its ordered-but-unpartitioned window
#: runs over (NOT corpus-sized)
WINDOW_ORDERBY_ALLOWED = {
    "operators/textops.py:shingle_dict":
        "vocabulary frame (oracle-only path; engine path uses content "
        "hashes)",
    "operators/textops.py:token_dict": "vocabulary frame",
    "queries/advanced.py:_brand_cooc_kept":
        "brand-pair frame (brand domain is dimension-sized; shared "
        "rank-cut core of graph_triangle_brands / "
        "sql_recursive_brand_reach)",
    "queries/analytics.py:weather_temp_equidepth":
        "NTILE over per-city frame at dashboard cardinality",
    "queries/behavior.py:events_acf_daily": "calendar-day frame",
    "queries/behavior.py:events_gini_concentration":
        "documented exact path; events_gini_binned is the scale twin",
    "queries/behavior.py:events_periodogram": "calendar-day frame",
    "queries/behavior.py:events_survival_km":
        "distinct event-time frame (bounded by study horizon)",
    "queries/retrieval.py:retrieval_hybrid_morelikethis":
        "top-k shortlist frames",
    "queries/retrieval.py:retrieval_rrf_fusion":
        "top-k shortlist frames",
    "queries/retrieval.py:text_bm25_search": "top-k shortlist frame",
    "queries/text.py:text_vocab_coverage_curve": "vocabulary frame",
    "queries/text.py:text_zipf_slope": "vocabulary frame",
    "queries/warehouse.py:lineitem_abc_pareto":
        "per-part aggregate frame (part-dimension cardinality)",
    "queries/warehouse.py:orders_backlog_sweepline":
        "event-boundary frame after daily rollup",
    "queries/warehouse.py:orders_prefix_sum_distributed":
        "partition-offset frame (one row per partition)",
    "queries/warehouse.py:part_skyline_frontier":
        "skyline candidate frame (already pruned)",
}


def _scan():
    hits = {"collect": [], "crossJoin": [], "winorder": [], "toPandas": []}
    for root, _, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]

            def enc(ln):
                best = None
                for a, b, name in funcs:
                    if a <= ln <= b and (best is None or a > best[0]):
                        best = (a, name)
                return best[1] if best else "<module>"

            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                ):
                    continue
                site = f"{rel}:{enc(node.lineno)}"
                if node.func.attr == "collect":
                    hits["collect"].append(site)
                elif node.func.attr == "toPandas":
                    hits["toPandas"].append(site)
                elif node.func.attr == "crossJoin":
                    hits["crossJoin"].append(site)
                elif (
                    node.func.attr == "orderBy"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "Window"
                ):
                    hits["winorder"].append(site)
    return hits


def test_no_unaudited_driver_collects():
    got = set(_scan()["collect"])
    new = got - set(COLLECT_ALLOWED)
    assert not new, (
        f"unaudited .collect() sites {sorted(new)} — audit that the "
        "collected frame is scalar/centroid driver-loop state (never "
        "row data) and add it to COLLECT_ALLOWED with the reason"
    )


def test_no_topandas_in_engine():
    assert not _scan()["toPandas"], "toPandas pulls full frames to the driver"


def test_no_unaudited_cross_joins():
    got = set(_scan()["crossJoin"])
    new = got - set(CROSSJOIN_ALLOWED)
    assert not new, (
        f"unaudited .crossJoin() sites {sorted(new)} — audit that one "
        "side is a 1-row aggregate or bounded broadcast and add it to "
        "CROSSJOIN_ALLOWED with the reason"
    )


def test_no_unaudited_unpartitioned_windows():
    got = set(_scan()["winorder"])
    new = got - set(WINDOW_ORDERBY_ALLOWED)
    assert not new, (
        f"unaudited Window.orderBy sites {sorted(new)} — a window with "
        "no partitionBy serializes through ONE task; audit that its "
        "frame is domain-bounded (calendar/vocabulary/bucket/top-k) "
        "and add it to WINDOW_ORDERBY_ALLOWED with the bound"
    )


def test_allowlists_not_stale():
    """Entries for deleted sites must be removed — a stale allowlist
    quietly widens the gate."""
    got = _scan()
    for allowed, key in [
        (COLLECT_ALLOWED, "collect"),
        (CROSSJOIN_ALLOWED, "crossJoin"),
        (WINDOW_ORDERBY_ALLOWED, "winorder"),
    ]:
        stale = set(allowed) - set(got[key])
        assert not stale, f"stale {key} allowlist entries: {sorted(stale)}"
