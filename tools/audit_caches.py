"""Repo-wide cache-hygiene audit: find every ``.cache()``/``.persist()``
call site in the package and ratchet against UNACCOUNTED ones.

Why: a cached relation that is never unpersisted outlives its query
in a long-lived driver session and, through CacheManager plan
matching, silently warms later runs of any query sharing the subtree.

Policy (enforced here, exit-nonzero ratchet like audit_windows):
every cache/persist site must be either

  PAIRED     — the enclosing function also calls ``.unpersist(...)``
               at least as often (iterative operators that release
               loop caches, e.g. the clustering family), or
  ALLOWLISTED— its function is registered in ``ALLOWED`` below with
               the number of unpaired sites it may hold and the
               measured reason they stay.  A single-shot persist stays
               only when (a) a driver job that runs while the plan is
               built reads the cache (the reason names the job), or
               (b) an entry that reaches it measured slower without
               it: interleaved min-of-passes of build plus a noop write
               of the full result, ratio > 1.05 at sf0.01 or sf0.1
               (the reason gives both ratios).  A persist of a shared
               subtree that Spark's exchange reuse already shares
               (``ReusedExchange`` on the executed plan) is deleted,
               not allowlisted.

Allowlisted caches still outlive their query: ``bench.py`` clears
before each timed pass and ``tests/oracle_check.compare`` after each
entry, and tests/test_window_hygiene.py runs persist-free entries back
to back to pin that they leave nothing cached.

A function missing from ``ALLOWED``, one holding more unpaired sites
than its count, or a stale key flips the exit code.

Usage: ``python tools/audit_caches.py``  (also run by
tests/test_window_hygiene.py as a pytest ratchet).
"""

from __future__ import annotations

import ast
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "proto_to_avro_ql_spark")

CACHE_ATTRS = {"cache", "persist"}


def sites_in_file(path: str) -> list[tuple[str, int, bool]]:
    """(enclosing_function, lineno, paired_with_unpersist) per site.

    PAIRED is COUNT-BASED per enclosing function (r6 ADVICE: the old
    any-unpersist-in-function heuristic let a function with 3 persists
    and 1 unpersist pass while leaking 2 caches): every cache/persist
    and unpersist call is attributed to its INNERMOST enclosing
    function, and a function's cache sites are paired only when it
    contains at least as many unpersist calls as cache sites. Genuine
    single-shot sites stay on the ALLOWED allowlist."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)

    cache_sites: list[tuple[ast.AST | None, str, int]] = []
    counts: dict[ast.AST | None, list[int]] = {}  # fn -> [caches, unpersists]

    def walk(node: ast.AST, stack: list[ast.AST]) -> None:
        for child in ast.iter_child_nodes(node):
            is_fn = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            walk(child, stack + [child] if is_fn else stack)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            fn = stack[-1] if stack else None
            if node.func.attr in CACHE_ATTRS:
                fn_name = fn.name if fn is not None else "<module>"
                cache_sites.append((fn, fn_name, node.lineno))
                counts.setdefault(fn, [0, 0])[0] += 1
            elif node.func.attr == "unpersist":
                counts.setdefault(fn, [0, 0])[1] += 1

    walk(tree, [])
    out: list[tuple[str, int, bool]] = []
    for fn, fn_name, lineno in cache_sites:
        n_cache, n_unpersist = counts.get(fn, [0, 0])
        paired = fn is not None and n_unpersist >= n_cache
        out.append((fn_name, lineno, paired))
    return out


def scan(pkg: str = PKG) -> dict[str, list[int]]:
    """{'relpath:function': [linenos]} for every UNPAIRED site under
    ``pkg`` (paths relative to its parent directory)."""
    found: dict[str, list[int]] = {}
    for dirpath, _dirnames, filenames in os.walk(pkg):
        for fname in sorted(filenames):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, os.path.dirname(pkg))
            for fn_name, lineno, paired in sites_in_file(path):
                if paired:
                    continue
                found.setdefault(f"{rel}:{fn_name}", []).append(lineno)
    return found


def check(found: dict[str, list[int]]) -> dict:
    """Classify a scan against ``ALLOWED``: ``new`` functions, functions
    ``over`` their allowed site count ({key: (found, allowed)}), and
    ``stale`` keys (function gone or holding fewer sites — prune or
    lower the count)."""
    over = {
        k: (len(v), ALLOWED[k][0])
        for k, v in found.items()
        if k in ALLOWED and len(v) > ALLOWED[k][0]
    }
    stale = sorted(
        k for k, (n, _why) in ALLOWED.items() if len(found.get(k, [])) < n
    )
    new = sorted(k for k in found if k not in ALLOWED)
    return {"new": new, "over": over, "stale": stale}


# Allowlisted unpaired sites: key = 'relpath:enclosing_function',
# value = (site count, reason).  "A×/B×" is the interleaved
# min-of-passes ratio, persist removed vs kept, of build plus a noop
# write of the full result at sf0.01 / sf0.1 (>= 3 rounds, 4 cores).
# The single-shot persists that measured <= 1.05× at both scales were
# deleted instead of listed.
_SLOWER = "the entry is slower without it: "
ALLOWED: dict[str, tuple[int, str]] = {
    # --- read by driver jobs that run while the plan is built ------------
    "proto_to_avro_ql_spark/operators/dedup.py:ngram_jaccard_pairs": (
        1,
        "exploded shingle table; ext_dedup_cluster and "
        "ext_near_dedup_pipeline run connected_components' jobs over the "
        "pair relation built from it while their plans are built",
    ),
    "proto_to_avro_ql_spark/entry_registry.py:_bpe_word_freq": (
        1,
        "word-frequency relation; _bpe_learn's k = 8 one-row merge "
        "collects read it at build time (ext_bpe_train/encode/vocab)",
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_bpe_encode": (
        1,
        "(lang, word) counts; the word frequencies that _bpe_learn's "
        "build-time collects read derive from it",
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_bpe_vocab": (
        1,
        "(lang, word) counts; the word frequencies that _bpe_learn's "
        "build-time collects read derive from it",
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_mmr_select": (
        1,
        "candidate relation; each of the k = 8 greedy steps is a one-row "
        "driver collect over it at build time",
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_dbscan_grid": (
        1,
        "cell counts; the dense-cell bound check (first()) and the "
        "dense-cell collect() read it at build time",
    ),
    # --- reached by no queries() entry (tests call them), not measured ---
    "proto_to_avro_ql_spark/operators/simsearch.py:ivf_topk": (
        2,
        "trained centroids and cell-assigned embeddings of the float IVF "
        "path; only tests/test_simsearch.py calls it, so no entry ratio "
        "exists",
    ),
    "proto_to_avro_ql_spark/operators/simsearch.py:pq_adc_topk": (
        1,
        "float PQ codebooks; only tests/test_simsearch.py calls it, so no "
        "entry ratio exists",
    ),
    # --- exchange reuse does not share the subtree ------------------------
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_mann_whitney": (
        1,
        "distinct-cents relation: 0.47×/0.78× without it, but the "
        "readers' plans differ (inferred filters), so no ReusedExchange "
        "shares it; tests/test_plans.py pins the one materialization",
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_mutual_information": (
        1,
        "contingency relation: 0.38×/0.57× without it, but inferred "
        "isnotnull filters make the four readers' plans differ, so no "
        "ReusedExchange shares it; tests/test_plans.py pins the one "
        "materialization",
    ),
    # --- measured slower without the persist ------------------------------
    "proto_to_avro_ql_spark/operators/dedup.py:containment_pairs": (
        1, _SLOWER + "ext_dedup_containment 1.31×/2.06×"
    ),
    "proto_to_avro_ql_spark/operators/dedup.py:incremental_lsh_admit": (
        1, _SLOWER + "ext_dedup_lsh_incremental 1.06×/1.33×"
    ),
    "proto_to_avro_ql_spark/operators/dedup.py:minhash_lsh_pairs": (
        1, _SLOWER + "ext_dedup_minhash 1.39×/1.94×"
    ),
    "proto_to_avro_ql_spark/operators/dedup.py:simhash_pairs": (
        1, _SLOWER + "ext_dedup_simhash 1.06×/1.23×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:_dsir_scored": (
        1,
        _SLOWER + "ext_dsir_pipeline 1.08×/1.69× (ext_dsir_weights, "
        "_bigram, _resample 0.52–0.99×)",
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_blockhash": (
        1,
        _SLOWER + "ext_blockhash 53×/not run (one persist-free pass "
        "takes 65 s at sf0.01)",
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_ccnet_pipeline": (
        4, _SLOWER + "ext_ccnet_pipeline 0.76×/1.12×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_dataset_card": (
        2, _SLOWER + "ext_dataset_card 0.99×/1.30×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_distinct_n": (
        1, _SLOWER + "ext_distinct_n 0.98×/1.07×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_dsir_resample": (
        1, _SLOWER + "ext_dsir_resample 1.97×/1.75×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_dsir_pipeline": (
        2, _SLOWER + "ext_dsir_pipeline 1.08×/1.69×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_graph_jaccard": (
        2, _SLOWER + "ext_graph_jaccard 0.47×/1.36×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_heaps_law": (
        1, _SLOWER + "ext_heaps_law 1.25×/0.94×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_hits": (
        1, _SLOWER + "ext_hits 0.71×/1.13×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_minhash_est_error": (
        2, _SLOWER + "ext_minhash_est_error 1.30×/2.03×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_minhash_merge": (
        1, _SLOWER + "ext_minhash_merge 0.39×/2.46×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_modularity": (
        3, _SLOWER + "ext_modularity 0.55×/1.17×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_nb_quality": (
        2, _SLOWER + "ext_nb_quality 0.78×/1.27×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_novelty_curve": (
        1, _SLOWER + "ext_novelty_curve 1.06×/0.98×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_raking": (
        1,
        "observed counts: 0.32×/0.33× without it, but the persist-free "
        "plan shows tools/audit_plans a single-partition funnel that the "
        "cached relation hides today; kept until that funnel is fixed",
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_shapley_attribution": (
        1, _SLOWER + "ext_shapley_attribution 1.10×/1.13×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_price_index": (
        1, _SLOWER + "ext_price_index 0.70×/1.06×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_soft_dedup": (
        1, _SLOWER + "ext_soft_dedup 0.91×/1.14×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_span_scrub": (
        1, _SLOWER + "ext_span_scrub 1.08×/1.16×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_triangle_count": (
        1, _SLOWER + "ext_triangle_count 0.58×/1.24×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_vad_segments": (
        1, _SLOWER + "ext_vad_segments 1.22×/1.16×"
    ),
    "proto_to_avro_ql_spark/entry_registry.py:q_ext_winnowing": (
        4, _SLOWER + "ext_winnowing 1.35×/1.89×"
    ),
}


def main() -> int:
    found = scan()
    res = check(found)
    for key in sorted(found):
        flag = "NEW " if key in res["new"] else "OVER " if key in res["over"] else ""
        print(f"{flag}{key}: lines {found[key]}")
    if res["over"]:
        print(f"# over the allowed site count (found, allowed): {res['over']}")
    if res["stale"]:
        print(f"# stale allowlist keys (sites removed — prune them): {res['stale']}")
    print(
        f"# {sum(len(v) for v in found.values())} unpaired cache sites in "
        f"{len(found)} functions; {len(res['new'])} unaccounted; "
        f"{len(res['over'])} over count; {len(res['stale'])} stale"
    )
    return 1 if any(res.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
