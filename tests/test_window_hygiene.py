"""Window-hygiene ratchet (round 5).

tools/audit_windows.py sweeps ALL 361 entries per round (too slow for
the suite: iterative entries execute their fixpoint loops at plan
time). This suite pins the two pieces the sweep depends on so the
ratchet can't rot between sweeps:

1. the plan-text parser itself (pure function, exact fixtures), and
2. a representative entry set — the banded order-statistic family
   (whose unpartitioned windows must stay confined to the bounded
   band relation) plus fact-scale entries that must have ZERO
   unpartitioned windows at all.
"""

from __future__ import annotations

import pytest

from tools.audit_windows import ALLOWED, unpartitioned_windows


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestParser:
    def test_partitioned_window_not_flagged(self):
        plan = (
            "+- Window [row_number() windowspecdefinition(_band#1L, "
            "c#2L ASC NULLS FIRST, specifiedwindowframe(RowFrame, "
            "unboundedpreceding$(), currentrow$())) AS _we0#3], "
            "[_band#1L], [c#2L ASC NULLS FIRST]"
        )
        assert unpartitioned_windows(plan) == []

    def test_order_only_window_flagged(self):
        plan = (
            "+- Window [sum(_bn#42L) windowspecdefinition(_band#41L "
            "ASC NULLS FIRST, specifiedwindowframe(RowFrame, "
            "unboundedpreceding$(), currentrow$())) AS _we0#47L], "
            "[_band#41L ASC NULLS FIRST]"
        )
        assert unpartitioned_windows(plan) == ["sum(_bn"]

    def test_global_frame_window_flagged(self):
        plan = (
            "+- Window [sum(delta#1L) windowspecdefinition("
            "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
            "unboundedfollowing$())) AS total#2L]"
        )
        assert unpartitioned_windows(plan) == ["sum(delta"]

    def test_cast_commas_do_not_split_partition_args(self):
        # a partition column wrapped in cast(... as decimal(38,0))
        # contains commas inside parens; the flattener must not let
        # them masquerade as extra ordering args
        plan = (
            "+- Window [sum(x#1) windowspecdefinition(cast(k#2 as "
            "decimal(38,0)), ts#3 ASC NULLS FIRST, "
            "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
            "currentrow$())) AS s#4]"
        )
        assert unpartitioned_windows(plan) == []


# the banded order-statistic family: unpartitioned windows allowed
# ONLY over the bounded band/bucket relation (signatures pinned in
# tools/audit_windows.ALLOWED); plus this round's two rewrites.
BANDED = [
    "ext_rfm",
    "ext_pareto_frontier",
    "ext_lorenz_deciles",
    "ext_zorder_manifest",
    "ext_auc",
    "ext_lift_table",
]

# fact-scale entries where ANY unpartitioned window is a regression
CLEAN = [
    "flagship_report",
    "ext_dedup_exact",
    "agg_groupby_multi",
    "ext_window_agg",
    "ext_sessionize",
    "ext_corpus_pipeline",
]


class TestSmellParser:
    """tools/audit_plans.py's single-partition classifier: the benign
    global-aggregate funnel (partial rows per task) is skipped, real
    funnels are reported."""

    def test_partial_agg_funnel_is_benign(self):
        from tools.audit_plans import _single_partition_funnels

        plan = (
            "+- HashAggregate(keys=[], functions=[count(1)])\n"
            "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]\n"
            "      +- HashAggregate(keys=[], functions=[partial_count(1)])\n"
        )
        assert _single_partition_funnels(plan) == []

    def test_non_partial_child_is_flagged(self):
        from tools.audit_plans import _single_partition_funnels

        plan = (
            "+- Window [sum(x#1)]\n"
            "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]\n"
            "      +- HashAggregate(keys=[_band#3L], functions=[count(1)])\n"
        )
        assert _single_partition_funnels(plan) == ["HashAggregate"]

    def test_sort_funnel_is_flagged(self):
        from tools.audit_plans import _single_partition_funnels

        plan = (
            "+- Sort [x#1 ASC NULLS FIRST], true, 0\n"
            "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]\n"
            "      +- Project [x#1]\n"
        )
        assert _single_partition_funnels(plan) == ["Project"]


class TestCacheHygiene:
    """Round-6 ratchet (r5 verdict #1): every .cache()/.persist() site
    in the package is either paired with an unpersist in its enclosing
    function or allowlisted as a single-shot shared-subtree cache that
    the bench/oracle_check session-hygiene sweeps drop. Static scan —
    runs the FULL audit, not a sample."""

    def test_all_cache_sites_accounted(self):
        from tools.audit_caches import ALLOWED, scan

        found = scan()
        new = sorted(set(found) - set(ALLOWED))
        stale = sorted(set(ALLOWED) - set(found))
        assert not new, f"unaccounted cache sites (pair or allowlist): {new}"
        assert not stale, f"stale allowlist keys (prune): {stale}"

    def test_no_function_exceeds_its_site_count(self):
        # ALLOWED records how many unpaired sites each function may hold
        from tools.audit_caches import check, scan

        assert not check(scan())["over"]

    def test_paired_detection_sees_clustering_family(self):
        # the iterative family releases its loop caches; the scanner
        # must classify those sites as PAIRED, not demand allowlisting
        from tools.audit_caches import scan

        found = scan()
        assert not any("clustering.py" in k for k in found), [
            k for k in found if "clustering.py" in k
        ]

    def test_bench_clears_cache_between_passes(self):
        # composition guard: the honest-median fix stays in the timed
        # loop (clearCache BEFORE each timed pass)
        import inspect

        import bench

        src = inspect.getsource(bench.main)
        body = src.split("timings: dict", 1)[1]
        assert "clearCache()" in body.split("passes.append", 1)[0]

    def test_oracle_check_clears_cache_per_entry(self):
        import inspect

        from tests import oracle_check

        assert "clearCache()" in inspect.getsource(oracle_check.compare)


# Entries whose single-shot persists were deleted because exchange
# reuse already shares their subtrees; the LM entries are the ones that
# used to pile up cached relations in a long-lived session.
PERSIST_FREE = [
    "ext_bm25_search",
    "ext_katz_vs_kn",
    "ext_trigram_kn",
    "ext_kneser_ney",
    "ext_kneser_ney_holdout",
    "ext_katz_backoff",
    "ext_lm_ppl_filter",
    "ext_good_turing",
    "ext_entropy_rate",
    "ext_selfbleu",
    "ext_pagerank",
    "ext_chi_square",
    "ext_cramers_v",
    "ext_shortest_path",
    "ext_label_propagation",
    "ext_pca_power",
    "ext_cohort_ltv",
    "ext_stickiness",
    "ext_assoc_rules",
    "ext_sim_search_ivf",
]


class TestSessionHygiene:
    def test_back_to_back_entries_leave_nothing_cached(self, spark, sf_dir):
        """Run the entries one after another in one session with no
        clearCache() between them: after each one is materialized the
        CacheManager is empty and no RDD stays persisted."""
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        cache_manager = spark._jsparkSession.sharedState().cacheManager()
        # earlier tests' localCheckpoint RDDs sit outside the
        # CacheManager until the context cleaner drops them, so only
        # growth over this baseline counts
        baseline = set(jsc.getPersistentRDDs().keySet())
        for name in PERSIST_FREE:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            assert cache_manager.isEmpty(), name
            assert set(jsc.getPersistentRDDs().keySet()) <= baseline, name


class TestRepresentativeEntries:
    @pytest.mark.parametrize("name", BANDED)
    def test_banded_entry_windows_stay_allowlisted(self, spark, sf_dir, name):
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        sigs = set(unpartitioned_windows(physical_plan(QUERIES[name](spark, sf_dir))))
        assert sigs, f"{name} lost its band prefix window — plan changed?"
        assert sigs <= ALLOWED[name], (name, sigs - ALLOWED[name])

    @pytest.mark.parametrize("name", CLEAN)
    def test_fact_scale_entry_has_no_global_window(self, spark, sf_dir, name):
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        sigs = unpartitioned_windows(physical_plan(QUERIES[name](spark, sf_dir)))
        assert sigs == [], (name, sigs)

    @pytest.mark.parametrize(
        "name",
        ["ext_rfm", "ext_pareto_frontier", "join_theta", "ext_sim_search"],
    )
    def test_plan_smells_stay_allowlisted(self, spark, sf_dir, name):
        """No smell outside the audited set (tools/audit_plans.ALLOWED)
        may appear — in particular no CartesianProduct anywhere."""
        from proto_to_avro_ql_spark.entry_queries import QUERIES
        from tools.audit_plans import ALLOWED, plan_smells

        smells = plan_smells(physical_plan(QUERIES[name](spark, sf_dir)))
        assert "cartesian" not in smells, name
        assert smells <= ALLOWED.get(name, set()), (
            name,
            smells - ALLOWED.get(name, set()),
        )

    @pytest.mark.parametrize("name", CLEAN)
    def test_fact_scale_entry_has_no_plan_smells(self, spark, sf_dir, name):
        from proto_to_avro_ql_spark.entry_queries import QUERIES
        from tools.audit_plans import plan_smells

        smells = plan_smells(physical_plan(QUERIES[name](spark, sf_dir)))
        assert smells == set(), (name, smells)


class TestCountBasedPairing:
    """Round-7 (r6 ADVICE #2): the PAIRED heuristic is count-based per
    innermost enclosing function — a function with more cache sites
    than unpersist calls is leaking and must NOT pass as paired."""

    def _scan_src(self, tmp_path, src):
        import textwrap

        from tools.audit_caches import sites_in_file

        p = tmp_path / "mod.py"
        p.write_text(textwrap.dedent(src))
        return sites_in_file(str(p))

    def test_equal_counts_are_paired(self, tmp_path):
        sites = self._scan_src(
            tmp_path,
            """
            def f(a, b):
                x = a.cache()
                y = b.persist()
                x.unpersist()
                y.unpersist()
            """,
        )
        assert [(n, p) for n, _l, p in sites] == [("f", True), ("f", True)]

    def test_partial_unpersist_is_not_paired(self, tmp_path):
        # 3 persists, 1 unpersist: the old any-unpersist rule blessed
        # all three; the count rule must flag them
        sites = self._scan_src(
            tmp_path,
            """
            def g(a, b, c):
                x = a.persist()
                y = b.persist()
                z = c.cache()
                x.unpersist()
            """,
        )
        assert all(n == "g" and not p for n, _l, p in sites)
        assert len(sites) == 3

    def test_planted_site_in_allowlisted_function_is_flagged(self, tmp_path):
        # a NEW persist inside an already-allowlisted function must fail
        # the gate, not pass under the function's existing entry
        import ast
        import os

        from tools.audit_caches import ALLOWED, REPO, check, scan

        key = min(
            ALLOWED,
            key=lambda k: os.path.getsize(os.path.join(REPO, k.rsplit(":", 1)[0])),
        )
        rel, fn = key.rsplit(":", 1)
        src = open(os.path.join(REPO, rel)).read()
        node = next(
            n
            for n in ast.walk(ast.parse(src))
            if isinstance(n, ast.FunctionDef) and n.name == fn
        )
        last = node.body[-1]
        lines = src.splitlines(keepends=True)
        lines.insert(
            last.lineno - 1, " " * last.col_offset + "_planted = spark.range(1).persist()\n"
        )
        dest = tmp_path / rel
        dest.parent.mkdir(parents=True)
        dest.write_text("".join(lines))
        n = ALLOWED[key][0]
        found = scan(str(tmp_path / "proto_to_avro_ql_spark"))
        assert check(found)["over"] == {key: (n + 1, n)}

    def test_attribution_is_per_innermost_function(self, tmp_path):
        # outer's cache is NOT blessed by an unpersist inside a nested
        # helper — each function balances its own books
        sites = self._scan_src(
            tmp_path,
            """
            def outer(a):
                x = a.cache()
                def inner():
                    x.unpersist()
                return inner
            """,
        )
        assert [(n, p) for n, _l, p in sites] == [("outer", False)]

    def test_module_level_cache_never_paired(self, tmp_path):
        sites = self._scan_src(tmp_path, "df = spark.read.parquet('x').cache()\n")
        assert [(n, p) for n, _l, p in sites] == [("<module>", False)]
