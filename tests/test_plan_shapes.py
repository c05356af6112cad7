"""Plan-shape regression guards: the properties that make the headline
queries viable at 100 TB, asserted against the optimized physical plan so a
refactor can't silently trade them away.

(perfbench's numbers say how fast the jobs are on a given box; these tests
pin WHY they stay fast at 1000x the data.)
"""

from __future__ import annotations

import pytest

from etl_embargo_spark import registry


@pytest.fixture(autouse=True)
def _clean_cache(spark):
    """Plan guards assert the CLEAN-SESSION plan.

    Query builders persist shared relations (q_tfidf's tf, q_ngram_counts'
    token arrays — the CLAUDE.md shared-lineage rule) and cannot unpersist
    them (the consumer is lazy), so a session that has EXECUTED those
    queries carries cache entries that Spark substitutes into any later
    query whose subtree canonically matches.  That substitution is
    legitimate free reuse at runtime, but it changes the PRINTED plan: a
    materialized InMemoryTableScan prints the cached relation's logical
    and codegen'd physical plan, so e.g. q_repetition_filter's unigram
    explode appeared as 3 'Generate's in full-suite runs (after
    test_oracle_parity executed q_tfidf) while execution still ran
    exactly 2 tokenize passes — one of them from cache (round-6 verdict's
    cross-file flake, root-caused round 7).  Clearing the cache pins the
    guards to the plan a fresh session would run.
    """
    spark.catalog.clearCache()
    yield


def _plan(spark, sf_dir, name: str) -> str:
    df = registry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


class TestFlagshipPlan:
    def test_whitelist_join_is_broadcast(self, spark, sf_dir):
        """The classifier must broadcast the whitelist dim — a sort-merge
        join here would shuffle the entire fact table."""
        plan = _plan(spark, sf_dir, "q_split_partition")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_no_exchange_on_fact_side(self, spark, sf_dir):
        """The fact scan feeds the broadcast join directly: the only
        Exchanges allowed are on the (tiny) dim side."""
        plan = _plan(spark, sf_dir, "q_split_partition")
        # dim side: distinct agg exchange + broadcast exchange — nothing else
        assert plan.count("Exchange") <= 2

    def test_semi_join_variants(self, spark, sf_dir):
        for name in ("q_whitelist_semi", "q_embargo_anti"):
            plan = _plan(spark, sf_dir, name)
            assert "Broadcast" in plan, name

    def test_compare_listings_one_exchange_no_join(self, spark, sf_dir):
        """The bucket diff is one aggregation over both listings' tagged
        keys: a single shuffle on the key and no join."""
        plan = _plan(spark, sf_dir, "q_compare_full_outer")
        assert plan.count("Exchange") == 1, plan
        assert "Join" not in plan, plan


class TestScanPruning:
    @pytest.mark.parametrize(
        ("name", "must_push"),
        [
            ("q_date_cutoff", "PushedFilters: [IsNotNull(o_orderdate)"),
            ("q_suffix_filter", "PushedFilters"),
        ],
    )
    def test_filters_reach_scan(self, spark, sf_dir, name, must_push):
        plan = _plan(spark, sf_dir, name)
        assert must_push in plan, name

    def test_column_pruning(self, spark, sf_dir):
        """q_dedup_exact reads exactly (doc_id, text) — reading the full
        documents schema would double the scan bytes."""
        plan = _plan(spark, sf_dir, "q_dedup_exact")
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


class TestAggAndTopK:
    def test_pricing_summary_partial_agg(self, spark, sf_dir):
        """HashAggregate must appear twice (partial map-side + final) around
        one Exchange — the map-side combine that keeps the shuffle at
        O(groups), not O(rows)."""
        plan = _plan(spark, sf_dir, "q_pricing_summary")
        assert plan.count("HashAggregate") >= 2
        assert plan.count("Exchange") == 1

    def test_topk_group_limit_pushdown(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "q_topk_per_group")
        assert "WindowGroupLimit" in plan

    def test_global_topk_never_sorts_globally(self, spark, sf_dir):
        """q_join_revenue's LIMIT 10 must be TakeOrderedAndProject
        (per-partition heaps), not a global Sort."""
        plan = _plan(spark, sf_dir, "q_join_revenue")
        assert "TakeOrderedAndProject" in plan


class TestExtensionPlans:
    def test_hash_sample_is_narrow(self, spark, sf_dir):
        """Deterministic hash sampling must stay a pure filter — zero
        Exchanges.  A sample that shuffles defeats its own purpose."""
        plan = _plan(spark, sf_dir, "q_hash_sample")
        assert plan.count("Exchange") == 0

    def test_zscore_broadcasts_stats(self, spark, sf_dir):
        """The grouped stats must broadcast back onto the event stream; a
        sort-merge join would shuffle the full fact table twice."""
        plan = _plan(spark, sf_dir, "q_zscore_outliers")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_tfidf_rank_is_group_limited(self, spark, sf_dir):
        """The per-doc top-3 must be WindowGroupLimit-pruned and the df/N
        joins broadcast — tfidf is the composition showcase."""
        plan = _plan(spark, sf_dir, "q_tfidf")
        assert "WindowGroupLimit" in plan
        assert "SortMergeJoin" not in plan

    def test_vocab_topk_is_heap_based(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "q_vocab")
        assert "TakeOrderedAndProject" in plan

    def test_histogram_partial_agg(self, spark, sf_dir):
        """Map-side combine collapses each scan partition to <= n_bins rows
        before the single exchange."""
        plan = _plan(spark, sf_dir, "q_histogram")
        assert plan.count("HashAggregate") >= 2
        assert plan.count("Exchange") == 1

    def test_levenshtein_pairs_single_scan(self, spark, sf_dir):
        """Round-4 shape: ONE documents scan feeding a single bucket-local
        FlatMapGroupsInPandas that runs pre-filters AND the banded DP
        in-kernel — no persist, no self-join, no text re-shuffle (the
        kernel emits only id-sized (doc_a, doc_b, lev) rows)."""
        plan = _plan(spark, sf_dir, "q_dedup_levenshtein")
        assert plan.count("FlatMapGroupsInPandas") == 1
        assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
        assert plan.count("InMemoryTableScan") == 0
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
        assert "_block" in plan
        # exactly ONE exchange after the scan: the pinned numbered
        # repartition that the groupBy reuses (no post-kernel shuffle, and
        # no round-robin spread in front of it)
        assert plan.count("Exchange") == 1, plan
        assert "RoundRobinPartitioning" not in plan

    def test_minhash_pairs_no_round_robin_spread(self, spark, sf_dir):
        """The documents scan feeds the md5 exact-collapse groupBy
        directly: the shingle kernel runs after that shuffle, so a
        round-robin spread in front of it would parallelize nothing."""
        from etl_embargo_spark.operators.dedup import minhash_pairs

        plan = minhash_pairs(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" not in plan
        assert "hashpartitioning(_groupingexpression" in plan, plan

    def test_simhash_pairs_no_round_robin_spread(self, spark, sf_dir):
        """SimHash runs through the md5 exact-collapse groupBy like
        MinHash: no round-robin spread in front of that shuffle."""
        from etl_embargo_spark.operators.dedup import simhash_pairs

        plan = simhash_pairs(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" not in plan
        assert "hashpartitioning(_groupingexpression" in plan, plan

    def test_incremental_dedup_near_no_round_robin_spread(self, spark, sf_dir):
        """Each branch of the incremental near-dup check starts with the
        md5 groupBy of the documents scan: no round-robin spread."""
        plan = _plan(spark, sf_dir, "q_incremental_dedup_near")
        assert "RoundRobinPartitioning" not in plan
        assert "hashpartitioning(h#" in plan, plan

    def test_ngram_jaccard_band_in_block_key(self, spark, sf_dir):
        """The exact Jaccard variant groups on (lang, source, base-5
        shingle-count band) — the thing that keeps Σ|block|² bounded — and
        verifies ALL of a block's pairs inside ONE bucket-local GEMM
        kernel (FlatMapGroupsInPandas): no persisted shingle relation, no
        pair flatten, no per-pair array join-back (the round-3 shape this
        superseded shipped every array once per pair: 46 s at sf1)."""
        plan = _plan(spark, sf_dir, "q_dedup_ngram_jaccard")
        assert plan.count("FlatMapGroupsInPandas") == 1
        assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
        assert plan.count("InMemoryTableScan") == 0
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
        # the band column participates in the grouping key
        assert "_block" in plan, plan[:2000]


class TestBatch2Plans:
    def test_first_last_single_window(self, spark, sf_dir):
        """first/last/nth_value share one window spec — the plan must carry
        exactly one Window operator (and so one sort), not three."""
        plan = _plan(spark, sf_dir, "q_first_last")
        assert plan.count("Window") == 1

    def test_scd2_single_window_single_shuffle(self, spark, sf_dir):
        """lead + row_number share the (key, ts) sort: one Window, one
        Exchange on user_id."""
        plan = _plan(spark, sf_dir, "q_scd2")
        assert plan.count("Window") == 1
        assert plan.count("Exchange") == 1

    def test_incremental_agg_two_level(self, spark, sf_dir):
        """Daily and monthly levels each get a partial+final HashAggregate
        pair; nothing collapses the merge back into a raw-row rescan."""
        plan = _plan(spark, sf_dir, "q_incremental_agg")
        assert plan.count("HashAggregate") >= 4
        assert plan.count("Scan parquet") == 1

    def test_heavy_hitters_broadcasts_totals(self, spark, sf_dir):
        """The one-row totals must ride a broadcast nested-loop cross join;
        any shuffle join on a cross product would be catastrophic."""
        plan = _plan(spark, sf_dir, "q_heavy_hitters")
        assert "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_ngram_topk_is_heap_based(self, spark, sf_dir):
        plan = _plan(spark, sf_dir, "q_ngram_counts")
        assert "TakeOrderedAndProject" in plan


class TestRuntimeBloomFilter:
    def test_bloom_filter_injected_on_shuffle_join(self, spark, sf_dir):
        """The 100-TB shape for a selective dim join that is too big to
        broadcast: Spark's runtime bloom-filter injection builds a bloom
        filter from the filtered creation side and semi-join-prunes the
        probe side *before* the shuffle.  Verified here by forcing the
        shuffle join (broadcast off) and lowering the size thresholds the
        optimizer gates on; production keeps the defaults, where the rule
        arms itself exactly when the probe scan is big enough to matter."""
        from etl_embargo_spark.catalog import load_table

        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        }
        prior = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            from pyspark.sql import functions as F

            li = load_table(spark, sf_dir, "lineitem")
            supp = load_table(spark, sf_dir, "supplier").filter(
                F.col("s_acctbal") > 4500.0
            )
            joined = li.join(supp, li.l_suppkey == supp.s_suppkey).select(
                "l_orderkey", "s_nationkey"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "might_contain" in plan or "bloomfilter" in plan.lower()
        finally:
            for k, v in prior.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestBatch3Plans:
    def test_copurchase_single_scan(self, spark, sf_dir):
        """Basket pair mining must be the bucket-groupBy shape: ONE
        lineitem scan (a self-join would scan and shuffle twice) and a
        heap-based top-k."""
        plan = _plan(spark, sf_dir, "q_copurchase")
        assert plan.count("Scan parquet") == 1
        assert "TakeOrderedAndProject" in plan

    def test_retention_broadcasts_cohort(self, spark, sf_dir):
        """The per-user cohort side must broadcast onto the activity
        stream — it is one row per user, tiny next to the event log."""
        plan = _plan(spark, sf_dir, "q_retention")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestBatch4Plans:
    def test_new_vs_returning_two_exchanges(self, spark, sf_dir):
        """The collect_set formulation must keep the plan at two
        exchanges (user_id, then day) — the naive distinct→agg→join→agg
        chain costs four for identical output."""
        plan = _plan(spark, sf_dir, "q_new_vs_returning")
        assert plan.count("Exchange") == 2, plan

    def test_group_sample_window_group_limit(self, spark, sf_dir):
        """Fixed-k-per-group sampling must push the rank cut below the
        shuffle (WindowGroupLimit), so the exchange carries O(groups*k)."""
        plan = _plan(spark, sf_dir, "q_group_sample")
        assert "WindowGroupLimit" in plan, plan

    def test_event_paths_single_window(self, spark, sf_dir):
        """Stacked lead() steps must collapse into ONE Window node (one
        per-user sort however long the path is) and finish in a top-k
        heap, not a global sort."""
        plan = _plan(spark, sf_dir, "q_event_paths")
        assert plan.count("Window") == 1, plan
        assert "TakeOrderedAndProject" in plan

    def test_item_cosine_broadcasts_degrees(self, spark, sf_dir):
        """Both degree joins must broadcast (item-cardinality relations);
        the only shuffle-heavy stage is the pair count."""
        plan = _plan(spark, sf_dir, "q_item_cosine")
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan


class TestTpchJoinPlans:
    def test_local_volume_single_fact_shuffle(self, spark, sf_dir):
        """Q5 shape: every dimension (region→nation→supplier, customer)
        broadcasts; the only sort-merge-eligible join is lineitem⋈orders.
        A SortMergeJoin against a dim would mean a full fact shuffle per
        dim at 100 TB."""
        plan = _plan(spark, sf_dir, "q_local_volume")
        assert plan.count("BroadcastHashJoin") >= 3
        assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1

    def test_returned_items_topk_is_heap(self, spark, sf_dir):
        """Q10 shape: top-20 must be TakeOrderedAndProject (per-partition
        heap + merge), never a global Sort."""
        plan = _plan(spark, sf_dir, "q_returned_items")
        assert "TakeOrderedAndProject" in plan

    def test_large_orders_broadcasts_outliers(self, spark, sf_dir):
        """Q18 shape: after the per-order aggregate, the HAVING-filtered
        outlier set is tiny — both remaining joins must be broadcast, so
        no exchange ever touches orders or customer."""
        plan = _plan(spark, sf_dir, "q_large_orders")
        assert plan.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" not in plan

    def test_hll_merge_reaggregates_partials(self, spark, sf_dir):
        """The monthly rollup must consume daily sketch partials (two
        HashAggregate pairs), not re-scan raw events per month."""
        plan = _plan(spark, sf_dir, "q_hll_merge")
        assert plan.count("Scan parquet") == 1


class TestPipelineOpsPlans:
    def test_pack_contexts_single_exchange(self, spark, sf_dir):
        """Packing must shuffle token COUNTS once (on the shard key) —
        never text, never twice."""
        plan = _plan(spark, sf_dir, "q_pack_contexts")
        assert plan.count("Exchange") == 1
        assert "hashpartitioning(shard" in plan
        # the tokenizer runs BELOW the exchange: the shuffled projection
        # is (doc_id, shard, n_tokens) ints, so text never crosses the wire
        exchange_input = plan.split("Exchange")[1]
        assert "size(split(" in exchange_input

    def test_debounce_single_exchange(self, spark, sf_dir):
        """Debounce is one user_id exchange + one window sort; both lag()
        columns must ride the same window (no second sort)."""
        plan = _plan(spark, sf_dir, "q_debounce")
        assert plan.count("Exchange") == 1
        assert plan.count("Window") == 1

    def test_pareto_two_phase(self, spark, sf_dir):
        """Skyline must be the two-window shape: per-month local frontier
        (parallel) then the global prefix-max over survivors — never a
        quadratic self-join (no NestedLoop/CartesianProduct)."""
        plan = _plan(spark, sf_dir, "q_pareto")
        assert plan.count("Window") == 2
        assert "NestedLoop" not in plan and "Cartesian" not in plan

    def test_small_quantity_single_scan_decorrelation(self, spark, sf_dir):
        """Q17 shape: the correlated average decorrelates to a window over
        the broadcast-pruned slice — ONE lineitem scan, one broadcast
        join, never a sort-merge join or a second fact read."""
        plan = _plan(spark, sf_dir, "q_small_quantity")
        assert plan.count("BroadcastHashJoin") == 1
        assert "SortMergeJoin" not in plan
        assert plan.count("Scan parquet") == 2  # lineitem once + part once

    def test_blame_supplier_no_self_join(self, spark, sf_dir):
        """Q21 shape: the exists/not-exists pair must be per-order
        conditional aggregation — one lineitem scan, no self-join, and a
        heap-based top-20."""
        plan = _plan(spark, sf_dir, "q_blame_supplier")
        assert plan.count("Scan parquet") == 2  # lineitem once + supplier
        assert "SortMergeJoin" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_top_supplier_single_fact_scan(self, spark, sf_dir):
        """Q15 shape: the scalar-MAX-over-aggregate must be structural
        sharing (window over the built aggregate), not a duplicated
        subtree — exactly one lineitem scan (Spark 4 does NOT reuse the
        exchange for the scalar-subquery form, even under AQE)."""
        plan = _plan(spark, sf_dir, "q_top_supplier")
        assert plan.count("Scan parquet") == 2  # lineitem once + supplier
        assert plan.count("Window") == 1

    def test_market_share_single_fact_pass(self, spark, sf_dir):
        """Q8 shape: numerator and denominator from ONE pass — a single
        lineitem scan, one orderkey co-partition join, every dim leg
        broadcast."""
        plan = _plan(spark, sf_dir, "q_market_share")
        assert plan.count("Scan parquet") <= 7
        assert len([
            seg for seg in plan.split("FileScan parquet")
            if "lineitem" in seg.split("]")[0]
        ]) <= 1 or plan.count("lineitem.parquet") == 1
        assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1
        assert plan.count("BroadcastHashJoin") >= 2

    def test_priority_count_semi_join(self, spark, sf_dir):
        """Q4 shape: the EXISTS must plan as LeftSemi (first-match
        short-circuit, no pair explosion, no distinct pre-pass)."""
        plan = _plan(spark, sf_dir, "q_priority_count")
        assert "LeftSemi" in plan
        assert plan.count("HashAggregate") >= 2  # partial + final rollup

    def test_bpe_pairs_explodes_vocabulary_not_corpus(self, spark, sf_dir):
        """BPE pair counting must collapse to distinct words BEFORE the
        pair explosion (two agg pairs around the explode) and heap the
        top-50 — the explode over raw text would be corpus-sized."""
        plan = _plan(spark, sf_dir, "q_bpe_pairs")
        assert "TakeOrderedAndProject" in plan
        assert plan.count("HashAggregate") >= 4
        gen = plan.split("Generate explode")
        assert len(gen) == 3  # token explode + pair explode, nothing more
        # the word-count aggregate sits BETWEEN the two explodes: the
        # pair explosion consumes vocabulary rows, not corpus rows
        assert "HashAggregate" in gen[1]

    def test_attribution_single_window_no_join(self, spark, sf_dir):
        """Last-touch attribution must be one window over one user_id
        exchange — never a self-as-of-join (no join operator at all)."""
        plan = _plan(spark, sf_dir, "q_attribution")
        assert plan.count("Window") == 1
        assert "Join" not in plan


class TestOpsToolingPlans:
    def test_ri_audit_broadcast_anti(self, spark, sf_dir):
        """Every FK edge must be a broadcast LEFT ANTI (dim keys build) —
        the facts are scanned but never shuffled."""
        plan = _plan(spark, sf_dir, "q_ri_audit")
        assert plan.count("BroadcastHashJoin") == 4
        assert "LeftAnti" in plan
        assert "SortMergeJoin" not in plan

    def test_skew_profile_two_level(self, spark, sf_dir):
        """Per-key counts combine map-side; the percentile pass consumes
        the key-count relation, never raw rows (>= 2 agg levels per key)."""
        plan = _plan(spark, sf_dir, "q_skew_profile")
        assert plan.count("HashAggregate") >= 6

    def test_incremental_dedup_anti_on_hashes(self, spark, sf_dir):
        """Cross-run dedup must anti-join on 32-byte hashes with a single
        documents scan feeding both sides via projection — text itself
        never reaches the join."""
        plan = _plan(spark, sf_dir, "q_incremental_dedup")
        assert "LeftAnti" in plan
        assert "text" not in plan.split("Join")[0]

    def test_time_rollup_single_exchange(self, spark, sf_dir):
        """The grouping-set ladder expands map-side: one Expand, partial +
        final HashAggregate around ONE exchange."""
        plan = _plan(spark, sf_dir, "q_time_rollup")
        assert plan.count("Expand") == 1
        assert plan.count("Exchange") == 1
        assert plan.count("HashAggregate") >= 2

    def test_basket_lift_no_self_join_broadcast_probs(self, spark, sf_dir):
        """Lift: pair generation stays bucket-groupBy (single lineitem
        scan lineage per side), probability joins broadcast, top-30 is
        heap-based."""
        plan = _plan(spark, sf_dir, "q_basket_lift")
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastHashJoin") == 2
        assert "BroadcastNestedLoopJoin" in plan  # the one-row total
        assert "TakeOrderedAndProject" in plan


class TestJobFreeBuilders:
    def test_no_query_builder_runs_a_job(self, spark, sf_dir):
        """Constructing ANY registered query must not trigger a Spark job
        (the CLAUDE.md job-free rule): a .count()/.collect()/.first() at
        build time re-executes on every driver probe and serializes plan
        construction at scale.  Declared catalog schemas make the parquet
        reads inference-free, so statusTracker guards all 130+ builders
        at once.  Exempt: queries reading events (its TIMESTAMP(NANOS)
        legacy path needs one footer-inference job per load — see
        catalog._declared_ddl) and the documented set below."""
        # iterative algorithms materialize rounds at build by design
        exempt = {
            "q_corpus_dedup",
            "q_dedup_clusters",
            "q_pagerank",
            # iterative / driver-merged by design:
            "q_bpe_train",   # N merge rounds, each materializes pair counts
            "q_cms_topk",    # per-partition CMS partials merged on the driver
            "q_kmeans",      # Lloyd's iterations collect centroids per round
            "q_semdedup",    # k-means subroutine + per-cluster prune rounds
            "q_triangles",   # edge list deliberately lineage-broken (persist)
            "q_pca",         # covariance partials collected for the eigensolve
            "q_whitening",   # runs pca_fit's collect for the rotation
            "q_logreg",      # Newton rounds collect gradient/Hessian partials
            "q_markov_attribution",  # |states|² transition matrix collected
            #                          for the absorbing-chain solves
            "q_textrank",    # pagerank subroutine checkpoints per round
            "q_calibration",  # scores q_logreg's Newton fit
            "q_als",         # ALS rounds checkpoint factor tables
            "q_label_propagation",  # LPA rounds checkpoint label tables
            "q_dbscan",      # tile kernel + boundary component rounds
            "q_kcore",       # peel rounds checkpoint + count per round
            "q_hits",        # HITS rounds checkpoint score tables
            "q_isotonic",    # scores q_logreg's Newton fit
            "q_bpe_encode",  # runs bpe_train_state's per-round argmax
            "q_bpe_fertility",  # same bpe_train_state upstream
        }
        tracker = spark.sparkContext._jsc.sc().statusTracker()
        offenders = []
        for name, fn in sorted(registry.queries().items()):
            if name in exempt:
                continue
            before = set(tracker.getJobIdsForGroup(None))
            df = fn(spark, sf_dir)
            after = set(tracker.getJobIdsForGroup(None))
            if after != before:
                plan = df._jdf.queryExecution().executedPlan().toString()
                if "events.parquet" not in plan:
                    offenders.append((name, sorted(after - before)))
        assert not offenders, f"builders ran jobs: {offenders}"

    def test_revenue_deciles_windows_dim_sized(self, spark, sf_dir):
        """Both windows (ntile, grand total) must consume the per-customer
        AGGREGATE — the fact table collapses map-side before any
        single-partition operator."""
        plan = _plan(spark, sf_dir, "q_revenue_deciles")
        assert plan.count("Scan parquet") == 1
        assert plan.count("HashAggregate") >= 2

    def test_mutual_info_marginals_from_joint(self, spark, sf_dir):
        """Marginals and total must be WINDOW sums over the joint cell
        relation — ONE documents scan; separate aggregate branches would
        re-execute the corpus scan per marginal."""
        plan = _plan(spark, sf_dir, "q_mutual_info")
        assert plan.count("Scan parquet") == 1
        assert "Join" not in plan
        assert plan.count("Window") == 3

    def test_class_weights_single_scan(self, spark, sf_dir):
        """N and k must be window sums over the class-count relation —
        one documents scan, no duplicated lineage."""
        plan = _plan(spark, sf_dir, "q_class_weights")
        assert plan.count("Scan parquet") == 1
        assert "Join" not in plan

    def test_perplexity_vocab_broadcasts(self, spark, sf_dir):
        """The vocabulary (zipf-bounded) must broadcast onto the token
        stream; the corpus is tokenized twice (vocab pass + probe pass —
        the standard two-pass LM shape; persist the token stream to make
        it one at scale), never more."""
        plan = _plan(spark, sf_dir, "q_perplexity")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("Scan parquet") == 2

    def test_funnel_steps_single_exchange(self, spark, sf_dir):
        """The 3-step sequence match must cost ONE user_id exchange: all
        three anchor minima stack on the same unordered window (no sort,
        no per-step self-joins).  Exchanges: the user window + the final
        one-row aggregate."""
        plan = _plan(spark, sf_dir, "q_funnel_steps")
        assert "Join" not in plan
        assert plan.count("Scan parquet") == 1
        assert "Sort" not in plan.split("Window")[0]

    def test_zipf_head_is_heap_based(self, spark, sf_dir):
        """The top-1000 head must be TakeOrderedAndProject (per-partition
        heaps); the rank window runs over just those rows — never a full
        single-partition vocabulary sort (partitionless row_number gets
        no WindowGroupLimit rewrite)."""
        plan = _plan(spark, sf_dir, "q_zipf_fit")
        assert "TakeOrderedAndProject" in plan

    def test_growth_accounting_collapses_first(self, spark, sf_dir):
        """Events must collapse to distinct (user, week) before any
        window — one fact scan, and the classification windows share the
        user_id exchange."""
        plan = _plan(spark, sf_dir, "q_growth_accounting")
        assert plan.count("Scan parquet") == 1
        assert "Join" not in plan


class TestRound2Plans:
    def test_order_count_dist_joins_the_aggregate(self, spark, sf_dir):
        """The outer join's order side must already be aggregated to one
        row per customer — the join never sees raw order rows (the
        HashAggregate sits below the join in the executed plan)."""
        plan = _plan(spark, sf_dir, "q_order_count_dist")
        join_pos = min(
            p for p in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"))
            if p >= 0
        )
        below_join = plan[join_pos:]
        assert "HashAggregate" in below_join

    def test_important_parts_single_scan(self, spark, sf_dir):
        """Total + count come from a window OVER the part aggregate —
        never a scalar subquery re-scanning the fact (Spark 4 does not
        reuse exchanges for duplicated subquery subtrees)."""
        plan = _plan(spark, sf_dir, "q_important_parts")
        assert plan.count("Scan parquet") == 1
        assert "Subquery" not in plan

    def test_part_supplier_count_broadcasts_dims(self, spark, sf_dir):
        """Both the part attributes and the exclusion list broadcast; the
        only shuffles belong to the pair-distinct and the final
        count_distinct."""
        plan = _plan(spark, sf_dir, "q_part_supplier_count")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("Scan parquet") == 3

    def test_excess_shippers_single_fact_scan(self, spark, sf_dir):
        """The Q20 chain reads lineitem exactly once; both semi legs are
        broadcast."""
        plan = _plan(spark, sf_dir, "q_excess_shippers")
        assert plan.count("Scan parquet") == 4  # li + part + supp + nation
        assert "SortMergeJoin" not in plan

    def test_min_cost_supplier_no_rejoin(self, spark, sf_dir):
        """Decorrelated min: one fact scan, no join back onto the
        aggregate lineage."""
        plan = _plan(spark, sf_dir, "q_min_cost_supplier")
        assert plan.count("Scan parquet") == 1
        assert "Join" not in plan

    def test_triangles_hash_joins_and_reuse(self, spark, sf_dir):
        """The wedge/closing joins must be hash joins (a cartesian means
        the orientation trick got lost; the ONE nested-loop allowed is
        the deliberate 1-row × 1-row stats⨯tri combine), and the edge
        list must be lineage-broken — without the checkpoint the pair
        expansion re-runs from the raw fact for all six consumers."""
        plan = _plan(spark, sf_dir, "q_triangles")
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 1
        assert "Scan ExistingRDD" in plan  # the localCheckpoint boundary
        assert plan.count("Scan parquet") == 0  # everything above it

    def test_repetition_filter_two_explodes(self, spark, sf_dir):
        """Unigram and bigram passes each explode once (Generate) and
        re-aggregate; no position self-join."""
        plan = _plan(spark, sf_dir, "q_repetition_filter")
        assert plan.count("Generate") == 2
        assert "CartesianProduct" not in plan


class TestStatsBatchPlans:
    def test_ols_single_fact_pass(self, spark, sf_dir):
        """q_ols answers the whole regression from ONE lineitem scan:
        one partial+final aggregate pair, no joins, no windows."""
        plan = _plan(spark, sf_dir, "q_ols")
        assert plan.count("lineitem.parquet") == 1
        assert "Join" not in plan
        assert "Window" not in plan

    def test_winsorize_bounds_broadcast(self, spark, sf_dir):
        """The percentile-bounds relation must broadcast back onto the
        clip pass — a sort-merge join would shuffle the scan for a
        segment-count-sized dim."""
        plan = _plan(spark, sf_dir, "q_winsorize")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_kmv_one_sketch_scan_plus_audit(self, spark, sf_dir):
        """q_kmv_overlap: the five sketch consumers share one lazily
        checkpointed relation — exactly TWO event scans total (sketch
        build + exact audit), not one per consumer."""
        plan = _plan(spark, sf_dir, "q_kmv_overlap")
        # pre-materialization the checkpoint prints as ExistingRDD (so 1
        # visible scan = the audit pass); post-materialization both the
        # sketch and audit scans show — never one per consumer
        assert plan.count("events.parquet") <= 2
        assert plan.count("ExistingRDD") >= 2 or plan.count(
            "events.parquet"
        ) == 2

    def test_itemsets3_no_self_join(self, spark, sf_dir):
        """Triples come from array-side expansion of collapsed baskets:
        one fact scan, no joins at all (the naive form is a triple
        self-join = two extra fact shuffles)."""
        plan = _plan(spark, sf_dir, "q_itemsets3")
        assert plan.count("lineitem.parquet") == 1
        assert "Join" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_bm25_filters_before_shuffle(self, spark, sf_dir):
        """The query-term filter must sit below the tf aggregation so
        only matching (doc, term) rows shuffle; marginal joins are
        broadcast."""
        plan = _plan(spark, sf_dir, "q_bm25")
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_ewma_single_exchange(self, spark, sf_dir):
        """Exactly two exchanges: the (type, day) aggregate shuffle and
        ONE type-partitioned exchange shared by both cumulative-window
        operators and the lag — per-window shuffles would triple it."""
        plan = _plan(spark, sf_dir, "q_ewma")
        assert plan.count("Exchange") == 2
        assert plan.count("Window") == 2

    def test_gini_windows_dim_sized(self, spark, sf_dir):
        """The rank window consumes the per-customer AGGREGATE — the
        orders scan collapses (partial+final HashAggregate) before the
        single-partition rank operator ever sees a row."""
        plan = _plan(spark, sf_dir, "q_gini")
        assert plan.count("orders.parquet") == 1
        assert plan.count("HashAggregate") >= 2
        assert "Window" in plan


class TestRound1LateAdditions:
    def test_auc_windows_over_collapsed_scores(self, spark, sf_dir):
        """q_auc: the rank accumulation runs over the distinct-score
        aggregate, never the raw events — one scan, partial+final
        aggregate below the window."""
        plan = _plan(spark, sf_dir, "q_auc")
        assert plan.count("events.parquet") == 1
        assert plan.count("HashAggregate") >= 2
        assert "Join" not in plan

    def test_theilsen_pair_join_is_broadcast(self, spark, sf_dir):
        """q_theilsen: the quadratic slope expansion must be a broadcast
        nested-loop over the day-sized aggregate — a shuffled join (or a
        raw-row pair join) would be catastrophic at scale."""
        plan = _plan(spark, sf_dir, "q_theilsen")
        assert "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan
        # the daily aggregate is persisted: all three consumers read the
        # cache (InMemoryTableScan prints its child, so the raw scan
        # string repeats — count the cache reads, not the string)
        assert plan.count("InMemoryTableScan") >= 3

    def test_jaccard_users_no_self_join(self, spark, sf_dir):
        """q_jaccard_users: audience pairs expand inside each user's
        type array; the only joins are the broadcast type-sized
        marginals."""
        plan = _plan(spark, sf_dir, "q_jaccard_users")
        assert "SortMergeJoin" not in plan
        # the audience relation is persisted and shared by the pair leg
        # and both marginal legs — three cache reads, one real scan
        assert plan.count("InMemoryTableScan") >= 3

    def test_naive_bayes_model_broadcasts(self, spark, sf_dir):
        """q_naive_bayes: every model-side join (likelihoods, defaults,
        priors, candidate langs) is broadcast — the only shuffles are
        the token-count aggregations and the per-(doc, cand) score
        reduce."""
        plan = _plan(spark, sf_dir, "q_naive_bayes")
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastExchange") >= 3

    def test_bootstrap_single_scan_to_replicates(self, spark, sf_dir):
        """q_bootstrap_ci: the ×B explosion partial-aggregates map-side
        straight to the B-row replicate relation — no join on the
        exploded lineage, one orders scan per leg (replicates + point
        estimate)."""
        plan = _plan(spark, sf_dir, "q_bootstrap_ci")
        assert plan.count("orders.parquet") <= 2
        assert "SortMergeJoin" not in plan
        assert "Generate" in plan  # the sequence explode

    def test_seasonal_single_daily_lineage(self, spark, sf_dir):
        """q_seasonal_decompose: trend, weekday seasonal and grand mean
        all fold into windows over ONE daily aggregate — the fact scans
        once, and no join re-enters the lineage."""
        plan = _plan(spark, sf_dir, "q_seasonal_decompose")
        # if q_anomaly_seasonal ran first in this session, the shared
        # _seasonal_staged subtree is persisted and the CacheManager
        # substitutes it here — accept either form (both are one scan)
        assert (
            plan.count("orders.parquet") == 1
            or "InMemoryTableScan" in plan
        )
        assert "Join" not in plan

    def test_expectations_one_pass(self, spark, sf_dir):
        """q_expectations: every check folds into one scan/reduce (the
        distinct uniqueness check shares it via Expand); the unpivot is
        a projection, not a second pass."""
        plan = _plan(spark, sf_dir, "q_expectations")
        assert plan.count("lineitem.parquet") == 1
        assert "Join" not in plan

    def test_ridge_path_single_fact_pass(self, spark, sf_dir):
        """q_ridge_path: the whole λ grid prices off ONE lineitem
        scan/reduce — the explode runs over the 1-row moment relation,
        so there are no joins and no extra scans."""
        plan = _plan(spark, sf_dir, "q_ridge_path")
        assert plan.count("lineitem.parquet") == 1
        assert "Join" not in plan
        assert "Generate" in plan  # λ explode over the 1-row aggregate

    def test_psi_windows_over_cells(self, spark, sf_dir):
        """q_psi: one events scan collapses to the ≤2·bins cell
        relation; the share/total windows run over that, never raw
        rows."""
        plan = _plan(spark, sf_dir, "q_psi")
        assert plan.count("events.parquet") == 1
        assert plan.count("HashAggregate") >= 2
        assert "Join" not in plan

    def test_cohort_ltv_single_scan_collapsed_windows(self, spark, sf_dir):
        """q_cohort_ltv: one events scan (window-min first_day, no
        join-back); the cumulative window runs over the cohort×age cell
        relation; the cohort-size join is broadcast."""
        plan = _plan(spark, sf_dir, "q_cohort_ltv")
        # the per-(user, cohort, age) relation is persisted: both
        # consumers (cells + cohort sizes) read the cache
        assert plan.count("InMemoryTableScan") >= 2
        assert "SortMergeJoin" not in plan

    def test_rrf_fusion_broadcasts_and_heaps(self, spark, sf_dir):
        """q_rrf: candidate-relation joins (query vector, rank lists,
        corpus stats) are broadcast; the final top-k is a
        TakeOrderedAndProject heap, never a global sort."""
        plan = _plan(spark, sf_dir, "q_rrf")
        assert "SortMergeJoin" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_ndcg_broadcast_eval(self, spark, sf_dir):
        """q_ndcg: label/query joins broadcast over the candidate
        relation; the gain computation is windows + one aggregate, no
        shuffled join anywhere."""
        plan = _plan(spark, sf_dir, "q_ndcg")
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_target_encode_cells_then_windows(self, spark, sf_dir):
        """q_target_encode: brand dim broadcast into one fact scan, the
        leave-one-fold-out windows run over the brand×fold cell
        relation only."""
        plan = _plan(spark, sf_dir, "q_target_encode")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("lineitem.parquet") == 1

    def test_woe_iv_single_scan(self, spark, sf_dir):
        """q_woe_iv: one fact scan to the bin cells; shares/IV are
        windows over the cell relation, no joins."""
        plan = _plan(spark, sf_dir, "q_woe_iv")
        assert plan.count("lineitem.parquet") == 1
        assert "Join" not in plan
        assert plan.count("HashAggregate") >= 2

    def test_anomaly_seasonal_shares_staged_lineage(self, spark, sf_dir):
        """q_anomaly_seasonal: the MAD order statistic and the flagging
        pass share ONE lazily checkpointed staged relation — at most one
        orders scan in the plan, and the MAD relation broadcasts."""
        plan = _plan(spark, sf_dir, "q_anomaly_seasonal")
        # staged relation persisted: MAD leg + flagging leg share it
        assert plan.count("InMemoryTableScan") >= 2
        assert "SortMergeJoin" not in plan
        assert "BroadcastNestedLoopJoin" in plan  # 1-row MAD cross join

    def test_snaive_single_scan_day_windows(self, spark, sf_dir):
        """q_snaive_forecast: forecast, boundary and error means are all
        windows over ONE daily aggregate — single orders scan, no
        joins."""
        plan = _plan(spark, sf_dir, "q_snaive_forecast")
        assert plan.count("orders.parquet") == 1
        assert "Join" not in plan

    def test_uplift_user_collapse_first(self, spark, sf_dir):
        """q_uplift: events collapse to per-(user,type) counts then the
        user grain before any experiment arithmetic — one scan, windows
        over user- and segment-sized relations only."""
        plan = _plan(spark, sf_dir, "q_uplift")
        assert plan.count("events.parquet") == 1
        assert plan.count("HashAggregate") >= 2
        assert "Join" not in plan

    def test_lateral_decorrelates_to_broadcast(self, spark, sf_dir):
        """q_lateral_topk: the LATERAL correlated subquery must
        decorrelate into a broadcast join (+ per-group limit), never a
        nested-loop re-execution per outer row."""
        plan = _plan(spark, sf_dir, "q_lateral_topk")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_dataset_diff_hashes_only(self, spark, sf_dir):
        """q_dataset_diff: both versions collapse to (key, md5) before
        the full-outer join — document text never crosses the join, and
        the classify+count is one aggregation over the joined keys."""
        plan = _plan(spark, sf_dir, "q_dataset_diff")
        assert plan.count("documents.parquet") == 2  # v1 + v2 legs
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan

    def test_sample_size_one_row_grid(self, spark, sf_dir):
        """q_sample_size: one events scan to a 1-row baseline; the MDE
        grid explodes over that row — no joins, no extra scans."""
        plan = _plan(spark, sf_dir, "q_sample_size")
        assert plan.count("events.parquet") == 1
        assert "Join" not in plan
        assert "Generate" in plan

    def test_spatial_join_no_self_join(self, spark, sf_dir):
        """q_spatial_join: candidate pairs come from the cell-blocked
        in-array expansion — ONE customer scan, no join operators at
        all (the oracle's quadratic self-join is exactly what the plan
        must avoid)."""
        plan = _plan(spark, sf_dir, "q_spatial_join")
        assert plan.count("customer.parquet") == 1
        assert "Join" not in plan


class TestRound1FinalBatchPlans:
    def test_stump_argmax_is_window_group_limited(self, spark, sf_dir):
        """q_stump: the per-feature argmax must be WindowGroupLimit
        (rank pruned below the shuffle) and the candidate relation is
        the per-(feature, value) aggregate — partial+final HashAggregate
        before any window."""
        plan = _plan(spark, sf_dir, "q_stump")
        assert "WindowGroupLimit" in plan
        assert "HashAggregate" in plan
        assert "Join" not in plan

    def test_weighted_median_crossing_pick_group_limited(
        self, spark, sf_dir
    ):
        """q_weighted_median (two-phase, round 8): first-crossing picks
        = per-flag rank filters (WindowGroupLimit); the corpus-sized
        per-price relation is persisted and consumed from cache by both
        phases (never re-shuffled), and the crossing-bin info reaches
        the in-bin scan via a broadcast join — cumulative windows only
        ever run over the bin rollup and the single crossing bin's
        prices, never a corpus-sized partition."""
        plan = _plan(spark, sf_dir, "q_weighted_median")
        assert "WindowGroupLimit" in plan
        assert plan.count("HashAggregate") >= 2  # partial+final collapse
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("InMemoryTableScan") >= 2  # shared per_price

    def test_interarrival_shares_gap_relation(self, spark, sf_dir):
        """q_interarrival: the lag-window gap relation is persisted and
        read by both the mean rollup and the median rank-selection —
        cache reads, not two events scans."""
        plan = _plan(spark, sf_dir, "q_interarrival")
        assert plan.count("InMemoryTableScan") >= 2

    def test_rank_surface_single_window_pass(self, spark, sf_dir):
        """q_rank_surface: all four window functions share one
        partitioning+ordering — exactly one exchange, no join."""
        plan = _plan(spark, sf_dir, "q_rank_surface")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan

    def test_rolling_beta_windows_over_daily_aggregate(self, spark, sf_dir):
        """q_rolling_beta: the five trailing co-moment sums evaluate in
        one WindowExec pass over the per-(priority, day) aggregate (a
        window count of 2: market sum + trailing frame)."""
        plan = _plan(spark, sf_dir, "q_rolling_beta")
        assert plan.count("HashAggregate") >= 2
        assert "Join" not in plan


class TestOpsFinalPlans:
    def test_join_size_never_joins_facts(self, spark, sf_dir):
        """q_join_size: the cardinality estimate must come from joins of
        per-key COUNT relations — the fact tables themselves never meet
        (no row-sized join anywhere)."""
        plan = _plan(spark, sf_dir, "q_join_size")
        # every join input is a HashAggregate output (count relations)
        assert plan.count("HashAggregate") >= 12  # partial+final x 3 edges x 2 sides
        assert "BroadcastNestedLoopJoin" not in plan

    def test_equidepth_windows_over_value_relation(self, spark, sf_dir):
        """q_equidepth: bucketing windows run over the per-value
        aggregate, never raw lineitem rows."""
        plan = _plan(spark, sf_dir, "q_equidepth")
        assert plan.count("HashAggregate") >= 2
        assert "Join" not in plan

    def test_mann_kendall_pairs_broadcast_over_aggregate(
        self, spark, sf_dir
    ):
        """q_mann_kendall: the quadratic sign-pair expansion must be a
        broadcast join over the persisted monthly aggregate (the
        q_theilsen rule)."""
        plan = _plan(spark, sf_dir, "q_mann_kendall")
        assert "SortMergeJoin" not in plan
        assert plan.count("InMemoryTableScan") >= 3

    def test_media_storage_no_python(self, spark, sf_dir):
        """q_media_storage: byte-length profiling is pure codegen — no
        Arrow/Python evaluation anywhere in the plan."""
        plan = _plan(spark, sf_dir, "q_media_storage")
        assert "ArrowEvalPython" not in plan
        assert "MapInPandas" not in plan

    def test_ann_ivf_broadcasts_probes_and_query(self, spark, sf_dir):
        """q_ann_ivf: the probe set and query vector must ride the plan as
        broadcast relations (no shuffle of the fact side for either), the
        global top-k must be TakeOrderedAndProject, and there must be no
        cartesian surprise beyond the broadcast one-row join."""
        plan = _plan(spark, sf_dir, "q_ann_ivf")
        assert "TakeOrderedAndProject" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastExchange") >= 2  # probes + qvec
        assert "CartesianProduct" not in plan

    def test_substr_dedup_single_pass(self, spark, sf_dir):
        """q_substr_dedup (round 4): duplicated-gram detection is a
        min/max window over the gram hash — ONE scan, no persist, no
        joins; exactly two exchanges (gram window, per-doc aggregate)."""
        plan = _plan(spark, sf_dir, "q_substr_dedup")
        assert plan.count("Scan parquet") == 1
        assert plan.count("InMemoryTableScan") == 0
        assert "Join" not in plan
        assert plan.count("Window") == 1

    def test_knn_join_has_no_self_join_or_cartesian(self, spark, sf_dir):
        """q_knn_join: candidates come from bucket groupBy-expand, never a
        bucketed self-join or cross join; the per-vector top-k must be a
        rank filter (WindowGroupLimit), not a global sort."""
        plan = _plan(spark, sf_dir, "q_knn_join")
        assert "CartesianProduct" not in plan
        assert "WindowGroupLimit" in plan

    def test_embedding_scoring_is_bucket_local(self, spark, sf_dir):
        """Round-4 shape for the embedding LSH consumers: exact cosine
        runs INSIDE the (table, segment) kernel (one FlatMapGroupsInPandas
        over the membership⋈vector join), never as a per-pair join of two
        64-float arrays onto a materialized candidate list — at sf1 that
        join-back was 12.5M pairs × 550 B and WAS the query."""
        for q in ("q_dedup_embedding", "q_contrastive_pairs", "q_knn_join"):
            plan = _plan(spark, sf_dir, q)
            # ≥1: contrastive's pre-execution persist prints the kernel
            # lineage once per consumer (CLAUDE.md persist-print rule)
            assert plan.count("FlatMapGroupsInPandas") >= 1, q
            # joins in the plan attach vectors to id-sized membership
            # rows (vec_id keys) — no join may carry BOTH embedding sides
            assert "emb_a" not in plan and "emb_b" not in plan, q

    def test_table_checksum_single_agg_per_table(self, spark, sf_dir):
        """q_table_checksum: one map-side-combined global aggregate per
        table, no shuffle of raw rows beyond the 1-row partials."""
        plan = _plan(spark, sf_dir, "q_table_checksum")
        assert "Join" not in plan
        assert plan.count("HashAggregate") >= 4


class TestRound10Plans:
    def test_conformal_windows_over_collapsed_residuals(
        self, spark, sf_dir
    ):
        """q_conformal: the order statistic accumulates over the
        distinct-integer-residual aggregate (the q_auc collapse shape),
        never a global sort of raw calibration rows; the 5-row model
        and the 1-row q_hat attach as broadcasts."""
        plan = _plan(spark, sf_dir, "q_conformal")
        # the 5-row model is persisted and read by BOTH legs; a persist
        # prints its child (the train scan) under every
        # InMemoryTableScan, so count cache reads, not scan strings
        # (CLAUDE.md persist-print rule): real fact scans per execution
        # = cal + test + one train materialization = 3
        cached = plan.count("InMemoryTableScan")
        assert cached >= 2
        assert plan.count("orders.parquet") - cached <= 2
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "WindowGroupLimit" not in plan  # no top-k of 0.1*n rows
        assert "Window" in plan  # cumulative count over collapsed s

    def test_mmr_pool_cut_is_take_ordered(self, spark, sf_dir):
        """q_mmr_diversify: the MMR_POOL cut must be
        TakeOrderedAndProject (per-partition heaps), and the greedy
        selection one FlatMapGroupsInPandas over the pooled relation —
        never a global sort or a pairwise join."""
        plan = _plan(spark, sf_dir, "q_mmr_diversify")
        assert "TakeOrderedAndProject" in plan
        assert plan.count("FlatMapGroupsInPandas") == 1
        assert "CartesianProduct" not in plan


class TestRound11Plans:
    def test_semantic_decon_broadcasts_eval_side(self, spark, sf_dir):
        """q_decontaminate_semantic: the eval explode and its norms are
        BROADCAST against the corpus-side flat relation — no sort-merge
        join, no cartesian, no corpus self-join (VERDICT r10 #5's plan
        guard)."""
        plan = _plan(spark, sf_dir, "q_decontaminate_semantic")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        # the eval-side explode (`ev`) is a PERSISTED shared lineage with
        # two consumers (the dot join's broadcast + ev_norms): count the
        # cache reads (CLAUDE.md persist-guard rule — persist prints the
        # cached child under EVERY InMemoryTableScan, so a raw scan-string
        # count is inflated by the cached-child prints, and an either/or
        # on ExistingRDD made the old bound vacuous, ADVICE r11)
        assert plan.count("InMemoryTableScan") == 2
        # real corpus scans: 1 live ~eval leg + at most the 2 cached-child
        # prints — a regression adding a THIRD live scan breaks this
        assert plan.count("embeddings.parquet") <= 3

    def test_bpe_fertility_broadcasts_vocab(self, spark, sf_dir):
        """q_bpe_fertility: the trained vocabulary joins the per-(lang,
        word) counts as a BROADCAST (zipf-bounded relation); the corpus
        contributes one scan beyond training's own."""
        plan = _plan(spark, sf_dir, "q_bpe_fertility")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestRound12Plans:
    def test_incremental_near_dedup_single_text_scan(self, spark, sf_dir):
        """q_incremental_dedup_near: documents is scanned ONCE (both
        sides' text-distinct groups AND the per-doc expansion ride the
        persisted groups/shingle relations — members carry id+source
        structs so no second text scan), everything stays JVM-side, and
        no pair stage degenerates to a cartesian."""
        plan = _plan(spark, sf_dir, "q_incremental_dedup_near")
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # the shared groups/shingles lineages are persisted and read by
        # multiple consumers (CLAUDE.md persist-guard rule: count cache
        # reads, not scan strings — the raw executedPlan string re-prints
        # an unmaterialized cache's child scan under every consumer)
        assert plan.count("InMemoryTableScan") >= 4
        # FORMATTED explain prints each cached subtree once: the single
        # live documents scan shows up exactly once there
        df = registry.queries()["q_incremental_dedup_near"](spark, sf_dir)
        fplan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert fplan.count("documents.parquet") == 1
