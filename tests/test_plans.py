"""Physical-plan quality gates: the optimizations the scale story
depends on must actually appear in the plans (.explain is the check,
not an aspiration).
"""

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPlanQuality:
    def test_filter_pushdown_to_parquet_scan(self, spark):
        """Predicate + projection reach the scan (PushedFilters /
        pruned ReadSchema)."""
        df = (spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
              .where("l_quantity > 45")
              .select("l_orderkey", "l_quantity"))
        plan = _plan(df)
        assert "PushedFilters: [" in plan and "l_quantity" in plan.split(
            "PushedFilters")[1][:120]
        read_schema = plan.split("ReadSchema")[1][:200]
        assert "l_extendedprice" not in read_schema

    def test_dim_join_broadcasts(self, spark):
        from pdf2gtfs_spark.operators.relational import join_broadcast_dims
        plan = _plan(join_broadcast_dims(spark, "/root/testdata/sf0.01"))
        assert "BroadcastHashJoin" in plan

    def test_anti_and_semi_join_strategies(self, spark):
        from pdf2gtfs_spark.operators.relational import (
            anti_join_unused, semi_join_heavy_orders)
        assert "LeftSemi" in _plan(
            semi_join_heavy_orders(spark, "/root/testdata/sf0.01"))
        assert "LeftAnti" in _plan(
            anti_join_unused(spark, "/root/testdata/sf0.01"))

    def test_extract_has_no_pre_kernel_shuffle(self, spark):
        """The stateless kernel maps over the scan partitions (narrowly
        coalesced when small); no Exchange may appear below
        MapInArrow."""
        from pdf2gtfs_spark.plans.pipeline import run_extract
        from pdf2gtfs_spark.sources.transcripts import generate_transcripts

        t, _ = generate_transcripts(n_convs=2, base_turns=2, skew_every=0,
                                    include_fixtures=False)
        df = run_extract(spark.createDataFrame(t))
        plan = _plan(df)
        map_idx = plan.find("MapInArrow")
        assert map_idx >= 0
        assert "Exchange" not in plan[map_idx:]

    def test_reassembly_shuffles_once_by_conv_id(self, spark):
        """Reassembly groups the kernel output per conversation in one
        exchange; no per-turn shuffle comes first."""
        import re

        from pdf2gtfs_spark.plans.pipeline import (
            reassemble_conversations, run_extract,
        )
        from pdf2gtfs_spark.sources.transcripts import generate_transcripts

        t, _ = generate_transcripts(n_convs=2, base_turns=2, skew_every=0,
                                    include_fixtures=False)
        plan = _plan(reassemble_conversations(
            run_extract(spark.createDataFrame(t), emit="csv")))
        exchanges = re.findall(r"Exchange (\w+)\((\w+)#", plan)
        assert exchanges == [("hashpartitioning", "conv_id")], plan

    def test_small_extract_runs_one_wave(self, spark, tmp_path,
                                         set_split_bytes):
        """An input within one scan split runs the kernel in one wave of
        defaultParallelism tasks (a narrow Coalesce below MapInArrow);
        a larger input keeps one kernel task per scan split."""
        from pdf2gtfs_spark.plans.pipeline import run_extract
        from pdf2gtfs_spark.sources.transcripts import generate_transcripts

        t, _ = generate_transcripts(n_convs=4, base_turns=2, skew_every=0,
                                    include_fixtures=False)
        path = str(tmp_path / "in")
        spark.createDataFrame(t).write.option(
            "maxRecordsPerFile", 1).parquet(path)
        tdf = spark.read.parquet(path)
        n_files = len(tdf.inputFiles())
        cores = spark.sparkContext.defaultParallelism
        assert n_files >= 8 and n_files > cores
        # the split size bench.py and perfbench run with: each small
        # file is its own scan split
        set_split_bytes("4m")
        df = run_extract(tdf, emit="csv")
        plan = _plan(df)
        assert 0 <= plan.find("MapInArrow") < plan.find("Coalesce")
        assert df.rdd.getNumPartitions() == cores
        size = tdf._jdf.queryExecution().optimizedPlan().stats() \
            .sizeInBytes()
        set_split_bytes(str(size - 1))
        df = run_extract(tdf, emit="csv")
        assert "Coalesce" not in _plan(df)
        assert df.rdd.getNumPartitions() == n_files

    def test_agg_has_partial_aggregation(self, spark):
        """Decomposable agg plans map-side partial + final (two
        HashAggregate levels around one Exchange)."""
        from pdf2gtfs_spark.operators.relational import agg_pricing_summary
        plan = _plan(agg_pricing_summary(spark, "/root/testdata/sf0.01"))
        assert plan.count("HashAggregate") >= 2

    def test_global_topk_is_take_ordered(self, spark):
        """limit-first top-k plans as TakeOrderedAndProject, not a
        single-partition global sort."""
        from pyspark.sql import functions as F
        df = (spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
              .orderBy(F.desc("c_acctbal")).limit(10))
        assert "TakeOrderedAndProject" in _plan(df)

    def test_ivf_probes_broadcast_and_no_full_cross(self, spark):
        """IVF: centroid comparisons broadcast (tiny K side); the final
        candidate join is bucket-pruned, not a corpus crossJoin."""
        from pdf2gtfs_spark.operators.textops import embedding_ivf_topk
        plan = _plan(embedding_ivf_topk(spark, "/root/testdata/sf0.001"))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" \
            in plan
        # candidate join on (list_id/query_id/vec_id) is an equi-join
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan

    def test_interpolation_single_route_exchange(self, spark):
        """The window chain partitions by route once; the boundary agg
        joins back as a broadcast."""
        from pdf2gtfs_spark.operators.locate import locate_interpolation
        df = locate_interpolation(spark, "/root/testdata/sf0.001")
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan

    def test_feed_pruning_is_semi_join(self, spark):
        from pdf2gtfs_spark.operators.feed import gtfs_feed_pruning
        plan = _plan(gtfs_feed_pruning(spark, "/root/testdata/sf0.001"))
        assert "LeftSemi" in plan

    def test_skew_salting_and_aqe(self, spark):
        """SURVEY §4 item 1: run_extract(num_partitions=N) salts the
        kernel input on (conv_id, turn_idx) — the plan must show the
        turn-grain hash exchange below MapInArrow — and AQE skew-join
        splitting stays available for the join-heavy operators
        (evidence: ``tools/scaling_bench.py skew``, BENCH/BASELINE.md
        round-4 section, 0.815 efficiency on the monster-conversation
        input)."""
        from pdf2gtfs_spark.plans.pipeline import run_extract

        tdf = spark.createDataFrame(
            [("c0", i, "x") for i in range(8)],
            "conv_id string, turn_idx int, text string")
        plan = _plan(run_extract(tdf, num_partitions=4, emit="csv"))
        assert "MapInArrow" in plan
        assert "hashpartitioning(conv_id" in plan
        assert "Coalesce" not in plan
        assert "turn_idx" in plan.split("hashpartitioning")[1][:80]
        assert spark.conf.get(
            "spark.sql.adaptive.skewJoin.enabled") == "true"

    def test_shingle_source_single_pass(self, spark):
        """r6 shapes: the minhash signature path is ONE scan feeding a
        map-only Arrow kernel (no join, no aggregate exchange below
        the unpivot), and dedup_ngram_jaccard materializes the shingle
        stream once (localCheckpoint) so its five consumers reuse the
        scan+explode+distinct pipeline instead of re-running it."""
        from pdf2gtfs_spark.operators.textops import (
            dedup_ngram_jaccard, minhash_signatures)
        sf = "/root/testdata/sf0.01"
        sig_plan = _plan(minhash_signatures(spark, sf))
        assert sig_plan.count("Scan parquet") == 1
        assert "MapInPandas" in sig_plan
        assert "SortMergeJoin" not in sig_plan    # no join at all
        assert "HashAggregate" not in sig_plan    # map-only + unpivot
        jac_plan = _plan(dedup_ngram_jaccard(spark, sf))
        # every consumer reads the checkpointed shingle RDD; the
        # parquet scan ran once, eagerly, at checkpoint time
        assert jac_plan.count("Scan parquet") == 0
        assert "ExistingRDD" in jac_plan
        assert "BroadcastNestedLoopJoin" not in jac_plan

    def test_whole_stage_codegen_on_relational_path(self, spark):
        """After execution the final adaptive plan shows codegen stages
        and the two window passes share a single hash exchange."""
        from pdf2gtfs_spark.operators.relational import (
            window_time_rollover)
        df = window_time_rollover(spark, "/root/testdata/sf0.01")
        df.collect()  # finalize THIS query's adaptive plan
        plan = _plan(df)
        assert "isFinalPlan=true" in plan
        # '*(n)' prefixes mark WholeStageCodegen stages in toString
        assert "*(" in plan
        # one hashpartitioning exchange feeds both window operators
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange hashpartitioning(user_id") == 1
