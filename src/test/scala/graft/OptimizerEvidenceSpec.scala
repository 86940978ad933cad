package graft

import org.apache.spark.sql.functions._
import graft.operators.Behavioral
import graft.sources.Tables

/** Optimizer features the library leans on, pinned so a regression (or
  * a future refactor that accidentally defeats them) fails loudly. */
class OptimizerEvidenceSpec extends SparkSuite {
  import spark.implicits._

  test("rank<=k filter compiles to WindowGroupLimit (no full per-group sort spill)") {
    // Spark 3.5+ rewrites rank-filter windows to a bounded group-limit
    // operator — the optimizer-native form of a per-group top-k heap.
    val plan = Behavioral.topKPerGroup(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("correlated subqueries decorrelate to hash joins — no nested-loop cliff") {
    // a non-equi correlate (e.g. `o2.o_orderkey <> o.o_orderkey` inside
    // the scalar subquery) silently degrades to BroadcastNestedLoopJoin:
    // orders×orders pairs in one task — fine at the sf0.01 gate, a
    // 25-minute single-thread wedge at sf0.1. Pin the plan shape.
    val plan = graft.operators.Analytics.sqlCorrelated(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), plan.take(900))
  }

  test("AQE skew join: OptimizeSkewedJoin splits the hot key, answers unchanged") {
    // SCALE.md's skewed-fact-join story leans on Spark's built-in skew
    // split (manual salting in functions/Skew.scala is the fallback for
    // when it can't fire). Pin that it actually engages: one key owning
    // ~75% of a fat fact, thresholds scaled down to test size, and the
    // final adaptive plan must contain a SortMergeJoin with
    // isSkewJoin=true — the runtime split of the straggler partition.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "50k",
      // both thresholds off or AQE flips the SMJ to broadcast instead
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    def run(skewEnabled: Boolean) = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewEnabled.toString)
      val fact = spark.range(0, 200000).select(
        when($"id" < 150000, lit(0L)).otherwise($"id").as("k"),
        lpad($"id".cast("string"), 100, "x").as("payload"))
      val dim = spark.range(0, 1000).select($"id".as("k"),
        ($"id" % 7).as("seg"))
      // the skew split exists only in the EXECUTED query's final
      // adaptive plan — build the aggregate, run it, then inspect it
      val agg = fact.join(dim, Seq("k"))
        .agg(count(lit(1)), sum(length($"payload") + $"seg"))
      val result = agg.collect().head
      (agg, (result.getLong(0), result.getLong(1)))
    }
    withConfs(confs) {
      val (agg, withSplit) = run(skewEnabled = true)
      val adaptive = agg.queryExecution.executedPlan
        .collectFirst { case a: AdaptiveSparkPlanExec => a }.get
      // string-match: query stages are traversal leaves, so a collect{}
      // over the final plan never reaches the SMJ inside ResultQueryStage
      val finalPlan = adaptive.executedPlan.toString
      assert(finalPlan.contains("SortMergeJoin(skew=true)"),
        s"no skew-split SMJ in final plan:\n${finalPlan.take(1200)}")
      assert(finalPlan.contains("AQEShuffleRead coalesced and skewed"),
        s"hot side not split by AQEShuffleRead:\n${finalPlan.take(1200)}")
      // and the split changed nothing about the answer
      val (_, noSplit) = run(skewEnabled = false)
      assert(withSplit == noSplit)
    }
  }

  test("CBO: ANALYZE TABLE statistics flip a stats-less join to broadcast") {
    // the dim must be a PARTITIONED catalog table: a non-partitioned
    // datasource table derives sizeInBytes from the file listing and
    // broadcasts with or without ANALYZE (the pre-assert below would
    // fail) — only CatalogFileIndex defaults to the "huge" size that
    // makes the plan genuinely stats-dependent
    val warehouse = java.nio.file.Files.createTempDirectory("graft_cbo_").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    try {
      Tables.nation(spark, sf).write.mode("overwrite")
        .partitionBy("n_regionkey")
        .option("path", s"$warehouse/nation_t").saveAsTable("nation_t")
      // the probe side must be partitioned too — its file-listing size
      // is small at test SF and Spark would broadcast IT pre-ANALYZE.
      // Partition it by a column the query never touches: a predicate on
      // the partition column (even the join's IsNotNull) would trigger
      // PruneFileSourcePartitions, which swaps in a file-listing index
      // with REAL sizes and defeats the stats-less setup
      Tables.customer(spark, sf).write.mode("overwrite")
        .partitionBy("c_mktsegment")
        .option("path", s"$warehouse/cust_t").saveAsTable("cust_t")
      def joinPlan = spark.table("cust_t")
        .join(spark.table("nation_t"), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name").count()
        .queryExecution.executedPlan.toString
      // without stats the 25-row dim is assumed huge: no broadcast
      assert(!joinPlan.contains("BroadcastHashJoin"),
        s"pre-ANALYZE plan already broadcasts — test proves nothing\n${joinPlan.take(800)}")
      spark.sql("ANALYZE TABLE nation_t COMPUTE STATISTICS")
      spark.sql("ANALYZE TABLE cust_t COMPUTE STATISTICS")
      assert(joinPlan.contains("BroadcastHashJoin"), joinPlan.take(800))
      val stats = spark.sql("DESCRIBE EXTENDED nation_t")
        .filter($"col_name" === "Statistics").collect()
      assert(stats.nonEmpty && stats.head.getString(1).contains("rows"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS nation_t")
      spark.sql("DROP TABLE IF EXISTS cust_t")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warehouse))
    }
  }
}
