package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.sources.Tables

/** KMV quantile sketch: exact mergeability + sampling-error envelope. */
class QuantileSketchSpec extends SparkSuite {
  import spark.implicits._

  test("weekly merge of daily bottom-k == bottom-k of the whole week (exact)") {
    val k = 64
    val pri = graft.functions.Dedup.hash60(
      concat_ws("|", $"event_id".cast("string"), lit("qsketch_v1")))
    val ev = Tables.events(spark, sf)
      .select(to_date($"ts").as("day"), $"value", pri.as("pri"))
      .withColumn("week", date_trunc("week", $"day").cast("date"))
      .cache()
    import org.apache.spark.sql.expressions.Window
    // two-level: per-day bottom-k, then per-week bottom-k of the union
    val dayW = Window.partitionBy($"day").orderBy($"pri", $"value")
    val weekW = Window.partitionBy($"week").orderBy($"pri", $"value")
    val twoLevel = ev
      .withColumn("rn", row_number().over(dayW)).filter($"rn" <= k).drop("rn")
      .withColumn("rn", row_number().over(weekW)).filter($"rn" <= k)
      .select($"week", $"pri", $"value")
    // direct: bottom-k straight off the raw week
    val direct = ev
      .withColumn("rn", row_number().over(weekW)).filter($"rn" <= k)
      .select($"week", $"pri", $"value")
    assert(twoLevel.exceptAll(direct).count() == 0 &&
      direct.exceptAll(twoLevel).count() == 0,
      "bottom-k must commute with the day/week rollup")
    ev.unpersist()
  }

  test("sketch quantiles track the exact weekly percentiles; deterministic") {
    val out = Analytics.quantileSketchRollup(spark, sf).cache()
    val exact = Tables.events(spark, sf)
      .groupBy(date_trunc("week", to_date($"ts")).cast("date").as("week"))
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        count(lit(1)).as("n"))
    val joined = out.join(exact, "week")
      .select($"week", $"n_sample", $"p50_est", $"p95_est", $"p50", $"p95", $"n")
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (nSample, p50e, p95e, p50, p95, n) =
        (r.getInt(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getLong(6))
      assert(nSample == math.min(256L, n), s"week ${r.getDate(0)}")
      // values are uniform-ish in [0, 100): with a 256-point uniform
      // sample the p50 estimate lands well inside ±15 of truth on this
      // fixed corpus (empirical envelope, same discipline as the HLL
      // and count-min error specs — deterministic data, fixed seed)
      assert(math.abs(p50e - p50) < 15.0, s"p50 ${p50e} vs ${p50}")
      assert(math.abs(p95e - p95) < 15.0, s"p95 ${p95e} vs ${p95}")
    }
    val again = Analytics.quantileSketchRollup(spark, sf)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    out.unpersist()
  }
}

/** Streaming sketch maintenance: batch replay is a no-op (marker
  * guard), folds preserve the per-week k bound. */
class SketchStreamSpec extends SparkSuite {
  import spark.implicits._

  test("replayed batch does not distort the sketch; k bound holds") {
    graft.sources.Tables.prepareEventsDir(spark, sf)
    val work = java.nio.file.Files.createTempDirectory("graft_sketch_spec_").toString
    try {
      val events = graft.sources.Tables.events(spark, sf)
      // seed the state dir, then fold batch 0
      graft.streaming.EventsStream
        .sketchRowsOf(events.filter($"event_id" % 4 === 2), 32)
        .write.parquet(s"$work/s0")
      assert(graft.streaming.EventsStream.applySketchBatch(
        spark, s"$work/s0", events.filter($"event_id" % 2 === 0), 0L, k = 32))
      val before = spark.read.parquet(s"$work/s0").collect().toSet
      // replay of batch 0 must be refused by the applied-batch marker
      val applied = graft.streaming.EventsStream.applySketchBatch(
        spark, s"$work/s0", events.filter($"event_id" % 2 === 0), 0L, k = 32)
      assert(!applied, "replayed batchId must be a no-op")
      assert(spark.read.parquet(s"$work/s0").collect().toSet == before)
      // a NEW batch folds in and the k bound holds
      assert(graft.streaming.EventsStream.applySketchBatch(
        spark, s"$work/s0", events.filter($"event_id" % 2 === 1), 1L, k = 32))
      val after = spark.read.parquet(s"$work/s0")
      assert(after.groupBy($"week").count().filter($"count" > 32).isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
      ()
    }
  }
}
