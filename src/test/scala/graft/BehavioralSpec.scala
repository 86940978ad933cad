package graft

import org.apache.spark.sql.functions._
import graft.operators.Behavioral
import graft.streaming.EventsStream

/** Specs for the behavioral analytics operators (round 3). */
class BehavioralSpec extends SparkSuite {
  import spark.implicits._

  private def ev(rows: (Long, Long, String, String, Double)*) =
    rows.toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp($"ts_s"))
      .drop("ts_s")

  test("funnel: strict ordering — purchase before click does not convert") {
    val events = ev(
      // user 1: full ordered sequence -> counts at every stage
      (1L, 1L, "view", "2024-01-01 10:00:00", 1.0),
      (2L, 1L, "click", "2024-01-01 10:05:00", 1.0),
      (3L, 1L, "purchase", "2024-01-01 10:10:00", 1.0),
      // user 2: purchase BEFORE the click -> stops at stage 2
      (4L, 2L, "view", "2024-01-01 09:00:00", 1.0),
      (5L, 2L, "purchase", "2024-01-01 09:01:00", 1.0),
      (6L, 2L, "click", "2024-01-01 09:02:00", 1.0),
      // user 3: click with no prior view -> stops at stage 0 (no rows)
      (7L, 3L, "click", "2024-01-01 08:00:00", 1.0),
      (8L, 3L, "purchase", "2024-01-01 08:05:00", 1.0),
      // user 4: view only
      (9L, 4L, "view", "2024-01-01 07:00:00", 1.0)
    )
    val out = Behavioral.funnelFrom(events).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, "view", 3L), (2, "click", 2L), (3, "purchase", 1L)))
  }

  test("funnel: second click after view rescues an early purchase-less path") {
    // user's first click precedes the view; the later click counts,
    // and only a purchase after THAT click converts
    val events = ev(
      (1L, 1L, "click", "2024-01-01 00:00:00", 1.0),
      (2L, 1L, "view", "2024-01-01 01:00:00", 1.0),
      (3L, 1L, "purchase", "2024-01-01 01:30:00", 1.0), // before 2nd click
      (4L, 1L, "click", "2024-01-01 02:00:00", 1.0),
      (5L, 1L, "purchase", "2024-01-01 03:00:00", 1.0)
    )
    val out = Behavioral.funnelFrom(events).collect().map(_.getLong(2))
    assert(out.toSeq == Seq(1L, 1L, 1L))
  }

  test("funnel on testdata: monotone non-increasing, all stages populated") {
    val out = Behavioral.funnel(spark, sf).collect().map(_.getLong(2))
    assert(out.length == 3)
    assert(out(0) >= out(1) && out(1) >= out(2))
    assert(out(2) > 0) // 150 users over a month: the full funnel fires
  }

  test("retention: offset-0 cells cover every user exactly once") {
    val ret = Behavioral.retention(spark, sf).cache()
    val offset0 = ret.filter($"week_offset" === 0)
      .agg(sum($"n_users")).as[Long].head()
    val users = graft.sources.Tables.events(spark, sf)
      .select($"user_id").distinct().count()
    assert(offset0 == users)
    assert(ret.filter($"week_offset" < 0).count() == 0)
    ret.unpersist()
  }

  test("retention: a user active in a later week lands in the right cell") {
    val events = ev(
      (1L, 1L, "view", "2024-01-01 10:00:00", 1.0), // Monday, week 0
      (2L, 1L, "view", "2024-01-16 10:00:00", 1.0), // week 2
      (3L, 2L, "view", "2024-01-03 10:00:00", 1.0)  // same cohort, week 0 only
    )
    val out = Behavioral.retentionFrom(events).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq(("2024-01-01", 0, 2L), ("2024-01-01", 2, 1L)))
  }

  test("top-k per group: differential vs naive, deterministic tie order") {
    val events = ev(
      (1L, 10L, "a", "2024-01-01 00:00:00", 5.0),
      (2L, 11L, "a", "2024-01-01 00:00:01", 5.0), // tie with user 10 -> user_id order
      (3L, 12L, "a", "2024-01-01 00:00:02", 9.0),
      (4L, 13L, "a", "2024-01-01 00:00:03", 1.0),
      (5L, 13L, "a", "2024-01-01 00:00:04", 1.0), // 13 totals 2.0
      (6L, 20L, "b", "2024-01-01 00:00:05", 3.0)
    )
    val out = Behavioral.topKPerGroupFrom(events, 3).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("a", 1, 12L, 9.0), ("a", 2, 10L, 5.0), ("a", 3, 11L, 5.0),
      ("b", 1, 20L, 3.0)))
  }

  test("top-k per group: keeps tie order and handles groups smaller than k") {
    val events = ev(
      (1L, 10L, "a", "2024-01-01 00:00:00", 5.0),
      (2L, 11L, "a", "2024-01-01 00:00:01", 5.0),
      (3L, 20L, "b", "2024-01-01 00:00:02", 1.0)
    )
    val out = Behavioral.topKPerGroupFrom(events, 5).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("a", 1, 10L, 5.0), ("a", 2, 11L, 5.0), ("b", 1, 20L, 1.0)))
  }

  test("top-k per group on testdata: ranks within k, groups complete") {
    val out = Behavioral.topKPerGroup(spark, sf).cache()
    val types = out.select($"event_type").distinct().count()
    assert(types == 5)
    assert(out.filter($"rank" < 1 || $"rank" > 3).count() == 0)
    val perGroup = out.groupBy($"event_type").count()
      .agg(max($"count")).as[Long].head()
    assert(perGroup <= 3)
    out.unpersist()
  }
}

/** Stream-static enrichment: stream result == batch twin (round 3). */
class StreamEnrichSpec extends SparkSuite {
  import spark.implicits._

  test("streamed enrichment equals the batch join, all events retained") {
    val streamed = EventsStream.runStreamEnrich(spark, sf).cache()
    val batch = graft.sources.Tables.events(spark, sf)
      .join(EventsStream.eventTypeDim(spark), Seq("event_type"))
      .select($"event_id", $"event_type", $"category", $"is_action",
        unix_timestamp($"ts").as("ts_sec"), $"value")
      .orderBy($"event_id")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // every event type got a category — the dim covers the domain
    assert(streamed.filter($"category".isNull).count() == 0)
    streamed.unpersist()
  }
}

/** Plan-shape assertions for the round-3 operators. */
class Round3PlanSpec extends SparkSuite {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def planOf(df: DataFrame): String = {
    df.collect()
    def walk(p: SparkPlan): Seq[String] = {
      val nested = p.collect {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
      }.flatten
      p.toString +: nested
    }
    walk(df.queryExecution.executedPlan).mkString("\n---\n")
  }

  test("funnel: stage type filters reach the parquet scan") {
    val plan = planOf(Behavioral.funnel(spark, sf))
    // each stage scans with its event_type predicate pushed down
    assert(plan.contains("PushedFilters"), plan.take(500))
    // the EQUALITY predicate itself must reach the scan — IsNotNull
    // alone is pushed for any filter on the column and proves nothing
    assert(plan.contains("EqualTo(event_type,view)")
      || plan.contains("event_type = view"), plan.take(2000))
  }

  test("fuzzy match: no cartesian product anywhere in the plan") {
    val plan = planOf(graft.functions.Fuzzy.fuzzyMatch(spark, sf))
    assert(!plan.contains("CartesianProduct"), "blocking must not degrade to all-pairs")
  }

  test("grouped top-k: the rank window runs over aggregated rows") {
    val df = Behavioral.topKPerGroup(spark, sf)
    val plan = planOf(df)
    // HashAggregate must appear below the Window operator in the tree
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx, plan.take(2000))
  }
}
