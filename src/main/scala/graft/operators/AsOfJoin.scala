package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.Exact

/** As-of join — match each event to the MOST RECENT dimension row at or
  * before its event time (the time-series join Spark lacks natively;
  * SURVEY §2.3 notes the reference has none either, the prompt lists it
  * as the canonical custom-operator case).
  *
  * Implementation is preference-order (a): composition — equi-join on
  * the entity key with a range predicate, then keep the latest match
  * per left row via a partitioned window. Cost is
  * O(|left| × matches-per-key), fine when the right side is a
  * slowly-changing dimension (here: per-user DAILY rollups, ≤31 rows
  * per user-month). A dense right side at 100 TB would justify the (c)
  * path — a custom sort-merge AsOfJoinExec that walks both sides once —
  * with this composition as its differential oracle.
  *
  * The DuckDB oracle uses DuckDB's NATIVE `ASOF JOIN`, making this a
  * cross-engine semantic check of the composition, not a restatement.
  */
object AsOfJoin {

  /** Per-user daily value rollups — the slowly-changing right side. */
  private def dailyRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(Exact.sumExact($"value").as("day_value"))
  }

  /** Each event joined to the latest daily rollup at or before its day. */
  def eventsAsOfDaily(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", to_date($"ts").as("event_day"))
    val daily = dailyRollup(spark, sfDir)
      .select($"user_id".as("d_user"), $"day", $"day_value")
    // latest day ≤ event_day as max(struct(day, …)) — a map-side-
    // combinable argmax instead of the former rank-1 window (r12, guide
    // §2.3 "aggregate before you shuffle"): the join fan-out (~14×
    // events at sf0.1) partial-aggregates before the exchange, and the
    // window's full sort of the joined rows disappears. `day` is unique
    // per (user, day) rollup row, so the argmax is tie-free and equals
    // the old rn = 1 row exactly. The group key adds (user_id,
    // event_day) to the old window's event_id partition — safe because
    // event_id is UNIQUE in events (generator PK, same assumption the
    // oracle's one-row-per-event output encodes); were event_id ever
    // duplicated, group by event_id alone with the extra columns
    // folded into the argmax struct (r12 ADVICE #5).
    events
      .join(daily, $"user_id" === $"d_user" && $"day" <= $"event_day")
      .groupBy($"event_id", $"user_id", $"event_day")
      .agg(max(struct($"day", $"day_value")).as("m"))
      .select($"event_id", $"user_id", $"event_day",
        $"m.day".as("matched_day"), $"m.day_value".as("day_value"))
      .orderBy($"event_id")
  }

  /** FORWARD as-of: each event matched to the NEAREST FUTURE daily
    * rollup (first `day >= event_day`) — the "next observation" twin
    * of the backward join above (settlement dates, next-quote lookups).
    * Same composition shape with the window order flipped; DuckDB's
    * native ASOF JOIN expresses it by flipping the inequality, which
    * is what the oracle does — two independent formulations again. */
  def eventsAsOfForward(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", to_date($"ts").as("event_day"))
    // SPARSE right side (every third day): built dense from the same
    // events, every event's own day would be its nearest future match
    // and the strictly-future walk would never be exercised — the gate
    // would pass vacuously (matched_day == event_day on 100% of rows)
    val daily = dailyRollup(spark, sfDir)
      .filter(dayofmonth($"day") % 3 === 0)
      .select($"user_id".as("d_user"), $"day", $"day_value")
    // earliest day ≥ event_day as min(struct(day, …)) — the argmin
    // twin of the backward join's aggregate rewrite (same §2.3
    // rationale, same tie-free uniqueness of `day` per user)
    events
      .join(daily, $"user_id" === $"d_user" && $"day" >= $"event_day")
      .groupBy($"event_id", $"user_id", $"event_day")
      .agg(min(struct($"day", $"day_value")).as("m"))
      .select($"event_id", $"user_id", $"event_day",
        $"m.day".as("matched_day"), $"m.day_value".as("day_value"))
      .orderBy($"event_id")
  }

  val eventsAsOfForwardSql: String =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day,
       |         ${Exact.sumExactSql("value")} AS day_value
       |  FROM events GROUP BY 1, 2),
       |sparse AS (
       |  SELECT * FROM daily WHERE EXTRACT(DAY FROM day) % 3 = 0),
       |ev AS (
       |  SELECT event_id, user_id, CAST(ts AS DATE) AS event_day FROM events)
       |SELECT e.event_id, e.user_id, e.event_day,
       |       d.day AS matched_day, d.day_value
       |FROM ev e
       |ASOF JOIN sparse d
       |  ON e.user_id = d.user_id AND e.event_day <= d.day
       |ORDER BY e.event_id""".stripMargin

  /** Range (interval) join — each event matched to the value band
    * containing it (non-equi predicate `lo <= v < hi`). The band table
    * is broadcast, so the fact side never shuffles: a BroadcastNestedLoop
    * on a 4-row build side is O(|events| × 4) predicate evaluations —
    * the right plan for this fixed 4-band literal. A large interval
    * side would want interval bucketing (equi-join on overlapping
    * bucket keys + residual filter), same shape as the LSH candidates;
    * no caller has one. */
  def eventsRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("low", 0.0, 25.0), ("mid", 25.0, 50.0),
      ("high", 50.0, 75.0), ("top", 75.0, 1e9))
      .toDF("band", "lo", "hi")
    Tables.events(spark, sfDir)
      .join(broadcast(bands), $"value" >= $"lo" && $"value" < $"hi")
      .groupBy($"band")
      .agg(count(lit(1)).as("n_events"), Exact.avgExact($"value").as("avg_value"))
      .orderBy($"band")
  }

  val eventsRangeJoinSql: String =
    s"""WITH bands(band, lo, hi) AS (VALUES
       |  ('low', 0.0, 25.0), ('mid', 25.0, 50.0),
       |  ('high', 50.0, 75.0), ('top', 75.0, 1e9))
       |SELECT band, COUNT(*) AS n_events,
       |       ${Exact.avgExactSql("value")} AS avg_value
       |FROM events JOIN bands ON value >= lo AND value < hi
       |GROUP BY 1
       |ORDER BY band""".stripMargin

  /** The same as-of semantics through the CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.AsOfJoinExec]]) — oracle-gated against DuckDB's
    * native ASOF JOIN like the composition, so the custom exec has an
    * independent cross-engine gate, not only the differential test. */
  def eventsAsOfDailyNative(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val left = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts")
    val right = dailyRollup(spark, sfDir)
      .select($"user_id".as("d_user"),
        $"day".cast("timestamp").as("day_ts"), $"day_value")
    graft.plans.AsOfJoinNative.asofJoin(
        left, right, "user_id", "d_user", "ts", "day_ts")
      .select($"event_id", $"user_id", to_date($"ts").as("event_day"),
        to_date($"day_ts").as("matched_day"), $"day_value")
      .orderBy($"event_id")
  }

  /** Tolerance-bounded LEFT OUTER as-of join (pandas merge_asof with
    * `tolerance`): events against a SPARSE snapshot table (every third
    * day of the rollup — the weekly-snapshot shape), matching only
    * within 1 day. Sparseness makes the tolerance BITE: nearest
    * snapshots are up to 3 days back, so out-of-tolerance events must
    * surface with a NULL match (outer), never silently fall back to an
    * older snapshot. Exercises the native exec's tolerance walk +
    * outer semantics together; oracle is the window composition with
    * the same post-rank tolerance filter. */
  def eventsAsOfTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val left = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts")
    val sparse = dailyRollup(spark, sfDir)
      .filter(dayofmonth($"day") % 3 === 0)
      .select($"user_id".as("d_user"),
        $"day".cast("timestamp").as("day_ts"), $"day_value")
    graft.plans.AsOfJoinNative.asofJoin(
        left, sparse, "user_id", "d_user", "ts", "day_ts",
        joinType = "left_outer", tolerance = 86400000000L) // 1 day in micros
      .select($"event_id", $"user_id", to_date($"ts").as("event_day"),
        to_date($"day_ts").as("matched_day"), $"day_value")
      .orderBy($"event_id")
  }

  val eventsAsOfToleranceSql: String =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day,
       |         ${Exact.sumExactSql("value")} AS day_value
       |  FROM events GROUP BY 1, 2),
       |sparse AS (
       |  SELECT * FROM daily WHERE EXTRACT(DAY FROM day) % 3 = 0),
       |ev AS (SELECT event_id, user_id, ts FROM events),
       |j AS (
       |  SELECT e.event_id, s.day, s.day_value,
       |         row_number() OVER (PARTITION BY e.event_id
       |                            ORDER BY s.day DESC) AS rn,
       |         e.ts - CAST(s.day AS TIMESTAMP) AS gap
       |  FROM ev e JOIN sparse s
       |    ON e.user_id = s.user_id AND CAST(s.day AS TIMESTAMP) <= e.ts),
       |best AS (
       |  SELECT event_id, day, day_value FROM j
       |  WHERE rn = 1 AND gap <= INTERVAL 1 DAY)
       |SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_day,
       |       b.day AS matched_day, b.day_value
       |FROM ev e LEFT JOIN best b ON e.event_id = b.event_id
       |ORDER BY e.event_id""".stripMargin

  val eventsAsOfDailySql: String =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day,
       |         ${Exact.sumExactSql("value")} AS day_value
       |  FROM events GROUP BY 1, 2),
       |ev AS (
       |  SELECT event_id, user_id, CAST(ts AS DATE) AS event_day FROM events)
       |SELECT e.event_id, e.user_id, e.event_day,
       |       d.day AS matched_day, d.day_value
       |FROM ev e
       |ASOF JOIN daily d
       |  ON e.user_id = d.user_id AND e.event_day >= d.day
       |ORDER BY e.event_id""".stripMargin
}
