package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Input row for the per-entity sequential walk (micros keep the sort
  * key primitive — no timestamp encoder needed). */
case class BalanceRow(user_id: Long, event_id: Long, ts_micros: Long, value: Double)

/** Output: running clamped balance after each event. */
case class BalanceOut(user_id: Long, event_id: Long, balance: Double)

/** Batch stateful per-group walks — the typed Dataset surface.
  *
  * A clamped running balance (inventory with a floor and a capacity,
  * prepaid credit, rate-limiter tokens) is the canonical aggregation a
  * window CANNOT express: the clamp makes each step depend on the
  * previous step's POST-CLAMP value, so there is no prefix-decomposable
  * form — it is a sequential fold per entity (the batch analog of the
  * streaming `transformWithState` fold in [[graft.streaming.TwsOps]]),
  * and no row leaves the executors.
  *
  * The update rule is pinned-order IEEE arithmetic
  * (((bal + value) − drift), then greatest, then least), so the DuckDB
  * recursive-CTE oracle — which walks each entity row-by-row through
  * the identical expression — matches hash-exactly.
  */
object StatefulBatch {

  /** Secondary sort, not per-group materialization: one hash
    * repartition on the entity key, an in-partition sort on (entity,
    * time, id) — Spark's sort is external, it spills — then a single
    * streaming pass whose fold state resets at each entity boundary.
    * Memory per task is O(1) in the entity's history length, so a
    * pathological entity costs disk, not heap. */
  def clampedBalance(spark: SparkSession, sfDir: String,
      floorAt: Double = 0.0, cap: Double = 500.0,
      drift: Double = 50.0): DataFrame = {
    import spark.implicits._
    val ds = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_micros"), $"value")
      .as[BalanceRow]
    ds.repartition($"user_id")
      .sortWithinPartitions($"user_id", $"ts_micros", $"event_id")
      .mapPartitions { it =>
        var curUser = Long.MinValue
        var bal = 0.0
        it.map { r =>
          if (r.user_id != curUser) { curUser = r.user_id; bal = 0.0 }
          bal = math.min(math.max(bal + r.value - drift, floorAt), cap)
          BalanceOut(r.user_id, r.event_id, bal)
        }
      }
      .toDF()
      .orderBy($"user_id", $"event_id")
  }

  val clampedBalanceSql: String =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, event_id, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts, event_id) AS rn
      |  FROM events),
      |bal AS (
      |  SELECT user_id, event_id, rn,
      |         least(greatest(0.0 + value - 50.0, 0.0), 500.0) AS balance
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.event_id, e.rn,
      |         least(greatest(b.balance + e.value - 50.0, 0.0), 500.0)
      |  FROM bal b JOIN ev e ON e.user_id = b.user_id AND e.rn = b.rn + 1)
      |SELECT user_id, event_id, balance
      |FROM bal
      |ORDER BY user_id, event_id""".stripMargin
}
