package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counts per benchmark step, from listeners registered by the
  * benchmark only: a `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (planning phases, files scanned) and a
  * `StreamingQueryListener` (micro-batch phases, state). Events are
  * buffered as they arrive and assigned to the step that was open when
  * the listener bus was drained at its end. */
final class Tracer(spark: SparkSession) {

  private final class Counts {
    var jobs, stages, tasks = 0L
    val jobIntervals = mutable.Map[Int, (Long, Long)]()
    var runMs, cpuNs, shuffleWrite, shuffleRead, spill, bytesRead, bytesWritten = 0L
    var planningMs, queries, scannedBytes = 0L
    var batches = 0L
    val batchMs = mutable.Map[String, Long]().withDefaultValue(0L)
    var stateCommitMs = 0L
    val stateRows = mutable.Map[String, Long]()
  }

  private var cur = new Counts
  private val scanned = mutable.Map[String, Long]()
  private var spanStartMs = 0L

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      cur.jobs += 1; cur.jobIntervals(e.jobId) = (e.time, Long.MaxValue)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      cur.jobIntervals.get(e.jobId).foreach { case (s, _) => cur.jobIntervals(e.jobId) = (s, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized { cur.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      cur.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        cur.runMs += m.executorRunTime
        cur.cpuNs += m.executorCpuTime
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        cur.bytesRead += m.inputMetrics.bytesRead
        cur.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planning = qe.tracker.phases.values.map(_.durationMs).sum
      // one entry per file relation in the plan: a table scanned twice
      // by one query counts twice
      val scans = try {
        qe.optimizedPlan.collectWithSubqueries {
          case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.inputFiles.toSeq
        }
      } catch { case _: Throwable => Nil }
      Tracer.this.synchronized {
        cur.planningMs += planning; cur.queries += 1
        scans.flatten.foreach { f =>
          val size = scanned.getOrElseUpdate(f, fileSize(f))
          cur.scannedBytes += size
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Tracer.this.synchronized {
        cur.batches += 1
        p.durationMs.asScala.foreach { case (k, v) => cur.batchMs(k) += v.longValue }
        p.stateOperators.foreach { s => cur.stateCommitMs += s.commitTimeMs }
        cur.stateRows(p.id.toString) = p.stateOperators.map(_.numRowsTotal).sum
      }
    }
  })

  private def fileSize(uri: String): Long =
    try new java.io.File(new org.apache.hadoop.fs.Path(uri).toUri.getPath).length
    catch { case _: Throwable => 0L }

  /** Block-manager storage memory in use (cached and broadcast blocks). */
  private def retainedBlockMb(): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum / 1048576.0

  def open(): Unit = synchronized { spanStartMs = System.currentTimeMillis() }

  /** Close the current step's span: drain the listener bus and return
    * this step's counts. */
  def close(): Map[String, Any] = {
    val endMs = System.currentTimeMillis()
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    val c = synchronized { val c = cur; cur = new Counts; c }
    val wallMs = endMs - spanStartMs
    val jobUnionMs = unionMs(c.jobIntervals.values.map { case (s, e) =>
      (math.max(s, spanStartMs), math.min(if (e == Long.MaxValue) endMs else e, endMs))
    }.toSeq)
    Map[String, Any](
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "driver_self_s" -> (wallMs - jobUnionMs) / 1e3,
      "planning_s" -> c.planningMs / 1e3, "queries" -> c.queries,
      "executor_run_s" -> c.runMs / 1e3, "executor_cpu_s" -> c.cpuNs / 1e9,
      "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
      "spill_bytes" -> c.spill, "bytes_read" -> c.bytesRead, "bytes_written" -> c.bytesWritten,
      "scanned_bytes" -> c.scannedBytes,
      "batches" -> c.batches, "batch_ms" -> c.batchMs.toMap,
      "state_commit_ms" -> c.stateCommitMs, "state_rows" -> c.stateRows.values.sum,
      "retained_block_mb" -> retainedBlockMb())
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var (total, reach) = (0L, Long.MinValue)
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { total += e - math.max(s, reach); reach = e }
    }
    total
  }

  /** Bytes of the distinct files any traced query scanned, each once. */
  def distinctInputBytes: Long = synchronized(scanned.values.sum)
}
