package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.functions.{QualityModel, Staged}
import graft.operators.{BasketStage, PipelineRunner}

/** One benchmark pass in a fresh JVM: build the session, call the named
  * steps in order, write every result for the oracle check, and record
  * timings (and, traced, the engine counts) as one JSON file.
  *
  * Usage:
  *   Harness oracle-sql <sfDir> <out.json>
  *   Harness run <sfDir> <outDir> <trace 0|1> <result.json> <step,step,...>
  *
  * A step is a gate name from `SparkEntry.queries` (its result is
  * written as one parquet directory under `outDir`), or one of the
  * whole-job calls below. A step that throws is recorded as failed and
  * the pass goes on, so one bad gate cannot end a run early. */
object Harness {

  private val jobSteps: Map[String, (SparkSession, String, String) => Unit] = Map(
    // `dbt run`: the six models, written under a directory fresh to this pass
    "pipeline" -> ((s, sf, out) => { PipelineRunner.run(s, sf, s"$out/pipeline"); () }),
    "qm_prebuild" -> ((s, sf, _) => QualityModel.prebuild(s, sf)),
    "basket_prebuild" -> ((s, sf, _) => BasketStage.prebuild(s, sf)))

  def main(args: Array[String]): Unit = args(0) match {
    case "oracle-sql" => dumpOracleSql(args(1), args(2))
    case "run" => run(args(1), args(2), args(3) == "1", args(4), args(5).split(",").toSeq)
    case other => sys.error(s"unknown mode $other")
  }

  private def dumpOracleSql(sfDir: String, outFile: String): Unit = {
    val sql = SparkEntry.oracleSql.map { case (k, v) => k -> v.replace("{SF_DIR}", sfDir) }
    Files.writeString(Paths.get(outFile), Json.write(sql))
  }

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum / 1e3
  }

  private def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** VmHWM: the process's peak resident set, in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  private def run(sfDir: String, outDir: String, trace: Boolean, resultFile: String,
      steps: Seq[String]): Unit = {
    val mainStart = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    // the session a graft user builds: local[cores], graft functions registered
    val spark = GraftSession.local(cores, "graft-perfbench")
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.muteSanctionedWindowWarns()
    val readyMs = System.currentTimeMillis()
    val sessionStartS = (System.nanoTime() - mainStart) / 1e9
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val (cpu0, gc0, jit0) = (cpuSeconds(), gcSeconds(), jitSeconds())
    val t0 = System.nanoTime()
    val records = steps.map { name =>
      tracer.foreach(_.open())
      val s0 = System.nanoTime()
      val error = try {
        jobSteps.get(name) match {
          case Some(job) => job(spark, sfDir, outDir)
          case None =>
            val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
            df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val s1 = System.nanoTime()
      val layer = tracer.map(_.close()).getOrElse(Map.empty)
      Map("name" -> name, "start_s" -> (s0 - t0) / 1e9, "end_s" -> (s1 - t0) / 1e9,
        "ok" -> error.isEmpty, "error" -> error.getOrElse("")) ++ layer
    }
    val t1 = System.nanoTime()
    val (cpu1, gc1, jit1) = (cpuSeconds(), gcSeconds(), jitSeconds())

    val result = Map(
      "ready_ms" -> readyMs,
      "cores" -> cores,
      "session_start_s" -> sessionStartS,
      "wall_s" -> (t1 - t0) / 1e9,
      "cpu_s" -> (cpu1 - cpu0),
      "gc_s" -> (gc1 - gc0),
      "jit_s" -> (jit1 - jit0),
      "peak_rss_mb" -> peakRssMb(),
      "staged_build_s" -> Staged.buildTimes,
      "steps" -> records,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version")) ++
      tracer.map(t => Map("distinct_input_bytes" -> t.distinctInputBytes)).getOrElse(Map.empty)
    Files.writeString(Paths.get(resultFile), Json.write(result))
    spark.stop()
  }
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers and booleans). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
