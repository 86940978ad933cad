package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each gate's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated gate-name filter (local dev;
    // without it, every gate runs), resolved before the session starts:
    // a typo'd name would otherwise dump nothing, exit 0, and leave a
    // stale previous result to read as a false green
    val selected =
      if (args.length > 2) SparkEntry.lookup(args(2)) else SparkEntry.gates
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // environment-health record for THIS artifact (VERDICT r4 item 6:
    // the verify pass is environment-sensitive too — streaming drains
    // time out on a contended box). Constants when quiet: spin ~0.5 s,
    // disk ~1 s; inflation here flags a poisoned correctness run.
    val spinStart = Sentinel.spinSeconds()
    val diskStart = Sentinel.diskSeconds()
    val membwStart = Sentinel.membwSeconds()
    selected.foreach { gate =>
      val name = gate.name
      try {
        val df = gate.run(spark, sfDir)
        // in-band global-window tripwire (the muted-WARN backstop):
        // an unsanctioned partitionless window fails the query HERE,
        // which deletes its dump and reads red downstream
        graft.plans.WindowAudit.assertSanctioned(name, df)
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        // a failed query must not leave a STALE dump from a previous
        // run in place — that reads as a false green downstream
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"$outDir/$name"))
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {SF_DIR} lets an oracle reference the source FILES (e.g. DuckDB
    // parquet_metadata() for the manifest's footer-byte check) — the
    // concrete path is only known here, at dump time
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{SF_DIR}", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val (spinEnd, diskEnd) = (Sentinel.spinSeconds(), Sentinel.diskSeconds())
    val membwEnd = Sentinel.membwSeconds()
    // machine-readable verdict vs the committed quiet-box constants
    val contended = Sentinel.contendedVerdict(
      Seq(spinStart, spinEnd), Nil, Seq(diskStart, diskEnd),
      Seq(membwStart, membwEnd))
    val sentinelJson =
      f"""{"spin_start_sec":$spinStart%.3f,"disk_start_sec":$diskStart%.3f,""" +
      f""""membw_start_sec":$membwStart%.3f,""" +
      f""""spin_end_sec":$spinEnd%.3f,"disk_end_sec":$diskEnd%.3f,""" +
      f""""membw_end_sec":$membwEnd%.3f,""" +
      s""""contended":$contended}"""
    Files.writeString(Paths.get(s"$outDir/sentinel.json"), sentinelJson)
    println(s"[verify] sentinel $sentinelJson")
    spark.stop()
  }
}
