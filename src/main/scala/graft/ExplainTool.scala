package graft
/** Dev tool (not part of the driver contract): print the formatted
  * physical plan of named registered queries — the `.explain` audit the
  * scale discipline requires after every operator change — on the same
  * session Verify and Bench run. Usage:
  *   tools/run_graft.sh graft.ExplainTool <sfDir> <q1|stage:name> ...
  */
object ExplainTool {
  def main(args: Array[String]): Unit = {
    val d = args.head
    // stage-build frames (not registered queries): explain the BUILD
    // plan the staged artifact pays, which consumer queries never show
    val stages = Map[String, org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame](
      "stage:basket_pairs" -> (operators.BasketStage.pairSupportsBuild(_, d)),
      "stage:qm_pack" -> (graft.functions.QualityModel.packBuild(_, d)))
    // every name resolves before the session starts
    val gates = SparkEntry.lookup(args.tail.filterNot(stages.contains).toSeq)
      .map(g => g.name -> g.run).toMap
    val spark = GraftSession.local()
    args.tail.foreach { q =>
      println(s"===== $q =====")
      stages.get(q).map(_(spark)).getOrElse(gates(q)(spark, d)).explain("formatted")
    }
    spark.stop()
  }
}
