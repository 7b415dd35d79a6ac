package graft

/** Plan inspection harness: prints `explain("formatted")` for selected
  * queries so scan pushdown / broadcast choices / exchange counts can be
  * reviewed (and re-reviewed after changes). Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_scan_pushdown", "q_star_join", "q_ffill_bfill",
        "q_candles", "q_minhash_pairs", "q_cosine_topk", "q_asof_join")
    val spark = Session.builder()
      // keep the FULL logical plan visible: eager-release operators
      // would otherwise collapse their audit output to an ExistingRDD
      // scan (see operators.Eager)
      .config("graft.eagerRelease", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
