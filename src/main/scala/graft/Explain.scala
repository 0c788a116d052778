package graft

/** Dev tool: dump formatted physical plans for the named queries (all
  * queries if no names given) so scan pushdown, join strategies and
  * codegen spans can be inspected. `runMain graft.Explain q01_... ` */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
