package graft

/** Dev tool: print the formatted physical plan of named driver queries —
  * the plan-audit loop ("is the filter pushed, is the small side
  * broadcast, does codegen span the hot path"). Usage:
  * `runMain graft.Explain <sfDir> <query> [<query> ...]`, on the session
  * Bench times (`Session.local`, SPARK_GRAFT_CPUS threads). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local(Session.cpus())
    names.foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
