package graft


/** Plan-inspection helper: dumps `.explain("formatted")` for the named
  * queries (or every bench query) so pushdown/broadcast/codegen can be
  * audited. Usage: runMain graft.Explain [sfDir] [name...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Queries.benchNames
    val spark = graft.cli.CliUtil.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try Queries.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
