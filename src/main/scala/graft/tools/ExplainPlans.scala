package graft.tools

/** Print formatted physical plans for headline queries — the
  * scale-review loop: check pushdown (PushedFilters/ReadSchema),
  * broadcast vs shuffle joins, and WholeStageCodegen coverage.
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = graft.GraftSession.local()
    graft.SparkEntry.gates.sortBy(_.name)
      .filter(g => names.isEmpty || names.contains(g.name))
      .foreach { case graft.gates.Gate(name, fn, _) =>
        println(s"\n########## $name ##########")
        try {
          val df = fn(spark, dir)
          // execute THIS dataset's queryExecution so AQE finalizes:
          // runtime-only rewrites (ReusedExchange/ReusedSubquery, skew
          // splits, bhj demotions) only appear in the finalized
          // adaptive plan, and a count() would execute a different one
          df.collect()
          df.explain("formatted")
        }
        catch { case e: Exception => println(s"explain failed: $e") }
      }
    spark.stop()
  }
}
