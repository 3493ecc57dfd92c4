package graft

/** Dev tool: print the formatted physical plan of one or more
  * registered queries (all of them with no args) at a given sf dir —
  * the .explain loop the scale-design docs are written from.
  *
  * Usage: runMain graft.PlanDump [sfDir] [query ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.build("graft-plan-dump")
    names.foreach { n =>
      println(s"========== $n")
      val fn = SparkEntry.query(n).getOrElse(
        sys.error(s"unknown query '$n' (not a live key and not in scripts/renames.json)"))
      fn(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
