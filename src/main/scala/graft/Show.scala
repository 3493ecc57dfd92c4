package graft

/** Dev tool: print a registered query's result.
  * `sbt "runMain graft.Show <sfDir> <query> [n]"`
  */
object Show {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = if (args.length > 2) args(2).toInt else 50
    val fn = SparkEntry.query(args(1)).getOrElse(
      sys.error(s"unknown query '${args(1)}' (not a live key and not in scripts/renames.json)"))
    val spark = GraftSession.build("graft-show")
    fn(spark, dir).show(n, truncate = false)
    spark.stop()
  }
}
