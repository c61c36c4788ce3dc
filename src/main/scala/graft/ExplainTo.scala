package graft

/** Dev tool: write the `explain("formatted")` plan of registered
  * queries to files — the plans/rNN/<query>_<suffix>.txt evidence the
  * optimization rounds commit for every touched query.
  *
  * Usage: graft.ExplainTo <query>[,<query>...] <outDir> <suffix> [sfDir]
  */
object ExplainTo {
  def main(args: Array[String]): Unit = {
    val queries = SparkEntry.select(Some(args(0)))
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(defaultCpus = 32)
    java.nio.file.Files.createDirectories(outDir)
    queries.foreach { case (name, fn) =>
      val plan = fn(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"[explainto] wrote ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
