package graft

/** Dumps `.explain("formatted")` for every SparkEntry query to one file
  * per query — the optimization rounds' measurement tool (guide §1:
  * capture the plan shape — Exchange count, join strategy, PushedFilters
  * — before and after each change). Pure planning: nothing executes
  * except the driver-side prep a query's closure runs while BUILDING its
  * DataFrame (trainer collects, grid/index ensure).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [query,query,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = new java.io.File(args(1))
    outDir.mkdirs()
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            new java.io.File(outDir, s"$name.txt").toPath,
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plandump] $name OK")
        } catch {
          case e: Throwable => println(s"[plandump] $name FAILED: $e")
        }
      }
    spark.stop()
  }
}
