package graft

/** Dev tool: dump `.explain("formatted")` for every declared query to
  * plans/<tag>/<query>_<suffix>.txt (SPARK_GRAFT_PLAN_TAG, default
  * r21; SPARK_GRAFT_PLAN_SUFFIX, default "before";
  * SPARK_GRAFT_ONLY=csv restricts the query set). Runs under the
  * exact Bench session config so the dumped plans are the plans the
  * bench executes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "r21")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.harness()
    val outDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(outDir)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"[plandump] $name ok")
        } catch {
          case e: Throwable => println(s"[plandump] $name FAILED: $e")
        } finally Caches.release()
      }
    spark.stop()
  }
}
