package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.FlowAnalytics

/** The inventory contract — see SURVEY.md §2. */
object SparkEntry {

  /** Temp dir for the at-rest index rows (a15/d14/d15), deleted on JVM
    * exit: under SPARK_GRAFT_REPS each rep rebuilds its index, and
    * without cleanup every rep leaked a full index copy in /tmp. */
  private[graft] def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toString
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    FlowAnalytics.starJoinFlow(
      Tables.lineitem(spark, d), Tables.orders(spark, d), Tables.customer(spark, d),
      Tables.nation(spark, d), Tables.region(spark, d))
  }

  /** One entry per implemented operator from SURVEY.md §2: each
    * `TaskRunner.runners` binding under its default parameters. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    TaskRunner.runners.map { case (name, f) =>
      name -> ((s: SparkSession, d: String) => f(s, d, Map.empty))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Oracles.all
}
