package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.harness()
    new java.io.File(outDir).mkdirs()
    // dev knob (unset in driver runs → full dump): csv of query keys
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // a query that THROWS must stay loud in the artifacts: r13's ts-type
    // regression errored 20 queries and the round's correctness report
    // silently shrank 114→94 entries because failures left no output dir.
    // Record every failure (errors.json + manifest counts) and exit
    // nonzero so coverage shrinkage can't read as all-green again.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = e.toString.take(300)
        System.err.println(s"[verify] $name failed: $e")
        e.getStackTrace.take(3).foreach(f => System.err.println(s"[verify]   at $f"))
        // a stale dump from a previous run into the same outDir would
        // make the per-query compare print a misleading OK for a query
        // that actually threw this run — remove it so absence stays loud
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
      finally Caches.release() // drop operator-held intermediate caches
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      s"""{"expected":${selected.size},"dumped":${selected.size - errors.size},"failed":${errors.size}}""")
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size}/${selected.size} queries FAILED: " +
        errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
