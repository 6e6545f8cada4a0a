package graft

import org.apache.spark.sql.functions._

/** Dev-only phase profiler (SPARK_GRAFT_PROFILE=name): times the
  * sub-steps of the composite queries (a21, bm25probe; any inventory
  * id times the whole query) under the exact Bench session so
  * optimization targets the real cost, not a guess. Not part of the
  * driver contract. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    Tables.names.foreach { n =>
      try {
        (if (n == "events") Tables.events(spark, sfDir)
         else Tables.load(spark, sfDir, n)).count()
      } catch { case _: Throwable => () }
    }
    def time[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[profile] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    val which = sys.env.getOrElse("SPARK_GRAFT_PROFILE", "a21")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    (1 to reps).foreach { rep =>
      println(s"--- rep $rep: $which ---")
      which match {
        case "a21" =>
          val docs = Tables.documents(spark, sfDir)
          val tmpT = SparkEntry.scratchDir("graft_prof_t_")
          val tmpA = SparkEntry.scratchDir("graft_prof_a_")
          time("writeTextIndex") {
            graft.text.TextStats.writeTextIndex(docs, tmpT)
          }
          val emb = graft.text.TextStats.hashEmbed(docs)
          val corpusVec = emb.select(col("doc_id").as("vec_id"), col("embedding"))
          val cents = time("kmeansCentroids") {
            val c = graft.ann.Ann.kmeansCentroids(corpusVec)
            c.count(); c
          }
          time("writeAnnIndex") {
            graft.ann.Ann.writeAnnIndex(corpusVec, cents, tmpA)
          }
          val qe = emb.filter(col("doc_id") % 97 === 0 && col("doc_id") < 97L * 32)
            .select(col("doc_id").as("query_id"), col("embedding"))
          time("  lex leg (bm25SearchIndexed)") {
            graft.text.TextStats.bm25SearchIndexed(
              graft.text.TextStats.sampleQueries(docs), tmpT)
              .write.format("noop").mode("overwrite").save()
          }
          time("  sem leg (ivfKnnIndexed)") {
            graft.ann.Ann.ivfKnnIndexed(
              qe.select(col("query_id").as("vec_id"), col("embedding")),
              tmpA, k = 10, nprobe = 2, excludeSelf = false)
              .write.format("noop").mode("overwrite").save()
          }
          time("rrfFuseIndexed (probe)") {
            graft.ann.Ann.rrfFuseIndexed(
              graft.text.TextStats.sampleQueries(docs), qe, tmpT, tmpA)
              .write.format("noop").mode("overwrite").save()
          }
          time("count files") {
            def cnt(p: String): Int = {
              val d = new java.io.File(p)
              if (d.isDirectory) Option(d.listFiles()).map(_.map(f => cnt(f.getPath)).sum).getOrElse(0)
              else 1
            }
            println(s"[profile]   text index files: ${cnt(tmpT)}  ann index files: ${cnt(tmpA)}")
          }
        case "bm25probe" =>
          val docs = Tables.documents(spark, sfDir)
          val tmpT = SparkEntry.scratchDir("graft_prof_t_")
          time("writeTextIndex") {
            graft.text.TextStats.writeTextIndex(docs, tmpT)
          }
          val queries = graft.text.TextStats.sampleQueries(docs)
          time("  meta read") {
            spark.read.parquet(tmpT + "/meta").collect()(0).getAs[Number](0).longValue
          }
          val nBuckets = 64L
          val qt = graft.Caches.tracked(
            queries.select("query_id", "term").distinct()
              .withColumn("bkt", pmod(xxhash64(col("term")), lit(nBuckets)).cast("int")))
          val bkts = time("  qt distinct collect") {
            qt.select("bkt").distinct().collect().map(_.getInt(0))
          }
          time("  dfs read+agg") {
            spark.read.parquet(tmpT + "/dfs").filter(col("bkt").isin(bkts: _*))
              .groupBy("term").agg(sum("df").as("df")).count()
          }
          time("  postings read") {
            spark.read.parquet(tmpT + "/postings").filter(col("bkt").isin(bkts: _*)).count()
          }
          time("  doclens read") {
            spark.read.parquet(tmpT + "/doclens").count()
          }
          time("  full probe") {
            graft.text.TextStats.bm25SearchIndexed(queries, tmpT)
              .write.format("noop").mode("overwrite").save()
          }
          time("  full probe again") {
            graft.text.TextStats.bm25SearchIndexed(queries, tmpT)
              .write.format("noop").mode("overwrite").save()
          }
        case other =>
          // fall back: any registered query key, timed whole
          val fn = SparkEntry.queries(other)
          time(other) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
      }
      Caches.release()
    }
    spark.stop()
  }
}
