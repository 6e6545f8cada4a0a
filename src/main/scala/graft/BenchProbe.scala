package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Probe-only timing for the at-rest indexes.
  *
  * The inventory's indexed rows (a15/a19/d14/d15/d21/t29) rebuild
  * their index inside the timed region — the honest end-to-end cost of
  * the driver-visible row, but NOT the number a deployment plans
  * around: there the index is built once (or appended nightly) and the
  * per-batch cost is the PROBE alone. This main separates the two:
  * each index builds once into a temp dir (timed once), then its probe
  * runs SPARK_GRAFT_REPS times and keeps the minimum (the same minima
  * protocol as graft.Bench — this host's CPU-steal noise is ~2x).
  *
  * Emits one JSON line with per-index build seconds and probe-minimum
  * seconds, sentinel-delimited like Bench. Run at several SF dirs to
  * measure the scale claim that matters: probe cost tracks the BATCH
  * (query/batch size fixed here), not the corpus.
  */
object BenchProbe {
  // elapsed is captured BEFORE the cache release: unpersisting tracked
  // caches is suite bookkeeping, not probe cost, and folding it into
  // every repetition inflated the probe minima this report isolates
  private def time[T](body: => T): Double = {
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    finally Caches.release()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.harness()
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def scratch(prefix: String): String = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      p.toFile.deleteOnExit(); p.toString
    }
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("source") =!= "src0")
    val batch = docs.filter(col("source") === "src0")
    val e = Tables.embeddings(spark, sfDir)
    val builds = scala.collection.mutable.LinkedHashMap[String, Double]()
    val probes = scala.collection.mutable.LinkedHashMap[String, Double]()
    def bench(name: String)(build: String => Unit)(probe: String => DataFrame): Unit = {
      val dir = scratch(s"graft_probe_${name}_")
      builds(name) = time(build(dir))
      probes(name) = (1 to reps).map(_ => time(noop(probe(dir)))).min
    }
    bench("text_bm25") { d =>
      graft.text.TextStats.writeTextIndex(docs, d)
    } { d =>
      graft.text.TextStats.bm25SearchIndexed(
        graft.text.TextStats.sampleQueries(docs), d)
    }
    bench("dedup_minhash") { d =>
      graft.dedup.Dedup.writeDedupIndex(corpus, d)
    } { d => graft.dedup.Dedup.dedupAgainstIndex(batch, d) }
    bench("containment") { d =>
      graft.dedup.Dedup.writeContainmentIndex(corpus, d)
    } { d => graft.dedup.Dedup.containmentAgainstIndex(batch, d) }
    bench("ann_ivf") { d =>
      graft.ann.Ann.writeAnnIndex(e.filter(col("vec_id") >= 10),
        graft.ann.Ann.labelCentroids(e), d)
    } { d => graft.ann.Ann.ivfKnnIndexed(e.filter(col("vec_id") < 10), d) }
    bench("ann_ivf_sq8") { d =>
      graft.ann.Ann.writeAnnIndexSq8(e.filter(col("vec_id") >= 10),
        graft.ann.Ann.labelCentroids(e), d)
    } { d => graft.ann.Ann.ivfSq8KnnIndexed(e.filter(col("vec_id") < 10), d) }
    // ORDER-DECAY measurement for refreezeContainmentIndex: the synthetic
    // corpus is vocabulary-saturated, so post-seed growth is manufactured
    // by suffixing every token (all-new shingles — the worst case the
    // frozen order degrades toward: every appended shingle at odf 0).
    // The probe shares the appended slice's hot shingles, so the stale
    // order floods its prefix with common new-vocab shingles; the
    // refreeze restores their true (high) df and the candidate volume
    // is the measured difference. Probe results are identical either
    // way (spec-pinned); this measures VOLUME and the rewrite cost.
    val refreezeStats = scala.collection.mutable.LinkedHashMap[String, Double]()
    locally {
      val dir = scratch("graft_probe_refreeze_")
      val shift = (df: DataFrame) => df.select(col("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1x").as("text"))
      graft.dedup.Dedup.writeContainmentIndex(corpus, dir, batchId = Some(-1L))
      Caches.release()
      graft.dedup.Dedup.writeContainmentIndex(
        shift(batch).select((col("doc_id") + 10000000L).as("doc_id"), col("text")),
        dir, batchId = Some(0L))
      Caches.release()
      val probeDocs = shift(docs.filter(col("source") === "src1")
        .limit(200)).select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
      def cands(): Double = {
        val n = graft.dedup.Dedup
          .containmentProbeCandidates(probeDocs, dir, 0.8)._2.count().toDouble
        Caches.release()
        n
      }
      refreezeStats("cands_before") = cands()
      // the policy metric (sampled odf-0 posting share) bracketing the
      // verb: what maybeRefreezeContainmentIndex would see before (high,
      // fires) and after (0, holds) — ties the BENCH row to the policy
      refreezeStats("odf0_share_before") =
        graft.dedup.Dedup.containmentOrderDecay(spark, dir)
      refreezeStats("refreeze_sec") =
        time(graft.dedup.Dedup.refreezeContainmentIndex(spark, dir).collect())
      refreezeStats("odf0_share_after") =
        graft.dedup.Dedup.containmentOrderDecay(spark, dir)
      refreezeStats("cands_after") = cands()
    }
    def r3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def m(x: collection.Map[String, Double]) =
      x.map { case (k, v) => s"\"$k\":${r3(v)}" }.mkString("{", ",", "}")
    println("===GRAFT_PROBE_JSON_BEGIN===")
    println(s"""{"builds":${m(builds)},"probes":${m(probes)},"refreeze":${m(refreezeStats)},"reps":$reps,"sf":"$sfDir"}""")
    println("===GRAFT_PROBE_JSON_END===")
    spark.stop()
  }
}
