package graft

import org.apache.spark.sql.functions._

/** d04 growth diagnostic (PLANS.md attribution): separates the costs
  * the headline d04 timing folds together — fingerprint pass, raw
  * CANDIDATE volume out of the 6-block combination join (grows with
  * block-key collision mass), and the OUTPUT pair count at
  * hamming ≤ 3 (the irreducible result size) — across SF tiers.
  * Emits one JSON line per run (the Bench sentinel protocol).
  */
object SimhashGrowthProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    graft.functions.GraftFunctions.register(spark)
    val fp = graft.Scans.spreadIfNarrow(docs, col("doc_id"))
      .withColumn("toks", array_distinct(split(lower(col("text")), "\\s+")))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), expr("graft_simhash(toks)").as("simhash"))
      .localCheckpoint(true)
    val nDistinctFp = fp.select("simhash").distinct().count()
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    var nCand = 0L
    val candSec = secs { nCand = Dedup.simHashCandidates(fp).count() }
    var nPairs = 0L
    val fullSec = secs {
      nPairs = Dedup.simHashCandidates(fp).filter(col("hamming") <= 3).count()
    }
    graft.Caches.release()
    println("===GRAFT_BENCH_JSON_BEGIN===")
    println(s"""{"metric":"d04_growth","sf":"$sfDir","n":$n,"distinct_fp":$nDistinctFp,"candidates":$nCand,"output_pairs":$nPairs,"cand_sec":${f"$candSec%.2f"},"full_sec":${f"$fullSec%.2f"}}""")
    println("===GRAFT_BENCH_JSON_END===")
    spark.stop()
  }
}
