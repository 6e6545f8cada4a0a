package graft

import org.apache.spark.sql.functions._

/** d06 growth diagnostic (PLANS.md attribution): separates the two
  * costs the headline d06 timing folds together — CANDIDATE volume
  * (banded-LSH bucket join, grows with collision mass) and VERIFY
  * cost (exact cosine over surviving candidates) — across SF tiers,
  * on the same planted id-offset-union construction the inventory row
  * uses. Emits one JSON line per run (the Bench sentinel protocol):
  * n, auto-resolved (tables, bits), candidate count, candidate-stage
  * seconds, full-operator seconds.
  */
object DedupGrowthProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val threshold = sys.env.getOrElse("SPARK_GRAFT_D06_THRESHOLD", "0.75").toDouble
    val spark = GraftSession.harness()
    import graft.dedup.Dedup
    val e = Tables.embeddings(spark, sfDir)
    // the inventory construction: the table ∪ an id-offset copy, so the
    // banded recall is exercised on n planted cos=1.0 pairs
    val planted = e.select(col("vec_id"), col("embedding")).unionByName(
      e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      .localCheckpoint(true)
    val n = planted.count()
    val (t, b) = Dedup.resolveLshParams(planted, threshold, -1, -1, 64)
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    var nCand = 0L
    val candSec = secs { nCand = Dedup.embedLshCandidates(planted, threshold).count() }
    var nPairs = 0L
    val fullSec = secs {
      nPairs = Dedup.embedDedupLsh(planted, threshold).count()
    }
    println("===GRAFT_BENCH_JSON_BEGIN===")
    println(s"""{"metric":"d06_growth","sf":"$sfDir","n":$n,"tables":$t,"bits":$b,"threshold":$threshold,"candidates":$nCand,"verified_pairs":$nPairs,"cand_sec":${f"$candSec%.2f"},"full_sec":${f"$fullSec%.2f"}}""")
    println("===GRAFT_BENCH_JSON_END===")
    spark.stop()
  }
}
