package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ann.Ann
import graft.dedup.Dedup
import graft.streaming.StreamingFlow
import graft.text.TextStats

/** The live indexes of the corpus workload: the dedup, IVF and BM25
  * indexes are built once from three quarters of the corpus, then each
  * pass feeds a fixed sequence of micro-batches through the public
  * streaming entry points (each fed by a `MemoryStream`): ingest
  * batches append new documents and vectors to the dedup and IVF
  * indexes, serve batches probe the IVF and BM25 indexes, one serve
  * batch after each ingest batch. A batch's latency runs from `addData`
  * until `processAllAvailable` returns.
  *
  * Checks, after the timed window: every admission verdict equals
  * `Dedup.ingestAdmit` over the same corpus snapshot (the seed corpus
  * plus every earlier admission); every IVF result carries the exact
  * cosine of its neighbour; BM25 pages equal the live `bm25Search` over
  * the indexed corpus. Recall@10 compares the IVF pages with the exact
  * top 10 over the vectors indexed when the batch ran. */
final class IndexLive(dataDir: String, workDir: String) extends Workload {
  private val DocBatch = 40
  private val VecBatch = 20
  private val AnnQueries = 10
  private val K = 10

  private var spark: SparkSession = _
  private var seedDocs: DataFrame = _
  private var docBatches: Iterator[Seq[(Long, String)]] = _
  private var vecBatches: Iterator[Seq[(Long, Array[Float])]] = _
  private var annQueries: IndexedSeq[Seq[(Long, Seq[Float])]] = _
  private var bm25Queries: IndexedSeq[Seq[(Long, String)]] = _
  private var vectors: Map[Long, Array[Float]] = _
  private var seedVecIds: Seq[Long] = _

  private var docIn: MemoryStream[(Long, String)] = _
  private var vecIn: MemoryStream[(Long, Array[Float])] = _
  private var annIn: MemoryStream[(Long, Seq[Float])] = _
  private var bm25In: MemoryStream[(Long, String)] = _
  private val queries = mutable.ArrayBuffer[StreamingQuery]()

  // what each micro-batch carried, by stream batch id, for the checks
  private val docsSent = mutable.ArrayBuffer[Seq[(Long, String)]]()
  private val vecsSent = mutable.ArrayBuffer[Seq[Long]]()
  private val annServed = mutable.ArrayBuffer[(Seq[(Long, Seq[Float])], Int)]()
  private val bm25Served = mutable.ArrayBuffer[Int]()
  private val appends = mutable.ArrayBuffer[(Long, Long)]()
  private var buildS = 0.0
  private var recall = 0.0
  private var bytesPerDoc = 0.0
  private var admitRatio = 0.0
  private var rowsPerResult = Map[Int, Long]()

  private def root(sub: String) = new File(workDir, s"live/$sub").getPath
  private val indexDirs = Seq("dedup", "ann", "text").map(root)

  def register(s: SparkSession): Unit = {
    spark = s
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = graft.Tables.documents(s, dataDir).select("doc_id", "text")
    val emb = graft.Tables.embeddings(s, dataDir).select("vec_id", "embedding")
    // a quarter of the documents and vectors arrive as ingest batches;
    // every 20th vector is held out of the index as a serve query
    seedDocs = docs.filter(col("doc_id") % 4 =!= 0)
    val streamDocs = docs.filter(col("doc_id") % 4 === 0).orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    vectors = emb.as[(Long, Array[Float])].collect().toMap
    val ids = vectors.keys.toSeq.sorted
    val held = ids.filter(_ % 20 == 2)
    val streamVecs = ids.filter(i => i % 4 == 0)
    seedVecIds = ids.filter(i => i % 4 != 0 && i % 20 != 2)
    docBatches = streamDocs.grouped(DocBatch).toSeq.iterator
    vecBatches = streamVecs.grouped(VecBatch).map(_.map(i => i -> vectors(i))).toSeq.iterator
    annQueries = held.map(i => (i + 10000000L) -> vectors(i).toSeq)
      .grouped(AnnQueries).toIndexedSeq
    bm25Queries = TextStats.sampleQueries(docs, maxQueries = 16).as[(Long, String)]
      .collect().toSeq.groupBy(_._1 % 2).toSeq.sortBy(_._1).map(_._2).toIndexedSeq

    val b0 = System.nanoTime()
    Dedup.writeDedupIndex(seedDocs, root("dedup"), batchId = Some(-1L))
    graft.Caches.release()
    val seedVecs = emb.filter(col("vec_id").isin(seedVecIds: _*))
    Ann.writeAnnIndex(seedVecs, Ann.kmeansCentroids(seedVecs), root("ann"), batchId = Some(-1L))
    graft.Caches.release()
    TextStats.writeTextIndex(seedDocs, root("text"))
    graft.Caches.release()
    buildS = (System.nanoTime() - b0) / 1e9

    docIn = MemoryStream[(Long, String)]
    vecIn = MemoryStream[(Long, Array[Float])]
    annIn = MemoryStream[(Long, Seq[Float])]
    bm25In = MemoryStream[(Long, String)]
    queries += StreamingFlow.streamIngestAdmitIndexed(docIn.toDF().toDF("doc_id", "text"),
      root("dedup"), root("verdicts"), root("ckpt/dedup"))
    queries += StreamingFlow.streamAnnIndexIngest(vecIn.toDF().toDF("vec_id", "embedding"),
      root("ann"), root("ann_stats"), root("ckpt/ann"))
    queries += StreamingFlow.streamAnnServe(annIn.toDF().toDF("query_id", "embedding"),
      root("ann"), root("ann_pages"), root("ckpt/serve_ann"), k = K)
    queries += StreamingFlow.streamBm25Indexed(bm25In.toDF().toDF("query_id", "term"),
      root("text"), root("bm25_pages"), root("ckpt/serve_bm25"))
  }

  private def size(dirs: Seq[String]): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = dirs.flatMap(d => walk(new File(d))).filterNot(_.getName.startsWith("."))
    (files.map(_.length).sum, files.size.toLong)
  }

  private def ingest[T](run: Run, name: String, module: String, in: MemoryStream[T],
                        q: StreamingQuery, batch: Seq[T]): Unit = {
    val (b0, f0) = size(indexDirs)
    run.call(name, module, "ingest")(in.addData(batch))(_ => q.processAllAvailable())
    val (b1, f1) = size(indexDirs)
    appends += ((b1 - b0, f1 - f0))
  }

  def pass(run: Run, warm: Boolean): Unit = {
    val serveAnn = () => {
      val qs = annQueries(annServed.size % annQueries.size)
      run.call("serve_ann", "ann", "serve")(annIn.addData(qs))(_ =>
        queries(2).processAllAvailable())
      annServed += ((qs, vecsSent.map(_.size).sum))
    }
    val serveBm25 = () => {
      val i = bm25Served.size % bm25Queries.size
      run.call("serve_bm25", "text", "serve")(bm25In.addData(bm25Queries(i)))(_ =>
        queries(3).processAllAvailable())
      bm25Served += i
    }
    if (docBatches.hasNext) {
      val b = docBatches.next()
      ingest(run, "ingest_docs", "dedup", docIn, queries(0), b)
      docsSent += b
    }
    serveAnn()
    if (vecBatches.hasNext) {
      val b = vecBatches.next()
      ingest(run, "ingest_vecs", "ann", vecIn, queries(1), b)
      vecsSent += b.map(_._1)
    }
    serveBm25()
  }

  override def check(run: Run): Unit = {
    val s = spark
    import s.implicits._
    queries.foreach(_.stop())
    // admission: each batch against the seed corpus plus every earlier
    // batch's admissions, recomputed by the batch operator
    val verdicts = spark.read.parquet(root("verdicts"))
    var corpus = seedDocs
    var admitted = 0L
    docsSent.zipWithIndex.foreach { case (batch, id) =>
      val got = verdicts.filter(col("batch_id") === id)
        .select("doc_id", "reason").as[(Long, String)].collect().toMap
      val batchDf = batch.toDF("doc_id", "text")
      val want = graft.Caches.scoped {
        Dedup.ingestAdmit(batchDf, corpus).select("doc_id", "reason")
          .as[(Long, String)].collect().toMap
      }
      if (got != want) run.fail("ingest_docs", s"batch $id verdicts differ from Dedup.ingestAdmit")
      val ok = want.filter(_._2 == "admitted").keySet
      admitted += ok.size
      corpus = corpus.unionByName(batchDf.filter(col("doc_id").isin(ok.toSeq: _*)))
    }
    admitRatio = admitted.toDouble / math.max(1, docsSent.map(_.size).sum)

    // IVF pages: exact cosines, and recall against exact top-10 over
    // the vectors indexed at the time of the batch
    val pages = spark.read.parquet(root("ann_pages"))
      .select("batch_id", "query_id", "neighbor_id", "cos_sim")
      .as[(Int, Long, Long, Double)].collect().groupBy(_._1)
    val streamed = vecsSent.flatten
    var hits = 0L
    var wanted = 0L
    annServed.zipWithIndex.foreach { case ((qs, nIngested), id) =>
      val indexed = (seedVecIds ++ streamed.take(nIngested)).map(i => i -> vectors(i))
      val page = pages.getOrElse(id, Array.empty)
      val wrong = qs.filter { case (qid, qv) =>
        val exact = indexed.map { case (i, v) => i -> cosine(qv, v) }.sortBy(x => (-x._2, x._1))
        val truth = exact.take(K).map(_._1).toSet
        val got = page.filter(_._2 == qid)
        val sims = exact.toMap
        hits += got.count(r => truth.contains(r._3))
        wanted += K
        got.isEmpty || got.exists(r => math.abs(r._4 - sims(r._3)) > 1e-3)
      }
      if (wrong.nonEmpty)
        run.fail("serve_ann", s"batch $id: queries ${wrong.map(_._1).mkString(",")} " +
          "have no results or a wrong cosine")
    }
    recall = hits.toDouble / math.max(1, wanted)
    rowsPerResult = pages.map { case (id, rs) => id -> rs.length.toLong }

    // BM25 pages against the live search over the indexed corpus
    val bm25 = spark.read.parquet(root("bm25_pages"))
    val want = bm25Queries.map { qs =>
      graft.Caches.scoped(Digest(TextStats.bm25Search(seedDocs, qs.toDF("query_id", "term")).collect()))
    }
    bm25Served.zipWithIndex.foreach { case (i, id) =>
      val got = Digest(bm25.filter(col("batch_id") === id).drop("batch_id").collect())
      if (got != want(i)) run.fail("serve_bm25", s"batch $id pages differ from bm25Search")
    }

    val indexedDocs = seedDocs.count() + admitted
    val indexedVecs = seedVecIds.size + streamed.size
    bytesPerDoc = size(indexDirs)._1.toDouble / (indexedDocs + indexedVecs)
  }

  private def cosine(a: Seq[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < b.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override def extra: Map[String, Any] = Map(
    "index_build_s" -> buildS,
    "recall_at_10" -> recall,
    "index_bytes_per_doc" -> bytesPerDoc,
    "admit_ratio" -> admitRatio,
    "append_bytes" -> appends.map(_._1).toSeq,
    "append_files" -> appends.map(_._2).toSeq,
    "ann_result_rows" -> rowsPerResult.toSeq.sortBy(_._1).map(_._2))
}
