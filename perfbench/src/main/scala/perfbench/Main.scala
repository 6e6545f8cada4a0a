package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark run inside one JVM: build the session users get,
  * register the workload's tables, run one untimed warm-up pass, then
  * run whole passes in a closed loop (the next call starts when the
  * previous one returns) until the time budget is spent. Every call is
  * timed from the benchmark's side; with tracing on, half the passes
  * also count Spark's listener events, so the traced and untraced pass
  * times of the same run give the tracing overhead.
  *
  * Usage: Main <workload> <dataDir> <workDir> <seconds> <trace 0|1> <out.json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, seconds, trace, out) = args
    val run = new Run(workDir, trace == "1")
    val body: Workload = workload match {
      case "traffic_small" => new Queries(Queries.traffic, dataDir)
      case "corpus" => new Chain(new Queries(Queries.corpus, dataDir), new IndexLive(dataDir, workDir))
      case other => sys.error(s"unknown workload $other")
    }
    val record = try run.measure(body, seconds.toDouble)
    finally run.stop()
    Files.writeString(Paths.get(out), Json(record))
  }
}

/** A workload: tables to register once, then a pass of calls that is
  * repeated. `check` runs after the timed window, untimed, for checks
  * that need the whole run's outputs. */
trait Workload {
  def register(spark: SparkSession): Unit
  def pass(run: Run, warm: Boolean): Unit
  def check(run: Run): Unit = ()
  def extra: Map[String, Any] = Map.empty
}

/** Workloads run one after the other within each pass. */
final class Chain(parts: Workload*) extends Workload {
  def register(spark: SparkSession): Unit = parts.foreach(_.register(spark))
  def pass(run: Run, warm: Boolean): Unit = parts.foreach(_.pass(run, warm))
  override def check(run: Run): Unit = parts.foreach(_.check(run))
  override def extra: Map[String, Any] = parts.map(_.extra).reduce(_ ++ _)
}

/** The state of one run: the session, the per-call records of the
  * current pass, and the failures counted so far. */
final class Run(workDir: String, trace: Boolean) {
  private val n = Runtime.getRuntime.availableProcessors()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def now() = System.nanoTime() / 1e9
  private def loadavg() =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse("")

  private val loadStart = loadavg()
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val jvmToSessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  private val t0 = now()
  val spark: SparkSession = graft.GraftSession.create(s"local[$n]", n)
  private val sessionS = now() - t0

  private var calls = mutable.ArrayBuffer[Map[String, Any]]()
  private val failures = mutable.ArrayBuffer[String]()
  private var checkFailures = 0
  // Spark counters, registered for the whole of a traced run and
  // switched on for its traced passes
  private val tracer: Option[Layers] = if (trace) Some(new Layers) else None
  tracer.foreach { l =>
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    spark.streams.addListener(l.streaming)
  }
  private var layers: Option[Layers] = None

  /** Times one call: `build` returns the value the caller gets (for a
    * query, its DataFrame), `materialize` forces it; graft's tracked
    * intermediate caches are released after each call, as Bench and
    * Verify do. A throw counts as a failed call. In a traced pass the
    * call also records the Spark counters it moved. */
  def call[T, R](name: String, module: String, kind: String)(build: => T)(materialize: T => R): Option[R] = {
    val before = layers.map(counters)
    val a = now()
    var b = a
    var c = a
    val res = try {
      val v = build
      b = now()
      val r = materialize(v)
      c = now()
      Some(r)
    } catch {
      case e: Throwable =>
        c = now()
        failures += s"$name: ${e.toString.take(300)}"
        System.err.println(s"[perfbench] FAILED $name: $e")
        None
    }
    graft.Caches.release()
    val d = now()
    val moved = before.map { m0 =>
      counters(layers.get).map { case (k, v) => k -> (v - m0.getOrElse(k, 0.0)) }
    }
    calls += Map("name" -> name, "module" -> module, "kind" -> kind,
      "call_s" -> (b - a), "materialize_s" -> (c - b), "release_s" -> (d - c),
      "latency_s" -> (c - a), "ok" -> res.isDefined, "layers" -> moved)
    res
  }

  /** Records a wrong output: it marks the last call of `name` in the
    * current pass as failed, or, for a check made after the timed
    * window, counts as one more failed call. */
  def fail(name: String, why: String): Unit = {
    failures += s"$name: ${why.take(300)}"
    System.err.println(s"[perfbench] FAILED $name: ${why.take(300)}")
    val i = calls.lastIndexWhere(_("name") == name)
    if (i >= 0) calls(i) = calls(i).updated("ok", false)
    else checkFailures += 1
  }

  def dir(sub: String): String = {
    val p = Paths.get(workDir, sub)
    Files.createDirectories(p)
    p.toString
  }

  private def cpu() = os.getProcessCpuTime / 1e9

  def measure(w: Workload, seconds: Double): Map[String, Any] = {
    val r0 = now()
    w.register(spark)
    val registerS = now() - r0
    val w0 = now()
    w.pass(this, warm = true)
    val warmupS = now() - w0
    val warmCalls = calls.toSeq
    calls = mutable.ArrayBuffer()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val start = now()
    val cpuStart = cpu()
    var i = 0
    // traced runs alternate traced and untraced passes, traced first,
    // at least one of each; passes still get slightly faster after the
    // warm-up, so the overhead ratio errs high rather than low
    while (now() - start < seconds || (trace && i < 2) || i < 1) {
      val traced = trace && i % 2 == 0
      layers = tracer.filter(_ => traced)
      layers.foreach { l => l.reset(); l.on = true }
      val p0 = now()
      val c0 = cpu()
      w.pass(this, warm = false)
      val wall = now() - p0
      val cpuS = cpu() - c0
      val totals = layers.map(counters).getOrElse(Map.empty)
      layers.foreach(_.on = false)
      layers = None
      passes += Map("wall_s" -> wall, "cpu_s" -> cpuS, "traced" -> traced,
        "calls" -> calls.toSeq, "layers" -> totals)
      calls = mutable.ArrayBuffer()
      i += 1
    }
    val window = now() - start
    val windowCpu = cpu() - cpuStart
    w.check(this)
    Map(
      "setup" -> Map("total_s" -> setupS, "session_s" -> sessionS,
        "register_s" -> registerS, "warmup_s" -> warmupS,
        "jvm_to_session_s" -> jvmToSessionS),
      "warm_calls" -> warmCalls,
      "passes" -> passes,
      "failures" -> failures.toSeq,
      "check_failures" -> checkFailures,
      "peak_rss_mb" -> vmHwmMb(),
      "host" -> Map("loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
        "cpus" -> n, "window_s" -> window, "cpu_over_wall" -> windowCpu / window),
      "extra" -> w.extra)
  }

  private def counters(l: Layers): Map[String, Double] = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    l.snapshot()
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def stop(): Unit = spark.stop()
}

/** Order-independent digest of a result: each row rendered to text,
  * the lines sorted, then SHA-256. Equal digests across passes mean the
  * same rows with the same values. */
object Digest {
  private def render(v: Any): String = v match {
    case null => "␀"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def apply(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Inventory queries from `SparkEntry.queries`, one call each per pass.
  * The warm-up pass writes every oracle-covered result to parquet for
  * the DuckDB comparison and records each result's digest; every timed
  * pass must reproduce those digests, and rows-only results must be
  * non-empty. */
final class Queries(names: Seq[String], dataDir: String) extends Workload {
  private val expected = mutable.Map[String, String]()
  private val rows = mutable.Map[String, Long]()

  def register(spark: SparkSession): Unit = {
    val missing = names.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"not in SparkEntry.queries: $missing")
    graft.Tables.names.foreach { t =>
      (if (t == "events") graft.Tables.events(spark, dataDir)
       else graft.Tables.load(spark, dataDir, t)).schema
    }
  }

  def pass(run: Run, warm: Boolean): Unit = names.foreach { name =>
    val module = Queries.module(name)
    val q = graft.SparkEntry.queries(name)
    run.call(name, module, "query")(q(run.spark, dataDir))(df => (df, df.collect()))
      .foreach { case (df, result) =>
        val digest = Digest(result)
        if (warm) {
          expected(name) = digest
          rows(name) = result.length.toLong
          graft.SparkEntry.oracleSql.get(name) match {
            case Some(_) =>
              run.spark.createDataFrame(java.util.Arrays.asList(result: _*), df.schema)
                .coalesce(1).write.mode("overwrite").parquet(run.dir(s"out/$name"))
            case None =>
              if (result.isEmpty) run.fail(name, "rows-only query returned no rows")
          }
        } else if (!expected.get(name).contains(digest))
          run.fail(name, s"result digest $digest differs from the warm-up pass")
      }
  }

  override def check(run: Run): Unit = {
    val sql = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(Paths.get(run.dir("out"), "oracle_sql.json"), Json(sql))
  }

  override def extra: Map[String, Any] = Map("rows" -> rows.toMap)
}

object Queries {
  /** The TrafficTeach checkpoint analyses, all DuckDB-oracle covered. */
  val traffic: Seq[String] = Seq(
    "q01_flow_agg", "q02_topn_flow", "q03_speed_buckets", "q04_group_topn",
    "q05_star_join_flow", "q06_group_concat", "q07_distinct_count",
    "q08_car_track", "q09_funnel_step", "q10_collision", "q11_sessionize",
    "q14_stratified_sample", "q20_time_window", "q24_monitor_health",
    "q25_global_stats", "q34_session_window")

  /** The LLM-data operators: dedup, ANN, text and multimodal. */
  val corpus: Seq[String] = Seq(
    "d03_minhash_lsh", "d19_containment_prefix", "d24_dedup_sweep",
    "a04_ivf_knn", "a07_knn_join", "t28_bm25_search", "m07_cdc_dedup")

  def module(name: String): String = name.head match {
    case 'q' => "operators"
    case 'd' => "dedup"
    case 'a' => "ann"
    case 't' => "text"
    case 'm' => "multimodal"
    case _ => "other"
  }
}
