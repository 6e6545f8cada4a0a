package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory for the graft engine.
  *
  * Settings chosen for the 100 TB posture: AQE on (runtime coalescing +
  * skew-join splitting), broadcast threshold high enough that every dim
  * table in the star schema broadcasts, shuffle partitions sized to the
  * local core count (on a real cluster this would be 2-3x total cores
  * and AQE coalesces down).
  */
object GraftSession {
  def create(master: String = "local[*]",
             shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-coalesce partitions ABOVE cached plans too: iterative
      // operators (d07 label propagation, a05 k-means) keep small cached
      // state, and without this every post-cache stage schedules full-
      // width task sets on near-empty partitions (measured 2.4x per-
      // iteration cost in d07)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (32 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count of the harness mains (Verify, Bench, Profile, PlanDump
    * and the probes): SPARK_GRAFT_CPUS, default every core. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session every harness main runs under: `create` on
    * `local[cpus]` with `cpus` shuffle partitions. */
  def harness(): SparkSession = create(s"local[$cpus]", cpus)
}
