package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so every entrypoint (Verify, Bench, tests)
  * runs with the same scale-oriented settings.
  *
  * Tuned for the driver's local[32] harness but the settings are the ones
  * you'd want on a real cluster too: AQE coalesces post-shuffle partitions
  * and re-plans skewed joins at runtime, so the static
  * `spark.sql.shuffle.partitions` only needs to be a sane upper bound
  * (cores locally; ~2-3x total cores on a cluster).
  */
object GraftSession {

  /** Entries in Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One pass of
    * all 371 queries compiles 4,838 distinct classes at sf 0.001
    * (OPTIMIZATION_r15.md, "Codegen cache"), and one q_pagerank run
    * alone about 80, so at the default every warm run recompiles its
    * code with Janino. About 2x the census leaves room for growth. The
    * cache holds compiled expression classes keyed on their generated
    * source, never data or plans. Static conf: Spark reads it once per
    * JVM, when the first session compiles code.
    */
  val CodegenCacheEntries = 10000

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Whole-stage codegen class names without the stage id: AQE numbers
      // stages in the order they finish, so with the id in the name the
      // same code under another number is a new source and a cache miss
      // (OPTIMIZATION_r15.md, "Stage ids out of class names").
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 64 MiB input splits: at 100 TB that is ~1.6M tasks, which a
      // 1000-executor cluster chews through; bigger splits risk memory.
      .config("spark.sql.files.maxPartitionBytes", (64L * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type,
      // so read as long and convert in sources.Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Session for local tools/tests: local[cpus] from SPARK_GRAFT_CPUS (default 4). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
