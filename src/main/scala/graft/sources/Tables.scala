package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Typed access to the engine's input tables (one parquet per table).
  *
  * Mirrors the reference's data model (see SURVEY.md §3): the rialto
  * pipeline reads per-source harvested records plus an authors dimension
  * (/root/reference/rialto_airflow/harvest_incremental/authors.py:19);
  * here every input is a columnar parquet scan so Catalyst can push
  * filters and prune columns all the way into the file reader.
  *
  * Every open passes the table's schema from the session memo in
  * `object Tables`, so only the first open of a table in a session runs
  * Spark's footer-reading inference job; later opens plan with no job.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    Tables.open(spark, s"$dir/$name.parquet")

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  /** events.ts is TIMESTAMP(NANOS) in the driver testdata, surfaced as
    * long nanos (see GraftSession nanosAsLong) — converted here to a
    * Spark timestamp (microsecond precision) so downstream time logic
    * is uniform. Scaled copies (tools.ScaleUp) already store a true
    * timestamp; dispatch on the read type so both layouts work.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val df = t("events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: double /1000 would round sub-microsecond bits
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // timestamp[us] without timezone reads as TIMESTAMP_NTZ, which
        // time arithmetic (unix_millis, windows) rejects; the session
        // is pinned to UTC, so the cast re-tags the same wall-clock as
        // an instant without shifting it — identical to what the nanos
        // layout produced.
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

/** Per-session parquet schema memo, the metastore role for [[Tables]].
  *
  * `spark.read.parquet(path)` with no schema launches a footer-reading
  * job (`mergeSchemasInParallel`) on every call, even for one file; the
  * pipeline re-opens the same few tables in every step, so that job was
  * a fixed per-open cost. The memo holds only the inferred `StructType`
  * — no DataFrame, file index or data — and a hit requires the same
  * path, the same leaf files (name, length, modification time: an
  * overwrite re-infers) and the same values of the session confs that
  * change what inference returns. Sessions are weak keys, so a memo
  * goes away with its session.
  */
object Tables {
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private type FileId = (String, Long, Long)
  /** (path, schema conf values) -> (leaf files at inference, schema). */
  private type Memo = ConcurrentHashMap[(String, Seq[Option[String]]), (Seq[FileId], StructType)]

  private val memos =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, Memo]())

  /** `spark.read.parquet(path)`, with schema inference run at most once
    * per session and file identity. The fingerprint of a hit is taken
    * from the opened frame's own file listing, so an open lists the
    * table once and the memoized schema is only used for exactly the
    * files it was inferred from; any difference re-infers.
    */
  private def open(spark: SparkSession, path: String): DataFrame = {
    val memo = memos.computeIfAbsent(spark, _ => new Memo())
    val key = (path, schemaConfs.map(spark.conf.getOption))
    val hit = Option(memo.get(key)).flatMap { case (seen, schema) =>
      val df = spark.read.schema(schema).parquet(path)
      if (scannedFiles(df).contains(seen)) Some(df) else None
    }
    hit.getOrElse {
      // inference reads the footers of this frame's own listing; a
      // missing or empty path throws Spark's own error and memoizes
      // nothing, and no lock is held while the job runs
      val df = spark.read.parquet(path)
      scannedFiles(df).foreach(files => memo.put(key, (files, df.schema)))
      df
    }
  }

  /** The leaf files `df`'s parquet relation scans, from the listing
    * Spark made when the frame was opened; None for any other plan.
    */
  private def scannedFiles(df: DataFrame): Option[Seq[FileId]] =
    df.queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case index: PartitioningAwareFileIndex =>
        index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
      }
}
