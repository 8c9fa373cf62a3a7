package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JSONL harvest-snapshot source — the file form of the reference's
  * raw per-source API payloads (the harvest_incremental modules store
  * one JSON document per publication; as files that is one object per
  * line).
  *
  * Spark-first rules for 100 TB of JSONL:
  *  - ALWAYS pass an explicit schema. Schema inference reads the whole
  *    dataset once before the real job (a 2x scan), and a drifting
  *    inferred schema breaks downstream plans non-deterministically.
  *  - PERMISSIVE mode with a _corrupt_record column: a malformed line
  *    lands as data to quarantine, it never kills the harvest.
  *  - Corrupt rows are split out, not silently dropped — the caller
  *    gets (good, quarantine) and decides.
  */
object JsonSource {

  val CorruptCol = "_corrupt_record"

  /** Read JSONL with the given schema; returns (good rows projected to
    * the schema, quarantined raw lines, release handle).
    *
    * PERMISSIVE corrupt-record capture requires the parsed rows to be
    * materialized before filtering on the corrupt column, so the parse
    * is persisted — DISK_ONLY, not MEMORY: at corpus scale a memory
    * cache of the full parse would evict everything else. The caller
    * MUST invoke the returned release() once both sides are consumed
    * (written / counted), or the persisted copy lives for the session.
    */
  def loadWithQuarantine(spark: SparkSession, path: String, schema: StructType)
      : (DataFrame, DataFrame, () => Unit) = {
    val full = schema.add(CorruptCol, org.apache.spark.sql.types.StringType)
    val raw = spark.read
      .schema(full)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val good = raw.filter(col(CorruptCol).isNull).drop(CorruptCol)
    val bad = raw.filter(col(CorruptCol).isNotNull).select(col(CorruptCol).as("raw_line"))
    (good, bad, () => { raw.unpersist(); () })
  }

  /** ORC round-trip: the other columnar format a lakehouse neighbor
    * may demand; predicate pushdown and column pruning work as with
    * parquet.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
