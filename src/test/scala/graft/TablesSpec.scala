package graft

import java.nio.file.Files

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The per-session schema memo behind `Tables`: a repeated open plans
  * with no Spark job, reads the same schema inference would, and never
  * serves a schema for files that have since been overwritten.
  */
class TablesSpec extends SparkSpec {

  test("a repeated table open launches no Spark job") {
    Tables(spark, sfDir).lineitem // first open in this session may infer
    assert(jobsDuring(Tables(spark, sfDir).lineitem)._2 == 0)
    // the memo is per session: a new session's first open infers again
    assert(jobsDuring(Tables(spark.newSession(), sfDir).lineitem)._2 >= 1)
  }

  test("a memoized open has the schema and rows inference gives") {
    val path = s"$sfDir/lineitem.parquet"
    Tables(spark, sfDir).lineitem
    val again = Tables(spark, sfDir).lineitem
    val inferred = spark.read.parquet(path)
    assert(again.schema == inferred.schema)
    assert(again.count() == inferred.count())
  }

  test("a many-file table reopens with no job and re-infers when a file is added") {
    val dir = Files.createTempDirectory("tables_files").toString
    val path = s"$dir/orders.parquet"
    spark.range(40).repartition(4).select(col("id").as("o_orderkey")).write.parquet(path)
    Tables(spark, dir).orders
    val (again, jobs) = jobsDuring(Tables(spark, dir).orders)
    assert(jobs == 0)
    assert(again.inputFiles.length == 4)
    spark.range(5).select(col("id").as("o_orderkey")).write.mode("append").parquet(path)
    assert(jobsDuring(Tables(spark, dir).orders)._2 >= 1)
    assert(Tables(spark, dir).orders.count() == 45)
  }

  test("overwriting a table at the same path re-infers its schema") {
    val dir = Files.createTempDirectory("tables_memo").toString
    val path = s"$dir/region.parquet"
    spark.range(3).select(col("id").as("r_regionkey"), lit("x").as("r_name"))
      .write.parquet(path)
    assert(Tables(spark, dir).region.columns.toSeq == Seq("r_regionkey", "r_name"))
    spark.range(3).select(col("id").as("r_regionkey"), lit("x").as("r_name"),
      lit("c").as("r_comment")).write.mode("overwrite").parquet(path)
    val reopened = Tables(spark, dir).region
    assert(reopened.columns.toSeq == Seq("r_regionkey", "r_name", "r_comment"))
    assert(reopened.filter(col("r_comment") === "c").count() == 3)
  }

  test("events ts is a TimestampType on the testdata and a Spark-written layout") {
    val events = Tables(spark, sfDir).events
    assert(events.schema("ts").dataType == TimestampType)
    val dir = Files.createTempDirectory("tables_events").toString
    events.write.parquet(s"$dir/events.parquet")
    val copy = Tables(spark, dir).events
    assert(copy.schema("ts").dataType == TimestampType)
    val minMax = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(min("ts"), max("ts"), count(lit(1))).head()
    assert(minMax(copy) == minMax(events))
  }
}
