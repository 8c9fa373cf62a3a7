package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Output side of the engine — the reference "publishes" denormalized
  * tables and CSV downloads (publish/publication.py:382-456); at Spark
  * scale the equivalents are partitioned parquet datasets, bucketed
  * tables, and compressed CSV exports.
  */
object Sinks {

  /** Hive-style partitioned parquet: prunes at read time on the
    * partition columns — the layout you want for year/school-sliced
    * report consumption at 100 TB.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted managed table: co-locates join keys so repeated
    * joins on `bucketCol` skip the shuffle entirely.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Gzipped CSV download export (one directory per table, like the
    * reference's zip-of-csv downloads).
    */
  def writeCsvDownload(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("compression", "gzip")
      .csv(path)

  /** Boolean-formatted download projection (reference:
    * publish/publication.py:398-421 `_copy_stmt`): every boolean column
    * becomes the literal string 'true'/'false', and NULL booleans stay
    * NULL — so the CSV cell is empty, NOT 'false'. Non-boolean columns
    * pass through untouched. One codegen projection, no shuffle.
    */
  def boolFormatted(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, when, lit}
    val cols = df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.BooleanType)
        when(col(f.name) === lit(true), "true")
          .when(col(f.name) === lit(false), "false")
          .otherwise(lit(null: String)).as(f.name)
      else col(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** Zipped CSV download per table (reference:
    * publish/publication.py:380-456 `generate_download_files` +
    * `_zip_files`): boolean-formatted CSV with a single header row,
    * bundled into `dir/<table>.zip` (DEFLATE) together with an
    * optional data-dictionary entry, staged via a `-temp.zip` that is
    * renamed only when complete; the intermediate CSV parts are
    * removed. The table data is written DISTRIBUTED (headerless CSV
    * parts), then the parts are streamed into one zip entry behind a
    * synthesized header line — only the zip assembly is single-pass
    * sequential IO, which is the floor for a single-archive download.
    */
  def writeDownloadZip(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      dir: String, table: String,
      dictionary: Option[(String, Array[Byte])] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(dir))
    val partsDir = new Path(dir, s"$table-csv-parts")
    val formatted = boolFormatted(df)
    formatted.write.mode(SaveMode.Overwrite).option("header", "false")
      .option("emptyValue", "").csv(partsDir.toString)
    val tempZip = new Path(dir, s"$table-temp.zip")
    val zos = new java.util.zip.ZipOutputStream(fs.create(tempZip, true))
    try {
      dictionary.foreach { case (name, bytes) =>
        zos.putNextEntry(new java.util.zip.ZipEntry(name))
        zos.write(bytes)
        zos.closeEntry()
      }
      zos.putNextEntry(new java.util.zip.ZipEntry(s"$table.csv"))
      zos.write((formatted.columns.mkString(",") + "\n").getBytes("UTF-8"))
      val parts = fs.listStatus(partsDir)
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
      val buf = new Array[Byte](1 << 16)
      parts.foreach { p =>
        val in = fs.open(p.getPath)
        try {
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) zos.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
      }
      zos.closeEntry()
    } finally zos.close()
    val finalZip = new Path(dir, s"$table.zip")
    if (fs.exists(finalZip) && !fs.delete(finalZip, false))
      throw new java.io.IOException(s"could not replace $finalZip")
    if (!fs.rename(tempZip, finalZip))
      throw new java.io.IOException(s"could not rename $tempZip to $finalZip")
    fs.delete(partsDir, true)
    ()
  }

  /** Small-file compaction: rewrite a parquet dataset into
    * ceil(rows / rowsPerFile) files. Incremental appends at 100 TB
    * accumulate thousands of KB-sized files per partition; periodic
    * compaction keeps scan task counts sane.
    *
    * Hive-partitioned layouts are preserved: the `col=value`
    * directory chain is detected from the layout, partition-value
    * type inference is disabled for the rewrite (so 'key=007' or a
    * date-like value round-trips byte-identically as a string
    * instead of being silently re-typed), and the rewrite uses
    * partitionBy on the same columns — partition pruning survives
    * compaction.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String, rowsPerFile: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partCols = partitionColumns(fs, target)
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val inferPrev = spark.conf.get(inferKey)
    if (partCols.nonEmpty) spark.conf.set(inferKey, "false")
    try {
      val df = spark.read.parquet(path)
      val oldCount = df.count()
      val files = math.max(1L, math.ceil(oldCount.toDouble / rowsPerFile).toLong).toInt
      val tmp = new Path(path + "__compacting")
      val writer =
        if (partCols.isEmpty) df.repartition(files).write
        else
          // hash on the partition columns so each partition value is
          // written by one task -> one compacted file per value
          // (capped at `files` tasks), not files x values fragments.
          df.repartition(files, partCols.map(org.apache.spark.sql.functions.col): _*)
            .write.partitionBy(partCols: _*)
      writer.mode(SaveMode.Overwrite).parquet(tmp.toString)
      swapVerified(spark, fs, tmp, target, oldCount)
    } finally spark.conf.set(inferKey, inferPrev)
  }

  /** Partition columns of a Hive-layout dataset, outermost first —
    * read off the first `col=value` directory chain.
    */
  private def partitionColumns(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    val acc = scala.collection.mutable.ListBuffer.empty[String]
    var cur = root
    var descend = true
    while (descend) {
      descend = false
      val kids = fs.listStatus(cur).filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (kids.nonEmpty) {
        acc += kids.head.getPath.getName.split("=", 2)(0)
        cur = kids.head.getPath
        descend = true
      }
    }
    acc.toList
  }

  private def swapVerified(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, tmp: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path, oldCount: Long): Unit = {
    // Verify the rewrite before the destructive swap, then use the
    // filesystem abstraction (recursive delete + rename, both checked)
    // so partitioned layouts and non-local filesystems both work.
    val newCount = spark.read.parquet(tmp.toString).count()
    if (newCount != oldCount) {
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"compact aborted: rewrite of $target has $newCount rows, expected $oldCount")
    }
    if (!fs.delete(target, true))
      throw new java.io.IOException(s"compact failed: could not delete $target")
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"compact failed: could not rename $tmp to $target")
  }

  /** Training-shard export: globally range-partitioned on the sort
    * key, sorted within each shard, with a record cap per file — the
    * layout a training loader wants (shard N's keys all precede shard
    * N+1's, so a sequential read of shard files is a global key scan,
    * and no shard file exceeds the loader's memory budget).
    * repartitionByRange samples the key distribution, so skewed keys
    * still yield balanced shards — a static `hash(key) % shards`
    * cannot promise either property.
    */
  def writeRangeSharded(df: DataFrame, path: String, sortCol: String,
                        shards: Int, maxRecordsPerFile: Long): Unit =
    df.repartitionByRange(shards, org.apache.spark.sql.functions.col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  /** Z-order clustering write: sort by the bit-interleaved value of
    * two integer columns so range predicates on EITHER column touch
    * few files (parquet min/max skipping). The z-value is
    * `plans.ZOrder2` over the low 31 bits of each key (cast to long):
    * 31 (not 32) bits per column keeps the result clear of the long
    * sign bit, so z-values sort monotonically for keys in [0, 2^31);
    * larger keys wrap into the same range (clustering degrades but
    * ordering stays non-negative and consistent).
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String, files: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val z = graft.plans.ZOrder2(col(colA).cast("long"), col(colB).cast("long"), 31)
    df.repartitionByRange(files, z)
      .sortWithinPartitions(z)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
