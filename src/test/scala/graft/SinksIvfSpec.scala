package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Ivf, VectorOps}
import graft.sources.Sinks

class SinksIvfSpec extends SparkSpec {

  test("writePartitioned produces hive-style dirs and prunes on read") {
    val out = Files.createTempDirectory("sink").toString
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("status", col("o_orderstatus"))
    Sinks.writePartitioned(df, out, Seq("status"))
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("status=")))
    val back = spark.read.parquet(out).filter(col("status") === "F")
    assert(back.count() == df.filter(col("o_orderstatus") === "F").count())
    // partition pruning: the file listing for the filtered read only
    // touches the status=F directory
    val scan = back.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("status"))
  }

  test("writeBucketed creates a bucketed table joinable without shuffle") {
    val s2 = spark
    s2.sql("DROP TABLE IF EXISTS cust_bucketed")
    val leftover = new java.io.File("spark-warehouse/cust_bucketed")
    if (leftover.exists()) {
      leftover.listFiles().foreach(_.delete()); leftover.delete()
    }
    val df = s2.read.parquet(s"$sfDir/customer.parquet").select("c_custkey", "c_name")
    Sinks.writeBucketed(df, "cust_bucketed", "c_custkey", 4)
    val t = s2.table("cust_bucketed")
    assert(t.count() == df.count())
    // force a sort-merge join so the bucket layout (not a broadcast)
    // is what avoids the shuffle
    val joined = t.as("a").hint("merge").join(t.as("b"), "c_custkey")
    val nShuffles = joined.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(nShuffles == 0, s"bucketed self-join should not shuffle, saw $nShuffles exchanges")
  }

  test("writeCsvDownload emits gzipped csv with header") {
    val out = Files.createTempDirectory("csv").toString + "/dl"
    Sinks.writeCsvDownload(spark.read.parquet(s"$sfDir/nation.parquet"), out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv.gz"))
    assert(files.nonEmpty)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 25)
  }

  test("writeDownloadZip: bool formatting, single header, dictionary, temp cleanup") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dlzip").toString
    val df = Seq((1L, Option(true)), (2L, Option(false)), (3L, Option.empty[Boolean]))
      .toDF("id", "flag")
    Sinks.writeDownloadZip(spark, df, dir, "pubs",
      Some(("pubs_data_dictionary.csv", "column,description\n".getBytes("UTF-8"))))
    val zf = new java.util.zip.ZipFile(s"$dir/pubs.zip")
    try {
      import scala.jdk.CollectionConverters._
      val names = zf.entries().asScala.map(_.getName).toSet
      assert(names == Set("pubs_data_dictionary.csv", "pubs.csv"), names.toString)
      val csv = scala.io.Source.fromInputStream(
        zf.getInputStream(zf.getEntry("pubs.csv")), "UTF-8").getLines().toVector
      assert(csv.head == "id,flag")
      // reference _copy_stmt semantics: true/false lowercase literals,
      // NULL stays an EMPTY cell — not 'false'
      assert(csv.tail.toSet == Set("1,true", "2,false", "3,"), csv.toString)
    } finally zf.close()
    // staging artifacts removed, final zip renamed into place (hidden
    // .crc files are Hadoop local-FS checksum artifacts, not staging)
    val left = new java.io.File(dir).listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(left == Set("pubs.zip"), left.toString)
  }

  test("compact reduces file count and preserves rows") {
    val out = Files.createTempDirectory("cmp").toString + "/t"
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
    df.repartition(24).write.parquet(out)
    val before = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    Sinks.compact(spark, out, rowsPerFile = 1000)
    val after = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after < before, s"$after !< $before")
    assert(spark.read.parquet(out).count() == df.count())
  }

  test("compact preserves a partitioned layout, values and types") {
    val out = Files.createTempDirectory("cmpp").toString + "/t"
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
      // zero-padded NUMERIC-LOOKING partition value: a compaction that
      // re-reads with partition type inference would re-type it as a
      // number and rewrite 'pk=000' as 'pk=0' (value + pruning drift)
      .withColumn("pk", concat(lit("00"), (col("o_orderkey") % 3).cast("string")))
    df.write.partitionBy("pk").parquet(out)
    Sinks.compact(spark, out, rowsPerFile = 1000)
    // partition directories survive, byte-identical values included
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.sameElements(Array("pk=000", "pk=001", "pk=002")), dirs.mkString(","))
    assert(spark.read.parquet(out).count() == df.count())
    // the staging dir must not be left behind
    assert(!new java.io.File(out + "__compacting").exists())
  }

  test("zValue interleaves bits; z-ordered write clusters both columns") {
    import spark.implicits._
    // the z-value writeZOrdered sorts by: ZOrder2 over the keys cast to
    // long, 31 bits each
    def zValue(a: String, b: String) = graft.plans.ZOrder2(col(a).cast("long"), col(b).cast("long"), 31)
    val z = Seq((1L, 0L), (0L, 1L), (3L, 3L)).toDF("a", "b")
      .select(zValue("a", "b").as("z")).collect().map(_.getLong(0))
    assert(z(0) == 1L)  // a bit 0 -> position 0
    assert(z(1) == 2L)  // b bit 0 -> position 1
    assert(z(2) == 15L) // both low 2 bits set -> 0b1111
    // full 31-bit keys never touch the long sign bit -> ordering stays
    // monotone (the 32-bit interleave put b's bit 31 at position 63)
    val max31 = (1L << 31) - 1
    val big = Seq((0L, max31), (max31, max31)).toDF("a", "b")
      .select(zValue("a", "b").as("z")).collect().map(_.getLong(0))
    assert(big.forall(_ >= 0L))
    assert(big(1) == (1L << 62) - 1)
    // one output file holds the rows in ascending z order
    val small = Files.createTempDirectory("zord").toString + "/s"
    Sinks.writeZOrdered(Seq((max31, max31), (3L, 3L), (0L, max31), (0L, 1L), (1L, 0L)).toDF("a", "b"),
      small, "a", "b", files = 1)
    assert(spark.read.parquet(small).as[(Long, Long)].collect().toSeq ==
      Seq((1L, 0L), (0L, 1L), (3L, 3L), (0L, max31), (max31, max31)))
    val out = Files.createTempDirectory("zord").toString + "/t"
    Sinks.writeZOrdered(
      spark.read.parquet(s"$sfDir/lineitem.parquet").select("l_partkey", "l_suppkey", "l_quantity"),
      out, "l_partkey", "l_suppkey", files = 4)
    assert(spark.read.parquet(out).count() == 6000)
  }

  test("writeRangeSharded: disjoint ascending key ranges, capped files, global order") {
    import spark.implicits._
    val out = Files.createTempDirectory("rshard").toString + "/t"
    Sinks.writeRangeSharded(
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "lang"),
      out, "doc_id", shards = 4, maxRecordsPerFile = 50)
    val back = spark.read.parquet(out)
    assert(back.count() == 500)
    // file cap respected
    val perFile = back.groupBy(input_file_name()).count().select("count").as[Long].collect()
    assert(perFile.forall(_ <= 50), perFile.toSeq.toString)
    // per-file key ranges are disjoint: files sorted by their min key
    // never overlap the previous file's max (global range layout +
    // within-file order means a sequential read is a global key scan)
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .orderBy("lo").select("lo", "hi").as[(Long, Long)].collect()
    assert(ranges.sliding(2).forall { case Array((_, h1), (l2, _)) => h1 < l2; case _ => true })
  }

  test("multi-probe LSH recall >= single-bucket recall") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val probes = e.filter(col("id") % 50 === 0)
    val exact = VectorOps.bruteForceTopK(probes, e, 3)
      .select("probe_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(mp: Int): Double = {
      val got = VectorOps.lshTopK(probes, e, 3, planes = 6, dim = 64, multiProbe = mp)
        .select("probe_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val r0 = recall(0)
    val r3 = recall(3)
    assert(r3 >= r0, s"multi-probe recall $r3 < single $r0")
  }

  test("IVF topK recall vs brute force is high on real embeddings") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val probes = e.filter(col("id") % 50 === 0)
    val exact = VectorOps.bruteForceTopK(probes, e, 3)
      .select("probe_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ivf.topK(probes, e, k = 3, nlist = 8, nprobe = 4)
      .select("probe_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("kmeansCentroids fit spends no full-corpus count pass") {
    // The fit is collect-per-iteration plus one seed collect; a
    // count() pre-pass (to size the sample fraction) would add a whole
    // extra corpus scan as its own job. Pin the job budget: seed
    // collect + iters iteration collects, with slack for AQE stage
    // jobs — a reintroduced count() pushes past it.
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val iters = 2
    Ivf.kmeansCentroids(e, k = 4, iters = iters) // warm: file listing etc.
    val (cents, fitJobs) = jobsDuring(Ivf.kmeansCentroids(e, k = 4, iters = iters))
    assert(cents.length == 4)
    val budget = 1 + iters * 3 // seed collect + ≤3 AQE stage jobs per iteration
    assert(fitJobs <= budget,
      s"fit ran $fitJobs jobs (> $budget) — did a count() pre-pass sneak back in?")
  }
}
