package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.{GraftSession, SparkEntry}
import graft.sources.Sinks

/** Pipeline-pass benchmark: runs one workload's fixed query set as
  * complete passes (build, plan, execute, sink for every query, caches
  * cleared before each one) from one client in a closed loop.
  *
  * A run is: the session set-up, one cold pass (the first pass of the
  * JVM), then the timed warm passes; during the first warm pass each
  * query's output is also dumped, untimed, for the oracle check. With
  * `--trace 1` the warm passes alternate untraced and traced; traced
  * passes split every query at the module boundaries (sources /
  * operators / plans / exec) and write one layer record per query.
  *
  * Usage: PipeBench --workload W --seed N --seconds S --trace 0|1
  *          --data <tables dir> --work <output dir>
  * Everything the run measures lands in `<work>/result.json`.
  */
object PipeBench {

  final case class Workload(queries: Seq[String], partitionBy: Map[String, Seq[String]])

  private val rialto = Seq(
    "q_harvest_merge", "q_upsert_merge", "q_dedupe_null_doi", "q_dedupe_merge_assoc",
    "q_dedupe_keep_newest", "q_orphan_removal", "q_normalize_ids", "q_type_normalize",
    "q_distill_fields", "q_distill_abstract", "q_distill_author_names",
    "q_distill_author_orcids", "q_citation_distill", "q_apc_lookup", "q_journal_lookup",
    "q_issn_clean", "q_funder_link", "q_federal_match", "q_distill_authored",
    "q_pipeline_full", "q_report_publications", "q_report_by_author", "q_report_by_dept",
    "q_report_by_group", "q_orcid_stats")

  /** The four publish-step report tables and their partition columns. */
  private val reportSinks = Map(
    "q_report_publications" -> Seq("pub_year"),
    "q_report_by_author" -> Seq("pub_year"),
    "q_report_by_dept" -> Seq("dept"),
    "q_report_by_group" -> Seq("school"))

  /** Iterative operators whose query functions run eager jobs while they
    * build the DataFrame: five of the fourteen such graft queries, which is
    * what fits the run-time budget (see pipebench/README.md).
    */
  private val graph = Seq("q_pagerank", "q_ppr", "q_communities", "q_bfs_levels", "q_fuzzy_dedup")

  /** The input scale is the caller's choice (the data directory). */
  val workloads: Map[String, Workload] = Map(
    "rialto_small" -> Workload(rialto, reportSinks),
    "graph_iter" -> Workload(graph, Map.empty))

  /** One timed warm pass per this many seconds of `--seconds`. */
  private val SecondsPerWarmPass = 30
  /** Layer times must add up to the traced pass wall within this share. */
  private val LayerSumTolerance = 0.05

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String)

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("data"), kv("work"))
  }

  /** One query of one pass: walls in ns, phase boundaries in epoch ms. */
  final case class QueryRun(query: String, pass: Int, startMs: Long, buildNs: Long,
      writeNs: Long, dumpNs: Long, error: Option[Throwable], layer: Option[Layer]) {
    def wallS: Double = (buildNs + writeNs) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = math.min(Runtime.getRuntime.availableProcessors, 4)
    val session = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    val sc = session.sparkContext
    sc.setLogLevel("WARN")
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1e3
    val meter = new Meter
    sc.addSparkListener(meter)
    val tap = new PlanTap
    def drainBus(): Unit = org.apache.spark.graftbridge.ListenerBusDrain.drain(sc)

    val oracles = SparkEntry.oracleSql
    val fns = SparkEntry.queries
    val work = Paths.get(a.work)
    val dumpDir = work.resolve("dump")
    Files.createDirectories(dumpDir)
    Files.writeString(dumpDir.resolve("oracle_sql.json"),
      Json(wl.queries.flatMap(q => oracles.get(q).map(q -> _)).toMap))

    val hygieneViolations = ArrayBuffer.empty[String]
    /** Clears every cache, then asserts that nothing stays persisted. */
    def hygiene(where: String): Unit = {
      session.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val persisted = sc.getPersistentRDDs.size
      val stored = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      if (persisted > 0 || stored > 0 || !session.sharedState.cacheManager.isEmpty)
        hygieneViolations += s"$where: $persisted persisted RDDs, $stored cached bytes"
    }

    def sink(q: String, df: DataFrame, sinkDir: String): Unit = wl.partitionBy.get(q) match {
      case Some(cols) => Sinks.writePartitioned(df, s"$sinkDir/$q", cols)
      case None => df.write.mode("overwrite").format("noop").save()
    }

    def runQuery(pass: Int, q: String, sinkDir: String, traced: Boolean,
        dump: Boolean): QueryRun = {
      hygiene(s"pass $pass before $q")
      val tag = s"$pass|$q|"
      var (buildNs, writeNs, dumpNs) = (0L, 0L, 0L)
      val startMs = System.currentTimeMillis
      try {
        sc.setLocalProperty(Meter.TagKey, tag + "build")
        val t0 = System.nanoTime
        val df = fns(q)(session, a.data)
        val t1 = System.nanoTime
        val t1Ms = System.currentTimeMillis
        sc.setLocalProperty(Meter.TagKey, tag + "exec")
        sink(q, df, sinkDir)
        val t2 = System.nanoTime
        val t2Ms = System.currentTimeMillis
        buildNs = t1 - t0
        writeNs = t2 - t1
        val layer = if (!traced) None else {
          drainBus()
          Some(Layer.of(meter, tap.drain(), tag, df, buildNs, writeNs, t1Ms, t2Ms,
            fileSink = wl.partitionBy.contains(q)))
        }
        if (dump) {
          sc.setLocalProperty(Meter.TagKey, tag + "dump")
          val d0 = System.nanoTime
          df.write.mode("overwrite").parquet(dumpDir.resolve(q).toString)
          dumpNs = System.nanoTime - d0
        }
        QueryRun(q, pass, startMs, buildNs, writeNs, dumpNs, None, layer)
      } catch {
        case e: Throwable =>
          if (traced) { drainBus(); tap.drain() }
          QueryRun(q, pass, startMs, buildNs, writeNs, dumpNs, Some(e),
            if (traced) Some(Layer.failed) else None)
      } finally sc.setLocalProperty(Meter.TagKey, null)
    }

    final case class Pass(index: Int, traced: Boolean, startMs: Long, wallS: Double,
        runs: Seq[QueryRun], cpuS: Double, jobs: Long)

    val sinkRows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    /** `check`: also dump every output and read the reports back, untimed. */
    def runPass(index: Int, traced: Boolean, check: Boolean): Pass = {
      val order = new Random(a.seed * 1000L + index).shuffle(wl.queries)
      val sinkDir = work.resolve(s"sink/pass-$index")
      Files.createDirectories(sinkDir)
      if (traced) session.listenerManager.register(tap)
      val startMs = System.currentTimeMillis
      val p0 = System.nanoTime
      val runs = order.map(q => runQuery(index, q, sinkDir.toString, traced, dump = check))
      val wall = (System.nanoTime - p0 - runs.map(_.dumpNs).sum) / 1e9
      if (traced) session.listenerManager.unregister(tap)
      drainBus()
      // untimed: read the published reports back once, then drop the sink
      if (check) for (q <- wl.queries if wl.partitionBy.contains(q)) {
        sc.setLocalProperty(Meter.TagKey, s"$index|$q|readback")
        sinkRows(q) =
          try session.read.parquet(sinkDir.resolve(q).toString).count() catch { case _: Throwable => -1L }
        sc.setLocalProperty(Meter.TagKey, null)
      }
      deleteTree(sinkDir)
      val timed = Seq("open", "build", "exec").flatMap(ph => wl.queries.map(q => s"$index|$q|$ph"))
        .map(meter.get).foldLeft(new Meter.Counters)(_ + _)
      Pass(index, traced, startMs, wall, runs, timed.cpuNs / 1e9, timed.jobs)
    }

    val cold = runPass(0, traced = false, check = false)
    // The oracle dumps ride on the first warm pass, where the JIT is warm
    // enough that they cost a fraction of what they cost in the cold pass.
    // Traced runs interleave untraced, traced, untraced, ... so that the
    // overhead compares passes at the same point of the JVM warm-up.
    val nWarm = math.max(if (a.trace) 3 else 1, a.seconds / SecondsPerWarmPass)
    val warm = (1 to nWarm).map(i =>
      runPass(i, traced = a.trace && i % 2 == 0, check = i == 1))
    val untraced = warm.filterNot(_.traced)
    val traced = warm.filter(_.traced)

    val all = cold +: warm
    val failures = all.flatMap(_.runs).collect { case QueryRun(q, p, _, _, _, _, Some(e), _) =>
      Map("pass" -> p, "query" -> q, "error_class" -> e.getClass.getName,
        "error_message" -> String.valueOf(e.getMessage).take(2000))
    }
    val queryWalls = untraced.flatMap(_.runs).filter(_.error.isEmpty)
      .map(_.wallS)
    val e2e = Map(
      "pass_s" -> median(untraced.map(_.wallS)),
      "cold_pass_s" -> cold.wallS,
      "query_p50_s" -> quantile(queryWalls, 0.5),
      "query_p90_s" -> quantile(queryWalls, 0.9),
      "cpu_s" -> median(untraced.map(_.cpuS)),
      "jobs" -> median(untraced.map(_.jobs.toDouble)),
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb())

    val layerRows = traced.flatMap(p => p.runs.flatMap(r => r.layer.map(l =>
      l.record ++ Map("workload" -> a.workload, "pass" -> p.index, "query" -> r.query,
        "wall_s" -> r.wallS) ++
        r.error.fold(Map.empty[String, Any])(e => Map(
          "error_class" -> e.getClass.getName,
          "error_message" -> String.valueOf(e.getMessage).take(2000)))))).toSeq
    val perPassLayers = traced.map(p => Layer.perPass(p.runs.flatMap(_.layer), p.wallS))
    val layers: Map[String, Double] =
      if (perPassLayers.isEmpty) Map.empty
      else perPassLayers.head.keys.map(k => k -> median(perPassLayers.map(_(k)))).toMap ++
        Map("trace.pass_s" -> median(traced.map(_.wallS)),
          "trace.overhead_s" -> (mean(traced.map(_.wallS)) - mean(untraced.map(_.wallS))))
    val layerSumOk = perPassLayers.forall(m =>
      math.abs(m("trace.unattributed_s")) <= LayerSumTolerance * m("trace.layer_sum_s").max(1e-9))

    if (layerRows.nonEmpty)
      Files.write(work.resolve("layers.jsonl"),
        layerRows.map(r => Json(r)).mkString("", "\n", "\n").getBytes("UTF-8"))

    // spans: run -> pass -> query -> {open, build, plan, execute, sink}
    val spans =
      Seq(Map("span" -> "run", "start_ms" -> jvmStartMs,
        "dur_s" -> (System.currentTimeMillis - jvmStartMs) / 1e3)) ++
      all.flatMap { p =>
        Map("span" -> "pass", "pass" -> p.index, "traced" -> p.traced, "start_ms" -> p.startMs,
          "dur_s" -> p.wallS) +:
        p.runs.flatMap { r =>
          val q = Map("pass" -> p.index, "query" -> r.query)
          (q ++ Map("span" -> "query", "start_ms" -> r.startMs, "dur_s" -> r.wallS)) +:
            r.layer.toSeq.flatMap(l => Seq("open" -> l.openS, "build" -> l.buildS,
              "plan" -> l.planS, "execute" -> l.execS, "sink" -> l.sinkS)
              .map { case (n, d) => q ++ Map("span" -> n, "dur_s" -> d) })
        }
      }
    Files.write(work.resolve("spans.jsonl"),
      spans.map(s => Json(s)).mkString("", "\n", "\n").getBytes("UTF-8"))

    val result = Map(
      "workload" -> a.workload, "workload_queries" -> wl.queries, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace, "cpus" -> cpus, "java_version" -> System.getProperty("java.version"),
      "spark_version" -> session.version,
      "cold_pass_s" -> cold.wallS, "dump_s" -> warm.head.runs.map(_.dumpNs).sum / 1e9,
      "warm_passes" -> warm.map(p => Map("pass" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "jobs" -> p.jobs)),
      "metrics" -> e2e, "layers" -> layers,
      "layer_sum_tolerance" -> LayerSumTolerance, "layer_sum_ok" -> layerSumOk,
      "attempted" -> all.map(_.runs.size).sum, "query_failures" -> failures,
      "hygiene_violations" -> hygieneViolations.toSeq, "sink_rows" -> sinkRows.toMap)
    Files.writeString(work.resolve("result.json"), Json(result))
    session.stop()
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** Linear-interpolated quantile; NaN for an empty sample. */
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Peak resident set of this (driver) process, from /proc. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else Files.readAllLines(status).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
