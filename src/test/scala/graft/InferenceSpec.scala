package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph, Inference, VectorOps}

/** Closed-form pins for the inference layer (Inference.scala), BFS
  * levels and product quantization — handcrafted data with known
  * answers; engine parity is the DuckDB oracle's job.
  */
class InferenceSpec extends SparkSpec {

  import spark.implicits._

  test("hits round joins honor the SHUFFLE_HASH hint (never auto-broadcast the score table)") {
    // The sensitivity sweep found the 32 MiB auto-broadcast threshold
    // mis-firing on the node-grain score tables at sf3 (TUNING.md
    // round 9); the fix is SHUFFLE_HASH hints on the score side. The
    // round joins execute behind localCheckpoints, so the final
    // frame's explain cannot see them — capture every executed plan
    // with a listener instead and pin the strategy: the hinted joins
    // must plan as ShuffledHashJoin even on tiny (broadcastable)
    // data, where an unhinted plan WOULD broadcast.
    val plans = scala.collection.mutable.ListBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // hits' rounds stay LAZY (no checkpoints), so the final collect
      // executes the whole chain as ONE Dataset action and the
      // listener sees all 3 hinted score joins. katz checkpoints each
      // round at the RDD level, which bypasses QueryExecutionListener —
      // its hint is the same code path, pinned here through the hits
      // plan (pageRank and PPR rounds are unhinted since round 14).
      val e = Seq((1L, 101L), (1L, 102L), (2L, 101L), (3L, 102L)).toDF("u", "v")
      Graph.hits(e, "u", "v", rounds = 2).collect()
      // listener delivery is async; poll until the expected joins land.
      // Count OCCURRENCES across plan strings — the one collect's plan
      // carries all three round joins.
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def shjCount = plans.synchronized(
        plans.map("ShuffledHashJoin".r.findAllIn(_).size).sum)
      while (shjCount < 3 && System.nanoTime() < deadline) Thread.sleep(100)
      val all = plans.synchronized(plans.toList)
      val shj = all.map("ShuffledHashJoin".r.findAllIn(_).size).sum
      // hits rounds=2 plans exactly 3 hinted score joins — all three
      // must survive as shuffle-hash even on this broadcastable-sized
      // data (a demotion to broadcast would drop the count; the
      // UNHINTED zero-fill joins in the same plan legitimately
      // broadcast and are not constrained here).
      assert(shj >= 3, s"expected >=3 ShuffledHashJoin occurrences, saw $shj")
    } finally spark.listenerManager.unregister(listener)
  }

  test("ksTest: identical samples give D = 0; disjoint samples give D = 1") {
    val same = ((1 to 10).map(i => (true, i.toLong)) ++ (1 to 10).map(i => (false, i.toLong)))
      .toDF("a", "x")
    val r0 = Inference.ksTest(same, col("a"), col("x")).collect().head
    assert(r0.getAs[Double]("ks_d") == 0.0)
    // sample A entirely below sample B -> ECDFs separate completely
    val disj = ((1 to 10).map(i => (true, i.toLong)) ++ (1 to 10).map(i => (false, 100L + i)))
      .toDF("a", "x")
    val r1 = Inference.ksTest(disj, col("a"), col("x")).collect().head
    assert(r1.getAs[Double]("ks_d") == 1.0)
    assert(r1.getAs[Long]("n1") == 10L && r1.getAs[Long]("n2") == 10L)
  }

  test("ksTest: known mixed case, D computed by hand") {
    // A = {1,2}, B = {2,3}: ECDF gap peaks at x=1 (1/2 vs 0) and x=2 (1 vs 1/2)
    val df = Seq((true, 1L), (true, 2L), (false, 2L), (false, 3L)).toDF("a", "x")
    val r = Inference.ksTest(df, col("a"), col("x")).collect().head
    assert(r.getAs[Double]("ks_d") == 0.5)
  }

  test("chi-square: independent margins give chi2 = 0; V in [0,1]") {
    // perfectly independent 2x2: every cell = 25
    val indep = (for { r <- Seq("a", "b"); c <- Seq("x", "y"); _ <- 1 to 25 } yield (r, c))
      .toDF("r", "c")
    val r0 = Inference.chiSquareIndependence(indep, "r", "c").collect().head
    assert(r0.getAs[Double]("chi2") == 0.0 && r0.getAs[Double]("cramers_v") == 0.0)
    assert(r0.getAs[Long]("dof") == 1L)
    // perfectly dependent: r determines c -> V = 1
    val dep = (for { v <- Seq(("a", "x"), ("b", "y")); _ <- 1 to 30 } yield v).toDF("r", "c")
    val r1 = Inference.chiSquareIndependence(dep, "r", "c").collect().head
    assert(r1.getAs[Double]("cramers_v") == 1.0)
  }

  test("mutual information: independence gives 0; identity gives H") {
    val indep = (for { r <- Seq("a", "b"); c <- Seq("x", "y"); _ <- 1 to 10 } yield (r, c))
      .toDF("r", "c")
    assert(Inference.mutualInformation(indep, "r", "c").collect().head
      .getAs[Double]("mi_bits") == 0.0)
    // identical labels: MI = H(R) = 1 bit for a uniform 2-class margin
    val ident = (for { v <- Seq("a", "b"); _ <- 1 to 10 } yield (v, v)).toDF("r", "c")
    val r = Inference.mutualInformation(ident, "r", "c").collect().head
    assert(r.getAs[Double]("mi_bits") == 1.0 && r.getAs[Double]("nmi") == 1.0)
  }

  test("mann-kendall: strictly increasing series has tau = 1, decreasing -1") {
    val df = ((1 to 10).map(i => ("up", i, i.toLong * 10)) ++
      (1 to 10).map(i => ("down", i, 1000L - i * 10))).toDF("g", "p", "x")
    val m = Inference.mannKendall(df, "g", col("p"), col("x")).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("tau")).toMap
    assert(m("up") == 1.0 && m("down") == -1.0)
  }

  test("kaplan-meier: no censoring reduces to the empirical survival") {
    // 4 subjects, all observed: events at days 1,1,2,3 from their own start.
    // S(1) = 1/2, S(2) = 1/4, S(3) = 0.
    val ms = 86400000L
    val rows = Seq(
      (1L, 0L, false), (1L, 1 * ms, true),
      (2L, 0L, false), (2L, 1 * ms, true),
      (3L, 0L, false), (3L, 2 * ms, true),
      (4L, 0L, false), (4L, 3 * ms, true))
      .toDF("s", "ms", "ev")
      .select(col("s"), timestamp_millis(col("ms")).as("ts"), col("ev"))
    val km = Inference.kaplanMeier(rows, "s", col("ts"), col("ev"))
      .collect().map(r => r.getAs[Long]("t_day") -> r.getAs[Double]("survival")).toMap
    assert(km(1L) == 0.5 && km(2L) == 0.25 && km(3L) == 0.0)
  }

  test("kaplan-meier: censored subjects leave the risk set without an event step") {
    val ms = 86400000L
    // subject 2 censored at day 5 (no event): S(1) = 2/3, S(6) = 0 is
    // wrong — the day-6 event sees risk set {3} so S(6) = 2/3 * 0 = 0;
    // with censoring S only steps on event days.
    val rows = Seq(
      (1L, 0L, false), (1L, 1 * ms, true),
      (2L, 0L, false), (2L, 5 * ms, false), // never events -> censored at horizon
      (3L, 0L, false), (3L, 6 * ms, true))
      .toDF("s", "ms", "ev")
      .select(col("s"), timestamp_millis(col("ms")).as("ts"), col("ev"))
    val km = Inference.kaplanMeier(rows, "s", col("ts"), col("ev"))
      .collect().map(r => r.getAs[Long]("t_day") -> r.getAs[Double]("survival")).toMap
    // day 1: risk 3, event 1 -> 2/3; day 6: risk 2 (subj 2 censored at
    // day 6 horizon too — dur = 6) ... subj2 dur = horizon(6d) - 0 = 6, censored.
    assert(km(1L) == 0.666667)
    assert(km.contains(6L))
  }

  test("bfsLevels: path graph yields one node per level, capped by maxDepth") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val seed = Seq(1L).toDF("id")
    val dist = Graph.bfsLevels(edges, "u", "v", seed, maxDepth = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("dist")).toMap
    assert(dist == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3)) // 5 unreached at depth 3
  }

  test("bfsLevels: disconnected component never appears; cycles take min dist") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L)).toDF("u", "v")
    val seed = Seq(1L).toDF("id")
    val dist = Graph.bfsLevels(edges, "u", "v", seed, maxDepth = 5)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("dist")).toMap
    assert(dist == Map(1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("ksTestBy: per-group D — shifted group detects, identical group is 0") {
    val df = (
      (1 to 10).map(i => ("same", true, i.toLong)) ++
        (1 to 10).map(i => ("same", false, i.toLong)) ++
        (1 to 10).map(i => ("shift", true, i.toLong)) ++
        (1 to 10).map(i => ("shift", false, 100L + i))).toDF("g", "a", "x")
    val m = Inference.ksTestBy(df, "g", col("a"), col("x")).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("ks_d")).toMap
    assert(m("same") == 0.0 && m("shift") == 1.0)
  }

  test("rollingAnomaly: a spike after a stable-but-noisy history is flagged") {
    import graft.operators.TimeSeries
    // history alternates 100/102 (nonzero variance), then a 200 spike
    val vals = Seq(100L, 102L, 100L, 102L, 100L, 102L, 100L, 102L, 200L)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, i.toLong, v) }
      .toDF("k", "o1", "o2", "x")
    val r = TimeSeries.rollingAnomaly(df, "k", Seq(col("o1"), col("o2")), col("x"),
      n = 8, zThresh = 2.5).collect()
    assert(r.length == 1 && r.head.getAs[Long]("x") == 200L)
    assert(r.head.getAs[Double]("roll_mean") == 101.0)
    // constant history (zero variance) is never scored
    val const = (0 to 9).map(i => (2L, i.toLong, i.toLong, 50L)).toDF("k", "o1", "o2", "x")
    assert(TimeSeries.rollingAnomaly(const, "k", Seq(col("o1"), col("o2")), col("x"),
      8, 2.5).collect().isEmpty)
  }

  test("seasonalBacktest: perfectly periodic weekly series has MAE 0") {
    import graft.operators.TimeSeries
    // 4 weeks of data, each weekday always totals 10*dow: the
    // same-weekday expanding mean predicts exactly
    val base = java.time.LocalDate.of(2024, 1, 1)
    val rows = for (d <- 0 until 28) yield {
      val day = base.plusDays(d)
      ("t", java.sql.Timestamp.valueOf(day.atStartOfDay), 10L * day.getDayOfWeek.getValue)
    }
    val df = rows.toDF("g", "ts", "v")
    val r = TimeSeries.seasonalBacktest(df, "g", "ts", col("v")).collect().head
    assert(r.getAs[Double]("mae") == 0.0)
    assert(r.getAs[Long]("n_days") == 21L) // first week has no prior same-dow
  }

  test("cumulativeUniques: dau counts repeats once, cum tracks first-seens") {
    import graft.operators.TimeSeries
    val ms = 86400000L
    val rows = Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L * ms, 1L), (1L * ms, 3L))
      .toDF("ms", "user_id").select(timestamp_millis(col("ms")).as("ts"), col("user_id"))
    val r = TimeSeries.cumulativeUniques(rows, "ts", "user_id")
      .collect().map(x => x.getAs[java.sql.Date]("day").toString ->
        (x.getAs[Long]("dau"), x.getAs[Long]("n_new"), x.getAs[Long]("cum_uniques"))).toMap
    assert(r("1970-01-01") == ((2L, 2L, 2L)))
    assert(r("1970-01-02") == ((2L, 1L, 3L)))
  }

  test("skyline: frontier only, same-x domination, duplicates both survive") {
    import graft.operators.TimeSeries
    val pts = Seq((5L, 1L, 1L), (5L, 1L, 2L), (4L, 3L, 3L), (4L, 2L, 4L),
      (3L, 2L, 5L), (2L, 5L, 6L)).map { case (x, y, id) => ("g", x, y, id) }
      .toDF("g", "x", "y", "id")
    val ids = TimeSeries.skyline(pts, "g", col("x"), col("y"), "id")
      .collect().map(_.getAs[Long]("id")).toSet
    // (3,2) dominated by (4,3); (4,2) dominated by (4,3); the (5,1)
    // duplicates tie and both survive
    assert(ids == Set(1L, 2L, 3L, 6L))
  }

  test("weekOverWeek: second week reports the percent change, first is null") {
    import graft.operators.TimeSeries
    val wk = 604800000L
    val rows = Seq(("a", 0L, 100L), ("a", 1000L, 0L), ("a", wk + 5, 150L))
      .toDF("g", "ms", "v").select(col("g"), timestamp_millis(col("ms")).as("ts"), col("v"))
    val r = TimeSeries.weekOverWeek(rows, "g", "ts", col("v"))
      .collect().map(x => x.getAs[Long]("week") -> x).toMap
    assert(r(0L).isNullAt(r(0L).fieldIndex("pct_change")))
    assert(r(1L).getAs[Double]("pct_change") == 50.0)
    assert(r(1L).getAs[Long]("prev_total") == 100L)
  }

  test("cohensKappa: perfect agreement scores 1, independent margins score 0") {
    import graft.operators.Stats
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a")).toDF("g", "p")
    assert(Stats.cohensKappa(perfect, col("g"), col("p")).collect().head
      .getAs[Double]("kappa") == 1.0)
    // 2x2 with independent margins: po = pe = 0.5 -> kappa 0
    val indep = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")).toDF("g", "p")
    val r = Stats.cohensKappa(indep, col("g"), col("p")).collect().head
    assert(r.getAs[Double]("po") == 0.5 && r.getAs[Double]("kappa") == 0.0)
  }

  test("averagePrecision: closed form on a 4-row ranking") {
    import graft.operators.Stats
    // ranks by score desc: pos at ranks 1 and 3 -> AP = (1/1 + 2/3)/2
    val df = Seq((true, 5L, 1L), (false, 4L, 2L), (true, 3L, 3L), (false, 2L, 4L))
      .toDF("pos", "s", "id")
    val r = Stats.averagePrecision(df, col("pos"), col("s"), col("id")).collect().head
    assert(r.getAs[Long]("n_pos") == 2L)
    assert(r.getAs[Double]("avg_precision") ==
      BigDecimal((1.0 + 2.0 / 3) / 2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("bhFdrGate: uniform groups are never rejected; a deviant group ranks first") {
    // identical distributions -> chi2 = 0, p = 1, nothing rejected
    val same = (1 to 30).flatMap(i => Seq(("g1", i % 3), ("g2", i % 3), ("g3", i % 3)))
      .toDF("g", "v")
    val none = Inference.bhFdrGate(same, "g", col("v").cast("string"), q = 0.05).collect()
    assert(none.length == 3 && none.forall(!_.getAs[Boolean]("rejected")))
    assert(none.forall(_.getAs[Double]("p_value") == 1.0))
    // one group concentrated in a single category deviates hardest
    val dev = ((1 to 30).flatMap(i => Seq(("g1", i % 3), ("g2", i % 3))) ++
      (1 to 30).map(_ => ("gx", 0))).toDF("g", "v")
    val r = Inference.bhFdrGate(dev, "g", col("v").cast("string"), q = 0.05)
      .collect().map(x => x.getAs[String]("g") -> x).toMap
    assert(r("gx").getAs[Long]("rank") == 1L && r("gx").getAs[Boolean]("rejected"))
    assert(r("gx").getAs[Double]("p_value") < 0.001)
  }

  test("aucRoc: perfect separation scores 1, all-tied scores 0.5") {
    import graft.operators.Stats
    val perfect = ((1 to 10).map(i => (true, 100L + i)) ++ (1 to 10).map(i => (false, i.toLong)))
      .toDF("pos", "v")
    assert(Stats.aucRoc(perfect, col("pos"), col("v")).collect().head
      .getAs[Double]("auc") == 1.0)
    val tied = ((1 to 10).map(_ => (true, 5L)) ++ (1 to 10).map(_ => (false, 5L))).toDF("pos", "v")
    assert(Stats.aucRoc(tied, col("pos"), col("v")).collect().head
      .getAs[Double]("auc") == 0.5)
  }

  test("liftTable: top-decile concentration yields lift = 1/base_rate") {
    import graft.operators.Stats
    // 20 rows, scores 20..1, responders are the top 5 scores
    val df = (1 to 20).map(i => (i.toLong, 20L - i + 1, i.toLong)).toDF("id", "s", "tie")
      .select(col("id"), col("s"), col("tie"), (col("s") > 15).as("resp"))
    val r = Stats.liftTable(df, col("resp"), col("s"), col("tie"), k = 10)
      .collect().map(x => x.getAs[Int]("bucket") -> x).toMap
    assert(r(1).getAs[Double]("resp_rate") == 1.0)
    assert(r(1).getAs[Double]("cum_lift") == 4.0) // (2/2)/(5/20)
    assert(r(10).getAs[Double]("cum_gain") == 1.0)
    assert(r(3).getAs[Long]("resp") == 1L) // scores 16,15 -> one responder
  }

  test("pmiCollocations: min-count floor and the PMI closed form") {
    import graft.operators.TextRank
    val docs = ((1 to 6).map(i => (i.toLong, "alpha beta")) ++ Seq((7L, "gamma delta")))
      .toDF("doc_id", "text")
    val r = TextRank.pmiCollocations(docs, "text", minCount = 5L, k = 10).collect()
    assert(r.length == 1 && r.head.getString(0) == "alpha" && r.head.getString(1) == "beta")
    // PMI = log2(c12 * N / (c1*c2)) = log2(6*7/36)
    assert(r.head.getAs[Double]("pmi") ==
      BigDecimal(math.log(6.0 * 7 / 36) / math.log(2.0)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("degreeHistogram: triangle plus pendant") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("u", "v")
    val h = Graph.degreeHistogram(edges, "u", "v").collect()
      .map(r => r.getAs[Long]("degree") -> r.getAs[Long]("n_nodes")).toMap
    assert(h == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("ivfPqSearch: zero-quantization-error corpus ranks exact copies first") {
    val dim = 64
    def grid(i: Int) = (0 until dim).map(d => (i * dim + d).toDouble / 100.0).toArray
    // ids 0..15 are the codebook/coarse grid; ids 16..31 are exact copies
    val vecs = ((0 until 16).map(i => (i.toLong, grid(i))) ++
      (16 until 32).map(i => (i.toLong, grid(i - 16)))).toDF("vec_id", "embedding")
    val r = VectorOps.ivfPqSearch(vecs, "vec_id", "embedding",
      col("id") === 24, nlist = 8, nprobe = 2, m = 4, subDim = 16, kCodes = 16, topK = 3)
      .collect().sortBy(_.getAs[Int]("rank"))
    // probe 24 copies vector 8: its PQ code is exact, so the two rows
    // carrying vector 8 (ids 8 and 24) rank first at ADC 0, id-tiebroken
    assert(r.head.getAs[Long]("neighbor_id") == 8L)
    assert(r.head.getAs[Double]("adc_dist") == 0.0)
    assert(r(1).getAs[Long]("neighbor_id") == 24L)
    assert(r(1).getAs[Double]("adc_dist") == 0.0)
    assert(r.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
  }

  test("pqAssign: codebook vectors code to themselves with zero distortion") {
    val dim = 64
    val vecs = (0 until 20).map { i =>
      (i.toLong, (0 until dim).map(d => (i * dim + d).toDouble / 100.0).toArray)
    }.toDF("vec_id", "embedding")
    val r = VectorOps.pqAssign(vecs, "vec_id", "embedding", m = 4, subDim = 16, k = 16)
    val byId = r.collect().map(x => x.getAs[Long]("vec_id") -> x).toMap
    // a codebook vector's nearest codebook entry in every subspace is itself
    for (i <- 0 until 16) {
      val row = byId(i.toLong)
      assert(row.getAs[Long]("code0") == i && row.getAs[Long]("code3") == i)
      assert(row.getAs[Double]("distortion") == 0.0)
    }
    // non-codebook vectors pick the closest seed (id 15 here, monotone grid)
    assert(byId(19L).getAs[Long]("code0") == 15L)
    assert(byId(19L).getAs[Double]("distortion") > 0.0)
  }

  test("logRank: symmetric arms give O = E (z = 0); one-sided events skew O") {
    def t(day: Int) = new java.sql.Timestamp(day * 86400000L)
    // arm A = first event 'a', arm B = first event 'b'; one event and
    // one censored subject per arm, event on the same day -> O1 = E1
    val sym = Seq(
      (1L, t(0), 1L, "a"), (1L, t(1), 2L, "err"),   // A, event day 1
      (2L, t(0), 3L, "a"), (2L, t(5), 4L, "x"),     // A, censored
      (3L, t(0), 5L, "b"), (3L, t(1), 6L, "err"),   // B, event day 1
      (4L, t(0), 7L, "b"), (4L, t(5), 8L, "x")      // B, censored
    ).toDF("user_id", "ts", "event_id", "event_type")
    val r = Inference.logRank(sym, "user_id", col("ts"), col("event_id"),
      col("event_type") === "err", col("event_type") === "a").collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("obs_a") == 1L)
    assert(r.getAs[Double]("exp_a") == 1.0)
    assert(r.getAs[Double]("z_score") == 0.0)
    // all events in arm A -> O1 > E1, z > 0
    val skew = Seq(
      (1L, t(0), 1L, "a"), (1L, t(1), 2L, "err"),
      (2L, t(0), 3L, "a"), (2L, t(2), 4L, "err"),
      (3L, t(0), 5L, "b"), (3L, t(5), 6L, "x"),
      (4L, t(0), 7L, "b"), (4L, t(5), 8L, "x")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val r2 = Inference.logRank(skew, "user_id", col("ts"), col("event_id"),
      col("event_type") === "err", col("event_type") === "a").collect().head
    assert(r2.getAs[Long]("obs_a") == 2L)
    assert(r2.getAs[Double]("z_score") > 0.0)
    assert(r2.getAs[Double]("chi2") > 0.0)
  }

  test("seasonalDecompose: planted weekly spike lands in seasonal, residual exactly 0") {
    import graft.operators.TimeSeries
    // v_t = 10t + 100 on every 7th day: trend absorbs the line,
    // seasonal absorbs the spike, residual vanishes in exact rationals
    val rows = (0 until 28).map { t =>
      val d = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(t))
      ("g", d, 10L * t + (if (t % 7 == 0) 100L else 0L))
    }
    val out = TimeSeries.seasonalDecompose(rows.toDF("g", "day", "v"), "g", "day", col("v"))
      .collect()
    val interior = out.filter(!_.isNullAt(3))
    assert(interior.length == 28 - 6)
    assert(interior.forall(r => math.abs(r.getAs[Double]("residual")) == 0.0))
    val spikeSeasonal = out.filter(r =>
      r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay % 7 ==
        java.time.LocalDate.of(2024, 1, 1).toEpochDay % 7)
      .map(_.getAs[Double]("seasonal")).distinct
    assert(spikeSeasonal.length == 1 && math.abs(spikeSeasonal.head - 600.0 / 7) < 1e-3)
  }

  test("personalizedPageRank: seed outranks its neighbors; disconnected component gets nothing") {
    // symmetric triangle 1-2-3 (a star oscillates odd/even — bipartite
    // power iteration); 4-5 disconnected
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L),
      (4L, 5L), (5L, 4L)).toDF("s", "d")
    val seeds = Seq(1L).toDF("id")
    val r = Graph.personalizedPageRank(edges, "s", "d", seeds, iters = 3)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("ppr")).toMap
    assert(r(1L) > r(2L) && r(2L) == r(3L) && r(2L) > 0)
    assert(!r.contains(4L) && !r.contains(5L)) // mass never teleports there
  }

  // directed, with a dangling vertex (6) and a source-only vertex (7),
  // so both the dangling mass and the teleport term carry weight
  private def smallDigraph = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
    (5L, 4L), (5L, 6L), (7L, 1L)).toDF("s", "d")

  test("personalizedPageRank seeded with every vertex equals pageRank") {
    // a uniform preference vector is uniform PageRank (Jeh & Widom 2003)
    val edges = smallDigraph
    val all = edges.select(col("s").as("id")).union(edges.select(col("d").as("id"))).distinct()
    val ppr = Graph.personalizedPageRank(edges, "s", "d", all, iters = 3)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("ppr")).toMap
    val pr = Graph.pageRank(edges, "s", "d", iters = 3)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("rank")).toMap
    assert(ppr.keySet == (1L to 7L).toSet)
    assert(ppr == pr)
  }

  test("build-phase job counts of the graph operators") {
    // Eager jobs run while the frame is BUILT (checkpoints), before any
    // plan exists. A change may lower a count; raising one needs a
    // reason written here.
    val edges = smallDigraph
    val seeds = Seq(1L).toDF("id")
    val pr = jobsDuring(Graph.pageRank(edges, "s", "d", iters = 3))._2
    val ppr = jobsDuring(Graph.personalizedPageRank(edges, "s", "d", seeds, iters = 3))._2
    val bfs = jobsDuring(Graph.bfsLevels(edges, "s", "d", seeds, maxDepth = 3))._2
    val lpa = jobsDuring(Graph.labelPropagation(edges, "s", "d", iters = 3))._2
    val cc = jobsDuring(Graph.connectedComponents(edges, "s", "d"))._2
    assert((pr, ppr, bfs, lpa, cc) == ((23, 26, 14, 13, 14)))
  }

  test("bfsLevels: a search that ends before maxDepth runs no job past its first empty level") {
    // Levels 0-2 hold 1, 2 and 3; level 3 is empty, so levels 4-6 would
    // expand an empty frontier. maxDepth 6 must cost what maxDepth 3 costs.
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("u", "v")
    val seed = Seq(1L).toDF("id")
    val (three, jobs3) = jobsDuring(Graph.bfsLevels(edges, "u", "v", seed, maxDepth = 3))
    val (six, jobs6) = jobsDuring(Graph.bfsLevels(edges, "u", "v", seed, maxDepth = 6))
    assert(jobs6 == jobs3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("dist")).toSet
    assert(rows(six) == Set(1L -> 0, 2L -> 1, 3L -> 2))
    assert(rows(three) == rows(six))
  }

  test("bfsLevels: every level's visited anti-join broadcasts in the initial plan") {
    // Each level checkpoints with its exact row count as statistics, so
    // the size estimate of the visited set does not compound from level
    // to level: the anti-join is a broadcast before AQE sees a shuffle.
    val anti = scala.collection.mutable.ListBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        anti.synchronized {
          anti ++= qe.sparkPlan.collect {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec
                if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j.nodeName
          }
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val edges = (1L to 7L).map(i => (i, i + 1)).toDF("u", "v")
      val levels = Graph.bfsLevels(edges, "u", "v", Seq(1L).toDF("id"), maxDepth = 6)
      org.apache.spark.graftbridge.ListenerBusDrain.drain(spark.sparkContext)
      assert(anti.synchronized(anti.toList) == List.fill(6)("BroadcastHashJoin"))
      assert(levels.collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("dist")).toSet ==
        (0 to 6).map(d => (d + 1L) -> d).toSet)
    } finally spark.listenerManager.unregister(listener)
  }

  test("codegen cache: a third round of the graph operators compiles almost nothing") {
    // One round emits over 200 generated classes, more than Spark's
    // default 100-entry codegen cache holds, so at the default the LRU
    // evicts them before the next round and every round recompiles all
    // of them (211, 234 and 223 in one run). GraftSession sizes the
    // cache to the engine's code set. A warm round is not held to
    // exactly 0: AQE numbers and re-plans stages in the order they
    // finish, so a few classes of a warm round can be variants that
    // the earlier rounds did not meet (0 to 10 per round measured).
    val edges = smallDigraph
    val seeds = Seq(1L).toDF("id")
    def round(): Unit = {
      Graph.pageRank(edges, "s", "d", iters = 3).collect()
      Graph.personalizedPageRank(edges, "s", "d", seeds, iters = 3).collect()
      Graph.bfsLevels(edges, "s", "d", seeds, maxDepth = 3).collect()
      Graph.connectedComponents(edges, "s", "d").collect()
    }
    val compiles = (1 to 3).map(_ => compilesDuring(round())._2)
    info(s"compiles per round: ${compiles.mkString(", ")}")
    assert(compiles.last < 20L, s"compiles per round: ${compiles.mkString(", ")}")
  }

  test("bfsLevels: a deeper level reuses the code of a shallower one") {
    // Levels 3 to 6 plan like level 2, so they must compile nothing once
    // a maxDepth = 2 run has compiled level 2; a per-level literal in the
    // generated source would compile each level afresh.
    // Int ids: no other spec runs bfsLevels on them, so the codegen cache
    // holds no level of these plans when the test starts.
    val edges = (1 to 7).map(i => (i, i + 1)).toDF("u", "v") // no level empty
    val seed = Seq(1).toDF("id")
    assert(Graph.bfsLevels(edges, "u", "v", seed, maxDepth = 2).collect().length == 3)
    val (six, compiles) =
      compilesDuring(Graph.bfsLevels(edges, "u", "v", seed, maxDepth = 6).collect())
    assert(six.map(r => r.getAs[Int]("id") -> r.getAs[Int]("dist")).toSet ==
      (0 to 6).map(d => (d + 1) -> d).toSet)
    assert(compiles == 0L)
  }

  test("splitConformal: hand-computed radius and coverage") {
    // calibration 0,10,...,90: mean 45, scaled residuals |10v-450|,
    // k = ceil(0.9*11) = 10 -> q_scaled = 450 -> q_hat = 45.0
    val cal = (0 to 9).map(i => ("g", true, i * 10L))
    val test = Seq(("g", false, 45L), ("g", false, 100L)) // r=0 in, r=550 out
    val r = Inference.splitConformal((cal ++ test).toDF("g", "cal", "x"),
      "g", col("cal"), col("x"), coveragePct = 90).collect().head
    assert(r.getAs[Long]("n_cal") == 10L && r.getAs[Long]("n_test") == 2L)
    assert(r.getAs[Double]("q_hat") == 45.0)
    assert(r.getAs[Long]("coverage_ppm") == 500000L)
  }

  test("emdDriftBy: identical halves give 0; a pure shift gives the shift size") {
    val same = ((1 to 10).map(i => ("g", true, i.toLong)) ++
      (1 to 10).map(i => ("g", false, i.toLong))).toDF("g", "a", "x")
    val r0 = Inference.emdDriftBy(same, "g", col("a"), col("x")).collect().head
    assert(r0.getAs[Double]("emd") == 0.0)
    // B = A + 7 pointwise: W1 = 7 exactly
    val shift = ((1 to 10).map(i => ("g", true, i.toLong)) ++
      (1 to 10).map(i => ("g", false, i + 7L))).toDF("g", "a", "x")
    val r1 = Inference.emdDriftBy(shift, "g", col("a"), col("x")).collect().head
    assert(r1.getAs[Double]("emd") == 7.0)
    assert(r1.getAs[Long]("n1") == 10L && r1.getAs[Long]("n2") == 10L)
  }

  test("ecdfScore maps target values to the reference ECDF in exact ppm") {
    // reference values {10, 20, 30}; target value 25 -> 2/3 of refs <= it.
    val df = Seq(("g", true, 10L), ("g", true, 20L), ("g", true, 30L),
      ("g", false, 25L)).toDF("g", "r", "x")
    val row = Inference.ecdfScore(df, "g", col("r"), col("x")).collect()
      .filter(_.getAs[Long]("v") == 25L).head
    assert(row.getAs[Long]("ref_le") == 2L && row.getAs[Long]("n_ref") == 3L)
    assert(row.getAs[Long]("pct_ppm") == 666666L)
  }

  // ── overflow-regime probes ──────────────────────────────────────────
  // The histogram-grain cores are driven with per-value counts whose
  // cross-products pass 2^63 (unreachable through row-grain specs) and
  // compared against BigInt-exact expected values: int64 arithmetic
  // would wrap silently here (ANSI off), DECIMAL(38,0) must not.

  test("ksTestFromHist survives cum*n > 2^63 (DECIMAL(38,0) cross-products)") {
    val c = Seq((1L, 4000000000L, 1000000000L), (2L, 1000000000L, 4000000000L))
    val h = c.toDF("x", "c1", "c2")
    val n1 = BigInt(5000000000L); val n2 = BigInt(5000000000L)
    val dnum = (BigInt(4000000000L) * n2 - BigInt(1000000000L) * n1).abs // 1.5e19 > 2^63
    assert(dnum > BigInt(Long.MaxValue) && n1 * n2 > BigInt(Long.MaxValue))
    val expD = math.round(dnum.toDouble / (n1 * n2).toDouble * 1e6) / 1e6
    val expZ = math.round(dnum.toDouble / (n1 * n2).toDouble *
      math.sqrt((n1 * n2).toDouble / (n1 + n2).toDouble) * 1e4) / 1e4
    val r = Inference.ksTestFromHist(h).collect().head
    assert(r.getAs[Double]("ks_d") == expD)   // 0.6, not a wrapped artifact
    assert(r.getAs[Double]("ks_z") == expZ)
  }

  test("ksTestByFromHist: overflow-regime group exact, small group unchanged") {
    val h = Seq(
      ("big", 1L, 4000000000L, 1000000000L), ("big", 2L, 1000000000L, 4000000000L),
      ("small", 1L, 3L, 1L), ("small", 2L, 1L, 3L)).toDF("g", "x", "c1", "c2")
    val m = Inference.ksTestByFromHist(h, "g").collect()
      .map(r => r.getAs[String]("g") -> r.getAs[Double]("ks_d")).toMap
    assert(m("big") == 0.6 && m("small") == 0.5)
  }

  test("emdDriftByFromHist widens before the subtraction (pure shift at 5e9 rows/side)") {
    // all A mass at 0, all B mass at 10: EMD must be exactly the shift.
    val h = Seq(("g", 0L, 5000000000L, 0L), ("g", 10L, 0L, 5000000000L))
      .toDF("g", "x", "c1", "c2")
    // cum1*n2 = 2.5e19 wraps int64; the pre-widened form must not.
    val r = Inference.emdDriftByFromHist(h, "g").collect().head
    assert(r.getAs[Double]("emd") == 10.0)
  }

  test("ecdfScoreFromHist: 1e6*ref_le past 2^63 stays exact ppm") {
    val h = Seq(("g", 1L, 9500000000000L, 1L), ("g", 2L, 500000000000L, 1L))
      .toDF("g", "x", "cr", "ct")
    assert(BigInt(1000000) * BigInt(9500000000000L) > BigInt(Long.MaxValue))
    val m = Inference.ecdfScoreFromHist(h, "g").collect()
      .map(r => r.getAs[Long]("v") -> r.getAs[Long]("pct_ppm")).toMap
    assert(m(1L) == 950000L && m(2L) == 1000000L)
  }

  test("hits() fails fast (not silent NULLs) when walk counts exceed int64") {
    // K_60 complete graph, 6 rounds: counts grow ~deg^(2r)*|E| ≈ 59^11·3540
    // ≈ 1e22 > 2^63. The decimal→long output cast would NULL silently
    // with ANSI off; the assert_true guard must throw instead.
    val vs = 0L until 60L
    val edges = (for (u <- vs; v <- vs if u != v) yield (u, v)).toDF("src", "dst")
    val ex = intercept[Exception] {
      Graph.hits(edges, "src", "dst", rounds = 6).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("exceed int64")))
  }

  test("nelsonAalen: uncensored single-day failures give H = d/n exactly") {
    import java.sql.Timestamp
    def ts(day: Int) = new Timestamp(day * 86400000L)
    // 4 subjects start day 0; subjects 1,2 fail day 1 (H += 2/4),
    // subject 3 fails day 2 (H += 1/2); subject 4 survives to horizon.
    val rows = Seq(
      (1L, ts(0), false), (2L, ts(0), false), (3L, ts(0), false), (4L, ts(0), false),
      (1L, ts(1), true), (2L, ts(1), true), (3L, ts(2), true), (4L, ts(2), false))
      .toDF("s", "ts", "ev")
    val m = Inference.nelsonAalen(rows, "s", col("ts"), col("ev")).collect()
      .map(r => r.getAs[Long]("t_day") -> r.getAs[Double]("cum_hazard")).toMap
    assert(m(1L) == 0.5)    // 2/4
    assert(m(2L) == 1.0)    // 0.5 + 1/2
  }

  test("rmst: hand-integrated KM area, tau clamps late events away") {
    import java.sql.Timestamp
    def ts(day: Int) = new Timestamp(day * 86400000L)
    // Same curve as the nelsonAalen fixture: S = 1 on [0,1), 1/2 on
    // [1,2), then 0 (risk set exhausted at day 2: 2 at risk, 1 event,
    // 1 censored AT the event day counts as at-risk there).
    val rows = Seq(
      (1L, ts(0), false), (2L, ts(0), false), (3L, ts(0), false), (4L, ts(0), false),
      (1L, ts(1), true), (2L, ts(1), true), (3L, ts(2), true), (4L, ts(2), false))
      .toDF("s", "ts", "ev")
    // KM: day1 n=4 d=2 -> S=1/2; day2 n=2 d=1 c=1 -> S=1/4.
    // RMST(10) = 1*1 + 0.5*(2-1) + 0.25*(10-2) = 3.5
    val r10 = Inference.rmst(rows, "s", col("ts"), col("ev"), tauDays = 10L)
      .collect().head
    assert(r10.getAs[Double]("rmst_days") == 3.5, r10.toString)
    assert(r10.getAs[Long]("n_subj") == 4L)
    // tau = 2 cuts the tail: 1*1 + 0.5*1 = 1.5
    assert(Inference.rmst(rows, "s", col("ts"), col("ev"), tauDays = 2L)
      .collect().head.getAs[Double]("rmst_days") == 1.5)
  }

  test("hits: integer walk counts on a tiny bipartite graph, normalized once") {
    // u1→{v1,v2}, u2→{v1}. Round 1: h=(2,1), a=(3,2).
    // Round 2: h(u1)=a(v1)+a(v2)=5, h(u2)=a(v1)=3; a(v1)=5+3=8, a(v2)=5.
    // Totals th=8, ta=13.
    val e = Seq((1L, 101L), (1L, 102L), (2L, 101L)).toDF("u", "v")
    val m = Graph.hits(e, "u", "v", rounds = 2).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("hub_raw"), r.getAs[Long]("auth_raw"),
          r.getAs[Double]("hub_score"))).toMap
    assert(m(1L) == ((5L, 0L, 5.0 / 8.0)))
    assert(m(2L) == ((3L, 0L, 3.0 / 8.0)))
    assert(m(101L)._2 == 8L && m(102L)._2 == 5L)
    assert(m(101L)._1 == 0L) // authorities have no out-edges
  }

  test("neighborhoodJaccard: triangle pair scores 1/3 and is flagged as an edge") {
    // triangle a-b-c plus pendant d-a: N(b)={a,c}, N(c)={a,b} ->
    // cn(b,c)={a}=1, union=2+2-1=3.
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 1L)).toDF("s", "d")
    val rows = Graph.neighborhoodJaccard(e, "s", "d", minCommon = 1L).collect()
      .map(r => (r.getAs[Long]("pa"), r.getAs[Long]("pb")) ->
        (r.getAs[Long]("cn"), r.getAs[Boolean]("is_edge"),
          r.getAs[Double]("jaccard"))).toMap
    assert(rows((2L, 3L)) == ((1L, true, 1.0 / 3.0)))
    // non-adjacent (2,4): common neighbor {1}, union = 2+1-1 = 2
    assert(rows((2L, 4L)) == ((1L, false, 0.5)))
  }
}
