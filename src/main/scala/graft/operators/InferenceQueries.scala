package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Oracle-checked queries for the inference layer (Inference.scala),
  * BFS reachability (Graph.bfsLevels — proven against a DuckDB
  * `WITH RECURSIVE` oracle), product quantization (VectorOps.pqAssign)
  * and the GROUPING SETS relational surface.
  */
object InferenceQueries {
  type Q = (SparkSession, String) => DataFrame

  private def centsValue = round(col("value") * 100).cast("long")

  val queries: Map[String, Q] = Map(
    // #87 two-sample KS: did purchase values shift vs click values?
    "q_ks_test" -> { (s, dir) =>
      val ev = Tables(s, dir).events.filter(col("event_type").isin("purchase", "click"))
      Inference.ksTest(ev, col("event_type") === "purchase", centsValue)
    },

    // #93g Cramér–von Mises on the same two samples as q_ks_test —
    // the integrated-squared-gap statistic that catches the spread/
    // tail shifts KS's single max under-weights.
    "q_cvm_test" -> { (s, dir) =>
      val ev = Tables(s, dir).events.filter(col("event_type").isin("purchase", "click"))
      Inference.cramerVonMises(ev, col("event_type") === "purchase", centsValue)
    },

    // #87b chi-square independence of source × lang over documents.
    "q_chi2_indep" -> { (s, dir) =>
      Inference.chiSquareIndependence(Tables(s, dir).documents, "source", "lang")
    },

    // #87c mutual information between source and lang labels.
    "q_mutual_info" -> { (s, dir) =>
      Inference.mutualInformation(Tables(s, dir).documents, "source", "lang")
    },

    // #87d Mann-Kendall monotone-trend test on daily event totals.
    "q_mann_kendall" -> { (s, dir) =>
      Inference.mannKendall(Tables(s, dir).events, "event_type",
        to_date(col("ts")).as("p"), centsValue)
    },

    // #87e Kaplan-Meier: time from a user's first event to their
    // first 'error', right-censored at the corpus horizon.
    "q_kaplan_meier" -> { (s, dir) =>
      Inference.kaplanMeier(Tables(s, dir).events, "user_id", col("ts"),
        col("event_type") === "error")
    },

    // Restricted mean survival time to day 30 — the area under the
    // q_kaplan_meier curve, the model-free "expected error-free days
    // out of the first 30" effect size.
    "q_rmst" -> { (s, dir) =>
      Inference.rmst(Tables(s, dir).events, "user_id", col("ts"),
        col("event_type") === "error", tauDays = 30L)
    },

    // ECDF scoring of the odd-id half of the corpus against the
    // even-id REFERENCE half's token-count distribution, per language
    // — cross-population score normalization in integer ppm.
    "q_ecdf_score" -> { (s, dir) =>
      Inference.ecdfScore(
        Tables(s, dir).documents.select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok")),
        "lang", pmod(col("doc_id"), lit(2)) === 0, col("ntok"))
    },

    // Nelson-Aalen cumulative hazard — Kaplan-Meier's additive
    // sibling on the same error-event survival data, with the Aalen
    // variance alongside.
    "q_nelson_aalen" -> { (s, dir) =>
      Inference.nelsonAalen(Tables(s, dir).events, "user_id", col("ts"),
        col("event_type") === "error")
    },

    // #88 BFS hop levels over the co-purchase part graph (support>=2
    // edges), from the minimum part id, depth-capped at 6; per-level
    // aggregate so the check is a reachability-set compare.
    "q_bfs_levels" -> { (s, dir) =>
      val e = GraphAssets.coPurchase(Tables(s, dir))
      val seed = e.agg(min(col("pa")).as("id"))
      Graph.bfsLevels(e, "pa", "pb", seed, maxDepth = 6)
        .groupBy("dist").agg(count(lit(1)).as("n_nodes"),
          sum("id").as("sum_ids"), min("id").as("min_id"), max("id").as("max_id"))
    },

    // #94b degree distribution of the co-purchase graph — the graph
    // profile that feeds power-law checks.
    "q_degree_dist" -> { (s, dir) =>
      Graph.degreeHistogram(GraphAssets.coPurchase(Tables(s, dir)), "pa", "pb")
    },

    // #88b weighted single-source shortest paths: Bellman-Ford over
    // the co-purchase graph, support-derived integer weights
    // (stronger ties = shorter), 4 relaxation rounds from the
    // highest-degree vertex (smallest id on ties) — the min-id seed
    // lands in a 2-node component at sf0.1.
    "q_shortest_path" -> { (s, dir) =>
      val e = GraphAssets.coPurchase(Tables(s, dir))
        .withColumn("w", greatest(lit(1L), lit(10L) - col("n")))
      val sym = e.select(col("pa").as("u")).unionByName(e.select(col("pb").as("u")))
      val seed = sym.groupBy("u").agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("u")).limit(1).select(col("u").as("id"))
      Graph.bellmanFord(e, "pa", "pb", "w", seed, rounds = 4)
    },

    // #89b additive seasonal decomposition of the daily event-value
    // series per type: centered 7-day trend, per-weekday seasonal fit
    // on the (exact, 7-scaled) detrended series, residual.
    "q_stl_decompose" -> { (s, dir) =>
      val daily = Tables(s, dir).events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(centsValue).as("cents"))
      TimeSeries.seasonalDecompose(daily, "event_type", "day", col("cents"))
    },

    // #88c personalized PageRank from the 5 lowest part ids over the
    // symmetrized co-purchase graph — "importance relative to these
    // parts", the recommendation primitive uniform PageRank lacks.
    "q_ppr" -> { (s, dir) =>
      val e = GraphAssets.coPurchase(Tables(s, dir))
      val sym = e.select(col("pa"), col("pb"))
        .unionByName(e.select(col("pb").as("pa"), col("pa").as("pb")))
      val seeds = e.select(col("pa").as("id")).distinct().orderBy("id").limit(5)
      Graph.personalizedPageRank(sym, "pa", "pb", seeds, iters = 3, damping = 0.85)
    },

    // #90c split conformal prediction per event type: even event_ids
    // calibrate a 90% interval around the calibration mean, odd
    // event_ids report held-out coverage.
    "q_conformal" -> { (s, dir) =>
      Inference.splitConformal(Tables(s, dir).events, "event_type",
        col("event_id") % 2 === 0, centsValue, coveragePct = 90)
    },

    // #86j ROC AUC via the rank-sum identity: does the event value
    // separate purchases from the rest?
    "q_auc_roc" -> { (s, dir) =>
      Stats.aucRoc(Tables(s, dir).events, col("event_type") === "purchase", centsValue)
    },

    // #86m average precision (PR-curve area) on the same labeling —
    // the skew-robust companion to q_auc_roc.
    "q_avg_precision" -> { (s, dir) =>
      Stats.averagePrecision(Tables(s, dir).events,
        col("event_type") === "purchase", centsValue, col("event_id"))
    },

    // #87e Benjamini-Hochberg FDR gate across per-source lang-mix
    // drift tests (3-category goodness-of-fit, closed-form df-2 p).
    "q_bh_fdr" -> { (s, dir) =>
      Inference.bhFdrGate(Tables(s, dir).documents, "source",
        when(col("lang") === "en", "en")
          .when(col("lang") === "zh", "zh").otherwise("other"),
        q = 0.05)
    },

    // Holm-Bonferroni step-down on the same per-source chi-square
    // family: familywise-error control beside q_bh_fdr's FDR.
    "q_holm" -> { (s, dir) =>
      Inference.holmGate(Tables(s, dir).documents, "source",
        when(col("lang") === "en", "en")
          .when(col("lang") === "zh", "zh").otherwise("other"),
        alpha = 0.05)
    },

    // #86k decile lift/gains: order price as the score, order status F
    // as the response.
    "q_lift_deciles" -> { (s, dir) =>
      Stats.liftTable(Tables(s, dir).orders, col("o_orderstatus") === "F",
        round(col("o_totalprice") * 100).cast("long"), col("o_orderkey"), k = 10)
    },

    // #42s2 PMI collocations over the document corpus (Church & Hanks
    // 1990): top-20 adjacent pairs with count >= 5.
    "q_collocations" -> { (s, dir) =>
      TextRank.pmiCollocations(Tables(s, dir).documents, "text", minCount = 5L, k = 20)
    },

    // logDice collocations (Rychlý 2008): the corpus-size-independent
    // collocation score beside q_collocations' PMI — comparable across
    // corpora, tame on rare pairs.
    "q_logdice" -> { (s, dir) =>
      TextRank.logDiceCollocations(Tables(s, dir).documents, "text",
        minCount = 5L, k = 20)
    },

    // #89 product-quantization codes: 4 × 16-dim subspaces, 16-entry
    // codebooks seeded from the first corpus vectors.
    "q_pq_assign" -> { (s, dir) =>
      VectorOps.pqAssign(Tables(s, dir).embeddings, "vec_id", "embedding",
        m = 4, subDim = 16, k = 16)
    },

    // #93f grouped KS drift gate: per event type, did the value
    // distribution shift between the first and second half of the
    // observation window? (The continuous-feature complement of PSI.)
    "q_ks_drift" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      val mid = ev.agg(((min(unix_millis(col("ts"))) + max(unix_millis(col("ts")))) / 2)
        .cast("long").as("mid_ms"))
      Inference.ksTestBy(ev.crossJoin(broadcast(mid)), "event_type",
        unix_millis(col("ts")) < col("mid_ms"), centsValue)
    },

    // #85e rolling z-score anomalies: each event scored against its
    // user's prior-8 window, |z| > 2.5 flagged.
    "q_rolling_anomaly" -> { (s, dir) =>
      TimeSeries.rollingAnomaly(Tables(s, dir).events, "user_id",
        Seq(unix_millis(col("ts")), col("event_id")), centsValue, n = 8, zThresh = 2.5)
        .withColumnRenamed("__o1", "ts_ms").withColumnRenamed("__o2", "event_id")
    },

    // #85f seasonal-naive backtest: forecast each (type, day) total by
    // the expanding same-weekday mean of prior days; report MAE.
    "q_seasonal_baseline" -> { (s, dir) =>
      TimeSeries.seasonalBacktest(Tables(s, dir).events, "event_type", "ts", centsValue)
    },

    // #85g daily uniques ledger: DAU, first-seen news, running
    // cumulative distinct users — no distinct-state accumulation.
    "q_cumulative_uniques" -> { (s, dir) =>
      TimeSeries.cumulativeUniques(Tables(s, dir).events, "ts", "user_id")
    },

    // #46b 2-D skyline per event type: the "largest AND latest" Pareto
    // frontier via the sort-based sweep, not a quadratic anti-join.
    "q_skyline" -> { (s, dir) =>
      TimeSeries.skyline(Tables(s, dir).events, "event_type",
        centsValue, unix_millis(col("ts")), "event_id")
    },

    // #85h week-over-week change per event type (epoch-week buckets).
    "q_wow_change" -> { (s, dir) =>
      TimeSeries.weekOverWeek(Tables(s, dir).events, "event_type", "ts", centsValue)
    },

    // #89b IVF-PQ search (faiss IVFADC): coarse router + PQ codes +
    // ADC ranking, pinned 5-probe panel, nprobe=2 of 8 lists.
    "q_ivfpq_search" -> { (s, dir) =>
      VectorOps.ivfPqSearch(Tables(s, dir).embeddings, "vec_id", "embedding",
        col("id") >= 24 && col("id") < 29, nlist = 8, nprobe = 2,
        m = 4, subDim = 16, kCodes = 16, topK = 5)
    },

    // #87f two-group log-rank test on the Kaplan-Meier construction:
    // do users whose FIRST event is a click reach their first 'error'
    // on a different survival curve than everyone else?
    "q_logrank" -> { (s, dir) =>
      Inference.logRank(Tables(s, dir).events, "user_id", col("ts"),
        col("event_id"), col("event_type") === "error",
        col("event_type") === "click")
    },

    // #87g grouped Wasserstein-1 drift: per event type, how much value
    // mass moved between the first and second half of the window —
    // the magnitude companion to q_ks_drift's worst-gap statistic.
    "q_emd_drift" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      val mid = ev.agg(((min(unix_millis(col("ts"))) + max(unix_millis(col("ts")))) / 2)
        .cast("long").as("mid_ms"))
      Inference.emdDriftBy(ev.crossJoin(broadcast(mid)), "event_type",
        unix_millis(col("ts")) < col("mid_ms"), centsValue)
    },

    // #94c link prediction on the co-purchase graph: non-adjacent part
    // pairs sharing >= 2 neighbors, scored by common-neighbor count
    // and preferential attachment (both integer-exact).
    "q_link_predict" -> { (s, dir) =>
      // minCommon = 2 (not 3): at the driver's sf0.01 gate the graph
      // is sparse enough that >= 3 emits ZERO rows — a vacuous 0-0
      // oracle pass. 2 produces real rows at every scale the gate runs.
      Graph.linkPrediction(GraphAssets.coPurchase(Tables(s, dir)), "pa", "pb", minCommon = 2L)
    },

    // #94d degree assortativity of the co-purchase graph (Newman
    // 2002): do popular parts co-sell with popular parts?
    "q_assortativity" -> { (s, dir) =>
      Graph.assortativity(GraphAssets.coPurchase(Tables(s, dir)), "pa", "pb")
    },

    // Adamic-Adar link scoring on the same graph: common-neighbor
    // evidence downweighted by how promiscuous the shared neighbor is
    // (Adamic & Adar 2003) — integer counts per (pair, degree) first,
    // float only over the degree histogram.
    "q_adamic_adar" -> { (s, dir) =>
      Graph.adamicAdar(GraphAssets.coPurchase(Tables(s, dir)), "pa", "pb", minCommon = 2L)
    },

    // Neighborhood Jaccard node similarity on the same graph —
    // |N∩|/|N∪| by inclusion-exclusion over integer wedge counts,
    // ONE IEEE division (bit-identical, unrounded); adjacent pairs
    // kept and flagged.
    "q_node_jaccard" -> { (s, dir) =>
      Graph.neighborhoodJaccard(GraphAssets.coPurchase(Tables(s, dir)), "pa", "pb",
        minCommon = 2L)
    },

    // HITS hubs/authorities (Kleinberg 1999) on the DIRECTED
    // customer→part purchase graph (part ids offset so the two key
    // spaces cannot collide): 2 mutual-reinforcement rounds kept as
    // exact integer walk counts, normalized once at the end.
    "q_hits" -> { (s, dir) =>
      // NOT on a shared GraphAssets memo: hits is the only consumer of
      // the customer→part edge list, and the measured per-round scans
      // of a persisted columnar asset (12.5 s at sf3) LOSE to the
      // in-query build + row-format checkpoint (8.6 s) — the cache
      // only pays where queries actually share the asset.
      val t = Tables(s, dir)
      // SHUFFLE_HASH on the edge build too: orders' projected two
      // columns sit under the auto-broadcast threshold at mid scale,
      // and the broadcast build of a corpus-scaled fact is the wrong
      // plan at every size (10.2 s default vs 4.8 s suppressed, quiet
      // interleaved A/B at sf1 — the round joins were already pinned).
      val e = t.orders.hint("shuffle_hash").join(t.lineitem,
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("u"),
          (col("l_partkey") + lit(1000000000L)).as("v"))
      Graph.hits(e, "u", "v", rounds = 2)
    },

    // #90 GROUPING SETS with explicit grouping flags — the surface
    // between rollup (q_rollup) and cube (q_cube): an arbitrary
    // subset lattice in one pass.
    "q_grouping_sets" -> { (s, dir) =>
      val t = Tables(s, dir).lineitem
      t.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
        .agg((grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus"))).cast("int").as("gid"),
          count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"), col("n"), col("sum_qty"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q_ks_test" ->
      """WITH t AS (SELECT event_type = 'purchase' AS a,
        |             CAST(round(value * 100) AS BIGINT) AS x
        |           FROM events WHERE event_type IN ('purchase', 'click')),
        |h AS (SELECT x, CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |        CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |      FROM t GROUP BY x),
        |c AS (SELECT sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2
        |      FROM h WINDOW w AS (ORDER BY x)),
        |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM h),
        |d AS (SELECT n1, n2, max(abs(cum1 * n2 - cum2 * n1)) AS dnum FROM c, n GROUP BY n1, n2)
        |SELECT n1, n2,
        |  round(dnum::DOUBLE / (n1 * n2)::DOUBLE, 6) + 0.0 AS ks_d,
        |  round(dnum::DOUBLE / (n1 * n2)::DOUBLE *
        |        sqrt((n1 * n2)::DOUBLE / (n1 + n2)::DOUBLE), 4) + 0.0 AS ks_z
        |FROM d""".stripMargin,
    "q_cvm_test" ->
      """WITH t AS (SELECT event_type = 'purchase' AS a,
        |             CAST(round(value * 100) AS BIGINT) AS x
        |           FROM events WHERE event_type IN ('purchase', 'click')),
        |h AS (SELECT x, CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |        CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |      FROM t GROUP BY x),
        |c AS (SELECT c1, c2, sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2
        |      FROM h WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
        |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM h),
        |s AS (SELECT n1, n2,
        |        sum(CAST(c1 + c2 AS HUGEINT) * (cum1 * n2 - cum2 * n1)
        |            * (cum1 * n2 - cum2 * n1)) AS num
        |      FROM c, n GROUP BY n1, n2)
        |SELECT n1, n2,
        |  round(num::DOUBLE / (n1::DOUBLE * n2::DOUBLE *
        |        ((n1 + n2)::DOUBLE * (n1 + n2)::DOUBLE)), 6) + 0.0 AS cvm_t
        |FROM s""".stripMargin,
    "q_chi2_indep" ->
      """WITH cells AS (SELECT source AS r, lang AS c, CAST(count(*) AS BIGINT) AS n
        |               FROM documents GROUP BY r, c),
        |rm AS (SELECT r, CAST(sum(n) AS BIGINT) AS nr FROM cells GROUP BY r),
        |cm AS (SELECT c, CAST(sum(n) AS BIGINT) AS nc FROM cells GROUP BY c),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
        |          CAST(count(DISTINCT r) AS BIGINT) AS n_r,
        |          CAST(count(DISTINCT c) AS BIGINT) AS n_c FROM cells),
        |terms AS (SELECT nt, n_r, n_c,
        |            cells.n::DOUBLE * cells.n::DOUBLE /
        |            (rm.nr::DOUBLE * cm.nc::DOUBLE) AS term
        |          FROM cells JOIN rm USING (r) JOIN cm USING (c), tot),
        |s AS (SELECT nt, n_r, n_c, sum(term) AS tsum FROM terms GROUP BY nt, n_r, n_c)
        |SELECT nt AS n, round(tsum * nt::DOUBLE - nt::DOUBLE, 4) + 0.0 AS chi2,
        |  (n_r - 1) * (n_c - 1) AS dof,
        |  round(sqrt((tsum * nt::DOUBLE - nt::DOUBLE) /
        |        (nt * least(n_r - 1, n_c - 1))::DOUBLE), 6) + 0.0 AS cramers_v
        |FROM s""".stripMargin,
    "q_mutual_info" ->
      """WITH cells AS (SELECT source AS r, lang AS c, CAST(count(*) AS BIGINT) AS n
        |               FROM documents GROUP BY r, c),
        |rm AS (SELECT r, CAST(sum(n) AS BIGINT) AS nr FROM cells GROUP BY r),
        |cm AS (SELECT c, CAST(sum(n) AS BIGINT) AS nc FROM cells GROUP BY c),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
        |mi AS (SELECT nt, sum((cells.n::DOUBLE / nt::DOUBLE) *
        |           log2(cells.n::DOUBLE * nt::DOUBLE / (rm.nr::DOUBLE * cm.nc::DOUBLE))) AS mi
        |       FROM cells JOIN rm USING (r) JOIN cm USING (c), tot GROUP BY nt),
        |hr AS (SELECT -sum((nr::DOUBLE / nt::DOUBLE) * log2(nr::DOUBLE / nt::DOUBLE)) AS h_row
        |       FROM rm, tot),
        |hc AS (SELECT -sum((nc::DOUBLE / nt::DOUBLE) * log2(nc::DOUBLE / nt::DOUBLE)) AS h_col
        |       FROM cm, tot)
        |SELECT nt AS n, round(mi, 6) + 0.0 AS mi_bits,
        |  round(h_row, 6) + 0.0 AS h_row, round(h_col, 6) + 0.0 AS h_col,
        |  round(mi / least(h_row, h_col), 6) + 0.0 AS nmi
        |FROM mi, hr, hc""".stripMargin,
    "q_mann_kendall" ->
      """WITH d AS (SELECT event_type AS g, CAST(ts AS DATE) AS p,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |           FROM events GROUP BY g, p),
        |s AS (SELECT a.g, CAST(sum(sign(b.x - a.x)) AS BIGINT) AS s_stat
        |      FROM d a JOIN d b ON a.g = b.g AND a.p < b.p GROUP BY a.g),
        |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n_periods FROM d GROUP BY g)
        |SELECT n.g AS event_type, n.n_periods, s.s_stat,
        |  round(s.s_stat::DOUBLE / (n.n_periods::DOUBLE * (n.n_periods - 1) / 2.0), 6) + 0.0 AS tau,
        |  round((CASE WHEN s.s_stat > 0 THEN s.s_stat - 1
        |              WHEN s.s_stat < 0 THEN s.s_stat + 1 ELSE 0 END)::DOUBLE /
        |        sqrt(n.n_periods::DOUBLE * (n.n_periods - 1) * (2 * n.n_periods + 5) / 18.0), 4)
        |    + 0.0 AS z_score
        |FROM s JOIN n USING (g)""".stripMargin,
    "q_kaplan_meier" ->
      """WITH t AS (SELECT user_id AS s, epoch_ms(ts) AS ms,
        |             event_type = 'error' AS ev FROM events),
        |h AS (SELECT max(ms) AS h_ms FROM t),
        |per AS (SELECT s, min(ms) AS start_ms,
        |          min(CASE WHEN ev THEN ms END) AS ev_ms FROM t GROUP BY s),
        |durs AS (SELECT (COALESCE(ev_ms, h_ms) - start_ms) // 86400000 AS t_day,
        |           ev_ms IS NOT NULL AS observed FROM per, h),
        |byday AS (SELECT t_day,
        |            CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |            CAST(sum(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT) AS c
        |          FROM durs GROUP BY t_day),
        |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_subj FROM byday),
        |r AS (SELECT t_day, d, c,
        |        n_subj - (sum(d + c) OVER w - d - c) AS n_risk
        |      FROM byday, tot WINDOW w AS (ORDER BY t_day)),
        |km AS (SELECT t_day, d, c, n_risk,
        |         CASE WHEN min(n_risk - d) OVER w = 0 THEN 0.0
        |              ELSE exp(sum(ln(CASE WHEN n_risk = d THEN 1.0
        |                     ELSE (n_risk - d)::DOUBLE / n_risk::DOUBLE END)) OVER w)
        |         END AS surv
        |       FROM r WINDOW w AS (ORDER BY t_day))
        |SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, d AS n_event, c AS n_censor,
        |  round(surv, 6) + 0.0 AS survival
        |FROM km WHERE d > 0""".stripMargin,
    "q_rmst" ->
      """WITH t AS (SELECT user_id AS s, epoch_ms(ts) AS ms,
        |             event_type = 'error' AS ev FROM events),
        |h AS (SELECT max(ms) AS h_ms FROM t),
        |per AS (SELECT s, min(ms) AS start_ms,
        |          min(CASE WHEN ev THEN ms END) AS ev_ms FROM t GROUP BY s),
        |durs AS (SELECT (COALESCE(ev_ms, h_ms) - start_ms) // 86400000 AS t_day,
        |           ev_ms IS NOT NULL AS observed FROM per, h),
        |byday AS (SELECT t_day,
        |            CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |            CAST(sum(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT) AS c
        |          FROM durs GROUP BY t_day),
        |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_subj FROM byday),
        |r AS (SELECT t_day, d, c,
        |        n_subj - (sum(d + c) OVER w - d - c) AS n_risk
        |      FROM byday, tot WINDOW w AS (ORDER BY t_day)),
        |km AS (SELECT t_day, d,
        |         CASE WHEN min(n_risk - d) OVER w = 0 THEN 0.0
        |              ELSE exp(sum(ln(CASE WHEN n_risk = d THEN 1.0
        |                     ELSE (n_risk - d)::DOUBLE / n_risk::DOUBLE END)) OVER w)
        |         END AS surv
        |       FROM r WINDOW w AS (ORDER BY t_day)),
        |ev AS (SELECT t_day, surv FROM km WHERE d > 0),
        |sg AS (SELECT t_day, surv,
        |         coalesce(lead(t_day) OVER (ORDER BY t_day), 30) AS next_t FROM ev)
        |SELECT (SELECT n_subj FROM tot) AS n_subj, CAST(30 AS BIGINT) AS tau_days,
        |  round(CAST(least((SELECT min(t_day) FROM ev), 30) AS DOUBLE) +
        |    sum(surv * CAST(greatest(least(next_t, 30) - least(t_day, 30), 0) AS DOUBLE)), 4)
        |    AS rmst_days
        |FROM sg""".stripMargin,
    "q_ecdf_score" ->
      """WITH d AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
        |         (doc_id % 2 = 0) AS r FROM documents),
        |h AS (SELECT lang, x,
        |        CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS cr,
        |        CAST(sum(CASE WHEN r THEN 0 ELSE 1 END) AS BIGINT) AS ct
        |      FROM d GROUP BY 1, 2),
        |c AS (SELECT lang, x, ct,
        |        sum(cr) OVER (PARTITION BY lang ORDER BY x
        |          ROWS UNBOUNDED PRECEDING) AS ref_le,
        |        sum(cr) OVER (PARTITION BY lang) AS n_ref
        |      FROM h)
        |SELECT lang, x AS v, ct AS n_target, CAST(ref_le AS BIGINT) AS ref_le,
        |  CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST((1000000 * ref_le) // n_ref AS BIGINT) AS pct_ppm
        |FROM c WHERE ct > 0 AND n_ref > 0""".stripMargin,
    "q_nelson_aalen" ->
      """WITH t AS (SELECT user_id AS s, epoch_ms(ts) AS ms,
        |             event_type = 'error' AS ev FROM events),
        |h AS (SELECT max(ms) AS h_ms FROM t),
        |per AS (SELECT s, min(ms) AS start_ms,
        |          min(CASE WHEN ev THEN ms END) AS ev_ms FROM t GROUP BY s),
        |durs AS (SELECT (COALESCE(ev_ms, h_ms) - start_ms) // 86400000 AS t_day,
        |           ev_ms IS NOT NULL AS observed FROM per, h),
        |byday AS (SELECT t_day,
        |            CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |            CAST(sum(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT) AS c
        |          FROM durs GROUP BY t_day),
        |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_subj FROM byday),
        |r AS (SELECT t_day, d, c,
        |        n_subj - (sum(d + c) OVER w - d - c) AS n_risk
        |      FROM byday, tot WINDOW w AS (ORDER BY t_day)),
        |na AS (SELECT t_day, d, c, n_risk,
        |         sum(d::DOUBLE / n_risk::DOUBLE) OVER w AS hz,
        |         sum(d::DOUBLE / (n_risk * n_risk)::DOUBLE) OVER w AS hv
        |       FROM r WINDOW w AS (ORDER BY t_day))
        |SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, d AS n_event, c AS n_censor,
        |  round(hz, 6) + 0.0 AS cum_hazard, round(hv, 6) + 0.0 AS cum_hazard_var
        |FROM na WHERE d > 0""".stripMargin,
    "q_bfs_levels" ->
      """WITH RECURSIVE bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e0 AS (SELECT x.i AS pa, y.i AS pb FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS u, pb AS v FROM e0 UNION SELECT pb, pa FROM e0),
        |seed AS (SELECT min(pa) AS id FROM e0),
        |bfs AS (SELECT id, 0 AS dist FROM seed
        |        UNION
        |        SELECT e.v, bfs.dist + 1 FROM bfs JOIN e ON e.u = bfs.id
        |        WHERE bfs.dist < 6),
        |m AS (SELECT id, min(dist) AS dist FROM bfs GROUP BY id)
        |SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes, CAST(sum(id) AS BIGINT) AS sum_ids,
        |       min(id) AS min_id, max(id) AS max_id
        |FROM m GROUP BY dist""".stripMargin,
    "q_stl_decompose" ->
      """WITH t AS (SELECT event_type AS g, CAST(ts AS DATE) AS d,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT g, d, x,
        |        CAST(sum(x) OVER (PARTITION BY g ORDER BY d
        |          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS s7,
        |        CAST(count(*) OVER (PARTITION BY g ORDER BY d
        |          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS n7
        |      FROM t),
        |wd AS (SELECT *, CASE WHEN n7 = 7 THEN x * 7 - s7 END AS detr7 FROM w),
        |se AS (SELECT g, dayofweek(d) AS dow, CAST(sum(detr7) AS BIGINT) AS sd,
        |         CAST(count(*) AS BIGINT) AS nd
        |       FROM wd WHERE detr7 IS NOT NULL GROUP BY 1, 2)
        |SELECT wd.g AS event_type, wd.d AS day, x AS value,
        |  CASE WHEN n7 = 7 THEN round(s7::DOUBLE / 7.0, 4) + 0.0 END AS trend,
        |  round(sd::DOUBLE / (nd * 7)::DOUBLE, 4) + 0.0 AS seasonal,
        |  CASE WHEN n7 = 7 THEN round(x::DOUBLE - s7::DOUBLE / 7.0
        |         - sd::DOUBLE / (nd * 7)::DOUBLE, 4) + 0.0 END AS residual
        |FROM wd LEFT JOIN se ON se.g = wd.g AND se.dow = dayofweek(wd.d)""".stripMargin,
    "q_ppr" -> Graph.pprSqlDuck(
      """bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e0 AS (SELECT x.i AS pa, y.i AS pb FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst FROM e0 UNION SELECT pb, pa FROM e0)""".stripMargin,
      """sd AS (SELECT id FROM (SELECT DISTINCT pa AS id FROM e0) ORDER BY id LIMIT 5)""",
      iters = 3, damping = 0.85),
    "q_shortest_path" ->
      """WITH RECURSIVE bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e0 AS (SELECT x.i AS pa, y.i AS pb, CAST(count(*) AS BIGINT) AS n
        |       FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |ew AS (SELECT pa, pb, greatest(1, 10 - n) AS w FROM e0),
        |e AS (SELECT pa AS u, pb AS v, w FROM ew UNION SELECT pb, pa, w FROM ew),
        |seed AS (SELECT u AS id FROM (
        |           SELECT u, count(*) AS deg FROM (
        |             SELECT pa AS u FROM e0 UNION ALL SELECT pb FROM e0) s
        |           GROUP BY u ORDER BY deg DESC, u LIMIT 1)),
        |sp AS (SELECT id, CAST(0 AS BIGINT) AS d, 0 AS hops FROM seed
        |       UNION
        |       SELECT e.v, sp.d + e.w, sp.hops + 1 FROM sp JOIN e ON e.u = sp.id
        |       WHERE sp.hops < 4)
        |SELECT id, CAST(min(d) AS BIGINT) AS dist_w FROM sp GROUP BY id""".stripMargin,
    "q_conformal" ->
      """WITH t AS (SELECT event_type AS g, event_id % 2 = 0 AS cal,
        |             CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |cs AS (SELECT g, CAST(count(*) AS BIGINT) AS n_cal, CAST(sum(x) AS BIGINT) AS s_cal
        |       FROM t WHERE cal GROUP BY g),
        |sc AS (SELECT t.g, cal, abs(x * n_cal - s_cal) AS r, x, n_cal,
        |         (90 * (n_cal + 1) + 99) // 100 AS k
        |       FROM t JOIN cs ON cs.g = t.g),
        |q AS (SELECT g, r AS q_scaled FROM (
        |        SELECT g, r, n_cal, k, row_number() OVER (PARTITION BY g ORDER BY r, x) AS rn
        |        FROM sc WHERE cal) z
        |      WHERE rn = least(k, n_cal)),
        |te AS (SELECT sc.g, sc.n_cal, q_scaled,
        |         CAST(count(*) AS BIGINT) AS n_test,
        |         CAST(sum(CASE WHEN r <= q_scaled THEN 1 ELSE 0 END) AS BIGINT) AS covered
        |       FROM sc JOIN q ON q.g = sc.g WHERE NOT cal GROUP BY 1, 2, 3)
        |SELECT g AS event_type, n_cal, n_test,
        |  round(q_scaled::DOUBLE / n_cal::DOUBLE, 4) + 0.0 AS q_hat,
        |  covered * 1000000 // n_test AS coverage_ppm
        |FROM te""".stripMargin,
    "q_pq_assign" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |sub AS (SELECT id, s.s, list_slice(v, s.s * 16 + 1, s.s * 16 + 16) AS sv
        |        FROM e, (SELECT unnest(range(0, 4)) AS s) s),
        |cs AS (SELECT id AS cid, s.s AS csub, list_slice(v, s.s * 16 + 1, s.s * 16 + 16) AS cv
        |       FROM e, (SELECT unnest(range(0, 4)) AS s) s WHERE id < 16),
        |d AS (SELECT sub.id, sub.s, cs.cid,
        |        list_sum(list_transform(range(1, 17),
        |          i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS d2
        |      FROM sub JOIN cs ON cs.csub = sub.s),
        |best AS (SELECT id, s, cid, d2 FROM (
        |           SELECT id, s, cid, d2,
        |             row_number() OVER (PARTITION BY id, s ORDER BY d2, cid) AS rn
        |           FROM d) x WHERE rn = 1)
        |SELECT id AS vec_id,
        |  CAST(sum(CASE WHEN s = 0 THEN cid END) AS BIGINT) AS code0,
        |  CAST(sum(CASE WHEN s = 1 THEN cid END) AS BIGINT) AS code1,
        |  CAST(sum(CASE WHEN s = 2 THEN cid END) AS BIGINT) AS code2,
        |  CAST(sum(CASE WHEN s = 3 THEN cid END) AS BIGINT) AS code3,
        |  round(max(CASE WHEN s = 0 THEN d2 END) + max(CASE WHEN s = 1 THEN d2 END) +
        |        max(CASE WHEN s = 2 THEN d2 END) + max(CASE WHEN s = 3 THEN d2 END), 6) + 0.0
        |    AS distortion
        |FROM best GROUP BY id""".stripMargin,
    "q_ks_drift" ->
      """WITH mid AS (SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS mid_ms FROM events),
        |t AS (SELECT event_type AS g, epoch_ms(ts) < mid_ms AS a,
        |        CAST(round(value * 100) AS BIGINT) AS x FROM events, mid),
        |h AS (SELECT g, x, CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |        CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |      FROM t GROUP BY g, x),
        |c AS (SELECT g, sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2
        |      FROM h WINDOW w AS (PARTITION BY g ORDER BY x)),
        |n AS (SELECT g, CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        |      FROM h GROUP BY g),
        |d AS (SELECT c.g, n1, n2, max(abs(cum1 * n2 - cum2 * n1)) AS dnum
        |      FROM c JOIN n USING (g) GROUP BY c.g, n1, n2)
        |SELECT g AS event_type, n1, n2,
        |  round(dnum::DOUBLE / (n1 * n2)::DOUBLE, 6) + 0.0 AS ks_d,
        |  round(dnum::DOUBLE / (n1 * n2)::DOUBLE *
        |        sqrt((n1 * n2)::DOUBLE / (n1 + n2)::DOUBLE), 4) + 0.0 AS ks_z
        |FROM d WHERE n1 > 0 AND n2 > 0""".stripMargin,
    "q_rolling_anomaly" ->
      """WITH t AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
        |             CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |w0 AS (SELECT *, count(*) OVER w AS c, sum(x) OVER w AS sl, sum(x * x) OVER w AS sxx
        |       FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                           ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT *, (sxx::DOUBLE - sl::DOUBLE * sl::DOUBLE / 8.0) / 8.0 AS var
        |      FROM w0 WHERE c = 8),
        |z AS (SELECT *, (x::DOUBLE - sl::DOUBLE / 8.0) / sqrt(var) AS z
        |      FROM v WHERE var > 0)
        |SELECT user_id, ts_ms, event_id, x,
        |  round(sl::DOUBLE / 8.0, 4) + 0.0 AS roll_mean,
        |  round(z, 4) + 0.0 AS z_score
        |FROM z WHERE abs(z) > 2.5""".stripMargin,
    "q_seasonal_baseline" ->
      """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |               FROM events GROUP BY g, day),
        |d2 AS (SELECT *, dayofweek(day) AS dow FROM daily),
        |p AS (SELECT *, count(*) OVER w AS cp, sum(x) OVER w AS slp FROM d2
        |      WINDOW w AS (PARTITION BY g, dow ORDER BY day
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |r AS (SELECT g, x, abs(x::DOUBLE - slp::DOUBLE / cp::DOUBLE) AS resid
        |      FROM p WHERE cp > 0)
        |SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  round(avg(resid), 2) + 0.0 AS mae,
        |  round(avg(x::DOUBLE), 2) + 0.0 AS mean_daily
        |FROM r GROUP BY g""".stripMargin,
    "q_cumulative_uniques" ->
      """WITH t AS (SELECT CAST(ts AS DATE) AS day, user_id AS id FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |        FROM (SELECT DISTINCT day, id FROM t) x GROUP BY day),
        |fs AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new
        |       FROM (SELECT id, min(day) AS day FROM t GROUP BY id) x GROUP BY day)
        |SELECT d.day, d.dau, COALESCE(fs.n_new, 0) AS n_new,
        |  CAST(sum(COALESCE(fs.n_new, 0)) OVER (ORDER BY d.day) AS BIGINT) AS cum_uniques
        |FROM dau d LEFT JOIN fs USING (day)""".stripMargin,
    "q_skyline" ->
      """WITH t AS (SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS x,
        |             epoch_ms(ts) AS y, event_id AS id FROM events),
        |px AS (SELECT g, x, max(y) AS ymax_x FROM t GROUP BY g, x),
        |sw AS (SELECT g, x, ymax_x,
        |         max(ymax_x) OVER (PARTITION BY g ORDER BY x DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ymax_better
        |       FROM px),
        |f AS (SELECT g, x, ymax_x FROM sw
        |      WHERE ymax_better IS NULL OR ymax_x > ymax_better)
        |SELECT t.g AS event_type, t.x, t.y, t.id
        |FROM t JOIN f USING (g, x) WHERE t.y = f.ymax_x""".stripMargin,
    "q_wow_change" ->
      """WITH wk AS (SELECT event_type AS g, epoch_ms(ts) // 604800000 AS week,
        |              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total
        |            FROM events GROUP BY g, week),
        |l AS (SELECT *, lag(total) OVER (PARTITION BY g ORDER BY week) AS prev_total FROM wk)
        |SELECT g AS event_type, week, total, prev_total,
        |  round((total - prev_total)::DOUBLE / prev_total::DOUBLE * 100, 4) + 0.0 AS pct_change
        |FROM l""".stripMargin,
    "q_degree_dist" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e0 AS (SELECT x.i AS pa, y.i AS pb FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT pa AS u, pb AS v FROM e0 UNION SELECT pb, pa FROM e0),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY u)
        |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes, min(u) AS min_id, max(u) AS max_id
        |FROM deg GROUP BY degree""".stripMargin,
    "q_avg_precision" ->
      """WITH t AS (SELECT event_type = 'purchase' AS pos,
        |             CAST(round(value * 100) AS BIGINT) AS s, event_id AS id FROM events),
        |r AS (SELECT pos, row_number() OVER wo AS k,
        |        sum(CASE WHEN pos THEN 1 ELSE 0 END) OVER
        |          (wo ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t WINDOW wo AS (ORDER BY s DESC, id))
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  round(sum(CASE WHEN pos THEN cum::DOUBLE / k::DOUBLE ELSE 0.0 END) /
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END)::DOUBLE, 6) + 0.0 AS avg_precision
        |FROM r""".stripMargin,
    "q_bh_fdr" ->
      """WITH cells AS (SELECT source AS g,
        |        CASE WHEN lang = 'en' THEN 'en' WHEN lang = 'zh' THEN 'zh'
        |             ELSE 'other' END AS c,
        |        CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2),
        |gm AS (SELECT g, CAST(sum(n) AS BIGINT) AS ng FROM cells GROUP BY g),
        |cm AS (SELECT c, CAST(sum(n) AS BIGINT) AS nc FROM cells GROUP BY c),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
        |osum AS (SELECT g, list_reduce(list(n::DOUBLE * n::DOUBLE / nc::DOUBLE ORDER BY c),
        |                               (a, b) -> a + b) AS osum
        |         FROM cells JOIN cm USING (c) GROUP BY g),
        |x AS (SELECT osum.g, nt::DOUBLE / ng::DOUBLE * osum - ng::DOUBLE AS chi2
        |      FROM osum JOIN gm ON osum.g = gm.g, tot),
        |p AS (SELECT g, chi2, exp(-chi2 / 2) AS p FROM x),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY p, g) AS BIGINT) AS rank,
        |        CAST(count(*) OVER () AS BIGINT) AS m FROM p),
        |km AS (SELECT max(CASE WHEN p <= rank::DOUBLE * 0.05 / m::DOUBLE
        |                       THEN rank ELSE 0 END) AS kmax FROM r)
        |SELECT g AS source, round(chi2, 4) + 0.0 AS chi2,
        |  round(p, 6) + 0.0 AS p_value, rank, rank <= kmax AS rejected
        |FROM r, km""".stripMargin,
    "q_holm" ->
      """WITH cells AS (SELECT source AS g,
        |        CASE WHEN lang = 'en' THEN 'en' WHEN lang = 'zh' THEN 'zh'
        |             ELSE 'other' END AS c,
        |        CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2),
        |gm AS (SELECT g, CAST(sum(n) AS BIGINT) AS ng FROM cells GROUP BY g),
        |cm AS (SELECT c, CAST(sum(n) AS BIGINT) AS nc FROM cells GROUP BY c),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
        |osum AS (SELECT g, list_reduce(list(n::DOUBLE * n::DOUBLE / nc::DOUBLE ORDER BY c),
        |                               (a, b) -> a + b) AS osum
        |         FROM cells JOIN cm USING (c) GROUP BY g),
        |x AS (SELECT osum.g, nt::DOUBLE / ng::DOUBLE * osum - ng::DOUBLE AS chi2
        |      FROM osum JOIN gm ON osum.g = gm.g, tot),
        |p AS (SELECT g, chi2, exp(-chi2 / 2) AS p FROM x),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY p, g) AS BIGINT) AS rank,
        |        CAST(count(*) OVER () AS BIGINT) AS m FROM p),
        |h AS (SELECT *, 0.05 / CAST(m - rank + 1 AS DOUBLE) AS alpha_i,
        |        min(CASE WHEN p <= 0.05 / CAST(m - rank + 1 AS DOUBLE) THEN 1 ELSE 0 END)
        |          OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS all_pass
        |      FROM r)
        |SELECT g AS source, round(chi2, 4) + 0.0 AS chi2,
        |  round(p, 6) + 0.0 AS p_value, rank,
        |  round(alpha_i, 6) AS alpha_threshold, all_pass = 1 AS rejected
        |FROM h""".stripMargin,
    "q_auc_roc" ->
      """WITH t AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |             event_type = 'purchase' AS grp FROM events),
        |h AS (SELECT v, CAST(count(*) AS BIGINT) AS c,
        |        CAST(sum(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |      FROM t GROUP BY v),
        |r AS (SELECT c1, c, sum(c) OVER (ORDER BY v) - c AS cumPrev FROM h),
        |a AS (SELECT CAST(sum(c1 * (cumPrev * 2 + c + 1)) AS BIGINT) AS r2sum1,
        |        CAST(sum(c1) AS BIGINT) AS n_pos, CAST(sum(c - c1) AS BIGINT) AS n_neg FROM r)
        |SELECT n_pos, n_neg,
        |  round((r2sum1 - n_pos * (n_pos + 1))::DOUBLE / (n_pos * n_neg * 2)::DOUBLE, 6) + 0.0 AS auc
        |FROM a""".stripMargin,
    "q_lift_deciles" ->
      """WITH t AS (SELECT o_orderstatus = 'F' AS resp,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS s, o_orderkey AS tie
        |           FROM orders),
        |b AS (SELECT ntile(10) OVER (ORDER BY s DESC, tie) AS bucket, resp FROM t),
        |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN resp THEN 1 ELSE 0 END) AS BIGINT) AS resp
        |      FROM b GROUP BY bucket),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(resp) AS BIGINT) AS tresp FROM g),
        |c AS (SELECT g.*, sum(n) OVER wo AS cum_n, sum(resp) OVER wo AS cum_resp
        |      FROM g WINDOW wo AS (ORDER BY bucket))
        |SELECT CAST(bucket AS INTEGER) AS bucket, n, resp,
        |  round(resp::DOUBLE / n::DOUBLE, 6) + 0.0 AS resp_rate,
        |  round((cum_resp::DOUBLE / cum_n::DOUBLE) / (tresp::DOUBLE / tn::DOUBLE), 6) + 0.0 AS cum_lift,
        |  round(cum_resp::DOUBLE / tresp::DOUBLE, 6) + 0.0 AS cum_gain
        |FROM c, tot""".stripMargin,
    "q_logdice" ->
      """WITH w AS (SELECT string_split(lower(text), ' ') AS ws FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, len(ws)),
        |        i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS u FROM w WHERE len(ws) >= 2),
        |c12 AS (SELECT u.w1 AS w1, u.w2 AS w2, CAST(count(*) AS BIGINT) AS c12 FROM p GROUP BY 1, 2),
        |uni AS (SELECT unnest(ws) AS w FROM w),
        |cu AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM uni GROUP BY w)
        |SELECT c12.w1, c12.w2, c12.c12,
        |  round(14.0 + log2(2.0 * c12.c12::DOUBLE / CAST(u1.cu + u2.cu AS DOUBLE)), 4) + 0.0
        |    AS logdice
        |FROM c12 JOIN cu u1 ON u1.w = c12.w1 JOIN cu u2 ON u2.w = c12.w2
        |WHERE c12.c12 >= 5
        |ORDER BY logdice DESC, c12.w1, c12.w2 LIMIT 20""".stripMargin,
    "q_collocations" ->
      """WITH w AS (SELECT string_split(lower(text), ' ') AS ws FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, len(ws)),
        |        i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS u FROM w WHERE len(ws) >= 2),
        |c12 AS (SELECT u.w1 AS w1, u.w2 AS w2, CAST(count(*) AS BIGINT) AS c12 FROM p GROUP BY 1, 2),
        |uni AS (SELECT unnest(ws) AS w FROM w),
        |cu AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM uni GROUP BY w),
        |tot AS (SELECT CAST(sum(c12) AS BIGINT) AS np FROM c12)
        |SELECT c12.w1, c12.w2, c12.c12,
        |  round(log2(c12.c12::DOUBLE * np::DOUBLE / (u1.cu::DOUBLE * u2.cu::DOUBLE)), 4) + 0.0 AS pmi
        |FROM c12 JOIN cu u1 ON u1.w = c12.w1 JOIN cu u2 ON u2.w = c12.w2, tot
        |WHERE c12.c12 >= 5
        |ORDER BY pmi DESC, c12.w1, c12.w2 LIMIT 20""".stripMargin,
    "q_ivfpq_search" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |coarse AS (SELECT id AS lid, v AS cv FROM e WHERE id < 8),
        |book AS (SELECT id AS cid, s.s AS bs, list_slice(v, s.s * 16 + 1, s.s * 16 + 16) AS bv
        |         FROM e, (SELECT unnest(range(0, 4)) AS s) s WHERE id < 16),
        |la AS (SELECT e.id, lid,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS d
        |       FROM e CROSS JOIN coarse),
        |lmin AS (SELECT id, lid AS list FROM (
        |           SELECT id, lid, row_number() OVER (PARTITION BY id ORDER BY d, lid) AS rn
        |           FROM la) x WHERE rn = 1),
        |ca AS (SELECT e.id, b.bs, b.cid,
        |         list_sum(list_transform(range(1, 17),
        |           i -> (list_slice(v, b.bs * 16 + 1, b.bs * 16 + 16)[i] - b.bv[i]) *
        |                (list_slice(v, b.bs * 16 + 1, b.bs * 16 + 16)[i] - b.bv[i]))) AS d
        |       FROM e CROSS JOIN book b),
        |cmin AS (SELECT id, bs, cid FROM (
        |           SELECT id, bs, cid, row_number() OVER (PARTITION BY id, bs ORDER BY d, cid) AS rn
        |           FROM ca) x WHERE rn = 1),
        |codes AS (SELECT l.id, l.list,
        |            sum(CASE WHEN bs = 0 THEN cid END) AS code0,
        |            sum(CASE WHEN bs = 1 THEN cid END) AS code1,
        |            sum(CASE WHEN bs = 2 THEN cid END) AS code2,
        |            sum(CASE WHEN bs = 3 THEN cid END) AS code3
        |          FROM lmin l JOIN cmin USING (id) GROUP BY l.id, l.list),
        |probes AS (SELECT id AS pid, v FROM e WHERE id >= 24 AND id < 29),
        |pl AS (SELECT pid, lid AS list FROM (
        |         SELECT pid, lid, row_number() OVER (PARTITION BY pid ORDER BY d, lid) AS rn
        |         FROM (SELECT p.pid, c.lid,
        |                 list_sum(list_transform(range(1, 65),
        |                   i -> (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i]))) AS d
        |               FROM probes p CROSS JOIN coarse c) x) y WHERE rn <= 2),
        |lut AS (SELECT p.pid, b.bs, b.cid,
        |          list_sum(list_transform(range(1, 17),
        |            i -> (list_slice(p.v, b.bs * 16 + 1, b.bs * 16 + 16)[i] - b.bv[i]) *
        |                 (list_slice(p.v, b.bs * 16 + 1, b.bs * 16 + 16)[i] - b.bv[i]))) AS d
        |        FROM probes p CROSS JOIN book b),
        |cand AS (SELECT pl.pid, codes.id,
        |           ((l0.d + l1.d) + l2.d) + l3.d AS adc
        |         FROM codes JOIN pl USING (list)
        |           JOIN lut l0 ON l0.pid = pl.pid AND l0.bs = 0 AND l0.cid = codes.code0
        |           JOIN lut l1 ON l1.pid = pl.pid AND l1.bs = 1 AND l1.cid = codes.code1
        |           JOIN lut l2 ON l2.pid = pl.pid AND l2.bs = 2 AND l2.cid = codes.code2
        |           JOIN lut l3 ON l3.pid = pl.pid AND l3.bs = 3 AND l3.cid = codes.code3)
        |SELECT pid AS probe_id, id AS neighbor_id, CAST(rank AS INTEGER) AS rank,
        |       round(adc, 6) + 0.0 AS adc_dist
        |FROM (SELECT pid, id, adc,
        |        row_number() OVER (PARTITION BY pid ORDER BY adc, id) AS rank
        |      FROM cand) x
        |WHERE rank <= 5""".stripMargin,
    "q_logrank" ->
      """WITH t AS (SELECT user_id AS s, epoch_ms(ts) AS ms, event_id AS tie,
        |             event_type = 'error' AS ev, event_type = 'click' AS ga FROM events),
        |h AS (SELECT max(ms) AS h_ms FROM t),
        |fr AS (SELECT s, ga AS grp_a FROM (
        |         SELECT s, ga, row_number() OVER (PARTITION BY s ORDER BY ms, tie, ga) AS rn
        |         FROM t) x WHERE rn = 1),
        |per AS (SELECT s, min(ms) AS start_ms,
        |          min(CASE WHEN ev THEN ms END) AS ev_ms FROM t GROUP BY s),
        |durs AS (SELECT (COALESCE(ev_ms, h_ms) - start_ms) // 86400000 AS t_day,
        |           ev_ms IS NOT NULL AS observed, grp_a
        |         FROM per JOIN fr USING (s), h),
        |byday AS (SELECT t_day,
        |            CAST(sum(CASE WHEN observed AND grp_a THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |            CAST(sum(CASE WHEN observed AND NOT grp_a THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |            CAST(sum(CASE WHEN NOT observed AND grp_a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |            CAST(sum(CASE WHEN NOT observed AND NOT grp_a THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |          FROM durs GROUP BY t_day),
        |tot AS (SELECT CAST(sum(d1 + c1) AS BIGINT) AS na,
        |               CAST(sum(d2 + c2) AS BIGINT) AS nb FROM byday),
        |r AS (SELECT t_day, d1, d2, na, nb,
        |        na - (sum(d1 + c1) OVER w - d1 - c1) AS n1,
        |        nb - (sum(d2 + c2) OVER w - d2 - c2) AS n2
        |      FROM byday, tot
        |      WINDOW w AS (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |r2 AS (SELECT *, d1 + d2 AS d, n1 + n2 AS n FROM r),
        |acc AS (SELECT na, nb,
        |          sum(d1) OVER w2 AS o1,
        |          sum(CASE WHEN d > 0 THEN d::DOUBLE * n1::DOUBLE / n::DOUBLE
        |                   ELSE 0.0 END) OVER w2 AS e1,
        |          sum(CASE WHEN d > 0 AND n > 1
        |                   THEN d::DOUBLE * n1::DOUBLE * n2::DOUBLE * (n - d)::DOUBLE /
        |                        (n::DOUBLE * n::DOUBLE * (n - 1)::DOUBLE)
        |                   ELSE 0.0 END) OVER w2 AS v,
        |          row_number() OVER (ORDER BY t_day DESC) AS rn
        |        FROM r2
        |        WINDOW w2 AS (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT na AS n_a, nb AS n_b, CAST(o1 AS BIGINT) AS obs_a,
        |  round(e1, 4) + 0.0 AS exp_a,
        |  round((o1::DOUBLE - e1) / sqrt(v), 4) + 0.0 AS z_score,
        |  round((o1::DOUBLE - e1) * (o1::DOUBLE - e1) / v, 4) + 0.0 AS chi2
        |FROM acc WHERE rn = 1""".stripMargin,
    "q_emd_drift" ->
      """WITH mid AS (SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS mid_ms FROM events),
        |t AS (SELECT event_type AS g, epoch_ms(ts) < mid_ms AS a,
        |        CAST(round(value * 100) AS BIGINT) AS x FROM events, mid),
        |h AS (SELECT g, x, CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |        CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |      FROM t GROUP BY g, x),
        |c AS (SELECT g, sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
        |        lead(x) OVER (PARTITION BY g ORDER BY x) - x AS gap
        |      FROM h WINDOW w AS (PARTITION BY g ORDER BY x
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |n AS (SELECT g, CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        |      FROM h GROUP BY g),
        |a AS (SELECT c.g, n1, n2,
        |        sum(CAST(abs(cum1 * n2 - cum2 * n1) AS HUGEINT) * gap)::DOUBLE AS anum
        |      FROM c JOIN n USING (g) WHERE gap IS NOT NULL GROUP BY c.g, n1, n2)
        |SELECT g AS event_type, n1, n2,
        |  round(anum / (n1 * n2)::DOUBLE, 4) + 0.0 AS emd
        |FROM a WHERE n1 > 0 AND n2 > 0""".stripMargin,
    "q_assortativity" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e0 AS (SELECT x.i AS pa, y.i AS pb FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS a, pb AS b FROM e0),
        |sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u AS vx, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u),
        |t AS (SELECT da.deg AS x, db.deg AS y
        |      FROM sym JOIN deg da ON da.vx = sym.u JOIN deg db ON db.vx = sym.v),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        sum(x)::DOUBLE AS sx, sum(y)::DOUBLE AS sy,
        |        sum(CAST(x AS HUGEINT) * x)::DOUBLE AS sxx,
        |        sum(CAST(x AS HUGEINT) * y)::DOUBLE AS sxy,
        |        sum(CAST(y AS HUGEINT) * y)::DOUBLE AS syy
        |      FROM t)
        |SELECT n AS n_directed_edges,
        |  round((sxy * n - sx * sy) /
        |        (sqrt(sxx * n - sx * sx) * sqrt(syy * n - sy * sy)), 6) + 0.0 AS assortativity
        |FROM s""".stripMargin,
    "q_link_predict" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e0 AS (SELECT x.i AS pa, y.i AS pb FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS a, pb AS b FROM e0),
        |sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u AS vx, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u),
        |cand AS (SELECT l.u AS pa, r.v AS pb, CAST(count(*) AS BIGINT) AS cn
        |         FROM sym l JOIN sym r ON l.v = r.u AND l.u < r.v
        |         GROUP BY 1, 2 HAVING count(*) >= 2),
        |nc AS (SELECT cand.* FROM cand LEFT JOIN e ON e.a = cand.pa AND e.b = cand.pb
        |       WHERE e.a IS NULL)
        |SELECT nc.pa, nc.pb, nc.cn, da.deg * db.deg AS pref_attach
        |FROM nc JOIN deg da ON da.vx = nc.pa JOIN deg db ON db.vx = nc.pb""".stripMargin,
    "q_adamic_adar" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e0 AS (SELECT x.i AS pa, y.i AS pb FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS a, pb AS b FROM e0),
        |sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u AS vx, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u),
        |wd AS (SELECT l.u AS pa, r.v AS pb, d.deg AS dz, CAST(count(*) AS BIGINT) AS c
        |       FROM sym l JOIN sym r ON l.v = r.u AND l.u < r.v
        |       JOIN deg d ON d.vx = l.v
        |       GROUP BY 1, 2, 3),
        |cand AS (SELECT pa, pb, CAST(sum(c) AS BIGINT) AS cn,
        |           round(sum(CAST(c AS DOUBLE) / ln(CAST(dz AS DOUBLE))), 4) AS adamic_adar
        |         FROM wd GROUP BY 1, 2 HAVING sum(c) >= 2)
        |SELECT cand.pa, cand.pb, cand.cn, cand.adamic_adar
        |FROM cand LEFT JOIN e ON e.a = cand.pa AND e.b = cand.pb
        |WHERE e.a IS NULL""".stripMargin,
    "q_node_jaccard" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e0 AS (SELECT x.i AS pa, y.i AS pb FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS a, pb AS b FROM e0),
        |sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u AS vx, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u),
        |cand AS (SELECT l.u AS pa, r.v AS pb, CAST(count(*) AS BIGINT) AS cn
        |         FROM sym l JOIN sym r ON l.v = r.u AND l.u < r.v
        |         GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT cand.pa, cand.pb, cand.cn, e.a IS NOT NULL AS is_edge,
        |  CAST(cand.cn AS DOUBLE) / CAST(da.deg + db.deg - cand.cn AS DOUBLE) AS jaccard
        |FROM cand LEFT JOIN e ON e.a = cand.pa AND e.b = cand.pb
        |JOIN deg da ON da.vx = cand.pa JOIN deg db ON db.vx = cand.pb""".stripMargin,
    "q_hits" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS u, l_partkey + 1000000000 AS v
        |       FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
        |h1 AS (SELECT u AS id, CAST(count(*) AS HUGEINT) AS h FROM e GROUP BY u),
        |a1 AS (SELECT e.v AS id, CAST(sum(h1.h) AS HUGEINT) AS a
        |       FROM e JOIN h1 ON h1.id = e.u GROUP BY e.v),
        |h2 AS (SELECT e.u AS id, CAST(sum(a1.a) AS HUGEINT) AS h
        |       FROM e JOIN a1 ON a1.id = e.v GROUP BY e.u),
        |a2 AS (SELECT e.v AS id, CAST(sum(h2.h) AS HUGEINT) AS a
        |       FROM e JOIN h2 ON h2.id = e.u GROUP BY e.v),
        |t AS (SELECT (SELECT sum(h) FROM h2) AS th, (SELECT sum(a) FROM a2) AS ta)
        |SELECT n.id, CAST(coalesce(h2.h, 0) AS BIGINT) AS hub_raw,
        |  CAST(coalesce(a2.a, 0) AS BIGINT) AS auth_raw,
        |  CAST(coalesce(h2.h, 0) AS DOUBLE) / CAST(t.th AS DOUBLE) AS hub_score,
        |  CAST(coalesce(a2.a, 0) AS DOUBLE) / CAST(t.ta AS DOUBLE) AS auth_score
        |FROM nodes n LEFT JOIN h2 ON h2.id = n.id LEFT JOIN a2 ON a2.id = n.id, t""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INTEGER) AS gid,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin
  )
}
