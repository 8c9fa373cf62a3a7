package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical inference tests over corpus/event data — the second half
  * of the statistics layer (Stats.scala holds regression/correlation;
  * this file holds distribution tests and survival analysis).
  *
  * Exactness contract (SURVEY.md §5): every statistic flows through
  * exact integer counts/sums; doubles appear only in the final closed
  * form, rounded at 4-6 dp. Cumulative-window statistics (KS ECDF,
  * Kaplan-Meier log-survival) run over ORDERED windows, so both
  * engines accumulate doubles in the same sequence and agree bitwise.
  *
  * Scale posture: the KS and Kaplan-Meier windows are unpartitioned
  * BUT run over the aggregated value/time DOMAIN (distinct cents
  * buckets, distinct churn days), not over rows — the domain is
  * bounded by the value range / observation span, so the single
  * partition holds thousands of rows at any corpus size. All other
  * shapes are plain keyed aggregates; contingency margins broadcast.
  */
object Inference {

  /** Two-sample Kolmogorov-Smirnov D over an integral measurement
    * (e.g. cents): D = max |ECDF_a - ECDF_b|, kept exact as the
    * integer max of |cum_a*n_b - cum_b*n_a| until the final divide.
    * The asymptotic z = D * sqrt(n_a*n_b/(n_a+n_b)).
    */
  /** Two-sample Cramér–von Mises T (Anderson 1962) — the
    * whole-distribution companion to [[ksTest]]: where KS reads only
    * the single worst ECDF gap, T integrates the SQUARED gap over the
    * pooled empirical measure, so many small persistent differences
    * (a variance or tail change KS under-weights) still register.
    * T = (n₁n₂/N)·Σ_x (F₁−F₂)²·(c₁+c₂)/N, kept exact as
    * Σ (c₁+c₂)·(cum₁·n₂ − cum₂·n₁)² in DECIMAL (d ≤ n₁·n₂ so d² needs
    * 128-bit — ≡ DuckDB HUGEINT) over the distinct-value histogram;
    * one double division at the end. Same scale posture as ksTest:
    * the ECDF scan is bounded by value cardinality, not rows.
    */
  def cramerVonMises(df: DataFrame, isA: Column, v: Column): DataFrame = {
    def d(c: Column) = c.cast("decimal(19,0)")
    val t = df.select(isA.as("a"), v.cast("long").as("x"))
    val h = t.groupBy("x").agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("c1"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.select(col("c1"), col("c2"),
      sum("c1").over(w).as("cum1"), sum("c2").over(w).as("cum2"))
    val tot = h.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    cum.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"), (col("c1") + col("c2")).as("cnt"),
        // dd itself needs 128-bit, not just dd²: cum·n products wrap
        // int64 silently once n1·n2 > 2^63 while the DuckDB oracle's
        // HUGEINT window sums stay exact — form dd in DECIMAL(38,0)
        // (dec19 × dec19 products) before squaring.
        (d(col("cum1")) * d(col("n2")) - d(col("cum2")) * d(col("n1"))).as("dd"))
      .groupBy("n1", "n2")
      .agg(sum(d(col("cnt")) * col("dd") * col("dd")).cast("double").as("num"))
      .select(col("n1"), col("n2"),
        round(col("num") / (col("n1").cast("double") * col("n2").cast("double") *
          ((col("n1") + col("n2")).cast("double") *
            (col("n1") + col("n2")).cast("double"))), 6).as("cvm_t"))
  }

  def ksTest(df: DataFrame, isA: Column, v: Column): DataFrame =
    ksTestFromHist(df.select(isA.as("a"), v.cast("long").as("x"))
      .groupBy("x").agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("c2")))

  /** Histogram-grain core of [[ksTest]] — input is (x, c1, c2) value
    * counts. Split out so the overflow regime (per-sample counts whose
    * cross-products pass 2^63, unreachable through row-grain specs) is
    * directly testable.
    */
  private[graft] def ksTestFromHist(h: DataFrame): DataFrame = {
    // same 128-bit discipline as [[cramerVonMises]]: cum·n cross-products
    // wrap int64 silently once n1·n2 > 2^63 (plausible per-corpus at the
    // 100 TB regime) while the DuckDB oracle's HUGEINT stays exact — form
    // dnum and the n1·n2 denominator in DECIMAL(38,0).
    def d(c: Column) = c.cast("decimal(19,0)")
    // cumulative ECDF numerators over the distinct-value domain
    val w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.select(
      sum("c1").over(w).as("cum1"), sum("c2").over(w).as("cum2"))
    val tot = h.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    cum.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        abs(d(col("cum1")) * d(col("n2")) - d(col("cum2")) * d(col("n1"))).as("dnum"))
      .groupBy("n1", "n2").agg(max("dnum").as("dnum"))
      .select(col("n1"), col("n2"),
        round(col("dnum").cast("double") / (d(col("n1")) * d(col("n2"))).cast("double"), 6).as("ks_d"),
        round(col("dnum").cast("double") / (d(col("n1")) * d(col("n2"))).cast("double") *
          sqrt((d(col("n1")) * d(col("n2"))).cast("double") /
            (col("n1") + col("n2")).cast("double")), 4).as("ks_z"))
  }

  /** Grouped two-sample KS: one D statistic per group — the
    * continuous-feature drift gate (PSI's complement: no binning
    * choice). Same exact-integer construction as [[ksTest]] with
    * every window keyed by the group, so the cumulative ECDF scan
    * partitions by group and scales with groups × value-domain.
    */
  def ksTestBy(df: DataFrame, groupCol: String, isA: Column, v: Column): DataFrame =
    ksTestByFromHist(
      df.select(col(groupCol).as("g"), isA.as("a"), v.cast("long").as("x"))
        .groupBy("g", "x").agg(
          sum(when(col("a"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("c2")),
      groupCol)

  /** Histogram-grain core of [[ksTestBy]] — input is (g, x, c1, c2);
    * split out for direct overflow-regime testing like
    * [[ksTestFromHist]].
    */
  private[graft] def ksTestByFromHist(h: DataFrame, groupCol: String): DataFrame = {
    // DECIMAL(38,0) cross-products, per-group edition of the ksTest
    // widening (n1·n2 > 2^63 per group is the realistic 100 TB regime).
    def d(c: Column) = c.cast("decimal(19,0)")
    val w = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.select(col("g"),
      sum("c1").over(w).as("cum1"), sum("c2").over(w).as("cum2"))
    val tot = h.groupBy("g").agg(sum("c1").as("n1"), sum("c2").as("n2"))
    cum.join(tot, "g")
      .select(col("g"), col("n1"), col("n2"),
        abs(d(col("cum1")) * d(col("n2")) - d(col("cum2")) * d(col("n1"))).as("dnum"))
      .groupBy("g", "n1", "n2").agg(max("dnum").as("dnum"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .select(col("g").as(groupCol), col("n1"), col("n2"),
        round(col("dnum").cast("double") / (d(col("n1")) * d(col("n2"))).cast("double"), 6).as("ks_d"),
        round(col("dnum").cast("double") / (d(col("n1")) * d(col("n2"))).cast("double") *
          sqrt((d(col("n1")) * d(col("n2"))).cast("double") /
            (col("n1") + col("n2")).cast("double")), 4).as("ks_z"))
  }

  /** (cells, rowMargins, colMargins, total) of the r×c contingency
    * table — all exact longs; margins are broadcast-sized.
    */
  private def contingency(df: DataFrame, rowCol: String, colCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // the cell table is r×c rows (tiny); checkpointing it collapses
    // the margin/total/join consumers onto ONE corpus scan + shuffle —
    // uncheckpointed, Catalyst re-derives the aggregate for all four
    // subtrees and the corpus is scanned four times
    val cells = df.groupBy(col(rowCol).as("r"), col(colCol).as("c"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val rm = cells.groupBy("r").agg(sum("n").as("nr"))
    val cm = cells.groupBy("c").agg(sum("n").as("nc"))
    val tot = cells.agg(sum("n").as("nt"),
      countDistinct("r").as("n_r"), countDistinct("c").as("n_c"))
    (cells, rm, cm, tot)
  }

  /** Pearson chi-square test of independence + Cramér's V for an r×c
    * contingency table (e.g. source × lang). Expected counts are the
    * margin product over N; the cell sum is a double over O(r·c)
    * well-scaled terms (4 dp — the Benford/KL rounding family).
    */
  def chiSquareIndependence(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val (cells, rm, cm, tot) = contingency(df, rowCol, colCol)
    // zero-cell-free identity: chi2 = N·Σ_observed n²/(nr·nc) − N —
    // structural zeros contribute 0 to the sum but NOT to Σ(n−E)²/E,
    // so summing (n−E)²/E over observed cells alone would undercount
    cells.join(broadcast(rm), "r").join(broadcast(cm), "c").crossJoin(broadcast(tot))
      .select(col("nt"), col("n_r"), col("n_c"),
        (col("n").cast("double") * col("n").cast("double") /
          (col("nr").cast("double") * col("nc").cast("double"))).as("term"))
      .groupBy("nt", "n_r", "n_c").agg(sum("term").as("tsum"))
      .select(col("nt").as("n"),
        round(col("tsum") * col("nt").cast("double") - col("nt").cast("double"), 4).as("chi2"),
        ((col("n_r") - 1) * (col("n_c") - 1)).as("dof"),
        round(sqrt((col("tsum") * col("nt").cast("double") - col("nt").cast("double")) /
          (col("nt") * least(col("n_r") - 1, col("n_c") - 1)).cast("double")), 6)
          .as("cramers_v"))
  }

  /** Mutual information I(R;C) in bits plus the marginal entropies and
    * the normalized MI = I / min(H(R), H(C)) — the "are these two
    * labelings redundant" corpus diagnostic.
    */
  def mutualInformation(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val (cells, rm, cm, tot) = contingency(df, rowCol, colCol)
    val nt = col("nt").cast("double")
    val miTerm = (col("n").cast("double") / nt) *
      log2(col("n").cast("double") * nt / (col("nr").cast("double") * col("nc").cast("double")))
    val joined = cells.join(broadcast(rm), "r").join(broadcast(cm), "c").crossJoin(broadcast(tot))
    val mi = joined.select(col("nt"), miTerm.as("term"))
      .groupBy("nt").agg(sum("term").as("mi"))
    val hr = rm.crossJoin(broadcast(tot))
      .select((col("nr").cast("double") / nt * log2(col("nr").cast("double") / nt)).as("t"))
      .agg((-sum("t")).as("h_row"))
    val hc = cm.crossJoin(broadcast(tot))
      .select((col("nc").cast("double") / nt * log2(col("nc").cast("double") / nt)).as("t"))
      .agg((-sum("t")).as("h_col"))
    mi.crossJoin(broadcast(hr)).crossJoin(broadcast(hc))
      .select(col("nt").as("n"),
        round(col("mi"), 6).as("mi_bits"),
        round(col("h_row"), 6).as("h_row"),
        round(col("h_col"), 6).as("h_col"),
        round(col("mi") / least(col("h_row"), col("h_col")), 6).as("nmi"))
  }

  /** Mann-Kendall trend test per group over a per-period integral
    * aggregate (Mann 1945, Kendall 1975): S = sum over ordered period
    * pairs of sign(x_j - x_i); tau-a = S / (n(n-1)/2); z uses the
    * no-ties variance n(n-1)(2n+5)/18 with continuity correction.
    * The pair join is bounded by the PERIOD domain (days²), not rows.
    *
    * Contract: the (group, period) aggregate is BROADCAST, so
    * |groups| × |periods| rows must fit a broadcast: a low-cardinality
    * `groupCol` (the one caller groups by `event_type`, a handful of
    * values, over days), never a per-user or per-document trend test.
    */
  def mannKendall(df: DataFrame, groupCol: String, period: Column, x: Column): DataFrame = {
    val d = df.select(col(groupCol).as("g"), period.as("p"), x.cast("long").as("x"))
      .groupBy("g", "p").agg(sum("x").as("x"))
    val a = d.select(col("g"), col("p").as("pa"), col("x").as("xa"))
    val b = d.select(col("g").as("g2"), col("p").as("pb"), col("x").as("xb"))
    // BROADCAST the right side (period-domain bounded, tiny): the join
    // key g has only a handful of distinct values, so a shuffled join
    // serializes the O(days²) pair expansion onto ≤|groups| tasks
    // (measured 10.4 s wall / 7.0 s cpu at sf0.1 — near-zero
    // parallelism). A broadcast hash join keeps the expansion's
    // parallelism at the STREAM side's partitioning instead of the key
    // cardinality — and because the stream side is itself a tiny
    // aggregate that AQE would coalesce to one partition, it is
    // round-robin spread over defaultParallelism first
    // (cluster-derived, not a tuned constant; round-robin rather than
    // keyed because a (g, pa) hash spread equals the upstream groupBy
    // exchange's partitioning and the planner elides it). The signum
    // sum still folds map-side. Same rows, same aggregation — result
    // unchanged.
    val aSpread = a.repartition(df.sparkSession.sparkContext.defaultParallelism)
    val s = aSpread.join(broadcast(b), col("g") === col("g2") && col("pa") < col("pb"))
      .groupBy("g").agg(sum(signum((col("xb") - col("xa")).cast("double")).cast("long")).as("s_stat"))
    val n = d.groupBy("g").agg(count(lit(1)).as("n_periods"))
    val nn = col("n_periods").cast("double")
    val varS = nn * (nn - 1) * (nn * 2 + 5) / 18.0
    val cc = when(col("s_stat") > 0, col("s_stat") - 1)
      .when(col("s_stat") < 0, col("s_stat") + 1).otherwise(lit(0L))
    s.join(n, "g")
      .select(col("g").as(groupCol), col("n_periods"), col("s_stat"),
        round(col("s_stat").cast("double") / (nn * (nn - 1) / 2.0), 6).as("tau"),
        round(cc.cast("double") / sqrt(varS), 4).as("z_score"))
  }

  /** Kaplan-Meier survival estimator (Kaplan & Meier 1958): subjects
    * enter at their first observation, the event is `isEvent`'s first
    * firing, everyone else is right-censored at the global last
    * observation. One row per distinct duration-day with an event:
    * at-risk count, events, censored, and the product-limit survival
    * S(t) = prod(1 - d_i/n_i), computed as exp of an ORDERED
    * cumulative log-sum so both engines accumulate identically.
    */
  def kaplanMeier(df: DataFrame, subjectCol: String, ts: Column, isEvent: Column): DataFrame = {
    val t = df.select(col(subjectCol).as("s"), ts.as("ts"), isEvent.as("ev"))
    val horizon = t.agg(max(unix_millis(col("ts"))).as("h_ms"))
    val per = t.groupBy("s").agg(
      min(unix_millis(col("ts"))).as("start_ms"),
      min(when(col("ev"), unix_millis(col("ts")))).as("ev_ms"))
    val durs = per.crossJoin(broadcast(horizon)).select(
      ((coalesce(col("ev_ms"), col("h_ms")) - col("start_ms")) / lit(86400000L))
        .cast("long").as("t_day"),
      col("ev_ms").isNotNull.as("observed"))
    val byDay = durs.groupBy("t_day").agg(
      sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
      sum(when(!col("observed"), 1L).otherwise(0L)).as("c"))
    val wCum = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = byDay.agg(sum(col("d") + col("c")).as("n_subj"))
    // If some day exhausts the risk set (n_risk == d) survival hits
    // exactly 0 — guarded explicitly because Spark's log(0) is null
    // while DuckDB's ln(0) is -inf; the cumulative min of (n_risk - d)
    // detects it portably.
    byDay.crossJoin(broadcast(total))
      // at risk at t = subjects whose duration >= t
      .withColumn("n_risk", col("n_subj") - (sum(col("d") + col("c")).over(wCum) - col("d") - col("c")))
      .withColumn("surv",
        when(min(col("n_risk") - col("d")).over(wCum) === 0, lit(0.0)).otherwise(
          exp(sum(log(when(col("n_risk") === col("d"), lit(1.0)).otherwise(
            (col("n_risk") - col("d")).cast("double") / col("n_risk").cast("double")))).over(wCum))))
      .filter(col("d") > 0)
      .select(col("t_day"), col("n_risk"), col("d").as("n_event"), col("c").as("n_censor"),
        round(col("surv"), 6).as("survival"))
  }

  /** ECDF score normalization against a REFERENCE population: every
    * target value is mapped to the fraction of the reference group's
    * values ≤ it — scoring a new harvest against the trusted corpus'
    * distribution (the within-group percent_rank of q_quantile_norm
    * cannot do cross-population scoring). The merged distinct-value
    * histogram carries reference cumulative counts past target-only
    * values (the [[ksTestBy]] scan, group × value-domain bounded);
    * the score is integer parts-per-million — engine-exact. Emitted
    * at (group, value) grain with the target multiplicity alongside.
    */
  def ecdfScore(df: DataFrame, groupCol: String, isRef: Column,
                v: Column): DataFrame =
    ecdfScoreFromHist(
      df.select(col(groupCol).as("g"), isRef.as("r"), v.cast("long").as("x"))
        .groupBy("g", "x").agg(
          sum(when(col("r"), 1L).otherwise(0L)).as("cr"),
          sum(when(!col("r"), 1L).otherwise(0L)).as("ct")),
      groupCol)

  /** Histogram-grain core of [[ecdfScore]] — input is (g, x, cr, ct);
    * split out for direct overflow-regime testing like
    * [[ksTestFromHist]].
    */
  private[graft] def ecdfScoreFromHist(h: DataFrame, groupCol: String): DataFrame = {
    val w = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nref = Window.partitionBy("g")
    h.withColumn("ref_le", sum("cr").over(w))
      .withColumn("n_ref", sum("cr").over(nref))
      .filter(col("ct") > 0 && col("n_ref") > 0)
      .select(col("g").as(groupCol), col("x").as("v"),
        col("ct").as("n_target"), col("ref_le"), col("n_ref"),
        // 1e6·ref_le wraps long past ~9.2e12 reference rows per group —
        // form the product in DECIMAL(38,0); `div` still emits BIGINT.
        expr("(1000000 * cast(ref_le as decimal(38,0))) div n_ref").as("pct_ppm"))
  }

  /** Nelson-Aalen cumulative-hazard estimator (Nelson 1972; Aalen
    * 1978) — [[kaplanMeier]]'s additive sibling: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ
    * with its variance Σ dᵢ/nᵢ², preferred when hazards are the
    * modeling target (H = −ln S only asymptotically). Identical
    * duration/risk-set construction and day-grain cumulative window
    * as kaplanMeier (calendar-bounded, 6dp like the log-sum there —
    * the summands are exact-integer ratios, the cumulative float sum
    * carries the same ordering discipline).
    */
  def nelsonAalen(df: DataFrame, subjectCol: String, ts: Column,
                  isEvent: Column): DataFrame = {
    val t = df.select(col(subjectCol).as("s"), ts.as("ts"), isEvent.as("ev"))
    val horizon = t.agg(max(unix_millis(col("ts"))).as("h_ms"))
    val per = t.groupBy("s").agg(
      min(unix_millis(col("ts"))).as("start_ms"),
      min(when(col("ev"), unix_millis(col("ts")))).as("ev_ms"))
    val durs = per.crossJoin(broadcast(horizon)).select(
      ((coalesce(col("ev_ms"), col("h_ms")) - col("start_ms")) / lit(86400000L))
        .cast("long").as("t_day"),
      col("ev_ms").isNotNull.as("observed"))
    val byDay = durs.groupBy("t_day").agg(
      sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
      sum(when(!col("observed"), 1L).otherwise(0L)).as("c"))
    val wCum = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = byDay.agg(sum(col("d") + col("c")).as("n_subj"))
    byDay.crossJoin(broadcast(total))
      .withColumn("n_risk", col("n_subj") - (sum(col("d") + col("c")).over(wCum) - col("d") - col("c")))
      .withColumn("hazard",
        sum(col("d").cast("double") / col("n_risk").cast("double")).over(wCum))
      .withColumn("hazard_var",
        sum(col("d").cast("double") /
          (col("n_risk") * col("n_risk")).cast("double")).over(wCum))
      .filter(col("d") > 0)
      .select(col("t_day"), col("n_risk"), col("d").as("n_event"),
        col("c").as("n_censor"),
        round(col("hazard"), 6).as("cum_hazard"),
        round(col("hazard_var"), 6).as("cum_hazard_var"))
  }

  /** Restricted mean survival time (Irwin 1949; Royston & Parmar
    * 2013): the area under the [[kaplanMeier]] curve up to `tauDays`
    * — "expected days survived out of the first τ", the
    * model-free effect size survival analysts report when hazards
    * aren't proportional. S is a step function dropping only at event
    * days, so the area is an exact sum of step×width terms over the
    * event-day table (day-grain, calendar-bounded like KM itself):
    * RMST = min(e₁,τ) + Σᵢ Sᵢ·(min(eᵢ₊₁,τ) − min(eᵢ,τ)).
    */
  def rmst(df: DataFrame, subjectCol: String, ts: Column, isEvent: Column,
           tauDays: Long): DataFrame = {
    val t = df.select(col(subjectCol).as("s"), ts.as("ts"), isEvent.as("ev"))
    val horizon = t.agg(max(unix_millis(col("ts"))).as("h_ms"))
    val per = t.groupBy("s").agg(
      min(unix_millis(col("ts"))).as("start_ms"),
      min(when(col("ev"), unix_millis(col("ts")))).as("ev_ms"))
    val durs = per.crossJoin(broadcast(horizon)).select(
      ((coalesce(col("ev_ms"), col("h_ms")) - col("start_ms")) / lit(86400000L))
        .cast("long").as("t_day"),
      col("ev_ms").isNotNull.as("observed"))
    val byDay = durs.groupBy("t_day").agg(
      sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
      sum(when(!col("observed"), 1L).otherwise(0L)).as("c"))
    val wCum = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = byDay.agg(sum(col("d") + col("c")).as("n_subj"))
    val km = byDay.crossJoin(broadcast(total))
      .withColumn("n_risk", col("n_subj") - (sum(col("d") + col("c")).over(wCum) - col("d") - col("c")))
      .withColumn("surv",
        when(min(col("n_risk") - col("d")).over(wCum) === 0, lit(0.0)).otherwise(
          exp(sum(log(when(col("n_risk") === col("d"), lit(1.0)).otherwise(
            (col("n_risk") - col("d")).cast("double") / col("n_risk").cast("double")))).over(wCum))))
      .filter(col("d") > 0)
      .select(col("t_day"), col("surv"), col("n_subj"))
    // Steps clamped to tau: S_i applies on [e_i, min(e_{i+1}, tau));
    // the pre-first-event stretch [0, min(e_1, tau)) survives at 1.
    val wLead = Window.orderBy("t_day")
    val segs = km
      .withColumn("next_t", coalesce(lead(col("t_day"), 1).over(wLead), lit(tauDays)))
      .withColumn("seg",
        col("surv") * greatest(
          least(col("next_t"), lit(tauDays)) - least(col("t_day"), lit(tauDays)),
          lit(0L)).cast("double"))
    segs.agg(
      max(col("n_subj")).as("n_subj"),
      min(col("t_day")).as("first_event_day"),
      sum(col("seg")).as("area_after"))
      .select(col("n_subj"), lit(tauDays).as("tau_days"),
        round(least(col("first_event_day"), lit(tauDays)).cast("double") +
          col("area_after"), 4).as("rmst_days"))
  }

  /** Benjamini–Hochberg FDR gate (Benjamini & Hochberg 1995) over a
    * family of per-group goodness-of-fit tests: each group's 3-category
    * distribution is tested against the corpus-wide mixture (chi²,
    * df = 2 — chosen because the df-2 survival function is the CLOSED
    * FORM p = exp(−χ²/2), portable across engines with no incomplete-
    * gamma dependency), then the m p-values are ranked ascending and
    * every test at rank ≤ max{i : p_i ≤ i·q/m} is rejected. This is
    * the multiple-testing discipline for fleet-wide drift monitors:
    * per-source alarms at a controlled FALSE DISCOVERY rate instead of
    * per-test α that fires spuriously when m is large.
    *
    * χ² uses the zero-safe identity Σ O²/E − n_g (zero-observed cells
    * contribute nothing to the sum, exactly as they should); all
    * inputs are exact counts. The ranking window runs over m rows
    * (one per group) — driver-scale, not corpus-scale.
    */
  /** (g, chi2, p) per group: chi² of the group's category distribution
    * against the corpus mixture, p from the df-2 closed form — the
    * shared family front-end of [[bhFdrGate]] and [[holmGate]].
    * chi2_g = (nt/ng)·Σ_c O²/nc − ng (E_c = ng·nc/nt); the Σ folds in
    * category-ascending order (sort_array + aggregate, bounded by the
    * category count) instead of a plain sum(): the rankings below
    * compare p-values ACROSS groups, so each group's double
    * accumulation must be order-deterministic or two groups with
    * identical counts can land on different last-ulp chi2 under
    * different partition orders (observed: rank ties flipping vs the
    * oracle) — and would also be retry/AQE-unstable.
    */
  private def chiSquarePvalues(df: DataFrame, groupCol: String,
                               cat: Column): DataFrame = {
    val cells = df.select(col(groupCol).as("g"), cat.as("c"))
      .groupBy("g", "c").agg(count(lit(1)).as("n"))
    val gm = cells.groupBy("g").agg(sum("n").as("ng"))
    val cm = cells.groupBy("c").agg(sum("n").as("nc"))
    val tot = cells.agg(sum("n").as("nt"))
    cells.join(broadcast(cm), "c")
      .select(col("g"), col("c"), (col("n").cast("double") * col("n").cast("double") /
        col("nc").cast("double")).as("term"))
      .groupBy("g").agg(aggregate(
        sort_array(collect_list(struct(col("c"), col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("osum"))
      .join(broadcast(gm), "g").crossJoin(broadcast(tot))
      .select(col("g"),
        (col("nt").cast("double") / col("ng").cast("double") * col("osum") -
          col("ng").cast("double")).as("chi2"))
      .withColumn("p", exp(-col("chi2") / 2))
  }

  def bhFdrGate(df: DataFrame, groupCol: String, cat: Column,
                q: Double): DataFrame = {
    val withP = chiSquarePvalues(df, groupCol, cat)
    val m = count(lit(1)).over(Window.partitionBy())
    val wRank = Window.orderBy(col("p"), col("g"))
    val ranked = withP
      .select(col("g"), col("chi2"), col("p"),
        row_number().over(wRank).cast("long").as("rank"), m.as("m"))
      .withColumn("passes", col("p") <= col("rank").cast("double") * q / col("m").cast("double"))
    val kmax = Window.partitionBy()
    ranked
      .withColumn("kmax", max(when(col("passes"), col("rank")).otherwise(0L)).over(kmax))
      .select(col("g").as(groupCol), round(col("chi2"), 4).as("chi2"),
        round(col("p"), 6).as("p_value"), col("rank"),
        (col("rank") <= col("kmax")).as("rejected"))
  }

  /** Holm-Bonferroni step-down gate (Holm 1979) over the same per-
    * group chi² family as [[bhFdrGate]]: reject ranks 1..r* where r*
    * is the longest PREFIX with p₍ᵢ₎ ≤ α/(m−i+1) — familywise-error
    * control (strictly stronger than BH's FDR) with no independence
    * assumption. The step-down stop is a cumulative min over the rank
    * axis (m-bounded window).
    */
  def holmGate(df: DataFrame, groupCol: String, cat: Column,
               alpha: Double): DataFrame = {
    val withP = chiSquarePvalues(df, groupCol, cat)
    val m = count(lit(1)).over(Window.partitionBy())
    val wRank = Window.orderBy(col("p"), col("g"))
    val ranked = withP
      .select(col("g"), col("chi2"), col("p"),
        row_number().over(wRank).cast("long").as("rank"), m.as("m"))
      .withColumn("alpha_i",
        lit(alpha) / (col("m") - col("rank") + 1).cast("double"))
      .withColumn("passes", col("p") <= col("alpha_i"))
    val wCum = Window.orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked
      .withColumn("all_pass", min(when(col("passes"), 1L).otherwise(0L)).over(wCum))
      .select(col("g").as(groupCol), round(col("chi2"), 4).as("chi2"),
        round(col("p"), 6).as("p_value"), col("rank"),
        round(col("alpha_i"), 6).as("alpha_threshold"),
        (col("all_pass") === 1L).as("rejected"))
  }

  /** Two-group log-rank test (Mantel 1966; Peto & Peto 1972) on the
    * same survival construction as [[kaplanMeier]]: subjects enter at
    * their first observation, the event is `isEvent`'s first firing,
    * censoring at the corpus horizon. A subject's arm is `isGroupA`
    * evaluated on its FIRST row (min over (ts, tie, flag) structs —
    * deterministic under ties).
    *
    * At each duration-day t with d(t) > 0 events: O₁ accumulates
    * group-A events (exact long); E₁ accumulates d·n₁/n and V the
    * hypergeometric variance d·(n₁/n)·(1−n₁/n)·(n−d)/(n−1). The two
    * double accumulations run as ORDERED window sums over the
    * duration-day axis (the kaplanMeier exp-of-ordered-log-sum
    * pattern), so both engines add the same terms in the same order.
    * The day table is bounded by the duration domain, not rows; one
    * row out: z = (O₁−E₁)/√V and χ² = z².
    */
  def logRank(df: DataFrame, subjectCol: String, ts: Column, tie: Column,
              isEvent: Column, isGroupA: Column): DataFrame = {
    val t = df.select(col(subjectCol).as("s"), unix_millis(ts).as("ms"),
      tie.as("tie"), isEvent.as("ev"), isGroupA.as("ga"))
    val horizon = t.agg(max(col("ms")).as("h_ms"))
    val per = t.groupBy("s").agg(
      min(col("ms")).as("start_ms"),
      min(when(col("ev"), col("ms"))).as("ev_ms"),
      min(struct(col("ms"), col("tie"), col("ga"))).getField("ga").as("grp_a"))
    val durs = per.crossJoin(broadcast(horizon)).select(
      ((coalesce(col("ev_ms"), col("h_ms")) - col("start_ms")) / lit(86400000L))
        .cast("long").as("t_day"),
      col("ev_ms").isNotNull.as("observed"), col("grp_a"))
    val byDay = durs.groupBy("t_day").agg(
      sum(when(col("observed") && col("grp_a"), 1L).otherwise(0L)).as("d1"),
      sum(when(col("observed") && !col("grp_a"), 1L).otherwise(0L)).as("d2"),
      sum(when(!col("observed") && col("grp_a"), 1L).otherwise(0L)).as("c1"),
      sum(when(!col("observed") && !col("grp_a"), 1L).otherwise(0L)).as("c2"))
    val wCum = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = byDay.agg(sum(col("d1") + col("c1")).as("na"),
      sum(col("d2") + col("c2")).as("nb"))
    val risk = byDay.crossJoin(broadcast(total))
      .withColumn("n1", col("na") - (sum(col("d1") + col("c1")).over(wCum) - col("d1") - col("c1")))
      .withColumn("n2", col("nb") - (sum(col("d2") + col("c2")).over(wCum) - col("d2") - col("c2")))
      .withColumn("d", col("d1") + col("d2"))
      .withColumn("n", col("n1") + col("n2"))
    val eTerm = when(col("d") > 0,
      col("d").cast("double") * col("n1").cast("double") / col("n").cast("double"))
      .otherwise(lit(0.0))
    val vTerm = when(col("d") > 0 && col("n") > 1,
      col("d").cast("double") * col("n1").cast("double") * col("n2").cast("double") *
        (col("n") - col("d")).cast("double") /
        (col("n").cast("double") * col("n").cast("double") * (col("n") - 1).cast("double")))
      .otherwise(lit(0.0))
    val acc = risk
      .withColumn("o1", sum(col("d1")).over(wCum))
      .withColumn("e1", sum(eTerm).over(wCum))
      .withColumn("v", sum(vTerm).over(wCum))
      .withColumn("rn", row_number().over(Window.orderBy(col("t_day").desc)))
      .filter(col("rn") === 1)
    acc.select(
      col("na").as("n_a"), col("nb").as("n_b"), col("o1").as("obs_a"),
      round(col("e1"), 4).as("exp_a"),
      round((col("o1").cast("double") - col("e1")) / sqrt(col("v")), 4).as("z_score"),
      round((col("o1").cast("double") - col("e1")) * (col("o1").cast("double") - col("e1")) /
        col("v"), 4).as("chi2"))
  }

  /** Grouped 1-D Wasserstein-1 (earth-mover) drift between the rows
    * where `isA` holds and the rest, per group: W₁ = ∫|F₁−F₂| dx over
    * the integer value domain. The companion to [[ksTestBy]] that
    * weighs HOW FAR mass moved, not just the worst gap.
    *
    * Exact end-to-end: on the per-(group, value) histogram,
    * Σ |cum1·n2 − cum2·n1| · (next_x − x) is an integer (longs
    * throughout; the segment between consecutive distinct values has
    * constant ECDF gap), and only the final division by n1·n2
    * happens in doubles. One corpus aggregation + one window over the
    * value domain per group.
    */
  def emdDriftBy(df: DataFrame, groupCol: String, isA: Column, v: Column): DataFrame =
    emdDriftByFromHist(
      df.select(col(groupCol).as("g"), isA.as("a"), v.cast("long").as("x"))
        .groupBy("g", "x").agg(
          sum(when(col("a"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("c2")),
      groupCol)

  /** Histogram-grain core of [[emdDriftBy]] — input is (g, x, c1, c2);
    * split out for direct overflow-regime testing like
    * [[ksTestFromHist]].
    */
  private[graft] def emdDriftByFromHist(h: DataFrame, groupCol: String): DataFrame = {
    val wOrd = Window.partitionBy("g").orderBy("x")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seg = h.select(col("g"),
      sum("c1").over(wCum).as("cum1"), sum("c2").over(wCum).as("cum2"),
      (lead(col("x"), 1).over(wOrd) - col("x")).as("gap"))
    val tot = h.groupBy("g").agg(sum("c1").as("n1"), sum("c2").as("n2"))
    seg.filter(col("gap").isNotNull)
      .join(broadcast(tot), "g")
      .select(col("g"), col("n1"), col("n2"),
        // widen BEFORE the subtraction, not just before the gap
        // product: cum·n itself wraps int64 once n1·n2 > 2^63, so the
        // cross-products must form in DECIMAL(38,0) (dec19 × dec19)
        // like cramerVonMises/ksTest — widening only the |cumdiff|·gap
        // product would multiply an already-wrapped long.
        (abs(col("cum1").cast("decimal(19,0)") * col("n2").cast("decimal(19,0)") -
             col("cum2").cast("decimal(19,0)") * col("n1").cast("decimal(19,0)")) *
          col("gap").cast("decimal(19,0)")).as("area"))
      .groupBy("g", "n1", "n2").agg(sum("area").cast("double").as("anum"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .select(col("g").as(groupCol), col("n1"), col("n2"),
        round(col("anum").cast("double") /
          (col("n1").cast("decimal(19,0)") * col("n2").cast("decimal(19,0)")).cast("double"),
          4).as("emd"))
  }

  /** Split conformal prediction interval per group (Vovk et al. 2005;
    * Lei et al. 2018): the calibration split's mean is the point
    * predictor, the conformal radius q̂ is the ⌈(1−α)(n+1)⌉-th
    * smallest absolute calibration residual, and the held-out split
    * reports empirical coverage — the finite-sample-valid interval a
    * model-eval pipeline wants next to its point metrics.
    *
    * Exact end-to-end: residuals are kept SCALED by n_cal
    * (|v·n − s| — integer, no division), the order statistic is a
    * per-group ranked window filtered at the integer index
    * ⌈(1−α)(n+1)⌉ computed with pct arithmetic in longs, and coverage
    * compares scaled integers; only the reported q̂ divides back.
    * Per-row products stay in long range while v·n_cal < 2⁶³ (~10⁵
    * cents × 10¹³ rows — documented bound, per-GROUP rows). Shapes:
    * two keyed aggregates + one per-group ranked window over
    * calibration rows only.
    */
  def splitConformal(df: DataFrame, groupCol: String, isCalib: Column, v: Column,
                     coveragePct: Int): DataFrame = {
    val t = df.select(col(groupCol).as("g"), isCalib.as("cal"), v.cast("long").as("x"))
    val calStats = t.filter(col("cal")).groupBy("g")
      .agg(count(lit(1)).as("n_cal"), sum("x").as("s_cal"))
    val scored = t.join(broadcast(calStats), "g")
      .withColumn("r", abs(col("x") * col("n_cal") - col("s_cal")))
    // ⌈pct·(n+1)/100⌉ in pure long arithmetic (Column./ would be a
    // double division)
    val k = expr(s"($coveragePct * (n_cal + 1) + 99) div 100")
    val qhat = scored.filter(col("cal"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(col("r"), col("x"))))
      .filter(col("rn") === least(k, col("n_cal")))
      .select(col("g"), col("r").as("q_scaled"))
    scored.filter(!col("cal"))
      .join(qhat, "g")
      .groupBy("g", "n_cal", "q_scaled").agg(
        count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("q_scaled"), 1L).otherwise(0L)).as("covered"))
      .select(col("g").as(groupCol), col("n_cal"), col("n_test"),
        round(col("q_scaled").cast("double") / col("n_cal").cast("double"), 4).as("q_hat"),
        expr("covered * 1000000 div n_test").as("coverage_ppm"))
  }
}
