package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}

/** Plan-shape regression guards: the properties `tools.Explain` was
  * used to audit by hand, asserted automatically so a refactor can't
  * silently regress pushdown or join strategy. Uses the formatted
  * explain string because AQE's AdaptiveSparkPlanExec hides its inner
  * plan from tree collection.
  */
class PlanAuditSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)

  private def countOp(s: String, op: String): Int =
    ("""\(\d+\) """ + op + """($|\s)""").r.findAllIn(s).size

  test("q_scan_filter pushes predicates and prunes columns at the scan") {
    val s = formatted("q_scan_filter")
    assert(s.contains("PushedFilters") && s.contains("GreaterThan(l_quantity,45.0)"), s)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q_join_star broadcasts all three dims and shuffles only for the agg") {
    val s = formatted("q_join_star")
    assert(countOp(s, "BroadcastExchange") == 3, s)
    assert(countOp(s, "Exchange") <= 1, s)
  }

  test("q_asof_join plans exactly one shuffle (union + window)") {
    val s = formatted("q_asof_join")
    assert(countOp(s, "Exchange") == 1, s)
  }

  test("q_topk_native plans the custom partial/final operators") {
    val s = formatted("q_topk_native")
    assert(s.contains("PartialTopK") && s.contains("FinalTopK"), s)
  }

  test("q_setsim_join pins BOTH verify-join exchanges against AQE byte-coalescing") {
    // verifyPairs repartitions candidates on id_a (reused by the ks_a
    // attach join) and the ks_a-fat rows on id_b (the shuffle feeding
    // the array_intersect CPU). Both must surface as REPARTITION_BY_NUM
    // — the origin AQE exempts from byte-based coalescing; a plain
    // ENSURE_REQUIREMENTS exchange there re-opens the measured
    // 4.3-vs-1.8 s verify-parallelism collapse.
    val s = formatted("q_setsim_join")
    val pins = "REPARTITION_BY_NUM".r.findAllIn(s).size
    assert(pins == 2, s"expected the id_a and id_b pins, got $pins: $s")
    assert(s.contains("id_a") && s.contains("id_b"), s)
  }

  test("distill field/abstract chains are map-only plans (no required shuffles)") {
    // r14: the heavy distill chains widen an unsplittable single-
    // row-group scan with ONE explicit Par.spread exchange keyed on
    // the row id (REPARTITION_BY_NUM — interleaved A/B: q_distill_fields
    // wall floor 1.50 -> 0.49 s; at production scale the guard makes it
    // a no-op). No OTHER exchange may appear: an ENSURE_REQUIREMENTS
    // shuffle would mean the chain stopped being a pure projection.
    for (name <- Seq("q_distill_fields", "q_distill_abstract")) {
      val s = formatted(name)
      val exchanges = countOp(s, "Exchange")
      val spreads = "REPARTITION_BY_NUM".r.findAllIn(s).size
      assert(exchanges == spreads && exchanges <= 1,
        s"$name has a non-spread shuffle ($exchanges exchanges, $spreads spreads): $s")
      assert(countOp(s, "BroadcastExchange") == 0, s"$name joins: $s")
    }
  }

  test("curation scan queries are single-pass map-only plans (zero shuffles)") {
    for (name <- Seq("q_pii_redact", "q_gopher_filter", "q_unicode_clean",
      "q_chunk_sliding", "q_fingerprint_poly", "q_sample_hash", "q_jl_project")) {
      val s = formatted(name)
      assert(countOp(s, "Exchange") == 0, s"$name shuffles: $s")
      assert(countOp(s, "BroadcastExchange") == 0, s"$name joins: $s")
    }
  }

  test("round-6 additions: probe is map-only, RAKE/Neyman broadcast their stats, k-core/theilsen stay id-keyed") {
    // header probe: pure column algebra, no exchange of any kind
    val probe = formatted("q_media_probe")
    assert(countOp(probe, "Exchange") == 0, s"q_media_probe shuffles: $probe")
    // RAKE: vocab-sized word stats broadcast back onto distinct
    // phrases — no sort-merge join anywhere
    val rake = formatted("q_rake_phrases")
    assert(countOp(rake, "BroadcastExchange") >= 1, rake)
    assert(countOp(rake, "SortMergeJoin") == 0, rake)
    // Neyman sample: the strata-sized plan joins back broadcast, the
    // corpus never sort-merge-joins
    val ney = formatted("q_neyman_sample")
    assert(countOp(ney, "BroadcastExchange") >= 1, ney)
    assert(countOp(ney, "SortMergeJoin") == 0, ney)
    // Theil-Sen: the pair blow-up happens INSIDE the group join —
    // no cartesian, no broadcast of a corpus-sized side
    val ts = formatted("q_theilsen")
    assert(countOp(ts, "CartesianProduct") == 0 &&
      countOp(ts, "BroadcastNestedLoopJoin") == 0, ts)
  }

  test("q_seq_pack reuses one (stratum, shard) shuffle for both windows") {
    val s = formatted("q_seq_pack")
    assert(countOp(s, "Exchange") == 1, s)
  }

  test("q_pack_materialize reuses the packing shuffle for the bin groupBy") {
    val s = formatted("q_pack_materialize")
    assert(countOp(s, "Exchange") <= 2, s)
  }

  test("q_curation_pipeline is end-to-end in two shuffles (dedup + packing)") {
    val s = formatted("q_curation_pipeline")
    assert(countOp(s, "Exchange") == 2, s)
    assert(countOp(s, "BroadcastExchange") == 0, s)
  }

  test("lookup-join queries broadcast the lookup side") {
    val s1 = formatted("q_author_orcids")
    assert(countOp(s1, "BroadcastExchange") == 1 && countOp(s1, "Exchange") == 0, s1)
    for (name <- Seq("q_journal_lookup", "q_apc_lookup")) {
      val s = formatted(name)
      assert(countOp(s, "BroadcastExchange") >= 1, s"$name lookup not broadcast: $s")
      // pubs-side shuffles: one for the keyed re-agg, one to co-locate
      // the enrich join — never more
      assert(countOp(s, "Exchange") <= 2, s"$name extra shuffles: $s")
    }
  }

  test("q_tfidf_terms runs the bounded-heap TopKPerKey, not a per-doc sort window") {
    val s = formatted("q_tfidf_terms")
    assert(s.contains("PartialTopK") && s.contains("FinalTopK"), s)
    assert(!s.contains("Window"), s"tfidf fell back to a window sort: $s")
  }

  test("per-stratum stat queries broadcast the tiny stat table back, never shuffle payloads") {
    // percentile thresholds (one row per lang) and centroids (one row
    // per label) must come back as broadcasts; the only Exchanges are
    // the stat aggregations themselves.
    for ((name, maxShuffles) <- Seq("q_quality_cut" -> 1, "q_embed_outlier" -> 2)) {
      val s = formatted(name)
      assert(countOp(s, "BroadcastExchange") >= 1, s"$name stat table not broadcast: $s")
      assert(countOp(s, "Exchange") <= maxShuffles, s"$name extra shuffles: $s")
    }
  }

  test("q_pipeline_full computes the pub-author-school subplan once") {
    val df = SparkEntry.queries("q_pipeline_full")(spark, sfDir)
    // collect() executes THIS QueryExecution, so the adaptive plan
    // below is the final one (a write would plan a fresh execution)
    df.collect()
    val plan = df.queryExecution.executedPlan
    def school(p: SparkPlan) = p.output.exists(_.name == "school")
    def byPub(e: ShuffleExchangeExec) = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.exists(_.references.exists(_.name == "pub_id"))
      case _ => false
    }
    // a reused exchange still feeds a second consumer, so it counts too
    val paShuffles = collect(plan) {
      case e: ShuffleExchangeExec if school(e) && byPub(e) => e
      case r @ ReusedExchangeExec(_, e: ShuffleExchangeExec) if school(r) && byPub(e) => r
    }
    val authorBroadcasts = collect(plan) {
      case b: BroadcastExchangeExec if school(b) => b
      case r @ ReusedExchangeExec(_, _: BroadcastExchangeExec) if school(r) => r
    }
    assert(paShuffles.size == 1,
      "expected one (pub_id, school) aggregation exchange:\n" + plan.toString.take(8000))
    assert(authorBroadcasts.size == 1,
      "expected one customer-nation broadcast:\n" + plan.toString.take(8000))
  }

  test("report association branches run distinct+agg on ONE shuffle each (3 total)") {
    // The association repartitions by pub_id once; hash(pub_id)
    // satisfies the per-pub (or per-(pub, dims)) aggregate and the flag
    // window, so nothing adds a second exchange over it. At most 3
    // shuffles: the association, the orders side of the final join, and
    // one spare. Regression here = the old 5-exchange shape
    // (all-column distinct, then re-shuffle per agg).
    for (name <- Seq("q_report_by_author", "q_report_by_dept")) {
      val s = formatted(name)
      assert(countOp(s, "Exchange") <= 3, s"$name extra shuffles:\n" + s.take(6000))
    }
  }

  test("q_fuzzy_dedup elects canonicals by aggregation, never per-cluster windows") {
    // The giant boilerplate cluster is the skewed case: a Window would
    // pin each component to one task; the min(struct) election gets
    // map-side partials and AQE skew splitting instead.
    val s = formatted("q_fuzzy_dedup")
    assert(countOp(s, "Window") == 0, s"election planned a Window:\n" + s.take(4000))
    assert(s.contains("HashAggregate"), s.take(4000))
  }

  test("q_bloom_decontaminate broadcasts the bitmap row and prefilters before the verify join") {
    val s = formatted("q_bloom_decontaminate")
    // The one-row bitmap attaches via a broadcast nested-loop join
    // (it has no key), and the bloom Filter must sit between it and
    // the exact-verify hash join.
    assert(countOp(s, "BroadcastNestedLoopJoin") >= 1, s.take(4000))
    assert(s.contains("forall"), s"bloom probe missing from plan:\n" + s.take(4000))
  }

  test("q_countmin broadcasts the kB-sized sketch to the candidate side") {
    // The sketch is ≤ d×w rows by construction; a sort-merge join here
    // would shuffle the vocabulary-sized candidate table against it.
    val s = formatted("q_countmin")
    assert(countOp(s, "BroadcastHashJoin") >= 1, s"sketch join not broadcast:\n" + s.take(6000))
  }

  test("q_funnel runs every stage on ONE user exchange; q_equidepth never range-partitions") {
    // funnel: repartition(key) + the single-row final agg — any third
    // exchange means a stage window lost the clustering.
    val f = formatted("q_funnel")
    assert(countOp(f, "Exchange") <= 2, s"funnel extra shuffles:\n" + f.take(6000))
    // equi-depth: boundaries come from an aggregation, not a global
    // sort — rangepartitioning in the plan means ntile snuck back in.
    val e = formatted("q_equidepth")
    assert(!e.contains("rangepartitioning"), s"equidepth global sort:\n" + e.take(6000))
  }

  test("q_image_neardup decodes the corpus once: band self-join reads the checkpointed hash table") {
    // Both sides of the band join must read the materialized
    // (id, hash_hi, hash_lo) RDD — if the codec subtree leaks into the
    // plan, every run decodes the corpus twice (measured ~2x wall).
    val df = SparkEntry.queries("q_image_neardup")(spark, sfDir)
    val s = df.queryExecution.optimizedPlan.toString
    assert(!s.contains("Scan parquet") && !s.contains("MapPartitions"),
      s"decode subtree leaked past the checkpoint:\n" + s.take(4000))
    assert(s.contains("LogicalRDD"), s"hash table not checkpointed:\n" + s.take(4000))
  }

  test("q_bigram_lm explodes+hashes the corpus once: pair table cached, single scan") {
    val s = formatted("q_bigram_lm")
    assert(s.contains("InMemoryTableScan"), s"pair table not persisted:\n" + s.take(4000))
    assert(countOp(s, "Scan parquet") <= 1,
      s"corpus scanned more than once:\n" + s.take(4000))
  }

  test("q_source_kl explodes the corpus once: (source, word) counts checkpointed") {
    val df = SparkEntry.queries("q_source_kl")(spark, sfDir)
    val s = df.queryExecution.optimizedPlan.toString
    // four consumers read the checkpointed count table; the corpus
    // explode must not appear in the final plan at all
    assert(!s.contains("Scan parquet") && !s.contains("Generate"),
      s"corpus explode leaked past the checkpoint:\n" + s.take(4000))
    assert(s.contains("LogicalRDD"), s"count table not checkpointed:\n" + s.take(4000))
  }

  test("q_kn_score explodes the corpus once: pair table cached, single scan") {
    val s = formatted("q_kn_score")
    assert(s.contains("InMemoryTableScan"), s"pair table not persisted:\n" + s.take(4000))
    assert(countOp(s, "Scan parquet") <= 1,
      s"corpus scanned more than once:\n" + s.take(4000))
  }

  test("q_bm25 tokenizes the corpus once: per-doc projection cached, single scan") {
    val s = formatted("q_bm25")
    assert(s.contains("InMemoryTableScan"), s"tokenized projection not persisted:\n" + s.take(4000))
    assert(countOp(s, "Scan parquet") <= 1,
      s"corpus scanned more than once:\n" + s.take(4000))
  }

  test("q_dsir_weights tokenizes once (bins cached) and broadcasts the ratio table") {
    val s = formatted("q_dsir_weights")
    assert(s.contains("InMemoryTableScan"), s"binned pool not persisted:\n" + s.take(4000))
    // one parquet scan per corpus side (source pool + target), each
    // behind its own cache — a third scan means a side tokenized twice
    assert(countOp(s, "Scan parquet") <= 2,
      s"a corpus side is tokenized more than once:\n" + s.take(4000))
    assert(s.contains("BroadcastExchange"), s"ratio table not broadcast:\n" + s.take(4000))
  }

  test("q_semantic_dedup shuffles on the cell key only (no corpus-wide pair join)") {
    val s = formatted("q_semantic_dedup")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup must join per-cell, not all-pairs:\n" + s.take(4000))
  }

  test("q_embed_decontam is a broadcast GEMM: benchmark broadcast, pairs never shuffle") {
    val s = formatted("q_embed_decontam")
    // corpus × benchmark scoring happens in a BroadcastNestedLoopJoin
    assert(countOp(s, "BroadcastNestedLoopJoin") == 1, s.take(3000))
    // the ×m pair stream collapses BEFORE any exchange: a partial
    // HashAggregate must sit below the (single) data shuffle
    assert(countOp(s, "Exchange") == 1, s"pairs leaked into a shuffle:\n" + s.take(3000))
    assert(!s.contains("SortMergeJoin"), s.take(3000))
  }

  test("q_spatial_join probes a broadcast hash join on the cell id — no SMJ, no box nested-loop") {
    val s = formatted("q_spatial_join")
    assert(countOp(s, "BroadcastHashJoin") == 1, s.take(3000))
    assert(!s.contains("SortMergeJoin"), s.take(3000))
    // BNLJs only for attaching the one-row bounds frame (box build,
    // cover, and points side), never for the candidate matching itself
    assert(countOp(s, "BroadcastNestedLoopJoin") <= 3, s.take(3000))
  }

  test("q_minhash_merge folds chunk signatures by (id, pos) aggregation — no window, no join for the merge") {
    val s = formatted("q_minhash_merge")
    assert(!s.contains("Window"), s"merge must be an agg, not a window:\n" + s.take(3000))
  }

  test("q_pq_assign broadcasts the codebook and shuffles once (id agg)") {
    val s = formatted("q_pq_assign")
    assert(countOp(s, "BroadcastExchange") >= 1, s.take(3000))
    assert(!s.contains("SortMergeJoin"), s.take(3000))
    // the four per-subspace argmins fold into ONE (id)-keyed aggregate
    assert(countOp(s, "Exchange") == 1, s.take(3000))
  }

  test("q_rolling_anomaly is one keyed window pass (single exchange)") {
    val s = formatted("q_rolling_anomaly")
    assert(countOp(s, "Exchange") == 1, s.take(3000))
  }

  test("round-7 additions: bounded heaps for RBO, one-agg closed forms, broadcast-backed scorers") {
    // RBO: both list heads via the custom bounded-heap operator, no
    // full-table sort windows
    val rbo = formatted("q_rbo")
    assert(rbo.contains("PartialTopK") && rbo.contains("FinalTopK"), rbo.take(3000))
    // one-aggregation closed forms: no shuffle beyond the single agg
    // exchange pair (partial/final), definitely no joins or windows
    for (name <- Seq("q_did", "q_cuped", "q_anova", "q_welch_t", "q_mcnemar")) {
      val s = formatted(name)
      assert(countOp(s, "Window") == 0, s"$name windows: ${s.take(2000)}")
      assert(countOp(s, "SortMergeJoin") == 0, s"$name SMJ: ${s.take(2000)}")
    }
    // Fellegi-Sunter: the m/u statistics row comes back as a
    // broadcast, never a shuffled join
    val fs = formatted("q_fellegi_sunter")
    assert(countOp(fs, "BroadcastNestedLoopJoin") >= 1, fs.take(3000))
    assert(countOp(fs, "SortMergeJoin") == 0, fs.take(3000))
    // LOO target encoding: category stats broadcast back to the rows
    val te = formatted("q_target_encode")
    assert(countOp(te, "BroadcastExchange") >= 1, te.take(3000))
    assert(countOp(te, "SortMergeJoin") == 0, te.take(3000))
  }

  test("window posture: no unpartitioned window over row-grain data anywhere") {
    // The scale-killer class this repo has now fully retired: an
    // unpartitioned Window sorts its whole input on ONE task. The
    // allowlist names every query where an unpartitioned window is
    // legitimate because its input is PROVABLY bounded — a value
    // HISTOGRAM (cardinality-grain, the mannWhitneyU discipline), a
    // k-row bucket/head table, or a per-group summary — with the
    // bounding input stated. Row-grain global windows are not
    // allowlistable; use GlobalRank.
    val histogramGrain = Map(
      "q_mannwhitney" -> "distinct-value histogram of event values",
      "q_kruskal" -> "distinct-value histogram of event values",
      "q_auc_roc" -> "distinct-score histogram",
      "q_cliffs_delta" -> "distinct-value half-rank histogram",
      "q_lift_deciles" -> "k-row bucket table cumulative",
      "q_tfidf_pairs" -> "df histogram (self-scaling cap) + post-limit top-k rank",
      "q_bm25" -> "top-k head table (post-limit rank)",
      "q_ks_test" -> "distinct-value histogram (ECDF steps)",
      "q_cvm_test" -> "distinct-value histogram (ECDF steps)",
      "q_logrank" -> "distinct event-time table",
      "q_kaplan_meier" -> "distinct event-time table",
      "q_nelson_aalen" -> "distinct event-time table",
      "q_rmst" -> "distinct event-time table (KM steps + lead)",
      "q_youden" -> "distinct-score histogram (cumulative TP/FP)",
      "q_stump_split" -> "distinct-value histogram (cumulative class counts)",
      "q_isotonic" -> "k-row bin table (prefix sums)",
      "q_selective_risk" -> "k-row bin table (top-down cumulative)",
      "q_priority_sample" -> "(k+1)-row head table (rank + tau)",
      "q_bh_fdr" -> "per-source p-value table (sources-bounded)",
      "q_holm" -> "per-source p-value table (sources-bounded)",
      "q_rbo" -> "two depth-bounded head tables",
      "q_rrf_fusion" -> "two top-100 head tables",
      "q_cumulative_uniques" -> "per-day summary ledger",
      "q_bpe_pairs" -> "merge-pair frequency head",
      "q_unimax_mix" -> "language budget table",
      "q_dsir_select" -> "selection head (k-bounded)")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val exercised = scala.collection.mutable.Set.empty[String]
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
      val bad = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty => w
      }
      if (bad.nonEmpty) {
        if (histogramGrain.contains(name)) exercised += name else offenders += name
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned ordered windows outside the bounded-input allowlist: " +
        offenders.mkString(", "))
    // the allowlist is a contract, not a dumping ground: entries whose
    // plans no longer carry an unpartitioned window must be removed
    val stale = histogramGrain.keySet -- exercised
    assert(stale.isEmpty, s"stale allowlist entries (no unpartitioned window): " +
      stale.toSeq.sorted.mkString(", "))
  }

  test("no accidental cartesian products outside the intentional ones") {
    val intentional = Set("q_ann_bruteforce", "q_edit_distance", "q_range_join", "q_approx_stats")
    for (name <- SparkEntry.queries.keys if !intentional(name)) {
      val s = formatted(name)
      assert(!s.contains("CartesianProduct"), s"$name contains a CartesianProduct")
    }
  }
}
