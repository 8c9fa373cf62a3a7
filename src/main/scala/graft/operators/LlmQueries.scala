package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.sources.Tables

/** LLM-pipeline operators instantiated on documents/embeddings
  * (SURVEY.md §2 #27, #32-41).
  */
object LlmQueries {
  type Q = (SparkSession, String) => DataFrame

  private val enStops = TextAnalysis.langProfiles("en")

  // Single source of truth for the train/val/test boundaries — the
  // query and its oracle both derive from it (via
  // Sampling.cumulativeThresholds), never from hand-summed literals.
  private val splitFractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  // Single source of truth for q_bpe_encode's merge list — the query
  // and its oracle both derive the replace chain from it. A FIXED
  // (pre-learned) list is the runtime-tokenizer scenario; learning
  // itself is covered by q_bpe_learn + BpeSpec. Later merges
  // deliberately consume earlier outputs ((t,h) then (th,e)) so the
  // oracle proves ordered application, not just single merges.
  private[operators] val fixedMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r", "a" -> "n",
    "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n", "o" -> "r")

  /** documents ∪ perturbed copies (planted near-duplicates, id+1000000)
    * so near-dup operators have known positives to find.
    */
  private def planted(t: Tables): DataFrame = {
    val docs = t.documents.select("doc_id", "text")
    val variants = t.documents
      .filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), concat(col("text"), lit(" extra tail token")).as("text"))
    docs.unionByName(variants)
  }

  val queries: Map[String, Q] = Map(
    // #32 exact dedup on a normalized key (hash groupBy; ids only shuffle).
    "q_dedup_exact" -> { (s, dir) =>
      TextDedup.exactDupGroups(
        Tables(s, dir).documents,
        col("doc_id"),
        lower(substring(col("text"), 1, 20))
      )
    },

    // #40 token counting: whitespace + BPE-ish estimate.
    "q_token_count" -> { (s, dir) =>
      // both counters from one tokenization (the inline forms each
      // re-split the text)
      Tables(s, dir).documents
        .select(col("doc_id"), TextAnalysis.tokenize(col("text")).as("__ws"))
        .select(
          col("doc_id"),
          size(col("__ws")).cast("long").as("n_tokens"),
          TextAnalysis.bpeTokenEstimate(col("__ws")).as("bpe_est"))
    },

    // #40b tokenizer fertility per language: subword tokens per word
    // and chars per token — the multilingual budget-planning numbers
    // (a high-fertility language burns budget faster than its text
    // volume suggests). Exact integer sums, two closing ratios.
    "q_tok_fertility" -> { (s, dir) =>
      Tables(s, dir).documents
        .select(col("lang"), TextAnalysis.tokenize(col("text")).as("__ws"),
          length(col("text")).cast("long").as("chars"))
        .select(col("lang"),
          size(col("__ws")).cast("long").as("wtoks"),
          TextAnalysis.bpeTokenEstimate(col("__ws")).as("btoks"),
          col("chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("wtoks").as("n_words"),
          sum("btoks").as("n_bpe"), sum("chars").as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
          round(col("n_bpe").cast("double") / col("n_words").cast("double"), 4).as("fertility"),
          round(col("n_chars").cast("double") / col("n_bpe").cast("double"), 4).as("chars_per_token"))
    },

    // #42b2 corpus coverage of a held-out slice: per test doc, the
    // fraction of its trigrams the training corpus contains (exact
    // ppm) — decontamination's complement ("does the corpus cover the
    // domain the eval probes").
    "q_ngram_coverage" -> { (s, dir) =>
      TextDedup.ngramCoverage(Tables(s, dir).documents, "doc_id", "text",
        isTest = col("doc_id") % 97 === 0)
        .withColumnRenamed("id", "doc_id")
    },

    // #96 BLEU-2 generation-eval scoring (Papineni et al. 2002) on the
    // planted ref→variant pairs: clipped n-gram precision + brevity
    // penalty, fully relational.
    "q_bleu_pairs" -> { (s, dir) =>
      val p = Tables(s, dir).documents.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text").as("ref"),
          concat(col("text"), lit(" extra tail token")).as("cand"))
      TextEval.bleuPairs(p, "doc_id", "ref", "cand").withColumnRenamed("id", "doc_id")
    },

    // #96b token-level WER@40 on planted transcript corruptions: every
    // pair substitutes token 5 with 'zzz'; every tenth also deletes
    // token 10 — edits land INSIDE the scored prefix. Per-pair ASCII
    // dictionary + native levenshtein (no UDF, no global vocab state).
    "q_wer_pairs" -> { (s, dir) =>
      val ws = split(lower(col("text")), "\\s+")
      val sub = concat(slice(ws, 1, 4), array(lit("zzz")), slice(ws, 6, 1000000))
      val mut = when(col("doc_id") % 10 === 0,
        concat(slice(sub, 1, 9), slice(sub, 11, 1000000))).otherwise(sub)
      val p = Tables(s, dir).documents.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text").as("ref"),
          concat_ws(" ", mut).as("cand"))
      TextEval.werPairs(p, "doc_id", "ref", "cand", maxTokens = 40)
        .withColumnRenamed("id", "doc_id")
    },

    // #33c eval-the-dedup: recall/precision of the LSH chain against
    // the PLANTED near-dup truth pairs — the report a curation run
    // needs before trusting its dedup rate.
    "q_lsh_eval" -> { (s, dir) =>
      val t = Tables(s, dir)
      val truth = t.documents.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1000000).as("id_b"))
      TextDedup.lshDedupEval(planted(t), "doc_id", "text", truth, h = 8, bands = 4)
    },

    // #39 quality scoring (Gopher-style gates).
    "q_quality_score" -> { (s, dir) =>
      // one tokenization for all four signals: Column-inline forms over
      // the text (tokenCount, stopwordHits) would each re-split it
      val ws = TextAnalysis.tokenize(col("text"))
      Tables(s, dir).documents
        .select(col("doc_id"), ws.as("__ws"))
        .select(col("doc_id"),
          size(col("__ws")).cast("long").as("n_tokens"),
          (aggregate(col("__ws"), lit(0L), (acc, w) => acc + length(w)).cast("double") /
            size(col("__ws"))).as("__mean"),
          size(filter(col("__ws"), t => t.isInCollection(enStops))).cast("long").as("stop_hits"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("__mean"), 4).as("mean_len"), col("stop_hits"),
          (col("n_tokens").between(10L, 100000L) && col("__mean").between(2.0, 12.0) &&
            col("stop_hits") > 0).as("gopher_ok"))
    },

    // Character-distribution entropy (bits/char) — native codegen
    // expression, map-only; junk/base64 scores high, degenerate
    // repetition low.
    "q_char_entropy" -> { (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        round(graft.plans.CharEntropy(col("text")), 4).as("entropy"))
    },

    // #38 language-ID heuristic (stopword-profile argmax).
    "q_lang_id" -> { (s, dir) =>
      val profiles = Seq("en", "de", "es", "fr").map(l => l -> TextAnalysis.langProfiles(l))
      // one tokenization for all profile counts AND the argmax (the
      // inline forms re-split the text per profile copy)
      TextAnalysis.withProfileHits(Tables(s, dir).documents, col("text"), profiles).select(
        col("doc_id"),
        col("hits_en").as("en_hits"),
        col("hits_es").as("es_hits"),
        TextAnalysis.predictFromHits(profiles, "und").as("predicted")
      )
    },

    // Language-ID confusion matrix: predicted vs labeled language —
    // the classifier-eval table a lang-filter rollout is gated on.
    "q_lang_confusion" -> { (s, dir) =>
      val profiles = Seq("en", "de", "es", "fr").map(l => l -> TextAnalysis.langProfiles(l))
      TextAnalysis.withLangPrediction(Tables(s, dir).documents, col("text"),
          profiles, "und", "predicted")
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
    },

    // #86l Cohen's kappa: chance-corrected agreement of the lang-ID
    // heuristic against the gold label — the one-number follow-up to
    // the confusion matrix (accuracy alone flatters when one class
    // dominates). Exact integer ratio, rounded only at output.
    "q_cohens_kappa" -> { (s, dir) =>
      val profiles = Seq("en", "de", "es", "fr").map(l => l -> TextAnalysis.langProfiles(l))
      // Par.spread: the 4-profile token filters measured as ONE 4.5 s
      // task on the unsplittable single-row-group scan (StageProf r14)
      Stats.cohensKappa(
        TextAnalysis.withLangPrediction(Par.spread(Tables(s, dir).documents, col("doc_id")), col("text"),
          profiles, "und", "__pred"),
        col("lang"), col("__pred"))
    },

    // Selective-prediction risk-coverage curve (Geifman & El-Yaniv
    // 2017): for each confidence-bin threshold, the error rate among
    // predictions the classifier would KEEP at that coverage — the
    // "when to abstain" readout that turns q_calibration's bins into
    // an operating curve. Cumulative from the most-confident bin down
    // (10-row window), exact integers to single divisions.
    "q_selective_risk" -> { (s, dir) =>
      val profiles = Seq("en", "de", "es", "fr").map(l => l -> TextAnalysis.langProfiles(l))
      val hits = profiles.map { case (l, _) => col("hits_" + l) }
      val conf = (hits.head + lit(0.5)) / (hits.reduce(_ + _) + lit(1.0))
      val scored = TextAnalysis.withProfileHits(Tables(s, dir).documents, col("text"), profiles)
        .select(conf.as("c"), (col("lang") === "en").as("y"))
        .select(least(floor(col("c") * 10), lit(9)).cast("int").as("bin"),
          // the binary read: predict English when confidence >= 0.5;
          // margin-from-0.5 is the keep/abstain score, so bins order
          // by |c - 0.5| folded into deciles of c is replaced by the
          // simpler monotone-confidence read: keep the top-c bins
          when((col("c") >= 0.5) === col("y"), 0L).otherwise(1L).as("err"))
      val per = scored.groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("err").as("errors"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bin").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val tot = per.agg(sum("n").as("nn"))
      per.withColumn("n_covered", sum("n").over(w))
        .withColumn("cum_errors", sum("errors").over(w))
        .crossJoin(broadcast(tot))
        .select(col("bin"), col("n"), col("n_covered"),
          (col("n_covered").cast("double") / col("nn").cast("double")).as("coverage"),
          (col("cum_errors").cast("double") / col("n_covered").cast("double"))
            .as("selective_risk"))
    },

    // Per-class precision/recall/F1 + macro averages for the lang-ID
    // heuristic vs the label — the most-reported classifier scorecard,
    // all from exact confusion-cell integers (one division per ratio).
    "q_f1_scorecard" -> { (s, dir) =>
      val profiles = Seq("en", "de", "es", "fr").map(l => l -> TextAnalysis.langProfiles(l))
      val scored = TextAnalysis.withLangPrediction(Tables(s, dir).documents, col("text"),
          profiles, "und", "pred")
        .select(col("lang").as("actual"), col("pred"))
      val perClass = scored
        .select(explode(array_distinct(array(col("actual"), col("pred")))).as("cls"),
          col("actual"), col("pred"))
        .groupBy("cls")
        .agg(sum(when(col("actual") === col("cls") && col("pred") === col("cls"), 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("actual") =!= col("cls") && col("pred") === col("cls"), 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("actual") === col("cls") && col("pred") =!= col("cls"), 1L)
            .otherwise(0L)).as("fn"))
      val prec = when(col("tp") + col("fp") > 0,
        col("tp").cast("double") / (col("tp") + col("fp")).cast("double")).otherwise(lit(0.0))
      val rec = when(col("tp") + col("fn") > 0,
        col("tp").cast("double") / (col("tp") + col("fn")).cast("double")).otherwise(lit(0.0))
      val f1 = when(col("tp") * 2 + col("fp") + col("fn") > 0,
        (col("tp") * 2).cast("double") /
          (col("tp") * 2 + col("fp") + col("fn")).cast("double")).otherwise(lit(0.0))
      perClass.select(col("cls"), col("tp"), col("fp"), col("fn"),
        round(prec, 6).as("precision"), round(rec, 6).as("recall"),
        round(f1, 6).as("f1"))
    },

    // Matthews correlation coefficient of the "is-English" binary read
    // of the lang-ID heuristic (Matthews 1975): the single-number
    // binary scorecard robust to class imbalance, one sqrt over exact
    // confusion integers.
    "q_mcc" -> { (s, dir) =>
      val profiles = Seq("en", "de", "es", "fr").map(l => l -> TextAnalysis.langProfiles(l))
      val cm = TextAnalysis.withLangPrediction(Tables(s, dir).documents, col("text"),
          profiles, "und", "__pred")
        .select((col("lang") === "en").as("a"), (col("__pred") === "en").as("p"))
        .agg(sum(when(col("a") && col("p"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("a") && col("p"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("a") && !col("p"), 1L).otherwise(0L)).as("tn"),
          sum(when(col("a") && !col("p"), 1L).otherwise(0L)).as("fn"))
      def d(c: String) = col(c).cast("decimal(19,0)")
      val num = (d("tp") * d("tn") - d("fp") * d("fn")).cast("double")
      val den = sqrt(((d("tp") + d("fp")) * (d("tp") + d("fn"))).cast("double")) *
        sqrt(((d("tn") + d("fp")) * (d("tn") + d("fn"))).cast("double"))
      cm.select(col("tp"), col("fp"), col("tn"), col("fn"),
        when(den > 0, round(num / den, 6)).as("mcc"))
    },

    // Equalized-odds fairness audit (Hardt, Price & Srebro 2016): the
    // "is-English" classifier's TPR and FPR per SOURCE against the
    // corpus-wide rates — parity gaps are the fairness readout every
    // group-conditioned deployment check starts from. Exact integers
    // to single divisions.
    "q_equalized_odds" -> { (s, dir) =>
      val profiles = Seq("en", "de", "es", "fr").map(l => l -> TextAnalysis.langProfiles(l))
      val scored = TextAnalysis.withLangPrediction(Tables(s, dir).documents, col("text"),
          profiles, "und", "__pred")
        .select(col("source"), (col("lang") === "en").as("a"),
          (col("__pred") === "en").as("p"))
      val per = scored.groupBy("source")
        .agg(sum(when(col("a") && col("p"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("a"), 1L).otherwise(0L)).as("pos"),
          sum(when(!col("a") && col("p"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("neg"))
      val tot = per.agg(sum("tp").as("ttp"), sum("pos").as("tpos"),
        sum("fp").as("tfp"), sum("neg").as("tneg"))
      def rate(n: String, dn: String) = when(col(dn) > 0,
        col(n).cast("double") / col(dn).cast("double"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("pos"), col("neg"),
          round(rate("tp", "pos"), 6).as("tpr"),
          round(rate("fp", "neg"), 6).as("fpr"),
          round(rate("tp", "pos") - rate("ttp", "tpos"), 6).as("tpr_gap"),
          round(rate("fp", "neg") - rate("tfp", "tneg"), 6).as("fpr_gap"))
    },

    // Fleiss' kappa over a 3-rater panel per document: the label, the
    // lang-ID heuristic, and an md5-noised label (20% 'und' dropout) —
    // the multi-rater generalization of q_cohens_kappa.
    "q_fleiss_kappa" -> { (s, dir) =>
      val profiles = Seq("en", "de", "es", "fr").map(l => l -> TextAnalysis.langProfiles(l))
      val d = Tables(s, dir).documents
      val noisy = when(
        substring(md5(concat(col("doc_id").cast("string"), lit(":7"))), 1, 8) <
          lit(Sampling.hexThreshold(0.2)), lit("und")).otherwise(col("lang"))
      val ratings = d.select(col("doc_id"), col("lang").as("cat"))
        .unionByName(
          TextAnalysis.withLangPrediction(d, col("text"), profiles, "und", "__pred")
            .select(col("doc_id"), col("__pred").as("cat")))
        .unionByName(d.select(col("doc_id"), noisy.as("cat")))
      Stats.fleissKappa(ratings, "doc_id", "cat", nRaters = 3)
    },

    // Bland-Altman agreement of the two token counters (whitespace vs
    // the BPE-ish length estimate): bias + 95% limits of agreement —
    // the method-comparison readout on q_token_count's two columns.
    "q_bland_altman" -> { (s, dir) =>
      Stats.blandAltman(
        Tables(s, dir).documents
          .select(TextAnalysis.tokenize(col("text")).as("__ws"))
          .select(size(col("__ws")).cast("long").as("__wtoks"),
            TextAnalysis.bpeTokenEstimate(col("__ws")).as("__btoks")),
        col("__wtoks"), col("__btoks"))
    },

    // Isotonic (PAVA) calibration of the lang-ID confidence via the
    // minimax identity at bin grain — the monotone repair of
    // q_calibration's reliability curve.
    "q_isotonic" -> { (s, dir) =>
      val profiles = Seq("en", "de", "es", "fr").map(l => l -> TextAnalysis.langProfiles(l))
      val hits = profiles.map { case (l, _) => col("hits_" + l) }
      val conf = (hits.head + lit(0.5)) / (hits.reduce(_ + _) + lit(1.0))
      Stats.isotonicCalibration(
        TextAnalysis.withProfileHits(Tables(s, dir).documents, col("text"), profiles)
          .select(conf.as("c"), (col("lang") === "en").as("y")),
        col("c"), col("y"), bins = 10)
    },

    // Reliability diagram + ECE for the lang-ID heuristic read as an
    // "is-English" classifier: confidence = Laplace-smoothed share of
    // English stopword hits among all profile hits, outcome = the
    // labeled lang column. Calibration is the gate in front of every
    // classifier-driven filter: scores are only thresholdable as
    // probabilities if the 0.9 bucket is right ~90% of the time.
    "q_calibration" -> { (s, dir) =>
      val profiles = Seq("en", "de", "es", "fr").map(l => l -> TextAnalysis.langProfiles(l))
      val hits = profiles.map { case (l, _) => col("hits_" + l) }
      val conf = (hits.head + lit(0.5)) / (hits.reduce(_ + _) + lit(1.0))
      DataOps.reliabilityDiagram(
        TextAnalysis.withProfileHits(Tables(s, dir).documents, col("text"), profiles)
          .select(conf.as("c"), (col("lang") === "en").as("y")),
        col("c"), col("y"), bins = 10)
        .orderBy("bin")
    },

    // #35 n-gram Jaccard between consecutive documents.
    "q_ngram_jaccard" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val g = d.select(col("doc_id"), TextAnalysis.wordNgrams(col("text"), 2).as("bg"))
      g.as("a")
        .join(g.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(
          col("a.doc_id").as("id_a"),
          col("b.doc_id").as("id_b"),
          round(TextAnalysis.jaccard(col("a.bg"), col("b.bg")), 4).as("jaccard")
        )
    },

    // Containment (asymmetric Jaccard): every 7th doc's middle third
    // becomes a planted excerpt; containment of the excerpt in its
    // source runs near 1.0 while symmetric Jaccard stays low — the
    // quote-of-a-document dedup signal a Jaccard-only pipeline misses.
    "q_containment" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val ws = split(lower(col("text")), " ")
      val third = floor(size(ws) / 3).cast("int")
      val excerpts = d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("src_id"),
          concat_ws(" ", slice(ws, third + 1, greatest(third, lit(1)))).as("frag_text"))
      val g = d.select(col("doc_id").as("src_id"),
        TextAnalysis.wordNgrams(col("text"), 2).as("bg"))
      excerpts
        .select(col("src_id"), TextAnalysis.wordNgrams(col("frag_text"), 2).as("fg"))
        .join(g, "src_id")
        .select(col("src_id"),
          round(TextAnalysis.containment(col("fg"), col("bg")), 4).as("containment"),
          round(TextAnalysis.jaccard(col("fg"), col("bg")), 4).as("jaccard"))
    },

    // Benchmark decontamination: corpus docs flagged by distinct
    // 3-gram overlap with the benchmark subset.
    "q_decontaminate" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      TextDedup.decontaminate(
        corpus = d.filter(col("doc_id") % 50 =!= 0),
        benchmark = d.filter(col("doc_id") % 50 === 0),
        idCol = "doc_id", textCol = "text", ngram = 3, threshold = 0.1
      )
    },

    // Decontamination through the relational Bloom prefilter: same
    // result as exact (no false negatives; verify join removes false
    // positives) on a different benchmark split — the oracle proves
    // the bloom path end-to-end without modeling the bitmap.
    "q_bloom_decontaminate" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      TextDedup.decontaminateBloom(
        corpus = d.filter(col("doc_id") % 40 =!= 0),
        benchmark = d.filter(col("doc_id") % 40 === 0),
        idCol = "doc_id", textCol = "text", ngram = 3, threshold = 0.05,
        k = 5, mBits = 1 << 17
      )
    },

    // Intra-doc repetition ratio (1 - distinct/total bigrams).
    "q_repetition" -> { (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        round(TextDedup.repetitionRatio(col("text"), 2), 4).as("rep_ratio")
      )
    },

    // #41 fingerprints (no DuckDB xxhash64 — rows-only check).
    "q_fingerprint" -> { (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.shingleFingerprint(col("text")).as("shingle_fp")
      )
    },

    // #27 inverted-index round-trip: rebuild(build(text)) must equal the
    // canonical tokenized text for every row.
    "q_inverted_rebuild" -> { (s, dir) =>
      val canon = array_join(TextAnalysis.tokenize(col("text")), " ")
      Tables(s, dir).documents.select(
        col("doc_id"),
        (TextAnalysis.rebuildInvertedIndex(TextAnalysis.buildInvertedIndex(col("text"))) === canon).as("ok")
      )
    },

    // Stratified sampling by language — md5-prefix selection, so the
    // exact sample is oracle-checked, not just its size.
    "q_sample_stratified" -> { (s, dir) =>
      Sampling.stratified(
        Tables(s, dir).documents,
        stratumCol = "lang", idCol = "doc_id",
        rates = Map("en" -> 0.9, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.5, "zh" -> 0.2),
        seed = 42L
      ).select("doc_id", "lang")
    },

    // Weighted source mixture — same portable selection hash.
    "q_sample_mixture" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      Sampling.mixture(
        Seq(
          ("web", d.filter(col("source") === "src0"), 1.0),
          ("books", d.filter(col("source") =!= "src0"), 0.3)
        ),
        idCol = "doc_id", seed = 7L
      ).select("doc_id", "source_name")
    },

    // Corpus-self bigram LM quality score (CCNet-style).
    "q_bigram_lm" -> { (s, dir) =>
      TextRank.bigramLmScore(Tables(s, dir).documents, "doc_id", "text")
    },

    // Kneser-Ney smoothed bigram score — continuation-probability
    // interpolation with d = 0.75.
    "q_kn_score" -> { (s, dir) =>
      TextRank.kneserNeyScore(Tables(s, dir).documents, "doc_id", "text")
    },

    // Keyword extraction: top-3 TF-IDF terms per doc via TopKPerKey.
    "q_tfidf_terms" -> { (s, dir) =>
      TextRank.tfidfTopTerms(Tables(s, dir).documents, "doc_id", "text", k = 3)
    },

    // Corpus-level inverted-index build: canonical postings strings
    // make the full index engine-reproducible.
    "q_build_postings" -> { (s, dir) =>
      TextRank.buildPostings(Tables(s, dir).documents, "doc_id", "text")
    },

    // TextRank keywords: PageRank centrality over the word
    // co-occurrence graph — top-25 corpus keywords.
    "q_textrank_keywords" -> { (s, dir) =>
      TextRank.textRankKeywords(Tables(s, dir).documents, "text", k = 25)
    },

    // RAKE keyphrases (Rose et al. 2010): multi-word candidates
    // between stopword/punctuation boundaries, word score deg/freq,
    // phrase score = Σ word scores — top-25 corpus keyphrases.
    "q_rake_phrases" -> { (s, dir) =>
      TextRank.rakeKeyphrases(Tables(s, dir).documents, "text", enStops, k = 25)
    },

    // #42bm label-propagation communities over the verified near-dup
    // pair graph: three deterministic synchronous rounds (majority
    // neighbor label, min-label tie-break), labels are the doc ids —
    // the whole iteration engine-portable and unrolled identically in
    // the oracle. On this graph (disjoint duplicate clusters) the
    // communities must COINCIDE with connected components — so the
    // oracle doubles as a cross-validation of both iterative
    // operators; the finer-than-CC behavior on bridged cliques is
    // spec-proven (LabelPropSpec). Output: community → member count
    // (clusters of ≥2).
    "q_communities" -> { (s, dir) =>
      val pairs = TextDedup.minhashNearDupsPortable(
        planted(Tables(s, dir)), "doc_id", "text", h = 8, bands = 4)
      Graph.labelPropagation(pairs, "id_a", "id_b", iters = 3)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
    },

    // Newman modularity Q of the label-propagation partition over the
    // near-dup graph — the quality judgment on q_communities' output
    // (Q near 1: tight dup clusters; near 0: labels no better than
    // random). The pair table is materialized ONCE: label propagation
    // and the modularity edge sums both consume it, and left lazy the
    // whole minhash chain re-executes per consumer (measured: 17.2 s
    // at sf3 lazy vs 6.3 s checkpointed).
    "q_modularity" -> { (s, dir) =>
      val pairs = TextDedup.minhashNearDupsPortable(
        planted(Tables(s, dir)), "doc_id", "text", h = 8, bands = 4)
        .localCheckpoint(true)
      val labels = Graph.labelPropagation(pairs, "id_a", "id_b", iters = 3)
      Graph.modularity(pairs, "id_a", "id_b", labels)
    },

    // Murphy decomposition of the language-ID confidence's Brier score
    // — REL/RES/UNC over the same 10 bins as q_calibration's ECE.
    "q_brier" -> { (s, dir) =>
      val profiles = Seq("en", "de", "es", "fr").map(l => l -> TextAnalysis.langProfiles(l))
      val hits = profiles.map { case (l, _) => col("hits_" + l) }
      val conf = (hits.head + lit(0.5)) / (hits.reduce(_ + _) + lit(1.0))
      DataOps.brierDecomposition(
        TextAnalysis.withProfileHits(Tables(s, dir).documents, col("text"), profiles)
          .select(conf.as("c"), (col("lang") === "en").as("y")),
        col("c"), col("y"), bins = 10)
    },

    // Corpus-health report: per-source vocabulary size, type-token
    // ratio, hapax fraction (the Zipf-tail sanity check a corpus
    // refresh is gated on).
    "q_vocab_stats" -> { (s, dir) =>
      val st = Tables(s, dir).documents
        .select(col("source"), explode(split(lower(col("text")), " ")).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      st.groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum(col("cnt")).as("n_tokens"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
        .select(col("source"), col("vocab"), col("n_tokens"), col("hapax"),
          round(col("vocab").cast("double") / col("n_tokens"), 4).as("ttr"),
          round(col("hapax").cast("double") / col("vocab"), 4).as("hapax_frac"))
    },

    // Vocabulary-richness estimators per source: bias-corrected Chao1
    // species richness (Chao 1984: V + f1(f1−1)/(2(f2+1))) estimates
    // how much vocabulary the sample has NOT seen yet, and the
    // Good-Turing unseen-probability mass f1/N (Good 1953) says how
    // often the next token will be novel — the "is this source
    // saturated" corpus-growth planners. Integer f1/f2/V/N from the
    // same one-pass term histogram as q_vocab_stats; each estimate is
    // one IEEE division (plus one exact add), unrounded.
    "q_vocab_richness" -> { (s, dir) =>
      val tf = Tables(s, dir).documents
        .select(col("source"), explode(split(lower(col("text")), " ")).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      tf.groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum(col("cnt")).as("n_tokens"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("source"), col("vocab"), col("n_tokens"), col("f1"), col("f2"),
          (col("vocab").cast("double") +
            (col("f1") * (col("f1") - 1)).cast("double") /
              (lit(2L) * (col("f2") + 1)).cast("double")).as("chao1"),
          (col("f1").cast("double") / col("n_tokens").cast("double"))
            .as("gt_unseen_mass"))
    },

    // Count-min heavy hitters over corpus tokens: build a 4×1024
    // sketch (integer-exact md5 bucketing, so the oracle rebuilds the
    // IDENTICAL counters), estimate every distinct token, emit the
    // top-15 by estimate with the exact count alongside — est ≥ exact
    // for every key by the sketch's one-sided-error guarantee, and
    // CountMinSpec checks that inequality over the whole vocabulary
    // plus counter-wise mergeability across corpus halves.
    "q_countmin" -> { (s, dir) =>
      val toks = Tables(s, dir).documents
        .select(explode(split(lower(col("text")), " ")).as("term"))
      val sk = CountMin.sketch(toks, "term", depth = 4, width = 1024, seed = 7L)
      val est = CountMin.estimate(sk, toks.distinct(), "term", depth = 4, width = 1024, seed = 7L)
      val exact = toks.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
      est.join(exact, "term")
        .orderBy(col("est").desc, col("term"))
        .limit(15)
        .select(col("term"), col("est"), col("exact_cnt"))
    },

    // Corpus novelty curve: distinct trigrams bucketed by the doc-id
    // decile of their FIRST occurrence — the diminishing-returns curve
    // a corpus refresh is judged on (a flat tail means new data is
    // adding no new n-grams; a healthy growing corpus keeps minting
    // them). Gram-keyed min aggregation (one corpus explode, the same
    // shuffle economics as tfidf); bounds broadcast back as one row;
    // decile arithmetic is integer-fed float division identical on
    // both engines.
    "q_novelty_curve" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val firsts = d
        .select(col("doc_id"), explode(TextAnalysis.wordNgrams(col("text"), 3)).as("g"))
        .groupBy("g").agg(min(col("doc_id")).as("first_id"))
      val bounds = d.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      firsts.crossJoin(broadcast(bounds))
        .select(least(floor((col("first_id") - col("lo")) * 10 /
            (col("hi") - col("lo") + 1)), lit(9L)).cast("long").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("new_grams"))
    },

    // Zipf-exponent fit per source: OLS slope of log10(freq) over
    // log10(rank) across the full vocabulary (rank by freq desc with
    // term tiebreak, so the regression inputs are engine-exact; the
    // slope rounds to 4dp to absorb sum-order ulps). Healthy natural
    // text sits near -1; a slope collapsing toward 0 flags synthetic
    // or boilerplate-heavy sources — the corpus-refresh companion to
    // q_vocab_stats' type-token ratio. Two vocab-sized shuffles
    // (term counts, then the per-source rank window); the corpus
    // itself is touched once.
    "q_zipf_slope" -> { (s, dir) =>
      val tf = Tables(s, dir).documents
        .select(col("source"), explode(split(lower(col("text")), " ")).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("cnt").desc, col("term"))
      tf.withColumn("rank", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          round(expr("regr_slope(log10(cnt), log10(rank))"), 4).as("zipf_slope"))
    },

    // Embedding-space quality gate: cosine distance to the own-label
    // centroid; flag on the rounded similarity for reproducibility.
    "q_embed_outlier" -> { (s, dir) =>
      VectorOps.centroidOutliers(
        Tables(s, dir).embeddings.select(col("vec_id"), col("label"), col("embedding")),
        stratumCol = "label", idCol = "vec_id", vecCol = "embedding", simThreshold = 0.0)
    },

    // Leakage-safe split: assignment hashes the GROUP key (user), so
    // every row of a user lands in one split — the guard against
    // train/test contamination through correlated rows. The query
    // emits per-split user/row counts plus a machine-checked
    // leak count (users seen in >1 split), which must be 0.
    "q_group_split" -> { (s, dir) =>
      val a = Sampling.assignSplit(
        Tables(s, dir).events.select(col("user_id"), col("event_id")),
        "user_id", splitFractions, seed = 11L)
      val leaks = a.groupBy("user_id")
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("leaks"))
      a.groupBy("split")
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(leaks))
    },

    // Deterministic train/val/test assignment — md5-bucketed, so rows
    // never migrate between splits as the corpus grows.
    "q_split_assign" -> { (s, dir) =>
      Sampling.assignSplit(Tables(s, dir).documents, "doc_id", splitFractions, seed = 11L)
        .select("doc_id", "source", "split")
    },

    // EXACT set-similarity join (prefix filter, SSJoin/PPJoin family):
    // the zero-false-negative complement to MinHash-LSH — every
    // (probe, corpus) pair with token-set Jaccard ≥ 0.9 is found,
    // candidates bounded by the rarest-first frequency order instead
    // of banding probability. Incremental framing (a new batch vs the
    // standing corpus): the self-join form's OUTPUT alone is
    // quadratic on this vocabulary-dense synthetic corpus (9.5k true
    // pairs among 600 docs at sf0.01 — an output lower bound no exact
    // algorithm beats), so the batch shape is both the realistic
    // deployment and the honest benchmark.
    "q_setsim_join" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val probes = d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" extra tail token")).as("text"))
      TextDedup.prefixFilterProbe(probes, d.select("doc_id", "text"), "doc_id", "text", tau = 0.9)
    },

    // #33 MinHash-LSH near-dups find the planted variants (rows-only).
    "q_dedup_minhash" -> { (s, dir) =>
      TextDedup.minhashNearDups(planted(Tables(s, dir)), "doc_id", "text")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    },

    // BPE-training primitive: adjacent-character pair frequencies over
    // the word-frequency table (the inner statistic of every BPE merge
    // round). Aggregating words FIRST means the pair explode runs over
    // the vocab (×wc weights), not the corpus — the shape that makes
    // tokenizer induction feasible at corpus scale.
    "q_bpe_pairs" -> { (s, dir) =>
      val words = Tables(s, dir).documents
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .filter(length(col("w")) >= 2)
      val pairs = words
        .select(col("w"), col("wc"), explode(sequence(lit(1), length(col("w")) - 1, lit(1))).as("i"))
        .select(expr("substr(w, CAST(i AS INT), 2)").as("pair"), col("wc"))
        .groupBy("pair").agg(sum(col("wc")).as("freq"))
      pairs.orderBy(col("freq").desc, col("pair")).limit(10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("freq").desc, col("pair"))).cast("long"))
    },

    // Full BPE merge learning (driver-bounded loop over the vocab;
    // rows-only — the merge recursion has no SQL oracle, BpeSpec pins
    // the algorithm against hand-computed merge sequences).
    "q_bpe_learn" -> { (s, dir) =>
      val words = Tables(s, dir).documents
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
      val merges = Bpe.learnMerges(words, "w", "wc", nMerges = 5)
      import s.implicits._
      merges.zipWithIndex.map { case ((a, b), i) => (i + 1L, a, b, a + b) }
        .toDF("rank", "a", "b", "merged")
    },

    // #42ah BPE ENCODE (runtime tokenizer application) with a fixed
    // merge list, oracle-EXACT: greedy merge application == standard
    // left-to-right string replace (see Bpe.symbolizedColumn), so
    // DuckDB reproduces the whole encoder with replace() chains. The
    // encoder runs over the DISTINCT vocab, never per occurrence —
    // the shape that tokenizes 100 TB for the cost of a word count.
    "q_bpe_encode" -> { (s, dir) =>
      Bpe.encodeTokenCounts(Tables(s, dir).documents, "doc_id", "text", LlmQueries.fixedMerges)
    },

    // #34 proved end-to-end: md5-basis SimHash signatures, oracle-EXACT.
    "q_simhash_md5" -> { (s, dir) =>
      TextDedup.simhashPortable(planted(Tables(s, dir)), "doc_id", "text")
    },

    // #33 proved end-to-end: the md5-portable MinHash-LSH variant is
    // oracle-EXACT — shingle, signature, banding, bucket join, and
    // Jaccard verify all reproduced by DuckDB.
    "q_dedup_minhash_md5" -> { (s, dir) =>
      TextDedup.minhashNearDupsPortable(planted(Tables(s, dir)), "doc_id", "text",
        h = 8, bands = 4)
    },

    // #42aq the FULL fuzzy-dedup pipeline fused end-to-end: MinHash-LSH
    // candidates → Jaccard verify → connected components → canonical
    // election, one composed job. This is the whole near-dup removal
    // pass a 100 TB curation run executes: text is shuffled only as
    // shingle sets inside the LSH stage, the component rounds move
    // (id, id) pairs exclusively, and the election is a single
    // map-side-partial aggregate (no per-cluster windows, so the giant
    // boilerplate cluster stays AQE-splittable). Oracle-EXACT: DuckDB
    // reproduces LSH via the md5 chain and the components via a
    // recursive transitive closure.
    "q_fuzzy_dedup" -> { (s, dir) =>
      val docs = planted(Tables(s, dir))
      val pairs = TextDedup.minhashNearDupsPortable(docs, "doc_id", "text", h = 8, bands = 4)
      val cc = Graph.connectedComponentsAll(pairs, "id_a", "id_b", docs, "doc_id")
      TrainingMix.electCanonical(cc, docs, "doc_id", length(col("text")))
        .select(col("component"), col("canonical_id"), col("n_docs"),
          col("total_score").cast("long").as("total_score"))
    },

    // #42bh dedup-aware leakage-safe split: split assignment hashes
    // the near-dup CLUSTER id (the fuzzy-dedup component), so a doc
    // and its near-duplicates land in ONE split — assigning by doc id
    // would put a train doc's 0.99-Jaccard twin in test, the classic
    // contamination. Same md5-threshold boundaries as q_split_assign;
    // split is a pure function of the component, so the no-leak
    // property holds by construction and the spec machine-checks it
    // on the verified pairs.
    "q_cluster_split" -> { (s, dir) =>
      val docs = planted(Tables(s, dir))
      val pairs = TextDedup.minhashNearDupsPortable(docs, "doc_id", "text", h = 8, bands = 4)
      val cc = Graph.connectedComponentsAll(pairs, "id_a", "id_b", docs, "doc_id")
      Sampling.assignSplit(cc, "component", splitFractions, seed = 11L)
        .select(col("id").as("doc_id"), col("component"), col("split"))
    },

    // Post-split leakage AUDIT: count verified near-dup pairs that
    // straddle split boundaries under the naive per-doc hash split vs
    // the cluster-level split — the measurement that justifies
    // q_cluster_split's existence (cluster split must score 0 cross
    // pairs by construction; the naive split leaks).
    "q_split_leakage" -> { (s, dir) =>
      val docs = planted(Tables(s, dir))
      val pairs = TextDedup.minhashNearDupsPortable(docs, "doc_id", "text", h = 8, bands = 4)
        .localCheckpoint(true)
      val cc = Graph.connectedComponentsAll(pairs, "id_a", "id_b", docs, "doc_id")
      val cluster = Sampling.assignSplit(cc, "component", splitFractions, seed = 11L)
        .select(col("id"), col("split"))
      val naive = Sampling.assignSplit(docs.select(col("doc_id").as("id")),
        "id", splitFractions, seed = 11L).select(col("id"), col("split"))
      def audit(assign: DataFrame, strategy: String) =
        pairs
          .join(assign.withColumnsRenamed(Map("id" -> "id_a", "split" -> "sa")), "id_a")
          .join(assign.withColumnsRenamed(Map("id" -> "id_b", "split" -> "sb")), "id_b")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)).as("n_cross"))
          .select(lit(strategy).as("strategy"), col("n_pairs"), col("n_cross"),
            expr("(1000000 * n_cross) div n_pairs").as("cross_ppm"))
      audit(cluster, "cluster").unionByName(audit(naive, "naive"))
    },

    // Capture-recapture estimate of the TRUE near-dup pair population
    // (Lincoln-Petersen; Chapman 1951 bias-corrected): two LSH passes
    // with INDEPENDENT md5 hash families (the second salted "B:") are
    // the two "captures" — independence is load-bearing: re-banding
    // one signature set nests the captures (every coarse-band pair is
    // also a fine-band pair) and the estimator degenerates to the
    // larger count. N-hat = (n1+1)(n2+1)/(m+1) - 1 from the overlap —
    // dedup-completeness estimation without ground truth.
    "q_capture_recapture" -> { (s, dir) =>
      val docs = planted(Tables(s, dir))
      // Each pair table feeds TWO consumers (its own count and the
      // overlap join): checkpoint or the whole minhash chain re-runs
      // per consumer (the q_modularity lesson; 7.9 -> 6.6 s at the
      // sf3 rung — the chains themselves, run once each, dominate).
      val pA = TextDedup.minhashNearDupsPortable(docs, "doc_id", "text", h = 8, bands = 4)
        .select("id_a", "id_b").localCheckpoint(true)
      val pB = TextDedup.minhashNearDupsPortable(docs, "doc_id", "text", h = 8, bands = 4,
          saltPrefix = "B:")
        .select("id_a", "id_b").localCheckpoint(true)
      val n1 = pA.agg(count(lit(1)).as("n_cap_a"))
      val n2 = pB.agg(count(lit(1)).as("n_cap_b"))
      val m = pA.join(pB, Seq("id_a", "id_b")).agg(count(lit(1)).as("n_overlap"))
      n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
        .select(col("n_cap_a"), col("n_cap_b"), col("n_overlap"),
          round(((col("n_cap_a") + 1) * (col("n_cap_b") + 1)).cast("double") /
            (col("n_overlap") + 1).cast("double") - lit(1.0), 2).as("chapman_estimate"))
    },

    // Keyword-in-context concordance: the first 8 occurrences of each
    // query term with 3 tokens of context either side — the corpus
    // auditor's "how is this word actually used" view.
    "q_kwic" -> { (s, dir) =>
      TextRank.kwic(Tables(s, dir).documents, "doc_id", "text",
        terms = Seq("spark", "window", "merge", "data"), ctx = 3, kPerTerm = 8)
        .withColumnRenamed("id", "doc_id")
    },

    // #42bi per-doc OOV rate vs the corpus's own top-500 vocabulary —
    // the tokenizer-planning / source-health signal (high OOV docs
    // fragment into subwords or unks).
    "q_oov_rate" -> { (s, dir) =>
      TextRank.oovRate(Tables(s, dir).documents, "doc_id", "text", vocabK = 500)
    },

    // #42bk mergeable MinHash maintenance: each doc's shingle set is
    // split into two deterministic "harvest chunks" (md5 first-hex
    // parity), each chunk signatured independently, and the chunks
    // folded by elementwise min — which must equal the full-document
    // signature exactly, because sig(A ∪ B) = min(sig(A), sig(B)).
    // The incremental-dedup ledger property: new chunks fold into
    // stored signatures without re-reading old text.
    "q_minhash_merge" -> { (s, dir) =>
      val h = 8
      // Native single-pass expression: per shingle, ONE parity md5 and
      // ONE set of h salted md5s, folded into lo/hi chunk signatures +
      // the full signature (vs ~18 interpreted-HOF md5s per shingle in
      // the composed form — the round-8 verdict's triple-compute).
      // The ledger property under test (sig(A∪B) = min(sig A, sig B))
      // is still exercised by the REAL merge operator: the chunk
      // signatures are exploded to per-chunk rows and folded back by
      // mergeSignatures' (id, pos) min aggregation.
      val sigs = Tables(s, dir).documents
        .select(col("doc_id"), TextAnalysis.wordNgrams(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), graft.plans.ChunkedMinHashSig(col("sh"), h).as("cs"))
        .localCheckpoint(true) // feeds chunks AND full (q_modularity lesson)
      val chunks = sigs
        .select(col("doc_id"), explode(array(col("cs.lo"), col("cs.hi"))).as("sig"))
        .filter(col("sig").isNotNull)
      val merged = TextDedup.mergeSignatures(chunks, "doc_id", "sig")
        .select(col("doc_id"), concat_ws("", col("sig")).as("sig_merged"))
      val full = sigs.select(col("doc_id"), concat_ws("", col("cs.full")).as("sig_full"))
      merged.join(full, "doc_id")
        .withColumn("is_equal", col("sig_merged") === col("sig_full"))
    },

    // #34 SimHash hamming distance original vs planted variant (rows-only).
    "q_dedup_simhash" -> { (s, dir) =>
      val p = planted(Tables(s, dir))
      val sh = p.select(col("doc_id"), TextDedup.simhashBits(TextAnalysis.tokenize(col("text"))).as("bits"))
      sh.as("a")
        .join(sh.as("b"), col("b.doc_id") === col("a.doc_id") + 1000000)
        .select(
          col("a.doc_id").as("id_a"),
          col("b.doc_id").as("id_b"),
          TextDedup.hamming(col("a.bits"), col("b.bits")).as("hamming")
        )
    },

    // #36 exact ANN baseline: top-3 cosine neighbors per probe.
    "q_ann_bruteforce" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))
      VectorOps.bruteForceTopK(e.filter(col("id") % 20 === 0 && col("id") < 20000), e, 3)
        .select(col("probe_id"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
    },

    // #37 LSH-bucketed ANN (rows-only; recall checked in spec).
    "q_ann_lsh" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))
      VectorOps.lshTopK(e.filter(col("id") % 20 === 0 && col("id") < 20000), e, 3, planes = 8, dim = 64)
        .select(col("probe_id"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
    },

    // SemDeDup-shaped semantic dedup: sign-LSH cells, per-cell
    // representative, cosine prune at 0.99 — catches the scaled-vector
    // planted duplicates as SEMANTIC dups of their originals.
    "q_semantic_dedup" -> { (s, dir) =>
      val e0 = Tables(s, dir).embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val withPlanted = e0.unionByName(
        e0.filter(col("id") % 10 === 0).select(
          (col("id") + 1000000).as("id"),
          transform(col("vec"), x => x * 1.5f).as("vec")))
      VectorOps.semanticDedup(withPlanted, planes = 8, dim = 64, tau = 0.99)
    },

    // Johnson–Lindenstrauss random projection 64→16: the ANN pre-step
    // that cuts every downstream dot product 4×. Deterministic ±1
    // matrix inlined at plan time — oracle-exact per element (both
    // engines fold the dot product in ascending order; the one
    // division and the rounding are identical), distance-preservation
    // measured in VectorSpec. Emitted as 16 SCALAR columns p00..p15
    // (not one array column): the driver's comparator sorts rows of
    // scalar cells, and an array-typed cell broke that sort.
    "q_jl_project" -> { (s, dir) =>
      val proj = VectorOps.randomProject(
        Tables(s, dir).embeddings.select(col("vec_id"), col("embedding")),
        "embedding", outDim = 16, dim = 64)
      proj.select(
        col("vec_id") +: (0 until 16).map(i => col("proj")(i).as(f"p$i%02d")): _*)
    },

    // DSIR importance weights: hashed-unigram log-likelihood ratio of
    // the English-doc target distribution vs the whole pool.
    "q_dsir_weights" -> { (s, dir) =>
      val t = Tables(s, dir)
      Dsir.importanceWeights(
        t.documents, t.documents.filter(col("lang") === "en"),
        idCol = "doc_id", textCol = "text", buckets = 1024)
    },

    // DSIR selection: Gumbel-top-k over the importance weights —
    // the deterministic sampling-without-replacement step.
    "q_dsir_select" -> { (s, dir) =>
      val t = Tables(s, dir)
      Dsir.gumbelTopK(
        Dsir.importanceWeights(
          t.documents, t.documents.filter(col("lang") === "en"),
          idCol = "doc_id", textCol = "text", buckets = 1024),
        idCol = "id", weightCol = "weight", k = 500, seed = 17L)
    },

    // On-corpus Naive Bayes: fit a language model on the corpus's own
    // labels, predict every doc — train+predict end-to-end in one plan.
    "q_nb_lang" -> { (s, dir) =>
      // NO Par.spread here (r14 interleaved A/B): the NB fit+predict
      // chain has many downstream aggregation stages, and widening the
      // scan multiplied their task counts — cpu 1.6->9.2 s, wall floor
      // 1.13->1.80 s. Single-scan stays the measured optimum.
      val docs = Tables(s, dir).documents
      NaiveBayes.predict(docs,
        NaiveBayes.fit(docs, labelCol = "lang", textCol = "text", buckets = 1024),
        idCol = "doc_id", textCol = "text", buckets = 1024)
    },

    // #86s McNemar's paired test: heuristic lang-id (classifier A) vs
    // the self-trained Naive Bayes (classifier B) on the SAME docs
    // against the lang labels — the discordant-pair readout for
    // comparing classifiers on a shared eval set.
    "q_mcnemar" -> { (s, dir) =>
      // NO Par.spread (r14 A/B): same NB-chain task-count blowup as
      // q_nb_lang — cpu 1.7->15.6 s, wall floor 1.13->2.01 s.
      val d = Tables(s, dir).documents
      val profiles = Seq("en", "de", "es", "fr").map(l => l -> TextAnalysis.langProfiles(l))
      val a = TextAnalysis.withLangPrediction(d, col("text"), profiles, "und", "pred_a")
        .select(col("doc_id"), col("lang"), col("pred_a"))
      val b = NaiveBayes.predict(d,
        NaiveBayes.fit(d, "lang", "text", buckets = 1024), "doc_id", "text", buckets = 1024)
        .select(col("id").as("doc_id"), col("predicted").as("pred_b"))
      Stats.mcnemar(a.join(b, "doc_id"),
        col("pred_a") === col("lang"), col("pred_b") === col("lang"))
    },

    // #42ak2 confident-learning label-noise gate (Northcutt et al.
    // 2021, margin form): docs whose self-trained classifier beats the
    // given lang label by >= 0.5 log-odds — the labels the data itself
    // contradicts.
    "q_label_noise" -> { (s, dir) =>
      // NO Par.spread (r14 A/B): NB-chain task-count blowup, cpu
      // 1.8->6.6 s, wall floor 1.38->1.88 s.
      NaiveBayes.labelNoise(Tables(s, dir).documents, "doc_id", "lang", "text",
        margin = 0.5, buckets = 1024)
        .withColumnRenamed("id", "doc_id").withColumnRenamed("label", "lang")
    }
  )

  private val wsCte =
    "w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents)"

  /** The md5-portable MinHash-LSH chain (planted docs → shingles →
    * signatures → bands → verified pairs `j`), shared by
    * q_dedup_minhash_md5 and q_fuzzy_dedup so the fused pipeline's
    * oracle provably starts from the same candidate set.
    */
  private val minhashMd5Cte =
    """pl AS (SELECT doc_id, text FROM documents
      |            UNION ALL
      |            SELECT doc_id + 1000000 AS doc_id, text || ' extra tail token' AS text
      |            FROM documents WHERE doc_id % 5 = 0),
      |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM pl),
      |g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
      |        i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS sh
      |      FROM w WHERE len(ws) >= 3),
      |sg AS (SELECT doc_id,
      |         list_transform(range(0, 8), i ->
      |           list_min(list_transform(sh, s -> substr(md5(s || ':' || i), 1, 16)))) AS sig
      |       FROM g),
      |bd AS (SELECT doc_id, u.band AS band, u.bh AS bh FROM (
      |         SELECT doc_id, unnest(list_transform(range(0, 4), b ->
      |           {'band': b, 'bh': array_to_string(list_slice(sig, b * 2 + 1, b * 2 + 2), '')})) AS u
      |         FROM sg) t),
      |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |         FROM bd x JOIN bd y ON y.band = x.band AND y.bh = x.bh AND x.doc_id < y.doc_id),
      |j AS (SELECT c.id_a, c.id_b,
      |        round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
      |          ELSE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
      |               / len(list_distinct(list_concat(a.sh, b.sh))) END, 4) AS jaccard
      |      FROM cand c JOIN g a ON a.doc_id = c.id_a JOIN g b ON b.doc_id = c.id_b)""".stripMargin

  /** Shared NB train+score CTE chain (model fit from the corpus's own
    * labels + per-(doc, class) log-posterior scores) — the common
    * prefix of the q_nb_lang and q_label_noise oracles. Defined BEFORE
    * `oracles`: object vals initialize in source order.
    */
  private val nbScoreCte =
    """binned AS (SELECT class, ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS b
      |                FROM (SELECT lang AS class, unnest(string_split(lower(text), ' ')) AS w
      |                      FROM documents) t),
      |counts AS (SELECT class, b, count(*) AS n FROM binned GROUP BY class, b),
      |ctot AS (SELECT class, sum(n) AS ct FROM counts GROUP BY class),
      |pri AS (SELECT lang AS class, count(*) AS docs FROM documents GROUP BY lang),
      |nd AS (SELECT count(*) AS nd FROM documents),
      |model AS (SELECT c.class, c.b,
      |            ln((c.n + 1.0) / (ctot.ct + 1024.0)) AS loglik,
      |            ln(pri.docs * 1.0 / nd.nd) AS logprior,
      |            ln(1.0 / (ctot.ct + 1024.0)) AS logmiss
      |          FROM counts c JOIN ctot USING (class) JOIN pri USING (class) CROSS JOIN nd),
      |db AS (SELECT id, b, count(*) AS cnt FROM
      |        (SELECT doc_id AS id, ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS b
      |         FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t)
      |       GROUP BY id, b),
      |cls AS (SELECT DISTINCT class, logprior, logmiss FROM model),
      |sc AS (SELECT db.id, cls.class, cls.logprior,
      |         cls.logprior + sum(db.cnt * coalesce(m.loglik, cls.logmiss)) AS score
      |       FROM db CROSS JOIN cls
      |       LEFT JOIN (SELECT class, b, loglik FROM model) m
      |         ON m.class = cls.class AND m.b = db.b
      |       GROUP BY db.id, cls.class, cls.logprior)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT sha256(lower(substr(text, 1, 20))) AS text_hash, count(*) AS n_dups, min(doc_id) AS keeper_id
        |FROM documents GROUP BY sha256(lower(substr(text, 1, 20)))""".stripMargin,
    "q_token_count" ->
      s"""WITH $wsCte
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |       CAST(list_sum(list_transform(ws, w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_est
         |FROM w""".stripMargin,
    "q_tok_fertility" ->
      """WITH w AS (SELECT lang, string_split(lower(text), ' ') AS ws,
        |             CAST(length(text) AS BIGINT) AS chars FROM documents),
        |p AS (SELECT lang, CAST(len(ws) AS BIGINT) AS wtoks,
        |        CAST(list_sum(list_transform(ws, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS btoks,
        |        chars FROM w),
        |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(wtoks) AS BIGINT) AS n_words,
        |        CAST(sum(btoks) AS BIGINT) AS n_bpe, CAST(sum(chars) AS BIGINT) AS n_chars
        |      FROM p GROUP BY lang)
        |SELECT lang, n_docs, n_words, n_bpe,
        |  round(n_bpe::DOUBLE / n_words::DOUBLE, 4) + 0.0 AS fertility,
        |  round(n_chars::DOUBLE / n_bpe::DOUBLE, 4) + 0.0 AS chars_per_token
        |FROM a""".stripMargin,
    "q_ngram_coverage" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, doc_id % 97 = 0 AS t,
        |        list_distinct(list_transform(range(1, len(ws) - 1),
        |          i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS sh
        |      FROM w WHERE len(ws) >= 3),
        |cg AS (SELECT DISTINCT unnest(sh) AS gr FROM g WHERE NOT t),
        |tg AS (SELECT doc_id, unnest(sh) AS gr FROM g WHERE t),
        |ts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams FROM tg GROUP BY doc_id),
        |cv AS (SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_covered
        |       FROM tg JOIN cg ON cg.gr = tg.gr GROUP BY tg.doc_id)
        |SELECT ts.doc_id, ts.n_trigrams, COALESCE(cv.n_covered, 0) AS n_covered,
        |       COALESCE(cv.n_covered, 0) * 1000000 // ts.n_trigrams AS coverage_ppm
        |FROM ts LEFT JOIN cv USING (doc_id)""".stripMargin,
    "q_bleu_pairs" ->
      """WITH p AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS rw,
        |             string_split(lower(text) || ' extra tail token', ' ') AS cw
        |           FROM documents WHERE doc_id % 5 = 0),
        |l AS (SELECT id, CAST(len(rw) AS BIGINT) AS n_ref, CAST(len(cw) AS BIGINT) AS n_cand FROM p),
        |rc1 AS (SELECT id, g, count(*) AS rc FROM (SELECT id, unnest(rw) AS g FROM p) GROUP BY 1, 2),
        |cc1 AS (SELECT id, g, count(*) AS cc FROM (SELECT id, unnest(cw) AS g FROM p) GROUP BY 1, 2),
        |m1 AS (SELECT id, CAST(sum(least(cc, rc)) AS BIGINT) AS m1
        |       FROM cc1 JOIN rc1 USING (id, g) GROUP BY id),
        |rc2 AS (SELECT id, g, count(*) AS rc FROM (
        |          SELECT id, unnest(list_transform(range(1, len(rw)), i -> rw[i] || ' ' || rw[i+1])) AS g
        |          FROM p WHERE len(rw) >= 2) GROUP BY 1, 2),
        |cc2 AS (SELECT id, g, count(*) AS cc FROM (
        |          SELECT id, unnest(list_transform(range(1, len(cw)), i -> cw[i] || ' ' || cw[i+1])) AS g
        |          FROM p WHERE len(cw) >= 2) GROUP BY 1, 2),
        |m2 AS (SELECT id, CAST(sum(least(cc, rc)) AS BIGINT) AS m2
        |       FROM cc2 JOIN rc2 USING (id, g) GROUP BY id),
        |j AS (SELECT l.id, n_ref, n_cand, COALESCE(m1.m1, 0) AS m1, COALESCE(m2.m2, 0) AS m2
        |      FROM l LEFT JOIN m1 ON m1.id = l.id LEFT JOIN m2 ON m2.id = l.id)
        |SELECT id AS doc_id, n_ref, n_cand, m1, m2,
        |  round(CASE WHEN m1 = 0 OR m2 = 0 OR n_cand < 2 THEN 0.0
        |    ELSE (CASE WHEN n_cand >= n_ref THEN 1.0
        |          ELSE exp(1.0 - n_ref::DOUBLE / n_cand::DOUBLE) END)
        |      * exp((ln(m1::DOUBLE / n_cand::DOUBLE)
        |             + ln(m2::DOUBLE / (n_cand - 1)::DOUBLE)) / 2.0)
        |  END, 4) + 0.0 AS bleu
        |FROM j""".stripMargin,
    "q_wer_pairs" ->
      """WITH w0 AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
        |            FROM documents WHERE doc_id % 5 = 0),
        |m0 AS (SELECT doc_id, ws,
        |         list_concat(list_concat(ws[1:4], ['zzz']), ws[6:]) AS sub FROM w0),
        |p AS (SELECT doc_id AS id, list_slice(ws, 1, 40) AS rw,
        |        CASE WHEN doc_id % 10 = 0
        |             THEN list_slice(list_concat(sub[1:9], sub[11:]), 1, 40)
        |             ELSE list_slice(sub, 1, 40) END AS cw
        |      FROM m0),
        |v AS (SELECT DISTINCT id, g FROM (
        |        SELECT id, unnest(rw) AS g FROM p
        |        UNION ALL SELECT id, unnest(cw) AS g FROM p)),
        |d AS (SELECT id, g,
        |        chr(CAST(33 + row_number() OVER (PARTITION BY id ORDER BY g) AS INTEGER)) AS ch
        |      FROM v),
        |rt AS (SELECT id, i, rw[i] AS g FROM p, unnest(range(1, len(rw) + 1)) AS t(i)),
        |ct AS (SELECT id, i, cw[i] AS g FROM p, unnest(range(1, len(cw) + 1)) AS t(i)),
        |rs AS (SELECT rt.id, string_agg(ch, '' ORDER BY i) AS s
        |       FROM rt JOIN d ON d.id = rt.id AND d.g = rt.g GROUP BY rt.id),
        |cs AS (SELECT ct.id, string_agg(ch, '' ORDER BY i) AS s
        |       FROM ct JOIN d ON d.id = ct.id AND d.g = ct.g GROUP BY ct.id),
        |l AS (SELECT id, CAST(len(rw) AS BIGINT) AS n_ref, CAST(len(cw) AS BIGINT) AS n_cand FROM p)
        |SELECT l.id AS doc_id, n_ref, n_cand,
        |  CAST(levenshtein(COALESCE(cs.s, ''), rs.s) AS BIGINT) AS token_edits,
        |  CAST(levenshtein(COALESCE(cs.s, ''), rs.s) AS BIGINT) * 1000000 // n_ref AS wer_ppm
        |FROM l JOIN rs ON rs.id = l.id LEFT JOIN cs ON cs.id = l.id""".stripMargin,
    "q_lsh_eval" ->
      s"""WITH $minhashMd5Cte,
         |tr AS (SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents
         |       WHERE doc_id % 5 = 0),
         |v AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
         |m AS (SELECT CAST((SELECT count(*) FROM tr) AS BIGINT) AS n_truth,
         |        CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
         |        CAST((SELECT count(*) FROM v) AS BIGINT) AS n_verified,
         |        CAST((SELECT count(*) FROM cand JOIN tr USING (id_a, id_b)) AS BIGINT) AS truth_found,
         |        CAST((SELECT count(*) FROM v JOIN tr USING (id_a, id_b)) AS BIGINT) AS verified_truth)
         |SELECT n_truth, n_candidates, n_verified, truth_found, verified_truth,
         |  CASE WHEN n_truth > 0 THEN verified_truth * 1000000 // n_truth END AS recall_ppm,
         |  CASE WHEN n_candidates > 0 THEN n_verified * 1000000 // n_candidates END AS verify_rate_ppm
         |FROM m""".stripMargin,
    "q_quality_score" ->
      s"""WITH $wsCte,
         |q AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |        CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS mean_raw,
         |        CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS stop_hits
         |      FROM w)
         |SELECT doc_id, n_tokens, round(mean_raw, 4) AS mean_len, stop_hits,
         |       (n_tokens BETWEEN 10 AND 100000) AND (mean_raw BETWEEN 2 AND 12) AND stop_hits > 0 AS gopher_ok
         |FROM q""".stripMargin,
    "q_lang_id" ->
      s"""WITH $wsCte,
         |h AS (SELECT doc_id,
         |        CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS en,
         |        CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS BIGINT) AS de,
         |        CAST(len(list_filter(ws, w -> w IN ('el','la','de','los','las','y','es','en','un','una'))) AS BIGINT) AS es,
         |        CAST(len(list_filter(ws, w -> w IN ('le','la','les','et','des','est','un','une','dans','pour'))) AS BIGINT) AS fr
         |      FROM w)
         |SELECT doc_id, en AS en_hits, es AS es_hits,
         |       CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
         |            WHEN en = greatest(en, de, es, fr) THEN 'en'
         |            WHEN de = greatest(en, de, es, fr) THEN 'de'
         |            WHEN es = greatest(en, de, es, fr) THEN 'es'
         |            ELSE 'fr' END AS predicted
         |FROM h""".stripMargin,
    // The q_lang_id argmax chain aggregated against the label column.
    "q_lang_confusion" ->
      s"""WITH $wsCte,
         |h AS (SELECT doc_id,
         |        CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS en,
         |        CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS BIGINT) AS de,
         |        CAST(len(list_filter(ws, w -> w IN ('el','la','de','los','las','y','es','en','un','una'))) AS BIGINT) AS es,
         |        CAST(len(list_filter(ws, w -> w IN ('le','la','les','et','des','est','un','une','dans','pour'))) AS BIGINT) AS fr
         |      FROM w),
         |p AS (SELECT doc_id,
         |        CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
         |             WHEN en = greatest(en, de, es, fr) THEN 'en'
         |             WHEN de = greatest(en, de, es, fr) THEN 'de'
         |             WHEN es = greatest(en, de, es, fr) THEN 'es'
         |             ELSE 'fr' END AS predicted
         |      FROM h)
         |SELECT d.lang, p.predicted, CAST(count(*) AS BIGINT) AS n
         |FROM documents d JOIN p USING (doc_id)
         |GROUP BY d.lang, p.predicted""".stripMargin,
    // Kappa from the same confusion cells as one exact integer ratio:
    // (n_agree·N − Σ na·np) / (N² − Σ na·np).
    "q_cohens_kappa" ->
      s"""WITH $wsCte,
         |h AS (SELECT doc_id,
         |        CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS en,
         |        CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS BIGINT) AS de,
         |        CAST(len(list_filter(ws, w -> w IN ('el','la','de','los','las','y','es','en','un','una'))) AS BIGINT) AS es,
         |        CAST(len(list_filter(ws, w -> w IN ('le','la','les','et','des','est','un','une','dans','pour'))) AS BIGINT) AS fr
         |      FROM w),
         |p AS (SELECT doc_id,
         |        CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
         |             WHEN en = greatest(en, de, es, fr) THEN 'en'
         |             WHEN de = greatest(en, de, es, fr) THEN 'de'
         |             WHEN es = greatest(en, de, es, fr) THEN 'es'
         |             ELSE 'fr' END AS predicted
         |      FROM h),
         |cells AS (SELECT d.lang AS a, p.predicted AS pp, CAST(count(*) AS BIGINT) AS n
         |          FROM documents d JOIN p USING (doc_id) GROUP BY 1, 2),
         |rm AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cells GROUP BY a),
         |cm AS (SELECT pp, CAST(sum(n) AS BIGINT) AS np FROM cells GROUP BY pp),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
         |ag AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_agree FROM cells WHERE a = pp),
         |pe AS (SELECT CAST(coalesce(sum(na * np), 0) AS BIGINT) AS pe_num
         |       FROM rm JOIN cm ON rm.a = cm.pp)
         |SELECT nt AS n, n_agree,
         |  round(n_agree::DOUBLE / nt::DOUBLE, 6) + 0.0 AS po,
         |  round(pe_num::DOUBLE / (nt * nt)::DOUBLE, 6) + 0.0 AS pe,
         |  round((n_agree * nt - pe_num)::DOUBLE / (nt * nt - pe_num)::DOUBLE, 6) + 0.0 AS kappa
         |FROM ag, tot, pe""".stripMargin,
    "q_bland_altman" ->
      s"""WITH $wsCte,
         |d AS (SELECT CAST(len(ws) AS BIGINT) -
         |        CAST(list_sum(list_transform(ws, w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT)
         |        AS d FROM w),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS sd1,
         |        sum(CAST(d AS HUGEINT)*d) AS sd2 FROM d)
         |SELECT n,
         |  CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_diff,
         |  sqrt((CAST(sd2 AS DOUBLE) - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE))
         |       / (CAST(n AS DOUBLE) - 1.0)) AS sd_diff,
         |  CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE) - 1.96 *
         |    sqrt((CAST(sd2 AS DOUBLE) - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE))
         |         / (CAST(n AS DOUBLE) - 1.0)) AS loa_lo,
         |  CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE) + 1.96 *
         |    sqrt((CAST(sd2 AS DOUBLE) - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE))
         |         / (CAST(n AS DOUBLE) - 1.0)) AS loa_hi
         |FROM s""".stripMargin,

    "q_isotonic" ->
      s"""WITH $wsCte,
         |h AS (SELECT doc_id,
         |        CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS en,
         |        CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS BIGINT) AS de,
         |        CAST(len(list_filter(ws, w -> w IN ('el','la','de','los','las','y','es','en','un','una'))) AS BIGINT) AS es,
         |        CAST(len(list_filter(ws, w -> w IN ('le','la','les','et','des','est','un','une','dans','pour'))) AS BIGINT) AS fr
         |      FROM w),
         |sc AS (SELECT d.doc_id,
         |        (h.en + 0.5) / (h.en + h.de + h.es + h.fr + 1.0) AS c,
         |        CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |      FROM h JOIN documents d USING (doc_id)),
         |pb AS (SELECT least(CAST(floor(c * 10) AS INT), 9) AS bin,
         |         CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
         |       FROM sc GROUP BY 1),
         |pre AS (SELECT bin, n, sy,
         |          CAST(sum(n) OVER w AS BIGINT) AS cn, CAST(sum(sy) OVER w AS BIGINT) AS cy
         |        FROM pb WINDOW w AS (ORDER BY bin
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |iv AS (SELECT lo.l, hi.j,
         |         CAST(hi.jy - lo.py AS DOUBLE) / CAST(hi.jn - lo.pn AS DOUBLE) AS rate
         |       FROM (SELECT bin AS l, cn - n AS pn, cy - sy AS py FROM pre) lo
         |       CROSS JOIN (SELECT bin AS j, cn AS jn, cy AS jy FROM pre) hi
         |       WHERE lo.l <= hi.j),
         |mm AS (SELECT m.i, iv.j, max(iv.rate) AS mx, max(m.n) AS n, max(m.sy) AS sy
         |       FROM (SELECT bin AS i, n, sy FROM pre) m
         |       JOIN iv ON iv.l <= m.i AND m.i <= iv.j
         |       GROUP BY m.i, iv.j),
         |iso AS (SELECT i, min(mx) AS iso_rate, max(n) AS n, max(sy) AS sy
         |        FROM mm GROUP BY i)
         |SELECT i AS bin, n,
         |  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate, iso_rate
         |FROM iso""".stripMargin,

    "q_selective_risk" ->
      s"""WITH $wsCte,
         |h AS (SELECT doc_id,
         |        CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS en,
         |        CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS BIGINT) AS de,
         |        CAST(len(list_filter(ws, w -> w IN ('el','la','de','los','las','y','es','en','un','una'))) AS BIGINT) AS es,
         |        CAST(len(list_filter(ws, w -> w IN ('le','la','les','et','des','est','un','une','dans','pour'))) AS BIGINT) AS fr
         |      FROM w),
         |s AS (SELECT least(CAST(floor((h.en + 0.5) / (h.en + h.de + h.es + h.fr + 1.0) * 10) AS INT), 9) AS bin,
         |        CASE WHEN ((h.en + 0.5) / (h.en + h.de + h.es + h.fr + 1.0) >= 0.5) = (d.lang = 'en')
         |             THEN 0 ELSE 1 END AS err
         |      FROM h JOIN documents d USING (doc_id)),
         |per AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(err) AS BIGINT) AS errors
         |        FROM s GROUP BY bin),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM per),
         |cum AS (SELECT bin, n,
         |          CAST(sum(n) OVER w AS BIGINT) AS n_covered,
         |          CAST(sum(errors) OVER w AS BIGINT) AS cum_errors
         |        FROM per WINDOW w AS (ORDER BY bin DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT bin, n, n_covered,
         |  CAST(n_covered AS DOUBLE) / CAST(nn AS DOUBLE) AS coverage,
         |  CAST(cum_errors AS DOUBLE) / CAST(n_covered AS DOUBLE) AS selective_risk
         |FROM cum, tot""".stripMargin,
    "q_f1_scorecard" ->
      s"""WITH $wsCte,
         |h AS (SELECT doc_id,
         |        CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS en,
         |        CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS BIGINT) AS de,
         |        CAST(len(list_filter(ws, w -> w IN ('el','la','de','los','las','y','es','en','un','una'))) AS BIGINT) AS es,
         |        CAST(len(list_filter(ws, w -> w IN ('le','la','les','et','des','est','un','une','dans','pour'))) AS BIGINT) AS fr
         |      FROM w),
         |pr AS (SELECT doc_id,
         |        CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
         |             WHEN en = greatest(en, de, es, fr) THEN 'en'
         |             WHEN de = greatest(en, de, es, fr) THEN 'de'
         |             WHEN es = greatest(en, de, es, fr) THEN 'es'
         |             ELSE 'fr' END AS pred
         |      FROM h),
         |s AS (SELECT d.lang AS actual, pr.pred FROM pr JOIN documents d USING (doc_id)),
         |cl AS (SELECT DISTINCT actual AS cls FROM s UNION SELECT DISTINCT pred FROM s),
         |pc AS (SELECT cls,
         |         CAST(sum(CASE WHEN actual = cls AND pred = cls THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN actual <> cls AND pred = cls THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(sum(CASE WHEN actual = cls AND pred <> cls THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |       FROM cl CROSS JOIN s GROUP BY cls)
         |SELECT cls, tp, fp, fn,
         |  round(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) ELSE 0.0 END, 6) AS precision,
         |  round(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) ELSE 0.0 END, 6) AS recall,
         |  round(CASE WHEN tp * 2 + fp + fn > 0 THEN CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE) ELSE 0.0 END, 6) AS f1
         |FROM pc""".stripMargin,
    "q_mcc" ->
      s"""WITH $wsCte,
         |h AS (SELECT doc_id,
         |        CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS en,
         |        CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS BIGINT) AS de,
         |        CAST(len(list_filter(ws, w -> w IN ('el','la','de','los','las','y','es','en','un','una'))) AS BIGINT) AS es,
         |        CAST(len(list_filter(ws, w -> w IN ('le','la','les','et','des','est','un','une','dans','pour'))) AS BIGINT) AS fr
         |      FROM w),
         |pr AS (SELECT doc_id,
         |        CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
         |             WHEN en = greatest(en, de, es, fr) THEN 'en'
         |             WHEN de = greatest(en, de, es, fr) THEN 'de'
         |             WHEN es = greatest(en, de, es, fr) THEN 'es'
         |             ELSE 'fr' END AS pred
         |      FROM h),
         |s AS (SELECT d.lang = 'en' AS a, pr.pred = 'en' AS p
         |      FROM pr JOIN documents d USING (doc_id)),
         |cm AS (SELECT
         |         CAST(sum(CASE WHEN a AND p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN NOT a AND p THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(sum(CASE WHEN NOT a AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |         CAST(sum(CASE WHEN a AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |       FROM s)
         |SELECT tp, fp, tn, fn,
         |  CASE WHEN sqrt(CAST((CAST(tp AS HUGEINT) + fp) * (CAST(tp AS HUGEINT) + fn) AS DOUBLE)) *
         |            sqrt(CAST((CAST(tn AS HUGEINT) + fp) * (CAST(tn AS HUGEINT) + fn) AS DOUBLE)) > 0
         |    THEN round(CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn AS DOUBLE) /
         |         (sqrt(CAST((CAST(tp AS HUGEINT) + fp) * (CAST(tp AS HUGEINT) + fn) AS DOUBLE)) *
         |          sqrt(CAST((CAST(tn AS HUGEINT) + fp) * (CAST(tn AS HUGEINT) + fn) AS DOUBLE))), 6)
         |  END AS mcc
         |FROM cm""".stripMargin,
    "q_equalized_odds" ->
      s"""WITH $wsCte,
         |h AS (SELECT doc_id,
         |        CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS en,
         |        CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS BIGINT) AS de,
         |        CAST(len(list_filter(ws, w -> w IN ('el','la','de','los','las','y','es','en','un','una'))) AS BIGINT) AS es,
         |        CAST(len(list_filter(ws, w -> w IN ('le','la','les','et','des','est','un','une','dans','pour'))) AS BIGINT) AS fr
         |      FROM w),
         |pr AS (SELECT doc_id,
         |        CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
         |             WHEN en = greatest(en, de, es, fr) THEN 'en'
         |             WHEN de = greatest(en, de, es, fr) THEN 'de'
         |             WHEN es = greatest(en, de, es, fr) THEN 'es'
         |             ELSE 'fr' END AS pred
         |      FROM h),
         |s AS (SELECT d.source, d.lang = 'en' AS a, pr.pred = 'en' AS p
         |      FROM pr JOIN documents d USING (doc_id)),
         |per AS (SELECT source,
         |          CAST(sum(CASE WHEN a AND p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |          CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         |          CAST(sum(CASE WHEN NOT a AND p THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |          CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS neg
         |        FROM s GROUP BY source),
         |tot AS (SELECT CAST(sum(tp) AS BIGINT) AS ttp, CAST(sum(pos) AS BIGINT) AS tpos,
         |          CAST(sum(fp) AS BIGINT) AS tfp, CAST(sum(neg) AS BIGINT) AS tneg FROM per)
         |SELECT source, pos, neg,
         |  round(CASE WHEN pos > 0 THEN CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE) END, 6) AS tpr,
         |  round(CASE WHEN neg > 0 THEN CAST(fp AS DOUBLE) / CAST(neg AS DOUBLE) END, 6) AS fpr,
         |  round(CASE WHEN pos > 0 THEN CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE) END
         |        - CASE WHEN tpos > 0 THEN CAST(ttp AS DOUBLE) / CAST(tpos AS DOUBLE) END, 6) AS tpr_gap,
         |  round(CASE WHEN neg > 0 THEN CAST(fp AS DOUBLE) / CAST(neg AS DOUBLE) END
         |        - CASE WHEN tneg > 0 THEN CAST(tfp AS DOUBLE) / CAST(tneg AS DOUBLE) END, 6) AS fpr_gap
         |FROM per, tot""".stripMargin,
    "q_fleiss_kappa" ->
      s"""WITH $wsCte,
         |h AS (SELECT doc_id,
         |        CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS en,
         |        CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS BIGINT) AS de,
         |        CAST(len(list_filter(ws, w -> w IN ('el','la','de','los','las','y','es','en','un','una'))) AS BIGINT) AS es,
         |        CAST(len(list_filter(ws, w -> w IN ('le','la','les','et','des','est','un','une','dans','pour'))) AS BIGINT) AS fr
         |      FROM w),
         |p AS (SELECT doc_id,
         |        CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
         |             WHEN en = greatest(en, de, es, fr) THEN 'en'
         |             WHEN de = greatest(en, de, es, fr) THEN 'de'
         |             WHEN es = greatest(en, de, es, fr) THEN 'es'
         |             ELSE 'fr' END AS cat
         |      FROM h),
         |rt AS (SELECT doc_id, lang AS cat FROM documents
         |       UNION ALL SELECT doc_id, cat FROM p
         |       UNION ALL SELECT doc_id,
         |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8)
         |                   < '${Sampling.hexThreshold(0.2)}'
         |              THEN 'und' ELSE lang END AS cat
         |       FROM documents),
         |c AS (SELECT doc_id AS item, cat, CAST(count(*) AS BIGINT) AS nij
         |      FROM rt GROUP BY 1, 2),
         |comp AS (SELECT item FROM c GROUP BY item HAVING sum(nij) = 3),
         |k AS (SELECT c.* FROM c JOIN comp USING (item)),
         |pi AS (SELECT CAST(count(DISTINCT item) AS BIGINT) AS n_items,
         |         sum(CAST(nij AS HUGEINT)*nij) AS s2 FROM k),
         |pc AS (SELECT sum(CAST(mj AS HUGEINT)*mj) AS m2 FROM
         |         (SELECT cat, CAST(sum(nij) AS BIGINT) AS mj FROM k GROUP BY cat)),
         |fk AS (SELECT n_items,
         |         (CAST(s2 AS DOUBLE) - CAST(n_items AS DOUBLE) * 3.0)
         |           / (CAST(n_items AS DOUBLE) * 3.0 * (3.0 - 1.0)) AS pbar,
         |         CAST(m2 AS DOUBLE)
         |           / (CAST(n_items AS DOUBLE) * 3.0 * (CAST(n_items AS DOUBLE) * 3.0)) AS pe
         |       FROM pi, pc)
         |SELECT n_items, CAST(3 AS INT) AS n_raters,
         |  round(pbar, 6) AS p_bar, round(pe, 6) AS p_e,
         |  round((pbar - pe) / (1.0 - pe), 6) AS fleiss_kappa
         |FROM fk""".stripMargin,
    // Same Laplace-smoothed confidence, equal-width binning, and 6-dp
    // rounding; the ECE window runs over the ≤10 bin rows.
    "q_calibration" ->
      s"""WITH $wsCte,
         |h AS (SELECT doc_id,
         |        CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS en,
         |        CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS BIGINT) AS de,
         |        CAST(len(list_filter(ws, w -> w IN ('el','la','de','los','las','y','es','en','un','una'))) AS BIGINT) AS es,
         |        CAST(len(list_filter(ws, w -> w IN ('le','la','les','et','des','est','un','une','dans','pour'))) AS BIGINT) AS fr
         |      FROM w),
         |s AS (SELECT d.doc_id,
         |        (h.en + 0.5) / (h.en + h.de + h.es + h.fr + 1.0) AS c,
         |        CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |      FROM h JOIN documents d USING (doc_id)),
         |pb AS (SELECT least(CAST(floor(c * 10) AS INT), 9) AS bin,
         |         CAST(count(*) AS BIGINT) AS n, sum(c) AS sc, sum(y) AS sy
         |       FROM s GROUP BY 1)
         |SELECT bin, n,
         |  round(sc / n, 6) AS conf_avg,
         |  round(sy::DOUBLE / n, 6) AS acc,
         |  round(abs(sy::DOUBLE / n - sc / n), 6) AS gap,
         |  round(sum(abs(sy::DOUBLE / n - sc / n) * n) OVER () / sum(n) OVER (), 6) AS ece
         |FROM pb
         |ORDER BY bin""".stripMargin,
    "q_brier" ->
      s"""WITH $wsCte,
         |h AS (SELECT doc_id,
         |        CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS en,
         |        CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS BIGINT) AS de,
         |        CAST(len(list_filter(ws, w -> w IN ('el','la','de','los','las','y','es','en','un','una'))) AS BIGINT) AS es,
         |        CAST(len(list_filter(ws, w -> w IN ('le','la','les','et','des','est','un','une','dans','pour'))) AS BIGINT) AS fr
         |      FROM w),
         |s AS (SELECT d.doc_id,
         |        (h.en + 0.5) / (h.en + h.de + h.es + h.fr + 1.0) AS c,
         |        CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |      FROM h JOIN documents d USING (doc_id)),
         |pb AS (SELECT least(CAST(floor(c * 10) AS INT), 9) AS bin,
         |         CAST(count(*) AS BIGINT) AS nb, sum(c) AS sc, CAST(sum(y) AS BIGINT) AS sy,
         |         sum(c*c) AS scc, sum(c*y) AS scy
         |       FROM s GROUP BY 1),
         |g AS (SELECT CAST(sum(nb) AS BIGINT) AS nn, CAST(sum(sy) AS BIGINT) AS syt FROM pb),
         |a AS (SELECT max(g.nn) AS n_rows,
         |        sum((pb.sc - pb.sy) * (pb.sc - pb.sy) / pb.nb) AS rel_num,
         |        sum((pb.sy - pb.nb * (CAST(g.syt AS DOUBLE) / CAST(g.nn AS DOUBLE))) *
         |            (pb.sy - pb.nb * (CAST(g.syt AS DOUBLE) / CAST(g.nn AS DOUBLE))) / pb.nb)
         |          AS res_num,
         |        sum(pb.scc - 2.0 * pb.scy + pb.sy) AS bs_num,
         |        max(CAST(g.syt AS DOUBLE) / CAST(g.nn AS DOUBLE)) AS ybar
         |      FROM pb CROSS JOIN g)
         |SELECT n_rows AS n, round(ybar, 6) AS y_rate,
         |  round(ybar * (1.0 - ybar), 6) AS unc,
         |  round(rel_num / n_rows, 6) AS rel,
         |  round(res_num / n_rows, 6) AS res,
         |  round(bs_num / n_rows, 6) AS brier,
         |  round(rel_num / n_rows - res_num / n_rows + ybar * (1.0 - ybar), 6) AS brier_binned
         |FROM a""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH $wsCte,
         |g AS (SELECT doc_id,
         |        list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS bg
         |      FROM w)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(CASE WHEN len(list_distinct(list_concat(a.bg, b.bg))) = 0 THEN 0.0
         |             ELSE CAST(len(list_filter(a.bg, x -> list_contains(b.bg, x))) AS DOUBLE)
         |                  / len(list_distinct(list_concat(a.bg, b.bg))) END, 4) AS jaccard
         |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1""".stripMargin,
    // Same (n·log2(n) − Σ c·log2 c)/n association as the expression.
    // The expression is null-preserving and scores empty text 0; the
    // CASE mirrors both (a NULL text produces no char rows, so st
    // misses and the division yields NULL; '' also produces no rows
    // but must score 0.0 like the expression).
    "q_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
        |cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
        |st AS (SELECT doc_id, sum(cnt) AS n, sum(cnt * log2(cnt)) AS s FROM cc GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CASE WHEN d.text IS NULL THEN NULL
        |            WHEN st.doc_id IS NULL THEN 0.0
        |            ELSE round((st.n * log2(st.n) - st.s) / st.n, 4) END AS entropy
        |FROM documents d LEFT JOIN st USING (doc_id)""".stripMargin,
    // The excerpt is rebuilt from the same middle-third token slice;
    // bigrams and both scores recompute with list arithmetic.
    "q_containment" ->
      s"""WITH $wsCte,
         |ex AS (SELECT doc_id AS src_id,
         |         list_transform(range(len(ws) // 3 + 1,
         |             len(ws) // 3 + greatest(len(ws) // 3, 1) + 1), i -> ws[i]) AS fws
         |       FROM w WHERE doc_id % 7 = 0),
         |fg AS (SELECT src_id, CASE WHEN len(fws) >= 2 THEN
         |         list_distinct(list_transform(range(1, len(fws)), i -> fws[i] || ' ' || fws[i + 1]))
         |         ELSE [] END AS fg FROM ex),
         |bg AS (SELECT doc_id AS src_id, CASE WHEN len(ws) >= 2 THEN
         |         list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]))
         |         ELSE [] END AS bg FROM w)
         |SELECT src_id,
         |  round(CASE WHEN len(fg) = 0 THEN 0.0
         |        ELSE CAST(len(list_filter(fg, x -> list_contains(bg, x))) AS DOUBLE) / len(fg) END, 4)
         |    AS containment,
         |  round(CASE WHEN len(list_distinct(list_concat(fg, bg))) = 0 THEN 0.0
         |        ELSE CAST(len(list_filter(fg, x -> list_contains(bg, x))) AS DOUBLE)
         |             / len(list_distinct(list_concat(fg, bg))) END, 4) AS jaccard
         |FROM fg JOIN bg USING (src_id)""".stripMargin,
    "q_inverted_rebuild" ->
      "SELECT doc_id, true AS ok FROM documents",
    "q_bigram_lm" ->
      s"""WITH $wsCte,
         |p AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
         |        SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |                 i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS u FROM w) t),
         |c1 AS (SELECT w1, count(*) AS n1 FROM p GROUP BY w1),
         |c2 AS (SELECT w1, w2, count(*) AS n2 FROM p GROUP BY w1, w2),
         |lm AS (SELECT w1, w2, CAST(n2 AS DOUBLE) / n1 AS pr FROM c2 JOIN c1 USING (w1))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       round(avg(log2(pr)), 4) AS avg_log2p
         |FROM p JOIN lm USING (w1, w2) GROUP BY doc_id""".stripMargin,
    // Same float expression chain (d exact in binary); counts on the
    // words themselves — hashing is label-invariant for the counts.
    "q_kn_score" ->
      s"""WITH $wsCte,
         |p AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
         |        SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |                 i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS u FROM w WHERE len(ws) >= 2) t),
         |bc AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY w1, w2),
         |lf AS (SELECT w1, sum(c12) AS c1, count(*) AS n1w FROM bc GROUP BY w1),
         |ct AS (SELECT w2, count(*) AS n1dw FROM bc GROUP BY w2),
         |tt AS (SELECT count(*) AS npairs FROM bc),
         |lm AS (SELECT bc.w1, bc.w2,
         |         (greatest(bc.c12 - 0.75, 0.0) +
         |          0.75 * lf.n1w * (ct.n1dw / CAST(tt.npairs AS DOUBLE))) / lf.c1 AS pr
         |       FROM bc JOIN lf USING (w1) JOIN ct USING (w2) CROSS JOIN tt)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       round(avg(log2(pr)), 4) AS kn_log2p
         |FROM p JOIN lm USING (w1, w2) GROUP BY doc_id""".stripMargin,
    "q_bpe_pairs" ->
      """WITH wds AS (SELECT w, count(*) AS wc FROM (
        |         SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t
        |       GROUP BY w HAVING length(w) >= 2),
        |p AS (SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, CAST(i AS INT), 2))) AS pair, wc
        |      FROM wds),
        |f AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS freq FROM p GROUP BY pair)
        |SELECT pair, freq, CAST(row_number() OVER (ORDER BY freq DESC, pair) AS BIGINT) AS rank
        |FROM f ORDER BY freq DESC, pair LIMIT 10""".stripMargin,
    "q_bpe_encode" ->
      s"""WITH c AS (SELECT doc_id, w, count(*) AS cnt FROM (
         |         SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t
         |       GROUP BY doc_id, w),
         |e AS (SELECT w, CAST(len(string_split(
         |         ${Bpe.symbolizedSqlDuck("w", fixedMerges)}, chr(2))) - 1 AS BIGINT) AS ntoks
         |      FROM (SELECT DISTINCT w FROM c) v)
         |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
         |       CAST(sum(cnt * ntoks) AS BIGINT) AS bpe_tokens,
         |       round(CAST(sum(cnt * ntoks) AS DOUBLE) / sum(cnt), 4) AS fertility
         |FROM c JOIN e USING (w) GROUP BY doc_id""".stripMargin,
    "q_simhash_md5" ->
      """WITH pl AS (SELECT doc_id, text FROM documents
        |            UNION ALL
        |            SELECT doc_id + 1000000 AS doc_id, text || ' extra tail token' AS text
        |            FROM documents WHERE doc_id % 5 = 0),
        |w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM pl),
        |th AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM w),
        |v AS (SELECT doc_id, b, SUM(((h >> b) & 1) * 2 - 1) AS vs
        |      FROM th, (SELECT unnest(range(0, 32)) AS b) bs GROUP BY doc_id, b)
        |SELECT doc_id,
        |       CAST(sum(CASE WHEN vs > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |FROM v GROUP BY doc_id""".stripMargin,
    "q_dedup_minhash_md5" ->
      s"""WITH $minhashMd5Cte
         |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin,
    // Fused pipeline: the SAME LSH chain, then components as a
    // recursive transitive closure (comp labels propagate along
    // symmetrized verified-pair edges; min label = component id, the
    // same naming connectedComponents converges to), then the
    // highest-score / min-id election electCanonical computes.
    "q_fuzzy_dedup" ->
      s"""WITH RECURSIVE $minhashMd5Cte,
         |e AS (SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.5
         |      UNION ALL
         |      SELECT id_b AS src, id_a AS dst FROM j WHERE jaccard >= 0.5),
         |r AS (SELECT doc_id AS id, doc_id AS comp FROM pl
         |      UNION
         |      SELECT e.dst AS id, r.comp FROM r JOIN e ON e.src = r.id),
         |cc AS (SELECT id, min(comp) AS component FROM r GROUP BY id),
         |sc AS (SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS score FROM pl),
         |el AS (SELECT cc.component, cc.id, sc.score FROM cc JOIN sc USING (id)),
         |ag AS (SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(score) AS BIGINT) AS total_score
         |       FROM el GROUP BY component),
         |win AS (SELECT component, id, row_number() OVER (
         |          PARTITION BY component ORDER BY score DESC, id) AS rn FROM el)
         |SELECT w.component, w.id AS canonical_id, ag.n_docs, ag.total_score
         |FROM win w JOIN ag USING (component) WHERE w.rn = 1""".stripMargin,
    // Same recursive-closure components as q_fuzzy_dedup, then the
    // SAME md5 split boundaries as q_split_assign applied to the
    // component id.
    "q_cluster_split" -> {
      val whens = Sampling.cumulativeThresholds(splitFractions).map { case (name, t) =>
        s"WHEN substr(md5(CAST(component AS VARCHAR) || ':11'), 1, 8) < '$t' THEN '$name'"
      }.mkString("\n       ")
      s"""WITH RECURSIVE $minhashMd5Cte,
         |e AS (SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.5
         |      UNION ALL
         |      SELECT id_b AS src, id_a AS dst FROM j WHERE jaccard >= 0.5),
         |r AS (SELECT doc_id AS id, doc_id AS comp FROM pl
         |      UNION
         |      SELECT e.dst AS id, r.comp FROM r JOIN e ON e.src = r.id),
         |cc AS (SELECT id, min(comp) AS component FROM r GROUP BY id)
         |SELECT id AS doc_id, component,
         |  CASE $whens
         |       ELSE '${splitFractions.last._1}' END AS split
         |FROM cc""".stripMargin
    },
    "q_split_leakage" -> {
      val whens = Sampling.cumulativeThresholds(splitFractions).map { case (name, t) =>
        s"WHEN substr(md5(CAST(component AS VARCHAR) || ':11'), 1, 8) < '$t' THEN '$name'"
      }.mkString("\n       ")
      val whensNaive = Sampling.cumulativeThresholds(splitFractions).map { case (name, t) =>
        s"WHEN substr(md5(CAST(id AS VARCHAR) || ':11'), 1, 8) < '$t' THEN '$name'"
      }.mkString("\n       ")
      s"""WITH RECURSIVE $minhashMd5Cte,
         |e AS (SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.5
         |      UNION ALL
         |      SELECT id_b AS src, id_a AS dst FROM j WHERE jaccard >= 0.5),
         |r AS (SELECT doc_id AS id, doc_id AS comp FROM pl
         |      UNION
         |      SELECT e.dst AS id, r.comp FROM r JOIN e ON e.src = r.id),
         |cc AS (SELECT id, min(comp) AS component FROM r GROUP BY id),
         |ca AS (SELECT id, CASE $whens
         |         ELSE '${splitFractions.last._1}' END AS split FROM cc),
         |na AS (SELECT doc_id AS id, CASE $whensNaive
         |         ELSE '${splitFractions.last._1}' END AS split
         |       FROM (SELECT doc_id FROM pl) t),
         |pc AS (SELECT 'cluster' AS strategy,
         |         CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
         |       FROM j JOIN ca a ON a.id = j.id_a JOIN ca b ON b.id = j.id_b
         |       WHERE j.jaccard >= 0.5),
         |pn AS (SELECT 'naive' AS strategy,
         |         CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
         |       FROM j JOIN na a ON a.id = j.id_a JOIN na b ON b.id = j.id_b
         |       WHERE j.jaccard >= 0.5)
         |SELECT strategy, n_pairs, n_cross, (1000000 * n_cross) // n_pairs AS cross_ppm
         |FROM (SELECT * FROM pc UNION ALL SELECT * FROM pn)""".stripMargin
    },
    "q_capture_recapture" ->
      s"""WITH $minhashMd5Cte,
         |sg2 AS (SELECT doc_id,
         |          list_transform(range(0, 8), i ->
         |            list_min(list_transform(sh, s -> substr(md5('B:' || s || ':' || i), 1, 16)))) AS sig
         |        FROM g),
         |bd2 AS (SELECT doc_id, u.band AS band, u.bh AS bh FROM (
         |          SELECT doc_id, unnest(list_transform(range(0, 4), b ->
         |            {'band': b, 'bh': array_to_string(list_slice(sig, b * 2 + 1, b * 2 + 2), '')})) AS u
         |          FROM sg2) t),
         |cand2 AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |          FROM bd2 x JOIN bd2 y ON y.band = x.band AND y.bh = x.bh AND x.doc_id < y.doc_id),
         |j2 AS (SELECT c.id_a, c.id_b,
         |         round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
         |           ELSE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
         |                / len(list_distinct(list_concat(a.sh, b.sh))) END, 4) AS jaccard
         |       FROM cand2 c JOIN g a ON a.doc_id = c.id_a JOIN g b ON b.doc_id = c.id_b),
         |pa AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
         |pb AS (SELECT id_a, id_b FROM j2 WHERE jaccard >= 0.5),
         |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n_cap_a FROM pa),
         |n2 AS (SELECT CAST(count(*) AS BIGINT) AS n_cap_b FROM pb),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap
         |       FROM pa JOIN pb USING (id_a, id_b))
         |SELECT n_cap_a, n_cap_b, n_overlap,
         |  round(CAST((n_cap_a + 1) * (n_cap_b + 1) AS DOUBLE) /
         |        CAST(n_overlap + 1 AS DOUBLE) - 1.0, 2) AS chapman_estimate
         |FROM n1, n2, mm""".stripMargin,
    "q_kwic" ->
      s"""WITH $wsCte,
         |p0 AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM w),
         |p AS (SELECT doc_id, ws, pos FROM p0
         |      WHERE ws[pos] IN ('spark', 'window', 'merge', 'data')),
         |c AS (SELECT ws[pos] AS term, doc_id, CAST(pos AS BIGINT) AS pos,
         |        coalesce(array_to_string(ws[greatest(pos - 3, 1):pos - 1], ' '), '') AS left_ctx,
         |        coalesce(array_to_string(ws[pos + 1:pos + 3], ' '), '') AS right_ctx,
         |        row_number() OVER (PARTITION BY ws[pos] ORDER BY doc_id, pos) AS rn
         |      FROM p)
         |SELECT term, doc_id, pos, left_ctx, right_ctx FROM c WHERE rn <= 8""".stripMargin,
    // Chunked path and full path computed independently; equality is
    // the mergeability theorem, checked per doc.
    "q_minhash_merge" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
        |        i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS sh
        |      FROM w WHERE len(ws) >= 3),
        |ch AS (SELECT doc_id, list_filter(sh, s -> substr(md5(s), 1, 1) < '8') AS shc FROM g
        |       UNION ALL
        |       SELECT doc_id, list_filter(sh, s -> substr(md5(s), 1, 1) >= '8') FROM g),
        |chs AS (SELECT doc_id, list_transform(range(0, 8), i ->
        |          list_min(list_transform(shc, s -> substr(md5(s || ':' || i), 1, 16)))) AS sig
        |        FROM ch WHERE len(shc) > 0),
        |ex AS (SELECT doc_id, i.range AS i, sig[i.range + 1] AS v
        |       FROM chs CROSS JOIN range(0, 8) i),
        |mg AS (SELECT doc_id, i, min(v) AS v FROM ex GROUP BY doc_id, i),
        |merged AS (SELECT doc_id, string_agg(v, '' ORDER BY i) AS sig_merged FROM mg GROUP BY doc_id),
        |fs AS (SELECT doc_id, array_to_string(list_transform(range(0, 8), i ->
        |         list_min(list_transform(sh, s -> substr(md5(s || ':' || i), 1, 16)))), '') AS sig_full
        |       FROM g)
        |SELECT m.doc_id, m.sig_merged, f.sig_full, m.sig_merged = f.sig_full AS is_equal
        |FROM merged m JOIN fs f USING (doc_id)""".stripMargin,
    "q_oov_rate" ->
      """WITH c AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM (
        |         SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t
        |       GROUP BY doc_id, w),
        |g AS (SELECT w, sum(tf) AS cnt FROM c GROUP BY w),
        |v AS (SELECT w FROM (SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS rn FROM g) x
        |      WHERE rn <= 500)
        |SELECT c.doc_id, CAST(sum(c.tf) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN v.w IS NULL THEN c.tf ELSE 0 END) AS BIGINT) AS n_oov,
        |       round(sum(CASE WHEN v.w IS NULL THEN c.tf ELSE 0 END)::DOUBLE / sum(c.tf), 4) + 0.0 AS oov_rate
        |FROM c LEFT JOIN v ON v.w = c.w GROUP BY c.doc_id""".stripMargin,
    "q_tfidf_terms" ->
      s"""WITH $wsCte,
         |t AS (SELECT doc_id, unnest(ws) AS term FROM w),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT doc_id, term, tf, tfidf FROM (
         |  SELECT tf.doc_id, tf.term, tf.tf,
         |         round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df), 4) AS tfidf,
         |         row_number() OVER (PARTITION BY tf.doc_id
         |           ORDER BY round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df), 4) DESC, tf.term) AS rn
         |  FROM tf JOIN dfq USING (term) CROSS JOIN n) x
         |WHERE rn <= 3""".stripMargin,
    "q_build_postings" ->
      s"""WITH $wsCte,
         |tr AS (SELECT doc_id AS doc, unnest(ws) AS term,
         |         unnest(range(1, len(ws) + 1)) AS pos FROM w),
         |pd AS (SELECT term, doc, CAST(count(*) AS BIGINT) AS tf,
         |         string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS poss
         |       FROM tr GROUP BY term, doc)
         |SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS n_occ,
         |       string_agg(CAST(doc AS VARCHAR) || ':' || poss, ';' ORDER BY doc) AS postings
         |FROM pd GROUP BY term""".stripMargin,
    // The PageRank rounds are UNROLLED from the same (iters, damping)
    // by Graph.pageRankSqlDuck, so query and oracle cannot drift; ids
    // here are dense ranks over the sorted vocabulary — any
    // collision-free labeling yields the same ranks, so the engines
    // may label differently and still must agree on (word, rank).
    // Rounds unrolled by Graph.labelPropSqlDuck from the same iters —
    // query and oracle cannot drift; edges are the same oracle-exact
    // LSH chain as q_dedup_minhash_md5/q_fuzzy_dedup.
    "q_communities" -> {
      val edgeCte =
        s"""$minhashMd5Cte,
           |e AS (SELECT id_a AS u, id_b AS v FROM j WHERE jaccard >= 0.5)""".stripMargin
      s"""SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members FROM (
         |${Graph.labelPropSqlDuck(edgeCte, 3)}
         |) t GROUP BY label HAVING count(*) >= 2""".stripMargin
    },
    "q_modularity" -> {
      val edgeCte =
        s"""$minhashMd5Cte,
           |e AS (SELECT id_a AS u, id_b AS v FROM j WHERE jaccard >= 0.5)""".stripMargin
      // The label table re-derives its own WITH inside a subquery, so
      // the outer WITH keeps an independent copy of the edge list for
      // the degree/internal-edge sums.
      s"""WITH $minhashMd5Cte,
         |e AS (SELECT id_a AS u, id_b AS v FROM j WHERE jaccard >= 0.5),
         |ed AS (SELECT least(u, v) AS u, greatest(u, v) AS v FROM e WHERE u <> v GROUP BY 1, 2),
         |lab AS (SELECT * FROM (
         |${Graph.labelPropSqlDuck(edgeCte, 3)}
         |) t),
         |tagged AS (SELECT ed.u, ed.v, la.label AS lu, lb.label AS lv FROM ed
         |           JOIN lab la ON la.id = ed.u JOIN lab lb ON lb.id = ed.v),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |         CAST(sum(CASE WHEN lu = lv THEN 1 ELSE 0 END) AS BIGINT) AS sum_internal
         |       FROM tagged),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM
         |          (SELECT u AS id FROM ed UNION ALL SELECT v FROM ed) GROUP BY id),
         |dc AS (SELECT lab.label, CAST(sum(deg) AS BIGINT) AS d_c
         |       FROM deg JOIN lab ON lab.id = deg.id GROUP BY 1),
         |ds AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
         |         sum(CAST(d_c AS HUGEINT)*d_c) AS sd2 FROM dc)
         |SELECT m, ds.n_communities, sum_internal,
         |  CAST(CAST(m AS HUGEINT)*sum_internal*4 - sd2 AS DOUBLE) /
         |    CAST(CAST(m AS HUGEINT)*m*4 AS DOUBLE) AS modularity
         |FROM mm, ds""".stripMargin
    },
    "q_textrank_keywords" ->
      s"""WITH $wsCte,
         |p0 AS (SELECT unnest(list_transform(range(1, len(ws)),
         |         i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS u FROM w WHERE len(ws) >= 2),
         |pp AS (SELECT DISTINCT least(u.w1, u.w2) AS a, greatest(u.w1, u.w2) AS b FROM p0
         |       WHERE u.w1 <> u.w2 AND regexp_matches(u.w1, '^[a-z]{3,}$$')
         |         AND regexp_matches(u.w2, '^[a-z]{3,}$$')),
         |words AS (SELECT word, CAST(dense_rank() OVER (ORDER BY word) AS BIGINT) AS id
         |          FROM (SELECT a AS word FROM pp UNION SELECT b FROM pp) t),
         |res AS (
         |${Graph.pageRankSqlDuck(
             """e AS (SELECT ia.id AS src, ib.id AS dst
               |      FROM pp JOIN words ia ON ia.word = pp.a JOIN words ib ON ib.word = pp.b
               |      UNION ALL
               |      SELECT ib.id AS src, ia.id AS dst
               |      FROM pp JOIN words ia ON ia.word = pp.a JOIN words ib ON ib.word = pp.b)""".stripMargin,
             iters = 3, damping = 0.85)}
         |)
         |SELECT wd.word, res.rank FROM res JOIN words wd ON wd.id = res.id
         |ORDER BY rank DESC, word LIMIT 25""".stripMargin,
    // Same candidate-phrase split (punctuation and stopword boundaries
    // both become '|'), deg/freq word scores from exact integer
    // counts, 6-dp phrase-score rounding before the rank.
    "q_rake_phrases" ->
      s"""WITH raw AS (SELECT unnest(string_split(
         |    regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]+', '|', 'g'),
         |    '\\b(${TextAnalysis.langProfiles("en").mkString("|")})\\b', '|', 'g'), '|')) AS p
         |  FROM documents),
         |ph AS (SELECT norm AS phrase FROM
         |  (SELECT trim(regexp_replace(p, '\\s+', ' ', 'g')) AS norm FROM raw)
         |  WHERE norm <> ''),
         |pw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS word,
         |         CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen FROM ph),
         |ws2 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq, sum(plen) AS deg FROM pw GROUP BY 1),
         |pc AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n FROM ph GROUP BY 1),
         |pwd AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS word
         |        FROM (SELECT DISTINCT phrase FROM ph)),
         |sc AS (SELECT pwd.phrase, round(sum(CAST(ws2.deg AS DOUBLE) / ws2.freq), 6) AS score
         |       FROM pwd JOIN ws2 USING (word) GROUP BY pwd.phrase)
         |SELECT pc.phrase, pc.n, sc.score
         |FROM pc JOIN sc USING (phrase)
         |ORDER BY sc.score DESC, pc.phrase
         |LIMIT 25""".stripMargin,
    "q_vocab_stats" ->
      """WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |c AS (SELECT source, term, count(*) AS cnt FROM t GROUP BY source, term)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |       round(count(*) / CAST(sum(cnt) AS DOUBLE), 4) AS ttr,
        |       round(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4) AS hapax_frac
        |FROM c GROUP BY source""".stripMargin,
    "q_vocab_richness" ->
      """WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |c AS (SELECT source, term, count(*) AS cnt FROM t GROUP BY source, term),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |        CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |        CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |        CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |      FROM c GROUP BY source)
        |SELECT source, vocab, n_tokens, f1, f2,
        |  CAST(vocab AS DOUBLE)
        |    + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1,
        |  CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS gt_unseen_mass
        |FROM s""".stripMargin,
    "q_embed_outlier" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT label, unnest(list_transform(v, (x, i) -> {'pos': i, 'val': x})) AS u FROM e),
        |c AS (SELECT label, u.pos AS pos, avg(u.val) AS m FROM d GROUP BY label, u.pos),
        |cent AS (SELECT label, list(m ORDER BY pos) AS cv FROM c GROUP BY label),
        |s AS (SELECT e.vec_id, e.label,
        |        round(list_dot_product(e.v, cent.cv) /
        |              (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 4) + 0.0 AS sim
        |      FROM e JOIN cent USING (label))
        |SELECT vec_id, label, sim, sim < 0.0 AS is_outlier FROM s""".stripMargin,
    // Thresholds come from Sampling.cumulativeThresholds — the SAME
    // running-sum values the operator compares against, so a 1-ulp
    // float-accumulation drift can't put oracle and operator one
    // 2^-32 bucket apart.
    "q_group_split" -> {
      val whens = Sampling.cumulativeThresholds(splitFractions).map { case (name, t) =>
        s"WHEN substr(md5(CAST(user_id AS VARCHAR) || ':11'), 1, 8) < '$t' THEN '$name'"
      }.mkString("\n       ")
      s"""WITH a AS (SELECT user_id, event_id,
         |  CASE $whens
         |       ELSE '${splitFractions.last._1}' END AS split FROM events),
         |lk AS (SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS leaks FROM
         |         (SELECT user_id, count(DISTINCT split) AS ns FROM a GROUP BY user_id) t)
         |SELECT split, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |       CAST(count(*) AS BIGINT) AS n_rows, lk.leaks
         |FROM a, lk GROUP BY split, lk.leaks""".stripMargin
    },
    "q_split_assign" -> {
      val whens = Sampling.cumulativeThresholds(splitFractions).map { case (name, t) =>
        s"WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 8) < '$t' THEN '$name'"
      }.mkString("\n       ")
      s"""SELECT doc_id, source,
         |  CASE $whens
         |       ELSE '${splitFractions.last._1}' END AS split
         |FROM documents""".stripMargin
    },
    // md5-prefix selection is engine-portable, so the deterministic
    // samples are exact-matchable, not just rows-counted.
    "q_sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) <
         |  CASE lang WHEN 'en' THEN '${Sampling.hexThreshold(0.9)}'
         |            WHEN 'de' THEN '${Sampling.hexThreshold(0.5)}'
         |            WHEN 'es' THEN '${Sampling.hexThreshold(0.5)}'
         |            WHEN 'fr' THEN '${Sampling.hexThreshold(0.5)}'
         |            WHEN 'zh' THEN '${Sampling.hexThreshold(0.2)}'
         |            ELSE '00000000' END""".stripMargin,
    // The rate-1.0 'web' stratum carries NO hash predicate: the
    // operator keeps such strata unconditionally (strict `<` against
    // 'ffffffff' would drop a bucket the caller asked to keep).
    "q_sample_mixture" ->
      s"""SELECT doc_id, 'web' AS source_name FROM documents
         |WHERE source = 'src0'
         |UNION ALL
         |SELECT doc_id, 'books' AS source_name FROM documents
         |WHERE source <> 'src0'
         |  AND substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8) < '${Sampling.hexThreshold(0.3)}'""".stripMargin,
    "q_decontaminate" ->
      s"""WITH $wsCte,
         |g AS (SELECT doc_id,
         |        unnest(list_distinct(list_transform(range(1, len(ws) - 1),
         |               i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))) AS g
         |      FROM w),
         |bs AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
         |t AS (SELECT doc_id AS id, count(*) AS total FROM g WHERE doc_id % 50 <> 0 GROUP BY doc_id),
         |h AS (SELECT doc_id AS id, count(*) AS hits
         |      FROM g JOIN bs USING (g) WHERE doc_id % 50 <> 0 GROUP BY doc_id)
         |SELECT t.id AS id,
         |       round(COALESCE(h.hits, 0) * 1.0 / t.total, 4) AS overlap_ratio,
         |       COALESCE(h.hits, 0) * 1.0 / t.total > 0.1 AS contaminated
         |FROM t LEFT JOIN h ON h.id = t.id""".stripMargin,
    // Exact-overlap SQL: the bloom prefilter must be invisible in the
    // result (no false negatives, FPs verified away).
    "q_bloom_decontaminate" ->
      s"""WITH $wsCte,
         |g AS (SELECT doc_id,
         |        unnest(list_distinct(list_transform(range(1, len(ws) - 1),
         |               i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))) AS g
         |      FROM w),
         |bs AS (SELECT DISTINCT g FROM g WHERE doc_id % 40 = 0),
         |t AS (SELECT doc_id AS id, count(*) AS total FROM g WHERE doc_id % 40 <> 0 GROUP BY doc_id),
         |h AS (SELECT doc_id AS id, count(*) AS hits
         |      FROM g JOIN bs USING (g) WHERE doc_id % 40 <> 0 GROUP BY doc_id)
         |SELECT t.id AS id,
         |       round(COALESCE(h.hits, 0) * 1.0 / t.total, 4) AS overlap_ratio,
         |       COALESCE(h.hits, 0) * 1.0 / t.total > 0.05 AS contaminated
         |FROM t LEFT JOIN h ON h.id = t.id""".stripMargin,
    "q_repetition" ->
      s"""WITH $wsCte
         |SELECT doc_id,
         |  round(CASE WHEN len(ws) - 1 <= 0 THEN 0.0
         |        ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(ws)),
         |                         i -> ws[i] || ' ' || ws[i + 1]))) AS DOUBLE) / (len(ws) - 1) END, 4) AS rep_ratio
         |FROM w""".stripMargin,
    // Same inlined-hyperplane trick as q_dedup_embedding: the bucket
    // assignment and rerank are deterministic, so the "approximate"
    // result is still exactly reproducible.
    "q_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT id, v, ${VectorOps.bucketSqlDuck("v", 8, 64)} AS bucket,
         |        sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |s AS (SELECT p.id AS probe_id, c.id AS neighbor_id,
         |        list_dot_product(p.v, c.v) / (p.nrm * c.nrm) AS sim
         |      FROM b p JOIN b c ON p.id % 20 = 0 AND p.id < 20000 AND c.bucket = p.bucket AND c.id <> p.id)
         |SELECT probe_id, neighbor_id, round(sim, 6) + 0.0 AS sim FROM (
         |  SELECT probe_id, neighbor_id, sim,
         |         row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM s) t
         |WHERE rn <= 3""".stripMargin,
    "q_ann_bruteforce" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |        list_dot_product(p.v, c.v) / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |      FROM e p JOIN e c ON p.vec_id % 20 = 0 AND p.vec_id < 20000 AND c.vec_id <> p.vec_id)
        |SELECT probe_id, neighbor_id, round(sim, 6) + 0.0 AS sim FROM (
        |  SELECT probe_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rn
        |  FROM s) t
        |WHERE rn <= 3""".stripMargin,
    // Full SemDeDup reproduction: same inlined ±1 hyperplane cells,
    // min-id representative, rounded-cosine prune; +0.0 canonicalizes
    // DuckDB's -0.0 after rounding (Spark's round drops the sign).
    "q_semantic_dedup" ->
      s"""WITH e0 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |ev AS (SELECT id, v FROM e0
         |       UNION ALL
         |       SELECT id + 1000000 AS id,
         |              list_transform(v, x -> CAST(CAST(x * 1.5 AS REAL) AS DOUBLE)) AS v
         |       FROM e0 WHERE id % 10 = 0),
         |c AS (SELECT id, v, ${VectorOps.bucketSqlDuck("v", 8, 64)} AS cell FROM ev),
         |r AS (SELECT cell, min(id) AS rep_id FROM c GROUP BY cell),
         |rv AS (SELECT r.cell, r.rep_id, c.v AS rep_vec FROM r JOIN c ON c.id = r.rep_id),
         |s AS (SELECT c.id, c.cell, rv.rep_id,
         |        round(list_dot_product(c.v, rv.rep_vec) /
         |          (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(rv.rep_vec, rv.rep_vec))), 6) + 0.0 AS rep_sim
         |      FROM c JOIN rv USING (cell))
         |SELECT id, cell, rep_id, rep_sim, (id = rep_id OR rep_sim < 0.99) AS keep FROM s""".stripMargin,
    // DSIR: hashed-unigram Laplace-smoothed log-likelihood ratio,
    // target = English docs, source = whole pool. ln == Spark's log.
    "q_setsim_join" ->
      """WITH al AS MATERIALIZED (
        |  SELECT doc_id + 1000000 AS id, text || ' extra tail token' AS text, TRUE AS is_probe
        |  FROM documents WHERE doc_id % 50 = 0
        |  UNION ALL
        |  SELECT doc_id AS id, text, FALSE AS is_probe FROM documents),
        |tk AS MATERIALIZED (SELECT id, unnest(list_distinct(string_split(lower(text), ' '))) AS term FROM al),
        |dfq AS MATERIALIZED (SELECT term, count(*) AS df FROM tk GROUP BY term),
        |kk AS (SELECT id, lpad(df::VARCHAR, 10, '0') || term AS k FROM tk JOIN dfq USING (term)),
        |st AS MATERIALIZED (SELECT id, list_sort(list(k)) AS ks, len(list(k)) AS n FROM kk GROUP BY id),
        |pf AS MATERIALIZED (
        |  SELECT st.id, st.n, al.is_probe,
        |         unnest(list_slice(st.ks, 1, (st.n - ceil(0.9 * st.n) + 1)::INT)) AS k
        |  FROM st JOIN al ON al.id = st.id),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |         FROM (SELECT * FROM pf WHERE is_probe) a
        |         JOIN (SELECT * FROM pf WHERE NOT is_probe) b ON a.k = b.k
        |         WHERE b.n * 0.9 <= a.n AND a.n * 0.9 <= b.n),
        |v AS MATERIALIZED (
        |  SELECT c.id_a, c.id_b, len(list_intersect(sa.ks, sb.ks)) AS inter,
        |         sa.n AS n_a, sb.n AS n_b
        |  FROM cand c JOIN st sa ON sa.id = c.id_a JOIN st sb ON sb.id = c.id_b)
        |SELECT id_a, id_b,
        |       round(inter::DOUBLE / (n_a + n_b - inter), 6) + 0.0 AS jaccard
        |FROM v WHERE round(inter::DOUBLE / (n_a + n_b - inter), 6) >= 0.9""".stripMargin,
    "q_novelty_curve" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |gr AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |         i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))) AS g
        |       FROM w WHERE len(ws) >= 3),
        |f AS (SELECT g, min(doc_id) AS first_id FROM gr GROUP BY g),
        |b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents)
        |SELECT CAST(least(floor((first_id - lo) * 10 / (hi - lo + 1)), 9) AS BIGINT) AS decile,
        |       count(*) AS new_grams
        |FROM f CROSS JOIN b GROUP BY 1""".stripMargin,
    "q_zipf_slope" ->
      """WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |c AS (SELECT source, term, count(*) AS cnt FROM t GROUP BY source, term),
        |r AS (SELECT source, term, cnt,
        |        row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rank
        |      FROM c)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |       round(regr_slope(log10(cnt), log10(rank)), 4) + 0.0 AS zipf_slope
        |FROM r GROUP BY source""".stripMargin,
    "q_jl_project" ->
      s"""SELECT vec_id, ${VectorOps.projectColsSqlDuck("embedding::DOUBLE[]", 16, 64)
             .zipWithIndex.map { case (e, i) => f"$e AS p$i%02d" }.mkString(",\n       ")}
         |FROM embeddings""".stripMargin,
    "q_countmin" ->
      """WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |depths AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |cells AS (SELECT j AS depth,
        |            ('0x' || substr(md5(term || ':7:' || j), 1, 8))::BIGINT % 1024 AS bucket,
        |            count(*) AS cnt
        |          FROM toks CROSS JOIN depths GROUP BY 1, 2),
        |est AS (SELECT t.term, min(c.cnt) AS est
        |        FROM (SELECT DISTINCT term FROM toks) t
        |        CROSS JOIN depths d
        |        JOIN cells c
        |          ON c.depth = d.j
        |         AND c.bucket = ('0x' || substr(md5(t.term || ':7:' || d.j), 1, 8))::BIGINT % 1024
        |        GROUP BY t.term),
        |ex AS (SELECT term, count(*) AS exact_cnt FROM toks GROUP BY term)
        |SELECT term, est, exact_cnt FROM est JOIN ex USING (term)
        |ORDER BY est DESC, term LIMIT 15""".stripMargin,
    "q_dsir_weights" ->
      """WITH sb AS (SELECT doc_id AS id, ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS b
        |            FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t),
        |tb AS (SELECT ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS b
        |       FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents WHERE lang = 'en') t),
        |sc AS (SELECT b, count(*) AS sn FROM sb GROUP BY b),
        |tc AS (SELECT b, count(*) AS tn FROM tb GROUP BY b),
        |tot AS (SELECT (SELECT sum(sn) FROM sc) AS st, (SELECT sum(tn) FROM tc) AS tt),
        |ratio AS (SELECT coalesce(sc.b, tc.b) AS b,
        |            ln((coalesce(tn, 0) + 1.0) / (tt + 1024.0)) -
        |            ln((coalesce(sn, 0) + 1.0) / (st + 1024.0)) AS lr
        |          FROM sc FULL OUTER JOIN tc ON sc.b = tc.b CROSS JOIN tot)
        |SELECT id, round(sum(lr), 4) + 0.0 AS weight
        |FROM sb JOIN ratio USING (b) GROUP BY id""".stripMargin,
    "q_dsir_select" ->
      """WITH sb AS (SELECT doc_id AS id, ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS b
        |            FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t),
        |tb AS (SELECT ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS b
        |       FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents WHERE lang = 'en') t),
        |sc AS (SELECT b, count(*) AS sn FROM sb GROUP BY b),
        |tc AS (SELECT b, count(*) AS tn FROM tb GROUP BY b),
        |tot AS (SELECT (SELECT sum(sn) FROM sc) AS st, (SELECT sum(tn) FROM tc) AS tt),
        |ratio AS (SELECT coalesce(sc.b, tc.b) AS b,
        |            ln((coalesce(tn, 0) + 1.0) / (tt + 1024.0)) -
        |            ln((coalesce(sn, 0) + 1.0) / (st + 1024.0)) AS lr
        |          FROM sc FULL OUTER JOIN tc ON sc.b = tc.b CROSS JOIN tot),
        |w2 AS (SELECT id, round(sum(lr), 4) + 0.0 AS weight FROM sb JOIN ratio USING (b) GROUP BY id),
        |g AS (SELECT id, weight,
        |        round(weight + -ln(-ln(((('0x' || substr(md5(CAST(id AS VARCHAR) || ':17'), 1, 8))::BIGINT) + 0.5)
        |          / 4294967296.0)), 6) + 0.0 AS gumbel_key
        |      FROM w2)
        |SELECT id, weight, gumbel_key,
        |       CAST(row_number() OVER (ORDER BY gumbel_key DESC, id) AS BIGINT) AS rank
        |FROM g ORDER BY gumbel_key DESC, id LIMIT 500""".stripMargin,
    // Full NB reproduction: same md5 bins, Laplace smoothing, priors,
    // per-class unseen-bin mass, and the rounded-score argmax with
    // smallest-label tiebreak.
    "q_nb_lang" ->
      s"""WITH $nbScoreCte
        |SELECT id, class AS predicted, round(score, 4) AS score FROM (
        |  SELECT id, class, score,
        |         row_number() OVER (PARTITION BY id ORDER BY round(score, 4) DESC, class) AS rn
        |  FROM sc) ranked
        |WHERE rn = 1""".stripMargin,
    "q_mcnemar" ->
      s"""WITH $nbScoreCte,
        |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is','for','on','with'))) AS BIGINT) AS en,
        |        CAST(len(list_filter(ws, x -> x IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS BIGINT) AS de,
        |        CAST(len(list_filter(ws, x -> x IN ('el','la','de','los','las','y','es','en','un','una'))) AS BIGINT) AS es,
        |        CAST(len(list_filter(ws, x -> x IN ('le','la','les','et','des','est','un','une','dans','pour'))) AS BIGINT) AS fr
        |      FROM w),
        |pa AS (SELECT doc_id,
        |        CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
        |             WHEN en = greatest(en, de, es, fr) THEN 'en'
        |             WHEN de = greatest(en, de, es, fr) THEN 'de'
        |             WHEN es = greatest(en, de, es, fr) THEN 'es'
        |             ELSE 'fr' END AS pred_a
        |       FROM h),
        |pb AS (SELECT id AS doc_id, class AS pred_b FROM (
        |         SELECT id, class, score,
        |           row_number() OVER (PARTITION BY id ORDER BY round(score, 4) DESC, class) AS rn
        |         FROM sc) ranked WHERE rn = 1),
        |j AS (SELECT d.doc_id, pa.pred_a = d.lang AS a, pb.pred_b = d.lang AS b
        |      FROM documents d JOIN pa USING (doc_id) JOIN pb USING (doc_id)),
        |m AS (SELECT
        |  CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
        |  CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
        |  CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
        |FROM j)
        |SELECT n_both, n_a_only, n_b_only, n_neither,
        |  CASE WHEN n_a_only + n_b_only > 0
        |       THEN round((n_a_only::DOUBLE - n_b_only::DOUBLE)
        |                  * (n_a_only::DOUBLE - n_b_only::DOUBLE)
        |                  / (n_a_only::DOUBLE + n_b_only::DOUBLE), 4) + 0.0
        |  END AS chi2
        |FROM m""".stripMargin,
    "q_label_noise" ->
      s"""WITH $nbScoreCte,
        |r AS (SELECT id, class, round(score, 4) AS score FROM sc),
        |best AS (SELECT id, class AS predicted, score AS s_pred FROM (
        |           SELECT id, class, score,
        |             row_number() OVER (PARTITION BY id ORDER BY score DESC, class) AS rn
        |           FROM r) x WHERE rn = 1),
        |giv AS (SELECT d.doc_id AS id, d.lang AS label, r.score AS s_given
        |        FROM documents d JOIN r ON r.id = d.doc_id AND r.class = d.lang)
        |SELECT g.id AS doc_id, g.label AS lang, b.predicted,
        |       round(b.s_pred - g.s_given, 4) + 0.0 AS noise_margin
        |FROM giv g JOIN best b ON b.id = g.id
        |WHERE b.predicted <> g.label AND round(b.s_pred - g.s_given, 4) >= 0.5""".stripMargin
  )
}
