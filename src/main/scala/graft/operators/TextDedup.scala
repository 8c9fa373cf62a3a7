package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Deduplication operators for document corpora (SURVEY.md §2 #32-34).
  *
  * Scale design: exact dedup is a hash groupBy (one shuffle of
  * (hash, id), never the text). MinHash-LSH shuffles only
  * (band_id, band_hash, doc_id) tuples — b×|docs| small rows — and joins
  * text back only for candidate pairs, so the full corpus text crosses
  * the wire zero times. SimHash is per-row signature computation; pairing
  * is again id-only.
  */
object TextDedup {

  /** Exact duplicate groups on a normalized key: key hash, group size,
    * and the surviving (minimum) id.
    */
  def exactDupGroups(df: DataFrame, id: Column, key: Column): DataFrame =
    df.groupBy(sha2(key, 256).as("text_hash"))
      .agg(count(lit(1)).as("n_dups"), min(id).as("keeper_id"))

  /** Corpus-global line dedup (C4's boilerplate removal, Raffel et al.
    * 2020 §2.2): every line that occurs anywhere else in the corpus is
    * dropped except its first occurrence — first = smallest (doc, pos),
    * so the result is deterministic. Documents are reassembled in
    * original line order; a document whose every line was boilerplate
    * comes back empty (not missing).
    *
    * Scale shape: lines shuffle once keyed by the line value (the
    * VALUE, not its hash: a hash collision would silently merge two
    * distinct lines and drop a survivor — exactness over a few bytes
    * of key width), then one keyed re-aggregation rebuilds the docs.
    *
    * Keep-first is an AGGREGATION — min(struct(id, pos, line)) per
    * line — not a row_number window: window operators get no AQE skew
    * handling, so a boilerplate line occurring in 10^9 documents would
    * sort in ONE window task; the aggregate's map-side partial combine
    * reduces every mapper's copies of that line to a single row before
    * the shuffle. The min-struct row carries the surviving occurrence
    * itself, so no join-back is needed either.
    */
  def dedupLinesAcrossCorpus(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.select(
      col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val kept = lines
      .groupBy("line")
      .agg(min(struct(col(idCol), col("pos"))).as("__k"))
      .select(col("__k")(idCol).as(idCol), col("__k.pos").as("pos"), col("line"))
    val rebuilt = kept
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")),
        "\n").as("clean_text"))
    // a doc whose every line was boilerplate survives as "" (C4 keeps
    // the document; length filters downstream decide its fate)
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
  }

  /** Duplicated-substring statistics (the measurement side of Lee et
    * al. 2022's exact substring dedup): for each document, the count
    * and fraction of its `window`-token sliding windows whose exact
    * token sequence also occurs in ANOTHER document. Pipelines filter
    * or trim on the fraction.
    *
    * Scale shape: one explode to (doc, window-gram) rows, one groupBy
    * on the gram VALUE (same collision-exactness argument as
    * dedupLinesAcrossCorpus) to find cross-doc grams, then a semi-ish
    * join back and a per-doc count — text moves only as the grams
    * themselves, and the cross-doc gram set is typically a small
    * fraction of the corpus.
    */
  def duplicateWindowStats(df: DataFrame, idCol: String, textCol: String, window: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val starts = sequence(lit(1), greatest(size(toks) - (window - 1), lit(0)), lit(1))
    // Windows travel as xxhash64 of the token-array slice, never as
    // strings: the shuffle carries (long, long) rows instead of
    // ~8-token gram strings (an order-of-magnitude fewer bytes, and no
    // per-window string building). Hashing the ARRAY (not a re-joined
    // string) keeps token boundaries significant.
    val grams = df
      .filter(size(toks) >= window)
      .select(col(idCol), toks.as("__toks"), explode(starts).as("__s"))
      .select(col(idCol),
        xxhash64(slice(col("__toks"), col("__s"), lit(window))).as("gram"))
    // ONE pass over the explode: per-(gram, doc) counts first (map-side
    // combine collapses within-doc repeats), then BOTH the cross-doc
    // gram set and the per-doc dup totals derive from that table —
    // "appears in >1 distinct doc" as min(id) != max(id) over rows that
    // are already distinct per doc, no second corpus explode and no
    // countDistinct two-phase expansion.
    val gramDoc = grams.groupBy("gram", idCol).agg(count(lit(1)).as("cnt"))
    val crossDoc = gramDoc
      .groupBy("gram")
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select("gram")
    val dupCounts = gramDoc.join(crossDoc, "gram")
      .groupBy(idCol).agg(sum(col("cnt")).as("dup_windows"))
    // n_windows = len - window + 1 is a per-doc map-side constant: no
    // reason to re-shuffle half a million gram strings to count them.
    val totals = df
      .filter(size(toks) >= window)
      .select(col(idCol), (size(toks) - (window - 1)).cast("long").as("n_windows"))
    totals
      .join(dupCounts, Seq(idCol), "left")
      .select(col(idCol),
        col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        round(coalesce(col("dup_windows"), lit(0L)).cast("double") / col("n_windows"), 4).as("dup_frac"))
  }

  /** Exact duplicated-substring REMOVAL (Lee et al. 2022,
    * arXiv:2107.06499 §4 — "deduplicate-text-datasets"): every token
    * covered by some `window`-token span that occurs in more than one
    * document is cut, and the surviving tokens are rejoined in order.
    * Returns (id, n_tokens, n_removed, clean_text) for every input
    * row — untouched docs (too short, or no duplicated window) pass
    * through with their original text.
    */
  def removeDuplicateWindows(df: DataFrame, idCol: String, textCol: String, window: Int): DataFrame =
    removeDuplicateWindowsReleasable(df, idCol, textCol, window)._1

  /** removeDuplicateWindows with a [[CacheHandle]] for the persisted
    * gram table (see CacheHandle's doc for the contract; `storage` as
    * in bm25TopKReleasable — the cache is ~24 B per corpus token, at
    * 100 TB pass DISK_ONLY).
    *
    * Scale shape: windows travel as (id, start, xxhash64) longs — text
    * never enters a shuffle until reconstruction, and reconstruction
    * touches ONLY affected documents (a semi join gates the token
    * explode), so a corpus with 1% contamination shuffles 1% of its
    * tokens. The gram table feeds both the cross-doc count and the
    * position join — two differently-partitioned consumers — hence the
    * persist instead of a double corpus explode.
    */
  def removeDuplicateWindowsReleasable(
      df: DataFrame, idCol: String, textCol: String, window: Int,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): (DataFrame, CacheHandle) = {
    val handle = CacheHandle()
    val toks = split(col(textCol), " ")
    val starts = sequence(lit(1), greatest(size(toks) - (window - 1), lit(0)), lit(1))
    val grams = handle.track(df
      .filter(size(toks) >= window)
      .select(col(idCol), toks.as("__toks"), explode(starts).as("s"))
      .select(col(idCol), col("s"),
        xxhash64(slice(col("__toks"), col("s"), lit(window))).as("gram"))
      .persist(storage))
    val dupGrams = grams.groupBy("gram")
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select("gram")
    // positions covered by any cross-doc-duplicated window, 1-based
    val dupPos = grams.join(dupGrams, "gram")
      .select(col(idCol), explode(sequence(col("s"), col("s") + (window - 1))).as("pos"))
      .distinct()
    val affected = dupPos.select(idCol).distinct()
    val tokens = df
      .join(affected, Seq(idCol), "left_semi")
      .select(col(idCol), posexplode(toks).as(Seq("p0", "tok")))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("tok"))
    val rebuilt = tokens.join(dupPos, Seq(idCol, "pos"), "left_anti")
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))), x => x("tok")),
        " ").as("__rebuilt"))
    val removedCnt = dupPos.groupBy(idCol).agg(count(lit(1)).as("__rm"))
    val out = df.select(col(idCol), size(toks).cast("long").as("n_tokens"), col(textCol).as("__orig"))
      .join(removedCnt, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__rm"), lit(0L)).as("n_removed"),
        // a fully-removed doc has no surviving tokens and therefore no
        // rebuilt row: empty text, not the original
        when(col("__rm") > 0, coalesce(col("__rebuilt"), lit("")))
          .otherwise(col("__orig")).as("clean_text"))
    (out, handle)
  }

  /** MinHash signature: `h` permutations approximated by seeded
    * xxhash64. Uses the native codegen expression (graft.plans
    * .MinHashSig); the composed HOF form the specs compare it against
    * (`HofOracles.minhashSignatureHof` under src/test) is bit-identical
    * but ~30x slower interpreted.
    */
  def minhashSignature(shingles: Column, h: Int): Column =
    graft.plans.MinHashSig(shingles, h)

  /** Engine-portable (md5-hex) MinHash signature of a shingle array —
    * the per-chunk building block of [[mergeSignatures]]; identical to
    * the signature of the md5 family in [[minhashNearDupsPortable]]. Native
    * expression (graft.plans.PortableMinHashSig) — the interpreted-HOF
    * form the specs pin it to (`HofOracles.portableSignatureHof` under
    * src/test, the same formula the DuckDB oracles inline) pays a
    * concat + full hex encode + substring + array per (shingle, i).
    */
  def portableSignature(shingles: Column, h: Int): Column =
    graft.plans.PortableMinHashSig(shingles, h)

  /** Mergeable MinHash maintenance: a signature is an elementwise
    * minimum, so sig(A ∪ B) = elementwise_min(sig(A), sig(B)) — an
    * incremental harvest signatures only its NEW chunks and folds them
    * into the stored per-doc signature without ever re-reading old
    * text. This is the property that keeps corpus-scale near-dup
    * state maintainable: the ledger is ids × h hashes, the merge is a
    * (id, pos) min aggregation (map-side partial, no text, no
    * shuffle beyond the id-keyed agg).
    *
    * `sigs`: one row per (doc, chunk) with `sigCol` an array column;
    * returns one row per doc with the merged signature. min on the
    * fixed-length hex strings is the same order any engine computes,
    * so the merge is oracle-exact.
    */
  def mergeSignatures(sigs: DataFrame, idCol: String, sigCol: String): DataFrame =
    sigs.select(col(idCol), posexplode(col(sigCol)).as(Seq("pos", "v")))
      .groupBy(idCol, "pos").agg(min(col("v")).as("v"))
      .groupBy(idCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        x => x.getField("v")).as(sigCol))

  /** The hash family of one MinHash-LSH run; it picks the signature and
    * the band key together. [[XxHash]] is the performance path (native
    * codegen, long band keys). [[Md5]] is the engine-portable family:
    * h_i(s) = first 16 hex of md5(salt ++ s ++ ":" ++ i) and the band
    * key is the concatenated member minima, so every step is
    * reproducible by any engine with md5 and the pipeline is
    * oracle-checkable end to end. A different salt is an INDEPENDENT
    * family: two runs collide independently per pair, which is what a
    * capture-recapture estimate needs (re-banding one signature set
    * only nests the captures).
    */
  private sealed trait HashFamily {
    def signature(shingles: Column, h: Int): Column
    def bandKey(members: Column): Column
  }
  private case object XxHash extends HashFamily {
    def signature(shingles: Column, h: Int): Column = minhashSignature(shingles, h)
    def bandKey(members: Column): Column = xxhash64(members)
  }
  private final case class Md5(salt: String) extends HashFamily {
    def signature(shingles: Column, h: Int): Column =
      graft.plans.PortableMinHashSig(shingles, h, salt)
    def bandKey(members: Column): Column = concat_ws("", members)
  }

  /** LSH banding: the `keep` columns plus one (band, bh) row per band
    * of the `shingles` column's signature. The signature is a NAMED
    * column in its own projection before the band explode references
    * it: higher-order-function lambdas get no common-subexpression
    * elimination, so a signature inlined into the band lambda would
    * recompute all h hashes once PER BAND.
    */
  private def banded(df: DataFrame, keep: Seq[String], shingles: String,
                     family: HashFamily, h: Int, bands: Int): DataFrame = {
    val rows = h / bands
    val kept = keep.map(col)
    df.select(kept :+ family.signature(col(shingles), h).as("sig"): _*)
      .select(kept :+ explode(transform(sequence(lit(0), lit(bands - 1)), j =>
        struct(j.as("band"), family.bandKey(slice(col("sig"), j * rows + 1, lit(rows))).as("bh"))))
        .as("b"): _*)
      .select(kept :+ col("b.band") :+ col("b.bh"): _*)
  }

  /** Bucket self-join on (band, bh): only ids travel. id_a < id_b
    * halves the pairs; distinct collapses multi-band collisions.
    */
  private def candidatePairs(banded: DataFrame): DataFrame =
    banded.as("x")
      .join(banded.as("y"), Seq("band", "bh"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

  /** Joins shingles back for the candidates only and keeps the pairs
    * whose true Jaccard is ≥ minJaccard. The md5 family's pairs are
    * compared against an oracle, so its Jaccard is rounded to 4 dp.
    *
    * shuffle_hash, candidate side as build: the shingle table's stats
    * dip under the auto-broadcast threshold at mid scale and the
    * measured broadcast of array-heavy shingles loses to a shuffle join
    * (TUNING.md round 9 — q_lsh_eval 10.2 s default vs 4.1 s suppressed
    * at sf3); at corpus scale broadcasting shingles is never viable, so
    * the hint is also the plan that survives 100 TB.
    *
    * Each pair's Jaccard is evaluated once: one projection computes it
    * (its union once, by subexpression elimination) and a one-element
    * explode passes it on. The threshold filters that generator's
    * output, which Catalyst does not push below the generator, so no
    * copy of the Jaccard lands in the join condition.
    */
  private def verifiedPairs(candidates: DataFrame, shingled: DataFrame,
                            family: HashFamily, minJaccard: Double): DataFrame = {
    val exact = TextAnalysis.jaccard(col("sh_a"), col("sh_b"))
    candidates
      .hint("shuffle_hash")
      .join(shingled.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .hint("shuffle_hash")
      .join(shingled.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (if (family == XxHash) exact else round(exact, 4)).as("__jaccard"))
      .select(col("id_a"), col("id_b"), explode(array(col("__jaccard"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** One MinHash-LSH run: candidate pairs, verified (id_a, id_b,
    * jaccard) pairs, and the handle of the persisted shingle and band
    * tables.
    */
  private final case class LshPairs(candidates: DataFrame, verified: DataFrame, handle: CacheHandle)

  /** The MinHash-LSH pipeline behind every near-dup pair operator:
    * shingle → signature → band → bucket self-join → Jaccard verify.
    *
    * Two persists, both ids-and-shingles only (MEMORY_AND_DISK: the
    * shingle cache is ~2% of raw text, the band table holds no text):
    * the shingle table is read three times (banding and both sides of
    * the verify join), and the band table feeds both sides of the
    * self-join, which a broadcast join evaluates independently (it
    * reuses no exchange) — unpersisted, the signatures would be
    * computed TWICE, measured as the dominant cost of the operator.
    * `pinCandidates` lets a caller materialize the candidate pairs
    * before the verify join reads them.
    */
  private def minhashLsh(docs: DataFrame, idCol: String, textCol: String, ngram: Int,
                         h: Int, bands: Int, minJaccard: Double, family: HashFamily,
                         pinCandidates: DataFrame => DataFrame = identity): LshPairs = {
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val handle = CacheHandle()
    val shingled = handle.track(docs
      .select(col(idCol).as("id"), TextAnalysis.wordNgrams(col(textCol), ngram).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .persist(storage))
    val bandTable = handle.track(
      banded(shingled, Seq("id"), "shingles", family, h, bands).persist(storage))
    val candidates = pinCandidates(candidatePairs(bandTable))
    LshPairs(candidates, verifiedPairs(candidates, shingled, family, minJaccard), handle)
  }

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * docs(idCol, textCol) → (id_a, id_b, jaccard) for pairs that collide
    * in ≥1 band and whose true shingle Jaccard ≥ minJaccard. xxhash64
    * family; the Jaccard is not rounded.
    */
  def minhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ngram: Int = 3,
      h: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5
  ): DataFrame =
    minhashLsh(docs, idCol, textCol, ngram, h, bands, minJaccard, XxHash).verified

  /** Engine-portable MinHash-LSH near-dups: the pipeline of
    * [[minhashNearDups]] with the md5 hash family, so the FULL pipeline
    * (shingle → signature → band → bucket join → Jaccard verify) is
    * oracle-checkable, not just spec-checked; the Jaccard is rounded
    * to 4 dp. `saltPrefix` selects an independent md5 family (see
    * [[HashFamily]]).
    */
  def minhashNearDupsPortable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ngram: Int = 3,
      h: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.5,
      saltPrefix: String = ""
  ): DataFrame =
    minhashLsh(docs, idCol, textCol, ngram, h, bands, minJaccard, Md5(saltPrefix)).verified

  /** N-gram coverage of a held-out test slice by the training corpus —
    * the decontamination question asked the other way round: not "did
    * eval text leak into training" but "does the corpus COVER the
    * domain the eval probes". Per test doc: distinct n-grams, how many
    * appear anywhere in the (non-test) corpus, and coverage in exact
    * ppm (integer division — float-free).
    *
    * Shape: one shingle pass; the corpus side collapses to a DISTINCT
    * gram set (hash-aggregate, map-side combined), the test side
    * semi-joins it — gram-keyed, id-only rows; test docs are a sliver
    * so the join is corpus-gram-bounded. 100 TB note: for repeated
    * eval suites, persist the corpus gram set bucketed by gram
    * (Sinks.writeBucketed) and the per-suite probe is a co-located
    * semi-join with no corpus re-scan.
    */
  def ngramCoverage(docs: DataFrame, idCol: String, textCol: String,
                    isTest: Column, n: Int = 3): DataFrame = {
    val base = docs.select(col(idCol).as("id"), isTest.as("t"),
      TextAnalysis.wordNgrams(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val corpusGrams = base.filter(!col("t")).select(explode(col("sh")).as("gr")).distinct()
    val testGrams = base.filter(col("t")).select(col("id"), explode(col("sh")).as("gr"))
    val tstats = testGrams.groupBy("id").agg(count(lit(1)).as("n_trigrams"))
    val cstats = testGrams.join(corpusGrams, Seq("gr"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_covered"))
    tstats.join(cstats, Seq("id"), "left")
      .select(col("id"), col("n_trigrams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("coverage_ppm", expr("n_covered * 1000000 div n_trigrams"))
  }

  /** Recall/precision evaluation of the portable MinHash-LSH chain
    * against a KNOWN truth pair set — "eval the dedup operator" as a
    * first-class query: a curation run that cannot state its near-dup
    * recall cannot defend its dedup rate. Runs the pipeline of
    * [[minhashNearDupsPortable]] (shingle → md5 signature → bands →
    * bucket join → Jaccard verify) and reports, in one row: truth
    * size, candidate volume, verified pairs, truth pairs found at each
    * stage, end-to-end recall and the candidate verify-rate — the two
    * ppm ratios exact by integer division.
    *
    * `truth` carries canonical (id_a < id_b) pair columns. Scale
    * shape: identical to the production chain plus two broadcast-sized
    * count joins; the truth set joins on (id_a, id_b) — id-only rows.
    * The candidate and verified pairs are checkpointed so the five
    * counting consumers read each once; the pipeline's own persists
    * are released once both checkpoints exist.
    */
  def lshDedupEval(docs: DataFrame, idCol: String, textCol: String,
                   truth: DataFrame,
                   ngram: Int = 3, h: Int = 8, bands: Int = 4,
                   minJaccard: Double = 0.5): DataFrame = {
    val run = minhashLsh(docs, idCol, textCol, ngram, h, bands, minJaccard, Md5(""),
      pinCandidates = _.localCheckpoint(true))
    val candidates = run.candidates
    val verified = run.verified.select(col("id_a"), col("id_b")).localCheckpoint(true)
    run.handle.release()
    val tr = truth.select(col("id_a"), col("id_b"))
    val out = tr.agg(count(lit(1)).as("n_truth"))
      .crossJoin(candidates.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
      .crossJoin(candidates.join(tr, Seq("id_a", "id_b")).agg(count(lit(1)).as("truth_found")))
      .crossJoin(verified.join(tr, Seq("id_a", "id_b")).agg(count(lit(1)).as("verified_truth")))
    out.select(col("n_truth"), col("n_candidates"), col("n_verified"),
      col("truth_found"), col("verified_truth"),
      // NULL (not ANSI DIVIDE_BY_ZERO) on an empty truth set or a
      // collision-free corpus — the hillTail tail_alpha discipline.
      expr("case when n_truth > 0 then verified_truth * 1000000 div n_truth end")
        .as("recall_ppm"),
      expr("case when n_candidates > 0 then n_verified * 1000000 div n_candidates end")
        .as("verify_rate_ppm"))
  }

  /** Per-bucket first occupant kept as streaming state. */
  final case class BucketFirst(firstId: Long, firstMs: Long)
  /** A later arrival colliding with its bucket's first occupant. */
  final case class StreamDupHit(id: Long, first_id: Long, band: Int)

  /** Stream-vs-STREAM LSH near-dup with growing state — the self-
    * referential form of [[nearDupsAgainstReferenceReleasable]]: no
    * static reference corpus; every arriving document is banded and
    * each (band, bucket) keeps its FIRST occupant as
    * flatMapGroupsWithState state, so a later arrival colliding with
    * any occupied bucket is flagged against that first document.
    * This is the ingest-time dedup gate of a training pipeline: the
    * candidate report exists the moment the duplicate arrives, not at
    * the next batch job.
    *
    * State discipline: ONE (firstId, firstMs) pair per occupied
    * bucket — state size is the distinct-bucket count, not the
    * corpus; buckets idle past `stateTtl` are EVICTED via event-time
    * timeout (the documented trade: a duplicate arriving after the
    * horizon is missed — rerun the batch chain for full-history
    * dedup, exactly like the watermark dedup twin). Arrivals inside
    * one micro-batch order by (ms, id), so the elected first is
    * deterministic under replay. Output is candidate hits (verify
    * with the batch jaccard pass downstream — state cannot hold
    * shingle sets without blowing the per-bucket bound).
    */
  def lshNearDupStreamStream(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = 3600000L,
      ngram: Int = 3,
      h: Int = 64,
      bands: Int = 16): org.apache.spark.sql.Dataset[StreamDupHit] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val shingled = stream
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("ts"),
        TextAnalysis.wordNgrams(col(textCol), ngram).as("__sh"))
      .filter(size(col("__sh")) > 0)
    // the watermarked TIMESTAMP column must reach the stateful
    // operator itself for event-time timeout to resolve
    banded(shingled, Seq("id", "ts"), "__sh", XxHash, h, bands)
      .select(col("id"), col("ts"), col("band"), col("bh").cast("string").as("bh"))
      .as[(Long, java.sql.Timestamp, Int, String)]
      .groupByKey { case (_, _, band, bh) => (band, bh) }
      .flatMapGroupsWithState[BucketFirst, StreamDupHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()
      ) { case ((band, _), rowsIt, state: GroupState[BucketFirst]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val arrivals = rowsIt.toSeq
            .map { case (id, t, _, _) => (id, t.getTime) }
            .sortBy { case (id, ms) => (ms, id) }
          val hits = scala.collection.mutable.ArrayBuffer.empty[StreamDupHit]
          var cur = state.getOption
          var maxMs = 0L
          arrivals.foreach { case (id, ms) =>
            maxMs = math.max(maxMs, ms)
            cur match {
              case None => cur = Some(BucketFirst(id, ms))
              case Some(f) if f.firstId != id => hits += StreamDupHit(id, f.firstId, band)
              case _ => ()
            }
          }
          cur.foreach { c =>
            state.update(c)
            state.setTimeoutTimestamp(math.max(maxMs, c.firstMs) + stateTtlMs)
          }
          hits.iterator
        }
      }
  }

  /** Near-duplicate flagging of an incoming stream AGAINST A STATIC
    * reference corpus — the continuous-ingest form of near-dedup: a
    * harvested batch lands, and every new document is checked against
    * the already-curated corpus without recomputing anything on the
    * reference side.
    *
    * Completely state-free on the stream: each incoming doc computes
    * its banded MinHash per-row (map-only), stream-static joins the
    * reference's banded table on (band, bh), and verifies true
    * Jaccard against reference shingles. The only streaming state is
    * the within-watermark pair dedup (multi-band collisions of the
    * same pair). At 100 TB the reference tables are persisted once
    * (returned handle) and re-read per micro-batch — write them
    * bucketed by (band, bh) via Sinks.writeBucketed for co-located
    * probe joins.
    *
    * `portable = true` switches both sides to the md5 signature basis
    * (engine-reproducible, oracle-checkable batch twin); the default
    * xxhash64 path is the codegen perf form. Batch inputs get the
    * deterministic twin: same joins, plain distinct.
    */
  def nearDupsAgainstReferenceReleasable(
      stream: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes",
      ngram: Int = 3,
      h: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      portable: Boolean = false,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  ): (DataFrame, CacheHandle) = {
    val handle = CacheHandle()
    val family = if (portable) Md5("") else XxHash
    val refShingled = handle.track(reference
      .select(col(idCol).as("ref_id"), col(textCol).as("__t"))
      .select(col("ref_id"), TextAnalysis.wordNgrams(col("__t"), ngram).as("__sh_ref_id"))
      .filter(size(col("__sh_ref_id")) > 0)
      .persist(storage))
    val refBanded = handle.track(
      banded(refShingled, Seq("ref_id"), "__sh_ref_id", family, h, bands).persist(storage))

    val probe = stream
      .select(col(idCol).as("id"), col(tsCol).as("__ts"),
        TextAnalysis.wordNgrams(col(textCol), ngram).as("__sh_id"))
      .filter(size(col("__sh_id")) > 0)
    val cand = banded(probe, Seq("id", "__ts", "__sh_id"), "__sh_id", family, h, bands)
      .join(refBanded, Seq("band", "bh"))
    val verified = cand
      .join(refShingled, "ref_id")
      .filter(col("id") =!= col("ref_id"))
      .select(col("id"), col("__ts"), col("ref_id"),
        round(TextAnalysis.jaccard(col("__sh_id"), col("__sh_ref_id")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
    val out =
      if (stream.isStreaming)
        verified.withWatermark("__ts", watermarkDelay)
          .dropDuplicatesWithinWatermark(Seq("id", "ref_id")).drop("__ts")
      else verified.drop("__ts").distinct()
    (out, handle)
  }

  /** [[nearDupsAgainstReferenceReleasable]] discarding the handle. */
  def nearDupsAgainstReference(
      stream: DataFrame, reference: DataFrame, idCol: String, textCol: String,
      tsCol: String = "ts", watermarkDelay: String = "10 minutes",
      ngram: Int = 3, h: Int = 64, bands: Int = 16, minJaccard: Double = 0.5,
      portable: Boolean = false
  ): DataFrame =
    nearDupsAgainstReferenceReleasable(stream, reference, idCol, textCol, tsCol,
      watermarkDelay, ngram, h, bands, minJaccard, portable)._1

  /** Benchmark decontamination: fraction of each corpus document's
    * distinct n-grams that appear anywhere in the benchmark set.
    *
    * Scale shape: the benchmark's distinct shingles are one column of
    * hashes-of-text; the corpus explodes to (id, shingle) once, marks
    * membership with a broadcast LEFT join, and aggregates total and
    * hit counts in the SAME groupBy — one corpus scan, one shuffle
    * (keyed on id), no join of two aggregates. Corpus text never
    * shuffles, only shingles; at 100 TB the benchmark side is
    * typically small enough to broadcast.
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      ngram: Int,
      threshold: Double
  ): DataFrame = {
    val grams = corpus.select(
      col(idCol).as("id"),
      explode(TextAnalysis.wordNgrams(col(textCol), ngram)).as("g")
    )
    val benchSet = benchmark
      .select(explode(TextAnalysis.wordNgrams(col(textCol), ngram)).as("g"))
      .distinct()
    // benchSet is distinct on g, so the left join never fans out and
    // count(__hit) counts exactly the member grams per document.
    grams
      .join(broadcast(benchSet.withColumn("__hit", lit(1))), Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("total"), count(col("__hit")).as("hits"))
      .select(
        col("id"),
        round(col("hits") / col("total"), 4).as("overlap_ratio"),
        (col("hits") / col("total") > threshold).as("contaminated")
      )
  }

  /** [[decontaminate]] with a Bloom prefilter: the benchmark gram set
    * is compressed to a relational bitmap ([[Bloom]]) and the corpus
    * gram stream drops non-members map-side BEFORE the exact verify
    * join, which then only the bloom survivors (true hits + the ~FPR
    * false positives) pay. Output is IDENTICAL to [[decontaminate]] —
    * a Bloom filter has no false negatives and the verify join removes
    * its false positives — so the same oracle proves both paths.
    *
    * This is the 100 TB variant: the raw benchmark grams can exceed
    * broadcast limits, the bitmap (~10 bits/gram at 1% FPR) cannot;
    * and the per-doc `total` count rides the SAME gram stream, so the
    * corpus is still exploded exactly once.
    */
  def decontaminateBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      ngram: Int,
      threshold: Double,
      k: Int = 5,
      mBits: Int = 1 << 20
  ): DataFrame = {
    val grams = corpus.select(
      col(idCol).as("id"),
      explode(TextAnalysis.wordNgrams(col(textCol), ngram)).as("g")
    )
    val benchSet = benchmark
      .select(explode(TextAnalysis.wordNgrams(col(textCol), ngram)).as("g"))
      .distinct()
    val bitmapRow = Bloom.build(benchSet, "g", k, mBits)
    val totals = grams.groupBy("id").agg(count(lit(1)).as("total"))
    val survivors = grams
      .crossJoin(broadcast(bitmapRow))
      .filter(Bloom.mightContain(col("g"), col("bitmap"), k, mBits))
      .select(col("id"), col("g"))
    val hits = survivors.join(benchSet, "g").groupBy("id").agg(count(lit(1)).as("hits"))
    totals
      .join(hits, Seq("id"), "left")
      .select(
        col("id"),
        round(coalesce(col("hits"), lit(0L)) / col("total"), 4).as("overlap_ratio"),
        (coalesce(col("hits"), lit(0L)) / col("total") > threshold).as("contaminated")
      )
  }

  /** Intra-document repetition ratio: 1 - distinct/total n-grams (a
    * Gopher-style quality signal; high values mean boilerplate loops).
    */
  def repetitionRatio(text: Column, ngram: Int): Column = {
    val total = size(TextAnalysis.tokenize(text)) - (ngram - 1)
    val distinctN = size(TextAnalysis.wordNgrams(text, ngram))
    when(total <= 0, lit(0.0))
      .otherwise(lit(1.0) - distinctN.cast("double") / total.cast("double"))
  }

  /** Engine-portable SimHash (32-bit): token hashes are the first 32
    * bits of md5, bit votes and the final signature are plain
    * relational algebra — explode (doc, token) → (doc, bit, ±1 vote)
    * → two keyed aggregations — so any engine with md5 reproduces the
    * signature EXACTLY (the 64-bit xxhash64 variant stays the perf
    * path; this one proves the algorithm against the oracle). The
    * vote shuffle carries (id, bit, partial sum) with map-side
    * combine — 32 rows per doc reach the final aggregate.
    */
  def simhashPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"), explode(TextAnalysis.tokenize(col(textCol))).as("w"))
      .select(col("id"), conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("h"))
    val votes = toks
      .select(col("id"), col("h"), explode(sequence(lit(0), lit(31))).as("b"))
      .select(col("id"), col("b"), expr("(shiftright(h, CAST(b AS INT)) & 1) * 2 - 1").as("v"))
      .groupBy("id", "b").agg(sum(col("v")).as("vs"))
    votes
      .select(col("id"),
        when(col("vs") > 0, expr("CAST(pow(2, b) AS BIGINT)")).otherwise(lit(0L)).as("bitval"))
      .groupBy("id").agg(sum(col("bitval")).as("simhash"))
      .withColumnRenamed("id", idCol)
  }

  /** SimHash bit-vote vector (64 bits, as an array of 0/1 longs):
    * bit i is 1 when the sum over tokens of ±1 (by bit i of the token's
    * xxhash64) is positive. Token hashes are computed once, then 64
    * fixed-shift votes run over the hash array (shift amounts must be
    * Scala ints, hence the unrolled loop — still one codegen'd
    * projection). `HofOracles.simhashBitsHof` (src/test) is the
    * bit-identical interpreted-HOF form, ~60x slower.
    */
  def simhashBits(tokens: Column): Column = graft.plans.SimHashBits(tokens)

  /** Hamming distance between two equal-length bit arrays. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x =!= y, 1L).otherwise(0L)), lit(0L), (acc, v) => acc + v)

  /** EXACT set-similarity self-join via prefix filtering (the
    * SSJoin/PPJoin family: Chaudhuri et al., ICDE 2006; Xiao et al.,
    * WWW 2008) — the deterministic complement to MinHash-LSH: zero
    * false negatives, candidates bounded by token-frequency order
    * instead of banding probability. Token sets order rarest-first by
    * (document frequency, term) — encoded as one sortable string key,
    * zero-padded df then term, so both engines compare bytewise — and
    * a pair with Jaccard ≥ τ must share a token within EACH side's
    * first |s| − ceil(τ·|s|) + 1 keys (if an |s|-set's prefix missed
    * the intersection entirely, at most ceil(τ|s|) − 1 common tokens
    * remain, below the ≥ ceil(τ|s|) a τ-similar pair needs on either
    * side once the length filter holds). Frequent tokens — the ones
    * that would explode a naive token join — sort to the END of the
    * order and rarely enter a prefix.
    *
    * Scale shape: the candidate join shuffles (key, id, n) prefix
    * rows only — no arrays, no text; the length filter
    * (τ·max ≤ min) prunes cross-size pairs before the verify; the
    * exact verify joins the two sorted key arrays back by id
    * (id-keyed shuffles) and intersects per pair. The reported
    * jaccard and the τ cut both use the 6dp-rounded value, so the
    * decision is engine-exact; the length filter compares IEEE
    * products identically on any engine.
    */
  def prefixFilterJoin(docs: DataFrame, idCol: String, textCol: String, tau: Double): DataFrame = {
    val sets = sortedKeySets(docs, idCol, textCol)
    val pref = prefixTokens(sets, tau)
    val cand = pref.select(col("k"), col("id").as("id_a"), col("n").as("n_a"))
      .join(pref.select(col("k"), col("id").as("id_b"), col("n").as("n_b")), Seq("k"))
      .filter(col("id_a") < col("id_b") &&
        col("n_b") * lit(tau) <= col("n_a") && col("n_a") * lit(tau) <= col("n_b"))
      .select("id_a", "id_b").distinct()
    verifyPairs(cand, sets, sets, tau)
  }

  /** Incremental form of [[prefixFilterJoin]]: every (probe, corpus)
    * pair with Jaccard ≥ τ — the shape a 100 TB deployment actually
    * runs (today's batch against the standing corpus, cost ∝ batch ×
    * per-probe partner density, never corpus²; the self-join form's
    * output alone is quadratic on a vocabulary-dense corpus, which is
    * an output lower bound no exact algorithm beats). The frequency
    * order comes from the UNION of the two sides so both prefix sets
    * agree on it. Emits (id_a = probe, id_b = corpus, jaccard).
    */
  def prefixFilterProbe(probes: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String, tau: Double): DataFrame = {
    val all = probes.select(col(idCol).as("id"), col(textCol).as("text"), lit(true).as("is_probe"))
      .unionByName(corpus.select(col(idCol).as("id"), col(textCol).as("text"), lit(false).as("is_probe")))
    val sets = sortedKeySets(all, "id", "text")
      .join(all.select(col("id"), col("is_probe")), "id")
    val pref = prefixTokens(sets, tau)
      .join(sets.select(col("id"), col("is_probe")), "id")
    val cand = pref.filter(col("is_probe")).select(col("k"), col("id").as("id_a"), col("n").as("n_a"))
      .join(pref.filter(!col("is_probe")).select(col("k"), col("id").as("id_b"), col("n").as("n_b")), Seq("k"))
      .filter(col("n_b") * lit(tau) <= col("n_a") && col("n_a") * lit(tau) <= col("n_b"))
      .select("id_a", "id_b").distinct()
    verifyPairs(cand, sets.filter(col("is_probe")), sets.filter(!col("is_probe")), tau)
  }

  /** (id, ks, n): the doc's distinct tokens as rarest-first sortable
    * keys (zero-padded document frequency, then the term — bytewise
    * order on any engine), sorted ascending.
    */
  private def sortedKeySets(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(array_distinct(split(lower(col(textCol)), " "))).as("term"))
    val dfreq = toks.groupBy("term").agg(count(lit(1)).as("df"))
    toks.join(dfreq, "term")
      .select(col("id"), concat(lpad(col("df").cast("string"), 10, "0"), col("term")).as("k"))
      .groupBy("id").agg(array_sort(collect_list(col("k"))).as("ks"))
      .select(col("id"), col("ks"), size(col("ks")).as("n"))
  }

  /** One row per prefix key: the first |s| − ceil(τ·|s|) + 1 keys. */
  private def prefixTokens(sets: DataFrame, tau: Double): DataFrame =
    sets.select(col("id"), col("n"),
      explode(slice(col("ks"), lit(1),
        (col("n") - ceil(lit(tau) * col("n")) + 1).cast("int"))).as("k"))

  /** Exact verify: join the sorted key arrays back by id, intersect,
    * keep the pairs whose 6dp-rounded Jaccard clears τ.
    */
  private def verifyPairs(cand: DataFrame, setsA: DataFrame, setsB: DataFrame, tau: Double): DataFrame = {
    // Pin the verify parallelism: the candidate table is two longs per
    // row, so AQE coalesces its shuffle output by BYTES to a handful
    // of partitions — and the per-pair array_intersect (the CPU of the
    // whole join) then runs on that handful of tasks whatever the
    // cluster width (measured 4.3-4.6 s vs 1.8 s AQE-off at sf1). The
    // explicit numPartitions repartition is exempt from AQE coalescing
    // and scales with the session's shuffle-partition setting.
    val p = cand.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // Second pin on id_b: WHILE the setsB join stays a shuffle join
    // (it does at every benched scale; PlanAuditSpec pins the
    // exchange count and will flag a shape change), the id_b join
    // shuffles the (now ks_a-fat) left side anyway, so the explicit
    // form adds no exchange — it
    // only exempts that shuffle from AQE byte-coalescing too, and it
    // spreads a skewed id_a (one document in many candidate pairs,
    // which the id_a pin alone would concentrate on one task) across
    // tasks before the array_intersect, the CPU of the whole verify.
    cand
      .repartition(p, col("id_a"))
      .join(setsA.select(col("id").as("id_a"), col("ks").as("ks_a"), col("n").as("n_a")), "id_a")
      .repartition(p, col("id_b"))
      .join(setsB.select(col("id").as("id_b"), col("ks").as("ks_b"), col("n").as("n_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("ks_a"), col("ks_b"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every `ngram`-word
    * shingle, slide a `window`-wide window over the hash sequence, and
    * select each window's minimum (rightmost on ties). Guarantees at
    * least one selected fingerprint in every window, so any shared
    * substring of ≥ window+ngram−1 words produces a shared
    * fingerprint — the plagiarism/containment detector that exact-hash
    * dedup misses.
    *
    * Hashes are the engine-portable polynomial family
    * ([[Curation.polyWordHash]]); the window minimum unrolls into
    * `lead` columns (window is a small compile-time constant), so
    * selection is ONE window pass per document — no self-join, and the
    * only shuffle is the per-doc partition. Emits one row per doc:
    * fingerprint count + min/max fingerprint value.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         ngram: Int = 3, window: Int = 4): DataFrame = {
    require(window >= 2 && window <= 8, "window in [2,8] (unrolled leads)")
    val P = 1000000007L
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val words = docs.select(col(idCol),
      posexplode(split(lower(col(textCol)), " ")).as(Seq("pos", "w")))
      .select(col(idCol), col("pos"), Curation.polyWordHash(col("w")).as("wh"))
    // n-gram hash = poly fold over the member word hashes.
    val gram = words.select(col(idCol), col("pos"),
      (1 until ngram).foldLeft(col("wh")) { (acc, k) =>
        pmod(acc * 31L + lead(col("wh"), k).over(w), lit(P))
      }.as("gh")).filter(col("gh").isNotNull)
    val leads = (1 until window).map(k => lead(col("gh"), k).over(w).as(s"g$k"))
    val windowed = gram.select(Seq(col(idCol), col("pos"), col("gh").as("g0")) ++ leads: _*)
      .filter(col(s"g${window - 1}").isNotNull)
    val mn = least((0 until window).map(k => col(s"g$k")): _*)
    // Rightmost minimum: the ascending fold leaves the HIGHEST offset
    // as the outermost when(), so it is checked first.
    val off = (1 until window).foldLeft(lit(0)) { (acc, k) =>
      when(col(s"g$k") === col("__mn"), lit(k)).otherwise(acc)
    }
    windowed.withColumn("__mn", mn)
      .select(col(idCol), (col("pos") + off).as("sel_pos"), col("__mn").as("fp"))
      .distinct()
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fps"), min("fp").as("min_fp"), max("fp").as("max_fp"))
  }
}
