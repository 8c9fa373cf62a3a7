package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over an edge list — the missing middle of a
  * dedup pipeline: pair finders (minhash/simhash/embedding buckets)
  * emit edges, but choosing ONE canonical document per duplicate
  * cluster requires the transitive closure of those pairs.
  *
  * Implemented as alternating large-star / small-star rounds (Kiveris
  * et al., "Connected Components in MapReduce and Beyond"): converges
  * in O(log n) rounds regardless of component diameter, unlike naive
  * min-label propagation whose round count is the graph diameter (a
  * 10^6-long near-dup chain would need 10^6 shuffles; this needs ~20).
  * Each round is three shuffles over (long, long) pairs — two window
  * minima and one `distinct` — ids only, never payloads, so the 100 TB
  * corpus contributes only its duplicate-pair ids to the iteration.
  */
object Graph {

  /** Canonical undirected edges, checkpointed: one (least, greatest)
    * long pair per edge, named (`lo`, `hi`), self-loops dropped.
    */
  private def canonicalEdges(edges: DataFrame, src: String, dst: String,
                             lo: String = "a", hi: String = "b"): DataFrame =
    Rounds.checkpoint(edges
      .select(least(col(src).cast("long"), col(dst).cast("long")).as(lo),
        greatest(col(src).cast("long"), col(dst).cast("long")).as(hi))
      .filter(col(lo) =!= col(hi))
      .distinct()).df

  /** Both directions of every edge, (`src`, `dst`, `carry`) and
    * (`dst`, `src`, `carry`) named (`u`, `v`, ...), from ONE pass over
    * `edges`: a self-union of a lazy frame runs its whole plan twice.
    */
  private def bothWays(edges: DataFrame, src: Column, dst: Column, carry: Column*): DataFrame =
    edges.select(explode(array(
      struct(src.as("u") +: dst.as("v") +: carry: _*),
      struct(dst.as("u") +: src.as("v") +: carry: _*))).as("e"))
      .select("e.*")

  /** Both directions (a, b) of [[canonicalEdges]] and each vertex's degree (v, deg). */
  private def symmetricDegrees(e: DataFrame): (DataFrame, DataFrame) = {
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    (sym, sym.groupBy("a").agg(count(lit(1)).as("deg")).select(col("a").as("v"), col("deg")))
  }

  /** (id, component) for every vertex incident to an edge; component
    * is the minimum vertex id in the connected component. Edges are
    * treated as undirected; self-loops ignored. `maxRounds` bounds the
    * driver loop (20 covers any graph up to ~2^20 diameter after the
    * first round's star-collapse). If the edge set has not converged
    * when `maxRounds` is exhausted the mapping would be WRONG (some
    * vertices not yet linked to their component minimum), so this
    * throws rather than return it — raise `maxRounds` for adversarial
    * graphs deeper than ~2^maxRounds.
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String, maxRounds: Int = 20): DataFrame = {
    // Final state is a star forest: (child, root) edges with root = min
    // id of the component. Roots name their own component.
    val e = starForest(edges, src, dst, maxRounds).df
    val children = e.select(col("u").as("id"), col("v").as("component"))
    val roots = e.select(col("v").as("id")).distinct()
      .join(children.select(col("id")), Seq("id"), "left_anti")
      .withColumn("component", col("id"))
    children.unionByName(roots)
  }

  /** The converged large-star / small-star rounds of
    * [[connectedComponents]]: (u, v) child → root edges. Convergence =
    * identical edge set. Every state is a distinct (u, v) set, so its
    * observed (row count, xor of edge hashes) signature is an exact
    * compare (xor, not sum: sum overflows Long under ANSI mode), and
    * it comes out of the state's own checkpoint job.
    */
  private[operators] def starForest(edges: DataFrame, src: String, dst: String,
                                    maxRounds: Int): Rounds.State = {
    val sig = coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("sig")
    val init = Rounds.checkpoint(edges
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct(), sig)
    val (forest, converged) =
      Rounds.iterate(init, maxRounds, sig)(e => smallStar(largeStar(e)))(_ == _)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds; " +
          "the partial mapping would be incorrect — increase maxRounds")
    forest
  }

  /** connectedComponents plus singleton vertices from `vertices(idCol)`
    * (a vertex with no duplicate pair is its own component).
    */
  def connectedComponentsAll(edges: DataFrame, src: String, dst: String,
                             vertices: DataFrame, idCol: String): DataFrame = {
    val cc = connectedComponents(edges, src, dst)
    val singletons = vertices.select(col(idCol).cast("long").as("id"))
      .join(cc.select("id"), Seq("id"), "left_anti")
      .withColumn("component", col("id"))
    cc.unionByName(singletons)
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, deterministic variant): every vertex starts as its own
    * label; each round every vertex adopts the most frequent label
    * among its neighbors AND itself (the self-vote damps the
    * two-cycle oscillation synchronous LPA exhibits on symmetric
    * structures — an isolated pair otherwise swaps labels forever),
    * ties broken by smallest label — so the fixed `iters`-round
    * result is a pure function of the edge set, reproducible by an
    * engine that unrolls the same rounds ([[labelPropSqlDuck]]). Communities are denser-than-their-
    * surroundings vertex groups — finer structure than connected
    * components (which merge everything reachable) and the standard
    * cheap community pass over co-occurrence / interaction graphs.
    *
    * Labels are the vertex keys themselves (any orderable type —
    * strings keep it engine-portable). Scale shape per round: one
    * (neighbor → label) join keyed on the vertex id, one
    * (vertex, label) count agg, one min(struct) argmax agg — edges
    * and labels only, payloads never move; rounds checkpoint eagerly
    * and release the previous round's blocks like [[pageRank]].
    */
  def labelPropagation(edges: DataFrame, src: String, dst: String, iters: Int): DataFrame = {
    val e = Rounds.checkpoint(bothWays(edges, col(src), col(dst))
      .filter(col("u") =!= col("v")).distinct()).df
    val init = Rounds.checkpoint(e.select(col("u").as("id")).distinct()
      .withColumn("label", col("id")))
    Rounds.iterate(init, iters) { labels =>
      val votes = e.join(labels, e("v") === labels("id"))
        .select(col("u"), col("label"))
        .unionByName(labels.select(col("id").as("u"), col("label")))
      // partitioned on u once: both aggregations group by u first, so
      // the argmax reuses the vote count's partitioning, one shuffle
      votes.repartition(col("u"))
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("u").as("id"))
        .agg(min_by(col("label"), struct((-col("c")).as("nc"), col("label").as("l"))).as("label"))
    }()._1.df
  }

  /** Newman modularity Q (Newman & Girvan 2004) of a node labeling
    * over an undirected simple graph: Q = Σ_c [L_c/m − (d_c/2m)²]
    * where L_c counts intra-community edges, d_c sums community
    * degrees, m the edge total. Evaluated EXACTLY as one integer
    * ratio, Q = (4m·ΣL_c − Σd_c²)/(4m²), DECIMAL(38,0) products and a
    * single final double division — the quality score that turns
    * labelPropagation's output into a judged clustering.
    *
    * Scale: edges join the (id, label) map twice (labels are the
    * node-grain side); intra counts and degree sums are map-side
    * combinable; the community-grain Σd_c² frame is community-bounded.
    * Nothing all-pairs, nothing collected.
    */
  def modularity(pairs: DataFrame, aCol: String, bCol: String,
                 labels: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs, aCol, bCol, "u", "v")
    val lab = labels.select(col("id").cast("long").as("id"), col("label"))
    val tagged = e
      .join(lab.withColumnsRenamed(Map("id" -> "u", "label" -> "lu")), "u")
      .join(lab.withColumnsRenamed(Map("id" -> "v", "label" -> "lv")), "v")
    val m = tagged.agg(count(lit(1)).as("m"),
      sum(when(col("lu") === col("lv"), 1L).otherwise(0L)).as("sum_internal"))
    val deg = e.select(col("u").as("id")).unionByName(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .join(lab, "id")
      .groupBy("label").agg(sum("deg").as("d_c"))
    val dSq = deg.agg(count(lit(1)).as("n_communities"),
      sum(col("d_c").cast("decimal(19,0)") * col("d_c").cast("decimal(19,0)")).as("sd2"))
    // e's checkpoint blocks stay pinned until the session drops them:
    // the m/deg consumers read it lazily, so an eager release here
    // would truncate lineage out from under the final job.
    val out = m.crossJoin(dSq)
    out.select(col("m"), col("n_communities"), col("sum_internal"),
      ((col("m").cast("decimal(19,0)") * col("sum_internal").cast("decimal(19,0)") * 4
        - col("sd2")).cast("double") /
        (col("m").cast("decimal(19,0)") * col("m").cast("decimal(19,0)") * 4)
          .cast("double")).as("modularity"))
  }

  /** Rich-club coefficient (Zhou & Mondragón 2004; Colizza et al.
    * 2006, unnormalized form): for each degree threshold k, φ(k) =
    * 2·E_k/(N_k(N_k−1)) where N_k nodes have degree > k and E_k edges
    * run between two such nodes — "do the hubs preferentially link to
    * each other". Exact integers throughout; one edge-table pass per
    * threshold (the thresholds explode on the EDGE side only after
    * both endpoint degrees are joined in, so the graph is read once).
    */
  def richClub(edges: DataFrame, src: String, dst: String, ks: Seq[Long],
               prepared: Boolean = false): DataFrame = {
    // prepared = true: the caller guarantees the edges are already in
    // least/greatest canonical form, distinct and loop-free (true for
    // any bipartite asset whose dst id-space sits above src, e.g.
    // [[GraphAssets.supplierPart]]).
    val e =
      if (prepared) edges.select(col(src).as("u"), col(dst).as("v"))
      else canonicalEdges(edges, src, dst, "u", "v")
    val deg = e.select(col("u").as("id")).unionByName(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val kLit = array(ks.map(lit): _*)
    val nK = deg.select(col("deg"), explode(kLit).as("k"))
      .filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val eK = e
      .join(deg.withColumnsRenamed(Map("id" -> "u", "deg" -> "du")), "u")
      .join(deg.withColumnsRenamed(Map("id" -> "v", "deg" -> "dv")), "v")
      .select(explode(kLit).as("k"), col("du"), col("dv"))
      .filter(col("du") > col("k") && col("dv") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    nK.join(eK, Seq("k"), "left")
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        when(col("n_nodes") > 1,
          (coalesce(col("n_edges"), lit(0L)) * 2).cast("double") /
            (col("n_nodes") * (col("n_nodes") - 1)).cast("double")).as("phi"))
  }

  /** DuckDB SQL computing the identical fixed-iteration label
    * propagation over `edgeCte` (a CTE named e with columns u, v,
    * directed, self-loop-free) — rounds unrolled from the same
    * `iters` so query and oracle cannot drift.
    */
  def labelPropSqlDuck(edgeCte: String, iters: Int): String = {
    val base =
      s"""$edgeCte,
         |sym AS MATERIALIZED (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
         |l0 AS (SELECT DISTINCT u AS id, u AS label FROM sym)""".stripMargin
    val rounds = (1 to iters).map { k =>
      val p = s"l${k - 1}"
      s"""l$k AS MATERIALIZED (
         |  SELECT u AS id, label FROM (
         |    SELECT u, label, count(*) AS c,
         |           row_number() OVER (PARTITION BY u
         |             ORDER BY count(*) DESC, label) AS rn
         |    FROM (SELECT s.u, p.label FROM sym s JOIN $p p ON p.id = s.v
         |          UNION ALL SELECT id AS u, label FROM $p)
         |    GROUP BY u, label) t
         |  WHERE rn = 1)""".stripMargin
    }
    (base +: rounds).mkString("WITH ", ",\n", "") +
      s"\nSELECT id, label FROM l$iters"
  }

  /** PageRank over a directed edge list: `iters` fixed power
    * iterations with damping `d` and uniform dangling-mass
    * redistribution (Page et al. 1999). Returns (id, rank) with rank
    * rounded to 6 dp for cross-engine reproducibility.
    *
    * Scale design: the deduplicated edge table is hash-partitioned on
    * src ONCE and checkpointed — every round's contribution join
    * reuses that partitioning, so per round the only data movement is
    * the (dst, contribution) aggregation shuffle and the
    * (id, rank) pairs themselves; edges (the 100 TB side: the web
    * link graph dwarfs its vertex set) never re-shuffle. The driver
    * holds N — never a vertex or edge collection. Each round's
    * aggregate is eagerly checkpointed (lineage would otherwise grow by
    * a join per iteration) and the previous round's blocks are
    * released.
    */
  def pageRank(edges: DataFrame, src: String, dst: String,
               iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val (v, eAug) = pageRankInputs(edges, src, dst)
    uniformRanks(eAug, v, iters, damping)
  }

  /** Checkpointed vertex set and [[pageRankAugment]]ed edges of a raw
    * edge list (long-cast, loop-free, distinct, partitioned on src).
    */
  private def pageRankInputs(edges: DataFrame, src: String, dst: String): (Rounds.State, DataFrame) = {
    val e = Rounds.checkpoint(edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .repartition(col("src"))).df
    val v = Rounds.checkpoint(pageRankNodes(e))
    (v, Rounds.checkpoint(pageRankAugment(e, v.df)).df)
  }

  /** Distinct vertex set of a (src, dst) edge frame. */
  def pageRankNodes(e: DataFrame): DataFrame =
    e.select(col("src").as("id")).unionByName(e.select(col("dst").as("id")))
      .distinct()

  /** (src, dst, deg) with out-degree joined in once (not per round)
    * plus one synthetic edge per DANGLING vertex to the sentinel, so
    * the leaked mass comes out of the same per-round aggregation as
    * the contributions — one job per round, not a separate dangling
    * probe. Public so a shared-asset layer ([[GraphAssets]]) can
    * memoize the augmented table across queries and bench runs.
    */
  def pageRankAugment(e: DataFrame, v: DataFrame): DataFrame = {
    val eDeg = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
    val dangling = v.join(e.select(col("src").as("id")), Seq("id"), "left_anti")
    eDeg.unionByName(
        dangling.select(col("id").as("src"), lit(DanglingSentinel).as("dst"), lit(1L).as("deg")))
      .repartition(col("src"))
  }

  /** Uniform PageRank over a PREPARED augmented edge table
    * ([[pageRankAugment]] output, materialized — checkpointed or
    * persisted) and its vertex set: [[powerIterate]] with w = 1/n on
    * every vertex. Split out so shared assets ([[GraphAssets]]) feed
    * the rounds directly. The vertex ids are checkpointed once: their
    * observed row count is n, so no separate count job runs.
    */
  def pageRankIterate(eAug: DataFrame, v: DataFrame,
                      iters: Int, damping: Double): DataFrame =
    uniformRanks(eAug, Rounds.checkpoint(v.select(col("id"))), iters, damping)

  private def uniformRanks(eAug: DataFrame, v: Rounds.State,
                           iters: Int, damping: Double): DataFrame =
    powerIterate(eAug, v.df.select(col("id"), lit(1.0 / v.rows).as("w")), iters, damping)
      .select(col("id"), round(col("r"), 6).as("rank"))

  /** The one PageRank power iteration, shared by [[pageRank]] and
    * [[personalizedPageRank]]: `iters` rounds of
    * r' = (1−d)·w + d·(m + dm·w) over the teleport (preference)
    * vector `teleport(id, w)`, where m is the rank flowing in over the
    * edges and dm the dangling mass, which returns through the
    * teleport vector. Returns (id, r), unrounded.
    *
    * Each round runs `eAug ⋈ ranks` and its partial aggregation ONCE.
    * The teleport rows join the same aggregation as rows without flow,
    * so it yields (id, m, w) for every vertex plus the sentinel's row,
    * whose m is dm. Both consumers of the aggregate select rows by
    * `w`, an aggregate output, so neither filter is pushed below it:
    * the two share one exchange (the dm side reads it as a
    * ReusedExchange) and dm rejoins as a broadcast one-row frame, with
    * no driver action. A null flow adds nothing to a sum, and r is the
    * same expression as before, so the ranks are the same doubles.
    */
  private def powerIterate(eAug: DataFrame, teleport: DataFrame,
                           iters: Int, damping: Double): DataFrame = {
    val noFlow = lit(null).cast("double")
    val init = Rounds.checkpoint(teleport.select(col("id"), col("w").as("r")))
    Rounds.iterate(init, iters) { ranks =>
      // UNHINTED (round 14): the ranks checkpoint carries its exact
      // size, so this join broadcasts it while the rank table is small
      // and shuffles once it is not. The previous pinned shuffle_hash
      // paid a per-task hash-relation build on every round
      // (micro-measured 1.5-2.1 s cpu/round vs 0.24 unhinted on a
      // 100k-edge frame — OPTIMIZATION_r14.md §6).
      val agg = eAug.join(ranks, eAug("src") === ranks("id"))
        .select(col("dst").as("id"), (col("r") / col("deg")).as("c"), noFlow.as("w"))
        .unionByName(teleport.select(col("id"), noFlow.as("c"), col("w")))
        .groupBy("id")
        .agg(sum("c").as("m"), max("w").as("w"))
      val dm = agg.filter(col("w").isNull).select(col("m").as("dm"))
      agg.filter(col("w").isNotNull)
        .join(broadcast(dm), lit(true), "left")
        .select(col("id"),
          (lit(1.0 - damping) * col("w") + lit(damping) *
            (coalesce(col("m"), lit(0.0)) + coalesce(col("dm"), lit(0.0)) * col("w"))).as("r"))
    }()._1.df
  }

  /** Sentinel vertex id collecting dangling-node mass inside the
    * contribution aggregation of [[powerIterate]]
    * — never a real node id (ids come from cast long columns; the
    * synthetic edge is the only producer of this value).
    */
  private val DanglingSentinel = Long.MinValue

  /** DuckDB SQL computing the identical fixed-iteration PageRank over
    * `edgeCte` (a CTE named e with columns src, dst, already
    * deduplicated and self-loop-free) — the oracle is UNROLLED
    * programmatically from the same (iters, damping) parameters, so
    * query and oracle cannot drift.
    */
  def pageRankSqlDuck(edgeCte: String, iters: Int = 3, damping: Double = 0.85): String = {
    val d = damping
    // MATERIALIZED on every multi-referenced CTE: each r_k is read
    // twice (dangling-mass subquery + rank join), so without the hint
    // DuckDB INLINES the chain and the expansion grows 2^iters copies
    // of the full edge pipeline — measured as a >79 GB temp-spill
    // blow-up at sf1 where the materialized form runs in seconds.
    val base =
      s"""$edgeCte,
         |v AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |od AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM v),
         |r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS r FROM v)""".stripMargin
    val rounds = (1 to iters).map { k =>
      val p = s"r${k - 1}"
      s"""r$k AS MATERIALIZED (
         |  SELECT v.id, (1 - $d) / (SELECT n FROM nn) + $d * (COALESCE(s.m, 0) +
         |    (SELECT COALESCE(sum(p.r), 0) FROM $p p LEFT JOIN od ON od.src = p.id
         |     WHERE od.src IS NULL) / (SELECT n FROM nn)) AS r
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.r / od.deg) AS m
         |    FROM $p p JOIN e ON e.src = p.id JOIN od ON od.src = p.id
         |    GROUP BY e.dst) s ON s.id = v.id)""".stripMargin
    }
    (base +: rounds).mkString("WITH ", ",\n", "") +
      s"\nSELECT id, round(r, 6) AS rank FROM r$iters"
  }

  /** Personalized PageRank (Jeh & Widom 2003 / Page et al. 1999's
    * restart vector): the [[pageRank]] power iteration, teleporting to
    * the SEED distribution instead of uniformly — "importance relative
    * to these nodes", the similarity/recommendation primitive a
    * uniform PageRank can't express. Dangling mass also returns
    * through the restart vector (the standard PPR convention). Same
    * inputs, rounds and scale shape as [[pageRank]]; the seed table
    * broadcasts.
    */
  def personalizedPageRank(edges: DataFrame, src: String, dst: String,
                           seeds: DataFrame, iters: Int = 3,
                           damping: Double = 0.85): DataFrame = {
    val (v, eAug) = pageRankInputs(edges, src, dst)
    val s = Rounds.checkpoint(seeds.select(col("id")))
    val sVec = Rounds.checkpoint(v.df
      .join(broadcast(s.df.select(col("id"), lit(1.0 / s.rows).as("w"))), Seq("id"), "left")
      .select(col("id"), coalesce(col("w"), lit(0.0)).as("w"))).df
    powerIterate(eAug, sVec, iters, damping)
      .select(col("id"), round(col("r"), 6).as("ppr"))
      .filter(col("ppr") > 0)
  }

  /** DuckDB SQL for the identical fixed-iteration PPR; `edgeCte` is a
    * CTE named e (src, dst, deduplicated, self-loop-free) and
    * `seedCte` a CTE named sd with column id. Unrolled from the same
    * (iters, damping) so query and oracle cannot drift; MATERIALIZED
    * per the [[pageRankSqlDuck]] inlining lesson.
    */
  def pprSqlDuck(edgeCte: String, seedCte: String, iters: Int = 3,
                 damping: Double = 0.85): String = {
    val d = damping
    val base =
      s"""$edgeCte,
         |$seedCte,
         |v AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |od AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |ns AS MATERIALIZED (SELECT count(*) AS n FROM sd),
         |sv AS MATERIALIZED (SELECT v.id,
         |        CASE WHEN sd.id IS NULL THEN 0.0 ELSE 1.0 / (SELECT n FROM ns) END AS w
         |      FROM v LEFT JOIN sd ON sd.id = v.id),
         |r0 AS MATERIALIZED (SELECT id, w AS r FROM sv)""".stripMargin
    val rounds = (1 to iters).map { k =>
      val p = s"r${k - 1}"
      s"""r$k AS MATERIALIZED (
         |  SELECT sv.id, (1 - $d) * sv.w + $d * (COALESCE(c.m, 0) +
         |    (SELECT COALESCE(sum(p.r), 0) FROM $p p LEFT JOIN od ON od.src = p.id
         |     WHERE od.src IS NULL) * sv.w) AS r
         |  FROM sv LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.r / od.deg) AS m
         |    FROM $p p JOIN e ON e.src = p.id JOIN od ON od.src = p.id
         |    GROUP BY e.dst) c ON c.id = sv.id)""".stripMargin
    }
    (base +: rounds).mkString("WITH ", ",\n", "") +
      s"\nSELECT id, round(r, 6) AS ppr FROM r$iters WHERE round(r, 6) > 0"
  }

  /** k-core decomposition peel, fixed rounds: repeatedly delete
    * vertices of degree < k until the k-core (the maximal induced
    * subgraph where every vertex keeps ≥ k neighbors) remains. The
    * standard graph-density gate — a minimum-degree constraint that
    * survives deletion cascades, where a plain degree filter does not
    * (dropping a low-degree vertex can push its neighbors below k).
    * On a dedup-pair graph the 2-core separates genuinely clustered
    * duplicates from pendant chains of borderline pairs; on a citation
    * or interaction graph the k-core is the classic dense-nucleus
    * extractor (Seidman 1983).
    *
    * Returns (id, deg): the surviving vertices and their degree within
    * the final induced subgraph (all ≥ k once converged — peeling is
    * monotone, so a no-op round is a fixpoint; the paired oracle runs
    * the IDENTICAL fixed `rounds`, so query and oracle agree even on
    * an unconverged prefix, and the spec checks convergence on real
    * data).
    *
    * Scale shape — DELTA peeling, the textbook incremental form: the
    * canonical undirected edge table (one `(min,max)` row per edge)
    * materializes ONCE; each round touches only the NEIGHBORS of the
    * vertices peeled that round. Degree is maintained incrementally
    * (deg_{r+1}(v) = deg_r(v) − |N(v) ∩ removed_r| — exactly the
    * induced-subgraph degree, so the fixed-round unrolled semantics
    * are preserved bit-for-bit), the per-round joins stream the edge
    * asset against the tiny removed set, and the vertex-grain degree
    * frame (V rows, not E) is the only per-round checkpoint. An empty
    * peel short-circuits the remaining rounds (a no-op round is a
    * fixpoint). The previous formulation re-aggregated the FULL 2|E|
    * symmetrized table every round and leaked its checkpoint into the
    * returned lazy plan — measured 4–21 s (bimodal, block-manager
    * churn) at sf1 vs a stable ~2 s for this form; here the result is
    * eagerly materialized, so the edge asset's blocks are dropped
    * before returning.
    */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int, rounds: Int): DataFrame = {
    val e0 = edges.select(col(src).as("u"), col(dst).as("v")).filter(col("u") =!= col("v"))
    val p = edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // one row per undirected edge: reversed duplicates collapse here.
    // The explicit repartition pins the checkpointed asset's partition
    // count: AQE otherwise coalesces the distinct's output by BYTES
    // (a 7.8M-row edge table is ~125 MB -> 2 partitions at the 64 MB
    // advisory), and every per-round scan of the asset would then run
    // on 2 tasks whatever the cluster width (measured as 2-12 s
    // bimodal round times at sf3 before the pin).
    val c = Rounds.checkpoint(
      e0.select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
        .distinct().repartition(p, col("a"))).df
    val deg0 = c.select(col("a").as("id")).unionByName(c.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // each state's checkpoint observes its peel size, so an empty peel
    // is known without a job of its own
    val peel = count(when(col("deg") < k, true)).as("peel")
    val init = Rounds.checkpoint(deg0, peel)
    val (deg, _) = Rounds.iterate(init, if (init.seen.getLong(1) == 0) 0 else rounds, peel) { deg =>
      // neighbors of this round's peel lose one per incident removed
      // edge; the removed side is V-grain tiny, so it broadcasts and
      // the edge asset never re-shuffles
      val removed = deg.filter(col("deg") < k).select("id")
      val lossA = c.join(removed.select(col("id").as("b")), "b")
        .groupBy(col("a").as("id")).agg(count(lit(1)).as("l"))
      val lossB = c.join(removed.select(col("id").as("a")), "a")
        .groupBy(col("b").as("id")).agg(count(lit(1)).as("l"))
      val loss = lossA.unionByName(lossB).groupBy("id").agg(sum(col("l")).as("loss"))
      deg.filter(col("deg") >= k)
        .join(loss, Seq("id"), "left")
        .select(col("id"), (col("deg") - coalesce(col("loss"), lit(0L))).as("deg"))
    }((_, next) => next.getLong(1) == 0)
    Rounds.release(c)
    // a survivor with zero induced edges has no row in the
    // edge-aggregated formulation (or the unrolled oracle) — keep
    // the surfaces identical
    deg.df.filter(col("deg") > 0)
  }

  /** DuckDB SQL for the identical fixed-round k-core peel over
    * `edgeCte` (a CTE named e with columns u, v, directed,
    * self-loop-free) — unrolled from the same (k, rounds) so query
    * and oracle cannot drift.
    */
  def kCoreSqlDuck(edgeCte: String, k: Int, rounds: Int): String = {
    val base =
      s"""$edgeCte,
         |sym AS MATERIALIZED (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
         |a0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM sym)""".stripMargin
    val peels = (1 to rounds).map { r =>
      val p = s"a${r - 1}"
      s"""a$r AS MATERIALIZED (
         |  SELECT s.u AS id FROM sym s
         |  JOIN $p x ON x.id = s.u JOIN $p y ON y.id = s.v
         |  GROUP BY s.u HAVING count(*) >= $k)""".stripMargin
    }
    (base +: peels).mkString("WITH ", ",\n", "") +
      s"""
         |SELECT s.u AS id, count(*) AS deg FROM sym s
         |JOIN a$rounds x ON x.id = s.u JOIN a$rounds y ON y.id = s.v
         |GROUP BY s.u""".stripMargin
  }

  /** k-truss decomposition, fixed peel rounds (Cohen 2008): keep the
    * edges that sit in at least k−2 triangles of the surviving
    * subgraph — the EDGE-grain cohesion mine that separates genuine
    * communities from the hub-dominated k-core (a star center has
    * high degree but its spokes sit in no triangle, so a truss drops
    * them). Output: surviving canonical edges with their support in
    * the final subgraph.
    *
    * Scale shape per round: triangle enumeration exactly as
    * [[triangleCount]] (wedges through each triangle's lowest vertex,
    * Σ deg²-bounded, only id pairs move), a 3-way explode of triangle
    * rows back to their edges, one (u,v) count agg, one peel join.
    * The canonical edge set is checkpointed per round and the
    * previous round's blocks released, like [[kCore]]; fixed rounds,
    * never data-dependent driver loops.
    */
  def kTruss(edges: DataFrame, src: String, dst: String, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    def supportOf(e: DataFrame): DataFrame = {
      val tri = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("ta"), col("e1.b").as("tb"), col("e2.b").as("tc"))
        .join(e.as("e3"), col("ta") === col("e3.a") && col("tc") === col("e3.b"))
        .select("ta", "tb", "tc")
      tri.select(explode(array(
          struct(col("ta").as("u"), col("tb").as("v")),
          struct(col("tb").as("u"), col("tc").as("v")),
          struct(col("ta").as("u"), col("tc").as("v")))).as("ed"))
        .groupBy(col("ed.u").as("u"), col("ed.v").as("v"))
        .agg(count(lit(1)).as("support"))
    }
    val init = Rounds.checkpoint(edges
      .select(least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val cur = Rounds.iterate(init, rounds) { cur =>
      val s = supportOf(cur)
      // inner join: an edge in no triangle has no support row and is
      // peeled (0 < k-2 always here) — identical semantics to the
      // oracle's JOIN.
      cur.join(s, cur("a") === s("u") && cur("b") === s("v"))
        .filter(col("support") >= k - 2)
        .select(col("a"), col("b"))
    }()._1.df
    val fin = supportOf(cur)
    cur.join(fin, cur("a") === fin("u") && cur("b") === fin("v"), "left")
      .select(col("a").as("u"), col("b").as("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** DuckDB SQL for the identical fixed-round k-truss peel over
    * `edgeCte` (CTE chain ending in e0: canonical a<b, self-loop-free,
    * distinct edges) — unrolled from the same (k, rounds) so query and
    * oracle cannot drift.
    */
  def kTrussSqlDuck(edgeCte: String, k: Int, rounds: Int): String = {
    def triSql(src: String, tri: String, sup: String): String =
      s"""$tri AS MATERIALIZED (
         |  SELECT x.a AS ta, x.b AS tb, y.b AS tc FROM $src x
         |  JOIN $src y ON y.a = x.b JOIN $src z ON z.a = x.a AND z.b = y.b),
         |$sup AS (SELECT u, v, count(*) AS sup FROM (
         |    SELECT ta AS u, tb AS v FROM $tri
         |    UNION ALL SELECT tb AS u, tc AS v FROM $tri
         |    UNION ALL SELECT ta AS u, tc AS v FROM $tri) t GROUP BY u, v)""".stripMargin
    val peels = (1 to rounds).map { r =>
      triSql(s"e${r - 1}", s"tr$r", s"s$r") + s""",
         |e$r AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${r - 1} e JOIN s$r s ON s.u = e.a AND s.v = e.b
         |  WHERE s.sup >= ${k - 2})""".stripMargin
    }
    val fin = triSql(s"e$rounds", "trF", "sF")
    ((edgeCte +: peels) :+ fin).mkString("WITH ", ",\n", "") +
      s"""
         |SELECT e.a AS u, e.b AS v, CAST(coalesce(sF.sup, 0) AS BIGINT) AS support
         |FROM e$rounds e LEFT JOIN sF ON sF.u = e.a AND sF.v = e.b""".stripMargin
  }

  /** Triangle count of an undirected graph — the local-clustering
    * signal (spam/link-farm detection in a link graph, community
    * density in a co-occurrence graph). Standard distributed
    * enumeration: canonicalize edges a<b, build wedges by joining
    * edges on the middle vertex (a<b<c so each triangle is built
    * exactly once), close them against the edge set. Two equi-joins;
    * wedge count is Σ deg²-bounded, so degree-skewed graphs want the
    * high-degree vertices handled last (the a<b<c orientation already
    * sends each triangle through its LOWEST vertex, the standard
    * skew mitigation). Returns one row: (n_vertices, n_edges,
    * n_triangles).
    */
  def triangleCount(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = canonicalEdges(edges, src, dst)
    val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("wa"), col("e1.b").as("wb"), col("e2.b").as("wc"))
    val tri = wedges.join(e.as("e3"),
      col("wa") === col("e3.a") && col("wc") === col("e3.b"))
    val verts = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v"))).distinct()
    tri.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(verts.agg(count(lit(1)).as("n_vertices"))))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_vertices"), col("n_edges"), col("n_triangles"))
  }

  /** Large-star: for every vertex u, link each strictly-larger
    * neighbor to the minimum of u's closed neighborhood. Keeps large
    * components shrinking toward their minimum in O(log n) rounds.
    * One shuffle: a window minimum over u. Edges may repeat; the
    * round's one `distinct` ends the [[smallStar]] that follows.
    */
  private[operators] def largeStar(e: DataFrame): DataFrame =
    bothWays(e, col("u"), col("v"))
      .withColumn("m", least(min(col("v")).over(Window.partitionBy("u")), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))

  /** Per-vertex local clustering coefficient (Watts & Strogatz 1998):
    * coef(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2.
    *
    * Same skew-mitigated shape as [[triangleCount]] — canonical a<b<c
    * wedge join over lowest-vertex-oriented edges, id-only rows — but
    * each found triangle is exploded back to its three corners so the
    * per-vertex count falls out of one groupBy. Degrees come from the
    * symmetrized edge list; vertices on no triangle survive via the
    * left join with tri = 0.
    */
  def localClustering(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = canonicalEdges(edges, src, dst)
    val deg = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("wa"), col("e1.b").as("wb"), col("e2.b").as("wc"))
    val tri = wedges.join(e.as("e3"),
      col("wa") === col("e3.a") && col("wc") === col("e3.b"))
      .select(explode(array(col("wa"), col("wb"), col("wc"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("tri"))
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("v"), "left")
      .select(col("v"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"),
        (coalesce(col("tri"), lit(0L)) * 2).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double") as "coef")
  }

  /** BFS levels (shortest hop distance) from a seed vertex set,
    * bounded at `maxDepth`: the frontier-expansion form — each round
    * joins the current frontier to the (symmetrized) edge list and
    * anti-joins the visited set, so only (id, dist) pairs ever move
    * and each vertex is expanded exactly once. Equivalent to a SQL
    * `WITH RECURSIVE` reachability query (the oracle runs exactly
    * that in DuckDB); at cluster scale each round is one shuffle of
    * frontier-adjacent ids — the iteration-count bound is the graph
    * diameter cap, not the corpus size. The frontier carries its level
    * and the next one is `dist + 1`, not a per-level literal, so levels
    * of one plan shape share their generated code; all frontier rows
    * share one dist, so the distinct and the anti-join see the same ids.
    * The seed level is a projection over the checkpointed ids, so level
    * 1's frontier and visited set broadcast the same ids and AQE reuses
    * that exchange. The first empty level, whose count its checkpoint
    * has observed, ends the search.
    */
  def bfsLevels(edges: DataFrame, src: String, dst: String,
                seed: DataFrame, maxDepth: Int): DataFrame = {
    val sym = Rounds.checkpoint(bothWays(edges, col(src), col(dst))
      .filter(col("u") =!= col("v")).distinct()).df
    // One checkpoint per level, all kept: the visited set is the union
    // of the levels so far, and the result is the union of them all.
    val seedLevel = Rounds.checkpoint(seed.select("id"))
    var levels = Vector(seedLevel.copy(df = seedLevel.df.withColumn("dist", lit(0))))
    while (levels.size <= maxDepth && levels.last.rows > 0) {
      val frontier = levels.last.df
      levels :+= Rounds.checkpoint(frontier.join(sym, frontier("id") === sym("u"))
        .select(col("v").as("id"), (col("dist") + 1).as("dist")).distinct()
        .join(levels.map(_.df).reduce(_ unionByName _), Seq("id"), "left_anti"))
    }
    Rounds.release(sym)
    levels.map(_.df).reduce(_ unionByName _)
  }

  /** Weighted single-source shortest paths, fixed Bellman-Ford rounds
    * (Bellman 1958): after k rounds every distance using ≤ k edges is
    * final — the hop cap is the declared semantic (like [[bfsLevels]]'
    * depth cap), not an approximation knob left implicit. Integer
    * weights keep every distance exact and engine-portable.
    *
    * Shape: per round, one join of the current (id, dist) table
    * against the symmetrized edge list and one min-aggregate — id/dist
    * pairs only, payloads never move; the frontier table is
    * node-bounded regardless of path multiplicity (the aggregate
    * collapses per round, unlike a recursive-CTE oracle whose
    * intermediate path set can blow up). localCheckpoint per round
    * truncates the lineage so round k's plan does not replay rounds
    * 1..k-1.
    */
  def bellmanFord(edges: DataFrame, src: String, dst: String, w: String,
                  seed: DataFrame, rounds: Int): DataFrame = {
    val sym = Rounds.checkpoint(bothWays(edges, col(src), col(dst), col(w).as("w"))
      .filter(col("u") =!= col("v")).distinct()).df
    val init = Rounds.checkpoint(seed.select(col("id"), lit(0L).as("dist_w")))
    val dist = Rounds.iterate(init, rounds) { dist =>
      val relaxed = dist.join(sym, dist("id") === sym("u"))
        .select(col("v").as("id"), (col("dist_w") + col("w")).as("dist_w"))
      dist.unionByName(relaxed).groupBy("id").agg(min("dist_w").as("dist_w"))
    }()._1.df
    Rounds.release(sym)
    dist
  }

  /** Degree histogram of an undirected graph: (degree, node count) —
    * the first graph-health profile (power-law check feeds the Hill
    * estimator on the degree column). Symmetrize, per-vertex count,
    * then a degree-keyed aggregate; ids never leave their aggregates.
    */
  def degreeHistogram(edges: DataFrame, src: String, dst: String): DataFrame = {
    val sym = bothWays(edges, col(src), col(dst)).filter(col("u") =!= col("v")).distinct()
    sym.groupBy("u").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"),
        min("u").as("min_id"), max("u").as("max_id"))
  }

  /** Link prediction by common-neighbor counting (Liben-Nowell &
    * Kleinberg 2003): for every NON-adjacent pair sharing at least
    * `minCommon` neighbors, the common-neighbor count plus the
    * preferential-attachment score deg(a)·deg(b) (Barabási) — both
    * integer-exact, so the ranking is engine-portable (Adamic-Adar's
    * Σ 1/log deg(z) is the same wedge shape but an order-sensitive
    * irrational sum; the integer scores are the hash-matchable core).
    *
    * Shape: one wedge self-join through the shared neighbor z over
    * lowest-vertex-canonical edges — the [[triangleCount]] skew
    * posture — then an anti-join drops pairs that are already edges.
    * Candidate volume is Σ_z deg(z)², bounded by the degree profile,
    * not |V|²; `minCommon` is the output-volume knob at scale.
    */
  def linkPrediction(edges: DataFrame, src: String, dst: String,
                     minCommon: Long): DataFrame = {
    val e = canonicalEdges(edges, src, dst)
    val (sym, deg) = symmetricDegrees(e)
    // wedge through z: (u, z), (z, w) with u < w — each common
    // neighbor contributes once per unordered candidate pair
    val cand = sym.as("l").join(sym.as("r"),
      col("l.b") === col("r.a") && col("l.a") < col("r.b"))
      .groupBy(col("l.a").as("pa"), col("r.b").as("pb"))
      .agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
    cand.join(e, cand("pa") === e("a") && cand("pb") === e("b"), "left_anti")
      .join(deg.withColumnRenamed("deg", "deg_a"), col("pa") === col("v")).drop("v")
      .join(deg.withColumnRenamed("deg", "deg_b"), col("pb") === col("v")).drop("v")
      .select(col("pa"), col("pb"), col("cn"),
        (col("deg_a") * col("deg_b")).as("pref_attach"))
  }

  /** Adamic-Adar link scoring (Adamic & Adar 2003): for non-adjacent
    * candidate pairs, Σ_z 1/ln(deg z) over common neighbors z — the
    * rare-shared-neighbor refinement of [[linkPrediction]]'s raw count.
    *
    * Engine-portable despite the irrational terms: the wedge join
    * first collapses to INTEGER counts per (pair, deg z) — the float
    * sum then runs over the handful of distinct degree values a pair's
    * neighbors span, not per wedge, and a 4dp round absorbs the
    * ordering slack (the KL/perplexity-family convention). Every
    * common neighbor is adjacent to both endpoints, so deg z ≥ 2 and
    * ln(deg z) is never 0. Same Σ deg² wedge bound and `minCommon`
    * output knob as linkPrediction.
    */
  def adamicAdar(edges: DataFrame, src: String, dst: String,
                 minCommon: Long): DataFrame = {
    val e = canonicalEdges(edges, src, dst)
    val (sym, deg) = symmetricDegrees(e)
    val hub = sym.join(deg, col("b") === col("v")).drop("v")
      .select(col("a"), col("b"), col("deg").as("deg_z"))
    // wedges through z = l.b, carrying deg z; collapse to integer
    // counts at (pair, deg_z) grain BEFORE any float enters
    val byDeg = hub.as("l").join(sym.as("r"),
        col("l.b") === col("r.a") && col("l.a") < col("r.b"))
      .groupBy(col("l.a").as("pa"), col("r.b").as("pb"), col("l.deg_z").as("dz"))
      .agg(count(lit(1)).as("c"))
    val cand = byDeg.groupBy("pa", "pb")
      .agg(sum(col("c")).as("cn"),
        round(sum(col("c").cast("double") / log(col("dz").cast("double"))), 4)
          .as("adamic_adar"))
      .filter(col("cn") >= minCommon)
    cand.join(e, cand("pa") === e("a") && cand("pb") === e("b"), "left_anti")
      .select(col("pa"), col("pb"), col("cn"), col("adamic_adar"))
  }

  /** Neighborhood Jaccard node similarity: |N(a)∩N(b)| / |N(a)∪N(b)|
    * for candidate pairs with ≥ `minCommon` common neighbors — the
    * set-overlap member of the [[linkPrediction]] / [[adamicAdar]]
    * family (includes ADJACENT pairs, flagged, since neighborhood
    * similarity is meaningful for existing edges too).
    *
    * Engine-exact: cn and degrees are integers, the union is
    * deg_a + deg_b − cn by inclusion-exclusion, and the score is ONE
    * IEEE division — bit-identical across engines, no rounding
    * needed. Same Σ deg² wedge bound as the siblings.
    */
  def neighborhoodJaccard(edges: DataFrame, src: String, dst: String,
                          minCommon: Long): DataFrame = {
    val e = canonicalEdges(edges, src, dst)
    val (sym, deg) = symmetricDegrees(e)
    val cand = sym.as("l").join(sym.as("r"),
        col("l.b") === col("r.a") && col("l.a") < col("r.b"))
      .groupBy(col("l.a").as("pa"), col("r.b").as("pb"))
      .agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
    val eFlag = e.select(col("a").as("ea"), col("b").as("eb"))
    cand
      .join(eFlag, col("pa") === col("ea") && col("pb") === col("eb"), "left")
      .withColumn("is_edge", col("ea").isNotNull).drop("ea", "eb")
      .join(deg.withColumnRenamed("deg", "deg_a"), col("pa") === col("v")).drop("v")
      .join(deg.withColumnRenamed("deg", "deg_b"), col("pb") === col("v")).drop("v")
      .select(col("pa"), col("pb"), col("cn"), col("is_edge"),
        (col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double")).as("jaccard"))
  }

  /** HITS hubs and authorities (Kleinberg 1999) — `rounds` mutual-
    * reinforcement rounds h ← A·a, a ← Aᵀ·h over a DIRECTED edge set,
    * normalized ONCE at the end (the iteration is scale-free, so
    * per-round normalization only rescales; skipping it keeps every
    * intermediate score an INTEGER walk count — hᵣ(u) counts length-
    * (2r−1) alternating walks from u — making the recursion
    * engine-exact where a float power iteration would drift).
    * DECIMAL(38,0) ≡ HUGEINT absorbs the growth; the two final
    * hub/authority shares are single IEEE divisions by the broadcast
    * totals.
    *
    * Scale shape: per round two edge⋈score joins + aggregations —
    * edge-volume-bounded like [[pageRank]], never all-pairs; scores
    * stay sparse (only nodes reachable at that depth carry rows) and
    * the output rejoins the node set with zero-fill.
    */
  def hits(edges: DataFrame, src: String, dst: String, rounds: Int): DataFrame = {
    val d38 = "decimal(38,0)"
    // one unkeyed checkpoint: per-key pre-partitioned copies were
    // measured WORSE (18.1 s vs 10.4 s at sf3 — localCheckpoint does
    // not preserve hash partitioning for the round joins, so the two
    // extra materializations bought nothing)
    val e = Rounds.checkpoint(edges
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .distinct()).df
    val nodes = e.select(col("u").as("id")).unionByName(e.select(col("v").as("id")))
      .distinct()
    // round 1 with a₀ ≡ 1 folds to the out-degree — one agg, no join.
    // SHUFFLE_HASH on every node-grain score side: at sf3 its stats
    // sit just under the auto-broadcast threshold and the measured
    // per-round ~30 MB broadcast build LOSES to a shuffle-hash join
    // (q_hits 12.2 s default vs 9.6 s suppressed, quiet A/B); at
    // cluster scale the score table only grows, so suppressing the
    // broadcast is also the safe plan.
    var h = e.groupBy(col("u").as("id")).agg(count(lit(1)).cast(d38).as("h"))
    var a = e.join(h.select(col("id").as("u"), col("h")).hint("shuffle_hash"), Seq("u"))
      .groupBy(col("v").as("id")).agg(sum("h").cast(d38).as("a"))
    for (_ <- 2 to rounds) {
      h = e.join(a.select(col("id").as("v"), col("a")).hint("shuffle_hash"), Seq("v"))
        .groupBy(col("u").as("id")).agg(sum("a").cast(d38).as("h"))
      a = e.join(h.select(col("id").as("u"), col("h")).hint("shuffle_hash"), Seq("u"))
        .groupBy(col("v").as("id")).agg(sum("h").cast(d38).as("a"))
    }
    // Fail-fast overflow guard: with ANSI off, DECIMAL(38,0)→long
    // overflow yields silent NULLs (the DuckDB oracle's HUGEINT→BIGINT
    // cast would error instead). Walk counts grow ~deg^(2·rounds)·|E|,
    // so large `rounds` on a dense graph realistically passes 2^63.
    // Every per-node count is nonnegative and bounded by its total, so
    // ONE check inside the one-row broadcast totals frame covers all
    // rows — evaluated once at broadcast build, zero per-row cost.
    val maxL = lit(Long.MaxValue).cast(d38)
    val totals = h.agg(sum("h").as("th")).crossJoin(a.agg(sum("a").as("ta")))
      .select(col("th"), col("ta"),
        assert_true(col("th") <= maxL && col("ta") <= maxL,
          lit("hits(): integer walk counts exceed int64 — counts grow " +
            "~deg^(2*rounds)*|E|; reduce rounds")).as("__fit"))
      // the filter is what keeps the assert alive through column
      // pruning (an unused projection is optimized away); it references
      // only build-side columns, so it is pushed to the ONE-ROW totals
      // frame and never costs per output row
      .filter(col("__fit").isNull)
      .drop("__fit")
    nodes
      // SHUFFLE_HASH on the assembly too: h and a are node-grain,
      // data-scaled score tables whose RUNTIME stats sit under the
      // auto-broadcast threshold at mid scale, so AQE flips these
      // sort-merge joins into two ~30 MB broadcast builds (measured
      // 10.1 s vs 4.4 s with the flip suppressed, quiet interleaved
      // A/B at sf1) — the same pathology the round joins already pin.
      .join(h.hint("shuffle_hash"), Seq("id"), "left")
      .join(a.hint("shuffle_hash"), Seq("id"), "left")
      .crossJoin(broadcast(totals))
      .select(col("id"),
        // BIGINT on the output surface (accumulation stays DECIMAL(38,0)
        // for headroom): at rounds=2 the walk counts fit comfortably, and
        // the driver's hash is type-sensitive — the DuckDB oracle casts
        // its HUGEINT sums to BIGINT, so this side must match.
        coalesce(col("h"), lit(0).cast(d38)).cast("long").as("hub_raw"),
        coalesce(col("a"), lit(0).cast(d38)).cast("long").as("auth_raw"),
        (coalesce(col("h"), lit(0).cast(d38)).cast("double") /
          col("th").cast("double")).as("hub_score"),
        (coalesce(col("a"), lit(0).cast(d38)).cast("double") /
          col("ta").cast("double")).as("auth_score"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the symmetrized edge list — positive when
    * hubs attach to hubs, negative for hub-and-spoke graphs. Exact
    * through [[Stats.pearson]]'s integer sufficient statistics (edge
    * count, degree sums/products in DECIMAL(38,0)); shape is two
    * degree joins on the edge list, so cost is edge-bounded.
    */
  def assortativity(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = canonicalEdges(edges, src, dst)
    val (sym, deg) = symmetricDegrees(e)
    val pairs = sym
      .join(deg.withColumnRenamed("deg", "deg_u"), col("a") === col("v")).drop("v")
      .join(deg.withColumnRenamed("deg", "deg_v"), col("b") === col("v")).drop("v")
      .select(lit("g").as("g"), col("deg_u"), col("deg_v"))
    Stats.pearson(pairs, "g", col("deg_u"), col("deg_v"))
      .select(col("n").as("n_directed_edges"),
        col("pearson_r").as("assortativity"))
  }

  /** Katz centrality (Katz 1953) as EXACT attenuated path counts over
    * the symmetrized simple graph: with α = 1/8 and 3 terms,
    * 512·Σₖ αᵏ·cₖ(v) = 64·c₁ + 8·c₂ + c₃ where cₖ(v) is the number of
    * length-k walks ending at v — so the whole statistic stays in long
    * integers (no float fixpoint, no convergence question, and the
    * oracle is three unrolled joins).
    *
    * Scale shape: edges dedupe once and are the only corpus-sized
    * table; each of the two propagation rounds is one join + one
    * node-grain aggregate (counts move, never neighbor lists).
    */
  def katzPaths(edges: DataFrame, src: String, dst: String,
                prepared: Boolean = false): DataFrame = {
    // Materialize the deduped symmetric edge set ONCE (it feeds c1 and
    // both propagation joins — left lazy, the whole union+distinct
    // lineage re-executes per consumer and the sf3 ladder measured the
    // recomputation as a 6.9x step), partitioned on src so both
    // propagation joins reuse the same exchange. The cₖ frames are
    // node-grain; checkpointing them keeps each round's DAG one join
    // deep, the pageRank discipline. prepared = true: the caller
    // passes an already-SYMMETRIZED distinct src-partitioned asset
    // (e.g. [[GraphAssets.supplierPartSym]]) — skip the build.
    val e =
      if (prepared) edges.select(col(src).as("src"), col(dst).as("dst"))
      else Rounds.checkpoint(bothWays(edges, col(src).cast("long"), col(dst).cast("long"))
        .select(col("u").as("src"), col("v").as("dst"))
        .distinct()
        .repartition(col("src"))).df
    val c1 = Rounds.checkpoint(e.groupBy("dst").agg(count(lit(1)).as("c1"))
      .withColumnRenamed("dst", "id")).df
    // SHUFFLE_HASH on the node-grain side: its stats sit just under
    // the 32 MiB auto-broadcast threshold at sf3, and the measured
    // auto-broadcast plan (serialize + build a ~30 MB hash relation
    // per round) LOSES to a shuffle-hash join that reuses e's existing
    // src partitioning — sensitivity-sweep numbers: q_katz 14.7 s
    // default vs 9.3 s with the broadcast suppressed. At cluster scale
    // the node table only grows, so the hint is also the safe plan.
    def step(prev: DataFrame, prevC: String, cn: String): DataFrame =
      Rounds.checkpoint(e.join(prev.withColumnRenamed("id", "src").hint("shuffle_hash"), "src")
        .groupBy("dst").agg(sum(prevC).as(cn))
        .withColumnRenamed("dst", "id")).df
    val c2 = step(c1, "c1", "c2")
    val c3 = step(c2, "c2", "c3")
    Rounds.release(e)
    c1.join(c2.hint("shuffle_hash"), Seq("id"), "left")
      .join(c3.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), col("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"),
        coalesce(col("c3"), lit(0L)).as("c3"))
      .withColumn("katz512", col("c1") * 64 + col("c2") * 8 + col("c3"))
  }

  /** Small-star: orient each edge high→low, then link every smaller
    * neighbor (and u itself) to the minimum seen: a window minimum
    * over u, then the round's `distinct`, two shuffles in all.
    */
  private[operators] def smallStar(e: DataFrame): DataFrame =
    e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .withColumn("m", min(col("v")).over(Window.partitionBy("u")))
      .select(explode(array(
        struct(col("v").as("u"), col("m").as("v")),
        struct(col("u"), col("m").as("v")))).as("e"))
      .select("e.*")
      .filter(col("u") =!= col("v"))
      .distinct()
}
