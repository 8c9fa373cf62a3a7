package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.{Hilbert2, ZOrder2}

/** Physical data layout for 100 TB scans and training-output fan-out:
  * Z-order multi-dimensional clustering (write-side data skipping) and
  * deterministic shard assignment (the final "shuffle and shard the
  * mix" step of a training-data build).
  *
  * Reference analog: rialto keeps its tables small enough to index in
  * Postgres; at lake scale the same "find my slice fast" need is met
  * by file layout — min-max pruning against parquet footers — which
  * only works if the writer clustered the data. These operators are
  * that writer.
  */
object Layout {

  /** Equal-width integer normalization of `c` into [0, 2^bits) given
    * the column's max — integer-exact ((x * 2^bits) div (max+1)), so
    * any engine reproduces the scaled key.
    */
  private def scaleTo(c: Column, maxC: Column, bits: Int): Column =
    // Long / long is double division in the Column API; the truncating
    // cast is exact floor here (operands are far below 2^53, and the
    // true quotient can't sit within a double ulp of an integer
    // without being one), so this matches the oracle's integer `//`.
    ((c.cast("long") * (1L << bits)) / (maxC.cast("long") + 1L)).cast("long")

  /** `df` plus `out` = `curve` of (xCol, yCol), both keys normalized
    * to `bits` by their own max (computed in one tiny agg and
    * broadcast — the corpus is not shuffled for it).
    */
  private def withCurve(df: DataFrame, xCol: String, yCol: String, bits: Int, out: String)(
      curve: (Column, Column, Int) => Column): DataFrame = {
    val m = df.agg(max(col(xCol)).as("__xm"), max(col(yCol)).as("__ym"))
    df.crossJoin(broadcast(m))
      .withColumn(out, curve(
        scaleTo(col(xCol), col("__xm"), bits),
        scaleTo(col(yCol), col("__ym"), bits), bits))
      .drop("__xm", "__ym")
  }

  /** Attach the z-value of (xCol, yCol) as `z`, both keys normalized
    * to `bits` by their own max.
    */
  def withZ(df: DataFrame, xCol: String, yCol: String, bits: Int): DataFrame =
    withCurve(df, xCol, yCol, bits, "z")(ZOrder2(_, _, _))

  /** Z-order clustered layout: range-partition on z (sampled bounds,
    * one exchange) and sort within partitions — the shape to write
    * parquet in so row-group/file min-max stats bound BOTH keys per
    * file and selective scans on either key prune. `numFiles` is the
    * target file count (at 100 TB: total size / desired file size).
    */
  def zorderLayout(df: DataFrame, xCol: String, yCol: String, bits: Int, numFiles: Int): DataFrame =
    withZ(df, xCol, yCol, bits)
      .repartitionByRange(numFiles, col("z"))
      .sortWithinPartitions("z")

  /** Attach the Hilbert-curve index of (xCol, yCol) as `h` — same
    * normalization contract as [[withZ]], better locality: the curve
    * never jumps, so equal-size runs of rows cover tighter bounding
    * boxes than the Morton interleave and min-max pruning discards
    * more files (see plans.Hilbert2).
    */
  def withH(df: DataFrame, xCol: String, yCol: String, bits: Int): DataFrame =
    withCurve(df, xCol, yCol, bits, "h")(Hilbert2(_, _, _))

  /** Deterministic shard id in [0, nShards): md5 of (id ":" seed) —
    * the house engine-portable hash (Sampling.md5Bucket, conv ↔
    * DuckDB '0x'||substr cast). Rows never migrate between shards as
    * the corpus grows (assignment depends only on the id), and a
    * re-run or a retry lands every row in the same shard — the two
    * properties a training-output writer needs for reproducible
    * epochs.
    */
  def shardId(id: Column, nShards: Int, seed: Long = 11L): Column =
    pmod(conv(substring(md5(concat(id.cast("string"), lit(":" + seed))), 1, 8), 16, 10)
      .cast("long"), lit(nShards.toLong))

  /** Per-shard balance report: doc count, token total, source spread,
    * and each shard's token share of a perfectly even split
    * (share ≈ 1.0 everywhere is what the md5 assignment buys — no
    * planner, no rebalancing pass). One groupBy on the shard id; the
    * grand total joins back from a one-row broadcast agg.
    */
  def shardBalance(docs: DataFrame, idCol: String, tokensCol: Column,
      sourceCol: String, nShards: Int, seed: Long = 11L): DataFrame = {
    val perShard = docs
      .select(shardId(col(idCol), nShards, seed).as("shard"),
        tokensCol.as("__tok"), col(sourceCol).as("__src"))
      .groupBy("shard")
      .agg(count(lit(1)).as("docs"),
        sum(col("__tok")).as("tokens"),
        countDistinct(col("__src")).as("sources"))
    val total = perShard.agg(sum(col("tokens")).as("__t"))
    perShard.crossJoin(broadcast(total))
      .select(col("shard"), col("docs"), col("tokens"), col("sources"),
        round(col("tokens") * nShards.toLong / col("__t"), 4).as("even_share"))
  }

  /** DuckDB twin of [[shardId]]. */
  def shardSqlDuck(idExpr: String, nShards: Int, seed: Long = 11L): String =
    s"(('0x' || substr(md5($idExpr || ':$seed'), 1, 8))::BIGINT % $nShards)"

  /** 2-D range (point-in-box) join via space-filling-curve cell cover
    * — the spatial-join shape Spark has no native operator for (the
    * technique under Sedona/GeoMesa-style indexing, here composed
    * from ZOrder2 + a broadcast hash join instead of a custom
    * physical op).
    *
    * Both coordinates normalize to a 2^level × 2^level grid by their
    * max (same integer arithmetic as [[withZ]], so any engine
    * reproduces the cells). Each box explodes into the grid cells its
    * rectangle overlaps (its cover — boxes × overlapped-cells rows,
    * tiny for any realistic box list); each point computes its single
    * cell. The join is then a broadcast HASH join on the cell id —
    * every point probes a hash table once instead of testing every
    * box (the broadcast nested-loop a plain conjunctive range join
    * degenerates to) — followed by the exact bounds filter, which
    * keeps the composition EXACT: the cover over-approximates, never
    * misses.
    *
    * Scale shape: points are never shuffled (map-side probe + exact
    * filter); output is the matched pairs. `level` trades cover size
    * against candidate selectivity — 2^level cells per axis, cover
    * rows ≈ boxes × (box area / cell area); pick level so a cell is
    * no larger than a typical box edge.
    */
  def zCellRangeJoin(points: DataFrame, pxCol: String, pyCol: String,
      boxes: DataFrame, level: Int): DataFrame = {
    val cells = 1L << level
    val m = points.agg(max(col(pxCol)).as("__xm"), max(col(pyCol)).as("__ym"))
    def cellOf(c: Column, maxC: Column): Column = scaleTo(c, maxC, level)
    // Box cover: every (cx, cy) cell the rectangle intersects. Bounds
    // clamp to the grid (a box edge past the max still covers the
    // last cell, not a phantom one).
    val clamp: Column => Column = c => least(greatest(c, lit(0L)), lit(cells - 1L))
    val cover = boxes.crossJoin(broadcast(m))
      .select(col("box_id"), col("x0"), col("x1"), col("y0"), col("y1"),
        explode(sequence(clamp(cellOf(col("x0"), col("__xm"))),
          clamp(cellOf(col("x1"), col("__xm"))))).as("cx"),
        col("__ym"))
      .select(col("box_id"), col("x0"), col("x1"), col("y0"), col("y1"), col("cx"),
        explode(sequence(clamp(cellOf(col("y0"), col("__ym"))),
          clamp(cellOf(col("y1"), col("__ym"))))).as("cy"))
      .withColumn("cell", graft.plans.ZOrder2(col("cx"), col("cy"), level))
      .drop("cx", "cy")
    points.crossJoin(broadcast(m))
      .withColumn("cell", graft.plans.ZOrder2(
        cellOf(col(pxCol), col("__xm")), cellOf(col(pyCol), col("__ym")), level))
      .drop("__xm", "__ym")
      .join(broadcast(cover), "cell")
      .filter(col(pxCol) >= col("x0") && col(pxCol) <= col("x1") &&
        col(pyCol) >= col("y0") && col(pyCol) <= col("y1"))
      .drop("cell", "x0", "x1", "y0", "y1")
  }

  /** Fixed-radius 2-D distance self-join via grid bucketing — the
    * ε-neighborhood join under every spatial DBSCAN/kNN pipeline.
    * Cell side = the radius, so every qualifying pair sits in the
    * SAME or an ADJACENT cell: the left side fans out to its 3×3
    * stencil, the equi-join on the cell key replaces the all-pairs
    * cross product, and the exact integer test dx²+dy² ≤ r² verifies
    * candidates. Each pair is emitted exactly once (the right side
    * keeps its single home cell; id_a < id_b kills the mirror).
    *
    * Scale: candidate volume is Σ_cell 9·occ² — bounded by DENSITY
    * (points per radius-cell), never by corpus size; the join is a
    * plain shuffle on the cell key, so skewed hot cells fall under
    * AQE's skew-split like any other key. Coordinates must be
    * non-negative longs (microdegree-style fixed point, per the
    * data-skipping layout ops above — floats never decide
    * membership).
    */
  def gridRadiusJoin(points: DataFrame, idCol: String, xCol: String, yCol: String,
                     radius: Long): DataFrame = {
    require(radius >= 1L, "radius must be positive")
    val p = points.select(col(idCol).as("id"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .withColumn("cx", expr(s"x div $radius"))
      .withColumn("cy", expr(s"y div $radius"))
    val stencil = p.select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
        explode(array((-1 to 1).flatMap(i => (-1 to 1).map(j =>
          struct(lit(i.toLong).as("di"), lit(j.toLong).as("dj")))): _*)).as("o"),
        col("cx"), col("cy"))
      .select(col("id_a"), col("xa"), col("ya"),
        (col("cx") + col("o.di")).as("cx"), (col("cy") + col("o.dj")).as("cy"))
    stencil.join(p.withColumnRenamed("id", "id_b"), Seq("cx", "cy"))
      .filter(col("id_a") < col("id_b"))
      .filter((col("xa") - col("x")) * (col("xa") - col("x")) +
        (col("ya") - col("y")) * (col("ya") - col("y")) <= lit(radius * radius))
      .select(col("id_a"), col("id_b"),
        ((col("xa") - col("x")) * (col("xa") - col("x")) +
          (col("ya") - col("y")) * (col("ya") - col("y"))).as("dist2"))
  }
}
