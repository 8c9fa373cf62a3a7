package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph, GraphAssets}
import graft.sources.Tables

/** The prepared-asset fast path must be RESULT-IDENTICAL to each graph
  * function's own internal edge build — same rows, same doubles (the
  * iteration arithmetic is exact-integer or deterministic-fold, so any
  * divergence is an asset-construction bug, not float noise).
  */
class GraphAssetsSpec extends SparkSpec {

  private lazy val t = Tables(spark, sfDir)

  private def rawSupplierPart = t.lineitem.select(
    col("l_suppkey").cast("long").as("src"),
    (col("l_partkey") + 1000000000L).as("dst"))

  private def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("pageRankIterate(memoized aug assets) == pageRank(raw edges)") {
    same(
      Graph.pageRankIterate(GraphAssets.supplierPartAug(t),
        GraphAssets.supplierPartNodes(t), 3, 0.85),
      Graph.pageRank(rawSupplierPart, "src", "dst", 3, 0.85))
  }

  test("katzPaths(prepared sym asset) == katzPaths(raw edges)") {
    same(
      Graph.katzPaths(GraphAssets.supplierPartSym(t), "src", "dst", prepared = true),
      Graph.katzPaths(rawSupplierPart, "src", "dst"))
  }

  test("richClub(prepared asset) == richClub(raw edges)") {
    same(
      Graph.richClub(GraphAssets.supplierPart(t), "src", "dst", Seq(4L, 8L, 16L, 32L), prepared = true),
      Graph.richClub(rawSupplierPart, "src", "dst", Seq(4L, 8L, 16L, 32L)))
  }

  test("after a cache clear, an asset re-arms the assets it is built from") {
    // supplierPartAug is built on supplierPart; left disarmed, supplierPart
    // is recomputed from lineitem inside both supplierPartNodes and the aug.
    val d = GraphAssets.supplierPart(t)
    GraphAssets.supplierPartAug(t).count()
    spark.catalog.clearCache()
    assert(d.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    // as q_pagerank asks for them: the aug, then the node set
    val (_, jobs) = jobsDuring {
      val aug = GraphAssets.supplierPartAug(t)
      GraphAssets.supplierPartNodes(t).count()
      aug.count()
    }
    assert(d.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(jobs == 13)
  }

  test("assets survive an external unpersist (re-armed persist recomputes once, silently)") {
    val a = GraphAssets.supplierPart(t)
    val n = a.count()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val b = GraphAssets.supplierPart(t)
    assert(b.count() == n)
    assert(b.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
  }
}
