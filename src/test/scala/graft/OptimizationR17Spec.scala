package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.warehouse.SnapshotTable

/** Focused tests for the round-17 optimization-wave internals: the fused
  * multiset-equality gate check, the driver-side small-key-batch DML
  * planning (LocalRelation fast path vs the distributed distinct path),
  * and the marker-stamped dir-schema cache's invalidation on a
  * drop + recreate at the same path. */
class OptimizationR17Spec extends SparkSpec {
  import spark.implicits._

  private def scratch(name: String) =
    s"/root/repo/target/test-optr17-$name-${System.nanoTime()}"

  // ── Q.multisetEqual ≡ exceptAll both ways ──────────────────────────────

  test("multisetEqual matches the two-way exceptAll predicate, duplicates included") {
    val a = Seq((1L, "x"), (1L, "x"), (2L, "y")).toDF("k", "v")
    val b1 = Seq((2L, "y"), (1L, "x"), (1L, "x")).toDF("k", "v") // same multiset, reordered
    val b2 = Seq((1L, "x"), (2L, "y")).toDF("k", "v") // one duplicate short
    val b3 = Seq((1L, "x"), (1L, "x"), (2L, "y"), (2L, "y")).toDF("k", "v") // one extra
    def old(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    for ((b, expect) <- Seq((b1, true), (b2, false), (b3, false))) {
      assert(operators.Q.multisetEqual(a, b) == expect)
      assert(old(a, b) == expect, "oracle disagreement with exceptAll itself")
    }
  }

  test("multisetEqual normalizes NaN and signed zero like exceptAll") {
    val a = Seq(Double.NaN, -0.0, 1.5).toDF("d")
    val b = Seq(Double.NaN, 0.0, 1.5).toDF("d")
    // Spark's SQL equality groups NaN with NaN and -0.0 with 0.0 in both
    // formulations — the fused check must agree with the old one
    assert(operators.Q.multisetEqual(a, b) ==
      (a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty))
  }

  // ── small-key-batch DML planning ───────────────────────────────────────

  test("deleteByKeys: LOCAL key frame fast path matches the distributed path") {
    val whL = scratch("delkeys-local")
    val whD = scratch("delkeys-dist")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    try {
      val data = spark.range(0, 1000).select(
        $"id".as("k"), ($"id" % 7).as("grp"), ($"id" * 2).cast("double").as("v"))
      val tL = new SnapshotTable(spark, whL)
      val tD = new SnapshotTable(spark, whD)
      tL.createOrReplace(data.repartitionByRange(4, $"k"), sortBy = Seq("k"))
      tD.createOrReplace(data.repartitionByRange(4, $"k"), sortBy = Seq("k"))
      val keys = Seq(3L, 999L, 500L, 3L) // includes a duplicate
      // local frame (Seq.toDF → LocalRelation: the no-job driver dedup path)
      val (nL, _) = tL.deleteByKeys(Seq("k"), keys.toDF("k"))
      // distributed frame (range-derived: the distinct+persist path)
      val distKeys = spark.range(0, 1000).select($"id".as("k"))
        .where($"k".isin(keys: _*))
      val (nD, _) = tD.deleteByKeys(Seq("k"), distKeys)
      assert(nL == 3L && nD == 3L)
      assert(operators.Q.multisetEqual(tL.read(), tD.read()),
        "both paths must leave identical survivors")
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(whL), true)
      fs.delete(new org.apache.hadoop.fs.Path(whD), true)
    }
  }

  test("deleteByKeys: NULL and double-typed keys fall back to the semi-join safely") {
    val wh = scratch("delkeys-null")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    try {
      val t = new SnapshotTable(spark, wh)
      t.createOrReplace(Seq((1L, Some(1.5)), (2L, None), (3L, Some(2.5)))
        .toDF("k", "d"))
      // a NULL key matches nothing under equality semantics — both before
      // and after the fast path (residualExact refuses NULL samples)
      val (n0, _) = t.deleteByKeys(Seq("d"),
        Seq[Option[Double]](None).toDF("d"))
      assert(n0 == 0L)
      // a double key goes through the semi-join guard, exact match only
      val (n1, _) = t.deleteByKeys(Seq("d"), Seq(1.5).toDF("d"))
      assert(n1 == 1L)
      assert(t.read().count() == 2L)
    } finally fs.delete(new org.apache.hadoop.fs.Path(wh), true)
  }

  test("upsertByKeys: single-aggregate duplicate guard still refuses dup sources") {
    val wh = scratch("upsert-dup")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    try {
      val t = new SnapshotTable(spark, wh)
      t.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      val dup = Seq((1L, "x"), (1L, "y")).toDF("k", "v")
      val e = intercept[IllegalArgumentException] { t.upsertByKeys(dup, Seq("k")) }
      assert(e.getMessage.contains("duplicate keys"))
      // and a clean source still upserts
      val (r, i) = t.upsertByKeys(Seq((1L, "x"), (9L, "z")).toDF("k", "v"), Seq("k"))
      assert(r == 1L && i == 2L)
    } finally fs.delete(new org.apache.hadoop.fs.Path(wh), true)
  }

  // ── dir-schema cache invalidation ──────────────────────────────────────

  test("drop + recreate at the same path reads the NEW schema (marker-stamped cache)") {
    val wh = scratch("schemacache")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val cache = graft.warehouse.StampedCache.shared
    try {
      // t10's root string starts with t1's: eviction must match the root
      // exactly, never by prefix
      val t1 = new SnapshotTable(spark, s"$wh/t1")
      val t10 = new SnapshotTable(spark, s"$wh/t10")
      t1.createOrReplace(Seq((1L, "a")).toDF("k", "v"))
      t10.createOrReplace(Seq((10L, "b")).toDF("k", "v"))
      assert(t1.read().collect().toSeq == Seq(Row(1L, "a"))) // warms the cache
      assert(t10.read().collect().toSeq == Seq(Row(10L, "b")))
      val t10Names = cache.names(t10.qualifiedRoot)
      assert(cache.names(t1.qualifiedRoot).nonEmpty && t10Names.nonEmpty)
      t1.drop()
      assert(cache.names(t1.qualifiedRoot).isEmpty, "drop evicts the dropped root")
      assert(cache.names(t10.qualifiedRoot).toSet == t10Names.toSet,
        "drop must not evict a sibling whose root shares the prefix")
      val t2 = new SnapshotTable(spark, s"$wh/t1")
      t2.createOrReplace(Seq((2L, 3.5, "w")).toDF("k", "d", "s"))
      val got = t2.read()
      assert(got.columns.toSeq == Seq("k", "d", "s"))
      assert(got.collect().toSeq == Seq(Row(2L, 3.5, "w")))
      assert(t10.read().collect().toSeq == Seq(Row(10L, "b")))
    } finally fs.delete(new org.apache.hadoop.fs.Path(wh), true)
  }
}
