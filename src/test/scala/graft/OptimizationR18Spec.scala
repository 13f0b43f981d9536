package graft

import org.apache.spark.sql.functions._

import graft.warehouse.{SnapshotTable, StampedCache}

/** Focused tests for the round-18 optimization-wave internals: the
  * requested-delete-key capture that lets the committing process serve
  * equality-delete anti-joins from a driver-local frame instead of
  * re-scanning every sidecar dir on every read.
  *
  * The equivalence under test: anti-joining the REQUESTED key set is
  * row-identical to anti-joining the sidecar's MATCHED keys, because a
  * requested key that matched nothing has no row in any data snapshot
  * the sidecar applies to. The guards under test: fresh-process
  * fallback, drop+recreate invalidation, WAP-staged suppression, and
  * NaN/±0.0/NULL key semantics. */
class OptimizationR18Spec extends SparkSpec {
  import spark.implicits._

  private def scratch(name: String) =
    s"/root/repo/target/test-optr18-$name-${System.nanoTime()}"

  private def eightFiles(name: String): SnapshotTable = {
    val t = new SnapshotTable(spark, scratch(name))
    val df = spark.range(800).toDF("id")
      .withColumn("v", concat(lit("v"), col("id")))
      .repartitionByRange(8, col("id"))
    t.createOrReplace(df, sortBy = Seq("id"))
    t
  }

  private def captures(t: SnapshotTable): Seq[String] =
    StampedCache.shared.names(t.qualifiedRoot).filter(_.endsWith(".delkeys"))

  /** A fresh process holds none of the root's cached metadata. */
  private def freshProcess(t: SnapshotTable): Unit =
    StampedCache.shared.evictRoot(t.qualifiedRoot)

  test("captured fold ≡ sidecar-read fold, including unmatched requested keys") {
    val t = eightFiles("cap-eq")
    // 999999 matches nothing — the requested set is a strict SUPERSET of
    // the sidecar's matched keys, the core of the equivalence argument
    t.deleteByKeys(Seq("id"), Seq(5L, 999999L).toDF("id"))
    t.upsertByKeys(Seq((7L, "UP"), (888888L, "NEW")).toDF("id", "v"), Seq("id"))
    assert(captures(t).nonEmpty,
      "small local-batch commits must capture their requested keys")
    val viaCapture = t.read().orderBy("id").collect()
    freshProcess(t)
    val viaSidecars = t.read().orderBy("id").collect()
    assert(viaCapture.toSeq === viaSidecars.toSeq,
      "captured and sidecar-read folds must produce identical rows")
    assert(viaSidecars.count(_.getLong(0) == 5L) === 0)
    assert(viaSidecars.filter(_.getLong(0) == 7L).map(_.getString(1)).toSeq === Seq("UP"))
    assert(viaSidecars.count(_.getLong(0) == 888888L) === 1)
  }

  test("capture survives NULL and NaN/−0.0 keys with join-equality semantics") {
    val t = new SnapshotTable(spark, scratch("cap-nan"))
    t.createOrReplace(Seq((Double.NaN, "nan"), (0.0, "zero"), (1.5, "x"),
      (2.5, "y")).toDF("d", "v"))
    // NaN and −0.0 delete keys: Spark join equality treats NaN=NaN as a
    // match and normalizes ±0.0 — identical on both build sides. The
    // NULL requested key matches nothing on either side.
    val keys = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(Double.NaN),
        org.apache.spark.sql.Row(-0.0), org.apache.spark.sql.Row(null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("d",
          org.apache.spark.sql.types.DoubleType))))
    val (n, _) = t.deleteByKeys(Seq("d"), keys)
    assert(n === 2L, "NaN and 0.0 rows must match; NULL must not")
    val viaCapture = t.read().orderBy("v").collect()
    freshProcess(t)
    val viaSidecars = t.read().orderBy("v").collect()
    assert(viaCapture.toSeq === viaSidecars.toSeq)
    assert(viaSidecars.map(_.getString(1)).toSeq === Seq("x", "y"))
  }

  test("drop clears the capture; a recreate at the same path reads fresh") {
    val t = eightFiles("cap-drop")
    t.deleteByKeys(Seq("id"), Seq(5L).toDF("id"))
    assert(captures(t).nonEmpty)
    t.drop()
    assert(captures(t).isEmpty, "drop must clear the root's captured keys")
    val t2 = new SnapshotTable(spark, t.root)
    t2.createOrReplace(spark.range(10).toDF("id")
      .withColumn("v", concat(lit("n"), col("id"))))
    t2.deleteByKeys(Seq("id"), Seq(3L).toDF("id"))
    assert(t2.read().count() === 9L)
    assert(t2.read().where("id = 5").count() === 1L,
      "the recreated table must not inherit the dropped table's deletes")
  }

  test("a stale capture at a reused id is rejected by the marker timestamp") {
    val t = eightFiles("cap-ts")
    t.deleteByKeys(Seq("id"), Seq(5L).toDF("id"))
    val names = captures(t)
    assert(names.nonEmpty)
    // poison the capture with a ts no marker carries — the read must fall
    // back to the sidecar (same answer), never join the poisoned frame
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    for (name <- names)
      StampedCache.shared.put(t.qualifiedRoot, name, -1L,
        SnapshotTable.CapturedDelKeys(Seq("id"), schema,
          Seq(org.apache.spark.sql.Row(6L)))) // would delete the WRONG row
    assert(t.read().where("id = 6").count() === 1L,
      "a ts-mismatched capture must not be joined")
    assert(t.read().where("id = 5").count() === 0L)
  }

  test("a WAP-staged batch suppresses capture (staged rows must not be over-deleted)") {
    val t = eightFiles("cap-wap")
    // stage an append carrying key 999999 — INVISIBLE to the delete's
    // matched scan. (publishStaged renumbers a stale-id append past the
    // head, so the requested-vs-matched divergence is unreachable today;
    // the suppression guard is defense-in-depth against any future
    // publish mode that keeps a below-head id.)
    t.stageAppend(Seq((999999L, "staged")).toDF("id", "v"), "audit-1")
    // request exactly that key (it matches nothing live) plus a real one
    t.deleteByKeys(Seq("id"), Seq(5L, 999999L).toDF("id"))
    assert(captures(t).isEmpty,
      "a staged batch at commit time must suppress the capture")
    t.publishStaged("audit-1")
    // the staged row was never visible to the delete — it must survive
    assert(t.read().where("id = 999999").count() === 1L,
      "a published staged row must not be deleted by an earlier requested key")
    assert(t.read().where("id = 5").count() === 0L)
  }

  test("small delete batches write their sidecar from the driver; readers agree") {
    val t = eightFiles("cap-dwrite")
    t.deleteByKeys(Seq("id"), Seq(5L, 10L).toDF("id"))
    t.upsertByKeys(Seq((7L, "UP")).toDF("id", "v"), Seq("id"))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val driverFiles = walk(new java.io.File(t.root)).map(_.getName)
      .filter(_ == "part-00000-driver.parquet")
    assert(driverFiles.size === 2,
      s"both small sidecars must be driver-written, saw $driverFiles")
    // a fresh-process read (capture cleared) scans the driver-written
    // files — physical types must round-trip through the ordinary reader
    freshProcess(t)
    assert(t.read().count() === 798L)
    assert(t.read().where("id = 7").select("v").collect().map(_.getString(0))
      .toSeq === Seq("UP"))
    // CDC reads the sidecar rows verbatim
    val cdc = t.rowChangesBetween(1L, t.currentSnapshotId.get).get.df
    assert(cdc.where("_change = 'delete'").count() === 3L)
  }

  test("a 65-key batch (past the small bound) is not captured and still folds right") {
    val t = eightFiles("cap-big")
    val keys = (0L until 65L).map(_ * 10L)
    t.deleteByKeys(Seq("id"), keys.toDF("id"))
    assert(captures(t).isEmpty,
      "batches past the small bound must not capture")
    assert(t.read().count() === 800L - keys.count(_ < 800L))
  }

  test("a failed memoised staging is retried by the next caller") {
    val memo = new graft.operators.Similarity.StageMemo
    val e = intercept[java.util.concurrent.CompletionException] {
      memo[String]("train")(throw new IllegalStateException("transient"))
    }
    assert(e.getCause.getMessage === "transient")
    assert(memo[String]("train")("trained") === "trained",
      "a failure must not stay memoised")
    assert(memo[String]("train")("retrained") === "trained",
      "a success stays memoised")
  }
}
