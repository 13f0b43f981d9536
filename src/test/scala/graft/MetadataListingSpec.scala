package graft

import org.apache.spark.sql.functions._

import graft.bcdr.ReplicationService
import graft.catalog.Catalog
import graft.warehouse.{ColRange, SnapshotTable}

/** The warehouse metadata layer lists a table's root once per call: a
  * read resolves its head, chain, specs, column ops, live delete sets and
  * scan plan from one listing, so what it plans and what it folds describe
  * one cut of the table; a single-row write lists the root once for the
  * attempt plus the commit protocol's own fresh listings (the next id, the
  * claim's rival check, the claim release, the validation under the commit
  * lock). Listings are counted by [[ListingFs]], a test-only Hadoop file
  * system; the engine has no hook. */
class MetadataListingSpec extends SparkSpec with org.scalatest.BeforeAndAfterEach {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    ListingFs.register(spark.sparkContext.hadoopConfiguration)
  }

  override def afterEach(): Unit = ListingFs.disarm()

  private def localRoot(name: String): String =
    new java.io.File(s"target/test-wh/${java.util.UUID.randomUUID().toString.take(8)}/$name")
      .getAbsolutePath

  /** A 100-row table with one file per 25 ids, on `listfs:`. */
  private def table(name: String): SnapshotTable = {
    val t = new SnapshotTable(spark, s"${ListingFs.Scheme}:${localRoot(name)}")
    t.createOrReplace(spark.range(100).toDF("k")
      .withColumn("v", concat(lit("v"), col("k")))
      .repartitionByRange(4, col("k")))
    t
  }

  test("a point read lists the table root once; a single-row append, upsert " +
    "or delete at most five times") {
    val t = table("counts")
    def listings(f: => Any): Int = ListingFs.listingsOf(t.root)(f)._2
    // warm: first-use caches (marker lines, stats, dir schemas) are not
    // listings, but keep the counted calls on the steady path
    t.readWhere(col("k") === 1L)._1.collect()

    assert(listings(t.readWhere(col("k") === 7L)._1.collect()) === 1)
    assert(listings(t.readPrunedAny(Seq(Seq(ColRange("k", Some(3L), Some(4L)))))._1.collect()) === 1)
    assert(listings(t.readPruned(Seq(ColRange("k", Some(5L), Some(5L))))._1.collect()) === 1)
    assert(listings(t.read().collect()) === 1)
    assert(listings(t.currentSnapshotId) === 1)
    assert(listings(t.pendingDeleteBatches()) === 1)
    // the attempt's listing, the next id, the claim's rival check and
    // the claim release (a plain commit has no validation step)
    assert(listings(t.append(Seq((200L, "a")).toDF("k", "v"))) === 4)
    // the attempt's listing, the next id, the rival check, the claim
    // release and the validation under the commit lock
    assert(listings(t.upsertByKeys(Seq((8L, "u")).toDF("k", "v"), Seq("k"))) === 5)
    assert(listings(t.deleteByKeys(Seq("k"), Seq(9L).toDF("k"))) === 5)
    // and a read over the live delete sidecars still lists once
    assert(listings(t.readWhere(col("k") === 8L)._1.collect()) === 1)

    assert(t.readWhere(col("k").between(7L, 9L))._1.as[(Long, String)].collect().toSeq.sorted ===
      Seq((7L, "v7"), (8L, "u")))
    assert(t.readWhere(col("k") === 200L)._1.count() === 1)
  }

  test("a replication cycle lists each side's table root once per step") {
    val primary = new Catalog(spark, s"${ListingFs.Scheme}:${localRoot("pri")}", "pri")
    val secondary = new Catalog(spark, s"${ListingFs.Scheme}:${localRoot("sec")}", "sec")
    primary.createSchema("ads")
    val pt = primary.table("ads", "events")
    pt.createOrReplace(spark.range(50).toDF("k").withColumn("v", concat(lit("v"), col("k"))))
    val repl = new ReplicationService(primary, secondary)
    repl.createGroup("g", Seq(("ads", "events")), includeViews = false, includeRoles = false)
    repl.refreshPhysical("g")
    pt.upsertByKeys(Seq((3L, "p3")).toDF("k", "v"), Seq("k"))
    val st = secondary.table("ads", "events")

    val (verdicts, n) = ListingFs.listingsOf(pt.root, st.root) {
      // the cut (primary), the delta (one listing per side), the
      // validation (one per side)
      repl.refreshPhysicalAt("g", repl.recordHeads("g"))
      repl.validatePhysical("g").select("verdict").as[String].collect().toSeq
    }
    assert(verdicts === Seq("MATCH"))
    assert(n === 5)
    assert(st.readWhere(col("k") === 3L)._1.as[(Long, String)].collect().toSeq === Seq((3L, "p3")))
  }

  /** A point read racing one foreign upsert of its key: the upsert lands
    * through a second handle (its own `processLock`, i.e. another process)
    * right after the read's first listing of the root. The read returns
    * the row as it was before the upsert or after it — never no row. */
  private def racedRead(name: String)(read: SnapshotTable => Seq[(Long, String)]): Unit = {
    val t = table(name)
    val foreign = new SnapshotTable(spark, t.root, processLock = Some(new Object))
    t.readWhere(col("k") === 5L)._1.collect() // warm the read path
    ListingFs.afterNextListing(t.root) {
      foreign.upsertByKeys(Seq((5L, "new")).toDF("k", "v"), Seq("k"))
    }
    val got = read(t)
    assert(got === Seq((5L, "v5")) || got === Seq((5L, "new")), s"torn read: $got")
    assert(t.readWhere(col("k") === 5L)._1.as[(Long, String)].collect().toSeq ===
      Seq((5L, "new")), "the foreign upsert committed")
  }

  test("readWhere racing a foreign upsert returns the old row or the new one") {
    racedRead("torn-where")(
      _.readWhere(col("k") === 5L)._1.as[(Long, String)].collect().toSeq)
  }

  test("readPrunedAny racing a foreign upsert returns the old row or the new one") {
    racedRead("torn-any")(_.readPrunedAny(Seq(Seq(ColRange("k", Some(5L), Some(5L)))))
      ._1.as[(Long, String)].collect().toSeq)
  }
}
