package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.warehouse.SnapshotTable

/** The optimistic commit protocol, deterministically: every optimistic
  * writer (both compactions, the COW rewrite, the MoR equality delete and
  * upsert, the positional delete and update, the keyless CDC apply) loses
  * exactly one commit race — a foreign commit lands through a second
  * handle (its own `processLock`, i.e. another process) while the writer
  * creates its placeholder — then fails once mid-write, and once just
  * past its commit point. The faults come from [[FaultFs]], a test-only
  * Hadoop file system; the engine has no hook. */
class CommitProtocolSpec extends SparkSpec with org.scalatest.BeforeAndAfterEach {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    FaultFs.register(spark.sparkContext.hadoopConfiguration)
  }

  override def afterEach(): Unit = FaultFs.arm(None)

  private def localRoot(name: String): String =
    new java.io.File(s"target/test-wh/${java.util.UUID.randomUUID().toString.take(8)}/$name")
      .getAbsolutePath

  /** An 8-file table with disjoint id ranges per file, on `faultfs:`. */
  private def eightFiles(name: String): SnapshotTable = {
    val t = new SnapshotTable(spark, s"${FaultFs.Scheme}:${localRoot(name)}")
    t.createOrReplace(spark.range(800).toDF("id")
      .withColumn("v", concat(lit("v"), col("id")))
      .repartitionByRange(8, col("id")), sortBy = Seq("id"))
    t
  }

  private def dir(t: SnapshotTable) = new java.io.File(new Path(t.root).toUri.getPath)

  private def rows(t: SnapshotTable): Seq[(Long, String)] =
    t.read().as[(Long, String)].collect().toSeq.sorted

  /** Leftovers of the protocol: placeholders, claims, and snapshot
    * artifacts whose id has no `.meta`. */
  private def debris(t: SnapshotTable): Seq[String] = {
    val names = dir(t).list().toSeq
    def idOf(n: String) = n.stripPrefix("snap-").takeWhile(_.isDigit)
    val committed = names.filter(_.endsWith(".meta")).map(idOf).toSet
    names.filter(n => n.endsWith(".staged") || n.contains(".claim.") ||
      (n.startsWith("snap-") && !committed(idOf(n)))).sorted
  }

  private case class Writer(name: String, setup: SnapshotTable => Unit,
                            foreign: Seq[(Long, String)], op: SnapshotTable => Any)

  private def upd(t: SnapshotTable) =
    t.updateWherePositional(col("id").between(30L, 34L), Map("v" -> lit("upd")))._1

  private val writers = Seq(
    Writer("compact", t => t.append(Seq((900L, "a")).toDF("id", "v")),
      Seq((901L, "race")), t => { t.compact(); t.snapshots().last._2 }),
    Writer("compactDeletes",
      t => Seq(5L, 6L, 7L).foreach(k => t.deleteByKeys(Seq("id"), Seq(k).toDF("id"))),
      Seq((902L, "race")), _.compactDeletes().size),
    Writer("cowRewrite (deletePruned)", _ => (),
      Seq((10L, "race")), _.deletePruned(col("id") < lit(50L))._1),
    Writer("deleteByKeys", _ => (),
      Seq((5L, "race")), _.deleteByKeys(Seq("id"), Seq(5L, 6L).toDF("id"))._1),
    Writer("deleteWherePositional", _ => (),
      Seq((25L, "race")), _.deleteWherePositional(col("id").between(20L, 29L))._1),
    Writer("updateWherePositional", _ => (), Seq((31L, "race")), upd),
    Writer("applyChangesPositional", _ => (), Seq((40L, "v40")),
      _.applyChangesPositional(Seq((40L, "v40", "delete"), (3000L, "new", "insert"))
        .toDF("id", "v", "_change"))),
    Writer("morCommit (upsertByKeys)", _ => (), Seq((60L, "race")),
      _.upsertByKeys(Seq((60L, "up"), (5000L, "new")).toDF("id", "v"), Seq("id"))))

  private def foreignRows(w: Writer): DataFrame = w.foreign.toDF("id", "v")

  writers.foreach { w =>
    test(s"${w.name}: a lost commit race retries once and equals the race-free run") {
      // race-free reference: the foreign commit lands first, then the op
      val ref = eightFiles("ref")
      w.setup(ref)
      ref.append(foreignRows(w))
      FaultFs.arm(None)
      val refResult = w.op(ref)
      val refAttempts = FaultFs.placeholders.get

      val t = eightFiles("race")
      w.setup(t)
      // a second handle with its own lock object: another process, so it
      // commits while this JVM's writer holds the commit lock
      val other = new SnapshotTable(spark, t.root, processLock = Some(new Object))
      val foreign = foreignRows(w)
      FaultFs.arm(Some(FaultFs.LoseRace(() => { other.append(foreign); () })))
      val result = w.op(t)
      assert(FaultFs.placeholders.get === refAttempts + 1, "exactly one retry")
      assert(result === refResult)
      assert(rows(t) === rows(ref))
      assert(t.count() === rows(t).size.toLong)
      assert(debris(t).isEmpty, s"protocol debris left: ${debris(t)}")
    }

    test(s"${w.name}: a failed data write surfaces and leaves nothing behind") {
      val t = eightFiles("fail")
      w.setup(t)
      val before = rows(t)
      val entries = dir(t).list().toSeq.sorted
      FaultFs.arm(Some(FaultFs.FailWrite))
      val e = intercept[java.io.IOException](w.op(t))
      assert(e.getMessage.contains("injected data-write failure"))
      assert(FaultFs.placeholders.get === 1)
      assert(debris(t).isEmpty, s"protocol debris left: ${debris(t)}")
      assert(dir(t).list().toSeq.sorted === entries)
      assert(rows(t) === before)
      // the next commit succeeds
      t.append(Seq((7777L, "next")).toDF("id", "v"))
      assert(rows(t) === (before :+ ((7777L, "next"))).sorted)
    }

    test(s"${w.name}: a failure past the commit point keeps the commit readable") {
      val ref = eightFiles("ref")
      w.setup(ref)
      w.op(ref)
      val t = eightFiles("late-fail")
      w.setup(t)
      FaultFs.arm(Some(FaultFs.FailAfterCommit))
      val e = intercept[java.io.IOException](w.op(t))
      assert(e.getMessage.contains("injected post-commit failure"))
      assert(rows(t) === rows(ref), "the committed snapshot keeps its data")
      assert(t.count() === rows(t).size.toLong)
      // the next commit succeeds and the leftover placeholder is reaped
      t.append(Seq((7777L, "next")).toDF("id", "v"))
      assert(debris(t).isEmpty, s"protocol debris left: ${debris(t)}")
    }
  }

  test("sweepStaleClaims reaps a crashed writer's stale placeholder, never a WAP stage") {
    val t = new SnapshotTable(spark, localRoot("placeholder"))
    t.createOrReplace(Seq((1L, "a")).toDF("id", "v"))
    val staged = t.stageAppend(Seq((2L, "b")).toDF("id", "v"), "etl-1")
    // a writer that crashed mid-upsert: placeholder, data dir, delete
    // sidecar and stats, all written before the crash
    val crashed = staged + 1
    val root = new Path(t.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def art(suffix: String) = new Path(root, f"snap-$crashed%05d$suffix")
    val out = fs.create(art(".staged"))
    try out.write(s"mor||0||upserting|${System.currentTimeMillis()}".getBytes("UTF-8"))
    finally out.close()
    Seq("", ".delrows").foreach(s => fs.mkdirs(art(s)))
    fs.create(art(".stats")).close()
    val twoHoursAgo = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    Seq(art(".staged"), new Path(root, f"snap-$staged%05d.staged"))
      .foreach(fs.setTimes(_, twoHoursAgo, -1L))
    assert(t.sweepStaleClaims() === 1)
    assert(Seq("", ".delrows", ".stats", ".staged").forall(s => !fs.exists(art(s))),
      "the placeholder and every artifact of its id are reaped")
    assert(t.stagedSnapshots() === Seq((staged, "etl-1")), "a WAP stage of the same age survives")
    val next = t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(next > staged)
    t.publishStaged("etl-1")
    assert(t.read().as[(Long, String)].collect().toSeq.sorted ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }
}
