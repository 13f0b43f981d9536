package graft

import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.mv.MaterializedViewManager
import graft.rbac.GrantService
import graft.services.{DriftService, HeartbeatService, SyncService, TaskScheduler}

class ServicesSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(name: String): String =
    s"/root/repo/target/test-wh/${java.util.UUID.randomUUID().toString.take(8)}/$name"

  private def newCatalog(name: String): Catalog =
    new Catalog(spark, freshDir(name), name)

  private def seed(cat: Catalog): Unit = {
    cat.createSchema("adv")
    cat.table("adv", "campaigns").createOrReplace(
      Seq((1, "active"), (2, "paused")).toDF("id", "status"))
    cat.table("adv", "events_t").createOrReplace(
      Seq((1, "2024-01-01"), (2, "2024-01-02")).toDF("id", "date_key"))
  }

  test("catalog: info schema, describe, link status") {
    val cat = newCatalog("cld")
    seed(cat)
    assert(cat.listTables("adv") == Seq("campaigns", "events_t"))
    assert(cat.infoSchemaTables().filter($"table_type" === "BASE TABLE").count() == 2)
    val cols = cat.infoSchemaColumns().filter($"table_name" === "campaigns")
    assert(cols.count() == 2)
    assert(cat.describeTable("adv", "campaigns").count() == 2)
    assert(cat.linkStatus().contains("CONNECTED"))
  }

  test("sync service: passthrough + agg views regenerated, actions logged") {
    val src = newCatalog("cld2")
    val prod = newCatalog("prod2")
    seed(src)
    val sync = new SyncService(spark, src, prod, freshDir("synclog"))
    val (ok, errs) = sync.run()
    assert(errs == 0)
    assert(ok == 3, "2 passthrough views + 1 daily agg view (events_t has date_key)")
    // view definitions are rewritten TEXT runnable against the source
    assert(prod.queryView("adv", "campaigns").count() == 2)
    assert(prod.getView("adv", "V_EVENTS_T_DAILY").isDefined)
    // brute-force: rerun replaces views, log keeps growing (F19 ids)
    sync.run()
    val log = sync.syncLog.read()
    assert(log.filter($"status" === "FAILED").count() == 0)
    assert(log.count() == 8, "4 actions per run x 2 runs")
  }

  test("drift service detects all three drift classes and resolves") {
    val p = newCatalog("p3")
    val s = newCatalog("s3")
    seed(p); seed(s)
    // MISSING_ON_SECONDARY: extra table on primary
    p.table("adv", "only_primary").createOrReplace(Seq(1).toDF("x"))
    // MISSING_ON_PRIMARY: extra view on secondary
    s.createOrReplaceView("adv", "only_secondary", "SELECT 1")
    // DEFINITION_MISMATCH: same view name, different definition text
    p.createOrReplaceView("adv", "v_shared", "SELECT * FROM cld__adv__campaigns")
    s.createOrReplaceView("adv", "v_shared", "SELECT * FROM cld__adv__campaigns WHERE id > 0")
    val drift = new DriftService(spark, freshDir("driftlog"))
    val found = drift.detect(p, s)
    val classes = found.select($"drift_class", $"object_name").as[(String, String)].collect().toSet
    assert(classes == Set(
      ("MISSING_ON_SECONDARY", "only_primary"),
      ("MISSING_ON_PRIMARY", "only_secondary"),
      ("DEFINITION_MISMATCH", "v_shared")))
    assert(drift.openDrift().count() == 3)
    drift.resolve("v_shared")
    assert(drift.openDrift().count() == 2, "resolved drift leaves the DETECTED set")
  }

  test("multi-base composite-key MV: append to one base folds in incrementally") {
    val cat = newCatalog("mmv")
    cat.createSchema("adv")
    // three funnel bases sharing the (campaign, date_key) composite key
    cat.table("adv", "imps").createOrReplace(Seq(
      ("c1", "d1", 1.00), ("c1", "d1", 2.00), ("c1", "d2", 3.00), ("c2", "d1", 4.00))
      .toDF("campaign", "date_key", "cost"))
    cat.table("adv", "clks").createOrReplace(Seq(
      ("c1", "d1", 0.50), ("c2", "d1", 0.25))
      .toDF("campaign", "date_key", "cost"))
    cat.table("adv", "convs").createOrReplace(Seq(
      ("c1", "d1", 100.00))
      .toDF("campaign", "date_key", "revenue"))
    val mvm = new MaterializedViewManager(cat)
    mvm.retractionCrossoverRows = 0 // pin: the retraction fold is the surface under test
    val keys = Seq("campaign", "date_key")
    mvm.createMultiAggMv("funnel", Seq(
      mvm.BaseAgg(("adv", "imps"), keys, Seq("cost"), "imp"),
      mvm.BaseAgg(("adv", "clks"), keys, Seq("cost"), "clk"),
      mvm.BaseAgg(("adv", "convs"), keys, Seq("revenue"), "cnv")))
    val before = mvm.read("funnel").where($"campaign" === "c1" && $"date_key" === "d1").head()
    assert(before.getAs[Long]("imp_rows") === 2L && before.getAs[Long]("clk_rows") === 1L)
    // append ONLY to clicks: refresh must fold the delta without touching
    // the other bases (their partials report noop)
    cat.table("adv", "clks").append(Seq(("c1", "d1", 0.75), ("c3", "d9", 0.10))
      .toDF("campaign", "date_key", "cost"))
    val modes = mvm.refreshMultiAggMv("funnel")
    assert(modes === Map("imp" -> "noop", "clk" -> "incremental", "cnv" -> "noop"))
    val after = mvm.read("funnel").where($"campaign" === "c1" && $"date_key" === "d1").head()
    assert(after.getAs[Long]("clk_rows") === 2L)
    assert(after.getAs[java.math.BigDecimal]("clk_sum_cost").doubleValue() === 1.25)
    // the new (c3, d9) key appears via the full-outer join, zero-filled
    val c3 = mvm.read("funnel").where($"campaign" === "c3" && $"date_key" === "d9").head()
    assert(c3.getAs[Long]("imp_rows") === 0L && c3.getAs[Long]("clk_rows") === 1L)
    // a file-pruned DELETE of one base folds as a RETRACTION (CDC signed
    // partials) — no rebuild, no touch of the other bases
    cat.table("adv", "imps").delete($"campaign" === "c2")
    val modes2 = mvm.refreshMultiAggMv("funnel")
    assert(modes2("imp") === "retraction" && modes2("clk") === "noop")
    assert(mvm.read("funnel").where($"campaign" === "c2").count() === 1,
      "c2 still present via its click partial, imps zero-filled")
  }

  test("multi-base MV refresh is failure-atomic per base: a crash mid-fold never double-counts") {
    // ADVICE r8 #1: each base's watermark must advance IMMEDIATELY after
    // that base's partial commits — if folding a LATER base throws, a retry
    // must see the earlier base as "noop", not re-fold a delta its partial
    // already contains (silent double-count).
    val cat = newCatalog("mmvatomic")
    cat.createSchema("adv")
    val keys = Seq("campaign", "date_key")
    cat.table("adv", "imps").createOrReplace(Seq(("c1", "d1", 1.00), ("c1", "d1", 2.00))
      .toDF("campaign", "date_key", "cost"))
    cat.table("adv", "convs").createOrReplace(Seq(("c1", "d1", 100.00))
      .toDF("campaign", "date_key", "revenue"))
    val mvm = new MaterializedViewManager(cat)
    mvm.createMultiAggMv("funnel", Seq(
      mvm.BaseAgg(("adv", "imps"), keys, Seq("cost"), "imp"),
      mvm.BaseAgg(("adv", "convs"), keys, Seq("revenue"), "cnv")))
    // advance BOTH bases, then break convs' delta dir so the refresh folds
    // imps' partial and THEN crashes on convs (AnalysisException from the
    // missing parquet path — not the caught rewrite-in-range case)
    cat.table("adv", "imps").append(Seq(("c1", "d1", 4.00)).toDF("campaign", "date_key", "cost"))
    cat.table("adv", "convs").append(Seq(("c1", "d1", 50.00)).toDF("campaign", "date_key", "revenue"))
    val convs = cat.table("adv", "convs")
    val deltaId = convs.currentSnapshotId.get
    val deltaDir = new java.io.File(convs.root, f"snap-$deltaId%05d")
    val hidden = new java.io.File(convs.root, f"hidden-$deltaId%05d")
    assert(deltaDir.renameTo(hidden), "test setup: hide the convs delta dir")
    intercept[Exception](mvm.refreshMultiAggMv("funnel"))
    assert(hidden.renameTo(deltaDir), "test setup: restore the convs delta dir")
    // retry: imps must report noop (its watermark advanced with its partial);
    // convs folds; and the values carry NO double count
    val modes = mvm.refreshMultiAggMv("funnel")
    assert(modes === Map("imp" -> "noop", "cnv" -> "incremental"),
      s"retry must not re-fold the already-committed imp partial: $modes")
    val row = mvm.read("funnel").where($"campaign" === "c1" && $"date_key" === "d1").head()
    assert(row.getAs[Long]("imp_rows") === 3L, "2 initial + 1 appended, folded exactly once")
    assert(row.getAs[java.math.BigDecimal]("imp_sum_cost").doubleValue() === 7.00)
    assert(row.getAs[Long]("cnv_rows") === 2L)
    assert(row.getAs[java.math.BigDecimal]("cnv_sum_revenue").doubleValue() === 150.00)
    // and a further refresh is a clean all-noop
    assert(mvm.refreshMultiAggMv("funnel").values.forall(_ == "noop"))
  }

  test("future grants: a table created after the grant is readable by the role") {
    val cat = newCatalog("fg1")
    val gs = new GrantService(spark, freshDir("fg-audit"))
    gs.attachTo(cat)
    gs.createRole("analyst")
    gs.grantFuture("analyst", "SELECT", "adv")
    assert(!gs.hasGrant("analyst", "SELECT", "adv.later_t"), "not granted before creation")
    cat.createSchema("adv")
    cat.table("adv", "later_t").createOrReplace(Seq((1, "x")).toDF("id", "v"))
    assert(gs.hasGrant("analyst", "SELECT", "adv.later_t"), "created table inherits the future grant")
    // other schemas are untouched; replaces of an existing table don't re-fire
    cat.createSchema("other")
    cat.table("other", "t2").createOrReplace(Seq((2, "y")).toDF("id", "v"))
    assert(!gs.hasGrant("analyst", "SELECT", "other.t2"))
    val grantsBefore = gs.showGrants().count()
    cat.table("adv", "later_t").createOrReplace(Seq((3, "z")).toDF("id", "v"))
    assert(gs.showGrants().count() === grantsBefore, "replace of existing table adds no grant")
    // the audit trail records both the future grant and its materialization
    assert(gs.auditLog.read().where($"action" === "GRANT_FUTURE").count() === 1)
    assert(gs.auditLog.read().where($"action" === "GRANT" && $"object" === "adv.later_t").count() === 1)
  }

  test("drift detected from staged CSV files only (stage-routed transport)") {
    val p = newCatalog("p5"); val s = newCatalog("s5")
    seed(p); seed(s)
    p.table("adv", "only_primary_t").createOrReplace(Seq((1, "x")).toDF("id", "v"))
    p.createOrReplaceView("adv", "v_shared", "SELECT * FROM cld__adv__campaigns")
    s.createOrReplaceView("adv", "v_shared", "SELECT 1 AS one")
    val drift = new DriftService(spark, freshDir("driftlog5"))
    val stage = freshDir("drift-stage")
    val found = drift.detectViaStage(p, s, stage)
    // the staged files are the interface: both legs exist as header CSV
    assert(new java.io.File(s"$stage/primary_inventory").listFiles()
      .exists(_.getName.endsWith(".csv")), "primary inventory staged as CSV")
    assert(new java.io.File(s"$stage/secondary_inventory").listFiles()
      .exists(_.getName.endsWith(".csv")), "secondary inventory staged as CSV")
    val classes = found.select($"drift_class", $"object_name").as[(String, String)].collect().toSet
    assert(classes == Set(
      ("MISSING_ON_SECONDARY", "only_primary_t"),
      ("DEFINITION_MISMATCH", "v_shared")))
    // the re-imported inventories alone reproduce the comparison
    val reImported = drift.compare(
      drift.importInventoryFromStage(s"$stage/primary_inventory"),
      drift.importInventoryFromStage(s"$stage/secondary_inventory"))
    assert(reImported.count() === found.count())
  }

  test("drift: identical catalogs are drift-free") {
    val p = newCatalog("p4"); val s = newCatalog("s4")
    seed(p); seed(s)
    val drift = new DriftService(spark, freshDir("driftlog4"))
    assert(drift.compare(drift.exportInventory(p), drift.exportInventory(s)).count() == 0)
  }

  test("heartbeat: checks pass on healthy pair, coverage failure detected") {
    val src = newCatalog("cld5"); val prod = newCatalog("prod5")
    seed(src)
    val grants = new GrantService(spark, freshDir("audit5"))
    val hb = new HeartbeatService(spark, src, prod, grants, freshDir("hb5"))
    hb.expectedGrants = Seq(("ANALYST", "SELECT", "adv.campaigns"))
    val (checks1, fails1) = hb.run()
    assert(checks1 == 4 && fails1 == 1, "view coverage fails before sync")
    new SyncService(spark, src, prod, freshDir("sync5")).run()
    val (_, fails2) = hb.run()
    assert(fails2 == 0, "all green after sync")
    val ready = hb.drReadiness().select($"dr_ready").as[Boolean].head()
    assert(ready)
    assert(grants.hasGrant("ANALYST", "SELECT", "adv.campaigns"))
    // grant audit is idempotent: second beat repaired nothing
    assert(grants.auditLog.read().filter($"action" === "GRANT").count() == 1)
  }

  test("views survive a catalog restart: definitions persist as DDL") {
    // r14 durability sweep: view definitions are DDL, not session state —
    // a new Catalog over the same warehouse must reload them (text-exact,
    // so drift detection's definition hashes keep matching)
    val wh = freshDir("vdur")
    val c1 = new Catalog(spark, wh, "cld")
    c1.createSchema("adv")
    c1.table("adv", "t1").createOrReplace(Seq((1, "x"), (2, "y")).toDF("id", "v"))
    c1.createOrReplaceView("adv", "v_one", "SELECT * FROM cld__adv__t1 WHERE id = 1")
    c1.createOrReplaceView("adv", "v_two", "SELECT 2 AS two")
    assert(c1.dropView("adv", "v_two"))
    val c2 = new Catalog(spark, wh, "cld") // the restart
    assert(c2.listViews().map(v => (v.schema, v.name)) == Seq(("adv", "v_one")),
      "created views reload; dropped views stay dropped")
    assert(c2.getView("adv", "v_one").get.hash ==
      c1.getView("adv", "v_one").get.hash,
      "definition text round-trips exactly — drift hashes must agree")
    assert(c2.queryView("adv", "v_one").count() == 1)
    // the _views namespace is hidden from the schema listing
    assert(!c2.listSchemas().exists(_.startsWith("_")))
  }

  test("view replace heals an orphaned tmp before any destructive step") {
    // r16 ADVICE #3: a replace that crashed between delete(target) and
    // rename(tmp, target) leaves the orphan `.sql.tmp` as the view's ONLY
    // durable copy. The next replace used to delete that tmp en route to
    // promoting its stage — a crash in that window lost the definition
    // entirely. The writer must promote the orphan to the canonical name
    // FIRST, so tmp is only ever deleted while target exists.
    val wh = freshDir("vheal")
    val c1 = new Catalog(spark, wh, "cld")
    c1.createSchema("adv")
    c1.createOrReplaceView("adv", "v", "SELECT 1 AS a")
    val dir = new java.io.File(s"$wh/_views")
    val target = dir.listFiles().find(_.getName.endsWith(".sql")).get
    val tmp = new java.io.File(target.getPath + ".tmp")
    // forge the crash residue: target gone, tmp is the only durable copy
    java.nio.file.Files.move(target.toPath, tmp.toPath)
    assert(new Catalog(spark, wh, "cld").getView("adv", "v").map(_.definition)
      == Some("SELECT 1 AS a"), "loader recovers the orphan as the live definition")
    // make the NEXT replace fail at its stage write (stg path occupied by
    // a directory) — everything BEFORE that point must be non-destructive
    val stg = new java.io.File(target.getPath + ".tmp.stg")
    assert(stg.mkdir())
    intercept[Exception] { c1.createOrReplaceView("adv", "v", "SELECT 2 AS a") }
    assert(target.exists, "orphan promoted to canonical name before the write began")
    assert(!tmp.exists, "tmp consumed by the heal, not deleted unprotected")
    assert(stg.delete())
    assert(new Catalog(spark, wh, "cld").getView("adv", "v").map(_.definition)
      == Some("SELECT 1 AS a"), "pre-crash definition survives the failed replace")
    // a clean retry then succeeds end-to-end
    c1.createOrReplaceView("adv", "v", "SELECT 3 AS a")
    assert(new Catalog(spark, wh, "cld").getView("adv", "v").map(_.definition)
      == Some("SELECT 3 AS a"))
  }

  test("RBAC state survives a service restart: the audit log replays") {
    // the r14 durable-progress stance applied to RBAC: the audit log IS
    // the state — a new GrantService over the same root folds it back,
    // so a driver restart loses no roles, grants, or future grants
    val root = freshDir("rbacdur")
    val g1 = new GrantService(spark, root)
    g1.createRole("analyst")
    g1.grant("analyst", "SELECT", "adv.t1")
    g1.grantFuture("analyst", "SELECT", "adv")
    g1.createRole("etl")
    g1.grant("etl", "INSERT", "adv.t1")
    g1.revoke("etl", "INSERT", "adv.t1")
    val g2 = new GrantService(spark, root) // the restart
    assert(g2.listRoles().toSet == Set("analyst", "etl"),
      "roles survive, including never-granted ones")
    assert(g2.hasGrant("analyst", "SELECT", "adv.t1"))
    assert(!g2.hasGrant("etl", "INSERT", "adv.t1"), "revokes replay too")
    assert(g2.listFutureGrants() == Seq(("analyst", "SELECT", "adv")))
    assert(g2.ensureGrants(g1.listGrants()) == 0, "zero repairs after restart")
    // future grants still materialize through the replayed state
    assert(g2.objectCreated("adv", "t9") == 1)
    assert(g2.hasGrant("analyst", "SELECT", "adv.t9"))
    // and a THIRD instance sees the post-restart mutations as well
    val g3 = new GrantService(spark, root)
    assert(g3.hasGrant("analyst", "SELECT", "adv.t9"))
  }

  test("RBAC role hierarchy: inherited privileges resolve transitively " +
    "and survive a restart") {
    // r14 verdict #1: the reference's ADMIN → ENGINEER → ANALYST chain
    // (`scripts/00_prereqs_rbac.sql:38-44`) — GRANT ROLE x TO ROLE y makes
    // y inherit x's privileges, transitively through every hop
    val root = freshDir("rbachier")
    val g1 = new GrantService(spark, root)
    g1.createRole("ICEBERG_ANALYST")
    g1.createRole("ICEBERG_ENGINEER")
    g1.createRole("ICEBERG_ADMIN")
    g1.createRole("ACCOUNTADMIN")
    g1.grant("ICEBERG_ANALYST", "SELECT", "adv.events")
    g1.grant("ICEBERG_ENGINEER", "INSERT", "adv.events")
    // the reference's exact chain: analyst → engineer → admin → accountadmin
    g1.grantRole("ICEBERG_ANALYST", "ICEBERG_ENGINEER")
    g1.grantRole("ICEBERG_ENGINEER", "ICEBERG_ADMIN")
    g1.grantRole("ICEBERG_ADMIN", "ACCOUNTADMIN")
    // one hop: the engineer resolves the analyst's SELECT
    assert(g1.hasGrant("ICEBERG_ENGINEER", "SELECT", "adv.events"))
    // two hops: the admin resolves it through the engineer
    assert(g1.hasGrant("ICEBERG_ADMIN", "SELECT", "adv.events"))
    assert(g1.hasGrant("ICEBERG_ADMIN", "INSERT", "adv.events"))
    // three hops for the account admin; inheritance flows UP only
    assert(g1.hasGrant("ACCOUNTADMIN", "SELECT", "adv.events"))
    assert(!g1.hasGrant("ICEBERG_ANALYST", "INSERT", "adv.events"),
      "a granted role never inherits from its grantee")
    assert(g1.inheritedRoles("ICEBERG_ADMIN") ==
      Set("ICEBERG_ANALYST", "ICEBERG_ENGINEER"))
    assert(g1.resolvedGrants("ICEBERG_ADMIN").toSet == Set(
      ("ICEBERG_ADMIN", "SELECT", "adv.events"),
      ("ICEBERG_ADMIN", "INSERT", "adv.events")))
    // circular grants are rejected (Snowflake refuses them too)
    intercept[IllegalArgumentException] {
      g1.grantRole("ACCOUNTADMIN", "ICEBERG_ANALYST")
    }
    intercept[IllegalArgumentException] {
      g1.grantRole("ICEBERG_ADMIN", "ICEBERG_ADMIN")
    }
    // THE RESTART: hierarchy edges replay from the audit log
    val g2 = new GrantService(spark, root)
    assert(g2.hasGrant("ACCOUNTADMIN", "SELECT", "adv.events"),
      "two-hop inheritance must survive a service restart via replay")
    assert(g2.listRoleGrants().toSet == Set(
      ("ICEBERG_ANALYST", "ICEBERG_ENGINEER"),
      ("ICEBERG_ENGINEER", "ICEBERG_ADMIN"),
      ("ICEBERG_ADMIN", "ACCOUNTADMIN")))
    // revoke breaks the chain above the cut edge only
    g2.revokeRole("ICEBERG_ENGINEER", "ICEBERG_ADMIN")
    assert(!g2.hasGrant("ICEBERG_ADMIN", "SELECT", "adv.events"))
    assert(g2.hasGrant("ICEBERG_ENGINEER", "SELECT", "adv.events"))
    // DROP ROLE cascades: grants and edges touching it vanish
    g2.dropRole("ICEBERG_ANALYST")
    assert(!g2.hasGrant("ICEBERG_ENGINEER", "SELECT", "adv.events"),
      "privileges inherited through a dropped role are gone")
    assert(g2.listRoleGrants().toSet == Set(("ICEBERG_ADMIN", "ACCOUNTADMIN")))
    // and the post-restart mutations replay into a third instance
    val g3 = new GrantService(spark, root)
    assert(g3.listRoles().toSet ==
      Set("ICEBERG_ENGINEER", "ICEBERG_ADMIN", "ACCOUNTADMIN"))
    assert(g3.listRoleGrants().toSet == Set(("ICEBERG_ADMIN", "ACCOUNTADMIN")))
    assert(!g3.hasGrant("ICEBERG_ENGINEER", "SELECT", "adv.events"))
  }

  test("heartbeat: replication lag and pinned-history red the beat until healthy") {
    // r13 verdict #6: a stalled replication schedule or a forgotten ref
    // pinning history past the ceiling must flip the heartbeat — the
    // gauges existed (lagMs, pinnedHistoryReport); now the beat reads them
    val src = newCatalog("cld6"); val prod = newCatalog("prod6")
    seed(src)
    val grants = new GrantService(spark, freshDir("audit6"))
    val hb = new HeartbeatService(spark, src, prod, grants, freshDir("hb6"))
    new SyncService(spark, src, prod, freshDir("sync6")).run()
    // a replication group that has NEVER refreshed = stalled
    val sec = newCatalog("sec6")
    val repl = new graft.bcdr.ReplicationService(src, sec)
    repl.createGroup("core", Seq(("adv", "campaigns")), includeViews = false)
    hb.replicationLag = Seq((repl, "core", 60000L))
    // a tag pinning pre-compaction history past retention, ceiling 0 bytes
    val t = src.table("adv", "campaigns")
    t.createTag("keep")
    t.append(Seq((3, "draft")).toDF("id", "status"))
    t.compact()
    val maint = new graft.services.MaintenanceService(src, keepSnapshots = 1)
    hb.pinnedHistory = Some((maint, 0L))
    val (checks1, fails1) = hb.run()
    assert(checks1 == 6, "lag + pin checks join the battery")
    assert(fails1 == 2, "stalled group AND over-ceiling pin both red")
    // heal both: one replication cycle, drop the pinning tag
    repl.refreshIncremental("core")
    t.dropTag("keep")
    val (_, fails2) = hb.run()
    assert(fails2 == 0, "a fresh cycle + a released pin green the beat")
    val kinds = hb.heartbeatLog.read()
      .select($"check_type").as[String].collect().toSet
    assert(Set("REPLICATION_LAG", "PINNED_HISTORY").subsetOf(kinds))
  }

  test("scheduler: no-overlap, suspend/resume, history") {
    val sched = new TaskScheduler
    val gate = new java.util.concurrent.CountDownLatch(1)
    val entered = new java.util.concurrent.CountDownLatch(1)
    sched.define("slow") { entered.countDown(); gate.await(); "done" }
    val t = new Thread(() => sched.runOnce("slow"))
    t.start()
    entered.await()
    assert(!sched.runOnce("slow"), "overlapping run must be skipped")
    gate.countDown(); t.join()
    assert(sched.runOnce("slow"), "runs again once the first finished")
    sched.define("beat") { "ok" }
    sched.suspend("beat")
    assert(!sched.runOnce("beat"), "suspended task does not run")
    assert(sched.resumeAllSuspended() == Seq("beat"))
    assert(sched.runOnce("beat"))
    val h = sched.taskHistory()
    assert(h.count(_.task == "slow") == 2 && h.forall(_.status == "SUCCEEDED"))
    sched.shutdown()
  }

  test("cron: next-fire math for the reference's daily 2am schedule") {
    import java.time.{ZonedDateTime, ZoneId}
    val c = graft.services.CronSchedule.parse("0 2 * * *")
    val from = ZonedDateTime.of(2024, 3, 10, 14, 30, 0, 0, ZoneId.of("UTC"))
    assert(c.next(from) === ZonedDateTime.of(2024, 3, 11, 2, 0, 0, 0, ZoneId.of("UTC")))
    // already past 2am today → tomorrow; before 2am → today
    val early = ZonedDateTime.of(2024, 3, 10, 1, 59, 0, 0, ZoneId.of("UTC"))
    assert(c.next(early) === ZonedDateTime.of(2024, 3, 10, 2, 0, 0, 0, ZoneId.of("UTC")))
    // timezone-qualified, as `USING CRON 0 2 * * * America/Los_Angeles`
    val la = graft.services.CronSchedule.parse("0 2 * * * America/Los_Angeles")
    val nxt = la.next(from) // 14:30Z = 06:30 PDT → same day 02:00 PDT already past → next day
    assert(nxt.getHour === 2 && nxt.getZone === ZoneId.of("America/Los_Angeles"))
    assert(nxt.toInstant.isAfter(from.toInstant))
    // steps, ranges, lists, and Vixie dom/dow OR
    val m = graft.services.CronSchedule.parse("*/15 8-17 1,15 * 1")
    assert(m.minutes === Set(0, 15, 30, 45) && m.hours === (8 to 17).toSet)
    val mon10 = ZonedDateTime.of(2024, 6, 10, 0, 0, 0, 0, ZoneId.of("UTC")) // a Monday
    assert(m.matches(mon10.withHour(8)), "dow match fires even though dom is 1,15")
    val sat15 = ZonedDateTime.of(2024, 6, 15, 8, 0, 0, 0, ZoneId.of("UTC")) // the 15th
    assert(m.matches(sat15), "dom match fires even though dow is Monday")
    // month rollover: Feb 30 never exists → first fire is in March
    val feb = graft.services.CronSchedule.parse("0 0 30 * *")
    val fromFeb = ZonedDateTime.of(2024, 2, 1, 0, 0, 0, 0, ZoneId.of("UTC"))
    assert(feb.next(fromFeb).getDayOfMonth === 30 && feb.next(fromFeb).getMonthValue === 3
      || feb.next(fromFeb).getMonthValue === 2) // 2024 is a leap year but Feb 30 still absent
    assert(feb.next(fromFeb) === ZonedDateTime.of(2024, 3, 30, 0, 0, 0, 0, ZoneId.of("UTC")))
  }

  test("cron: scheduled task fires and replants the next fire") {
    val sched = new TaskScheduler
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    sched.define("daily_sync") { ran.incrementAndGet(); "synced" }
    sched.scheduleCron("daily_sync", "0 2 * * *")
    val now = System.currentTimeMillis()
    val next = sched.nextScheduledTime("daily_sync", now).get
    assert(next > now && next <= now + 24L * 3600 * 1000, "next fire within 24h")
    // drive a fire without waiting for wall-clock 2am
    sched.fireCron("daily_sync")
    assert(ran.get() === 1)
    assert(sched.taskHistory().exists(r => r.task == "daily_sync" && r.status == "SUCCEEDED"))
    // the chain replanted: still a next fire on the books
    assert(sched.nextScheduledTime("daily_sync").isDefined)
    sched.shutdown()
  }

  test("materialized view: reads precomputed table, refreshes only when stale") {
    val cat = newCatalog("mv6")
    seed(cat)
    val mvm = new MaterializedViewManager(cat)
    mvm.create("mv_daily",
      s"SELECT date_key, count(*) AS n FROM mv6__adv__events_t GROUP BY date_key",
      Seq(("adv", "events_t")))
    assert(mvm.read("mv_daily").count() == 2)
    assert(!mvm.isStale("mv_daily"))
    assert(mvm.refreshIfStale().isEmpty, "fresh MV must not recompute")
    cat.table("adv", "events_t").append(Seq((3, "2024-01-03")).toDF("id", "date_key"))
    assert(mvm.isStale("mv_daily"))
    assert(mvm.refreshIfStale() == Seq("mv_daily"))
    assert(mvm.read("mv_daily").count() == 3)
  }

  test("incremental agg MV: delta-only refresh matches full recompute, falls back on rewrite") {
    val cat = newCatalog("mvinc")
    cat.createSchema("adv")
    val sales = cat.table("adv", "sales")
    sales.createOrReplace(
      Seq(("a", 10.0), ("a", 5.0), ("b", 1.0)).toDF("k", "amt"))

    val mvm = new MaterializedViewManager(cat)
    mvm.retractionCrossoverRows = 0 // pin: the retraction fold is the surface under test
    mvm.createAggMv("mv_sales", ("adv", "sales"), Seq("k"), Seq("amt"))
    val builtAtId = sales.currentSnapshotId.get

    // append-only change → incremental path
    sales.append(Seq(("a", 2.0), ("c", 7.0)).toDF("k", "amt"))
    // delta read touches ONLY the appended snapshot's files
    val deltaFiles = sales.appendsSince(builtAtId).get.inputFiles
    assert(deltaFiles.nonEmpty && deltaFiles.forall(_.contains("snap-00002")))
    assert(mvm.refreshIncremental("mv_sales") == "incremental")
    val got = mvm.read("mv_sales")
      .select($"k", $"n_rows", $"sum_amt".cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("a", 3L, 17.0), ("b", 1L, 1.0), ("c", 1L, 7.0)))

    // idempotent when nothing changed
    assert(mvm.refreshIncremental("mv_sales") == "noop")

    // a file-pruned DELETE folds as a RETRACTION: the deleted group's
    // signed partial nets its count to zero and the group vanishes
    sales.delete($"k" === "b")
    assert(mvm.refreshIncremental("mv_sales") == "retraction")
    assert(mvm.read("mv_sales").select($"k").as[String].collect().toSet == Set("a", "c"))
  }

  test("MV refresh survives an UNRELATED column op on the base: the " +
    "window folds exactly through the CDC path") {
    // r16 colmap interaction: a rename/widen of a column the MV never
    // references lands in a refresh window — the append fast path refuses
    // (a colmap is rewrite-class for tails) and the CDC retraction fold
    // takes over under the base's logical schema; the MV's answer must
    // still equal a full recompute. A rename of an MV-REFERENCED column
    // fails loudly (the definition itself is stale), never silently.
    val cat = newCatalog("mvcolmap")
    cat.createSchema("adv")
    val sales = cat.table("adv", "sales")
    sales.createOrReplace(
      Seq(("a", 10.0, 1), ("b", 1.0, 2)).toDF("k", "amt", "aux"))
    val mvm = new MaterializedViewManager(cat)
    mvm.retractionCrossoverRows = 0
    mvm.createAggMv("mv_cm", ("adv", "sales"), Seq("k"), Seq("amt"))
    // the window: an append, an UNRELATED rename, another append
    sales.append(Seq(("a", 2.0, 3)).toDF("k", "amt", "aux"))
    sales.renameColumn("aux", "aux2")
    sales.append(Seq(("c", 7.0, 4)).toDF("k", "amt", "aux2"))
    assert(mvm.refreshIncremental("mv_cm") == "retraction",
      "the colmap window routes through the CDC fold, not a crash")
    val got = mvm.read("mv_cm")
      .select($"k", $"n_rows", $"sum_amt".cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("a", 2L, 12.0), ("b", 1L, 1.0), ("c", 1L, 7.0)),
      s"the fold must equal a full recompute: $got")
    assert(mvm.refreshIncremental("mv_cm") == "noop")
  }

  test("rename/drop under a live aggregate MV refuses at DDL time; " +
    "dropping the MV frees the column") {
    // r16 verdict #4: a rename of an MV-REFERENCED column used to fail
    // only at the next refresh — loud, but five MVs deep that is five
    // hand-repaired refreshes. createAggMv now registers its referenced
    // columns durably on the base; the column op refuses at DDL.
    val cat = newCatalog("mvdep")
    cat.createSchema("adv")
    val sales = cat.table("adv", "sales")
    sales.createOrReplace(Seq(("a", 10.0, 1), ("b", 1.0, 2)).toDF("k", "amt", "aux"))
    val mvm = new MaterializedViewManager(cat)
    mvm.createAggMv("mv_dep", ("adv", "sales"), Seq("k"), Seq("amt"))
    val ex = intercept[IllegalArgumentException](sales.renameColumn("amt", "amount"))
    assert(ex.getMessage.contains("mv_dep"), s"refusal names the dependent: ${ex.getMessage}")
    intercept[IllegalArgumentException](sales.dropColumn("k"))
    // an unreferenced column stays free to evolve (the mvcolmap stance)
    sales.renameColumn("aux", "aux0")
    // the registration is DURABLE — a fresh handle over the same root
    // still refuses, no manager in sight
    intercept[IllegalArgumentException](
      cat.table("adv", "sales").renameColumn("amt", "amount"))
    // the catalog-wide report surfaces the registration (zero scans)
    val rep = cat.dependentsReport().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rep.contains(("adv.sales", "mv:mv_dep", "agg-mv", "k,amt")),
      s"dependentsReport lists the MV registration: ${rep.toSeq}")
    // dropping the MV deregisters: the rename is legal again
    mvm.dropAggMv("mv_dep")
    sales.renameColumn("amt", "amount")
    assert(sales.read().columns.toSet == Set("k", "amount", "aux0"))
    assert(!cat.table("_mv", "mv_dep").exists, "dropAggMv drops the materialization")
    assert(cat.dependentsReport().isEmpty, "the drop clears the report")
  }

  test("dropAggMv and renameBaseColumn are safe across a manager restart: " +
    "drop clears the durable registration, remap refuses strangers loudly") {
    // r17 review: registrations are durable but definitions are
    // per-process — a fresh manager must still DROP (or the base columns
    // stay locked forever) and must REFUSE to remap an MV it cannot see
    // (silently remapping the rest would strand it).
    val cat = newCatalog("mvjvm")
    cat.createSchema("adv")
    val sales = cat.table("adv", "sales")
    sales.createOrReplace(Seq(("a", 1.0)).toDF("k", "amt"))
    val mvm1 = new MaterializedViewManager(cat)
    mvm1.createAggMv("mv_x", ("adv", "sales"), Seq("k"), Seq("amt"))
    // "restart": a fresh manager with empty in-memory definitions
    val mvm2 = new MaterializedViewManager(cat)
    val ex = intercept[IllegalArgumentException](
      mvm2.renameBaseColumn(("adv", "sales"), "amt", "amount"))
    assert(ex.getMessage.contains("unknown to this manager"), ex.getMessage)
    mvm2.dropAggMv("mv_x") // no definition — still finds and clears it
    assert(!cat.table("_mv", "mv_x").exists, "materialization dropped")
    sales.renameColumn("amt", "amount") // registration cleared → legal
    assert(sales.read().columns.contains("amount"))
  }

  test("renameBaseColumn REMAPS every registered agg MV across the rename: " +
    "marker-only on the MVs, refresh continues under the new name") {
    // the "refuse OR remap" completion: a column under N MVs renames in
    // one call — MV materializations follow via their own marker-only
    // colmap commits, definitions and registrations update, and the base
    // rename then passes its own dependent guard.
    val cat = newCatalog("mvremap")
    cat.createSchema("adv")
    val sales = cat.table("adv", "sales")
    sales.createOrReplace(
      Seq(("a", 10.0, 5.0), ("b", 1.0, 2.0)).toDF("k", "amt", "cost"))
    val mvm = new MaterializedViewManager(cat)
    mvm.retractionCrossoverRows = 0
    mvm.createAggMv("mv_r1", ("adv", "sales"), Seq("k"), Seq("amt"))
    mvm.createAggMv("mv_r2", ("adv", "sales"), Seq("k"), Seq("amt", "cost"),
      minMaxCols = Seq("amt"))
    // the direct rename refuses — two registered dependents
    intercept[IllegalArgumentException](sales.renameColumn("amt", "amount"))
    assert(mvm.renameBaseColumn(("adv", "sales"), "amt", "amount") == 2)
    assert(sales.read().columns.toSeq == Seq("k", "amount", "cost"))
    assert(mvm.read("mv_r1").columns.contains("sum_amount"))
    assert(mvm.read("mv_r2").columns.count(_.endsWith("_amount")) == 3,
      "sum/min/max partials all followed the rename")
    // refresh continues EXACTLY under the new name (colmap + append window)
    sales.append(Seq(("a", 2.0, 1.0), ("c", 7.0, 3.0)).toDF("k", "amount", "cost"))
    assert(mvm.refreshIncremental("mv_r1") == "retraction")
    val got = mvm.read("mv_r1")
      .select($"k", $"n_rows", $"sum_amount".cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("a", 2L, 12.0), ("b", 1L, 1.0), ("c", 1L, 7.0)))
    // min/max MVs rebuild (not retractable) — still exact under new names
    assert(mvm.refreshIncremental("mv_r2") == "full")
    val mm = mvm.read("mv_r2").filter($"k" === "a")
      .select($"min_amount".cast("double"), $"max_amount".cast("double")).head()
    assert((mm.getDouble(0), mm.getDouble(1)) == (2.0, 10.0))
    // the registry FOLLOWED: the new name is guarded, a re-run is refused
    // only through the guard (old name gone → idempotent completion path)
    intercept[IllegalArgumentException](sales.renameColumn("amount", "x"))
  }

  test("renameBaseColumn remaps multi-base MV sum columns; composite-key " +
    "renames are refused with a recreate hint") {
    val cat = newCatalog("mvremap2")
    cat.createSchema("adv")
    val imp = cat.table("adv", "imp")
    imp.createOrReplace(Seq((1, "d1", 10.0)).toDF("cid", "d", "spend"))
    val clk = cat.table("adv", "clk")
    clk.createOrReplace(Seq((1, "d1", 2.0)).toDF("cid", "d", "cost"))
    val mvm = new MaterializedViewManager(cat)
    mvm.createMultiAggMv("mv_f", Seq(
      mvm.BaseAgg(("adv", "imp"), Seq("cid", "d"), Seq("spend"), "i"),
      mvm.BaseAgg(("adv", "clk"), Seq("cid", "d"), Seq("cost"), "c")))
    val ex = intercept[IllegalArgumentException](
      mvm.renameBaseColumn(("adv", "imp"), "cid", "campaign"))
    assert(ex.getMessage.contains("recreate"), ex.getMessage)
    assert(mvm.renameBaseColumn(("adv", "imp"), "spend", "budget") == 1)
    assert(imp.read().columns.contains("budget"))
    assert(mvm.read("mv_f__i").columns.contains("i_sum_budget"))
    assert(mvm.read("mv_f").columns.contains("i_sum_budget"))
    // the other base untouched, its registration intact
    intercept[IllegalArgumentException](clk.renameColumn("cost", "x"))
    // the per-base incremental fold continues under the new name
    imp.append(Seq((1, "d1", 5.0)).toDF("cid", "d", "budget"))
    mvm.refreshMultiAggMv("mv_f")
    val v = mvm.read("mv_f").select($"i_sum_budget".cast("double")).head().getDouble(0)
    assert(v == 15.0, s"post-remap fold: $v")
  }

  test("a WIDEN of an MV-referenced column is legal and the refresh folds " +
    "exactly across the type boundary") {
    // the registry guards identity-changing ops (rename/drop) only: a
    // widen is lossless by construction, so it must stay allowed under a
    // live MV — and the CDC fold must produce the same answer as a full
    // recompute with files on both sides of the width boundary.
    val cat = newCatalog("mvwide")
    cat.createSchema("adv")
    val sales = cat.table("adv", "sales")
    sales.createOrReplace(Seq(("a", 10, 1), ("b", 1, 2)).toDF("k", "amt", "id"))
    val mvm = new MaterializedViewManager(cat)
    mvm.retractionCrossoverRows = 0
    mvm.createAggMv("mv_w", ("adv", "sales"), Seq("k"), Seq("amt"))
    sales.widenColumn("amt", "bigint") // referenced — still legal
    sales.append(Seq(("a", 3L, 3), ("c", 7L, 4)).toDF("k", "amt", "id"))
    assert(mvm.refreshIncremental("mv_w") == "retraction",
      "the colmap window routes through the CDC fold")
    val got = mvm.read("mv_w")
      .select($"k", $"n_rows", $"sum_amt".cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 2L, 13L), ("b", 1L, 1L), ("c", 1L, 7L)),
      s"fold equals a full recompute across the width boundary: $got")
  }

  test("multi-base MV registers per-base column dependencies; dropMultiAggMv frees them all") {
    val cat = newCatalog("mvdep2")
    cat.createSchema("adv")
    val imp = cat.table("adv", "imp")
    imp.createOrReplace(Seq((1, "2024-01-01", 10.0)).toDF("cid", "d", "spend"))
    val clk = cat.table("adv", "clk")
    clk.createOrReplace(Seq((1, "2024-01-01", 2.0)).toDF("cid", "d", "cost"))
    val mvm = new MaterializedViewManager(cat)
    mvm.createMultiAggMv("mv_f", Seq(
      mvm.BaseAgg(("adv", "imp"), Seq("cid", "d"), Seq("spend"), "i"),
      mvm.BaseAgg(("adv", "clk"), Seq("cid", "d"), Seq("cost"), "c")))
    intercept[IllegalArgumentException](imp.renameColumn("spend", "sp"))
    intercept[IllegalArgumentException](clk.dropColumn("cost"))
    mvm.dropMultiAggMv("mv_f")
    imp.renameColumn("spend", "sp")
    clk.renameColumn("cost", "co")
    assert(!cat.table("_mv", "mv_f").exists)
    assert(!cat.table("_mv", "mv_f__i").exists, "partials dropped too")
  }

  test("MV retraction folds merge-on-read DML: del and upsert flow through the CDC path") {
    val cat = newCatalog("mvmor")
    cat.createSchema("adv")
    val sales = cat.table("adv", "sales")
    sales.createOrReplace(
      Seq(("a", 10.0, 1L), ("a", 5.0, 2L), ("b", 1.0, 3L), ("b", 2.0, 4L))
        .toDF("k", "amt", "id"))
    val mvm = new MaterializedViewManager(cat)
    mvm.retractionCrossoverRows = 0 // pin: the retraction fold is the surface under test
    mvm.createAggMv("mv_m", ("adv", "sales"), Seq("k"), Seq("amt"))
    def state() = mvm.read("mv_m")
      .select($"k", $"n_rows", $"sum_amt".cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // a MoR equality delete: zero file rewrites, still a retraction fold
    sales.deleteByKeys(Seq("id"), Seq(3L).toDF("id"))
    assert(mvm.refreshIncremental("mv_m") == "retraction")
    assert(state() == Set(("a", 2L, 15.0), ("b", 1L, 2.0)))
    // an atomic MoR upsert: delete(old)+insert(new) pair nets the diff
    sales.upsertByKeys(Seq(("a", 100.0, 1L)).toDF("k", "amt", "id"), Seq("id"))
    assert(mvm.refreshIncremental("mv_m") == "retraction")
    assert(state() == Set(("a", 2L, 105.0), ("b", 1L, 2.0)))
    // the fold agrees with a from-scratch recompute of the MoR-aware read
    val want = sales.read().groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"amt".cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(state() == want)
  }

  test("cost-based refresh policy: a small base REBUILDS, a threshold-forced large one RETRACTS") {
    // VERDICT r9 #4: BENCH_NOTES.md ("Round-9: retraction fold vs full
    // rebuild") measured the full rebuild at 0.28×–0.62× of the
    // retraction fold below ~120M rows — the refresh must take the
    // cheaper path from metadata alone, not always retract.
    val cat = newCatalog("mvcost")
    cat.createSchema("adv")
    val sales = cat.table("adv", "sales")
    sales.createOrReplace(
      Seq(("a", 10.0), ("a", 5.0), ("b", 1.0), ("b", 2.0)).toDF("k", "amt"))
    val mvm = new MaterializedViewManager(cat)
    mvm.createAggMv("mv_c", ("adv", "sales"), Seq("k"), Seq("amt"))
    def state() = mvm.read("mv_c")
      .select($"k", $"n_rows", $"sum_amt".cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // default crossover (120M rows): this base sits FAR below it, so a
    // DML refresh deliberately rebuilds — and the answer is identical
    sales.delete($"amt" === 2.0)
    assert(mvm.refreshIncremental("mv_c") == "full",
      "below the crossover the policy must choose the cheaper rebuild")
    assert(state() == Set(("a", 2L, 15.0), ("b", 1L, 1.0)))
    // forcing the threshold to 0 models the >120M-row regime: the same
    // DML shape now takes the retraction fold, same answer
    mvm.retractionCrossoverRows = 0
    sales.delete($"amt" === 5.0)
    assert(mvm.refreshIncremental("mv_c") == "retraction",
      "above the crossover the policy must fold, never rescan the base")
    assert(state() == Set(("a", 1L, 10.0), ("b", 1L, 1.0)))
    // multi-base MVs run the same per-base policy
    cat.table("adv", "imps").createOrReplace(
      Seq(("c1", "d1", 1.0), ("c2", "d1", 2.0)).toDF("campaign", "date_key", "cost"))
    val mvm2 = new MaterializedViewManager(cat)
    mvm2.createMultiAggMv("fnl", Seq(
      mvm2.BaseAgg(("adv", "imps"), Seq("campaign", "date_key"), Seq("cost"), "imp")))
    cat.table("adv", "imps").delete($"campaign" === "c2")
    assert(mvm2.refreshMultiAggMv("fnl")("imp") == "full",
      "multi-agg per-base policy: small base rebuilds")
    assert(mvm2.read("fnl").select($"campaign").as[String].collect().toSeq == Seq("c1"))
  }

  test("cost-based refresh policy: a small base whose DML window touches under 1/4 of its files RETRACTS") {
    // the policy's second variable: below the row crossover a refresh
    // rebuilds only when the window touched ≥ 1/4 of the live files; a
    // narrower change keeps the ∝-change fold even on a small base
    val cat = newCatalog("mvfrac")
    cat.createSchema("adv")
    val sales = cat.table("adv", "sales")
    sales.createOrReplace(Seq(("a", 1.0, 0L)).toDF("k", "amt", "id"))
    (1L until 16L).foreach { i =>
      sales.append(Seq((if (i % 2 == 0) "a" else "b", i.toDouble, i)).toDF("k", "amt", "id"))
    }
    val mvm = new MaterializedViewManager(cat)
    mvm.createAggMv("mv_f", ("adv", "sales"), Seq("k"), Seq("amt"))
    def state() = mvm.read("mv_f")
      .select($"k", $"n_rows", $"sum_amt".cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val built = sales.currentSnapshotId.get
    sales.delete($"id" === 3L) // file-pruned COW: rewrites one of 16 files
    val cs = sales.rowChangesBetween(built, sales.currentSnapshotId.get).get
    assert(cs.filesRead * 4 < cs.liveFilesTotal,
      s"window must touch under 1/4 of the files: ${cs.filesRead} of ${cs.liveFilesTotal}")
    assert(sales.rowCountFromMetadata.exists(
      _ < MaterializedViewManager.DefaultRetractionCrossoverRows),
      "the base must sit below the row crossover with a known count")
    assert(mvm.refreshIncremental("mv_f") == "retraction",
      "a narrow change on a small base must fold, not rebuild")
    val want = sales.read().groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"amt".cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want == Set(("a", 8L, 57.0), ("b", 7L, 61.0)))
    assert(state() == want)
  }

  test("retraction fold: UPDATE nets the metric diff; partial deletes keep survivors; REPLACE and min/max MVs rebuild") {
    val cat = newCatalog("mvretr")
    cat.createSchema("adv")
    val sales = cat.table("adv", "sales")
    sales.createOrReplace(
      Seq(("a", 10.0), ("a", 5.0), ("b", 1.0), ("b", 2.0)).toDF("k", "amt"))
    val mvm = new MaterializedViewManager(cat)
    mvm.retractionCrossoverRows = 0 // pin: the retraction fold is the surface under test
    mvm.createAggMv("mv_r", ("adv", "sales"), Seq("k"), Seq("amt"))

    // an UPDATE arrives as its CDC delete+insert pair: count unchanged,
    // sum moves by exactly the diff
    sales.update($"amt" === 10.0, Map("amt" -> lit(25.0)))
    assert(mvm.refreshIncremental("mv_r") == "retraction")
    def state() = mvm.read("mv_r")
      .select($"k", $"n_rows", $"sum_amt".cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(state() == Set(("a", 2L, 30.0), ("b", 2L, 3.0)))

    // a PARTIAL delete of a group retracts only the deleted rows
    sales.delete($"amt" === 2.0)
    assert(mvm.refreshIncremental("mv_r") == "retraction")
    assert(state() == Set(("a", 2L, 30.0), ("b", 1L, 1.0)))

    // the fold must agree with a from-scratch recompute
    val want = sales.read().groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"amt".cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(state() == want)

    // a true REPLACE is not CDC-reconstructible → full rebuild
    sales.createOrReplace(Seq(("z", 9.0)).toDF("k", "amt"))
    assert(mvm.refreshIncremental("mv_r") == "full")
    assert(state() == Set(("z", 1L, 9.0)))

    // min/max partials are NOT retractable (the deleted row may have held
    // the min) → DML forces the rebuild path
    val sales2 = cat.table("adv", "sales2")
    sales2.createOrReplace(Seq(("a", 10.0), ("a", 5.0)).toDF("k", "amt"))
    mvm.createAggMv("mv_mm", ("adv", "sales2"), Seq("k"), Seq("amt"),
      minMaxCols = Seq("amt"))
    sales2.delete($"amt" === 5.0)
    assert(mvm.refreshIncremental("mv_mm") == "full")
    val mm = mvm.read("mv_mm").where($"k" === "a").head()
    assert(mm.getAs[Double]("min_amt") == 10.0 && mm.getAs[Double]("max_amt") == 10.0)
  }

  test("maintenance sweep: fragmented tables compact, history expires, rows survive") {
    val cat = newCatalog("MAINT")
    cat.createSchema("ing")
    val t = cat.table("ing", "feed")
    t.createOrReplace(Seq((0L, "seed")).toDF("id", "v"))
    (1 to 6).foreach(i => t.append(Seq((i.toLong, s"batch$i")).toDF("id", "v")))
    assert(t.liveSnapshotDirs().size == 7, "append-heavy chain before maintenance")
    val quiet = cat.table("ing", "dim")
    quiet.createOrReplace(Seq((1L, "x")).toDF("id", "v"))
    // keepSnapshots=1: after the compact only the fresh base is retained,
    // so the whole pre-compaction chain becomes expirable in the same sweep
    // (keepLast≥2 would pin an old append, which pins its ENTIRE chain —
    // expiry is correctly conservative about reachability)
    val svc = new graft.services.MaintenanceService(cat, maxDeltas = 4, keepSnapshots = 1)
    val sched = new graft.services.TaskScheduler
    val task = svc.scheduleSweep(sched, everyMs = 3600 * 1000L)
    assert(sched.runOnce(task))
    // fragmented table collapsed to one base; quiet table untouched
    assert(t.liveSnapshotDirs().size == 1)
    assert(quiet.snapshots().size == 1)
    // expiry removed the 7 pre-compaction snapshots; live rows all survive
    assert(t.snapshots().size == 1)
    assert(t.read().count() == 7)
    assert(t.count() == 7, "metadata count intact after compaction")
    val run = sched.taskHistory().filter(_.task == task)
    assert(run.nonEmpty && run.head.status == "SUCCEEDED")
    assert(run.head.message.contains("compacted 1 table(s), expired 7 snapshot(s)"))
    // a second sweep is a no-op (nothing fragmented, nothing expirable)
    assert(sched.runOnce(task))
    assert(sched.taskHistory().filter(_.task == task).last.message
      .contains("compacted 0 table(s), expired 0 snapshot(s)"))
  }

  test("pinnedHistoryReport surfaces retention pins catalog-wide; sweep reclaims a TTL'd tag") {
    val cat = newCatalog("PINREP")
    cat.createSchema("ing")
    val t = cat.table("ing", "pinned")
    t.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.createTag("forgotten") // no TTL: pins forever, must be VISIBLE
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.compact()
    val svc = new graft.services.MaintenanceService(cat, keepSnapshots = 1)
    val rep = svc.pinnedHistoryReport().collect()
    assert(rep.length == 1)
    val r = rep.head
    assert(r.getString(0) == "ing.pinned" && r.getString(1) == "forgotten" &&
      r.getString(2) == "tag" && r.getLong(4) > 0L,
      s"the forgotten tag's pinned bytes must be visible: ${r.mkString(",")}")
    // the pin holds through a sweep (no TTL)
    svc.sweep()
    assert(t.readTag("forgotten").count() == 2)
    // a TTL'd tag ages out DURING the sweep and its history reclaims
    t.dropTag("forgotten")
    t.createTag("release", maxRefAgeMs = Some(1L))
    Thread.sleep(5)
    val before = t.snapshots().size
    svc.sweep()
    assert(t.refs().isEmpty, "the TTL'd tag must age out in the sweep")
    assert(t.snapshots().size < before, "its pinned history must reclaim")
    assert(svc.pinnedHistoryReport().isEmpty)
    assert(t.read().count() == 3)
  }

  test("maintenance sweep is delete-aware: light trickles fold sidecars, heavy deletes rewrite") {
    // VERDICT r10 #1: the delta-count trigger is blind to a MoR delete
    // trickle (zero new data dirs). The sweep now reads pending-delete
    // pressure from metadata and picks the cheapest sufficient tool.
    def dataFiles(t: graft.warehouse.SnapshotTable): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(t.root)).map(_.getPath).filter(_.endsWith(".parquet")).sorted
    }
    val cat = newCatalog("MAINTDEL")
    cat.createSchema("dml")
    def mk(name: String): graft.warehouse.SnapshotTable = {
      val t = cat.table("dml", name)
      t.createOrReplace(spark.range(800).toDF("id")
        .withColumn("v", concat(lit("v"), col("id")))
        .repartitionByRange(8, col("id")), sortBy = Seq("id"))
      t
    }
    // LIGHT: six single-key sidecars, 6/800 deleted — minor fold only
    val light = mk("light")
    (1 to 6).foreach(i => light.deleteByKeys(Seq("id"), Seq(i * 100L).toDF("id")))
    val lightFiles = dataFiles(light)
    // HEAVY: five batches deleting 300/800 — the rewrite amortizes
    val heavy = mk("heavy")
    (0 until 5).foreach { b =>
      val ks = (0 until 60).map(i => (b * 60 + i).toLong)
      assert(heavy.deleteByKeys(Seq("id"), ks.toDF("id"))._1 === 60L)
    }
    // POSITIONAL trickle: six pdel statements, tiny fraction — the minor
    // fold must serve it too (before r12 a pdel trickle had no minor tool)
    val ptrickle = mk("ptrickle")
    (1 to 6).foreach(i =>
      assert(ptrickle.deleteWherePositional(col("id") === lit(i * 90L))._1 === 1L))
    val ptFiles = dataFiles(ptrickle)
    val svc = new graft.services.MaintenanceService(cat, maxDeltas = 4,
      keepSnapshots = 1, maxDeleteBatches = 4, deleteRatio = 0.3)
    val (compacted, _) = svc.sweep()
    assert(compacted === 3, "all three DML-trickled tables get maintenance")
    assert(ptrickle.pendingDeleteBatches() === 1)
    assert(dataFiles(ptrickle).intersect(ptFiles) === ptFiles,
      "a light positional trickle must be folded, never rewritten")
    assert(ptrickle.read().count() === 794L)
    assert(ptrickle.rowCountFromMetadata.contains(794L))
    // light: sidecars folded to ONE, ZERO data files touched
    assert(light.pendingDeleteBatches() === 1)
    assert(dataFiles(light).intersect(lightFiles) === lightFiles,
      "a light trickle must be folded, never rewritten")
    assert(light.read().count() === 794L)
    assert(light.rowCountFromMetadata.contains(794L))
    // heavy: one major rewrite — reads are a single pure-file plan again
    assert(heavy.pendingDeleteBatches() === 0)
    assert(heavy.snapshots().map(_._2) === Seq("base"),
      s"heavy table must compact to a pure base, got ${heavy.snapshots()}")
    assert(heavy.read().count() === 500L)
    assert(heavy.rowCountFromMetadata.contains(500L))
    // a second sweep is a no-op for all three
    assert(svc.sweep() === ((0, 0)))
    // POSITIONAL-UPDATE trickle: six keyless mor commits — the minor fold
    // cannot merge a mor's sidecar (its insert data shares the commit),
    // so the sweep must ESCALATE to the major rewrite, not spin
    val pupd = mk("pupd")
    (1 to 6).foreach(i =>
      assert(pupd.updateWherePositional(col("id") === lit(i * 70L),
        Map("v" -> lit(s"u$i")))._1 === 1L))
    assert(pupd.pendingDeleteBatches() === 6)
    val (c2, _) = svc.sweep()
    assert(c2 === 1)
    assert(pupd.pendingDeleteBatches() === 0,
      "mor sidecar pressure must escalate to the major rewrite")
    assert(pupd.snapshots().map(_._2) === Seq("base"),
      s"escalation must leave a pure base, got ${pupd.snapshots()}")
    assert(pupd.read().count() === 800L)
    assert(pupd.rowCountFromMetadata.contains(800L))
    assert(pupd.read().where("v = 'u3'").count() === 1L)
  }

  test("applyEvents is exception-atomic: an invalid mid-batch event leaves " +
    "state, audit log, and a restarted service all at the pre-batch state") {
    // r15 verdict #1: events used to fold into live memory one at a time,
    // so event k's require (unknown role, circular role grant) left
    // events 1..k-1 applied in memory but never audit-logged — phantom
    // state a restart silently lost. The batch now validates against
    // scratch copies first; the live swap happens only after the audit
    // append succeeds (write-ahead ordering).
    import graft.rbac.GrantService.GrantEvent
    val root = freshDir("rbacatomic")
    val g = new GrantService(spark, root)
    g.createRole("base")
    g.grant("base", "SELECT", "adv.t1")
    val preRoles = g.listRoles().toSet
    val preGrants = g.listGrants().toSet
    val preLog = g.auditLog.read().count()
    // a batch that is valid up to event 3, then references an unknown role
    intercept[IllegalArgumentException] {
      g.applyEvents(Seq(
        GrantEvent("etl", "", "", "CREATE_ROLE"),
        GrantEvent("etl", "INSERT", "adv.t1", "GRANT"),
        GrantEvent("base", "UPDATE", "adv.t1", "GRANT"),
        GrantEvent("ghost", "DELETE", "adv.t1", "GRANT"))) // ← fires here
    }
    assert(g.listRoles().toSet == preRoles,
      "no event of the failed batch may survive in memory — not even " +
        "the valid prefix (etl was created by event 1)")
    assert(g.listGrants().toSet == preGrants)
    assert(g.auditLog.read().count() == preLog, "nothing was logged")
    // a mid-batch CIRCULAR role grant aborts the same way
    g.createRole("a"); g.createRole("b")
    g.grantRole("a", "b")
    val edges = g.listRoleGrants().toSet
    intercept[IllegalArgumentException] {
      g.applyEvents(Seq(
        GrantEvent("a", "ALL", "adv.t2", "GRANT"),
        GrantEvent("b", "", g.roleObj("a"), "GRANT_ROLE"))) // the cycle
    }
    assert(!g.hasGrant("a", "ALL", "adv.t2"), "the valid prefix rolled back")
    assert(g.listRoleGrants().toSet == edges)
    // THE RESTART: the log holds exactly the committed history, so a new
    // service lands on the same pre-batch state (no phantom divergence
    // for syncGrantsBetween to diff against)
    val g2 = new GrantService(spark, root)
    assert(g2.listRoles().toSet == g.listRoles().toSet)
    assert(g2.listGrants().toSet == g.listGrants().toSet)
    assert(g2.listRoleGrants().toSet == g.listRoleGrants().toSet)
    // and valid batches still apply whole, as one audit commit
    assert(g.applyEvents(Seq(
      GrantEvent("etl2", "", "", "CREATE_ROLE"),
      GrantEvent("etl2", "INSERT", "adv.t3", "GRANT"))) == 2)
    assert(g.hasGrant("etl2", "INSERT", "adv.t3"))
  }

  test("RBAC replay checkpoints: a restart replays only the log suffix " +
    "past the last state snapshot") {
    // r15 verdict #4: construction replayed the FULL event history —
    // O(all events ever) per restart, the same quiet-growth class as the
    // retired-notes ledger. A state snapshot now persists every
    // CheckpointEvery applied events (write-then-rename + END sentinel);
    // restarts load it and replay the suffix only.
    import graft.rbac.GrantService.GrantEvent
    val root = freshDir("rbacckpt")
    val g = new GrantService(spark, root)
    g.createRole("bulk")
    // one batch crossing the threshold (the sync-path shape: one audit
    // commit), then a small suffix batch past the checkpoint
    val every = graft.rbac.GrantService.CheckpointEvery
    assert(g.applyEvents((1 to every).map(i =>
      GrantEvent("bulk", "SELECT", s"adv.t$i", "GRANT"))) == every)
    assert(g.applyEvents((1 to 7).map(i =>
      GrantEvent("bulk", "INSERT", s"adv.t$i", "GRANT"))) == 7)
    val total = every + 7 + 1 // + CREATE_ROLE
    // control first: state equality must hold under FULL replay too
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckpt = new org.apache.hadoop.fs.Path(root, "state.ckpt")
    assert(fs.exists(ckpt), "crossing the threshold wrote a checkpoint")
    val restarted = new GrantService(spark, root)
    assert(restarted.replayedEvents < total / 2,
      s"a post-checkpoint restart replays the suffix only, " +
        s"not all $total events: replayed ${restarted.replayedEvents}")
    // the full-replay control: delete the checkpoint → every event replays
    fs.delete(ckpt, false)
    val control = new GrantService(spark, root)
    assert(control.replayedEvents == total, "the control replays everything")
    assert(restarted.listRoles().toSet == control.listRoles().toSet)
    assert(restarted.listGrants().toSet == control.listGrants().toSet)
    assert(restarted.listFutureGrants().toSet == control.listFutureGrants().toSet)
    assert(restarted.listRoleGrants().toSet == control.listRoleGrants().toSet)
    // a TORN checkpoint (no END sentinel) degrades to full replay, never
    // to partial state
    val out = fs.create(ckpt, true)
    try out.write("v1 3\nR bulk\n".getBytes("UTF-8")) finally out.close()
    val torn = new GrantService(spark, root)
    assert(torn.replayedEvents == total, "a torn checkpoint is ignored")
    assert(torn.listGrants().toSet == control.listGrants().toSet)
  }

  test("maintenance sweep compacts the RBAC audit log under delta pressure") {
    // r16 verdict #6, wired into the housekeeping loop: many applyEvents
    // batches since the last fold = many append dirs — the same pressure
    // signal the table sweep uses. The sweep compacts only the
    // CHECKPOINTED prefix (it never forces a fresh checkpoint: truncating
    // to the head would be audit policy, not housekeeping).
    import graft.rbac.GrantService.GrantEvent
    val cat = newCatalog("mrbac")
    val root = freshDir("mrbac-audit")
    val gs = new GrantService(spark, root)
    gs.createRole("bulk")
    gs.applyEvents((1 to graft.rbac.GrantService.CheckpointEvery).map(i =>
      GrantEvent("bulk", "SELECT", s"adv.t$i", "GRANT"))) // crosses the checkpoint
    for (i <- 1 to 5) gs.grant("bulk", "INSERT", s"adv.u$i") // post-ckpt tail
    val before = gs.auditLog.read().count()
    val (c, _) = new graft.services.MaintenanceService(cat, grants = Some(gs)).sweep()
    assert(c >= 1, "the sweep counted the audit compaction")
    val after = gs.auditLog.read().count()
    assert(after < before && after >= 5,
      s"prefix folded out, post-checkpoint tail retained: $after of $before")
    // state survives a restart off the compacted log + checkpoint
    val gs2 = new GrantService(spark, root)
    assert(gs2.hasGrant("bulk", "SELECT", "adv.t1"))
    assert(gs2.hasGrant("bulk", "INSERT", "adv.u5"))
    // pressure relieved: an immediate second sweep compacts nothing more
    val (c2, _) = new graft.services.MaintenanceService(cat, grants = Some(gs)).sweep()
    assert(c2 == 0 && gs.auditLog.read().count() == after)
  }

  test("RBAC audit compaction: log truncates below the checkpoint horizon, " +
    "state and tail queries unchanged") {
    // r16 verdict #6: the checkpoint bounded REPLAY but the LogTable grew
    // forever. compactAuditLog folds is-already-folded history out of the
    // log (COW delete + snapshot expiry); the retained window still
    // answers audit queries; restarts replay only the suffix and equal
    // the full-history control state.
    val root = freshDir("rbac-compact")
    val gs = new GrantService(spark, root)
    gs.createRole("ANALYST")
    for (i <- 1 to 20) gs.grant("ANALYST", "SELECT", s"adv.t$i")
    gs.revoke("ANALYST", "SELECT", "adv.t1")
    gs.checkpointNow()
    // the post-checkpoint tail: stays queryable after compaction
    gs.grant("ANALYST", "INSERT", "adv.t_tail")
    val controlState = (gs.listRoles().toSet, gs.listGrants().toSet)
    val before = gs.auditLog.read().count()
    val removed = gs.compactAuditLog()
    assert(removed > 0 && removed < before, s"compacted a strict prefix: $removed of $before")
    val after = gs.auditLog.read()
    assert(after.count() == before - removed)
    assert(after.where($"action" === "GRANT" && $"object" === "adv.t_tail").count() == 1,
      "retained-window audit queries unchanged")
    // a second compaction with no new checkpoint removes nothing more
    assert(gs.compactAuditLog() == 0L || gs.auditLog.read().count() >= 1)
    // restart: suffix-only replay, state equals the full-history control
    val gs2 = new GrantService(spark, root)
    assert(gs2.replayedEvents <= (before - removed),
      s"post-compaction restart replays the suffix only: ${gs2.replayedEvents}")
    assert((gs2.listRoles().toSet, gs2.listGrants().toSet) == controlState)
    assert(!gs2.hasGrant("ANALYST", "SELECT", "adv.t1"), "the folded REVOKE holds")
    // id monotonicity survives compaction: the newest audit row is always
    // retained, so new appends land ABOVE the checkpoint horizon and a
    // further restart replays them
    gs2.grant("ANALYST", "DELETE", "adv.t_new")
    val gs3 = new GrantService(spark, root)
    assert(gs3.hasGrant("ANALYST", "DELETE", "adv.t_new"))
    assert(gs3.hasGrant("ANALYST", "INSERT", "adv.t_tail"))
    // the writeCheckpoint delete→rename crash residue: the fully-written
    // tmp is the ONLY copy — construction HEALS it (promote tmp→ckpt),
    // never refuses (r17 review: post-compaction that residue would
    // otherwise be a permanent startup outage)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckpt = new org.apache.hadoop.fs.Path(root, "state.ckpt")
    val tmp = new org.apache.hadoop.fs.Path(root, "state.ckpt.tmp")
    assert(fs.rename(ckpt, tmp))
    val healed = new GrantService(spark, root)
    assert(healed.hasGrant("ANALYST", "INSERT", "adv.t_tail"), "healed state serves")
    assert(fs.exists(ckpt) && !fs.exists(tmp), "the orphan tmp was promoted")
    // with the checkpoint truly GONE, the refusal is loud — never
    // silently serve the truncated log as full history
    fs.delete(ckpt, false)
    val ex = intercept[IllegalArgumentException] { new GrantService(spark, root) }
    assert(ex.getMessage.contains("compacted"), s"loud refusal names the cause: ${ex.getMessage}")
  }
}
