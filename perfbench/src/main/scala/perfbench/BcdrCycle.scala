package perfbench

import graft.bcdr.ReplicationService
import graft.catalog.Catalog
import graft.rbac.GrantService
import graft.services.MaintenanceService
import graft.warehouse.SnapshotTable

/** Physical BCDR replication under a DML trickle. Each cycle commits two
  * single-key upserts and one grant change on the primary, runs one
  * replication cycle of a failover group that carries the table and the
  * roles (head cut, physical copy at the cut, metadata validation), and
  * reads the last upserted key back on the secondary. Every fourth cycle
  * runs a primary maintenance sweep before it replicates, so it ships a
  * compacted base; that cycle and the secondary read after it are classes
  * of their own (`replicate_compacted`, `secondary_read_compacted`), so
  * the cycle and read families each hold one class. A block is eight
  * cycles. */
final class BcdrCycle(h: Harness, root: String, seed: Long) extends Workload {
  private val spark = h.spark
  private val tr = h.tracer
  private val group = "ads_group"
  private val pri = new Catalog(spark, s"$root/primary", "pri")
  private val sec = new Catalog(spark, s"$root/secondary", "sec")
  pri.createSchema("ads")
  private val t = pri.table("ads", "impressions")
  t.createOrReplace(AdData.impressions(spark, seed, BcdrCycle.PerCampaign))
  private val model = {
    val df = t.read()
    new KeyModel(spark, df.schema, df.collect(), seed)
  }
  private val pg = new GrantService(spark, s"$root/audit_primary")
  private val sg = new GrantService(spark, s"$root/audit_secondary")
  Seq("ANALYST", "ENGINEER").foreach(pg.createRole)
  pg.grantRole("ANALYST", "ENGINEER")
  pg.grant("ANALYST", "SELECT", "ads.impressions")
  private val repl = new ReplicationService(pri, sec)
  repl.attachGrantServices(pg, sg)
  repl.createGroup(group, Seq(("ads", "impressions")), includeViews = false, includeRoles = true)
  repl.refreshPhysical(group)
  sec.readOnly = true
  private val secT = sec.table("ads", "impressions")
  private val maint = new MaintenanceService(pri, grants = Some(pg))
  private val st = new Statements(h, t, model)
  private var grants = 0

  val families = Map("read" -> "secondary_read", "write" -> "upsert",
    "cycle" -> "replicate", "sweep" -> "sweep")

  /** Grants SELECT on a new report object, or revokes the last one. */
  private def grantChange(): Unit = {
    val obj = s"ads.report_${grants / 2}"
    val granting = grants % 2 == 0
    grants += 1
    h.op("grant") {
      tr.span("rbac.grant") {
        if (granting) pg.grant("ENGINEER", "SELECT", obj) else pg.revoke("ENGINEER", "SELECT", obj)
      }
    } { changed =>
      if (changed && pg.hasGrant("ENGINEER", "SELECT", obj) == granting) None
      else Some(s"grant change on $obj (granting=$granting) did not apply")
    }
  }

  /** `compacted`: the cycle ships what a sweep just compacted. */
  private def cycle(key: String, compacted: Boolean): Unit = {
    val suffix = if (compacted) "_compacted" else ""
    val heads = h.op("replicate" + suffix) {
      val lag = repl.lagMs(group)
      val heads = tr.span("bcdr.heads")(repl.recordHeads(group))
      val copied = tr.span("bcdr.copy")(repl.refreshPhysicalAt(group, heads))
      val verdicts = tr.span("bcdr.validate")(repl.validatePhysical(group).collect())
      (lag, heads, copied, verdicts)
    } { case (lag, _, copied, verdicts) =>
      if (h.recording) {
        h.count("entries_copied", copied.toDouble)
        lag.foreach(l => h.count("lag_ms", l.toDouble))
      }
      val bad = verdicts.filter(_.getAs[String]("verdict") != "MATCH")
      if (bad.nonEmpty) Some(s"validatePhysical: ${bad.mkString(", ")}")
      else if (sg.listGrants().toSet != pg.listGrants().toSet ||
               sg.listRoleGrants().toSet != pg.listRoleGrants().toSet)
        Some("secondary grants differ from the primary's")
      else None
    }.map(_._2)
    // the secondary must answer what the primary held at the cut; nothing
    // commits between the cut and this read, so that is the model's row
    val head = heads.flatMap(_.get(("ads", "impressions")))
    h.op("secondary_read" + suffix) {
      val (df, plan) = tr.span("warehouse.plan")(secT.readWhere(model.where(Seq(key))))
      h.plan(plan)
      tr.span("spark.execute")(df.collect())
    } { rows =>
      if (head != t.currentSnapshotId) Some(s"primary moved past the recorded head $head")
      else model.checkRows("secondary read", Seq(key), rows)
    }
  }

  /** With `sweep`, the primary is maintained just before the replication
    * cycle, which then ships what the sweep compacted. */
  private def oneCycle(sweep: Boolean): Unit = {
    st.upsert()
    val key = st.upsert()
    grantChange()
    if (sweep) st.sweep(maint)
    cycle(key, compacted = sweep)
  }

  def warmUp(): Unit = oneCycle(sweep = true)

  def block(): Unit = for (i <- 1 to 8) oneCycle(sweep = i % 4 == 0)

  def finalChecks(): Unit = {
    st.finalCheck()
    h.finalCheck("secondary matches the model") {
      val (want, got) = (model.summary, model.summaryOf(secT.read()))
      if (want == got) None else Some(s"expected (rows, cost sum, key hash) $want, got $got")
    }
  }

  def tables: Seq[SnapshotTable] = Seq(t, secT)
}

object BcdrCycle {
  /** About 25,000 rows. */
  val PerCampaign = 400
}
