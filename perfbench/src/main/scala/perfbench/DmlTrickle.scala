package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.catalog.Catalog
import graft.mv.MaterializedViewManager
import graft.services.MaintenanceService
import graft.warehouse.SnapshotTable

/** Writes beside reads on one table: a closed loop of single-key MoR
  * upserts, single-key deletes and small appends, each followed by a
  * read-your-write point read. Every six statements end with a
  * maintenance sweep; every twelve with an incremental refresh of an
  * aggregate MV over the table and three analyst reads: the aggregate
  * routed to that MV, the MV itself, and a daily-rollup view over the
  * table. A block is two such rounds. The read family is the
  * read-your-write read after an upsert; the reads after a delete
  * (nothing to return) or an append are cheaper and are classes of their
  * own. */
final class DmlTrickle(h: Harness, root: String, seed: Long) extends Workload {
  private val spark = h.spark
  private val tr = h.tracer
  private val cat = new Catalog(spark, s"$root/warehouse", "dml")
  cat.createSchema("ads")
  private val t = cat.table("ads", "impressions")
  t.createOrReplace(AdData.impressions(spark, seed, DmlTrickle.PerCampaign))
  private val model = {
    val df = t.read()
    new KeyModel(spark, df.schema, df.collect(), seed)
  }
  private val mvm = new MaterializedViewManager(cat)
  mvm.createAggMv("cost_by_campaign", ("ads", "impressions"), Seq("campaign_id"), Seq("cost_usd"))
  mvm.enableRewrite("cost_by_campaign")
  cat.createOrReplaceView("ads", "impressions_daily",
    AdData.impressionsDaily(cat.qualified("ads", "impressions")))
  private val maint = new MaintenanceService(cat)
  private val st = new Statements(h, t, model)

  val families = Map("read" -> "ryw_read", "write" -> "upsert", "sweep" -> "sweep")

  private def statement(kind: Char): Unit = kind match {
    case 'U' => st.read("ryw_read", Seq(st.upsert()))
    case 'D' => st.read("ryw_read_deleted", Seq(st.delete()))
    case 'A' => st.read("ryw_read_appended", st.append(DmlTrickle.AppendRows))
  }

  /** (campaign → (rows, cost sum)) of a result with those three columns. */
  private def perCampaign(rows: Array[Row], n: String, cost: String): Map[String, (Long, BigDecimal)] =
    rows.map(r => r.getString(r.fieldIndex("campaign_id")) ->
      (r.getAs[Number](n).longValue, BigDecimal(r.getDecimal(r.fieldIndex(cost)))))
      .filter(_._2._1 != 0L).toMap

  private def sameAsModel(what: String, got: Map[String, (Long, BigDecimal)]): Option[String] = {
    val want = model.byCampaign
    if (got == want) None
    else Some(s"$what differs from the model in ${
      (got.keySet ++ want.keySet).count(c => got.get(c) != want.get(c))} campaigns")
  }

  private def refresh(): Unit =
    h.op("mv_refresh")(tr.span("mv.refresh")(mvm.refreshIncremental("cost_by_campaign"))) { _ =>
      sameAsModel("MV after refresh", perCampaign(mvm.read("cost_by_campaign").collect(), "n_rows", "sum_cost_usd"))
    }

  /** Routed when every relation the optimized plan scans is an MV table —
    * the check q101 makes, read off relations rather than plan text. */
  private def routed(): Unit =
    h.op("routed_agg") {
      val df = tr.span("mv.route") {
        val d = t.read().groupBy(col("campaign_id"))
          .agg(count(lit(1)).as("n"), sum(col("cost_usd")).as("cost"))
        val scans = d.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
        }.flatten
        if (h.recording) h.count("route_hit", if (scans.nonEmpty && scans.forall(_.contains("/_mv/"))) 1 else 0)
        d
      }
      tr.span("spark.execute")(df.collect())
    }(rows => sameAsModel("routed aggregate", perCampaign(rows, "n", "cost")))

  private def mvRead(): Unit =
    h.op("mv_read") {
      val df = tr.span("mv.read")(mvm.read("cost_by_campaign"))
      tr.span("spark.execute")(df.collect())
    }(rows => sameAsModel("MV read", perCampaign(rows, "n_rows", "sum_cost_usd")))

  private def viewRead(): Unit =
    h.op("view") {
      val df = tr.span("catalog.query_view")(cat.queryView("ads", "impressions_daily"))
      tr.span("spark.execute")(df.collect())
    } { rows =>
      val got = rows.map(r => r.toSeq.map {
        case d: java.math.BigDecimal => d.toPlainString
        case v => v
      }.mkString("|")).toSet
      val want = model.daily
      if (rows.length == want.size && got == want) None
      else Some(s"view impressions_daily: ${(got -- want).size} rows differ from the model")
    }

  private def analyse(): Unit = {
    refresh()
    routed()
    mvRead()
    viewRead()
  }

  def warmUp(): Unit = {
    "UDA".foreach(statement)
    st.sweep(maint)
    analyse()
  }

  def block(): Unit =
    for (_ <- 1 to DmlTrickle.Rounds) {
      for (run <- DmlTrickle.Pattern) {
        run.foreach(statement)
        st.sweep(maint)
      }
      analyse()
    }

  def finalChecks(): Unit = st.finalCheck()

  def tables: Seq[SnapshotTable] = Seq(t)
}

object DmlTrickle {
  /** About 50,000 rows. */
  val PerCampaign = 800
  val AppendRows = 5
  /** A round's statements, with a sweep after each run of them:
    * U = upsert, D = delete, A = append of [[AppendRows]] new rows. */
  val Pattern = Seq("UUDUUA", "UUAUUD")
  /** Rounds per block: two make a block of about 30 s, so that a run's
    * read and write medians rest on 16 samples each and its latencies
    * average over more of the host's swings in speed. */
  val Rounds = 2
}
