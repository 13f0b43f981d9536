package perfbench

import graft.services.MaintenanceService
import graft.warehouse.SnapshotTable

/** Single-key DML statements against one table, each a timed `write` op,
  * with the model kept in step. In a traced run each statement is followed
  * (untimed) by a look at the table's bytes, snapshots and pending delete
  * sidecars. */
final class Statements(h: Harness, t: SnapshotTable, m: KeyModel) {
  private val tr = h.tracer

  private def probed[T](f: => T): T =
    if (!(tr.enabled && h.recording)) f
    else {
      val before = Harness.du(h.spark, t.root)
      val r = f
      h.count("commit_bytes", (Harness.du(h.spark, t.root) - before).toDouble)
      h.count("live_snapshots", t.snapshots().size.toDouble)
      h.count("pending_delete_batches", t.pendingDeleteBatches().toDouble)
      r
    }

  def upsert(): String = {
    val k = m.pickKey()
    val row = m.updated(k)
    probed(h.op("upsert") {
      tr.span("warehouse.upsert")(t.upsertByKeys(m.df(Seq(row)), Seq(m.key)))
    } { case (replaced, inserted) =>
      m.put(row)
      if ((replaced, inserted) == (1L, 1L)) None
      else Some(s"upsert $k replaced $replaced, inserted $inserted")
    })
    k
  }

  def delete(): String = {
    val k = m.pickKey()
    probed(h.op("delete") {
      tr.span("warehouse.delete")(t.deleteByKeys(Seq(m.key), m.keysDf(Seq(k))))
    } { case (n, _) =>
      m.remove(k)
      if (n == 1L) None else Some(s"delete $k removed $n rows")
    })
    k
  }

  def append(n: Int): Seq[String] = {
    val rows = m.newRows(n)
    probed(h.op("append") {
      tr.span("warehouse.append")(t.append(m.df(rows)))
    } { _ => rows.foreach(m.put); None })
    rows.map(_.getString(m.schema.fieldIndex(m.key)))
  }

  /** Pruned read of `ks`, checked against the model. */
  def read(cls: String, ks: Seq[String]): Unit =
    h.op(cls) {
      val (df, plan) = tr.span("warehouse.plan")(t.readWhere(m.where(ks)))
      h.plan(plan)
      tr.span("spark.execute")(df.collect())
    }(rows => m.checkRows(cls, ks, rows))

  def sweep(maint: MaintenanceService): Unit =
    h.op("sweep")(tr.span("services.sweep")(maint.sweep())) { case (compacted, _) =>
      if (h.recording) h.count("sweep_compactions", compacted.toDouble)
      None
    }

  def finalCheck(): Unit = h.finalCheck(s"table ${t.root} matches the model") {
    val (want, got) = (m.summary, m.summaryOf(t.read()))
    if (want == got) None else Some(s"expected (rows, cost sum, key hash) $want, got $got")
  }
}
