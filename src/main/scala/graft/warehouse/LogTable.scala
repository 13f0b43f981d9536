package graft.warehouse

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Append-only monitoring log with AUTOINCREMENT ids and CURRENT_TIMESTAMP
  * defaults (F19/F7) — the reference's SYNC_LOG / HEARTBEAT_LOG /
  * DRIFT_LOG tables (`scripts/16_sync_task_primary.sql:48-87`).
  *
  * Ids are max(id)+n at append time: contiguous per append batch,
  * monotonic across appends (like a sequence; the reference's
  * AUTOINCREMENT makes the same monotonic-not-gapless promise). Appends
  * write only the delta snapshot (see [[SnapshotTable]]).
  */
final class LogTable(spark: SparkSession, root: String, valueSchema: StructType) {

  val table = new SnapshotTable(spark, root)

  private val fullSchema = StructType(
    StructField("id", LongType, nullable = false) +:
    StructField("log_ts", TimestampType, nullable = false) +:
    valueSchema.fields)

  def ensureExists(): Unit =
    if (!table.exists) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], fullSchema)
      table.createIfNotExists(empty)
    }

  // max(id) from the stats SIDECARS when every live file recorded usable
  // bounds (the log is append-only, so file-level max IS the table max) —
  // a monitoring log appending every 5 minutes must not rescan itself per
  // append (O(n²) in log age); the scan remains only as the fallback for
  // empty/pre-upgrade files
  private def nextId(): Long =
    if (!table.exists) 1L
    else table.columnStats().get("id").flatMap(_.max).flatMap(_.toLongOption)
      .getOrElse(
        table.read().agg(coalesce(max(col("id")), lit(0L))).head().getLong(0)) + 1L

  /** INSERT INTO ... VALUES with generated id + timestamp (D4). */
  def append(rows: Seq[Row]): Unit = {
    ensureExists()
    val base = nextId()
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val full = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq((base + i) +: now +: r.toSeq)
    }
    // a driver-local frame: a small batch is written by the driver, with
    // no Spark job
    table.append(spark.createDataFrame(java.util.Arrays.asList(full: _*), fullSchema))
  }

  def read(): DataFrame = { ensureExists(); table.read() }

  /** Log tail (O2 shape: ORDER BY ts DESC LIMIT n). */
  def tail(n: Int): DataFrame = read().orderBy(col("id").desc).limit(n)
}
