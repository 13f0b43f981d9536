package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.warehouse.{ScanPlan, SnapshotTable}

/** One timed operation: its class (`upsert`, `ryw_read`, ...), its
  * latency, and whether it ran and passed its check. */
final case class Sample(cls: String, ms: Double, ok: Boolean)

/** What a workload is: a fresh warehouse built by the constructor, an
  * untimed pass over every op class, and a fixed block of timed ops that
  * the harness repeats until the run's time is up. */
trait Workload {
  /** The op class each latency family (`read`, `write`, `cycle`, `sweep`)
    * is measured on: one class per family, so no percentile straddles
    * classes of different cost. */
  def families: Map[String, String]
  def warmUp(): Unit
  def block(): Unit
  /** Checks of the final state; each counts as one attempted op. */
  def finalChecks(): Unit
  /** The tables whose bytes `space_amp` compares with a fresh copy. */
  def tables: Seq[SnapshotTable]
}

/** Runs timed ops for a workload and keeps what the report needs. Latency
  * covers the op's calls into the engine only; checks run after the clock
  * stops. Any throw, and any failed check, counts the op as failed. */
final class Harness(val spark: SparkSession, val tracer: Tracer) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val finals = mutable.ArrayBuffer.empty[(String, Boolean)]
  val plans = mutable.ArrayBuffer.empty[ScanPlan]
  /** Per-op counters a workload reads off the engine's return values. */
  val counters = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var timing = true

  def count(name: String, v: Double): Unit =
    counters.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def plan(p: ScanPlan): Unit = if (timing) plans += p

  /** Runs `body` as one timed op; `check` gets its result and returns an
    * error message, or None when the result is right. Returns the result
    * when the op ran. */
  def op[T](cls: String)(body: => T)(check: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.op(s"op.$cls")(body))
      catch { case e: Throwable => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    val err = res.fold(Some(_), r =>
      try check(r)
      catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") })
    err.foreach(m => System.err.println(s"[perfbench] $cls failed: ${m.take(500)}"))
    if (timing) samples += Sample(cls, ms, err.isEmpty)
    res.toOption
  }

  def finalCheck(name: String)(cond: => Option[String]): Unit = {
    val err =
      try cond
      catch { case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    err.foreach(m => System.err.println(s"[perfbench] final check $name failed: ${m.take(500)}"))
    finals += name -> err.isEmpty
  }

  /** Ops run while warming up are executed and checked but not recorded. */
  def untimed[T](f: => T): T = {
    val prev = timing
    timing = false
    try f finally timing = prev
  }

  def recording: Boolean = timing
}

object Harness {
  /** Bytes of every file under `dir` (0 when it does not exist). */
  def du(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }
}
