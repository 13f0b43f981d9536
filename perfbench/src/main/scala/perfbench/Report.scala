package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.warehouse.SnapshotTable

/** Minimal JSON rendering: the report's values are numbers, strings,
  * arrays and objects only. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object Stats {
  /** Linear interpolation between the closest ranks (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** A p90 is reported only where at least ten samples lie beyond it. */
  val MinForP90 = 100
}

/** Turns one run's samples, counters and spans into the witness line and
  * the result line. */
final class Report(h: Harness, families: Map[String, String], setupSec: Seq[Double],
                   spaceAmp: Double, gcMs: Double, heapPeakMb: Double, cores: Int) {
  import Stats._

  private val samples = h.samples.toSeq
  private val attempted = samples.size + h.finals.size
  private val failed = samples.count(!_.ok) + h.finals.count(!_._2)
  private def family(f: String): Seq[Double] =
    families.get(f).toSeq.flatMap(cls => samples.filter(_.cls == cls).map(_.ms))

  private val endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", median(setupSec), "s"),
    ("ops_per_s", samples.size / (samples.map(_.ms).sum / 1000.0), "1/s"),
    ("read_p50_ms", median(family("read")), "ms"),
    ("space_amp", spaceAmp, "ratio"))

  // ── trace ────────────────────────────────────────────────────────────

  private lazy val (spans, counts) = h.tracer.finish()
  private lazy val roots = spans.filter(_.parent == -1)
  private def classOf(root: Span): String = root.name.stripPrefix("op.")
  /** Spark work per op id, children included. */
  private lazy val perOp: Map[Int, SparkCounts] = {
    val m = mutable.Map.empty[Int, SparkCounts]
    for ((sid, c) <- counts) m.getOrElseUpdate(spans(sid).op, new SparkCounts).add(c)
    m.toMap
  }
  private def opCounts(r: Span): SparkCounts = perOp.getOrElse(r.op, new SparkCounts)
  private def perOpOf(family: String)(f: SparkCounts => Long): Double = {
    val rs = roots.filter(r => families.get(family).contains(classOf(r)))
    if (rs.isEmpty) 0.0 else rs.map(r => f(opCounts(r)).toDouble).sum / rs.size
  }
  /** Share of each op's wall time its layer spans cover. */
  private lazy val coverage: Seq[Double] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    roots.map { r =>
      val iv = children.getOrElse(r.id, Nil).map(s => (s.startNs, s.endNs)).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      for ((a, b) <- iv) {
        val from = math.max(a, end)
        if (b > from) { covered += b - from; end = b }
      }
      if (r.endNs > r.startNs) covered.toDouble / (r.endNs - r.startNs) else 1.0
    }
  }
  private def spanMs(name: String, inClass: Option[String] = None): Seq[Double] = {
    val rootClass = roots.map(r => r.op -> classOf(r)).toMap
    spans.filter(s => s.name == name && inClass.forall(c => rootClass.get(s.op).contains(c))).map(_.ms)
  }
  private def counter(name: String): Seq[Double] = h.counters.getOrElse(name, Nil).toSeq

  private lazy val perLayer: Seq[(String, Double, String)] = {
    val nOps = math.max(1, roots.size)
    val total = roots.map(opCounts).foldLeft(new SparkCounts) { (a, c) => a.add(c); a }
    val kept = h.plans.map(_.filesKept.toLong).sum
    val all = h.plans.map(_.filesTotal.toLong).sum
    def medOr0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    def maxOr0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.max
    Seq(
      ("warehouse.plan_ms", medOr0(spanMs("warehouse.plan")), "ms"),
      ("warehouse.upsert_ms", medOr0(spanMs("warehouse.upsert")), "ms"),
      ("warehouse.files_kept_ratio", if (all == 0) 0.0 else kept.toDouble / all, "ratio"),
      ("warehouse.commit_bytes", mean(counter("commit_bytes")), "bytes"),
      ("warehouse.live_snapshots_max", maxOr0(counter("live_snapshots")), "count"),
      ("warehouse.pending_delete_batches_max", maxOr0(counter("pending_delete_batches")), "count"),
      ("services.sweep_ms", medOr0(spanMs("services.sweep")), "ms"),
      ("services.sweep_compactions", mean(counter("sweep_compactions")), "count"),
      ("spark.jobs_per_read", perOpOf("read")(_.jobs), "count"),
      ("spark.jobs_per_write", perOpOf("write")(_.jobs), "count"),
      ("spark.jobs_per_sweep", perOpOf("sweep")(_.jobs), "count"),
      ("spark.tasks_per_op", total.tasks.toDouble / nOps, "count"),
      ("spark.exec_cpu_ms", total.cpuNs / 1e6 / nOps, "ms"),
      ("spark.exec_busy_ratio",
        total.runMs / math.max(1e-9, roots.map(_.ms).sum * cores), "ratio"),
      ("spark.shuffle_bytes", total.shuffleBytes.toDouble / nOps, "bytes"),
      ("spark.spill_bytes", total.spillBytes.toDouble / nOps, "bytes"),
      ("spark.execute_ms", medOr0(spanMs("spark.execute", families.get("read"))), "ms"),
      ("jvm.gc_ms", gcMs, "ms"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.overhead_ms", h.tracer.overheadMs / nOps, "ms"),
      ("trace.coverage_min", if (coverage.isEmpty) 0.0 else coverage.min, "ratio"))
  }

  /** Median latency of every layer span the run made, whichever workload
    * exercises it (`warehouse.upsert_ms`, `bcdr.copy_ms`, ...). */
  private lazy val layerTimes: Seq[(String, String)] =
    spans.filter(_.parent >= 0).groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      (n + "_ms") -> Json.obj(Seq("value" -> Json.num(median(ss.map(_.ms))),
        "n" -> Json.num(ss.size.toDouble)))
    }

  /** Spark job and task counts per op class: identical across traced runs
    * when the op sequence's structure is. */
  private lazy val exactCounts: Seq[(String, String)] =
    roots.groupBy(classOf).toSeq.sortBy(_._1).map { case (cls, rs) =>
      val cs = rs.map(opCounts)
      cls -> Json.obj(Seq(
        "ops" -> Json.num(rs.size.toDouble),
        "jobs_per_op" -> Json.num(cs.map(_.jobs).sum.toDouble / rs.size),
        "tasks_per_op" -> Json.num(cs.map(_.tasks).sum.toDouble / rs.size)))
    }

  private def pctEntry(xs: Seq[Double], p: Int): Option[String] =
    if (xs.isEmpty || (p == 90 && xs.size < MinForP90)) None
    else Some(Json.obj(Seq("value" -> Json.num(pct(xs, p)), "n" -> Json.num(xs.size.toDouble))))

  def witness(host: Seq[(String, String)]): String = {
    val classes = samples.groupBy(_.cls).toSeq.sortBy(_._1).map { case (cls, ss) =>
      val ms = ss.map(_.ms)
      cls -> Json.obj(Seq("n" -> Json.num(ms.size.toDouble),
        "mean_ms" -> Json.num(mean(ms))) ++
        pctEntry(ms, 50).map("p50_ms" -> _) ++ pctEntry(ms, 90).map("p90_ms" -> _) :+
        ("ms" -> Json.arr(ms.map(v => Json.num(math.rint(v * 10) / 10)))))
    }
    val percentiles = for {
      f <- Seq("read", "write", "cycle")
      p <- Seq(50, 90)
      e <- pctEntry(family(f), p)
    } yield s"${f}_p${p}_ms" -> e
    val errorPct = if (attempted == 0) 0.0 else 100.0 * failed / attempted
    val traced = if (!h.tracer.enabled) Nil else Seq(
      "layers" -> Json.obj(layerTimes),
      "exact_counts" -> Json.obj(exactCounts ++ Seq(
        "entries_copied" -> Json.arr(counter("entries_copied").map(Json.num)),
        "live_snapshots" -> Json.arr(counter("live_snapshots").map(Json.num)))),
      "coverage_p50" -> Json.num(if (coverage.isEmpty) 0.0 else median(coverage))) ++
      // replication lag when a cycle starts: the RPO the closed loop achieves
      counter("lag_ms").headOption.map(_ => "bcdr.lag_ms" -> Json.num(median(counter("lag_ms")))) ++
      counter("route_hit").headOption.map(_ => "mv.route_hit_ratio" -> Json.num(mean(counter("route_hit"))))
    Json.obj(Seq("witness" -> Json.obj(host), "percentiles" -> Json.obj(percentiles),
      "error_pct" -> Json.num(errorPct), "classes" -> Json.obj(classes)) ++ traced)
  }

  def result(traced: Boolean): String = {
    val metrics = (if (traced) perLayer else endToEnd).map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    Json.obj(Seq("correct" -> (if (failed == 0 && attempted > 0) "true" else "false"),
      "attempted" -> Json.num(attempted.toDouble), "failed" -> Json.num(failed.toDouble),
      "metrics" -> Json.obj(metrics)))
  }

  def writeSpans(path: String): Unit = {
    val lines = spans.map { s =>
      val c = counts.get(s.id)
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
        "name" -> Json.str(s.name), "start_ns" -> Json.num(s.startNs.toDouble),
        "end_ns" -> Json.num(s.endNs.toDouble)) ++ c.toSeq.flatMap(c => Seq(
        "jobs" -> Json.num(c.jobs.toDouble), "tasks" -> Json.num(c.tasks.toDouble),
        "cpu_ns" -> Json.num(c.cpuNs.toDouble), "shuffle_bytes" -> Json.num(c.shuffleBytes.toDouble),
        "spill_bytes" -> Json.num(c.spillBytes.toDouble))))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Report {
  /** Bytes under the tables' roots over the bytes of the same live rows
    * written once as plain parquet. */
  def spaceAmp(spark: SparkSession, tables: Seq[SnapshotTable], scratch: String): Double = {
    val onDisk = tables.map(t => Harness.du(spark, t.root)).sum
    val fresh = tables.zipWithIndex.map { case (t, i) =>
      val dir = s"$scratch/$i"
      t.read().write.mode("overwrite").parquet(dir)
      Harness.du(spark, dir)
    }.sum
    Main.delete(spark, scratch)
    onDisk.toDouble / fresh
  }
}
