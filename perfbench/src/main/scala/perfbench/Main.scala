package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  * {{{
  * Main --workload dml_trickle|bcdr_cycle --seed N --seconds S
  *      --trace 0|1 --work DIR --out FILE
  * }}}
  *
  * builds the workload's warehouse [[Setups]] times, each into a new root
  * under `DIR` (the last one is kept), then runs as many whole blocks of
  * timed ops as fit in `S` seconds (at least one), and writes two JSON
  * lines to `FILE`: a witness (host, percentiles of every op class with
  * their sample counts, the metrics only this workload has) and the
  * result (`correct`, `attempted`, `failed`, `metrics`). With `--trace 1`
  * it also writes the spans to `FILE.spans.jsonl`. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 2
  /** Spark `local[k]`: at k = 2 the executors are already idle most of
    * the time; the workloads wait on job planning and scheduling. */
  val Cores: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = opt("work")
    val out = opt("out")
    val loadStart = load1m()

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(traced, spark.sparkContext)
    val h = new Harness(spark, tracer)

    def build(root: String): Workload = workload match {
      case "dml_trickle" => new DmlTrickle(h, root, seed)
      case "bcdr_cycle" => new BcdrCycle(h, root, seed)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: the first one runs from JVM start; each later one builds a
    // new root at the same seed, so their median is steady and still
    // includes every step of building the warehouse
    val setupSec = mutable.ArrayBuffer.empty[Double]
    var w: Workload = null
    var prevRoot: Option[String] = None
    for (i <- 0 until Setups) {
      val t0 = if (i == 0) ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
               else System.currentTimeMillis() * 1000000L
      val root = s"$work/root-$i"
      w = build(root)
      h.untimed(w.warmUp())
      setupSec += (System.currentTimeMillis() * 1000000L - t0) / 1e9
      prevRoot.foreach(r => delete(spark, r))
      prevRoot = Some(root)
    }

    // timed phase: whole blocks (each one a fixed mix of op classes), as
    // many as fit in `seconds` going by the last block's length; at least one
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    tracer.recording = true
    val t0 = System.nanoTime()
    var blocks = 0
    var last = 0L
    while (blocks == 0 || System.nanoTime() - t0 + last <= seconds * 1000000000L) {
      val b0 = System.nanoTime()
      w.block()
      last = System.nanoTime() - b0
      blocks += 1
    }
    val wallSec = (System.nanoTime() - t0) / 1e9
    tracer.recording = false
    val gcMs = (gcBeans.map(_.getCollectionTime).sum - gc0).toDouble
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    val c0 = System.nanoTime()
    w.finalChecks()
    val spaceAmp = Report.spaceAmp(spark, w.tables, s"$work/fresh")
    val checkSec = (System.nanoTime() - c0) / 1e9
    val loadEnd = load1m()
    val host = Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed.toDouble),
      "seconds" -> Json.num(seconds.toDouble), "trace" -> Json.num(if (traced) 1 else 0),
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors.toDouble),
      "k" -> Json.num(Cores.toDouble),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "load1m_start" -> Json.num(loadStart), "load1m_end" -> Json.num(loadEnd),
      "blocks" -> Json.num(blocks.toDouble), "timed_wall_s" -> Json.num(wallSec),
      "final_checks_s" -> Json.num(checkSec),
      "setup_s_each" -> Json.arr(setupSec.map(Json.num).toSeq))
    val report = new Report(h, w.families, setupSec.toSeq, spaceAmp, gcMs, heapPeakMb, Cores)
    if (traced) report.writeSpans(out + ".spans.jsonl")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      report.witness(host) + "\n" + report.result(traced) + "\n")
    spark.stop()
  }

  private def load1m(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
