package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.bcdr.ReplicationService
import graft.catalog.Catalog
import graft.warehouse.{SnapshotTable, StampedCache}

/** A pruned point read runs ONE Spark job, the scan itself: snapshot-dir
  * schemas come from one footer read on the driver (no inference job),
  * and a small equality-delete set folds as a predicate (no broadcast
  * job) — captured at commit, or read from the sidecar on the driver. */
class ReadJobsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String =
    s"${sys.props("user.dir")}/target/test-wh/${java.util.UUID.randomUUID().toString.take(8)}/$name"

  /** Spark jobs `f` launches from this thread (tagged by a job group, so
    * events of earlier work still on the listener bus never count). */
  private def jobsOf[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"read-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        if (jobStart.properties != null &&
            jobStart.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "read jobs", interruptOnCancel = false)
    try {
      val r = f
      Thread.sleep(500) // listener bus is async; give any job event time to land
      (r, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def mor(name: String): SnapshotTable = {
    val t = new SnapshotTable(spark, freshRoot(name))
    t.createOrReplace(spark.range(400).toDF("id")
      .withColumn("v", concat(lit("v"), col("id")))
      .repartitionByRange(4, col("id")), sortBy = Seq("id"))
    t.upsertByKeys(Seq((7L, "UP")).toDF("id", "v"), Seq("id"))
    t.deleteByKeys(Seq("id"), Seq(9L).toDF("id"))
    t
  }

  private def pointRead(t: SnapshotTable, k: Long): (Seq[(Long, String)], Int) =
    jobsOf(t.readWhere(col("id") === k)._1.as[(Long, String)].collect().toSeq)

  private def antiJoins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }.size

  test("a single-key point read on a MoR table runs exactly one job: " +
    "captured keys, uncaptured keys, and a physically replicated secondary") {
    val t = mor("one-job")
    val (captured, n1) = pointRead(t, 7L)
    assert(captured === Seq((7L, "UP")))
    assert(n1 === 1, s"captured keys: the scan alone, saw $n1 jobs")
    // a fresh process: no capture, no cached dir schema or marker
    StampedCache.shared.evictRoot(t.qualifiedRoot)
    val (fresh, n2) = pointRead(t, 7L)
    assert(fresh === Seq((7L, "UP")))
    assert(n2 === 1, s"uncaptured keys: the scan alone, saw $n2 jobs")
    assert(StampedCache.shared.names(t.qualifiedRoot)
        .count(_.endsWith(".delkeys")) === 2,
      "the driver-read key sets are cached under the capture's entry names")
    assert(pointRead(t, 9L) === ((Seq.empty, 1)))

    val primary = new Catalog(spark, freshRoot("one-job-pri"), "pri")
    val secondary = new Catalog(spark, freshRoot("one-job-sec"), "sec")
    secondary.readOnly = true
    primary.createSchema("adv")
    val p = primary.table("adv", "imps")
    p.createOrReplace(spark.range(400).toDF("id")
      .withColumn("v", concat(lit("v"), col("id"))))
    val repl = new ReplicationService(primary, secondary)
    repl.createGroup("core", Seq(("adv", "imps")), includeViews = false)
    repl.refreshPhysical("core")
    p.upsertByKeys(Seq((11L, "UP11")).toDF("id", "v"), Seq("id"))
    p.deleteByKeys(Seq("id"), Seq(12L).toDF("id"))
    repl.refreshPhysicalAt("core", repl.recordHeads("core"))
    val st = secondary.table("adv", "imps")
    val (mirrored, n3) = pointRead(st, 11L)
    assert(mirrored === Seq((11L, "UP11")))
    assert(n3 === 1, s"replicated secondary: the scan alone, saw $n3 jobs")
    assert(pointRead(st, 12L) === ((Seq.empty, 1)))
  }

  test("a point read through a positional-delete sidecar plans no job " +
    "and folds the same rows") {
    val t = new SnapshotTable(spark, freshRoot("pdel-jobs"))
    t.createOrReplace(spark.range(100).toDF("id")
      .withColumn("v", concat(lit("v"), col("id"))))
    t.deleteWherePositional(col("v") === "v5")
    t.append(Seq((5L, "again")).toDF("id", "v"))
    val (plan, planJobs) = jobsOf(t.readWhere(col("id") <= 6L)._1)
    assert(planJobs === 0, s"planning the read must launch no job, saw $planJobs")
    val (rows, runJobs) = jobsOf(plan.as[(Long, String)].collect().toSet)
    assert(rows === ((0L to 6L).filter(_ != 5L).map(i => (i, s"v$i")).toSet + ((5L, "again"))))
    assert(runJobs === 2, s"the data scan and the sidecar's broadcast scan only, saw $runJobs")
  }

  /** `t` read as a Set, against `before` anti-joined with `deleted` by Spark. */
  private def assertAntiJoinRows(t: SnapshotTable, before: DataFrame,
                                 deleted: DataFrame, key: String): Unit = {
    val expected = before.join(deleted, Seq(key), "left_anti").collect().toSet
    assert(t.read().collect().toSet === expected)
  }

  test("the predicate fold keeps NULL data keys and re-inserted keys, " +
    "exactly as the anti-join does") {
    val t = new SnapshotTable(spark, freshRoot("fold-null"))
    val base = Seq[(Option[Long], String)]((Some(1L), "a"), (Some(2L), "b"),
      (None, "n"), (Some(3L), "c")).toDF("id", "v")
    t.createOrReplace(base)
    // a NULL requested key matches nothing, on either build side
    val keys = spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(2L), org.apache.spark.sql.Row(null)),
      org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types
        .StructField("id", org.apache.spark.sql.types.LongType))))
    t.deleteByKeys(Seq("id"), keys)
    assert(antiJoins(t.read()) === 0, "a small single-key set folds as a predicate")
    assertAntiJoinRows(t, base, keys, "id")
    StampedCache.shared.evictRoot(t.qualifiedRoot)
    assert(antiJoins(t.read()) === 0, "the driver-read set folds as a predicate too")
    assertAntiJoinRows(t, base, keys, "id")
    // the sequence rule: a key re-inserted after its delete survives
    t.append(Seq((Option(2L), "again")).toDF("id", "v"))
    assert(t.read().where("id = 2").as[(Long, String)].collect().toSeq ===
      Seq((2L, "again")))
    assert(t.read().count() === 4L)
  }

  test("a growing folded key set compiles no new scan code and folds the same rows, " +
    "on both sides of the InSet conversion threshold") {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val t = new SnapshotTable(spark, freshRoot("fold-codegen"))
    val base = spark.range(400).toDF("id").withColumn("v", concat(lit("v"), col("id")))
    t.createOrReplace(base)
    val threshold = spark.sessionState.conf.optimizerInSetConversionThreshold
    // one delete statement per key: the fold's set grows by one each time
    val compiles = (0L to threshold + 3L).map { k =>
      t.deleteByKeys(Seq("id"), Seq(k).toDF("id"))
      val before = METRIC_COMPILATION_TIME.getCount
      val df = t.read()
      assert(antiJoins(df) === 0, s"set of ${k + 1} keys folds as a predicate")
      assert(df.as[(Long, String)].collect().toSet ===
        (k + 1 until 400L).map(i => (i, s"v$i")).toSet, s"set of ${k + 1} keys")
      METRIC_COMPILATION_TIME.getCount - before
    }
    // the first read compiles the scan; every larger set up to the
    // threshold reuses it (an IN list compiled one class per set size)
    assert(compiles.slice(1, threshold).forall(_ == 0L),
      s"compiles per read, by set size: ${compiles.mkString(", ")}")
  }

  test("a widened key, a floating-point key and a large group keep the anti-join") {
    // widen int → long after the delete: the set's type no longer equals
    // the data column's
    val w = new SnapshotTable(spark, freshRoot("fold-widen"))
    val wBase = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    w.createOrReplace(wBase)
    w.deleteByKeys(Seq("id"), Seq(2).toDF("id"))
    w.widenColumn("id", "bigint")
    assert(antiJoins(w.read()) === 1, "a widened key epoch anti-joins")
    assert(w.read().as[(Long, String)].collect().toSet === Set((1L, "a"), (3L, "c")))

    val d = new SnapshotTable(spark, freshRoot("fold-double"))
    val dBase = Seq((1.5, "a"), (2.5, "b"), (Double.NaN, "nan")).toDF("d", "v")
    d.createOrReplace(dBase)
    val dKeys = Seq(2.5, Double.NaN).toDF("d")
    d.deleteByKeys(Seq("d"), dKeys)
    assert(antiJoins(d.read()) === 1, "floating-point keys anti-join")
    assertAntiJoinRows(d, dBase, dKeys, "d")

    val big = new SnapshotTable(spark, freshRoot("fold-big"))
    val bigBase = spark.range(10000).toDF("id").withColumn("v", col("id") % 7)
    big.createOrReplace(bigBase)
    val bigKeys = spark.range(0, 10000, 2).toDF("id") // 5000 > the small cap
    big.deleteByKeys(Seq("id"), bigKeys)
    StampedCache.shared.evictRoot(big.qualifiedRoot)
    val (df, planJobs) = jobsOf(big.read())
    assert(planJobs === 0, s"the sidecar read infers no schema, saw $planJobs jobs")
    assert(antiJoins(df) === 1, "a group past SmallSidecarRowCap anti-joins")
    assert(StampedCache.shared.names(big.qualifiedRoot).count(_.endsWith(".delkeys")) === 0)
    assertAntiJoinRows(big, bigBase, bigKeys, "id")
  }

  test("the footer schema is Spark's inferred schema") {
    import org.apache.hadoop.fs.Path
    def check(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
      val dir = freshRoot(name)
      df.write.partitionBy(partitionBy: _*).parquet(dir)
      val file = new java.io.File(dir).listFiles().flatMap(f =>
          if (f.isDirectory) f.listFiles().toSeq else Seq(f))
        .find(_.getName.endsWith(".parquet")).get
      val footer = SnapshotTable.footerSchema(spark, new Path(file.toURI))
      assert(spark.read.schema(footer).parquet(dir).schema ===
        spark.read.parquet(dir).schema, name)
    }
    val base = spark.range(20).toDF("id")
    check("hive", base.withColumn("day", col("id") % 3), Seq("day"))
    check("decimal", base.withColumn("amt", (col("id") / 7).cast("decimal(12,4)"))
      .withColumn("big", col("id").cast("decimal(30,2)")))
    check("datetime", base.withColumn("d", date_add(lit("2024-01-01").cast("date"),
        col("id").cast("int")))
      .withColumn("ts", timestamp_seconds(col("id")))
      .withColumn("ntz", to_timestamp_ntz(lit("2024-01-01 00:00:00"))))
    check("nested", base.withColumn("s", struct(col("id").as("a"),
      array(col("id")).as("xs"), map(lit("k"), col("id")).as("m"))))
    check("renamed", base.withColumn("v", col("id") * 2).withColumnRenamed("v", "renamed"))
  }
}
