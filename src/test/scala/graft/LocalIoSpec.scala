package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.bcdr.ReplicationService
import graft.catalog.Catalog
import graft.rbac.GrantService
import graft.warehouse.{LocalFs, SnapshotTable}

/** Local-warehouse I/O: the engine's own file operations and its
  * single-row statements start no OS process (Hadoop's local file system
  * runs `chmod` per created file and `ls -ld` per listed status), small
  * local batches are written by the driver with no Spark job, and what
  * the driver writes reads back exactly as Spark's write does. */
class LocalIoSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String =
    s"${sys.props("user.dir")}/target/test-wh/${java.util.UUID.randomUUID().toString.take(8)}/$name"

  /** `f`'s result and the commands of the OS processes the JVM started
    * while it ran (JFR `jdk.ProcessStart`), each with its top frames. */
  private def processStarts[T](f: => T): (T, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val r = try f finally rec.stop()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(file)
      val events = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
      (r, events.map { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.take(12))
          .map(fr => s"${fr.getMethod.getType.getName}.${fr.getMethod.getName}")
        s"${e.getString("command")} at ${frames.mkString(" < ")}"
      })
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  /** Spark jobs `f` launches from this thread (tagged by a job group). */
  private def jobsOf[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"local-io-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        if (jobStart.properties != null &&
            jobStart.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "local io", interruptOnCancel = false)
    try {
      val r = f
      Thread.sleep(500) // listener bus is async; give any job event time to land
      (r, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def base(root: String): SnapshotTable = {
    val t = new SnapshotTable(spark, root)
    t.createOrReplace(spark.range(400).toDF("id")
      .withColumn("v", concat(lit("v"), col("id")))
      .repartitionByRange(4, col("id")))
    t
  }

  test("single-row statements, point reads, a grant and a replication cycle " +
    "on file: roots start no process") {
    val t = base(freshRoot("nofork"))
    val primary = new Catalog(spark, freshRoot("nofork-pri"), "pri")
    val secondary = new Catalog(spark, freshRoot("nofork-sec"), "sec")
    primary.createSchema("ads")
    val pt = primary.table("ads", "events")
    pt.createOrReplace(spark.range(200).toDF("id").withColumn("v", concat(lit("v"), col("id"))))
    val pg = new GrantService(spark, freshRoot("nofork-audit-pri"))
    val sg = new GrantService(spark, freshRoot("nofork-audit-sec"))
    pg.createRole("ANALYST")
    val repl = new ReplicationService(primary, secondary)
    repl.attachGrantServices(pg, sg)
    repl.createGroup("g", Seq(("ads", "events")), includeViews = false, includeRoles = true)
    repl.refreshPhysical("g")
    secondary.readOnly = true
    val st = secondary.table("ads", "events")

    var n = 0
    // one round of every operation; `k` keeps keys and objects fresh
    def round(k: Long): Seq[(String, Seq[String])] = Seq(
      "upsertByKeys" -> processStarts(
        t.upsertByKeys(Seq((k, s"up$k")).toDF("id", "v"), Seq("id")))._2,
      "deleteByKeys" -> processStarts(t.deleteByKeys(Seq("id"), Seq(k + 1).toDF("id")))._2,
      "append" -> processStarts(
        t.append((0 until 5).map(i => (1000L + 10 * k + i, "a")).toDF("id", "v")))._2,
      "readWhere" -> processStarts(t.readWhere(col("id") === k)._1.collect())._2,
      "grant" -> processStarts(pg.grant("ANALYST", "SELECT", s"ads.obj$k"))._2,
      "replication cycle" -> processStarts {
        pt.upsertByKeys(Seq((k, s"p$k")).toDF("id", "v"), Seq("id"))
        repl.refreshPhysicalAt("g", repl.recordHeads("g"))
        n += 1
      }._2,
      "secondary point read" -> processStarts(
        st.readWhere(col("id") === k)._1.as[(Long, String)].collect().toSeq)._2)

    round(3L) // warm-up: first-use class initialisation may start processes
    // Spark's executor heartbeat reads the page size (`getconf PAGESIZE`)
    // once per JVM, on its own timer: initialise that class up front
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val starts = round(7L).filter(_._2.nonEmpty)
    assert(starts.isEmpty, starts.map { case (op, cmds) =>
      s"$op started ${cmds.size}: ${cmds.take(3).mkString("; ")}" }.mkString("\n"))

    assert(t.readWhere(col("id") === 7L)._1.as[(Long, String)].collect().toSeq ===
      Seq((7L, "up7")))
    assert(t.readWhere(col("id") === 8L)._1.count() === 0)
    assert(st.readWhere(col("id") === 7L)._1.as[(Long, String)].collect().toSeq ===
      Seq((7L, "p7")))
    assert(sg.listGrants().toSet === pg.listGrants().toSet)
    assert(n === 2)
  }

  test("a pruned read plans exactly the files a full-dir read scans: " +
    "_- and .-prefixed entries are skipped") {
    val t = new SnapshotTable(spark, freshRoot("listing"))
    t.createOrReplace(spark.range(100).toDF("id").withColumn("v", col("id") * 2).repartition(2))
    val dir = new java.io.File(f"${t.root}/snap-${t.currentSnapshotId.get}%05d")
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
    // debris a crashed Spark task leaves, and a hidden file
    val stray = dir.toPath.resolve("_temporary/0/_temporary/attempt_0/part-stray.parquet")
    Files.createDirectories(stray.getParent)
    Files.copy(part, stray)
    Files.copy(part, dir.toPath.resolve(".hidden.parquet"))
    val (pruned, plan) = t.readWhere(col("id") >= 0L)
    assert(plan.filesTotal === 2 && plan.filesKept === 2)
    assert(pruned.count() === 100 && t.read().count() === 100)
  }

  test("a file whose double column holds a NaN keeps its other rows " +
    "for pruned point reads and deletes") {
    val rows = Seq((1.5, "a"), (2.5, "b"), (Double.NaN, "nan"))
    // one Spark-written file and one driver-written file, each holding all three
    val tables = Seq(rows.toDF("d", "v").repartition(1), rows.toDF("d", "v")).zipWithIndex
      .map { case (df, i) =>
        val t = new SnapshotTable(spark, freshRoot(s"nan-$i"))
        t.createOrReplace(df)
        t
      }
    tables.foreach { t =>
      assert(t.readWhere(col("d") === 2.5)._1.as[(Double, String)].collect().toSeq ===
        Seq((2.5, "b")), t.root)
      assert(t.deleteByKeys(Seq("d"), Seq(1.5).toDF("d"))._1 === 1L, t.root)
      assert(t.read().count() === 2L)
    }
  }

  private val typed = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("amount", DecimalType(12, 2)),
    StructField("day", DateType, nullable = false),
    StructField("ts", TimestampType),
    StructField("name", StringType)))

  private def typedRows: Seq[Row] = (0 until 6).map { i =>
    Row(i.toLong, if (i == 2) null else java.math.BigDecimal.valueOf(1234L * i + 5, 2),
      java.sql.Date.valueOf(s"2024-03-0${i + 1}"),
      if (i == 4) null else java.sql.Timestamp.valueOf(s"2024-03-01 10:0$i:00.123456"),
      if (i == 1) null else s"n$i")
  }

  /** The `.stats` lines of `t`'s head snapshot, the file name cut off. */
  private def statsLines(t: SnapshotTable): Seq[String] = {
    val id = t.currentSnapshotId.get
    Files.readAllLines(Paths.get(f"${t.root}/snap-$id%05d.stats")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('|').drop(1).mkString("|"))
  }

  private def withTimestampType[T](tpe: String)(f: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, tpe)
    try f finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a driver-written small batch reads, counts and prunes exactly as " +
    "Spark's write of the same rows") {
    Seq("INT96", "TIMESTAMP_MICROS").foreach { tsType =>
      withTimestampType(tsType) {
        val local = spark.createDataFrame(typedRows.asJava, typed)
        val distributed = spark.createDataFrame(spark.sparkContext.parallelize(typedRows, 1), typed)
        val d = new SnapshotTable(spark, freshRoot(s"driver-$tsType"))
        val s = new SnapshotTable(spark, freshRoot(s"spark-$tsType"))
        val (_, driverJobs) = jobsOf(d.createOrReplace(local))
        val (_, sparkJobs) = jobsOf(s.createOrReplace(distributed))
        assert(driverJobs === 0, s"$tsType: the driver writes a local batch")
        assert(sparkJobs >= 1)
        assert(new java.io.File(d.root).listFiles().exists(f =>
          f.isDirectory && f.list().contains("part-00000-driver.parquet")))

        def rows(t: SnapshotTable) = t.read().collect().map(_.toString).sorted.toSeq
        assert(rows(d) === rows(s), tsType)
        assert(rows(d).size === 6)
        assert(d.read().schema === s.read().schema, tsType)
        assert(d.read().schema.forall(_.nullable), "file sources read nullable")
        assert(statsLines(d) === statsLines(s), tsType)
        assert(d.rowCountFromMetadata === Some(6L))
        assert(d.rowCountFromMetadata === s.rowCountFromMetadata)
        // appends mix driver- and task-written files in one read
        d.append(distributed)
        s.append(local)
        assert(rows(d) === rows(s), tsType)
        assert(d.rowCountFromMetadata === Some(12L))
        val k = col("ts") === lit(java.sql.Timestamp.valueOf("2024-03-01 10:03:00.123456"))
        assert(d.readWhere(k)._1.count() === 2)
        assert(d.readWhere(k)._2.filesKept === s.readWhere(k)._2.filesKept)
      }
    }
  }

  test("partitioned and sorted tables and a past-cap local batch keep one " +
    "Spark write job") {
    def frame(n: Int): DataFrame =
      (0 until n).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "p", "v")
    val parted = new SnapshotTable(spark, freshRoot("parted"))
    parted.createOrReplace(frame(10), partitionBy = Seq("p"))
    val sorted = new SnapshotTable(spark, freshRoot("sorted"))
    sorted.createOrReplace(frame(10), sortBy = Seq("id"))
    val plain = new SnapshotTable(spark, freshRoot("plain"))
    plain.createOrReplace(frame(10))
    assert(jobsOf(parted.append(frame(5)))._2 === 1, "partitioned")
    assert(jobsOf(sorted.append(frame(5)))._2 === 1, "sorted")
    assert(jobsOf(plain.append(frame(5000)))._2 === 1, "5,000 local rows")
    assert(jobsOf(plain.append(frame(5)))._2 === 0, "5 local rows")
    assert(parted.read().count() === 15 && sorted.read().count() === 15)
    assert(plain.read().count() === 5015 && plain.rowCountFromMetadata === Some(5015L))
  }

  test("the fork-free file system sets Hadoop's modes, and other schemes " +
    "resolve as before") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = freshRoot("modes")
    val hadoop = new Path(dir).getFileSystem(conf)
    val graft = LocalFs.of(new Path(dir), conf)
    assert(graft.isInstanceOf[LocalFs])
    assert(LocalFs.of(new Path(s"file:$dir"), conf) eq graft, "one shared instance")
    def mode(p: String) = PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))
    def make(fs: FileSystem, sub: String): Unit = {
      val out = fs.create(new Path(s"$dir/$sub/d1/f"))
      try out.write(1) finally out.close()
      fs.mkdirs(new Path(s"$dir/$sub/d2"))
    }
    make(hadoop, "hadoop")
    make(graft, "graft")
    Seq("", "/d1", "/d1/f", "/d1/.f.crc", "/d2").foreach { rel =>
      assert(mode(s"$dir/graft$rel") === mode(s"$dir/hadoop$rel"), rel)
    }
    assert(mode(s"$dir/graft/d1/f") === "rw-r--r--" && mode(s"$dir/graft/d2") === "rwxr-xr-x")
    // statuses report what `ls -ld` reports, loaded through java.nio
    Seq("d1", "d1/f", "d2").foreach { rel =>
      val (h, g) = (hadoop.getFileStatus(new Path(s"$dir/hadoop/$rel")),
        graft.getFileStatus(new Path(s"$dir/graft/$rel")))
      assert((g.getPermission, g.getOwner, g.getGroup) ===
        ((h.getPermission, h.getOwner, h.getGroup)), rel)
    }
    val listed = graft.listFiles(new Path(s"$dir/graft"), true)
    assert(listed.hasNext && listed.next().getPermission.toString === "rw-r--r--")
    graft.setPermission(new Path(s"$dir/graft/d1/f"),
      new org.apache.hadoop.fs.permission.FsPermission("640"))
    assert(mode(s"$dir/graft/d1/f") === "rw-r-----")
    // a rename onto an existing file behaves as the resolved file system's
    Seq(hadoop -> "hadoop", graft -> "graft").foreach { case (fs, sub) =>
      Seq("a", "b").foreach(n => fs.create(new Path(s"$dir/$sub/$n")).close())
    }
    assert(graft.rename(new Path(s"$dir/graft/a"), new Path(s"$dir/graft/b")) ===
      hadoop.rename(new Path(s"$dir/hadoop/a"), new Path(s"$dir/hadoop/b")))

    FaultFs.register(conf)
    assert(LocalFs.of(new Path(s"${FaultFs.Scheme}:$dir"), conf).isInstanceOf[FaultFs])
  }

  test("the fork-free listing and status equal Hadoop's raw local ones, " +
    "minus the checksum files") {
    import org.apache.hadoop.fs.{FileStatus, RawLocalFileSystem}
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = Paths.get(freshRoot("listing"))
    Files.createDirectories(dir)
    def write(name: String, bytes: Int): Unit =
      Files.write(dir.resolve(name), Array.fill[Byte](bytes)(7))
    write("part-00000.parquet", 120); write(".part-00000.parquet.crc", 12)
    write("snap-00001.meta", 30); write(".snap-00001.meta.crc", 12)
    write("_SUCCESS", 0); write("._SUCCESS.crc", 8)
    write(".hidden", 5); write("_note", 3)
    Seq("snap-00001", "k=1", "_temporary", ".staging").foreach(d =>
      Files.createDirectories(dir.resolve(d)))
    Files.write(dir.resolve("k=1").resolve("f.parquet"), Array.fill[Byte](9)(1))
    val raw = new RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"), conf)
    val graft = LocalFs.of(new Path(dir.toString), conf)
    def view(sts: Array[FileStatus]) = sts.toSeq.map(s =>
      (s.getPath.toString, s.isDirectory, s.getLen, s.getModificationTime,
        s.getBlockSize, s.getReplication)).sortBy(_._1)
    def crc(s: FileStatus) = { val n = s.getPath.getName; n.startsWith(".") && n.endsWith(".crc") }
    val p = new Path(dir.toString)
    val hadoopRaw = raw.listStatus(p)
    assert(hadoopRaw.length === 12)
    assert(view(graft.asInstanceOf[LocalFs].getRawFileSystem.listStatus(p)) === view(hadoopRaw))
    assert(view(graft.listStatus(p)) === view(hadoopRaw.filterNot(crc)))
    assert(view(graft.listStatus(new Path(s"file:$dir/k=1"))) ===
      view(raw.listStatus(new Path(s"file:$dir/k=1"))))
    // a file lists as itself, and its status is Hadoop's
    val file = new Path(s"$dir/part-00000.parquet")
    assert(view(graft.listStatus(file)) === view(raw.listStatus(file)))
    Seq(file, p, new Path(s"$dir/k=1")).foreach(f =>
      assert(view(Array(graft.getFileStatus(f))) === view(Array(raw.getFileStatus(f))), f))
    val missing = new Path(s"$dir/no-such")
    intercept[java.io.FileNotFoundException](graft.listStatus(missing))
    intercept[java.io.FileNotFoundException](graft.getFileStatus(missing))
    assert(!graft.exists(missing) && graft.exists(file))
  }

  test("footer stats read over the session's Hadoop conf are byte-identical " +
    "to a default-options read") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val root = freshRoot("stats-eq")
    val t = new SnapshotTable(spark, root)
    def batch(from: Long) = spark.range(from, from + 400).select(
      col("id"),
      (col("id") * 1.25).cast("decimal(12,2)").as("dec"),
      (col("id") * 1000003L).cast("decimal(30,4)").as("wide_dec"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 50).cast("int")).as("d"),
      timestamp_seconds(col("id") * 3600L).as("ts"),
      when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("s"), col("id") % 13)).as("s"),
      concat(lit("u"), col("id")).as("u"),
      when(col("id") === from + 17, lit(Double.NaN)).otherwise(col("id") / 3.0).as("x"))
      .repartition(2)
    t.createOrReplace(batch(0)) // dictionary chunks where the values repeat
    spark.conf.set("parquet.enable.dictionary", "false")
    try t.append(batch(400)) // plain chunks throughout
    finally spark.conf.unset("parquet.enable.dictionary")
    t.append(Seq((900L, "a"), (901L, null)).toDF("id", "s")) // the driver writer's file
    val defaults: Path => ParquetFileReader = f =>
      ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    t.snapshots().map(_._1).foreach { id =>
      val dir = new Path(root, f"snap-$id%05d")
      val written = new String(Files.readAllBytes(Paths.get(root, f"snap-$id%05d.stats")), "UTF-8")
      val (rows, lines) = t.footerWalk(dir, defaults)
      assert(written === lines.mkString("\n") + "\n", s"snapshot $id")
      assert(t.footerWalk(dir) === ((rows, lines)), s"snapshot $id")
    }
    assert(t.rowCountFromMetadata === Some(802L) && t.read().count() === 802L)
    val perCol = t.columnStats()
    assert(perCol("s").nullCount === Some(160L + 1L) && perCol("x").kind === "d")
  }
}
