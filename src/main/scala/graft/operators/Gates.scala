package graft.operators

import graft.Driver.withConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** The warehouse, BCDR, streaming and MV gates (q101–q152). Each turns
  * one mechanism of the reference — its validation queries
  * (`scripts/90_validation_queries.sql:149-168`) and failover drills
  * (`scripts/20_failover_groups_primary.sql:109-205`) — into a query
  * whose `require`s grade the mechanism itself (files pruned, write mode
  * routed, entries shipped, data files untouched) and whose answer the
  * DuckDB oracle replays as plain SQL over the base parquet.
  *
  * Every gate runs through [[gate]]: its scratch warehouses live under
  * the one scratch root, its answer comes back driver-local, and the
  * warehouses are deleted whether it returns or throws. Session settings
  * a gate needs are scoped by [[graft.Driver.withConf]], so no gate leaks
  * session state into later queries.
  */
object Gates {

  /** Run one gate over the scratch warehouses `names`: `body` gets their
    * paths in order, its result is collected into a driver-local frame
    * (the warehouses it reads are gone once the gate returns), and every
    * named warehouse is deleted whether `body` returns or throws. */
  private[graft] def gate(s: SparkSession, names: String*)(
      body: Seq[String] => DataFrame): DataFrame = {
    val whs = names.map(n => s"${graft.Driver.scratchRoot}/$n")
    try local(body(whs))
    finally whs.foreach { wh =>
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** `df`'s rows as a driver-local frame: a gate's answer, or a stage read
    * before a later statement (compaction, expiry, failback) changes what
    * its plan would see. */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** The parquet files under `wh`, sorted: the zero-rewrite witness of the
    * MoR gates (every file there before a statement is still there after). */
  private def dataFiles(wh: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(wh)).map(_.getPath).filter(_.endsWith(".parquet")).sorted
  }

  /** Parquet data files under `wh` as path@mtime identities: the
    * marker-only witness of the DDL gates (a rename/drop/widen/add/batch
    * must not write, rewrite, or delete a data byte). */
  private def dataFileStamps(s: SparkSession, wh: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(wh)
    val it = p.getFileSystem(s.sparkContext.hadoopConfiguration).listFiles(p, true)
    val out = Set.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        out += f.getPath.toString + "@" + f.getModificationTime
    }
    out.result()
  }

  /** Root paths of every file scan in `df`'s optimized plan, read from the
    * plan's relations, not its string (`executedPlan.toString` truncates
    * long scan locations): how the MV gates prove a query was routed. */
  private def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  /** The orders summaries the DML and replication gates emit per stage:
    * row count, exact total cents, distinct customers and the smallest
    * key ([[stageSummary]]); the same per stage and status
    * ([[statusSummary]]); per stage and status without the customer count
    * ([[statusTotals]]). */
  private def stageSummary(df: DataFrame, stage: String): DataFrame =
    df.groupBy(lit(stage).as("stage"))
      .agg(count(lit(1)).as("n_orders"), decCents(col("o_totalprice")).as("total_cents"),
        countDistinct(col("o_custkey")).as("n_custs"), min(col("o_orderkey")).as("min_key"))

  private def statusSummary(df: DataFrame, stage: String): DataFrame =
    df.groupBy(lit(stage).as("stage"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), decCents(col("o_totalprice")).as("total_cents"),
        countDistinct(col("o_custkey")).as("n_custs"), min(col("o_orderkey")).as("min_key"))

  private def statusTotals(df: DataFrame, stage: String): DataFrame =
    df.groupBy(lit(stage).as("stage"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), decCents(col("o_totalprice")).as("total_cents"),
        min(col("o_orderkey")).as("min_key"))

  /** `orders` projected to the four columns the DML gates write. */
  private def orders4(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  /** Lay `df` out in `tbl` as `files` o_orderkey-ranged, key-sorted files:
    * the base the pruning and MoR gates start from. */
  private def keyRanged(tbl: graft.warehouse.SnapshotTable, df: DataFrame,
                        files: Int = 8): Unit =
    tbl.createOrReplace(df.repartitionByRange(files, col("o_orderkey")),
      sortBy = Seq("o_orderkey"))

  /** The two sides of a replication gate: a primary catalog over `whP`
    * with schema `gate`, and a read-only secondary over `whS`. */
  private def replicaPair(s: SparkSession, whP: String,
                          whS: String): (graft.catalog.Catalog, graft.catalog.Catalog) = {
    val pri = new graft.catalog.Catalog(s, whP, "pri")
    val sec = new graft.catalog.Catalog(s, whS, "sec")
    sec.readOnly = true
    pri.createSchema("gate")
    (pri, sec)
  }

  val queries: Map[String, QFn] = Map(

    // Transparent MV routing through the CORRECTNESS GATE: the query
    // builds a snapshot table + aggregate MV from `orders`, turns the
    // MvRewriteRule on, and REQUIRES its own physical plan to scan the
    // materialized partials — then the driver's DuckDB oracle hash-checks
    // the routed answer against the plain SQL over the base parquet. A
    // silent fallback to the direct scan raises (visible as a red
    // correctness row), so the optimizer rule itself sits behind the
    // end-to-end gate, not just a unit spec.
    "q101_mv_routed" -> { (s, dir) =>
      import s.implicits._
      // the rule is off until the MV is built; the flag, the rule
      // registry and the warehouse are all restored after the routed plan
      // ran (a query function must not leak session state)
      withConf(s, graft.mv.MvRewrite.FlagKey -> "false") {
        try gate(s, "mvroute") { case Seq(wh) =>
          val cat = new graft.catalog.Catalog(s, wh, "MVROUTE")
          val mvm = new graft.mv.MaterializedViewManager(cat)
          cat.table("gate", "orders").createOrReplace(
            t(s, dir, "orders").select($"o_orderpriority", $"o_orderstatus", $"o_totalprice"))
          mvm.createAggMv("orders_by_prio", ("gate", "orders"),
            Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice"),
            minMaxCols = Seq("o_totalprice"))
          mvm.enableRewrite("orders_by_prio")
          val routed = cat.table("gate", "orders").read()
            .groupBy($"o_orderpriority")
            .agg(count(lit(1)).as("n_orders"), sum($"o_totalprice").as("total"),
              // min/max re-aggregate exactly from the per-grain extremes;
              // avg routes as decimal-exact sum ÷ count (house semantics)
              min($"o_totalprice").as("min_price"),
              max($"o_totalprice").as("max_price"),
              avg($"o_totalprice").as("avg_price"))
            .select($"o_orderpriority", $"n_orders",
              ($"total".cast("decimal(18,2)") * 100).cast("long").as("total_cents"),
              $"min_price", $"max_price", $"avg_price")
            .orderBy($"o_orderpriority")
          val scans = scanRoots(routed)
          require(scans.nonEmpty && scans.forall(_.contains("/_mv/")),
            s"q101 must read ONLY the MV partials, scanned: $scans")
          routed
        } finally graft.mv.MvRewrite.unregister("orders_by_prio")
      }
    },

    // FILE-PRUNED COPY-ON-WRITE DML through the correctness gate: four DML
    // commits (range DELETE, range UPDATE, key-hull MERGE upsert,
    // beyond-range MERGE insert) against a snapshot table laid out as 8
    // key-ranged files, each REQUIRED to rewrite only its stat-overlapping
    // files (the Iceberg RewriteFiles granularity — at 100 TB a one-key
    // DELETE rewrites one file, not the table). The DuckDB oracle replays
    // the same four statements as plain SQL over the raw `orders` rows, so
    // a rewrite that loses carried-over survivors, mis-prunes a matching
    // file, or double-counts replaced rows all turn the row red.
    "q123_cow_dml" -> { (s, dir) =>
      import s.implicits._
      gate(s, "cowdml") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        keyRanged(tbl, orders4(s, dir))
        // 1. range DELETE — prunes to the head file(s)
        val (removed, dPlan) = tbl.deletePruned($"o_orderkey" <= lit(150L))
        require(removed > 0, "q123 delete expects matching rows")
        require(dPlan.filesKept * 2 <= dPlan.filesTotal,
          s"q123 delete must prune: rewrote ${dPlan.filesKept}/${dPlan.filesTotal}")
        // 2. range UPDATE — conditional set over the touched files only
        val (_, uPlan) = tbl.updatePruned($"o_orderkey".between(300L, 450L),
          Map("o_orderstatus" -> lit("X")))
        require(uPlan.filesKept * 2 <= uPlan.filesTotal,
          s"q123 update must prune: rewrote ${uPlan.filesKept}/${uPlan.filesTotal}")
        // 3. MERGE upsert — the source key hull [600, 700] prunes the rewrite
        val src1 = t(s, dir, "orders").filter($"o_orderkey".between(600L, 700L))
          .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
            ($"o_totalprice" * 2).cast("decimal(15,2)").as("o_totalprice"))
        val ((m1u, m1i), mPlan) = tbl.mergePruned(src1, Seq("o_orderkey"))
        require(m1u > 0 && m1i == 0, s"q123 merge-1 expects updates only, got ($m1u, $m1i)")
        require(mPlan.filesKept * 2 <= mPlan.filesTotal,
          s"q123 merge must prune by the key hull: rewrote ${mPlan.filesKept}/${mPlan.filesTotal}")
        // 4. MERGE insert — keys beyond the table's range: ZERO files rewritten
        val src2 = t(s, dir, "orders").filter($"o_orderkey".between(600L, 700L))
          .select(($"o_orderkey" + 100000000L).as("o_orderkey"), $"o_custkey",
            lit("N").as("o_orderstatus"), $"o_totalprice")
        val ((m2u, m2i), iPlan) = tbl.mergePruned(src2, Seq("o_orderkey"))
        require(m2u == 0 && m2i > 0, s"q123 merge-2 expects inserts only, got ($m2u, $m2i)")
        require(iPlan.filesKept == 0,
          s"q123 beyond-range merge must rewrite nothing, rewrote ${iPlan.filesKept}")
        require(tbl.snapshots().map(_._2) == Seq("base", "cow", "cow", "cow", "cow"),
          s"q123 expects four cow commits, got ${tbl.snapshots()}")
        tbl.read()
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            decCents($"o_totalprice").as("total_cents"),
            countDistinct($"o_custkey").as("n_custs"),
            max($"o_orderkey").as("max_key"))
          .orderBy($"o_orderstatus")
      }
    },

    // ROW-LEVEL CDC through the correctness gate: an append, a file-pruned
    // DELETE, and a file-pruned UPDATE land on a snapshot table; then
    // `rowChangesBetween` reconstructs the NET row changes from the delta
    // dirs + the cow commits' replaced files alone (REQUIRED to open fewer
    // files than a full scan — the ∝-change CDC cost). The DuckDB oracle
    // derives the same change set semantically: before/after states as SQL,
    // inserts = after EXCEPT ALL before, deletes = before EXCEPT ALL after.
    // Carried-over survivors a cow rewrite copies forward must cancel
    // exactly (Iceberg changelog carryover elimination) or counts diverge.
    "q124_cdc_changes" -> { (s, dir) =>
      import s.implicits._
      gate(s, "cdc") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        keyRanged(tbl, orders4(s, dir), 16)
        val s0 = tbl.currentSnapshotId.get
        tbl.append(t(s, dir, "orders").filter($"o_orderkey".between(500L, 600L))
          .select(($"o_orderkey" + 100000000L).as("o_orderkey"), $"o_custkey",
            lit("A").as("o_orderstatus"), $"o_totalprice"))
        tbl.delete($"o_orderkey" <= lit(150L))
        tbl.update($"o_orderkey".between(300L, 450L),
          Map("o_orderstatus" -> lit("X")))
        val cs = tbl.rowChangesBetween(s0, tbl.currentSnapshotId.get).get
        require(cs.filesRead < cs.liveFilesTotal,
          s"q124 CDC must read less than a full scan: ${cs.filesRead}/${cs.liveFilesTotal}")
        cs.df
          .groupBy($"_change", $"o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            decCents($"o_totalprice").as("total_cents"),
            countDistinct($"o_orderkey").as("n_keys"))
          .orderBy($"_change", $"o_orderstatus")
      }
    },

    // DISJUNCTIVE (two-tail) RETENTION DELETE through the correctness
    // gate: `DELETE WHERE key <= lo OR key >= hi` is the natural
    // retention shape (drop the oldest and the quarantined-newest), and a
    // single-hull extractor sees OR as opaque — the whole table rewrites.
    // The disjunctive planner must prune to the HEAD and TAIL files only
    // (REQUIREd: ≤ half the files rewritten, middle untouched), and the
    // DuckDB oracle replays the same delete over raw orders; the upper
    // bound derives from each engine's own max-key metadata so the gate
    // holds across scale factors.
    "q129_retention_delete" -> { (s, dir) =>
      import s.implicits._
      gate(s, "retdel") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        keyRanged(tbl, orders4(s, dir))
        val maxKey = tbl.columnStats()("o_orderkey").max.get.toLong
        val (removed, plan) = tbl.deletePruned(
          $"o_orderkey" <= lit(150L) || $"o_orderkey" >= lit(maxKey - 150L))
        require(removed > 0, "q129 expects matching rows in both tails")
        require(plan.filesKept * 2 <= plan.filesTotal,
          s"q129 two-tail delete must keep the middle files untouched: " +
            s"rewrote ${plan.filesKept}/${plan.filesTotal}")
        tbl.read()
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            decCents($"o_totalprice").as("total_cents"),
            min($"o_orderkey").as("min_key"),
            max($"o_orderkey").as("max_key"))
          .orderBy($"o_orderstatus")
      }
    },

    // MERGE-ON-READ DELETE TRICKLE through the correctness gate: a
    // 100-statement trickle of single-row equality
    // deletes lands on an 8-file snapshot table — REQUIREd to commit
    // ZERO data-file rewrites (every pre-existing data file still on
    // disk; history = base + 100 `del` sidecars); the mid-trickle state
    // time-travels correctly; CDC over the trickle reads ONLY the delete
    // sidecars (never a data file); compaction folds the sidecars back
    // into a pure-file layout with the same answer. The DuckDB oracle
    // replays the same 100 deletes semantically (NOT IN over the same
    // deterministic key list) for every stage — mid, final, compacted,
    // and the CDC delete set — so a mis-sequenced anti-join, a lost
    // survivor, or a delete dropped by compaction all turn the row red.
    "q130_mor_trickle" -> { (s, dir) =>
      import s.implicits._
      gate(s, "mor") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        keyRanged(tbl, orders4(s, dir))
        val s0 = tbl.currentSnapshotId.get
        val filesBefore = dataFiles(wh)
        // the deterministic key list both engines derive: the 100 smallest
        // orderkeys ≡ 1 (mod 3)
        val keys = t(s, dir, "orders").select($"o_orderkey")
          .where($"o_orderkey" % 3 === 1).orderBy($"o_orderkey").limit(100)
          .collect().map(_.getLong(0)).toSeq
        require(keys.size == 100, s"q130 expects 100 keys, got ${keys.size}")
        var midId = -1L
        keys.zipWithIndex.foreach { case (k, i) =>
          val (n, _) = tbl.deleteByKeys(Seq("o_orderkey"), Seq(k).toDF("o_orderkey"))
          require(n == 1L, s"q130 key $k must match exactly one row, matched $n")
          if (i == 49) midId = tbl.currentSnapshotId.get // after 50 statements
        }
        require(dataFiles(wh).intersect(filesBefore) == filesBefore,
          "q130: MoR deletes must not rewrite or remove ANY data file")
        require(tbl.snapshots().map(_._2) == Seq("base") ++ Seq.fill(100)("del"),
          s"q130 expects base + 100 del sidecars, got ${tbl.snapshots().map(_._2).distinct}")
        // CDC over the whole trickle: cost = the sidecars, nothing else
        val cs = tbl.rowChangesBetween(s0, tbl.currentSnapshotId.get).get
        require(cs.filesRead <= 100,
          s"q130 CDC over a del-only window must read ONLY the sidecars, read ${cs.filesRead}")
        // materialize final + mid (TIME TRAVEL to the 50-statement point)
        // + CDC BEFORE compacting (their plans read pre-compaction
        // snapshots)
        val pre = local(stageSummary(tbl.asOf(midId), "mid")
          .unionByName(stageSummary(tbl.read(), "final"))
          .unionByName(stageSummary(cs.df.where($"_change" === "delete"), "cdc_deletes")))
        tbl.compact()
        require(tbl.snapshots().last._2 == "base",
          s"q130 compact must restore a pure base, got ${tbl.snapshots()}")
        pre.unionByName(stageSummary(tbl.read(), "compacted")).orderBy($"stage")
      }
    },

    // PER-DISJUNCT PRUNED READ through the correctness gate:
    // the q129 retention shape as a SELECT — `WHERE key <= lo OR
    // key >= hi` over an 8-file range-laid table must keep only the HEAD
    // and TAIL files (REQUIREd ≤ half), with the ORIGINAL predicate
    // auto-applied as the residual; the DuckDB oracle runs the same
    // two-tail filter over raw orders, deriving the upper bound from its
    // own max-key so the gate holds across scale factors.
    "q131_disjunct_read" -> { (s, dir) =>
      import s.implicits._
      gate(s, "djread") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        keyRanged(tbl, orders4(s, dir))
        val maxKey = tbl.columnStats()("o_orderkey").max.get.toLong
        val (df, plan) = tbl.readWhere(
          $"o_orderkey" <= lit(150L) || $"o_orderkey" >= lit(maxKey - 150L))
        require(plan.filesKept * 2 <= plan.filesTotal,
          s"q131 two-tail read must skip the middle files: " +
            s"kept ${plan.filesKept}/${plan.filesTotal}")
        df
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            decCents($"o_totalprice").as("total_cents"),
            min($"o_orderkey").as("min_key"),
            max($"o_orderkey").as("max_key"))
          .orderBy($"o_orderstatus")
      }
    },

    // CDC MIRROR through the correctness gate — the full change-data
    // pipeline: a SOURCE table takes five DML shapes (append, COW delete,
    // COW update, MoR delete, atomic MoR upsert) while a MIRROR table
    // follows it through nothing but `rowChangesBetween` windows applied
    // with `applyChanges` (one atomic `mor`/`del` commit per window —
    // REQUIREd: the mirror NEVER rewrites a data file). A replay of the
    // last window against the same mirror is REQUIREd to be a no-op-
    // equivalent (idempotent apply — the at-least-once feed guarantee).
    // The output carries BOTH the mirror's and the source's final
    // aggregate; the DuckDB oracle replays the five statements over raw
    // orders and emits the same two stage rows — so a mirror that loses a
    // delete, double-applies an insert, or mis-sequences an upsert
    // diverges from its own source AND from the oracle.
    "q132_cdc_mirror" -> { (s, dir) =>
      import s.implicits._
      gate(s, "cdcmirror") { case Seq(wh) =>
        val src = new graft.warehouse.SnapshotTable(s, wh + "/src")
        keyRanged(src, orders4(s, dir))
        val mirror = new graft.warehouse.SnapshotTable(s, wh + "/mirror")
        mirror.createOrReplace(src.read())
        val baseFiles = dataFiles(wh + "/mirror")
        var offset = src.currentSnapshotId.get
        def sync(): Unit = {
          val end = src.currentSnapshotId.get
          val cs = src.rowChangesBetween(offset, end).get
          mirror.applyChanges(cs.df, Seq("o_orderkey"))
          offset = end
        }
        // window 1: append + COW delete
        src.append(t(s, dir, "orders").filter($"o_orderkey".between(500L, 600L))
          .select(($"o_orderkey" + 100000000L).as("o_orderkey"), $"o_custkey",
            lit("A").as("o_orderstatus"), $"o_totalprice"))
        src.delete($"o_orderkey" <= lit(150L))
        sync()
        // window 2: COW update + MoR delete + atomic MoR upsert
        src.update($"o_orderkey".between(300L, 450L),
          Map("o_orderstatus" -> lit("X")))
        val morKeys = t(s, dir, "orders").filter($"o_orderkey".between(700L, 720L))
          .select($"o_orderkey")
        require(src.deleteByKeys(Seq("o_orderkey"), morKeys)._1 > 0,
          "q132 expects the MoR delete to match rows")
        val upSrc = t(s, dir, "orders").filter($"o_orderkey".between(800L, 850L))
          .select($"o_orderkey", $"o_custkey", lit("U").as("o_orderstatus"),
            ($"o_totalprice" * 3).cast("decimal(15,2)").as("o_totalprice"))
        val lastWindowStart = offset
        val (upReplaced, upInserted) = src.upsertByKeys(upSrc, Seq("o_orderkey"))
        require(upReplaced > 0 && upInserted > 0, s"q132 upsert: ($upReplaced, $upInserted)")
        sync()
        // the mirror followed through atomic MoR commits ONLY — and never
        // rewrote a single data file it started with
        require(mirror.snapshots().map(_._2).drop(1).forall(k => k == "mor" || k == "del"),
          s"q132 mirror must apply via MoR commits, got ${mirror.snapshots()}")
        require(dataFiles(wh + "/mirror").intersect(baseFiles) == baseFiles,
          "q132 mirror apply must never rewrite a data file")
        // idempotency: replaying the whole LAST window changes nothing
        val preReplay = mirror.read().orderBy($"o_orderkey").collect()
        mirror.applyChanges(
          src.rowChangesBetween(lastWindowStart, offset).get.df, Seq("o_orderkey"))
        require(mirror.read().orderBy($"o_orderkey").collect().toSeq == preReplay.toSeq,
          "q132 replaying an applied window must be idempotent")
        def agg(tbl: graft.warehouse.SnapshotTable, stage: String) =
          tbl.read().groupBy(lit(stage).as("stage"), $"o_orderstatus")
            .agg(count(lit(1)).as("n_orders"),
              decCents($"o_totalprice").as("total_cents"),
              countDistinct($"o_custkey").as("n_custs"))
        agg(mirror, "mirror").unionByName(agg(src, "source"))
          .orderBy($"stage", $"o_orderstatus")
      }
    },

    // MINOR DELETE-COMPACTION through the correctness gate:
    // a 12-statement MoR delete trickle leaves 12 sidecars on an
    // 8-file table — every read pays 12 anti-join batches until someone
    // compacts, and a FULL rewrite is the wrong tool for 12 deleted rows.
    // `compactDeletes` folds the run into ONE merged sidecar, REQUIREd to
    // touch ZERO data files; the post-merge read is REQUIREd to fold
    // ONLY the merged sidecar (one batch, not twelve); a CDC
    // window spanning the trickle AND the merge is REQUIREd to read only
    // the original sidecars and emit each delete exactly once (a merge
    // adds no logical change). The DuckDB oracle replays the same
    // deterministic key list for the final state and the CDC delete set —
    // a merge that loses a delete, re-applies one to later data, or
    // double-emits through CDC turns the row red.
    "q133_delete_compaction" -> { (s, dir) =>
      import s.implicits._
      gate(s, "delcomp") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        keyRanged(tbl, orders4(s, dir))
        val s0 = tbl.currentSnapshotId.get
        val filesBefore = dataFiles(wh)
        val keys = t(s, dir, "orders").select($"o_orderkey")
          .where($"o_orderkey" % 5 === 2).orderBy($"o_orderkey").limit(12)
          .collect().map(_.getLong(0)).toSeq
        require(keys.size == 12, s"q133 expects 12 keys, got ${keys.size}")
        keys.foreach { k =>
          val (n, _) = tbl.deleteByKeys(Seq("o_orderkey"), Seq(k).toDF("o_orderkey"))
          require(n == 1L, s"q133 key $k must match exactly one row, matched $n")
        }
        require(tbl.pendingDeleteBatches() == 12,
          s"q133 expects 12 pending sidecars, got ${tbl.pendingDeleteBatches()}")
        val merges = tbl.compactDeletes()
        require(merges.size == 1,
          s"q133: one frontier-equal run must fold to ONE merge, got $merges")
        require(tbl.pendingDeleteBatches() == 1,
          s"q133 expects 1 pending sidecar after the fold, got ${tbl.pendingDeleteBatches()}")
        require(dataFiles(wh).intersect(filesBefore) == filesBefore,
          "q133: minor compaction must not rewrite or remove ANY data file")
        // the read's only delete source is the merged sidecar: a cold read
        // loads that one sidecar's key set (the originals are superseded)
        graft.warehouse.StampedCache.shared.evictRoot(tbl.qualifiedRoot)
        tbl.read()
        val folded = graft.warehouse.StampedCache.shared.names(tbl.qualifiedRoot)
          .filter(_.endsWith(".delkeys"))
        require(folded == Seq(graft.warehouse.SnapshotTable.delKeysName(merges.head)),
          s"q133 post-merge reads must fold ONLY the merged sidecar, saw $folded")
        // CDC across trickle + merge: originals only, each delete once
        val cs = tbl.rowChangesBetween(s0, tbl.currentSnapshotId.get).get
        require(cs.filesRead <= 12,
          s"q133 CDC must read only the original sidecars, read ${cs.filesRead}")
        stageSummary(tbl.read(), "final")
          .unionByName(stageSummary(cs.df.where($"_change" === "delete"), "cdc_deletes"))
          .orderBy($"stage")
      }
    },

    // COST-ROUTED UPDATE through the correctness gate:
    // two UPDATE statements land on the same 8-file table and the router
    // must pick a DIFFERENT write mode for each — REQUIREd: the one-row
    // status flip routes MERGE-ON-READ (kept-file bytes ≫ one row's
    // bytes; zero data files rewritten) while the half-table price
    // doubling routes COPY-ON-WRITE (rewrite amortizes at ~1× — and the
    // rewrite is REQUIREd file-pruned: the untouched upper-half files
    // stay live un-rewritten, and it folds the pending MoR sidecar so
    // the flipped row never resurrects). The DuckDB oracle applies both
    // statements as CASE projections over raw orders — a wrong-mode
    // route still hashes green, but a LOST update (mis-sequenced fold),
    // a double-applied one, or a resurrect turns the row red; the mode
    // REQUIREs are what grade the routing itself.
    "q134_routed_update" -> { (s, dir) =>
      import s.implicits._
      gate(s, "routedup") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        keyRanged(tbl, orders4(s, dir))
        val stats = tbl.columnStats()("o_orderkey")
        val k0 = stats.min.get.toLong
        val cut = stats.max.get.toLong / 2
        // statement 1 — narrow: one row of the whole table flips status
        val filesBefore = dataFiles(wh)
        val (mode1, n1) = tbl.updateRouted($"o_orderkey" === lit(k0),
          Map("o_orderstatus" -> lit("X")), Seq("o_orderkey"))
        require(mode1 == "mor" && n1 == 1L,
          s"q134 one-row update must route MoR: ($mode1, $n1)")
        require(dataFiles(wh).intersect(filesBefore) == filesBefore,
          "q134: the MoR route must not rewrite or remove ANY data file")
        // statement 2 — broad: every row of the kept lower half
        val filesBefore2 = dataFiles(wh).toSet
        val (mode2, n2) = tbl.updateRouted($"o_orderkey" <= lit(cut),
          Map("o_totalprice" -> ($"o_totalprice" * lit(2.0))), Seq("o_orderkey"))
        require(mode2 == "cow" && n2 > 0L,
          s"q134 half-table update must route COW: ($mode2, $n2)")
        // file-pruned: the post-cow live plan still reads un-rewritten
        // PRE-update files (the upper half the hull never overlapped)
        require(tbl.liveScanPaths().map(_.stripPrefix("file:"))
            .exists(filesBefore2.contains),
          "q134: the COW route must be file-pruned — upper-half files stay live")
        tbl.read()
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            decCents($"o_totalprice").as("total_cents"),
            min($"o_orderkey").as("min_key"),
            max($"o_orderkey").as("max_key"))
          .orderBy($"o_orderstatus")
      }
    },

    // POSITIONAL DELETE through the correctness gate:
    // DELETE WHERE on a NON-KEY column (o_orderstatus — the table is laid
    // out by o_orderkey, so no equality key and no prunable range can
    // express it) commits a `pdel` (file, row-ordinal) sidecar — REQUIREd:
    // ZERO data files rewritten, history = base + pdel. An append lands
    // rows with the SAME doomed status afterwards — file identity keeps
    // them alive (the sidecar never references later files), which the
    // oracle mirrors by replaying the statement order. CDC across the
    // window is REQUIREd sidecar+delta-only and nets the re-inserted
    // identical rows (carryover elimination). A final compact folds the
    // sidecar; both pre- and post-compact states hash against DuckDB.
    "q135_positional_delete" -> { (s, dir) =>
      import s.implicits._
      gate(s, "posdel") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        val proj = orders4(s, dir)
        keyRanged(tbl, proj)
        val s0 = tbl.currentSnapshotId.get
        val filesBefore = dataFiles(wh)
        val (n, _) = tbl.deleteWherePositional($"o_orderstatus" === lit("P"))
        require(n > 0, "q135 expects matching rows for status P")
        require(dataFiles(wh).intersect(filesBefore) == filesBefore,
          "q135: a positional delete must not rewrite or remove ANY data file")
        require(tbl.snapshots().map(_._2) == Seq("base", "pdel"),
          s"q135 expects base + pdel, got ${tbl.snapshots().map(_._2)}")
        // re-land a key slice INCLUDING status-P rows: file identity must
        // keep them alive
        tbl.append(proj.filter($"o_orderkey".between(100L, 199L)))
        require(tbl.read().where($"o_orderstatus" === "P" &&
            $"o_orderkey".between(100L, 199L)).count() > 0,
          "q135: re-appended doomed-status rows must survive the earlier sidecar")
        // CDC: sidecar + delta dirs only — the 8 base files stay unread
        // (the sidecar itself may hold one shard per matched-scan task)
        val cs = tbl.rowChangesBetween(s0, tbl.currentSnapshotId.get).get
        require(cs.filesRead <= 12,
          s"q135 CDC must read only the sidecar and the delta, read ${cs.filesRead}")
        val pre = local(stageSummary(tbl.read(), "final")
          .unionByName(stageSummary(cs.df.where($"_change" === "delete"), "cdc_deletes"))
          .unionByName(stageSummary(cs.df.where($"_change" === "insert"), "cdc_inserts")))
        tbl.compact()
        require(tbl.snapshots().last._2 == "base",
          s"q135 compact must restore a pure base, got ${tbl.snapshots()}")
        pre.unionByName(stageSummary(tbl.read(), "compacted")).orderBy($"stage")
      }
    },

    // POSITIONAL UPDATE through the correctness gate — the zero-rewrite
    // DML matrix's last cell: UPDATE WHERE on a NON-KEY column
    // (o_orderstatus), routed KEYLESS through updateRouted. The MoR side
    // is one atomic `mor` commit: updated rows as data, old rows as a
    // (file, row-ordinal) sidecar — REQUIREd: route mor, history =
    // base + mor, ZERO data files rewritten, metadata COUNT unchanged,
    // CDC across the statement window sidecar+mor-dir-only with
    // delete(old)/insert(new) pairs. A second, broad statement REQUIREs
    // the COW route on the same table; a final compact folds the
    // sidecar. Pre- and post-compact states and both CDC sides hash
    // against DuckDB replaying the statements as CASE projections.
    "q136_positional_update" -> { (s, dir) =>
      import s.implicits._
      gate(s, "posupd") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        keyRanged(tbl, orders4(s, dir))
        val s0 = tbl.currentSnapshotId.get
        val n0 = tbl.rowCountFromMetadata.get
        // statement 1 — non-key predicate, NO keys given: the positional
        // MoR route (sidecar + updated rows, one atomic commit)
        val filesBefore = dataFiles(wh)
        val (mode1, n1) = tbl.updateRouted(
          $"o_orderstatus" === lit("P") && $"o_custkey" % lit(97L) === lit(3L),
          Map("o_totalprice" -> ($"o_totalprice" * lit(2.0))))
        require(mode1 == "mor" && n1 > 0L,
          s"q136 narrow non-key update must route MoR: ($mode1, $n1)")
        require(dataFiles(wh).intersect(filesBefore) == filesBefore,
          "q136: the positional route must not rewrite or remove ANY data file")
        require(tbl.snapshots().map(_._2) == Seq("base", "mor"),
          s"q136 expects ONE atomic mor commit, got ${tbl.snapshots().map(_._2)}")
        require(tbl.rowCountFromMetadata.contains(n0),
          "q136: an update must not change the metadata row count")
        // CDC over the statement window: sidecar + mor data dir only —
        // the 8 base files stay unread (each side may shard per task)
        val cs = tbl.rowChangesBetween(s0, tbl.currentSnapshotId.get).get
        require(cs.filesRead <= 20, // ≤8 sidecar shards + ≤8 mor-dir files
          s"q136 CDC must read only the sidecar and the mor dir, read ${cs.filesRead}")
        val cdc = local(stageSummary(cs.df.where($"_change" === "delete"), "cdc_deletes")
          .unionByName(stageSummary(cs.df.where($"_change" === "insert"), "cdc_inserts")))
        // statement 2 — broad: the kept lower half routes COW (keyless too)
        val cut = tbl.columnStats()("o_orderkey").max.get.toLong / 2
        val (mode2, n2) = tbl.updateRouted($"o_orderkey" <= lit(cut),
          Map("o_orderstatus" -> lit("B")))
        require(mode2 == "cow" && n2 > 0L,
          s"q136 half-table update must route COW: ($mode2, $n2)")
        val pre = local(stageSummary(tbl.read(), "final"))
        // compact folds the positional sidecar back into pure files
        tbl.compact()
        require(tbl.pendingDeleteBatches() == 0,
          "q136 compact must clear the sidecar debt")
        cdc.unionByName(pre).unionByName(stageSummary(tbl.read(), "compacted"))
          .orderBy($"stage")
      }
    },

    // COST-ROUTED MERGE + DELETE through the correctness gate — the
    // remaining two cells of the routed DML trio. A 50-row source (25
    // updates of the lowest keys + 25 fresh keys past the max) REQUIREs
    // the MoR upsert route with exact (updated, inserted) counts and
    // zero rewrites; a source re-pricing the whole lower half REQUIREs
    // the COW merge route. Then a 3-key DELETE REQUIREs the positional
    // MoR route and a lower-quarter DELETE the COW route. The DuckDB
    // oracle replays all four statements; the mode REQUIREs grade the
    // routing, the hash grades the semantics.
    "q137_routed_merge" -> { (s, dir) =>
      import s.implicits._
      gate(s, "routedmg") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        val proj = orders4(s, dir)
        keyRanged(tbl, proj)
        val maxKey = tbl.columnStats()("o_orderkey").max.get.toLong
        val cut = maxKey / 2
        // statement 1 — trickle source: 10 repriced lows + 10 fresh highs
        // (amplification 4: at sf0.001 one kept file is ~190 rows-worth,
        // so the default 8x20 threshold would flip the route across sf)
        val lows = proj.orderBy($"o_orderkey").limit(10)
          .withColumn("o_totalprice", $"o_totalprice" + lit(1.0))
        val fresh = proj.orderBy($"o_orderkey").limit(10)
          .select(($"o_orderkey" + lit(maxKey + 1L)).as("o_orderkey"), $"o_custkey",
            lit("N").as("o_orderstatus"), lit(100.0).as("o_totalprice"))
        val filesBefore = dataFiles(wh)
        val (mode1, (u1, i1)) = tbl.mergeRouted(lows.unionByName(fresh),
          Seq("o_orderkey"), amplification = 4.0)
        require(mode1 == "mor" && u1 == 10L && i1 == 10L,
          s"q137 trickle merge must route MoR with exact counts: ($mode1, $u1, $i1)")
        require(dataFiles(wh).intersect(filesBefore) == filesBefore,
          "q137: the MoR merge route must not rewrite or remove ANY data file")
        // statement 2 — bulk source: the whole lower half repriced
        val bulk = proj.filter($"o_orderkey" <= lit(cut))
          .withColumn("o_totalprice", $"o_totalprice" * lit(2.0))
        val (mode2, (u2, i2)) = tbl.mergeRouted(bulk, Seq("o_orderkey"))
        require(mode2 == "cow" && u2 > 0L && i2 == 0L,
          s"q137 bulk merge must route COW: ($mode2, $u2, $i2)")
        // statement 3 — narrow DELETE: three keys route positional MoR
        val filesBefore3 = dataFiles(wh)
        val (mode3, n3) = tbl.deleteRouted(
          $"o_orderkey".isin(1L, 2L, maxKey + 1L))
        require(mode3 == "pdel",
          s"q137 three-key delete must route positional MoR: ($mode3, $n3)")
        require(dataFiles(wh).intersect(filesBefore3) == filesBefore3,
          "q137: the MoR delete route must not rewrite or remove ANY data file")
        // statement 4 — broad DELETE: the lower quarter routes COW
        val (mode4, n4) = tbl.deleteRouted($"o_orderkey" <= lit(cut / 2))
        require(mode4 == "cow" && n4 > 0L,
          s"q137 quarter-table delete must route COW: ($mode4, $n4)")
        tbl.read()
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            decCents($"o_totalprice").as("total_cents"),
            countDistinct($"o_custkey").as("n_custs"),
            min($"o_orderkey").as("min_key"),
            max($"o_orderkey").as("max_key"))
          .orderBy($"o_orderstatus")
      }
    },

    // TAGS + BRANCHES through the correctness gate (the Iceberg
    // branching model over the marker warehouse): a tag pins a named
    // state (REQUIREd to survive compact + expire while live — the
    // retention pin), a branch takes WAP-staged commits invisible to
    // main (REQUIREd: main count unchanged, branch read = fork + its
    // commits), and fast-forward publish is REQUIREd to be marker swaps
    // only — the data file SET is identical before and after. Four
    // stages hash against DuckDB composing the same slices.
    "q138_branch_tag" -> { (s, dir) =>
      import s.implicits._
      gate(s, "branchtag") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        val proj = orders4(s, dir)
        val maxKey = proj.agg(max($"o_orderkey")).head().getLong(0)
        val cut = maxKey / 2
        tbl.createOrReplace(proj.filter($"o_orderkey" <= lit(cut))
          .repartitionByRange(4, $"o_orderkey"), sortBy = Seq("o_orderkey"))
        tbl.createTag("v1")
        tbl.append(proj.filter($"o_orderkey" > lit(cut)))
        val mainCount = tbl.read().count()
        tbl.createBranch("audit")
        tbl.appendToBranch("audit", proj.filter($"o_orderkey" <= lit(50L))
          .withColumn("o_orderstatus", lit("A")))
        tbl.appendToBranch("audit", proj
          .filter($"o_orderkey".between(51L, 100L))
          .withColumn("o_orderstatus", lit("Z")))
        require(tbl.read().count() == mainCount,
          "q138: branch commits must be invisible to main")
        val pre = local(statusSummary(tbl.readTag("v1"), "tag_v1")
          .unionByName(statusSummary(tbl.readBranch("audit"), "branch_pre"))
          .unionByName(statusSummary(tbl.read(), "main_pre")))
        // fast-forward: the data file SET must be IDENTICAL (marker swaps)
        val filesBefore = dataFiles(wh)
        tbl.fastForwardBranch("audit")
        require(dataFiles(wh) == filesBefore,
          "q138: fast-forward must be marker swaps only — same data file set")
        // the live tag pins its chain across compact + expire
        tbl.compact()
        require(tbl.expireSnapshots(keepLast = 1).isEmpty,
          "q138: a live tag must pin its chain against expiry")
        pre.unionByName(statusSummary(tbl.read(), "final"))
          .unionByName(statusSummary(tbl.readTag("v1"), "tag_after_expire"))
          .orderBy($"stage", $"o_orderstatus")
      }
    },

    // INCREMENTAL PHYSICAL REPLICATION through the correctness gate: a
    // primary takes MoR + positional + COW DML (pending sidecar debt of
    // every kind), one physical refresh copies the DELTA verbatim, and
    // the SECONDARY's read — interpreting the sidecars itself — plus its
    // TIME TRAVEL to the pre-DML snapshot are hashed against DuckDB.
    // REQUIREd: identical snapshot ids on both sides (the CDC-resume
    // property), a one-append second cycle ships exactly 3 entries
    // (dir + stats + marker — cost ∝ delta, never table), an idle cycle
    // ships zero.
    "q139_physical_replication" -> { (s, dir) =>
      import s.implicits._
      gate(s, "physrep-pri", "physrep-sec") { case Seq(whP, whS) =>
        val (pri, sec) = replicaPair(s, whP, whS)
        val tbl = pri.table("gate", "orders_p")
        keyRanged(tbl, orders4(s, dir))
        val s0 = tbl.currentSnapshotId.get
        // pending debt of every kind: equality sidecar, positional mor, cow
        tbl.deleteByKeys(Seq("o_orderkey"), Seq(10L, 20L, 30L).toDF("o_orderkey"))
        tbl.updateWherePositional($"o_custkey" % lit(89L) === lit(7L),
          Map("o_totalprice" -> ($"o_totalprice" * lit(3.0))))
        tbl.delete($"o_orderkey" < lit(100L))
        val repl = new graft.bcdr.ReplicationService(pri, sec)
        repl.createGroup("core", Seq(("gate", "orders_p")), includeViews = false)
        require(repl.refreshPhysical("core") > 0, "q139 first cycle must copy")
        val mirror = sec.table("gate", "orders_p")
        require(mirror.snapshots() == tbl.snapshots(),
          "q139: snapshot ids must be IDENTICAL across the copy")
        // delta-only: one append ships dir + stats + marker, idle ships zero
        tbl.append(orders4(s, dir).filter($"o_orderkey" < lit(50L))
          .withColumn("o_orderstatus", lit("R")))
        val c2 = repl.refreshPhysical("core")
        require(c2 == 3, s"q139 one-append cycle must ship 3 entries, shipped $c2")
        require(repl.refreshPhysical("core") == 0, "q139 idle cycle must ship zero")
        statusSummary(mirror.read(), "secondary")
          .unionByName(statusSummary(mirror.asOf(s0), "sec_asof"))
          .unionByName(statusSummary(tbl.read(), "primary"))
          .orderBy($"stage", $"o_orderstatus")
      }
    },

    // FAILBACK through the correctness gate — the DR drill's return leg.
    // A replicated primary takes one more append that never ships (the
    // RPO-lost write), the secondary is promoted and commits its OWN
    // timeline — REQUIREd to reuse the lost write's snapshot id, the
    // exact collision a name-based delta copy would silently interleave
    // — then `failback` must find the fork by content, DISCARD the lost
    // write, and re-sync the old primary to id-identical state shipping
    // ONLY the new timeline's suffix. The divergent pre-failback read,
    // both sides' post-failback reads, and the old primary's time travel
    // are all hashed against DuckDB replaying the surviving statements.
    "q140_failback" -> { (s, dir) =>
      import s.implicits._
      gate(s, "failback-pri", "failback-sec") { case Seq(whP, whS) =>
        val (pri, sec) = replicaPair(s, whP, whS)
        val tbl = pri.table("gate", "orders_f")
        def proj = orders4(s, dir)
        keyRanged(tbl, proj)
        val s0 = tbl.currentSnapshotId.get
        val repl = new graft.bcdr.ReplicationService(pri, sec)
        repl.createGroup("core", Seq(("gate", "orders_f")), includeViews = false)
        require(repl.refreshPhysical("core") > 0, "q140 bootstrap cycle must copy")
        // the RPO-lost write: lands on the primary, never replicates
        tbl.append(proj.filter($"o_orderkey" < lit(40L))
          .withColumn("o_orderstatus", lit("L")))
        // materialize the divergent state NOW — failback will erase it
        val div = local(statusSummary(tbl.read(), "divergent"))
        // disaster: promote; the new primary's independent timeline
        repl.promote()
        val newPri = sec.table("gate", "orders_f")
        newPri.deleteByKeys(Seq("o_orderkey"), Seq(10L, 20L, 30L).toDF("o_orderkey"))
        newPri.append(proj.filter($"o_orderkey" < lit(50L))
          .withColumn("o_orderstatus", lit("R")))
        require(tbl.currentSnapshotId.get == s0 + 1 &&
            newPri.snapshots().map(_._1).contains(s0 + 1),
          "q140 precondition: the lost write and the new timeline must collide on an id")
        val n = repl.failback("core")
        require(n == 6,
          s"q140 failback must ship exactly the new timeline's suffix (6 entries), shipped $n")
        require(repl.failback("core") == 0, "q140 idle failback must ship zero")
        require(tbl.snapshots() == newPri.snapshots(),
          "q140: snapshot ids must be IDENTICAL after failback")
        div.unionByName(statusSummary(tbl.read(), "failback"))
          .unionByName(statusSummary(newPri.read(), "newpri"))
          .unionByName(statusSummary(tbl.asOf(s0), "fb_asof"))
          .orderBy($"stage", $"o_orderstatus")
      }
    },

    // KEYLESS INCREMENTAL LOGICAL REPLICATION through the correctness
    // gate: a table with NO usable key — duplicate rows
    // by construction — replicates incrementally through the POSITIONAL
    // CDC consumer. REQUIREd: exact shipped-row counts per window (cost
    // ∝ change, never table), exactly ONE atomic commit per window on
    // the mirror and every post-bootstrap commit mor/pdel (zero data
    // files rewritten), a replayed window refused whole under its note,
    // and the primary/secondary MULTISETS identical both ways. The
    // final grouped counts hash against DuckDB replaying the statements.
    "q141_keyless_replication" -> { (s, dir) =>
      import s.implicits._
      gate(s, "keyless-pri", "keyless-sec") { case Seq(whP, whS) =>
        val (pri, sec) = replicaPair(s, whP, whS)
        val tbl = pri.table("gate", "clicks_k")
        def proj(m: Int) = t(s, dir, "orders")
          .filter($"o_orderkey" % lit(3L) === lit(m.toLong))
          .select($"o_orderstatus".as("st"), ($"o_custkey" % lit(50L)).as("bucket"))
        tbl.createOrReplace(proj(0))
        val k0 = tbl.count()
        val repl = new graft.bcdr.ReplicationService(pri, sec)
        repl.createGroup("core", Seq(("gate", "clicks_k")), includeViews = false)
        require(repl.refreshIncremental("core") == k0,
          "q141 bootstrap must full-copy the keyless table")
        val mirror = sec.table("gate", "clicks_k")
        val chain0 = mirror.snapshots().size
        // window 1: keyless positional DELETE + disjoint append
        val delB7 = tbl.read().filter($"bucket" === lit(7L)).count()
        val h1a = tbl.currentSnapshotId.get
        tbl.deleteWherePositional($"bucket" === lit(7L))
        val k1 = proj(1).filter($"bucket" =!= lit(7L))
        tbl.append(k1)
        val h1b = tbl.currentSnapshotId.get
        val s1 = repl.refreshIncremental("core")
        require(s1 == delB7 + k1.count(),
          s"q141 window 1 must ship exactly its net rows: $s1")
        require(mirror.snapshots().size == chain0 + 1 &&
            mirror.snapshots().last._2 == "mor",
          "q141: one atomic mor commit per window on the mirror")
        // window 2: cow DELETE + disjoint append
        val delHi = tbl.read().filter($"bucket" >= lit(40L)).count()
        tbl.delete($"bucket" >= lit(40L))
        val k2 = proj(2).filter($"bucket" < lit(20L))
        tbl.append(k2)
        val s2 = repl.refreshIncremental("core")
        require(s2 == delHi + k2.count(),
          s"q141 window 2 must ship exactly its net rows: $s2")
        // a replayed window is refused WHOLE under its note (unlock like
        // the service's system channel — the refusal is the point)
        sec.readOnly = false
        try require(mirror.applyChangesPositional(
            tbl.rowChangesBetween(h1a, h1b).get.df,
            Some(s"cdcwin=${h1a}_$h1b")) == ((0L, 0L)),
          "q141: a replayed window must be skipped")
        finally sec.readOnly = true
        require(repl.refreshIncremental("core") == 0L, "q141 caught up ships zero")
        // the mirror never rewrites data: post-bootstrap commits mor/pdel
        val kinds = mirror.snapshots().drop(chain0).map(_._2).toSet
        require(kinds.subsetOf(Set("mor", "pdel")),
          s"q141: mirror commits must be sidecar-only, saw $kinds")
        // multiset equality both ways (duplicates included) — one fused
        // signed-weight aggregate, same predicate as the two exceptAlls
        require(multisetEqual(mirror.read(), tbl.read()),
          "q141: primary and secondary multisets must be identical")
        mirror.read()
          .groupBy(lit("secondary").as("stage"), $"st", $"bucket")
          .agg(count(lit(1)).as("n"))
          .unionByName(tbl.read()
            .groupBy(lit("primary").as("stage"), $"st", $"bucket")
            .agg(count(lit(1)).as("n")))
          .orderBy($"stage", $"st", $"bucket")
      }
    },

    // SCHEMA EVOLUTION THROUGH INCREMENTAL REPLICATION:
    // the primary EVOLVES (new column) mid-window — the same window also
    // deletes pre-evolution rows — and the mirror must land the evolved
    // inserts, keep reading pre-evolution rows as NULL for the new
    // column, and keep applying post-evolution changes (an upsert
    // rewriting the evolved column). REQUIREd: exact shipped counts, one
    // atomic mor commit per window, and the final grouped aggregate
    // (NULL-bucketed evolved column) hashed vs DuckDB replaying the
    // statements for BOTH sides.
    "q142_evolved_replication" -> { (s, dir) =>
      import s.implicits._
      gate(s, "evorep-pri", "evorep-sec") { case Seq(whP, whS) =>
        val (pri, sec) = replicaPair(s, whP, whS)
        val tbl = pri.table("gate", "orders_e")
        val orders = t(s, dir, "orders")
        val shift = orders.agg(max($"o_orderkey")).head().getLong(0) + 1L
        tbl.createOrReplace(
          orders.select($"o_orderkey", $"o_orderstatus", $"o_totalprice"))
        val repl = new graft.bcdr.ReplicationService(pri, sec)
        repl.createGroup("core", Seq(("gate", "orders_e")), includeViews = false)
        val keys = Map(("gate", "orders_e") -> Seq("o_orderkey"))
        require(repl.refreshIncremental("core", keys) == tbl.count(),
          "q142 bootstrap full copy")
        val mirror = sec.table("gate", "orders_e")
        val chain0 = mirror.snapshots().size
        // window 1: delete pre-evolution rows + the EVOLVED append (new
        // column `extra`), one incremental cycle
        val doomed = orders.filter($"o_orderkey" % lit(5L) === lit(0L))
          .select($"o_orderkey")
        val nDel = doomed.count()
        tbl.deleteByKeys(Seq("o_orderkey"), doomed)
        def evolved = orders.filter($"o_orderkey" % lit(7L) === lit(3L))
          .select(($"o_orderkey" + lit(shift)).as("o_orderkey"),
            lit("E").as("o_orderstatus"), $"o_totalprice",
            ($"o_custkey" % lit(10L)).as("extra"))
        tbl.append(evolved)
        val s1 = repl.refreshIncremental("core", keys)
        require(s1 == nDel + evolved.count(),
          s"q142 window 1 must ship exactly its net rows: $s1")
        require(mirror.snapshots().size == chain0 + 1 &&
            mirror.snapshots().last._2 == "mor",
          "q142: one atomic mor commit per window")
        // window 2: a POST-evolution upsert rewriting the evolved column
        val upd = evolved.filter($"extra" === lit(7L))
          .withColumn("o_totalprice", $"o_totalprice" * lit(2.0))
        tbl.upsertByKeys(upd, Seq("o_orderkey"))
        val s2 = repl.refreshIncremental("core", keys)
        require(s2 == 2 * upd.count(),
          s"q142 window 2 ships delete+insert per updated row: $s2")
        require(repl.refreshIncremental("core", keys) == 0L,
          "q142 caught up ships zero")
        val kinds = mirror.snapshots().drop(chain0).map(_._2).toSet
        require(kinds == Set("mor"),
          s"q142: mirror windows must be sidecar-only commits, saw $kinds")
        def agg(df: org.apache.spark.sql.DataFrame, stage: String) =
          df.groupBy(lit(stage).as("stage"), $"o_orderstatus",
            coalesce($"extra", lit(-1L)).as("extra_b"))
            .agg(count(lit(1)).as("n"),
              decCents($"o_totalprice").as("total_cents"))
        agg(mirror.read(), "secondary")
          .unionByName(agg(tbl.read(), "primary"))
          .orderBy($"stage", $"o_orderstatus", $"extra_b")
      }
    },

    // DURABLE REPLICATION OFFSETS through the correctness gate:
    // after a bootstrap + one shipped window, the service is
    // "RESTARTED" — a brand-new instance with zero shared driver memory —
    // and the next cycle is REQUIREd to ship EXACTLY the new window's net
    // rows as ONE atomic mor commit: a service whose progress lived in
    // driver memory would re-ship the whole table as a base re-copy here.
    // The final grouped aggregate hashes against DuckDB replaying the
    // statements for both sides.
    "q143_offset_restart" -> { (s, dir) =>
      import s.implicits._
      gate(s, "durrep-pri", "durrep-sec") { case Seq(whP, whS) =>
        val (pri, sec) = replicaPair(s, whP, whS)
        val tbl = pri.table("gate", "orders_d")
        val orders = t(s, dir, "orders")
        val shift = orders.agg(max($"o_orderkey")).head().getLong(0) + 1L
        tbl.createOrReplace(
          orders.select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice"))
        val keys = Map(("gate", "orders_d") -> Seq("o_orderkey"))
        val svc1 = new graft.bcdr.ReplicationService(pri, sec)
        svc1.createGroup("core", Seq(("gate", "orders_d")), includeViews = false)
        require(svc1.refreshIncremental("core", keys) == tbl.count(),
          "q143 bootstrap full copy")
        val mirror = sec.table("gate", "orders_d")
        // window 1, shipped by svc1
        val doomed = orders.filter($"o_orderkey" % lit(5L) === lit(0L))
          .select($"o_orderkey")
        tbl.deleteByKeys(Seq("o_orderkey"), doomed)
        require(svc1.refreshIncremental("core", keys) == doomed.count(),
          "q143 window 1 ships its net rows")
        val chain1 = mirror.snapshots().size
        // THE RESTART: progress must come from the durable offsets on the
        // secondary — svc2 shares nothing with svc1
        val svc2 = new graft.bcdr.ReplicationService(pri, sec)
        svc2.createGroup("core", Seq(("gate", "orders_d")), includeViews = false)
        // window 2: one upsert mixing updates (price×2) with new keys
        def upd = orders.filter($"o_orderkey" % lit(5L) =!= lit(0L) &&
            $"o_orderkey" % lit(7L) === lit(3L))
          .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
            ($"o_totalprice" * lit(2.0)).as("o_totalprice"))
        def nova = orders.filter($"o_orderkey" % lit(11L) === lit(4L))
          .select(($"o_orderkey" + lit(shift)).as("o_orderkey"), $"o_custkey",
            lit("N").as("o_orderstatus"), $"o_totalprice")
        tbl.upsertByKeys(upd.unionByName(nova), Seq("o_orderkey"))
        val s2 = svc2.refreshIncremental("core", keys)
        require(s2 == 2 * upd.count() + nova.count(),
          s"q143: the RESTARTED service must ship exactly window 2 " +
            s"(delete+insert per update, one insert per new key) — a full " +
            s"re-copy would ship the table: $s2")
        require(mirror.snapshots().size == chain1 + 1 &&
            mirror.snapshots().last._2 == "mor",
          "q143: the resumed window is ONE atomic mor commit, never a base re-copy")
        require(svc2.refreshIncremental("core", keys) == 0L,
          "q143 caught up ships zero")
        require(multisetEqual(mirror.read(), tbl.read()),
          "q143: primary and secondary multisets must be identical")
        statusTotals(mirror.read(), "secondary")
          .unionByName(statusTotals(tbl.read(), "primary"))
          .orderBy($"stage", $"o_orderstatus")
      }
    },

    // CROSS-TABLE CONSISTENT CUT for INCREMENTAL LOGICAL replication:
    // two tables' heads are pinned, racing commits land on
    // BOTH tables after the pin, and the cycle is REQUIREd to ship exactly
    // the pre-cut windows — each mirror equals the primary AS OF its cut
    // (multiset both ways), so the secondary shows ONE point in time. The
    // cut-state and final-state aggregates both hash against DuckDB.
    "q144_consistent_cut" -> { (s, dir) =>
      import s.implicits._
      gate(s, "lcut-pri", "lcut-sec") { case Seq(whP, whS) =>
        val (pri, sec) = replicaPair(s, whP, whS)
        val orders = t(s, dir, "orders")
        val shift = orders.agg(max($"o_orderkey")).head().getLong(0) + 1L
        def proj = orders.select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        val ta = pri.table("gate", "cut_a")
        val tb = pri.table("gate", "cut_b")
        ta.createOrReplace(proj.filter($"o_orderkey" % lit(2L) === lit(0L)))
        tb.createOrReplace(proj.filter($"o_orderkey" % lit(2L) === lit(1L)))
        val keys = Map(("gate", "cut_a") -> Seq("o_orderkey"),
          ("gate", "cut_b") -> Seq("o_orderkey"))
        val repl = new graft.bcdr.ReplicationService(pri, sec)
        repl.createGroup("core", Seq(("gate", "cut_a"), ("gate", "cut_b")),
          includeViews = false)
        require(repl.refreshIncremental("core", keys) == ta.count() + tb.count(),
          "q144 bootstrap")
        // PRE-cut windows on both tables
        def pRows = proj.filter($"o_orderkey" % lit(2L) === lit(1L) &&
            $"o_orderkey" % lit(13L) === lit(6L))
          .select(($"o_orderkey" + lit(shift)).as("o_orderkey"),
            lit("P").as("o_orderstatus"), $"o_totalprice")
        ta.append(pRows)
        val bDoomed = proj.filter($"o_orderkey" % lit(2L) === lit(1L) &&
          $"o_orderkey" % lit(3L) === lit(0L)).select($"o_orderkey")
        tb.deleteByKeys(Seq("o_orderkey"), bDoomed)
        // the cut is recorded; RACING commits then land on BOTH tables
        val cut = repl.recordHeads("core")
        ta.delete($"o_orderkey" % lit(7L) === lit(2L))
        def qRows = proj.filter($"o_orderkey" % lit(2L) === lit(0L) &&
            $"o_orderkey" % lit(13L) === lit(2L))
          .select(($"o_orderkey" + lit(shift)).as("o_orderkey"),
            lit("Q").as("o_orderstatus"), $"o_totalprice")
        tb.append(qRows)
        val sCut = repl.refreshIncrementalAt("core", cut, keys)
        require(sCut == pRows.count() + bDoomed.count(),
          s"q144: exactly the pre-cut windows ship, got $sCut")
        val ma = sec.table("gate", "cut_a")
        val mb = sec.table("gate", "cut_b")
        // ONE point in time: every mirror equals the primary AS OF its cut
        for (((schema, tn), h) <- cut) {
          val m = sec.table(schema, tn).read()
          val p = pri.table(schema, tn).asOf(h)
          require(multisetEqual(m, p),
            s"q144: $schema.$tn must equal the primary's cut state")
        }
        val cutState = local(statusTotals(ma.read(), "cut_a")
          .unionByName(statusTotals(mb.read(), "cut_b")))
        // the racers ship NEXT cycle
        val s2 = repl.refreshIncremental("core", keys)
        require(s2 == ta.asOf(cut(("gate", "cut_a"))).filter(
            $"o_orderkey" % lit(7L) === lit(2L)).count() + qRows.count(),
          s"q144: the catch-up cycle ships exactly the racers, got $s2")
        require(multisetEqual(ma.read(), ta.read()) &&
            multisetEqual(mb.read(), tb.read()),
          "q144: both mirrors converge to the primary")
        cutState.unionByName(statusTotals(ma.read(), "fin_a"))
          .unionByName(statusTotals(mb.read(), "fin_b"))
          .orderBy($"stage", $"o_orderstatus")
      }
    },

    // LOGICAL FAILBACK through the correctness gate: a
    // KEYLESS logically replicated group — the secondary has its OWN ids,
    // so marker rewind can't apply — takes a lost write on the old
    // primary, the promoted secondary commits its own timeline, and
    // `failbackLogical` re-syncs the old primary BY VALUE: REQUIREd to
    // ship exactly the divergence multiset as ONE sidecar-only commit,
    // both sides multiset-identical, an idle failback shipping zero, and
    // the REVERSED service resuming DELTA-ONLY from the recorded offset.
    "q145_logical_failback" -> { (s, dir) =>
      import s.implicits._
      gate(s, "lfb-pri", "lfb-sec") { case Seq(whP, whS) =>
        val (pri, sec) = replicaPair(s, whP, whS)
        val orders = t(s, dir, "orders")
        def proj(m: Int) = orders
          .filter($"o_orderkey" % lit(3L) === lit(m.toLong))
          .select($"o_orderstatus".as("st"), ($"o_custkey" % lit(50L)).as("bucket"))
        val tbl = pri.table("gate", "clicks_f")
        tbl.createOrReplace(proj(0))
        val repl = new graft.bcdr.ReplicationService(pri, sec)
        repl.createGroup("core", Seq(("gate", "clicks_f")), includeViews = false)
        require(repl.refreshIncremental("core") == tbl.count(), "q145 bootstrap")
        // the RPO-lost write: lands on the primary, never replicates
        def lost = proj(1).filter($"bucket" < lit(10L))
          .withColumn("st", lit("L"))
        tbl.append(lost)
        // disaster: promote; the new primary commits its own timeline
        repl.promote()
        val mirror = sec.table("gate", "clicks_f")
        val delB7 = mirror.read().filter($"bucket" === lit(7L)).count()
        mirror.deleteWherePositional($"bucket" === lit(7L))
        def k1 = proj(1).filter($"bucket" >= lit(30L))
        mirror.append(k1)
        val chain0 = tbl.snapshots().size
        val shipped = repl.failbackLogical("core")
        require(shipped == lost.count() + delB7 + k1.count(),
          s"q145: failback must ship exactly the divergence multiset, got $shipped")
        require(repl.lastFailbackModes == Map(("gate", "clicks_f") -> "delta"),
          s"q145: failback must take the DELTA-BOUNDED fast path (cost ∝ " +
            s"divergence, never a table diff): ${repl.lastFailbackModes}")
        require(tbl.snapshots().size == chain0 + 1 &&
            tbl.snapshots().last._2 == "mor",
          "q145: the value re-sync is ONE atomic sidecar-only commit")
        require(multisetEqual(tbl.read(), mirror.read()),
          "q145: both sides multiset-identical after failback")
        require(repl.failbackLogical("core") == 0L, "q145 idle failback ships zero")
        // the reversed service resumes DELTA-ONLY from the recorded offset
        val rev = repl.reversed
        def k2 = proj(2).filter($"bucket" < lit(20L))
        mirror.append(k2)
        require(rev.refreshIncremental("core") == k2.count(),
          "q145: the reverse cycle ships only the post-failback delta, never a full copy")
        require(multisetEqual(tbl.read(), mirror.read()),
          "q145: the old primary tracks the new one")
        mirror.read()
          .groupBy(lit("newpri").as("stage"), $"st", $"bucket")
          .agg(count(lit(1)).as("n"))
          .unionByName(tbl.read()
            .groupBy(lit("oldpri").as("stage"), $"st", $"bucket")
            .agg(count(lit(1)).as("n")))
          .orderBy($"stage", $"st", $"bucket")
      }
    },

    // NULL-MIXED KEYLESS CDC WINDOW through the correctness gate:
    // the table's nullable column is laid out so entire files
    // are ALL-NULL in it, and one window deletes a value set MIXING NULL
    // and non-null values — a null-blind min/max hull prunes the all-null
    // files and silently never deletes the NULL-valued victims. REQUIREd:
    // exact delete/insert counts (the null victims must match), one atomic
    // sidecar-only commit; the NULL-bucketed survivor aggregate hashes
    // against DuckDB replaying the statements.
    "q146_null_keyless_window" -> { (s, dir) =>
      import s.implicits._
      gate(s, "nullwin") { case Seq(wh) =>
        val cat = new graft.catalog.Catalog(s, wh, "NULLW")
        cat.createSchema("gate")
        val tbl = cat.table("gate", "docs_n")
        val orders = t(s, dir, "orders")
        val shift = orders.agg(max($"o_orderkey")).head().getLong(0) + 1L
        // v is NULL for a third of the rows; range-laying out by v packs
        // the NULLs into files that are ALL-NULL in v (nulls sort first)
        def bse = orders.select($"o_orderkey",
          when($"o_orderkey" % lit(3L) === lit(0L), lit(null).cast("long"))
            .otherwise($"o_custkey" % lit(13L)).as("v"))
        tbl.createOrReplace(bse.repartitionByRange(8, $"v"),
          sortBy = Seq("o_orderkey"))
        val chain0 = tbl.snapshots().size
        // ONE window: delete every %17=3 row (NULL and non-null v mixed —
        // the non-null values give v a bounded, null-blind hull), insert
        // shifted %23=1 rows
        val dels = bse.filter($"o_orderkey" % lit(17L) === lit(3L))
        val ins = bse.filter($"o_orderkey" % lit(23L) === lit(1L))
          .select(($"o_orderkey" + lit(shift)).as("o_orderkey"), $"v")
        val (nDel, nIns) = (dels.count(), ins.count())
        val batch = dels.withColumn("_change", lit("delete"))
          .unionByName(ins.withColumn("_change", lit("insert")))
        val (d, i) = tbl.applyChangesPositional(batch, Some("win-q146"))
        require(d == nDel && i == nIns,
          s"q146: every victim must match INCLUDING the NULL-valued ones a " +
            s"null-blind hull prunes away: got ($d, $i) want ($nDel, $nIns)")
        require(tbl.snapshots().size == chain0 + 1 &&
            tbl.snapshots().last._2 == "mor",
          "q146: one atomic sidecar-only commit, zero data files rewritten")
        tbl.read()
          .groupBy(coalesce($"v", lit(-1L)).as("vb"))
          .agg(count(lit(1)).as("n"), min($"o_orderkey").as("min_key"),
            max($"o_orderkey").as("max_key"))
          .orderBy($"vb")
      }
    },

    // GROUP-ATOMIC CYCLE PUBLISH through the correctness gate:
    // two tables take windows, the cycle STAGES both (phase 1), and
    // the mirror is REQUIREd to still read the previous cut — then one
    // publish (phase 2) flips both live together. A per-table serial
    // commit would expose table A's new window next to table B's old one
    // to any reader racing the cycle. REQUIREd: both windows mode
    // "staged", mirror state frozen across phase 1, exact shipped totals,
    // one atomic sidecar commit per table, multiset convergence; the
    // final two-table aggregate hashes against DuckDB.
    "q147_atomic_cycle_publish" -> { (s, dir) =>
      import s.implicits._
      gate(s, "atom-pri", "atom-sec") { case Seq(whP, whS) =>
        val (pri, sec) = replicaPair(s, whP, whS)
        val orders = t(s, dir, "orders")
        val shift = orders.agg(max($"o_orderkey")).head().getLong(0) + 1L
        def proj = orders.select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        def a0 = proj.filter($"o_orderkey" % lit(2L) === lit(0L))
        // the keyless table holds DUPLICATES by construction (%11 rows twice)
        def b0 = proj.filter($"o_orderkey" % lit(2L) === lit(1L))
          .unionByName(proj.filter($"o_orderkey" % lit(2L) === lit(1L) &&
            $"o_orderkey" % lit(11L) === lit(0L)))
        val ta = pri.table("gate", "atom_a")
        val tb = pri.table("gate", "atom_b")
        ta.createOrReplace(a0)
        tb.createOrReplace(b0)
        val keys = Map(("gate", "atom_a") -> Seq("o_orderkey"))
        val repl = new graft.bcdr.ReplicationService(pri, sec)
        repl.createGroup("core", Seq(("gate", "atom_a"), ("gate", "atom_b")),
          includeViews = false)
        require(repl.refreshIncremental("core", keys) == ta.count() + tb.count(),
          "q147 bootstrap")
        val ma = sec.table("gate", "atom_a")
        val mb = sec.table("gate", "atom_b")
        val (chainA, chainB) = (ma.snapshots().size, mb.snapshots().size)
        // windows on BOTH tables: keyed upsert; keyless delete + insert
        def updA = a0.filter($"o_orderkey" % lit(7L) === lit(3L))
          .select($"o_orderkey", lit("U").as("o_orderstatus"),
            ($"o_totalprice" * lit(2.0)).as("o_totalprice"))
        def novA = proj.filter($"o_orderkey" % lit(13L) === lit(2L))
          .select(($"o_orderkey" + lit(shift)).as("o_orderkey"),
            lit("N").as("o_orderstatus"), $"o_totalprice")
        ta.upsertByKeys(updA.unionByName(novA), Seq("o_orderkey"))
        val bDel = tb.read().filter($"o_orderkey" % lit(5L) === lit(0L)).count()
        tb.deleteWherePositional($"o_orderkey" % lit(5L) === lit(0L))
        def novB = proj.filter($"o_orderkey" % lit(17L) === lit(4L))
          .select(($"o_orderkey" + lit(shift)).as("o_orderkey"),
            lit("K").as("o_orderstatus"), $"o_totalprice")
        tb.append(novB)
        // PHASE 1: stage — the expensive CDC writes happen here, and the
        // mirror's VISIBLE state must not move
        val cycle = repl.stageIncrementalCycle("core",
          repl.recordHeads("core"), keys)
        require(cycle.work.map(_.mode) == Seq("staged", "staged"),
          s"q147: both windows must stage, got ${cycle.work}")
        require(multisetEqual(ma.read(), a0),
          "q147: mid-cycle reader must see table A's PREVIOUS cut")
        require(multisetEqual(mb.read(), b0),
          "q147: mid-cycle reader must see table B's PREVIOUS cut")
        // PHASE 2: one publish flips both — exact shipped totals
        val shipped = repl.publishCycle(cycle)
        require(shipped == 2 * updA.count() + novA.count() + bDel + novB.count(),
          s"q147: the publish must ship exactly both windows, got $shipped")
        require(ma.snapshots().size == chainA + 1 &&
            ma.snapshots().last._2 == "mor" &&
            mb.snapshots().size == chainB + 1 &&
            Set("mor", "pdel").contains(mb.snapshots().last._2),
          "q147: one atomic sidecar-only commit per table")
        require(multisetEqual(ma.read(), ta.read()) &&
            multisetEqual(mb.read(), tb.read()),
          "q147: both mirrors multiset-converge at publish")
        require(repl.refreshIncremental("core", keys) == 0L,
          "q147 caught up ships zero")
        statusTotals(ma.read(), "fin_a").unionByName(statusTotals(mb.read(), "fin_b"))
          .orderBy($"stage", $"o_orderstatus")
      }
    },

    // RBAC ROLE HIERARCHY through the correctness gate:
    // the reference's role-to-role grants
    // (`scripts/00_prereqs_rbac.sql:38-44`) — one role per nation holding
    // SELECT on its table, granted to its region's role, all regions
    // granted to ADMIN. REQUIREd: two-hop transitive resolution, replay
    // across a service RESTART, replication of the hierarchy to a
    // secondary whose rogue local role VANISHES (overwrite semantics).
    // The resolved-privileges view of the REPLICATED, RESTARTED secondary
    // hashes against DuckDB deriving the same rows from nation ⋈ region.
    "q148_rbac_hierarchy" -> { (s, dir) =>
      import s.implicits._
      gate(s, "rbac-pri", "rbac-sec", "rbac-audit-p",
          "rbac-audit-s") { case Seq(whP, whS, auditP, auditS) =>
        val nation = t(s, dir, "nation").select($"n_name", $"n_regionkey").collect()
        val region = t(s, dir, "region").select($"r_regionkey", $"r_name").collect()
        val regionName = region
          .map(r => r.getAs[Number](0).longValue -> r.getString(1)).toMap
        val pg = new graft.rbac.GrantService(s, auditP)
        // the whole hierarchy lands as ONE event batch = ONE audit commit
        // (the bulk-import shape; script 00 runs as a batch too) — plus a
        // couple of single-op calls below to exercise that path as well
        locally {
          import graft.rbac.GrantService.GrantEvent
          val ev = Seq.newBuilder[GrantEvent]
          ev += GrantEvent("ADMIN", "", "", "CREATE_ROLE")
          regionName.values.toSeq.sorted.foreach(r =>
            ev += GrantEvent(s"R_$r", "", "", "CREATE_ROLE"))
          nation.sortBy(_.getString(0)).foreach { n =>
            val (nm, reg) = (n.getString(0), regionName(n.getAs[Number](1).longValue))
            ev += GrantEvent(s"N_$nm", "", "", "CREATE_ROLE")
            ev += GrantEvent(s"N_$nm", "SELECT", s"tbl_$nm", "GRANT")
            // region inherits its nations
            ev += GrantEvent(s"N_$nm", "", pg.roleObj(s"R_$reg"), "GRANT_ROLE")
          }
          regionName.values.toSeq.sorted.foreach(r => // ADMIN: two hops deep
            ev += GrantEvent(s"R_$r", "", pg.roleObj("ADMIN"), "GRANT_ROLE"))
          require(pg.applyEvents(ev.result()) > 0, "q148 bulk import")
        }
        // two-hop resolution on the primary
        val nat0 = nation.head.getString(0)
        require(pg.hasGrant("ADMIN", "SELECT", s"tbl_$nat0"),
          "q148: ADMIN must resolve a nation grant through two hops")
        require(!pg.hasGrant(s"N_$nat0", "SELECT",
          s"tbl_${nation.last.getString(0)}") || nation.length == 1,
          "q148: inheritance must flow up only")
        // replicate: the hierarchy rides an includeRoles group; the
        // secondary's rogue local role must VANISH (overwrite semantics)
        val pri = new graft.catalog.Catalog(s, whP, "pri")
        val sec = new graft.catalog.Catalog(s, whS, "sec")
        pri.createSchema("gate")
        pri.table("gate", "anchor").createOrReplace(Seq((1L, "x")).toDF("id", "v"))
        val sg0 = new graft.rbac.GrantService(s, auditS)
        sg0.createRole("ROGUE")
        sg0.grant("ROGUE", "SELECT", "tbl_anything")
        val repl = new graft.bcdr.ReplicationService(pri, sec)
        repl.attachGrantServices(pg, sg0)
        repl.createGroup("acct", Seq(("gate", "anchor")), includeViews = false,
          includeRoles = true)
        repl.refresh("acct")
        require(!sg0.listRoles().contains("ROGUE"),
          "q148: secondary-local roles are dropped by the overwrite sync")
        require(repl.refresh("acct") == 1,
          "q148: an in-sync second cycle applies zero RBAC changes")
        // THE RESTART: a brand-new service over the secondary's audit log
        val sg = new graft.rbac.GrantService(s, auditS)
        require(sg.listRoleGrants().toSet == pg.listRoleGrants().toSet,
          "q148: hierarchy edges must survive the restart via replay")
        require(sg.hasGrant("ADMIN", "SELECT", s"tbl_$nat0"),
          "q148: two-hop resolution must survive restart + replication")
        // the resolved-privileges view of every region role + ADMIN
        val rows = (regionName.values.toSeq.map(r => s"R_$r") :+ "ADMIN")
          .flatMap(role => sg.resolvedGrants(role))
        rows.toDF("role", "privilege", "obj")
          .orderBy($"role", $"obj")
      }
    },

    // FIELD-ID-STYLE SCHEMA EVOLUTION through the correctness gate:
    // mid-window the primary RENAMES one column and DROPS
    // another — both REQUIREd to be marker-only commits touching ZERO
    // data files — then appends under the new schema; one incremental
    // cycle ships ops + changes, the mirror is REQUIREd to land the ops
    // as its own marker-only commits and speak the head cut's logical
    // schema, a post-ops keyed upsert under the NEW name ships
    // sidecar-only, and the final grouped aggregate hashes vs DuckDB
    // replaying the statements for BOTH sides.
    "q149_column_mapping_repl" -> { (s, dir) =>
      import s.implicits._
      gate(s, "colmap-pri", "colmap-sec") { case Seq(whP, whS) =>
        val (pri, sec) = replicaPair(s, whP, whS)
        val tbl = pri.table("gate", "orders_c")
        val orders = t(s, dir, "orders")
        val shift = orders.agg(max($"o_orderkey")).head().getLong(0) + 1L
        tbl.createOrReplace(orders.select($"o_orderkey", $"o_orderstatus",
          $"o_totalprice", ($"o_custkey" % lit(100L)).as("junk"),
          ($"o_custkey" % lit(7L)).cast("int").as("grade")))
        val repl = new graft.bcdr.ReplicationService(pri, sec)
        repl.createGroup("core", Seq(("gate", "orders_c")), includeViews = false)
        val keys = Map(("gate", "orders_c") -> Seq("o_orderkey"))
        require(repl.refreshIncremental("core", keys) == tbl.count(),
          "q149 bootstrap full copy")
        val mirror = sec.table("gate", "orders_c")
        val chain0 = mirror.snapshots().size
        // window 1, part 1: a keyed upsert under the OLD names
        val upd1 = orders.filter($"o_orderkey" % lit(7L) === lit(3L))
          .select($"o_orderkey", $"o_orderstatus",
            ($"o_totalprice" * lit(2.0)).as("o_totalprice"),
            ($"o_custkey" % lit(100L)).as("junk"),
            ($"o_custkey" % lit(7L)).cast("int").as("grade"))
        tbl.upsertByKeys(upd1, Seq("o_orderkey"))
        // part 2: the column ops — REQUIREd marker-only (zero data files
        // written, rewritten, or deleted on the primary)
        val filesBefore = dataFileStamps(s, whP)
        tbl.renameColumn("o_totalprice", "price")
        tbl.dropColumn("junk")
        tbl.widenColumn("grade", "bigint") // int → long, the promotion rule
        require(dataFileStamps(s, whP) == filesBefore,
          "q149: rename/drop/widen must be marker-only — zero primary data files touched")
        // part 3: an append under the NEW schema — same window
        def nova = orders.filter($"o_orderkey" % lit(11L) === lit(4L))
          .select(($"o_orderkey" + lit(shift)).as("o_orderkey"),
            lit("R").as("o_orderstatus"), $"o_totalprice".as("price"),
            ($"o_custkey" % lit(7L)).cast("bigint").as("grade"))
        tbl.append(nova)
        val s1 = repl.refreshIncremental("core", keys)
        require(s1 == 2 * upd1.count() + nova.count(),
          s"q149 window 1 must ship exactly its net rows: $s1")
        require(mirror.read().columns.toSeq ==
            Seq("o_orderkey", "o_orderstatus", "price", "grade"),
          s"q149: the mirror must speak the head cut's logical schema, " +
            s"got ${mirror.read().columns.toSeq}")
        require(mirror.read().schema("grade").dataType ==
            org.apache.spark.sql.types.LongType,
          "q149: the widen promotes the mirror's column type too")
        require(mirror.snapshots().count(_._2 == "colmap") == 3,
          "q149: the ops land on the mirror as marker-only commits")
        // window 2: a keyed upsert under the NEW name — sidecar-only
        val upd2 = nova.filter($"o_orderkey" % lit(2L) === lit(0L))
          .withColumn("price", $"price" * lit(3.0))
        tbl.upsertByKeys(upd2, Seq("o_orderkey"))
        val s2 = repl.refreshIncremental("core", keys)
        require(s2 == 2 * upd2.count(),
          s"q149 window 2 ships delete+insert per updated row: $s2")
        require(repl.refreshIncremental("core", keys) == 0L,
          "q149 caught up ships zero")
        val kinds = mirror.snapshots().drop(chain0).map(_._2).toSet
        require(kinds == Set("colmap", "mor"),
          s"q149: mirror windows must be colmap markers + sidecar-only " +
            s"commits, saw $kinds")
        def agg(df: org.apache.spark.sql.DataFrame, stage: String) =
          df.groupBy(lit(stage).as("stage"), $"o_orderstatus")
            .agg(count(lit(1)).as("n"), decCents($"price").as("price_cents"),
              sum($"grade").as("grade_sum"))
        agg(mirror.read(), "secondary")
          .unionByName(agg(tbl.read(), "primary"))
          .orderBy($"stage", $"o_orderstatus")
      }
    },

    // ADD COLUMN WITH INITIAL DEFAULT through the correctness gate
    // (Iceberg v3 `initial-default`): a constant backfill of a 100 TB
    // table as ONE marker-only commit — REQUIREd zero data files
    // touched — with pre-add rows reading the DEFAULT (never NULL),
    // post-add appends carrying real values, a COW delete spanning both
    // epochs, and the final grouped aggregate over the defaulted column
    // hashed vs DuckDB replaying the statements.
    "q150_default_backfill" -> { (s, dir) =>
      import s.implicits._
      gate(s, "defbf") { case Seq(wh) =>
        val cat = new graft.catalog.Catalog(s, wh, "pri")
        cat.createSchema("gate")
        val tbl = cat.table("gate", "orders_b")
        val orders = t(s, dir, "orders")
        val shift = orders.agg(max($"o_orderkey")).head().getLong(0) + 1L
        tbl.createOrReplace(orders.select($"o_orderkey", $"o_orderstatus",
          $"o_totalprice"))
        val before = dataFileStamps(s, wh)
        tbl.addColumn("channel", "string", Some("store"))
        require(dataFileStamps(s, wh) == before,
          "q150: the default backfill must be marker-only — zero data files")
        require(tbl.snapshots().last._2 == "colmap",
          "q150: the add lands as a colmap marker commit")
        // post-add appends carry REAL values that win over the default
        tbl.append(orders.filter($"o_orderkey" % lit(9L) === lit(2L))
          .select(($"o_orderkey" + lit(shift)).as("o_orderkey"),
            lit("W").as("o_orderstatus"), $"o_totalprice",
            lit("web").as("channel")))
        // a COW delete spanning BOTH epochs (pre-add victims read the
        // default through the CDC-adjusted rewrite paths)
        tbl.delete($"o_orderkey" % lit(5L) === lit(0L))
        tbl.read()
          .groupBy($"channel", $"o_orderstatus")
          .agg(count(lit(1)).as("n"), decCents($"o_totalprice").as("total_cents"))
          .orderBy($"channel", $"o_orderstatus")
      }
    },

    // FAILBACK WITH COLUMN OPS through the correctness gate (the
    // q145 mold at data scale): the new primary runs
    // RENAME + DROP + ADD-with-DEFAULT after failover — REQUIREd
    // marker-only on its side — plus keyed DML; `failbackLogical` must
    // ship the ops home as marker-only commits BEFORE the value algebra
    // (delta mode preserved), land both sides schema- and
    // multiset-identical, an immediate retry shipping zero without
    // replaying the ops, and the reversed service resuming delta-only.
    // The final grouped aggregate under the POST-OP schema hashes vs
    // DuckDB replaying the new primary's timeline.
    "q151_failback_colmap" -> { (s, dir) =>
      import s.implicits._
      gate(s, "fbc-pri", "fbc-sec") { case Seq(whP, whS) =>
        val (pri, sec) = replicaPair(s, whP, whS)
        val orders = t(s, dir, "orders")
        val shift = orders.agg(max($"o_orderkey")).head().getLong(0) + 1L
        val tbl = pri.table("gate", "orders_f")
        tbl.createOrReplace(orders.select($"o_orderkey",
          $"o_orderstatus".as("st"), $"o_totalprice".as("price"),
          ($"o_custkey" % lit(100L)).as("junk")))
        val repl = new graft.bcdr.ReplicationService(pri, sec)
        repl.createGroup("core", Seq(("gate", "orders_f")), includeViews = false)
        val keys = Map(("gate", "orders_f") -> Seq("o_orderkey"))
        require(repl.refreshIncremental("core", keys) == tbl.count(),
          "q151 bootstrap full copy")
        // the RPO-lost write: rows on the old primary that never ship —
        // failback must REVERT them (the new primary's timeline wins)
        tbl.append(orders.filter($"o_orderkey" % lit(17L) === lit(5L))
          .select(($"o_orderkey" + lit(3L * shift)).as("o_orderkey"),
            lit("L").as("st"), $"o_totalprice".as("price"),
            ($"o_custkey" % lit(100L)).as("junk")))
        repl.promote()
        val mirror = sec.table("gate", "orders_f")
        // the new primary's own timeline: three column ops — REQUIREd
        // marker-only on ITS side — then keyed DML under the new schema
        val filesBefore = dataFileStamps(s, whS)
        mirror.renameColumn("price", "amount")
        mirror.dropColumn("junk")
        mirror.addColumn("tier", "string", Some("std"))
        require(dataFileStamps(s, whS) == filesBefore,
          "q151: the new primary's ops must be marker-only")
        mirror.upsertByKeys(orders.filter($"o_orderkey" % lit(5L) === lit(1L))
          .select($"o_orderkey", $"o_orderstatus".as("st"),
            ($"o_totalprice" * lit(3.0)).as("amount"), lit("gold").as("tier")),
          Seq("o_orderkey"))
        mirror.append(orders.filter($"o_orderkey" % lit(11L) === lit(4L))
          .select(($"o_orderkey" + lit(shift)).as("o_orderkey"),
            lit("N").as("st"), $"o_totalprice".as("amount"),
            lit("new").as("tier")))
        val colmap0 = tbl.snapshots().count(_._2 == "colmap")
        val shipped = repl.failbackLogical("core", keys)
        require(shipped > 0L, "q151: the failback ships the divergence")
        require(repl.lastFailbackModes == Map(("gate", "orders_f") -> "delta"),
          s"q151: fwd-window ops must preserve the DELTA-BOUNDED path, " +
            s"got ${repl.lastFailbackModes}")
        require(tbl.snapshots().count(_._2 == "colmap") == colmap0 + 3,
          "q151: the 3 ops land home as marker-only colmap commits")
        require(tbl.read().columns.toSeq == mirror.read().columns.toSeq,
          s"q151: both sides speak the post-op schema, " +
            s"got ${tbl.read().columns.toSeq}")
        require(multisetEqual(tbl.read(), mirror.read()),
          "q151: both sides multiset-identical after failback")
        require(repl.failbackLogical("core", keys) == 0L,
          "q151: an idle failback ships zero")
        require(tbl.snapshots().count(_._2 == "colmap") == colmap0 + 3,
          "q151: the retry must not replay the shipped ops")
        // the reversed service resumes DELTA-ONLY, never re-ships the ops
        val rev = repl.reversed
        rev.createGroup("core", Seq(("gate", "orders_f")), includeViews = false)
        def k2 = orders.filter($"o_orderkey" % lit(13L) === lit(6L))
          .select(($"o_orderkey" + lit(2L * shift)).as("o_orderkey"),
            lit("K").as("st"), $"o_totalprice".as("amount"),
            lit("kt").as("tier"))
        mirror.append(k2)
        require(rev.refreshIncremental("core", keys) == k2.count(),
          "q151: the reverse cycle ships only the post-failback delta")
        require(tbl.snapshots().count(_._2 == "colmap") == colmap0 + 3,
          "q151: the reverse cycle must not replay the ops either")
        def agg(df: org.apache.spark.sql.DataFrame, stage: String) =
          df.groupBy(lit(stage).as("stage"), $"st", $"tier")
            .agg(count(lit(1)).as("n"), decCents($"amount").as("amount_cents"))
        agg(mirror.read(), "newpri")
          .unionByName(agg(tbl.read(), "oldpri"))
          .orderBy($"stage", $"st", $"tier")
      }
    },

    // ATOMIC MULTI-OP DDL through the correctness gate
    // (`alterColumns`, Iceberg UpdateSchema semantics): a column SWAP +
    // widen + add-with-default land as ONE marker commit — REQUIREd
    // zero data files touched and exactly one colmap snapshot — then an
    // append under the post-batch schema and a COW delete spanning both
    // epochs; the final grouped aggregate under the swapped names hashes
    // vs DuckDB replaying the statements.
    "q152_atomic_alter" -> { (s, dir) =>
      import s.implicits._
      gate(s, "atomalter") { case Seq(wh) =>
        val cat = new graft.catalog.Catalog(s, wh, "pri")
        cat.createSchema("gate")
        val tbl = cat.table("gate", "orders_a")
        val orders = t(s, dir, "orders")
        val shift = orders.agg(max($"o_orderkey")).head().getLong(0) + 1L
        tbl.createOrReplace(orders.select($"o_orderkey",
          $"o_orderstatus".as("st"), $"o_orderpriority".as("pri"),
          $"o_totalprice".as("price"),
          ($"o_custkey" % lit(7L)).cast("int").as("seg")))
        val before = dataFileStamps(s, wh)
        val chain0 = tbl.snapshots().size
        import graft.warehouse.SnapshotTable.ColumnAlter
        tbl.alterColumns(Seq(
          ColumnAlter.rename("st", "swap_tmp"),
          ColumnAlter.rename("pri", "st"),
          ColumnAlter.rename("swap_tmp", "pri"),
          ColumnAlter.widen("seg", "bigint"),
          ColumnAlter.add("grade", "string", Some("c"))))
        require(dataFileStamps(s, wh) == before,
          "q152: the whole batch must be marker-only — zero data files")
        require(tbl.snapshots().size == chain0 + 1 &&
            tbl.snapshots().last._2 == "colmap",
          "q152: swap + widen + add land as ONE colmap commit")
        tbl.append(orders.filter($"o_orderkey" % lit(9L) === lit(5L))
          .select(($"o_orderkey" + lit(shift)).as("o_orderkey"),
            lit("X").as("st"), lit("Y").as("pri"),
            $"o_totalprice".as("price"),
            ($"o_custkey" % lit(3L)).cast("bigint").as("seg"),
            lit("g").as("grade")))
        // a COW delete spanning BOTH epochs (pre-batch victims rewrite
        // through the mapped read: swapped names, widened type, default)
        tbl.delete($"o_orderkey" % lit(10L) === lit(3L))
        tbl.read().groupBy($"st", $"pri", $"grade")
          .agg(count(lit(1)).as("n"), decCents($"price").as("price_cents"),
            sum($"seg").as("seg_sum"))
          .orderBy($"st", $"pri", $"grade")
      }
    },

    // RETRACTION MV FOLD through the correctness gate: an aggregate MV is
    // built, then file-pruned DML lands on the base — a DELETE plus an
    // UPDATE that MOVES rows between the MV's groups (status → 'X': the
    // CDC delete+insert pair hits two groups). The refresh is REQUIRED to
    // take the "retraction" path (signed CDC partials folded into the
    // existing partials — never a base rescan), the routed query is
    // REQUIRED to read only the `_mv` partials, and the DuckDB oracle
    // recomputes the post-DML aggregate from raw orders — a fold that
    // drops a survivor, double-counts a carryover, or misses a group move
    // turns the row red.
    "q128_mv_retraction" -> { (s, dir) =>
      import s.implicits._
      withConf(s, graft.mv.MvRewrite.FlagKey -> "false") {
        try gate(s, "mvretr") { case Seq(wh) =>
          val cat = new graft.catalog.Catalog(s, wh, "MVRETR")
          val mvm = new graft.mv.MaterializedViewManager(cat)
          // the retraction FOLD is this gate's surface: pin the cost policy
          // to it (at gate scale the policy would rightly choose rebuild)
          mvm.retractionCrossoverRows = 0
          val base = cat.table("gate", "orders_r")
          keyRanged(base, t(s, dir, "orders")
            .select($"o_orderkey", $"o_orderstatus", $"o_totalprice"))
          mvm.createAggMv("orders_by_status_r", ("gate", "orders_r"),
            Seq("o_orderstatus"), Seq("o_totalprice"))
          // file-pruned DML AFTER the build — the deltas that must fold as
          // signed partials
          val (_, dPlan) = base.deletePruned($"o_orderkey" <= lit(150L))
          require(dPlan.filesKept * 2 <= dPlan.filesTotal,
            s"q128 delete must prune: ${dPlan.filesKept}/${dPlan.filesTotal}")
          base.update($"o_orderkey".between(300L, 450L),
            Map("o_orderstatus" -> lit("X")))
          val mode = mvm.refreshIncremental("orders_by_status_r")
          require(mode == "retraction",
            s"q128 requires the signed-CDC retraction fold, got '$mode'")
          mvm.enableRewrite("orders_by_status_r")
          val routed = base.read()
            .groupBy($"o_orderstatus")
            .agg(count(lit(1)).as("n_orders"),
              sum($"o_totalprice".cast("decimal(18,2)")).as("total"))
            .select($"o_orderstatus", $"n_orders",
              ($"total" * 100).cast("long").as("total_cents"))
            .orderBy($"o_orderstatus")
          val scans = scanRoots(routed)
          require(scans.nonEmpty && scans.forall(_.contains("/_mv/")),
            s"q128 must read ONLY the retraction-freshened MV partials, scanned: $scans")
          routed
        } finally graft.mv.MvRewrite.unregister("orders_by_status_r")
      }
    },

    // STREAMING CHANGE FEED through the correctness gate: a REAL
    // checkpointed `readChangeFeed` stream (Trigger.AvailableNow) consumes
    // the table's initial state, then DML lands (append + file-pruned
    // DELETE + UPDATE), and a SECOND pass on the SAME checkpoint must
    // deliver exactly the net row changes — no initial-load re-delivery
    // (checkpoint resume), deletes/updates as tagged pairs, carried-over
    // survivors cancelled. The DuckDB oracle derives the same change set
    // semantically (after-vs-before EXCEPT ALLs). This is the tail that
    // stays alive THROUGH row-level DML — the plain rows tail must refuse
    // and restart there (StreamingSpec gates that refusal).
    "q126_stream_cdc" -> { (s, dir) =>
      import s.implicits._
      gate(s, "streamcdc") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh + "/tbl")
        keyRanged(tbl, orders4(s, dir))
        val initialRows = new java.util.concurrent.atomic.AtomicLong(0)
        val deltas = new java.util.concurrent.CopyOnWriteArrayList[org.apache.spark.sql.Row]()
        val chgSchema = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.types.StructType]()
        def pass(collect: Boolean): Unit = {
          val q = graft.streaming.SnapshotStream.readChanges(s, tbl.root)
            .writeStream
            .option("checkpointLocation", wh + "/ckpt")
            .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              chgSchema.set(b.schema)
              if (collect) deltas.addAll(java.util.Arrays.asList(b.collect(): _*))
              else initialRows.addAndGet(b.count())
              ()
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        pass(collect = false) // initial load consumed against the checkpoint
        require(initialRows.get() == tbl.count(),
          s"q126 initial CDC load must equal the table: ${initialRows.get()} vs ${tbl.count()}")
        tbl.append(t(s, dir, "orders").filter($"o_orderkey".between(400L, 450L))
          .select(($"o_orderkey" + 100000000L).as("o_orderkey"), $"o_custkey",
            lit("S").as("o_orderstatus"), $"o_totalprice"))
        tbl.delete($"o_orderkey" <= lit(100L))
        tbl.update($"o_orderkey".between(200L, 300L),
          Map("o_orderstatus" -> lit("X")))
        pass(collect = true) // checkpoint resume: deltas ONLY
        require(!deltas.isEmpty, "q126 expects the resumed feed to carry the DML deltas")
        import scala.jdk.CollectionConverters._
        val chg = s.createDataFrame(deltas.asScala.toList.asJava, chgSchema.get())
        chg
          .groupBy($"_change", $"o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            decCents($"o_totalprice").as("total_cents"),
            countDistinct($"o_orderkey").as("n_keys"))
          .orderBy($"_change", $"o_orderstatus")
      }
    },

    // Z-ORDER CLUSTERING through the correctness gate (Iceberg/Delta
    // `OPTIMIZE ZORDER BY`): the same orders rows written twice into 16
    // files — linearly range-sorted by o_orderkey, and range-partitioned
    // on the native `zorder2` Morton interleave of (custkey, orderkey).
    // REQUIREd: the linear layout prunes nothing on the second dimension
    // while the z-order layout prunes BOTH (z custkey-kept must be at most
    // half the linear layout's), and the answer comes from the z-layout's
    // PRUNED reads — so a curve bug that strands matching rows in skipped
    // files turns the row red against DuckDB's full-table answer. Query
    // bounds derive from each engine's own max-key metadata (domains scale
    // with sf; Spark reads them from the stats sidecar, no scan). At
    // 100 TB one z-ordered layout serves range queries on every encoded
    // dimension — the alternative is a full copy of the table per sort key.
    "q125_zorder_scan" -> { (s, dir) =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      gate(s, "zorder") { case Seq(wh) =>
        val cols = Seq($"o_orderkey", $"o_custkey", $"o_totalprice")
        val lt = new graft.warehouse.SnapshotTable(s, s"$wh/lin")
        lt.createOrReplace(t(s, dir, "orders").select(cols: _*)
          .repartitionByRange(16, $"o_orderkey"), sortBy = Seq("o_orderkey"))
        // key domains from the linear copy's sidecar metadata (no scan)
        val cMax = lt.columnStats()("o_custkey").max.get.toLong
        val oMax = lt.columnStats()("o_orderkey").max.get.toLong
        // dimensions NORMALIZED to a shared 16-bit axis before interleaving
        // (the Delta OPTIMIZE range-ID step): raw interleave of a 14-bit
        // custkey with an 18-bit orderkey degenerates into orderkey bands —
        // the wider dimension owns every high bit of the curve
        val zt = new graft.warehouse.SnapshotTable(s, s"$wh/z")
        zt.createOrReplace(t(s, dir, "orders").select(cols: _*)
          .repartitionByRange(16, expr(
            s"zorder2(cast(o_custkey * 65536 div ${cMax + 1} as int), " +
              s"cast(o_orderkey * 65536 div ${oMax + 1} as int))")))
        // query bounds: 1/10 of each key domain
        val cLim = cMax / 10
        val oLim = oMax / 10
        val cRange = Seq(graft.warehouse.ColRange("o_custkey", Some(0L), Some(cLim)))
        val oRange = Seq(graft.warehouse.ColRange("o_orderkey", Some(0L), Some(oLim)))
        val linC = lt.planFiles(cRange).filesKept
        require(linC >= 12,
          s"linear layout must NOT prune its second dimension, kept $linC/16")
        val (zcDf, zcPlan) = zt.readPruned(cRange)
        val (zoDf, zoPlan) = zt.readPruned(oRange)
        require(zcPlan.filesKept * 2 <= linC,
          s"z-order custkey pruning (${zcPlan.filesKept}) must halve the linear layout's ($linC)")
        require(zoPlan.filesKept < zoPlan.filesTotal,
          s"z-order orderkey pruning: kept ${zoPlan.filesKept}/${zoPlan.filesTotal}")
        def summarize(df: org.apache.spark.sql.DataFrame, dim: String) =
          df.agg(count(lit(1)).as("n_rows"),
              decCents($"o_totalprice").as("total_cents"))
            .select(lit(dim).as("dim"), $"n_rows", $"total_cents")
        summarize(zcDf, "custkey")
          .unionAll(summarize(zoDf, "orderkey"))
          .orderBy($"dim")
      }
    },

    // Iceberg-style METADATA PRUNING through the correctness gate: build a
    // snapshot table from `orders` laid out as 8 date-ranged files, plan a
    // one-year scan from the footer-stat sidecar alone, and REQUIRE that
    // files were skipped — then aggregate only the surviving files' rows.
    // The DuckDB oracle computes the same year over the FULL table, so a
    // stats bug that drops a needed file (missing rows) or the pruning not
    // firing at all (the require) both turn the row red. At 100 TB this
    // planFiles step is the difference between opening every data file of
    // a 7-year table and opening ~2/8 of them — before any Spark job runs.
    "q104_pruned_scan" -> { (s, dir) =>
      import s.implicits._
      gate(s, "prune") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        tbl.createOrReplace(
          t(s, dir, "orders")
            .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
            .repartitionByRange(8, $"o_orderdate"),
          sortBy = Seq("o_orderdate"))
        val lo = java.time.Instant.parse("1997-01-01T00:00:00Z")
        val hi = java.time.Instant.parse("1998-01-01T00:00:00Z")
        val (pruned, plan) = tbl.readPruned(Seq(
          graft.warehouse.ColRange("o_orderdate", Some(lo), Some(hi))))
        require(plan.filesKept < plan.filesTotal,
          s"q104 expects metadata pruning to skip files: kept ${plan.filesKept}/${plan.filesTotal}")
        pruned
          .filter($"o_orderdate" >= lit(java.sql.Timestamp.from(lo)) &&
            $"o_orderdate" < lit(java.sql.Timestamp.from(hi)))
          .groupBy(date_trunc("month", $"o_orderdate").cast("date").as("month"))
          .agg(count(lit(1)).as("n_orders"), decCents($"o_totalprice").as("total_cents"))
          .withColumn("pruned", lit(plan.filesKept < plan.filesTotal))
          .orderBy($"month")
      }
    },

    // NULL-COUNT pruning through the correctness gate.
    // q104 proves min/max bounds prune; this proves the OTHER sidecar
    // field: `urgent_cust` is NULL except on 1-URGENT orders, and the
    // table is laid out so whole files carry only non-urgent rows — an
    // IS NOT NULL scan (a ColRange with notNull and NO bounds, so min/max
    // can't help) must drop those files from the footer-recorded null
    // counts alone, before any Spark job. readPruned auto-applies the
    // IS NOT NULL residual, so the kept file's mixed rows
    // are trimmed without a manual re-filter. The DuckDB oracle runs the
    // equivalent predicate over the FULL table: a lost file (missing
    // rows) or pruning not firing (the require) both red the row. At
    // 100 TB this is the "scan the sparse column" shape — reading only
    // the files where an optional attribute is populated.
    "q113_notnull_pruned" -> { (s, dir) =>
      import s.implicits._
      gate(s, "nnprune") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        tbl.createOrReplace(
          t(s, dir, "orders")
            .select($"o_orderkey", $"o_orderdate", $"o_totalprice", $"o_custkey", $"o_orderpriority")
            .withColumn("urgent_cust", when($"o_orderpriority" === "1-URGENT", $"o_custkey"))
            .repartition(8, $"o_orderpriority"))
        val (pruned, plan) = tbl.readPruned(Seq(
          graft.warehouse.ColRange("urgent_cust", notNull = true)))
        require(plan.filesKept < plan.filesTotal,
          s"q113 expects null-count pruning to skip files: kept ${plan.filesKept}/${plan.filesTotal}")
        // the profile the pruning read from must also account every null
        val prof = tbl.columnStats()("urgent_cust")
        require(prof.nullCount.isDefined && prof.valueCount.isDefined,
          "q113 expects the sidecar to carry value/null counts")
        pruned
          .groupBy(date_trunc("month", $"o_orderdate").cast("date").as("month"))
          .agg(count(lit(1)).as("n_orders"),
            countDistinct($"urgent_cust").as("n_custs"),
            decCents($"o_totalprice").as("total_cents"))
          .withColumn("pruned", lit(plan.filesKept < plan.filesTotal))
          .orderBy($"month")
      }
    },

    // DYNAMIC partition pruning through the correctness gate. q104 proves
    // STATIC pruning (literal predicates resolved against footer stats at
    // plan time); this is the runtime sibling: the selective values arrive
    // through a JOIN, so no literal filter exists on the fact at plan time
    // — Catalyst's PartitionPruning rule instead plants a dynamicpruning
    // subquery on the fact scan's PARTITION column, reusing the dim's
    // broadcast, and whole hive partitions of the fact are skipped at
    // runtime. The require turns "DPP didn't fire" into a red correctness
    // row, and the DuckDB oracle (plain WHERE ... IN over the full table)
    // proves pruning changed nothing. At 100 TB fact ⋈ filtered-dim on a
    // partition key IS the star-schema read path — scanning only the
    // joined partitions is the whole point of partitioning the fact.
    "q109_dpp_join" -> { (s, dir) =>
      import s.implicits._
      gate(s, "dpp") { case Seq(wh) =>
        val tbl = new graft.warehouse.SnapshotTable(s, wh)
        tbl.createOrReplace(
          t(s, dir, "orders")
            .select($"o_orderkey", $"o_totalprice", $"o_orderpriority"),
          partitionBy = Seq("o_orderpriority"))
        val fact = tbl.read()
        // the selective set reaches the fact only through the join
        val dim = t(s, dir, "orders")
          .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
          .select($"o_orderpriority").distinct()
        val res = fact.join(dim, Seq("o_orderpriority"))
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            decCents($"o_totalprice").as("total_cents"))
          .orderBy($"o_orderpriority")
        require(res.queryExecution.executedPlan.toString
            .toLowerCase.contains("dynamicpruning"),
          "q109 expects a dynamicpruning subquery on the fact's partition column")
        res
      }
    },

    // The streaming TAIL through the correctness gate. StreamingSpec
    // proves the tail's protocol properties (restart, orphan invisibility,
    // replace refusal); this puts its DELIVERY SEMANTICS behind the DuckDB
    // hash: build a scratch snapshot table from `nation` in three commits,
    // run a real checkpointed readStream tail (phase 1 — must deliver the
    // full table at stream start), commit one more append, restart the
    // SAME checkpoint (phase 2 — must deliver exactly the delta). The
    // result is one row per (phase, delivered key): a re-delivered or lost
    // row changes the row set, a row delivered in the wrong phase moves
    // between phases — every failure mode of an exactly-once tail turns
    // the hash red. The oracle re-derives the expected phase partition
    // from `nation` with plain SQL.
    "q112_stream_tail_gate" -> { (s, dir) =>
      import s.implicits._
      gate(s, "tailgate") { case Seq(wh) =>
        val root = s"$wh/tbl"
        val tbl = new graft.warehouse.SnapshotTable(s, root)
        val nat = t(s, dir, "nation").select($"n_nationkey", $"n_name")
        tbl.createOrReplace(nat.filter($"n_nationkey" < 10))
        tbl.append(nat.filter($"n_nationkey" >= 10 && $"n_nationkey" < 20))
        def tailOnce(): Seq[(Int, String)] = {
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
          val q = graft.streaming.SnapshotStream.read(s, root)
            .writeStream
            .option("checkpointLocation", s"$wh/ckpt")
            .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              buf.synchronized {
                buf ++= b.collect().map(r => (r.getInt(0), r.getString(1)))
              }
              ()
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          buf.synchronized(buf.toSeq)
        }
        val phase1 = tailOnce() // stream start: the full table so far
        tbl.append(nat.filter($"n_nationkey" >= 20))
        val phase2 = tailOnce() // restart, same checkpoint: the delta only
        (phase1.map(kv => (1, kv._1, kv._2)) ++ phase2.map(kv => (2, kv._1, kv._2)))
          .toDF("phase", "n_nationkey", "n_name")
          .orderBy($"phase", $"n_nationkey")
      }
    },

    // CONTINUOUS MV maintenance through the correctness gate:
    // q101 proves the ROUTER; this proves the stream-driven FOLD.
    // The MV partials are built over a seed third of `orders`, the other
    // two thirds land as appends AFTER the build, and the only thing that
    // folds them in is a [[graft.streaming.MvMaintenance]] tail firing
    // `refreshIncremental` — the query `require`s the observed refresh
    // mode was "incremental" (never "full": a rebuild would hide a broken
    // delta fold) AND that the routed plan scans ONLY `_mv` partials.
    // The DuckDB oracle aggregates ALL of orders from the base parquet,
    // so a row lost or doubled anywhere in append → tail → fold → route
    // turns the hash red.
    "q115_stream_mv_fold" -> { (s, dir) =>
      import s.implicits._
      withConf(s, graft.mv.MvRewrite.FlagKey -> "false") {
        try gate(s, "mvstreamgate") { case Seq(wh) =>
          val cat = new graft.catalog.Catalog(s, wh, "MVSTREAM")
          val mvm = new graft.mv.MaterializedViewManager(cat)
          val orders = t(s, dir, "orders")
            .select($"o_orderkey", $"o_orderpriority", $"o_orderstatus", $"o_totalprice")
          val base = cat.table("gate", "orders_s")
          base.createOrReplace(orders.filter(pmod($"o_orderkey", lit(3)) === 0).drop("o_orderkey"))
          mvm.createAggMv("orders_by_prio_stream", ("gate", "orders_s"),
            Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice"),
            minMaxCols = Seq("o_totalprice"))
          // two appends AFTER the build — the partials are now stale and
          // only the maintenance tail may fold the deltas in
          base.append(orders.filter(pmod($"o_orderkey", lit(3)) === 1).drop("o_orderkey"))
          base.append(orders.filter(pmod($"o_orderkey", lit(3)) === 2).drop("o_orderkey"))
          val modes = scala.collection.mutable.ArrayBuffer.empty[String]
          val q = graft.streaming.MvMaintenance.continuousRefresh(
            mvm, "orders_by_prio_stream", base, s"$wh/ckpt",
            onRefresh = m => modes.synchronized { modes += m; () })
          q.awaitTermination()
          val seen = modes.synchronized(modes.toList)
          require(seen.contains("incremental") && !seen.contains("full"),
            s"q115 requires a stream-driven INCREMENTAL fold, observed: $seen")
          mvm.enableRewrite("orders_by_prio_stream")
          val routed = base.read()
            .groupBy($"o_orderpriority")
            .agg(count(lit(1)).as("n_orders"), sum($"o_totalprice").as("total"),
              min($"o_totalprice").as("min_price"),
              max($"o_totalprice").as("max_price"),
              avg($"o_totalprice").as("avg_price"))
            .select($"o_orderpriority", $"n_orders",
              ($"total".cast("decimal(18,2)") * 100).cast("long").as("total_cents"),
              $"min_price", $"max_price", $"avg_price")
            .orderBy($"o_orderpriority")
          val scans = scanRoots(routed)
          require(scans.nonEmpty && scans.forall(_.contains("/_mv/")),
            s"q115 must read ONLY the tail-freshened MV partials, scanned: $scans")
          routed
        } finally graft.mv.MvRewrite.unregister("orders_by_prio_stream")
      }
    },

    // STATS-DRIVEN BROADCAST through the correctness gate (the first
    // CBO step made AMBIENT): Spark's own auto-broadcast
    // is DISABLED and the query calls NO join API — a plain
    // `read().join(read(), ...)` — so the only thing that can turn this
    // join into a BroadcastHashJoin is the injected
    // [[graft.warehouse.CostJoinRule]] recognizing the snapshot-dir scans
    // and planting the hint from the tables' own storage metadata (a
    // per-scanned-dir byte listing — no data I/O, no hint in query code).
    // The query `require`s the broadcast actually planned, then the oracle
    // hash-checks the joined aggregate against the base parquet.
    "q116_stats_broadcast_join" -> { (s, dir) =>
      import s.implicits._
      withConf(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          graft.warehouse.CostJoinRule.FlagKey -> "true") {
        gate(s, "statsjoin") { case Seq(wh) =>
          graft.warehouse.CostJoinRule.install(s)
          val cat = new graft.catalog.Catalog(s, wh, "STATSJOIN")
          val nat = cat.table("gate", "nation_s")
          nat.createOrReplace(t(s, dir, "nation")
            .select($"n_nationkey".as("nk"), $"n_name"))
          val cust = cat.table("gate", "cust_s")
          val c = t(s, dir, "customer")
            .select($"c_custkey", $"c_nationkey".as("nk"), $"c_acctbal")
          // a multi-snapshot chain, so the byte estimate must walk the live
          // chain, not a single dir
          cust.createOrReplace(c.filter($"c_custkey" % 2 === 0))
          cust.append(c.filter($"c_custkey" % 2 =!= 0))
          val joined = cust.read().join(nat.read(), Seq("nk")) // no API, no hint
            .groupBy($"n_name")
            .agg(count(lit(1)).as("n_custs"),
              (sum($"c_acctbal".cast("decimal(18,2)")) * 100).cast("long").as("bal_cents"))
            .orderBy($"n_name")
          val plan = joined.queryExecution.executedPlan.toString
          require(plan.contains("BroadcastHashJoin"),
            s"q116: with auto-broadcast off and no hint in query code, only the " +
              s"injected metadata-stats rule can broadcast — it didn't:\n$plan")
          joined
        }
      }
    })

  val oracle: Map[String, String] = Map(
    "q116_stats_broadcast_join" ->
      """SELECT n_name, count(*) AS n_custs,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS bal_cents
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name
         ORDER BY n_name""",

    "q115_stream_mv_fold" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                MIN(o_totalprice) AS min_price,
                MAX(o_totalprice) AS max_price,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
         FROM orders
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "q112_stream_tail_gate" ->
      """SELECT 1 AS phase, n_nationkey, n_name FROM nation WHERE n_nationkey < 20
         UNION ALL
         SELECT 2, n_nationkey, n_name FROM nation WHERE n_nationkey >= 20
         ORDER BY phase, n_nationkey""",

    "q109_dpp_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents
         FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    "q113_notnull_pruned" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                count(*) AS n_orders,
                count(DISTINCT o_custkey) AS n_custs,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                TRUE AS pruned
         FROM orders
         WHERE (CASE WHEN o_orderpriority = '1-URGENT' THEN o_custkey END) IS NOT NULL
         GROUP BY 1
         ORDER BY 1""",

    "q132_cdc_mirror" ->
      """WITH t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         app AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
                        'A' AS o_orderstatus, o_totalprice
                 FROM orders WHERE o_orderkey BETWEEN 500 AND 600),
         a1 AS (SELECT * FROM t0 UNION ALL SELECT * FROM app),
         a2 AS (SELECT * FROM a1 WHERE NOT (o_orderkey <= 150)),
         a3 AS (SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey BETWEEN 300 AND 450 THEN 'X'
                            ELSE o_orderstatus END AS o_orderstatus,
                       o_totalprice
                FROM a2),
         a4 AS (SELECT * FROM a3 WHERE o_orderkey NOT IN
                (SELECT o_orderkey FROM orders WHERE o_orderkey BETWEEN 700 AND 720)),
         up AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                       CAST(o_totalprice * 3 AS DECIMAL(15,2)) AS o_totalprice
                FROM orders WHERE o_orderkey BETWEEN 800 AND 850),
         fin AS (SELECT * FROM a4 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
                 UNION ALL SELECT * FROM up),
         stages AS (
           SELECT 'mirror' AS stage, * FROM fin
           UNION ALL SELECT 'source', * FROM fin)
         SELECT stage, o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
         FROM stages
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q130_mor_trickle" ->
      """WITH t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         ks AS (SELECT o_orderkey AS k, row_number() OVER (ORDER BY o_orderkey) AS rn
                FROM orders WHERE o_orderkey % 3 = 1 ORDER BY o_orderkey LIMIT 100),
         mid AS (SELECT * FROM t0
                 WHERE o_orderkey NOT IN (SELECT k FROM ks WHERE rn <= 50)),
         fin AS (SELECT * FROM t0 WHERE o_orderkey NOT IN (SELECT k FROM ks)),
         cdc AS (SELECT * FROM t0 WHERE o_orderkey IN (SELECT k FROM ks)),
         stages AS (
           SELECT 'mid' AS stage, * FROM mid
           UNION ALL SELECT 'final', * FROM fin
           UNION ALL SELECT 'compacted', * FROM fin
           UNION ALL SELECT 'cdc_deletes', * FROM cdc)
         SELECT stage,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
                MIN(o_orderkey) AS min_key
         FROM stages
         GROUP BY 1
         ORDER BY 1""",

    "q133_delete_compaction" ->
      """WITH t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         ks AS (SELECT o_orderkey AS k FROM orders
                WHERE o_orderkey % 5 = 2 ORDER BY o_orderkey LIMIT 12),
         fin AS (SELECT * FROM t0 WHERE o_orderkey NOT IN (SELECT k FROM ks)),
         cdc AS (SELECT * FROM t0 WHERE o_orderkey IN (SELECT k FROM ks)),
         stages AS (
           SELECT 'final' AS stage, * FROM fin
           UNION ALL SELECT 'cdc_deletes', * FROM cdc)
         SELECT stage,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
                MIN(o_orderkey) AS min_key
         FROM stages
         GROUP BY 1
         ORDER BY 1""",

    "q135_positional_delete" ->
      """WITH t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         slice AS (SELECT * FROM t0 WHERE o_orderkey BETWEEN 100 AND 199),
         fin AS (SELECT * FROM t0 WHERE o_orderstatus <> 'P'
                 UNION ALL SELECT * FROM slice),
         cdcd AS (SELECT * FROM t0
                  WHERE o_orderstatus = 'P' AND o_orderkey NOT BETWEEN 100 AND 199),
         cdci AS (SELECT * FROM slice WHERE o_orderstatus <> 'P'),
         stages AS (
           SELECT 'final' AS stage, * FROM fin
           UNION ALL SELECT 'compacted', * FROM fin
           UNION ALL SELECT 'cdc_deletes', * FROM cdcd
           UNION ALL SELECT 'cdc_inserts', * FROM cdci)
         SELECT stage,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
                MIN(o_orderkey) AS min_key
         FROM stages
         GROUP BY 1
         ORDER BY 1""",

    "q134_routed_update" ->
      """WITH k0 AS (SELECT MIN(o_orderkey) AS k FROM orders),
         cut AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 2) AS BIGINT) AS c FROM orders),
         t1 AS (SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey = (SELECT k FROM k0) THEN 'X'
                            ELSE o_orderstatus END AS o_orderstatus,
                       CASE WHEN o_orderkey <= (SELECT c FROM cut) THEN o_totalprice * 2
                            ELSE o_totalprice END AS o_totalprice
                FROM orders)
         SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                MIN(o_orderkey) AS min_key,
                MAX(o_orderkey) AS max_key
         FROM t1
         GROUP BY 1
         ORDER BY 1""",

    "q136_positional_update" ->
      """WITH cut AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 2) AS BIGINT) AS c FROM orders),
         t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         t1 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderstatus = 'P' AND o_custkey % 97 = 3
                            THEN o_totalprice * 2
                            ELSE o_totalprice END AS o_totalprice
                FROM t0),
         t2 AS (SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey <= (SELECT c FROM cut) THEN 'B'
                            ELSE o_orderstatus END AS o_orderstatus,
                       o_totalprice
                FROM t1),
         stages AS (
           SELECT 'cdc_deletes' AS stage, * FROM t0
             WHERE o_orderstatus = 'P' AND o_custkey % 97 = 3
           UNION ALL SELECT 'cdc_inserts', * FROM t1
             WHERE o_orderstatus = 'P' AND o_custkey % 97 = 3
           UNION ALL SELECT 'final', * FROM t2
           UNION ALL SELECT 'compacted', * FROM t2)
         SELECT stage,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
                MIN(o_orderkey) AS min_key
         FROM stages
         GROUP BY 1
         ORDER BY 1""",

    "q137_routed_merge" ->
      """WITH mx AS (SELECT MAX(o_orderkey) AS m,
                            CAST(FLOOR(MAX(o_orderkey) / 2) AS BIGINT) AS c
                     FROM orders),
         t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         lows AS (SELECT o_orderkey FROM t0 ORDER BY o_orderkey LIMIT 10),
         -- statement 1: 10 repriced lows replace, 10 fresh highs insert
         m1 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey IN (SELECT o_orderkey FROM lows)
                            THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
                FROM t0
                UNION ALL
                SELECT o_orderkey + (SELECT m FROM mx) + 1, o_custkey, 'N', 100.0
                FROM t0 WHERE o_orderkey IN (SELECT o_orderkey FROM lows)),
         -- statement 2: the whole lower half repriced x2
         m2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey <= (SELECT c FROM mx)
                            THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
                FROM m1),
         -- statements 3 + 4: the three-key and lower-quarter deletes
         fin AS (SELECT * FROM m2
                 WHERE o_orderkey NOT IN (1, 2, (SELECT m FROM mx) + 1)
                   AND o_orderkey > (SELECT c FROM mx) / 2)
         SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
                MIN(o_orderkey) AS min_key,
                MAX(o_orderkey) AS max_key
         FROM fin
         GROUP BY 1
         ORDER BY 1""",

    "q138_branch_tag" ->
      """WITH cut AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 2) AS BIGINT) AS c FROM orders),
         t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         lower_h AS (SELECT * FROM t0 WHERE o_orderkey <= (SELECT c FROM cut)),
         s1 AS (SELECT o_orderkey, o_custkey, 'A' AS o_orderstatus, o_totalprice
                FROM t0 WHERE o_orderkey <= 50),
         s2 AS (SELECT o_orderkey, o_custkey, 'Z' AS o_orderstatus, o_totalprice
                FROM t0 WHERE o_orderkey BETWEEN 51 AND 100),
         branched AS (SELECT * FROM t0
                      UNION ALL SELECT * FROM s1
                      UNION ALL SELECT * FROM s2),
         stages AS (
           SELECT 'tag_v1' AS stage, * FROM lower_h
           UNION ALL SELECT 'tag_after_expire', * FROM lower_h
           UNION ALL SELECT 'main_pre', * FROM t0
           UNION ALL SELECT 'branch_pre', * FROM branched
           UNION ALL SELECT 'final', * FROM branched)
         SELECT stage, o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
                MIN(o_orderkey) AS min_key
         FROM stages
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q139_physical_replication" ->
      """WITH t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         t1 AS (SELECT * FROM t0 WHERE o_orderkey NOT IN (10, 20, 30)),
         t2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_custkey % 89 = 7 THEN o_totalprice * 3
                            ELSE o_totalprice END AS o_totalprice
                FROM t1),
         t3 AS (SELECT * FROM t2 WHERE o_orderkey >= 100),
         fin AS (SELECT * FROM t3
                 UNION ALL
                 SELECT o_orderkey, o_custkey, 'R', o_totalprice
                 FROM t0 WHERE o_orderkey < 50),
         stages AS (
           SELECT 'primary' AS stage, * FROM fin
           UNION ALL SELECT 'secondary', * FROM fin
           UNION ALL SELECT 'sec_asof', * FROM t0)
         SELECT stage, o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
                MIN(o_orderkey) AS min_key
         FROM stages
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q140_failback" ->
      """WITH t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         div AS (SELECT * FROM t0
                 UNION ALL
                 SELECT o_orderkey, o_custkey, 'L', o_totalprice
                 FROM t0 WHERE o_orderkey < 40),
         fin AS (SELECT * FROM t0 WHERE o_orderkey NOT IN (10, 20, 30)
                 UNION ALL
                 SELECT o_orderkey, o_custkey, 'R', o_totalprice
                 FROM t0 WHERE o_orderkey < 50),
         stages AS (
           SELECT 'divergent' AS stage, * FROM div
           UNION ALL SELECT 'failback', * FROM fin
           UNION ALL SELECT 'newpri', * FROM fin
           UNION ALL SELECT 'fb_asof', * FROM t0)
         SELECT stage, o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
                MIN(o_orderkey) AS min_key
         FROM stages
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q141_keyless_replication" ->
      """WITH k0 AS (SELECT o_orderstatus AS st, o_custkey % 50 AS bucket
                     FROM orders WHERE o_orderkey % 3 = 0),
         k1 AS (SELECT o_orderstatus AS st, o_custkey % 50 AS bucket
                FROM orders WHERE o_orderkey % 3 = 1 AND o_custkey % 50 <> 7),
         k2 AS (SELECT o_orderstatus AS st, o_custkey % 50 AS bucket
                FROM orders WHERE o_orderkey % 3 = 2 AND o_custkey % 50 < 20),
         s1 AS (SELECT * FROM k0 WHERE bucket <> 7 UNION ALL SELECT * FROM k1),
         fin AS (SELECT * FROM s1 WHERE bucket < 40 UNION ALL SELECT * FROM k2),
         stages AS (
           SELECT 'primary' AS stage, * FROM fin
           UNION ALL SELECT 'secondary', * FROM fin)
         SELECT stage, st, bucket, CAST(count(*) AS BIGINT) AS n
         FROM stages
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3""",

    "q142_evolved_replication" ->
      """WITH mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM orders),
         surv AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                         CAST(NULL AS BIGINT) AS extra
                  FROM orders WHERE o_orderkey % 5 <> 0),
         evo AS (SELECT o.o_orderkey + mx.m AS o_orderkey,
                        'E' AS o_orderstatus,
                        CASE WHEN o.o_custkey % 10 = 7
                             THEN o.o_totalprice * 2 ELSE o.o_totalprice
                        END AS o_totalprice,
                        o.o_custkey % 10 AS extra
                 FROM orders o, mx WHERE o.o_orderkey % 7 = 3),
         fin AS (SELECT * FROM surv UNION ALL SELECT * FROM evo),
         stages AS (
           SELECT 'primary' AS stage, * FROM fin
           UNION ALL SELECT 'secondary', * FROM fin)
         SELECT stage, o_orderstatus, COALESCE(extra, -1) AS extra_b,
                CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents
         FROM stages
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3""",

    "q143_offset_restart" ->
      """WITH mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM orders),
         t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         t1 AS (SELECT * FROM t0 WHERE o_orderkey % 5 <> 0),
         t2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice * 2
                            ELSE o_totalprice END AS o_totalprice
                FROM t1),
         nova AS (SELECT o.o_orderkey + mx.m AS o_orderkey, o.o_custkey,
                         'N' AS o_orderstatus, o.o_totalprice
                  FROM t0 o, mx WHERE o.o_orderkey % 11 = 4),
         fin AS (SELECT * FROM t2 UNION ALL SELECT * FROM nova),
         stages AS (
           SELECT 'primary' AS stage, * FROM fin
           UNION ALL SELECT 'secondary', * FROM fin)
         SELECT stage, o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                MIN(o_orderkey) AS min_key
         FROM stages
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q144_consistent_cut" ->
      """WITH mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM orders),
         t0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         a0 AS (SELECT * FROM t0 WHERE o_orderkey % 2 = 0),
         b0 AS (SELECT * FROM t0 WHERE o_orderkey % 2 = 1),
         p AS (SELECT o.o_orderkey + mx.m AS o_orderkey, 'P' AS o_orderstatus,
                      o.o_totalprice
               FROM t0 o, mx WHERE o.o_orderkey % 2 = 1 AND o.o_orderkey % 13 = 6),
         a1 AS (SELECT * FROM a0 UNION ALL SELECT * FROM p),
         b1 AS (SELECT * FROM b0 WHERE o_orderkey % 3 <> 0),
         a2 AS (SELECT * FROM a1 WHERE o_orderkey % 7 <> 2),
         q AS (SELECT o.o_orderkey + mx.m AS o_orderkey, 'Q' AS o_orderstatus,
                      o.o_totalprice
               FROM t0 o, mx WHERE o.o_orderkey % 2 = 0 AND o.o_orderkey % 13 = 2),
         b2 AS (SELECT * FROM b1 UNION ALL SELECT * FROM q),
         stages AS (
           SELECT 'cut_a' AS stage, * FROM a1
           UNION ALL SELECT 'cut_b', * FROM b1
           UNION ALL SELECT 'fin_a', * FROM a2
           UNION ALL SELECT 'fin_b', * FROM b2)
         SELECT stage, o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                MIN(o_orderkey) AS min_key
         FROM stages
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q145_logical_failback" ->
      """WITH k0 AS (SELECT o_orderstatus AS st, o_custkey % 50 AS bucket
                     FROM orders WHERE o_orderkey % 3 = 0),
         k1 AS (SELECT o_orderstatus AS st, o_custkey % 50 AS bucket
                FROM orders WHERE o_orderkey % 3 = 1 AND o_custkey % 50 >= 30),
         k2 AS (SELECT o_orderstatus AS st, o_custkey % 50 AS bucket
                FROM orders WHERE o_orderkey % 3 = 2 AND o_custkey % 50 < 20),
         fin AS (SELECT * FROM k0 WHERE bucket <> 7
                 UNION ALL SELECT * FROM k1
                 UNION ALL SELECT * FROM k2),
         stages AS (
           SELECT 'newpri' AS stage, * FROM fin
           UNION ALL SELECT 'oldpri', * FROM fin)
         SELECT stage, st, bucket, CAST(count(*) AS BIGINT) AS n
         FROM stages
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3""",

    "q147_atomic_cycle_publish" ->
      """WITH mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM orders),
         t0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         a0 AS (SELECT * FROM t0 WHERE o_orderkey % 2 = 0),
         b0 AS (SELECT * FROM t0 WHERE o_orderkey % 2 = 1
                UNION ALL
                SELECT * FROM t0 WHERE o_orderkey % 2 = 1 AND o_orderkey % 11 = 0),
         a1 AS (SELECT o_orderkey,
                       CASE WHEN o_orderkey % 7 = 3 THEN 'U' ELSE o_orderstatus
                       END AS o_orderstatus,
                       CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice * 2
                            ELSE o_totalprice END AS o_totalprice
                FROM a0),
         nova AS (SELECT o.o_orderkey + mx.m AS o_orderkey,
                         'N' AS o_orderstatus, o.o_totalprice
                  FROM t0 o, mx WHERE o.o_orderkey % 13 = 2),
         fa AS (SELECT * FROM a1 UNION ALL SELECT * FROM nova),
         b1 AS (SELECT * FROM b0 WHERE o_orderkey % 5 <> 0),
         novb AS (SELECT o.o_orderkey + mx.m AS o_orderkey,
                         'K' AS o_orderstatus, o.o_totalprice
                  FROM t0 o, mx WHERE o.o_orderkey % 17 = 4),
         fb AS (SELECT * FROM b1 UNION ALL SELECT * FROM novb),
         stages AS (
           SELECT 'fin_a' AS stage, * FROM fa
           UNION ALL SELECT 'fin_b', * FROM fb)
         SELECT stage, o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                MIN(o_orderkey) AS min_key
         FROM stages
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q148_rbac_hierarchy" ->
      """WITH nr AS (SELECT n.n_name, r.r_name
                     FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
         reg AS (SELECT 'R_' || r_name AS role, 'SELECT' AS privilege,
                        'tbl_' || n_name AS obj
                 FROM nr),
         adm AS (SELECT 'ADMIN' AS role, 'SELECT' AS privilege,
                        'tbl_' || n_name AS obj
                 FROM nation)
         SELECT role, privilege, obj
         FROM (SELECT * FROM reg UNION ALL SELECT * FROM adm)
         ORDER BY role, obj""",

    "q149_column_mapping_repl" ->
      """WITH mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM orders),
         t1 AS (SELECT o_orderkey, o_orderstatus,
                       CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice * 2
                            ELSE o_totalprice END AS price,
                       o_custkey % 7 AS grade
                FROM orders),
         nova AS (SELECT o.o_orderkey + mx.m AS o_orderkey,
                         'R' AS o_orderstatus,
                         CASE WHEN (o.o_orderkey + mx.m) % 2 = 0
                              THEN o.o_totalprice * 3
                              ELSE o.o_totalprice END AS price,
                         o.o_custkey % 7 AS grade
                  FROM orders o, mx WHERE o.o_orderkey % 11 = 4),
         fin AS (SELECT * FROM t1 UNION ALL SELECT * FROM nova),
         stages AS (
           SELECT 'primary' AS stage, * FROM fin
           UNION ALL SELECT 'secondary', * FROM fin)
         SELECT stage, o_orderstatus,
                CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(CAST(price AS DECIMAL(18,2))) * 100 AS BIGINT) AS price_cents,
                CAST(SUM(grade) AS BIGINT) AS grade_sum
         FROM stages
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q150_default_backfill" ->
      """WITH mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM orders),
         t0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                       'store' AS channel
                FROM orders),
         nova AS (SELECT o.o_orderkey + mx.m AS o_orderkey,
                         'W' AS o_orderstatus, o.o_totalprice,
                         'web' AS channel
                  FROM orders o, mx WHERE o.o_orderkey % 9 = 2),
         fin AS (SELECT * FROM t0 UNION ALL SELECT * FROM nova),
         kept AS (SELECT * FROM fin WHERE o_orderkey % 5 <> 0)
         SELECT channel, o_orderstatus,
                CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents
         FROM kept
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q151_failback_colmap" ->
      """WITH mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM orders),
         b AS (SELECT o_orderkey, o_orderstatus AS st,
                      o_totalprice AS amount
               FROM orders),
         upd AS (SELECT o_orderkey, st,
                        CASE WHEN o_orderkey % 5 = 1 THEN amount * 3
                             ELSE amount END AS amount,
                        CASE WHEN o_orderkey % 5 = 1 THEN 'gold'
                             ELSE 'std' END AS tier
                 FROM b),
         nova AS (SELECT o.o_orderkey + mx.m AS o_orderkey, 'N' AS st,
                         o.o_totalprice AS amount, 'new' AS tier
                  FROM orders o, mx WHERE o.o_orderkey % 11 = 4),
         k2 AS (SELECT o.o_orderkey + 2 * mx.m AS o_orderkey, 'K' AS st,
                       o.o_totalprice AS amount, 'kt' AS tier
                FROM orders o, mx WHERE o.o_orderkey % 13 = 6),
         fin AS (SELECT * FROM upd UNION ALL SELECT * FROM nova
                 UNION ALL SELECT * FROM k2),
         stages AS (SELECT 'newpri' AS stage, * FROM fin
                    UNION ALL SELECT 'oldpri', * FROM fin)
         SELECT stage, st, tier,
                CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(CAST(amount AS DECIMAL(18,2))) * 100 AS BIGINT) AS amount_cents
         FROM stages
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3""",

    "q152_atomic_alter" ->
      """WITH mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM orders),
         b AS (SELECT o_orderkey, o_orderpriority AS st,
                      o_orderstatus AS pri, o_totalprice AS price,
                      CAST(o_custkey % 7 AS BIGINT) AS seg, 'c' AS grade
               FROM orders),
         nova AS (SELECT o.o_orderkey + mx.m AS o_orderkey, 'X' AS st,
                         'Y' AS pri, o.o_totalprice AS price,
                         CAST(o.o_custkey % 3 AS BIGINT) AS seg, 'g' AS grade
                  FROM orders o, mx WHERE o.o_orderkey % 9 = 5),
         fin AS (SELECT * FROM b UNION ALL SELECT * FROM nova),
         kept AS (SELECT * FROM fin WHERE o_orderkey % 10 <> 3)
         SELECT st, pri, grade,
                CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(CAST(price AS DECIMAL(18,2))) * 100 AS BIGINT) AS price_cents,
                CAST(SUM(seg) AS BIGINT) AS seg_sum
         FROM kept
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3""",

    "q146_null_keyless_window" ->
      """WITH mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM orders),
         t0 AS (SELECT o_orderkey,
                       CASE WHEN o_orderkey % 3 = 0 THEN NULL
                            ELSE o_custkey % 13 END AS v
                FROM orders),
         t1 AS (SELECT * FROM t0 WHERE o_orderkey % 17 <> 3),
         ins AS (SELECT o.o_orderkey + mx.m AS o_orderkey, o.v
                 FROM t0 o, mx WHERE o.o_orderkey % 23 = 1),
         fin AS (SELECT * FROM t1 UNION ALL SELECT * FROM ins)
         SELECT COALESCE(v, -1) AS vb,
                CAST(count(*) AS BIGINT) AS n,
                MIN(o_orderkey) AS min_key,
                MAX(o_orderkey) AS max_key
         FROM fin
         GROUP BY 1
         ORDER BY 1""",

    "q131_disjunct_read" ->
      """WITH lim AS (SELECT MAX(o_orderkey) - 150 AS hi FROM orders),
         t1 AS (SELECT o.* FROM orders o, lim
                WHERE o.o_orderkey <= 150 OR o.o_orderkey >= lim.hi)
         SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                MIN(o_orderkey) AS min_key,
                MAX(o_orderkey) AS max_key
         FROM t1
         GROUP BY 1
         ORDER BY 1""",

    "q129_retention_delete" ->
      """WITH lim AS (SELECT MAX(o_orderkey) - 150 AS hi FROM orders),
         t1 AS (SELECT o.* FROM orders o, lim
                WHERE NOT (o.o_orderkey <= 150 OR o.o_orderkey >= lim.hi))
         SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                MIN(o_orderkey) AS min_key,
                MAX(o_orderkey) AS max_key
         FROM t1
         GROUP BY 1
         ORDER BY 1""",

    "q128_mv_retraction" ->
      """WITH t1 AS (SELECT * FROM orders WHERE NOT (o_orderkey <= 150)),
         t2 AS (SELECT CASE WHEN o_orderkey BETWEEN 300 AND 450 THEN 'X'
                            ELSE o_orderstatus END AS o_orderstatus,
                       o_totalprice
                FROM t1)
         SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents
         FROM t2
         GROUP BY 1
         ORDER BY 1""",

    "q126_stream_cdc" ->
      """WITH before AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         app AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
                        'S' AS o_orderstatus, o_totalprice
                 FROM orders WHERE o_orderkey BETWEEN 400 AND 450),
         a1 AS (SELECT * FROM before UNION ALL SELECT * FROM app),
         a2 AS (SELECT * FROM a1 WHERE NOT (o_orderkey <= 100)),
         aft AS (SELECT o_orderkey, o_custkey,
                        CASE WHEN o_orderkey BETWEEN 200 AND 300 THEN 'X'
                             ELSE o_orderstatus END AS o_orderstatus,
                        o_totalprice
                 FROM a2),
         chg AS (
           SELECT 'insert' AS _change, * FROM
             (SELECT * FROM aft EXCEPT ALL SELECT * FROM before)
           UNION ALL
           SELECT 'delete' AS _change, * FROM
             (SELECT * FROM before EXCEPT ALL SELECT * FROM aft))
         SELECT _change, o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
         FROM chg
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q125_zorder_scan" ->
      """WITH lims AS (SELECT MAX(o_custkey) // 10 AS c_lim,
                              MAX(o_orderkey) // 10 AS o_lim
                       FROM orders)
         SELECT 'custkey' AS dim,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents
         FROM orders, lims WHERE o_custkey BETWEEN 0 AND c_lim
         UNION ALL
         SELECT 'orderkey',
                CAST(count(*) AS BIGINT),
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         FROM orders, lims WHERE o_orderkey BETWEEN 0 AND o_lim
         ORDER BY dim""",

    "q123_cow_dml" ->
      """WITH t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         t1 AS (SELECT * FROM t0 WHERE NOT (o_orderkey <= 150)),
         t2 AS (SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey BETWEEN 300 AND 450 THEN 'X'
                            ELSE o_orderstatus END AS o_orderstatus,
                       o_totalprice
                FROM t1),
         src1 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                         CAST(o_totalprice * 2 AS DECIMAL(15,2)) AS o_totalprice
                  FROM orders WHERE o_orderkey BETWEEN 600 AND 700),
         t3 AS (SELECT * FROM t2 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src1)
                UNION ALL SELECT * FROM src1),
         src2 AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
                         'N' AS o_orderstatus, o_totalprice
                  FROM orders WHERE o_orderkey BETWEEN 600 AND 700),
         t4 AS (SELECT * FROM t3 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src2)
                UNION ALL SELECT * FROM src2)
         SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
                MAX(o_orderkey) AS max_key
         FROM t4
         GROUP BY 1
         ORDER BY 1""",

    "q124_cdc_changes" ->
      """WITH before AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         app AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
                        'A' AS o_orderstatus, o_totalprice
                 FROM orders WHERE o_orderkey BETWEEN 500 AND 600),
         a1 AS (SELECT * FROM before UNION ALL SELECT * FROM app),
         a2 AS (SELECT * FROM a1 WHERE NOT (o_orderkey <= 150)),
         aft AS (SELECT o_orderkey, o_custkey,
                        CASE WHEN o_orderkey BETWEEN 300 AND 450 THEN 'X'
                             ELSE o_orderstatus END AS o_orderstatus,
                        o_totalprice
                 FROM a2),
         chg AS (
           SELECT 'insert' AS _change, * FROM
             (SELECT * FROM aft EXCEPT ALL SELECT * FROM before)
           UNION ALL
           SELECT 'delete' AS _change, * FROM
             (SELECT * FROM before EXCEPT ALL SELECT * FROM aft))
         SELECT _change, o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
         FROM chg
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q104_pruned_scan" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                TRUE AS pruned
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1
         ORDER BY 1""",

    "q101_mv_routed" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
                MIN(o_totalprice) AS min_price,
                MAX(o_totalprice) AS max_price,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
         FROM orders
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""")
}
