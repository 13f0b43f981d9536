package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.warehouse.{ColRange, SnapshotTable}
import Q._

/** Persisted ANN index — the FAISS build/serve split (VERDICT r8 #1).
  *
  * Every in-query ANN path (q114/q117/q118/q119) trains its index inside
  * the timed query: correct for the correctness gate, but not how vector
  * search is operated. Production splits the work exactly like FAISS does:
  * `index.train()` + `index.add()` run ONCE (an index-build job), the
  * artifacts are persisted, and every query afterwards touches only the
  * persisted index plus a shortlist of raw vectors. This module is that
  * split over [[graft.warehouse.SnapshotTable]]s:
  *
  *  - `ivf_cents`  — the trained coarse quantizer (8 cells, full-width
  *    centroids), q118's k-means chain verbatim.
  *  - `vectors`    — the corpus, CELL-PARTITIONED (hive layout): the
  *    re-rank fetch and any cell-scoped scan prune to probed partitions
  *    from metadata alone (VERDICT r8 #2).
  *  - `pq_cents`   — residual-space PQ codebooks (`by_residual=true`, the
  *    FAISS default), trained from the PERSISTED vectors + centroids.
  *  - `codes`      — 4-byte ADC codes, cell-partitioned: the IVFADC
  *    inverted lists. A probe reads only its cells' code partitions.
  *
  * Each artifact derives from the previously PERSISTED one (not from
  * in-memory state), so the build is restartable mid-chain and the lineage
  * matches how a 100 TB index job would actually checkpoint. Training and
  * corpus are q118/q119's exact clustered-corpus operating point, so
  * q121's serve cost reads directly against q119's train-in-query cost —
  * that delta is the entire point of the split (BENCH_NOTES).
  *
  * The third lifecycle stage is [[addVectors]] — FAISS `index.add()`
  * after `train()`: ingestion batches fold into the persisted index as
  * cell-partitioned DELTA APPENDS, assigned and PQ-encoded against the
  * FROZEN trained artifacts (q122 gates that the incremental path lands
  * vectors exactly where from-scratch assignment would).
  *
  * Correctness: q120 gates the BUILD — Spark reads the persisted artifacts
  * while the DuckDB oracle re-derives the full training from the raw
  * corpus from scratch; a green row proves persisted == re-trained,
  * cross-engine. q121 gates the SERVE — both engines run the identical
  * probe → LUT → ADC → refine pipeline over the SAME persisted tables
  * (DuckDB via `read_parquet` on the snapshot dirs), with recall graded
  * against the exact top-3; the Spark side additionally `require`s that
  * every per-cell candidate/re-rank fetch was partition-PRUNED
  * (planFiles-style, like q104).
  */
object AnnIndex {

  /** Bump when any build-template change invalidates persisted artifacts. */
  private val BuildVersion = "v1"

  /** Per-sf default index root (under the scratch area, never testdata). */
  def defaultRoot(dir: String): String =
    s"${graft.Driver.scratchRoot}/ann-index/${new java.io.File(dir).getName}"

  /** The root q121's oracle renders `read_parquet` paths against. Set by
    * the query fns at run time (Verify evaluates `oracleSql` AFTER the
    * queries ran, so the rendered paths always match the dumped results);
    * the default matches the driver's sf0.01 gate. */
  @volatile private var lastRoot: String = defaultRoot("/root/testdata/sf0.01")

  /** q127's index root (same late-binding contract as [[lastRoot]]). */
  @volatile private var delRoot: String = defaultRoot("/root/testdata/sf0.01") + "-del"

  private def tbl(s: SparkSession, root: String, name: String) =
    new SnapshotTable(s, s"$root/$name")

  /** Restrict a dialect's corpus `parts` to rows passing `pred` (over
    * `vec_id`) — how the incremental-add gate carves an "initial corpus"
    * out of the generated one. `TRUE` = the whole corpus. */
  private def filteredParts(parts: String, pred: String): String =
    if (pred == "TRUE") parts
    else s"SELECT * FROM ($parts) fp WHERE $pred"

  /** The coarse-quantizer training exactly as the gated in-query pipeline
    * (q118/q119) runs it — exposed so the spec can assert the PERSISTED
    * centroids are that training verbatim, not a lookalike. */
  private[graft] def inQueryCoarseCentsSql: String = coarseCentsSql("TRUE")

  private def coarseCentsSql(pred: String): String =
    s"WITH ${Similarity.pqTrainCtes(
        Similarity.sparkClust.copy(
          parts = filteredParts(Similarity.sparkClust.parts, pred)), "i_")}\n" +
      "SELECT CAST(k AS INT) AS cell, cvec FROM i_cents2"

  /** Build (or rebuild) the index at `root` from the clustered corpus of
    * `dir`'s embeddings table — restricted to vectors passing `pred`
    * ([[addVectors]] folds the rest in later without retraining).
    * Deterministic: same corpus → bit-identical artifacts. Registers
    * `pidx_*` temp views over the persisted tables. */
  def build(s: SparkSession, dir: String, root: String,
            pred: String = "TRUE"): Unit = synchronized {
    graft.functions.GraftFunctions.register(s)
    val p = new Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
    // 1. coarse quantizer: k-means cells trained from the corpus alone
    //    (q118's exact chain — init = vectors 0..7, 2 decimal-exact Lloyd
    //    iterations)
    val cents = tbl(s, root, "ivf_cents")
    cents.createOrReplace(s.sql(coarseCentsSql(pred)))
    cents.read().createOrReplaceTempView("pidx_cents")
    // 2. the corpus, assigned against the PERSISTED centroids and laid out
    //    hive-partitioned by cell — the layout that makes probe-scoped
    //    scans and the re-rank fetch partition-pruned point lookups
    val vecs = tbl(s, root, "vectors")
    vecs.createOrReplace(s.sql(
      s"""WITH corpus AS (${filteredParts(Similarity.sparkClust.parts, pred)}),
         |asg AS (
         |  SELECT vec_id, sub, cell FROM (
         |    SELECT p.vec_id, p.sub, c.cell,
         |           row_number() OVER (PARTITION BY p.vec_id
         |             ORDER BY ${Similarity.sparkClust.l2("p.sub", "c.cvec")}, c.cell) AS rn
         |    FROM corpus p CROSS JOIN pidx_cents c) x
         |  WHERE rn = 1)
         |SELECT cell, vec_id, sub AS vec FROM asg""".stripMargin),
      partitionBy = Seq("cell"), sortBy = Seq("vec_id"))
    vecs.read().createOrReplaceTempView("pidx_vectors")
    // residuals re-derived from the persisted vectors + centroids — the
    // build chain never reaches back to pre-persistence state
    val rresSql =
      s"""rres AS (
         |  SELECT v.vec_id, v.cell,
         |         ${Similarity.sparkRes.zipSub("v.vec", "c.cvec")} AS res
         |  FROM pidx_vectors v JOIN pidx_cents c ON v.cell = c.cell)""".stripMargin
    // 3. residual-space PQ codebooks (by_residual=true)
    val pq = tbl(s, root, "pq_cents")
    pq.createOrReplace(s.sql(
      s"""WITH $rresSql,
         |${Similarity.pqTrainCtes(
        Similarity.sparkPq.copy(parts = Similarity.sparkRes.sliceParts("rres", "vec_id")),
        "p_")}
         |SELECT m, CAST(k AS INT) AS k, cvec FROM p_cents2""".stripMargin))
    pq.read().createOrReplaceTempView("pidx_pq")
    // 4. 4-byte codes, cell-partitioned: the IVFADC inverted lists
    val codes = tbl(s, root, "codes")
    codes.createOrReplace(s.sql(
      s"""WITH $rresSql,
         |rparts AS (${Similarity.sparkRes.sliceParts("rres", "vec_id, cell")})
         |SELECT cell, vec_id AS n_id, m, CAST(k AS INT) AS code FROM (
         |  SELECT p.vec_id, p.cell, p.m, c.k,
         |         row_number() OVER (PARTITION BY p.vec_id, p.m
         |           ORDER BY ${Similarity.sparkPq.l2("p.sub", "c.cvec")}, c.k) AS rn
         |  FROM rparts p JOIN pidx_pq c ON p.m = c.m) y
         |WHERE rn = 1""".stripMargin),
      partitionBy = Seq("cell"), sortBy = Seq("n_id"))
    codes.read().createOrReplaceTempView("pidx_codes")
    val out = fs.create(new Path(root, "_built"))
    try out.write(s"$BuildVersion|$dir".getBytes("UTF-8")) finally out.close()
  }

  /** Build only if the persisted index at `root` is absent or was built
    * for a different corpus/template version; always (re)registers the
    * `pidx_*` views. */
  def ensureBuilt(s: SparkSession, dir: String, root: String): Unit = synchronized {
    val marker = new Path(root, "_built")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    val fresh = fs.exists(marker) && {
      val in = fs.open(marker)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      txt == s"$BuildVersion|$dir"
    }
    if (!fresh) build(s, dir, root)
    else {
      graft.functions.GraftFunctions.register(s)
      tbl(s, root, "ivf_cents").read().createOrReplaceTempView("pidx_cents")
      tbl(s, root, "vectors").read().createOrReplaceTempView("pidx_vectors")
      tbl(s, root, "pq_cents").read().createOrReplaceTempView("pidx_pq")
      tbl(s, root, "codes").read().createOrReplaceTempView("pidx_codes")
    }
  }

  /** INCREMENTAL ADD — FAISS `index.add()` after `train()`: fold the
    * corpus vectors passing `pred` into the persisted index WITHOUT
    * touching the trained artifacts. New vectors are assigned to their
    * nearest PERSISTED centroid and PQ-encoded against the PERSISTED
    * codebooks (centroids and codebooks are frozen at train time — the
    * defining FAISS add semantic), then APPENDED to the cell-partitioned
    * `vectors` and `codes` tables as delta snapshots: at 100 TB an
    * ingestion batch writes only its own rows, never rewrites the
    * inverted lists, and the cell layout it lands in keeps probe-scoped
    * scans partition-pruned. Returns the number of vectors added. */
  def addVectors(s: SparkSession, dir: String, root: String,
                 pred: String): Long = synchronized {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
    val vecs = tbl(s, root, "vectors")
    val codes = tbl(s, root, "codes")
    // assign the delta against the persisted coarse quantizer (8-row
    // broadcast), land it in the cell layout
    val delta = s.sql(
      s"""WITH dparts AS (${filteredParts(Similarity.sparkClust.parts, pred)}),
         |asg AS (
         |  SELECT vec_id, sub, cell FROM (
         |    SELECT p.vec_id, p.sub, c.cell,
         |           row_number() OVER (PARTITION BY p.vec_id
         |             ORDER BY ${Similarity.sparkClust.l2("p.sub", "c.cvec")}, c.cell) AS rn
         |    FROM dparts p CROSS JOIN pidx_cents c) x
         |  WHERE rn = 1)
         |SELECT cell, vec_id, sub AS vec FROM asg""".stripMargin)
    delta.createOrReplaceTempView("pidx_delta")
    vecs.append(delta)
    // encode the delta's residuals against the persisted codebooks —
    // reads ONLY the delta view + the two tiny trained tables
    codes.append(s.sql(
      s"""WITH rres AS (
         |  SELECT v.vec_id, v.cell,
         |         ${Similarity.sparkRes.zipSub("v.vec", "c.cvec")} AS res
         |  FROM pidx_delta v JOIN pidx_cents c ON v.cell = c.cell),
         |rparts AS (${Similarity.sparkRes.sliceParts("rres", "vec_id, cell")})
         |SELECT cell, vec_id AS n_id, m, CAST(k AS INT) AS code FROM (
         |  SELECT p.vec_id, p.cell, p.m, c.k,
         |         row_number() OVER (PARTITION BY p.vec_id, p.m
         |           ORDER BY ${Similarity.sparkPq.l2("p.sub", "c.cvec")}, c.k) AS rn
         |  FROM rparts p JOIN pidx_pq c ON p.m = c.m) y
         |WHERE rn = 1""".stripMargin))
    // refresh the views: the pre-add registrations snapshot the pre-add
    // table plans
    vecs.read().createOrReplaceTempView("pidx_vectors")
    codes.read().createOrReplaceTempView("pidx_codes")
    delta.count()
  }

  /** VECTOR DELETION — FAISS `remove_ids`, split the way a served index
    * actually does it: [[removeVectors]] is the cheap SOFT delete (append
    * the ids + their cells to a `tombstones` SnapshotTable and re-register
    * the `pidx_*` views with an anti-join, so every serve immediately
    * excludes them — no index rewrite on the query path), and [[vacuum]]
    * is the physical reclaim: one file-pruned COW DELETE per affected
    * CELL on the cell-partitioned `vectors` and `codes` tables (the
    * partition dir prunes the rewrite to that cell's files — at 100 TB a
    * vacuum touching 3 of 1024 cells rewrites 3 cells, not the index),
    * then compact + expire so the dirs hold only live data, and the
    * tombstone table drops. Trained artifacts (centroids, codebooks) are
    * untouched — deletion never retrains, the FAISS contract. Returns the
    * number of ids tombstoned. */
  def removeVectors(s: SparkSession, root: String,
                    pred: org.apache.spark.sql.Column): Long = synchronized {
    val vecs = tbl(s, root, "vectors")
    val tomb = tbl(s, root, "tombstones")
    val doomed = vecs.read().filter(pred).select("vec_id", "cell")
    // APPEND to any existing tombstones (distinct — the pred may rematch
    // already-tombstoned rows, which are still physically in `vectors`
    // until vacuum): a second remove batch must never discard the first,
    // or its soft-deleted vectors silently resurface in serves
    if (tomb.exists && tomb.count() > 0)
      tomb.createOrReplace(tomb.read().unionByName(doomed).distinct())
    else tomb.createOrReplace(doomed)
    registerViews(s, root)
    tomb.count()
  }

  /** [[removeVectors]] with the doomed set named by an ids FRAME (the
    * change-feed shape, [[syncFromSource]]): the ids semi-join the
    * cell-partitioned vectors table to pick up their cells — the batch
    * never collects to the driver. Returns the ids tombstoned. */
  def removeVectorsByIds(s: SparkSession, root: String,
                         ids: org.apache.spark.sql.DataFrame): Long = synchronized {
    val vecs = tbl(s, root, "vectors")
    val tomb = tbl(s, root, "tombstones")
    val doomed = vecs.read()
      .join(ids.select("vec_id").distinct(), Seq("vec_id"), "left_semi")
      .select("vec_id", "cell")
    val before = if (tomb.exists) tomb.count() else 0L
    if (before > 0)
      tomb.createOrReplace(tomb.read().unionByName(doomed).distinct())
    else tomb.createOrReplace(doomed)
    registerViews(s, root)
    tomb.count() - before
  }

  /** Serve the persisted index at `root` over its tombstone-aware views —
    * the q127 serve surface as a standalone call, re-registering every
    * pidx_* view for THIS root first (so maintenance flows and specs can
    * serve two roots side by side and diff the answers). */
  def serve(s: SparkSession, root: String): DataFrame = synchronized {
    graft.functions.GraftFunctions.register(s)
    tbl(s, root, "ivf_cents").read().createOrReplaceTempView("pidx_cents")
    tbl(s, root, "pq_cents").read().createOrReplaceTempView("pidx_pq")
    registerViews(s, root)
    s.sql(serveSql(sparkRefsUnprobed))
  }

  /** CONTINUOUS INDEX MAINTENANCE (VERDICT r10 #5) — the index as a
    * MAINTAINED MIRROR of a membership table, the q132/MV-maintenance
    * stance composed from the r10 pieces: tail the SOURCE table's change
    * feed ([[graft.warehouse.SnapshotTable.rowChangesBetween]]) from
    * `sinceId` and fold the window into the persisted index at
    * cost-∝-change — feed deletes tombstone ([[removeVectorsByIds]]),
    * re-inserted ids that are merely tombstoned REVIVE (un-tombstone, no
    * second physical copy), genuinely new ids [[addVectors]] against the
    * FROZEN trained artifacts — then the metadata-only [[cellSkew]] probe
    * decides retraining, and a retrain rebuilds from the source's CURRENT
    * membership (never the whole corpus: the source is the authority, a
    * full-corpus rebuild would resurrect everything ever deleted). A
    * `None` change feed (the source was REPLACEd) also rebuilds from
    * membership. Returns (vectorsAdded, idsTombstoned, retrained,
    * newOffset) — pass `newOffset` back as the next call's `sinceId`;
    * replaying a window is idempotent for deletes (tombstones are a set)
    * and rejected-by-construction for adds only through the source's
    * exactly-once feed, so drive offsets from committed state like the
    * MV maintenance tail does. */
  def syncFromSource(s: SparkSession, dir: String, root: String,
                     source: graft.warehouse.SnapshotTable, sinceId: Long,
                     retrainThreshold: Double = 2.0): (Long, Long, Boolean, Long) =
    synchronized {
      import org.apache.spark.sql.functions.col
      graft.functions.GraftFunctions.register(s)
      val head = source.currentSnapshotId.getOrElse(throw new IllegalStateException(
        s"index source table does not exist"))
      // the sync keys the CDC feed on vec_id BY NAME: register the
      // dependency durably so a rename/drop of vec_id on the source
      // refuses at DDL time instead of corrupting the next sync (r16
      // verdict #4; idempotent — an identical registration skips the
      // write). [[dropIndex]] deregisters.
      source.registerDependent(s"annindex:$root", "ann-index", Seq("vec_id"))
      def rebuildFromMembership(): Unit = {
        source.read().select("vec_id").createOrReplaceTempView("pidx_members")
        build(s, dir, root, "vec_id IN (SELECT vec_id FROM pidx_members)")
        val tomb = tbl(s, root, "tombstones")
        if (tomb.exists) tomb.drop() // the rebuild IS the membership
        registerViews(s, root)
      }
      if (head == sinceId) return (0L, 0L, false, head)
      source.rowChangesBetween(sinceId, head) match {
        case None => // replaced history: the feed can't answer — rebuild
          rebuildFromMembership()
          (0L, 0L, true, head)
        case Some(cs) =>
          val delIds = cs.df.filter(col("_change") === "delete").select("vec_id")
          val insIds = cs.df.filter(col("_change") === "insert").select("vec_id")
          val removed =
            if (delIds.isEmpty) 0L else removeVectorsByIds(s, root, delIds)
          // inserts split: ids still tombstoned are PHYSICALLY present
          // (vacuum drops tombstones) — revive them instead of adding a
          // duplicate copy the anti-joined views would first hide and a
          // revive would then double-serve
          val tomb = tbl(s, root, "tombstones")
          val hasTombs = tomb.exists && tomb.count() > 0
          // bind BOTH splits to the PRE-revive tombstone snapshot (read()
          // resolves the chain eagerly): deriving `fresh` after the
          // tombstone shrink would re-include the revived ids and add
          // duplicate physical copies
          val tombFull = if (hasTombs) tomb.read() else null
          val tombIds = if (hasTombs) tombFull.select("vec_id") else null
          val fresh0 =
            if (!hasTombs) insIds
            else insIds.join(tombIds, Seq("vec_id"), "left_anti")
          // REPLAY GUARD (r13): a crashed driver re-running a window (the
          // checkpointed maintenance drive persists its offset AFTER the
          // fold) must not re-add ids already physically present — probe
          // the vectors table over the window ids' hull (file-pruned by
          // vec_id stats: fresh appends hull to recent files) and drop
          // the survivors. Makes the whole fold replay-idempotent:
          // deletes are a tombstone set, revives re-check tombstones,
          // adds now re-check membership.
          val fresh = {
            val distinctIds = fresh0.distinct()
            val bounds = distinctIds
              .agg(org.apache.spark.sql.functions.min("vec_id"),
                org.apache.spark.sql.functions.max("vec_id")).head()
            if (bounds.isNullAt(0)) distinctIds
            else {
              val (present, _) = tbl(s, root, "vectors").readWhere(
                col("vec_id").between(bounds.getLong(0), bounds.getLong(1)))
              distinctIds.join(present.select("vec_id"), Seq("vec_id"), "left_anti")
            }
          }
          val revived =
            if (!hasTombs) 0L
            else {
              val n = insIds.join(tombIds, Seq("vec_id"), "left_semi").count()
              if (n > 0) tomb.createOrReplace(
                tombFull.join(insIds, Seq("vec_id"), "left_anti"))
              n
            }
          val added =
            if (fresh.isEmpty) 0L
            else {
              fresh.distinct().createOrReplaceTempView("pidx_sync_inserts")
              addVectors(s, dir, root,
                "vec_id IN (SELECT vec_id FROM pidx_sync_inserts)")
            }
          registerViews(s, root)
          val skew = cellSkew(s, root)
          val retrained = skew.exists(_ > retrainThreshold)
          if (retrained) rebuildFromMembership()
          (added + revived, removed, retrained, head)
      }
    }

  // ---- checkpointed continuous maintenance (r12 verdict #5) ------------

  private def offsetFile(root: String): Path = new Path(root, "source.offset")

  /** The index's DURABLE synced offset — the source snapshot id whose
    * state the index last mirrored. Lives in the index root, not in the
    * caller: maintenance survives restarts without offset bookkeeping. */
  def syncedOffset(s: SparkSession, root: String): Option[Long] = {
    val p = offsetFile(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
      txt.toLongOption
    }
  }

  def recordSyncedOffset(s: SparkSession, root: String, id: Long): Unit = {
    val p = offsetFile(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(id.toString.getBytes("UTF-8")) finally out.close()
  }

  /** One maintenance firing from DURABLE state: fold the source's change
    * feed from the persisted offset, then persist the new one. A crash
    * between the fold and the offset write replays the window on the
    * next firing — harmless, because the fold is replay-idempotent
    * (tombstones are a set, revives re-check tombstones, adds re-check
    * membership). Returns syncFromSource's (added, removed, retrained,
    * newOffset). */
  def syncOnce(s: SparkSession, dir: String, root: String,
               source: graft.warehouse.SnapshotTable,
               retrainThreshold: Double = 2.0): (Long, Long, Boolean, Long) = {
    val since = syncedOffset(s, root).getOrElse(throw new IllegalStateException(
      s"index at $root has no synced offset — pass initialOffset to " +
        "maintainContinuously (or recordSyncedOffset) after building"))
    val r = syncFromSource(s, dir, root, source, since, retrainThreshold)
    recordSyncedOffset(s, root, r._4)
    r
  }

  /** CONTINUOUS INDEX MAINTENANCE AS A CHECKPOINTED STREAM (r12 verdict
    * #5): the [[graft.streaming.MvMaintenance]] stance for the ANN index
    * — a [[graft.streaming.SnapshotStream]] tail of the source table is
    * the COMMIT-NOTIFICATION channel (its micro-batch is never acted on,
    * so the stream itself reads no delta bytes), and each firing runs
    * [[syncOnce]] against the index's own durable offset. Kill the
    * driver mid-stream and restart the same checkpoint: the offset file
    * says where the index truly is, a replayed window folds idempotently,
    * and membership converges to the source — no caller-side offset
    * bookkeeping (the r12 gap). `initialOffset` seeds the durable offset
    * for a freshly built index and is REQUIRED then (pass the source head
    * captured at build — defaulting to the current head would skip
    * commits landed since build, r13 ADVICE #2); an already-maintained
    * index ignores it. */
  def maintainContinuously(s: SparkSession, dir: String, root: String,
      source: graft.warehouse.SnapshotTable, checkpoint: String,
      initialOffset: Option[Long] = None,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      retrainThreshold: Double = 2.0,
      onSync: ((Long, Long, Boolean, Long)) => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    if (syncedOffset(s, root).isEmpty)
      // NEVER default to the source's CURRENT head (r13 ADVICE #2): any
      // commits between index build and first maintenance start would be
      // silently skipped and membership would drift until a skew retrain
      // happened to fire — force the caller to state the build-time head
      recordSyncedOffset(s, root, initialOffset.getOrElse(
        throw new IllegalStateException(
          s"cannot seed maintenance of $root: no durable offset exists — " +
            "pass initialOffset (the source head captured at BUILD time, " +
            "not now; commits since build must replay through the fold)")))
    // register the vec_id dependency at ATTACH time, not first sync: the
    // gap between attaching maintenance and the first firing must not
    // admit a rename that the first sync then trips over
    source.registerDependent(s"annindex:$root", "ann-index", Seq("vec_id"))
    graft.streaming.SnapshotStream.read(s, source.root, ignoreReplaces = true)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        onSync(syncOnce(s, dir, root, source, retrainThreshold))
        ()
      }
      .trigger(trigger)
      .start()
  }

  /** Drop a persisted index: its tables, its durable offset, and — when
    * the maintained source is passed — the column-dependency registration
    * the sync holds on it (after which a rename/drop of vec_id on the
    * source is legal again). */
  def dropIndex(s: SparkSession, root: String,
                source: Option[graft.warehouse.SnapshotTable] = None): Unit =
    synchronized {
      source.foreach(_.unregisterDependent(s"annindex:$root"))
      val p = new Path(root)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }

  /** (Re)register the `pidx_vectors` / `pidx_codes` temp views, wrapping
    * them in a tombstone anti-join when undeleted tombstones exist. */
  def registerViews(s: SparkSession, root: String): Unit = {
    val vecs = tbl(s, root, "vectors").read()
    val codes = tbl(s, root, "codes").read()
    val tomb = tbl(s, root, "tombstones")
    if (tomb.exists && tomb.count() > 0) {
      val ids = tomb.read().select("vec_id")
      vecs.join(ids, Seq("vec_id"), "left_anti").createOrReplaceTempView("pidx_vectors")
      codes.join(ids, codes("n_id") === ids("vec_id"), "left_anti")
        .createOrReplaceTempView("pidx_codes")
    } else {
      vecs.createOrReplaceTempView("pidx_vectors")
      codes.createOrReplaceTempView("pidx_codes")
    }
  }

  /** Physically reclaim tombstoned vectors: per-cell COW deletes (each
    * REQUIRED by the caller to have pruned — the plans are returned),
    * compact + expire both tables, drop the tombstones, re-register raw
    * views. Deterministic given the tombstone set. */
  def vacuum(s: SparkSession, root: String): Seq[graft.warehouse.ScanPlan] = synchronized {
    import org.apache.spark.sql.functions.col
    val tomb = tbl(s, root, "tombstones")
    if (!tomb.exists) return Seq.empty
    // ONLY the distinct affected cell ids reach the driver (bounded by the
    // cell count, never the delete-batch size — VERDICT r9 #3): each
    // cell's rewrite ANTI-JOINS the tombstone table inside the COW
    // closure, so a multi-million-id delete batch stays distributed —
    // no collected id list, no codegen-busting `isin`.
    val cells: Seq[Int] = tomb.read().select("cell").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val vecs = tbl(s, root, "vectors")
    val codes = tbl(s, root, "codes")
    // vectors and codes are INDEPENDENT tables, so their per-cell rewrite
    // legs overlap on two driver threads (guide §2.6): each leg keeps its
    // own strictly sequential per-cell commit order (same-table COW
    // commits racing each other would only burn optimistic retries), and
    // the plans list is re-interleaved to the original v,c,v,c order.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    def leg(t: graft.warehouse.SnapshotTable, key: String) =
      scala.concurrent.Future {
        val ps = cells.map { cell =>
          val cellTomb = tomb.read().filter(col("cell") === cell)
            .select("vec_id").withColumnRenamed("vec_id", key)
          val cellRange =
            Seq(Seq(graft.warehouse.ColRange("cell", Some(cell), Some(cell))))
          t.deleteKeysPruned(cellRange, Seq(key), cellTomb)._2
        }
        t.compact(); t.expireSnapshots(keepLast = 1)
        ps
      }
    // both legs settle before the pool shuts down: a failed vectors leg
    // must not return while the codes leg is still deleting and compacting
    val Seq(vPlans, cPlans) =
      try graft.Driver.awaitAll(Seq(leg(vecs, "vec_id"), leg(codes, "n_id")))
      finally pool.shutdown()
    val plans = cells.indices.flatMap(i => Seq(vPlans(i), cPlans(i)))
    tomb.drop()
    registerViews(s, root)
    plans
  }

  /** CELL-BALANCE PROBE (VERDICT r9 #5): max cell share over the ideal
    * equal share, from the cell-partitioned vectors table's METADATA
    * alone (stats-sidecar counts per hive dir — zero scan, zero Spark
    * job). FAISS guidance: `add()` after `train()` is correct until the
    * corpus grows or drifts past what the frozen centroids partition
    * well — skewed inverted lists are the observable symptom (one hot
    * cell ⇒ probes scan far more than corpus/nprobe/nCells, and recall
    * in the cold cells rots). 1.0 = perfectly balanced;
    * [[maybeRetrain]]'s default flags > 2. `None` = metadata can't
    * answer right now (e.g. pending equality deletes on `vectors`) — a
    * probe meant to run every maintenance cycle DECLINES rather than
    * silently rescanning the corpus (VERDICT r10 #7); the next cycle
    * after vacuum/compact answers again. */
  def cellSkew(s: SparkSession, root: String): Option[Double] = {
    val vecs = tbl(s, root, "vectors")
    vecs.partitionRowCountsFromMetadata("cell").map { counts =>
      val total = counts.values.sum.toDouble
      if (total == 0 || counts.isEmpty) 1.0
      else counts.values.max / (total / counts.size)
    }
  }

  /** Retrain-when-skewed: probe [[cellSkew]]; past `threshold`, rebuild
    * the index from the current corpus (full `train()` + re-add — the
    * FAISS answer once add-after-train has drifted; deletion/add never
    * retrain on their own, see [[addVectors]]/[[removeVectors]]).
    * Returns (observed skew, retrained?); an unknown skew (probe
    * declined) never retrains — a surprise full rebuild is worse than a
    * deferred probe. The explicit-maintenance stance matches
    * compact/expire: a scheduled task calls this, growth itself never
    * triggers a surprise rebuild. */
  def maybeRetrain(s: SparkSession, dir: String, root: String,
                   threshold: Double = 2.0): (Option[Double], Boolean) = synchronized {
    val skew = cellSkew(s, root)
    if (skew.exists(_ > threshold)) { build(s, dir, root); (skew, true) }
    else (skew, false)
  }

  // ── the serve pipeline, one template rendered per engine ──────────────

  /** Table references + dialect hooks for [[serveSql]]. `vectorsFetch` /
    * `codesFetch` are the PRUNED reads on the Spark side (per-probed-cell
    * partition pruning); DuckDB reuses the full reads — the oracle checks
    * answers, the Spark `require`s check the scan shape. */
  private final case class ServeRefs(
      cents: String, pq: String, codesFetch: String,
      vectors: String, vectorsFetch: String,
      l264: (String, String) => String, l216: (String, String) => String,
      zipSub: (String, String) => String,
      sliceParts: (String, String) => String)

  /** Query vectors + their nprobe=2 nearest persisted cells (cells is an
    * 8-row table — the CROSS JOIN is a broadcast of the quantizer). */
  private def qvProbesCtes(r: ServeRefs): String =
    s"""qv AS (
       |  SELECT v.vec_id AS q_id, v.vec FROM ${r.vectors} v
       |  WHERE v.vec_id IN (0, 1, 2, 3)),
       |probes AS (
       |  SELECT q_id, cell, cvec FROM (
       |    SELECT q.q_id, c.cell, c.cvec,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${r.l264("q.vec", "c.cvec")}, c.cell) AS rn
       |    FROM qv q CROSS JOIN ${r.cents} c) x
       |  WHERE rn <= 2)""".stripMargin

  /** q121 — search over the PERSISTED index only: per-(query, probed-cell)
    * residual LUTs against the persisted codebooks, ADC over the persisted
    * inverted lists, 16-deep shortlist, exact re-rank from a
    * partition-pruned vector fetch; both recalls graded against the exact
    * top-3 (the ground-truth full scan — the one deliberate corpus read,
    * it IS the recall definition). Same output shape as q119 so the two
    * rows diff directly. */
  private def serveSql(r: ServeRefs): String =
    s"""WITH ${qvProbesCtes(r)},
       |qres AS (
       |  SELECT pr.q_id, pr.cell, ${r.zipSub("q.vec", "pr.cvec")} AS res
       |  FROM probes pr JOIN qv q ON q.q_id = pr.q_id),
       |qparts AS (${r.sliceParts("qres", "q_id, cell")}),
       |lut AS (
       |  SELECT qp.q_id, qp.cell, qp.m, c.k, ${r.l216("qp.sub", "c.cvec")} AS qd
       |  FROM qparts qp JOIN ${r.pq} c ON qp.m = c.m),
       |cand AS (
       |  SELECT pr.q_id, co.n_id, co.cell
       |  FROM probes pr JOIN ${r.codesFetch} co ON pr.cell = co.cell
       |  WHERE co.m = 0 AND co.n_id <> pr.q_id),
       |adc AS (
       |  SELECT cd.q_id, cd.n_id,
       |         MAX(CASE WHEN c.m = 0 THEN l.qd END) AS d0,
       |         MAX(CASE WHEN c.m = 1 THEN l.qd END) AS d1,
       |         MAX(CASE WHEN c.m = 2 THEN l.qd END) AS d2,
       |         MAX(CASE WHEN c.m = 3 THEN l.qd END) AS d3
       |  FROM cand cd
       |  JOIN ${r.codesFetch} c ON cd.n_id = c.n_id AND cd.cell = c.cell
       |  JOIN lut l ON l.q_id = cd.q_id AND l.cell = cd.cell AND l.m = c.m AND l.k = c.code
       |  GROUP BY cd.q_id, cd.n_id),
       |shortlist AS (
       |  SELECT q_id, n_id, rank FROM (
       |    SELECT q_id, n_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY d0 + d1 + d2 + d3, n_id) AS rank
       |    FROM adc) sr
       |  WHERE rank <= 16),
       |reranked AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT sl.q_id, sl.n_id,
       |           row_number() OVER (PARTITION BY sl.q_id
       |             ORDER BY ${r.l264("q.vec", "av.vec")}, sl.n_id) AS rank
       |    FROM shortlist sl
       |    JOIN qv q ON q.q_id = sl.q_id
       |    JOIN ${r.vectorsFetch} av ON av.vec_id = sl.n_id) rr
       |  WHERE rank <= 3),
       |exact AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, a.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${r.l264("q.vec", "a.vec")}, a.vec_id) AS rank
       |    FROM qv q JOIN ${r.vectors} a ON a.vec_id <> q.q_id) e
       |  WHERE rank <= 3),
       |adc_hits AS (
       |  SELECT sh.q_id, count(*) AS h
       |  FROM (SELECT q_id, n_id FROM shortlist WHERE rank <= 3) sh
       |  JOIN exact e ON sh.q_id = e.q_id AND sh.n_id = e.n_id
       |  GROUP BY sh.q_id),
       |rr_hits AS (
       |  SELECT rr2.q_id, count(*) AS h
       |  FROM reranked rr2 JOIN exact e ON rr2.q_id = e.q_id AND rr2.n_id = e.n_id
       |  GROUP BY rr2.q_id),
       |qs AS (SELECT DISTINCT q_id FROM qv)
       |SELECT qs.q_id, CAST(3 AS INT) AS k, CAST(16 AS INT) AS rerank_depth,
       |       CAST(COALESCE(ah.h, 0) AS BIGINT) AS hits_adc,
       |       CAST(COALESCE(rh.h, 0) AS BIGINT) AS hits_reranked
       |FROM qs
       |LEFT JOIN adc_hits ah ON qs.q_id = ah.q_id
       |LEFT JOIN rr_hits rh ON qs.q_id = rh.q_id
       |ORDER BY qs.q_id""".stripMargin

  private val sparkRefs = ServeRefs(
    cents = "pidx_cents", pq = "pidx_pq",
    codesFetch = "pidx_codes_probed",
    vectors = "pidx_vectors", vectorsFetch = "pidx_vectors_probed",
    l264 = Similarity.sparkClust.l2, l216 = Similarity.sparkPq.l2,
    zipSub = Similarity.sparkRes.zipSub,
    sliceParts = Similarity.sparkRes.sliceParts)

  /** Serve refs over the (tombstone-aware) `pidx_*` views directly —
    * q127's deletion gate, where the view wrapping IS the surface under
    * test (q121 already gates the per-cell pruned fetches). */
  private val sparkRefsUnprobed = sparkRefs.copy(
    codesFetch = "pidx_codes", vectorsFetch = "pidx_vectors")

  /** DuckDB reads the SAME persisted snapshot dirs (`hive_partitioning`
    * restores the cell column from the dir layout). */
  private def duckRefs(root: String): ServeRefs = {
    def flat(name: String) = s"read_parquet('$root/$name/snap-*/*.parquet')"
    def part(name: String) =
      s"(SELECT * REPLACE (CAST(cell AS INT) AS cell) FROM " +
        s"read_parquet('$root/$name/snap-*/*/*.parquet', hive_partitioning = true))"
    ServeRefs(
      cents = flat("ivf_cents"), pq = flat("pq_cents"),
      codesFetch = part("codes"),
      vectors = part("vectors"), vectorsFetch = part("vectors"),
      l264 = Similarity.duckClust.l2, l216 = Similarity.duckPq.l2,
      zipSub = Similarity.duckRes.zipSub,
      sliceParts = Similarity.duckRes.sliceParts)
  }

  /** q120/q122's oracle: re-derive the ENTIRE index from the raw corpus
    * from scratch — coarse + PQ training restricted to the vectors
    * passing `trainPred` (the "initial corpus"; `TRUE` = all of it),
    * assignment/residuals/codes over EVERY vector against those trained
    * artifacts — and summarize it exactly as the Spark side summarizes
    * the PERSISTED artifacts. Green row = what is on disk (including any
    * incrementally-added deltas) is what training-then-adding produces,
    * cross-engine. */
  private def buildOracleFor(trainPred: String): String = {
    val iv = Similarity.duckClust
    val pq = Similarity.duckPq
    val res = Similarity.duckRes
    val ivTrain = iv.copy(parts = filteredParts(iv.parts, trainPred))
    s"""WITH ${Similarity.pqTrainCtes(ivTrain, "i_")},
       |allparts AS (${iv.parts}),
       |rasg AS (
       |  SELECT vec_id, sub, k AS cell, cvec FROM (
       |    SELECT p.vec_id, p.sub, c.k, c.cvec,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY ${iv.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM allparts p JOIN i_cents2 c ON p.m = c.m) x
       |  WHERE rn = 1),
       |rres AS (SELECT vec_id, cell, ${res.zipSub("sub", "cvec")} AS res FROM rasg),
       |tres AS (SELECT * FROM rres WHERE $trainPred),
       |${Similarity.pqTrainCtes(pq.copy(parts = res.sliceParts("tres", "vec_id")), "p_")},
       |aslices AS (${res.sliceParts("rres", "vec_id")}),
       |codes AS (
       |  SELECT vec_id AS n_id, m, k AS code FROM (
       |    SELECT p.vec_id, p.m, c.k,
       |           row_number() OVER (PARTITION BY p.vec_id, p.m
       |             ORDER BY ${pq.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM aslices p JOIN p_cents2 c ON p.m = c.m) y
       |  WHERE rn = 1)
       |SELECT 'ivf_cent' AS artifact, CAST(0 AS INT) AS m, CAST(k AS INT) AS k,
       |       ROUND(list_reduce(cvec, (x, y) -> x + y), 6) AS val
       |FROM i_cents2
       |UNION ALL
       |SELECT 'pq_cent', CAST(m AS INT), CAST(k AS INT),
       |       ROUND(list_reduce(cvec, (x, y) -> x + y), 6)
       |FROM p_cents2
       |UNION ALL
       |SELECT 'code_hist', CAST(m AS INT), CAST(code AS INT), CAST(count(*) AS DOUBLE)
       |FROM codes GROUP BY m, code
       |UNION ALL
       |SELECT 'vec_cell', CAST(0 AS INT), CAST(cell AS INT), CAST(count(*) AS DOUBLE)
       |FROM rasg GROUP BY cell
       |ORDER BY artifact, m, k""".stripMargin
  }

  /** The Spark-side artifact summary over the persisted `pidx_*` tables —
    * centroid component sums, code histograms, cell occupancies — shared
    * by q120 (post-build) and q122 (post-incremental-add). */
  private def persistedSummarySql: String =
    s"""SELECT 'ivf_cent' AS artifact, CAST(0 AS INT) AS m, cell AS k,
       |       ROUND(aggregate(cvec, CAST(0 AS DOUBLE), (a, x) -> a + x), 6) AS val
       |FROM pidx_cents
       |UNION ALL
       |SELECT 'pq_cent', m, k,
       |       ROUND(aggregate(cvec, CAST(0 AS DOUBLE), (a, x) -> a + x), 6)
       |FROM pidx_pq
       |UNION ALL
       |SELECT 'code_hist', m, code, CAST(count(*) AS DOUBLE)
       |FROM pidx_codes GROUP BY m, code
       |UNION ALL
       |SELECT 'vec_cell', CAST(0 AS INT), cell, CAST(count(*) AS DOUBLE)
       |FROM pidx_vectors GROUP BY cell
       |ORDER BY artifact, m, k""".stripMargin

  val queries: Map[String, QFn] = Map(
    // The index-BUILD job: always a fresh build (this is the timed "train
    // + add" cost the serve path amortizes away), then a summary of the
    // persisted artifacts — centroid component sums, code histograms,
    // cell occupancies — that the oracle must reproduce by re-training
    // from scratch.
    "q120_index_build" -> { (s, dir) =>
      val root = defaultRoot(dir)
      build(s, dir, root)
      lastRoot = root
      s.sql(persistedSummarySql)
    },

    // The incremental-ADD job (FAISS train-then-add): build the index on
    // 6/7 of the corpus, fold the held-out 1/7 in via addVectors — delta
    // appends against FROZEN artifacts, no retraining anywhere — then
    // summarize the persisted post-add state. The oracle re-derives it as
    // train-on-initial + assign/encode-everything; a green row proves the
    // incremental path lands vectors EXACTLY where a from-scratch add
    // would. Scan-shape gates require the adds were true delta appends.
    "q122_index_incremental_add" -> { (s, dir) =>
      val root = defaultRoot(dir) + "-incr"
      build(s, dir, root, pred = "vec_id % 7 <> 3")
      val added = addVectors(s, dir, root, "vec_id % 7 = 3")
      require(added > 0, "q122 expects a non-empty delta")
      val vecs = tbl(s, root, "vectors")
      val codes = tbl(s, root, "codes")
      for ((t, nRowsPerVec) <- Seq((vecs, 1L), (codes, 4L))) {
        require(t.snapshots().map(_._2) == Seq("base", "append"),
          s"q122 expects one delta append on ${t.root}, got ${t.snapshots()}")
        // metadata-only: the append snapshot carries exactly the delta
        val total = t.rowCountFromMetadata
        val corpus = s.table("embeddings").count()
        require(total.contains(corpus * nRowsPerVec),
          s"q122 post-add row count: expected ${corpus * nRowsPerVec}, got $total")
      }
      s.sql(persistedSummarySql)
    },

    // VECTOR DELETION (FAISS remove_ids) through the correctness gate:
    // build fresh, soft-delete every vec_id ≡ 5 (mod 7) (tombstones +
    // anti-joined views — no index rewrite), serve; then VACUUM (one
    // partition-pruned COW DELETE per affected cell on vectors AND codes,
    // compact + expire, tombstones dropped), serve again. REQUIREd: every
    // vacuum rewrite pruned to its cell, post-vacuum metadata counts are
    // exactly corpus-minus-deleted (×4 for codes), and the tombstoned and
    // vacuumed serves agree row-for-row. The oracle re-runs the serve over
    // the post-vacuum tables — trained artifacts must be untouched
    // (deletion never retrains) and no deleted vector may surface.
    "q127_index_delete" -> { (s, dir) =>
      import org.apache.spark.sql.functions.expr
      val root = defaultRoot(dir) + "-del"
      build(s, dir, root) // fresh build each run: deterministic end state
      delRoot = root
      val corpus = s.table("embeddings").count()
      val removed = removeVectors(s, root, expr("vec_id % 7 = 5"))
      require(removed > 0 && removed < corpus, s"q127 expects a partial delete, got $removed/$corpus")
      val r1 = s.sql(serveSql(sparkRefsUnprobed)).collect()
      val plans = vacuum(s, root)
      require(plans.nonEmpty && plans.forall(p => p.filesKept < p.filesTotal),
        s"q127 vacuum must prune each rewrite to its cell: " +
          plans.map(p => s"${p.filesKept}/${p.filesTotal}").mkString(", "))
      val vecs = tbl(s, root, "vectors")
      val codes = tbl(s, root, "codes")
      require(vecs.rowCountFromMetadata.contains(corpus - removed),
        s"q127 post-vacuum vectors: ${vecs.rowCountFromMetadata} vs ${corpus - removed}")
      require(codes.rowCountFromMetadata.contains((corpus - removed) * 4),
        s"q127 post-vacuum codes: ${codes.rowCountFromMetadata}")
      require(!tbl(s, root, "tombstones").exists, "q127 vacuum must clear tombstones")
      val r2df = s.sql(serveSql(sparkRefsUnprobed))
      val r2 = r2df.collect()
      require(r1.toSeq == r2.toSeq,
        "q127 tombstoned and vacuumed serves must agree row-for-row")
      s.createDataFrame(java.util.Arrays.asList(r2: _*), r2df.schema)
    },

    // The SERVE path: no training anywhere in the plan — probes, LUTs,
    // ADC, and the refine fetch all read the persisted index, and every
    // per-cell candidate/re-rank read is REQUIRED to be partition-pruned.
    "q121_ivfpq_persisted" -> { (s, dir) =>
      val root = defaultRoot(dir)
      ensureBuilt(s, dir, root)
      lastRoot = root
      val codesT = tbl(s, root, "codes")
      val vecsT = tbl(s, root, "vectors")
      // probe set: 4 queries × nprobe=2 → ≤8 cell ids, driver-side by
      // design (FAISS serves probes the same way); metadata-scale collect
      val probed = s.sql(s"WITH ${qvProbesCtes(sparkRefs)}\n" +
          "SELECT DISTINCT cell FROM probes")
        .collect().map(_.getInt(0)).sorted.toSeq
      // partition-pruned per-cell fetches (VERDICT r8 #2): each read must
      // keep strictly fewer files than the table holds — the q104-style
      // scan-shape gate. An empty cell legitimately keeps 0 files.
      def prunedUnion(tb: SnapshotTable, what: String): DataFrame =
        probed.map { c =>
          val (df, plan) = tb.readPruned(Seq(ColRange("cell", Some(c), Some(c))))
          require(plan.filesKept < plan.filesTotal,
            s"q121 expects cell=$c partition pruning on $what: " +
              s"kept ${plan.filesKept}/${plan.filesTotal}")
          df
        }.reduce(_ unionByName _)
      prunedUnion(codesT, "codes").createOrReplaceTempView("pidx_codes_probed")
      prunedUnion(vecsT, "vectors").createOrReplaceTempView("pidx_vectors_probed")
      s.sql(serveSql(sparkRefs))
    })

  def oracle: Map[String, String] = Map(
    "q120_index_build" -> buildOracleFor("TRUE"),
    "q121_ivfpq_persisted" -> serveSql(duckRefs(lastRoot)),
    "q122_index_incremental_add" -> buildOracleFor("vec_id % 7 <> 3"),
    // DuckDB re-runs the identical serve over the POST-VACUUM persisted
    // tables (expire left only live files under the glob) — a vacuum that
    // strands a deleted vector, loses a survivor, or perturbs the trained
    // artifacts diverges here
    "q127_index_delete" -> serveSql(duckRefs(delRoot)))
}
