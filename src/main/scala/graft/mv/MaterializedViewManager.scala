package graft.mv

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.catalog.Catalog

/** Materialized views as snapshot tables + explicit refresh (D2).
  *
  * Spark has no native MV, so the reference's
  * `CREATE MATERIALIZED VIEW ... AUTO_REFRESH`
  * (`scripts/12_materialized_views.sql:38-228,296`) becomes: materialize
  * the view query into a [[graft.warehouse.SnapshotTable]] under an `_mv`
  * schema, remember the base tables' snapshot ids at build time, and
  * refresh (full recompute, CREATE OR REPLACE) when any base advanced —
  * the snapshot-watch policy. `refreshIfStale` is what a 5-minute task
  * (D10) calls; reads always hit the materialized parquet, never the
  * defining query.
  */
final class MaterializedViewManager(cat: Catalog) {

  /** COST-BASED refresh policy (VERDICT r9 #4): below this metadata row
    * count, a full rebuild of the base is CHEAPER than the CDC retraction
    * fold — BENCH_NOTES.md ("Round-9: retraction fold vs full rebuild")
    * measured rebuild at 0.28×–0.62× of retraction
    * up to ~40M rows with the crossover near 120M (the fold's fixed cost
    * is its EXCEPT-ALL shuffles over changed files; the rebuild's cost is
    * linear in the base). `refreshIncremental`/`refreshMultiAggMv`
    * consult the base's `rowCountFromMetadata` (zero-scan) and take the
    * cheaper path; an unknown count (mid-DML ambiguity) defaults to
    * retraction — never a surprise base rescan. Set 0 to always retract
    * (tests of the retraction machinery pin this), or higher where
    * rescans are pricier than the bench machine. */
  @volatile var retractionCrossoverRows: Long =
    MaterializedViewManager.DefaultRetractionCrossoverRows

  import MaterializedViewManager.RebuildDeltaFraction

  /** The two-variable cost policy: rebuild instead of folding change set
    * `cs` when the base sits below the row crossover (count known) AND
    * the change touched at least 1/[[RebuildDeltaFraction]] of its live
    * files. */
  private def rebuildCheaper(t: graft.warehouse.SnapshotTable,
                             cs: graft.warehouse.ChangeScan): Boolean =
    t.rowCountFromMetadata.exists(_ < retractionCrossoverRows) &&
      cs.filesRead * RebuildDeltaFraction >= cs.liveFilesTotal

  /** mv name → (definition SQL, base tables as (schema, table)). */
  private val defs = mutable.LinkedHashMap.empty[String, (String, Seq[(String, String)])]
  private val builtAt = mutable.Map.empty[String, Map[(String, String), Long]]

  private def baseVersions(bases: Seq[(String, String)]): Map[(String, String), Long] =
    bases.map(b => b -> cat.table(b._1, b._2).currentSnapshotId.getOrElse(0L)).toMap

  def create(mvName: String, definition: String, baseTables: Seq[(String, String)]): Unit = {
    defs(mvName) = (definition, baseTables)
    materialize(mvName)
  }

  /** Register a definition, ADOPTING an existing materialization if one is
    * on disk (cross-JVM warm start — a fresh process must not rebuild MVs
    * whose bases and definitions are unchanged; the caller is responsible
    * for invalidating on definition change, see `AdFunnel`). Returns true
    * if a build actually ran. */
  def createIfMissing(mvName: String, definition: String,
      baseTables: Seq[(String, String)]): Boolean = {
    defs(mvName) = (definition, baseTables)
    if (cat.table("_mv", mvName).exists) {
      builtAt(mvName) = baseVersions(baseTables)
      false
    } else { materialize(mvName); true }
  }

  /** Run an MV (re)build with transparent MV routing OFF: a rebuild's
    * aggregate-over-base plan must never be rewritten back onto the stale
    * MV it is replacing (see [[MvRewrite]]). */
  private def withRewriteOff[T](f: => T): T =
    graft.Driver.withConf(cat.spark, MvRewrite.FlagKey -> "false")(f)

  /** Route matching aggregates over this MV's base table to the
    * materialized partials (installs [[MvRewriteRule]] session-wide). */
  def enableRewrite(name: String): Unit = {
    val d = aggDefs(name)
    MvRewrite.install(cat.spark)
    MvRewrite.register(MvRewrite.Entry(
      name,
      // matched by EQUALITY against a query's scanned path set (dirs, or
      // surviving files after a cow): only the current full-table read
      // routes; asOf/appendsSince scans decline
      () => cat.table(d.base._1, d.base._2).liveScanPaths(),
      d.keyCols, d.sumCols,
      () => read(name).queryExecution.analyzed,
      // stale MV ⇒ no routing: the base committed past the last refresh
      () => cat.table(d.base._1, d.base._2).currentSnapshotId.getOrElse(0L) ==
        aggBuiltAt.getOrElse(name, -1L),
      minMaxCols = d.minMaxCols))
    cat.spark.conf.set(MvRewrite.FlagKey, "true")
  }

  /** Route matching aggregates over EACH base of a multi-base MV to that
    * base's partial table (prefixed column naming). A query touching one
    * fact of the funnel MV reads |keys| partial rows instead of the fact. */
  def enableRewriteMulti(name: String): Unit = {
    val bases = multiDefs(name)
    MvRewrite.install(cat.spark)
    bases.foreach { b =>
      MvRewrite.register(MvRewrite.Entry(
        partialName(name, b),
        () => cat.table(b.base._1, b.base._2).liveScanPaths(),
        b.keyCols, b.sumCols,
        () => read(partialName(name, b)).queryExecution.analyzed,
        () => cat.table(b.base._1, b.base._2).currentSnapshotId.getOrElse(0L) ==
          multiBuiltAt.get(name).flatMap(_.get(b.base)).getOrElse(-1L),
        countCol = s"${b.prefix}_rows",
        sumCol = c => s"${b.prefix}_sum_$c"))
    }
    cat.spark.conf.set(MvRewrite.FlagKey, "true")
  }

  private def materialize(mvName: String): Unit = withRewriteOff {
    val (definition, bases) = defs(mvName)
    cat.registerTables()
    cat.table("_mv", mvName).createOrReplace(cat.spark.sql(definition))
    builtAt(mvName) = baseVersions(bases)
  }

  /** True if any base table committed a snapshot since the last build. */
  def isStale(mvName: String): Boolean =
    baseVersions(defs(mvName)._2) != builtAt(mvName)

  /** Refresh policy: recompute only stale MVs; returns refreshed names. */
  def refreshIfStale(): Seq[String] =
    defs.keys.toSeq.filter(isStale).map { n => materialize(n); n }

  /** Reads hit the materialized table — precomputed, not the query. */
  def read(mvName: String): DataFrame = cat.table("_mv", mvName).read()

  def list(): Seq[String] = defs.keys.toSeq ++ aggDefs.keys ++ multiDefs.keys

  // ── incremental aggregate MVs ─────────────────────────────────────────
  //
  // The scale path for the 5-minute refresh cycle: a full recompute reads
  // the whole base per cycle (impossible at 100 TB/day); an aggregate MV
  // over an append-only base instead folds ONLY the appended snapshots in
  // — count and decimal-sum partials merge associatively, so
  // merged = reaggregate(old MV ∪ agg(delta)). Falls back to a full
  // rebuild automatically when a base rewrite (DELETE/UPDATE/replace)
  // invalidates the delta algebra.

  /** key columns + decimal-summed metric columns + min/max-tracked columns
    * over one base table. min/max partials re-aggregate EXACTLY (min of
    * mins), so the router answers min/max rollups with zero numeric drift;
    * they also give avg = sum/count for free. */
  final case class AggMvDef(base: (String, String), keyCols: Seq[String],
                            sumCols: Seq[String], minMaxCols: Seq[String] = Nil)

  private val aggDefs = mutable.LinkedHashMap.empty[String, AggMvDef]
  private val aggBuiltAt = mutable.Map.empty[String, Long]

  private def aggregate(df: DataFrame, d: AggMvDef): DataFrame =
    df.groupBy(d.keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        (d.sumCols.map(c => sum(col(c).cast(DecimalType(18, 2))).cast(DecimalType(18, 2))
          .as(s"sum_$c")) ++
         d.minMaxCols.flatMap(c =>
           Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))): _*)

  /** Signed partial aggregate of a `_change`-tagged CDC frame: an insert
    * counts +1 and adds its metrics, a delete counts −1 and subtracts —
    * the abelian-group view of count + decimal-sum partials that makes an
    * aggregate MV maintainable THROUGH row-level DML (the Materialize /
    * Flink retraction model; an UPDATE arrives as its delete+insert pair
    * and nets to the metric difference). NULL metrics contribute nothing
    * in either direction, so insert/delete stay symmetric. */
  private def aggregateChanges(chg: DataFrame, keyCols: Seq[String],
      countName: String, sums: Seq[(String, String)]): DataFrame = {
    val sgn = when(col("_change") === "insert", lit(1)).otherwise(lit(-1))
    chg.groupBy(keyCols.map(col): _*)
      .agg(sum(sgn).as(countName),
        sums.map { case (src, out) =>
          sum(col(src).cast(DecimalType(18, 2)) * sgn).cast(DecimalType(18, 2)).as(out)
        }: _*)
  }

  /** Merge partial aggregates (old MV rows ∪ delta rows) — associative. */
  private def remerge(partials: DataFrame, d: AggMvDef): DataFrame =
    partials.groupBy(d.keyCols.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        (d.sumCols.map(c => sum(col(s"sum_$c")).cast(DecimalType(18, 2))
          .as(s"sum_$c")) ++
         d.minMaxCols.flatMap(c =>
           Seq(min(col(s"min_$c")).as(s"min_$c"), max(col(s"max_$c")).as(s"max_$c")))): _*)

  def createAggMv(name: String, base: (String, String),
      keyCols: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Nil): Unit = withRewriteOff {
    val d = AggMvDef(base, keyCols, sumCols, minMaxCols)
    aggDefs(name) = d
    val t = cat.table(base._1, base._2)
    cat.table("_mv", name).createOrReplace(aggregate(t.read(), d))
    aggBuiltAt(name) = t.currentSnapshotId.getOrElse(0L)
    // the definition references these base columns BY NAME: register them
    // durably so a rename/drop refuses at DDL time instead of breaking
    // the next refresh (r16 verdict #4); [[dropAggMv]] deregisters
    t.registerDependent(s"mv:$name", "agg-mv", keyCols ++ sumCols ++ minMaxCols)
  }

  /** REMAP every registered aggregate-MV definition on `base` across a
    * base-column rename, then rename the base column itself — the
    * "refuse OR remap" completion (r16 missing #3): with this, a column
    * under five MVs renames in ONE call instead of five refusals. The MV
    * materializations follow via their own MARKER-ONLY column renames
    * (zero rewritten bytes at any scale — the `_mv` tables are
    * SnapshotTables too), definitions and durable registrations update,
    * and the base rename then passes its dependent guard. Multi-base MV
    * SUM columns remap the same way; a COMPOSITE-KEY rename is refused —
    * the key names are shared across bases by construction, so a one-base
    * rename cannot be represented (drop and recreate the MV).
    *
    * Not atomic across objects: a crash mid-remap leaves some MVs
    * renamed and the base not yet — every step is idempotent (renames
    * skip when the old name is already gone), so RE-RUNNING the same
    * call completes the remap; refreshes in the torn window fail loudly,
    * never silently. Routing entries go stale at the base's colmap
    * commit (the freshness closure) — re-run `enableRewrite` after.
    * Returns the number of MV definitions remapped. */
  def renameBaseColumn(base: (String, String), from: String,
                       to: String): Int = synchronized { withRewriteOff {
    val t = cat.table(base._1, base._2)
    multiDefs.foreach { case (name, bases) =>
      require(!bases.exists(b => b.base == base && b.keyCols.contains(from)),
        s"cannot remap composite-key column '$from' of multi-base MV " +
          s"'$name' — the key names are shared across its bases; drop and " +
          "recreate the MV instead")
    }
    // cross-JVM safety (r17 review): registrations are durable but
    // definitions are per-process — an MV registered on this base yet
    // unknown to THIS manager cannot be remapped, and remapping the rest
    // would strand it behind a half-done rename. Refuse loudly.
    val knownIds =
      aggDefs.collect { case (n, d) if d.base == base => s"mv:$n" }.toSet ++
      multiDefs.flatMap { case (n, bs) =>
        bs.collect { case b if b.base == base => s"mv:$n:${b.prefix}" } }.toSet
    val strangers = t.dependents().filter(d =>
      (d._2 == "agg-mv" || d._2 == "multi-agg-mv") &&
        d._3.contains(from) && !knownIds(d._1))
    require(strangers.isEmpty,
      s"cannot remap column '$from' of ${base._1}.${base._2}: registered " +
        s"dependent(s) ${strangers.map(_._1).mkString(", ")} are unknown to " +
        "this manager (definitions are per-process) — re-create their " +
        "definitions in this process first, or drop them")
    var remapped = 0
    def ren(tbl: graft.warehouse.SnapshotTable, o: String, n: String): Unit =
      if (tbl.read().columns.contains(o)) tbl.renameColumn(o, n)
    aggDefs.toSeq.foreach { case (name, d) =>
      if (d.base == base &&
          (d.keyCols ++ d.sumCols ++ d.minMaxCols).contains(from)) {
        val mv = cat.table("_mv", name)
        if (d.keyCols.contains(from)) ren(mv, from, to)
        if (d.sumCols.contains(from)) ren(mv, s"sum_$from", s"sum_$to")
        if (d.minMaxCols.contains(from)) {
          ren(mv, s"min_$from", s"min_$to"); ren(mv, s"max_$from", s"max_$to")
        }
        val sub = (c: String) => if (c == from) to else c
        val nd = AggMvDef(base, d.keyCols.map(sub), d.sumCols.map(sub),
          d.minMaxCols.map(sub))
        aggDefs(name) = nd
        t.registerDependent(s"mv:$name", "agg-mv",
          nd.keyCols ++ nd.sumCols ++ nd.minMaxCols)
        remapped += 1
      }
    }
    multiDefs.toSeq.foreach { case (name, bases) =>
      if (bases.exists(b => b.base == base && b.sumCols.contains(from))) {
        multiDefs(name) = bases.map { b =>
          if (b.base == base && b.sumCols.contains(from)) {
            ren(cat.table("_mv", partialName(name, b)),
              s"${b.prefix}_sum_$from", s"${b.prefix}_sum_$to")
            ren(cat.table("_mv", name),
              s"${b.prefix}_sum_$from", s"${b.prefix}_sum_$to")
            val b2 = b.copy(sumCols = b.sumCols.map(c => if (c == from) to else c))
            t.registerDependent(s"mv:$name:${b.prefix}", "multi-agg-mv",
              b2.keyCols ++ b2.sumCols)
            remapped += 1
            b2
          } else b
        }
      }
    }
    t.renameColumn(from, to) // passes: every registration now names `to`
    remapped
  } }

  /** Drop an incremental aggregate MV: the materialization, the routing
    * eligibility (the staleness closure reads the removed watermark as
    * -1, so [[MvRewrite]] stops routing), and the durable column
    * registration on the base — renames/drops of those columns are legal
    * again. */
  def dropAggMv(name: String): Unit = {
    aggDefs.remove(name) match {
      case Some(d) =>
        cat.table(d.base._1, d.base._2).unregisterDependent(s"mv:$name")
        aggBuiltAt.remove(name)
      case None =>
        // cross-JVM drop (r17 review): definitions are per-process, but
        // the REGISTRATION and the materialization are durable — a fresh
        // manager must still be able to drop them, or a restart leaves
        // base columns locked behind a stale registration forever
        for {
          s <- cat.listSchemas(); tn <- cat.listTables(s)
          t = cat.table(s, tn)
          if t.dependents().exists(_._1 == s"mv:$name")
        } t.unregisterDependent(s"mv:$name")
    }
    val t = cat.table("_mv", name)
    if (t.exists) t.drop()
  }

  /** Returns the refresh mode taken: "noop", "incremental", or "full".
    * `synchronized`: refreshes are read-fold-replace against the MV's own
    * watermark (`aggBuiltAt`), so two concurrent refreshes that both read
    * the same watermark would fold the same delta TWICE — with multiple
    * maintenance tails live (one per base, [[graft.streaming
    * .MvMaintenance.continuousMultiRefresh]]) the serialization is what
    * keeps the fold exactly-once. */
  def refreshIncremental(name: String): String = synchronized { withRewriteOff {
    val d = aggDefs(name)
    val t = cat.table(d.base._1, d.base._2)
    val cur = t.currentSnapshotId.getOrElse(0L)
    if (cur == aggBuiltAt(name)) return "noop"
    // fold EXACTLY (built, cur] — never "everything since built": a live
    // writer can commit between this read of `cur` and the delta scan, and
    // an unbounded fold would include that commit while the watermark
    // below records only `cur` — the next refresh would fold it AGAIN.
    // The bounded window + the watermark set to the same `cur` is what
    // makes the fold exactly-once under concurrent ingest.
    val delta =
      try Some(t.appendsBetween(aggBuiltAt(name), cur))
      catch { case _: IllegalStateException => None } // rewrite in range
    val mode = delta match {
      case Some(df) =>
        val merged = remerge(read(name).unionByName(aggregate(df, d)), d)
        cat.table("_mv", name).createOrReplace(merged)
        "incremental"
      case None =>
        // a file-pruned DML landed in the window: before surrendering to a
        // full rebuild, try the RETRACTION fold — CDC net changes applied
        // as signed partials, reading only the changed files. min/max
        // partials are NOT retractable (a deleted row may have held the
        // min; no subtraction recovers the runner-up), so those MVs — and
        // true REPLACEs (CDC = None) — still rebuild. COST POLICY: rebuild
        // only when the base's metadata row count sits below the
        // measured crossover (BENCH_NOTES.md, "Round-9: retraction fold vs
        // full rebuild") AND the change set spans a substantial
        // fraction of the live files (the crossover was measured under the
        // bench's delta mix; a one-file change on a mid-size base keeps
        // the ∝-change fold — ADVICE r10). The CDC plan itself is
        // metadata-only to construct, so probing it first costs listings
        // ∝ the change, never a scan.
        val cdc0 = if (d.minMaxCols.isEmpty)
          t.rowChangesBetween(aggBuiltAt(name), cur) else None
        val cdc = cdc0.filterNot(rebuildCheaper(t, _))
        cdc match {
          case Some(cs) =>
            val signed = aggregateChanges(cs.df, d.keyCols, "n_rows",
              d.sumCols.map(c => c -> s"sum_$c"))
            // groups whose rows all vanished net to n_rows = 0 — drop them
            val merged = remerge(read(name).unionByName(signed), d)
              .filter(col("n_rows") > 0)
            cat.table("_mv", name).createOrReplace(merged)
            "retraction"
          case None => // replace (or min/max partials): rebuild AS OF cur
            cat.table("_mv", name).createOrReplace(aggregate(t.asOf(cur), d))
            "full"
        }
    }
    aggBuiltAt(name) = cur
    mode
  } }

  // ── incremental multi-base / composite-key aggregate MVs ──────────────
  //
  // The flagship funnel MV (`scripts/12_materialized_views.sql:178-228`)
  // joins THREE pre-aggregated fact tables on a composite key. Its
  // incremental algebra: keep one PARTIAL-aggregate table per base (count +
  // decimal sums per composite key — associative), fold append deltas into
  // only the touched base's partials, then rebuild the final MV by
  // full-outer-joining the partials. Appending to one base scans ONLY that
  // base's delta plus the (already tiny, |keys|-sized) partials — the other
  // bases are never read. A rewrite of any base falls back to rebuilding
  // that base's partials; the final join is always partials-only.

  /** One contributing base: table, composite key columns, decimal-summed
    * metric columns, and a prefix namespacing its output columns. */
  final case class BaseAgg(base: (String, String), keyCols: Seq[String],
                           sumCols: Seq[String], prefix: String)

  private val multiDefs = mutable.LinkedHashMap.empty[String, Seq[BaseAgg]]
  private val multiBuiltAt = mutable.Map.empty[String, Map[(String, String), Long]]
  /** MVs whose partials advanced past the last final-join rebuild. Set
    * BEFORE the first partial fold, cleared AFTER the join rebuild commits:
    * a crash between the two leaves the name here, so the next refresh
    * rebuilds the join even when every base reports "noop". */
  private val multiJoinDirty = mutable.Set.empty[String]

  private def partialName(name: String, b: BaseAgg): String = s"${name}__${b.prefix}"

  private def aggBase(df: DataFrame, b: BaseAgg): DataFrame =
    df.groupBy(b.keyCols.map(col): _*)
      .agg(count(lit(1)).as(s"${b.prefix}_rows"),
        b.sumCols.map(c => sum(col(c).cast(DecimalType(18, 2))).cast(DecimalType(18, 2))
          .as(s"${b.prefix}_sum_$c")): _*)

  private def remergeBase(partials: DataFrame, b: BaseAgg): DataFrame =
    partials.groupBy(b.keyCols.map(col): _*)
      .agg(sum(col(s"${b.prefix}_rows")).as(s"${b.prefix}_rows"),
        b.sumCols.map(c => sum(col(s"${b.prefix}_sum_$c")).cast(DecimalType(18, 2))
          .as(s"${b.prefix}_sum_$c")): _*)

  /** Final MV = full-outer join of the per-base partials on the composite
    * key (COALESCE'd key columns, zero-filled metrics) — the reference's
    * funnel-join shape, computed from |keys|-sized inputs only. */
  private def joinPartials(name: String, bases: Seq[BaseAgg]): DataFrame = {
    val keys = bases.head.keyCols
    bases.map(b => read(partialName(name, b)))
      .reduce((l, r) => l.join(r, keys, "full_outer"))
      .na.fill(0, bases.map(b => s"${b.prefix}_rows"))
  }

  def createMultiAggMv(name: String, bases: Seq[BaseAgg]): Unit = withRewriteOff {
    require(bases.map(_.keyCols).distinct.size == 1, "all bases must share the composite key")
    multiDefs(name) = bases
    bases.foreach { b =>
      cat.table("_mv", partialName(name, b))
        .createOrReplace(aggBase(cat.table(b.base._1, b.base._2).read(), b))
    }
    cat.table("_mv", name).createOrReplace(joinPartials(name, bases))
    multiBuiltAt(name) = bases.map(b =>
      b.base -> cat.table(b.base._1, b.base._2).currentSnapshotId.getOrElse(0L)).toMap
    // per-base durable column registration (r16 verdict #4); the prefix
    // disambiguates a table contributing twice to the same MV
    bases.foreach(b => cat.table(b.base._1, b.base._2).registerDependent(
      s"mv:$name:${b.prefix}", "multi-agg-mv", b.keyCols ++ b.sumCols))
  }

  /** Drop a multi-base MV: partials, final join table, watermarks, and
    * every per-base durable column registration. */
  def dropMultiAggMv(name: String): Unit = {
    multiDefs.remove(name) match {
      case Some(bases) =>
        bases.foreach { b =>
          cat.table(b.base._1, b.base._2).unregisterDependent(s"mv:$name:${b.prefix}")
          val pt = cat.table("_mv", partialName(name, b))
          if (pt.exists) pt.drop()
        }
        multiBuiltAt.remove(name)
        multiJoinDirty -= name
      case None =>
        // cross-JVM drop: find the durable per-base registrations; the
        // id suffix IS the partial-table prefix
        val idPrefix = s"mv:$name:"
        for {
          s <- cat.listSchemas(); tn <- cat.listTables(s)
          t = cat.table(s, tn)
          (id, _, _) <- t.dependents() if id.startsWith(idPrefix)
        } {
          t.unregisterDependent(id)
          val pt = cat.table("_mv", s"${name}__${id.stripPrefix(idPrefix)}")
          if (pt.exists) pt.drop()
        }
    }
    val t = cat.table("_mv", name)
    if (t.exists) t.drop()
  }

  /** Per-base refresh modes taken, e.g. Map("imp" -> "noop", "clk" ->
    * "incremental"); the final join rebuild runs only when something moved.
    * `synchronized` for the same exactly-once reason as
    * [[refreshIncremental]]: with one maintenance tail PER base, two
    * firings that both read the same per-base watermarks would fold the
    * same delta twice. */
  def refreshMultiAggMv(name: String): Map[String, String] = synchronized { withRewriteOff {
    val bases = multiDefs(name)
    // per-base: fold EXACTLY (built, cur] and advance THAT base's watermark
    // IMMEDIATELY after its partial commits — failure atomicity: if folding
    // base B (or the final join rebuild) throws after base A's partial
    // committed, A's watermark is already advanced, so a retry folds A as
    // "noop" instead of re-folding a delta the partial already contains
    // (silent double-count). See refreshIncremental for why the window must
    // also be bounded to the pre-read `cur` under concurrent ingest.
    val modes = bases.map { b =>
      val t = cat.table(b.base._1, b.base._2)
      val cur = t.currentSnapshotId.getOrElse(0L)
      val built = multiBuiltAt(name)
      val mode =
        if (cur == built(b.base)) "noop"
        else {
          val delta =
            try Some(t.appendsBetween(built(b.base), cur))
            catch { case _: IllegalStateException => None } // rewrite in range
          multiJoinDirty += name
          val m = delta match {
            case Some(df) =>
              cat.table("_mv", partialName(name, b)).createOrReplace(
                remergeBase(read(partialName(name, b)).unionByName(aggBase(df, b)), b))
              "incremental"
            case None =>
              // DML in the window: retraction fold over this base's CDC
              // (BaseAgg partials are count + decimal sums only — always
              // retractable); a true REPLACE rebuilds the partials; a
              // base below the cost crossover with a substantial change
              // fraction rebuilds DELIBERATELY (same two-variable policy
              // as refreshIncremental)
              val cdc0 = t.rowChangesBetween(built(b.base), cur)
              val cdcM = cdc0.filterNot(rebuildCheaper(t, _))
              cdcM match {
                case Some(cs) =>
                  val signed = aggregateChanges(cs.df, b.keyCols,
                    s"${b.prefix}_rows",
                    b.sumCols.map(c => c -> s"${b.prefix}_sum_$c"))
                  cat.table("_mv", partialName(name, b)).createOrReplace(
                    remergeBase(read(partialName(name, b)).unionByName(signed), b)
                      .filter(col(s"${b.prefix}_rows") > 0))
                  "retraction"
                case None =>
                  cat.table("_mv", partialName(name, b)).createOrReplace(aggBase(t.asOf(cur), b))
                  "full"
              }
          }
          multiBuiltAt(name) = built + (b.base -> cur) // partial committed: advance NOW
          m
        }
      b.prefix -> mode
    }.toMap
    // rebuild the final join when anything moved THIS call, or when a prior
    // call crashed between a partial commit and the join rebuild (dirty flag)
    if (modes.values.exists(_ != "noop") || multiJoinDirty(name)) {
      cat.table("_mv", name).createOrReplace(joinPartials(name, bases))
      multiJoinDirty -= name
    }
    modes
  } }
}

object MaterializedViewManager {
  /** The measured crossover (~120M rows; BENCH_NOTES.md, "Round-9:
    * retraction fold vs full rebuild"): below it the full rebuild beat the
    * retraction fold on every tested size (0.28×–0.62×), above it the
    * fold's flat cost wins against the rebuild's linear one. */
  val DefaultRetractionCrossoverRows: Long = 120L * 1000 * 1000

  /** Second policy variable (ADVICE r10): a sub-crossover base rebuilds
    * only when the CDC window's file count × this factor reaches the live
    * file count — i.e. the change touched ≥ 1/N of the files, the regime
    * the crossover was measured in. Smaller deltas keep the ∝-change
    * retraction fold regardless of base size. */
  private val RebuildDeltaFraction = 4L
}
