package graft.catalog

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.warehouse.{LocalFs, SnapshotTable}

/** A named view: definition is SQL TEXT, not a plan — the reference's sync
  * machinery rewrites and hashes view definitions as strings
  * (`scripts/16_sync_task_primary.sql:217-252`,
  * `scripts/33_schema_sync_task.sql:87`), so ours must too. */
final case class ViewDef(schema: String, name: String, definition: String) {
  /** SHA2-256 of the uppercased definition — the drift-detection identity
    * (`scripts/33_schema_sync_task.sql:105`: SHA2(UPPER(...), 256)). */
  def hash: String = ViewDef.sha256(definition.toUpperCase)
}

object ViewDef {
  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** One engine-side database: a warehouse directory of snapshot tables plus
  * a view registry, exposing the catalog surfaces the reference relies on —
  * SHOW/DESCRIBE (S8), INFORMATION_SCHEMA scans (S9), catalog-link status
  * (F18), and a read-only flag for BCDR promotion (D11).
  *
  * Tables live at `<warehouse>/<schema>/<table>/snap-*`; `qualified` names
  * (`<catalog>__<schema>__<table>`) double as Spark temp-view names so view
  * definition TEXT is runnable via `spark.sql` after `registerTables()`.
  */
final class Catalog(val spark: SparkSession, val warehouse: String, val name: String) {

  private val views = mutable.LinkedHashMap.empty[(String, String), ViewDef]

  /** Catalog-linked databases (S6): other catalogs whose tables this one's
    * views may reference; their tables are auto-registered at query time
    * (the CLD auto-discovery behavior). */
  private val links = mutable.LinkedHashSet.empty[Catalog]
  def link(other: Catalog): Unit = links.add(other)

  /** BCDR: secondaries are read-only until promoted (D11). */
  @volatile var readOnly: Boolean = false

  /** Fired when a table is first created in this catalog — the hook future
    * grants ride on (`GRANT ... ON FUTURE TABLES IN SCHEMA`, D9). */
  @volatile var onObjectCreated: (String, String) => Unit = (_, _) => ()

  private def fs = LocalFs.of(new Path(warehouse), spark.sparkContext.hadoopConfiguration)

  def qualified(schema: String, table: String): String = s"${name}__${schema}__$table"

  // ── tables ────────────────────────────────────────────────────────────

  def table(schema: String, tname: String): SnapshotTable =
    new SnapshotTable(spark, s"$warehouse/$schema/$tname", () => checkWritable(),
      // the future-grant hook mutates shared GrantService state; serialize
      // the (cheap) hook call so table creations may run on driver threads
      // (the replication cycle stages member tables concurrently, r18)
      () => this.synchronized(onObjectCreated(schema, tname)))

  def checkWritable(): Unit =
    require(!readOnly, s"catalog $name is read-only (unpromoted secondary)")

  /** CREATE SCHEMA IF NOT EXISTS (D3). Serialized: concurrent stagers
    * (the threaded replication cycle) may create sibling tables' schemas. */
  def createSchema(schema: String): Unit = this.synchronized {
    checkWritable()
    fs.mkdirs(new Path(s"$warehouse/$schema"))
  }

  def listSchemas(): Seq[String] = {
    val p = new Path(warehouse)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      // `_`-prefixed directories are SYSTEM namespaces, not schemas (e.g.
      // `_replication`, the consumer-side durable offset store) — the
      // Iceberg/Hive hidden-path convention
      .filterNot(_.startsWith("_")).sorted
  }

  def listTables(schema: String): Seq[String] = {
    val p = new Path(s"$warehouse/$schema")
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(t => table(schema, t).exists).sorted
  }

  /** Register every table as a temp view under its qualified name so view
    * definition SQL resolves (the CLD auto-discovery path, S6). */
  def registerTables(): Unit =
    for (s <- listSchemas(); t <- listTables(s))
      table(s, t).read().createOrReplaceTempView(qualified(s, t))

  // ── views (D1) ────────────────────────────────────────────────────────
  //
  // DURABLE (r14): view definitions are DDL, not session state — the
  // reference's views survive restarts, so ours persist as one tiny
  // `.sql` file per view under the `_views` system namespace and a new
  // Catalog over the same warehouse reloads them (the same durable-state
  // stance as replication offsets and the RBAC audit replay). The
  // in-memory map stays the read path; files are write-through.

  private def viewsDir = new Path(s"$warehouse/_views")

  // URLEncoder never EMITS '~' (it encodes it), so '~' is a safe
  // schema/name separator in the filename
  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
  private def viewFile(schema: String, vname: String): Path =
    new Path(viewsDir, s"${enc(schema)}~${enc(vname)}.sql")

  locally {
    if (fs.exists(viewsDir)) {
      val names = fs.listStatus(viewsDir).toSeq.map(_.getPath.getName).toSet
      // a `.sql.tmp` whose `.sql` is MISSING is the crash window of the
      // write-then-rename replace — recover the definition from it (the
      // same stance as the retired-notes ledger). The tmp is COMPLETE by
      // construction (r16): writes land in a `.stg` stage and rename to
      // `.tmp`, so a crash mid-write leaves only the inert stage, never a
      // truncated tmp this recovery would replay. A tmp NEXT TO its
      // target is a crashed write of a still-live old definition and is
      // ignored; `.stg` files match neither filter and are never loaded
      val load = names.filter(_.endsWith(".sql")) ++
        names.filter(n => n.endsWith(".sql.tmp") &&
          !names.contains(n.stripSuffix(".tmp"))).map(_.stripSuffix(".tmp"))
      load.toSeq.sorted.foreach { base =>
        val p = new Path(viewsDir,
          if (names.contains(base)) base else base + ".tmp")
        base.stripSuffix(".sql").split('~') match {
          case Array(s, v) =>
            val in = fs.open(p)
            val txt = try scala.io.Source.fromInputStream(in).mkString
                      finally in.close()
            views((dec(s), dec(v))) = ViewDef(dec(s), dec(v), txt)
          case _ => () // not ours; ignore
        }
      }
    }
  }

  def createOrReplaceView(schema: String, vname: String, definition: String): ViewDef = {
    checkWritable()
    val v = ViewDef(schema, vname, definition)
    views((schema, vname)) = v
    fs.mkdirs(viewsDir)
    // write-then-rename (the repo's marker-commit convention, r14 ADVICE
    // #3): an in-place overwrite truncated by a crash would replay as the
    // view's definition text-exactly — unlike offset files, a torn .sql
    // read has no safe degradation. The `.tmp` suffix fails the loader's
    // `.sql` filter, so a crashed write leaves the OLD definition live.
    // The tmp itself is made atomic through a `.stg` stage (r15 ADVICE
    // #3): the loader recovers an orphaned `.sql.tmp` as the definition,
    // so the tmp must never be observable mid-write — a crash during a
    // view's FIRST create would otherwise replay a TRUNCATED definition.
    val target = viewFile(schema, vname)
    val tmp = new Path(viewsDir, target.getName + ".tmp")
    val stg = new Path(viewsDir, target.getName + ".tmp.stg")
    // Heal an orphaned tmp BEFORE touching anything (r16 ADVICE #3): if a
    // prior replace crashed between delete(target) and rename(tmp,target),
    // that tmp is the view's ONLY durable copy — the loader treats it as
    // the live definition. Deleting it below and then crashing before the
    // stage promotes would lose the definition entirely (only the
    // loader-inert .stg would survive). Promote it to the canonical name
    // first so `tmp` is only ever deleted while `target` exists.
    if (!fs.exists(target) && fs.exists(tmp))
      require(fs.rename(tmp, target),
        s"orphaned view tmp heal failed for $schema.$vname in catalog $name")
    val out = fs.create(stg, true)
    try out.write(definition.getBytes("UTF-8")) finally out.close()
    fs.delete(tmp, false)
    require(fs.rename(stg, tmp),
      s"view definition stage rename failed for $schema.$vname in catalog $name")
    fs.delete(target, false)
    require(fs.rename(tmp, target),
      s"view definition rename failed for $schema.$vname in catalog $name")
    v
  }

  def dropView(schema: String, vname: String): Boolean = {
    checkWritable()
    val target = viewFile(schema, vname)
    // the `.tmp` sibling too — left behind it would "recover" the
    // dropped view as a crash-window orphan on the next construction —
    // and the `.stg` stage (inert to the loader, but garbage)
    fs.delete(new Path(viewsDir, target.getName + ".tmp.stg"), false)
    fs.delete(new Path(viewsDir, target.getName + ".tmp"), false)
    fs.delete(target, false)
    views.remove((schema, vname)).isDefined
  }

  def listViews(): Seq[ViewDef] = views.values.toSeq
  def getView(schema: String, vname: String): Option[ViewDef] = views.get((schema, vname))

  /** Execute a view: register base tables (own + linked catalogs'), run
    * its definition text. */
  def queryView(schema: String, vname: String): DataFrame = {
    links.foreach(_.registerTables())
    registerTables()
    spark.sql(views((schema, vname)).definition)
  }

  // ── metadata surfaces (S8/S9) ─────────────────────────────────────────

  def infoSchemaTables(): DataFrame = {
    import spark.implicits._
    val t = for (s <- listSchemas(); tn <- listTables(s))
      yield (name, s, tn, "BASE TABLE")
    val v = views.values.map(v => (name, v.schema, v.name, "VIEW")).toSeq
    (t ++ v).toDF("table_catalog", "table_schema", "table_name", "table_type")
  }

  def infoSchemaViews(): DataFrame = {
    import spark.implicits._
    views.values.map(v => (name, v.schema, v.name, v.definition, v.hash)).toSeq
      .toDF("table_catalog", "table_schema", "table_name", "view_definition", "definition_hash")
  }

  /** Every dependent-definition registration across the catalog as
    * (tbl, dependent_id, kind, columns) — the SHOW-DEPENDENTS surface an
    * operator consults before a schema change (r17; the DDL refusal
    * itself lives in `SnapshotTable.renameColumn`/`dropColumn`).
    * Filesystem metadata only — zero scans, zero Spark jobs to build. */
  def dependentsReport(): DataFrame = {
    import spark.implicits._
    val rows = for {
      s <- listSchemas()
      tn <- listTables(s)
      (id, kind, cols) <- table(s, tn).dependents()
    } yield (s"$s.$tn", id, kind, cols.mkString(","))
    rows.toDF("tbl", "dependent_id", "kind", "columns")
      .orderBy("tbl", "dependent_id")
  }

  def infoSchemaColumns(): DataFrame = {
    import spark.implicits._
    val rows = for {
      s <- listSchemas()
      tn <- listTables(s)
      (f, i) <- table(s, tn).read().schema.fields.zipWithIndex
    } yield (name, s, tn, f.name, i + 1, f.dataType.simpleString)
    rows.toDF("table_catalog", "table_schema", "table_name",
      "column_name", "ordinal_position", "data_type")
  }

  /** DESCRIBE TABLE (S8). */
  def describeTable(schema: String, tname: String): DataFrame = {
    import spark.implicits._
    table(schema, tname).read().schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString, f.nullable))
      .toDF("col_name", "data_type", "nullable")
  }

  /** SYSTEM$CATALOG_LINK_STATUS analogue (F18): probe the warehouse and
    * report a compact JSON status string. */
  def linkStatus(): String =
    try {
      val n = listSchemas().map(s => listTables(s).size).sum
      s"""{"status":"CONNECTED","catalog":"$name","tables":$n}"""
    } catch {
      case e: Exception =>
        s"""{"status":"FAILED","catalog":"$name","error":"${e.getMessage}"}"""
    }
}
