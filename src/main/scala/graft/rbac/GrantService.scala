package graft.rbac

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.warehouse.{LocalFs, LogTable}

/** RBAC as a metadata layer (D9): Spark has no GRANT surface, but the
  * reference's grant-audit logic (re-grant anything missing, log every
  * action — `scripts/00_prereqs_rbac.sql:67-152`,
  * `scripts/31_sync_task_secondary.sql:197-287`) is pure metadata and must
  * be reproducible. Grants are (role, privilege, object) triples;
  * `ensureGrants` is the idempotent audit pass.
  *
  * DURABILITY (r14): the audit log IS the state — every mutation appends
  * an event, and a new service over the same `auditRoot` REPLAYS the log
  * in id order, so a restarted service resumes with the exact RBAC state
  * it last held (the same consumer-owns-its-progress stance the
  * replication offsets and ANN index follow; Snowflake's grant store is
  * likewise durable). Pre-replay logs lacking CREATE_ROLE events still
  * recover every granted role (a GRANT implies its role). */
final class GrantService(spark: SparkSession, auditRoot: String) {

  private val roles = mutable.LinkedHashSet.empty[String]
  private val grants = mutable.LinkedHashSet.empty[(String, String, String)]
  // role HIERARCHY edges as (granted, grantee): `GRANT ROLE granted TO
  // ROLE grantee` — the grantee INHERITS the granted role's privileges
  // (the reference's ADMIN → ENGINEER → ANALYST chain,
  // `scripts/00_prereqs_rbac.sql:38-44`)
  private val roleEdges = mutable.LinkedHashSet.empty[(String, String)]

  val auditLog = new LogTable(spark, auditRoot, StructType(Seq(
    StructField("role", StringType),
    StructField("privilege", StringType),
    StructField("object", StringType),
    StructField("action", StringType))))

  private val FuturePrefix = "FUTURE TABLES IN SCHEMA "
  private val RolePrefix = "ROLE "

  // ── the event core ──────────────────────────────────────────────────────
  //
  // Every mutation is an EVENT in the audit log's own row shape; the
  // single-op public API wraps one event each, and [[applyEvents]] lands a
  // whole batch as ONE audit commit — the replication sync path's shape
  // (r15: a cycle syncing N grant changes used to pay N single-row log
  // commits; Snowflake replication moves the grant store as a batch).

  import GrantService.GrantEvent

  /** Apply a batch of events as ONE audit commit: events validate and
    * fold IN ORDER (so a batch may create a role and grant to it), and
    * only the ones that actually changed state are logged. Returns the
    * number applied.
    *
    * EXCEPTION- AND CRASH-ATOMIC (r15 verdict #1): the whole batch
    * validates and folds against SCRATCH copies of the four state sets
    * first, so a mid-batch `require` (unknown role, circular role grant)
    * fires before anything is applied or logged; then the audit batch is
    * appended — the durability point — and only then does the scratch
    * state swap in. An invalid event or a failed append leaves memory,
    * log, and any restarted replica all identical to the pre-batch
    * state (write-ahead ordering: never hold state the log doesn't). */
  def applyEvents(events: Seq[GrantEvent]): Int = {
    val scratch = Scratch(roles.clone(), grants.clone(),
      futureGrants.clone(), roleEdges.clone())
    val applied = events.filter(foldValidated(_, scratch))
    if (applied.nonEmpty) {
      auditLog.append(applied.map(e => Row(e.role, e.privilege, e.obj, e.action)))
      roles.clear(); roles ++= scratch.roles
      grants.clear(); grants ++= scratch.grants
      futureGrants.clear(); futureGrants ++= scratch.futureGrants
      roleEdges.clear(); roleEdges ++= scratch.roleEdges
      eventsSinceCheckpoint += applied.size
      if (eventsSinceCheckpoint >= GrantService.CheckpointEvery) writeCheckpoint()
    }
    applied.size
  }

  private final case class Scratch(
      roles: mutable.LinkedHashSet[String],
      grants: mutable.LinkedHashSet[(String, String, String)],
      futureGrants: mutable.LinkedHashSet[(String, String, String)],
      roleEdges: mutable.LinkedHashSet[(String, String)])

  /** Validate + fold one event into `s` (a scratch copy of the state —
    * never the live sets; [[applyEvents]] swaps scratch in only after the
    * audit append succeeds); true iff it changed anything (the
    * audit-worthiness predicate). The REPLAY fold (constructor) is the
    * lenient twin of this — no requires, since a durable log is by
    * construction a valid history. */
  private def foldValidated(e: GrantEvent, s: Scratch): Boolean = e.action match {
    case "CREATE_ROLE" => s.roles.add(e.role)
    case "GRANT" =>
      require(s.roles.contains(e.role), s"unknown role ${e.role}")
      s.grants.add((e.role, e.privilege, e.obj))
    case "REVOKE" => s.grants.remove((e.role, e.privilege, e.obj))
    case "GRANT_FUTURE" =>
      require(s.roles.contains(e.role), s"unknown role ${e.role}")
      s.futureGrants.add((e.role, e.privilege, e.obj.stripPrefix(FuturePrefix)))
    case "REVOKE_FUTURE" =>
      s.futureGrants.remove((e.role, e.privilege, e.obj.stripPrefix(FuturePrefix)))
    case "GRANT_ROLE" =>
      val toRole = e.obj.stripPrefix(RolePrefix)
      require(s.roles.contains(e.role), s"unknown role ${e.role}")
      require(s.roles.contains(toRole), s"unknown role $toRole")
      require(e.role != toRole, s"cannot grant role ${e.role} to itself")
      require(!inheritedIn(s.roleEdges, e.role).contains(toRole),
        s"circular role grant: $toRole already flows into ${e.role}")
      s.roleEdges.add((e.role, toRole))
    case "REVOKE_ROLE" =>
      s.roleEdges.remove((e.role, e.obj.stripPrefix(RolePrefix)))
    case "DROP_ROLE" =>
      val existed = s.roles.remove(e.role)
      if (existed) {
        s.grants.filterInPlace(_._1 != e.role)
        s.futureGrants.filterInPlace(_._1 != e.role)
        s.roleEdges.filterInPlace(ed => ed._1 != e.role && ed._2 != e.role)
      }
      existed
    case other => throw new IllegalArgumentException(s"unknown action $other")
  }

  /** Idempotent CREATE ROLE; durable via its audit event. Returns true
    * if new. */
  def createRole(role: String): Boolean =
    applyEvents(Seq(GrantEvent(role, "", "", "CREATE_ROLE"))) == 1
  def listRoles(): Seq[String] = roles.toSeq

  /** Idempotent GRANT; logs only real changes. Returns true if new. */
  def grant(role: String, privilege: String, obj: String): Boolean =
    applyEvents(Seq(GrantEvent(role, privilege, obj, "GRANT"))) == 1

  def revoke(role: String, privilege: String, obj: String): Boolean =
    applyEvents(Seq(GrantEvent(role, privilege, obj, "REVOKE"))) == 1

  // ── role hierarchy (r14 verdict #1: the one reference RBAC surface
  //    never ported — `GRANT ROLE x TO ROLE y` role-to-role grants) ───────

  /** `GRANT ROLE role TO ROLE toRole`: `toRole` inherits every privilege
    * `role` holds, directly or through ITS granted roles (transitive, the
    * Snowflake role-hierarchy model). Idempotent; circular grants are
    * rejected exactly as Snowflake rejects them (a cycle would make every
    * member role equivalent). Durable via its audit event. */
  def grantRole(role: String, toRole: String): Boolean =
    applyEvents(Seq(
      GrantEvent(role, "", s"$RolePrefix$toRole", "GRANT_ROLE"))) == 1

  def revokeRole(role: String, fromRole: String): Boolean =
    applyEvents(Seq(
      GrantEvent(role, "", s"$RolePrefix$fromRole", "REVOKE_ROLE"))) == 1

  /** The hierarchy edges as (grantedRole, granteeRole) — the replication
    * surface, mirroring [[listGrants]]. */
  def listRoleGrants(): Seq[(String, String)] = roleEdges.toSeq

  /** Every role whose privileges `role` inherits: the granted roles
    * reachable from `role` through the hierarchy, transitively, excluding
    * `role` itself. Iterative closure — the hierarchy is tiny (it is
    * account metadata), and [[grantRole]] keeps it acyclic. */
  def inheritedRoles(role: String): Set[String] = inheritedIn(roleEdges, role)

  private def inheritedIn(edges: collection.Set[(String, String)],
                          role: String): Set[String] = {
    val seen = mutable.Set.empty[String]
    var frontier = Set(role)
    while (frontier.nonEmpty) {
      val next = edges.collect {
        case (granted, grantee) if frontier(grantee) && !seen(granted) => granted
      }.toSet
      seen ++= next
      frontier = next
    }
    seen.toSet - role
  }

  /** DROP ROLE with Snowflake's cascade: the role's own grants, future
    * grants, and every hierarchy edge touching it (either side) vanish;
    * roles that inherited THROUGH it keep nothing from it. One audit
    * event — replay re-derives the cascade deterministically. */
  def dropRole(role: String): Boolean =
    applyEvents(Seq(GrantEvent(role, "", "", "DROP_ROLE"))) == 1

  private def dropRoleState(role: String): Unit = {
    grants.filterInPlace(_._1 != role)
    futureGrants.filterInPlace(_._1 != role)
    roleEdges.filterInPlace(e => e._1 != role && e._2 != role)
  }

  /** Does `role` hold (privilege, obj) — directly, via a future-grant
    * materialization (already a direct grant), or INHERITED through the
    * role hierarchy? */
  def hasGrant(role: String, privilege: String, obj: String): Boolean =
    grants.contains((role, privilege, obj)) ||
      inheritedRoles(role).exists(r => grants.contains((r, privilege, obj)))

  /** (role, privilege, object) for every privilege `role` RESOLVES —
    * direct grants plus the hierarchy-inherited ones, each attributed to
    * `role` itself (the effective-privileges view an access check uses). */
  def resolvedGrants(role: String): Seq[(String, String, String)] = {
    val sources = inheritedRoles(role) + role
    grants.toSeq.collect { case (r, p, o) if sources(r) => (role, p, o) }.distinct
  }

  /** The grant triples as data — the replication surface ([[showGrants]]
    * is the user-facing DataFrame of the same state). */
  def listGrants(): Seq[(String, String, String)] = grants.toSeq

  def showGrants(): DataFrame = {
    import spark.implicits._
    grants.toSeq.toDF("role", "privilege", "object")
  }

  /** The heartbeat's grant-audit phase: re-grant anything expected but
    * missing; returns the number of repairs (0 = audit clean). One event
    * batch = one audit commit (r16: the per-grant loop paid a full
    * scratch clone plus a log-commit floor PER repair — the exact cost
    * the batch API exists to avoid); missing roles ride the same batch,
    * uncounted (the return stays "grants repaired", as before). */
  def ensureGrants(expected: Seq[(String, String, String)]): Int = {
    val missingRoles = expected.map(_._1).distinct.filterNot(roles.contains)
      .map(GrantEvent(_, "", "", "CREATE_ROLE"))
    val missingGrants = expected.filterNot(g => grants.contains(g))
      .map { case (r, p, o) => GrantEvent(r, p, o, "GRANT") }
    applyEvents(missingRoles ++ missingGrants) - missingRoles.size
  }

  // ── future grants (`scripts/00_prereqs_rbac.sql:67-152`) ──────────────

  private val futureGrants = mutable.LinkedHashSet.empty[(String, String, String)]

  /** `GRANT <priv> ON FUTURE TABLES IN SCHEMA <schema> TO ROLE <role>`:
    * objects created in the schema AFTER this call inherit the privilege
    * automatically. Audit-logged like any other grant action. */
  def grantFuture(role: String, privilege: String, schema: String): Unit =
    applyEvents(Seq(GrantEvent(role, privilege,
      s"$FuturePrefix$schema", "GRANT_FUTURE")))

  def listFutureGrants(): Seq[(String, String, String)] = futureGrants.toSeq

  def revokeFuture(role: String, privilege: String, schema: String): Boolean =
    applyEvents(Seq(GrantEvent(role, privilege,
      s"$FuturePrefix$schema", "REVOKE_FUTURE"))) == 1

  /** Render the audit-log `obj` field for a future grant / role grant —
    * the event-construction helpers for batch callers ([[applyEvents]]). */
  def futureObj(schema: String): String = s"$FuturePrefix$schema"
  def roleObj(toRole: String): String = s"$RolePrefix$toRole"

  /** Materialize matching future grants for a just-created object; returns
    * the number of grants applied. Invoked via the catalog's creation hook
    * (see [[attachTo]]), never manually per-table. */
  def objectCreated(schema: String, obj: String): Int =
    futureGrants.toSeq.count { case (role, priv, sch) =>
      sch == schema && grant(role, priv, s"$schema.$obj")
    }

  /** Wire this service into a catalog: every table created there from now
    * on flows through [[objectCreated]]. */
  def attachTo(cat: graft.catalog.Catalog): Unit =
    cat.onObjectCreated = (schema, obj) => { objectCreated(schema, obj); () }

  // ── replay checkpointing (r15 verdict #4) ───────────────────────────────
  //
  // Construction used to replay the FULL event history — correct but
  // O(all events ever) per restart, the same quiet-growth class as the
  // retired-notes and view ledgers already bounded. Every
  // [[GrantService.CheckpointEvery]] applied events the service persists
  // a STATE SNAPSHOT (the four sets + the max audit-log id it covers,
  // write-then-rename like every marker in this repo) and a restart
  // replays only the log SUFFIX past it. A missing/torn checkpoint (no
  // END sentinel) degrades to the full replay — never to wrong state.

  private var eventsSinceCheckpoint = 0

  /** Audit-log events folded by THIS instance's construction replay — the
    * observable the checkpoint test asserts on (a post-checkpoint restart
    * replays only the suffix). */
  var replayedEvents: Int = 0

  private def checkpointFile = new org.apache.hadoop.fs.Path(auditRoot, "state.ckpt")
  private def cfs = LocalFs.of(checkpointFile, spark.sparkContext.hadoopConfiguration)
  private def encC(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def decC(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  /** max(id) in the live audit log from the stats sidecars (no scan). */
  private def maxLogId(): Long =
    auditLog.table.columnStats().get("id")
      .flatMap(_.max).flatMap(_.toLongOption).getOrElse(0L)

  /** Persist the current state as of the log's metadata max id. Stats
    * sidecars give the max WITHOUT a scan (the LogTable nextId path). */
  private def writeCheckpoint(): Unit = {
    val lastId = maxLogId()
    val sb = new StringBuilder
    sb.append(s"v1 $lastId\n")
    roles.foreach(r => sb.append(s"R ${encC(r)}\n"))
    grants.foreach { case (r, p, o) =>
      sb.append(s"G ${encC(r)} ${encC(p)} ${encC(o)}\n") }
    futureGrants.foreach { case (r, p, s0) =>
      sb.append(s"F ${encC(r)} ${encC(p)} ${encC(s0)}\n") }
    roleEdges.foreach { case (a, b) => sb.append(s"E ${encC(a)} ${encC(b)}\n") }
    sb.append("END\n")
    val tmp = new org.apache.hadoop.fs.Path(auditRoot, "state.ckpt.tmp")
    val out = cfs.create(tmp, true)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
    cfs.delete(checkpointFile, false)
    require(cfs.rename(tmp, checkpointFile),
      s"grant-state checkpoint rename failed at $auditRoot")
    eventsSinceCheckpoint = 0
  }

  /** Parse the checkpoint file: (covered log id, body lines), or None
    * when absent/torn — the END sentinel is the completeness proof
    * (rename is atomic, but a hand-copied or torn file must degrade to
    * full replay, not bad state). */
  private def readCheckpointLines(): Option[(Long, Seq[String])] = {
    // HEAL an orphaned tmp first (r17 review): writeCheckpoint's
    // delete→rename window can leave a fully-written tmp (the END
    // sentinel below proves completeness) as the ONLY copy — after a
    // compaction that state is load-bearing, and ignoring the tmp would
    // turn a routine crash into a permanent startup refusal. The same
    // stance as the Catalog view-tmp heal.
    val tmp = new org.apache.hadoop.fs.Path(auditRoot, "state.ckpt.tmp")
    if (!cfs.exists(checkpointFile) && cfs.exists(tmp))
      cfs.rename(tmp, checkpointFile)
    if (!cfs.exists(checkpointFile)) return None
    val in = cfs.open(checkpointFile)
    val lines = try scala.io.Source.fromInputStream(in).getLines().toSeq
                finally in.close()
    if (lines.lastOption.forall(_ != "END") ||
        !lines.headOption.exists(_.startsWith("v1 "))) return None
    lines.head.stripPrefix("v1 ").toLongOption.map(id => (id, lines.tail.dropRight(1)))
  }

  /** Load the checkpoint into the live sets; returns the log id it covers
    * (replay resumes past it), or None when absent/torn (full replay). */
  private def loadCheckpoint(): Option[Long] = {
    val (lastId, body) = readCheckpointLines().getOrElse(return None)
    body.foreach { l =>
      l.split(' ') match {
        case Array("R", r) => roles.add(decC(r))
        case Array("G", r, p, o) => grants.add((decC(r), decC(p), decC(o)))
        case Array("F", r, p, s0) => futureGrants.add((decC(r), decC(p), decC(s0)))
        case Array("E", a, b) => roleEdges.add((decC(a), decC(b)))
        case _ => ()
      }
    }
    Some(lastId)
  }

  /** Force a state-snapshot checkpoint NOW (the maintenance hook a
    * scheduled task calls before [[compactAuditLog]]; steady-state
    * mutation checkpoints itself every [[GrantService.CheckpointEvery]]
    * events). No-op on a service that never logged anything. */
  def checkpointNow(): Unit =
    if (auditLog.table.exists) writeCheckpoint()

  /** Compact the audit log below the checkpoint horizon (r16 verdict #6):
    * the checkpoint bounds REPLAY, but the LogTable itself grew forever.
    * Every event with id <= the checkpoint's covered id is already FOLDED
    * into that durable snapshot, so those rows delete (COW) and the
    * superseded snapshots expire — physical truncation, the notes-ledger
    * retirement pattern. The newest audit row is always retained even
    * when the checkpoint covers it: the log's id high-water mark lives in
    * the stats sidecars of LIVE files, and an emptied log would restart
    * ids BELOW the checkpoint horizon, where the suffix replay would
    * silently skip them. Audit queries over the retained window are
    * unchanged. Returns rows removed; 0 when no durable checkpoint exists
    * (the log is then the ONLY durable state — never truncate it). */
  def compactAuditLog(): Long = {
    if (!auditLog.table.exists) return 0L
    readCheckpointLines() match {
      case None => 0L
      case Some((horizon, _)) =>
        import org.apache.spark.sql.functions.{col, lit}
        // pre-count the candidates (r17 review): arming the
        // must-have-checkpoint refusal when the delete would remove ZERO
        // rows converts a torn checkpoint from "degrade to full replay"
        // into a hard refusal for no benefit. Ids are monotonic, so no
        // row can appear below the horizon between the count and the
        // delete.
        val candidates = auditLog.read()
          .filter(col("id") <= lit(horizon) && col("id") < lit(maxLogId()))
          .count()
        if (candidates == 0) return 0L
        // the mark lands BEFORE the delete: from this point the checkpoint
        // is STATE, not an optimization — a restart that cannot load it
        // must refuse loudly instead of silently replaying a truncated log
        // as the full history (the fail-loud stance). Crash between mark
        // and delete is safe: log still intact, checkpoint still loads.
        writeCompactedMark(horizon)
        val removed = auditLog.table.delete(
          col("id") <= lit(horizon) && col("id") < lit(maxLogId()))
        // keepLast=1: the pre-delete snapshot still references every
        // compacted file — retaining it would keep all bytes on disk
        if (removed > 0) auditLog.table.expireSnapshots(keepLast = 1)
        removed
    }
  }

  private def compactedMark = new org.apache.hadoop.fs.Path(auditRoot, "compacted.mark")

  private def writeCompactedMark(horizon: Long): Unit = {
    val stg = new org.apache.hadoop.fs.Path(auditRoot, "compacted.mark.stg")
    val out = cfs.create(stg, true)
    try out.write(s"v1 $horizon\nEND\n".getBytes("UTF-8")) finally out.close()
    cfs.delete(compactedMark, false)
    require(cfs.rename(stg, compactedMark),
      s"audit compaction mark rename failed at $auditRoot")
  }

  /** The horizon id of the last audit compaction, if any completed. */
  private def compactedHorizon(): Option[Long] = {
    if (!cfs.exists(compactedMark)) return None
    val in = cfs.open(compactedMark)
    val lines = try scala.io.Source.fromInputStream(in).getLines().toSeq
                finally in.close()
    if (lines.lastOption.forall(_ != "END") ||
        !lines.headOption.exists(_.startsWith("v1 "))) None
    else lines.head.stripPrefix("v1 ").toLongOption
  }

  // event-sourced recovery (r14): fold the persisted audit trail — id
  // order, LogTable ids are monotonic — back into the in-memory sets.
  // Runs LAST in the class body so every set it folds into exists. Reads
  // one small log table once per construction; a fresh root reads nothing.
  // With a checkpoint (r16), only the SUFFIX past its covered id replays.
  locally {
    val ckptId = loadCheckpoint().getOrElse(-1L)
    // a compacted log's prefix lives ONLY in the checkpoint: replaying the
    // truncated log as if it were complete would silently drop every
    // pre-horizon grant — refuse instead (fail loud; restore the
    // checkpoint file or the full log to proceed)
    compactedHorizon().foreach { h =>
      require(ckptId >= h,
        s"RBAC audit log at $auditRoot was compacted below id $h but the " +
          s"state checkpoint is missing or torn — refusing to serve " +
          s"partial grant state")
    }
    if (auditLog.table.exists)
      auditLog.read()
        .filter(org.apache.spark.sql.functions.col("id") > ckptId)
        .orderBy(org.apache.spark.sql.functions.col("id"))
        .collect().foreach { r =>
          replayedEvents += 1
          val (role, priv, obj, action) =
            (r.getString(2), r.getString(3), r.getString(4), r.getString(5))
          action match {
            case "CREATE_ROLE" => roles.add(role)
            case "GRANT" => roles.add(role); grants.add((role, priv, obj))
            case "REVOKE" => grants.remove((role, priv, obj))
            case "GRANT_FUTURE" =>
              roles.add(role)
              futureGrants.add((role, priv, obj.stripPrefix(FuturePrefix)))
            case "REVOKE_FUTURE" =>
              futureGrants.remove((role, priv, obj.stripPrefix(FuturePrefix)))
            case "GRANT_ROLE" =>
              roles.add(role); roles.add(obj.stripPrefix("ROLE "))
              roleEdges.add((role, obj.stripPrefix("ROLE ")))
            case "REVOKE_ROLE" =>
              roleEdges.remove((role, obj.stripPrefix("ROLE ")))
            case "DROP_ROLE" =>
              roles.remove(role); dropRoleState(role)
            case _ => ()
          }
        }
  }
}

object GrantService {
  /** Applied events between state-snapshot checkpoints: small enough that
    * a restart's suffix replay is bounded, large enough that checkpoint
    * writes never dominate steady-state mutation cost. */
  val CheckpointEvery = 256

  /** One grant-store event, the audit log's row shape. `obj` carries the
    * audit-log rendering: `"ROLE <grantee>"` for GRANT_ROLE/REVOKE_ROLE
    * ([[GrantService.roleObj]]), the `"FUTURE TABLES IN SCHEMA <schema>"`
    * form for future grants ([[GrantService.futureObj]]). */
  final case class GrantEvent(role: String, privilege: String,
                              obj: String, action: String)
}
