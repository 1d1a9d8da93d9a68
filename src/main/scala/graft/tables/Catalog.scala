package graft.tables

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Catalog bootstrap (S6): the engine's stand-in for the reference's
  * idempotent UC DDL (notebooks/00_admin/00_create_uc_objects.py:31-361,
  * resources/uc/objects.sql). A warehouse is a directory tree
  * `<root>/<layer>/<table>` of [[VersionedTable]]s; `bootstrap` creates
  * layers idempotently (CREATE SCHEMA IF NOT EXISTS) and `registerViews`
  * exposes every existing table as a `<layer>_<table>` temp view so
  * `spark.sql` can query the warehouse (the `layer.table` namespace
  * flattened — Spark temp views are single-level). */
final class Catalog(spark: SparkSession, root: String) {

  val Layers: Seq[String] = Seq("bronze", "silver", "gold")

  /** Idempotent: create the layer directories. */
  def bootstrap(): Unit =
    Layers.foreach(l => Files.createDirectories(Paths.get(root, l)))

  def table(layer: String, name: String): VersionedTable = {
    require(Layers.contains(layer), s"unknown layer $layer")
    VersionedTable(spark, s"$root/$layer/$name")
  }

  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    if (!Files.isDirectory(p)) return Seq.empty
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** All (layer, table) pairs with at least one committed version. */
  def tables: Seq[(String, String)] =
    for {
      l <- Layers
      t <- listDir(Paths.get(root, l))
        .filter(Files.isDirectory(_)).map(_.getFileName.toString).sorted
      if table(l, t).exists
    } yield (l, t)

  /** CREATE OR REPLACE VIEW for every table: `<layer>_<table>`, plus a
    * `<layer>_<table>_history` view over its version log (the DESCRIBE
    * HISTORY SQL surface, docs/backlog.md:55-58) — then every DURABLE
    * view from the warehouse ledger, in creation order (a later view
    * may reference an earlier one or any table view). */
  def registerViews(): Seq[String] = {
    // durable view SQL may reference current_principal() directly
    graft.functions.CurrentPrincipal.register(spark)
    tables.flatMap { case (l, t) =>
      val name = s"${l}_$t"
      val tbl = table(l, t)
      // governed read: sketch columns present as estimates, row
      // filters trim, column masks rewrite — current_principal() stays
      // a live expression, so the policy follows every later change of
      // spark.graft.principal without re-registering
      GraftSql.governedRead(tbl).createOrReplaceTempView(name)
      tbl.historyDf.createOrReplaceTempView(s"${name}_history")
      Seq(name, s"${name}_history")
    } ++ registerDurableViews()
  }

  /** Register the durable views, order-insensitively: CREATE TEMP VIEW
    * analyzes its query eagerly, so a definition referencing a view
    * that appears LATER in the ledger (legal — OR REPLACE keeps the
    * original position) would fail a single in-order pass. Fixed-point
    * retry: each pass registers what resolves, and only a view that
    * NEVER resolves (genuinely broken — its reference is gone) throws,
    * after everything registrable has registered. */
  private def registerDurableViews(): Seq[String] = {
    var pending = views
    val done = scala.collection.mutable.ArrayBuffer.empty[String]
    var progressed = true
    while (pending.nonEmpty && progressed) {
      progressed = false
      pending = pending.filter { case (name, sql) =>
        try {
          spark.sql(s"CREATE OR REPLACE TEMP VIEW $name AS $sql")
          done += name
          progressed = true
          false
        } catch { case scala.util.control.NonFatal(_) => true }
      }
    }
    pending.headOption.foreach { case (name, sql) =>
      // surface the real analysis error for the first unresolvable view
      spark.sql(s"CREATE OR REPLACE TEMP VIEW $name AS $sql")
    }
    done.toSeq
  }

  // ------------------------------------------------------- durable views

  private def viewsPath = Paths.get(root, "_views.ledger")

  /** Durable view definitions, creation-ordered — the stand-in for the
    * reference's persistent UC views (vw_player_fixture_horizon,
    * 00_create_uc_objects.py:312-324): a session temp view dies with
    * the session; these re-register on every catalog open. The ledger
    * stores `name TAB base64(sql)` per line — SQL text is arbitrary
    * (quotes, newlines, unicode), and base64 round-trips it without a
    * hand-rolled escaper to get subtly wrong. */
  def views: Seq[(String, String)] =
    if (!Files.exists(viewsPath)) Nil
    else Files.readString(viewsPath).split("\n").toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(name, b64) = line.split("\t", 2)
        name -> new String(java.util.Base64.getDecoder.decode(b64),
          java.nio.charset.StandardCharsets.UTF_8)
      }

  /** CREATE OR REPLACE VIEW: register the definition for this session,
    * then persist it. Registration analyzes the query eagerly, so the
    * views/tables THIS definition references must already be
    * registered (cross-session replay order is handled by
    * [[registerDurableViews]]'s fixed-point pass); a definition that
    * fails to register never reaches the ledger, where it would break
    * every later [[registerViews]]. A replaced name keeps its original
    * ledger position. */
  def createView(name: String, sqlText: String): Unit = {
    require(name.matches("""[A-Za-z_][A-Za-z0-9_]*"""),
      s"CREATE VIEW: bad view name `$name`")
    spark.sql(s"CREATE OR REPLACE TEMP VIEW $name AS $sqlText")
    // the ledger rewrite is a read-modify-write of the whole file:
    // serialize it like the grants ledger's, or two concurrent sessions
    // silently drop each other's definitions via last-writer-wins
    Catalog.viewsLock.synchronized {
      val cur = views
      val next =
        if (cur.exists(_._1 == name))
          cur.map { case (n, s) => (n, if (n == name) sqlText else s) }
        else cur :+ (name -> sqlText)
      writeViews(next)
    }
  }

  /** DROP VIEW: remove from the ledger and the session. */
  def dropView(name: String): Unit = {
    Catalog.viewsLock.synchronized {
      writeViews(views.filterNot(_._1 == name))
    }
    spark.catalog.dropTempView(name)
    ()
  }

  private def writeViews(entries: Seq[(String, String)]): Unit =
    AtomicFile.replace(viewsPath, entries.map { case (n, s) =>
      s"$n\t${java.util.Base64.getEncoder.encodeToString(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))}\n"
    }.mkString)

  // ------------------------------------------------------ grants ledger

  private def grantsPath = Paths.get(root, "_grants.ledger")

  /** Durable privilege grants, grant-ordered — the engine's stand-in for
    * the reference's Unity Catalog grants template
    * (resources/uc/grants.sql:26-60: USE CATALOG / USE SCHEMA at the
    * container levels, SELECT / MODIFY at schema and table level, to
    * backticked group principals). Each row is
    * (privilege, objectType, objectName, principal); objectType is
    * CATALOG (name ignored — the warehouse), SCHEMA (a layer), or TABLE
    * (`layer.table`). The ledger is plain TSV — every field is
    * keyword-shaped (validated on grant), so no escaping is needed. */
  def grants: Seq[(String, String, String, String)] =
    if (!Files.exists(grantsPath)) Nil
    else Files.readString(grantsPath).split("\n").toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(priv, otype, oname, principal) = line.split("\t", 4)
        (priv, otype, oname, principal)
      }

  private val Privileges =
    Set("SELECT", "MODIFY", "ALL PRIVILEGES", "USE SCHEMA", "USE CATALOG")

  private def validateGrant(priv: String, objType: String,
      objName: String): Unit = {
    require(Privileges.contains(priv),
      s"unknown privilege $priv (one of ${Privileges.toSeq.sorted.mkString(", ")})")
    objType match {
      case "CATALOG" =>
        require(priv == "USE CATALOG" || priv == "ALL PRIVILEGES",
          s"$priv cannot be granted on a CATALOG")
      case "SCHEMA" =>
        require(Layers.contains(objName),
          s"unknown schema $objName (layers: ${Layers.mkString(", ")})")
        require(priv != "USE CATALOG", "USE CATALOG is a catalog-level privilege")
      case "TABLE" =>
        require(objName.matches("""\w+\.\w+"""),
          s"TABLE grants take layer.table names (got $objName)")
        require(Layers.contains(objName.split("\\.")(0)),
          s"unknown layer in $objName")
        require(priv == "SELECT" || priv == "MODIFY" || priv == "ALL PRIVILEGES",
          s"$priv cannot be granted on a TABLE")
      case other => sys.error(s"unknown grant object type $other")
    }
  }

  /** GRANT: idempotent (set semantics — re-granting is a no-op). */
  def grant(priv: String, objType: String, objName: String,
      principal: String): Unit =
    grantAll(Seq(priv), objType, objName, principal)

  /** Multi-privilege GRANT, atomically: EVERY privilege validates before
    * ANY is persisted, and the ledger is written once — a statement like
    * `GRANT SELECT, EXECUTE …` must not durably apply SELECT (possibly
    * flipping enforcement on for the whole warehouse) and then error on
    * EXECUTE. */
  def grantAll(privs: Seq[String], objType: String, objName: String,
      principal: String): Unit = {
    privs.foreach(validateGrant(_, objType, objName))
    require(principal.matches("""[\w@.-]+"""),
      s"bad principal `$principal`")
    // the ledger update is read-modify-write: serialize within the JVM
    // so two concurrent owner sessions cannot silently drop each
    // other's rows (cross-process writers remain last-writer-wins —
    // grants are low-frequency owner administration, not a data path)
    Catalog.grantsLock.synchronized {
      val cur = grants
      val add = privs.map((_, objType, objName, principal))
        .filterNot(cur.contains).distinct
      if (add.nonEmpty) writeGrants(cur ++ add)
    }
  }

  /** REVOKE: removes the exact grant row if present (no-op otherwise —
    * REVOKE of something never granted is not an error, as in UC). */
  def revoke(priv: String, objType: String, objName: String,
      principal: String): Unit =
    revokeAll(Seq(priv), objType, objName, principal)

  /** Multi-privilege REVOKE, mirroring [[grantAll]]: one locked ledger
    * read and one write per statement — never a half-applied revoke. */
  def revokeAll(privs: Seq[String], objType: String, objName: String,
      principal: String): Unit =
    Catalog.grantsLock.synchronized {
      val drop = privs.map((_, objType, objName, principal)).toSet
      writeGrants(grants.filterNot(drop.contains))
    }

  private def writeGrants(entries: Seq[(String, String, String, String)]): Unit =
    AtomicFile.replace(grantsPath,
      entries.map { case (p, t, o, g) => s"$p\t$t\t$o\t$g\n" }.mkString)

  /** UC-style conjunctive authorization: `principal` may perform
    * `action` (SELECT or MODIFY) on `layer.table` iff it holds
    * USE CATALOG on the catalog, USE SCHEMA on the layer, and the
    * action privilege at table or schema level — ALL PRIVILEGES at any
    * level satisfies that level's requirement (the owner shortcut).
    * With an EMPTY ledger every principal is authorized (the
    * reference's "minimal solo default": grants.sql:14-17 ships all
    * sections commented out, and enforcing deny-by-default over an
    * empty ledger would brick a fresh warehouse). */
  def authorized(principal: String, action: String, layer: String,
      table: String): Boolean =
    authorized(principal, action, layer, table, grants)

  /** Overload taking a pre-read ledger, so a statement naming several
    * tables reads `_grants.ledger` once, not once per table. */
  def authorized(principal: String, action: String, layer: String,
      table: String, g: Seq[(String, String, String, String)]): Boolean = {
    if (g.isEmpty) return true
    def has(priv: String, otype: String, oname: String): Boolean =
      g.contains((priv, otype, oname, principal)) ||
        g.contains(("ALL PRIVILEGES", otype, oname, principal))
    // the catalog object's name is ignored (there is one warehouse)
    val useCat = g.exists { case (p, t, _, pr) =>
      (p == "USE CATALOG" || p == "ALL PRIVILEGES") &&
        t == "CATALOG" && pr == principal
    }
    val useSch = has("USE SCHEMA", "SCHEMA", layer)
    val priv = has(action, "TABLE", s"$layer.$table") ||
      has(action, "SCHEMA", layer)
    useCat && useSch && priv
  }

  /** DROP TABLE semantics (01_environment_smoke_test.py:93): un-register
    * the table and MOVE its directory into the catalog trash — one
    * atomic rename, no data rewritten — where [[undropTable]] can
    * restore it for [[Catalog.TrashRetentionMs]] (Databricks UNDROP
    * TABLE: at 100 TB an accidental drop must not be unrecoverable).
    * Each drop lazily purges expired trash, so the trash is
    * self-maintaining without a scheduled job. */
  def dropTable(layer: String, name: String): Unit = {
    // armed optimizer registrations keyed by this root must clear
    // BEFORE the path goes away — routing would serve matching queries
    // from a dead path, and prune derivation would hold a stale spec
    graft.plans.MvRewrite.deregisterRoot(s"$root/$layer/$name")
    graft.plans.GeneratedPrune.deregisterRoot(s"$root/$layer/$name")
    graft.plans.JoinElim.deregisterRoot(s"$root/$layer/$name")
    spark.catalog.dropTempView(s"${layer}_$name")
    val src = Paths.get(root, layer, name)
    if (Files.exists(src)) {
      Files.createDirectories(trashDir)
      Files.move(src,
        trashDir.resolve(s"$layer.$name.${System.currentTimeMillis()}"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    }
    purgeTrash()
    ()
  }

  // ------------------------------------------------------- catalog trash

  private def trashDir = Paths.get(root, "_trash")

  /** Dropped tables still restorable, newest drop first:
    * (layer, table, droppedAtMillis, path). Entries are
    * `layer.name.millis`; the NAME may itself contain dots (the
    * resolver admits them), so parse from both ends — layer names
    * never contain '.' and the drop timestamp is always the last
    * segment — instead of a fixed 3-way split that would orphan a
    * dotted name (neither UNDROPpable nor purgeable). */
  def trashEntries: Seq[(String, String, Long, java.nio.file.Path)] =
    listDir(trashDir).flatMap { p =>
      val fn = p.getFileName.toString
      val layerCut = fn.indexOf('.')
      val tsCut = fn.lastIndexOf('.')
      if (layerCut > 0 && tsCut > layerCut + 1) {
        val ts = fn.substring(tsCut + 1)
        if (ts.nonEmpty && ts.forall(_.isDigit))
          Some((fn.substring(0, layerCut),
            fn.substring(layerCut + 1, tsCut), ts.toLong, p))
        else None
      } else None
    }.sortBy(-_._3)

  /** UNDROP TABLE: restore the NEWEST trash entry for `layer.name` —
    * one atomic rename back; log, data, sidecars and every ledger
    * travel untouched, so history, constraints and time travel survive
    * the drop/undrop round trip. Refuses when a live table already
    * occupies the name. */
  def undropTable(layer: String, name: String): Unit = {
    require(Layers.contains(layer), s"unknown layer $layer")
    require(!Files.exists(Paths.get(root, layer, name)),
      s"UNDROP: $layer.$name already exists")
    val e = trashEntries.find(x => x._1 == layer && x._2 == name)
      .getOrElse(sys.error(
        s"UNDROP: no dropped table $layer.$name in the catalog trash"))
    Files.createDirectories(Paths.get(root, layer))
    Files.move(e._4, Paths.get(root, layer, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Reclaim trash entries older than `retentionMs`; returns the purged
    * entry names. Runs lazily on every drop with the default retention;
    * callable directly for an immediate purge. */
  def purgeTrash(retentionMs: Long = Catalog.TrashRetentionMs): Seq[String] = {
    val cutoff = System.currentTimeMillis() - retentionMs
    trashEntries.filter(_._3 < cutoff).map { e =>
      VersionedTable.deleteRecursively(e._4)
      e._4.getFileName.toString
    }
  }
}

object Catalog {
  /** How long a dropped table stays restorable (Databricks UNDROP's
    * 7-day window). */
  val TrashRetentionMs: Long = 7L * 24 * 3600 * 1000
  /** Serializes grants-ledger read-modify-writes within the JVM. */
  private[tables] val grantsLock = new Object
  /** Serializes views-ledger read-modify-writes within the JVM. */
  private[tables] val viewsLock = new Object
}
