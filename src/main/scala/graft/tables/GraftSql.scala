package graft.tables

import org.antlr.v4.runtime.ParserRuleContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{CurrentNamespace,
  RelationTimeTravel, SchemaCompensation, SchemaUnsupported, UnresolvedAlias,
  UnresolvedAttribute, UnresolvedFunction, UnresolvedIdentifier,
  UnresolvedRelation, UnresolvedStar, UnresolvedTable, UnresolvedTableOrView,
  UnresolvedTableValuedFunction, ViewSchemaMode}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Cast, EqualTo,
  EvalMode, Expression, ForeignKeyConstraint, Literal,
  PrimaryKeyConstraint, SubqueryExpression}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.{Inner, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint,
  AddColumns, AddConstraint, Aggregate, AlterColumnSpec, AlterColumns,
  AlterTableClusterBy, AnalyzeColumn, Assignment, CacheTable,
  CacheTableAsSelect, ColumnDefinition, CommentOnTable,
  CreateMaterializedViewAsSelect, CreateTable, CreateTableAsSelect,
  CreateView, DeleteAction, DeleteFromTable, DescribeColumn,
  DescribeRelation, DropColumns, DropConstraint, DropTable, DropView, Filter,
  InsertAction, InsertIntoStatement, InsertStarAction, Join, LogicalPlan,
  MergeIntoTable, MergeAction => ClauseAction, OneRowRelation,
  OverwriteByExpression, RenameColumn, RenameTable, ReplaceTable,
  ReplaceTableAsSelect, SetTableProperties, ShowColumns, ShowCreateTable,
  ShowPartitions, ShowTablePartition, ShowTableProperties, ShowTables,
  SubqueryAlias, TableSpec, TableSpecBase, TruncateTable, UnresolvedWith,
  UnsetTableProperties, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.{SparkSqlAstBuilder, SparkSqlParser}
import org.apache.spark.sql.execution.command.{CreateViewCommand,
  ExplainCommand}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions.{col, expr, lit, when}
import org.apache.spark.sql.graft.PlanShim
import scala.util.matching.Regex
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType,
  DateType, IntegerType, LongType, MapType, NumericType, StringType,
  StructField, StructType, TimestampType}
import graft.ops.Merge
import graft.plans.RollupDef

/** The SQL maintenance surface (docs/backlog.md:103-106, the reference's
  * empty notebooks/05_ops/61_optimize_and_maintenance.sql): parsed
  * `OPTIMIZE` / `VACUUM` statements alongside the existing
  * `DESCRIBE HISTORY` / `DESCRIBE DETAIL` relation flows, completing the
  * table lifecycle — DDL, DML, time travel, CDC, and now maintenance —
  * in one SQL entry point. Anything that is not a graft statement runs
  * through Spark (graft reads bound), so callers can use one
  * `GraftSql.sql(...)` funnel for their whole session (the same
  * parse-what-you-own / delegate-the-rest shape as Delta's SQL parser).
  *
  * Grammar (case-insensitive; `<table>` is `layer.table`,
  * `layer_table`, or an explicit path ``graft.`/abs/path` ``):
  *
  *   OPTIMIZE <table>                          -- bin-pack small file-sets
  *   OPTIMIZE <table> ZORDER BY (c1, c2, ...)  -- multi-column clustering
  *   OPTIMIZE <table> WHERE k = 'v' [AND ...]  -- one partition's cells only
  *   VACUUM <table> [RETAIN n VERSIONS] [IGNORE PINS] [DRY RUN [DETAIL]]
  *   VACUUM <table> [RETAIN n VERSIONS] FORCE EXPIRE PINS
  *     OLDER THAN <n> MINUTES|HOURS|DAYS   -- drop dead-consumer pins, audited
  *     -- bound must be >= 1 HOUR: pin age is measured against the
  *        CONSUMER's clock (60s liveness heartbeats), so sub-hour
  *        bounds could expire live consumers on clock-skewed hosts
  *     -- DETAIL previews the FULL blast radius with per-path status
  *        (reclaimable vs pin-held) naming the blocking consumer pin,
  *        its floor version, and its last-advanced age
  *   SHOW PINS [<table>]                      -- consumer retention floors
  *     -- without a table: every pin of every catalog table, with how
  *        far behind the head it sits and its last-advanced age (the
  *        warehouse-wide what-blocks-reclamation view)
  *   EXPLAIN REWRITE <query>                  -- MV routing decision + why
  *   ALTER TABLE <table> DROP PIN '<name>'    -- release an abandoned consumer
  *   FSCK REPAIR TABLE <table> [DRY RUN]      -- drop refs to lost files
  *   RESTORE TABLE <table> TO VERSION AS OF n
  *   RESTORE TABLE <table> TO TIMESTAMP AS OF 'yyyy-MM-dd HH:mm:ss'
  *   RESTORE TABLE <table> TO TAG '<name>'
  *   CREATE TABLE <table> SHALLOW CLONE <table>
  *   ALTER TABLE <table> CREATE TAG <name> [AS OF VERSION n]  -- release pin
  *   ALTER TABLE <table> DROP TAG <name>    -- (tagged versions vacuum-exempt)
  *   SHOW TAGS <table>
  *   CREATE [OR REPLACE] MATERIALIZED VIEW [IF NOT EXISTS] <table> AS
  *     SELECT g1, ..., sum|count|min|max(c) AS name, ... FROM <table>
  *     [WHERE <pred>] GROUP BY g1, ...        -- materialized + auto-routed
  *     -- (filtered MVs maintain incrementally too but are queried by
  *     --  name, never auto-routed)
  *   CREATE [OR REPLACE] MATERIALIZED VIEW [IF NOT EXISTS] <table> AS
  *     SELECT g1, ..., fn(c) AS name, ... FROM <fact> JOIN <dim>
  *     USING (k, ...) | ON <fact>.k = <dim>.k [AND ...]
  *     [WHERE <dim>.pred [AND ...]] GROUP BY g1, ...
  *     -- join form: routed + maintained from BOTH sides' change feeds;
  *     -- dim-side WHERE = per-dim row filter (SCD2 current-view MVs;
  *     -- filtered definitions are queried by name, never auto-routed)
  *   REFRESH MATERIALIZED VIEW <table>        -- incremental when possible
  *   SHOW MATERIALIZED VIEWS                  -- defs + coverage + freshness
  *   CREATE [OR REPLACE] VIEW [IF NOT EXISTS] <name> AS <query>  -- durable
  *     (_views ledger, re-registered on catalog open; TEMP views stay
  *     Spark-native)
  *   DROP VIEW [IF EXISTS] <name>             -- ledger names; others delegate
  *   SHOW VIEWS                               -- the durable-view ledger
  *   ALTER TABLE <t> SET ROW FILTER (<pred>)   -- read governance: rows
  *     trimmed per session (current_principal() binds at registration)
  *   ALTER TABLE <t> DROP ROW FILTER
  *   ALTER TABLE <t> ALTER COLUMN c SET MASK (<expr>)  -- masked reads
  *   ALTER TABLE <t> ALTER COLUMN c DROP MASK
  *   GRANT p1[, p2] ON TABLE|SCHEMA|CATALOG <obj> TO `principal`
  *   REVOKE p1[, p2] ON … FROM `principal`    -- durable _grants ledger
  *   SHOW GRANTS [ON <obj> | TO `principal`]  -- enforced at this funnel
  *     when spark.graft.principal is set (UC-style conjunctive check)
  *   CONVERT TO GRAFT parquet.`/path` AS <table>   -- zero-copy adoption
  *   ANALYZE TABLE <table> COMPUTE STATISTICS FOR COLUMNS c1, c2, ...
  *   DESCRIBE HISTORY <table>
  *   DESCRIBE DETAIL <table>
  *
  * Reads of a graft table, anywhere a relation may stand (joins,
  * subqueries, CTEs, DML and CTAS sources, temp views, CACHE TABLE),
  * bind its live head, governed like every read; pinned reads bind a
  * version:
  *
  *   ... FROM <table>                         -- the head, one snapshot
  *                                               per statement
  *   ... FROM <layer>_<table>_history         -- its version log
  *   ... FROM <table> VERSION AS OF n | VERSION AS OF '<tag>'
  *   ... FROM <table> TIMESTAMP AS OF 'yyyy-MM-dd[ HH:mm:ss]'
  *   ... FROM <table>@v<n>                    -- Delta's shorthand
  *   ... FROM table_changes('<table>', start [, end])  -- change feed
  *
  * DML (the reference smoke flow, 01_environment_smoke_test.py:74-93,
  * and the backlog's MERGE pattern, docs/backlog.md:49-51):
  *
  *   CREATE [OR REPLACE] TABLE <table> (col TYPE, ...) [USING x]
  *     [PARTITIONED BY (...)] [TBLPROPERTIES (...)]
  *   CREATE [OR REPLACE] TABLE <table> [PARTITIONED BY (...)] AS <query>
  *   INSERT INTO <table> <query>            -- positional, cast to schema
  *   INSERT INTO <table> (c1, c2, ...) <query>  -- named; unlisted → NULL
  *   INSERT OVERWRITE [TABLE] <table> <query>
  *   INSERT INTO <table> REPLACE WHERE <cond> <query>  -- Delta replaceWhere
  *   TRUNCATE TABLE <table>                 -- schema-preserving empty
  *   DESCRIBE [TABLE] <table>               -- columns + engine contracts
  *   COMMENT ON TABLE <t> IS '…'|NULL
  *   COMMENT ON COLUMN <t>.<c> IS '…'|NULL
  *   UPDATE <table> SET c = expr [, ...] [WHERE cond]
  *   DELETE FROM <table> [WHERE cond]
  *   MERGE INTO <table> [AS] t USING <src> [AS] s ON t.k = s.k [AND ...]
  *     WHEN [NOT] MATCHED [BY SOURCE|TARGET] [AND cond] THEN …  -- any
  *     clause list; UPDATE SET * + INSERT * is the bucket-COW upsert,
  *     INSERT * alone insert-if-absent, DELETE alone a tombstone merge
  *   COPY INTO <table> FROM '<dir>' FILEFORMAT = PARQUET|JSON|CSV
  *   ALTER TABLE <table> ADD COLUMNS (c TYPE, ...)   -- metadata-only
  *   ALTER TABLE <table> ALTER COLUMN <c> SET DEFAULT <expr> | DROP DEFAULT
  *   ALTER TABLE <table> ALTER COLUMN <c> SET NOT NULL | DROP NOT NULL
  *   ALTER TABLE <table> DROP COLUMN[S] c | (c1, c2, ...)
  *   ALTER TABLE <table> RENAME COLUMN <c> TO <c2>
  *   ALTER TABLE <table> ALTER COLUMN <c> TYPE <t>   -- lossless widening
  *   ALTER TABLE <table> ADD CONSTRAINT <name> CHECK (<expr>)
  *   ALTER TABLE <t> ADD CONSTRAINT <n> PRIMARY KEY (cols) [NOT ENFORCED] [RELY]
  *   ALTER TABLE <t> ADD CONSTRAINT <n> FOREIGN KEY (cols)
  *     REFERENCES <t2> [(cols)] [NOT ENFORCED] [RELY]   -- informational keys
  *   ALTER TABLE <table> DROP CONSTRAINT [IF EXISTS] <name>
  *   ALTER TABLE <table> RENAME TO <table>   -- one directory move
  *   ALTER TABLE <table> CLUSTER BY (c1, ...) | NONE
  *   ALTER TABLE <table> SET TBLPROPERTIES (...) | UNSET TBLPROPERTIES
  *     [IF EXISTS] (...)
  *   ALTER TABLE <table> SET PARTITIONED BY (c1, ...)  -- layout evolution
  *   SHOW COLUMNS IN <table> | SHOW TBLPROPERTIES <table>
  *   SHOW PARTITIONS <table> | SHOW CREATE TABLE <table> | SHOW TABLES
  *   DROP TABLE [IF EXISTS] <table>          -- moves to the catalog trash
  *   UNDROP TABLE <table>                    -- restore the newest drop
  *
  * DML, CREATE TABLE, CREATE MATERIALIZED VIEW, durable CREATE/DROP
  * VIEW, the standard ALTER TABLE / DROP TABLE / COMMENT ON TABLE /
  * SHOW / DESCRIBE / ANALYZE forms and every read are parsed by Spark's
  * own parser: the plan node (MergeIntoTable, AddColumns, AlterColumns,
  * CreateMaterializedViewAsSelect, CreateView, …) maps onto the graft
  * operation or definition, and every read of a graft table is bound
  * into the plan as that table's governed relation ([[bindReads]]), so
  * a read after a write through this funnel sees the write. A
  * statement whose identifier is NOT a graft table (unknown layer, no
  * catalog bound) delegates to vanilla `spark.sql`, so Spark catalog
  * tables and temp views keep working through the same funnel. MERGE's
  * source is a graft table, a temp view, or an aliased subquery of any
  * shape. The graft-only statements above keep their own grammar.
  * DML results are the committed `(version, action)` — affected-row
  * counts would cost an extra full scan per statement at 100 TB; the
  * commit metadata lives in DESCRIBE HISTORY.
  *
  * Retention is VERSION-based, not hour-based: the engine's time travel
  * is a version log, so `RETAIN 3 VERSIONS` is the honest analog of
  * Delta's `RETAIN n HOURS` (which gates on timestamps the test clock
  * can't control deterministically anyway).
  *
  * Scale notes. Bare OPTIMIZE is [[VersionedTable.compactSmall]] —
  * O(small files), the only form that is routine maintenance at 100 TB —
  * except on merge-bucketed tables, whose unit of maintenance is the
  * (partition, bucket) cell: those run [[VersionedTable.compact]], which
  * rewrites per-cell and preserves copy-on-write merge routing. The
  * small-file threshold comes from `spark.graft.optimize.smallFileBytes`
  * (default 128 MiB). VACUUM without DRY RUN deletes exactly what the
  * preview lists and returns the reclaimed count.
  */
final class GraftSql(spark: SparkSession, catalog: Option[Catalog]) {

  import GraftSql._

  /** Multi-statement script: split on TOP-LEVEL semicolons (quote- and
    * paren-aware — a `;` inside a string literal or subquery is data),
    * run each statement through [[sql]] in order, return the LAST
    * result (the notebook-cell contract). Empty statements and
    * `--`-to-end-of-line comments are dropped. */
  def sqlScript(script: String): DataFrame = {
    val stmts = splitTop(script, ';')
    require(stmts.nonEmpty, "sqlScript: no statements")
    stmts.map(sql).last
  }

  /** One funnel: graft maintenance statements match their own grammar on
    * the comment-free text and execute against the resolved
    * [[VersionedTable]]; everything else parses with Spark's parser from
    * the text as written (`/*+ … */` hints survive). Each is charged
    * [[checkGrants]] before it runs. */
  def sql(stmt: String): DataFrame = stripComments(stmt) match {
    case OptimizeWhereStmt(ident, preds) =>
      optimizePartition(writable(ident), preds)
    case OptimizeStmt(ident, zcols) => optimize(writable(ident), Option(zcols))
    case VacuumDetailStmt(ident, retain) =>
      vacuumDryRunDetail(writable(ident),
        Option(retain).map(_.toInt).getOrElse(1))
    case VacuumExpireStmt(ident, retain, n, unit) =>
      vacuumExpirePins(writable(ident),
        Option(retain).map(_.toInt).getOrElse(1), n.toLong, unit)
    case VacuumExpireBareStmt(_, _, _) =>
      sys.error("VACUUM … FORCE EXPIRE PINS requires OLDER THAN <n> " +
        "MINUTES|HOURS|DAYS — expiring a pin is destructive for its " +
        "consumer, so the statement must state an explicit age bound")
    case VacuumStmt(ident, retain, ignorePins, dry) =>
      vacuum(writable(ident), Option(retain).map(_.toInt).getOrElse(1),
        dryRun = dry != null, respectPins = ignorePins == null)
    case FsckStmt(ident, dry) =>
      import spark.implicits._
      val (missing, entry) = writable(ident).fsckRepair(dryRun = dry != null)
      missing.map(f => (f, entry.isDefined))
        .toDF("file", "removed_from_snapshot")
    case RestoreVersionStmt(ident, v) => restore(writable(ident), _.restore(v.toLong))
    case RestoreTimestampStmt(ident, ts) =>
      restore(writable(ident), _.restoreAsOf(parseTsUtc(ts)))
    case RestoreTagStmt(ident, tag) =>
      restore(writable(ident), t => t.restore(t.tags.getOrElse(tag,
        sys.error(s"RESTORE TO TAG: no tag `$tag` on $ident"))))
    case CloneStmt(target, source) =>
      checkGrants(Seq(Charge("MODIFY", target), Charge("SELECT", source)))
      clone(resolve(source), targetRoot(target))
    case RefreshMvStmt(ident) =>
      charge("MODIFY", ident)
      refreshMaterializedView(ident)
    case ShowViewsStmt() if catalog.isDefined =>
      import spark.implicits._
      catalog.get.views.toDF("view", "definition")
    case ShowMvsStmt() if catalog.isDefined =>
      import spark.implicits._
      // fresh: covered == every source's head, so REFRESH would be a
      // noop and routing is (re-)armable
      definitions.collect {
        case (id, _, d: RollupDef.SqlMv) =>
          (id, d.groupCols.mkString(","), formatAggSpecs(d.aggs), d.version,
            d.fresh, d.where.getOrElse(""))
        case (id, _, d: RollupDef.Join) =>
          (id, d.groupCols.mkString(","), formatAggSpecs(d.aggs), d.factV,
            d.fresh, "join:" + graft.plans.JoinMv.formatKeys(d.dims.map(_.keys)) +
              // the operator audits the predicate TEXT, not its
              // URL-encoded storage form
              (if (d.dims.forall(_.filter.isEmpty)) ""
               else " where:" + d.dims.map(_.filter.getOrElse("")).mkString(";")))
      }.toDF("mv", "group_cols", "aggs", "covered_version", "fresh", "where")
    // governance (resources/uc/grants.sql): GRANT/REVOKE maintain the
    // warehouse's durable grants ledger, owner-only once enforcement is
    // live; SHOW GRANTS reads it, open to every principal. The ledger
    // drives [[checkGrants]] enforcement once any grant exists and the
    // session names a principal.
    case GrantStmt(privs, otype, oname, principal) if catalog.isDefined =>
      ownerOnly("GRANT")
      import spark.implicits._
      val t = otype.toUpperCase; val n = normalizeGrantObj(t, oname)
      val ps = splitPrivs(privs)
      catalog.get.grantAll(ps, t, n, stripTicks(principal)) // all-or-nothing
      ps.map(p => ("grant", p, t, n, stripTicks(principal)))
        .toDF("op", "privilege", "object_type", "object", "principal")
    case RevokeStmt(privs, otype, oname, principal) if catalog.isDefined =>
      ownerOnly("REVOKE")
      import spark.implicits._
      val t = otype.toUpperCase; val n = normalizeGrantObj(t, oname)
      val ps = splitPrivs(privs)
      catalog.get.revokeAll(ps, t, n, stripTicks(principal)) // one write
      ps.map(p => ("revoke", p, t, n, stripTicks(principal)))
        .toDF("op", "privilege", "object_type", "object", "principal")
    // refusal probe: a GRANT/REVOKE that missed the strict forms above
    // (arbitrary quoted principal, unknown object type, missing TO/FROM)
    // must fail NAMING the contract — Spark has no native GRANT, so the
    // fall-through would be an opaque INVALID_STATEMENT (found by the
    // script-splitting fuzzer planting a `;`-bearing backticked
    // principal)
    case GraftSql.GrantAdminHead(op) if catalog.isDefined =>
      ownerOnly(op)
      sys.error(s"${op.toUpperCase(java.util.Locale.ROOT)}: unrecognized " +
        "form — expected `GRANT|REVOKE p1[, p2] ON TABLE|SCHEMA|CATALOG " +
        "<object> TO|FROM principal`, where the principal is a " +
        "keyword-shaped name (letters, digits, _ @ . -), optionally " +
        "backticked. Arbitrary quoted principals are unsupported by " +
        "design: the grants ledger stores plain names (see " +
        "resources/uc/grants.sql's group-name shape).")
    case ShowGrantsOnCatalogStmt() if catalog.isDefined =>
      grantsDf(catalog.get.grants.filter(_._2 == "CATALOG"))
    case ShowGrantsOnStmt(otype, oname) if catalog.isDefined =>
      val t = Option(otype).map(_.toUpperCase).getOrElse("TABLE")
      val n = normalizeGrantObj(t, oname)
      grantsDf(catalog.get.grants.filter(g => g._2 == t &&
        (t == "CATALOG" || g._3 == n)))
    case ShowGrantsToStmt(principal) if catalog.isDefined =>
      grantsDf(catalog.get.grants.filter(_._4 == stripTicks(principal)))
    case ShowGrantsStmt() if catalog.isDefined =>
      grantsDf(catalog.get.grants)
    case CreateTagStmt(ident, tag, v) =>
      onTable(stmt, "MODIFY", ident) { t =>
        val name = stripTicks(tag)
        t.createTag(name, Option(v).map(_.toLong))
        import spark.implicits._
        Seq((name, t.tags(name))).toDF("tag", "version")
      }
    case DropTagStmt(ident, tag) =>
      onTable(stmt, "MODIFY", ident) { t =>
        val tg = stripTicks(tag)
        // loud on unknown tags: a typo'd DROP TAG silently no-opping
        // would leave the operator believing a vacuum-exempt version
        // was released when it still pins retention
        require(t.tags.contains(tg),
          s"DROP TAG: no tag '$tg' on $ident (SHOW TAGS lists them)")
        t.dropTag(tg)
        import spark.implicits._
        Seq(tg).toDF("dropped_tag")
      }
    case ShowTagsStmt(ident) =>
      onTable(stmt, "SELECT", ident) { t =>
        import spark.implicits._
        t.tags.toSeq.sortBy(_._1).toDF("tag", "version")
      }
    case ShowPinsStmt(ident) =>
      onTable(stmt, "SELECT", ident) { t =>
        import spark.implicits._
        t.pinsDetail.toSeq.sortBy(_._1)
          .map { case (n, (v, ts)) =>
            (n, v, new java.sql.Timestamp(ts)) }
          .toDF("pin", "version", "pinned_at")
      }
    // catalog-wide SHOW PINS: one relation over EVERY table's pins —
    // the operator hunting what blocks reclamation across a warehouse
    // reads `behind` (head − floor) and `age_sec` (last-advanced age;
    // an abandoned checkpoint's pin keeps aging while live consumers
    // re-point every refresh) instead of probing tables one by one
    case ShowAllPinsStmt() =>
      val cat = catalog.getOrElse(sys.error(
        "SHOW PINS without a table needs a catalog-bound session"))
      import spark.implicits._
      val now = System.currentTimeMillis()
      cat.tables.flatMap { case (l, tn) =>
        val t = cat.table(l, tn)
        val head = t.latestVersion.getOrElse(-1L)
        t.pinsDetail.toSeq.sortBy(_._1).map { case (n, (v, ts)) =>
          // clamp: a pin on a table with no commits yet (head = -1, or
          // a pin at a version the log hasn't reached) must not report
          // negative `behind` — operators sort on non-negative lag
          (s"$l.$tn", n, v, head, math.max(0L, head - v),
            (now - ts) / 1000L, new java.sql.Timestamp(ts))
        }
      }.toDF("table", "pin", "version", "latest_version", "behind",
          "age_sec", "pinned_at")
        .orderBy("table", "pin")
    case DropPinStmt(ident, pin) =>
      onTable(stmt, "MODIFY", ident) { t =>
        t.dropPin(pin)
        import spark.implicits._
        Seq(pin).toDF("dropped_pin")
      }
    // the in-trash target skips the existence filter: an ungoverned
    // UNDROP would let any principal resurrect a governed table's data
    case UndropTableStmt(ident) =>
      checkGrants(Seq(Charge("MODIFY", ident, existing = false)))
      undropOwned(ident)
    case CopyIntoStmt(ident, dir, fmt) =>
      charge("MODIFY", ident)
      ownedRoot(ident).fold(spark.sql(stmt))(r =>
        copyInto(VersionedTable(spark, r), dir, fmt))
    // Row filters and column masks (Databricks/UC read governance):
    // durable in table properties, enforced on every governed read
    // (bound GraftSql reads, Catalog.registerViews). Validated HERE —
    // a predicate/mask that cannot resolve must fail the DDL, not every
    // later SELECT. current_principal() resolves to the live-bound
    // expression, so validation is principal-independent by nature. A
    // subquery in a policy reads its tables, so they are charged too.
    case SetRowFilterStmt(ident, pred) =>
      checkGrants(Charge("MODIFY", ident) +: policyReads(pred))
      owned(ident).fold(spark.sql(stmt)) { t =>
        import spark.implicits._
        graft.functions.CurrentPrincipal.register(spark)
        val p = pred.trim
        t.read.filter(expr(p)).queryExecution.analyzed
        t.setProperties(Map(GraftSql.RowFilterProp -> p))
        Seq((ident, p)).toDF("table", "row_filter")
      }
    case DropRowFilterStmt(ident) =>
      onTable(stmt, "MODIFY", ident) { t =>
        import spark.implicits._
        t.unsetProperties(Seq(GraftSql.RowFilterProp))
        Seq(ident).toDF("dropped_row_filter")
      }
    case SetMaskStmt(ident, c, m) =>
      checkGrants(Charge("MODIFY", ident) +: policyReads(m))
      owned(ident).fold(spark.sql(stmt)) { t =>
        import spark.implicits._
        val name = stripTicks(c)
        val schema = t.read.schema
        require(schema.fieldNames.contains(name),
          s"SET MASK: no column `$name` in ${t.root}")
        val mexpr = m.trim
        graft.functions.CurrentPrincipal.register(spark)
        // the mask may reference the row's other columns; it must cast
        // back to the column's own type (schema-stable governance)
        t.read.select(expr(mexpr)
          .cast(schema(name).dataType)).queryExecution.analyzed
        t.setProperties(Map(GraftSql.ColumnMaskPrefix + name -> mexpr))
        Seq((name, mexpr)).toDF("column", "mask_expr")
      }
    case DropMaskStmt(ident, c) =>
      onTable(stmt, "MODIFY", ident) { t =>
        import spark.implicits._
        t.unsetProperties(Seq(GraftSql.ColumnMaskPrefix + stripTicks(c)))
        Seq(stripTicks(c)).toDF("dropped_mask")
      }
    case SetPartitionedByStmt(ident, cols) =>
      onTable(stmt, "MODIFY", ident) { t =>
        val cs = splitTop(cols, ',').map(stripTicks).filter(_.nonEmpty)
        versionDf(t.evolvePartitionLayout(cs))
      }
    case AddFkNoColsStmt(ident, name, cols, refIdent, rely) =>
      checkGrants(Seq(Charge("MODIFY", ident), Charge("SELECT", refIdent)))
      owned(ident).fold(spark.sql(stmt))(t => addForeignKey(t, name,
        splitTop(cols, ',').map(stripTicks), refIdent, None, rely != null))
    case CommentColumnStmt(dotted, text) =>
      val cut = dotted.lastIndexOf('.')
      require(cut > 0, s"COMMENT ON COLUMN: need table.column, got $dotted")
      val (ident, c) = (dotted.substring(0, cut), dotted.substring(cut + 1))
      onTable(stmt, "MODIFY", ident) { t =>
        import spark.implicits._
        require(t.read.columns.contains(c),
          s"COMMENT ON COLUMN: no column `$c` at ${t.root}")
        val key = GraftSql.ColumnCommentPrefix + c
        if (text.equalsIgnoreCase("NULL")) t.unsetProperties(Seq(key))
        else t.setProperties(Map(key -> unquoteComment(text)))
        Seq(dotted).toDF("commented")
      }
    case ConvertStmt(srcDir, target) =>
      charge("MODIFY", target)
      convert(srcDir, targetRoot(target))
    case ReorgStmt(ident) =>
      versionDf(writable(ident).purgeDeleteVectors())
    case GenerateManifestStmt(ident) =>
      // resolve, not delegate: vanilla Spark has no GENERATE statement,
      // so an unknown identifier must fail with OUR message
      import spark.implicits._
      Seq(writable(ident).generateSymlinkManifest())
        .toDF("n_manifest_files")
    case DescHistoryStmt(ident) => readable(ident).historyDf
    case DescDetailStmt(ident)  => readable(ident).detailDf
    // EXPLAIN REWRITE <query>: the MV-routing decision relation —
    // which armed MV serves each aggregate and WHY, or why not
    // (rejected / stale-fell-back / shape-bail / no-candidates) —
    // without executing the query. Graft reads bind like any SELECT
    // so `EXPLAIN REWRITE SELECT … FROM t@v3 …` works too.
    case ExplainRewriteStmt(inner) =>
      import spark.implicits._
      val (text, plan) = parse(inner)
      val (bound, reads) = bindReads(plan)
      checkGrants(reads.map(Charge("SELECT", _)))
      graft.plans.MvRewrite.explainRewrite(query(text, bound))
        .toDF("aggregate", "mv", "decision", "reason")
    // Everything else parses once with Spark's own parser (which has no
    // CREATE OR REPLACE MATERIALIZED VIEW, so that head is read here).
    // The plan nodes graft owns run as graft operations or definitions;
    // everything else runs through Spark, graft reads bound.
    case bare =>
      val (orReplaceMv, written) = bare match {
        case OrReplaceMvHead(create, rest) => (true, create + rest)
        case _ => (false, stmt)
      }
      val (text, plan) = parse(written)
      val (bound, reads) = bindReads(plan)
      checkGrants(targetCharges(plan) ++ reads.map(Charge("SELECT", _)))
      ownedStatement(bound.getOrElse(plan), orReplaceMv)
        .getOrElse(query(text, bound))
  }

  /** [[checkGrants]] for `action` on each of `idents`. */
  private def charge(action: String, idents: String*): Unit =
    checkGrants(idents.map(Charge(action, _)))

  /** The existing table `ident` names, once the session may modify it. */
  private def writable(ident: String): VersionedTable = {
    charge("MODIFY", ident); resolve(ident)
  }

  /** The existing table `ident` names, once the session may read it. */
  private def readable(ident: String): VersionedTable = {
    charge("SELECT", ident); resolve(ident)
  }

  /** A graft-only statement on an existing graft table: charged, then
    * `body`; a name that is not a graft table delegates to Spark. */
  private def onTable(stmt: String, action: String, ident: String)(
      body: VersionedTable => DataFrame): DataFrame = {
    charge(action, ident)
    owned(ident).fold(spark.sql(stmt))(body)
  }

  /** `stmt` with Delta's `t@v3` shorthand spelled `t VERSION AS OF 3`
    * (outside literals only: '@v<digits>' is plausible data — emails,
    * handles), and its plan. A statement Spark's parser rejects is
    * malformed and refuses with its error, raised as a RuntimeException
    * like every other refusal of this funnel. */
  private def parse(stmt: String): (String, LogicalPlan) = {
    val inLiteral = stringLiteralMask(stmt)
    val text = AtVersion.replaceAllIn(stmt, m =>
      if (inLiteral(m.start)) Regex.quoteReplacement(m.matched)
      else s" VERSION AS OF ${m.group(1)}")
    try (text, SQLConf.withExistingConf(spark.sessionState.conf)(
      Parser.parsePlan(text)))
    catch { case e: ParseException =>
      throw new IllegalArgumentException(e.getMessage, e) }
  }

  /** Reads and every statement that is not ours: the bound plan when
    * [[bindReads]] bound something, else `spark.sql` as written. A temp
    * view or cached query over bound reads keeps their plan, not its SQL
    * text, which would resolve the names again outside this statement. */
  private def query(text: String, bound: Option[LogicalPlan]): DataFrame =
    bound match {
      case None => spark.sql(text)
      case Some(v: CreateViewCommand) =>
        PlanShim.ofRows(spark, v.copy(originalText = None))
      case Some(c: CacheTableAsSelect) =>
        PlanShim.ofRows(spark, c.plan).createTempView(c.tempViewName)
        PlanShim.ofRows(spark, CacheTable(UnresolvedRelation(
          Seq(c.tempViewName)), Seq(c.tempViewName), c.isLazy, c.options))
      case Some(p) => PlanShim.ofRows(spark, p)
    }

  /** The one resolver of a statement's reads: `plan` with every graft
    * read bound to the table's governed relation ([[GraftSql.governed]])
    * under its written name (None when nothing was bound), and the graft
    * tables read, which [[checkGrants]] charges SELECT. A table's head
    * is read once per statement, so a self-join sees one version; a
    * pinned read binds its version, tag, timestamp or `table_changes`
    * range, and `<table>_history` the version log. The walk covers
    * subqueries, CTEs, EXPLAIN, CACHE TABLE and command children; write
    * targets, CTE names in scope and other relations stay for Spark. A
    * definition body (CREATE [MATERIALIZED] VIEW) keeps its unresolved
    * query and text: its reads are charged, not bound. */
  private def bindReads(plan: LogicalPlan): (Option[LogicalPlan], Seq[String]) = {
    val reads = scala.collection.mutable.LinkedHashSet.empty[String]
    val heads = scala.collection.mutable.Map.empty[String, LogicalPlan]
    def read(ident: String, frame: => DataFrame): LogicalPlan = {
      reads += ident
      frame.queryExecution.analyzed
    }
    // `ctes`: the CTE names visible at `p`, lexically — a CTE body sees
    // the names defined before it (and its own under WITH RECURSIVE),
    // the WITH's query sees them all
    def bind(p: LogicalPlan, ctes: Set[String]): LogicalPlan = p match {
      case c: CreateMaterializedViewAsSelect => bind(c.query, ctes); c
      case v: CreateView => bind(v.query, ctes); v
      case c: AddCheckConstraint => c // its one relation is its target
      case e: ExplainCommand => e.copy(logicalPlan = bind(e.logicalPlan, ctes))
      case w: UnresolvedWith =>
        val names = w.cteRelations.map(_._1.toLowerCase)
        val own = if (w.allowRecursion) 1 else 0
        w.copy(child = bind(w.child, ctes ++ names), cteRelations =
          w.cteRelations.zipWithIndex.map { case ((n, q, d), i) =>
            val body = bind(q, ctes ++ names.take(i + own))
            (n, body.asInstanceOf[SubqueryAlias], d)
          })
      case tt @ RelationTimeTravel(r: UnresolvedRelation, ts, version) =>
        val ident = identOf(r.multipartIdentifier)
        owned(ident).fold[LogicalPlan](tt)(t => SubqueryAlias(
          r.multipartIdentifier, read(ident, GraftSql.governed(t,
            (version, ts) match {
              case (Some(v), _) if v.matches("\\d+") =>
                t.readVersion(v.toLong)
              case (Some(tag), _) => t.readTag(tag)
              case (_, Some(Literal(s, _: StringType))) =>
                t.asOf(parseTsUtc(s.toString))
              case (_, other) => sys.error("TIMESTAMP AS OF on a graft " +
                "table takes a 'yyyy-MM-dd[ HH:mm:ss]' literal, got " +
                other.map(_.sql).getOrElse(""))
            }))))
      case f: UnresolvedTableValuedFunction
          if f.name.map(_.toLowerCase) == Seq("table_changes") =>
        f.functionArgs match {
          case Literal(ident, _: StringType) +: bounds =>
            owned(ident.toString).fold[LogicalPlan](f) { t =>
              val vs = bounds.map {
                case Literal(n: Int, _)  => n.toLong
                case Literal(n: Long, _) => n
                case b => sys.error(s"table_changes: versions are " +
                  s"integer literals, got ${b.sql}")
              }
              require(vs.length == 1 || vs.length == 2,
                "table_changes takes ('<table>', start [, end])")
              // readChangeFeed's lower bound is exclusive;
              // table_changes' start is inclusive
              read(ident.toString, GraftSql.governed(t,
                t.readChangeFeed(vs.head - 1, vs.lift(1))))
            }
          case _ => bindChildren(f, ctes)
        }
      case r: UnresolvedRelation
          if !r.options.containsKey(WriteTarget) &&
            !(r.multipartIdentifier.length == 1 &&
              ctes(r.multipartIdentifier.head.toLowerCase)) =>
        val ident = identOf(r.multipartIdentifier)
        val history = ident.stripSuffix("_history")
        owned(ident).map(t => heads.getOrElseUpdate(t.root,
            read(ident, GraftSql.governed(t, t.read))))
          .orElse(Option.when(history != ident)(history).flatMap(owned)
            .map(t => read(history, t.historyDf)))
          .fold[LogicalPlan](r)(SubqueryAlias(r.multipartIdentifier, _))
      case _ => bindChildren(p, ctes)
    }
    def bindChildren(p: LogicalPlan, ctes: Set[String]): LogicalPlan =
      p.mapChildren(bind(_, ctes)).transformExpressions {
        case s: SubqueryExpression => s.withNewPlan(bind(s.plan, ctes))
      }
    val out = bind(plan, Set.empty)
    (Option.when(reads.nonEmpty)(out), reads.toSeq)
  }

  /** A parsed statement's charge for its own table (the first table
    * node: a DML target, a DDL table or a created name): SELECT for
    * DESCRIBE and SHOW, else MODIFY; plus SELECT on a FOREIGN KEY's
    * parent. */
  private def targetCharges(plan: LogicalPlan): Seq[Charge] = {
    val action = plan match {
      case _: DescribeRelation | _: DescribeColumn | _: ShowColumns |
           _: ShowCreateTable | _: ShowPartitions | _: ShowTablePartition |
           _: ShowTableProperties => "SELECT"
      case _ => "MODIFY"
    }
    plan.collectFirst {
      case i: InsertIntoStatement => i.table
      case o: OverwriteByExpression => o.table
      case AddCheckConstraint(Filter(_, r), _) => r
      case r: UnresolvedRelation if r.options.containsKey(WriteTarget) => r
      case r @ (_: UnresolvedTable | _: UnresolvedTableOrView |
                _: UnresolvedIdentifier) => r
    }.collect { case Named(parts) => Charge(action, identOf(parts)) }.toSeq ++
      (plan match {
        case AddConstraint(_, fk: ForeignKeyConstraint) =>
          Seq(Charge("SELECT", identOf(fk.parentTableId)))
        case _ => Nil
      })
  }

  /** SELECT on the graft tables a policy expression's subqueries read. */
  private def policyReads(sqlExpr: String): Seq[Charge] =
    bindReads(Filter(Parser.parseExpression(sqlExpr), OneRowRelation()))
      ._2.map(Charge("SELECT", _))

  /** The plan nodes graft runs itself, each onto its [[VersionedTable]]
    * operation or graft definition; None when the plan is anything else
    * or its table is not a graft table, so the statement delegates. */
  private def ownedStatement(plan: LogicalPlan,
                             orReplaceMv: Boolean): Option[DataFrame] = {
    import spark.implicits._
    plan match {
      case c: CreateMaterializedViewAsSelect =>
        Some(materializedView(c, orReplaceMv))
      // a durable view is a name and a query text; richer forms refuse,
      // as spark.sql would land them session-only (TEMP views parse as
      // CreateViewCommand and stay Spark-native)
      case CreateView(UnresolvedIdentifier(parts, _), cols, comment,
          collation, props, text, _, ifNotExists, replace, binding)
          if catalog.isDefined =>
        val (cat, name) = (catalog.get, parts.mkString("."))
        require(parts.length == 1, "CREATE VIEW: durable views are " +
          s"single-level names (got `$name`) — drop the qualifier, or use " +
          "CREATE TEMP VIEW for a session-only view")
        require(cols.isEmpty && comment.isEmpty && collation.isEmpty &&
          props.isEmpty && Set[ViewSchemaMode](SchemaCompensation,
            SchemaUnsupported)(binding),
          s"CREATE VIEW: a durable view keeps only its name and query " +
            s"(got `$name`) — a column list, COMMENT, TBLPROPERTIES, " +
            "DEFAULT COLLATION or WITH SCHEMA needs CREATE TEMP VIEW")
        val exists = cat.views.exists(_._1 == name)
        require(replace || ifNotExists || !exists,
          s"view $name already exists; use CREATE OR REPLACE VIEW")
        if (!(ifNotExists && exists)) cat.createView(name, text.get)
        Some(Seq((name, if (ifNotExists && exists) "exists" else "create_view"))
          .toDF("view", "op"))
      // a name NOT in the durable ledger delegates: ordinary temp and
      // session views keep Spark's DROP VIEW behavior
      case DropView(UnresolvedIdentifier(Seq(name), _), _)
          if catalog.exists(_.views.exists(_._1 == name)) =>
        catalog.get.dropView(name)
        Some(Seq((name, "drop_view")).toDF("view", "op"))
      case m: MergeIntoTable =>
        target(m.targetTable).map { case (t, alias) => mergeInto(t, alias, m) }
      case u: UpdateTable =>
        target(u.table).map { case (t, alias) => update(t, alias, u) }
      case d: DeleteFromTable =>
        target(d.table).map { case (t, alias) =>
          delete(t, unqualify(d.condition, alias)) }
      case i: InsertIntoStatement =>
        target(i.table).map { case (t, _) => insert(t, i) }
      case o: OverwriteByExpression =>
        target(o.table).map { case (t, alias) =>
          versionDf(routeReplace(t, unqualify(o.deleteExpr, alias),
            alignPositional(t, PlanShim.ofRows(spark, o.query))))
        }
      case TruncateTable(Owned(t)) => Some(truncate(t))
      case c: CreateTable => createTable(c.name, c.tableSpec, c.partitioning,
        orReplace = false, c.ignoreIfExists, columns = c.columns)
      case r: ReplaceTable => createTable(r.name, r.tableSpec, r.partitioning,
        orReplace = true, columns = r.columns)
      case c: CreateTableAsSelect => createTable(c.name, c.tableSpec,
        c.partitioning, orReplace = false, c.ignoreIfExists, Some(c.query))
      case r: ReplaceTableAsSelect => createTable(r.name, r.tableSpec,
        r.partitioning, orReplace = true, query = Some(r.query))
      case AddColumns(Owned(t), cols) =>
        Some(versionDf(t.addColumns(StructType(cols.map { c =>
          require(c.path.isEmpty && c.position.isEmpty && c.default.isEmpty,
            s"ADD COLUMNS: `${c.colName}` — nested paths, FIRST/AFTER and " +
              "DEFAULT are not supported (SET DEFAULT after adding)")
          val f = StructField(c.colName,
            CharVarcharUtils.replaceCharVarcharWithString(c.dataType),
            c.nullable)
          c.comment.fold(f)(f.withComment)
        }).toDDL)))
      case RenameColumn(Owned(t), from, to) =>
        Some(renameColumn(t, from.name.mkString("."), to))
      case DropColumns(Owned(t), cols, false) =>
        Some(dropColumns(t, cols.map(_.name.mkString("."))))
      case AlterColumns(Owned(t), Seq(spec)) => alterColumn(t, spec)
      case RenameTable(r: UnresolvedTableOrView, to, false) =>
        val (src, dst) = (identOf(r.multipartIdentifier), identOf(to))
        for (s <- ownedRoot(src); d <- ownedRoot(dst))
          yield renameTable(src, s, dst, d)
      case DropTable(UnresolvedIdentifier(parts, _), ifExists, _) =>
        dropOwned(identOf(parts), ifExists)
      case AddCheckConstraint(Filter(_, Owned(t)), c) =>
        // multiline/aligned DDL is legal SQL, but the named-expr ledger
        // stores exprs line-framed and SHOW CREATE surfaces them
        // verbatim: whitespace outside string literals canonicalizes to
        // single spaces (semantics-preserving — found by the grammar
        // fuzzer, SqlFuzzSpec)
        val ce = collapseExprWs(c.condition)
        t.addCheck(c.userProvidedName, ce)
        Some(Seq((c.userProvidedName, ce)).toDF("constraint", "check_expr"))
      case AddConstraint(Owned(t), pk: PrimaryKeyConstraint) =>
        val rely = pk.userProvidedCharacteristic.rely.contains(true)
        t.addPrimaryKey(pk.userProvidedName, pk.columns, rely)
        graft.plans.JoinElim.arm(t)
        Some(Seq((pk.userProvidedName, "PRIMARY KEY", rely)).toDF(
          "constraint", "kind", "rely"))
      case AddConstraint(Owned(t), fk: ForeignKeyConstraint) =>
        Some(addForeignKey(t, fk.userProvidedName, fk.childColumns,
          identOf(fk.parentTableId), Some(fk.parentColumns),
          fk.userProvidedCharacteristic.rely.contains(true)))
      case DropConstraint(Owned(t), name, ifExists, _) =>
        // loud on unknown names unless IF EXISTS: a typo'd DROP that
        // silently no-ops would leave the operator believing the
        // constraint is gone while it still enforces / fires JoinElim
        if (!t.dropKeyConstraint(name)) {
          val isCheck = t.checks.exists(_._1 == name)
          require(isCheck || ifExists,
            s"DROP CONSTRAINT: no constraint named $name on ${t.root} " +
              "(neither CHECK nor PRIMARY/FOREIGN KEY — DESCRIBE " +
              "lists the live set)")
          if (isCheck) t.dropCheck(name)
        }
        graft.plans.JoinElim.arm(t) // a dropped RELY key must stop firing NOW
        Some(Seq(name).toDF("dropped_constraint"))
      case AlterTableClusterBy(Owned(t), spec) =>
        Some(clusterBy(t, spec.map(_.columnNames.map(_.fieldNames.mkString(".")))))
      case SetTableProperties(Owned(t), props) =>
        t.setProperties(props)
        Some(showProps(t))
      case UnsetTableProperties(Owned(t), keys, ifExists) =>
        val missing = keys.filterNot(t.properties.contains)
        require(ifExists || missing.isEmpty, "UNSET TBLPROPERTIES: unknown " +
          s"key(s) ${missing.mkString(", ")} (use IF EXISTS)")
        t.unsetProperties(keys)
        Some(showProps(t))
      case CommentOnTable(Owned(t), text) =>
        if (text == null) t.unsetProperties(Seq("comment")) // IS NULL
        else t.setProperties(Map("comment" -> text))
        Some(Seq(t.root).toDF("commented"))
      case ShowColumns(Owned(t), None, _) =>
        Some(t.read.columns.toSeq.toDF("col_name"))
      case ShowTableProperties(Owned(t), None, _) => Some(showProps(t))
      case ShowCreateTable(Owned(t), false, _) => Some(showCreate(t))
      case ShowPartitions(Owned(t), None, _) => Some(showPartitions(t))
      case ShowTables(CurrentNamespace, None, _) =>
        catalog.map(_.tables.toDF("namespace", "tableName"))
      // the Spark-shaped (col_name, data_type, comment) relation, with
      // identity/generated contracts surfaced in the comment column
      case DescribeRelation(Owned(t), part, false, _) if part.isEmpty =>
        Some(describeTable(t))
      case AnalyzeColumn(Owned(t), cols, _) =>
        // ALL COLUMNS: every atomic column — arrays/maps/structs/binary
        // have no useful min/max order for skipping sidecars
        Some(analyze(t, cols.getOrElse(t.read.schema.fields.toSeq
          .filterNot(f => f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] || f.dataType == BinaryType)
          .map(_.name))))
      case _ => None
    }
  }

  /** The name parts of a parsed table node. */
  private object Named {
    def unapply(p: LogicalPlan): Option[Seq[String]] = p match {
      case r: UnresolvedTable       => Some(r.multipartIdentifier)
      case r: UnresolvedTableOrView => Some(r.multipartIdentifier)
      case r: UnresolvedRelation    => Some(r.multipartIdentifier)
      case UnresolvedIdentifier(parts, _) => Some(parts)
      case _ => None
    }
  }

  /** The existing graft table a parsed DDL, SHOW or DESCRIBE statement
    * names; no match for any other relation, so the statement
    * delegates. */
  private object Owned {
    def unapply(p: LogicalPlan): Option[VersionedTable] =
      Named.unapply(p).flatMap(parts => owned(identOf(parts)))
  }

  /** ALTER COLUMN: TYPE (lossless widening), SET/DROP NOT NULL, SET/DROP
    * DEFAULT — one change per statement; None delegates the rest. */
  private def alterColumn(t: VersionedTable,
                          spec: AlterColumnSpec): Option[DataFrame] = {
    import spark.implicits._
    val name = spec.column.name.mkString(".")
    def requireColumn(what: String): Unit =
      require(t.read.columns.contains(name),
        s"$what: no column `$name` in ${t.root}")
    spec match {
      case AlterColumnSpec(_, Some(dt), None, None, None, None, false) =>
        t.widenColumnType(name, dt)
        Some(Seq((name, dt.simpleString)).toDF("column", "new_type"))
      case AlterColumnSpec(_, None, Some(false), None, None, None, false) =>
        requireColumn("SET NOT NULL")
        // same constraint shape the CREATE TABLE `c TYPE NOT NULL` form
        // records, so DESCRIBE shows one vocabulary and DROP NOT NULL
        // finds it; addCheck scans current rows and refuses on NULLs
        // (Delta's SET NOT NULL validation)
        t.addCheck(s"${name}_not_null", s"$name IS NOT NULL")
        Some(Seq((name, s"$name IS NOT NULL")).toDF("column", "constraint_expr"))
      case AlterColumnSpec(_, None, Some(true), None, None, None, false) =>
        t.dropCheck(s"${name}_not_null")
        Some(Seq(name).toDF("dropped_not_null"))
      case AlterColumnSpec(_, None, None, None, None, Some(d), false) =>
        requireColumn("SET DEFAULT")
        t.setDefault(name, d.originalSQL)
        Some(Seq((name, d.originalSQL)).toDF("column", "default_expr"))
      case AlterColumnSpec(_, None, None, None, None, None, true) =>
        t.dropDefault(name)
        Some(Seq(name).toDF("dropped_default"))
      case _ => None
    }
  }

  /** RENAME COLUMN, refused while the column keys a dependent rollup
    * or is referenced by a governance policy; input columns named only
    * in a dependent definition re-key to the new name. */
  private def renameColumn(t: VersionedTable, f: String,
                           tn: String): DataFrame = {
    val deps = dependents(t.root)
    refuse(deps.filter(_.keyed(f)), (d, ids) =>
      s"RENAME COLUMN: `$f` is a ${d.keyRole} column of ${d.label}(s) " +
        s"$ids — drop and recreate them to re-key")
    // a join MV's agg names its column, not its side: once ANOTHER side
    // carries the column too (a later ADD COLUMN), the agg's side is
    // ambiguous and a blind re-key could silently re-point it. Checked
    // before the rename commits, so a refusal never strands a renamed
    // table with a stale definition
    val rekeyed = deps.filter(_.defn.inputs(f))
    rekeyed.foreach { d =>
      require(!d.otherSides.exists(o =>
          scala.util.Try(o.read.columns.contains(f)).getOrElse(false)),
        s"RENAME COLUMN: `$f` is an agg column of ${d.defn.label} " +
          s"${d.ident} and ANOTHER join side now carries it too — the " +
          "agg's source side is ambiguous; drop and recreate the MV")
    }
    // a row filter / column mask referencing the column would stop
    // resolving (policy text cannot be re-keyed safely) — and a
    // governance policy that silently stops applying is a leak
    require(!governanceCols(t).contains(f),
      s"RENAME COLUMN: `$f` is referenced by a row filter or " +
        "column mask — drop the policy first")
    val df = versionDf(t.renameColumn(f, tn))
    // the metadata sibling of VersionedTable.renameColumn re-keying
    // DEFAULTs and CLUSTER BY. Routing entries keep the old logical
    // names and stop matching until the next REFRESH re-arms (safe:
    // old-name queries can no longer resolve at all).
    rekeyed.foreach(d => d.mv.setProperties(d.defn.rekey(f, tn)))
    df
  }

  /** DROP COLUMN[S]: every column is checked — present, not the last
    * one, referenced by no dependent rollup, governance policy or
    * table-level key/CHECK/generated column — before the first column
    * drops, so a refusal leaves the table untouched. A column a rollup
    * reads must not be dropped out from under it: every later REFRESH
    * would fail. */
  private def dropColumns(t: VersionedTable, names: Seq[String]): DataFrame = {
    val cur = t.read.columns
    require(names.distinct.length < cur.length,
      s"DROP COLUMNS: cannot drop every column at ${t.root}")
    val deps = dependents(t.root)
    val governed = governanceCols(t)
    names.foreach { name =>
      require(cur.contains(name), s"DROP COLUMN: no column `$name` at ${t.root}")
      refuse(deps.filter(d => d.keyed(name) || d.defn.inputs(name)),
        (d, ids) => s"DROP COLUMN: `$name` is referenced by ${d.label}(s) " +
          s"$ids — drop them first")
      require(!governed.contains(name),
        s"DROP COLUMN: `$name` is referenced by a row filter or " +
          "column mask — drop the policy first")
      t.requireUnencumbered(name, "DROP COLUMN")
    }
    versionDf(names.map(t.dropColumn).last)
  }

  /** `(layer.table, table, definition)` of every maintained rollup in the
    * warehouse: one properties read per catalog table. A damaged
    * definition is skipped, not allowed to block DDL on other tables. */
  private def definitions: Seq[(String, VersionedTable, RollupDef)] =
    catalog.toSeq.flatMap(cat => cat.tables.flatMap { case (l, t) =>
      val mv = cat.table(l, t)
      RollupDef.tryRead(spark, mv.properties).map((s"$l.$t", mv, _))
    })

  /** The rollups `srcRoot` feeds — the DDL guards' one catalog walk. */
  private def dependents(srcRoot: String): Seq[Dependent] =
    definitions.flatMap { case (id, mv, d) =>
      Some(d.sidesOf(srcRoot)).filter(_.nonEmpty).map(Dependent(id, mv, d, _))
    }

  /** Refuse when `hits` is non-empty; the message names the first hit's
    * family and every hit of that family. */
  private def refuse(hits: Seq[Dependent],
                     msg: (RollupDef, String) => String): Unit =
    require(hits.isEmpty, {
      val d = hits.head.defn
      msg(d, hits.filter(_.defn.label == d.label).map(_.ident).mkString(", "))
    })

  /** ALTER TABLE … CLUSTER BY (cols) | NONE (None): the declared columns
    * every bare OPTIMIZE z-orders by. */
  private def clusterBy(t: VersionedTable,
                        cols: Option[Seq[String]]): DataFrame = {
    import spark.implicits._
    cols match {
      case None =>
        t.unsetProperties(Seq(VersionedTable.ClusterByProp))
        Seq("NONE").toDF("cluster_by")
      case Some(cs) =>
        // merge-bucketed tables refuse at DECLARATION time: their
        // OPTIMIZE unit is the (partition, bucket) cell and z-ordering
        // would break copy-on-write merge routing — the same line
        // compactZOrder draws, moved to where the user can see it
        require(t.bucketSpec.isEmpty,
          s"CLUSTER BY: ${t.root} is merge-bucketed; its layout IS " +
            "its clustering (OPTIMIZE compacts per cell)")
        require(cs.nonEmpty, "CLUSTER BY needs at least one column")
        val missing = cs.filterNot(t.read.columns.contains)
        require(missing.isEmpty,
          s"CLUSTER BY unknown column(s): ${missing.mkString(",")}")
        t.setProperties(Map(VersionedTable.ClusterByProp -> cs.mkString(",")))
        Seq(cs.mkString(",")).toDF("cluster_by")
    }
  }

  /** ADD CONSTRAINT … FOREIGN KEY (cols) REFERENCES ref [(refCols)]
    * [RELY]: informational; without refCols the key references ref's
    * primary key. */
  private def addForeignKey(t: VersionedTable, name: String, cols: Seq[String],
                            refIdent: String, refCols: Option[Seq[String]],
                            rely: Boolean): DataFrame = {
    import spark.implicits._
    val ref = resolve(refIdent)
    val rc = refCols.getOrElse(ref.primaryKey.map(_._2).getOrElse(sys.error(
      s"FOREIGN KEY: $refIdent declares no primary key — name " +
        "the referenced columns explicitly")))
    val missing = rc.filterNot(ref.read.columns.contains)
    require(missing.isEmpty,
      s"FOREIGN KEY: $refIdent lacks column(s) ${missing.mkString(",")}")
    t.addForeignKey(name, cols, ref.root, rc, rely)
    graft.plans.JoinElim.arm(t)
    Seq((name, "FOREIGN KEY", rely)).toDF("constraint", "kind", "rely")
  }

  private def convert(srcDir: String, target: String): DataFrame = {
    import spark.implicits._
    val t = new VersionedTable(spark, target)
    val e = t.convertFrom(srcDir)
    Seq((e.action, e.version, e.fileSets.length.toLong))
      .toDF("operation", "version", "n_file_sets")
  }

  /** `'it''s'` → `it's` (SQL single-quote literal). */
  private def unquoteComment(lit: String): String =
    lit.stripPrefix("'").stripSuffix("'").replace("''", "'")

  /** DESCRIBE <table> — Spark's (col_name, data_type, comment) shape;
    * the comment column carries the engine-enforced column contracts
    * (identity, generated expression) so the DDL surface is
    * discoverable without reading metadata files. */
  private def describeTable(tbl: VersionedTable): DataFrame = {
    import spark.implicits._
    val idents = tbl.identityColumns.map(c => c._1 ->
      s"GENERATED ALWAYS AS IDENTITY (START WITH ${c._2} INCREMENT BY ${c._3})").toMap
    val gens = tbl.generatedColumns.map(c => c._1 ->
      s"GENERATED ALWAYS AS (${c._2})").toMap
    val dflts = tbl.defaultColumns.map(c => c._1 ->
      s"DEFAULT ${c._2}").toMap
    val user = tbl.properties.collect {
      case (k, v) if k.startsWith(GraftSql.ColumnCommentPrefix) =>
        k.stripPrefix(GraftSql.ColumnCommentPrefix) -> v
    }
    tbl.read.schema.fields.toSeq.map { f =>
      val contract = idents.getOrElse(f.name,
        gens.getOrElse(f.name, dflts.getOrElse(f.name, "")))
      (f.name, f.dataType.catalogString,
        Seq(user.getOrElse(f.name, ""), contract)
          .filter(_.nonEmpty).mkString("; "))
    }.toDF("col_name", "data_type", "comment")
  }

  private def analyze(tbl: VersionedTable, cols: Seq[String]): DataFrame = {
    import spark.implicits._
    Seq(tbl.computeStats(cols).toLong).toDF("n_file_sets_analyzed")
  }

  private def clone(src: VersionedTable, target: String): DataFrame = {
    import spark.implicits._
    val t = src.shallowCloneTo(target)
    val e = t.history.last
    Seq((e.action, src.latestVersion.getOrElse(-1L),
        e.fileSets.length.toLong))
      .toDF("operation", "source_version", "n_file_sets")
  }

  // --------------------------------------------------- materialized views

  /** CREATE [OR REPLACE] MATERIALIZED VIEW [IF NOT EXISTS] from its
    * parsed plan: an Aggregate over one graft relation, optionally
    * filtered, or over a left-deep chain of inner equi-joins — closed to
    * what the rewrite rule serves and the refreshers maintain. Aliased
    * sources, other joins, HAVING, ORDER BY and table clauses refuse. */
  private def materializedView(c: CreateMaterializedViewAsSelect,
                               orReplace: Boolean): DataFrame = {
    import spark.implicits._
    def shape: Nothing = sys.error(
      "CREATE MATERIALIZED VIEW: unrecognized shape — expected " +
        "SELECT g1,…, sum|count|min|max|approx_count_distinct(c) " +
        "AS name,… FROM <table> [WHERE <pred>] GROUP BY g1,… — " +
        "or the join form FROM <fact> JOIN <dim> USING (k,…) | " +
        "ON f.k = d.k GROUP BY g1,…")
    val (mvIdent, groups, items, body) = (c.name, c.query, c.tableSpec) match {
      case (UnresolvedIdentifier(parts, _), Aggregate(g, i, child, None),
          TableSpec(props, None, opts, None, None, None, None, false, cons))
          if props.isEmpty && opts.isEmpty && cons.isEmpty &&
            c.columns.isEmpty && c.partitioning.isEmpty =>
        (identOf(parts), g, i, child)
      case _ => shape
    }
    val (cond, from) = body match {
      case Filter(cond, child) => (Some(cond), child)
      case other => (None, other)
    }
    def rel(p: LogicalPlan): String = p match {
      case UnresolvedRelation(parts, opts, false) if opts.isEmpty =>
        identOf(parts)
      case _ => shape
    }
    // the fact, and each dim with its (fact, dim) key pairs
    def chain(p: LogicalPlan): (String, Seq[(String, Seq[(String, String)])]) =
      p match {
        case Join(left, right, jt, on, _) =>
          val ((fact, dims), dim) = (chain(left), rel(right))
          (fact, dims :+ ((dim, (jt, on) match {
            case (UsingJoin(Inner, cols), None) => cols.map(k => (k, k))
            case (Inner, Some(on)) => joinKeys(on, fact, dim)
            case _ => shape
          })))
        case other => (rel(other), Nil)
      }
    val (fact, dims) = chain(from)
    val (groupCols, aggs) = mvSelect(groups, items)
    val mv = VersionedTable(spark, targetRoot(mvIdent))
    require(!(orReplace && c.ifNotExists), "CREATE MATERIALIZED VIEW: " +
      "OR REPLACE and IF NOT EXISTS exclude each other")
    if (c.ifNotExists && mv.exists)
      Seq((mvIdent, "exists", RollupDef.read(spark, mv.properties).collect {
        case d: RollupDef.SqlMv => d.version
        case d: RollupDef.Join => d.factV
      }.getOrElse(-1L))).toDF("mv", "mode", "source_version")
    else {
      // the WHERE persists in the MV's properties (line-framed ledger,
      // re-parsed by every maintenance slice): its whitespace and
      // comments canonicalize, same as CHECK constraints
      val where = cond.map(e => collapseExprWs(sourceText(e)))
      val srcV =
        if (dims.isEmpty) createMaterializedView(mvIdent, mv, orReplace,
          groupCols, aggs, fact, where)
        else createJoinMaterializedView(mvIdent, mv, orReplace, groupCols,
          aggs, fact, dims, where)
      Seq((mvIdent, "create", srcV)).toDF("mv", "mode", "source_version")
    }
  }

  /** The single-source form of [[materializedView]]: materializes the
    * aggregate as a versioned table, records the definition + covered
    * source version (returned) in table properties (durable — REFRESH
    * re-reads it in any later process), and arms [[graft.plans.MvRewrite]]
    * so matching aggregates over the covered snapshot route to the MV
    * transparently. `avg` is deliberately not materializable: write
    * `sum(c) AS s_c, count(c) AS n_c` and the rewrite rule derives
    * `avg(c)` from the pair — an incrementally maintained average column
    * would be wrong under merge combining. */
  private def createMaterializedView(mvIdent: String, mv: VersionedTable,
      orReplace: Boolean, groupCols: Seq[String],
      aggs: Seq[(String, String, String)],
      srcIdent: String, where: Option[String]): Long = {
    GraftSql.registerMvFunctions(spark)
    val src = resolve(srcIdent)
    val srcCols = src.read.columns.toSet
    val missing = (groupCols ++ aggs.map(_._2).filterNot(_ == "*"))
      .filterNot(srcCols)
    require(missing.isEmpty,
      s"materialized view: source $srcIdent lacks columns ${missing.mkString(",")}")
    require(orReplace || !mv.exists,
      s"materialized view target exists: $mvIdent (use CREATE OR REPLACE)")
    // resolution runs now (bad columns fail the CREATE loudly); a
    // nondeterministic predicate (rand()) would make every maintenance
    // slice disagree with the materialization — refuse
    where.foreach { p =>
      val cond = src.read.filter(expr(p)).queryExecution.analyzed.collectFirst {
        case fl: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          fl.condition
      }
      require(cond.exists(_.deterministic),
        s"materialized view WHERE must be deterministic: $p")
    }
    // the shared CREATE bookkeeping also sweeps a replaced JOIN /
    // sketch / CMS / quantile definition (REFRESH must never see two)
    // and the old merge bucketing (a REPLACE with a different GROUP BY)
    val srcV = graft.plans.Maintained.create(RollupDef.SqlMv.family, src, mv,
      Map(
        GraftSql.MvSourceProp -> src.root,
        GraftSql.MvGroupProp -> groupCols.mkString(","),
        GraftSql.MvAggsProp -> formatAggSpecs(aggs)) ++
        where.map(GraftSql.MvWhereProp -> _))(
      df => GraftSql.mvAggregate(groupCols, aggs)(
        where.fold(df)(p => df.filter(expr(p)))))
    armMvRewrite(mv, RollupDef.expect[RollupDef.SqlMv](mv, "materialized view"))
    srcV
  }

  /** The join form of [[materializedView]]; returns the covered fact
    * version. Materialization, durable definition and routing via
    * [[graft.plans.JoinMv]] (fact-CDF incremental maintenance under the
    * fixed-dims identity; star schemas welcome — every dim is pinned).
    * Cross-side column ambiguity is refused up front. WHERE conjuncts
    * must each touch exactly ONE dim's (qualified) columns — the SCD2
    * current-view idiom `WHERE d.is_current` — and become that
    * [[graft.plans.JoinMv.DimSide]]'s row filter, so dim batches keep
    * absorbing as signed deltas; fact-side predicates are refused (the
    * single-table form owns source filters). */
  private def createJoinMaterializedView(mvIdent: String,
      mv: VersionedTable, orReplace: Boolean, groupCols: Seq[String],
      aggs: Seq[(String, String, String)],
      factIdent: String, dims: Seq[(String, Seq[(String, String)])],
      where: Option[String]): Long = {
    val fact = resolve(factIdent)
    val dimTables = dims.map { case (id, keys) => (id, resolve(id), keys) }
    val dimFilters = GraftSql.attributeJoinMvWhere(where, factIdent,
      dims.map(_._1))
    val fCols = fact.read.columns.toSet
    val sideCols: Seq[(String, Set[String])] =
      (factIdent, fCols) +: dimTables.map { case (id, t, _) =>
        (id, t.read.columns.toSet)
      }
    val missing = (groupCols ++ aggs.map(_._2).filterNot(_ == "*"))
      .filterNot(c => sideCols.exists(_._2(c)))
    require(missing.isEmpty, s"materialized view: no join side has " +
      s"columns ${missing.mkString(",")}")
    // refuse cross-side ambiguity BEFORE materializing (the clear
    // message, not a mid-materialization analysis error). Same-named
    // KEY pairs are value-equal under the inner join, so they may
    // repeat between the fact and the dim they join.
    val sameNamedKeys = dims.flatMap(_._2)
      .collect { case (l, r) if l == r => l }.toSet
    (groupCols ++ aggs.map(_._2).filterNot(_ == "*")).foreach { n =>
      val carriers = sideCols.count(_._2(n))
      require(carriers <= 1 || sameNamedKeys(n),
        s"materialized view: column `$n` exists on multiple join " +
          "sides — ambiguous (only same-named key pairs may repeat)")
    }
    require(orReplace || !mv.exists,
      s"materialized view target exists: $mvIdent (use CREATE OR REPLACE)")
    // filter columns must exist on their dim (fail at CREATE, not at
    // the first refresh's analysis error)
    dimTables.zip(dimFilters).foreach { case ((id, t, _), flt) =>
      flt.foreach { f =>
        try t.read.filter(org.apache.spark.sql.functions.expr(f))
          .queryExecution.analyzed
        catch { case e: Throwable => sys.error(
          s"materialized view: WHERE predicate `$f` does not resolve " +
            s"against dim $id: ${e.getMessage}") }
      }
    }
    graft.plans.JoinMv.create(fact,
      dimTables.zip(dimFilters).map { case ((_, t, keys), flt) =>
        graft.plans.JoinMv.DimSide(t, keys, flt)
      },
      groupCols,
      aggs.map { case (f, c, o) => graft.plans.MvRewrite.AggSpec(f, c, o) },
      mv)
  }

  /** REFRESH MATERIALIZED VIEW mv, dispatched on its stored definition:
    * both a single-source MV and a join MV ([[graft.plans.JoinMv]], one
    * side per joined table) take the cheapest maintenance their sources'
    * history allows, O(changed data) whenever expressible, through the
    * shared rollup driver ([[graft.plans.Maintained.refresh]]). A
    * single-source MV's rungs:
    *
    *   - append-only tail → delta aggregate over the added rows +
    *     combining bucket-COW merge ("incremental");
    *   - retractions (UPDATE/DELETE/merge) with the source's change feed
    *     on → signed-delta refresh from the row-level CDF
    *     (+postimage/insert, −preimage/delete), provided the aggs are
    *     [[GraftSql.cdfMaintainable]]: emptied groups drop and all-NULL
    *     sums NULL-fix inside the same merge commit ("cdf");
    *   - retractions with CDF on but min/max (or a sum missing its
    *     count companion) in the agg set → per-touched-group recompute
    *     from the pinned snapshot ("groups");
    *   - nothing to absorb → "noop"; anything else → full recompute
    *     ("full").
    *
    * A FILTERED definition applies its predicate to every slice — each
    * incremental delta, the change feed (an update moving a row across
    * the predicate boundary keeps exactly the matching image: in =
    * +post, out = −pre, the correct signed delta), the touched-group
    * set, and the recompute. Either way the covered version advances
    * and the rewrite rule re-arms — REFRESH is also the re-arm point
    * after a process restart (the rewrite registry is in-memory; the
    * definition is not). */
  private def refreshMaterializedView(mvIdent: String): DataFrame = {
    import spark.implicits._
    val mv = resolve(mvIdent)
    val (mode, covered) = RollupDef.read(spark, mv.properties) match {
      case Some(d: RollupDef.Join) => graft.plans.JoinMv.maintain(mv, d)
      case Some(d: RollupDef.SqlMv) =>
        GraftSql.registerMvFunctions(spark)
        val out = graft.plans.Maintained.refresh(
          graft.plans.Maintained.Rollup(d, mv,
            GraftSql.mvAggregate(d.groupCols, d.aggs),
            GraftSql.mvCombines(d.aggs),
            retract = GraftSql.mvRetract(d.groupCols, d.aggs),
            slice = (_, df) => d.where.fold(df)(p => df.filter(expr(p)))))
        armMvRewrite(mv, d.copy(version = out._2.head))
        out
      case _ => sys.error(s"$mvIdent is not a materialized view (no " +
        s"${GraftSql.MvSourceProp} property)")
    }
    Seq((mvIdent, mode, covered.head)).toDF("mv", "mode", "source_version")
  }

  /** Columns the table's OWN governance policies reference: masked
    * column names, plus every attribute the row-filter predicate and
    * mask expressions mention — protected from RENAME/DROP like MV
    * predicate columns (policy text cannot be re-keyed safely, and a
    * policy that silently stops applying is a leak). */
  private def governanceCols(t: VersionedTable): Set[String] = {
    val props = t.properties
    def refs(s: String) =
      referencedCols(spark, GraftSql.substPrincipal(s, Some("x")))
    val masked = props.collect {
      case (k, v) if k.startsWith(GraftSql.ColumnMaskPrefix) =>
        Set(k.stripPrefix(GraftSql.ColumnMaskPrefix)) ++ refs(v)
    }.flatten.toSet
    masked ++ props.get(GraftSql.RowFilterProp).map(refs).getOrElse(Set.empty)
  }

  /** Re-arm routing for every materialized view registered in the
    * warehouse whose covered version still equals its source's head —
    * the process-restart recovery path (the rewrite registry is
    * in-memory; the definitions are not), callable right after catalog
    * open instead of waiting for the first REFRESH. An MV whose source
    * has moved stays un-armed (it is stale — REFRESH catches it up);
    * one whose source vanished is skipped, and one whose definition can
    * never serve a query (filtered, sketch-bearing) is not armed.
    * Metadata-priced per table; only MV-propertied tables build a
    * snapshot. Returns the armed `layer.table` identifiers. */
  def armMaterializedViews(): Seq[String] = {
    require(catalog.isDefined,
      "armMaterializedViews needs a catalog-backed GraftSql")
    definitions.collect {
      case (id, mv, d: RollupDef.SqlMv) if d.fresh => id -> armMvRewrite(mv, d)
      // only the single-dim shape can arm (the rewrite rule matches
      // two-table joins); multi-dim definitions refresh-only
      case (id, mv, d: RollupDef.Join) if d.dims.length == 1 && d.fresh &&
          graft.plans.MvRewrite.isRegistrable(d.fact, Some(d.factV)) &&
          graft.plans.MvRewrite.isRegistrable(d.dims.head.table,
            Some(d.dimVs.head)) =>
        id -> graft.plans.JoinMv.arm(mv, d)
    }.collect { case (id, true) => id }
  }

  /** Arm routing for MV `mv` at its covered version. Best-effort:
    * registration covers plain, multi-arm (post-DDL) and DV-bearing
    * snapshots; only a read that decomposes to no recognizable graft
    * scan shape at all skips quietly. The MV itself stays correct and
    * maintained either way. Returns whether `mv` is now registered. */
  private def armMvRewrite(mv: VersionedTable, d: RollupDef.SqlMv): Boolean = {
    // a filtered definition never serves: the rewrite rule serves only
    // shapes it can prove equivalent, and a query without the predicate
    // must keep scanning the source. Nor does a sketch estimate (Spark's
    // approx_count_distinct is a different estimator — results would
    // silently change). A REPLACE that turned an armed exact MV into
    // either must drop the stale registration, not leave it serving.
    // Explicit pre-check, no blanket catch: an unrecognizable snapshot
    // skips quietly (the conservative matcher could never serve it
    // anyway), while a genuinely broken registration — MV missing
    // declared columns, unreadable roots — still surfaces loudly.
    // Registration pins the COVERED version, never the live head (a
    // concurrent commit between the pin and this call must stay
    // un-served).
    val routable = d.where.isEmpty && !d.aggs.exists(a => GraftSql.approxAgg(a._1))
    if (!routable) graft.plans.MvRewrite.deregisterRoot(mv.root)
    val armed = routable &&
      graft.plans.MvRewrite.isRegistrable(d.src, Some(d.version))
    if (armed) graft.plans.MvRewrite.register(d.src, mv, d.groupCols,
      d.aggs.map { case (f, c, o) => graft.plans.MvRewrite.AggSpec(f, c, o) },
      atVersion = Some(d.version))
    armed
  }

  private def optimize(tbl: VersionedTable, zcols: Option[String]): DataFrame = {
    import spark.implicits._
    val before = tbl.history.lastOption.getOrElse(
      sys.error(s"OPTIMIZE: empty table at ${tbl.root}"))
    // bare OPTIMIZE on a clustered table z-orders by the DECLARED
    // cluster columns (the liquid-clustering contract: declare once,
    // every OPTIMIZE clusters) — explicit ZORDER BY still overrides
    val declared = tbl.properties.get(VersionedTable.ClusterByProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val entry = zcols match {
      case Some(cs) =>
        tbl.compactZOrder(cs.split(",").map(_.trim.stripPrefix("`")
          .stripSuffix("`")).filter(_.nonEmpty).toSeq)
      // bucketed guard belongs to the DDL (CLUSTER BY refuses there); a
      // property smuggled onto a bucketed table must not break OPTIMIZE
      case None if declared.isDefined && tbl.bucketSpec.isEmpty =>
        tbl.compactZOrder(declared.get)
      case None if tbl.bucketSpec.isDefined => tbl.compact()
      case None => tbl.compactSmall(spark.conf
        .getOption(SmallFileBytesConf).map(_.toLong)
        .getOrElse(DefaultSmallFileBytes))
    }
    Seq((entry.action, before.version, entry.version,
        before.fileSets.length.toLong, entry.fileSets.length.toLong))
      .toDF("operation", "version_before", "version_after",
        "file_sets_before", "file_sets_after")
  }

  /** `OPTIMIZE … WHERE` — Delta's partition-scoped compaction: only the
    * named partition's cells rewrite, O(one partition) not O(table).
    * The predicate must name exactly the table's partition keys with
    * `=` equalities (anything else cannot map to a partition tuple —
    * fail loudly rather than silently over- or under-compact). */
  private def optimizePartition(tbl: VersionedTable,
                                preds: String): DataFrame = {
    import spark.implicits._
    val before = tbl.history.lastOption.getOrElse(
      sys.error(s"OPTIMIZE: empty table at ${tbl.root}"))
    val partKeys = tbl.bucketSpec.map(_.partitionKeys).getOrElse(Nil)
    require(partKeys.nonEmpty,
      s"OPTIMIZE … WHERE needs a partitioned bucketed table at ${tbl.root}")
    val kvs = preds.split("(?i)\\s+AND\\s+").map { p =>
      p.split("=", 2) match {
        case Array(k, v) =>
          k.trim.stripPrefix("`").stripSuffix("`") ->
            v.trim.stripPrefix("'").stripSuffix("'")
        case _ => sys.error(s"OPTIMIZE WHERE: not an equality: $p")
      }
    }.toMap
    require(kvs.keySet == partKeys.toSet,
      s"OPTIMIZE WHERE must name exactly the partition keys " +
        s"${partKeys.mkString(", ")} (got ${kvs.keys.mkString(", ")})")
    val entry = tbl.compactPartitions(Seq(partKeys.map(kvs)))
    Seq((entry.action, before.version, entry.version,
        before.fileSets.length.toLong, entry.fileSets.length.toLong))
      .toDF("operation", "version_before", "version_after",
        "file_sets_before", "file_sets_after")
  }

  private def restore(tbl: VersionedTable,
                      run: VersionedTable => VersionedTable.LogEntry): DataFrame = {
    import spark.implicits._
    val before = tbl.latestVersion.getOrElse(
      sys.error(s"RESTORE: empty table at ${tbl.root}"))
    val entry = run(tbl)
    Seq((entry.action, before, entry.version))
      .toDF("operation", "version_before", "version_after")
  }

  /** `VACUUM … DRY RUN DETAIL`: the FULL blast radius with per-path
    * status — `reclaimable` (the default VACUUM would delete it) or
    * `pin-held` (only IGNORE PINS would) — naming, PER PATH, every
    * consumer pin whose retained suffix covers it (a pin with floor f
    * holds a path referenced by any version ≥ f, so the path frees only
    * when ALL listed pins drop or advance past its last referencing
    * version), the most-behind listed floor, and the oldest listed
    * pin's last-advanced age in seconds. An operator hunting
    * reclamation reads this instead of diffing two previews by hand; a
    * large `blocking_pin_age_sec` on a never-advancing pin is the
    * abandoned-checkpoint signal. */
  private def vacuumDryRunDetail(tbl: VersionedTable, retain: Int): DataFrame = {
    import spark.implicits._
    require(retain >= 1, s"VACUUM: RETAIN $retain VERSIONS (must be >= 1)")
    // ONE listing pass classifies both views — two separate dry-run
    // calls could skew (a file crossing the staging grace window or a
    // concurrent commit between them) and mislabel a path pin-held
    val classified = tbl.vacuumDryRunClassified(retainVersions = retain)
    val pins = tbl.pinsDetail.toSeq.sortBy(_._1)
    val now = System.currentTimeMillis()
    // last version referencing each reclaim-candidate name: the pin-held
    // test per pin P is floor(P) <= maxRef(path)
    val maxRef: Map[String, Long] = tbl.history.flatMap(e =>
        (e.fileSets.map("data/" + _) ++ e.dvs.map("_dv/" + _) ++
          e.cdf.map("_changes/" + _)).map(_ -> e.version))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    classified.map { case (p, isReclaimable) =>
      if (isReclaimable) (p, "reclaimable", null: String,
        None: Option[Long], None: Option[Long])
      else {
        val holders = maxRef.get(p)
          .map(mr => pins.filter(_._2._1 <= mr)).getOrElse(pins)
        (p, "pin-held", holders.map(_._1).mkString(","),
          holders.map(_._2._1).minOption,
          holders.map(_._2._2).minOption.map(ts => (now - ts) / 1000L))
      }
    }.toDF("path", "status", "blocking_pin", "pin_version",
      "blocking_pin_age_sec")
  }

  /** `VACUUM … FORCE EXPIRE PINS OLDER THAN n <unit>`: expire every
    * consumer pin whose floor has not advanced for the interval (dead
    * consumers — a live one re-points every refresh), then run the
    * normal pin-respecting vacuum. One row per expired pin naming it,
    * plus the reclaim count; a no-op expiry returns a single summary
    * row with NULL pin columns — loud, diffable, safe to script. The
    * expiry itself is committed to history (`expire_pins`), so the
    * audit trail survives the vanished pin files. The age bound is
    * floored at 1 HOUR: liveness timestamps are written by consumer
    * clocks (same-version heartbeats every ~60s), so the bound must
    * dominate both the heartbeat period and plausible cross-host
    * clock skew — sane production bounds are hours-to-days. */
  private def vacuumExpirePins(tbl: VersionedTable, retain: Int,
                               n: Long, unit: String): DataFrame = {
    import spark.implicits._
    require(retain >= 1, s"VACUUM: RETAIN $retain VERSIONS (must be >= 1)")
    require(n > 0,
      "VACUUM FORCE EXPIRE PINS: OLDER THAN must be a positive interval")
    val ms = unit.toUpperCase(java.util.Locale.ROOT) match {
      case "MINUTE" => n * 60L * 1000L
      case "HOUR"   => n * 3600L * 1000L
      case "DAY"    => n * 86400L * 1000L
    }
    // Floor at one hour: pin liveness is a wall-clock HEARTBEAT
    // (consumers re-stamp every ~60s while alive), and heartbeat
    // timestamps come from the CONSUMER's clock — a bound comparable
    // to plausible cross-host clock skew would expire consumers that
    // are alive but merely skewed. One hour dwarfs both the heartbeat
    // period and any sanely-NTP'd skew; the operational guidance
    // remains hours-to-days.
    require(ms >= 3600L * 1000L,
      s"VACUUM FORCE EXPIRE PINS: OLDER THAN $n $unit is below the 1 HOUR " +
        "floor — pin timestamps are consumer-clock heartbeats (refreshed " +
        "every ~60s while alive), so a sub-hour bound risks expiring live " +
        "consumers on clock-skewed hosts. Use >= 1 HOURS.")
    val expired = tbl.expirePins(ms)
    val reclaimed = tbl.vacuum(retainVersions = retain).length.toLong
    val rows =
      if (expired.isEmpty)
        Seq((null: String, None: Option[Long], None: Option[Long], 0L,
          reclaimed))
      else expired.map { case (name, v, ageMs) =>
        (name, Some(v), Some(ageMs / 1000L), expired.length.toLong,
          reclaimed)
      }
    rows.toDF("expired_pin", "pin_version", "pin_age_sec", "n_expired",
      "n_reclaimed")
  }

  private def vacuum(tbl: VersionedTable, retain: Int, dryRun: Boolean,
                     respectPins: Boolean = true): DataFrame = {
    import spark.implicits._
    require(retain >= 1, s"VACUUM: RETAIN $retain VERSIONS (must be >= 1)")
    if (dryRun)
      // pin-held paths preview via the IGNORE PINS DRY RUN diff (and
      // SHOW PINS names the consumers) — the default preview keeps its
      // one-column contract and lists exactly what VACUUM would delete
      tbl.vacuumDryRun(retainVersions = retain, respectPins = respectPins)
        .toDF("path").orderBy("path")
    else {
      // one listing: vacuum() reports what it actually deleted, so
      // n_reclaimed can't drift from the deletes under concurrency
      // (and the directory walk + history parse happen once, not twice)
      val deleted = tbl.vacuum(retainVersions = retain,
        respectPins = respectPins)
      Seq(deleted.length.toLong).toDF("n_reclaimed")
    }
  }

  // ------------------------------------------------------------- SQL DML

  /** One-row result every DML statement returns: the committed version
    * and action. Affected-row metrics deliberately are NOT computed here
    * — that would cost an extra full scan per statement at 100 TB; the
    * commit metadata lives in DESCRIBE HISTORY. */
  private def versionDf(e: VersionedTable.LogEntry): DataFrame = {
    import spark.implicits._
    Seq((e.version, e.action)).toDF("version", "action")
  }

  /** SHOW TBLPROPERTIES — Spark's (key, value) relation, key-sorted for
    * determinism. Metadata-only. */
  private def showProps(t: VersionedTable): DataFrame = {
    import spark.implicits._
    t.properties.toSeq.sortBy(_._1).toDF("key", "value")
  }

  /** SHOW PARTITIONS — the distinct partition-column values of the
    * current snapshot, one row each, ordered. The scan prunes to the
    * partition columns (parquet column pruning) and the distinct is a
    * partial-aggregated shuffle over only those low-cardinality values —
    * at 100 TB this moves per-partition counts, not data. */
  private def showPartitions(t: VersionedTable): DataFrame = {
    val parts = t.bucketSpec.map(_.partitionKeys).getOrElse(t.partitionLayout)
    require(parts.nonEmpty,
      s"SHOW PARTITIONS: table at ${t.root} is not partitioned")
    t.read.select(parts.map(col): _*).distinct().orderBy(parts.map(col): _*)
  }

  /** SHOW CREATE TABLE — one `createtab_stmt` row reconstructing the
    * current logical schema and layout as runnable DDL. Delta's shape:
    * identity/generated columns inline, CHECK constraints and the bucket
    * spec folded into TBLPROPERTIES (`graft.constraints.<name>`,
    * `graft.bucket.*` — Delta likewise surfaces constraints as
    * `delta.constraints.*` properties), properties key-sorted. */
  private def showCreate(t: VersionedTable): DataFrame = {
    import spark.implicits._
    val idCols = t.identityColumns
      .map { case (n, s, st) =>
        n -> (s"BIGINT GENERATED ALWAYS AS IDENTITY " +
          s"(START WITH $s INCREMENT BY $st)") }.toMap
    val genCols = t.generatedColumns.toMap
    val dflts = t.defaultColumns.toMap
    val cols = t.read.schema.fields.map { f =>
      idCols.get(f.name).map(d => s"  ${f.name} $d")
        .orElse(genCols.get(f.name).map(e =>
          s"  ${f.name} ${f.dataType.sql} GENERATED ALWAYS AS ($e)"))
        .orElse(dflts.get(f.name).map(e =>
          s"  ${f.name} ${f.dataType.sql} DEFAULT $e"))
        .getOrElse(s"  ${f.name} ${f.dataType.sql}")
    }
    val parts = t.bucketSpec.map(_.partitionKeys).getOrElse(t.partitionLayout)
    val props =
      t.properties.toSeq ++
        t.checks.map { case (n, e) => (s"graft.constraints.$n", e) } ++
        // informational keys ride the same folded-properties shape the
        // CHECK constraints use (Delta's delta.constraints.* analog)
        t.keyConstraints.map { case (n, spec) =>
          (s"graft.keyConstraints.$n", spec) } ++
        t.bucketSpec.toSeq.flatMap(sp => Seq(
          "graft.bucket.keys" -> sp.keys.mkString(","),
          "graft.bucket.num" -> sp.numBuckets.toString)) ++
        (if (t.changeFeedEnabled &&
          !t.properties.contains(VersionedTable.CdfProp))
          Seq(VersionedTable.CdfProp -> "true")
         else Nil)
    val stmtText =
      s"CREATE TABLE graft.`${t.root}` (\n" + cols.mkString(",\n") +
        ")\nUSING graft" +
        (if (parts.nonEmpty) s"\nPARTITIONED BY (${parts.mkString(", ")})"
         else "") +
        (if (props.nonEmpty)
          "\nTBLPROPERTIES (\n" + props.sortBy(_._1)
            .map { case (k, v) => s"  '$k' = '$v'" }.mkString(",\n") + ")"
         else "")
    Seq(stmtText).toDF("createtab_stmt")
  }

  /** CREATE [OR REPLACE] TABLE t (col TYPE, ...) | AS query — the
    * reference smoke test's DDL (01_environment_smoke_test.py:74-80);
    * None when `name` is not a graft table. The schema form commits an
    * empty snapshot carrying the declared schema, so a following INSERT
    * aligns positionally against it; its column clauses are Delta's:
    * `NOT NULL` registers a write-time CHECK (`c IS NOT NULL` evaluates
    * FALSE, not unknown, for a NULL c), `DEFAULT` fills named INSERTs,
    * `GENERATED ALWAYS AS (expr)` computes-if-absent and
    * verifies-if-present, `BIGINT GENERATED ALWAYS AS IDENTITY` stamps
    * ids, and `COMMENT` lands where COMMENT ON COLUMN puts it.
    * TBLPROPERTIES apply once the table exists. A replaced table is a
    * fresh table: previous declarations and the identity high-water
    * mark do not survive. */
  private def createTable(name: LogicalPlan, spec: TableSpecBase,
                          partitioning: Seq[Transform], orReplace: Boolean,
                          ifNotExists: Boolean = false,
                          query: Option[LogicalPlan] = None,
                          columns: Seq[ColumnDefinition] = Nil)
      : Option[DataFrame] = name match {
      case UnresolvedIdentifier(ident, _) =>
        ownedRoot(identOf(ident)).map { root =>
        val t = VersionedTable(spark, root)
        if (ifNotExists && t.exists) versionDf(t.history.last) else {
          require(orReplace || !t.exists,
            s"table already exists: $root (use CREATE OR REPLACE TABLE)")
          // validate and analyze EVERYTHING that can refuse BEFORE clearing
          // the surviving table's declarations: a failed CREATE OR REPLACE
          // must leave its checks/identity/generated/default metadata intact
          require(!(t.exists && t.appendOnly),
            s"CREATE OR REPLACE: table at $root is append-only " +
              "(graft.appendOnly=true)")
          require(spec.location.isEmpty, "CREATE TABLE: LOCATION is not " +
            "supported — address the table as graft.`<path>`")
          val parts = partitioning.map { p =>
            require(p.name == "identity",
              s"PARTITIONED BY supports plain columns, got ${p.describe}")
            p.references.head.fieldNames.mkString(".")
          }
          columns.foreach(c => c.identityColumnSpec.foreach(id =>
            require(c.dataType == LongType && !id.isAllowExplicitInsert,
              s"identity column `${c.name}` must be BIGINT GENERATED ALWAYS")))
          val df = query.fold(spark.createDataFrame(
            java.util.Collections.emptyList[Row](),
            CharVarcharUtils.replaceCharVarcharWithStringInSchema(
              StructType(columns.map(c => StructField(c.name, c.dataType))))))(
            PlanShim.ofRows(spark, _))
          val unknown = parts.filterNot(df.columns.contains)
          require(unknown.isEmpty,
            s"PARTITIONED BY names unknown column(s): ${unknown.mkString(",")}")
          t.clearDefinition()
          // the schema form declares its layout BEFORE data exists (the
          // empty snapshot stays flat so the partition columns remain in
          // the readable schema); every later INSERT appends hive-layout
          // file-sets against this record
          val res = versionDf(t.overwrite(df,
            partitionBy = if (query.isDefined) parts else Nil))
          if (query.isEmpty && parts.nonEmpty) t.declarePartitionLayout(parts)
          columns.foreach { c =>
            c.identityColumnSpec.foreach(id =>
              t.declareIdentity(c.name, id.getStart, id.getStep))
            c.generationExpression.foreach(t.addGeneratedColumn(c.name, _))
            c.defaultValue.foreach(d => t.setDefault(c.name, d.originalSQL))
            if (!c.nullable)
              t.addCheck(s"${c.name}_not_null", s"${c.name} IS NOT NULL")
          }
          val props = spec.properties ++ spec.comment.map("comment" -> _) ++
            columns.flatMap(c =>
              c.comment.map(GraftSql.ColumnCommentPrefix + c.name -> _))
          if (props.nonEmpty) t.setProperties(props)
          res
        }
      }
      case _ => None
    }

  // --------------------------------------------------------- governance

  /** Funnel-level UC-style enforcement (resources/uc/grants.sql): active
    * only when the session sets `spark.graft.principal` AND the bound
    * warehouse's grants ledger is non-empty — an unset principal is the
    * owner (no ledger read), and an empty ledger is the reference's
    * "minimal solo default" (grants.sql:14-17 ships every section
    * commented out).
    * The charges come from the statement's own resolution, not its
    * text: SELECT on every read [[bindReads]] finds, MODIFY (SELECT for
    * DESCRIBE/SHOW) on a parsed statement's own table
    * ([[targetCharges]]), and for a graft-only statement the
    * identifiers its grammar captures, with its fixed action, plus
    * SELECT on what its ROW FILTER, MASK or EXPLAIN REWRITE SQL reads.
    * Each requirement is conjunctive with USE CATALOG + USE SCHEMA per
    * [[Catalog.authorized]]. GRANT/REVOKE are owner-only ([[ownerOnly]]);
    * SHOW GRANTS is open (a principal may inspect the ledger it is
    * subject to).
    * Scope: the statements this funnel runs — ad-hoc `spark.sql` over
    * registered temp views is session-level and not re-checked, the
    * boundary Spark itself draws absent a cluster authz service. Every
    * spelling the resolver accepts is charged, backticked or not; only
    * the path-addressed ``graft.`/path` `` form stays outside the catalog
    * namespace the ledger governs.
    * Creation of NEW objects is ungoverned (the model has no CREATE
    * privilege, mirroring the reference template's grant set) — only
    * EXISTING tables are protected. */
  private def checkGrants(charges: => Seq[Charge]): Unit =
    enforced.foreach { case (cat, principal, ledger) =>
      charges.distinct.foreach { case Charge(action, ident, existing) =>
        splitLayerName(cat, ident)
          .filter { case (l, t) => !existing || cat.table(l, t).exists }
          .foreach { case (l, t) =>
            if (!cat.authorized(principal, action, l, t, ledger))
              sys.error(s"PERMISSION_DENIED: principal `$principal` " +
                s"lacks $action on $l.$t")
          }
      }
    }

  /** Refuses `verb` unless the session is the owner ([[checkGrants]]). */
  private def ownerOnly(verb: String): Unit =
    enforced.foreach { case (_, principal, _) =>
      sys.error(s"PERMISSION_DENIED: $verb is owner-only " +
        s"(session principal `$principal` — unset " +
        s"${GraftSql.PrincipalConf} to administer grants)")
    }

  /** The catalog, principal and grants ledger when enforcement is live:
    * a principal is set and the ledger is non-empty. An owner session
    * or a funnel without a catalog reads no ledger. */
  private def enforced = for {
    cat <- catalog; principal <- spark.conf.getOption(GraftSql.PrincipalConf)
    ledger = cat.grants if ledger.nonEmpty // ONE read per governed statement
  } yield (cat, principal, ledger)

  /** Normalize a grant object name: the reference qualifies with the
    * catalog (`football.bronze`, `football.gold.dim_player`) — one
    * warehouse here, so SCHEMA keeps the last segment and TABLE the
    * last two; CATALOG's name is recorded as given (informational). */
  private def normalizeGrantObj(otype: String, oname: String): String = {
    val parts = stripTicks(oname).split("\\.")
    otype match {
      case "SCHEMA" => parts.last
      case "TABLE" =>
        require(parts.length >= 2,
          s"TABLE grants take layer.table names (got $oname)")
        parts.takeRight(2).mkString(".")
      case _ => stripTicks(oname)
    }
  }

  private def splitPrivs(privs: String): Seq[String] =
    privs.split(",").toSeq.map(_.trim.toUpperCase
      .replaceAll("\\s+", " ")).filter(_.nonEmpty)

  private def grantsDf(rows: Seq[(String, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (p, t, o, g) => (g, p, t, o) }.sorted
      .toDF("principal", "privilege", "object_type", "object")
  }

  /** A graft table for a DML statement's identifier, or None when the
    * statement isn't ours and must delegate (the ANALYZE pattern). */
  private def owned(ident: String): Option[VersionedTable] =
    scala.util.Try(resolve(ident)).toOption

  private def ownedRoot(ident: String): Option[String] =
    scala.util.Try(targetRoot(ident)).toOption

  /** ALTER TABLE … RENAME TO … : ONE directory rename moves the whole
    * table — log, data, sidecars, constraint/property/identity ledgers
    * all live under the root, so nothing is rewritten and old versions
    * stay readable at the new path. On a local/HDFS filesystem this is a
    * metadata-only atomic move; on an object store a directory "rename"
    * degrades to O(files) copies — there the metastore-level re-point
    * (name → same path) is the right tool, as in Delta. Catalog-bound
    * idents also re-point the `<layer>_<table>` temp views. */
  private def renameTable(srcIdent: String, srcRoot: String,
                          dstIdent: String, dstRoot: String): DataFrame = {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    require(VersionedTable(spark, srcRoot).exists,
      s"table not found: $srcIdent")
    require(!VersionedTable(spark, dstRoot).exists,
      s"RENAME TO target already exists: $dstIdent")
    val from = Paths.get(srcRoot)
    val to = Paths.get(dstRoot)
    require(!Files.exists(to),
      s"RENAME TO target path is occupied: $dstRoot")
    Option(to.getParent).foreach(Files.createDirectories(_))
    // an armed materialized view keyed by this root must un-arm before
    // the directory moves away, or the routing rule would serve queries
    // from a dead path (same guard DROP TABLE has); REFRESH re-arms
    // under the new root
    graft.plans.MvRewrite.deregisterRoot(srcRoot)
    try Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      // cross-device: a directory tree cannot be moved atomically (and
      // java.nio's plain move refuses non-empty directories outright) —
      // refuse with guidance rather than fail half-moved
      sys.error(s"RENAME TO: $srcRoot and $dstRoot are on different " +
        "filesystems — a table directory cannot move atomically across " +
        "mounts. Use CREATE TABLE … SHALLOW CLONE to the new location " +
        "(zero-copy on the same mount) or copy the directory externally.")
    }
    // temp views registered for the old name now dangle — drop them and
    // re-register the warehouse (idempotent; picks up the new name)
    catalog.foreach { cat =>
      splitLayerName(cat, srcIdent).foreach { case (l, n) =>
        spark.catalog.dropTempView(s"${l}_$n")
        spark.catalog.dropTempView(s"${l}_${n}_history")
      }
      cat.registerViews()
    }
    Seq((srcIdent, dstIdent)).toDF("renamed_from", "renamed_to")
  }

  /** `layer.name` / `layer_name` (backticks around word-shaped parts
    * dropped, as Spark reads them) split against the bound catalog's
    * layers; None for explicit-path idents and foreign names. */
  private def splitLayerName(cat: Catalog,
                             ident: String): Option[(String, String)] =
    ident match {
      case PathIdent(_) => None
      case other => other.replace("`", "").split("[._]", 2) match {
        case Array(l, n) if cat.Layers.contains(l.toLowerCase) =>
          Some((l.toLowerCase, n))
        case _ => None
      }
    }

  /** DROP TABLE [IF EXISTS] for catalog identifiers (reference smoke
    * flow, 01_environment_smoke_test.py:93); path idents and non-graft
    * names are not ours — None delegates (dropping an explicit-path
    * table is `rm -r`, not a statement's job). */
  private def dropOwned(ident: String, ifExists: Boolean): Option[DataFrame] = {
    import spark.implicits._
    catalog.flatMap(cat => splitLayerName(cat, ident).map { case (layer, name) =>
      val t = cat.table(layer, name)
      if (!t.exists && !ifExists) sys.error(s"table not found: $ident")
      // an armed materialized view must un-arm before its files go
      graft.plans.MvRewrite.deregisterRoot(t.root)
      // … and release its retention pins on the sources, or the
      // dropped consumer would hold vacuum back forever (UNDROP
      // note: pins are NOT restored — the next REFRESH re-advances
      // them, degrading to a full recompute if retention ran in
      // between). Best-effort: a gone source must not fail the DROP
      if (t.exists)
        RollupDef.tryRead(spark, t.properties).toSeq
          .flatMap(_.sources.distinctBy(_.root)).foreach { src =>
            try src.dropPin(graft.plans.Maintained.pinName(t))
            catch { case scala.util.control.NonFatal(_) => () }
          }
      cat.dropTable(layer, name)
      Seq(ident).toDF("dropped")
    })
  }

  /** UNDROP TABLE <layer.table> — restore the newest trash entry
    * (Databricks UNDROP): one atomic rename back, history/constraints/
    * time travel intact. Catalog identifiers only — a dropped
    * explicit-path table was never catalog-managed. */
  private def undropOwned(ident: String): DataFrame = {
    import spark.implicits._
    val cat = catalog.getOrElse(
      sys.error("UNDROP TABLE needs a catalog-bound GraftSql"))
    val (layer, name) = splitLayerName(cat, ident).getOrElse(
      sys.error(s"UNDROP TABLE: not a catalog table: $ident"))
    cat.undropTable(layer, name)
    Seq(ident).toDF("undropped")
  }

  /** INSERT INTO appends (bucket-split on merge-bucketed tables so later
    * MERGEs stay copy-on-write; hive layout preserved so pruning
    * survives); INSERT OVERWRITE replaces the snapshot. Standard SQL
    * positional semantics: the query's columns map to the table's by
    * position and cast to its declared types — or, with a column list,
    * to the listed columns ([[alignNamed]]). */
  private def insert(tbl: VersionedTable, i: InsertIntoStatement): DataFrame = {
    require(i.partitionSpec.isEmpty && !i.byName,
      "INSERT: PARTITION (…) and BY NAME are not supported on graft tables")
    val df = PlanShim.ofRows(spark, i.query)
    val aligned =
      if (i.userSpecifiedCols.isEmpty) alignPositional(tbl, df)
      else alignNamed(tbl, df, i.userSpecifiedCols)
    val parts = tbl.bucketSpec.map(_.partitionKeys).getOrElse(tbl.partitionLayout)
    versionDf(if (i.overwrite) tbl.overwrite(aligned, partitionBy = parts)
              else tbl.append(aligned, partitionBy = parts))
  }

  /** The named-column INSERT form: the query's columns bind POSITIONALLY
    * to the listed names; unlisted columns land as their DEFAULT or as
    * typed NULLs — except identity (stamped by the write path; naming
    * one is refused) and generated columns (compute-if-absent), which
    * stay ABSENT here. */
  private def alignNamed(tbl: VersionedTable, df: DataFrame,
                         names: Seq[String]): DataFrame = {
    val schemaByName = tbl.read.schema.fields.map(f => f.name -> f).toMap
    val idCols = tbl.identityColumns.map(_._1).toSet
    val genCols = tbl.generatedColumns.map(_._1).toSet
    val unknown = names.filterNot(schemaByName.contains)
    require(unknown.isEmpty,
      s"INSERT: unknown column(s) ${unknown.mkString(",")} at ${tbl.root}")
    require(names.distinct.length == names.length,
      s"INSERT: duplicate column in list: ${names.mkString(",")}")
    val namedIdent = names.filter(idCols.contains)
    require(namedIdent.isEmpty,
      s"INSERT: identity column(s) ${namedIdent.mkString(",")} are " +
        "GENERATED ALWAYS — omit them")
    require(df.columns.length == names.length,
      s"INSERT: query has ${df.columns.length} columns, list names " +
        s"${names.length}")
    val listed = names.toSet
    val dflts = tbl.defaultColumns.toMap
    val projected = tbl.read.schema.fields.toSeq
      .filterNot(f => idCols.contains(f.name))
      .filterNot(f => genCols.contains(f.name) && !listed.contains(f.name))
      .map { f =>
        if (listed.contains(f.name)) col(s"`${f.name}`").cast(f.dataType)
        // unlisted + DEFAULT declared → the default (constant-folded);
        // unlisted otherwise → typed NULL
        else dflts.get(f.name)
          .map(e => expr(e).cast(f.dataType).as(f.name))
          .getOrElse(lit(null).cast(f.dataType).as(f.name))
      }
    df.toDF(names.toIndexedSeq: _*).select(projected: _*)
  }

  /** TRUNCATE TABLE: a schema-preserving empty overwrite — old versions
    * stay readable (time travel), the partition layout carries through
    * the rewrite. Identity columns leave the frame (the write path
    * stamps them and refuses supplied values — zero rows either way). */
  private def truncate(t: VersionedTable): DataFrame = {
    val empty = t.identityColumns.map(_._1)
      .foldLeft(t.read.limit(0))(_.drop(_))
    versionDf(t.overwrite(empty,
      partitionBy =
        t.bucketSpec.map(_.partitionKeys).getOrElse(t.partitionLayout)))
  }

  /** DELETE FROM: graft.enableDeletionVectors=true routes to the
    * merge-on-read DV path (Delta's delta.enableDeletionVectors): a
    * point delete writes kilobytes of (file, position) sidecar instead
    * of rewriting every touched file-set. Otherwise a range/equality
    * predicate ([[rangeOf]]) takes the stats-pruned deleteRange (only
    * overlapping file-sets rewrite — Delta prunes DELETE by file stats
    * the same way); anything else is full COW. */
  private def delete(t: VersionedTable, cond: Expression): DataFrame =
    versionDf(
      if (t.boolProp("graft.enableDeletionVectors"))
        t.deleteVectors(PlanShim.column(cond))
      else rangeOf(t, cond) match {
        case Some((rc, lo, hi)) => t.deleteRange(rc, lo, hi)
        case None               => t.delete(PlanShim.column(cond))
      })

  /** UPDATE: the same stats-pruned routing as DELETE (Delta's
    * file-pruned UPDATE) — unless the assignment moves bucket/partition
    * keys, which a touched-sets-only rewrite cannot relocate. */
  private def update(t: VersionedTable, alias: String,
                     u: UpdateTable): DataFrame = {
    val assigns = u.assignments.map(a => assignee(a.key, alias) ->
      PlanShim.column(unqualify(a.value, alias))).toMap
    val keyCols = t.bucketSpec.map(sp => sp.keys ++ sp.partitionKeys)
      .getOrElse(t.partitionLayout).toSet
    val movesKeys = assigns.keySet.exists(keyCols.contains)
    val cond = u.condition.map(unqualify(_, alias))
      .getOrElse(Literal.TrueLiteral)
    versionDf(rangeOf(t, cond).filter(_ => !movesKeys) match {
      case Some((rc, lo, hi)) => t.updateRange(rc, lo, hi, assigns)
      case None               => t.update(assigns, PlanShim.column(cond))
    })
  }

  /** `INSERT INTO t REPLACE WHERE cond <query>` routing (Databricks'
    * replaceWhere surface): a range- or equality-shaped predicate over
    * one column takes the file-pruned [[VersionedTable.replaceRange]]
    * path — untouched file-sets are carried verbatim, the 100 TB
    * partition-backfill shape — anything else is a full COW
    * [[VersionedTable.replaceWhere]]. */
  private def routeReplace(t: VersionedTable, cond: Expression,
                           df: DataFrame): VersionedTable.LogEntry =
    rangeOf(t, cond) match {
      case Some((rc, lo, hi)) => t.replaceRange(rc, lo, hi, df)
      case None               => t.replaceWhere(PlanShim.column(cond), df)
    }

  /** The range-routable shape DELETE, UPDATE and REPLACE WHERE share:
    * `c = v` or `c BETWEEN lo AND hi` over one column of `t` → (column,
    * lo, hi). The range paths compare `c` with the bounds CAST to its
    * type, so a shape routes only where that selects exactly the rows
    * Spark's own `=` / BETWEEN would ([[rangeBound]]); anything else is
    * None, the general expression path. */
  private def rangeOf(t: VersionedTable,
                      cond: Expression): Option[(String, String, String)] = {
    def bounds(c: Expression, lo: Expression, hi: Expression) =
      (c, lo, hi) match {
        case (UnresolvedAttribute(Seq(name)), l: Literal, h: Literal) =>
          t.read.schema.find(_.name.equalsIgnoreCase(name)).flatMap(f =>
            for (a <- rangeBound(l, f.dataType); b <- rangeBound(h, f.dataType))
              yield (f.name, a, b))
        case _ => None
      }
    cond match {
      case EqualTo(c, v) => bounds(c, v, v)
      case f: UnresolvedFunction if f.nameParts.map(_.toLowerCase) ==
          Seq("between") && f.arguments.length == 3 && !f.isDistinct &&
          f.filter.isEmpty =>
        bounds(f.arguments(0), f.arguments(1), f.arguments(2))
      case _ => None
    }
  }

  /** A literal as a range bound on a column of type `dt`: a string on a
    * string, date or timestamp column (Spark casts the string to the
    * column's type, exactly as the range path does), or a number whose
    * value survives the cast to the numeric column's type and back —
    * `k = 1.5` on an INT column selects no row, where the cast bound
    * would select `k = 1`. */
  private def rangeBound(v: Literal, dt: DataType): Option[String] =
    (v.dataType, dt) match {
      case (_: StringType, _: StringType | DateType | TimestampType) =>
        Option(v.value).map(_.toString)
      case (lt: NumericType, ct: NumericType) =>
        Option(Cast(v, ct, None, EvalMode.LEGACY).eval())
          .filter(c =>
            Cast(Literal(c, ct), lt, None, EvalMode.LEGACY).eval() == v.value)
          .map(_.toString)
      case _ => None
    }

  /** Positional bind + cast of a query result to `tbl`'s schema.
    * GENERATED ALWAYS AS IDENTITY columns are never supplied: the
    * alignment targets the schema WITHOUT them, and the write path
    * stamps the values. Generated columns MAY be omitted
    * (compute-if-absent) or supplied (verified) — the alignment picks
    * whichever schema the query's column count matches. */
  private def alignPositional(tbl: VersionedTable,
                              df: DataFrame): DataFrame = {
    val idCols = tbl.identityColumns.map(_._1).toSet
    val genCols = tbl.generatedColumns.map(_._1).toSet
    val full = tbl.read.schema.fields.filterNot(f => idCols.contains(f.name))
    val reduced = full.filterNot(f => genCols.contains(f.name))
    val fields =
      if (df.columns.length == full.length || genCols.isEmpty) full
      else reduced
    require(df.columns.length == fields.length,
      s"INSERT: query has ${df.columns.length} columns, " +
        s"table ${tbl.root} expects ${full.length}" +
        (if (genCols.nonEmpty) s" (or ${reduced.length} letting generated " +
          s"${genCols.mkString(",")} compute)" else "") +
        (if (idCols.isEmpty) ""
         else s" (identity ${idCols.mkString(",")} auto-assigns)"))
    df.toDF(fields.map(_.name).toIndexedSeq: _*)
      .select(fields.map(f =>
        col(s"`${f.name}`").cast(f.dataType)).toIndexedSeq: _*)
  }

  /** COPY INTO — idempotent batch file ingest (the batch sibling of the
    * reference's Auto Loader landing-folder flow, docs/architecture.md:
    * 61,121, docs/backlog.md:70-71, and Databricks' COPY INTO): each
    * source file loads exactly once, reruns pick up only new files.
    * Loaded-file state lives in a nested ledger table
    * (`<root>/_copy_ledger` — outside vacuum's walk, reset by CLONE like
    * the txn ledger), and the load is exactly-once by an intent-first
    * two-phase protocol:
    *   1. RECOVER: a ledger intent whose data batch never landed (crash
    *      between the two appends) replays from the ledger's own record
    *      — the pending file list is `readAddedBetween` on the ledger,
    *      the data append idempotent via txn (appId, ledgerVersion);
    *   2. INTENT: the fresh file list appends to the ledger first;
    *   3. DATA: the files load in one append carrying the same txn.
    * A replayed step at any crash point is a metadata no-op. File
    * listing is driver-side, like Spark's own FileIndex — O(files)
    * metadata, not data. Single COPY INTO writer per table at a time
    * (concurrent racers could double-record an intent; same contract as
    * a streaming query owning its checkpoint). */
  private def copyInto(tbl: VersionedTable, srcDir: String,
                       fmt: String): DataFrame = {
    import spark.implicits._
    val ledger = VersionedTable(spark, tbl.root + "/_copy_ledger")
    val appId = s"graft-copy-into:${tbl.root}"
    val parts = tbl.bucketSpec.map(_.partitionKeys).getOrElse(tbl.partitionLayout)

    def aligned(df: DataFrame): DataFrame =
      if (!tbl.exists) df
      else {
        val schema = tbl.read.schema
        val missing = schema.fieldNames.filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"COPY INTO: source files lack column(s) ${missing.mkString(",")}")
        df.select(schema.fields.map(f =>
          col(s"`${f.name}`").cast(f.dataType)).toIndexedSeq: _*)
      }
    def load(paths: Seq[String], txnV: Long): Unit =
      tbl.append(aligned(readFiles(paths, fmt)), partitionBy = parts,
        txn = Some((appId, txnV)))

    // 1. recover a half-applied batch
    ledger.latestVersion.foreach { ledgerV =>
      val dataV = tbl.lastTxnVersion(appId).getOrElse(-1L)
      if (dataV < ledgerV) {
        val pending = ledger.readAddedBetween(dataV, ledgerV)
          .select("source_path").as[String].collect().toSeq.sorted
        load(pending, ledgerV)
      }
    }
    // 2+3. fresh files: intent, then data. The already-loaded set is
    // NOT materialized on the driver — the ledger grows with every file
    // ever loaded (millions for a long-lived landing zone), so the
    // dedup is a left-anti join of this listing against the ledger
    // relation (Delta's COPY INTO does the same against its metadata);
    // only the per-batch FRESH tail, bounded by arrival rate, comes
    // back to the driver to drive the actual file read.
    val listed = listFiles(srcDir)
    val fresh: Seq[String] =
      if (ledger.exists)
        listed.toDF("source_path")
          .join(ledger.read.select("source_path"), Seq("source_path"), "left_anti")
          .as[String].collect().toSeq.sorted
      else listed
    if (fresh.nonEmpty) {
      val intent = ledger.append(fresh.toDF("source_path"))
      load(fresh, intent.version)
    }
    Seq(fresh.size.toLong).toDF("n_files_loaded")
  }

  private def readFiles(paths: Seq[String], fmt: String): DataFrame =
    fmt.toLowerCase match {
      case "parquet" => spark.read.parquet(paths: _*)
      case "json"    => spark.read.json(paths: _*)
      case "csv"     => spark.read.option("header", "true")
        .option("inferSchema", "true").csv(paths: _*)
      case other => sys.error(s"COPY INTO: FILEFORMAT $other not supported " +
        "(PARQUET, JSON, CSV)")
    }

  /** MERGE INTO t USING src ON t.k = s.k [AND ...] — the backlog's
    * "MERGE pattern (idempotent upsert)" (docs/backlog.md:49-51,77) as a
    * statement. Three clause shapes map to a single engine primitive
    * each, so the plan is exactly the hand-written one:
    *   UPDATE SET * + INSERT *  →  [[VersionedTable.merge]] (bucket-COW
    *     upsert: only touched (partition, bucket) cells rewrite);
    *   INSERT * alone           →  insert-if-absent: one left-anti join
    *     against the target keys, then an O(new data) append;
    *   DELETE alone             →  a tombstone merge (delete-by-source).
    * Any other clause list — conditional, column-level, NOT MATCHED BY
    * SOURCE — evaluates first-match per row through
    * Merge.applyClausesWithLineage on the same bucket-COW path. Source
    * key references follow the rename the source frame gets (`ON t.k =
    * s.sk` makes `s.sk` mean the column now called `k`). */
  private def mergeInto(tbl: VersionedTable, tAlias: String,
                        m: MergeIntoTable): DataFrame = {
    val (srcPlan, sAlias) = m.sourceTable match {
      case SubqueryAlias(a, child) => (child, a.name)
      case r: UnresolvedRelation => (r, r.multipartIdentifier.last)
      case _ => sys.error("MERGE USING: a subquery source needs an alias")
    }
    def eqIc(a: String, b: String) = a.equalsIgnoreCase(b)
    val keyPairs = conjuncts(m.mergeCondition).map {
      case eq @ EqualTo(UnresolvedAttribute(Seq(a1, c1)),
                        UnresolvedAttribute(Seq(a2, c2))) =>
        if (eqIc(a1, tAlias) && eqIc(a2, sAlias)) (c1, c2)
        else if (eqIc(a1, sAlias) && eqIc(a2, tAlias)) (c2, c1)
        else sys.error(s"MERGE ON: aliases must be $tAlias/$sAlias: ${eq.sql}")
      case other =>
        sys.error("MERGE ON supports conjunctions of t.k = s.k, got: " +
          other.sql)
    }
    val renamed = keyPairs.foldLeft(PlanShim.ofRows(spark, srcPlan)) { case (d, (tk, sk)) =>
      if (tk == sk) d else d.withColumnRenamed(sk, tk)
    }
    val keys = keyPairs.map(_._1)
    (m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions) match {
      case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)), Seq()) =>
        versionDf(tbl.merge(renamed, keys))
      case (Seq(), Seq(InsertStarAction(None)), Seq()) =>
        val fresh = graft.ops.Keyed.notIn(renamed, tbl.read, keys)
        val parts = tbl.bucketSpec.map(_.partitionKeys)
          .getOrElse(tbl.partitionLayout)
        versionDf(tbl.append(fresh, partitionBy = parts))
      case (Seq(DeleteAction(None)), Seq(), Seq()) =>
        // every source key becomes a merge tombstone — matched target
        // rows are removed through the same bucket-COW path an upsert
        // takes (only touched cells rewrite); unmatched source keys are
        // no-ops. Keys route the tombstone; on a PARTITIONED merge table
        // the partition columns must ride too (they pick the cell) —
        // carried when the source has them, and their absence fails the
        // staging write loudly, exactly as it would for an upsert
        // without them.
        val parts = tbl.bucketSpec.map(_.partitionKeys).getOrElse(Nil)
        val keep = (keys ++ parts.filter(renamed.columns.contains)).distinct
        versionDf(tbl.merge(
          renamed.select(keep.map(col): _*)
            .withColumn(Merge.DeleteCol, lit(true)),
          keys))
      case (matched, notMatched, bySource) =>
        val renames = keyPairs.collect {
          case (tk, sk) if tk != sk => sk.toLowerCase -> tk
        }.toMap
        def bound(e: Expression): Column = PlanShim.column(
          Merge.requalify(e, sAlias)(n =>
            Seq(sAlias, renames.getOrElse(n.toLowerCase, n))))
        def sets(as: Seq[Assignment]): Seq[(String, Column)] =
          as.map(a => assignee(a.key, tAlias) -> bound(a.value))
        def updateOrDelete(a: ClauseAction): Merge.MergeAction = a match {
          case _: UpdateStarAction => Merge.UpdateAll
          case u: UpdateAction     => Merge.UpdateSet(sets(u.assignments))
          case _: DeleteAction     => Merge.DeleteRow
          case other => sys.error(s"MERGE: unsupported action $other")
        }
        val cl = Merge.Clauses(tAlias, sAlias,
          matched.map(a => Merge.MatchedClause(a.condition.map(bound),
            updateOrDelete(a))),
          notMatched.map(a => Merge.NotMatchedClause(a.condition.map(bound),
            a match {
              case _: InsertStarAction => Merge.InsertAll
              case i: InsertAction =>
                Merge.InsertValues(
                  i.assignments.map(x => assignee(x.key, tAlias)),
                  i.assignments.map(x => bound(x.value)))
              case other => sys.error(s"MERGE: unsupported action $other")
            })),
          bySource.map(a => Merge.BySourceClause(a.condition.map(bound),
            updateOrDelete(a))))
        versionDf(tbl.merge(renamed, keys, clauses = Some(cl)))
    }
  }

  /** The graft table a DML plan writes, with the name its expressions
    * qualify that table's columns by (the alias, else the last name
    * part); None when the target is not a graft table. */
  private def target(plan: LogicalPlan): Option[(VersionedTable, String)] =
    plan match {
      case SubqueryAlias(alias, child) =>
        target(child).map { case (t, _) => (t, alias.name) }
      case r: UnresolvedRelation =>
        owned(identOf(r.multipartIdentifier))
          .map((_, r.multipartIdentifier.last))
      case _ => None
    }

  /** A parsed multipart name in this funnel's identifier grammar: the
    * path form ``graft.`/p` `` or the dotted `layer.table` name. */
  private def identOf(parts: Seq[String]): String = parts match {
    case Seq(g, path) if g.equalsIgnoreCase("graft") && path.contains('/') =>
      s"graft.`$path`"
    case _ => parts.mkString(".")
  }

  /** `e` with `alias.c` references to the statement's own table made
    * plain `c`, the names the table's relation resolves. */
  private def unqualify(e: Expression, alias: String): Expression =
    Merge.requalify(e, alias)(Seq(_))

  /** The column a SET or INSERT assignment writes. */
  private def assignee(key: Expression, alias: String): String = key match {
    case a: UnresolvedAttribute =>
      (if (a.nameParts.length > 1 && a.nameParts.head.equalsIgnoreCase(alias))
        a.nameParts.tail else a.nameParts).mkString(".")
    case other => sys.error(s"not an assignable column: ${other.sql}")
  }

  /** The ONE identifier grammar: `layer.table` / `layer_table` via the
    * catalog, or ``graft.`path` `` opening the path directly (Delta's
    * ``delta.`path` `` form). Returns the table's root path without an
    * existence check — a clone/convert TARGET doesn't exist yet (and
    * [[VersionedTable.shallowCloneTo]]/[[VersionedTable.convertFrom]]
    * themselves refuse an already-versioned target). */
  private def targetRoot(ident: String): String = ident match {
    case PathIdent(path) => path
    case other =>
      val cat = catalog.getOrElse(sys.error(
        s"no catalog bound: use graft.`<path>` to address $other"))
      splitLayerName(cat, other).fold(sys.error(
        s"cannot resolve table identifier: $other (expected " +
          "<layer>.<table>, <layer>_<table>, or graft.`<path>`)")) {
        case (layer, name) => cat.table(layer, name).root
      }
  }

  /** [[targetRoot]] plus the existence check every non-creating
    * statement wants (explicit-path idents skip it, matching the
    * relation read surfaces — an empty path errors in the statement's
    * own empty-table guard with a better message). */
  private def resolve(ident: String): VersionedTable = ident match {
    case PathIdent(path) => VersionedTable(spark, path)
    case other =>
      val tbl = VersionedTable(spark, targetRoot(other))
      if (!tbl.exists) sys.error(s"table not found: $other")
      tbl
  }
}

object GraftSql {
  // Spark's parser marks a DML statement's target relation with this
  private val WriteTarget = UnresolvedRelation.REQUIRED_WRITE_PRIVILEGES

  /** `action` on the graft table `ident` names, limited to a table that
    * exists (creating one is ungoverned) unless `existing` is false. */
  private final case class Charge(action: String, ident: String,
                                  existing: Boolean = true)

  val SmallFileBytesConf = "spark.graft.optimize.smallFileBytes"
  val DefaultSmallFileBytes: Long = 128L * 1024 * 1024

  // materialized-view definition properties (durable in _props.json —
  // REFRESH and post-restart re-arming read them back)
  val MvSourceProp = "graft.mv.source"
  val MvGroupProp = "graft.mv.group"
  val MvAggsProp = "graft.mv.aggs"
  val MvVersionProp = "graft.mv.sourceVersion"
  /** Bumped on every CREATE [OR REPLACE]: namespaces the refresh txn
    * ledger so markers from a PREVIOUS definition era (or a dropped-and-
    * recreated source whose version counter restarted) can never be
    * mistaken for this era's absorbed slices. */
  val MvEpochProp = "graft.mv.epoch"
  /** Optional row predicate of a FILTERED materialized view (`CREATE
    * MATERIALIZED VIEW … AS SELECT … FROM t WHERE pred GROUP BY …`).
    * Maintenance applies it to every slice; filtered MVs are queried BY
    * NAME (Databricks MV usage) and never arm transparent routing — the
    * rewrite rule serves only unfiltered definitions it can prove
    * equivalent. */
  val MvWhereProp = "graft.mv.where"

  /** The closed MV select grammar, read off the parsed Aggregate →
    * (groupCols, (fn, col, out)*): bare group columns, and `fn(col) AS
    * name` items with fn ∈ sum|count|min|max|approx_count_distinct (`*`
    * only under count, which the parser spells `count(1)`),
    * percentile_approx(col, q) or approx_top_k(col, k). */
  private[tables] def mvSelect(groups: Seq[Expression],
      items: Seq[Expression]): (Seq[String], Seq[(String, String, String)]) = {
    val groupCols = groups.map {
      case UnresolvedAttribute(Seq(c)) if c.matches("[A-Za-z_]\\w*") => c
      case _ => sys.error("materialized view: GROUP BY must list plain " +
        s"columns, got ${groups.map(sourceText).mkString(", ")}")
    }
    def bad(item: Expression): Nothing = sys.error(
      "materialized view: select items must be a group column or " +
        s"sum|count|min|max|approx_count_distinct(col)|" +
        s"percentile_approx(col, q)|approx_top_k(col, k) AS name — got " +
        s"`${sourceText(item match { case UnresolvedAlias(c, _) => c
                                     case o => o })}` " +
        "(avg is derived by the rewrite rule from sum+count)")
    // a numeric argument keeps its statement text: the stored spec
    // replays exactly the quantile or k the DDL named
    def num(arg: Expression, shape: String, item: Expression): String =
      Some(arg).collect { case l: Literal => sourceText(l) }
        .filter(_.matches(shape)).getOrElse(bad(item))
    val (bare, aggs) = items.partitionMap {
      case UnresolvedAttribute(Seq(c)) => Left(c)
      case item @ Alias(f: UnresolvedFunction, out)
          if f.nameParts.length == 1 && !f.isDistinct && f.filter.isEmpty &&
            !f.ignoreNulls && f.orderingWithinGroup.isEmpty =>
        Right((f.nameParts.head.toLowerCase, f.arguments) match {
          // approx_count_distinct materializes as a mergeable HLL sketch
          // ("hll"): refresh unions partial sketches, never rescans
          case (fn @ ("sum" | "count" | "min" | "max" |
              "approx_count_distinct"), Seq(arg)) =>
            val g = if (fn == "approx_count_distinct") "hll" else fn
            val c = arg match {
              case UnresolvedAttribute(Seq(c)) => c
              case _: UnresolvedStar | Literal(1, IntegerType) => "*"
              case _ => bad(item)
            }
            require(c != "*" || g == "count",
              s"materialized view: $g(*) is not a materializable aggregate")
            (g, c, out)
          // a signed-mergeable log2-octave histogram ("quant<q>"): refresh
          // absorbs appends AND retractions as bucket merges, exactly
          case ("percentile_approx" | "approx_percentile",
              Seq(UnresolvedAttribute(Seq(c)), q)) =>
            val qt = num(q, """[0-9]*\.?[0-9]+""", item)
            require(qt.toDouble > 0 && qt.toDouble <= 1,
              s"materialized view: percentile_approx quantile must be in " +
                s"(0,1], got $qt")
            (s"quant$qt", c, out)
          // CMS + candidate-set state ("topk<k>"): counters cannot
          // retract, so deletes refresh through the touched-group recompute
          case ("approx_top_k", Seq(UnresolvedAttribute(Seq(c)), k)) =>
            val kt = num(k, """\d+""", item)
            require(kt.toInt > 0,
              s"materialized view: approx_top_k k must be positive, got $kt")
            (s"topk${kt.toInt}", c, out)
          case _ => bad(item)
        })
      case item => bad(item)
    }
    require(bare.toSet == groupCols.toSet,
      s"materialized view: select list's bare columns ${bare.mkString(",")} " +
        s"must equal GROUP BY ${groupCols.mkString(",")}")
    require(aggs.nonEmpty, "materialized view: at least one aggregate")
    val outs = aggs.map(_._3)
    require((outs ++ groupCols).distinct.size == outs.size + groupCols.size,
      s"materialized view: duplicate output names in ${outs.mkString(",")}")
    (groupCols, aggs)
  }

  /** Register precision for materialized `approx_count_distinct`
    * columns: ±~1.6%/√2^lgK ≈ 2.5% at 12, KB-scale per group. */
  private[graft] val MvHllLgK = 12

  /** Histogram resolution for materialized `percentile_approx` columns:
    * readouts land within 1/(2·sub) ≈ 3.1% relative (+0.5/scale
    * absolute) of the exact rank statistic; ≤64·sub buckets per sign
    * live at once — KB-scale per group at any data size. */
  private[graft] val MvQuantScale = 100L
  private[graft] val MvQuantSub = 16

  /** CMS parameters for materialized `approx_top_k` columns: ±eps·n
    * counting error at the stated confidence, KB-scale per group; the
    * library rollup's defaults (`ops/Sketches.freqRollup`). */
  private[graft] val MvCmsEps = 0.0005
  private[graft] val MvCmsConfidence = 0.99
  private[graft] val MvCmsSeed = 42

  /** Is `fn` a stored percentile-histogram spec (`quant<q>`)? */
  private[graft] def isQuantFn(fn: String): Boolean = fn.startsWith("quant")
  /** The quantile a `quant<q>` spec names, as its verbatim literal. */
  private[graft] def quantQ(fn: String): String = fn.stripPrefix("quant")
  /** Is `fn` a stored heavy-hitter spec (`topk<k>`)? */
  private[graft] def isTopkFn(fn: String): Boolean = fn.startsWith("topk")
  /** The k a `topk<k>` spec names. */
  private[graft] def topkK(fn: String): Int = fn.stripPrefix("topk").toInt
  /** Aggregates whose MV columns are ESTIMATES (sketches/histograms) —
    * these must never transparently replace a query's own aggregate
    * (different estimator, silently different numbers), so definitions
    * carrying any of them refresh-only and never arm routing. */
  private[graft] def approxAgg(fn: String): Boolean =
    fn == "hll" || isQuantFn(fn) || isTopkFn(fn)

  /** Register every custom function the MV build/maintain/read paths
    * may call (quant histograms, CMS scalars, top-k state) — idempotent
    * and quiet, invoked at each funnel entry. */
  private[graft] def registerMvFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.functions.QuantFunctions.register(spark)
    graft.functions.SketchFunctions.register(spark)
    graft.functions.TopkFunctions.register(spark)
  }

  private[graft] def mvAggColumns(
      aggs: Seq[(String, String, String)]): Seq[Column] =
    aggs.map { case (fn, c, out) =>
      (fn match {
        case "sum"   => org.apache.spark.sql.functions.sum(col(c))
        case "count" => if (c == "*")
          org.apache.spark.sql.functions.count(lit(1))
        else org.apache.spark.sql.functions.count(col(c))
        case "min"   => org.apache.spark.sql.functions.min(col(c))
        case "max"   => org.apache.spark.sql.functions.max(col(c))
        // the STORED column is the sketch (BINARY, mergeable);
        // presentation projects hll_sketch_estimate — see presentMvRead
        case "hll"   => org.apache.spark.sql.functions.call_function(
          "hll_sketch_agg", col(c), lit(MvHllLgK))
        // the STORED column is the histogram (map<bigint,bigint>,
        // signed-mergeable); presentation runs the per-row cumulative
        // readout — see presentMvRead. Callers must have
        // registerMvFunctions'd (every MV funnel entry does)
        case qf if isQuantFn(qf) =>
          org.apache.spark.sql.functions.call_function(
            "graft_quant_hist", col(c).cast("double"), lit(1L),
            lit(MvQuantScale), lit(MvQuantSub))
        // the STORED column is struct<sketch, cands> (CMS + candidate
        // set, both mergeable); presentation ranks and slices to k —
        // see presentMvRead. Items ride as strings (uniform hash family)
        case tf if isTopkFn(tf) =>
          org.apache.spark.sql.functions.call_function(
            "graft_topk_agg", col(c).cast("string"), lit(topkK(tf)),
            lit(MvCmsEps), lit(MvCmsConfidence), lit(MvCmsSeed))
      }).as(out)
    }

  /** Row-filter predicate applied to every governed read of the table
    * (`ALTER TABLE … SET ROW FILTER (pred)`). May reference
    * `current_principal()` — a LIVE expression folded from
    * `spark.graft.principal` per query execution
    * ([[graft.functions.CurrentPrincipal]]; NULL when unset — a filter
    * comparing against it then matches nothing, deny-by-default). */
  val RowFilterProp = "graft.rowFilter"
  /** Per-column mask expressions (`ALTER TABLE … ALTER COLUMN c SET
    * MASK (expr)`): property key `graft.columnMask.<col>`. */
  val ColumnMaskPrefix = "graft.columnMask."
  /** Column comments (`COMMENT ON COLUMN t.c IS '…'`): property key
    * `graft.columnComment.<col>`; table comments use plain `comment`. */
  val ColumnCommentPrefix = "graft.columnComment."

  /** `current_principal()` → a string literal, TEXT-level. Governed
    * reads no longer use this (they bind the live
    * [[graft.functions.CurrentPrincipal]] expression); it remains for
    * parser-only passes — identifier scans over policy/view text where
    * a bare `parseExpression` just needs principal-free attributes. */
  private[graft] def substPrincipal(sql: String,
                                    principal: Option[String]): String =
    """(?i)current_principal\s*\(\s*\)""".r.replaceAllIn(sql,
      java.util.regex.Matcher.quoteReplacement(
        principal.map(p => "'" + p.replace("'", "''") + "'")
          .getOrElse("CAST(NULL AS STRING)")))

  /** The fully-governed reader-facing relation: MV sketch presentation
    * ([[presentMvRead]]), then the row filter (on UNMASKED values —
    * the filter is policy, it must see the truth), then column masks
    * (cast back to the column's type, so the governed schema equals
    * the physical one). This is what [[Catalog.registerViews]] and a
    * bound GraftSql read ([[GraftSql.bindReads]]) bind —
    * SQL readers see policy-trimmed rows and masked values; the
    * physical table is reached only by owner-level library code, the
    * same trust line the grants ledger draws.
    *
    * `current_principal()` in the policy text stays a LIVE expression
    * ([[graft.functions.CurrentPrincipal]]) in the registered plan:
    * Catalyst folds it to the session's `spark.graft.principal` per
    * query execution, so flipping the principal conf changes what the
    * very next query sees — no re-registration. */
  private[graft] def governedRead(tbl: VersionedTable): DataFrame =
    governed(tbl, tbl.read)

  /** [[governedRead]]'s presentation and policy over any frame of `tbl`
    * — a pinned version, a tag, a change-feed slice — under the table's
    * CURRENT row filter and masks. A policy that does not resolve
    * against the frame (a column an old version lacks) refuses the
    * read: the rows are never returned unfiltered or unmasked. */
  private[graft] def governed(tbl: VersionedTable, frame: DataFrame): DataFrame = {
    // ONE properties read serves presentation and policy — this runs
    // per table per registerViews and per bound read, and _props.json
    // is a file read
    val props = tbl.properties
    val base = presentMvRead(frame, props)
    graft.functions.CurrentPrincipal.register(base.sparkSession)
    val filtered = props.get(RowFilterProp)
      .fold(base)(p => base.filter(expr(p)))
    val masks = props.collect {
      case (k, v) if k.startsWith(ColumnMaskPrefix) =>
        k.stripPrefix(ColumnMaskPrefix) -> v
    }
    val unmaskable = masks.keySet -- base.columns
    require(unmaskable.isEmpty, s"governed read of ${tbl.root}: masked " +
      s"column(s) ${unmaskable.mkString(", ")} absent from this version")
    if (masks.isEmpty) filtered
    else filtered.select(base.schema.fields.toSeq.map { f =>
      masks.get(f.name).fold(col(f.name))(m =>
        expr(m).cast(f.dataType).as(f.name))
    }: _*)
  }

  /** The reader-facing relation of an MV table: sketch-typed columns
    * (the `hll` specs' BINARY storage) present as their BIGINT
    * estimates under the SAME name, everything else verbatim — so
    * `SELECT approx_users FROM gold_mv` reads a number, while REFRESH
    * keeps merging the underlying registers. Non-MV tables (or
    * sketch-free MVs) pass through untouched. */
  private[graft] def presentMvRead(df: DataFrame,
                                   props: Map[String, String]): DataFrame = {
    val specs = RollupDef.tryRead(df.sparkSession, props).toSeq.flatMap(_.aggs)
    val hllOuts = specs.collect { case ("hll", _, o) => o }.toSet
    // quant columns present as the DOUBLE readout of their stored
    // histogram: a per-row cumulative walk over the ≤2k-entry map
    // (Sketches.quantReadoutSql) — no join, no shuffle, no companion
    val quantOuts = specs.collect {
      case (f, _, o) if isQuantFn(f) => o -> quantQ(f)
    }.toMap
    // topk columns present as the k-sliced, estimate-ranked readout of
    // their stored state: array<struct<item, est_count>> — per-row
    // transform over the O(k) candidate array, no join, no shuffle
    val topkOuts = specs.collect {
      case (f, _, o) if isTopkFn(f) => o -> topkK(f)
    }.toMap
    if (hllOuts.isEmpty && quantOuts.isEmpty && topkOuts.isEmpty) df
    else {
      if (topkOuts.nonEmpty) // the readout calls graft_cms_estimate
        graft.functions.SketchFunctions.register(df.sparkSession)
      df.select(df.columns.toSeq.map { c =>
        if (hllOuts(c))
          org.apache.spark.sql.functions.call_function(
            "hll_sketch_estimate", col(c)).as(c)
        else if (topkOuts.contains(c))
          expr(topkReadoutSql(c, topkOuts(c))).as(c)
        else quantOuts.get(c).fold(col(c))(q =>
          expr(graft.ops.Sketches.quantReadoutSql(c, q,
            MvQuantScale, MvQuantSub)).as(c))
      }: _*)
    }
  }

  /** Per-row heavy-hitter readout of one stored topk struct: estimate
    * every candidate against the row's own sketch, rank (est desc,
    * item asc — deterministic), slice to k. */
  private[graft] def topkReadoutSql(c: String, k: Int): String =
    s"""slice(array_sort(
      transform($c.cands, i -> named_struct(
        'item', i, 'est_count', graft_cms_estimate($c.sketch, i))),
      (a, b) -> IF(a.est_count > b.est_count, -1,
        IF(a.est_count < b.est_count, 1,
          IF(a.item < b.item, -1, IF(a.item > b.item, 1, 0))))),
      1, $k)"""

  /** Txn-app-id prefix for MV maintenance merges (replay idempotence). */
  private[graft] val MvTxnApp = "graft-mv:"

  /** The exact-MV partial aggregate: `aggs` over `df` by `groupCols`.
    * Callers must have registerMvFunctions'd. */
  private[graft] def mvAggregate(groupCols: Seq[String],
      aggs: Seq[(String, String, String)])(df: DataFrame): DataFrame = {
    val cols = mvAggColumns(aggs)
    df.groupBy(groupCols.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Per-output-column merge combines ([[mvCombine]]) of an agg set —
    * the same for append partials and signed CDF partials. */
  private[graft] def mvCombines(aggs: Seq[(String, String, String)])
      : Map[String, (Column, Column) => Column] =
    aggs.map { case (f, _, o) => o -> mvCombine(f) }.toMap

  /** Whether `aggs` can absorb retractions from a row-level change feed:
    * sum/count/quant only, count(*) materialized (emptied groups must
    * drop), every sum(c) with a count(c) companion (NULL-fix). Quant
    * histograms need no companion — bucket counts retract directly and
    * the map carries its own value count. */
  private[graft] def cdfMaintainable(aggs: Seq[(String, String, String)]): Boolean =
    aggs.exists(a => a._1 == "count" && a._2 == "*") &&
      aggs.forall { case (f, c, _) =>
        f == "count" || isQuantFn(f) || (f == "sum" && aggs.exists(a =>
          a._1 == "count" && a._2 == c))
      }

  /** The retractable form of a [[cdfMaintainable]] agg set (None
    * otherwise): the SIGNED partial over a change-feed slice
    * (+postimage/insert, −preimage/delete) and the in-commit repair.
    * The repair's post-combine values already hold the post-merge
    * counts, so the merge itself (a) drops a group whose count(*)
    * reached zero — including a group inserted AND deleted within one
    * slice, which must never land — and (b) NULL-fixes a sum whose
    * count(c) companion hit zero (signed arithmetic leaves 0 where a
    * recompute shows NULL — the classic incremental-MV retraction bug). */
  private[graft] def mvRetract(groupCols: Seq[String],
      aggs: Seq[(String, String, String)]): Option[graft.plans.Maintained.Retract] =
    if (!cdfMaintainable(aggs)) None
    else {
      import org.apache.spark.sql.functions.{call_function, sum}
      val signedAggs = aggs.map {
        case ("count", "*", o) => sum(col("__sgn")).as(o)
        case ("count", c, o) =>
          sum(when(col(c).isNotNull, col("__sgn")).otherwise(0L)).as(o)
        case ("sum", c, o) => sum(col(c) * col("__sgn")).as(o)
        // the sign rides INTO the histogram: preimages subtract from
        // exactly the buckets they once incremented
        case (qf, c, o) => call_function("graft_quant_hist",
          col(c).cast("double"), col("__sgn"),
          lit(MvQuantScale), lit(MvQuantSub)).as(o)
      }
      val sgn = when(col("_change_type")
          .isin("insert", "update_postimage"), 1L)
        .when(col("_change_type").isin("delete", "update_preimage"), -1L)
      val countStar = aggs.collectFirst { case ("count", "*", o) => o }.get
      val nullFixes = aggs.collect {
        case ("sum", c, o) =>
          val cnt = aggs.collectFirst { case ("count", `c`, oc) => oc }.get
          o -> when(col(cnt) === 0L, lit(null)).otherwise(col(o))
      }.toMap
      Some(graft.plans.Maintained.Retract(
        feed => feed.withColumn("__sgn", sgn)
          .groupBy(groupCols.map(col): _*)
          .agg(signedAggs.head, signedAggs.tail: _*),
        graft.ops.Merge.PostCombine(set = nullFixes,
          deleteWhen = Some(col(countStar) === 0L))))
    }

  /** Apply one slice of a row-level change feed to an MV table as
    * SIGNED deltas through the shared absorb step — the `graft-table`
    * sink's `aggregate` mode (one micro-batch per call, `txn`-markered
    * for exactly-once replay); REFRESH absorbs its slices inside
    * [[graft.plans.Maintained.refresh]]. O(changed rows) + the touched
    * MV cells; the emptied-group drop and sum NULL-fix ride INSIDE the
    * markered merge commit ([[mvRetract]]), so a replayed batch no-ops
    * the whole thing atomically. An empty slice commits nothing; NULL
    * group keys throw [[CdfNotExpressible]] (the sink surfaces it). */
  private[graft] def applyCdfDelta(mv: VersionedTable, feed: DataFrame,
                                   groupCols: Seq[String],
                                   aggs: Seq[(String, String, String)],
                                   txn: Option[(String, Long)],
                                   partitionBy: Seq[String] = Nil,
                                   numBuckets: Int =
                                     VersionedTable.DefaultMergeBuckets): Unit = {
    registerMvFunctions(feed.sparkSession)
    val retract = mvRetract(groupCols, aggs)
    require(retract.isDefined,
      "CDF aggregate maintenance needs count(*) plus sum/count/quant " +
        s"aggregates (with count(c) for every sum(c)); got ${aggs.mkString(",")}")
    graft.plans.Maintained.absorb(mv, retract.get.partial(feed), groupCols,
      mvCombines(aggs), txn, Some(retract.get.repair), partitionBy, numBuckets)
    ()
  }

  /** Idempotent standalone repair of the CDF maintenance invariants
    * ([[mvRetract]]'s in-commit repair as probe-guarded commits). It
    * runs only where a slice committed by an older binary — whose
    * process died between the markered merge and the then-separate
    * follow-ups — could have left phantoms: a CDF sink's first trigger
    * (REFRESH sweeps with the same repair on a ledger-healed resume,
    * inside [[graft.plans.Maintained.refresh]]). */
  private[graft] def sweepCdfPhantoms(mv: VersionedTable,
      aggs: Seq[(String, String, String)]): Unit =
    mvRetract(Nil, aggs).foreach(x => graft.plans.Maintained.sweep(mv, x.repair))

  /** A rollup `ident` (table `mv`) reads from the table on `sides`. */
  private final case class Dependent(ident: String, mv: VersionedTable,
                                     defn: RollupDef, sides: Seq[Int]) {
    def keyed(c: String): Boolean = sides.exists(defn.keyed(_)(c))
    def otherSides: Seq[VersionedTable] =
      defn.sources.indices.filterNot(sides.contains).map(defn.sources)
  }

  /** The `fn:col:out;…` agg-spec string [[parseAggSpecs]] reads. */
  private[graft] def formatAggSpecs(aggs: Seq[(String, String, String)]): String =
    aggs.map { case (f, c, o) => s"$f:$c:$o" }.mkString(";")

  /** Column names a stored predicate or expression text references. */
  private[graft] def referencedCols(spark: SparkSession,
                                    sqlText: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(sqlText).collect {
      case a: UnresolvedAttribute => a.nameParts.last
    }.toSet

  /** Parse the `fn:col:out;…` agg-spec string (the [[MvAggsProp]]
    * format, also the sink's `aggregate` option). */
  private[graft] def parseAggSpecs(s: String): Seq[(String, String, String)] =
    s.split(";").toSeq.map { one =>
      one.split(":", 3) match {
        case Array(f, c, o) if Set("sum", "count", "min", "max", "hll")(f) ||
            (isQuantFn(f) &&
              scala.util.Try(quantQ(f).toDouble).toOption
                .exists(q => q > 0 && q <= 1)) ||
            (isTopkFn(f) &&
              scala.util.Try(topkK(f)).toOption.exists(_ > 0)) =>
          (f, c, o)
        case _ => sys.error(s"bad aggregate spec `$one` (expected " +
          "fn:col:out with fn in sum|count|min|max|hll|quant<q>|topk<k>)")
      }
    }

  /** Combine a delta aggregate into the MV row under merge. sum uses the
    * nullable-combine (`coalesce(t+u, t, u)`): a delta group whose
    * values are all NULL arrives with sum NULL and must not erase the
    * accumulated value; least/greatest already skip NULL args. */
  private[graft] def mvCombine(fn: String): (Column, Column) => Column =
    fn match {
      case "sum"   => (t, u) =>
        org.apache.spark.sql.functions.coalesce(t + u, t, u)
      case "count" => (t, u) => t + u
      case "min"   => (t, u) => org.apache.spark.sql.functions.least(t, u)
      case "max"   => (t, u) => org.apache.spark.sql.functions.greatest(t, u)
      // register-wise max — the union EXACTLY equals a full rebuild's
      // sketch. coalesce: a delta group whose values were all NULL
      // aggregates to a NULL sketch and must not erase the registers
      case "hll"   => (t, u) => org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.call_function("hll_union", t, u),
        t, u)
      // bucket-wise SIGNED addition, zero-net buckets dropped — the
      // merged histogram EXACTLY equals a rebuild's (counts form a
      // group under addition, so this combine serves appends AND
      // signed CDF deltas alike)
      case qf if isQuantFn(qf) => (t, u) => {
        import org.apache.spark.sql.functions.{coalesce, map_filter, map_zip_with, lit => l}
        coalesce(map_filter(
          map_zip_with(t, u, (_, a, b) =>
            coalesce(a, l(0L)) + coalesce(b, l(0L))),
          (_, x) => x =!= 0L), t, u)
      }
      // counter-wise sketch sum + candidate union, estimate-pruned —
      // mirrors the library freq rollup's merge + pruneCandidates
      case tf if isTopkFn(tf) => (t, u) =>
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.call_function(
            "graft_topk_combine", t, u,
            org.apache.spark.sql.functions.lit(topkK(tf))), t, u)
    }

  /** UTC timestamp literal → epoch millis (`yyyy-MM-dd[ HH:mm:ss]`,
    * `T` separator accepted) — shared by SQL AS OF forms and the
    * streaming source's `startingTimestamp` option. The session clock
    * is pinned UTC (every entry point sets
    * `spark.sql.session.timeZone=UTC`), so the literal parses in UTC
    * too — `Timestamp.valueOf` would silently shift by the JVM default
    * zone. */
  private[graft] def parseTsUtc(ts: String): Long = {
    val t = ts.trim
    val ldt =
      if (t.contains(" ") || t.contains("T"))
        java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      else java.time.LocalDate.parse(t).atStartOfDay // date-only literal
    ldt.atZone(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
  }

  /** Spark's SQL parser, except that CREATE TABLE keeps every
    * TBLPROPERTIES key: Spark's own catalog reserves `owner`,
    * `location`, `provider`, … while a graft table stores them as plain
    * properties. */
  private val Parser = new SparkSqlParser {
    override val astBuilder: SparkSqlAstBuilder = new SparkSqlAstBuilder {
      override def cleanTableProperties[V](ctx: ParserRuleContext,
          properties: Map[String, V]): Map[String, V] = properties
    }
  }

  def apply(spark: SparkSession, catalog: Catalog): GraftSql =
    new GraftSql(spark, Some(catalog))
  def apply(spark: SparkSession): GraftSql = new GraftSql(spark, None)

  // Identifier: a backticked explicit path, or a dotted/underscored name
  // whose word-shaped parts may be backticked (Spark reads `silver_t`
  // and silver_t alike)
  private val Ident = """(graft\.`[^`]+`|(?:`\w+`|\w+)(?:\.(?:`\w+`|\w+))*)"""
  private val OptimizeWhereStmt =
    ("""(?is)\s*OPTIMIZE\s+""" + Ident +
      """\s+WHERE\s+(.+?)\s*;?\s*""").r
  private val OptimizeStmt =
    ("""(?is)\s*OPTIMIZE\s+""" + Ident +
      """(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*""").r
  private val FsckStmt =
    ("""(?is)\s*FSCK\s+REPAIR\s+TABLE\s+""" + Ident +
      """(\s+DRY\s+RUN)?\s*;?\s*""").r
  private val RestoreVersionStmt =
    ("""(?is)\s*RESTORE\s+TABLE\s+""" + Ident +
      """\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""").r
  private val RestoreTimestampStmt =
    ("""(?is)\s*RESTORE\s+TABLE\s+""" + Ident +
      """\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""").r
  private val RestoreTagStmt =
    ("""(?is)\s*RESTORE\s+TABLE\s+""" + Ident +
      """\s+TO\s+TAG\s+'([^']+)'\s*;?\s*""").r
  private val CloneStmt =
    ("""(?is)\s*CREATE\s+TABLE\s+""" + Ident +
      """\s+SHALLOW\s+CLONE\s+""" + Ident + """\s*;?\s*""").r
  private val RefreshMvStmt =
    ("""(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+""" + Ident +
      """\s*;?\s*""").r
  // Spark's parser has no CREATE OR REPLACE MATERIALIZED VIEW: the
  // funnel reads that head and parses the rest as CREATE MATERIALIZED VIEW
  private val OrReplaceMvHead =
    """(?is)(\s*CREATE\s+)OR\s+REPLACE\s+(MATERIALIZED\s+VIEW\b.*)""".r

  /** Attribute a join-MV WHERE clause to dim sides. Each AND-ed conjunct
    * must reference qualified columns of exactly ONE dim (`d.is_current`,
    * `d.tier = 'gold'`); the qualifiers are cut so the predicate applies
    * to that dim relation alone ([[graft.plans.JoinMv.DimSide.filter]]),
    * which keeps dim batches absorbing as signed deltas (σ distributes
    * over ΔD). Fact-side conjuncts are refused: a fact filter does NOT
    * commute with the fact-CDF maintenance path as stored. A
    * parenthesized operand stays one conjunct, as written. Returns one
    * optional filter per dim, positionally. */
  private[tables] def attributeJoinMvWhere(where: Option[String],
      factIdent: String, dimIdents: Seq[String]): Seq[Option[String]] = {
    val acc = Array.fill[List[String]](dimIdents.length)(Nil)
    where.map(_.trim).filter(_.nonEmpty).foreach { w =>
      val root = Parser.parseExpression(w)
      // [s, t) widened over the parentheses that wrap exactly it
      def written(s: Int, t: Int): (Int, Int) = {
        val i = w.lastIndexWhere(!_.isWhitespace, s - 1)
        val j = w.indexWhere(!_.isWhitespace, t)
        if (i >= 0 && j >= 0 && w(i) == '(' && w(j) == ')') written(i, j + 1)
        else (s, t)
      }
      // the parser folds an AND chain into And nodes sharing the chain's
      // span; a parenthesized operand (or a wrapped whole) keeps its own
      val chain = Some(span(root)).filter(sp => written(sp._1, sp._2) == sp)
      def split(e: Expression): Seq[Expression] = e match {
        case a: And if chain.contains(span(a)) => split(a.left) ++ split(a.right)
        case o => Seq(o)
      }
      split(root).foreach { c =>
        val (s, t) = (written _).tupled(span(c))
        val conj = w.substring(s, t)
        val refs = c.collect {
          case a: UnresolvedAttribute if a.nameParts.length > 1 => a
        }
        require(refs.nonEmpty, "materialized view join WHERE: conjunct " +
          s"`$conj` has no qualified column reference — qualify " +
          "columns with the joined table names")
        val sides = refs.map(a =>
          joinSide(a.nameParts.init, factIdent, dimIdents, Some(conj)))
        require(!sides.contains(-1),
          s"materialized view join WHERE: `$conj` references the FACT " +
            "side — only dim-side predicates are supported in the join " +
            "form (filter the fact with a single-table MV upstream)")
        require(sides.distinct.length == 1,
          s"materialized view join WHERE: `$conj` references multiple " +
            "dims — each conjunct must touch exactly one dim")
        // cut each qualifier at the attribute's offsets; a backticked
        // column keeps its quoting (`is current` stays quoted)
        val sb = new StringBuilder(conj)
        refs.sortBy(a => -span(a)._1).foreach { a =>
          val ((as, at), col) = (span(a), a.nameParts.last)
          sb.replace(as - s, at - s, if (w(at - 1) != '`') col
            else s"`${col.replace("`", "``")}`")
        }
        acc(sides.head) ::= sb.toString
      }
    }
    acc.toSeq.map(l =>
      if (l.isEmpty) None
      else Some(l.reverse.map(c => s"($c)").mkString(" AND ")))
  }

  /** Key pairs (fact column, dim column) of a join-form ON condition:
    * AND-ed `qual.col = qual.col` equalities. */
  private[tables] def joinKeys(on: Expression, factIdent: String,
                               dimIdent: String): Seq[(String, String)] =
    conjuncts(on).map {
      case EqualTo(UnresolvedAttribute(q1 :+ c1), UnresolvedAttribute(q2 :+ c2))
          if q1.nonEmpty && q2.nonEmpty =>
        (joinSide(q1, factIdent, Seq(dimIdent), None),
          joinSide(q2, factIdent, Seq(dimIdent), None)) match {
          case (-1, 0) => (c1, c2)
          case (0, -1) => (c2, c1)
          case _ => sys.error("materialized view join: each ON " +
            "conjunct must equate a fact column with a dim column")
        }
      case other => sys.error("materialized view join: unsupported " +
        s"ON conjunct `${sourceText(other)}` (only qual.k = qual.k " +
        "equalities)")
    }

  /** The join side a column qualifier names: -1 for the fact, else the
    * dim's index. A qualifier is a joined table's full ident or its part
    * after the first '.', never split at '_' (`dim` must not alias
    * `my_dim`, or a conjunct could mis-attribute). `conj` is the WHERE
    * conjunct it sits in, None for an ON key. */
  private def joinSide(qualifier: Seq[String], factIdent: String,
                       dimIdents: Seq[String], conj: Option[String]): Int = {
    val (q, sides) = (qualifier.mkString("."), factIdent +: dimIdents)
    val hits = sides.indices.filter { i =>
      val id = stripTicks(sides(i)).toLowerCase
      Set(id, id.split("\\.", 2).last)(q.toLowerCase)
    }
    val (head, in) = conj.fold(("materialized view join:", ""))(c =>
      ("materialized view join WHERE:", s" in `$c`"))
    require(hits.nonEmpty, s"$head unknown qualifier `$q`$in — qualify " +
      conj.fold("key columns with the joined table names")(_ =>
        "with a joined table's name"))
    require(hits.head == 0 || hits.length == 1, s"$head qualifier `$q`$in " +
      s"matches more than one dim (${hits.map(sides).mkString(", ")}) — " +
      "use the full table name")
    hits.head - 1
  }

  /** `e` split at its AND nodes. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  /** [start, end) of a parsed expression's statement text, over its
    * whole subtree (a BETWEEN node's own origin starts at its keyword). */
  private def span(e: Expression): (Int, Int) = {
    val offsets = e.collect {
      case n if n.origin.startIndex.isDefined && n.origin.stopIndex.isDefined =>
        (n.origin.startIndex.get, n.origin.stopIndex.get + 1)
    }
    (offsets.map(_._1).min, offsets.map(_._2).max)
  }

  /** The statement text a parsed expression came from. */
  private[tables] def sourceText(e: Expression): String = {
    val (s, t) = span(e)
    e.collectFirst { case n if n.origin.sqlText.isDefined =>
      n.origin.sqlText.get.substring(s, t) }.get
  }

  private val ShowViewsStmt = """(?is)\s*SHOW\s+VIEWS\s*;?\s*""".r
  private val ShowMvsStmt =
    """(?is)\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*""".r
  // governance (resources/uc/grants.sql:26-60 — the reference's grant
  // template): privileges are comma-separated words (possibly
  // multi-word: USE SCHEMA / ALL PRIVILEGES), principals backticked
  // group names or bare words
  val PrincipalConf: String = graft.functions.CurrentPrincipal.Conf
  private val GrantStmt =
    """(?is)\s*GRANT\s+([\w\s,]+?)\s+ON\s+(?i:(TABLE|SCHEMA|CATALOG))\s+([\w.`]+)\s+TO\s+`?([\w@.-]+)`?\s*;?\s*""".r
  private val RevokeStmt =
    """(?is)\s*REVOKE\s+([\w\s,]+?)\s+ON\s+(?i:(TABLE|SCHEMA|CATALOG))\s+([\w.`]+)\s+FROM\s+`?([\w@.-]+)`?\s*;?\s*""".r
  private val ShowGrantsOnCatalogStmt =
    """(?is)\s*SHOW\s+GRANTS\s+ON\s+CATALOG\s*;?\s*""".r
  private val ShowGrantsOnStmt =
    """(?is)\s*SHOW\s+GRANTS\s+ON\s+(?:(?i:(TABLE|SCHEMA|CATALOG))\s+)?([\w.`]+)\s*;?\s*""".r
  private val ShowGrantsToStmt =
    """(?is)\s*SHOW\s+GRANTS\s+TO\s+`?([\w@.-]+)`?\s*;?\s*""".r
  private val ShowGrantsStmt = """(?is)\s*SHOW\s+GRANTS\s*;?\s*""".r
  // refusal probe for GRANT/REVOKE forms the strict arms above miss
  private val GrantAdminHead = """(?is)^\s*(GRANT|REVOKE)\b.*""".r
  private val ConvertStmt =
    ("""(?is)\s*CONVERT\s+TO\s+GRAFT\s+parquet\.`([^`]+)`\s+AS\s+""" +
      Ident + """\s*;?\s*""").r
  private val VacuumStmt =
    ("""(?is)\s*VACUUM\s+""" + Ident +
      """(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?(\s+IGNORE\s+PINS)?""" +
      """(\s+DRY\s+RUN)?\s*;?\s*""").r
  private val VacuumDetailStmt =
    ("""(?is)\s*VACUUM\s+""" + Ident +
      """(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?\s+DRY\s+RUN\s+DETAIL\s*;?\s*""").r
  private val VacuumExpireStmt =
    ("""(?is)\s*VACUUM\s+""" + Ident +
      """(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?\s+FORCE\s+EXPIRE\s+PINS""" +
      """\s+OLDER\s+THAN\s+(\d+)\s+(MINUTE|HOUR|DAY)S?\s*;?\s*""").r
  // refusal probe: FORCE EXPIRE PINS with no (or a malformed) OLDER
  // THAN clause must fail naming the missing age bound, not fall
  // through to Spark's parser with an opaque syntax error
  private val VacuumExpireBareStmt =
    ("""(?is)\s*VACUUM\s+""" + Ident +
      """(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?\s+FORCE\s+EXPIRE\s+PINS""" +
      """(\s+OLDER\s+THAN\b.*?)?\s*;?\s*""").r
  private val ShowPinsStmt =
    ("""(?is)\s*SHOW\s+PINS\s+""" + Ident + """\s*;?\s*""").r
  private val ShowAllPinsStmt =
    """(?is)\s*SHOW\s+PINS\s*;?\s*""".r
  private val ExplainRewriteStmt =
    """(?is)\s*EXPLAIN\s+REWRITE\s+(.+?)\s*;?\s*""".r
  private val DropPinStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Ident +
      """\s+DROP\s+PIN\s+'([^']+)'\s*;?\s*""").r
  private val DescHistoryStmt =
    ("""(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+""" + Ident + """\s*;?\s*""").r
  private val DescDetailStmt =
    ("""(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+""" + Ident + """\s*;?\s*""").r
  private val PathIdent = """graft\.`([^`]+)`""".r

  private val UndropTableStmt =
    ("""(?is)\s*UNDROP\s+TABLE\s+""" + Ident + """\s*;?\s*""").r
  private val CopyIntoStmt =
    ("""(?is)\s*COPY\s+INTO\s+""" + Ident +
      """\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*(\w+)\s*;?\s*""").r
  private val AtVersion = """(?i)@v(\d+)""".r
  private val CreateTagStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Ident +
      """\s+CREATE\s+TAG\s+(`[^`]+`|[\w.\-]+)""" +
      """(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""").r
  private val DropTagStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Ident +
      """\s+DROP\s+TAG\s+(`[^`]+`|[\w.\-]+)\s*;?\s*""").r
  private val ShowTagsStmt =
    ("""(?is)\s*SHOW\s+TAGS\s+""" + Ident + """\s*;?\s*""").r
  private val ReorgStmt =
    ("""(?is)\s*REORG\s+TABLE\s+""" + Ident +
      """\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*""").r
  private val GenerateManifestStmt =
    ("""(?is)\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+""" +
      Ident + """\s*;?\s*""").r

  /** true at every index where a textual rewrite must NOT begin: inside
    * a `'…'` or `"…"` STRING literal (quotes included, `\`-escapes
    * honored — Spark's default parser accepts `'don\'t'`) and inside a
    * backtick-quoted identifier's BODY (a match starting there is part
    * of a quoted name — e.g. a column literally named `` `s.x` `` —
    * and rewriting it would nest backticks into malformed SQL). The
    * opening backtick itself stays false so rewriters whose match
    * begins OUTSIDE and legitimately spans `alias.`col`` still fire. */
  private[tables] def stringLiteralMask(s: String): Array[Boolean] = {
    val mask = new Array[Boolean](s.length)
    var state = ' ' // ' ' outside, '\''/'"' in string, '`' in identifier
    var esc = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      state match {
        case '\'' | '"' =>
          mask(i) = true
          if (esc) esc = false
          else if (c == '\\') esc = true
          else if (c == state) state = ' '
        case '`' =>
          mask(i) = true
          if (c == '`') state = ' '
        case _ =>
          if (c == '\'' || c == '"') { mask(i) = true; state = c }
          else if (c == '`') state = '`'
      }
      i += 1
    }
    mask
  }

  private val SetRowFilterStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Ident +
      """\s+SET\s+ROW\s+FILTER\s*\((.+)\)\s*;?\s*""").r
  private val DropRowFilterStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Ident +
      """\s+DROP\s+ROW\s+FILTER\s*;?\s*""").r
  private val SetMaskStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Ident +
      """\s+ALTER\s+COLUMN\s+(`[^`]+`|\w+)\s+SET\s+MASK\s*\((.+)\)\s*;?\s*""").r
  private val DropMaskStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Ident +
      """\s+ALTER\s+COLUMN\s+(`[^`]+`|\w+)\s+DROP\s+MASK\s*;?\s*""").r
  // Iceberg-style partition evolution: metadata-only re-declaration of
  // the hive layout; () evolves to flat
  private val SetPartitionedByStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Ident +
      """\s+SET\s+PARTITIONED\s+BY\s*\(([^)]*)\)\s*;?\s*""").r
  // a FOREIGN KEY whose REFERENCES names no columns (it references the
  // parent's primary key): Spark 4.1's parser fails on that form with a
  // NullPointerException, so it keeps a hand arm; every other key and
  // CHECK constraint is a parsed plan node
  private val AddFkNoColsStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Ident +
      """\s+ADD\s+CONSTRAINT\s+(\w+)\s+FOREIGN\s+KEY\s*\(([^)]+)\)""" +
      """\s+REFERENCES\s+""" + Ident +
      """(?:\s+NOT\s+ENFORCED)?(\s+RELY)?\s*;?\s*""").r
  // COMMENT ON COLUMN (Spark's parser has no such statement):
  // single-quoted text ('' = escaped quote) or NULL to unset. The whole
  // dotted name is captured; its last segment is the column.
  private val CommentColumnStmt =
    """(?is)\s*COMMENT\s+ON\s+COLUMN\s+([\w.]+)\s+IS\s+('(?:[^']|'')*'|NULL)\s*;?\s*""".r
  // ------------------------------------------------ small text helpers

  private def stripTicks(s: String): String =
    s.trim.stripPrefix("`").stripSuffix("`")

  /** One pass over SQL text by its lexical regions: `'…'` and `"…"`
    * literals (backslash escapes honoured) and backticked names pass
    * through whole; a `--` comment drops up to its newline; a `/* … */`
    * comment (nested ones close in pairs, as Spark's lexer reads them) is
    * kept when `keepBlock` (hints ride in them), else read as one space;
    * every other character goes through `code`. */
  private def scanSql(s: String, keepBlock: Boolean)(
      code: (StringBuilder, Char) => Unit): String = {
    val out = new StringBuilder
    var i = 0
    def copyTo(j: Int): Unit = { out ++= s.substring(i, j); i = j }
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        var j = i + 1
        while (j < s.length && s.charAt(j) != c) {
          if (c != '`' && s.charAt(j) == '\\') j += 1
          j += 1
        }
        copyTo(math.min(j + 1, s.length))
      } else if (s.startsWith("--", i)) {
        val nl = s.indexOf('\n', i)
        i = if (nl < 0) s.length else nl
      } else if (s.startsWith("/*", i)) {
        var j = i + 2
        var depth = 1
        while (j < s.length && depth > 0) {
          if (s.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (s.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        j = math.min(j, s.length)
        if (keepBlock) copyTo(j) else { code(out, ' '); i = j }
      } else { code(out, c); i += 1 }
    }
    out.toString
  }

  /** `s` with each comment outside literals and backticked names read
    * as nothing (`--`) or one space (`/* … */`); all else is kept. */
  private[tables] def stripComments(s: String): String =
    scanSql(s, keepBlock = false)(_ += _)

  /** Whitespace runs and comments OUTSIDE string literals collapse to one
    * space: named-expr ledgers (CHECK constraints, MV predicates) store
    * their exprs line-framed and surface them verbatim, so multiline DDL
    * canonicalizes — and a `--` comment must go, not swallow the rest of
    * the line. Quoted content passes through untouched. */
  private[tables] def collapseExprWs(e: String): String =
    scanSql(e, keepBlock = false) { (out, c) =>
      if (!c.isWhitespace) out += c
      else if (out.nonEmpty && out.last != ' ') out += ' '
    }.trim

  /** Source files under `dir`, recursively, skipping hidden/metadata
    * names — the same convention as Spark's file index. */
  private[tables] def listFiles(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    require(java.nio.file.Files.isDirectory(root),
      s"COPY INTO: no such directory $dir")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: java.nio.file.Path): Unit = {
      val ls = java.nio.file.Files.list(p)
      try ls.forEach { c =>
        val n = c.getFileName.toString
        if (!n.startsWith(".") && !n.startsWith("_")) {
          if (java.nio.file.Files.isDirectory(c)) walk(c) else out += c.toString
        }
      } finally ls.close()
    }
    walk(root)
    out.toSeq.sorted
  }

  /** Split on `sep` at nesting depth 0, outside literals, backticked
    * names and comments ([[scanSql]]). */
  private[tables] def splitTop(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    val last = scanSql(s, keepBlock = true) { (cur, c) =>
      if (c == sep && depth == 0) { out += cur.toString; cur.clear() }
      else {
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        cur += c; ()
      }
    }
    (out :+ last).toSeq.map(_.trim).filter(_.nonEmpty)
  }
}
