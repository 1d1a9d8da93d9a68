package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanShim

/** Join-based MERGE upsert — the engine's implementation of the reference's
  * declared `MERGE INTO silver.live_event` semantics
  * (notebooks/03_silver/32_merge_silver_live_event.sql is empty; key spec at
  * resources/uc/objects.sql:137-149, rerun-safety at docs/backlog.md:49-51).
  *
  * WHEN MATCHED → take the update row; WHEN NOT MATCHED → insert the update
  * row; target rows with no update pass through unchanged.
  *
  * Scale notes: both sides hash-partition on `keys` (one shuffle each, the
  * same movement Delta's MERGE performs); if the update side is small Spark's
  * AQE broadcasts it. Callers must ensure updates are unique per key
  * (VersionedTable.merge dedups first), keeping the join 1:1.
  *
  * NULL keys never match (plain equality, as in SQL/Delta `MERGE ON`): a
  * NULL-keyed update row takes the insert path and a NULL-keyed target row
  * passes through unchanged.
  */
object Merge {

  /** Marker column for merge-with-delete (`WHEN MATCHED AND <marker> THEN
    * DELETE`, the clause DLT's APPLY CHANGES INTO is built on): an update
    * batch may carry this extra boolean column; a `true` row removes its
    * matched target row and contributes nothing itself (an unmatched
    * delete is a no-op). The column never reaches stored data. */
  val DeleteCol = "__graft_delete"

  // ---------------------------------------------- conditional clause merge

  /** SQL MERGE clause grammar (Delta's full surface): per row, the clauses
    * of its branch are evaluated IN ORDER and the first one whose condition
    * holds wins; a row no clause claims passes through unchanged (matched /
    * target-only) or is skipped (source-only). Conditions and assignment
    * values are Columns referencing the two rows as `<tAlias>.col` /
    * `<sAlias>.col` (`expr("s.amt > 0")`) — unqualified references fail
    * analysis loudly rather than resolve ambiguously. */
  sealed trait MergeAction
  /** UPDATE SET * — every target column takes the source value (source
    * must carry all target columns). */
  case object UpdateAll extends MergeAction
  /** UPDATE SET c = expr, … — listed columns take their expression,
    * UNLISTED KEEP THE TARGET VALUE (SQL column-level semantics — the
    * contrast with [[upsert]]'s whole-row replacement). */
  final case class UpdateSet(sets: Seq[(String, Column)]) extends MergeAction
  case object DeleteRow extends MergeAction
  /** INSERT * — the inserted row takes every source value. */
  case object InsertAll extends MergeAction
  /** INSERT (cols) VALUES (exprs) — unlisted target columns insert NULL. */
  final case class InsertValues(cols: Seq[String], values: Seq[Column])
    extends MergeAction

  final case class MatchedClause(cond: Option[Column], action: MergeAction)
  final case class NotMatchedClause(cond: Option[Column], action: MergeAction)
  /** WHEN NOT MATCHED BY SOURCE — target-only rows (Delta 2.3's
    * extension). Forces a full-table pass in VersionedTable.merge: every
    * target row must meet the join to know it is unmatched. Expressions
    * may reference only the target alias. */
  final case class BySourceClause(cond: Option[Column], action: MergeAction)

  final case class Clauses(tAlias: String, sAlias: String,
                           matched: Seq[MatchedClause],
                           notMatched: Seq[NotMatchedClause],
                           bySource: Seq[BySourceClause] = Nil) {
    def mayDelete: Boolean =
      matched.exists(_.action == DeleteRow) ||
        bySource.exists(_.action == DeleteRow)
  }

  /** Is `e` an attribute reference qualified by `alias` (matched
    * case-insensitively, as Spark's resolver does)? Tested on the parsed
    * expression tree, so a string literal such as 'mail a@s.com' is a
    * value and never matches. */
  private def qualifiedBy(alias: String)(e: Expression): Boolean = e match {
    case a: UnresolvedAttribute =>
      a.nameParts.length > 1 && a.nameParts.head.equalsIgnoreCase(alias)
    case _ => false
  }

  /** `e` with every `alias.c…` reference rewritten to `to(c) ++ …`. */
  def requalify(e: Expression, alias: String)(
      to: String => Seq[String]): Expression = e.transform {
    case a: UnresolvedAttribute if qualifiedBy(alias)(a) =>
      UnresolvedAttribute(to(a.nameParts(1)) ++ a.nameParts.drop(2))
  }

  /** Post-combine repair riding the SAME merge commit: after
    * `updateExprs` compute the combined post-image, `set` rewrites the
    * named columns (expressions see the POST-combine values of every
    * data column by name) and `deleteWhen` drops rows whose post-image
    * matches (a matched target row emits a CDF delete; a source-only
    * row simply never lands). This is how incremental-aggregate
    * maintenance keeps its invariants — emptied groups drop, all-NULL
    * sums NULL-fix — inside the one markered commit instead of as
    * follow-up probe+commit passes (which both cost two table reads per
    * trigger and leave a crash window the txn marker can't cover). */
  final case class PostCombine(set: Map[String, Column] = Map.empty,
                               deleteWhen: Option[Column] = None)

  /** Apply a [[PostCombine]] to a lineage frame (from
    * [[upsertWithLineage]]): one projection rewriting the `set` columns
    * and OR-ing `deleteWhen` into `__delete_req`. `set` expressions all
    * read the PRE-`set` (post-combine) values — they compose with each
    * other by reading, not by chaining.
    *
    * `set` rewrites apply ONLY to rows the merge touched
    * (`__u_present`): a target-only row in a rewritten cell must pass
    * through byte-identical, because the CDF update frames classify on
    * the update side — a silently rewritten untouched row would change
    * the snapshot with no change-feed row and desynchronize every
    * downstream CDF consumer. (Such rows can only violate the repaired
    * invariant as pre-fold crash remnants; the REFRESH-entry sweep is
    * their heal path, and it emits real commits.) `deleteWhen` stays
    * global — a dropped target-only row classifies as a CDF delete
    * (`__t_present && __delete_req`), so snapshot and feed agree. */
  def applyPostCombine(lineage: DataFrame, pc: PostCombine): DataFrame =
    lineage.select(lineage.columns.toSeq.map {
      case c if pc.set.contains(c) =>
        when(coalesce(col("__u_present"), lit(false)), pc.set(c))
          .otherwise(col(c)).as(c)
      case "__delete_req" =>
        pc.deleteWhen.fold(col("__delete_req"))(d =>
          col("__delete_req") || coalesce(d, lit(false)))
          .as("__delete_req")
      case c => col(c)
    }: _*)

  /** [[upsertWithLineage]]'s general-clause sibling: full-outer join on
    * `keys` (which the source must carry under the TARGET's names), then
    * per-branch first-match clause evaluation. The source schema is
    * arbitrary — only key columns and whatever the clause expressions
    * reference matter; output data columns are the TARGET's, each cast to
    * its target type. Lineage columns as in [[upsertWithLineage]] plus
    * `__touched` (some clause fired — untouched rows emit no CDF).
    * Source-only rows no insert clause claims get `__delete_req = true`
    * (they appear in neither snapshot nor feed). Same scale shape as the
    * plain upsert: one shuffle per side, AQE broadcast for small sources;
    * clause conditions/values are row-local projections over the joined
    * frame (codegen'd, no extra pass). */
  def applyClausesWithLineage(target: DataFrame, source: DataFrame,
                              keys: Seq[String], cl: Clauses): DataFrame = {
    require(keys.nonEmpty, "merge requires at least one key column")
    val cols = target.columns.toSeq
    val srcCols = source.columns.toSeq
    val missingKeys = keys.filterNot(srcCols.contains)
    require(missingKeys.isEmpty,
      s"merge source lacks key column(s) ${missingKeys.mkString(",")} " +
        "(MERGE ON keys are carried under the target's names)")
    def requireCoversTarget(what: String): Unit = {
      val missing = cols.filterNot(srcCols.contains)
      require(missing.isEmpty,
        s"$what requires the source to carry every target column; " +
          s"missing ${missing.mkString(",")}")
    }
    def requireAssignable(sets: Seq[(String, Column)], what: String): Unit = {
      val unknown = sets.map(_._1).filterNot(cols.contains)
      require(unknown.isEmpty,
        s"$what assigns unknown column(s) ${unknown.mkString(",")}")
      val keyHits = sets.map(_._1).filter(keys.contains)
      require(keyHits.isEmpty,
        s"$what cannot rewrite merge key column(s) ${keyHits.mkString(",")}")
    }
    cl.matched.foreach {
      case MatchedClause(_, UpdateAll) => requireCoversTarget("UPDATE SET *")
      case MatchedClause(_, UpdateSet(sets)) =>
        requireAssignable(sets, "UPDATE SET")
      case MatchedClause(_, DeleteRow) => ()
      case MatchedClause(_, bad) =>
        sys.error(s"WHEN MATCHED cannot $bad")
    }
    cl.notMatched.foreach {
      case NotMatchedClause(_, InsertAll) => requireCoversTarget("INSERT *")
      case NotMatchedClause(_, InsertValues(cs, vs)) =>
        require(cs.length == vs.length,
          s"INSERT column/value count mismatch: $cs vs $vs")
        val unknown = cs.filterNot(cols.contains)
        require(unknown.isEmpty,
          s"INSERT names unknown column(s) ${unknown.mkString(",")}")
      case NotMatchedClause(_, bad) =>
        sys.error(s"WHEN NOT MATCHED cannot $bad")
    }
    cl.bySource.foreach { c =>
      (c.cond.toSeq ++ (c.action match {
        case UpdateSet(sets) => requireAssignable(sets,
          "NOT MATCHED BY SOURCE UPDATE SET"); sets.map(_._2)
        case DeleteRow => Nil
        case bad => sys.error(s"WHEN NOT MATCHED BY SOURCE cannot $bad")
      })).foreach(e => require(
        !PlanShim.expression(e).exists(qualifiedBy(cl.sAlias)),
        s"NOT MATCHED BY SOURCE expressions cannot reference the source " +
          s"alias `${cl.sAlias}`: $e"))
    }

    val targetTypes = target.schema.fields.map(f => f.name -> f.dataType).toMap
    def tCol(c: String) = col(s"__t_$c")
    def uCol(c: String) = col(s"__u_$c")
    // bind against the joined frame: alias-qualified references rewrite
    // to the internal prefixed names. Anything left unqualified fails
    // analysis — loud, not ambiguous.
    def bind(c: Column): Column = PlanShim.column(requalify(
      requalify(PlanShim.expression(c), cl.tAlias)(n => Seq(s"__t_$n")),
      cl.sAlias)(n => Seq(s"__u_$n")))
    def condOf(o: Option[Column]): Column = o.map(bind).getOrElse(lit(true))
    // first-match fold: first clause (outermost when) whose condition is
    // TRUE wins; NULL conditions fall through (SQL: unknown ≠ satisfied)
    def firstMatch(arms: Seq[(Option[Column], Column)], dflt: Column): Column =
      arms.foldRight(dflt) { case ((c, v), els) =>
        when(condOf(c), v).otherwise(els)
      }
    def anyFired(conds: Seq[Option[Column]]): Column =
      conds.map(c => coalesce(condOf(c), lit(false)))
        .foldLeft(lit(false))(_ || _)

    def matchedVal(c: String): Column = firstMatch(cl.matched.map { m =>
      m.cond -> (m.action match {
        case UpdateAll       => uCol(c)
        case UpdateSet(sets) =>
          sets.find(_._1 == c).map(s => bind(s._2)).getOrElse(tCol(c))
        case _               => tCol(c) // DELETE: value irrelevant, row flagged
      })
    }, tCol(c))
    def insertVal(c: String): Column = firstMatch(cl.notMatched.map { m =>
      m.cond -> (m.action match {
        case InsertAll            => uCol(c)
        case InsertValues(cs, vs) =>
          cs.zip(vs).find(_._1 == c).map(s => bind(s._2))
            .getOrElse(lit(null))
        case _                    => lit(null)
      })
    }, lit(null))
    def bySourceVal(c: String): Column = firstMatch(cl.bySource.map { m =>
      m.cond -> (m.action match {
        case UpdateSet(sets) =>
          sets.find(_._1 == c).map(s => bind(s._2)).getOrElse(tCol(c))
        case _               => tCol(c)
      })
    }, tCol(c))
    def deleteFlag(conds: Seq[(Option[Column], MergeAction)]): Column =
      firstMatch(conds.map { case (c, a) => c -> lit(a == DeleteRow) },
        lit(false))

    val t = cols.foldLeft(target)((d, c) => d.withColumnRenamed(c, s"__t_$c"))
      .withColumn("__t_present", lit(true))
    val u = srcCols.foldLeft(source)((d, c) =>
      d.withColumnRenamed(c, s"__u_$c"))
      .withColumn("__u_present", lit(true))
    val joinCond = keys.map(k => t(s"__t_$k") === u(s"__u_$k")).reduce(_ && _)
    val tp = coalesce(col("__t_present"), lit(false))
    val up = coalesce(col("__u_present"), lit(false))

    t.join(u, joinCond, "full_outer")
      .select(cols.map { c =>
        when(tp && up, matchedVal(c))
          .when(up && !tp, insertVal(c))
          .otherwise(bySourceVal(c))
          .cast(targetTypes(c)).as(c)
      } ++ cols.map(c => tCol(c).as(s"__pre_$c")) ++ Seq(
        tp.as("__t_present"), up.as("__u_present"),
        coalesce(
          when(tp && up,
            deleteFlag(cl.matched.map(m => m.cond -> m.action)))
            // an unclaimed source-only row lands nowhere: same
            // filter-out path as a delete request
            .when(up && !tp, !anyFired(cl.notMatched.map(_.cond)))
            .otherwise(deleteFlag(cl.bySource.map(m => m.cond -> m.action))),
          lit(false)).as("__delete_req"),
        coalesce(
          when(tp && up, anyFired(cl.matched.map(_.cond)))
            .when(up && !tp, anyFired(cl.notMatched.map(_.cond)))
            .otherwise(anyFired(cl.bySource.map(_.cond))),
          lit(false)).as("__touched")): _*)
  }

  /** Pad each side with typed NULL columns for fields only the other side
    * has (Delta `mergeSchema`/autoMerge-style ADDITIVE evolution), so a
    * feed that gained a column — e.g. `_rescued_data` appearing after a
    * producer schema change — merges into a pre-evolution target instead
    * of crashing, and vice versa. Column ORDER follows target-then-new.
    * [[DeleteCol]] on the update side is carried through, never padded
    * onto the target. */
  def alignForEvolution(target: DataFrame, updates: DataFrame): (DataFrame, DataFrame) = {
    val tFields = target.schema.fields
    val uFields = updates.schema.fields.filterNot(_.name == DeleteCol)
    val tNames = tFields.map(_.name).toSet
    val uNames = uFields.map(_.name).toSet
    val t2 = uFields.filterNot(f => tNames.contains(f.name))
      .foldLeft(target)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
    val order = t2.columns.toSeq ++
      (if (updates.columns.contains(DeleteCol)) Seq(DeleteCol) else Nil)
    val u2 = tFields.filterNot(f => uNames.contains(f.name))
      .foldLeft(updates)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
      .select(order.map(col): _*)
    (t2, u2)
  }

  /** `updateExprs`: Delta's `WHEN MATCHED THEN UPDATE SET c = expr(t, u)`
    * — per-column (targetValue, updateValue) => newValue combiners applied
    * ONLY on matched rows (e.g. `"cnt" -> (t + u)` turns the merge into
    * incremental aggregate maintenance). Unlisted columns take the update
    * row's value; inserts always take the update row. */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String],
             updateExprs: Map[String, (Column, Column) => Column] = Map.empty): DataFrame =
    upsertWithLineage(target, updates, keys, updateExprs)
      .filter(!col("__delete_req"))
      .select(target.columns.toSeq.map(col): _*)

  /** [[upsert]]'s full-outer merge frame WITH its lineage kept: the merged
    * values (identical projection to `upsert`) plus, per row, the
    * target-side pre-image values as `__pre_<c>` and the two match flags
    * `__t_present`/`__u_present` (never NULL). ONE join thus yields both
    * the new snapshot AND the change-feed classification —
    * matched rows are `__t_present && __u_present` (pre-image from the
    * `__pre_` columns, post-image from the merged columns), inserts are
    * `__u_present && !__t_present` — which is how VersionedTable.merge
    * folds its CDF pre-image pass into the COW join instead of re-joining
    * target and updates per change type. */
  def upsertWithLineage(target: DataFrame, updates: DataFrame, keys: Seq[String],
                        updateExprs: Map[String, (Column, Column) => Column] = Map.empty): DataFrame = {
    require(keys.nonEmpty, "merge requires at least one key column")
    val cols = target.columns.toSeq
    val withDeletes = updates.columns.contains(DeleteCol)
    require(updates.columns.toSeq == cols ++ (if (withDeletes) Seq(DeleteCol) else Nil),
      s"merge schema mismatch: target=${cols.mkString(",")} updates=${updates.columns.mkString(",")}; " +
        "use alignForEvolution for additive schema changes")
    require(!cols.contains(DeleteCol),
      s"target must not contain the $DeleteCol marker column")
    require(updateExprs.keySet.subsetOf(cols.toSet),
      s"updateExprs reference unknown columns: ${updateExprs.keySet -- cols}")
    require(updateExprs.keySet.intersect(keys.toSet).isEmpty,
      "updateExprs cannot rewrite merge key columns")

    val t = cols.foldLeft(target)((d, c) => d.withColumnRenamed(c, s"__t_$c"))
      .withColumn("__t_present", lit(true))
    val u = cols.foldLeft(updates)((d, c) => d.withColumnRenamed(c, s"__u_$c"))
      .withColumn("__u_present", lit(true))
    val joinCond = keys.map(k => t(s"__t_$k") === u(s"__u_$k")).reduce(_ && _)

    t.join(u, joinCond, "full_outer")
      .select(cols.map { c =>
        // Presence flag (not coalesce of the value columns) decides the
        // side, so an update that sets a non-key column to NULL wins.
        val base = when(col("__u_present"), col(s"__u_$c"))
          .otherwise(col(s"__t_$c"))
        updateExprs.get(c) match {
          case Some(f) =>
            when(col("__u_present") && col("__t_present"),
              f(col(s"__t_$c"), col(s"__u_$c"))).otherwise(base).as(c)
          case None => base.as(c)
        }
      } ++ cols.map(c => col(s"__t_$c").as(s"__pre_$c")) ++ Seq(
        coalesce(col("__t_present"), lit(false)).as("__t_present"),
        coalesce(col("__u_present"), lit(false)).as("__u_present"),
        // delete request: an update row marked for deletion (target-only
        // rows coalesce to false). The caller filters these (and their
        // matched targets — same row after the join) from the snapshot.
        (if (withDeletes) coalesce(col(DeleteCol), lit(false))
         else lit(false)).as("__delete_req"),
        // every update-side row "touches" its output row (matched →
        // update, source-only → insert/tombstone); aligns this frame
        // with [[applyClausesWithLineage]]'s so CDF classification is
        // one shared filter set
        coalesce(col("__u_present"), lit(false)).as("__touched")): _*)
  }
}
