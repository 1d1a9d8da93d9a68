package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession

import graft.ops.Sketches
import graft.tables.{GraftSql, VersionedTable}

/** A maintained rollup's definition — an exact SQL MV, a join MV, or an
  * HLL, CMS or quantile sketch rollup — parsed once from the rollup
  * table's properties. This module is the one reader of the definition
  * property keys (the creators write them): REFRESH, the RENAME/DROP
  * COLUMN guards, SHOW MATERIALIZED VIEWS, post-restart arming, DROP's
  * pin release and the REPLACE sweep all ask a [[RollupDef]].
  *
  * Sources are numbered by side: 0 is the single source or a join's
  * fact, `i` ≥ 1 is the join's dim `i-1`. */
sealed trait RollupDef {
  /** The source tables, by side. */
  def sources: Seq[VersionedTable]
  /** The source version the rollup covers, by side. */
  def covered: Seq[Long]
  /** What a DDL refusal calls this family. */
  def label: String
  /** How a RENAME refusal describes the [[keyed]] columns. */
  def keyRole: String
  /** Columns of side `side` the rollup is keyed on — group columns (its
    * merge-bucket keys and its own columns), join keys, columns of a
    * stored predicate. No rename can follow them: RENAME and DROP refuse. */
  def keyed(side: Int): Set[String]
  /** Source columns named only in the definition (agg inputs, the
    * distinct, item or value column): RENAME re-keys them, DROP refuses. */
  def inputs: Set[String]
  /** The property update re-keying input column `from` to `to`. */
  def rekey(from: String, to: String): Map[String, String]
  /** The stored `(fn, col, out)` agg specs (the MV families'). */
  def aggs: Seq[(String, String, String)] = Nil
  /** The rollup's group columns. */
  def groupCols: Seq[String]
  /** The CREATE epoch namespacing the rollup's txn ledger. */
  def epoch: String
  /** The family's on-disk names. */
  def family: Maintained.Family
  /** The covered-version properties recording `vs`, by side. */
  def coveredProps(vs: Seq[Long]): Map[String, String] =
    Map(family.versionProp -> vs.head.toString)

  /** Every source exists and its head is still the covered version:
    * REFRESH would be a noop and routing is armable. */
  final def fresh: Boolean = sources.zip(covered).forall { case (s, v) =>
    s.latestVersion.contains(v)
  }

  /** The sides `root` feeds. */
  final def sidesOf(root: String): Seq[Int] =
    sources.indices.filter(sources(_).root == root)
}

object RollupDef {

  /** A single-source rollup. */
  sealed trait Single extends RollupDef {
    def src: VersionedTable
    def version: Long
    def label: String = family.label
    def sources: Seq[VersionedTable] = Seq(src)
    def covered: Seq[Long] = Seq(version)
    def keyRole: String = "GROUP"
    def keyed(side: Int): Set[String] = groupCols.toSet
  }

  final case class SqlMv(src: VersionedTable, groupCols: Seq[String],
                         override val aggs: Seq[(String, String, String)],
                         where: Option[String], version: Long,
                         epoch: String) extends Single {
    def family: Maintained.Family = SqlMv.family
    override def keyRole: String = "GROUP or WHERE"
    // the predicate text cannot be re-keyed safely, and an unresolvable
    // one would break every later REFRESH
    override def keyed(side: Int): Set[String] = groupCols.toSet ++
      where.map(GraftSql.referencedCols(src.spark, _)).getOrElse(Set.empty)
    def inputs: Set[String] = aggInputs(aggs)
    def rekey(from: String, to: String): Map[String, String] =
      Map(GraftSql.MvAggsProp -> rekeyAggs(aggs, from, to))
  }

  object SqlMv {
    val family: Maintained.Family = Maintained.Family(
      GraftSql.MvVersionProp, GraftSql.MvEpochProp, GraftSql.MvTxnApp, 1L,
      "materialized view")
  }

  /** A join MV ([[JoinMv]]): the fact, and each dim with its keys and
    * optional row filter, every side with its own covered version
    * (the fact's in the family's version property, the dims' `;`-joined
    * in [[JoinMv.DimVersionProp]]). */
  final case class Join(fact: VersionedTable, dims: Seq[JoinMv.DimSide],
                        groupCols: Seq[String],
                        override val aggs: Seq[(String, String, String)],
                        factV: Long, dimVs: Seq[Long], epoch: String)
      extends RollupDef {
    def family: Maintained.Family = Join.family
    def sources: Seq[VersionedTable] = fact +: dims.map(_.table)
    def covered: Seq[Long] = factV +: dimVs
    override def coveredProps(vs: Seq[Long]): Map[String, String] =
      super.coveredProps(vs) + (JoinMv.DimVersionProp -> vs.tail.mkString(";"))
    def label: String = "join materialized view"
    def keyRole: String = "GROUP, JOIN-KEY, or dim-FILTER"
    // a dim filter that fails to parse protects nothing: the next
    // refresh fails loudly instead of this blocking unrelated DDL
    def keyed(side: Int): Set[String] = groupCols.toSet ++ (
      if (side == 0) dims.flatMap(_.keys.map(_._1))
      else dims(side - 1).keys.map(_._2) ++ dims(side - 1).filter.flatMap(f =>
        scala.util.Try(GraftSql.referencedCols(fact.spark, f)).toOption)
        .getOrElse(Set.empty))
    def inputs: Set[String] = aggInputs(aggs)
    def rekey(from: String, to: String): Map[String, String] =
      Map(JoinMv.AggsProp -> rekeyAggs(aggs, from, to))
  }

  object Join {
    val family: Maintained.Family = Maintained.Family(
      JoinMv.FactVersionProp, JoinMv.EpochProp, "graft-mvjoin:", 0L, "join MV")
  }

  /** An HLL distinct-count rollup ([[Sketches.create]]). */
  final case class Hll(src: VersionedTable, groupCols: Seq[String],
                       distinct: String, lgK: Int, version: Long,
                       epoch: String) extends Single {
    def family: Maintained.Family = Hll.family
    def inputs: Set[String] = Set(distinct)
    def rekey(from: String, to: String): Map[String, String] =
      Map(Sketches.DistinctProp -> to)
  }

  object Hll {
    val family: Maintained.Family = Maintained.Family(
      Sketches.VersionProp, Sketches.EpochProp, "graft-sketch:", 0L,
      "sketch rollup")
  }

  /** A count-min frequency rollup ([[Sketches.createFreq]]). */
  final case class Cms(src: VersionedTable, groupCols: Seq[String],
                       item: String, eps: Double, confidence: Double,
                       seed: Int, topM: Int, version: Long,
                       epoch: String) extends Single {
    def family: Maintained.Family = Cms.family
    def inputs: Set[String] = Set(item)
    def rekey(from: String, to: String): Map[String, String] =
      Map(Sketches.FreqItemProp -> to)
  }

  object Cms {
    val family: Maintained.Family = Maintained.Family(
      Sketches.FreqVersionProp, Sketches.FreqEpochProp, "graft-cms:", 0L,
      "frequency rollup")
  }

  /** A quantile histogram rollup ([[Sketches.createQuant]]). */
  final case class Quant(src: VersionedTable, groupCols: Seq[String],
                         value: String, scale: Long, sub: Int,
                         version: Long, epoch: String) extends Single {
    def family: Maintained.Family = Quant.family
    def inputs: Set[String] = Set(value)
    def rekey(from: String, to: String): Map[String, String] =
      Map(Sketches.QuantValueProp -> to)
  }

  object Quant {
    val family: Maintained.Family = Maintained.Family(
      Sketches.QuantVersionProp, Sketches.QuantEpochProp, "graft-quant:",
      0L, "quantile rollup")
  }

  /** Every family's definition property keys. Epoch keys are not
    * among them: they outlive a REPLACE on purpose
    * ([[Maintained.clearReplacedDefinition]]). */
  val keys: Seq[String] = {
    import GraftSql._
    import Sketches._
    Seq(MvSourceProp, MvGroupProp, MvAggsProp, MvVersionProp, MvWhereProp,
      JoinMv.FactProp, JoinMv.DimProp, JoinMv.KeysProp, JoinMv.GroupProp,
      JoinMv.AggsProp, JoinMv.FactVersionProp, JoinMv.DimVersionProp,
      JoinMv.DimFilterProp,
      SourceProp, GroupProp, DistinctProp, LgkProp, VersionProp,
      FreqSourceProp, FreqGroupProp, FreqItemProp, FreqParamsProp,
      FreqVersionProp,
      QuantSourceProp, QuantGroupProp, QuantValueProp, QuantParamsProp,
      QuantVersionProp)
  }

  private def aggInputs(aggs: Seq[(String, String, String)]): Set[String] =
    aggs.map(_._2).filterNot(_ == "*").toSet

  private def rekeyAggs(aggs: Seq[(String, String, String)], from: String,
                        to: String): String =
    GraftSql.formatAggSpecs(aggs.map { case (f, c, o) =>
      (f, if (c == from) to else c, o)
    })

  /** The definition `props` carry, if any. A table carries at most one:
    * every creator sweeps the others ([[Maintained.clearReplacedDefinition]]). */
  def read(spark: SparkSession, props: Map[String, String]): Option[RollupDef] = {
    def need(k: String): String =
      props.getOrElse(k, sys.error(s"rollup definition lacks $k"))
    def table(k: String): VersionedTable = VersionedTable(spark, need(k))
    def list(k: String): Seq[String] = need(k).split(",").toSeq
    def epoch(k: String): String = props.getOrElse(k, "0")
    import GraftSql.{MvAggsProp, MvEpochProp, MvGroupProp, MvSourceProp,
      MvVersionProp, MvWhereProp, parseAggSpecs}
    import Sketches._
    if (props.contains(MvSourceProp))
      Some(SqlMv(table(MvSourceProp), list(MvGroupProp),
        parseAggSpecs(need(MvAggsProp)), props.get(MvWhereProp),
        need(MvVersionProp).toLong, epoch(MvEpochProp)))
    else if (props.contains(JoinMv.FactProp)) {
      val roots = need(JoinMv.DimProp).split(";").toSeq
      val keySegs = JoinMv.parseKeySegments(need(JoinMv.KeysProp))
      require(roots.length == keySegs.length,
        s"join MV: ${roots.length} dims but ${keySegs.length} key lists")
      // -1 limit: a trailing "" (last dim unfiltered) must not collapse
      val filters = props.get(JoinMv.DimFilterProp)
        .map(_.split(";", -1).toSeq.map(f =>
          if (f.isEmpty) None
          else Some(java.net.URLDecoder.decode(f, "UTF-8"))))
        .getOrElse(Seq.fill(roots.length)(None))
      require(filters.length == roots.length,
        s"join MV: ${roots.length} dims but ${filters.length} filters")
      Some(Join(table(JoinMv.FactProp),
        roots.zip(keySegs).zip(filters).map { case ((r, ks), flt) =>
          JoinMv.DimSide(VersionedTable(spark, r), ks, flt)
        },
        list(JoinMv.GroupProp), parseAggSpecs(need(JoinMv.AggsProp)),
        need(JoinMv.FactVersionProp).toLong,
        need(JoinMv.DimVersionProp).split(";").toSeq.map(_.toLong),
        epoch(JoinMv.EpochProp)))
    }
    else if (props.contains(SourceProp))
      Some(Hll(table(SourceProp), list(GroupProp), need(DistinctProp),
        need(LgkProp).toInt, need(VersionProp).toLong, epoch(EpochProp)))
    else if (props.contains(FreqSourceProp)) {
      val Array(eps, conf, seed, topM) = need(FreqParamsProp).split(",")
      Some(Cms(table(FreqSourceProp), list(FreqGroupProp),
        need(FreqItemProp), eps.toDouble, conf.toDouble, seed.toInt,
        topM.toInt, need(FreqVersionProp).toLong, epoch(FreqEpochProp)))
    }
    else if (props.contains(QuantSourceProp)) {
      val Array(scale, sub) = need(QuantParamsProp).split(",")
      Some(Quant(table(QuantSourceProp), list(QuantGroupProp),
        need(QuantValueProp), scale.toLong, sub.toInt,
        need(QuantVersionProp).toLong, epoch(QuantEpochProp)))
    }
    else None
  }

  /** [[read]] for the best-effort callers (governed reads, DROP TABLE,
    * catalog walks): a definition damaged through TBLPROPERTIES (a key
    * unset or mangled) reads as none instead of failing them. */
  def tryRead(spark: SparkSession, props: Map[String, String]): Option[RollupDef] =
    scala.util.Try(read(spark, props)).toOption.flatten

  /** `mv`'s definition as family `T`, or a loud "not a `what`". */
  def expect[T <: RollupDef: ClassTag](mv: VersionedTable, what: String): T =
    read(mv.spark, mv.properties) match {
      case Some(d: T) => d
      case _ => sys.error(s"${mv.root} is not a $what")
    }
}
