package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, OneRowRelation, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.TxTable

/** Metadata-only aggregates as an optimizer rule — Delta's
  * metadata-only-query optimization. An UNGROUPED, UNFILTERED
  * aggregate over a graft snapshot whose aggregates are all
  * COUNT(*) / COUNT(col) / MIN(col) / MAX(col) needs no scan: the
  * manifest's per-file row counts, null counts, and min/max stats
  * already hold every answer, so the Aggregate collapses to a
  * one-row Project. At 100 TB that is milliseconds of driver
  * metadata I/O instead of a full-lake scan for the most common
  * interactive queries there are.
  *
  * SNAPSHOT-EXACT, never approximate: every stat comes from the one
  * snapshot the relation's table resolved when it was loaded — the
  * manifest it lists its files from, read once — so a commit racing
  * the query cannot skew the answer (same snapshot isolation as the
  * scan it replaces). The rewrite declines — leaving the plan, and thus
  * correctness, untouched — whenever anything could make metadata
  * and scan disagree: grouping keys, a Filter anywhere below the
  * aggregate, DISTINCT or FILTER clauses, any other aggregate
  * function, a change-feed scan (its row set is the feed, not the
  * snapshot), a column the manifest can't prove (string data stats
  * may be writer-truncated; [[TxTable.metaMinMax]] /
  * [[TxTable.metaColumnCount]] return None), a stats value the
  * column's type can't round-trip exactly, or an attribute that
  * doesn't resolve through intervening Projects to a bare relation
  * column. Projects and subquery aliases are cardinality-preserving
  * and skipped; attribute renames are followed through them.
  *
  * MIN/MAX semantics match SQL: nulls ignored (stats cover non-null
  * values; provably all-null files contribute nothing), and an
  * all-null or empty column declines to the scan, which returns the
  * same NULL the metadata can't distinguish cheaply.
  */
object MetadataAggregateRule extends Rule[LogicalPlan] {

  private sealed trait MetaAgg
  private case object RowCount extends MetaAgg
  private final case class ColCount(col: String) extends MetaAgg
  private final case class ColMin(col: String, dt: DataType) extends MetaAgg
  private final case class ColMax(col: String, dt: DataType) extends MetaAgg

  /** Classify an aggregate as metadata-servable over the relation's
    * own columns (attributes resolved through `resolve`), else None.
    */
  private def classify(ae: AggregateExpression,
                       resolve: Attribute => Option[Attribute])
      : Option[MetaAgg] = {
    if (ae.isDistinct || ae.filter.nonEmpty) return None
    ae.aggregateFunction match {
      case Count(children)
          if children.forall(c => c.foldable && c.eval() != null) =>
        Some(RowCount)
      case Count(Seq(a: Attribute)) =>
        resolve(a).map(r => ColCount(r.name))
      case Min(a: Attribute) =>
        resolve(a).filter(r => supported(r.dataType))
          .map(r => ColMin(r.name, r.dataType))
      case Max(a: Attribute) =>
        resolve(a).filter(r => supported(r.dataType))
          .map(r => ColMax(r.name, r.dataType))
      case _ => None
    }
  }

  /** Types whose manifest stats strings round-trip exactly to the
    * column's internal representation. Decimals never carry stats
    * (unscaled ints would mis-read); booleans/binary aren't recorded.
    */
  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         StringType => true
    case _ => false
  }

  /** Stats string → typed internal literal for the column type.
    * Date stats are epoch days, timestamp stats micros — both ARE the
    * Catalyst internal encodings; floats/doubles are the writer's
    * exact values (files containing NaN/Infinity never record stats,
    * so those columns decline upstream).
    */
  private def literalOf(s: String, dt: DataType): Literal = dt match {
    case ByteType => Literal(BigDecimal(s).toByteExact)
    case ShortType => Literal(BigDecimal(s).toShortExact)
    case IntegerType => Literal(BigDecimal(s).toIntExact)
    case LongType => Literal(BigDecimal(s).toLongExact)
    case FloatType => Literal(s.toFloat)
    case DoubleType => Literal(s.toDouble)
    case DateType => Literal(BigDecimal(s).toIntExact, DateType)
    case TimestampType => Literal(BigDecimal(s).toLongExact, TimestampType)
    case StringType => Literal(UTF8String.fromString(s), StringType)
    case other => sys.error(s"unreachable: unsupported stats type $other")
  }

  /** 1:1 operators below the aggregate never change the row count;
    * follow attribute renames through them. Returns the bottom plan
    * and the attribute resolver down to it.
    */
  private def dig(p: LogicalPlan): (LogicalPlan, Attribute => Option[Attribute]) =
    p match {
      case Project(projList, child) =>
        val (bottom, below) = dig(child)
        val byId = projList.map(ne => ne.exprId -> ne).toMap
        (bottom, a => byId.get(a.exprId).flatMap {
          case ar: AttributeReference => below(ar)
          case Alias(ar: AttributeReference, _) => below(ar)
          case _ => None
        })
      case SubqueryAlias(_, child) => dig(child)
      case other => (other, a => Some(a))
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate
        if agg.aggregateExpressions.exists(
          _.exists(_.isInstanceOf[AggregateExpression])) =>
      val (bottom, resolve) = dig(agg.child)
      val snapshot = bottom match {
        case rel: DataSourceV2Relation => rel.table match {
          // a change-feed scan's rows are the FEED, not the snapshot
          case t: graft.sources.GraftTable
              if !t.schema().fieldNames.contains("_change_type") =>
            t.snapshot.map(rel -> _)
          case _ => None
        }
        case _ => None
      }
      snapshot match {
        case Some((rel, snap)) =>
          // the final resolver step: the attribute must be one of
          // the RELATION's own output columns
          val relIds = rel.output.map(a => a.exprId -> a).toMap
          val toRelCol = (a: Attribute) =>
            resolve(a).flatMap(r => relIds.get(r.exprId))
          val classified = agg.aggregateExpressions.map(ne =>
            ne -> ne.collect { case ae: AggregateExpression => ae }
              .map(ae => ae -> classify(ae, toRelCol)))
          if (classified.exists(_._2.exists(_._2.isEmpty))) agg
          else if (agg.groupingExpressions.isEmpty)
            serve(agg, classified, snap.lines).getOrElse(agg)
          else
            serveGrouped(agg, classified, toRelCol, snap).getOrElse(agg)
        case None => agg
      }
  }

  /** Evaluate every classified aggregate from the snapshot's manifest
    * `lines`; None the moment any stat is unavailable (caller keeps the
    * scan).
    */
  private def serve(agg: Aggregate,
                    classified: Seq[(NamedExpression,
                      Seq[(AggregateExpression, Option[MetaAgg])])],
                    lines: Seq[String]): Option[LogicalPlan] = {
    val memoMinMax =
      scala.collection.mutable.Map.empty[String, Option[(String, String)]]
    // the COLUMN TYPE decides the comparison order — a string
    // partition value "2024" is tagged numeric by the manifest's
    // parse guess, and only the relation knows better
    def minMax(c: String, dt: DataType) =
      memoMinMax.getOrElseUpdate(c, TxTable.metaMinMaxOfLines(lines, c,
        stringOrdered = dt == StringType))
    def valueOf(m: MetaAgg): Option[Literal] = m match {
      case RowCount => TxTable.metaRowCountOfLines(lines).map(Literal(_))
      case ColCount(c) =>
        TxTable.metaColumnCountOfLines(lines, c).map(Literal(_))
      case ColMin(c, dt) =>
        minMax(c, dt).flatMap(mm =>
          scala.util.Try(literalOf(mm._1, dt)).toOption)
      case ColMax(c, dt) =>
        minMax(c, dt).flatMap(mm =>
          scala.util.Try(literalOf(mm._2, dt)).toOption)
    }
    val values: Seq[Seq[(AggregateExpression, Option[Literal])]] =
      classified.map(_._2.map { case (ae, m) => ae -> m.flatMap(valueOf) })
    if (values.exists(_.exists(_._2.isEmpty))) return None
    val rewritten = classified.zip(values).map { case ((ne, _), vs) =>
      val byAe = vs.toMap
      ne.transform {
        case ae: AggregateExpression if byAe.contains(ae) => byAe(ae).get
      }.asInstanceOf[NamedExpression]
    }
    Some(Project(rewritten, OneRowRelation()))
  }

  /** The PARTITION-GROUPED extension: `GROUP BY <partition columns>`
    * with the same metadata-servable aggregates collapses to a
    * LocalRelation with one row per live partition — group values come
    * from the `k=v` path segments (exact by construction), aggregates
    * from each partition's own manifest lines. Declines — plan
    * untouched — unless EVERY grouping expression is a bare partition
    * column of the relation, every live file's path carries exactly
    * the declared partition columns, and every (partition, aggregate)
    * cell is manifest-provable. The hive null partition groups as SQL
    * does: a real group with a NULL key.
    */
  private def serveGrouped(agg: Aggregate,
                           classified: Seq[(NamedExpression,
                             Seq[(AggregateExpression, Option[MetaAgg])])],
                           toRelCol: Attribute => Option[Attribute],
                           snap: TxTable.Snapshot): Option[LogicalPlan] = {
    val partCols = snap.partitionCols.getOrElse(Nil)
    if (partCols.isEmpty) return None
    // every grouping expr must be a bare attribute over a partition col
    val groupOk = agg.groupingExpressions.forall {
      case a: Attribute => toRelCol(a).exists(r => partCols.contains(r.name))
      case _ => false
    }
    if (!groupOk) return None
    // the grouped SUBSET of the partition columns: metaPartitionLines
    // groups by the FULL partition-directory tuple, so a GROUP BY over
    // fewer columns (table partitioned by (a,b), query groups by a)
    // must merge those fine-grained groups by the grouped subset first
    // — row counts and null counts are additive across the merged
    // manifest lines and min/max fold, so evaluating each metadata
    // aggregate over the CONCATENATED lines of a merged group is exact.
    // Without the merge the LocalRelation would emit one row per (a,b)
    // combination: duplicate group keys with partial aggregates.
    val groupedNames: Set[String] = agg.groupingExpressions.collect {
      case a: Attribute => toRelCol(a).get.name
    }.toSet
    TxTable.metaPartitionLines(snap).flatMap { fullGroups =>
      val groups: Seq[(Map[String, Option[String]], Seq[String])] =
        fullGroups
          .groupBy { case (pvals, _) =>
            groupedNames.toSeq.sorted.map(n => n -> pvals.get(n).flatten)
          }
          .map { case (key, gs) => (key.toMap, gs.flatMap(_._2)) }
          .toSeq
      val rows = groups.map { case (pvals, lines) =>
        def valueOf(m: MetaAgg): Option[Literal] = m match {
          case RowCount =>
            TxTable.metaRowCountOfLines(lines).map(Literal(_))
          case ColCount(c) =>
            TxTable.metaColumnCountOfLines(lines, c).map(Literal(_))
          case ColMin(c, dt) =>
            TxTable.metaMinMaxOfLines(lines, c,
              stringOrdered = dt == StringType).flatMap(mm =>
              scala.util.Try(literalOf(mm._1, dt)).toOption)
          case ColMax(c, dt) =>
            TxTable.metaMinMaxOfLines(lines, c,
              stringOrdered = dt == StringType).flatMap(mm =>
              scala.util.Try(literalOf(mm._2, dt)).toOption)
        }
        def groupLit(a: Attribute): Option[Literal] =
          toRelCol(a).filter(r => pvals.contains(r.name)).flatMap { r =>
            pvals(r.name) match {
              case None => Some(Literal(null, r.dataType))
              case Some(s) =>
                scala.util.Try(literalOf(s, r.dataType)).toOption
            }
          }
        val cells = classified.map { case (ne, aes) =>
          val lits = aes.map { case (ae, m) => m.flatMap(valueOf).map(ae -> _) }
          if (lits.exists(_.isEmpty)) None
          else {
            val byAe = lits.flatten.toMap
            val substituted = ne.transform {
              case ae: AggregateExpression if byAe.contains(ae) => byAe(ae)
              case a: Attribute if groupLit(a).isDefined => groupLit(a).get
            }
            // anything left unresolved (a non-partition attribute
            // outside an aggregate) → decline
            if (substituted.references.nonEmpty) None
            else scala.util.Try(substituted.eval(null)).toOption
          }
        }
        if (cells.exists(_.isEmpty)) None
        else Some(org.apache.spark.sql.catalyst.InternalRow
          .fromSeq(cells.map(_.get)))
      }
      if (rows.exists(_.isEmpty)) None
      else Some(org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        agg.aggregateExpressions.map(_.toAttribute), rows.map(_.get)))
    }
  }
}
