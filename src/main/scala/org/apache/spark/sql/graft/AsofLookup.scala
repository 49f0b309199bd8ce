package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset,
  SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** AS-OF time lookup as a first-class Catalyst operator — the one relational
  * operator this engine needs that Spark genuinely lacks (SURVEY §2.3:
  * `join_asof` currently spells it as union + running-max window).
  *
  * Semantics: for every left row, append the greatest right-side `time`
  * strictly before the left row's time for the same key (null if none) —
  * the "most recent prior event" recency feature.
  *
  * Physical algorithm: both sides hash-clustered on the key and sorted by
  * (key, time) — EnsureRequirements inserts exactly one exchange per side —
  * then ONE streaming merge pass per co-partition: O(|L|+|R|) with O(1)
  * state (the last right timestamp of the current key). Compare to the
  * window spelling, which unions both sides and runs a running-max window
  * over |L|+|R| rows: same shuffle count but an extra union materialization
  * and per-row window-frame bookkeeping. At 100 TB both scale, but the
  * merge pass is the shape native engines (kdb, QuestDB, DuckDB ASOF) use.
  *
  * Extension wiring is all public API: the strategy is registered through
  * `spark.experimental.extraStrategies` (by `GraftExtensions.install`) or
  * injected by the `GraftExtensions` session extension; this file sits under
  * `org.apache.spark.sql` (the standard extension-library idiom, cf.
  * Sedona/Delta) only to reach `Dataset.ofRows` for wrapping the custom
  * logical node into a DataFrame.
  *
  * Restrictions (asserted at construction): key attributes are LongType;
  * time attributes are TimestampNTZ/Long-backed (internal Long micros).
  */
case class AsofLookup(left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute,
    outAttr: AttributeReference) extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofLookup =
    copy(left = newLeft, right = newRight)
}

object AsofStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofLookup(l, r, lk, lt, rk, rt, out) =>
      AsofLookupExec(planLater(l), planLater(r), lk, lt, rk, rt, out) :: Nil
    case _ => Nil
  }
}

case class AsofLookupExec(left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute,
    outAttr: AttributeReference) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)
  override def outputPartitioning: Partitioning = left.outputPartitioning

  /** Same contract as sort-merge join: cluster each side on its key …*/
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  /** … and sort within partitions by (key, time). */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lki = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lti = left.output.indexWhere(_.exprId == leftTime.exprId)
    val rki = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rti = right.output.indexWhere(_.exprId == rightTime.exprId)
    require(lki >= 0 && lti >= 0 && rki >= 0 && rti >= 0,
      "as-of attributes missing from child output")
    val leftOutput = left.output
    val extraAttr = outAttr
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val proj = UnsafeProjection.create(leftOutput :+ extraAttr,
        leftOutput :+ extraAttr)
      val joined = new JoinedRow
      val extra = new GenericInternalRow(1)
      // current right cursor (rows with null key/time are skipped — they
      // can never be "the most recent prior event")
      var rRow: InternalRow = null
      var rKey = 0L
      var rTs = 0L
      def advanceR(): Unit = {
        rRow = null
        while (rRow == null && rIt.hasNext) {
          val r = rIt.next()
          if (!r.isNullAt(rki) && !r.isNullAt(rti)) {
            rRow = r; rKey = r.getLong(rki); rTs = r.getLong(rti)
          }
        }
      }
      advanceR()
      // O(1) merge state: the latest consumed right time and its key
      var haveLast = false
      var lastKey = 0L
      var lastTs = 0L
      lIt.map { lRow =>
        if (lRow.isNullAt(lki) || lRow.isNullAt(lti)) {
          extra.update(0, null)
        } else {
          val lk = lRow.getLong(lki)
          val lt = lRow.getLong(lti)
          // consume right rows strictly before (lk, lt); ascending left
          // times per key make consumed rows permanently safe to discard
          while (rRow != null && (rKey < lk || (rKey == lk && rTs < lt))) {
            haveLast = true; lastKey = rKey; lastTs = rTs
            advanceR()
          }
          if (haveLast && lastKey == lk) extra.setLong(0, lastTs)
          else extra.update(0, null)
        }
        proj(joined(lRow, extra))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofLookupExec =
    copy(left = newLeft, right = newRight)
}

object AsofJoin {

  /** Append `as` = the greatest `rightTime` strictly before `leftTime`
    * with matching key (null when none). Planned by [[AsofStrategy]],
    * which `GraftExtensions.install` puts on the session. */
  def lookup(left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String, as: String): DataFrame = {
    val spark = left.sparkSession.asInstanceOf[ClassicSparkSession]
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.filter(_.name == n) match {
        case Seq(a) => a
        case Seq()  =>
          throw new IllegalArgumentException(s"no column $n in ${p.output}")
        case many   => // silently taking the first would bind the wrong side
          throw new IllegalArgumentException(
            s"ambiguous column $n: ${many.mkString(", ")}")
      }
    val lk = attr(lPlan, leftKey)
    val rk = attr(rPlan, rightKey)
    val lt = attr(lPlan, leftTime)
    val rt = attr(rPlan, rightTime)
    require(lk.dataType == LongType && rk.dataType == LongType,
      s"as-of keys must be LongType, got ${lk.dataType}/${rk.dataType}")
    require(lt.dataType == rt.dataType,
      s"as-of time types differ: ${lt.dataType} vs ${rt.dataType}")
    // the exec reads times via getLong: only Long-backed internal types are
    // sound (timestamps are micros-as-long internally; Int/Date would
    // misread)
    require(Seq(LongType, TimestampType, TimestampNTZType).contains(lt.dataType),
      s"as-of time must be Long-backed (LONG/TIMESTAMP/TIMESTAMP_NTZ), got ${lt.dataType}")
    val out = AttributeReference(as, rt.dataType, nullable = true)()
    ClassicDataset.ofRows(spark,
      AsofLookup(lPlan, rPlan, lk, lt, rk, rt, out))
  }
}
