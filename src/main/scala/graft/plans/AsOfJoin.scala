package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the one whole-operator gap in Spark's surface the
  * reference's workload repeatedly needs (SURVEY §4 "custom Catalyst
  * work": price-at-timestamp J16, block↔ts resolution J17, spec-version
  * selection §1.2, XCM candidate windows J3).
  *
  * Semantics: for every left row, attach the LATEST right row with equal
  * keys and `rightTime <= leftTime` (optionally within `toleranceUs`);
  * unmatched left rows keep nulls (left-outer).
  *
  * Physical execution: both sides hash-clustered on the keys and sorted
  * by (keys, time) — EnsureRequirements inserts the exchanges/sorts —
  * then a single-pass streamed merge per partition: O(|L|+|R|), memory =
  * ONE buffered right row. Compare with the composable alternatives:
  * union+window shuffles both sides into one sorted run and carries
  * window state; a range join explodes candidates. At 100 TB this is the
  * difference between a merge and a blow-up — this operator exists for
  * exactly that reason. (The preference-order (c) tier: LogicalPlan +
  * Strategy + Exec, per the project brief.)
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    toleranceUs: Option[Long])
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    toleranceUs: Option[Long])
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val tol = toleranceUs
    val rightWidth = right.output.size
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTime
    val rTimeB = rightTime
    val lOut = left.output
    val rOut = right.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeB), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeB), rOut)
      val keyOrd = org.apache.spark.sql.catalyst.expressions.RowOrdering
        .createNaturalAscendingOrdering(keyTypes)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      // parents expect UnsafeRow output (same contract as SortMergeJoin's
      // result projection); right attrs must be nullable here or the
      // projection reads the null-filled row as zeros
      val outAttrs = lOut ++ rOut.map(_.withNullability(true))
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)

      var rHead: InternalRow =
        if (rIter.hasNext) rIter.next() else null
      var curKey: InternalRow = null // copied key of the current left group
      var lastMatch: InternalRow = null
      var lastMatchTime = 0L

      def advanceRight(): Unit =
        rHead = if (rIter.hasNext) rIter.next() else null

      val nKeys = lKeysB.size
      // SQL equi-join semantics: a NULL key never matches anything —
      // RowOrdering would compare two null keys as equal, silently
      // diverging from the DuckDB ASOF oracle (mirrors SortMergeJoin's
      // null-key handling).
      def keyHasNull(k: InternalRow): Boolean = {
        var i = 0
        while (i < nKeys) {
          if (k.isNullAt(i)) return true
          i += 1
        }
        false
      }

      lIter.map { lRow =>
        val k = lKeyProj(lRow)
        if (keyHasNull(k)) {
          // null-keyed left row: emit unmatched, leave merge state alone
          outProj(joined(lRow, nullRight))
        } else {
        if (curKey == null || keyOrd.compare(k, curKey) != 0) {
          curKey = k.copy()
          lastMatch = null
        }
        val lt = lTimeProj(lRow)
        val lTimeVal = if (lt.isNullAt(0)) Long.MinValue else lt.getLong(0)
        var done = false
        while (!done && rHead != null) {
          val rk = rKeyProj(rHead)
          if (keyHasNull(rk)) advanceRight() // null-keyed right row: skip
          else {
            val c = keyOrd.compare(rk, curKey)
            if (c < 0) advanceRight() // behind the current key: discard
            else if (c > 0) done = true
            else {
              val rt = rTimeProj(rHead)
              if (!rt.isNullAt(0) && rt.getLong(0) <= lTimeVal) {
                lastMatch = rHead.copy()
                lastMatchTime = rt.getLong(0)
                advanceRight()
              } else if (rt.isNullAt(0)) advanceRight() // null time: skip
              else done = true
            }
          }
        }
        val matched = lastMatch != null &&
          tol.forall(t => lTimeVal - lastMatchTime <= t)
        outProj(joined(lRow, if (matched) lastMatch else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tol) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API. */
object AsOfJoin {

  private def attr(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"column '$name' not in ${plan.output.map(_.name).mkString(", ")}"))

  /** `asof(left, right, keys, "l_ts", "r_ts", Some(micros))`: time
    * columns must be TimestampType or LongType micros; right column
    * names should be pre-renamed to avoid clashes. The session plans
    * it through [[AsOfStrategy]], which the session bootstrap installs
    * ([[graft.Tables.configure]] or [[graft.GraftExtensions]]). */
  def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      toleranceUs: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val rPlan0 = right.queryExecution.analyzed
    // self-join safety: if the sides share attribute ids (both derived
    // from the same relation), re-alias the right side with fresh ids —
    // the same disambiguation DeduplicateRelations does for Join nodes.
    val rPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).isEmpty) rPlan0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rPlan0.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()),
        rPlan0)
    val plan = AsOfJoinPlan(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, leftTimeCol), attr(rPlan, rightTimeCol), toleranceUs)
    GraftBridge.ofRows(spark, plan)
  }
}
