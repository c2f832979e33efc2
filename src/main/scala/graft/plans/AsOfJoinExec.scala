package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, BoundReference, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Physical as-of join: a single-pass sort-merge over key-co-partitioned,
  * (key..., time)-sorted children.
  *
  * Scale shape (the reason this beats every composed-builtin form at 100 TB):
  * `requiredChildDistribution` asks Catalyst for ONE hash exchange per side on
  * the join keys and `requiredChildOrdering` for a per-partition sort — then
  * the merge itself is O(|L| + |R|) streaming with O(1) state (the last
  * matching right row), no per-key buffering, no window carry column, no
  * union of mismatched schemas, no per-key cross product. EnsureRequirements
  * inserts the exchanges/sorts only when the children aren't already
  * partitioned/sorted usefully — so an upstream bucketed or pre-sorted source
  * makes the whole join exchange-free, which the union+window form
  * ([[graft.operators.AsOfJoin.lookback]]) can never express.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    toleranceMicros: Option[Long],
    direction: AsOfDirection,
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
      rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  protected override def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val timeOrd  = org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(leftTime.dataType)
    // Bind once on the driver; the bound trees are serialized into the task.
    val lKeys = leftKeys.map(BindReferences.bindReference(_, left.output))
    val rKeys = rightKeys.map(BindReferences.bindReference(_, right.output))
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val rightWidth = right.output.size
    val outAttrs   = output
    // Nullability on the projection INPUT side must also be relaxed: the
    // right child declares non-null attrs, but unmatched left rows feed a
    // null row through them — a non-nullable BoundReference would skip the
    // null check and project garbage zeros.
    val inAttrs    = left.output ++ right.output.map(_.withNullability(true))
    val dir        = direction

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val project   = UnsafeProjection.create(outAttrs, inAttrs)
      val lKeyProj  = UnsafeProjection.create(lKeys)
      val rKeyProj  = UnsafeProjection.create(rKeys)
      // Full ordering compare is only needed when byte equality fails — both
      // projections emit the same key schema, so SQL-equal keys are
      // byte-equal UnsafeRows (floats are rejected at plan construction).
      val keyOrd = RowOrdering.create(
        keyTypes.zipWithIndex.map { case (dt, i) =>
          SortOrder(BoundReference(i, dt, nullable = true), Ascending)
        }, Seq.empty[Attribute])
      val joined    = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)
      val rBuf      = rIter.buffered

      // Streaming merge state. Rows coming out of SortExec (and the key
      // projections) reuse buffers, so saved state is copied; everything
      // else is consumed strictly forward.
      //
      // Fast-path caches (the r5-flagged hot-loop cost was re-projecting and
      // re-comparing unchanged rows): the head of the right buffer is
      // projected/evaluated ONCE per right row, not once per left row; the
      // head-vs-left-key comparison is computed once per (left-key run ×
      // head row) instead of once per left row, and run membership is a
      // byte-equality check on the projected key, not an interpreted compare.
      var matchKey: UnsafeRow   = null
      var matchRow: InternalRow = null
      var matchTime: Long       = Long.MinValue
      var headKey: UnsafeRow    = null // projected key of rBuf.head; null = stale
      var headTime: Any         = null // evaluated time of rBuf.head
      var runKey: UnsafeRow     = null // copy of the current left-key run
      var headRunCmp: Int       = 0    // sign of compare(headKey, runKey)
      var headRunCmpValid       = false
      val tol = toleranceMicros.getOrElse(Long.MaxValue)
      def asLong(t: Any): Long = t match {
        case l: java.lang.Long => l
        case n: java.lang.Number => n.longValue()
      }
      // Refresh the head caches; returns false when the right side is drained.
      def ensureHead(): Boolean = {
        if (rBuf.hasNext) {
          if (headKey == null) {
            headKey = rKeyProj(rBuf.head) // buffer stays valid until next projection
            headTime = rTime.eval(rBuf.head)
            headRunCmpValid = false
          }
          true
        } else false
      }
      def consumeHead(): InternalRow = {
        headKey = null; headRunCmpValid = false
        rBuf.next()
      }

      lIter.map { lRow =>
        val lk = lKeyProj(lRow)
        val lt = if (lk.anyNull) null else lTime.eval(lRow)
        if (lt == null) {
          // A null key column or null time never satisfies keys = keys AND
          // the time bound (SQL equi-join null semantics).
          joined(lRow, nullRight)
        } else {
          if (runKey == null || !lk.equals(runKey)) {
            runKey = lk.copy(); headRunCmpValid = false
          }
          // Advance the right side past every row strictly "behind" (lk, lt).
          // backward/nearest consume through rt <= lt (remembering the last
          // same-key row as the backward candidate); forward consumes only
          // rt < lt — rows at rt == lt are themselves forward matches. Ties
          // on (key, time): backward keeps the LAST row in sort order,
          // forward the FIRST (see AsOfJoinPlan scaladoc).
          var advance = true
          while (advance && ensureHead()) {
            if (!headRunCmpValid) {
              headRunCmp =
                if (headKey.anyNull) -1
                else if (headKey.equals(runKey)) 0
                else keyOrd.compare(headKey, runKey)
              headRunCmpValid = true
            }
            if (headRunCmp > 0) advance = false
            else if (headRunCmp < 0 || headTime == null) { consumeHead(); () }
            else {
              val tCmp = timeOrd.compare(headTime, lt)
              val stop = if (dir eq AsOfDirection.Forward) tCmp >= 0 else tCmp > 0
              if (stop) advance = false
              else {
                val ht = headTime
                val r  = consumeHead()
                if (dir ne AsOfDirection.Forward) {
                  matchKey = runKey; matchRow = r.copy(); matchTime = asLong(ht)
                }
              }
            }
          }
          // Candidates: backward = the saved latest rt <= lt row; forward =
          // the unconsumed head iff it still belongs to this key.
          val backOk = (dir ne AsOfDirection.Forward) &&
            matchRow != null && matchKey != null && matchKey.equals(runKey) &&
            (toleranceMicros.isEmpty || asLong(lt) - matchTime <= tol)
          val fwdOk = (dir ne AsOfDirection.Backward) &&
            ensureHead() && headRunCmpValid && headRunCmp == 0 && headTime != null &&
            (toleranceMicros.isEmpty || asLong(headTime) - asLong(lt) <= tol)
          dir match {
            case AsOfDirection.Backward =>
              if (backOk) joined(lRow, matchRow) else joined(lRow, nullRight)
            case AsOfDirection.Forward =>
              if (fwdOk) joined(lRow, rBuf.head) else joined(lRow, nullRight)
            case AsOfDirection.Nearest =>
              // merge_asof rule: min |distance|, exact tie resolves backward.
              if (backOk && fwdOk) {
                if (asLong(lt) - matchTime <= asLong(headTime) - asLong(lt))
                  joined(lRow, matchRow)
                else joined(lRow, rBuf.head)
              } else if (backOk) joined(lRow, matchRow)
              else if (fwdOk) joined(lRow, rBuf.head)
              else joined(lRow, nullRight)
          }
        }
      }.map(project)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy turning [[AsOfJoinPlan]] into [[AsOfJoinExec]].
  * Registered via `SparkSessionExtensions.injectPlannerStrategy` (see
  * [[graft.GraftExtensions]]), which every [[graft.GraftSession]] installs.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lks, rks, lt, rt, tol, dir) =>
      AsOfJoinExec(lks, rks, lt, rt, tol, dir, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}
