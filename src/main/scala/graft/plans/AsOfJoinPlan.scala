package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}

/** Match direction of an as-of join (pandas `merge_asof` vocabulary).
  *  - [[AsOfDirection.Backward]]: latest right row with `rt <= lt` (default).
  *  - [[AsOfDirection.Forward]]: earliest right row with `rt >= lt`.
  *  - [[AsOfDirection.Nearest]]: right row minimizing `|rt - lt|`; an exact
  *    distance tie resolves BACKWARD (the `merge_asof` rule).
  * `toleranceMicros` always bounds the matched distance on the search side(s).
  */
sealed trait AsOfDirection
object AsOfDirection {
  case object Backward extends AsOfDirection
  case object Forward  extends AsOfDirection
  case object Nearest  extends AsOfDirection
  def apply(name: String): AsOfDirection = name.toLowerCase match {
    case "backward" => Backward
    case "forward"  => Forward
    case "nearest"  => Nearest
    case other => throw new IllegalArgumentException(
      s"asof direction must be backward|forward|nearest, got '$other'")
  }
}

/** Logical as-of join: for every left row, attach the latest right row with
  * the same (multi-column) key whose time is `<=` the left row's time
  * (inclusive lookback; left outer — unmatched left rows keep null right
  * columns; `toleranceMicros` optionally rejects matches older than
  * `leftTime - tolerance`). `direction` flips the search to the earliest
  * future row (`forward`) or the absolute-closest row (`nearest`).
  *
  * This is the whole-operator custom-plan path (SURVEY preference (c)): a
  * first-class [[LogicalPlan]] node planned by [[AsOfJoinStrategy]] into
  * [[AsOfJoinExec]], instead of composing built-ins. The union+window form in
  * [[graft.operators.AsOfJoin.lookback]] stays because it widens mixed
  * numeric key types (`commonKeyType`, pinned by `OperatorSpec`) and because
  * `h7_asof_join` runs it as the independent cross-check of
  * `h7b_asof_join_native` under the same oracle.
  * The node is constructed already resolved — keys/times are [[Attribute]]s
  * picked from the children's analyzed outputs — so it passes through the
  * analyzer untouched; [[AsOfJoinRules]] keeps the optimizer's pushdown and
  * pruning flowing through it.
  *
  * Semantics mirror DuckDB's `ASOF LEFT JOIN` (the reference-era oracle for
  * h7): a left key with ANY null column never matches; right rows with null
  * key columns or null time are dropped; among right rows tied on
  * (key, time) one winner is kept (deterministic output only if the carried
  * right columns are functionally determined by (key, time), as in a
  * time-series "latest value" lookup).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    toleranceMicros: Option[Long] = None,
    direction: AsOfDirection = AsOfDirection.Backward)
  extends BinaryNode {

  require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
    s"asof needs matching key lists, got ${leftKeys.size} vs ${rightKeys.size}")
  leftKeys.zip(rightKeys).foreach { case (l, r) =>
    require(l.dataType == r.dataType,
      s"asof key types differ at '${l.name}': ${l.dataType.simpleString} vs ${r.dataType.simpleString}")
  }
  require(leftTime.dataType == rightTime.dataType,
    s"asof time types differ: ${leftTime.dataType.simpleString} vs ${rightTime.dataType.simpleString}")
  require(toleranceMicros.forall(_ >= 0), "asof tolerance must be non-negative")
  // Tolerance and `nearest` both compute numeric time DISTANCES, not just
  // comparisons, so they need a long-backed time type.
  require((toleranceMicros.isEmpty && direction != AsOfDirection.Nearest) || {
    import org.apache.spark.sql.types._
    Seq(TimestampType, TimestampNTZType, LongType, IntegerType).contains(leftTime.dataType)
  }, s"asof tolerance/nearest needs a long-backed time type, got ${leftTime.dataType.simpleString}")
  // Float/double join keys are rejected up front: the merge compares and the
  // exchange hashes their raw bits, so -0.0/0.0 and NaN payloads would split
  // SQL-equal keys across partitions (Spark normalizes these only for its
  // built-in joins). Cast to decimal/integer instead.
  leftKeys.zip(rightKeys).foreach { case (l, _) =>
    import org.apache.spark.sql.types._
    require(l.dataType != FloatType && l.dataType != DoubleType,
      s"asof join key '${l.name}' is ${l.dataType.simpleString}; float keys are not " +
        "supported (NaN/-0.0 equality pitfalls) — cast to decimal or integer")
  }

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def maxRows: Option[Long] = left.maxRows

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}
