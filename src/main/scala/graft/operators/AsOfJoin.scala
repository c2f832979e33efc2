package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of join (extension operator — absent from both the reference, SURVEY
  * §2.5, and Spark's built-in join set).
  *
  * Implemented with the union+window technique rather than a correlated
  * subquery or a theta-join: both sides are unioned on (key, time), a single
  * `last(..., ignoreNulls)` running window carries the most recent right-side
  * value forward, and left rows are filtered back out. Cost at scale: ONE
  * hash-partition shuffle on the key plus a per-partition sort — no pairwise
  * key×key blowup, no broadcast requirement, skew handled by AQE. This is the
  * plan shape you want at 100 TB; a theta-join `l.key = r.key AND r.t <= l.t`
  * would degenerate to a per-key cross product.
  */
object AsOfJoin {

  import org.apache.spark.sql.types._

  /** Widening-only key alignment: equal types pass through; numeric pairs
    * widen to the larger type (never narrow — a narrowing cast throws under
    * ANSI or silently wraps into false matches without it); anything else is
    * rejected up front with a clear error rather than coerced surprisingly.
    */
  private[operators] def commonKeyType(l: DataType, r: DataType): DataType = {
    val numericOrder: Seq[DataType] =
      Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
    if (l == r) l
    else if (numericOrder.contains(l) && numericOrder.contains(r))
      numericOrder(math.max(numericOrder.indexOf(l), numericOrder.indexOf(r)))
    else
      throw new IllegalArgumentException(
        s"asof join keys have incompatible types ${l.simpleString} / ${r.simpleString}; cast them explicitly")
  }

  /** For each left row, attach the latest `rightVal` of the same key with
    * `rightTime <= leftTime` (inclusive; right rows at the exact same
    * timestamp win). Left rows with no prior right row get null.
    *
    * SQL equi-join semantics for nulls: a null key never matches (right rows
    * with null keys are dropped; left rows with null keys get a null result),
    * and right rows with a null time can never satisfy `rightTime <= leftTime`
    * so they are dropped too. A matched right row whose `rightVal` is
    * legitimately null DOES yield null (the carrier is a non-null
    * struct(time, value), so `ignoreNulls` never skips past a real match to
    * an older non-null value). Ties among right rows at the same (key, time)
    * resolve deterministically to the largest value (the carrier struct is
    * the final window ordering column); `rightVal` must therefore be an
    * orderable type.
    *
    * @param valName  output column name for the carried right-side value
    */
  def lookback(
      left: DataFrame,
      leftKey: Column,
      leftTime: Column,
      right: DataFrame,
      rightKey: Column,
      rightTime: Column,
      rightVal: Column,
      valName: String
  ): DataFrame = {
    val leftCols = left.columns
    val keyType = commonKeyType(
      left.select(leftKey).schema.head.dataType,
      right.select(rightKey).schema.head.dataType)
    val valType = right.select(rightVal).schema.head.dataType
    val carryType = StructType(Seq(
      StructField("t", TimestampType),
      StructField("v", valType)))
    val l = left.select(
      leftKey.cast(keyType).as("__k"),
      leftTime.cast("timestamp").as("__t"),
      lit(1).as("__side"),
      lit(null).cast(carryType).as("__v"),
      struct(leftCols.map(col): _*).as("__row")
    )
    val r = right
      .filter(rightKey.isNotNull && rightTime.isNotNull)
      .select(
        rightKey.cast(keyType).as("__k"),
        rightTime.cast("timestamp").as("__t"),
        lit(0).as("__side"),
        struct(rightTime.cast("timestamp").as("t"), rightVal.as("v")).as("__v"),
        lit(null).cast(l.select(col("__row")).schema.head.dataType).as("__row")
      )
    // Right rows sort before left rows at equal (key, time) => inclusive asof;
    // __v last => equal-(key,time) right rows pick a deterministic winner.
    val w = Window
      .partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"), col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__carry", last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(c => col(s"__row.$c").as(c)) :+ col("__carry.v").as(valName): _*)
  }

  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import graft.plans.AsOfJoinPlan

  /** As-of join via the custom whole-operator plan path
    * ([[graft.plans.AsOfJoinPlan]] → [[graft.plans.AsOfJoinExec]]): for each
    * left row, the full latest right row with the same key and
    * `rightTime <= leftTime` (left outer; unmatched → null right columns).
    *
    * Differences from [[lookback]] (kept as the builtin-composed fallback):
    * carries the WHOLE right row (lookback carries one value), needs no
    * union/window carry machinery, and — because the physical operator
    * declares its distribution/ordering requirements instead of encoding
    * them in the plan — pre-partitioned or pre-sorted inputs skip the
    * exchange entirely.
    *
    * Key and time columns are taken by NAME from each side and must already
    * have equal types side-to-side (cast beforehand). Self-joins: the right
    * side is re-aliased automatically if its attribute ids collide with the
    * left's. `tolerance` bounds the lookback (pandas `merge_asof` parity):
    * a match older than `leftTime - tolerance` is rejected — stale quotes
    * don't pair with today's trades. `direction` selects the `merge_asof`
    * search mode: `backward` (default, latest `rt <= lt`), `forward`
    * (earliest `rt >= lt`, tolerance bounds `rt - lt`), or `nearest`
    * (min `|rt - lt|`, exact ties resolve backward).
    */
  def native(
      left: DataFrame, leftKey: String, leftTime: String,
      right: DataFrame, rightKey: String, rightTime: String,
      tolerance: Option[java.time.Duration] = None,
      direction: String = "backward"
  ): DataFrame =
    nativeMultiKey(left, Seq(leftKey), leftTime, right, Seq(rightKey), rightTime, tolerance, direction)

  /** Multi-column-key form of [[native]]: as-of join on a compound key
    * (e.g. (symbol, venue)) — one hash exchange on all key columns, same
    * single-pass merge.
    */
  def nativeMultiKey(
      left: DataFrame, leftKeys: Seq[String], leftTime: String,
      right: DataFrame, rightKeys: Seq[String], rightTime: String,
      tolerance: Option[java.time.Duration] = None,
      direction: String = "backward"
  ): DataFrame = {
    val spark = left.sparkSession
    val lp = ColumnBridge.analyzed(left)
    val rp0 = ColumnBridge.analyzed(right)
    // A shared-lineage right side would alias the left's attribute ids and
    // make the join output ambiguous — re-key it through a Project.
    val rp: LogicalPlan =
      if (rp0.outputSet.intersect(lp.outputSet).isEmpty) rp0
      else Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
    def attr(p: LogicalPlan, name: String, side: String): Attribute =
      p.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"asof $side column '$name' not in [${p.output.map(_.name).mkString(", ")}]"))
    ColumnBridge.ofRows(spark,
      AsOfJoinPlan(lp, rp,
        leftKeys.map(attr(lp, _, "left key")), rightKeys.map(attr(rp, _, "right key")),
        attr(lp, leftTime, "left time"), attr(rp, rightTime, "right time"),
        tolerance.map(_.toNanos / 1000),
        graft.plans.AsOfDirection(direction)))
  }
}
