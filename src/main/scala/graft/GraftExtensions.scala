package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.{C4LineCleanExpr, CosineSimExpr, DeflateRatioExpr, IdPairsExpr, LangIdExpr, MinHashSigExpr, RepetitionSignalsExpr, RollingHashExpr, SimHash64Expr, TextAnalysis, WordShinglesExpr}

/** Opt-in approximation mode (the BlinkDB-style interactive-exploration
  * lever): when `spark.graft.approx.countDistinct=true`, every exact
  * `count(DISTINCT x)` in the plan is rewritten to a HyperLogLog++ estimate
  * (`spark.graft.approx.rsd`, default 0.05). At 100 TB this turns a full
  * distinct shuffle into one mergeable-sketch pass — the difference between
  * minutes and an interactive answer — while leaving default sessions
  * bit-exact. Injected as an optimizer [[Rule]] so EVERY query form (SQL,
  * DataFrame, registry) gets it from the one switch.
  */
object ApproxCountDistinctRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.approx.countDistinct", "false").toBoolean) plan
    else {
      val rsd = conf.getConfString("spark.graft.approx.rsd", "0.05").toDouble
      plan.transformAllExpressions {
        // single-column exact distinct count → HLL++ sketch (multi-column
        // distinct counts keep exact semantics — HLL++ is unary)
        case ae @ AggregateExpression(Count(Seq(child)), _, true, _, _) =>
          ae.copy(aggregateFunction = HyperLogLogPlusPlus(child, rsd), isDistinct = false)
      }
    }
}

/** Second approximation-mode lever, same opt-in philosophy as
  * [[ApproxCountDistinctRule]]: `spark.graft.approx.percentile=true` rewrites
  * every exact `percentile(x, p)` — which buffers a full per-group value map
  * and is the classic OOM at 100 TB — to `approx_percentile` (a bounded
  * quantile sketch, mergeable map-side, one pass). The result is wrapped in a
  * cast back to the exact form's type so the rewrite never changes the plan
  * schema (approx returns the CHILD's type, exact returns double).
  * Frequency-weighted percentiles are left exact — the sketch is unweighted.
  */
object ApproxPercentileRule extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, Percentile}

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.approx.percentile", "false").toBoolean) plan
    else {
      val acc = conf.getConfString("spark.graft.approx.percentile.accuracy", "10000").toInt
      plan.transformAllExpressions {
        case ae @ AggregateExpression(p: Percentile, _, false, _, _)
            if p.frequencyExpression == Literal(1L) =>
          val approx = new ApproximatePercentile(p.child, p.percentageExpression, Literal(acc))
          Cast(ae.copy(aggregateFunction = approx), ae.dataType)
      }
    }
}

/** SparkSessionExtensions wiring: registers graft's custom Catalyst
  * expressions as SQL functions so `spark.sql("SELECT rolling_hash(text) …")`
  * works, in addition to the Column API in [[graft.functions.NativeFns]].
  *
  * [[GraftSession.builder]] installs it on every session graft builds; an
  * outside session enables it with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def info(name: String, usage: String) =
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "", "", "", "", "", "", "scala_udf")

    ext.injectFunction(
      (FunctionIdentifier("rolling_hash"),
       info("rolling_hash", "rolling_hash(str) - polynomial rolling-hash fingerprint of a string"),
       (args: Seq[Expression]) => RollingHashExpr(args.head))
    )
    ext.injectFunction(
      (FunctionIdentifier("cosine_sim"),
       info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors"),
       (args: Seq[Expression]) => CosineSimExpr(args(0), args(1)))
    )
    ext.injectFunction(
      (FunctionIdentifier("simhash64"),
       info("simhash64", "simhash64(tokens) - 64-bit SimHash of a string array"),
       (args: Seq[Expression]) => SimHash64Expr(args.head))
    )
    ext.injectFunction(
      (FunctionIdentifier("minhash_sig"),
       info("minhash_sig", "minhash_sig(shingles, k) - k-element MinHash signature of a string array"),
       (args: Seq[Expression]) => MinHashSigExpr(args(0), intArg(args(1), "minhash_sig k")))
    )
    ext.injectFunction(
      (FunctionIdentifier("id_pairs"),
       info("id_pairs", "id_pairs(ids) - all i<j pairs of a bigint array as struct<id_a,id_b>"),
       (args: Seq[Expression]) => IdPairsExpr(args.head))
    )
    ext.injectFunction(
      (FunctionIdentifier("word_shingles"),
       info("word_shingles", "word_shingles(str, n) - distinct word n-gram shingles"),
       (args: Seq[Expression]) => WordShinglesExpr(args(0), intArg(args(1), "word_shingles n")))
    )
    ext.injectFunction(
      (FunctionIdentifier("lang_id"),
       info("lang_id", "lang_id(str) - stopword-heuristic language id (en/es/de/fr/zh/und)"),
       (args: Seq[Expression]) => LangIdExpr(args.head, TextAnalysis.langStopwords))
    )
    ext.injectFunction(
      (FunctionIdentifier("deflate_ratio"),
       info("deflate_ratio", "deflate_ratio(str) - DEFLATE compressed/raw size ratio (entropy signal)"),
       (args: Seq[Expression]) => DeflateRatioExpr(args.head))
    )
    ext.injectFunction(
      (FunctionIdentifier("c4_line_clean"),
       info("c4_line_clean", "c4_line_clean(str[, min_words]) - C4 line-level cleaning: struct<clean, n_kept, n_dropped>"),
       (args: Seq[Expression]) =>
         C4LineCleanExpr(args.head, if (args.length > 1) intArg(args(1), "c4_line_clean min_words") else 3))
    )
    ext.injectFunction(
      (FunctionIdentifier("repetition_signals"),
       info("repetition_signals", "repetition_signals(str) - Gopher repetition diagnostics (ppm ints) + keep flag"),
       (args: Seq[Expression]) => RepetitionSignalsExpr(args.head))
    )
    ext.injectOptimizerRule(_ => ApproxCountDistinctRule)
    ext.injectOptimizerRule(_ => ApproxPercentileRule)
    // Whole-operator custom plan: as-of join (logical node → physical
    // single-pass sort-merge). See graft.plans.AsOfJoinPlan/AsOfJoinExec.
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // …and the optimizer rule that lets filters/pruning pass through the
    // custom node instead of stopping at it.
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinRules)
  }
}
