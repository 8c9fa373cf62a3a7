package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Optimizer rule: rewrite the interpreted HOF dot-product shape
  *
  *   aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0.0,
  *             (acc, v) -> acc + v)
  *
  * into the native codegen'd [[VecDot]]. Users (and SQL authors) can
  * write the declarative form; plans that contain it get the fast
  * expression automatically. Bit-identical: both accumulate
  * left-to-right in double precision.
  *
  * Registered through SparkSessionExtensions:
  *   SparkSession.builder.withExtensions(new GraftExtensions)
  * or spark.sql.extensions=graft.plans.GraftExtensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteDotProduct)
    ext.injectOptimizerRule(_ => RewriteThresholdedLevenshtein)
    ext.injectOptimizerRule(session => new MaterializedViews.Rewrite(session))
    ext.injectPlannerStrategy(_ => TopKStrategy)
    GraftFunctions.all.foreach(ext.injectFunction)
  }
}

/** SQL surface for the native graft expressions.
  *
  * Registered through `SparkSessionExtensions.injectFunction`, so a pure
  * `spark.sql(...)` user (a notebook, a JDBC client, Spark Connect) reaches
  * the same codegen'd expressions as the Column API — no imports, no UDF
  * re-implementations that would silently fall off whole-stage codegen.
  * Arity and literal-argument checks happen at analysis time, where SQL
  * users expect errors to surface.
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.types.IntegerType

  type FunctionDesc =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, arity: Int, usage: String)(
      build: Seq[Expression] => Expression): FunctionDesc =
    (
      FunctionIdentifier(name),
      new ExpressionInfo("graft.plans.GraftFunctions", null, name, usage, ""),
      (args: Seq[Expression]) => {
        if (args.length != arity)
          throw new IllegalArgumentException(
            s"$name expects $arity argument(s), got ${args.length}")
        build(args)
      })

  /** Plan-time integer parameters (hash counts, shingle width, bit budget)
    * must be foldable: the expressions specialize their codegen on them.
    */
  private def intLit(e: Expression, fname: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other if other.foldable && other.dataType == IntegerType =>
      other.eval(null).asInstanceOf[Int]
    case _ =>
      throw new IllegalArgumentException(
        s"$fname: $arg must be an integer literal, got $e")
  }

  val all: Seq[FunctionDesc] = Seq(
    fn("graft_vec_dot", 2, "dot product of two float/double arrays")(a =>
      VecDot(a(0), a(1))),
    fn("graft_jaro_winkler", 2, "Jaro-Winkler similarity in [0,1]")(a =>
      JaroWinkler(a(0), a(1))),
    fn("graft_damerau_levenshtein", 2,
      "true Damerau-Levenshtein distance (Lowrance-Wagner)")(a =>
      DamerauLevenshtein(a(0), a(1))),
    fn("graft_char_entropy", 1, "character-distribution entropy, bits/char")(a =>
      CharEntropy(a(0))),
    fn("graft_nfc_normalize", 1, "Unicode NFC normalization w/ fast path")(a =>
      NfcNormalize(a(0))),
    fn("graft_compression_ratio", 1, "deflate bytes-in/bytes-out ratio")(a =>
      CompressionRatio(a(0))),
    fn("graft_simhash_bits", 1, "64-bit SimHash over a token array")(a =>
      SimHashBits(a(0))),
    fn("graft_minhash_sig", 2, "minhash signature of a shingle array; arg2 = #hashes")(a =>
      MinHashSig(a(0), intLit(a(1), "graft_minhash_sig", "numHashes"))),
    fn("graft_shingles", 2, "character n-gram shingle set; arg2 = n")(a =>
      NgramShingles(a(0), intLit(a(1), "graft_shingles", "n"))),
    fn("graft_zorder2", 3, "Morton interleave of two ints; arg3 = bits/key")(a =>
      ZOrder2(a(0), a(1), intLit(a(2), "graft_zorder2", "bits"))),
    fn("graft_build_inverted_index", 1, "abstract -> inverted index map")(a =>
      BuildInvertedIndex(a(0))),
    fn("graft_rebuild_inverted_index", 1, "inverted index map -> abstract")(a =>
      RebuildInvertedIndex(a(0))))
}

/** Optimizer rule: a bounded edit-distance predicate
  *
  *   levenshtein(a, b) <= k        (or k >= levenshtein(a, b))
  *
  * computes the FULL O(|a|·|b|) DP and then throws the distance away.
  * Spark's own Levenshtein carries an optional threshold argument that
  * runs the banded O(k·min(|a|,|b|)) DP, bails out the moment every
  * band cell exceeds k, and short-circuits on |len(a) − len(b)| > k
  * without touching the matrix — returning −1 for "above threshold".
  * The predicate is therefore exactly
  *
  *   levenshtein(a, b, k) >= 0
  *
  * and this rule rewrites one to the other wherever it appears
  * (filters, projections, join conditions). A fuzzy join's verify
  * predicate — the hot inner loop of blocked record linkage — gets
  * the banded algorithm for free; the SQL author keeps writing the
  * natural form. Naturally idempotent: the rewritten node carries a
  * threshold and no longer matches. Long-typed comparisons (Spark
  * promotes `<= 2` against a bigint column) match through the cast.
  */
object RewriteThresholdedLevenshtein extends Rule[LogicalPlan] {
  import org.apache.spark.sql.types.{IntegerType, LongType}

  private def thresholded(a: Expression, b: Expression, k: Int): Expression =
    GreaterThanOrEqual(Levenshtein(a, b, Some(Literal(k))), Literal(0))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case LessThanOrEqual(Levenshtein(a, b, None), Literal(k: Int, IntegerType)) if k >= 0 =>
      thresholded(a, b, k)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), Levenshtein(a, b, None)) if k >= 0 =>
      thresholded(a, b, k)
    case LessThanOrEqual(Cast(Levenshtein(a, b, None), LongType, tz, m), Literal(k: Long, LongType))
        if k >= 0 && k <= Int.MaxValue =>
      GreaterThanOrEqual(Cast(Levenshtein(a, b, Some(Literal(k.toInt))), LongType, tz, m), Literal(0L))
    case GreaterThanOrEqual(Literal(k: Long, LongType), Cast(Levenshtein(a, b, None), LongType, tz, m))
        if k >= 0 && k <= Int.MaxValue =>
      GreaterThanOrEqual(Cast(Levenshtein(a, b, Some(Literal(k.toInt))), LongType, tz, m), Literal(0L))
  }
}

/** Plans the TopKPerKey logical node as partial → (exchange inserted
  * by EnsureRequirements) → final bounded-heap passes.
  */
object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  import org.apache.spark.sql.execution.SparkPlan
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, keys, order, child) =>
      FinalTopKExec(k, keys, order, PartialTopKExec(k, keys, order, planLater(child))) :: Nil
    case _ => Nil
  }
}

object RewriteDotProduct extends Rule[LogicalPlan] {

  private def isFloatOrDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  /** x*y, cast(x)*y, x*cast(y), cast(x)*cast(y) over the two lambda vars. */
  private def isElementwiseProduct(body: Expression, x: NamedLambdaVariable, y: NamedLambdaVariable): Boolean = {
    def strip(e: Expression): Expression = e match {
      case Cast(c, DoubleType, _, _) => strip(c)
      case other => other
    }
    body match {
      case Multiply(l, r, _) =>
        (strip(l), strip(r)) match {
          case (lv: NamedLambdaVariable, rv: NamedLambdaVariable) =>
            (lv.exprId == x.exprId && rv.exprId == y.exprId) ||
              (lv.exprId == y.exprId && rv.exprId == x.exprId)
          case _ => false
        }
      case _ => false
    }
  }

  private def isAccPlusV(body: Expression, acc: NamedLambdaVariable, v: NamedLambdaVariable): Boolean =
    body match {
      case Add(l: NamedLambdaVariable, r: NamedLambdaVariable, _) =>
        (l.exprId == acc.exprId && r.exprId == v.exprId) ||
          (l.exprId == v.exprId && r.exprId == acc.exprId)
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case agg @ ArrayAggregate(
          ZipWith(a, b, LambdaFunction(mulBody, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(0.0, DoubleType),
          LambdaFunction(addBody, Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
          finish
        )
        if isFloatOrDoubleArray(a) && isFloatOrDoubleArray(b) &&
          isElementwiseProduct(mulBody, x, y) && isAccPlusV(addBody, acc, v) &&
          isIdentityFinish(finish) =>
      VecDot(a, b)
  }

  private def isIdentityFinish(finish: Expression): Boolean = finish match {
    case LambdaFunction(body: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      body.exprId == arg.exprId
    case _ => false
  }
}
