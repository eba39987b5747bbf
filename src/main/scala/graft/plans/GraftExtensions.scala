package graft.plans

import graft.functions.{Fnv64, Md5Long, QuantizeInt8, SeqDot, ShingleSet, Winnow}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql("SELECT graft_md5long(text)...")`
  * works and the functions are usable from pure-SQL deployments.
  *
  * Engine sessions (`graft.EngineSession`) install it. Elsewhere, pass it to a
  * session builder's `withExtensions`, or set
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(
      classOf[GraftExtensions].getName, null, name, usage, "", "", "", "", "", "", "built-in")

  /** Constant-int extraction for expression-shape parameters (graft_shingles'
    * n, graft_winnow's k and w): demand foldability and an integral type at
    * analysis time, not as a runtime ClassCastException mid-job.
    */
  private def foldableInt(fn: String, param: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(s"$fn: $param must be a foldable integer literal")
    e.eval() match {
      case i: Int                         => i
      case l: Long if l == l.toInt.toLong => l.toInt
      case s: Short                       => s.toInt
      case b: Byte                        => b.toInt
      case other =>
        throw new IllegalArgumentException(s"$fn: $param must be an integer literal, got $other")
    }
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    // Optimizer tier: window top-k → bounded-heap aggregate (see
    // [[TopKRewrite]] for the provable-shape guards).
    e.injectOptimizerRule(_ => TopKRewrite)
    // Aggregate navigation: reroute provably-equivalent aggregates onto a
    // registered materialized view (see [[MatViewReroute]]).
    e.injectOptimizerRule(_ => MatViewReroute)
    // PK-FK join elimination under declared RELY constraints (see
    // [[JoinElimination]] for the three soundness conditions).
    e.injectOptimizerRule(_ => JoinElimination)
    // Eager aggregation: decomposable count/sum pushed below an inner
    // equi-join (see [[EagerAggregation]] for the provable-shape guards).
    e.injectOptimizerRule(_ => EagerAggregation)
    e.injectFunction(
      (FunctionIdentifier("graft_fnv64"),
        info("graft_fnv64", "graft_fnv64(str) - FNV-1a 64-bit hash of str's UTF-8 bytes."),
        (args: Seq[Expression]) => Fnv64(args.head))
    )
    e.injectFunction(
      (FunctionIdentifier("graft_md5long"),
        info("graft_md5long", "graft_md5long(str) - 60-bit md5-derived cross-engine hash."),
        (args: Seq[Expression]) => Md5Long(args.head))
    )
    e.injectFunction(
      (FunctionIdentifier("graft_seqdot"),
        info("graft_seqdot", "graft_seqdot(a, b) - sequential left-fold dot product of two double arrays."),
        (args: Seq[Expression]) => SeqDot(args(0), args(1)))
    )
    e.injectFunction(
      (FunctionIdentifier("graft_shingles"),
        info("graft_shingles", "graft_shingles(text, n) - distinct word n-gram shingles of text."),
        (args: Seq[Expression]) => args match {
          case Seq(c) => ShingleSet(c, 3)
          case Seq(c, n) => ShingleSet(c, foldableInt("graft_shingles(text, n)", "n", n))
          case _ =>
            throw new IllegalArgumentException(
              "graft_shingles expects (text) or (text, n)")
        })
    )
    e.injectFunction(
      (FunctionIdentifier("graft_winnow"),
        info("graft_winnow",
          "graft_winnow(text, k, w) - winnowing fingerprints: distinct per-window minima of k-gram md5 hashes."),
        (args: Seq[Expression]) => args match {
          case Seq(c, k, w) =>
            Winnow(c, foldableInt("graft_winnow", "k", k), foldableInt("graft_winnow", "w", w))
          case _ =>
            throw new IllegalArgumentException("graft_winnow expects (text, k, w)")
        })
    )
    e.injectFunction(
      (FunctionIdentifier("graft_repetition"),
        info("graft_repetition",
          "graft_repetition(text, n) - struct(total_grams, distinct_grams, top_count) over text's word n-grams."),
        (args: Seq[Expression]) => args match {
          case Seq(c)    => graft.functions.RepetitionStats(c, 3)
          case Seq(c, n) => graft.functions.RepetitionStats(c, foldableInt("graft_repetition", "n", n))
          case _ =>
            throw new IllegalArgumentException("graft_repetition expects (text) or (text, n)")
        })
    )
    e.injectFunction(
      (FunctionIdentifier("graft_quantize_i8"),
        info("graft_quantize_i8",
          "graft_quantize_i8(vec, norm) - int8 codes floor(vec[i]*127/norm + 0.5) of a double array."),
        (args: Seq[Expression]) => args match {
          case Seq(v, n) => QuantizeInt8(v, n)
          case _ =>
            throw new IllegalArgumentException("graft_quantize_i8 expects (vec, norm)")
        })
    )
  }
}
