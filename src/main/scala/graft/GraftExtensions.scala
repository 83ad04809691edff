package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.IntegerType

import graft.functions.{AllShingles, CharWindows, MinHashUtil, RepetitionUtil,
  Shingles, SimHashUtil, TextNorm, VectorOps, Winnow}

/** `SparkSessionExtensions` installer: registers the engine's kernels as
  * SQL functions so `spark.sql` queries (and the thrift/connect surfaces)
  * can call them directly:
  *
  * {{{
  *   spark.sql("SELECT vec_dot(l2_normalize(a.v), l2_normalize(b.v)) ...")
  * }}}
  *
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  * The DataFrame surface ([[graft.functions.VectorOps]] and the other
  * Column builders) works without it.
  */
object GraftExtensions {
  // a wrong-arity SQL call surfaces as the standard WRONG_NUM_ARGS
  // AnalysisException, not an IndexOutOfBoundsException from args(i)
  private[graft] def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      if (args.length != n)
        ColumnBridge.wrongNumArgs(name, n, args.length)
      build(args)
    }

  /** Kernel parameters (shingle n, signature k) are Int parameters of the
    * Column builders, not child expressions — a SQL call must pass them as
    * INT literals, extracted here at resolution time. */
  private[graft] def litInt(fn: String, argName: String, e: Expression): Int =
    e match {
      case Literal(v: Int, IntegerType) => v
      // any other foldable INT (e.g. a bridge-wrapped or folded literal)
      case f if f.foldable && f.dataType == IntegerType =>
        f.eval() match {
          case v: Int => v
          case _ => throw new IllegalArgumentException(
            s"$fn: $argName must be a non-null INT literal")
        }
      case other => throw new IllegalArgumentException(
        s"$fn: $argName must be an INT literal, got $other")
    }

  /** Every registered SQL function: (name, arity, builder). Each builder
    * calls the DataFrame surface's Column builder, so the SQL and
    * DataFrame surfaces cannot drift. */
  val functions: Seq[(String, Int, Seq[Expression] => Expression)] = {
    def fn(name: String, n: Int)(build: Seq[Expression] => Column) =
      (name, n, (args: Seq[Expression]) =>
        ColumnBridge.convertedExpression(build(args)))
    def c(e: Expression): Column = ColumnBridge.column(e)
    Seq(
      fn("vec_dot", 2)(a => VectorOps.dot(c(a(0)), c(a(1)))),
      fn("l2_normalize", 1)(a => VectorOps.l2normalize(c(a(0)))),
      fn("hamming", 2)(a => VectorOps.hamming(c(a(0)), c(a(1)))),
      fn("nfc", 1)(a => TextNorm.nfcNormalize(c(a(0)))),
      fn("shingles", 2)(a => Shingles.distinctShingles(c(a(0)),
        litInt("shingles", "n", a(1)))),
      fn("minhash_signature", 2)(a => MinHashUtil.signatures(c(a(0)),
        litInt("minhash_signature", "k", a(1)))),
      fn("simhash64", 1)(a => SimHashUtil.simhash64(c(a(0)))),
      fn("ngram_stats", 2)(a => RepetitionUtil.ngramStats(c(a(0)),
        litInt("ngram_stats", "n", a(1)))),
      fn("int8_snap", 1)(a => VectorOps.int8Snap(c(a(0)))),
      fn("char_windows", 3)(a => CharWindows.charWindows(c(a(0)),
        litInt("char_windows", "window", a(1)),
        litInt("char_windows", "stride", a(2)))),
      fn("all_shingles", 2)(a => AllShingles.allShingles(c(a(0)),
        litInt("all_shingles", "n", a(1)))),
      fn("winnow_fingerprints", 3)(a => Winnow.fingerprints(c(a(0)),
        litInt("winnow_fingerprints", "k", a(1)),
        litInt("winnow_fingerprints", "w", a(2)))))
  }

  /** The arity-checked builder the SQL function `name` resolves through. */
  def builder(name: String): Seq[Expression] => Expression =
    functions.collectFirst { case (`name`, n, build) => arity(name, n)(build) }
      .getOrElse(throw new NoSuchElementException(s"no SQL function $name"))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, _, _) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        GraftExtensions.builder(name)))
    }
}
