package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** SQL-surface registration for the native expressions (builder-brief
  * extension point (c): `SparkSessionExtensions`): makes the codegen'd
  * primitives callable from `spark.sql` text — the API a SQL-first caller
  * (or the S10 introspective runner) uses.
  *
  * Installed at session build through `spark.sql.extensions` — by
  * [[graft.GraftSession]] for every main and test, and on a cluster by
  * `--conf spark.sql.extensions=graft.plans.GraftSparkExtensions`. There
  * is no post-build path: a session either has all of it from the start
  * or none of it.
  *
  * Functions (names prefixed to never shadow builtins):
  *  - `graft_zorder16(x, y)` — Morton key, [[ZOrder16]]
  *  - `graft_quantize(vec, scale)` — floor(e*scale + 0.5) per element,
  *    [[QuantizeDoubles]]; `scale` must be a foldable integer
  *  - `graft_long_array_dot(a, b)` — exact long dot product, [[LongArrayDot]]
  *  - `graft_nfc(s)` — unicode NFC canonical composition, [[NormalizeNfc]]
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    GraftSparkExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    // extension point (c) beyond functions: the derived-predicate rule
    // that lets a jaro-winkler threshold skip its kernel on
    // length-mismatched pairs (see JaroWinklerLengthPrune)
    ext.injectOptimizerRule(_ => JaroWinklerLengthPrune)
    ext.injectOptimizerRule(_ => DamerauLengthPrune)
  }
}

object GraftSparkExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(getClass.getName, null, name, usage, "", "", "", "", "", "", "internal")

  private def requireArgs(name: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(s"$name takes $n arguments, got ${args.length}")

  /** (identifier, info, builder) triples in the shape injectFunction takes.
    *
    * Every argument is wrapped in an explicit Cast to the expression's
    * expected input type — the native expressions carry no
    * ExpectsInputTypes (AbstractDataType is private[sql] outside the spark
    * package), so an INT argument would otherwise ClassCastException in
    * interpreted eval while silently working under codegen, and an
    * array<int> fed to QuantizeDoubles would reinterpret 4-byte slots as
    * doubles. The Scala-API wrappers in [[Expressions]] insert the same
    * casts.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_zorder16"),
      info("graft_zorder16", "graft_zorder16(x, y) - 32-bit Morton z-order key of two longs in [0, 65536)"),
      args => { requireArgs("graft_zorder16", 2, args)
        ZOrder16(Cast(args(0), LongType), Cast(args(1), LongType)) }),
    (FunctionIdentifier("graft_quantize"),
      info("graft_quantize", "graft_quantize(vec, scale) - floor(e*scale + 0.5) per element to array<long>; scale is a foldable integer"),
      args => {
        requireArgs("graft_quantize", 2, args)
        val scale = args(1) match {
          case e if e.foldable => e.eval() match {
            case n: java.lang.Number
                if n.longValue() == n.intValue() && n.longValue() == n.doubleValue() =>
              n.intValue()
            case other => throw new IllegalArgumentException(
              s"graft_quantize scale must be an integral value, got $other")
          }
          case other => throw new IllegalArgumentException(
            s"graft_quantize scale must be a foldable integer, got $other")
        }
        QuantizeDoubles(Cast(args(0), ArrayType(DoubleType)), scale)
      }),
    (FunctionIdentifier("graft_long_array_dot"),
      info("graft_long_array_dot", "graft_long_array_dot(a, b) - exact integer dot product of two array<long>"),
      args => { requireArgs("graft_long_array_dot", 2, args)
        LongArrayDot(Cast(args(0), ArrayType(LongType)), Cast(args(1), ArrayType(LongType))) }),
    (FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(s) - unicode NFC canonical composition of a string"),
      args => { requireArgs("graft_nfc", 1, args)
        NormalizeNfc(Cast(args(0), org.apache.spark.sql.types.StringType)) }),
    (FunctionIdentifier("graft_jaro_winkler"),
      info("graft_jaro_winkler", "graft_jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1] (DuckDB-parity semantics)"),
      args => { requireArgs("graft_jaro_winkler", 2, args)
        JaroWinkler(Cast(args(0), org.apache.spark.sql.types.StringType),
          Cast(args(1), org.apache.spark.sql.types.StringType)) }),
    (FunctionIdentifier("graft_deflate_len"),
      info("graft_deflate_len", "graft_deflate_len(s) - DEFLATE-compressed byte length of a string (zlib level 6)"),
      args => { requireArgs("graft_deflate_len", 1, args)
        DeflateLength(Cast(args(0), org.apache.spark.sql.types.StringType), 6) }),
    (FunctionIdentifier("graft_damerau"),
      info("graft_damerau", "graft_damerau(a, b) - true Damerau-Levenshtein distance (unrestricted transpositions, DuckDB-parity)"),
      args => { requireArgs("graft_damerau", 2, args)
        DamerauLevenshtein(Cast(args(0), org.apache.spark.sql.types.StringType),
          Cast(args(1), org.apache.spark.sql.types.StringType)) }))
}
