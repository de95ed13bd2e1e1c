package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnBridge

/** SQL surface for the custom functions: every scalar kernel function
  * of [[GraftFunctions]] under its SQL name, built from the same
  * definition as its Column form, plus the `minhash_union` aggregate.
  *
  * Two registration routes:
  *  - `spark.sql.extensions=graft.expressions.GraftExtensions` at
  *    session build (the standard extension hook), or
  *  - `GraftExtensions.register(spark)` on a live session (used by the
  *    Verify/Bench mains and tests).
  *
  * After either, SQL text can call e.g.
  * `SELECT simhash64(text), minhash_sig(text, 3, 16, false) FROM docs`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def fn(name: String)(builder: Seq[Expression] => Expression)
    : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    // 3-arg ExpressionInfo is (className, db, name); db stays default
    (FunctionIdentifier(name), new ExpressionInfo(classOf[GraftExtensions].getName, null, name),
      builder)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    GraftFunctions.scalars.map(f => fn(f.name)(f.apply)) :+
      fn("minhash_union")(args =>
        MinHashUnion(args(0), args(1).eval().asInstanceOf[Number].intValue))

  /** Register on a live session (idempotent — re-registration replaces). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      ColumnBridge.registerFunction(spark, ident, info, builder)
    }
}
