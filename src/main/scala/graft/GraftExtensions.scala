package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.Literal
import graft.functions.{CosineSimilarity, HyperplaneBandSigs}

/** Session extension wiring: registers graft's native expressions so SQL
  * users get them by name (`SELECT cosine_sim(embedding, q) ...`,
  * `SELECT hyperplane_sigs(embedding, 0, 32, 4, 64) ...`).
  *
  * [[GraftSession]] installs it; any other session installs it with
  * `spark.sql.extensions=graft.GraftExtensions` or
  * `withExtensions(new GraftExtensions)` on its builder.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"hyperplane_sigs: $name must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_sigs"),
      new ExpressionInfo(classOf[HyperplaneBandSigs].getName, "hyperplane_sigs"),
      (children: Seq[Expression]) => HyperplaneBandSigs(children.head,
        intArg(children(1), "seed"), intArg(children(2), "bands"),
        intArg(children(3), "bits"), intArg(children(4), "dim"))))
  }
}
