package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions._

/** The engine's Catalyst surface, registered the Spark-native way
  * (`SparkSessionExtensions`): the similarity-join optimizer rule plus a
  * SQL function registry for the core scalar expressions, so
  * `spark.sql("SELECT graft_clean_string(text) ...")` works the same as
  * the typed Column API.
  *
  * Wired by default in graft.Sessions; external spark-submit users get the
  * same via `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def one(name: String)(f: Expression => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"$name expects 1 argument")
        f(children.head)
      })

  private def two(name: String)(f: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"$name expects 2 arguments")
        f(children(0), children(1))
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SimilarityJoinRule)
    ext.injectOptimizerRule(_ => ManifestAggRule)

    ext.injectFunction(one("graft_clean_string")(c => Kernel(Kernels.clean_text, Seq(c))))
    ext.injectFunction(two("graft_token_jaccard")(TokenJaccardExpr(_, _)))
    ext.injectFunction(one("graft_filter_skills_dbscan")(c => Kernel(Kernels.filter_skills_dbscan, Seq(c))))
    ext.injectFunction(two("graft_word_shingles") { (c, k) =>
      k match {
        case Literal(kv: Int, IntegerType) => Kernel(Kernels.word_shingles, Seq(c), Seq(kv))
        case other => throw new IllegalArgumentException(
          s"graft_word_shingles: k must be an integer literal, got $other")
      }
    })
  }
}
