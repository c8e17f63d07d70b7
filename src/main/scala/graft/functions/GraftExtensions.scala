package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.kmer.KmerGenerator

/** Every graft native SQL function, in one table that [[GraftExtensions]]
  * injects. */
object GraftFunctions {
  type Description = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_], arity: Int, usage: String)(
      build: Seq[Expression] => Expression): Description =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), exprs => {
      require(exprs.length == arity, s"usage: $usage")
      build(exprs)
    })

  /** `kmer_explode`'s k parameterizes the expression at plan time, so it
    * must be an integer literal (or fold to one). */
  private def literalK(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case e if e.foldable => e.eval().toString.toInt
    case _ => throw new IllegalArgumentException(
      "kmer_explode: k must be an integer literal")
  }

  val functions: Seq[Description] = Seq(
    fn("dot_product", classOf[DotProduct], 2, "dot_product(x, y)")(
      e => DotProduct(e(0), e(1))),
    fn("kmer_explode", classOf[KmerGenerator], 2, "kmer_explode(seq, k)")(
      e => KmerGenerator(e(0), literalK(e(1)))),
    fn("z_value", classOf[ZValue], 2, "z_value(x, y)")(e => ZValue(e(0), e(1))),
    fn("hilbert_value", classOf[HilbertValue], 2, "hilbert_value(x, y)")(
      e => HilbertValue(e(0), e(1))),
    fn("hll_registers", classOf[HllRegisterAgg], 1, "hll_registers(x)")(
      e => HllRegisterAgg(e(0)).toAggregateExpression()))
}

/** The library's session extensions: the native SQL functions, the
  * band-join rewrite and the as-of join strategy. This class is the one
  * way they reach a session. [[graft.Sessions]] builds every session of
  * the library's own entry points with it; a server that builds sessions
  * itself (Thrift, Connect) sets
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Injection
  * happens before any query is parsed, so plain SQL like
  * `SELECT dot_product(a, b)` / `SELECT kmer_explode(seq, 8)` resolves
  * with no Scala entry point involved. Sessions derived by `newSession`
  * keep the injections. An injected rule can be switched off per session
  * with `spark.sql.optimizer.excludedRules=graft.plans.RangeBinJoin`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)

    // band-join → binned equi-join rewrite (see plans.RangeBinJoin)
    ext.injectOptimizerRule(_ => graft.plans.RangeBinJoin)

    // native as-of join planning (see plans.AsOfJoinPlan)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
