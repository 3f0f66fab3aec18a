package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.DoubleType
import graft.stats.{FPValueUpper, TPValueTwoSided}

/** The custom p-value expressions resolve, type-check and evaluate
  * inside SQL text once a session registers them under their
  * `prettyName`s (the library itself reaches them through the Column
  * API, `DistExpressions`). */
class ExtensionsSpec extends SparkSpec {

  private def register(name: String, cls: Class[_], build: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  test("custom p-value expressions are callable from SQL") {
    // SQL literals arrive as DECIMAL; the expressions are double-only
    def d(e: Expression): Expression = Cast(e, DoubleType)
    register("t_pvalue_two_sided", classOf[TPValueTwoSided], c => TPValueTwoSided(d(c(0)), d(c(1))))
    register("f_pvalue_upper", classOf[FPValueUpper], c => FPValueUpper(d(c(0)), d(c(1)), d(c(2))))
    val p = spark.sql("SELECT t_pvalue_two_sided(-3.484660262186, 5.0) AS p")
      .head().getDouble(0)
    assert(math.abs(p - 0.017570710081) < 1e-9) // scipy golden (StatTestsSpec)
    val fp = spark.sql("SELECT f_pvalue_upper(13.0, 2.0, 6.0) AS p").head().getDouble(0)
    assert(fp > 0.0 && fp < 0.01) // F=13 at (2,6) dof is significant
  }
}
