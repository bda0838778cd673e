package graft

import org.apache.spark.sql.functions._

import graft.functions.{DotProductExpr, GraftExtensions}
import graft.vector.VectorOps

/** Native dot-product expression: bit-equality with the lambda fold,
  * codegen and interpreted paths, float/double inputs, null handling,
  * and SQL registration via SparkSessionExtensions. */
class DotProductExprSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (1L, Seq(1.0f, 2.0f, 3.0f), Seq(0.5, -1.0, 2.0)),
    (2L, Seq(0.1f, 0.2f, 0.3f), Seq(1.0, 1.0, 1.0)),
  ).toDF("id", "fvec", "dvec")

  private def lambdaDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("native expression equals the lambda fold bit-for-bit (float×float, float×double)") {
    val rows = df.select(
      DotProductExpr.dot(col("fvec"), col("fvec")).as("n_ff"),
      lambdaDot(col("fvec"), col("fvec")).as("l_ff"),
      DotProductExpr.dot(col("fvec"), col("dvec")).as("n_fd"),
      lambdaDot(col("fvec"), col("dvec")).as("l_fd")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0))
        === java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2))
        === java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("interpreted eval matches codegen") {
    restoringConfs("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode") {
      // force the no-codegen path
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = df.select(DotProductExpr.dot(col("fvec"), col("dvec"))).as[Double].collect()
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = df.select(DotProductExpr.dot(col("fvec"), col("dvec"))).as[Double].collect()
      assert(interp.toSeq === gen.toSeq)
    }
  }

  test("null vector gives null, not a crash") {
    val withNull = Seq(
      (1L, Option(Seq(1.0f, 2.0f)), Option(Seq(1.0f, 1.0f))),
      (2L, None, Option(Seq(1.0f, 1.0f)))).toDF("id", "a", "b")
    val got = withNull.select(DotProductExpr.dot(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) === 3.0)
    assert(got(1).isNullAt(0))
  }

  test("graft_dot is SQL-callable once registered (GraftExtensions wiring)") {
    // extensions apply at session build time; this session already
    // exists, so register through the same function-registry entry
    // GraftExtensions injects
    val reg = spark.sessionState.functionRegistry
    reg.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"),
      DotProductExpr.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProductExpr(children(0), children(1)))
    df.createOrReplaceTempView("dot_t")
    val r = spark.sql("SELECT graft_dot(fvec, dvec) FROM dot_t WHERE id = 1").head().getDouble(0)
    assert(r === 1.0 * 0.5 + 2.0 * -1.0 + 3.0 * 2.0)
  }

  test("VectorOps.dot routes through the native expression") {
    val plan = df.select(VectorOps.dot(col("fvec"), col("fvec"))).queryExecution
      .analyzed.toString()
    assert(plan.contains("graft_dot"), plan)
  }
}
