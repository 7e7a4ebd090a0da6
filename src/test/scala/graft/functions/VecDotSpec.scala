package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

/** Native vec_dot expression: HOF-fold equivalence (incl. the null algebra) + a genuine
  * doGenCode body (not CodegenFallback). */
class VecDotSpec extends AnyFunSuite {

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("vec_dot equals the aggregate(zip_with) fold on 500 seeded vectors") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    Registrations.ensure(spark)
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(500)(
      (Array.fill(64)(rnd.nextDouble() * 2 - 1), Array.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
      .select(call_function("vec_dot", $"a", $"b").as("native"),
        hofDot($"a", $"b").as("hof"))
    // bit-identical, not approximately equal: both are the same sequential IEEE fold
    assert(df.filter($"native" =!= $"hof" ||
      ($"native".isNull =!= $"hof".isNull)).count() == 0)
  }

  test("vec_dot preserves the fold's null algebra: null input, null element, length mismatch") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    Registrations.ensure(spark)
    val df = Seq(
      (Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](3.0, 4.0)), // 11.0
      (null, Array[java.lang.Double](1.0)), // null input
      (Array[java.lang.Double](1.0, null), Array[java.lang.Double](1.0, 1.0)), // null element
      (Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](1.0)) // length mismatch
    ).toDF("a", "b")
      .select(call_function("vec_dot", $"a", $"b").as("native"), hofDot($"a", $"b").as("hof"))
      .collect()
    assert(df(0).getDouble(0) == 11.0)
    df.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null parity broke: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
  }

  test("long-array vec_dot equals the ANSI HOF fold (exact integer path)") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    Registrations.ensure(spark)
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)(
      (Array.fill(64)(rnd.nextInt(2001) - 1000L), Array.fill(64)(rnd.nextInt(2001) - 1000L)))
    val df = rows.toDF("a", "b")
      .select(call_function("vec_dot", $"a", $"b").as("native"),
        aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L), (acc, x) => acc + x).as("hof"))
    assert(df.filter($"native" =!= $"hof").count() == 0)
    // the long path returns LongType (not a double cast)
    assert(df.schema("native").dataType == org.apache.spark.sql.types.LongType)
  }

  test("doGenCode emits the primitive loop (no CodegenFallback eval call)") {
    val expr = VecDot(
      BoundReference(0, ArrayType(DoubleType), nullable = true),
      BoundReference(1, ArrayType(DoubleType), nullable = true))
    val code = expr.genCode(new CodegenContext).code.toString
    // a CodegenFallback would reference the expression object and call .eval(...);
    // the native path inlines numElements/getDouble into the generated Java
    assert(code.contains("getDouble") && code.contains("numElements"), code)
    assert(!code.contains(".eval("), s"expected inline codegen, not a fallback eval:\n$code")
  }

  test("integer-cast embeddings: simsearch scores unchanged by the native path (spot)") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    Registrations.ensure(spark)
    // end-to-end spot-check against the HOF formulation on real embedding data
    val emb = graft.engine.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", org.apache.spark.sql.functions.transform($"embedding",
        c => c.cast("double")).as("v"))
      .limit(50)
    val both = emb.select(
      graft.ext.Similarity.dot($"v", $"v").as("native"), hofDot($"v", $"v").as("hof"))
    assert(both.filter($"native" =!= $"hof").count() == 0)
  }
}
