package graft.functions

import graft.Session.withConf
import graft.SparkSpec
import graft.norm.Coerce
import org.apache.spark.sql.functions._

/** The native lenient casts must agree with the Column-combinator
  * forms on every input class, and the wide conform pipelines that
  * use them must COMPILE under whole-stage codegen (no Janino
  * interpreted fallback — the defect they were introduced to fix). */
class LenientNumSpec extends SparkSpec {

  private val inputs = Seq(
    "-", "", "  ", "nan", "None", "NONE", "NaN",
    "90", "  7.5  ", "-3", "0", "garbage", "12abc", "+5", "1e2",
    "95.5", ".5", "5.", "-0.0", "3000000000", "3000000000.7",
    "1d", "1f", "0x1p3", "inf", "Infinity", "-inf", "iNfInItY", "+inf",
    "1_000", "1_0.0_1e1_0", "_1", "1_", "1__0", "1e_1",
    "\t7.5\n", "1e309", "-1e309")

  test("native lenient_double == Coerce.lenientDouble on all input classes") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = inputs.toDF("s")
    val native = df.select(expr("lenient_double(s)").as("m"))
    assert(!native.schema("m").nullable)
    val a = native.collect().map(_.getDouble(0)).toSeq
    val b = df.select(Coerce.lenientDouble(col("s")).as("m"))
      .collect().map(_.getDouble(0)).toSeq
    assert(a === b)
  }

  test("native lenient_long == Coerce.lenientInt on all input classes") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = inputs.toDF("s")
    val a = df.select(expr("lenient_long(s)").as("m"))
      .collect().map(_.getLong(0)).toSeq
    val b = df.select(Coerce.lenientInt(col("s")).as("m"))
      .collect().map(_.getLong(0)).toSeq
    assert(a === b)
    // spot-pin the semantics, not just the parity
    val byIn = inputs.zip(a).toMap
    assert(byIn("3000000000") === 3000000000L) // no int32 wrap
    assert(byIn("inf") === 0L) // non-finite -> default
    assert(byIn("1_000") === 1000L)
  }

  test("null input -> defaults, SQL surface registered") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT lenient_double(NULL) a, lenient_long(NULL) b, " +
        "lenient_double('7.5') c, lenient_long('-2.9') d").head
    assert(r.getDouble(0) === 0.0)
    assert(r.getLong(1) === 0L)
    assert(r.getDouble(2) === 7.5)
    assert(r.getLong(3) === -2L) // truncation toward zero
  }

  test("non-string arguments are implicitly cast at analysis, not " +
      "crashed on at runtime") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT lenient_double(42) a, lenient_long(7.9) b, " +
        "time_to_minutes(90) c").head
    assert(r.getDouble(0) === 42.0)
    assert(r.getLong(1) === 7L)
    assert(r.getDouble(2) === 90.0)
  }

  test("wide conform pipelines compile under codegen (no Janino fallback)") {
    import graft.conform.Pipeline
    import spark.implicits._
    // The q38-shaped failure: 25+ coerced columns + a sort in one
    // whole-stage-codegen stage. With fallback disabled a Janino
    // compile failure THROWS instead of silently degrading to
    // interpreted execution — this test pins "the stage compiles".
    val estadosCols = graft.conform.Schemas.Estados.fieldNames
    val row = estadosCols.map {
      case "fecha" => "15/01/2024"
      case "id"    => "201"
      case _       => "1:30"
    }
    val raw = Seq(row).map(r => (r(0), r)).toDF("k", "arr")
      .select(estadosCols.zipWithIndex.map { case (n, i) =>
        element_at(col("arr"), i + 1).as(n)
      }.toIndexedSeq: _*)
    withConf(spark, "spark.sql.codegen.fallback" -> "false") {
      val out = Pipeline.estados(raw).orderBy("id").collect()
      assert(out.length === 1)
    }
  }
}
