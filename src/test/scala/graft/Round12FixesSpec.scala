package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-12 text normalization function
  * ([[graft.functions.NormalizeText]]); the round's point-index tests live
  * in [[PointIndexSpec]].
  */
class Round12FixesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("NormalizeText: NFC unifies composed/decomposed, folds accents+case, stays codegen") {
    import org.apache.spark.sql.functions._
    import graft.functions.NormalizeText
    val s = spark
    import s.implicits._
    val composed = "Caf\u00e9"          // e-acute as one code point
    val decomposed = "Cafe\u0301"       // e + combining acute
    val df = Seq((1L, composed), (2L, decomposed), (3L, "Stra\u00dfe \u00c5"),
        (4L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select(col("id"), NormalizeText(col("t")).as("nfc"),
        NormalizeText(col("t"), stripAccents = true, toLower = true).as("folded"))
    val m = df.collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(m(1L)._1 == m(2L)._1, "NFC must unify composed and decomposed forms")
    assert(m(1L)._2 == "cafe" && m(2L)._2 == "cafe")
    assert(m(3L)._2 == "stra\u00dfe a", "sharp-s survives folding; A-ring folds to a")
    assert(m(4L)._1 == null && m(4L)._2 == null, "null in, null out")
    // whole-stage codegen keeps the expression: no UDF/eval fallback node
    val plan = df.queryExecution.executedPlan.treeString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"normalization must not plan as a UDF:\n$plan")
  }
}
