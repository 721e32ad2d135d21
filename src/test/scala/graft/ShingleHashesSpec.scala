package graft

import graft.functions.ShingleHashes
import graft.pipeline.TextDedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** [[ShingleHashes]] must be bit-identical to the `transform(…, xxhash64)`
  * lambda forms it replaced in TextDedup — word hashes for n = 1, hashes of
  * separator-joined n-word windows for n > 1 — on null words, empty and
  * short arrays, multibyte UTF-8 and words longer than its scratch buffer,
  * through both the generated code and the interpreted `eval`.
  */
class ShingleHashesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The replaced lambda forms, kept verbatim as the oracle. */
  private def oracle(words: Column, n: Int, sep: String): Column =
    if (n <= 1) transform(words, w => xxhash64(w))
    else transform(
      sequence(lit(1), greatest(size(words) - (n - 1), lit(1))),
      i => xxhash64(array_join(slice(words, i, lit(n)), sep)))

  private val long1 = "w" * 200
  private val long2 = "ß" * 3000 // 6,000 UTF-8 bytes
  private val cases: Seq[Seq[String]] = Seq(
    Seq("a", "b", "c", "a"),
    Seq.empty,
    Seq(null),
    Seq(null, null, null),
    Seq("x", null, "y", "z"),
    Seq("only"),
    Seq("two", "words"),
    Seq(""),
    Seq("", "", "a", ""),
    Seq("naïve", "日本語", "テキスト", "🎉", "ok"),
    Seq("short", long1, "x", long2, long1, "y"),
    Seq("after", "the", "long", "ones"),
    (1 to 40).map(i => s"tok$i"))
  private val shapes = Seq((1, ""), (2, ""), (3, ""), (3, "\u0001"), (5, " "))

  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    cases.zipWithIndex.map { case (ws, i) => (i.toLong, ws) }.toDF("id", "words")
  }

  private def hashes(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[Long] =
    if (a == null) null else a.toLongArray().toSeq

  test("codegen'd and interpreted hashes equal the transform(…, xxhash64) forms") {
    val expected = shapes.map { case (n, sep) =>
      (n, sep) -> docs.orderBy("id").select(oracle(col("words"), n, sep)).collect()
        .map(_.getSeq[Long](0).toList).toSeq
    }.toMap
    val input = cases.map(ws =>
      InternalRow(new GenericArrayData(ws.map(w => UTF8String.fromString(w)).toArray[Any])))
    for ((n, sep) <- shapes) {
      val want = expected((n, sep))
      val expr: Expression =
        ShingleHashes(BoundReference(0, ArrayType(StringType), nullable = true), n, sep)
      // one generated projection for all rows: its scratch buffer is reused
      // and grows on the long words, then serves the short rows after them
      val gen = GenerateUnsafeProjection.generate(Seq(expr))
      val viaCodegen = input.map(r => hashes(gen(r).getArray(0)))
      val viaEval = input.map(r =>
        hashes(expr.eval(r).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]))
      assert(viaCodegen == want, s"codegen diverges at n=$n sep=${sep.map(_.toInt)}")
      assert(viaEval == want, s"eval diverges at n=$n sep=${sep.map(_.toInt)}")
      // the DataFrame face, whole-stage-codegen'd over the local rows
      val viaFrame = docs.orderBy("id").select(ShingleHashes(col("words"), n, sep))
        .collect().map(_.getSeq[Long](0).toList).toSeq
      assert(viaFrame == want, s"frame diverges at n=$n sep=${sep.map(_.toInt)}")
    }
    // sanity on the oracle itself: shingle counts per the contract
    assert(expected((1, "")).map(_.size) == cases.map(_.size))
    assert(expected((3, "")).map(_.size) == cases.map(ws => math.max(ws.size - 2, 1)))
    assert(expected((1, ""))(2) == Seq(ShingleHashes.Seed), "xxhash64(null) is the seed")
  }

  test("space-joined windows equal duplicateRuns' former concat_ws form") {
    val k = 3
    val long = docs.where(size(col("words")) >= k)
    val want = long.orderBy("id").select(transform(
        sequence(lit(0), size(col("words")) - lit(k)),
        i => xxhash64(concat_ws(" ", slice(col("words"), i + 1, lit(k)))))).collect()
      .map(_.getSeq[Long](0).toList).toSeq
    val got = long.orderBy("id").select(ShingleHashes(col("words"), k, " ")).collect()
      .map(_.getSeq[Long](0).toList).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("a null array hashes to null at every n, and null docs carry no signature") {
    for (n <- Seq(1, 3)) {
      val expr = ShingleHashes(BoundReference(0, ArrayType(StringType), nullable = true), n, "")
      assert(expr.eval(InternalRow(null)) == null)
      assert(GenerateUnsafeProjection.generate(Seq(expr))(InternalRow(null)).isNullAt(0))
    }
    val s = spark
    import s.implicits._
    val texts = Seq((1L, "a b c d"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    for (shingle <- Seq(1, 3)) {
      val ids = TextDedup.minhashSignatures(texts, "doc_id", "text", 8, shingle)
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L), s"null text must drop at shingle=$shingle: $ids")
    }
    val simIds = TextDedup.simhash(texts, "doc_id", "text").collect().map(_.getLong(0)).toSet
    assert(simIds == Set(1L, 3L))
  }

  test("simhash evaluates its signature once, inside whole-stage codegen") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val plan = TextDedup.simhash(docs, "doc_id", "text").queryExecution.executedPlan
    val (count, codegend) = MinHashSignatureParitySpec.evaluations(plan) {
      case _: graft.functions.SimHashSignature => }
    assert(count == 1, s"simhash must appear once:\n$plan")
    assert(codegend, s"simhash must be codegen'd:\n$plan")
  }
}
