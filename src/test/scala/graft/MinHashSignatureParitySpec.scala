package graft

import graft.pipeline.TextDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-16 projection-shaped signature path
  * ([[graft.functions.MinHashSignature]], zero-exchange) must reproduce the
  * aggregate path ([[graft.functions.MinHashSketch]] over exploded
  * shingles) BIT-IDENTICALLY — same documents, same k-slot arrays — for
  * word-grain and n-word-shingle similarity, across codegen and
  * interpreted eval. The two shapes share the splitmix64 family by
  * construction; this spec is what keeps them from drifting.
  */
class MinHashSignatureParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def aggShape(df: DataFrame, idCol: String, textCol: String, k: Int,
      shingle: Int): DataFrame = {
    // the pre-r16 operator interior, kept verbatim as the parity oracle
    val words = col("__w")
    val rel =
      if (shingle <= 1)
        df.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      else df.select(col(idCol), split(col(textCol), " ").as("__w"))
        .select(col(idCol), explode(transform(
          sequence(lit(1), greatest(size(words) - (shingle - 1), lit(1))),
          i => array_join(slice(words, i, lit(shingle)), ""))).as("w"))
    rel.groupBy(col(idCol))
      .agg(graft.functions.MinHashSketch(xxhash64(col("w")), k).as("sig"))
  }

  private def sigMap(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap

  test("projection signatures == aggregate signatures on real documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    for (shingle <- Seq(1, 3); k <- Seq(16, 64)) {
      val wide = sigMap(TextDedup.minhashSignatures(docs, "doc_id", "text", k, shingle))
      val agg = sigMap(aggShape(docs, "doc_id", "text", k, shingle))
      assert(wide.keySet == agg.keySet, s"doc sets diverge at shingle=$shingle k=$k")
      assert(wide == agg, s"signatures diverge at shingle=$shingle k=$k")
      assert(wide.nonEmpty)
    }
  }

  test("edge docs: empty text matches, null text drops from both shapes") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c a"),            // duplicate words (multiset insensitivity)
      (2L, ""),                   // empty text → one "" shingle, not a drop
      (3L, null.asInstanceOf[String]), // null text → no group / no row
      (4L, "solo")).toDF("doc_id", "text")
    val wide = sigMap(TextDedup.minhashSignatures(docs, "doc_id", "text", 8, 1))
    val agg = sigMap(aggShape(docs, "doc_id", "text", 8, 1))
    assert(wide == agg)
    assert(wide.keySet == Set(1L, 2L, 4L), s"null text must drop: ${wide.keySet}")
  }

  test("projection signatures plan with zero exchanges and zero aggregates") {
    // the reshape's whole point, pinned at the PLAN level so it cannot
    // silently regress to a shuffling shape: signature computation is a
    // scan → project pipeline, no Exchange, no Aggregate anywhere
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val plan = TextDedup.minhashSignatures(docs, "doc_id", "text", 16, 3)
      .queryExecution.executedPlan
    val offending = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(offending.isEmpty,
      s"signature plan must be exchange/aggregate-free:\n$plan")
    // and the signature is computed ONCE per row, inside whole-stage
    // codegen. A mere "some WholeStageCodegenExec exists" passes as soon as
    // the scan alone is codegen'd.
    val (count, codegend) = MinHashSignatureParitySpec.evaluations(plan) {
      case _: graft.functions.MinHashSignature => }
    assert(count == 1,
      s"the signature must appear exactly once in the executed plan:\n$plan")
    assert(codegend,
      s"the operator evaluating the signature must sit inside WholeStageCodegen:\n$plan")
  }

  test("the near-dup operator still equals exact Jaccard through the new shape") {
    // minhashLshPairs routes through the projection signatures now — its
    // end-to-end contract (verified pairs == exact-threshold pairs on the
    // gate fixture) is re-asserted here at a smaller scale for fast CI
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val pairs = TextDedup.minhashLshPairs(docs, "doc_id", "text", 64, 16, 0.9)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact side: full word-set Jaccard over the (small) doc set
    val words = docs.collect().map(r => r.getLong(0) ->
      Option(r.getString(1)).getOrElse("").split(" ").toSet).toMap
    val ids = words.keys.toSeq.sorted
    val exact = (for {
      a <- ids.indices.iterator; b <- (a + 1) until ids.size
      (i, j) = (ids(a), ids(b))
      inter = (words(i) intersect words(j)).size.toDouble
      uni = (words(i) union words(j)).size.toDouble
      if uni > 0 && inter / uni >= 0.9
    } yield (math.min(i, j), math.max(i, j))).toSet
    assert(pairs == exact,
      s"missing=${(exact -- pairs).take(3)} extra=${(pairs -- exact).take(3)}")
  }
}

object MinHashSignatureParitySpec {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}

  /** How many times `target` expressions appear across the operators of an
    * executed plan, and whether every operator holding one belongs to a
    * codegen stage (a WholeStageCodegenExec subtree up to its InputAdapter
    * boundaries). */
  def evaluations(plan: SparkPlan)(target: PartialFunction[Expression, Unit]): (Int, Boolean) = {
    def count(p: SparkPlan): Int = p.expressions.map(_.collect(target).size).sum
    val carriers = plan.collect { case p if count(p) > 0 => p }
    def stageMembers(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case q => q +: q.children.flatMap(stageMembers)
    }
    val codegend = plan.collect {
      case w: WholeStageCodegenExec => stageMembers(w.child) }.flatten
    (carriers.map(count).sum, carriers.forall(c => codegend.exists(_ eq c)))
  }
}
