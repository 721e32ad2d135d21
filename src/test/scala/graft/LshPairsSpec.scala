package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MinHash-LSH and SimHash near-duplicate pairs ([[graft.pipeline.TextDedup]]):
  *   - the LSH pair-dedup strategy choice: the exactly-once chain filter on
  *     high-dup corpora and the lean groupBy elsewhere must be
  *     RESULT-IDENTICAL to brute force, and the choice itself is asserted
  *     so a threshold regression is loud;
  *   - the large (candidate-proportional) verify path equals the small
  *     fast path;
  *   - the candidate stage's exchange budget: the bucket self-join must add
  *     ZERO shuffle exchanges beyond the cache builds (chain path) /
  *     exactly the pair-dedup exchange (groupBy path), and the banded cache
  *     must hold the EXPLICIT shuffle-partition count (a bare
  *     repartition(cols) is AQE-coalescable and the join would then
  *     re-exchange both sides — the measured 32 GB failure).
  */
class LshPairsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.pipeline.TextDedup

  /** ~40 near-identical docs per template × 5 templates: candidate volume
    * ≫ banded rows, no hot buckets at the default cap — the chain regime.
    */
  private def highDupDocs = {
    import spark.implicits._
    (0 until 200).map { i =>
      val t = i % 5
      val words = (0 until 20).map(j => s"t${t}w$j") :+ s"noise${i / 5 % 3}"
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** Near-unique corpus (the 1e8-bench shape in miniature): tiny candidate
    * volume — the groupBy regime.
    */
  private def nearUniqueDocs = {
    import spark.implicits._
    (0 until 300).map { i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 131 + j * 17) % 3000}").mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def bruteJaccard(df: org.apache.spark.sql.DataFrame, t: Double) = {
    val w = df.select(col("doc_id"),
      array_sort(array_distinct(split(col("text"), " "))).as("ws"))
    w.select(col("doc_id").as("i"), col("ws").as("wi"))
      .join(w.select(col("doc_id").as("j"), col("ws").as("wj")), col("i") < col("j"))
      .withColumn("inter", size(array_intersect(col("wi"), col("wj"))))
      .withColumn("sim", col("inter").cast("double") /
        (size(col("wi")) + size(col("wj")) - col("inter")).cast("double"))
      .filter(col("sim") >= t).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash pair dedup: chain path fires on the high-dup corpus and matches brute force") {
    val pairs = TextDedup.minhashLshPairs(highDupDocs, "doc_id", "text",
      k = 64, bands = 16, threshold = 0.9)
    val got = pairs.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(TextDedup.lastPairDedupStrategy == "chain",
      "high-dup corpus must take the exactly-once chain path")
    val expect = bruteJaccard(highDupDocs, 0.9)
    assert(got == expect, s"chain-path pairs diverge: got ${got.size}, expect ${expect.size}")
    assert(got.nonEmpty, "fixture must actually produce near-dup pairs")
    pairs.unpersist()
  }

  test("minhash pair dedup: groupBy path fires on the near-unique corpus and matches brute force") {
    val pairs = TextDedup.minhashLshPairs(nearUniqueDocs, "doc_id", "text",
      k = 64, bands = 16, threshold = 0.9)
    val got = pairs.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(TextDedup.lastPairDedupStrategy == "groupby",
      "near-unique corpus must take the lean groupBy path")
    assert(got == bruteJaccard(nearUniqueDocs, 0.9), "groupBy-path pairs diverge")
    pairs.unpersist()
  }

  test("large (candidate-proportional) verify path is result-identical to the small fast path") {
    // the r18 small-corpus fast path means every spec fixture would
    // otherwise exercise ONLY the broadcast-everything verify; force the
    // LARGE path (persisted cand + measured candN + candIds semi-join)
    // through the thread-scoped test seam and pin parity on both regimes
    Seq(highDupDocs -> "chain", nearUniqueDocs -> "groupby").foreach {
      case (docs, strat) =>
        val pairs = TextDedup.withVerifyAllDocsMax(0L) {
          TextDedup.minhashLshPairs(docs, "doc_id", "text",
            k = 64, bands = 16, threshold = 0.9)
        }
        assert(TextDedup.lastPairDedupStrategy == strat)
        val got = pairs.select("i", "j").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == bruteJaccard(docs, 0.9),
          s"large-path pairs diverge from brute force on the $strat fixture")
        pairs.unpersist()
    }
  }

  test("candidate stage adds no exchange beyond the caches; banded cache holds explicit N") {
    import org.apache.spark.sql.graft.Bridge
    val nParts = spark.sessionState.conf.numShufflePartitions
    // chain regime: zero visible exchanges (docBhs agg + banded build live
    // inside their caches; the self-join + chain filter is exchange-free)
    val st1 = TextDedup.minhashCandidateStage(highDupDocs, "doc_id", "text",
      k = 64, bands = 16, shingle = 1, maxBucket = 10000)
    assert(st1.strategy == "chain")
    st1.cand0.count()
    assert(Bridge.countShuffleExchanges(st1.cand0) == 0,
      "chain candidate stage must add ZERO exchanges beyond the cache builds")
    assert(st1.capped.rdd.getNumPartitions == nParts,
      s"banded cache must hold the explicit shuffle-partition count $nParts " +
        "(a bare repartition(cols) AQE-coalesces and the self-join re-exchanges both sides)")
    (Seq(st1.banded) ++ st1.docBhs).foreach(_.unpersist(blocking = false))
    // groupBy regime: exactly ONE visible exchange — the pair-dedup
    // aggregate; both self-join sides ride the cache's partitioning
    val st2 = TextDedup.minhashCandidateStage(nearUniqueDocs, "doc_id", "text",
      k = 64, bands = 16, shingle = 1, maxBucket = 10000)
    assert(st2.strategy == "groupby")
    st2.cand0.count()
    assert(Bridge.countShuffleExchanges(st2.cand0) == 1,
      "groupBy candidate stage must add exactly the pair-dedup exchange — " +
        "more means a self-join side re-exchanged (the 32 GB regression)")
    assert(st2.capped.rdd.getNumPartitions == nParts)
    st2.banded.unpersist(blocking = false)
  }

  test("minhash pair dedup: bands = 1 takes the attach-free chain path and matches brute force") {
    // one band of the full signature ~ exact word-set dedup at threshold 1.0
    val pairs = TextDedup.minhashLshPairs(highDupDocs, "doc_id", "text",
      k = 16, bands = 1, threshold = 0.9)
    assert(TextDedup.lastPairDedupStrategy == "chain")
    val got = pairs.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // single-band LSH is lossy for sim < 1 pairs; verified output must be a
    // SUBSET of brute force and include every identical-word-set pair
    val expect = bruteJaccard(highDupDocs, 0.9)
    assert(got.subsetOf(expect), "bands=1 must never emit a false pair")
    val identical = bruteJaccard(highDupDocs, 1.0)
    assert(identical.subsetOf(got), "bands=1 must find every identical-set pair")
    pairs.unpersist()
  }

  test("simhash pairs: chain dedup matches the exact hamming pair set on a dup-heavy corpus") {
    import spark.implicits._
    val docs = (0 until 150).map { i =>
      (i.toLong, (0 until 18).map(j => s"c${i % 4}w$j").mkString(" ") + s" x${i % 2}")
    }.toDF("doc_id", "text")
    val approx = TextDedup.simhashPairs(docs, "doc_id", "text", 3)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = TextDedup.simhash(docs, "doc_id", "text")
    val exact = sh.select(col("doc_id").as("i"), col("simhash").as("hi"))
      .join(sh.select(col("doc_id").as("j"), col("simhash").as("hj")), col("i") < col("j"))
      .filter(bit_count(col("hi").bitwiseXOR(col("hj"))) <= 3)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx == exact, s"simhash chain dedup diverges: ${approx.size} vs ${exact.size}")
    assert(exact.nonEmpty, "fixture must produce hamming-close pairs")
  }
}
