package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{approx_count_distinct, col, concat, concat_ws,
  hash, lit, pmod, posexplode, when, xxhash64}

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * The OLAP model build (dimension catalogs + fact unpivot + persist) is
  * timed as its own entry (`model_build`) so per-query numbers reflect
  * steady-state query latency, as the reference's benchmarks do
  * (`samples/huge.py:115-201` times load and reads separately).
  */
object Bench {

  // Run constants. The noise mechanisms (canaries, steal gate, pass
  // retries, tripwire) have only ever run at these thresholds; whether each
  // mechanism stays is judged against executor CPU beside wall time
  // (ROADMAP item 1), not by tuning a threshold.
  private val Passes = 2             // timed passes per row, min-merged; the 1e8 block's too
  private val SettleMs = 8000L       // idle wait before floor calibration
  private val PreflightTries = 6     // idle-gate attempts before an invalid artifact
  private val StealDirtyPct = 2.0    // steal share (%) that marks a pass dirty, holds the preflight
  private val StealProbeSec = 15.0   // length of one preflight steal probe
  private val StealGateMaxSec = 600L // longest preflight wait for steal to settle
  private val PassRetries = 2        // re-runs of a dirty pass
  private val PassDirtyK = 1.75      // spin, mem and io canary / floor ratios
  private val MemDirtyK = 2.0        // that mark a pass dirty
  private val IoDirtyK = 4.0
  private val MinimaPath = "tools/bench_clean_minima.json" // the tripwire's clean minima
  private val TripwireK = 1.25       // row / clean-minimum ratio that trips a row
  private val TripwireSlackSec = 0.1 // absolute seconds a row must also exceed to trip
  private val TripwireRetries = 8    // re-measurements of tripped rows per run

  /** Stage-total task metrics per bench row (r15 verdict #1) — see the
    * `rowMetrics` wiring in [[main]]. Thread-safe: the listener bus
    * delivers on its own thread while begin() runs on the bench thread.
    */
  private[graft] final class RowMetricsListener
      extends org.apache.spark.scheduler.SparkListener {
    final class M {
      var spillMem = 0L; var spillDisk = 0L; var shufWrite = 0L
      var shufRead = 0L; var peakExec = 0L; var gcMs = 0L
    }
    @volatile private var current: String = null
    val rows = scala.collection.concurrent.TrieMap[String, M]()
    def begin(name: String): Unit = { rows.remove(name); current = name }
    // clear attribution when the timed body returns (r16 advice): without
    // this, every stage of the UNTIMED inter-row work (cache fills, point-
    // read fixtures, zorder setup) lands on the previously timed row — a
    // whole extra query's shuffle, not the ms-scale listener tail lag. The
    // trade is the right one: a stage completing after end() is dropped
    // (unattributed) instead of mis-attributed.
    def end(): Unit = current = null
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val name = current
      if (name != null) {
        val tm = sc.stageInfo.taskMetrics
        val m = rows.getOrElseUpdate(name, new M)
        m.synchronized {
          m.spillMem += tm.memoryBytesSpilled
          m.spillDisk += tm.diskBytesSpilled
          m.shufWrite += tm.shuffleWriteMetrics.bytesWritten
          m.shufRead += tm.shuffleReadMetrics.totalBytesRead
          m.peakExec = math.max(m.peakExec, tm.peakExecutionMemory)
          m.gcMs += tm.jvmGCTime
        }
      }
    }
  }

  /** Headline set: one per engine area; scalable paths only (the brute-force
    * O(n²) baselines are correctness oracles, not benchmarks).
    */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary",   // raw scan + hash agg
    "q3_shipping_priority", // 3-table join + top-10 (TPC-H Q3 shape, round 11)
    "q5_local_supplier",    // 6-table star join, one fact shuffle (Q5 shape)
    "q4_order_priority",    // EXISTS → left-semi with non-equi residual (Q4 shape)
    "q18_large_orders",     // HAVING on the fact agg → AQE-decided join-back (Q18)
    "q17_small_quantity",   // correlated scalar subquery → one window (Q17 shape)
    "q19_discounted_revenue", // OR-of-ANDs pushed to BOTH scans (Q19 shape)
    "q21_waiting_supplier", // semi+anti de-correlation, 3 fact shuffles (Q21)
    "q6_forecast_revenue",  // full-pushdown single scan (Q6 microbenchmark)
    "olap_rollup_region",   // closure-join rollup through 4-level hierarchy
    "olap_rollup_net_year", // weighted rollup (net = gross - disc)
    "olap_multiparent",     // multi-parent fan-out rollup
    "olap_view_pivot",      // whole pivot grid: one grid, pivoted on the driver
    "olap_grid_dense",      // ~2100 aggregated cells, one job (cells/sec story)
    "olap_area_records",    // area enumeration with name joins
    "rel_join_broadcast",   // broadcast hash join
    "rel_join_shuffle",     // shuffle join (AQE)
    "rel_window_topn",      // per-group top-n window
    "rel_window_timerange", // RANGE-frame trailing-hour aggregate (round 8)
    "rel_events_tumbling",  // event-time windows
    "rel_asof_join",        // union+window as-of join
    "rel_sessionize",       // gap sessionization
    "rel_events_tumbling_stream", // streaming twin: AvailableNow replay cost
    "rel_sessionize_stream",      // streaming twin (r8 verdict ask #7)
    "rel_event_pairs",            // event-time interval self-join (round 9)
    "rel_event_pairs_stream",     // stream-stream join twin (round 9)
    "rel_funnel",           // ordered funnel: stage-selective join fold (round 12)
    "rel_retention",        // cohort retention: day-grain distinct + user-key join (round 12)
    "pipe_dedup_minhash",   // MinHash-LSH near-dup (bucketed, verified)
    "pipe_dedup_simhash",   // SimHash near-dup (banded; raw op, see rawOps)
    "pipe_ann_lsh",         // sign-LSH ANN top-k (raw op, see rawOps)
    "pipe_dedup_clusters",  // pairs -> connected components (graph fixpoint)
    "pipe_lang_id",         // text analysis scan
    "pipe_fingerprint",     // md5 fingerprints
    "pipe_repetition",      // duplicate-n-gram repetition signals (scan)
    "pipe_pack",            // sequence packing (one window shuffle)
    "pipe_shard_assign",    // token-bounded output sharding (round 8)
    "pipe_dedup_segments",  // repeated-span removal (keep-first segments)
    "pipe_bm25",            // BM25 retrieval: stats scan -> scored top-k
    "pipe_tfidf",           // TF-IDF keywords: inverted-index grains + window
    "pipe_hybrid_rrf",      // BM25 ⊕ vector RRF fusion (raw op: IVF arm)
    "pipe_temperature_mix", // α-mixing: bounded counts agg + md5 resample (round 9)
    "pipe_ngram_counts",    // LM-prep trigram counts: scan + vocab-grain agg (round 11)
    "pipe_decontaminate_semantic", // embedding decon: broadcast-eval scan (round 11)
    "pipe_decontaminate_bloom", // Bloom-prefiltered decon: sketch build + scan probe (round 12)
    "pipe_er_fuzzy",        // deletion-neighborhood fuzzy ER join + verify (round 12)
    "pipe_nb_classify",     // NB fit (two aggs) + join-shaped scoring (round 12)
    "pipe_unigram_encode",  // unigram-LM train (one pass + driver EM) + segment (round 12)
    "olap_view_cuberef",    // cross-cube currency view: broadcast slice join (round 9)
    "olap_agg_navigator",   // materialized-aggregate build + summary-served grid (round 9)
    "olap_huge_top",        // reference huge bench top-cell read — the huge
                            // entries come LAST: the build (timed separately
                            // as huge_build on this entry's first pass — keep
                            // it the FIRST huge entry) leaves a large
                            // persisted frame behind
    "huge_writes_10k")      // write-back: 10k overlay upserts (BASELINE row:
                            // "up to 100,000 records/sec", index.rst:283)

  /** Bench-side overrides: gates whose SparkEntry entry is a verification
    * summary (raw operator + an O(n²) exact baseline + recall compare) are
    * timed here on the RAW scalable operator alone — the bench measures the
    * production path, not the correctness harness around it.
    */
  private[graft] val rawOps: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = {
    Map(
      "pipe_dedup_simhash" -> ((s, dir) => graft.pipeline.TextDedup.simhashPairs(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 3)),
      "pipe_ann_lsh" -> ((s, dir) => {
        val e = s.read.parquet(s"$dir/embeddings.parquet")
        graft.pipeline.Similarity.lshTopK(e, e.filter(col("vec_id") < 5), 10, dim = 64)
      }),
      // not in the bench headline set — listed so PlanShapeSpec asserts the
      // raw scalable operators of EVERY verification-summary gate, not just
      // the benched two
      "pipe_ann_ivf" -> ((s, dir) => {
        val e = s.read.parquet(s"$dir/embeddings.parquet")
        graft.pipeline.Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), 10)
      }),
      // the persist gate's raw serving path: prebuilt index, probed-cell
      // pruning on (partition pruning applies when the index is the
      // persisted table; the join/plan shape is identical either way)
      "pipe_ann_ivf_persist" -> ((s, dir) => {
        val e = s.read.parquet(s"$dir/embeddings.parquet")
        val idx = graft.pipeline.Similarity.ivfFit(e)
        graft.pipeline.Similarity.ivfTopKIndexed(idx,
          e.filter(col("vec_id") < 5), 10, pruneCells = true)
      }),
      // the DAU/WAU production path: per-day sketches + window merge — the
      // gate wraps it in an exact-trailing-distinct verification baseline
      "rel_active_users" -> ((s, dir) => graft.ops.Relational.activeUsers(
        s.read.parquet(s"$dir/events.parquet"), col("user_id"), col("ts"), 7)),
      "pipe_dedup_embed_lsh" -> ((s, dir) => graft.pipeline.Similarity.lshNearDupPairs(
        s.read.parquet(s"$dir/embeddings.parquet"), 0.45, dim = 64, nPlanes = 4, tables = 24)),
      // the gate fuses against the brute-force oracle arm; the bench times
      // the production composition — BM25 ⊕ IVF-bucketed ANN, RRF-fused
      "pipe_hybrid_rrf" -> ((s, dir) => {
        val lex = graft.pipeline.Search.bm25TopK(
          s.read.parquet(s"$dir/documents.parquet"), col("doc_id"), col("text"),
          Seq("dup", "merge", "scan"), 50).select(col("doc_id"), col("rank"))
        val e = s.read.parquet(s"$dir/embeddings.parquet")
        val sem = graft.pipeline.Similarity.ivfTopK(e, e.filter(col("vec_id") === 0), 50)
          .select(col("cand_id").as("doc_id"), col("rank"))
        graft.pipeline.Search.hybridRrfTopK(lex, sem, 15)
      }),
      // raw serving composition of the round-10 indexed-fusion gate: the
      // posting-index BM25 ⊕ prebuilt-IVF pairing without the exact-fusion
      // verification arm
      "pipe_hybrid_rrf_indexed" -> ((s, dir) => {
        val d = s.read.parquet(s"$dir/documents.parquet")
        val lex = graft.pipeline.Search.bm25TopKIndexed(
          graft.pipeline.Search.postings(d, col("doc_id"), col("text")),
          graft.pipeline.Search.docLengths(d, col("doc_id"), col("text")),
          Seq("dup", "merge", "scan"), 50).select(col("doc_id"), col("rank"))
        val e = s.read.parquet(s"$dir/embeddings.parquet")
        val sem = graft.pipeline.Similarity.ivfTopKIndexed(
          graft.pipeline.Similarity.ivfFit(e), e.filter(col("vec_id") === 0), 50)
          .select(col("cand_id").as("doc_id"), col("rank"))
        graft.pipeline.Search.hybridRrfTopK(lex, sem, 15)
      }),
      "pipe_ann_ivfpq" -> ((s, dir) => {
        val e = s.read.parquet(s"$dir/embeddings.parquet")
        graft.pipeline.Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5), 10,
          graft.pipeline.Similarity.pqFit(e, nSub = 8, k = 16))
      }),
      "pipe_ann_ivfpq_rerank" -> ((s, dir) => {
        val e = s.read.parquet(s"$dir/embeddings.parquet")
        graft.pipeline.Similarity.ivfPqRerankTopK(e, e.filter(col("vec_id") < 5), 10, 50,
          graft.pipeline.Similarity.pqFit(e, nSub = 8, k = 16))
      }),
      // NOTE: huge_writes_10k (≙ the reference's 100k records/sec write
      // path, `doc/source/index.rst:283` — a dict write + cache
      // invalidation; ours is the same driver shape: name→bolt resolution
      // + overlay upsert, merge deferred like the reference defers
      // persistence) moved out of rawOps in r15: the rawOp shape forced a
      // `range(1).count()` Spark job + scratch-cube setup INSIDE the
      // timer; it is now a want()-gated block in the pass loop that times
      // exactly the 10k-write loop.
    )
  }

  /** The bench SparkSession config — the test-scope profiler (`Profile`)
    * builds its session HERE so a measurement can never silently run
    * under a different configuration than the bench it isolates.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val built = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Scan-split size, measured per query at sf0.1 (round 3): the 16 MB
      // splits tried in round 2 flooded local[32] with tasks and regressed
      // the scan/join queries up to 6.9× — task scheduling overhead exceeds
      // what the extra map-side parallelism buys on these plans. The Spark
      // default (128 MB) wins.
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      // bucketed-table sink (saveAsTable) must land in a scratch dir, never
      // the working directory's spark-warehouse
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graftbenchwh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    built.sparkContext.setLogLevel("ERROR")
    built
  }

  // ---- the 1e8 block's pipeline row bodies, sized by the caller: the
  // bench passes SPARK_GRAFT_HUGE8_ROWS, the test-scope profiler its own
  // argument, so an attribution run times exactly what the row times.

  /** `n` synthetic facts from id `offset`: two z-order keys in 0..1023 and
    * a value — the 1e8 z-store rows' input. */
  private def zframe(spark: SparkSession, n: Long, offset: Long): DataFrame =
    spark.range(offset, offset + n).select(col("id"),
      pmod(hash(col("id")), lit(1024)).cast("long").as("a"),
      pmod(hash(col("id") * 3), lit(1024)).cast("long").as("b"),
      (col("id") % 97).cast("double").as("value"))

  /** The `huge8_pipe_zstore_build` body: a z-ordered store of `rows` facts
    * into `dir`. Shuffle width of the range-exchange+sort: 64 output files
    * ⇒ ~50 MB in-flight sort runs per task at 32 threads at 1e8. The
    * 32/64/128 sweep found no clear winner (ARCHITECTURE §6b15), so the
    * measured 64 stays; this row is the suite's most contention/spill-
    * sensitive job (BENCH_r14's 3.44× trip). */
  private[graft] def huge8ZstoreBuild(spark: SparkSession, dir: String, rows: Long): Unit = {
    graft.pipeline.Layout.zorderWrite(spark, dir, zframe(spark, rows, 0),
      Seq(col("a"), col("b")), bits = 10, numFiles = 64)
    ()
  }

  /** Range slices of the MinHash corpora: 256 bound per-task work (~400k
    * docs each at 1e8) — the partitions-sized-to-memory discipline a
    * 1000-executor run of this operator applies. */
  private val MinhashParts = 256

  /** `n` synthetic short docs (8 words from a 50k vocab) in
    * [[MinhashParts]] range slices; with `plantDups`, every doc whose id
    * ends in 99 carries the text of id-1. */
  private def minhashCorpus(spark: SparkSession, n: Long, plantDups: Boolean): DataFrame = {
    val base = if (plantDups) when(pmod(col("id"), lit(100)) === 99, col("id") - 1)
      .otherwise(col("id")) else col("id")
    spark.range(0, n, 1, MinhashParts)
      .select(col("id").as("doc"),
        concat_ws(" ", (0 until 8).map(j =>
          concat(lit("w"), pmod(xxhash64(base, lit(j)), lit(50000)))): _*)
          .as("text"))
  }

  /** The `huge8_pipe_minhash` body over `n` docs: MinHash-LSH's corpus-
    * proportional stage — per-doc signatures + banded bucket hashes — and
    * the distinct band-hash count it returns. Bringing this row up found
    * the real 100 TB lever: the former explode→groupBy signature shape
    * shuffled one sketch per doc (13.5 GB at 1e8, OOM at the suite's 32
    * partitions) for an aggregation a one-row-per-doc corpus never needed
    * — signatures are now a codegen'd per-row projection
    * (MinHashSignature, r16), so the row measures the production path:
    * scan → project → HLL distinct over band hashes (map-side-combinable),
    * zero exchange of doc-grain data. The bucket JOIN that follows in
    * minhashLshPairs costs what collisions cost (data-dependent), and its
    * semantics are gated at sf0.01 (pipe_dedup_minhash). k=16/bands=4;
    * k-scaling is linear. */
  private[graft] def huge8Minhash(spark: SparkSession, n: Long): Long = {
    val sig = graft.pipeline.TextDedup.minhashSignatures(
      minhashCorpus(spark, n, plantDups = false), "doc", "text", k = 16)
    // the operator's own xxhash64 band buckets, 4 bands of 4 rows (round
    // 18: 32-bit bucket hashes manufactured ~4.7M birthday-collision
    // candidates at 1e8 docs — see TextDedup.minhashCandidateStage)
    val banded = sig.select(posexplode(
      graft.pipeline.TextDedup.bandHashArrOf(4, 4)).as(Seq("band", "bh")))
    val nb = banded.agg(approx_count_distinct(col("bh")).as("nb"))
      .collect()(0).getLong(0)
    require(nb > 0, "banded bucket hashes must materialize")
    nb
  }

  /** The `huge8_pipe_minhash_pairs` body over `n` docs with 1% planted
    * duplicates: the operator must return EXACTLY n/100 verified pairs
    * (sim = 1.0), so the row self-verifies; returns the pair count. This
    * prices the data-dependent stage huge8_pipe_minhash deliberately
    * excludes: the banded bucket self-join (hot-bucket-capped), the pair
    * groupBy, and the candidate-proportional verify joins. `onPairs` sees
    * the pairs frame before it is released (the profiler's plan dump).
    *
    * k=32/bands=4 (rows-per-band 8), deliberately: noise candidates scale
    * as n²·(J_bg)^rows, and at 1e8 this corpus has ~6e12 doc pairs sharing
    * one of 50k vocab words (J_bg = 1/15) — at rows=4 that is ~1.5e8 false
    * candidates flooding the verify join (measured: a 12.6 GB verify
    * exchange, 125 s), at rows=8 it is ~10³. The corpus-size-driven rows
    * choice is the documented LSH scaling contract (ARCHITECTURE "Round
    * 17", LSH rows-per-band). */
  private[graft] def huge8MinhashPairs(spark: SparkSession, n: Long,
      onPairs: DataFrame => Unit = _ => ()): Long = {
    // partitions-sized-to-memory: the banded self-join shuffles 4 bands ×
    // docs rows per side — at the suite's 32 partitions each task sorts
    // ~12.5M rows against a 4e8-row persisted frame and dies in
    // execution-memory acquisition (measured, r17 bring-up); 256 gives
    // ~25 MB sort runs, AQE coalesces the small stages
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", MinhashParts.toString)
    try {
      val pairs = graft.pipeline.TextDedup.minhashLshPairs(
        minhashCorpus(spark, n, plantDups = true), "doc", "text",
        k = 32, bands = 4, threshold = 0.9)
      val got = pairs.count()
      onPairs(pairs)
      pairs.unpersist(blocking = false)
      // 8-word sets only reach Jaccard ≥ 0.9 when identical, so the
      // planted pairs are the whole answer — any other count means the
      // candidate or verify stage broke
      require(got == n / 100, s"expected ${n / 100} planted duplicate pairs, got $got")
      got
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    // /proc/stat reader, used by the steal brackets AND the per-row steal
    // attribution in mtime below — the hypervisor's own ground truth for
    // cpu time stolen from this guest (0.0 where not exposed)
    def cpuStat(): (Long, Long) = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val l = src.getLines().find(_.startsWith("cpu ")).get
          .trim.split("\\s+").drop(1).map(_.toLong)
        (l.sum, if (l.length > 7) l(7) else 0L)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

    // Per-row EXECUTOR metrics (r15 verdict #1): a SparkListener sums
    // stage task-metric totals — spill, shuffle bytes, peak execution
    // memory, GC — attributed to the row being timed, so a diverging row
    // carries its memory-pressure evidence IN the artifact (row_metrics)
    // instead of leaving the cause to inference. begin(name) resets the
    // row's accumulator and end() clears it when the timed body returns
    // (r16 advice — untimed inter-row work is no longer mis-attributed):
    // what ships is the LAST timed measurement of each row (for a
    // tripwire-retried row, the retry — exactly the measurement whose
    // divergence needs explaining). Per-row STEAL rides along (r16 verdict
    // #3): two cpuStat() reads around each timed body, so a flagged row
    // carries its own steal evidence instead of inheriting the pass's.
    val rowMetrics = new RowMetricsListener
    spark.sparkContext.addSparkListener(rowMetrics)
    val rowSteal = scala.collection.concurrent.TrieMap[String, Double]()
    // PROCESS-level GC per row (round 17): the listener's gc_ms sums
    // jvmGCTime across CONCURRENT tasks, so one stop-the-world pause under
    // 32 running tasks is attributed ~32× — r16's "huge8_build gc 95 s"
    // was ~0.7 s of real pauses (measured: ARCHITECTURE "Round 17", the
    // GC attribution paragraph). The MXBean
    // delta is the single-counted truth; both ship so a reader never
    // mistakes attribution for memory pressure again.
    val rowProcGc = scala.collection.concurrent.TrieMap[String, Long]()
    def procGcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def mtime(name: String)(body: => Unit): Double = {
      rowMetrics.begin(name)
      val (c0, s0) = cpuStat()
      val g0 = procGcMs
      try time(body) finally {
        rowMetrics.end()
        rowProcGc(name) = procGcMs - g0
        val (c1, s1) = cpuStat()
        // sub-second driver-loop rows have jiffy-scale cpu deltas whose
        // steal share is noise — require ~0.5 s of cpu time to attribute
        if (c1 - c0 > 50) rowSteal(name) = 100.0 * (s1 - s0) / (c1 - c0)
      }
    }

    // Load canary: `nSpin` CONCURRENT CPU spins (2^26 xorshift steps each,
    // ~0.15 s/thread on an idle host), reported as (median, max) over the
    // threads. The former single-threaded spin was blind to partial-core
    // contention — a concurrent 32-way job barely grazes one spinning core,
    // and BENCH_r05 recorded 2× inflated totals with nominal canaries. With
    // a spin pinned on every core, any competing load must time-slice
    // against us and stretches the median measurably.
    val nSpin = math.max(2, Runtime.getRuntime.availableProcessors())
    def spinCanary(): (Double, Double) = {
      val times = new Array[Double](nSpin)
      val threads = (0 until nSpin).map { t =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L ^ t; var i = 0
          val t0 = System.nanoTime()
          while (i < (1 << 26)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
          times(t) = (System.nanoTime() - t0) / 1e9
          if (x == 42L) print("") // defeat dead-code elimination
        }, s"graft-canary-$t")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val sorted = times.sorted
      (sorted(nSpin / 2), sorted.last)
    }

    // The register-only spin is BLIND to memory-bandwidth and disk
    // contention: the r10 official artifact shipped every row 1.1-1.9×
    // (streaming/IO-heavy rows worst) with spin canaries AT the idle floor
    // and steal 0.04% — a co-tenant streaming data through RAM/disk never
    // touches a register loop. Two further canaries close those channels.
    //
    // Memory canary: nSpin threads each stream-sum a disjoint 8 MiB slice
    // of a shared 256 MiB array, 4 sweeps — the aggregate working set
    // exceeds any LLC, so the median thread time tracks DRAM bandwidth.
    val memWords = 32 << 20 // 256 MiB of longs, allocated once
    lazy val memArr: Array[Long] = {
      val a = new Array[Long](memWords)
      var i = 0; while (i < memWords) { a(i) = i; i += 1 } // fault pages in
      a
    }
    def memCanary(): Double = {
      val slice = memWords / nSpin
      val times = new Array[Double](nSpin)
      val threads = (0 until nSpin).map { t =>
        new Thread(() => {
          val lo = t * slice; val hi = lo + slice
          var acc = 0L; var sweep = 0
          val t0 = System.nanoTime()
          while (sweep < 4) {
            var i = lo; while (i < hi) { acc += memArr(i); i += 1 }
            sweep += 1
          }
          times(t) = (System.nanoTime() - t0) / 1e9
          if (acc == 42L) print("")
        }, s"graft-memcanary-$t")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      times.sorted.apply(nSpin / 2)
    }
    // Disk canary: 16 MiB write + fsync + delete in the tmp dir (the same
    // device the streaming state stores, checkpoints and shuffle spill
    // land on) — writeback pressure from a co-tenant stretches the fsync.
    val ioBuf = java.nio.ByteBuffer.allocateDirect(1 << 20)
    def ioCanary(): Double = {
      val f = java.nio.file.Files.createTempFile("graft-iocanary", ".bin")
      try {
        val t0 = System.nanoTime()
        val ch = java.nio.channels.FileChannel.open(f,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          var i = 0
          while (i < 16) { ioBuf.rewind(); ch.write(ioBuf); i += 1 }
          ch.force(true)
        } finally ch.close()
        (System.nanoTime() - t0) / 1e9
      } finally java.nio.file.Files.deleteIfExists(f)
    }

    // JIT/codegen warmup on the smallest SF (untimed): one query plus the
    // model build itself, so `model_build` measures the build's steady-state
    // cost (scan+join+agg work), not one-time janino/plan compilation —
    // same hygiene as the untimed warmup query, ~3 s of codegen at sf0.1.
    try {
      SparkEntry.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001").count()
      // guard: TpchModel.get memoizes per sfDir — warming on the MEASURED
      // dir would make model_build time a cache hit (~0 s, silently)
      if (sfDir != "/root/testdata/sf0.001")
        graft.tpch.TpchModel.get(spark, "/root/testdata/sf0.001")
    } catch { case _: Throwable => }

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // encrypted-pricing pair order, toggled per pass (see the pricing rows)
    var zPairFlip = false

    // Contention-proofing: run the whole headline set `Passes` times in one
    // process and report the per-query MINIMUM — steady-state latency, as the
    // reference benchmarks steady state too (samples/huge.py:115-201). A
    // transient host spike (e.g. round-3's official artifact, 2× inflated by
    // a concurrent driver job) poisons one pass, not the min of two.
    //
    // Settle delay BEFORE floor calibration: the official runner invokes the
    // bench immediately after the full verify — residual host state (page
    // cache writeback, task-cleanup, compaction debris) inflates the warm-up
    // canaries and therefore the FLOOR itself, letting the preflight pass
    // against a poisoned baseline (the documented self-calibration blind
    // spot; likely what let r7's 17.5 s model_build through).
    Thread.sleep(SettleMs)
    // Untimed warm-up spins ×3: C2-compile the spin loop + warm thread
    // startup (the first canary otherwise reads ~1.5× its successors on an
    // idle host), and CALIBRATE the idle floor for this hardware — the min
    // observed median is the best available idle estimate (a hardcoded
    // floor false-positives on marginally slower hosts, r6 advice).
    val warm = (1 to 3).map(_ => spinCanary())
    // Floor estimator = the SECOND-smallest observation (round 17): the
    // plain min let ONE anomalously fast sample (a 0.004 s mem canary on a
    // host whose steady idle reads 0.010) calibrate an unattainable floor
    // and brick the preflight gate for the whole run. Two concordant fast
    // samples still lower the floor; one outlier cannot.
    final class Min2 {
      private var m1 = Double.MaxValue; private var m2 = Double.MaxValue
      def add(v: Double): Unit =
        if (v < m1) { m2 = m1; m1 = v } else if (v < m2) m2 = v
      def floor: Double = if (m2 != Double.MaxValue) m2 else m1
    }
    val obsMin = new Min2
    warm.foreach(w => obsMin.add(w._1))
    def floor: Double = obsMin.floor
    // mem/io floors: same min-observed self-calibration (same blind spot:
    // contention present from warm-up through the end poisons the floor —
    // the preflight backoff is the mitigation)
    val warmMem = (1 to 3).map(_ => memCanary())
    val warmIo = (1 to 3).map(_ => ioCanary())
    val obsMemMin = new Min2
    val obsIoMin = new Min2
    warmMem.foreach(obsMemMin.add)
    warmIo.foreach(obsIoMin.add)
    def memFloor: Double = obsMemMin.floor
    def ioFloor: Double = obsIoMin.floor

    // PRE-FLIGHT idle gate (r6 verdict: the official artifact ran ~20% hot
    // with contended:false — min-of-passes cannot protect against SUSTAINED
    // residual load, e.g. page-cache/compaction debris of a job that just
    // exited). Refuse to start pass 1 until a canary median reads within
    // 1.25× the floor, waiting out residual host state with retry/backoff;
    // if it never settles, emit an EXPLICITLY INVALID artifact (value -1,
    // error marker) instead of plausible-but-poisoned numbers.
    var preflightOk = false
    var tries = 0
    while (!preflightOk && tries < PreflightTries) {
      val (med, _) = spinCanary()
      val mem = memCanary()
      obsMin.add(med) // an observation can only lower the idle estimate
      obsMemMin.add(mem)
      if (med <= 1.25 * floor && mem <= 1.4 * memFloor) preflightOk = true
      else {
        tries += 1
        System.err.println(f"[graft.Bench] preflight: canary spin $med%.3fs " +
          f"(floor ${floor}%.3f) / mem $mem%.3fs (floor ${memFloor}%.3f) — " +
          f"host not idle, backing off (try $tries/$PreflightTries)")
        Thread.sleep(15000)
      }
    }
    if (!preflightOk) {
      System.err.println("[graft.Bench] REFUSING to bench: host never settled " +
        s"within $PreflightTries preflight retries; artifact below is marked invalid")
      println(f"""{"metric":"total","value":-1.0,"unit":"sec","queries":{},"sf":"$sfDir","error":"preflight_contended","canary_floor_sec":$floor%.3f,"contended":true}""")
      spark.stop()
      return
    }

    // PRE-FLIGHT steal gate (r16 verdict #3): three rounds of DRIVER runs
    // landed in hypervisor-steal windows (r16: pass steal up to 6.78%)
    // that no in-guest canary can see — /proc/stat can. Steal only accrues
    // while the guest DEMANDS cpu, so the probe spins every core (the spin
    // canary in a loop) for the probe window and reads the steal delta
    // around it; while the share exceeds the dirty threshold, DELAY
    // (bounded) and re-probe. If the window never opens, proceed anyway —
    // the per-pass brackets and per-row steal attribution carry the
    // evidence — but the artifact records the gate's verdict.
    def probeSteal(sec: Double): Double = {
      val (c0, s0) = cpuStat()
      val end = System.nanoTime() + (sec * 1e9).toLong
      while (System.nanoTime() < end) {
        val (med, _) = spinCanary()
        obsMin.add(med) // free extra floor observations
      }
      val (c1, s1) = cpuStat()
      if (c1 > c0) 100.0 * (s1 - s0) / (c1 - c0) else 0.0
    }
    var preflightSteal = probeSteal(StealProbeSec)
    var stealGateWaited = 0L
    while (preflightSteal > StealDirtyPct && stealGateWaited < StealGateMaxSec) {
      System.err.println(f"[graft.Bench] preflight: hypervisor steal " +
        f"$preflightSteal%.2f%% > $StealDirtyPct%.2f%% under full-core load — " +
        f"delaying (waited ${stealGateWaited}s/${StealGateMaxSec}s)")
      Thread.sleep(30000)
      stealGateWaited += 30 + StealProbeSec.toLong
      preflightSteal = probeSteal(StealProbeSec)
    }
    if (preflightSteal > StealDirtyPct) System.err.println(
      f"[graft.Bench] WARNING: steal window never closed " +
      f"($preflightSteal%.2f%% after ${stealGateWaited}s) — proceeding; " +
      "per-row steal attribution carries the evidence")

    // model_build is timed INSIDE the idle gate (r7: it was the first timed
    // entry, BEFORE the preflight — the one slot where post-verify residual
    // load could hit a timed number unchallenged, and the official artifact
    // recorded exactly that: model_build 2.6× with flat canaries AFTER it).
    // Phase attribution lands in the artifact so any future outlier says
    // where the time went.
    results("model_build") = mtime("model_build") { graft.tpch.TpchModel.get(spark, sfDir); () }
    val buildPhases = graft.tpch.TpchModel.lastBuildPhases

    val canaries = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    // Hypervisor-steal accounting around the timed passes: in-guest spin
    // canaries CANNOT fully see steal (measured live: 1-8% `st` under
    // all-core load inflated JVM-synchronization-heavy queries 25-35%
    // while the independent spins moved ~10% — lock-holder preemption
    // amplifies a stolen vCPU into a whole-JVM stall). /proc/stat's
    // cumulative steal jiffies are the ground truth the hypervisor itself
    // reports; the delta across the run, as a share of total cpu time,
    // goes into the artifact so a reader can discount weather without
    // guest-side forensics. (0.0 on hosts that don't expose steal.
    // cpuStat itself is defined above mtime, which shares it.)
    val (cpuTotal0, steal0) = cpuStat()
    // the bucketed-backed scratch cube: built once on pass 1, read per pass
    var bucketedCube: graft.core.Cube = null
    // key material for the encrypted z-store pricing rows — derived once,
    // never inside a timed body
    lazy val benchEnc = graft.core.Crypto.parquetEncryption("bench-zenc",
      new graft.core.Crypto.AesGcm("bench at rest")
        .deriveKey("benchsaltbenchsa".getBytes))
    // min over successful passes; -1 only if every pass failed
    def record(name: String, t: Double): Unit = results(name) =
      (results.get(name).filter(_ >= 0), Some(t).filter(_ >= 0)) match {
        case (Some(p), Some(n)) => math.min(p, n)
        case (Some(p), None)    => p
        case (None, Some(n))    => n
        case (None, None)       => -1.0
      }
    // iteration aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those headline
    // entries (official runs leave it unset — the artifact notes nothing)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(headline)(s => headline.filter(s))
    // Per-pass contention watchdog (r8 verdict #2: the detectors measured a
    // mid-run contention plateau — pass-2 canary 2.7× the floor — but only
    // WARNED; six rows shipped >2× inflated with no clean sample). Now each
    // pass is bracketed by canaries; a pass whose pre- OR post-canary median
    // exceeds `PassDirtyK`× the floor is DIRTY and is re-run (bounded retries,
    // min-of-passes merges the retry). Rows that never land in a clean pass
    // are published in `dirty_rows` and flip `contended` so the driver knows
    // to retry the artifact rather than trust plausible-but-poisoned numbers.
    // Clean-minima tripwire config, loaded BEFORE the passes (r14 verdict
    // #1): the minima both flag divergent rows in the artifact AND drive
    // the in-run RE-measurement of tripped multi-second rows below — a
    // transient spike no longer poisons the official number permanently.
    val minimaLoaded: BenchTripwire.Minima = try {
      val p = java.nio.file.Paths.get(MinimaPath)
      if (!java.nio.file.Files.exists(p)) BenchTripwire.Empty
      else BenchTripwire.parse(java.nio.file.Files.readString(p))
    } catch { case t: Throwable =>
      System.err.println(s"[graft.Bench] minima file unreadable ($MinimaPath): $t")
      BenchTripwire.Empty }
    // The minima are recorded from clean 32-core sign-off runs; at any
    // other core count every compute-bound row legitimately exceeds them
    // (the r18 c8 scaling run spuriously tripped 6 rows — huge8_build
    // "3.46x" was just 8-vs-32 cores — and stamped [error] into a clean
    // artifact). A non-32 run DISARMS the tripwire rather than inventing
    // per-core scaling laws the minima file doesn't record (r18 verdict
    // #1/#3); the host-phase canary floors still normalize same-core runs.
    val benchCpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val minima = if (benchCpus == 32) minimaLoaded else BenchTripwire.Empty
    if (benchCpus != 32 && minimaLoaded.size > 0) System.err.println(
      s"[graft.Bench] tripwire disarmed: minima are 32-core-armed, this run " +
      s"has cpus=$benchCpus — per-row scaling is the driver's comparison to make")
    // TripwireSlackSec: sub-second rows jitter 40-80 ms between CLEAN runs
    // (JIT/GC/page cache) — a relative-only threshold flags 0.15 s rows at
    // 1.3x while the tripwire exists for the 2-4x build-row divergences;
    // a row must exceed BOTH the ratio and this absolute delta to trip
    // the tripped ratio of a recorded row vs its HOST-PHASE-ADJUSTED clean
    // minimum (r15 verdict #2: minima from a fast host window flagged
    // 12-27 clean slow-phase rows at 1.3-1.7× — the comparison now scales
    // by the run's own canary floors vs the floors the minima recorded, so
    // global phase cancels and only row-specific divergence trips;
    // arithmetic + the slow-phase-quiet / injected-regression-still-trips
    // contract live in BenchTripwire + its spec)
    def trippedRatio(name: String): Option[Double] =
      results.get(name).filter(_ > 0).flatMap(v =>
        minima.rows.get(name).flatMap(row => BenchTripwire.trippedRatio(
          v, row, minima.defaultFloors, Some(floor), Some(memFloor),
          TripwireK, TripwireSlackSec)))
    // in-run re-measurement budget: ≤5 rows total, one retry each, only
    // rows ≥1 s (sub-second trips are jitter-class, the slack's domain)
    var retryBudget = TripwireRetries
    val tripwireRetried = scala.collection.mutable.ArrayBuffer[String]()
    var retriesUsed = 0
    var dirtyResidue = false
    val cleanNames = scala.collection.mutable.Set[String]()
    val allNames = scala.collection.mutable.Set[String]()

    // The streaming twins replay the events as a 12-trigger AvailableNow
    // stream — their cost is micro-batch fixed overhead (~0.6 s/trigger),
    // not data volume, so min-of-passes adds nothing: timed ONCE per run.
    val onceOnly = Set("rel_events_tumbling_stream", "rel_sessionize_stream",
      "rel_event_pairs_stream")
    def runPass(): Set[String] = {
      val recorded = scala.collection.mutable.Set[String]()
      def rec(name: String, t: Double): Unit = { record(name, t); recorded += name }
      // the twins share one 12-file time-ordered events layout (fixture
      // prep, not replay) — pre-paid here and timed as its own row, like
      // huge_build vs olap_huge_top
      if (selected.exists(onceOnly) && !results.contains("stream_layout_build")) {
        results("stream_layout_build") = try mtime("stream_layout_build") {
          graft.tpch.StreamingQueries.warmEventsLayout(spark, sfDir)
        } catch { case _: Throwable => -1.0 }
        recorded += "stream_layout_build"
      }
      selected.filterNot(n => onceOnly(n) && results.contains(n)).foreach { name =>
        // the 1e6-cell huge model: a REAL build every pass (drop memo +
        // unpersist + rebuild), timed like every other row — pass 1 is the
        // cold build, pass ≥2 the warmed-JIT steady state, and min-of-passes
        // replaces the one-shot number whose r13 official artifact diverged
        // 1.7× from three clean sign-off runs (r13 verdict #1). Timed build
        // and read stay separate (≙ samples/huge.py:115-201 load vs reads).
        if (name == "olap_huge_top") {
          rec("huge_build", try mtime("huge_build") {
            graft.tpch.HugeModel.rebuild(spark, graft.tpch.HugeModel.Rows); ()
          } catch { case _: Throwable => -1.0 })
        }
        rawOps.get(name).orElse(SparkEntry.queries.get(name)).foreach { fn =>
          if (name == "olap_huge_top") {
            // the reference baseline quotes this read with caching OFF
            // (samples/huge.py:176-187) — under min-of-passes, pass 2 would
            // otherwise record a driver TrieMap hit, not the 1M-row
            // aggregation. Cold and cached are BOTH real product shapes, so
            // they are timed as separate entries.
            val cube = graft.tpch.HugeModel.get(spark)
            cube.cacheEnabled = false
            cube.clearCache()
            rec(name, try mtime(name) { fn(spark, sfDir).count(); () }
                      catch { case _: Throwable => -1.0 })
            cube.cacheEnabled = true
            try fn(spark, sfDir).count() catch { case _: Throwable => } // fill cache
            rec("huge_top_cached", try mtime("huge_top_cached") { fn(spark, sfDir).count(); () }
                                   catch { case _: Throwable => -1.0 })
          } else {
            rec(name, try mtime(name) { fn(spark, sfDir).count(); () }
                      catch { case _: Throwable => -1.0 })
          }
        }
      }
      def want(name: String): Boolean = only.forall(_.contains(name))
      // random point reads over the huge model, in BOTH product shapes.
      // `huge_point_reads_10k` is the reference's literal benchmark — a
      // name-addressed read loop (`samples/huge.py:134-157`) — served from
      // the cube's driver-resident point index (the engine analogue of the
      // reference's fact dict; opt-in, cap-guarded). The one-time index
      // collect is timed separately like huge_build. `huge_point_reads_job_
      // 10k` keeps the no-index number honest: all 10k addresses resolved
      // in ONE broadcast-semi-join job — the only shape that exists when
      // the cube is too big to index (the 100 TB path).
      if (want("huge_point_reads_10k")) {
        val cube = graft.tpch.HugeModel.get(spark)
        // a REAL index build (collect) every pass — enablePointIndex is a
        // no-op while the index stands, so drop it first; min-of-passes
        // replaces the one-shot number that ran 1.87× in the r13 artifact
        cube.disablePointIndex()
        rec("huge_point_index_build",
          try mtime("huge_point_index_build") { cube.enablePointIndex(); () }
          catch { case _: Throwable => -1.0 })
        // address fixture OUTSIDE the timer (r15): the reference's loop
        // reads from a PREBUILT address list (`samples/huge.py:134-157`);
        // timing the fixture collect inside made this row carry a ~40 ms
        // Spark-job floor its baseline comparator never pays
        val addrs = graft.tpch.HugeModel.pointReadAddrs(spark, 10000)
        rec("huge_point_reads_10k",
          try mtime("huge_point_reads_10k") { graft.tpch.HugeModel.pointReadLoop(cube, addrs); () }
          catch { case _: Throwable => -1.0 })
      }
      if (want("huge_writes_10k")) {
        // scratch-cube creation and the post-loop verification read sit
        // OUTSIDE the timer (r15): the BASELINE.md comparator is the
        // reference's in-process dict write loop (doc/source/index.rst:283)
        // — cube setup is fixture prep, and the old rawOp shape also paid a
        // ~50 ms `range(1).count()` job floor just to return a DataFrame.
        // The timed body is exactly the 10k name-addressed overlay upserts
        // (address building stays in-loop, same as the reference's
        // tuple-of-names addressing).
        val base = graft.tpch.HugeModel.get(spark)
        val c = new graft.core.Cube("hugewrites", base.dimensions, spark, Some(base.facts))
        var lastAddr: Seq[String] = Nil
        val tWrites = try mtime("huge_writes_10k") {
          var i = 0
          while (i < 10000) {
            lastAddr = Seq.tabulate(graft.tpch.HugeModel.NDims)(d =>
              s"m${(i * (d + 3)) % graft.tpch.HugeModel.LeavesPerDim}")
            c.set(lastAddr, i.toDouble)
            i += 1
          }
        } catch { case _: Throwable => -1.0 }
        rec("huge_writes_10k", tWrites)
        // verification read (not timed): the writes actually landed — but
        // ONLY for a loop that completed; a failed loop already recorded
        // -1 and must degrade like every other row, not abort the suite
        if (tWrites >= 0)
          require(c.get(lastAddr).contains(9999.0),
            "huge_writes_10k: last overlay write did not read back")
      }
      if (want("huge_point_reads_job_10k")) rec("huge_point_reads_job_10k",
        try mtime("huge_point_reads_job_10k") { graft.tpch.HugeModel.pointReadBatch(spark, 10000).count(); () }
        catch { case _: Throwable => -1.0 })
      // the bucketed-layout read path (ARCHITECTURE §6d), THROUGH the cube
      // API: compactToBucketed swaps in a hash-bucketed+sorted backing so
      // repeated key joins plan with NO Exchange on the fact side. The
      // one-time compaction is timed once (guarded on the cube, not the pass
      // number, so a retried first pass can't re-time it); the per-pass read
      // is the cube's batched point read as a shuffle join (readBatch's
      // merge hint on the address side) — the 100 TB shape, an address
      // list too big to broadcast.
      if (bucketedCube == null && want("huge_reads_bucketed_10k"))
        rec("huge_bucketed_write", try mtime("huge_bucketed_write") {
        spark.sql("DROP TABLE IF EXISTS bench_huge_bucketed")
        val base = graft.tpch.HugeModel.get(spark)
        bucketedCube = new graft.core.Cube("hugebucketed", base.dimensions,
          spark, Some(base.facts))
        bucketedCube.compactToBucketed("bench_huge_bucketed", 8)
      } catch { case _: Throwable => -1.0 })
      if (want("huge_reads_bucketed_10k")) rec("huge_reads_bucketed_10k",
        try mtime("huge_reads_bucketed_10k") {
          graft.tpch.HugeModel
            .pointReadBatch(bucketedCube, 10000, broadcastAddrs = false)
            .count(); ()
        } catch { case t: Throwable =>
        System.err.println(s"[graft.Bench] huge_reads_bucketed_10k failed: $t"); -1.0 })
      // r14 verdict #3: PRICE at-rest encryption — the same z-store build
      // and manifest-read aggregate over the events table, plain vs
      // parquet-modular AES-GCM, as paired per-pass rows: the cipher/footer
      // overhead is a measured within-run delta with minima armed, not a
      // remembered claim. Key material derives ONCE outside the timers
      // (PBKDF2 at 600k iterations is deliberately slow).
      if (want("pipe_zstore_build_encrypted")) {
        import org.apache.spark.sql.functions.sum
        // force the lazy key derivation HERE — a lazy val first touched
        // inside the encrypted build's time{} would put the deliberately
        // slow 600k-iteration PBKDF2 inside the very timer the pairing
        // exists to keep it out of (r15 review)
        val encOpts = benchEnc
        val ev = spark.read.parquet(s"$sfDir/events.parquet")
          .select(col("event_id"), col("user_id"), col("value"))
        // warm the shared source scan OUTSIDE the timers: whichever build
        // runs first would otherwise pay the cold events page-cache read
        // and the pair's delta would measure IO order, not the cipher
        // (measured r15: encrypted benched consistently FASTER than plain
        // — backwards — because plain, always first, warmed the cache)
        ev.agg(sum(col("event_id")), sum(col("user_id")), sum(col("value"))).collect()
        val zcols = Seq(col("user_id"),
          org.apache.spark.sql.functions.floor(col("value")).cast("long"))
        val plainDir = java.nio.file.Files.createTempDirectory("bench_zpl").toString
        val encDir = java.nio.file.Files.createTempDirectory("bench_zen").toString
        def buildPlain(): Unit = rec("pipe_zstore_build_plain", try mtime("pipe_zstore_build_plain") {
          graft.pipeline.Layout.zorderWrite(spark, plainDir, ev, zcols,
            bits = 10, numFiles = 8); ()
        } catch { case _: Throwable => -1.0 })
        def buildEnc(): Unit = rec("pipe_zstore_build_encrypted", try mtime("pipe_zstore_build_encrypted") {
          graft.pipeline.Layout.zorderWrite(spark, encDir, ev, zcols,
            bits = 10, numFiles = 8, pqOptions = encOpts._1); ()
        } catch { case _: Throwable => -1.0 })
        def readPlain(): Unit = rec("pipe_zstore_read_plain", try mtime("pipe_zstore_read_plain") {
          graft.pipeline.Layout.zorderRead(spark, plainDir)
            .agg(sum(col("event_id"))).collect(); ()
        } catch { case _: Throwable => -1.0 })
        def readEnc(): Unit = rec("pipe_zstore_read_encrypted", try mtime("pipe_zstore_read_encrypted") {
          graft.pipeline.Layout.zorderRead(spark, encDir, pqOptions = encOpts._2)
            .agg(sum(col("event_id"))).collect(); ()
        } catch { case _: Throwable => -1.0 })
        // alternate pair order on every pass (a contains() check would
        // flip once and stay — with passes > 2 one variant would hog the
        // first position, r15 review): each variant gets first-position
        // samples on alternating passes, so min-of-passes compares like
        // contexts (residual first-mover costs — codegen cache, JIT —
        // cancel)
        val encFirst = zPairFlip
        zPairFlip = !zPairFlip
        if (encFirst) { buildEnc(); buildPlain(); readEnc(); readPlain() }
        else { buildPlain(); buildEnc(); readPlain(); readEnc() }
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(plainDir))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(encDir))
      }
      recorded.toSet
    }

    // the pass brackets sample all three channels; mem/io thresholds are
    // looser than spin (their idle variance is larger), and io is the
    // loosest — page-cache state makes a single fsync the noisiest probe
    // Hypervisor-steal bracket per pass (round 16): the r16 sign-off runs
    // measured 1.7-4.7% steal windows inflating rows 1.3-1.9× while EVERY
    // in-guest canary sat near its floor (spin phase 1.10) — steal is the
    // one channel guest-side probes cannot see (lock-holder preemption
    // amplifies a stolen vCPU into whole-JVM stalls, the documented
    // 25-35%-per-percent effect). /proc/stat steal jiffies ARE visible, so
    // each pass is bracketed and a pass whose steal share exceeds the
    // threshold is DIRTY like a hot canary: re-run, min-merge, and rows
    // without a steal-quiet sample self-report in dirty_rows.
    val passSteal = scala.collection.mutable.ArrayBuffer[Double]()
    def stealBracket[A](body: => A): (A, Double) = {
      val (c0, s0) = cpuStat()
      val r = body
      val (c1, s1) = cpuStat()
      // a near-zero cpu delta makes the share meaningless (an idle
      // SPARK_GRAFT_BENCH_ONLY pass measured "33% steal" from a
      // 3-jiffy denominator) — require ~5 s of cpu time before judging
      val pct = if (c1 - c0 > 500) 100.0 * (s1 - s0) / (c1 - c0) else 0.0
      (r, pct)
    }
    val memSamples = scala.collection.mutable.ArrayBuffer[Double]()
    val ioSamples = scala.collection.mutable.ArrayBuffer[Double]()
    var pass = 1
    while (pass <= Passes) {
      val pre = spinCanary(); canaries += pre
      val preMem = memCanary(); memSamples += preMem
      val preIo = ioCanary(); ioSamples += preIo
      obsMin.add(pre._1)
      obsMemMin.add(preMem)
      obsIoMin.add(preIo)
      val (recorded, steal) = stealBracket { runPass() }
      passSteal += steal
      allNames ++= recorded
      val post = spinCanary(); canaries += post
      val postMem = memCanary(); memSamples += postMem
      val postIo = ioCanary(); ioSamples += postIo
      obsMin.add(post._1)
      obsMemMin.add(postMem)
      obsIoMin.add(postIo)
      val dirty = pre._1 > PassDirtyK * floor || post._1 > PassDirtyK * floor ||
        preMem > MemDirtyK * memFloor || postMem > MemDirtyK * memFloor ||
        preIo > IoDirtyK * ioFloor || postIo > IoDirtyK * ioFloor ||
        steal > StealDirtyPct
      if (dirty && retriesUsed < PassRetries) {
        retriesUsed += 1
        System.err.println(f"[graft.Bench] pass $pass dirty: spin " +
          f"(${pre._1}%.3f, ${post._1}%.3f) vs ${PassDirtyK}x${floor}%.3f, mem " +
          f"($preMem%.3f, $postMem%.3f) vs ${MemDirtyK}x${memFloor}%.3f, io " +
          f"($preIo%.3f, $postIo%.3f) vs ${IoDirtyK}x${ioFloor}%.3f, steal " +
          f"$steal%.2f%% vs $StealDirtyPct%.2f%% — " +
          f"re-running pass (retry $retriesUsed/$PassRetries)")
        Thread.sleep(10000)
        // do not advance `pass`: min-of-passes merges the retry's numbers
      } else {
        if (dirty) {
          dirtyResidue = true
          System.err.println(f"[graft.Bench] pass $pass dirty and retries " +
            "exhausted — rows without a clean sample go to dirty_rows")
        } else cleanNames ++= recorded
        pass += 1
      }
    }

    // ---- tripwire self-healing (r14 verdict #1): tripped rows ≥1 s are
    // RE-measured after the passes — one bounded retry each, canary-
    // bracketed, MIN-merged — so a transient host spike during a pass no
    // longer stands as the row's official number (BENCH_r14 shipped
    // huge8_pipe_zstore_build at 3.44× its clean minimum this way). A row
    // that trips AGAIN after its retry is a persistent divergence and
    // stays flagged. Rows the bench cannot re-run standalone (model_build
    // is memoized; the bucketed pair shares one-shot fixtures) keep their
    // pass-loop numbers.
    // deferred teardown for retry bodies that create scratch stores — runs
    // AFTER the timer, so deleting a multi-GB fixture never counts as work
    val retryCleanup = scala.collection.mutable.ArrayBuffer[() => Unit]()
    // `reserve` holds back budget for a LATER retry site: the pass-loop
    // sweep runs first and used to exhaust the budget before the 1e8
    // block's rows — the suite's most divergence-prone — got their turn
    def retryTripped(names: Seq[String], runner: String => Option[() => Unit],
        reserve: Int = 0): Unit = {
      val cand = names.distinct
        .filter(n => results.get(n).exists(_ >= 1.0) && trippedRatio(n).isDefined)
        .sortBy(n => -trippedRatio(n).get)
      cand.foreach { n =>
        if (retryBudget > reserve) runner(n).foreach { body =>
          retryBudget -= 1
          System.err.println(f"[graft.Bench] tripwire retry: $n at " +
            f"${trippedRatio(n).get}%.2fx its clean minimum — re-measuring")
          Thread.sleep(3000) // let the (presumed transient) spike drain
          val pre = spinCanary(); canaries += pre
          obsMin.add(pre._1)
          record(n, try mtime(n) { body() } catch { case t: Throwable =>
            System.err.println(s"[graft.Bench] tripwire retry of $n failed: $t"); -1.0 })
          retryCleanup.foreach(c => try c() catch { case _: Throwable => () })
          retryCleanup.clear()
          val post = spinCanary(); canaries += post
          obsMin.add(post._1)
          if (pre._1 <= PassDirtyK * floor && post._1 <= PassDirtyK * floor)
            cleanNames += n
          tripwireRetried += n
        }
      }
    }
    retryTripped(results.keys.toSeq, reserve = 3, runner = name => {
      val generic = rawOps.get(name).orElse(SparkEntry.queries.get(name))
        .map(fn => () => { fn(spark, sfDir).count(); () })
      name match {
        case "huge_build" =>
          Some(() => { graft.tpch.HugeModel.rebuild(spark, graft.tpch.HugeModel.Rows); () })
        case "olap_huge_top" => Some(() => {
          val cube = graft.tpch.HugeModel.get(spark)
          cube.cacheEnabled = false; cube.clearCache()
          try { SparkEntry.queries("olap_huge_top")(spark, sfDir).count(); () }
          finally cube.cacheEnabled = true
        })
        case "huge_point_index_build" => Some(() => {
          val cube = graft.tpch.HugeModel.get(spark)
          cube.disablePointIndex(); cube.enablePointIndex(); ()
        })
        case "huge_point_reads_10k" =>
          // fixture prep at thunk-construction time — outside the retry timer
          val addrs = graft.tpch.HugeModel.pointReadAddrs(spark, 10000)
          Some(() =>
            { graft.tpch.HugeModel.pointReadLoop(graft.tpch.HugeModel.get(spark), addrs); () })
        case "huge_writes_10k" =>
          val base = graft.tpch.HugeModel.get(spark)
          val c = new graft.core.Cube("hugewrites_r", base.dimensions, spark, Some(base.facts))
          Some(() => {
            var i = 0
            while (i < 10000) {
              c.set(Seq.tabulate(graft.tpch.HugeModel.NDims)(d =>
                s"m${(i * (d + 3)) % graft.tpch.HugeModel.LeavesPerDim}"), i.toDouble)
              i += 1
            }
          })
        case "model_build" | "stream_layout_build" | "huge_bucketed_write" |
             "huge_reads_bucketed_10k" | "huge_top_cached" => None
        case "pipe_zstore_build_plain" | "pipe_zstore_build_encrypted" =>
          Some(() => {
            val ev = spark.read.parquet(s"$sfDir/events.parquet")
              .select(col("event_id"), col("user_id"), col("value"))
            val zcols = Seq(col("user_id"),
              org.apache.spark.sql.functions.floor(col("value")).cast("long"))
            val d = java.nio.file.Files.createTempDirectory("bench_zretry").toString
            retryCleanup += (() =>
              { org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)); () })
            graft.pipeline.Layout.zorderWrite(spark, d, ev, zcols, bits = 10,
              numFiles = 8, pqOptions =
                if (name.endsWith("encrypted")) benchEnc._1 else Map.empty)
            ()
          })
        case _ if name.startsWith("huge8") => None // retried inside the 1e8 block
        case _ => generic
      }
    })
    // ---- guarded 1e8 scale block (r12 verdict #8): the ARCHITECTURE §6d
    // scale evidence, MEASURED every round instead of remembered. Runs
    // ONCE after the passes so its multi-GB persisted footprint cannot
    // contaminate min-of-passes comparability, bracketed by its own
    // canaries for the dirty verdict. SPARK_GRAFT_SKIP_1E8=1 skips;
    // SPARK_GRAFT_HUGE8_ROWS scales (local iteration). The point-index
    // cap REFUSAL is asserted, not assumed: a 1e8-cell cube must decline
    // the driver-resident index rather than balloon the heap.
    val skip1e8 = sys.env.get("SPARK_GRAFT_SKIP_1E8").contains("1")
    if (!skip1e8 && only.forall(_.exists(_.startsWith("huge8")))) {
      val rows8 = sys.env.getOrElse("SPARK_GRAFT_HUGE8_ROWS", "100000000").toLong
      // min-of-passes for the 1e8 rows too (r13 verdict #1: the official
      // huge8_build shipped 71.3 s against a 36.2 s clean sign-off — the
      // one-shot sample had no second chance). Each pass drops the memoized
      // model and rebuilds for real; pass 2 rides warmed JIT.
      val pre8 = spinCanary(); canaries += pre8
      obsMin.add(pre8._1)
      val (cpu80, steal80) = cpuStat()
      for (_ <- 1 to Passes) {
        record("huge8_build",
          try mtime("huge8_build") { graft.tpch.HugeModel.rebuild(spark, rows8); () }
          catch { case t: Throwable =>
            System.err.println(s"[graft.Bench] huge8_build failed: $t"); -1.0 })
        record("huge8_top", try {
          val c = graft.tpch.HugeModel.at(spark, rows8)
          c.cacheEnabled = false; c.clearCache()
          var v = 0.0
          val t = mtime("huge8_top") {
            v = c.get(Seq.fill(graft.tpch.HugeModel.NDims)("All")).getOrElse(0.0)
          }
          c.cacheEnabled = true
          require(math.round(v) == rows8,
            s"huge8 self-verifying total broke: $v != $rows8")
          t
        } catch { case t: Throwable =>
          System.err.println(s"[graft.Bench] huge8_top failed: $t"); -1.0 })
        record("huge8_point_index_refusal", try {
          val c = graft.tpch.HugeModel.at(spark, rows8)
          var refused = false
          val t = mtime("huge8_point_index_refusal") { refused = !c.enablePointIndex() }
          require(refused,
            "a 1e8-cell cube must REFUSE the driver point index (cap guard)")
          t
        } catch { case t: Throwable =>
          System.err.println(s"[graft.Bench] huge8_point_index_refusal failed: $t"); -1.0 })
      }
      // tripped 1e8 OLAP rows re-measure HERE, while the fixtures stand
      retryTripped(Seq("huge8_build", "huge8_top"), {
        case "huge8_build" =>
          Some(() => { graft.tpch.HugeModel.rebuild(spark, rows8); () })
        case "huge8_top" => Some(() => {
          val c = graft.tpch.HugeModel.at(spark, rows8)
          c.cacheEnabled = false; c.clearCache()
          try { c.get(Seq.fill(graft.tpch.HugeModel.NDims)("All")); () }
          finally c.cacheEnabled = true
        })
        case _ => None
      })
      // r15 verdict #1: huge8_pipe_zstore_build shipped 3.4-3.5× its clean
      // minimum in the DRIVER's context two rounds running, SURVIVING its
      // in-run retry — so the cause is the run context, not a spike. Free
      // every byte the suite still pins before the 1e8 pipe rows get the
      // heap: blocking-unpersist the 1e8 model (the async drop raced its
      // multi-GB block deletes against the build's shuffle+write),
      // blocking-unpersist every other frame the passes left behind
      // (TpchModel facts, the 1e6 model, stream layouts — all done
      // measuring), and let a full GC clear the dead heap before the
      // range exchange allocates its sort buffers. Whatever still
      // diverges after this is environmental — and row_metrics now names
      // the cause (spill/peak-memory) in the artifact itself.
      graft.tpch.HugeModel.drop(rows8, blocking = true)
      graft.tpch.HugeModel.drop(graft.tpch.HugeModel.Rows, blocking = true)
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      spark.sparkContext.getPersistentRDDs.values.foreach(r =>
        try r.unpersist(blocking = true) catch { case _: Throwable => () })
      System.gc()
      Thread.sleep(2000)
      // ---- pipeline-side 1e8 row (r13 verdict #6): incremental z-store
      // maintenance at scale, measured every round instead of via ad-hoc
      // stress tools. The store build over rows8 synthetic facts is the
      // one-time fixture (timed once, like huge_build used to be priced);
      // the measured product row is the per-batch APPEND — its cost must
      // track the interleaving data (a z-confined batch re-clusters the
      // touched tail files only), not the store size.
      try {
        val zdir = java.nio.file.Files.createTempDirectory("bench_zstore8").toString
        val zc = Seq(col("a"), col("b"))
        results("huge8_pipe_zstore_build") =
          try mtime("huge8_pipe_zstore_build") { huge8ZstoreBuild(spark, zdir, rows8) }
          catch { case t: Throwable =>
            System.err.println(s"[graft.Bench] huge8_pipe_zstore_build failed: $t"); -1.0 }
        var off = rows8
        if (results("huge8_pipe_zstore_build") >= 0) {
          // z-confined 1e5-row batches (keys < 32 → z in the lowest 1/1024
          // of the space), one append per pass — min-of-passes
          for (_ <- 1 to Passes) {
            val batch = zframe(spark, 100000L, off)
              .withColumn("a", col("a") % 32)
              .withColumn("b", col("b") % 32)
            record("huge8_pipe_zappend",
              try mtime("huge8_pipe_zappend") { graft.pipeline.Layout.zorderAppend(spark, zdir,
                batch, zc, bits = 10); () }
              catch { case t: Throwable =>
                System.err.println(s"[graft.Bench] huge8_pipe_zappend failed: $t"); -1.0 })
            off += 100000L
          }
        }
        // tripped 1e8 z-store rows re-measure while the store stands: the
        // build into a FRESH scratch dir (same work, no generation debris),
        // the append as one more confined batch
        retryTripped(Seq("huge8_pipe_zstore_build", "huge8_pipe_zappend"), {
          case "huge8_pipe_zstore_build" => Some(() => {
            val zdir2 = java.nio.file.Files.createTempDirectory("bench_zstore8r").toString
            retryCleanup += (() =>
              { org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(zdir2)); () })
            huge8ZstoreBuild(spark, zdir2, rows8)
          })
          case "huge8_pipe_zappend" => Some(() => {
            val batch = zframe(spark, 100000L, off)
              .withColumn("a", col("a") % 32)
              .withColumn("b", col("b") % 32)
            graft.pipeline.Layout.zorderAppend(spark, zdir, batch, zc, bits = 10)
            off += 100000L
            ()
          })
          case _ => None
        })
        // the multi-GB store is bench scratch — reclaim it
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(zdir))
        ()
      } catch { case t: Throwable =>
        System.err.println(s"[graft.Bench] huge8 pipe block failed: $t") }
      // ---- pipeline-side 1e8 row #2 (r15 verdict #4): MinHash-LSH's
      // corpus-proportional stage over rows8 docs (huge8Minhash), measured
      // ONCE like its z-store sibling (the row runs ~a minute at 1e8 —
      // per-pass repeats would double the guarded block for JIT margin the
      // long row doesn't need); a trip re-measures below
      record("huge8_pipe_minhash",
        try mtime("huge8_pipe_minhash") { huge8Minhash(spark, rows8); () }
        catch { case t: Throwable =>
          System.err.println(s"[graft.Bench] huge8_pipe_minhash failed: $t"); -1.0 })
      retryTripped(Seq("huge8_pipe_minhash"), {
        case "huge8_pipe_minhash" => Some(() => { huge8Minhash(spark, rows8); () })
        case _ => None
      })
      // ---- pipeline-side 1e8 row #3 (r16 verdict #4): the LSH candidate
      // JOIN + exact verify, end-to-end, over the same corpus size with 1%
      // planted duplicates (huge8MinhashPairs)
      record("huge8_pipe_minhash_pairs",
        try mtime("huge8_pipe_minhash_pairs") { huge8MinhashPairs(spark, rows8); () }
        catch { case t: Throwable =>
          System.err.println(s"[graft.Bench] huge8_pipe_minhash_pairs failed: $t"); -1.0 })
      retryTripped(Seq("huge8_pipe_minhash_pairs"), {
        case "huge8_pipe_minhash_pairs" => Some(() => { huge8MinhashPairs(spark, rows8); () })
        case _ => None
      })
      val post8 = spinCanary(); canaries += post8
      obsMin.add(post8._1)
      // the block's own steal bracket — same verdict channel as the passes
      val (cpu81, steal81) = cpuStat()
      val steal8 =
        if (cpu81 > cpu80) 100.0 * (steal81 - steal80) / (cpu81 - cpu80) else 0.0
      passSteal += steal8
      val names8 = Seq("huge8_build", "huge8_top", "huge8_point_index_refusal",
        "huge8_pipe_zstore_build", "huge8_pipe_zappend", "huge8_pipe_minhash",
        "huge8_pipe_minhash_pairs")
        .filter(results.contains)
      allNames ++= names8
      if (pre8._1 <= PassDirtyK * floor && post8._1 <= PassDirtyK * floor &&
          steal8 <= StealDirtyPct)
        cleanNames ++= names8
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val canaryMed = canaries.map(c => f"${c._1}%.3f").mkString("[", ",", "]")
    val canaryMax = canaries.map(c => f"${c._2}%.3f").mkString("[", ",", "]")
    // Contention verdict: floor = the min canary median this run has ever
    // observed (warm-up + preflight calibration above). A
    // competing load must time-slice against the per-core spins and
    // stretches the canary MEDIAN past 1.3× the floor. Real contention (a
    // concurrent verify/spec job — the r5 artifact's 2× poisoning) is
    // SUSTAINED and trips every canary, so the verdict needs a strict
    // majority — one canary catching a GC pause or lingering task cleanup
    // must not fail a clean artifact. Known blind spot of self-calibration:
    // load that is constant from warm-up through the last canary inflates
    // the floor itself — the preflight's backoff exists to wait out exactly
    // that state. Never publish a run printed contended:true.
    // model_build is timed directly after the preflight idle gate (a clean
    // canary is guaranteed immediately before it) — counts as clean
    allNames += "model_build"; cleanNames += "model_build"
    // rows that never got a sample from a clean pass — the r8 failure mode
    // (six rows >2× with no clean sample) now self-reports instead of
    // shipping silently
    val dirtyRows = (allNames -- cleanNames).toSeq.sorted
    // mem joins the majority vote at its own threshold: sustained bandwidth
    // contention (the r10 signature — every row 1.1-1.9× with flat spins)
    // trips a majority of mem samples while the spins sit on the floor
    val contended =
      canaries.count(_._1 > 1.3 * floor) * 2 > canaries.size ||
      memSamples.count(_ > 1.5 * memFloor) * 2 > memSamples.size ||
      dirtyResidue
    // Ramp verdict: host load that STARTS mid-run (observed live: hypervisor
    // "weather" inflating totals 15-25% with an ascending canary sequence
    // and a clean majority vote) shows as the LAST canary reading well above
    // the floor while earlier ones sat on it. Self-reported so a reader can
    // discount the artifact without forensics; like contended, a ramped run
    // deserves a re-run on a settled host.
    val ramped = canaries.nonEmpty && canaries.last._1 > 1.25 * floor
    val (cpuTotal1, steal1) = cpuStat()
    val stealPct =
      if (cpuTotal1 > cpuTotal0) 100.0 * (steal1 - steal0) / (cpuTotal1 - cpuTotal0)
      else 0.0
    val total = results.values.filter(_ >= 0).sum
    // In-run tripwire vs recorded CLEAN minima (r13 verdict #1: the
    // official artifact diverged 2-4× from the builder's sign-off on
    // one-shot rows and nobody noticed until the judge read it): every row
    // is compared against the best clean minimum recorded in
    // tools/bench_clean_minima.json (written from clean sign-off runs;
    // loaded above, before the passes). Rows exceeding `TripwireK`× their
    // clean minimum self-report in the artifact's `tripwire` object and on
    // stderr — and multi-second
    // rows were already RE-measured in-run (`tripwire_retried`), so a
    // surviving trip is persistent, not a transient spike. An absent/empty
    // minima file disarms the tripwire (first round on a new host).
    val tripped = results.keys.toSeq
      .flatMap(k => trippedRatio(k).map(k -> _)).sortBy(-_._2)
    val tripJson = tripped.map { case (k, r) => "\"" + k + "\":" + f"$r%.2f" }
      .mkString("{", ",", "}")
    val tripRetriedJson = tripwireRetried.distinct
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // "timing" is the semantics marker: per-query values are the MINIMUM
    // over `Passes` warmed in-process passes (steady state), not one cold
    // pass — artifacts before round 4 were single-pass and not comparable
    val phasesJson = buildPhases.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val dirtyRowsJson = dirtyRows.map("\"" + _ + "\"").mkString("[", ",", "]")
    val memJson = memSamples.map(v => f"$v%.3f").mkString("[", ",", "]")
    val ioJson = ioSamples.map(v => f"$v%.3f").mkString("[", ",", "]")
    // per-row executor totals (LAST timed measurement of each row): only
    // rows with something to say — any spill, heavy GC, notable steal, or
    // the guarded 1e8 block, whose divergences this evidence exists to
    // explain in-data. steal_pct (r16 verdict #3) is the row's OWN
    // /proc/stat delta, so a flagged row no longer inherits the pass's.
    val rowMetricsJson = rowMetrics.rows.toSeq
      .filter { case (k, m) =>
        m.spillMem + m.spillDisk > 0 || m.gcMs > 2000 || k.startsWith("huge8") ||
          rowSteal.getOrElse(k, 0.0) > 1.0 }
      .sortBy(_._1)
      .map { case (k, m) =>
        val mb = (v: Long) => v / 1048576
        "\"" + k + "\":{" +
          s""""spill_mem_mb":${mb(m.spillMem)},"spill_disk_mb":${mb(m.spillDisk)},""" +
          s""""shuf_write_mb":${mb(m.shufWrite)},"shuf_read_mb":${mb(m.shufRead)},""" +
          s""""peak_exec_mb":${mb(m.peakExec)},"gc_ms":${m.gcMs},""" +
          s""""proc_gc_ms":${rowProcGc.getOrElse(k, 0L)},""" +
          f""""steal_pct":${rowSteal.getOrElse(k, 0.0)}%.2f}""" }
      .mkString("{", ",", "}")
    // every row's own steal share — the complete per-row evidence channel
    // (rows the listener never saw, e.g. pure driver loops, appear here)
    val rowStealJson = rowSteal.toSeq.filter(_._2 > 0.5).sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    // the phase factors the tripwire normalized by (run floor / minima
    // floor per canary channel) — 1.0 = same phase as the minima; absent
    // channels (legacy minima without floors) report nothing
    val phaseJson = (minima.defaultFloors.spin.map(f => f""""spin":${floor / f}%.2f""") ++
      minima.defaultFloors.mem.map(f => f""""mem":${memFloor / f}%.2f"""))
      .mkString("{", ",", "}")
    val passStealJson = passSteal.map(v => f"$v%.2f").mkString("[", ",", "]")
    // `queries` serializes LAST (r16 verdict #2): the driver's tail capture
    // keeps the END of the line, and two rounds of artifacts shipped with
    // the per-row results dict truncated out of the front
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","cpus":$benchCpus,"sf":"$sfDir","passes":$Passes,"timing":"min_of_passes","model_build_phases":$phasesJson,"canary_spin_med_sec":$canaryMed,"canary_spin_max_sec":$canaryMax,"canary_threads":$nSpin,"canary_floor_sec":$floor%.3f,"canary_floor_source":"derived_min_observed","canary_mem_med_sec":$memJson,"mem_floor_sec":$memFloor%.3f,"canary_io_sec":$ioJson,"io_floor_sec":$ioFloor%.3f,"contended":$contended,"canary_ramp":$ramped,"pass_retries_used":$retriesUsed,"dirty_rows":$dirtyRowsJson,"steal_pct":$stealPct%.2f,"preflight_steal_pct":$preflightSteal%.2f,"steal_gate_wait_sec":$stealGateWaited,"tripwire":$tripJson,"tripwire_retried":$tripRetriedJson,"tripwire_threshold":$TripwireK%.2f,"tripwire_slack_sec":$TripwireSlackSec%.2f,"tripwire_rows_known":${minima.size},"tripwire_phase":$phaseJson,"pass_steal_pct":$passStealJson,"row_steal":$rowStealJson,"row_metrics":$rowMetricsJson,"queries":$qs}""")
    // r18 verdict #1: ALL stderr warnings print BEFORE the final rows line.
    // sbt re-logs the program's stderr as "[error] ..." lines into the same
    // captured stream, and r18's TRIPWIRE warning (printed after the rows)
    // ate ~250 bytes of the driver's 2000-byte tail window in BOTH r18
    // artifacts, front-truncating the rows exactly when the evidence
    // mattered. The in-warning name list is also capped — the full tripwire
    // object lives in the long line above and in BENCH_FULL.
    val topTrip = tripped.headOption.map(_._2).getOrElse(0.0)
    if (tripped.nonEmpty) System.err.println(
      s"[graft.Bench] TRIPWIRE: ${tripped.size} row(s) exceed ${TripwireK}x their " +
      s"recorded clean minimum — ${tripped.take(5).map { case (k, r) => f"$k ($r%.2fx)" }
        .mkString(", ")}${if (tripped.size > 5) ", ..." else ""}; " +
      "treat this artifact's deltas with suspicion")
    if (stealPct > 1.0) System.err.println(
      f"[graft.Bench] WARNING: hypervisor steal $stealPct%.2f%% of cpu time " +
      "during this run — JVM-synchronization-heavy queries inflate far more " +
      "than the steal share suggests; prefer per-query minima across runs")
    if (ramped && !contended) System.err.println(
      s"[graft.Bench] WARNING: canary ramp — the final canary median read >1.25x " +
      s"the ${floor}s floor while the run started clean; totals are likely " +
      s"inflated by load that arrived mid-run, prefer a re-run")
    if (contended) System.err.println(
      s"[graft.Bench] WARNING: contended run — canary median exceeded 1.3x the " +
      s"${floor}s idle floor; numbers above are inflated, DO NOT publish this artifact")
    // Full evidence (floors, dirty/tripwire names, per-row metrics — all
    // the detail the tail window cannot hold) goes to a PER-CORE-COUNT
    // file: r18's c8 scaling run clobbered the c32 run's BENCH_FULL.json
    // and the 32-core row_metrics were lost (r18 verdict #2). The
    // unsuffixed name is still written at 32 cores for continuity.
    val full = f"""{"cpus":$benchCpus,"bench_rows":$qs,"ev":{"contended":$contended,"ramp":$ramped,"steal_pct":$stealPct%.2f,"preflight_steal_pct":$preflightSteal%.2f,"steal_gate_wait_sec":$stealGateWaited,"floor":$floor%.3f,"mem_floor":$memFloor%.3f,"retries":$retriesUsed,"dirty_rows":${dirtyRows.map("\"" + _ + "\"").mkString("[", ",", "]")},"tripwire":$tripJson,"tripwire_retried":$tripRetriedJson,"pass_steal_pct":$passStealJson,"row_steal":$rowStealJson,"row_metrics":$rowMetricsJson}}"""
    val fullPaths = s"BENCH_FULL_c$benchCpus.json" ::
      (if (benchCpus == 32) List("BENCH_FULL.json") else Nil)
    for (path <- fullPaths)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(path), full.getBytes("UTF-8"))
      catch { case t: Throwable =>
        System.err.println(s"[graft.Bench] could not write $path: $t") }
    // Give sbt's async stderr re-logging a beat to drain so no "[error]"
    // line can interleave after the final stdout line in the captured
    // stream, then print the one line built to survive the tail: a BARE
    // JSON object (no prefix — a parser can latch the tail's last line
    // directly), budgeted by BenchTail to 2000 bytes minus the sbt
    // success-line reserve, degrading row precision before ever
    // truncating (full 3dp rows live in the long line and BENCH_FULL).
    System.err.flush()
    Thread.sleep(200)
    println(BenchTail.finalLine(results.toSeq,
      BenchTail.evJson(contended, ramped, stealPct, preflightSteal,
        dirtyRows.size, tripped.size, topTrip, benchCpus)))
    System.out.flush()
    spark.stop()
  }
}
