package graft.tpch

import graft.core.{Cube, Database, Dimension}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** The reference's `huge` benchmark model (FIXTURES §3, `samples/huge.py:
  * 16-77`): 8 dimensions × 100 leaf members + one `All` rollup each, 1e6
  * pseudo-random leaf cells of value 1.0 — so every aggregate equals its
  * contributing row count (self-verifying, engine-independent oracle).
  *
  * Facts are generated distributed (`spark.range` + per-dimension hashes),
  * never on the driver; addresses collide occasionally and pre-aggregate
  * exactly like FactTable upserts, leaving the total invariant at 1e6.
  */
object HugeModel {
  val Rows: Long = 1000000L
  val NDims = 8
  val LeavesPerDim = 100

  private val cache = TrieMap[String, Cube]()
  private val persisted = TrieMap[String, DataFrame]()

  def get(spark: SparkSession): Cube = at(spark, Rows)

  /** The same self-verifying model at an arbitrary row count — the scale
    * stress path (HugeScaleSpec runs it one order up at 1e7; the build is
    * `spark.range`-distributed, so nothing driver-side grows with `rows`).
    */
  def at(spark: SparkSession, rows: Long): Cube =
    cache.getOrElseUpdate(s"huge-$rows", build(spark, rows))

  /** Drop the memoized model (unpersisting its fact frame) and build it
    * again — the bench's min-of-passes lever for the BUILD rows: a second
    * [[at]] call is a memo hit, not a build, so a repeated timing must
    * rebuild for real (pass ≥ 2 then measures the warmed-JIT steady state).
    */
  def rebuild(spark: SparkSession, rows: Long): Cube = {
    drop(rows); at(spark, rows)
  }

  /** Forget the memoized model at `rows` and free its persisted storage.
    * `blocking = true` waits for the block deletes — the bench's 1e8 block
    * uses it before its z-store build so the multi-GB unpersist cannot
    * race the build's own shuffle/write for memory and disk (r15 verdict
    * #1); the default stays async for the per-pass rebuild cadence.
    */
  def drop(rows: Long, blocking: Boolean = false): Unit = {
    cache.remove(s"huge-$rows")
    persisted.remove(s"huge-$rows").foreach(_.unpersist(blocking))
  }

  /** 100^k as a long literal column (the packed grouping key's digit weights). */
  private def pow100(k: Int) =
    lit(Seq.fill(k)(100L).foldLeft(1L)(_ * _))

  private def build(spark: SparkSession, rows: Long): Cube = {
    val db = new Database(s"huge$rows", spark)
    val dims: Seq[Dimension] = (0 until NDims).map { i =>
      val d = db.addDimension(s"dim$i")
      d.edit()
      d.add("All", (0 until LeavesPerDim).map(m => s"m$m"))
      d.commit()
      d
    }
    val facts = factsFrame(spark, rows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    facts.count()
    persisted.put(s"huge-$rows", facts)
    db.addCube("huge", dims, facts)
  }

  /** The unpersisted facts aggregation (split from [[build]] so the plan
    * can be dumped — `Profile hugeplan`).
    */
  private[graft] def factsFrame(spark: SparkSession, rows: Long): DataFrame = {
    // leaf ids are 1..100 ("All" gets id 0 as the first-created member).
    // digit_i ∈ [0, 99] per dimension, one xxhash64 per dimension;
    // d_i = digit_i + 1 everywhere below
    val digitCols: Seq[Column] = (0 until NDims).map(i =>
      pmod(xxhash64(col("id"), lit(i)), lit(LeavesPerDim.toLong)))
    // Packed-key aggregation (round 19, guide §2.3 "shuffle fewer
    // bytes" / narrower keys): the 8 base-100 digits pack bijectively
    // into ONE long (100^8 = 1e16 < 2^63), so the pre-aggregation
    // groups by a single long instead of an 8-int UnsafeRow — the
    // shuffle row shrinks 48 B → 16 B and both hash aggregates take
    // the single-primitive-key fast path. The address space is 1e16,
    // so the map-side aggregate combines ~nothing (1e8 in → 1e8
    // shuffle rows) — the key width IS the cost. Measured at 1e8×32
    // cores (Profile huge8, best-of-3): 24.0 s → 11.6 s, per-stage
    // spill 13.0 GB mem + 2.2 GB disk → 8.2 + 1.5, executor CPU
    // 697 s → 325 s. value ≡ 1.0 per generated row, so
    // sum(value) = count(*)·1.0 exactly (integer-valued doubles);
    // decode back to d0..d7 is exact long arithmetic (div/mod 100^i),
    // byte-identical addresses by construction. Oracle-pinned at 1e6
    // (olap_huge_top, point-read rows) + HugeModelSpec parity against
    // the 8-int-column grouping. A raw-key sort-aggregate variant
    // measured worse (19.7 s vs 11.6 s, OPTIMIZATION_r19.md).
    val packed = digitCols.zipWithIndex
      .map { case (c, i) => c * pow100(i) }.reduce(_ + _)
    spark.range(rows).select(packed.as("__p"))
      .groupBy(col("__p")).agg(count(lit(1)).as("__n"))
      .select((0 until NDims).map(i => (pmod(
          expr(s"__p div ${Seq.fill(i)(100L).foldLeft(1L)(_ * _)}"),
          lit(LeavesPerDim.toLong)) + 1).cast("int").as(s"d$i")) :+
        col("__n").cast("double").as("value"): _*)
  }

  /** Batched random base-cell point reads: `n` pseudo-random addresses
    * resolved in ONE broadcast-join job — the Spark-native form of the
    * reference's point-read loop (`samples/huge.py:134-157`, 100k reads/sec
    * headline). Per-cell driver round-trips can never amortize Spark's
    * per-job floor; batching restores the reads/sec story at any scale.
    */
  def pointReadBatch(spark: SparkSession, n: Int): DataFrame =
    pointReadBatch(get(spark), n)

  def pointReadBatch(cube: Cube, n: Int, broadcastAddrs: Boolean = true): DataFrame =
    cube.readBatch(randomAddrs(cube.spark, n), broadcastAddrs)

  /** Name-addressed point-read loop against the cube API — the reference's
    * literal benchmark shape (`samples/huge.py:134-157`: a Python loop of
    * `cube[name, …]` dict hits). With the cube's driver-resident point
    * index in place ([[graft.core.Cube.enablePointIndex]]; base reads of
    * the persisted huge model build it on their own) each read is a
    * name→id bolt resolve + one binary search, no Spark job — the apples-
    * to-apples answer to the reference's 100k reads/s. Without the index
    * this loop would pay a filter JOB per cell, so it requires the index
    * to be in place first (callers enable it to keep the build untimed).
    * Returns the number of non-empty cells (self-check: > 0).
    */
  def pointReadLoop(cube: Cube, n: Int): Long =
    pointReadLoop(cube, pointReadAddrs(cube.spark, n))

  /** Address fixture for [[pointReadLoop]] — a bounded collect (n × 8
    * ints). Split out so the bench can prep it OUTSIDE the timed body: the
    * collect is a Spark job, and timing it inside made the "driver read
    * loop" row carry a ~40 ms job floor the reference's dict loop
    * (`samples/huge.py:134-157` — prebuilt address list) never pays.
    */
  def pointReadAddrs(spark: SparkSession, n: Int): Array[Seq[String]] =
    randomAddrs(spark, n).collect().map { r =>
      (0 until NDims).map(i => s"m${r.getInt(i) - 1}")
    }

  def pointReadLoop(cube: Cube, addrs: Array[Seq[String]]): Long = {
    require(cube.pointIndexEnabled,
      "pointReadLoop without the point index would run one Spark job per cell")
    // result-cache off: the addresses are deterministic, so a min-of-passes
    // second pass would otherwise time TrieMap hits instead of the index
    val prevCache = cube.cacheEnabled
    cube.cacheEnabled = false
    try {
      var found = 0L
      addrs.foreach { names =>
        if (cube.get(names).isDefined) found += 1
      }
      found
    } finally cube.cacheEnabled = prevCache
  }

  /** Pseudo-random addresses mirroring the build's hash scheme (different
    * seed) — the shared address generator for the point-batch benches.
    */
  def randomAddrs(spark: SparkSession, n: Int): DataFrame = {
    val addrCols = (0 until NDims).map(i =>
      (pmod(xxhash64(col("id"), lit(i + 31)), lit(LeavesPerDim)) + 1).cast("int").as(s"d$i"))
    spark.range(n).select(addrCols: _*)
  }

  /** The full-cube top cell (`All × … × All`) as a one-row frame — equals
    * exactly [[Rows]] by construction (≙ `benchmark_read_top_cells`,
    * `samples/huge.py:176-187`).
    */
  def topCell(spark: SparkSession): DataFrame = {
    val cube = get(spark)
    val v = cube.get(Seq.fill(NDims)("All"))
    import org.apache.spark.sql.{Row => SRow}
    spark.createDataFrame(
      spark.sparkContext.parallelize(List(SRow(v.map(Double.box).orNull)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType))))
  }
}
