package graft

import graft.core.{Cube, Database}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-resident base-cell point index ([[graft.core.PointIndex]]):
  * indexed reads must be indistinguishable from the filter-job path,
  * overlay writes/deletes keep precedence, bulk base swaps invalidate by
  * frame identity, the cap refuses rather than balloon the driver, base
  * reads of a persisted frame build it once (single-flight), and duplicate
  * fact addresses fail loudly.
  */
class PointIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshCube(tag: String) = {
    val db = TinyModel.build(spark)
    val c = db.cube("sales")
    val cube = new graft.core.Cube(s"sales_$tag", c.dimensions, spark, Some(c.facts))
    cube.set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 123.0)
    cube.set(Seq("2021", "Feb", "North", "sedan", "Sales"), 456.0)
    cube
  }

  test("point index serves base cells identically to the filter-job path") {
    val cube = freshCube("pidx")
    val present = Seq("2021", "Jan", "North", "motorcycles", "Sales")
    val absent = Seq("2023", "Dec", "East", "van", "Cost")
    cube.cacheEnabled = false
    // compact the overlay into base first (the index mirrors `base` only),
    // then read both cells through the FILTER-JOB path as the baseline
    cube.replaceFacts(cube.facts)
    val jobPresent = cube.get(present)
    val jobAbsent = cube.get(absent)
    assert(cube.enablePointIndex())
    assert(cube.pointIndexEnabled)
    assert(cube.get(present) == jobPresent && jobPresent.contains(123.0))
    assert(cube.get(absent) == jobAbsent && jobAbsent.isEmpty)
    // aggregates still roll up through the normal path, seeing indexed data
    assert(cube.get(Seq("2021", "Q1", "Total", "Total", "Sales"))
      .contains(123.0 + 456.0))
  }

  test("overlay writes and deletes take precedence over the index") {
    val cube = freshCube("pidxw")
    cube.cacheEnabled = false
    assert(cube.enablePointIndex())
    val a = Seq("2021", "Jan", "North", "motorcycles", "Sales")
    cube.set(a, 999.0) // overlay upsert AFTER the index was built
    assert(cube.get(a).contains(999.0),
      "an in-session write must shadow the indexed base value")
    cube.delete(a)
    assert(cube.get(a).isEmpty,
      "an in-session delete must shadow the indexed base value")
    // the index itself is still in place — base never changed identity
    assert(cube.pointIndexEnabled)
    val b = Seq("2021", "Feb", "North", "sedan", "Sales")
    assert(cube.get(b).contains(456.0))
  }

  test("a bulk base swap invalidates the index by frame identity") {
    val cube = freshCube("pidxb")
    cube.cacheEnabled = false
    cube.replaceFacts(cube.facts)
    assert(cube.enablePointIndex())
    assert(cube.pointIndexEnabled)
    // bulk-replace with a frame holding ONE cell at a new value: a stale
    // index would still answer 123.0 / 456.0
    val one = cube.facts.limit(0).sparkSession.createDataFrame(
      spark.sparkContext.parallelize(List(org.apache.spark.sql.Row(
        cube.dimensions(0).idOf("2021"), cube.dimensions(1).idOf("Jan"),
        cube.dimensions(2).idOf("North"), cube.dimensions(3).idOf("motorcycles"),
        cube.dimensions(4).idOf("Sales"), 7.0)), 1),
      cube.facts.schema)
    cube.replaceFacts(one)
    assert(!cube.pointIndexEnabled, "a base swap must invalidate the index")
    assert(cube.get(Seq("2021", "Jan", "North", "motorcycles", "Sales"))
      .contains(7.0))
    assert(cube.get(Seq("2021", "Feb", "North", "sedan", "Sales")).isEmpty)
    // rebuilding over the new base serves the new world
    assert(cube.enablePointIndex())
    assert(cube.get(Seq("2021", "Jan", "North", "motorcycles", "Sales"))
      .contains(7.0))
  }

  test("the cap refuses to build; reads fall back to the job path") {
    val cube = freshCube("pidxc")
    cube.cacheEnabled = false
    cube.replaceFacts(cube.facts)
    assert(!cube.enablePointIndex(cap = 1L),
      "a base larger than the cap must refuse to index")
    assert(!cube.pointIndexEnabled)
    assert(cube.get(Seq("2021", "Jan", "North", "motorcycles", "Sales"))
      .contains(123.0))
  }

  // ---- the index as the default base-read path ----------------------------

  /** A cube over 4 dimensions of `k` leaves each with every address filled,
    * address (m_a, m_b, m_c, m_d) holding [[gridValue]]. */
  private def gridCube(tag: String, k: Int, persist: Boolean): Cube = {
    val db = new Database(s"grid_$tag", spark)
    val dims = (0 until 4).map { i =>
      val d = db.addDimension(s"g$i")
      d.edit(); d.add("All", (0 until k).map(m => s"m$m")); d.commit(); d
    }
    val rows = for (a <- 0 until k; b <- 0 until k; c <- 0 until k; e <- 0 until k)
      yield Row(dims(0).idOf(s"m$a"), dims(1).idOf(s"m$b"), dims(2).idOf(s"m$c"),
        dims(3).idOf(s"m$e"), gridValue(Seq(a, b, c, e)))
    val schema = StructType((0 until 4).map(i => StructField(s"d$i", IntegerType)) :+
      StructField("value", DoubleType))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val facts = if (persist) { val p = df.persist(); p.count(); p } else df
    val cube = db.addCube("grid", dims, facts)
    cube.cacheEnabled = false
    cube
  }
  private def gridValue(m: Seq[Int]): Double = m.foldLeft(0)(_ * 31 + _) + 0.25
  private def gridAddr(m: Seq[Int]): Seq[String] = m.map(i => s"m$i")

  test("base reads build the index on a persisted base, never on an unpersisted base or a snapshot") {
    val persisted = gridCube("auto", 4, persist = true)
    assert(!persisted.pointIndexEnabled && persisted.pointIndexBuilds == 0)
    assert(persisted.get(gridAddr(Seq(1, 2, 3, 0))).contains(gridValue(Seq(1, 2, 3, 0))))
    assert(persisted.pointIndexEnabled && persisted.pointIndexBuilds == 1)
    assert(persisted.get(gridAddr(Seq(3, 3, 3, 3))).contains(gridValue(Seq(3, 3, 3, 3))))
    assert(persisted.pointIndexBuilds == 1, "one build per base frame")

    val plain = gridCube("plain", 4, persist = false)
    assert(plain.get(gridAddr(Seq(1, 2, 3, 0))).contains(gridValue(Seq(1, 2, 3, 0))))
    assert(!plain.pointIndexEnabled && plain.pointIndexBuilds == 0,
      "an unpersisted base keeps the filter job")

    val live = TinyModel.build(spark).cube("sales")
    val a = Seq("2021", "Jan", "North", "motorcycles", "Sales")
    live.set(a, 100.0)
    val dir = java.nio.file.Files.createTempDirectory("pidx_snap").toString
    assert(live.compactToZorderedStore(dir, Seq(0, 1), files = 2))
    val snap = live.snapshotAtGeneration(live.zStoreGeneration)
    assert(snap.get(a).contains(100.0))
    assert(!snap.pointIndexEnabled && snap.pointIndexBuilds == 0,
      "a store-backed snapshot keeps the filter job")
  }

  test("16 threads of base reads and writes during the build: one build, serial answers") {
    val k = 8
    val cube = gridCube("conc", k, persist = true)
    // readers read measures m0..m3, writers write m4..m7: no read races a
    // write of its own cell, so every answer has one serial value
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val written = new java.util.concurrent.ConcurrentHashMap[Seq[Int], Double]()
    val threads = (0 until 16).map { t =>
      new Thread(() => {
        val rnd = new scala.util.Random(t)
        start.await()
        try (0 until 100).foreach { n =>
          if (t < 12) {
            val m = Seq(rnd.nextInt(k), rnd.nextInt(k), rnd.nextInt(k), rnd.nextInt(4))
            val got = cube.get(gridAddr(m))
            if (!got.contains(gridValue(m))) errors.add(s"$m read $got")
          } else {
            val m = Seq(t - 12, n % k, rnd.nextInt(k), 4 + rnd.nextInt(4))
            val v = t * 1000.0 + n
            cube.set(gridAddr(m), v); written.put(m, v)
          }
        } catch { case e: Throwable => errors.add(s"thread $t: $e") }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errors.isEmpty, errors.toArray.take(5).mkString("; "))
    assert(cube.pointIndexBuilds == 1, "concurrent first reads share one build")
    assert(cube.pointIndexEnabled)
    written.forEach((m, v) => assert(cube.get(gridAddr(m)).contains(v), s"$m"))
  }

  test("a refusal over the cap is remembered: no second count") {
    val db = new Database("pidx_cap", spark)
    val key = db.addDegenerateDimension("key", prefix = "k")
    val one = db.addDimension("one")
    one.edit(); one.add("All", Seq("x")); one.commit()
    val facts = spark.range(Cube.PointIndexCap + 1)
      .select(col("id").cast("int").as("d0"), lit(one.idOf("x")).as("d1"),
        (col("id") % 7).cast("double").as("value"))
      .persist()
    try {
      facts.count()
      val cube = db.addCube("big", Seq(key, one), facts)
      cube.cacheEnabled = false
      assert(cube.get(Seq("k12", "x")).contains(5.0))
      assert(cube.pointIndexBuilds == 1 && !cube.pointIndexEnabled)
      assert(cube.get(Seq("k13", "x")).contains(6.0))
      assert(cube.pointIndexBuilds == 1, "the refusal must be remembered for the frame")
    } finally facts.unpersist(blocking = true)
  }

  test("two base rows at one address fail the build, naming the address") {
    val c = TinyModel.build(spark).cube("sales")
    val ids = Seq("2021", "Jan", "North", "motorcycles", "Sales").zipWithIndex
      .map { case (m, i) => c.dimensions(i).idOf(m) }
    val dup = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row.fromSeq(ids :+ 1.0), Row.fromSeq(ids :+ 2.0)), 1), c.facts.schema).persist()
    try {
      dup.count()
      val cube = new Cube("sales_dup", c.dimensions, spark, Some(dup))
      val e = intercept[IllegalStateException](
        cube.get(Seq("2021", "Jan", "North", "motorcycles", "Sales")))
      assert(e.getMessage.contains("[2021, Jan, North, motorcycles, Sales]"), e.getMessage)
      assert(!cube.pointIndexEnabled)
    } finally dup.unpersist(blocking = true)
  }

  /** The tiny cube's base holding `rows` (member names, value), as a frame
    * with value type `vt`. */
  private def tinyBase(rows: Seq[(Seq[String], Any)], vt: DataType): (Cube, DataFrame) = {
    val c = TinyModel.build(spark).cube("sales")
    val schema = StructType(c.facts.schema.fields.init :+ StructField("value", vt))
    val data = rows.map { case (names, v) =>
      Row.fromSeq(names.zipWithIndex.map { case (m, i) => c.dimensions(i).idOf(m) } :+ v)
    }
    (c, spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema))
  }

  /** Every address of `rows` read through the filter job (unpersisted base)
    * and through the index (the same frame persisted). */
  private def bothPaths(rows: Seq[(Seq[String], Any)], vt: DataType)
      : (Seq[Option[Double]], Seq[Option[Double]]) = {
    val (c, df) = tinyBase(rows, vt)
    val job = new Cube("sales_job", c.dimensions, spark, Some(df))
    val jobAnswers = rows.map(r => job.get(r._1))
    assert(!job.pointIndexEnabled)
    val p = df.persist()
    try {
      p.count()
      val indexed = new Cube("sales_idx", c.dimensions, spark, Some(p))
      val idxAnswers = rows.map(r => indexed.get(r._1))
      assert(indexed.pointIndexEnabled)
      (jobAnswers, idxAnswers)
    } finally p.unpersist(blocking = true)
  }

  test("decimal(21,4) values read the same through the index and the filter job") {
    val dec = (s: String) => new java.math.BigDecimal(s)
    val rows = Seq(
      Seq("2021", "Jan", "North", "motorcycles", "Sales") -> dec("12345678901234.5678"),
      Seq("2021", "Feb", "South", "sedan", "Cost") -> dec("0.0001"),
      Seq("2022", "Mar", "West", "van", "Sales") -> dec("-987.6543"))
    val (job, idx) = bothPaths(rows, DecimalType(21, 4))
    assert(job == idx)
    assert(job.forall(_.isDefined))
    assert(job(1).contains(0.0001))
  }

  test("a null-valued base row reads as empty through the index and the filter job") {
    val rows = Seq(
      Seq("2021", "Jan", "North", "motorcycles", "Sales") -> null,
      Seq("2021", "Feb", "South", "sedan", "Cost") -> 3.5)
    val (job, idx) = bothPaths(rows, DoubleType)
    assert(job == Seq(None, Some(3.5)))
    assert(idx == job)
  }

  test("the index holds at most 32 bytes per cell at 4 dimensions") {
    // 14^4 = 38,416 cells: ids and values both span more than one page
    val k = 14
    val cube = gridCube("bytes", k, persist = true)
    assert(cube.pointIndexBytes == 0L)
    for (a <- 0 until k; b <- 0 until k; c <- 0 until k; e <- 0 until k) {
      val m = Seq(a, b, c, e)
      assert(cube.get(gridAddr(m)).contains(gridValue(m)), s"$m")
    }
    val perCell = cube.pointIndexBytes.toDouble / (k * k * k * k)
    assert(perCell > 0 && perCell <= 32.0, s"$perCell B per cell")
  }
}
