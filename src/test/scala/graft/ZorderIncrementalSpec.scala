package graft

import graft.pipeline.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental z-order maintenance ([[Layout.zorderWrite]] /
  * [[Layout.zorderAppend]] / [[Layout.zorderRead]]): only files whose
  * z-range overlaps the batch are re-clustered; everything else stays
  * byte-identical on disk, and the manifest-driven read never loses or
  * duplicates a row. A cube's as-of snapshot of its z-store is read-only:
  * every mutation face rejects, while reads and views keep serving.
  */
class ZorderIncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fileMd5(path: String): String = {
    val p = java.nio.file.Paths.get(new java.net.URI(path).getPath)
    val bytes = java.nio.file.Files.readAllBytes(p)
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("id", "a", "b").as[(Long, Long, Long)].collect().toSet

  test("confined append re-clusters only overlapping files; others byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("zinc1").toString
    // base: both keys spread over [0, 64) → z spread over [0, 4096)
    val base = spark.range(4000).select(col("id"),
      pmod(hash(col("id")), lit(64)).cast("long").as("a"),
      pmod(hash(col("id") * 7), lit(64)).cast("long").as("b"))
    val zc = Seq(col("a"), col("b"))
    Layout.zorderWrite(spark, dir, base, zc, bits = 6, numFiles = 8)
    val before = Layout.zorderManifest(spark, dir)
    assert(before.size >= 4, s"need several files to show incrementality: $before")
    val md5Before = before.map(f => f.path -> fileMd5(f.path)).toMap

    // confined batch: a, b < 4 → z < 16 → only the lowest-range file overlaps
    val batch = spark.range(100000, 100050).select(col("id"),
      (col("id") % 4).as("a"), (col("id") % 4).as("b"))
    val st = Layout.zorderAppend(spark, dir, batch, zc, bits = 6)
    assert(st.rewrittenFiles.nonEmpty, "the low-z file must re-cluster")
    assert(st.untouchedFiles.size >= before.size - 2,
      s"most files must stay untouched, got $st")
    // byte-identity of every untouched file
    st.untouchedFiles.foreach { p =>
      assert(fileMd5(p) == md5Before(p), s"untouched file changed on disk: $p")
    }
    // read parity: base ∪ batch, nothing lost or duplicated
    assert(rowsOf(Layout.zorderRead(spark, dir)) ==
      rowsOf(base) ++ rowsOf(batch))
    // manifest invariant: live rows match, no dead paths
    val after = Layout.zorderManifest(spark, dir)
    assert(after.map(_.rows).sum == 4050L)
    assert(after.map(_.path).toSet.intersect(st.rewrittenFiles.toSet).isEmpty,
      "re-clustered files must leave the manifest")
  }

  test("a batch outside every live z-range rewrites nothing") {
    val dir = java.nio.file.Files.createTempDirectory("zinc2").toString
    // base confined to z < 16 (a, b < 4)
    val base = spark.range(500).select(col("id"),
      (col("id") % 4).as("a"), (col("id") % 4).as("b"))
    val zc = Seq(col("a"), col("b"))
    Layout.zorderWrite(spark, dir, base, zc, bits = 6, numFiles = 2)
    val md5Before = Layout.zorderManifest(spark, dir)
      .map(f => f.path -> fileMd5(f.path)).toMap
    // batch confined to high z (a, b in [32, 36)) — disjoint from base
    val batch = spark.range(1000, 1060).select(col("id"),
      (col("id") % 4 + 32).as("a"), (col("id") % 4 + 32).as("b"))
    val st = Layout.zorderAppend(spark, dir, batch, zc, bits = 6)
    assert(st.rewrittenFiles.isEmpty, s"disjoint batch must rewrite nothing: $st")
    md5Before.foreach { case (p, h) => assert(fileMd5(p) == h) }
    assert(rowsOf(Layout.zorderRead(spark, dir)) == rowsOf(base) ++ rowsOf(batch))
  }

  test("cube z-store: append replaces addresses in place, overlay still wins") {
    val db = TinyModel.build(spark)
    val c0 = db.cube("sales")
    val cube = new graft.core.Cube("sales_zstore", c0.dimensions, spark, None)
    cube.cacheEnabled = false
    cube.set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 100.0)
    cube.set(Seq("2021", "Feb", "South", "sedan", "Sales"), 50.0)
    val dir = java.nio.file.Files.createTempDirectory("zcube").toString
    assert(cube.compactToZorderedStore(dir, Seq(0, 1), files = 2))
    // bulk append: one NEW address and one REPLACED address (last-write-wins,
    // the ingestInto merge semantics) in the same batch
    val batch = spark.createDataFrame(Seq(
      (cube.dimensions(0).idOf("2022"), cube.dimensions(1).idOf("Mar"),
        cube.dimensions(2).idOf("West"), cube.dimensions(3).idOf("coupe"),
        cube.dimensions(4).idOf("Sales"), 7.0),
      (cube.dimensions(0).idOf("2021"), cube.dimensions(1).idOf("Feb"),
        cube.dimensions(2).idOf("South"), cube.dimensions(3).idOf("sedan"),
        cube.dimensions(4).idOf("Sales"), 60.0)))
      .toDF("d0", "d1", "d2", "d3", "d4", "value")
    val st = cube.appendZorderedStore(batch)
    assert(st.batchRows == 2)
    assert(cube.get(Seq("2022", "Mar", "West", "coupe", "Sales")).contains(7.0))
    assert(cube.get(Seq("2021", "Feb", "South", "sedan", "Sales")).contains(60.0),
      "appended address must REPLACE, not double-count")
    assert(cube.get(Seq("All years", "Year", "Total", "Total", "Sales"))
      .contains(100.0 + 60.0 + 7.0))
    // a point write after the swap keeps winning over the stored base
    cube.set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 1.0)
    assert(cube.get(Seq("2021", "Jan", "North", "motorcycles", "Sales")).contains(1.0))
    // appending without a prior store compaction is refused
    val bare = new graft.core.Cube("sales_bare", c0.dimensions, spark, None)
    intercept[IllegalStateException] { bare.appendZorderedStore(batch) }
  }

  test("cube z-store append is replay-idempotent (foreachBatch redelivery)") {
    val db = TinyModel.build(spark)
    val c0 = db.cube("sales")
    val cube = new graft.core.Cube("sales_zreplay", c0.dimensions, spark, None)
    cube.cacheEnabled = false
    cube.set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 10.0)
    val dir = java.nio.file.Files.createTempDirectory("zreplay").toString
    assert(cube.compactToZorderedStore(dir, Seq(0, 1), files = 2))
    val batch = spark.createDataFrame(Seq(
      (cube.dimensions(0).idOf("2022"), cube.dimensions(1).idOf("Mar"),
        cube.dimensions(2).idOf("West"), cube.dimensions(3).idOf("coupe"),
        cube.dimensions(4).idOf("Sales"), 7.0)))
      .toDF("d0", "d1", "d2", "d3", "d4", "value")
    cube.appendZorderedStore(batch)
    val total1 = cube.get(Seq("All years", "Year", "Total", "Total", "Sales"))
    // a redelivered micro-batch must replace its own addresses, not add
    cube.appendZorderedStore(batch)
    val total2 = cube.get(Seq("All years", "Year", "Total", "Total", "Sales"))
    assert(total1 == total2 && total1.contains(17.0),
      s"replay must be idempotent: $total1 vs $total2")
    assert(graft.pipeline.Layout.zorderManifest(spark, dir).map(_.rows).sum == 2L,
      "the store must hold exactly one row per address after the replay")
  }

  test("append equals full rebuild for readers (same rows, pruned scans)") {
    val dir = java.nio.file.Files.createTempDirectory("zinc3").toString
    val all = spark.range(2000).select(col("id"),
      pmod(hash(col("id")), lit(32)).cast("long").as("a"),
      pmod(hash(col("id") * 3), lit(32)).cast("long").as("b"))
    val zc = Seq(col("a"), col("b"))
    Layout.zorderWrite(spark, dir, all.filter(col("id") % 3 =!= 0), zc, bits = 5, numFiles = 4)
    Layout.zorderAppend(spark, dir, all.filter(col("id") % 3 === 0), zc, bits = 5)
    val got = Layout.zorderRead(spark, dir)
    assert(rowsOf(got) == rowsOf(all))
    // a slice predicate on BOTH interleaved columns still answers correctly
    val slice = got.filter(col("a") < 4 && col("b") < 4)
    val expect = all.filter(col("a") < 4 && col("b") < 4)
    assert(rowsOf(slice) == rowsOf(expect))
  }

  test("read-only snapshots reject clear/compact/append; views.define stays usable") {
    import graft.olap.{AxisDef, ViewDef}
    val db = TinyModel.build(spark)
    val c0 = db.cube("sales")
    val cube = new graft.core.Cube("sales_ro18", c0.dimensions, spark, None)
    cube.cacheEnabled = false
    cube.set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 100.0)
    val dir = java.nio.file.Files.createTempDirectory("r18zs").toString
    try {
      assert(cube.compactToZorderedStore(dir, Seq(0, 1), files = 2))
      val snap = cube.snapshotAtGeneration(1L)
      snap.cacheEnabled = false
      def rejects(op: String)(body: => Any): Unit = {
        val e = intercept[UnsupportedOperationException](body)
        assert(e.getMessage.contains("read-only"), s"$op: $e")
      }
      rejects("clear")(snap.clear())
      rejects("compactToBucketed")(snap.compactToBucketed("r18_snap_bucketed"))
      rejects("compactToZorderedStore")(
        snap.compactToZorderedStore(dir + "_x", Seq(0, 1), files = 2))
      rejects("appendZorderedStore")(snap.appendZorderedStore(cube.facts.limit(1)))
      // the rejections left no residue and reads still serve
      assert(snap.get(Seq("2021", "Jan", "North", "motorcycles", "Sales"))
        .contains(100.0))
      // views stay exempt: defining + rendering a view over the snapshot is
      // the supported way to read history
      snap.views.define("asof", ViewDef(
        filters = Seq("years" -> "2021", "regions" -> "North",
          "products" -> "motorcycles"),
        rows = AxisDef(Seq("months" -> Seq("Jan"))),
        cols = AxisDef(Seq("measures" -> Seq("Sales")))))
      val grid = snap.views("asof").refresh().collect()
      assert(grid.length == 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir + "_x"))
    }
  }
}
