package graft

import graft.core._
import graft.olap._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regression specs for the round-3 fixes: automatic `#REF!`/`#VALUE!`/
  * `#ERR!` rule sentinels (scalar + view render paths), declarative ON_ENTRY
  * persistence via `RuleExpr.Input`, exact ns→µs event timestamps, bounded
  * streaming-ingest lineage, and the SimHash empty-group fix.
  */
class Round3FixesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def profitModel(): (Database, Cube) = QueryViewSpec.profitModel(spark)

  test("dangling rule ref after a dimension edit reads as #REF!, not an exception") {
    val (db, cube) = profitModel()
    assert(cube.get(Seq("Jan", "Profit")).contains(6.0))
    // remove the referenced member out from under the registered rule
    db.dimension("m").edit().remove("Cost").commit()
    cube.purgeUnknownMembers()
    // typed read surfaces the sentinel
    assert(cube.getCell(Seq("Jan", "Profit")).contains(CellValue.Err("#REF!")))
    // the error cascades through the chained rule (Margin refs Profit)
    assert(cube.getCell(Seq("Jan", "Margin")).contains(CellValue.Err("#REF!")))
    // the numeric path stays loud but typed, code in the message
    val e = intercept[RuleError](cube.get(Seq("Jan", "Profit")))
    assert(e.code == "#REF!")
    // untouched measures still read normally
    assert(cube.get(Seq("All", "Sales")).contains(30.0))
  }

  test("rule arithmetic over a text cell reads #VALUE!; error payloads propagate") {
    val (_, cube) = profitModel()
    cube.setPayload(Seq("Jan", "Sales"), "see note")
    assert(cube.getCell(Seq("Jan", "Profit")).contains(CellValue.Err("#VALUE!")))
    // an error payload propagates its own code through the rule
    cube.setPayload(Seq("Jan", "Sales"), "#NUM!")
    assert(cube.getCell(Seq("Jan", "Profit")).contains(CellValue.Err("#NUM!")))
    // unknown rule function → #ERR!
    cube.registerRule(RuleDef(Map("m" -> "Cost"), RuleScope.AllLevels,
      RuleExpr.Fn("sqrt", RuleExpr.Ref("Sales")), "bad_fn"))
    assert(cube.getCell(Seq("Feb", "Cost")).contains(CellValue.Err("#ERR!")))
  }

  test("ON_ENTRY placeholder exprs (no Input) stay no-ops; ordinal refs guard") {
    val db = new Database("oph", spark)
    val m = db.addDimension("m")
    m.edit().addMany(Seq("Sales", "Cost")).commit()
    val cube = db.addCube("c", Seq(m))
    // the documented fn-less placeholder idiom: expr Lit(0) must NOT become
    // a transform that rewrites every write to 0.0
    cube.registerRule(RuleDef(Map("m" -> "Cost"), RuleScope.OnEntry,
      RuleExpr.Lit(0), "placeholder"))
    cube.set(Seq("Cost"), 42.0)
    assert(cube.get(Seq("Cost")).contains(42.0))
    // over-long digit qualifiers fail the lookup (typed), not NumberFormat
    val e = intercept[IllegalArgumentException](
      new Cell(cube, Vector(m.idOf("Sales"))).alter("99999999999" -> "Cost"))
    assert(e.getMessage.contains("unknown dimension"))
  }

  test("a dimension literally named with digits wins over the ordinal reading") {
    val db = new Database("dnum", spark)
    val d1 = db.addDimension("1") // dimension NAMED "1", at ordinal 0
    d1.edit().addMany(Seq("x", "y")).commit()
    val d2 = db.addDimension("other")
    d2.edit().addMany(Seq("p", "q")).commit()
    val cube = db.addCube("c", Seq(d1, d2))
    cube.set(Seq("x", "p"), 1.0)
    cube.set(Seq("y", "p"), 2.0)
    // "1:y" must address dimension "1" by NAME (not ordinal 1 = "other")
    val c = new Cell(cube, Vector(d1.idOf("x"), d2.idOf("p"))).alter("1" -> "y")
    assert(c.value.contains(2.0))
  }

  test("ON_ENTRY transform expressed as Input AST survives save/load") {
    val db = new Database("oe", spark)
    val m = db.addDimension("m")
    m.edit().addMany(Seq("Sales", "Cost")).commit()
    val cube = db.addCube("c", Seq(m))
    // costs enter negated: -abs(input)
    cube.registerRule(RuleDef(Map("m" -> "Cost"), RuleScope.OnEntry,
      RuleExpr.Neg(RuleExpr.Fn("abs", RuleExpr.Input)), "negate_costs"))
    cube.set(Seq("Cost"), 50.0)
    assert(cube.get(Seq("Cost")).contains(-50.0))
    val dir = java.nio.file.Files.createTempDirectory("graftoe").toString
    db.save(dir)
    val db2 = Database.load(dir, spark)
    val c2 = db2.cube("c")
    assert(c2.rules.exists(_.name == "negate_costs"))
    c2.set(Seq("Cost"), 7.0)
    assert(c2.get(Seq("Cost")).contains(-7.0))
  }

  test("events ts read is exact for both physical encodings (no double drift)") {
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // ns-long generation: Spark-side `div` equals driver-side exact
        // floor division, bit for bit
        val rows = raw.select(col("ts").as("ns"))
          .withColumn("us", expr("ns div 1000")).collect()
        assert(rows.nonEmpty)
        rows.foreach { r =>
          assert(r.getLong(1) == Math.floorDiv(r.getLong(0), 1000L))
        }
        // and readEvents carries exactly that µs value into the timestamp
        val drift = graft.tpch.RelationalQueries.readEvents(spark, dir)
          .select(col("event_id"), unix_micros(col("ts")).as("us"))
          .join(raw.select(col("event_id"), col("ts").as("ns")), "event_id")
          .filter(col("us") =!= expr("ns div 1000"))
          .count()
        assert(drift == 0L)
      case _ =>
        // µs-native generation (TIMESTAMP_NTZ): readEvents must carry the
        // stored µs value into the session-UTC timestamp unchanged
        val drift = graft.tpch.RelationalQueries.readEvents(spark, dir)
          .select(col("event_id"), unix_micros(col("ts")).as("us"))
          .join(raw.select(col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("raw_us")), "event_id")
          .filter(col("us") =!= col("raw_us"))
          .count()
        assert(drift == 0L)
        assert(graft.tpch.RelationalQueries.readEvents(spark, dir)
          .schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    }
  }

  test("streaming ingest keeps the fact plan depth bounded over 50 micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val db = new Database("sb", spark)
    val m = db.addDimension("m")
    m.edit().addMany(Seq("a", "b")).commit()
    val cube = db.addCube("c", Seq(m))
    val mem = MemoryStream[(Int, Double)]
    val stream = mem.toDF().toDF("d0", "value")
    val q = graft.streaming.Streaming.ingestInto(cube, stream,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      compactEvery = 10)
    try {
      (1 to 50).foreach { i =>
        mem.addData((0, i.toDouble))
        q.processAllAvailable()
      }
    } finally q.stop()
    def depth(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int =
      1 + (if (p.children.isEmpty) 0
           else p.children.map(c =>
             depth(c.asInstanceOf[org.apache.spark.sql.catalyst.trees.TreeNode[_]])).max)
    val d = depth(cube.facts.queryExecution.logical)
    // one layer per batch would be ≥250 nodes deep after 50 batches; the
    // periodic checkpoint (every 10) keeps it to the last partial window
    assert(d < 120, s"fact plan depth $d — lineage not being compacted")
    assert(cube.get(Seq("a")).contains(50.0)) // last write wins end-to-end
  }

  test("unwritten base-cell point reads hit the bounded cache on repeat") {
    val db = new Database("prc", spark)
    val m = db.addDimension("m")
    m.edit().add("All", Seq("x", "y")).commit()
    val cube = db.addCube("c", Seq(m))
    cube.set(Seq("x"), 1.0)
    cube.set(Seq("y"), 2.0)
    cube.compact() // overlay -> base frame, so reads take the job path
    cube.resetCounters()
    assert(cube.get(Seq("x")).contains(1.0)) // cold read: one Spark job
    assert(cube.counterCacheHits == 0)
    assert(cube.get(Seq("x")).contains(1.0)) // repeat: driver-side cache hit
    assert(cube.counterCacheHits == 1)
    assert(cube.get(Seq("All")).contains(3.0)) // aggregated reads cache too
    assert(cube.get(Seq("All")).contains(3.0))
    assert(cube.counterCacheHits == 2)
    cube.set(Seq("y"), 5.0) // any write invalidates the whole cache
    assert(cube.get(Seq("x")).contains(1.0))
    assert(cube.counterCacheHits == 2) // cold again after invalidation
  }

  test("SimHash of an all-null group is null, not a zero signature") {
    import spark.implicits._
    val df = Seq(
      (1, Option.empty[Long]), (1, Option.empty[Long]),
      (2, Some(0x0f0f0f0f0f0f0f0fL)), (2, Some(0x0f0f0f0f0f0f0f1fL))
    ).toDF("id", "h")
    val out = df.groupBy(col("id"))
      .agg(graft.functions.SimHashBits(col("h")).as("sig"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1).isEmpty)
    assert(out(2).nonEmpty)
  }
}
