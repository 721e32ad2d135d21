package graft

import graft.core._
import graft.olap._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Rule cells on the report paths: sentinel rendering, chained and
  * intermediate rule members, column/scalar null parity, and the driver
  * evaluator ([[Rules.ruleCells]]) — its per-session ANSI mode and its
  * compile cache under concurrent reports.
  */
class RulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def profitModel(): (Database, Cube) = QueryViewSpec.profitModel(spark)

  test("division by stored zero renders #DIV/0!, not blank") {
    val db = new Database("sent", spark)
    val t = db.addDimension("t")
    t.edit().addMany(Seq("Jan", "Feb")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("Sales", "Cost", "Margin")).commit()
    val cube = db.addCube("c", Seq(t, m))
    cube.registerRule(RuleDef(Map("m" -> "Margin"), RuleScope.AllLevels,
      RuleExpr.Div(RuleExpr.Ref("Cost"), RuleExpr.Ref("Sales")), "margin"))
    cube.set(Seq("Jan", "Sales"), 0.0)
    cube.set(Seq("Jan", "Cost"), 5.0)
    // scalar read path: error sentinel, distinguishable from "no data"
    assert(cube.getCell(Seq("Jan", "Margin")).contains(CellValue.Err(CellValue.DivZero)))
    assert(cube.getCell(Seq("Feb", "Margin")).isEmpty) // truly empty stays empty
    // grid/view path: renders the code in console and HTML
    val view = new olap.View(cube, olap.ViewDef(
      rows = olap.AxisDef(Seq("t" -> Seq("Jan"))),
      cols = olap.AxisDef(Seq("m" -> Seq("Sales", "Cost", "Margin")))))
    assert(view.toConsole().contains(CellValue.DivZero))
    assert(view.toHtml().contains(CellValue.DivZero))
  }

  test("view: chained rule measures compute deps-first, intermediates implicit") {
    val db = new Database("chain", spark)
    val t = db.addDimension("t")
    t.edit().addMany(Seq("r1")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("a", "b", "x", "y")).commit()
    val cube = db.addCube("c", Seq(t, m))
    cube.registerRule(RuleDef(Map("m" -> "x"), RuleScope.AllLevels,
      RuleParser.parse("[a] - [b]"), "x_rule"))
    // chained: y refs ruled x; ref "A" also exercises case-insensitive dedup
    cube.registerRule(RuleDef(Map("m" -> "y"), RuleScope.AllLevels,
      RuleParser.parse("[x] / [A]"), "y_rule"))
    cube.set(Seq("r1", "a"), 10.0)
    cube.set(Seq("r1", "b"), 4.0)
    // x is NOT requested — it must be computed as an implicit intermediate,
    // not read as the (empty) stored column
    val v = new olap.View(cube, olap.ViewDef(
      rows = olap.AxisDef(Seq("t" -> Seq("r1"))),
      cols = olap.AxisDef(Seq("m" -> Seq("a", "y")))))
    val row = v.refresh().collect().head
    assert(row.getAs[Double]("a") == 10.0)
    assert(math.abs(row.getAs[Double]("y") - 0.6) < 1e-12) // (10−4)/10
    assert(cube.get(Seq("r1", "y")).contains(0.6)) // scalar path agrees
  }

  test("column-mode +/− agree with scalar mode on empty cells") {
    val db = new Database("par", spark)
    val m = db.addDimension("m")
    m.edit().addMany(Seq("x", "y", "z")).commit()
    val cube = db.addCube("c", Seq(m))
    val expr = RuleExpr.Sub(RuleExpr.Ref("x"), RuleExpr.Ref("y"))
    val c = Rules.toColumn(cube, 0, expr)
    val xc = s"m_${m.idOf("x")}"; val yc = s"m_${m.idOf("y")}"
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(null, null),
        Row(java.lang.Double.valueOf(5.0), null),
        Row(null, java.lang.Double.valueOf(2.0))), 1),
      StructType(Seq(StructField(xc, DoubleType), StructField(yc, DoubleType))))
    val got = df.select(c.as("v")).collect().map(r => Option(r.get(0)))
    assert(got(0).isEmpty)            // both empty → empty (was 0.0 pre-fix)
    assert(got(1).contains(5.0))
    assert(got(2).contains(-2.0))
    // scalar path on a genuinely empty cube: both refs empty → empty cell
    cube.registerRule(RuleDef(Map("m" -> "z"), RuleScope.AllLevels, expr, "diff"))
    assert(cube.get(Seq("z")).isEmpty)
  }

  test("a column axis whose every member's rule chain is broken renders sentinels") {
    val (db, cube) = profitModel()
    db.dimension("m").edit().remove("Cost").commit()
    cube.purgeUnknownMembers()
    // Profit's ref 'Cost' is gone; requesting ONLY Profit leaves nothing to
    // fetch — must render a #REF! grid, not throw "no stored members"
    val v = new View(cube, ViewDef(
      rows = AxisDef(Seq("t" -> Seq("Jan", "Feb"))),
      cols = AxisDef(Seq("m" -> Seq("Profit")))))
    val grid = v.refresh().collect()
    assert(grid.length == 2)
    assert(grid.forall(_.getAs[Any]("Profit") == "#REF!"))
    assert(grid.map(_.getAs[String]("t")).toSet == Set("Jan", "Feb"))
  }

  test("a grid ref dangling in its own dim but colliding elsewhere renders a sentinel") {
    val (db, cube) = profitModel()
    // dimension t gains a member named Cost, then m loses its Cost: the ref
    // now resolves only outside m — sentinel column, not an exception
    db.dimension("t").edit().add("All", Seq("Cost")).commit()
    db.dimension("m").edit().remove("Cost").commit()
    cube.purgeUnknownMembers()
    val v = new View(cube, ViewDef(
      rows = AxisDef(Seq("t" -> Seq("Jan", "Feb"))),
      cols = AxisDef(Seq("m" -> Seq("Sales", "Profit")))))
    val grid = v.refresh().collect()
    assert(grid.forall(_.getAs[Any]("Profit") == "#ERR!"))
    assert(grid.exists(_.getAs[Any]("Sales") == 10.0))
  }

  /** A two-dimension decimal(21,4) cube on `session` whose cell (c, x) is
    * 2e16: rule `sq` = x × x needs 33 integer digits, past decimal(38,6).
    * Its small grids come to the driver, so a ruled grid computes its rule
    * cells there unless [[Cube.withPlannedReports]] keeps the Spark plan. */
  private def overflowCube(session: org.apache.spark.sql.SparkSession, name: String): Cube = {
    val db = new Database(name, session)
    val t = db.addDimension("t")
    t.edit().addMany(Seq("a", "c")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("x", "sq")).commit()
    val rows = Seq(Row(t.idOf("a"), m.idOf("x"), new java.math.BigDecimal("3.0001")),
      Row(t.idOf("c"), m.idOf("x"), new java.math.BigDecimal("20000000000000000.0000")))
    val df = session.createDataFrame(session.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("d0", IntegerType), StructField("d1", IntegerType), StructField("value", DecimalType(21, 4)))))
    val c = db.addCube("c", Seq(t, m), df)
    c.cacheEnabled = false
    c.registerRule(RuleDef(Map("m" -> "sq"), RuleScope.AllLevels,
      RuleExpr.Mul(RuleExpr.Ref("x"), RuleExpr.Ref("x")), "sq"))
    c
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("ANSI off: a decimal product past 38 digits is null on both paths, compiled apart") {
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    val off = spark.newSession()
    off.conf.set("spark.sql.ansi.enabled", "false")
    val sels = (c: Cube) => Seq(Seq("a", "c").map(c.dimensions(0).idOf), Seq("x", "sq").map(c.dimensions(1).idOf))
    val view = ViewDef(rows = AxisDef(Seq("t" -> Seq("a", "c"))), cols = AxisDef(Seq("m" -> Seq("x", "sq"))))
    // compiled first under the shared session's ANSI mode: the overflow raises
    val on = overflowCube(spark, "ansi_on")
    intercept[ArithmeticException](Rules.ruledGrid(on, sels(on)).collect())
    val compiles = Rules.ruleCompiles
    val c = overflowCube(off, "ansi_off")
    val got = rows(Rules.ruledGrid(c, sels(c)))
    assert(Rules.ruleCompiles == compiles + 1, "the ANSI-off session compiles its own rule")
    assert(got == rows(Cube.withPlannedReports(Rules.ruledGrid(c, sels(c)))))
    // sq is null at c (dropped as empty) and 9.0006 at a
    val sq = c.dimensions(1).idOf("sq")
    assert(got.filter(_.contains(s",$sq,")) == Seq(s"[${c.dimensions(0).idOf("a")},$sq,9.0006]"), got)
    // a view pivots its cells to doubles: there x × x is the double 4e32
    val json = new View(c, view).toJson()
    assert(json.contains("\"t\":\"c\",\"x\":2.0E16,\"sq\":4.0E32"), json)
    assert(spark.conf.get("spark.sql.ansi.enabled") == ansi, "the shared session's conf is untouched")
  }

  test("a decimal(21,4) value past a long keeps the point index; only grids that cover it run on Spark") {
    val ref = overflowCube(spark, "wide_ref")
    val c = overflowCube(spark, "wide_idx")
    val addrs = Seq(Seq("a", "x"), Seq("c", "x"), Seq("a", "sq"))
    val jobReads = addrs.map(ref.get)
    assert(c.enablePointIndex())
    assert(addrs.map(c.get) == jobReads && jobReads(1).contains(2e16))
    assert(!ref.pointIndexEnabled)
    val (t, m) = (c.dimensions(0), c.dimensions(1))
    val x = Seq(m.idOf("x"))
    val served = c.counterDriverAggregations
    val misses = Seq(Seq(t.idOf("a")), x)
    assert(rows(c.gridAggregate(misses)) == rows(ref.gridAggregate(misses)))
    assert(c.counterDriverAggregations == served + 1, "a grid that misses the wide row is the kernel's")
    val covers = Seq(Seq(t.idOf("a"), t.idOf("c")), x)
    assert(rows(c.gridAggregate(covers)) == rows(ref.gridAggregate(covers)))
    assert(rows(c.gridAggregate(covers)).exists(_.contains("20000000000000000.0000")))
    assert(c.counterDriverAggregations == served + 1, "a grid that covers it runs on Spark")
  }

  test("8 threads render one ruled view and grid: serial answers, one compile per rule") {
    val db = new Database("rules_conc", spark)
    val t = db.addDimension("t")
    t.edit().add("All", Seq("a", "b", "c")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("x", "y", "r1", "r2", "r3")).commit()
    val cube = db.addCube("c", Seq(t, m))
    cube.cacheEnabled = false
    Seq("a", "b", "c").zipWithIndex.foreach { case (tm, i) =>
      cube.set(Seq(tm, "x"), 10.5 * (i + 1)); cube.set(Seq(tm, "y"), i - 1.25) }
    cube.enablePointIndex()
    import RuleExpr._
    // shapes no other test compiles: each is a compile of its own
    Seq("r1" -> Add(Mul(Ref("x"), Lit(1.2345671)), Ref("y")),
      "r2" -> Fn("round", Div(Ref("r1"), Lit(3.7654329))),
      "r3" -> Fn("abs", Sub(Ref("r2"), Mul(Ref("x"), Lit(2.5432107)))))
      .foreach { case (n, e) => cube.registerRule(RuleDef(Map("m" -> n), RuleScope.AllLevels, e, n)) }
    val sels = Seq(Seq("a", "b", "c", "All").map(t.idOf), Seq("x", "r1", "r2", "r3").map(m.idOf))
    val view = ViewDef(rows = AxisDef(Seq("t" -> Seq("a", "b", "c", "All"))),
      cols = AxisDef(Seq("m" -> Seq("x", "r1", "r3"))))
    def render(): (Seq[String], String) = (rows(Rules.ruledGrid(cube, sels)), new View(cube, view).toJson())
    val compiles = Rules.ruleCompiles
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map(_ => pool.submit(new java.util.concurrent.Callable[Seq[(Seq[String], String)]] {
        def call(): Seq[(Seq[String], String)] = { start.await(); Seq.fill(10)(render()) }
      }))
      start.countDown()
      val concurrent = futures.flatMap(_.get())
      val serial = render()
      assert(concurrent.forall(_ == serial))
      assert(serial._1.size == 16 && serial._2.contains("\"r3\":"))
    } finally pool.shutdown()
    // the view and the grid read the same double inputs, so they share a
    // compile per rule
    assert(Rules.ruleCompiles - compiles == 3)
  }
}
