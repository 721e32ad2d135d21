package graft

import graft.core.{Cube, Database}
import graft.olap._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL dialect + View over the tiny model (parser fixtures from FIXTURES §5,
  * `tests/test_query.py:15-24`; view semantics from `tests/test_view.py`),
  * plus the view behaviours on small purpose-built cubes: rule sentinels,
  * row and column zero suppression, number formats and the ViewDef codec.
  */
class QueryViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val db = TinyModel.build(spark)
  lazy val cube = {
    val c = db.cube("sales")
    c.set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 123.0)
    c.set(Seq("2021", "Jan", "North", "sedan", "Sales"), 456.0)
    c.set(Seq("2021", "Jan", "North", "motorcycles", "Cost"), 100.0)
    c.set(Seq("2021", "Feb", "South", "sports", "Sales"), 50.0)
    c
  }
  private def profitModel(): (Database, Cube) = QueryViewSpec.profitModel(spark)

  test("dialect: full-address point query") {
    cube
    val df = OlapQuery(db, "SELECT * FROM sales WHERE '2021', 'Jan', North, 'motorcycles', 'Sales'")
    val rows = df.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("years") == "2021" && r.getAs[String]("products") == "motorcycles")
    assert(math.abs(r.getAs[Number]("value").doubleValue() - 123.0) < 1e-9)
  }

  test("dialect: projection of selected fields") {
    cube
    val df = OlapQuery(db, "SELECT months, value FROM sales WHERE '2021', 'Jan', North, 'motorcycles', 'Sales'")
    assert(df.columns.toSeq == Seq("months", "value"))
  }

  test("dialect: attribute field + case-insensitive cube name") {
    cube
    val df = OlapQuery(db,
      "SELECT regions, regions.manager, months, value FROM saLes WHERE '2021', North, 'motorcycles', 'Sales'")
    val r = df.collect().head
    assert(r.getAs[String]("regions.manager") == "Ingmar Ice")
  }

  test("dialect: member list slicer") {
    cube
    val df = OlapQuery(db,
      "SELECT months, value FROM sales WHERE '2021', months=('Jan','Feb'), regions='Total', products='Total', 'Sales'")
    val got = df.collect().map(r => r.getAs[String]("months") -> r.getAs[Number]("value").doubleValue()).toMap
    assert(math.abs(got("Jan") - 579.0) < 1e-9)
    assert(got.get("Feb").forall(_ == 50.0) || !got.contains("Feb")) // Feb South sports = 50 under Total
  }

  test("dialect: subset + wildcard slicers") {
    cube
    val df = OlapQuery(db,
      "SELECT months, products FROM sAles WHERE '2021', months=summer, North, products='*', 'Sales'")
    // summer = Jun..Sep has no data → empty grid, but parse+plan must succeed
    assert(df.columns.toSeq == Seq("months", "products"))
    df.collect()
  }

  test("dialect: rule-backed measure computed inside the grid job") {
    cube
    val df = OlapQuery(db,
      "SELECT months, value FROM sales WHERE '2021', months=('Jan','Feb'), regions='Total', products='Total', 'Profit in %'")
    val got = df.collect().map(r =>
      r.getAs[String]("months") -> r.getAs[Number]("value").doubleValue()).toMap
    // Jan: Profit = 579 - 100 = 479; Profit in % = 479/579
    assert(math.abs(got("Jan") - 479.0 / 579.0) < 1e-12)
    // Feb: Sales 50, no Cost → Profit 50 → 100%
    assert(math.abs(got("Feb") - 1.0) < 1e-12)
  }

  test("view: pivot grid with rule-derived measure column") {
    cube
    val view = new View(cube, ViewDef(
      filters = Seq("years" -> "2021", "regions" -> "Total", "products" -> "Total"),
      rows = AxisDef(Seq("months" -> Seq("Jan", "Feb", "Q1", "Year"))),
      cols = AxisDef(Seq("measures" -> Seq("Sales", "Cost", "Profit", "Profit in %")))))
    val grid = view.refresh().collect()
    val byMonth = grid.map(r => r.getAs[String]("months") -> r).toMap
    val jan = byMonth("Jan")
    assert(jan.getAs[Double]("Sales") == 579.0)
    assert(jan.getAs[Double]("Cost") == 100.0)
    assert(jan.getAs[Double]("Profit") == 479.0)
    assert(math.abs(jan.getAs[Double]("Profit in %") - 479.0 / 579.0) < 1e-12)
    val q1 = byMonth("Q1")
    assert(q1.getAs[Double]("Sales") == 629.0) // Jan 579 + Feb 50
    // ordering follows axis member order
    assert(grid.map(_.getAs[String]("months")).toSeq == Seq("Jan", "Feb", "Q1", "Year"))
  }

  test("view: multi-dimension column axis (months x measures, ruled member)") {
    cube
    val v = new View(cube, ViewDef(
      filters = Seq("regions" -> "Total", "products" -> "Total", "months" -> "Year"),
      rows = AxisDef(Seq("years" -> Seq("2021", "2022"))),
      cols = AxisDef(Seq(
        "months" -> Seq("Jan", "Feb"),
        "measures" -> Seq("Sales", "Profit in %")))))
    val grid = v.refresh()
    // cartesian positions in order: last axis entry varies fastest
    assert(grid.columns.toSeq ==
      Seq("years", "Jan/Sales", "Jan/Profit in %", "Feb/Sales", "Feb/Profit in %"))
    val y2021 = grid.collect().map(r => r.getAs[String]("years") -> r).toMap.apply("2021")
    assert(y2021.getAs[Double]("Jan/Sales") == 579.0)
    // ruled member resolves refs WITHIN its position: Jan/Profit ÷ Jan/Sales
    assert(math.abs(y2021.getAs[Double]("Jan/Profit in %") - 479.0 / 579.0) < 1e-12)
    assert(y2021.getAs[Double]("Feb/Sales") == 50.0)
    assert(math.abs(y2021.getAs[Double]("Feb/Profit in %") - 1.0) < 1e-12)
  }

  test("view: zero suppression drops empty rows") {
    cube
    val view = new View(cube, ViewDef(
      filters = Seq("years" -> "2022", "regions" -> "Total", "products" -> "Total"),
      rows = AxisDef(Seq("months" -> Seq("Jan", "Feb", "Mar"))),
      cols = AxisDef(Seq("measures" -> Seq("Sales"))),
      zeroSuppression = true))
    assert(view.refresh().collect().isEmpty)
  }

  test("view: windowed collect and renders") {
    cube
    val view = new View(cube, ViewDef(
      filters = Seq("years" -> "2021", "regions" -> "Total", "products" -> "Total"),
      rows = AxisDef(Seq("months" -> Seq("Jan", "Feb", "Mar", "Q1"))),
      cols = AxisDef(Seq("measures" -> Seq("Sales", "Cost")))))
    val (cols, rows) = view.collect(Some(ViewWindow(0, 0, 1, 0)))
    assert(cols == Seq("months", "Sales") && rows.size == 2)
    // stats describe the computed grid (Mar holds no data), not the window
    assert(view.stats.rows == 3)
    val console = view.toConsole()
    assert(console.contains("Jan") && console.contains("579"))
    assert(view.toHtml().startsWith("<table>"))
    assert(view.toJson().startsWith("["))
    assert(view.stats.columns == 2)
    assert(view.stats.aggregatedPositions == 2 && view.stats.rulePositions == 0)
    // rule-backed column counted separately in stats
    val vr = new View(cube, ViewDef(
      filters = Seq("years" -> "2021", "regions" -> "Total", "products" -> "Total"),
      rows = AxisDef(Seq("months" -> Seq("Jan"))),
      cols = AxisDef(Seq("measures" -> Seq("Sales", "Profit in %")))))
    vr.refresh()
    assert(vr.stats.aggregatedPositions == 1 && vr.stats.rulePositions == 1)
  }

  test("named view registry: define, fetch, JSON round-trip") {
    cube
    val dfn = ViewDef(
      filters = Seq("years" -> "2021", "regions" -> "Total", "products" -> "Total"),
      rows = AxisDef(Seq("months" -> Seq("Jan", "Feb"))),
      cols = AxisDef(Seq("measures" -> Seq("Sales"))))
    cube.views.define("monthly sales", dfn)
    assert(cube.views.contains("Monthly Sales")) // case-insensitive
    val grid = cube.views("monthly sales").refresh().collect()
    assert(grid.map(_.getAs[String]("months")).toSeq == Seq("Jan", "Feb"))
    // registry round-trips through JSON into a fresh cube handle
    val other = new graft.core.Cube("copy", cube.dimensions, spark, Some(cube.facts))
    other.views.loadJson(cube.views.toJson)
    assert(other.views.names == Seq("monthly sales"))
    assert(other.views.definition("monthly sales") == dfn)
    // and through full database save/load
    val dir = java.nio.file.Files.createTempDirectory("graftviews").toString
    db.save(dir)
    val db2 = graft.core.Database.load(dir, spark)
    assert(db2.cube("sales").views.contains("monthly sales"))
    assert(db2.cube("sales").views.definition("monthly sales") == dfn)
  }

  test("view definition JSON round-trip yields an identical grid") {
    cube
    val dfn = ViewDef(
      filters = Seq("years" -> "2021", "regions" -> "Total", "products" -> "Total"),
      rows = AxisDef(Seq("months" -> Seq("Jan", "Feb", "Q1"))),
      cols = AxisDef(Seq("measures" -> Seq("Sales", "Cost"))),
      zeroSuppression = true)
    val dfn2 = ViewDef.fromJson(ViewDef.toJson(dfn))
    assert(dfn2 == dfn)
    val g1 = new View(cube, dfn).refresh().collect().map(_.toString).toSeq
    val g2 = new View(cube, dfn2).refresh().collect().map(_.toString).toSeq
    assert(g1 == g2)
  }

  test("format mini-language") {
    assert(ViewFormat(Some("{:.2%}"), 0.8640239) == "86.40%")
    assert(ViewFormat(Some("{:,.0f}"), 1234567.0) == "1,234,567")
    assert(ViewFormat(Some("{:.3f}"), 1.5) == "1.500")
    assert(ViewFormat(None, 42.0) == "42")
  }

  test("view renders #REF! cells (and cascades) instead of aborting the grid") {
    val (db, cube) = profitModel()
    db.dimension("m").edit().remove("Cost").commit()
    cube.purgeUnknownMembers()
    val v = new View(cube, ViewDef(
      rows = AxisDef(Seq("t" -> Seq("Jan", "Feb"))),
      cols = AxisDef(Seq("m" -> Seq("Sales", "Profit", "Margin")))))
    val console = v.toConsole()
    assert(console.contains("#REF!"))
    assert(console.contains("10")) // stored data still renders
    val html = v.toHtml()
    assert(html.contains("<td>#REF!</td>"))
    val grid = v.refresh().collect()
    assert(grid.forall(r => r.getAs[Any]("Profit") == "#REF!"))
    assert(grid.forall(r => r.getAs[Any]("Margin") == "#REF!"))
  }

  test("rule-compile sentinels don't poison zero suppression or chained rules") {
    val (_, cube) = profitModel()
    // unknown fn on a REQUESTED column member: compiles to a sentinel column
    cube.registerRule(RuleDef(Map("m" -> "Cost"), RuleScope.AllLevels,
      RuleExpr.Fn("sqrt", RuleExpr.Ref("Sales")), "bad_fn"))
    val v = new View(cube, ViewDef(
      rows = AxisDef(Seq("t" -> Seq("Jan", "Feb"))),
      cols = AxisDef(Seq("m" -> Seq("Sales", "Cost", "Profit"))),
      zeroSuppression = true))
    val grid = v.refresh().collect()
    // suppression must NOT run on the string sentinel (it would null the
    // suppression sum and drop every row)
    assert(grid.length == 2)
    assert(grid.forall(_.getAs[Any]("Cost") == "#ERR!"))
    // the chained rule (Profit = Sales − Cost) propagates the code instead
    // of string arithmetic (which would cast "#ERR!" to null → blank cells)
    assert(grid.forall(_.getAs[Any]("Profit") == "#ERR!"))
    // intact columns still carry data
    assert(grid.exists(_.getAs[Any]("Sales") == 10.0))
  }

  test("column-axis zero suppression drops all-empty positions; rows unaffected") {
    import graft.olap._
    val db = new Database("r7_colsup", spark)
    val t = db.addDimension("t")
    t.edit().add("All", Seq("Jan", "Feb")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("Sales", "Cost", "Plan")).commit()
    val cube = db.addCube("c", Seq(t, m))
    cube.set(Seq("Jan", "Sales"), 10.0)
    cube.set(Seq("Feb", "Cost"), 4.0) // Plan stays empty everywhere
    val v = new View(cube, ViewDef(
      rows = AxisDef(Seq("t" -> Seq("Jan", "Feb"))),
      cols = AxisDef(Seq("m" -> Seq("Sales", "Plan", "Cost"))),
      zeroSuppressionColumns = true))
    val grid = v.refresh()
    assert(grid.columns.toSeq == Seq("t", "Sales", "Cost")) // Plan dropped, order kept
    assert(v.stats.columns == 2)
    // without the flag the empty column renders
    val v2 = new View(cube, ViewDef(
      rows = AxisDef(Seq("t" -> Seq("Jan", "Feb"))),
      cols = AxisDef(Seq("m" -> Seq("Sales", "Plan", "Cost")))))
    assert(v2.refresh().columns.toSeq == Seq("t", "Sales", "Plan", "Cost"))
    // both suppressions together: Plan column gone AND all-empty rows gone
    val v3 = new View(cube, ViewDef(
      rows = AxisDef(Seq("t" -> Seq("Jan", "Feb"))),
      cols = AxisDef(Seq("m" -> Seq("Sales", "Plan"))),
      zeroSuppression = true, zeroSuppressionColumns = true))
    val g3 = v3.refresh().collect()
    assert(g3.map(_.getString(0)).toSeq == Seq("Jan")) // Feb has only Cost
  }

  test("ViewDef JSON round-trips the round-7 fields; legacy JSON gets defaults") {
    import graft.olap._
    val v = ViewDef(rows = AxisDef(Seq("t" -> Seq("Jan"))),
      cols = AxisDef(Seq("m" -> Seq("Sales"))),
      zeroSuppression = true, zeroSuppressionColumns = true,
      title = "Q1 report", description = "gross by month",
      defaultNumberFormat = Some("{:.1f}"))
    assert(ViewDef.fromJson(ViewDef.toJson(v)) == v)
    // pre-round-7 persisted definitions lack the fields — must parse, defaults
    val legacy = """{"filters":[],"rows":[{"dimension":"t","members":["Jan"]}],
      "columns":[{"dimension":"m","members":["Sales"]}],"zeroSuppression":false}"""
    val parsed = ViewDef.fromJson(legacy)
    assert(!parsed.zeroSuppressionColumns && !parsed.zeroSuppression)
    assert(parsed.title == "" && parsed.defaultNumberFormat.isEmpty)
  }

  test("default number format applies where the member carries none; member format wins") {
    import graft.olap._
    val db = new Database("r7_deffmt", spark)
    val t = db.addDimension("t")
    t.edit().add("All", Seq("Jan")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("Sales", "Cost")).commit()
    m.setFormat("Cost", "{:.3f}")
    val cube = db.addCube("c", Seq(t, m))
    cube.set(Seq("Jan", "Sales"), 1.5)
    cube.set(Seq("Jan", "Cost"), 2.5)
    val v = new View(cube, ViewDef(
      rows = AxisDef(Seq("t" -> Seq("Jan"))),
      cols = AxisDef(Seq("m" -> Seq("Sales", "Cost"))),
      defaultNumberFormat = Some("{:.1f}")))
    val csv = v.toCsv().split("\n")
    assert(csv(1) == "Jan,1.5,2.500", s"unexpected render: ${csv(1)}")
  }
}

object QueryViewSpec {
  /** t: All → (Jan, Feb); m: Sales, Cost, Profit(=Sales−Cost), Margin(=Profit/Sales). */
  def profitModel(spark: SparkSession): (Database, Cube) = {
    val db = new Database("r3", spark)
    val t = db.addDimension("t")
    t.edit().add("All", Seq("Jan", "Feb")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("Sales", "Cost", "Profit", "Margin")).commit()
    val cube = db.addCube("c", Seq(t, m))
    cube.registerRule(RuleDef(Map("m" -> "Profit"), RuleScope.AllLevels,
      RuleExpr.Sub(RuleExpr.Ref("Sales"), RuleExpr.Ref("Cost")), "profit"))
    cube.registerRule(RuleDef(Map("m" -> "Margin"), RuleScope.AllLevels,
      RuleExpr.Div(RuleExpr.Ref("Profit"), RuleExpr.Ref("Sales")), "margin"))
    cube.set(Seq("Jan", "Sales"), 10.0)
    cube.set(Seq("Jan", "Cost"), 4.0)
    cube.set(Seq("Feb", "Sales"), 20.0)
    cube.set(Seq("Feb", "Cost"), 5.0)
    (db, cube)
  }
}
