package graft

import graft.core._
import graft.olap._
import graft.ops.Relational
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Regression specs for the round-2 correctness fixes: sessionize sub-second
  * gap arithmetic, cross-cell rule cycle detection, rollback of aliases and
  * attribute values.
  */
class Round2FixesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("sessionize keeps sub-second gap fractions (µs arithmetic)") {
    import spark.implicits._
    // gap threshold 1800 s; second pair straddles it only via the fraction:
    // 1800.5 s apart but only 1800 whole seconds — truncating arithmetic
    // would (wrongly) keep them in one session.
    val rows = Seq(
      (1, java.sql.Timestamp.valueOf("2024-01-01 00:00:10.200"), 1L),
      (1, java.sql.Timestamp.valueOf("2024-01-01 00:30:10.700"), 2L), // +1800.5s → new session
      (1, java.sql.Timestamp.valueOf("2024-01-01 01:00:10.600"), 3L)  // +1799.9s → same session
    ).toDF("user_id", "ts", "event_id")
    val out = Relational.sessionize(rows, "user_id", "ts", "event_id", 1800)
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L)
    assert(out(2L) == 2L)
    assert(out(3L) == 2L)
  }

  test("cross-cell rule cycles raise a descriptive error, not StackOverflow") {
    val db = new Database("cyc", spark)
    val m = db.addDimension("m")
    m.edit().addMany(Seq("a", "b", "c")).commit()
    val cube = db.addCube("c", Seq(m))
    cube.registerRule(RuleDef(Map("m" -> "a"), RuleScope.AllLevels, RuleExpr.Ref("b"), "a_from_b"))
    cube.registerRule(RuleDef(Map("m" -> "b"), RuleScope.AllLevels, RuleExpr.Ref("a"), "b_from_a"))
    val e = intercept[IllegalStateException](cube.get(Seq("a")))
    assert(e.getMessage.contains("circular rule reference"))
    // self-reference is the degenerate cycle
    cube.registerRule(RuleDef(Map("m" -> "c"), RuleScope.AllLevels, RuleExpr.Ref("c"), "self"))
    val e2 = intercept[IllegalStateException](cube.get(Seq("c")))
    assert(e2.getMessage.contains("circular rule reference"))
  }

  test("rollback restores aliases and attribute values removed mid-edit") {
    val d = new Dimension("r")
    d.edit().add("All", Seq("a", "b")).commit()
    d.addAlias("alpha", "a")
    d.addAttribute("color")
    d.setAttribute("color", "a", "red")
    d.setAttribute("color", "b", "blue")
    d.edit(); d.remove("a"); d.rollback()
    assert(d.contains("alpha") && d.idOf("alpha") == d.idOf("a"))
    assert(d.getAttribute("color", "a").contains("red"))
    assert(d.getAttribute("color", "b").contains("blue"))
  }

  test("payload cells: typed read-back, rollup skip, number replaces text") {
    val db = new Database("pay", spark)
    val t = db.addDimension("t")
    t.edit().add("All", Seq("Jan", "Feb")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("Sales")).commit()
    val cube = db.addCube("c", Seq(t, m))
    cube.set(Seq("Jan", "Sales"), 10.0)
    cube.set(Seq("Feb", "Sales"), 5.0)
    assert(cube.get(Seq("All", "Sales")).contains(15.0))
    // text replaces the number: numeric read empty, typed read returns it,
    // rollup skips the cell (float-only aggregation)
    cube.setPayload(Seq("Feb", "Sales"), "todo: revisit")
    assert(cube.get(Seq("Feb", "Sales")).isEmpty)
    assert(cube.getCell(Seq("Feb", "Sales")).contains(CellValue.Text("todo: revisit")))
    assert(cube.get(Seq("All", "Sales")).contains(10.0))
    // record enumeration surfaces the payload cell
    val recs = cube.fullArea.recordsWithPayloads
    assert(recs.filter(recs("payload").isNotNull).count() == 1)
    assert(recs.count() == 2)
    // error-shaped payloads read back as Err; save/load round-trips payloads
    cube.setPayload(Seq("Jan", "Sales"), "#REF!")
    assert(cube.getCell(Seq("Jan", "Sales")).contains(CellValue.Err("#REF!")))
    val dir = java.nio.file.Files.createTempDirectory("graftpay").toString
    db.save(dir)
    val db2 = Database.load(dir, spark)
    assert(db2.cube("c").getCell(Seq("Feb", "Sales")).contains(CellValue.Text("todo: revisit")))
    // writing a number clears the payload again
    cube.set(Seq("Feb", "Sales"), 7.0)
    assert(cube.getPayload(Seq("Feb", "Sales")).isEmpty)
    assert(cube.get(Seq("Feb", "Sales")).contains(7.0))
  }

  test("dialect: chained rule measures compute inside the grid job") {
    val db = new Database("dchain", spark)
    val t = db.addDimension("t")
    t.edit().addMany(Seq("r1")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("a", "b", "x", "y")).commit()
    val cube = db.addCube("c", Seq(t, m))
    cube.registerRule(RuleDef(Map("m" -> "x"), RuleScope.AllLevels,
      RuleParser.parse("[a] - [b]"), "x_rule"))
    cube.registerRule(RuleDef(Map("m" -> "y"), RuleScope.AllLevels,
      RuleParser.parse("[x] / [a]"), "y_rule"))
    cube.set(Seq("r1", "a"), 10.0)
    cube.set(Seq("r1", "b"), 4.0)
    val got = OlapQuery(db, "SELECT m, value FROM c WHERE t='r1', m=('a','y')")
      .collect().map(r => r.getAs[String]("m") -> r.getAs[Number]("value").doubleValue()).toMap
    assert(got("a") == 10.0)
    assert(math.abs(got("y") - 0.6) < 1e-12)
  }

  test("grid rules match by resolved id: alias-spelled members compute") {
    val db = new Database("alias", spark)
    val t = db.addDimension("t")
    t.edit().addMany(Seq("r1")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("Sales", "Cost", "Profit")).commit()
    m.addAlias("GM", "Profit")
    val cube = db.addCube("c", Seq(t, m))
    cube.registerRule(RuleDef(Map("m" -> "Profit"), RuleScope.AllLevels,
      RuleParser.parse("[Sales] - [Cost]"), "profit_rule"))
    cube.set(Seq("r1", "Sales"), 10.0)
    cube.set(Seq("r1", "Cost"), 4.0)
    // view requests the ALIAS spelling — must still hit the rule (id match),
    // not silently read the empty stored column
    val v = new olap.View(cube, olap.ViewDef(
      rows = olap.AxisDef(Seq("t" -> Seq("r1"))),
      cols = olap.AxisDef(Seq("m" -> Seq("GM")))))
    assert(v.refresh().collect().head.getAs[Double]("GM") == 6.0)
    assert(cube.get(Seq("r1", "GM")).contains(6.0)) // scalar agrees
  }

  test("multi-entry rule triggers: pinned applies, excluded is stored, mixed rejects") {
    val db = new Database("pin", spark)
    val t = db.addDimension("t")
    t.edit().addMany(Seq("r1", "r2")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("a", "x")).commit()
    val cube = db.addCube("c", Seq(t, m))
    cube.registerRule(RuleDef(Map("m" -> "x", "t" -> "r1"), RuleScope.AllLevels,
      RuleParser.parse("[a] * 2"), "x_at_r1"))
    cube.set(Seq("r1", "a"), 5.0)
    cube.set(Seq("r2", "a"), 7.0)
    cube.set(Seq("r2", "x"), 99.0) // stored value where the rule never fires
    def q(where: String) =
      OlapQuery(db, s"SELECT t, m, value FROM c WHERE $where, m=('a','x')")
        .collect().map(r => (r.getAs[String]("t"), r.getAs[String]("m")) ->
          r.getAs[Number]("value").doubleValue()).toMap
    // trigger pinned to the single selected member → rule applies
    assert(q("t='r1'")(("r1", "x")) == 10.0)
    // selection excludes the trigger member → rule never fires, stored wins
    assert(q("t='r2'")(("r2", "x")) == 99.0)
    // selection mixes matching and non-matching rows → explicit rejection,
    // never a silently-wrong grid
    intercept[UnsupportedOperationException](q("t=('r1','r2')"))
    // scalar path for comparison
    assert(cube.get(Seq("r1", "x")).contains(10.0))
    assert(cube.get(Seq("r2", "x")).contains(99.0))
  }

  test("telescoping shift chains longer than 16 positions evaluate") {
    val db = new Database("tele", spark)
    val t = db.addDimension("t")
    t.edit().addMany((1 to 25).map(i => s"p$i")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("v", "cum")).commit()
    val cube = db.addCube("c", Seq(t, m))
    // cum(p_k) = v(p_k) + cum(p_{k-1}) — telescopes across all 25 positions
    cube.registerRule(RuleDef(Map("m" -> "cum"), RuleScope.AllLevels,
      RuleExpr.Add(RuleExpr.Ref("v"), RuleExpr.Shift("t", -1)), "cum_rule"))
    (1 to 25).foreach(i => cube.set(Seq(s"p$i", "v"), 1.0))
    assert(cube.get(Seq("p25", "cum")).contains(25.0))
  }

  test("cell object, read counters, and database-level sugar") {
    val db = new Database("cellapi", spark)
    val t = db.addDimension("t")
    t.edit().add("All", Seq("Jan", "Feb")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("Sales", "Cost")).commit()
    val cube = db.addCube("c", Seq(t, m))
    cube.set(Seq("Jan", "Sales"), 10.0)
    cube.set(Seq("Feb", "Sales"), 5.0)
    cube.set(Seq("Jan", "Cost"), 4.0)
    // cell navigation + arithmetic
    val c = cube.cell("Jan", "Sales")
    assert(c.value.contains(10.0) && !c.isAggregated)
    assert(c.alter("t" -> "Feb").value.contains(5.0))
    assert(c.shift("t", 1).value.contains(5.0)) // Jan → Feb in member order
    assert(c - c.alter("m" -> "Cost") == 6.0)
    assert(c.member("t").name == "Jan")
    val top = cube.cell("All", "Sales")
    assert(top.isAggregated && top.value.contains(15.0))
    // counters: second identical read is a cache hit; rollup counted
    // (fresh address — (All, Sales) is already cached from the reads above)
    cube.resetCounters()
    cube.get(Seq("All", "Cost")); cube.get(Seq("All", "Cost"))
    assert(cube.counterCellRequests == 2)
    assert(cube.counterCacheHits == 1)
    assert(cube.counterAggregations == 1)
    // database-level passthrough + existence checks + caching switch
    assert(db.get("c", Seq("Jan", "Sales")).contains(10.0))
    assert(db.cubeExists("c") && db.dimensionExists("t") && !db.dimensionExists("zz"))
    intercept[IllegalArgumentException](db.removeDimension("t")) // in use
    db.caching = false
    assert(!cube.cacheEnabled)
    db.caching = true
    // cube.clear drops everything
    cube.clear()
    assert(cube.cellsCount == 0 && cube.get(Seq("All", "Sales")).isEmpty)
  }

  test("snapshot manager: create, inventory, restore, delete") {
    val db = new Database("snap", spark)
    val t = db.addDimension("t")
    t.edit().add("All", Seq("Jan", "Feb")).commit()
    val cube = db.addCube("c", Seq(t))
    cube.set(Seq("Jan"), 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graftsnaps").toString
    val mgr = db.snapshots(dir)
    val s1 = mgr.create("before feb")
    cube.set(Seq("Feb"), 2.0)
    Thread.sleep(5) // distinct timestamp ids
    val s2 = mgr.create("after feb")
    assert(mgr.list.map(_.id) == Seq(s1.id, s2.id))
    assert(mgr(s1.id).description == "before feb")
    // a fresh manager over the same folder rediscovers the inventory
    assert(db.snapshots(dir).size == 2)
    // restore the older snapshot: Feb is gone there, Jan survives
    val oldDb = mgr.restore(s1.id)
    assert(oldDb.cube("c").get(Seq("Feb")).isEmpty)
    assert(oldDb.cube("c").get(Seq("All")).contains(1.0))
    // the restore wrote a safety restore point (unmanaged, ≙ reference)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator(); var restorePoints = 0
    while (files.hasNext) if (files.next().toString.endsWith(".restore")) restorePoints += 1
    assert(restorePoints == 1)
    // a no-bounds wipe must be explicit
    intercept[IllegalArgumentException] { mgr.delete() }
    assert(mgr.size == 2)
    assert(mgr.delete(all = true) == 2 && mgr.size == 0)
  }
}
