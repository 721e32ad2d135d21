package graft

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 behavioral parity fixes.
  *
  * Member removal: the reference deletes facts of removed members when the
  * dimension edit commits (`dimension.py:1079-1081` → `facttable.py:375-420`);
  * the engine now does the same for every cube registered on the dimension —
  * no manual `purgeUnknownMembers()` step, no window where the new hierarchy
  * reads old orphan facts (the identity-rollup elision scans raw fact ids, so
  * an unpurged orphan is counted in top cells but invisible to leaf reads).
  */
class Round7FixesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def model(tag: String): (Database, Cube) = {
    val db = new Database(s"r7_$tag", spark)
    val d = db.addDimension("d")
    d.edit().add("All", Seq("x", "y", "z")).commit()
    val o = db.addDimension("o")
    o.edit().add("ALL", Seq("p", "q")).commit()
    (db, db.addCube("c", Seq(d, o)))
  }

  test("dimension commit auto-purges facts of removed members — no manual step") {
    val (db, cube) = model("auto")
    cube.set(Seq("x", "p"), 10.0)
    cube.set(Seq("y", "p"), 5.0)
    cube.set(Seq("z", "q"), 2.0)
    cube.compact() // removed member facts must purge from BASE, not just overlay
    assert(cube.get(Seq("All", "ALL")).contains(17.0))
    db.dimension("d").edit().remove("y").commit()
    // IMMEDIATELY after commit — the top cell (identity elision, raw-id scan)
    // must never transit through the 15.0+2.0 double-count state
    assert(cube.get(Seq("All", "ALL")).contains(12.0))
    assert(cube.cellsCount == 2)
  }

  test("auto-purge drops pending OVERLAY writes and payloads of the removed member") {
    val (db, cube) = model("overlay")
    cube.set(Seq("x", "p"), 1.0)
    cube.set(Seq("y", "p"), 100.0)        // overlay-only — never compacted
    cube.setPayload(Seq("y", "q"), "note") // payload at the removed member
    db.dimension("d").edit().remove("y").commit()
    assert(cube.get(Seq("All", "ALL")).contains(1.0))
    assert(cube.payloadCount == 0)
  }

  test("every cube on the dimension purges; unrelated cubes are untouched") {
    val (db, cube) = model("multi")
    val second = db.addCube("c2", cube.dimensions)
    val other = {
      val w = db.addDimension("w"); w.edit().add("W", Seq("u", "v")).commit()
      val c = db.addCube("c3", Seq(w))
      c.set(Seq("u"), 7.0); c
    }
    cube.set(Seq("y", "p"), 5.0)
    second.set(Seq("y", "q"), 6.0)
    second.set(Seq("z", "q"), 1.0)
    db.dimension("d").edit().remove("y").commit()
    assert(cube.get(Seq("All", "ALL")).isEmpty)
    assert(second.get(Seq("All", "ALL")).contains(1.0))
    assert(other.get(Seq("W")).contains(7.0))
  }

  test("a plain commit (no removal) refreshes registered cubes' closures") {
    val (db, cube) = model("closure")
    cube.set(Seq("x", "p"), 3.0)
    assert(cube.get(Seq("All", "ALL")).contains(3.0)) // closure df now cached
    db.dimension("d").edit().add("All", Seq("w")).commit()
    cube.set(Seq("w", "p"), 4.0)
    // without the auto refreshClosures the cached closure would miss 'w'
    assert(cube.get(Seq("All", "ALL")).contains(7.0))
    // the All cover memo refreshed too: All still identity-covers x,z,w
    val d = db.dimension("d")
    assert(d.coversAllLeavesUnit(d.idOf("All")))
  }

  test("rollback after remove() leaves cubes untouched — no purge fires") {
    val (db, cube) = model("rollback")
    cube.set(Seq("y", "p"), 5.0)
    db.dimension("d").edit()
    db.dimension("d").remove("y")
    db.dimension("d").rollback()
    assert(cube.get(Seq("All", "ALL")).contains(5.0))
    assert(cube.get(Seq("y", "p")).contains(5.0))
  }

  test("importNamedReport counts dropped records exactly; strict import throws") {
    import spark.implicits._
    import graft.sources.FactSources
    val (_, cube) = model("import")
    val good = Seq(("x", "p", 1.0), ("y", "q", 2.0), ("Z", "P", 3.0)) // case-insensitive
    val junk = Seq(
      ("nope", "p", 99.0),  // unknown member
      ("All", "p", 99.0),   // aggregate-addressed (leaf-only contract)
      ("x", "ALL", 99.0),   // aggregate on the other dim
      ("x", "zzz", 99.0))   // unknown on the other dim
    val recs = (good ++ junk).toDF("d", "o", "value")
    val report = FactSources.importNamedReport(cube, recs)
    assert(report.inputRows == 7 && report.resolvedRows == 3 && report.droppedRows == 4)
    assert(report.facts.count() == 3)
    // the fast path loads the identical frame (silently)
    assert(FactSources.importNamed(cube, recs).count() == 3)
    val e = intercept[IllegalArgumentException](FactSources.importNamedStrict(cube, recs))
    assert(e.getMessage.contains("4 of 7"))
    // a clean feed passes strict and reports zero drops
    val clean = good.toDF("d", "o", "value")
    assert(FactSources.importNamedStrict(cube, clean).count() == 3)
    assert(FactSources.importNamedReport(cube, clean).droppedRows == 0)
  }

  test("renameMember keeps ids stable: facts, aliases, attributes, subsets follow") {
    val (db, cube) = model("rename")
    val d = db.dimension("d")
    d.addAttribute("color"); d.setAttribute("color", "y", "blue")
    d.addAlias("why", "y")
    d.addSubset("pair", Seq("x", "y"))
    cube.set(Seq("y", "p"), 5.0)
    d.edit().renameMember("y", "why-not").commit()
    // facts address the member by id — the value travels to the new name
    assert(cube.get(Seq("why-not", "p")).contains(5.0))
    assert(cube.get(Seq("All", "ALL")).contains(5.0))
    assert(!d.contains("y") || d.idOf("y") == d.idOf("why-not")) // old name gone (alias may still point)
    assert(d.getAttribute("color", "why-not").contains("blue"))
    assert(d.member("why").name == "why-not") // alias follows the id
    // static subsets listing the old name are rewritten
    assert(d.subset("pair").map(_.name).toSet == Set("x", "why-not"))
    // collision rejected
    d.edit()
    intercept[IllegalArgumentException](d.renameMember("x", "why-not"))
    d.rollback()
  }

  test("rollback restores names and subset rewrites after renameMember") {
    val (db, cube) = model("renrollback")
    val d = db.dimension("d")
    d.addSubset("pair", Seq("x", "y"))
    cube.set(Seq("y", "p"), 7.0)
    d.edit().renameMember("y", "zz")
    d.rollback()
    assert(d.contains("y") && !d.contains("zz"))
    assert(d.subset("pair").map(_.name).toSet == Set("x", "y"))
    assert(cube.get(Seq("y", "p")).contains(7.0))
  }

  test("attribute and subset rename/removal keep values and reject while editing") {
    val (db, _) = model("attrren")
    val d = db.dimension("d")
    d.addAttribute("color"); d.setAttribute("color", "x", "red")
    d.addSubset("pair", Seq("x", "y"))
    d.renameAttribute("color", "colour")
    assert(d.getAttribute("colour", "x").contains("red"))
    assert(!d.hasAttribute("color"))
    d.renameSubset("pair", "duo")
    assert(d.hasSubset("duo") && !d.hasSubset("pair"))
    assert(d.subset("duo").map(_.name).toSet == Set("x", "y"))
    d.edit()
    intercept[IllegalArgumentException](d.renameAttribute("colour", "c2"))
    intercept[IllegalArgumentException](d.renameSubset("duo", "s2"))
    d.rollback()
    d.removeSubset("duo"); d.removeAttribute("colour")
    assert(!d.hasSubset("duo") && !d.hasAttribute("colour"))
  }

  test("weighted-aggregation counter counts only rollups carrying a weight factor") {
    val db = new Database("r7_wcount", spark)
    val m = db.addDimension("m")
    m.edit().addMany(Seq("Sales", "Cost"))
      .add("Profit", Seq("Sales", "Cost"), Seq(1.0, -1.0)).commit()
    val o = db.addDimension("o")
    o.edit().add("ALL", Seq("p")).commit()
    val cube = db.addCube("c", Seq(m, o))
    cube.cacheEnabled = false
    cube.set(Seq("Sales", "p"), 10.0)
    cube.set(Seq("Cost", "p"), 4.0)
    cube.resetCounters()
    assert(cube.get(Seq("Profit", "p")).contains(6.0)) // [-1] weight factor
    assert(cube.counterWeightedAggregations == 1)
    assert(cube.get(Seq("Sales", "ALL")).contains(10.0)) // unit-weight rollup
    assert(cube.counterWeightedAggregations == 1)
    assert(cube.counterAggregations == 2)
  }

  test("Area.alter derives a moved slice; addresses enumerates with or without data") {
    val (_, cube) = model("areaalter")
    cube.set(Seq("x", "p"), 1.0)
    cube.set(Seq("y", "p"), 2.0)
    cube.set(Seq("y", "q"), 3.0)
    val a = Area(cube, Seq("d" -> Seq("y")))
    assert(a.sum.contains(5.0))
    val moved = a.alter("d" -> Seq("x"))
    assert(moved.sum.contains(1.0))
    assert(a.sum.contains(5.0)) // original untouched
    // stored addresses: only cells that exist
    val stored = a.addresses().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(stored == Set(("y", "p"), ("y", "q")))
    // enumerated: full leaf cross-product of the pattern, data or not
    val enumd = a.addresses(enumerateDataSpace = true).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(enumd == Set(("y", "p"), ("y", "q")))
    val all = Area(cube, Seq("d" -> Seq("x", "y"))).addresses(enumerateDataSpace = true)
    assert(all.count() == 4) // (x,y) × (p,q), including empty (x,q)
  }

  test("history time-travel by timestamp restores the as-of state") {
    val (_, cube) = model("histtime")
    cube.enableHistory()
    cube.set(Seq("x", "p"), 1.0)
    val afterFirst = System.currentTimeMillis()
    Thread.sleep(5)
    cube.set(Seq("x", "p"), 2.0)
    cube.set(Seq("y", "p"), 3.0)
    assert(cube.history.countBetween() == 4) // initial + 3 writes
    assert(cube.history.anyBetween(fromMs = afterFirst))
    assert(cube.history.goToTime(afterFirst))
    assert(cube.get(Seq("x", "p")).contains(1.0)) // as-of state
    assert(cube.get(Seq("y", "p")).isEmpty)
    assert(!cube.history.goToTime(0L)) // before the log — nothing to restore
    assert(cube.history.redo()) // the redo tail survives a time jump
    assert(cube.get(Seq("x", "p")).contains(2.0))
  }

  test("commit-time purge matches a from-scratch oracle over random weighted DAGs") {
    // seeded pseudo-property: random two-parent weighted DAGs (including
    // zero/negative weights and occasional identity covers — the elision
    // path), one random leaf removed, aggregates compared against sums
    // recomputed from the GENERATED structure, never the engine's closure
    val rnd = new scala.util.Random(42)
    (1 to 6).foreach { k =>
      val nLeaves = 3 + rnd.nextInt(4)
      val leaves = (0 until nLeaves).map(i => s"L$i")
      def pick(): Seq[String] = {
        val s = leaves.filter(_ => rnd.nextBoolean())
        if (s.isEmpty) Seq(leaves(rnd.nextInt(nLeaves))) else s
      }
      val p1 = pick(); val w1 = p1.map(_ => (rnd.nextInt(4) - 1).toDouble)
      val p2 = pick(); val w2 = p2.map(_ => (rnd.nextInt(4) - 1).toDouble)
      val db = new Database(s"r7_purgeprop$k", spark)
      val d = db.addDimension("d")
      d.edit()
      leaves.foreach(l => d.add(l))
      d.add("P1", p1, w1)
      d.add("P2", p2, w2)
      d.add("All", Seq("P1", "P2"))
      d.commit()
      val o = db.addDimension("o"); o.edit().add("ALL", Seq("p")).commit()
      val cube = db.addCube("c", Seq(d, o))
      val values = leaves.zipWithIndex.map { case (l, i) => l -> (i + 1) * 10.0 }.toMap
      values.foreach { case (l, v) => cube.set(Seq(l, "p"), v) }
      val removed = leaves(rnd.nextInt(nLeaves))
      d.edit().remove(removed).commit()
      val surviving = leaves.filterNot(_ == removed)
      def wOf(sel: Seq[String], ws: Seq[Double], l: String): Double =
        sel.zip(ws).find(_._1 == l).map(_._2).getOrElse(0.0)
      def expected(sel: Seq[String], ws: Seq[Double]): Option[Double] = {
        val terms = surviving.filter(sel.contains)
        if (terms.isEmpty) None
        else Some(terms.map(l => wOf(sel, ws, l) * values(l)).sum)
      }
      val expAll = {
        val reach = surviving.filter(l => p1.contains(l) || p2.contains(l))
        if (reach.isEmpty) None
        else Some(reach.map(l => (wOf(p1, w1, l) + wOf(p2, w2, l)) * values(l)).sum)
      }
      val ctx = s"case $k: p1=$p1 w1=$w1 p2=$p2 w2=$w2 removed=$removed"
      assert(cube.get(Seq("P1", "ALL")) == expected(p1, w1), s"$ctx P1")
      assert(cube.get(Seq("P2", "ALL")) == expected(p2, w2), s"$ctx P2")
      assert(cube.get(Seq("All", "ALL")) == expAll, s"$ctx All")
      surviving.foreach(l =>
        assert(cube.get(Seq(l, "p")).contains(values(l)), s"$ctx leaf $l"))
      assert(!d.contains(removed), s"$ctx removed name must be gone")
      intercept[NoSuchElementException](cube.get(Seq(removed, "p")))
    }
  }

  test("remove-then-re-add a member: purge, then fresh writes under the new id " +
      "(≙ tests/test_database_operations.py)") {
    val db = new Database("r7_readd", spark)
    val foo = db.addDimension("foo")
    foo.edit().add("total", Seq("a", "b", "c")).commit()
    val bar = db.addDimension("bar")
    bar.edit().add("total", Seq("x", "y", "z")).commit()
    val cube = db.addCube("cube", Seq(foo, bar))
    for (m1 <- Seq("a", "b", "c"); m2 <- Seq("x", "y", "z"))
      cube.set(Seq(m1, m2), 1.0)
    assert(cube.get(Seq("total", "total")).contains(9.0))
    // remove b: its 3 facts purge at commit
    foo.edit().remove("b").commit()
    assert(cube.get(Seq("total", "total")).contains(6.0))
    Seq("a", "c").foreach(m => assert(cube.get(Seq(m, "total")).contains(3.0)))
    Seq("x", "y", "z").foreach(m => assert(cube.get(Seq("total", m)).contains(2.0)))
    // re-add b (fresh id), re-fill its row — totals return to 9
    foo.edit().add("total", Seq("b")).commit()
    Seq("x", "y", "z").foreach(m => cube.set(Seq("b", m), 1.0))
    assert(cube.get(Seq("total", "total")).contains(9.0))
    Seq("a", "b", "c").foreach(m => assert(cube.get(Seq(m, "total")).contains(3.0)))
    Seq("x", "y", "z").foreach(m => assert(cube.get(Seq("total", m)).contains(3.0)))
  }

  test("member names reject control characters (≙ naming conventions)") {
    val d = new Dimension("naming")
    d.edit()
    Seq("we", "are", "123", "ððð➜₥ℌ℉≥∭♖☀︎☀⚽︎︎").foreach(n => d.add(n))
    Seq("no \t tabs", "no \n newlines", "no \r cr").foreach { n =>
      intercept[IllegalArgumentException](d.add(n))
    }
    d.commit()
    assert(d.contains("ððð➜₥ℌ℉≥∭♖☀︎☀⚽︎︎") && !d.contains("no \t tabs"))
    // renames are held to the same convention
    d.edit()
    intercept[IllegalArgumentException](d.renameMember("we", "bad\tname"))
    d.rollback()
  }

  test("compact() reports whether the swap landed") {
    val (_, cube) = model("compactbool")
    cube.set(Seq("x", "p"), 1.0)
    assert(cube.compact(), "clean compact must report swapped=true")
    // a bulk write mid-materialization abandons the swap — observable now
    val aborted = cube.compactImpl { () =>
      cube.replaceFacts(cube.facts.withColumn("value",
        org.apache.spark.sql.functions.col("value") * 2))
    }
    assert(!aborted, "superseded compact must report swapped=false")
    assert(cube.get(Seq("x", "p")).contains(2.0)) // the bulk write survived
    assert(cube.compact(), "retry after abort must land")
  }
}
