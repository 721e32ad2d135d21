package graft

import graft.core.{Cube, Database, Dimension}
import graft.olap.{AxisDef, Rules, View, ViewDef, ViewWindow}
import graft.tpch.TpchModel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver grid kernel (`graft.core.DriverGrid`) against the Spark grid
  * plan. On the sf0.01 `sales` cube (decimal(21,4) facts) a cube over a
  * persisted base whose index a base read has built — served by the
  * kernel — must answer string for string
  * what a cube over the same facts behind an unpersisted frame — served by
  * Spark — answers (a `select("*")` of a cached frame reports the cache's
  * storage level, so the reference re-wraps the rows instead): cells, grids (schema included), ruled grids
  * and views, clean and after writes, deletes and payloads. Every condition
  * the kernel leaves alone must reach the Spark plan with the kernel
  * counter unmoved, and readers racing writes and a base swap must see the
  * state before or after the race, never a mix.
  */
class DriverGridSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private lazy val model = TpchModel.get(spark, "/root/testdata/sf0.01")
  private lazy val facts: DataFrame = {
    val p = model.cube.facts.select("*").persist()
    p.count()
    p
  }

  /** A cube over `base` with the model's dimensions and rules. */
  private def cubeOver(name: String, base: DataFrame): Cube = {
    val c = new Cube(name, model.cube.dimensions, spark, Some(base))
    model.cube.rules.foreach(c.registerRule)
    c.cacheEnabled = false
    c
  }

  private def pair(tag: String): (Cube, Cube) = {
    val r = facts.head()
    val idx = indexed(cubeOver(s"dg_idx_$tag", facts),
      (0 until 4).map(i => model.cube.dimensions(i).nameOf(r.getInt(i))))
    (idx, cubeOver(s"dg_ref_$tag", spark.createDataFrame(facts.rdd, facts.schema)))
  }

  /** `c` after one base read at `addr`, which builds its point index — the
    * kernel only serves from an index base reads have put in place. */
  private def indexed(c: Cube, addr: Seq[String]): Cube = {
    c.get(addr)
    assert(c.pointIndexEnabled, s"a base read of cube '${c.name}' must build its index")
    c
  }

  /** Members of a dimension by level, the measures without the rule. */
  private def levels(d: Dimension): IndexedSeq[IndexedSeq[Int]] =
    (0 to d.topLevel).map(l => d.membersByLevel(l).map(_.id)).filter(_.nonEmpty)

  private def pick[A](rnd: scala.util.Random, xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))

  /** 1–3 members of random levels per dimension; measures from `measures`. */
  private def randomSelections(rnd: scala.util.Random, measures: IndexedSeq[String]): Seq[Seq[Int]] =
    model.cube.dimensions.zipWithIndex.map { case (d, i) =>
      if (i == 3) rnd.shuffle(measures).take(1 + rnd.nextInt(3)).map(d.idOf)
      else Seq.fill(1 + rnd.nextInt(3))(pick(rnd, pick(rnd, levels(d)))).distinct
    }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private val stored = IndexedSeq("quantity", "gross", "disc_amt", "plan", "net")

  /** Every read face of `idx` equals the same read of `ref`, string for
    * string; the kernel served `idx` and never `ref`. */
  private def assertParity(idx: Cube, ref: Cube, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val driverBefore = idx.counterDriverAggregations
    for (_ <- 0 until 120) {
      val addr = randomSelections(rnd, stored :+ "margin").zipWithIndex.map { case (s, i) =>
        model.cube.dimensions(i).nameOf(s.head) }
      assert(idx.get(addr).toString == ref.get(addr).toString, s"cell ${addr.mkString("/")}")
    }
    for (_ <- 0 until 40) {
      val sels = randomSelections(rnd, stored)
      val (a, b) = (idx.gridAggregate(sels), ref.gridAggregate(sels))
      assert(a.schema == b.schema, s"schema of grid $sels")
      assert(rows(a) == rows(b), s"grid $sels")
    }
    for (_ <- 0 until 20) {
      val sels = randomSelections(rnd, stored :+ "margin")
      assert(rows(Rules.ruledGrid(idx, sels)) == rows(Rules.ruledGrid(ref, sels)), s"ruled grid $sels")
    }
    val regions = model.geo.membersByLevel(2).map(_.name)
    val years = model.calendar.membersByLevel(2).map(_.name)
    val views = Seq(
      ViewDef(filters = Seq("calendar" -> years.head, "product" -> "AllBrands"),
        rows = AxisDef(Seq("geo" -> regions)),
        cols = AxisDef(Seq("measures" -> Seq("gross", "net", "margin", "quantity")))),
      ViewDef(filters = Seq("product" -> "AllTypes", "measures" -> "net"),
        rows = AxisDef(Seq("geo" -> regions)), cols = AxisDef(Seq("calendar" -> years))))
    views.foreach(v => assert(new View(idx, v).toJson() == new View(ref, v).toJson(), s"view $v"))
    assert(idx.counterDriverAggregations > driverBefore, "the persisted cube must reach the kernel")
    assert(ref.counterDriverAggregations == 0L, "an unpersisted base must stay on the Spark plan")
  }

  test("cells, grids, ruled grids and views equal the Spark path exactly, clean and after writes") {
    val (idx, ref) = pair("parity")
    assertParity(idx, ref, 951L)
    // the same writes on both: upserts (some at half-up rounding digits, some
    // over existing base cells), deletes of base cells, and payloads
    val rnd = new scala.util.Random(952L)
    val based = facts.limit(40).collect().toSeq
    def name(r: Row): Seq[String] = (0 until 4).map(i => model.cube.dimensions(i).nameOf(r.getInt(i)))
    val edits: Seq[Cube => Unit] =
      based.take(15).map { r =>
        val v = rnd.nextInt(100000) / 100.0 + 0.00005
        (c: Cube) => c.set(name(r), v)
      } ++
        based.slice(15, 25).map(r => (c: Cube) => c.delete(name(r))) ++
        based.slice(25, 30).map(r => (c: Cube) => c.setPayload(name(r), "note")) ++
        (0 until 15).map { _ =>
          val addr = Seq(pick(rnd, model.geo.leafMembers).name, pick(rnd, model.calendar.leafMembers).name,
            pick(rnd, model.product.leafMembers).name, pick(rnd, IndexedSeq("gross", "plan")))
          val v = rnd.nextInt(2000000) / 1000.0 - 1000.0
          (c: Cube) => c.set(addr, v)
        }
    edits.foreach { e => e(idx); e(ref) }
    assertParity(idx, ref, 953L)
  }

  /** Cartesian product in axis order, last list fastest. */
  private def cartesian[A](xs: Seq[Seq[A]]): Seq[Seq[A]] =
    xs.foldLeft(Seq(Seq.empty[A]))((acc, l) => acc.flatMap(p => l.map(p :+ _)))

  /** The grid a view must render, read cell by cell with `Cube.get`: column
    * names, then rows in axis order — a row is present when one of its
    * cells is (every layout here fetches only requested members), then row
    * and column zero suppression. */
  private def expectedView(c: Cube, v: ViewDef): (Seq[String], Seq[Seq[Any]]) = {
    def dimOf(n: String) = c.dimensions.indexWhere(_.name.equalsIgnoreCase(n))
    val positions = cartesian(v.cols.entries.map(_._2))
    def address(rt: Seq[String], pos: Seq[String]): Seq[String] = c.dimensions.indices.map { i =>
      val r = v.rows.entries.indexWhere(e => dimOf(e._1) == i)
      val p = v.cols.entries.indexWhere(e => dimOf(e._1) == i)
      if (r >= 0) rt(r) else if (p >= 0) pos(p)
      else v.filters.collectFirst { case (d, m) if dimOf(d) == i => m }.getOrElse(c.dimensions(i).defaultMember.name)
    }
    var rows = cartesian(v.rows.entries.map(_._2)).map(rt => rt -> positions.map(p => c.get(address(rt, p))))
      .filter(_._2.exists(_.isDefined))
    if (v.zeroSuppression) rows = rows.filter(_._2.map(_.fold(0.0)(math.abs)).sum != 0.0)
    val kept = positions.indices.filter(j => !v.zeroSuppressionColumns || rows.exists(_._2(j).exists(_ != 0.0)))
    (v.rows.entries.map(_._1) ++ kept.map(positions(_).mkString("/")),
      rows.map { case (rt, cells) => rt ++ kept.map(cells(_).map(Double.box).orNull) })
  }

  private def viewLayouts: Seq[ViewDef] = {
    val rnd = new scala.util.Random(961L)
    val regions = model.geo.membersByLevel(2).map(_.name)
    val years = model.calendar.membersByLevel(2).map(_.name)
    val months = model.calendar.membersByLevel(1).map(_.name)
    val brands = model.product("AllBrands").children.map(model.product.nameOf)
    val types = model.product("AllTypes").children.map(model.product.nameOf)
    def nationsOf(r: String) = model.geo(r).children.map(model.geo.nameOf)
    // the served benchmark's two layouts on every row/product shape …
    val served = (0 until 6).flatMap { i =>
      val rows = if (i % 2 == 0) AxisDef(Seq("geo" -> regions)) else AxisDef(Seq("geo" -> nationsOf(pick(rnd, regions))))
      val product = "product" -> (i % 3 match { case 0 => "AllBrands"; case 1 => pick(rnd, brands); case _ => pick(rnd, types) })
      Seq(
        ViewDef(filters = Seq("calendar" -> (if (i % 2 == 0) pick(rnd, years) else pick(rnd, months)), product),
          rows = rows, cols = AxisDef(Seq("measures" -> Seq("gross", "net", "margin", "quantity")))),
        ViewDef(filters = Seq(product, "measures" -> pick(rnd, IndexedSeq("gross", "net", "quantity"))),
          rows = rows, cols = AxisDef(Seq("calendar" -> years))))
    }
    // … plus suppression, an empty stored measure and a two-dimension column axis
    val month = months(rnd.nextInt(months.size))
    served ++ Seq(
      ViewDef(filters = Seq("product" -> brands.head, "calendar" -> month),
        rows = AxisDef(Seq("geo" -> regions.flatMap(nationsOf))),
        cols = AxisDef(Seq("measures" -> Seq("gross", "plan", "margin"))), zeroSuppression = true),
      ViewDef(filters = Seq("product" -> brands.head, "calendar" -> month),
        rows = AxisDef(Seq("geo" -> regions.flatMap(nationsOf))),
        cols = AxisDef(Seq("measures" -> Seq("plan", "margin", "quantity"))), zeroSuppressionColumns = true),
      ViewDef(filters = Seq("product" -> "AllBrands"), rows = AxisDef(Seq("geo" -> regions)),
        cols = AxisDef(Seq("calendar" -> years.take(3), "measures" -> Seq("gross", "margin", "plan"))),
        zeroSuppression = true, zeroSuppressionColumns = true))
  }

  test("views finish on the driver: an indexed cube, a collected Spark grid and per-cell reads agree") {
    val (idx, _) = pair("views")
    val cold = cubeOver("dg_views_cold", facts)
    val served = idx.counterDriverAggregations
    viewLayouts.foreach { v =>
      val (a, b) = (new View(idx, v), new View(cold, v))
      val (ga, gb) = (a.refresh(), b.refresh())
      assert(ga.isLocal && gb.isLocal, s"view $v")
      assert(ga.schema == gb.schema, s"schema of view $v")
      assert(ga.schema.map(_.dataType) == v.rows.entries.map(_ => StringType) ++
        Seq.fill(ga.schema.size - v.rows.entries.size)(DoubleType) && ga.schema.forall(_.nullable))
      val (cols, rows) = expectedView(idx, v)
      assert(ga.columns.toSeq == cols, s"columns of view $v")
      assert(ga.collect().map(_.toSeq).toSeq == rows, s"cells of view $v")
      assert(gb.collect().map(_.toSeq).toSeq == rows, s"cells of view $v on the Spark grid")
      assert(a.stats.rows == rows.size && a.stats.columns == cols.size - v.rows.entries.size)
      val json = a.toJson()
      assert(json == b.toJson(), s"JSON of view $v")
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val parsed = org.json4s.jackson.JsonMethods.parse(json).extract[List[Map[String, Any]]]
      assert(parsed.map(r => cols.map(r(_))) == rows.map(_.map {
        case d: java.lang.Double if d.isNaN => "#DIV/0!"
        case x => x
      }), s"parsed JSON of view $v")
      val w = ViewWindow(top = 1, left = 1, bottom = 3, right = 2)
      assert(a.collect(Some(w)) == b.collect(Some(w)), s"window of view $v")
      val keep = (0 until v.rows.entries.size) ++ (v.rows.entries.size until cols.size).slice(1, 3)
      assert(a.collect(Some(w)) == ((keep.map(cols), rows.slice(1, 4).map(r => keep.map(r)))))
      assert(a.toJson(Some(w)) == b.toJson(Some(w)) && a.toCsv() == b.toCsv() && a.toHtml() == b.toHtml())
    }
    assert(idx.counterDriverAggregations > served && cold.counterDriverAggregations == 0L)
  }

  test("dialect templates finish on the driver; a grid over the bound keeps the DataFrame plan") {
    val (idx, _) = pair("dialect")
    val cold = cubeOver("dg_dialect_cold", facts)
    val rnd = new scala.util.Random(962L)
    val regions = model.geo.membersByLevel(2).map(_.name)
    val nations = model.geo.membersByLevel(1).map(_.name)
    val years = model.calendar.membersByLevel(2).map(_.name)
    val brands = model.product("AllBrands").children.map(model.product.nameOf)
    val types = model.product("AllTypes").children.map(model.product.nameOf)
    def q(s: String) = s"'$s'"
    val sqls = Seq("gross", "net", "quantity", "margin").flatMap { m => Seq(
      s"SELECT calendar, value FROM sales WHERE geo=${q(pick(rnd, regions))}, calendar=h1_1995, " +
        s"product=${q(pick(rnd, brands))}, measures=$m",
      s"SELECT geo, calendar, value FROM sales WHERE geo=${rnd.shuffle(nations).take(3).map(q).mkString("(", ",", ")")}, " +
        s"calendar=${rnd.shuffle(years).take(2).map(q).mkString("(", ",", ")")}, product=${q(pick(rnd, types))}, measures=$m")
    } :+ s"SELECT product, value FROM sales WHERE geo=${q(pick(rnd, nations))}, calendar=${q(pick(rnd, years))}, " +
      "product='*', measures=gross"
    def on(c: Cube, sql: String) = new graft.olap.OlapQuery(model.db, sql, Some((_: String) => c))
    /** Each row's address and value (as a double), by projected field. */
    def cells(query: graft.olap.OlapQuery, df: DataFrame): Seq[(Seq[String], String)] = df.collect().toSeq.map { r =>
      val address = model.cube.dimensions.zipWithIndex.map { case (d, i) =>
        if (df.columns.contains(d.name)) r.getAs[String](d.name) else d.nameOf(query.selections(i).head)
      }
      address -> (r.getAs[Any]("value") match {
        case b: java.math.BigDecimal => b.doubleValue.toString
        case d: java.lang.Double => d.toString
      })
    }
    sqls.foreach { sql =>
      val (qa, qb) = (on(idx, sql), on(cold, sql))
      val (a, b) = (qa.execute(), qb.execute())
      assert(a.isLocal && b.isLocal, sql)
      assert(a.schema == b.schema, s"schema of $sql")
      // a ruled grid is double; an unruled one keeps the decimal sum
      assert(a.schema("value").dataType.isInstanceOf[DecimalType] != sql.contains("margin"), sql)
      assert(rows(a) == rows(b), sql)
      // every non-empty cell of the selection, each equal to its per-cell read
      val want = cartesian(qa.selections.zipWithIndex.map { case (s, i) => s.map(model.cube.dimensions(i).nameOf) })
        .flatMap(addr => idx.get(addr).map(addr -> _.toString))
      assert(cells(qa, a).sortBy(_._1.mkString("/")) == want.sortBy(_._1.mkString("/")), sql)
    }
    // a '*' cross product over the bound: the plan, paged like the REST route
    val big = "SELECT geo, calendar, value FROM sales WHERE geo='*', calendar='*', product=AllBrands, measures=gross"
    val qBig = on(idx, big)
    assert(qBig.selections.map(_.size.toLong).product > 65536L)
    val served = idx.counterDriverAggregations
    val page = qBig.execute()
    assert(!page.isLocal && idx.counterDriverAggregations == served)
    val got = cells(qBig, page.limit(10001)).take(50)
    assert(got.size == 50)
    got.foreach { case (addr, v) => assert(idx.get(addr).map(_.toString).contains(v), addr.mkString("/")) }
  }

  test("ruled decimal grids keep Spark's decimal arithmetic bit for bit") {
    val db = new Database("dg_dec", spark)
    val t = db.addDimension("t")
    t.edit().add("All", Seq("a", "b", "c")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("x", "y", "z", "sum", "diff", "sq", "ratio", "mix", "rnd", "dist", "cube")).commit()
    val dec = DecimalType(21, 4)
    def bd(s: String) = new java.math.BigDecimal(s)
    val facts = Seq(("a", "x", "1234567.1234"), ("a", "y", "0.0003"), ("a", "z", "7.7777"), ("b", "x", "-2.5000"),
      ("b", "y", "3.0001"), ("b", "z", "-0.0001"), ("c", "x", "99999999.9999"), ("c", "z", "0.0000"))
      .map { case (a, b, v) => Row(t.idOf(a), m.idOf(b), bd(v)) }
    val base = spark.createDataFrame(spark.sparkContext.parallelize(facts, 1), StructType(Seq(
      StructField("d0", IntegerType), StructField("d1", IntegerType), StructField("value", dec)))).persist()
    base.count()
    val c = db.addCube("c", Seq(t, m), base)
    import graft.olap.{RuleDef, RuleExpr, RuleScope}
    import RuleExpr._
    // deps first: 'dist' reads 'sum'
    val rules = Seq(
      "sum" -> Add(Ref("x"), Ref("y")),
      "diff" -> Sub(Ref("x"), Mul(Ref("y"), Ref("z"))),
      "sq" -> Mul(Ref("x"), Ref("x")),
      "ratio" -> Div(Ref("x"), Ref("z")),
      "mix" -> Add(Mul(Ref("x"), Lit(0.1)), Neg(Ref("y"))),
      "rnd" -> Fn("round", Mul(Ref("y"), Ref("x"))),
      "dist" -> Fn("abs", Sub(Ref("y"), Ref("sum"))),
      "cube" -> Mul(Mul(Ref("x"), Ref("x")), Mul(Ref("y"), Ref("z"))))
    rules.foreach { case (n, e) => c.registerRule(RuleDef(Map("m" -> n), RuleScope.AllLevels, e, n)) }
    val stored = Seq("x", "y", "z").map(m.idOf)
    val tSel = Seq("a", "b", "c", "All").map(t.idOf)
    // the expected bits: the same expressions as Spark decimal columns over
    // the pivoted stored grid, each cast to double
    val pivoted = c.gridAggregate(Seq(tSel, stored)).groupBy("a0")
      .pivot("a1", stored.map(Int.box)).agg(first("value"))
    val computed = rules.foldLeft(pivoted) { case (df, (n, e)) =>
      df.withColumn(m.idOf(n).toString, Rules.toColumnWith(spec => col(s"`${m.idOf(spec)}`"))(e))
    }
    val allM = stored ++ rules.map(r => m.idOf(r._1))
    val want = computed.collect().toSeq.flatMap { r =>
      allM.flatMap(id => Option(r.getAs[Any](id.toString)).map { v =>
        (r.getInt(0), id) -> java.lang.Double.doubleToRawLongBits(v match {
          case b: java.math.BigDecimal => b.doubleValue
          case d: java.lang.Double => d.doubleValue
        })
      })
    }.toMap
    assert(computed.schema(m.idOf("sq").toString).dataType == DecimalType(38, 6), "× rounds to scale 6 here")
    def bits(g: DataFrame) = g.collect().toSeq.map(r =>
      (r.getInt(0), r.getInt(1)) -> java.lang.Double.doubleToRawLongBits(r.getDouble(2))).toMap
    val cold = bits(Rules.ruledGrid(c, Seq(tSel, allM)))
    c.get(Seq("a", "x"))
    assert(c.pointIndexEnabled)
    val served = c.counterDriverAggregations
    val hot = bits(Rules.ruledGrid(c, Seq(tSel, allM)))
    assert(c.counterDriverAggregations == served + 1)
    assert(cold == want && hot == want)
    // a product past 38 digits: Spark's ANSI overflow error, on both paths
    c.set(Seq("c", "x"), 2e16)
    val cx = Seq(Seq(t.idOf("c")), Seq(m.idOf("x")))
    intercept[ArithmeticException](c.gridAggregate(cx).select((col("value") * col("value")).cast("double")).collect())
    intercept[ArithmeticException](Rules.ruledGrid(c, Seq(Seq(t.idOf("c")), Seq(m.idOf("sq")))).collect())
  }

  /** A cube over `schema`-typed `rows` on the small dimensions `dims`. */
  private def smallCube(name: String, dims: Seq[Dimension], rows: Seq[Row], valueType: DataType,
      persisted: Boolean): Cube = {
    val schema = StructType(dims.indices.map(i => StructField(s"d$i", IntegerType)) :+
      StructField("value", valueType))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val base = if (persisted) { val p = df.persist(); p.count(); p } else df
    val c = new Cube(name, dims, spark, Some(base))
    c.cacheEnabled = false
    c
  }

  private def outcome(df: => DataFrame): Either[String, Seq[String]] =
    try Right(rows(df)) catch { case e: Exception => Left(e.getClass.getName) }

  test("each condition the kernel does not serve reaches the Spark plan, counter unmoved") {
    val (idx, ref) = pair("fallback")
    def viaSpark(c: Cube, sels: Seq[Seq[Int]], expect: Cube): Unit = {
      val before = c.counterDriverAggregations
      assert(outcome(c.gridAggregate(sels)) == outcome(expect.gridAggregate(sels)), s"grid $sels")
      assert(c.counterDriverAggregations == before, s"the kernel served $sels")
    }
    val m = model.measures
    val gross = Seq(m.idOf("gross"))
    val everywhere = Seq(Seq(model.geo.idOf("World")), Seq(model.calendar.idOf("AllTime")),
      Seq(model.product.idOf("AllBrands")), gross)
    // the reference cube stands for every unpersisted base
    assert(ref.gridAggregate(everywhere).count() == 1L && ref.counterDriverAggregations == 0L)
    // a persisted base no base read has indexed: grids never start a build
    val cold = cubeOver("dg_cold", facts)
    viaSpark(cold, everywhere, ref)
    val top = Seq("World", "AllTime", "AllBrands", "gross")
    assert(cold.get(top).toString == ref.get(top).toString)
    assert(cold.pointIndexBuilds == 0 && !cold.pointIndexEnabled && cold.counterDriverAggregations == 0L)
    // a grid over the bound: customers × months × 2 measures > 65,536 cells
    val big = Seq(model.geo.leafMembers.map(_.id), model.calendar.membersByLevel(1).map(_.id),
      Seq(model.product.idOf("AllBrands")), Seq(m.idOf("gross"), m.idOf("net")))
    assert(big.map(_.size.toLong).product > 65536L)
    viaSpark(idx, big, ref)
    // ... while the same cube serves a grid inside the bound
    val served = idx.counterDriverAggregations
    assert(rows(idx.gridAggregate(everywhere)) == rows(ref.gridAggregate(everywhere)))
    assert(idx.counterDriverAggregations == served + 1)

    val db = new Database("dg_small", spark)
    val deg = db.addDegenerateDimension("cust", "C#")
    val region = db.addDimension("region")
    region.edit().add("Total", Seq("North", "South")).commit()
    val meas = db.addDimension("meas")
    meas.edit().addMany(Seq("sales", "cost")).add("profit", Seq("sales", "cost"), Seq(1.0, -1.0)).commit()
    val scen = db.addDimension("scen")
    scen.edit().addMany(Seq("actual", "plan")).add("gap", Seq("actual", "plan"), Seq(1.0, -0.5)).commit()
    val dec = DecimalType(21, 4)
    def bd(s: String) = new java.math.BigDecimal(s)

    // a degenerate dimension
    val degRows = Seq(Row(7, region.idOf("North"), meas.idOf("sales"), bd("1.5000")),
      Row(9, region.idOf("South"), meas.idOf("cost"), bd("0.2500")))
    val degIdx = indexed(smallCube("dg_deg", Seq(deg, region, meas), degRows, dec, persisted = true),
      Seq("C#7", "North", "sales"))
    val degRef = smallCube("dg_deg_ref", Seq(deg, region, meas), degRows, dec, persisted = false)
    viaSpark(degIdx, Seq(Seq(Dimension.DegenerateAllId), Seq(region.idOf("Total")),
      Seq(meas.idOf("profit"))), degRef)

    // two weighted closure joins on a decimal cube (Spark rounds the product)
    val wRows = for (r <- Seq("North", "South"); mm <- Seq("sales", "cost"); s <- Seq("actual", "plan"))
      yield Row(region.idOf(r), meas.idOf(mm), scen.idOf(s), bd(s"${r.length}.${mm.length}${s.length}37"))
    val wIdx = indexed(smallCube("dg_w2", Seq(region, meas, scen), wRows, dec, persisted = true),
      Seq("North", "sales", "actual"))
    val wRef = smallCube("dg_w2_ref", Seq(region, meas, scen), wRows, dec, persisted = false)
    val twoWeighted = Seq(Seq(region.idOf("Total")), Seq(meas.idOf("profit")), Seq(scen.idOf("gap")))
    viaSpark(wIdx, twoWeighted, wRef)
    // one weighted join on the same cube is the kernel's
    val oneWeighted = Seq(Seq(region.idOf("Total")), Seq(meas.idOf("profit")), Seq(scen.idOf("actual")))
    val before = wIdx.counterDriverAggregations
    assert(rows(wIdx.gridAggregate(oneWeighted)) == rows(wRef.gridAggregate(oneWeighted)))
    assert(wIdx.counterDriverAggregations == before + 1)

    // a null-valued base row: Spark keeps its all-null group as a row
    val nRows = Seq(Row(region.idOf("North"), meas.idOf("sales"), scen.idOf("actual"), null),
      Row(region.idOf("South"), meas.idOf("sales"), scen.idOf("actual"), bd("2.0000")))
    val nIdx = indexed(smallCube("dg_null", Seq(region, meas, scen), nRows, dec, persisted = true),
      Seq("South", "sales", "actual"))
    val nRef = smallCube("dg_null_ref", Seq(region, meas, scen), nRows, dec, persisted = false)
    val perRegion = Seq(Seq(region.idOf("North"), region.idOf("South")), Seq(meas.idOf("sales")),
      Seq(scen.idOf("actual")))
    viaSpark(nIdx, perRegion, nRef)
    assert(rows(nRef.gridAggregate(perRegion)).exists(_.endsWith(",null]")))

    // an overlay value the decimal cannot hold: the same error as Spark's
    val oIdx = indexed(smallCube("dg_over", Seq(region, meas, scen), wRows, dec, persisted = true),
      Seq("South", "sales", "actual"))
    val oRef = smallCube("dg_over_ref", Seq(region, meas, scen), wRows, dec, persisted = false)
    Seq(oIdx, oRef).foreach(_.set(Seq("North", "sales", "actual"), 1e30))
    viaSpark(oIdx, oneWeighted, oRef)
    assert(outcome(oRef.gridAggregate(oneWeighted)).isLeft, "the overflowing write must fail the Spark plan")
  }

  test("a one-nation, one-month grid visits only its candidate rows; an unrestricted grid visits every row") {
    val (idx, _) = pair("visits")
    val nation = model.geo.membersByLevel(1).head.id
    val month = model.calendar.membersByLevel(1).head.id
    val gross = model.measures.idOf("gross")
    def visits(sels: Seq[Seq[Int]]): Long = {
      val (before, served) = (idx.counterKernelRowsVisited, idx.counterDriverAggregations)
      idx.gridAggregate(sels)
      assert(idx.counterDriverAggregations == served + 1, s"the kernel serves $sels")
      idx.counterKernelRowsVisited - before
    }
    val candidates = facts.filter(col("d0").isin(idx.leafIdsOf(0, Seq(nation)): _*) &&
      col("d1").isin(idx.leafIdsOf(1, Seq(month)): _*) && col("d3") === gross).count()
    assert(candidates > 0L && candidates < facts.count() / 100)
    assert(visits(Seq(Seq(nation), Seq(month), Seq(model.product.idOf("AllBrands")), Seq(gross))) == candidates)
    assert(visits(Seq(Seq(model.geo.idOf("World")), Seq(model.calendar.idOf("AllTime")),
      Seq(model.product.idOf("AllBrands")), model.measures.leafMembers.map(_.id))) == facts.count())
  }

  test("16 readers racing writes and a base swap see the state before or after the race") {
    val (idx, _) = pair("race")
    val gross = model.measures.idOf("gross")
    // state B: every gross value one unit higher, in the same decimal(21,4)
    val swapped = {
      val p = facts.withColumn("value",
        when(col("d3") === gross, (col("value") + 1).cast(DecimalType(21, 4))).otherwise(col("value")))
        .persist()
      p.count()
      p
    }
    val regions = model.geo.membersByLevel(2).map(_.name)
    val years = model.calendar.membersByLevel(2).map(_.name)
    val cells = for (r <- regions; y <- years.take(3)) yield Seq(r, y, "AllBrands", "gross")
    val view = ViewDef(filters = Seq("product" -> "AllTypes", "measures" -> "gross"),
      rows = AxisDef(Seq("geo" -> regions)), cols = AxisDef(Seq("calendar" -> years)))
    def answers(c: Cube): Seq[String] = cells.map(a => c.get(a).toString) :+ new View(c, view).toJson()
    val before = answers(idx)
    val after = answers(cubeOver("dg_race_after", swapped))
    assert(before != after)
    // writes that keep every answer: each base cell re-set to its own value
    val keep = facts.filter(col("d3") === gross).limit(20).collect().toSeq.map { r =>
      ((0 until 4).map(i => model.cube.dimensions(i).nameOf(r.getInt(i))), r.getDecimal(4).doubleValue)
    }
    val keepAfter = keep.map { case (a, v) => (a, v + 1) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(17)
    try {
      val readers = (0 until 16).map(t => pool.submit(() => (0 until 4).map { k =>
        if ((t + k) % 4 == 0) answers(idx).last else idx.get(cells((t * 4 + k) % cells.size)).toString
      }))
      val writer = pool.submit(() => {
        keep.foreach { case (a, v) => idx.set(a, v) }
        idx.replaceFacts(swapped)
        keepAfter.foreach { case (a, v) => idx.set(a, v) }
        true
      })
      writer.get()
      readers.zipWithIndex.foreach { case (f, t) =>
        f.get().zipWithIndex.foreach { case (got, k) =>
          val i = if ((t + k) % 4 == 0) cells.size else (t * 4 + k) % cells.size
          assert(got == before(i) || got == after(i), s"reader $t, probe $k: $got")
        }
      }
    } finally pool.shutdown()
    assert(answers(idx) == after)
    assert(idx.counterDriverAggregations > 0L)
  }
}
