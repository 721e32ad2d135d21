package graft.tpch

import graft.core.Cube
import graft.olap.{AxisDef, OlapQuery, RuleDef, RuleExpr, RuleScope, View, ViewDef, ViewWindow}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The OLAP operator battery over the TPC-H model — each query exercises a
  * SURVEY §2 operator THROUGH the engine (closure joins, weighted rollups,
  * overlay writes, areas, rules) and carries an equivalent DuckDB oracle.
  *
  * Mutating queries run on a scratch cube (fresh Cube over the same immutable
  * fact frame) so the shared memoized model is never dirtied.
  */
object TpchQueries {

  // exact-decimal SQL fragments mirroring the fact build (TpchModel)
  private val GROSS = "CAST(l_extendedprice AS DECIMAL(21,4))"
  private val DISC = "CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(l_discount AS DECIMAL(5,2)) AS DECIMAL(21,4))"
  private val STAR =
    """FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey"""
  private val PSTAR = STAR + " JOIN part ON l_partkey = p_partkey"

  private def scratch(m: TpchModel): Cube =
    new Cube("scratch", m.cube.dimensions, m.db.spark, Some(m.cube.facts))

  /** Cross-cube currency-conversion fixture shared by the `olap_rule_cuberef`
    * (scalar) and `olap_view_cuberef` (grid) gates — the reference's
    * `samples/rules.py:125-139` shape: GC = LC × rate, the rate looked up in
    * a second `exrates` cube whose address is an ATTRIBUTE of the nation
    * member (its region name as the "currency code"). Rates derive from
    * r_regionkey so DuckDB reproduces them; LC cells are decimal-exact
    * account-balance sums. Returns (sales cube, (nation, region, regionkey)).
    */
  private def fxModel(s: SparkSession, dir: String): (Cube, Array[(String, String, Int)]) = {
    val db = new graft.core.Database("fxdb", s)
    val nationRows = s.read.parquet(s"$dir/nation.parquet")
      .join(s.read.parquet(s"$dir/region.parquet"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"), col("r_name"), col("r_regionkey")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    val nat = db.addDimension("nation")
    nat.edit().add("AllNations", nationRows.map(_._1).toSeq).commit()
    nat.addAttribute("cur")
    nationRows.foreach { case (n, rn, _) => nat.setAttribute("cur", n, rn) }
    val cur = db.addDimension("cur")
    val regions = nationRows.map(r => (r._2, r._3)).distinct.sortBy(_._1)
    cur.edit().addMany(regions.map(_._1).toSeq).commit()
    val exrates = db.addCube("exrates", Seq(cur))
    regions.foreach { case (rn, rk) => exrates.set(Seq(rn), 1.0 + 0.1 * rk) }
    val meas = db.addDimension("m")
    meas.edit().addMany(Seq("LC", "GC")).commit()
    val sales = db.addCube("salesfx", Seq(nat, meas))
    val lc = s.read.parquet(s"$dir/customer.parquet")
      .join(s.read.parquet(s"$dir/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("c_acctbal").cast("decimal(15,2)")).cast("double").as("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1))) // bounded: one row/nation
    lc.foreach { case (n, v) => sales.set(Seq(n, "LC"), v) }
    sales.registerRule(RuleDef(Map("m" -> "GC"), RuleScope.AllLevels,
      RuleExpr.Mul(RuleExpr.Ref("LC"),
        RuleExpr.CubeRef("exrates",
          Seq(RuleExpr.CubeRefPart.AttrOf("nation", "cur")))),
      "lc_to_gc"))
    (sales, nationRows)
  }

  /** Grid over (geo sel × calendar sel × product sel × measure sel). */
  private def grid(m: TpchModel, c: Cube, geo: Seq[String], cal: Seq[String],
      prod: Seq[String], meas: Seq[String]): DataFrame =
    c.gridAggregate(Seq(
      geo.map(m.geo.idOf), cal.map(m.calendar.idOf),
      prod.map(m.product.idOf), meas.map(m.measures.idOf)))

  private def oneValueDf(s: SparkSession, v: Option[Double]): DataFrame =
    s.createDataFrame(
      s.sparkContext.parallelize(List(Row(v.map(Double.box).orNull)), 1),
      StructType(Seq(StructField("value", DoubleType))))

  /** The deterministic probe cell: the min-orderkey order's customer+date and
    * its min partkey, measure `gross` — derivable identically in SQL.
    */
  private def probeAddress(s: SparkSession, dir: String): Seq[String] = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val minOrd = orders.agg(min("o_orderkey")).head.getLong(0)
    val o = orders.filter(col("o_orderkey") === minOrd)
      .select(col("o_custkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("d")).head
    val minPart = li.filter(col("l_orderkey") === minOrd).agg(min("l_partkey")).head.getLong(0)
    Seq(s"C#${o.getLong(0)}", o.getString(1), s"P#$minPart", "gross")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1: additive rollup through the geo hierarchy (closure join + hash agg)
    "olap_rollup_region" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val g = grid(m, m.cube, m.geo.membersByLevel(2).map(_.name),
        Seq("AllTime"), Seq("AllBrands"), Seq("gross"))
      m.named(g, "a0", 0, "region")
        .select(col("region"), col("value").cast("double").as("value"))
    }),

    // A2: weighted rollup — net = gross − disc_amt via [+1,−1] weights
    "olap_rollup_net_year" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val g = grid(m, m.cube, Seq("World"), m.calendar.membersByLevel(2).map(_.name),
        Seq("AllBrands"), Seq("net"))
      m.named(g, "a1", 1, "year")
        .select(col("year"), col("value").cast("double").as("value"))
    }),

    // A6: multi-parent rollup — every part feeds its brand AND its type
    "olap_multiparent" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val g = grid(m, m.cube, Seq("World"), Seq("AllTime"),
        m.product.membersByLevel(1).map(_.name), Seq("gross"))
      m.named(g, "a2", 2, "member")
        .select(col("member"), col("value").cast("double").as("value"))
    }),

    // S1: base-cell point read (pushed-down filter / overlay hit)
    "olap_point_read" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      oneValueDf(s, m.cube.get(probeAddress(s, dir)))
    }),

    // S1 × §2.13 (round 12): the same point read served from the
    // driver-resident POINT INDEX (`Cube.enablePointIndex` — the
    // reference's in-process fact dict as a cap-guarded opt-in); identical
    // oracle as olap_point_read, so the indexed path is hash-gated, not
    // just spec'd. Cache off so the read exercises the index, not the
    // result cache.
    "olap_point_read_indexed" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      require(c.enablePointIndex(), "the sf-scale cube must fit the index cap")
      c.cacheEnabled = false
      oneValueDf(s, c.get(probeAddress(s, dir)))
    }),

    // S2: upsert overwrites a base cell; the world total reflects it
    "olap_upsert" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      c.set(probeAddress(s, dir), 12345.67)
      oneValueDf(s, c.get(Seq("World", "AllTime", "AllBrands", "gross")))
    }),

    // S3: delete removes a base cell from all rollups
    "olap_delete" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      c.delete(probeAddress(s, dir))
      oneValueDf(s, c.get(Seq("World", "AllTime", "AllBrands", "gross")))
    }),

    // S2b/R5: non-float payload cell — replaces the probe cell's number, is
    // SKIPPED by the world rollup (≙ float-only aggregation, cube.py:468,493),
    // reads back typed, and shows up in record enumeration
    "olap_payload_skip" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      val addr = probeAddress(s, dir)
      c.setPayload(addr, "approved by controlling")
      val total = c.get(Seq("World", "AllTime", "AllBrands", "gross"))
      val pay = c.getCell(addr) match {
        case Some(graft.core.CellValue.Text(p)) => p
        case _ => null
      }
      val nPayloadRecs = c.area("measures" -> Seq("gross"))
        .recordsWithPayloads.filter(col("payload").isNotNull).count()
      s.createDataFrame(
        s.sparkContext.parallelize(List(Row(total.map(Double.box).orNull, pay, nPayloadRecs)), 1),
        StructType(Seq(StructField("value", DoubleType),
          StructField("payload", StringType), StructField("payload_records", LongType))))
    }),

    // S4/F2: record enumeration of an area (names join, base cells only)
    "olap_area_records" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      m.cube.area("calendar" -> Seq("1995"), "measures" -> Seq("gross"))
        .records.withColumn("value", col("value").cast("double"))
    }),

    // B3: bulk in-place multiply on an area
    "olap_area_multiply" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      c.area("calendar" -> Seq("1995"), "measures" -> Seq("gross")).multiply(2.0)
      val g = grid(m, c, Seq("World"), m.calendar.membersByLevel(2).map(_.name),
        Seq("AllBrands"), Seq("gross"))
      m.named(g, "a1", 1, "year")
        .select(col("year"), col("value").cast("double").as("value"))
    }),

    // B1: area clear (anti-join delete of a subspace)
    "olap_area_clear" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      c.area("calendar" -> Seq("1995"), "measures" -> Seq("gross")).clear()
      val g = grid(m, c, Seq("World"), m.calendar.membersByLevel(2).map(_.name),
        Seq("AllBrands"), Seq("gross"))
      m.named(g, "a1", 1, "year")
        .select(col("year"), col("value").cast("double").as("value"))
    }),

    // B4/J2: area-to-area copy with scalar transform (plan = gross * 2)
    "olap_area_copy" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      val src = c.area("measures" -> Seq("gross"))
      val tgt = c.area("measures" -> Seq("plan"))
      tgt.copyFrom(src, v => v * 2.0)
      val g = grid(m, c, m.geo.membersByLevel(2).map(_.name), Seq("AllTime"),
        Seq("AllBrands"), Seq("plan"))
      m.named(g, "a0", 0, "region")
        .select(col("region"), col("value").cast("double").as("value"))
    }),

    // B+: target allocation writeback (planning op, extension beyond the
    // reference): proportional spread of 1M over 1995's gross cells
    // (ratios preserved, rollup lands on target), equal spread of 500k over
    // 1996's — then the year-level rollup shows both targets and the other
    // years untouched
    "olap_area_allocate" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      c.area("calendar" -> Seq("1995"), "measures" -> Seq("gross"))
        .allocate(1000000.0)
      c.area("calendar" -> Seq("1996"), "measures" -> Seq("gross"))
        .allocate(500000.0, graft.core.AllocationMode.Equal)
      val g = grid(m, c, Seq("World"), m.calendar.membersByLevel(2).map(_.name),
        Seq("AllBrands"), Seq("gross"))
      m.named(g, "a1", 1, "year")
        .select(col("year"), col("value").cast("double").as("value"))
    }),

    // A3/R3: BASE_LEVEL rule computed per base cell, then aggregated — the
    // BATCHED path: all 5 region cells in ONE Rules.baseRuleGrid job (pivot
    // at base grain → rule column → closure-join aggregation), no per-cell
    // cube.get loop
    "olap_rule_base" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      val rule = RuleDef(
        trigger = Map("measures" -> "plan"), scope = RuleScope.BaseLevel,
        expr = RuleExpr.Sub(RuleExpr.Ref("gross"), RuleExpr.Ref("disc_amt")),
        name = "net_base_rule")
      c.registerRule(rule)
      val g = graft.olap.Rules.baseRuleGrid(c, rule, Seq(
        m.geo.membersByLevel(2).map(x => m.geo.idOf(x.name)),
        Seq(m.calendar.idOf("AllTime")), Seq(m.product.idOf("AllBrands")), Nil), 3)
      m.named(g, "a0", 0, "region")
        .select(col("region"), col("value").cast("double").as("value"))
    }),

    // R3 AGG: post-aggregation rule — margin = (gross − disc) / gross — the
    // BATCHED path: one gridAggregate over the ref measures, pivot, rule
    // column post-pivot (≙ the dialect's gridWithRules), no per-cell loop
    "olap_rule_agg" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      val rule = RuleDef(
        trigger = Map("measures" -> "plan"), scope = RuleScope.AggregationLevel,
        expr = RuleExpr.Div(
          RuleExpr.Sub(RuleExpr.Ref("gross"), RuleExpr.Ref("disc_amt")),
          RuleExpr.Ref("gross")),
        name = "margin_rule")
      c.registerRule(rule)
      val refIds = Seq("gross", "disc_amt").map(m.measures.idOf)
      val g = grid(m, c, m.geo.membersByLevel(2).map(_.name), Seq("AllTime"),
        Seq("AllBrands"), Seq("gross", "disc_amt"))
      val pivoted = g.groupBy(col("a0"))
        .pivot("a3", refIds.map(_.asInstanceOf[AnyRef])).agg(first(col("value")))
      val renamed = refIds.foldLeft(pivoted)((d, id) =>
        d.withColumnRenamed(id.toString, s"m_$id"))
      val out = renamed.withColumn("value",
        graft.olap.Rules.toColumn(c, 3, rule.expr).cast("double"))
      m.named(out, "a0", 0, "region").select(col("region"), col("value"))
    }),

    // the reference's `huge` benchmark: top-cell read over 1e6 random cells
    // (self-verifying: value-1.0 cells ⇒ aggregate == row count)
    "olap_huge_top" -> ((s, _) => HugeModel.topCell(s)),

    // dense grid: every (month × nation) aggregated cell in ONE job — the
    // throughput shape the reference measures as "aggregated cells/sec"
    // (`samples/huge.py:159-173`), here a single closure-join + hash agg
    "olap_grid_dense" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val g = grid(m, m.cube,
        m.geo.membersByLevel(1).map(_.name),      // nations
        m.calendar.membersByLevel(1).map(_.name), // months
        Seq("AllBrands"), Seq("gross"))
      m.named(m.named(g, "a0", 0, "nation"), "a1", 1, "month")
        .select(col("nation"), col("month"), col("value").cast("double").as("value"))
    }),

    // A4/A5: area aggregates — min/max/sum/avg/count over the 1995 gross
    // subspace, each through the Area operator (native-type exact sum;
    // avg = exact-sum ÷ count in double)
    "olap_area_stats" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val a = m.cube.area("calendar" -> Seq("1995"), "measures" -> Seq("gross"))
      s.createDataFrame(
        s.sparkContext.parallelize(List(Row(
          a.min.map(Double.box).orNull, a.max.map(Double.box).orNull,
          a.sum.map(Double.box).orNull, a.avg.map(Double.box).orNull,
          a.count)), 1),
        StructType(Seq(StructField("mn", DoubleType), StructField("mx", DoubleType),
          StructField("total", DoubleType), StructField("mean", DoubleType),
          StructField("n", LongType))))
    }),

    // F4: regex attribute filter (anchors + alternation) → rollup over hits
    "olap_attr_regex" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val hits = m.product.attribute("ptype").rmatch("^(STA|ECO)")
      val g = m.cube.gridAggregate(Seq(
        Seq(m.geo.idOf("World")), Seq(m.calendar.idOf("AllTime")),
        hits, Seq(m.measures.idOf("gross"))))
      s.createDataFrame(
        s.sparkContext.parallelize(List(Row(
          g.agg(sum(col("value"))).head.getDecimal(0).doubleValue())), 1),
        StructType(Seq(StructField("value", DoubleType))))
    }),

    // F6/N3: member enumeration by hierarchy level — geo level 1 = nations
    "olap_level_members" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val names = m.geo.membersByLevel(1).map(_.name)
      s.createDataFrame(s.sparkContext.parallelize(names.map(Row(_)).toList, 1),
        StructType(Seq(StructField("nation", StringType))))
    }),

    // N1/N2: the full hierarchy catalog as data — every (member, parent)
    // edge of geo with its level and edge weight, roots with parent ''
    // (levels: customers 0, nations 1, regions 2, World 3 — every nation
    // has customers at every driver SF, so levels are uniform and the
    // oracle rebuilds the whole catalog from region/nation/customer)
    "olap_dim_catalog" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      m.geo.catalogDf(s)
        .select(col("mname"), col("level").cast("long").as("level"),
          col("parent"), col("weight"))
    }),

    // V5: zero suppression — 1995 gross zeroed in a scratch cube; the view
    // drops the all-zero 1995 row (without suppression it would render zeros)
    "olap_view_zero_suppress" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      c.area("calendar" -> Seq("1995"), "measures" -> Seq("gross")).setValue(0.0)
      val view = new View(c, ViewDef(
        filters = Seq("product" -> "AllBrands", "measures" -> "gross"),
        rows = AxisDef(Seq("calendar" -> (1995 to 2001).map(_.toString))),
        cols = AxisDef(Seq("geo" -> m.geo.membersByLevel(2).map(_.name).sorted)),
        zeroSuppression = true))
      view.refresh()
    }),

    // H2: undo — a write followed by history.undo() restores the prior total
    // Degenerate dimension (ARCHITECTURE §7): customer grain as fact-column
    // values — no driver catalog, no closure broadcast. The grid filters and
    // groups on the raw key; AllPrio rolls up through the catalog dimension
    "olap_degenerate_grid" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("degentpch", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq // tiny driver catalog
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val prioDf = s.createDataFrame(prios.map(p => (p, prio.idOf(p))))
        .toDF("o_orderpriority", "d1")
      val facts = orders
        .join(broadcast(prioDf), Seq("o_orderpriority"))
        .groupBy(col("o_custkey").cast("int").as("d0"), col("d1"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
      val cube = db.addCube("sales", Seq(cust, prio), facts)
      val keys = orders.select(col("o_custkey").cast("int")).distinct()
        .orderBy(col("o_custkey")).limit(5).collect().map(_.getInt(0)).toSeq
      cube.gridAggregate(Seq(keys, Seq(prio.idOf("AllPrio"))))
        .select(col("a0").cast("long").as("custkey"),
          col("value").cast("double").as("value"))
    }),

    // S+: name-addressed bulk import (FactSources.importNamed) — records
    // addressed as (customer-name, priority-name, value) travel through the
    // broadcast name-resolution joins into id space: the degenerate customer
    // dim parses functionally (case-insensitive prefix, canonical numeral),
    // the catalog priority dim joins case-insensitively, and junk names
    // (wrong prefix, non-canonical '007', non-numeric key, unknown catalog
    // member) DROP instead of mis-mapping — any surviving junk row shifts a
    // sum and fails the hash
    "olap_import_named" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("importnamed", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq // tiny driver catalog
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val loader = db.addCube("loader", Seq(cust, prio))
      // name-addressed records at unique addresses (≙ per-cell bulk load,
      // `samples/huge.py:115-133`); deterministic case-mangling exercises the
      // case-insensitive contract without touching the oracle
      val recs = orders
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
        .select(
          when(pmod(col("o_custkey"), lit(3)) === 0, concat(lit("c#"), col("o_custkey")))
            .otherwise(concat(lit("C#"), col("o_custkey"))).as("customer"),
          when(pmod(col("o_custkey"), lit(2)) === 0, lower(col("o_orderpriority")))
            .otherwise(col("o_orderpriority")).as("priority"),
          col("value"))
      val junk = s.sql(
        s"""SELECT * FROM VALUES
            ('B#1',    '${prios.head}',     CAST(999 AS DECIMAL(21,4))),
            ('C#007',  '${prios.head}',     CAST(999 AS DECIMAL(21,4))),
            ('C#12x4', '${prios.head}',     CAST(999 AS DECIMAL(21,4))),
            ('C#1',    'NO-SUCH-PRIORITY',  CAST(999 AS DECIMAL(21,4)))
            AS t(customer, priority, value)""")
      val imported = graft.sources.FactSources.importNamed(loader, recs.unionByName(junk))
      val cube = db.addCube("sales", Seq(cust, prio), imported)
      val g = cube.gridAggregate(Seq(
        Seq(graft.core.Dimension.DegenerateAllId),
        prios.map(prio.idOf) :+ prio.idOf("AllPrio")))
      val names = cube.memberNamesDf(1)
        .select(col("id").as("a1"), col("mname").as("priority"))
      g.join(broadcast(names), "a1")
        .select(col("priority"), col("value").cast("double").as("value"))
    }),

    // S+ (round 7): loss-visible bulk import — importNamedReport's counts
    // are DATA-DERIVED: input = distinct (customer, priority) records + 4
    // junk rows, resolved = the records, dropped = exactly the junk; the
    // loaded cube's total carries only resolved rows. A count drifting by
    // one, or a junk row surviving into the sum, fails the hash.
    "olap_import_report" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("importreport", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val loader = db.addCube("loader", Seq(cust, prio))
      val recs = orders
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
        .select(concat(lit("C#"), col("o_custkey")).as("customer"),
          col("o_orderpriority").as("priority"), col("value"))
      val junk = s.sql(
        s"""SELECT * FROM VALUES
            ('B#1',    '${prios.head}',     CAST(999 AS DECIMAL(21,4))),
            ('C#007',  '${prios.head}',     CAST(999 AS DECIMAL(21,4))),
            ('C#12x4', '${prios.head}',     CAST(999 AS DECIMAL(21,4))),
            ('C#1',    'NO-SUCH-PRIORITY',  CAST(999 AS DECIMAL(21,4)))
            AS t(customer, priority, value)""")
      val report = graft.sources.FactSources.importNamedReport(
        loader, recs.unionByName(junk))
      val cube = db.addCube("sales", Seq(cust, prio), report.facts)
      val total = cube.get(Seq("All", "AllPrio"))
      s.createDataFrame(
        s.sparkContext.parallelize(List(Row(report.inputRows,
          report.resolvedRows, report.droppedRows,
          total.map(Double.box).orNull)), 1),
        StructType(Seq(StructField("input_rows", LongType),
          StructField("resolved_rows", LongType),
          StructField("dropped_rows", LongType),
          StructField("value", DoubleType))))
    }),

    // R3+S+: ON_ENTRY on the BULK import path — the loader cube carries an
    // Input-AST write rule (lowest-priority records enter negated:
    // −abs(input)); importNamed applies it as one declarative column
    // transform (Rules.onEntryBulk), reference parity with per-cell set
    // (every write passes the hook, `cube.py:527-537`). Decimal-exact end
    // to end: abs/neg keep decimal(21,4), so sums are order-independent.
    "olap_import_on_entry" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("importoe", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val loader = db.addCube("loader", Seq(cust, prio))
      loader.registerRule(RuleDef(Map("priority" -> prios.head), RuleScope.OnEntry,
        RuleExpr.Neg(RuleExpr.Fn("abs", RuleExpr.Input)), "negate_first_prio"))
      val recs = orders
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
        .select(concat(lit("C#"), col("o_custkey")).as("customer"),
          col("o_orderpriority").as("priority"), col("value"))
      val imported = graft.sources.FactSources.importNamed(loader, recs)
      val cube = db.addCube("sales", Seq(cust, prio), imported)
      val g = cube.gridAggregate(Seq(
        Seq(graft.core.Dimension.DegenerateAllId),
        prios.map(prio.idOf) :+ prio.idOf("AllPrio")))
      val names = cube.memberNamesDf(1)
        .select(col("id").as("a1"), col("mname").as("priority"))
      g.join(broadcast(names), "a1")
        .select(col("priority"), col("value").cast("double").as("value"))
    }),

    // S+/N edit parity: member removal at dimension commit AUTO-PURGES the
    // removed member's facts from every registered cube (≙ dimension.py:
    // 1079-1081 → facttable.py:375-420) — NO manual purgeUnknownMembers.
    // The rollup after the removal must exclude the removed priority's rows
    // both per-leaf AND through the AllPrio identity rollup (which scans raw
    // fact ids — the double-count trap the auto-purge closes).
    "olap_member_remove" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("memberremove", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val loader = db.addCube("loader", Seq(cust, prio))
      val recs = orders
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
        .select(concat(lit("C#"), col("o_custkey")).as("customer"),
          col("o_orderpriority").as("priority"), col("value"))
      val cube = db.addCube("sales", Seq(cust, prio),
        graft.sources.FactSources.importNamed(loader, recs))
      val removed = prios.head // deterministic: min priority name
      prio.edit().remove(removed).commit() // purge fires INSIDE commit
      val keep = prios.tail
      val all = Seq(graft.core.Dimension.DegenerateAllId)
      val leaves = cube.gridAggregate(Seq(all, keep.map(prio.idOf)))
      // single-member AllPrio selection → identity-rollup ELISION (raw-id
      // scan, no closure join): this is the path that double-counts orphans
      val top = cube.gridAggregate(Seq(all, Seq(prio.idOf("AllPrio"))))
      val names = cube.memberNamesDf(1)
        .select(col("id").as("a1"), col("mname").as("priority"))
      leaves.unionByName(top).join(broadcast(names), "a1")
        .select(col("priority"), col("value").cast("double").as("value"))
    }),

    // N+ (round 7): member RENAME at commit — ids are stable, so facts
    // imported under the OLD name keep addressing the member and aggregate
    // under the NEW one (≙ rename_member, dimension.py:1299); the rollup
    // addressed by the new name must carry the old name's full sum
    "olap_member_rename" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("memberrename", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val loader = db.addCube("loader", Seq(cust, prio))
      val recs = orders
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
        .select(concat(lit("C#"), col("o_custkey")).as("customer"),
          col("o_orderpriority").as("priority"), col("value"))
      val cube = db.addCube("sales", Seq(cust, prio),
        graft.sources.FactSources.importNamed(loader, recs))
      prio.edit().renameMember(prios.head, "Renamed-P0").commit()
      val sel = ("Renamed-P0" +: prios.tail).map(prio.idOf) :+ prio.idOf("AllPrio")
      val g = cube.gridAggregate(Seq(
        Seq(graft.core.Dimension.DegenerateAllId), sel))
      val names = cube.memberNamesDf(1)
        .select(col("id").as("a1"), col("mname").as("priority"))
      g.join(broadcast(names), "a1")
        .select(col("priority"), col("value").cast("double").as("value"))
    }),

    // S+ (round 7): the BUCKETED cube backing serves the whole read surface
    // — compactToBucketed swaps a hash-bucketed catalog table in as the
    // fact frame, then a point DELETE lands in the overlay ON TOP of it,
    // and the rollup must read the merged state (bucketed base minus the
    // tombstoned cell). A backing swap that lost rows, or a merge that
    // ignored the overlay over a table-backed base, shifts a sum and
    // fails the hash.
    "olap_bucketed_read" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("bucketedread", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val loader = db.addCube("loader", Seq(cust, prio))
      val recs = orders
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
        .select(concat(lit("C#"), col("o_custkey")).as("customer"),
          col("o_orderpriority").as("priority"), col("value"))
      val cube = db.addCube("sales", Seq(cust, prio),
        graft.sources.FactSources.importNamed(loader, recs))
      s.sql("DROP TABLE IF EXISTS olap_gate_bucketed")
      require(cube.compactToBucketed("olap_gate_bucketed", 4),
        "bucketed compaction must land on an uncontended cube")
      // overlay-over-bucketed-base: tombstone one known cell AFTER the swap
      val minCust = orders.agg(min("o_custkey")).head().getLong(0)
      cube.delete(Seq(s"C#$minCust", prios.head))
      // (partitioned twin: olap_partitioned_read below)
      val g = cube.gridAggregate(Seq(
        Seq(graft.core.Dimension.DegenerateAllId),
        prios.map(prio.idOf) :+ prio.idOf("AllPrio")))
      val names = cube.memberNamesDf(1)
        .select(col("id").as("a1"), col("mname").as("priority"))
      g.join(broadcast(names), "a1")
        .select(col("priority"), col("value").cast("double").as("value"))
    }),

    // S+ (round 11): PARTITIONED fact backing — compactToPartitioned lays
    // the facts out by the priority id, so a priority-sliced grid reads
    // only the matching partitions (PartitionFilters at the scan,
    // plan-asserted in ScaleOpsSpec; the calendar-slice layout of a 100 TB
    // deployment, complementing the join-co-locating bucketed backing).
    // Values identical through the swapped-in base, including an overlay
    // tombstone landing AFTER the swap.
    "olap_partitioned_read" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("partread", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val prioDf = s.createDataFrame(prios.map(p => (p, prio.idOf(p))))
        .toDF("o_orderpriority", "d1")
      val facts = orders.join(broadcast(prioDf), Seq("o_orderpriority"))
        .groupBy(col("o_custkey").cast("int").as("d0"), col("d1"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
      val cube = db.addCube("sales", Seq(cust, prio), facts)
      s.sql("DROP TABLE IF EXISTS olap_gate_partitioned")
      require(cube.compactToPartitioned("olap_gate_partitioned", Seq(1)),
        "partitioned compaction must land on an uncontended cube")
      val minCust = orders.agg(min("o_custkey")).head().getLong(0)
      cube.delete(Seq(s"C#$minCust", prios.head))
      val slice = prios.take(2)
      val g = cube.gridAggregate(Seq(Seq(graft.core.Dimension.DegenerateAllId),
        slice.map(prio.idOf)))
      val nameMap = map(slice.flatMap(p => Seq(lit(prio.idOf(p)), lit(p))): _*)
      g.select(nameMap(col("a1")).as("priority"),
        col("value").cast("double").as("value"))
    }),

    // S+ (round 12): the MULTI-dim layout — facts compacted to a Z-ORDERED
    // table (Morton interleave of priority × month ids), then a rollup
    // slicing BOTH interleaved dims reads through the compacted backing;
    // row-group min/max stats prune on either axis (directory partitioning
    // can only do one). Values hash against the plain SQL rollup.
    "olap_zordered_read" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("zordread", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val months = orders
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"))
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      val mon = db.addDimension("month")
      mon.edit().addMany(months).add("AllMonths", months).commit()
      val prioDf = s.createDataFrame(prios.map(p => (p, prio.idOf(p))))
        .toDF("o_orderpriority", "d1")
      val monDf = s.createDataFrame(months.map(m => (m, mon.idOf(m))))
        .toDF("m", "d2")
      val facts = orders
        .withColumn("m", date_format(col("o_orderdate"), "yyyy-MM"))
        .join(broadcast(prioDf), Seq("o_orderpriority"))
        .join(broadcast(monDf), Seq("m"))
        .groupBy(col("o_custkey").cast("int").as("d0"), col("d1"), col("d2"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)"))
          .cast("decimal(21,4)").as("value"))
      val cube = db.addCube("sales", Seq(cust, prio, mon), facts)
      s.sql("DROP TABLE IF EXISTS olap_gate_zordered")
      require(cube.compactToZordered("olap_gate_zordered", Seq(1, 2), files = 8),
        "z-ordered compaction must land on an uncontended cube")
      val slice = prios.take(2)
      val mslice = months.take(3)
      val g = cube.gridAggregate(Seq(Seq(graft.core.Dimension.DegenerateAllId),
        slice.map(prio.idOf), mslice.map(mon.idOf)))
      val pMap = map(slice.flatMap(p => Seq(lit(prio.idOf(p)), lit(p))): _*)
      val mMap = map(mslice.flatMap(m => Seq(lit(mon.idOf(m)), lit(m))): _*)
      g.select(pMap(col("a1")).as("priority"), mMap(col("a2")).as("month"),
        col("value").cast("double").as("value"))
    }),

    // R3+S+ (round 7): a CELL-READING ON_ENTRY rule on the BULK import path
    // — records entering at the min-name priority gain the same customer's
    // max-name priority cell: input + [maxprio], evaluated per imported row
    // against the POST-WRITE state (compute-then-write,
    // Rules.applyOnEntryBulk). Customers without maxprio orders take the
    // absent-ref branch (+0). Decimal-exact end to end.
    "olap_import_ref_rule" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("importref", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val loader = db.addCube("loader", Seq(cust, prio))
      loader.registerRule(RuleDef(Map("priority" -> prios.head), RuleScope.OnEntry,
        RuleExpr.Add(RuleExpr.Input, RuleExpr.Ref(prios.last)), "min_plus_max"))
      val recs = orders
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
        .select(concat(lit("C#"), col("o_custkey")).as("customer"),
          col("o_orderpriority").as("priority"), col("value"))
      val imported = graft.sources.FactSources.importNamed(loader, recs)
      val cube = db.addCube("sales", Seq(cust, prio), imported)
      val g = cube.gridAggregate(Seq(
        Seq(graft.core.Dimension.DegenerateAllId),
        prios.map(prio.idOf) :+ prio.idOf("AllPrio")))
      val names = cube.memberNamesDf(1)
        .select(col("id").as("a1"), col("mname").as("priority"))
      g.join(broadcast(names), "a1")
        .select(col("priority"), col("value").cast("double").as("value"))
    }),

    // V7: CSV render — the grid travels THROUGH the toCsv string (header +
    // Double.toString cells, lossless round-trip) and is parsed back to a
    // typed frame the oracle can hash-match; proves the render emits exactly
    // the grid, not a lookalike
    "olap_view_csv" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val years = (1995 to 2001).map(_.toString)
      val view = new View(m.cube, ViewDef(
        filters = Seq("product" -> "AllBrands", "geo" -> "World"),
        rows = AxisDef(Seq("calendar" -> years)),
        cols = AxisDef(Seq("measures" -> Seq("gross", "net")))))
      view.refresh()
      val lines = view.toCsv().split("\n")
      require(lines.head == "calendar,gross,net", s"unexpected CSV header: ${lines.head}")
      val rows = lines.tail.toIndexedSeq.map { ln =>
        val p = ln.split(",", -1)
        def d(v: String) = if (v.isEmpty) null else java.lang.Double.valueOf(v)
        Row(p(0), d(p(1)), d(p(2)))
      }
      s.createDataFrame(s.sparkContext.parallelize(rows.toList, 1),
        StructType(Seq(StructField("calendar", StringType),
          StructField("gross", DoubleType), StructField("net", DoubleType))))
    }),

    // V5b (round 7): COLUMN-axis zero suppression — 'plan' carries no data
    // in the model, so with zeroSuppressionColumns the position drops from
    // the grid and the CSV render entirely (≙ zero_suppression_on_columns,
    // view.py:409-414); the surviving gross column must still be oracle-exact
    "olap_view_col_suppress" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val years = (1995 to 2001).map(_.toString)
      val view = new View(m.cube, ViewDef(
        filters = Seq("product" -> "AllBrands", "geo" -> "World"),
        rows = AxisDef(Seq("calendar" -> years)),
        cols = AxisDef(Seq("measures" -> Seq("gross", "plan"))),
        zeroSuppressionColumns = true))
      val lines = view.toCsv().split("\n")
      require(lines.head == "calendar,gross",
        s"empty 'plan' column must be suppressed from the render: ${lines.head}")
      val rows = lines.tail.toIndexedSeq.map { ln =>
        val p = ln.split(",", -1)
        Row(p(0), if (p(1).isEmpty) null else java.lang.Double.valueOf(p(1)))
      }
      s.createDataFrame(s.sparkContext.parallelize(rows.toList, 1),
        StructType(Seq(StructField("calendar", StringType),
          StructField("gross", DoubleType))))
    }),

    // SF2: member number formats — renders format cells by the LAST
    // column-axis member's format (the cascade); "{:.2f}" on quantity
    // travels through the CSV string and is hash-compared as STRINGS
    // against DuckDB's own format(). quantity is 4-decimal-exact in the
    // facts, so 2-decimal formatting never hits an FP rounding tie, and no
    // other gate renders it — the shared model's other strings stay
    // pristine.
    "olap_view_format" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      m.measures.setFormat("quantity", "{:.2f}")
      val years = (1995 to 2001).map(_.toString)
      val view = new View(m.cube, ViewDef(
        filters = Seq("product" -> "AllBrands", "geo" -> "World"),
        rows = AxisDef(Seq("calendar" -> years)),
        cols = AxisDef(Seq("measures" -> Seq("quantity")))))
      view.refresh()
      // render INSIDE the format scope, then restore the shared model so no
      // later gate's quantity render depends on execution order
      val csv = try view.toCsv() finally m.measures.clearFormat("quantity")
      val lines = csv.split("\n")
      require(lines.head == "calendar,quantity", s"unexpected CSV header: ${lines.head}")
      val rows = lines.tail.toIndexedSeq.map { ln =>
        val p = ln.split(",", -1)
        Row(p(0), p(1))
      }
      s.createDataFrame(s.sparkContext.parallelize(rows.toList, 1),
        StructType(Seq(StructField("calendar", StringType),
          StructField("quantity", StringType))))
    }),

    // H1: writeback to an aggregated cell is rejected and leaves the cube
    // untouched — the boolean and the unchanged world total are both oracled
    "olap_write_reject" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      val rejected =
        try { c.set(Seq("World", "AllTime", "AllBrands", "gross"), 1.0); false }
        catch { case _: IllegalArgumentException => true }
      val total = c.get(Seq("World", "AllTime", "AllBrands", "gross"))
      s.createDataFrame(
        s.sparkContext.parallelize(List(Row(Boolean.box(rejected),
          total.map(Double.box).orNull)), 1),
        StructType(Seq(StructField("rejected", BooleanType),
          StructField("value", DoubleType))))
    }),

    // H3: cell comments round-trip — annotations attach to the probe cell,
    // read back in insertion order, and the cell VALUE stays data-plane-pure
    "olap_comments" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      val addr = probeAddress(s, dir)
      c.addComment(addr, "checked against ledger", "alice")
      c.addComment(addr, "restated in Q3", "bob")
      val got = c.commentsAt(addr)
      val joined = got.map(cm => s"${cm.user}:${cm.text}").mkString("|")
      s.createDataFrame(
        s.sparkContext.parallelize(List(Row(joined, got.size,
          c.get(addr).map(Double.box).orNull)), 1),
        StructType(Seq(StructField("comments", StringType),
          StructField("n", IntegerType), StructField("value", DoubleType))))
    }),

    "olap_undo" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      c.enableHistory()
      c.set(probeAddress(s, dir), 99999.0)
      c.history.undo()
      oneValueDf(s, c.get(Seq("World", "AllTime", "AllBrands", "gross")))
    }),

    // S5/S7/R7: full persistence round-trip — save the database (facts
    // parquet + dimensions/weights/rules/views JSON), load it into a FRESH
    // Database, and run the rule-backed margin query through the SQL dialect
    // on the LOADED model; matches the oracle iff hierarchy, weights, facts,
    // and the rule AST all survived the trip
    "olap_saveload" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_saveload").toString
      m.db.save(tmp)
      val loaded = graft.core.Database.load(tmp, s)
      OlapQuery(loaded,
        "SELECT calendar, value FROM sales WHERE geo='World', calendar=('1997','1998'), product=AllBrands, 'margin'")
        .withColumn("value", col("value").cast("double"))
    }),

    // At-rest encryption (≙ reference encryption.py + storage/sqlite.py:
    // 313-421, round 14): the SAME persistence round-trip as olap_saveload,
    // but saved with the AES-GCM tier — metadata JSON through the string
    // codec, fact parquet through parquet MODULAR encryption (uniform key,
    // encrypted footer, in-executor). The gate asserts the at-rest payloads
    // are genuinely opaque (meta is ciphertext; a keyless parquet read
    // throws on the encrypted footer) and then answers the rule-backed
    // margin query from the decrypted load — matching the oracle iff the
    // whole model (hierarchy, weights, facts, rule AST) survived the
    // encrypt/decrypt trip bit-exactly. The oracle reads the ORIGINAL
    // parquet testdata; it never needs a key.
    "olap_encrypted_saveload" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_encsave").toString
      val pw = new graft.core.Crypto.AesGcm("gate password")
      m.db.save(tmp, pw)
      val rawMeta = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$tmp/meta.json"))
      require(!rawMeta.contains("dimensions") && !rawMeta.contains("margin"),
        "meta.json must be ciphertext at rest")
      val keyless = try { s.read.parquet(s"$tmp/cubes/sales").collect(); false }
        catch { case _: Exception => true }
      require(keyless, "fact parquet must refuse a keyless read (encrypted footer)")
      val loaded = graft.core.Database.load(tmp, s, pw)
      OlapQuery(loaded,
        "SELECT calendar, value FROM sales WHERE geo='World', calendar=('1996','1997'), product=AllBrands, 'margin'")
        .withColumn("value", col("value").cast("double"))
    }),

    // S6: snapshot manager — create a named snapshot of the model database,
    // rescan the folder with a FRESH manager (inventory from sidecars, not
    // driver memory), restore it into a new Database, and roll up from the
    // restored cube; a restore that lost facts, dimension state, or rules
    // would shift the margins
    "olap_snapshot_restore" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_snap").toString
      val info = m.db.snapshots(tmp).create("round-6 gate snapshot")
      val mgr = m.db.snapshots(tmp) // fresh instance — inventory re-scanned
      require(mgr.contains(info.id) && mgr.latest.exists(_.id == info.id),
        s"snapshot '${info.id}' missing from re-scanned inventory")
      val restored = mgr.restore(info.id, createRestorePoint = false)
      OlapQuery(restored,
        "SELECT calendar, value FROM sales WHERE geo='World', calendar=('1996','1998'), product=AllBrands, 'margin'")
        .withColumn("value", col("value").cast("double"))
    }),

    // B5: enumerated cross-product write — the probe customer × every 1995
    // calendar leaf × the probe part × gross is OVERWRITTEN with the full
    // leaf cross-product at value 10 (existing cells in the area replaced,
    // absent combinations materialized, ≙ enumerate_data_space=True)
    "olap_setvalue_enum" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      val addr = probeAddress(s, dir)
      c.area("geo" -> Seq(addr(0)), "calendar" -> Seq("1995"),
        "product" -> Seq(addr(2)), "measures" -> Seq("gross"))
        .setValueEnumerated(10.0)
      oneValueDf(s, c.get(Seq("World", "AllTime", "AllBrands", "gross")))
    }),

    // R8: rule validation — a rule naming an unknown trigger dimension or
    // an unknown ref member is rejected AT REGISTRATION (typed, loud), the
    // rule set stays unchanged, and the standing margin rule still computes
    // the oracle-exact world value afterwards
    // R+ (round 8): CROSS-CUBE rule reference — the reference's currency-
    // conversion rule shape (`samples/rules.py:125-139`): GC = LC × rate,
    // the rate looked up in a SECOND cube (`exrates`) whose address comes
    // from an ATTRIBUTE of the current nation member (its region name as
    // the "currency code"). Rates derive from r_regionkey so DuckDB
    // reproduces them; LC cells are decimal-exact account-balance sums.
    "olap_rule_cuberef" -> ((s, dir) => {
      val (sales, nationRows) = fxModel(s, dir)
      val out = nationRows.map { case (n, _, _) =>
        Row(n, sales.get(Seq(n, "GC")).map(Double.box).orNull)
      }
      s.createDataFrame(s.sparkContext.parallelize(out.toList, 1),
        StructType(Seq(StructField("nation", StringType),
          StructField("value", DoubleType))))
    }),

    // R+ (round 9): the SAME cross-cube currency model rendered as a VIEW —
    // nations on rows, LC/GC on columns. GC is the CubeRef-backed member:
    // View.refresh resolves the exrates slice via ONE broadcast join onto
    // the pivoted grid (attribute-mapped key → rate), so a report of
    // converted cells is a single job rather than one scalar read per
    // nation (r8 ask #6 — the bulk face of olap_rule_cuberef).
    "olap_view_cuberef" -> ((s, dir) => {
      val (sales, nationRows) = fxModel(s, dir)
      val view = new View(sales, ViewDef(
        rows = AxisDef(Seq("nation" -> nationRows.map(_._1).toSeq)),
        cols = AxisDef(Seq("m" -> Seq("LC", "GC")))))
      view.refresh().select(col("nation"),
        col("LC").cast("double").as("lc"), col("GC").cast("double").as("gc"))
    }),

    // Q+ (round 9): the DIALECT face of the same model — converted cells
    // through OlapQuery's one-job grid; GC resolves the exrates slice via
    // the broadcast join inside Rules.ruledGrid (id-keyed). With the view
    // gate above, CubeRef now computes on all three read paths: scalar,
    // view grid, dialect grid.
    "olap_query_cuberef" -> ((s, dir) => {
      val (sales, nationRows) = fxModel(s, dir)
      val names = nationRows.map(r => s"'${r._1}'").mkString(",")
      OlapQuery(sales.databaseRef.get,
          s"SELECT nation, value FROM salesfx WHERE nation=($names), 'GC'")
        .withColumn("value", col("value").cast("double"))
    }),

    // A+ (round 9): cross-cube ref at BASE grain — the feeder shape
    // "convert each base cell with ITS OWN rate, then aggregate"
    // (≠ converting the aggregate). Rules.baseRuleGrid joins the exrates
    // slice onto the base-grain frame via one broadcast join keyed on the
    // nation leaf ids; emitted per nation (single base row per group) so
    // the compare stays order-exact. Same oracle as olap_rule_cuberef:
    // at leaf grain the two derivations coincide — the GATE pins that the
    // base-grain path computes them through the grid plan.
    "olap_rule_cuberef_base" -> ((s, dir) => {
      val (sales, nationRows) = fxModel(s, dir)
      val db = sales.databaseRef.get
      db.dimension("m").edit().addMany(Seq("GCB")).commit()
      val rule = RuleDef(Map("m" -> "GCB"), RuleScope.BaseLevel,
        RuleExpr.Mul(RuleExpr.Ref("LC"),
          RuleExpr.CubeRef("exrates",
            Seq(RuleExpr.CubeRefPart.AttrOf("nation", "cur")))),
        "lc_to_gcb")
      sales.registerRule(rule)
      val nat = db.dimension("nation")
      val leaves = nat.leafMembers
      val g = graft.olap.Rules.baseRuleGrid(sales, rule,
        Seq(leaves.map(_.id), Nil), measureDim = 1)
      val idToName = map(leaves.flatMap(m => Seq(lit(m.id), lit(m.name))): _*)
      g.select(idToName(col("a0")).as("nation"),
        col("value").cast("double").as("value"))
    }),

    // R8/scope-5 (round 10): COMMAND rule over an AREA — the fifth rule
    // scope as ONE bulk job, not a per-cell loop: "seed plan = gross × 2
    // for EUROPE" evaluates the expression per base cell through the
    // BASE_LEVEL grid plan, merges the cells in under the trigger member
    // (anti-join + union), then a normal region rollup reads the
    // post-command state. ×2 keeps decimal(21,4) cells exact, so the
    // rollup hash-matches the oracle computing 2·Σgross directly.
    "olap_rule_command" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      m.cube.rules.foreach(c.registerRule)
      c.registerRule(RuleDef(Map("measures" -> "plan"), RuleScope.Command,
        RuleExpr.Mul(RuleExpr.Ref("gross"), RuleExpr.Lit(2.0)), "seed_plan"))
      require(c.get(Seq("EUROPE", "AllTime", "AllBrands", "plan")).isEmpty,
        "a command rule must never fire on read")
      val nCells = graft.olap.Rules.executeCommandArea(c, "seed_plan",
        c.area("geo" -> Seq("EUROPE")))
      val g = grid(m, c, Seq("EUROPE", "AMERICA"), Seq("AllTime"),
        Seq("AllBrands"), Seq("plan"))
      m.named(g, "a0", 0, "region")
        .select(col("region"), col("value").cast("double").as("value"),
          lit(nCells).as("cells_written"))
    }),

    // S+ (round 13): INCREMENTAL z-ordered backing — the store is built
    // from the months' FIRST half only, then the second half arrives as
    // two bulk appends through the manifest store (only overlapping-range
    // files re-cluster; replaced addresses rewrite in place by the
    // equal-address ⇒ equal-z containment argument). The rollup slices
    // both interleaved dims through the grown backing and hash-matches
    // the same plain-SQL oracle as a from-scratch build — maintenance
    // lost/duplicated/staled nothing.
    "olap_zordered_append_read" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("zordappend", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val months = orders
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"))
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      val mon = db.addDimension("month")
      mon.edit().addMany(months).add("AllMonths", months).commit()
      val prioDf = s.createDataFrame(prios.map(p => (p, prio.idOf(p))))
        .toDF("o_orderpriority", "d1")
      val monDf = s.createDataFrame(months.map(m => (m, mon.idOf(m))))
        .toDF("m", "d2")
      val facts = orders
        .withColumn("m", date_format(col("o_orderdate"), "yyyy-MM"))
        .join(broadcast(prioDf), Seq("o_orderpriority"))
        .join(broadcast(monDf), Seq("m"))
        .groupBy(col("o_custkey").cast("int").as("d0"), col("d1"), col("d2"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)"))
          .cast("decimal(21,4)").as("value"))
      val half = months.size / 2
      val earlyIds = months.take(half).map(mon.idOf)
      val lateIds = months.drop(half).map(mon.idOf)
      val cube = db.addCube("sales", Seq(cust, prio, mon),
        facts.filter(col("d2").isin(earlyIds: _*)))
      val store = java.nio.file.Files.createTempDirectory("graftzcube").toString
      require(cube.compactToZorderedStore(store, Seq(1, 2), files = 8),
        "z-store compaction must land on an uncontended cube")
      val (late1, late2) = (lateIds.take(lateIds.size / 2),
        lateIds.drop(lateIds.size / 2))
      val st1 = cube.appendZorderedStore(facts.filter(col("d2").isin(late1: _*)))
      val st2 = cube.appendZorderedStore(facts.filter(col("d2").isin(late2: _*)))
      require(st1.batchRows > 0 && st2.batchRows > 0,
        "both append batches must carry rows")
      val slice = prios.take(2)
      val mslice = (months.take(2) :+ months.last) // spans both halves
      val g = cube.gridAggregate(Seq(Seq(graft.core.Dimension.DegenerateAllId),
        slice.map(prio.idOf), mslice.map(mon.idOf)))
      val pMap = map(slice.flatMap(p => Seq(lit(prio.idOf(p)), lit(p))): _*)
      val mMap = map(mslice.flatMap(m => Seq(lit(mon.idOf(m)), lit(m))): _*)
      g.select(pMap(col("a1")).as("priority"), mMap(col("a2")).as("month"),
        col("value").cast("double").as("value"))
    }),

    // §2.12+ (round 16): CUBE-LEVEL TIME TRAVEL over the z-store's commit
    // generations — the cube face of `pipe_zorder_timetravel` (r15 verdict
    // #5). Early months land at generation 1 (compactToZorderedStore),
    // late months as one bulk append (generation 2); the gate rolls up
    // per-priority totals THROUGH a snapshot cube pinned at generation 1
    // (= the pre-append rollup: early months only) next to the live
    // cube's rollup (all months) — both via the same gridAggregate path
    // every other olap gate uses, so the snapshot is a first-class cube,
    // not a raw-Layout detour. Conceptual twin of the reference's history
    // time travel (`history.py:298-417`) on the STORE's time axis.
    "olap_zstore_asof" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("zasof", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val months = orders
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"))
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      val mon = db.addDimension("month")
      mon.edit().addMany(months).add("AllMonths", months).commit()
      val prioDf = s.createDataFrame(prios.map(p => (p, prio.idOf(p))))
        .toDF("o_orderpriority", "d1")
      val monDf = s.createDataFrame(months.map(m => (m, mon.idOf(m))))
        .toDF("m", "d2")
      val facts = orders
        .withColumn("m", date_format(col("o_orderdate"), "yyyy-MM"))
        .join(broadcast(prioDf), Seq("o_orderpriority"))
        .join(broadcast(monDf), Seq("m"))
        .groupBy(col("o_custkey").cast("int").as("d0"), col("d1"), col("d2"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)"))
          .cast("decimal(21,4)").as("value"))
      val half = months.size / 2
      val earlyIds = months.take(half).map(mon.idOf)
      val lateIds = months.drop(half).map(mon.idOf)
      val cube = db.addCube("sales", Seq(cust, prio, mon),
        facts.filter(col("d2").isin(earlyIds: _*)))
      val store = java.nio.file.Files.createTempDirectory("graftzasof").toString
      require(cube.compactToZorderedStore(store, Seq(1, 2), files = 8),
        "z-store compaction must land on an uncontended cube")
      val genBefore = cube.zStoreGeneration
      require(genBefore == 1L, s"fresh store must sit at generation 1, got $genBefore")
      val st = cube.appendZorderedStore(facts.filter(col("d2").isin(lateIds: _*)))
      require(st.batchRows > 0, "the late-months append must carry rows")
      require(cube.zStoreGeneration == genBefore + 1,
        "a bulk append must bump the store generation")
      val snap = cube.snapshotAtGeneration(genBefore)
      def perPriority(c: graft.core.Cube) = c.gridAggregate(Seq(
        Seq(graft.core.Dimension.DegenerateAllId),
        prios.map(prio.idOf), Seq(mon.idOf("AllMonths"))))
      val pMap = map(prios.flatMap(p => Seq(lit(prio.idOf(p)), lit(p))): _*)
      val live = perPriority(cube).select(pMap(col("a1")).as("priority"),
        col("value").cast("double").as("value_live"))
      val asof = perPriority(snap).select(pMap(col("a1")).as("priority"),
        col("value").cast("double").as("value_asof"))
      // left join from live: a priority with no early-month orders reads
      // NULL as-of, exactly like the oracle's conditional sum
      live.join(asof, Seq("priority"), "left")
        .select(col("priority"), col("value_asof"), col("value_live"))
    }),

    // §2.13+ (round 9): MATERIALIZED AGGREGATE + NAVIGATOR — a summary cube
    // at nation × year grain (customers/days collapsed, product/measure at
    // leaf resolution) answers region-level queries from a frame orders of
    // magnitude under the facts at scale; coverage routing is by derived-
    // member NAME, and the gate reads THROUGH the navigator so the routed
    // path itself is what's oracle-checked. Summary-served values are
    // bit-identical: the pre-aggregation runs through the base cube's own
    // decimal-exact gridAggregate.
    "olap_agg_navigator" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val summary = graft.olap.Aggregates.materialize(m.cube,
        "sales_nation_year", Seq(Some(1), Some(2), None, None))
      val nav = new graft.olap.Aggregates.Navigator(m.cube, Seq(summary))
      val probe = Seq("EUROPE", "1996", "AllBrands", "gross")
      require(nav.cubeFor(probe) eq summary,
        "a region×year address must be summary-served")
      val c = nav.cubeFor(probe)
      val geoD = c.dimensions(0)
      val regionNames = m.cube.dimensions(0).members.filter(_.level == 2).map(_.name)
      val grid = c.gridAggregate(Seq(
        regionNames.map(geoD.idOf),
        Seq(c.dimensions(1).idOf("1996")),
        Seq(c.dimensions(2).idOf("AllBrands")),
        Seq(c.dimensions(3).idOf("gross"))))
      val nameMap = map(regionNames.flatMap(n => Seq(lit(geoD.idOf(n)), lit(n))): _*)
      grid.select(nameMap(col("a0")).as("region"),
        col("value").cast("double").as("value"))
    }),

    // §2.13+ (round 10): PERSISTED summary lifecycle — the summary facts go
    // through the bucketed fact writer (bucketed on the coarsened grain
    // keys), then a FRESH summary cube is reconstructed over the persisted
    // table (no base re-scan: dims re-derive from the driver-resident
    // catalogs, deterministic ids) and the navigator routes through it.
    // Same oracle as olap_agg_navigator: the persisted round-trip must be
    // bit-identical to the in-session materialization.
    "olap_agg_navigator_persist" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val grain = Seq(Some(1), Some(2), None, None)
      val built = graft.olap.Aggregates.materialize(m.cube, "sales_ny_p", grain)
      graft.olap.Aggregates.persist(built, "summary_sales_ny", nBuckets = 4)
      val loaded = graft.olap.Aggregates.load(m.cube, "sales_ny_p", grain,
        "summary_sales_ny")
      val nav = new graft.olap.Aggregates.Navigator(m.cube, Seq(loaded))
      val probe = Seq("EUROPE", "1996", "AllBrands", "gross")
      require(nav.cubeFor(probe) eq loaded,
        "a region×year address must be served by the PERSISTED summary")
      val c = nav.cubeFor(probe)
      val geoD = c.dimensions(0)
      val regionNames = m.cube.dimensions(0).members.filter(_.level == 2).map(_.name)
      val grid = c.gridAggregate(Seq(
        regionNames.map(geoD.idOf),
        Seq(c.dimensions(1).idOf("1996")),
        Seq(c.dimensions(2).idOf("AllBrands")),
        Seq(c.dimensions(3).idOf("gross"))))
      val nameMap = map(regionNames.flatMap(n => Seq(lit(geoD.idOf(n)), lit(n))): _*)
      grid.select(nameMap(col("a0")).as("region"),
        col("value").cast("double").as("value"))
    }),

    // §2.13+ (round 10): PARTIAL summary refresh — a point upsert lands in
    // the base, then refreshed() recomputes ONLY the grain cells covering
    // the written address (from the cube's write log; pushed-down leaf
    // filters + a closure join restricted to the touched grain members —
    // cost ∝ the data under the touched cells, not the corpus), and the
    // navigator serves the post-write world total from the summary again.
    // The gate asserts the PARTIAL path was available (not a silent full
    // rebuild) and hash-checks the refreshed value against the same
    // post-upsert oracle as olap_upsert.
    "olap_agg_refresh" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      val summary = graft.olap.Aggregates.materialize(c, "scratch_ny",
        Seq(Some(1), Some(2), None, None))
      c.set(probeAddress(s, dir), 12345.67)
      val refreshed = graft.olap.Aggregates.refreshPartial(c, summary)
        .getOrElse(throw new IllegalStateException(
          "a single point write must be partially refreshable"))
      val nav = new graft.olap.Aggregates.Navigator(c, Seq(refreshed))
      val world = Seq("World", "AllTime", "AllBrands", "gross")
      require(nav.cubeFor(world).name == "scratch_ny",
        "the refreshed summary must serve the world total again")
      oneValueDf(s, nav.get(world))
    }),
    // (oracle: identical post-upsert world total as olap_upsert — see below)

    // §2.13+ (round 10): MULTI-SUMMARY LATTICE routing — region×year (coarse)
    // and nation×year (fine) summaries registered smallest-first; a
    // region-level address must route to the COARSE one (both cover it, the
    // first/smallest wins), a nation-level address only to the fine one.
    // The gate reads one grid through each routed path: regions through the
    // coarse summary, EUROPE's nations through the fine — both oracle-checked.
    "olap_agg_lattice" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val coarse = graft.olap.Aggregates.materialize(m.cube,
        "sales_region_year", Seq(Some(2), Some(2), None, None))
      val fine = graft.olap.Aggregates.materialize(m.cube,
        "sales_nation_year2", Seq(Some(1), Some(2), None, None))
      val nav = new graft.olap.Aggregates.Navigator(m.cube, Seq(coarse, fine))
      require(nav.cubeFor(Seq("EUROPE", "1996", "AllBrands", "gross")) eq coarse,
        "a region×year address must route to the SMALLEST covering summary")
      val natNames = m.geo.members.find(_.name == "EUROPE").get.children
        .map(id => m.geo.nameOf(id))
      require(nav.cubeFor(Seq(natNames.head, "1996", "AllBrands", "gross")) eq fine,
        "a nation×year address must route to the nation-grain summary")
      def gridOf(c: graft.core.Cube, names: Seq[String]): org.apache.spark.sql.DataFrame = {
        val d0 = c.dimensions(0)
        val g = c.gridAggregate(Seq(names.map(d0.idOf),
          Seq(c.dimensions(1).idOf("1996")),
          Seq(c.dimensions(2).idOf("AllBrands")),
          Seq(c.dimensions(3).idOf("gross"))))
        val nm = map(names.flatMap(n => Seq(lit(d0.idOf(n)), lit(n))): _*)
        g.select(nm(col("a0")).as("member"), col("value").cast("double").as("value"))
      }
      val regionNames = m.cube.dimensions(0).members.filter(_.level == 2).map(_.name)
      gridOf(coarse, regionNames).union(gridOf(fine, natNames))
    }),

    // §2.13+ (round 13): GROUPING SETS through the navigator — a
    // multi-grain lattice query answered PARTLY summary-served, per
    // grain: the World total and the region grain ride the coarse
    // region×year summary, the nation grain the fine nation×year one,
    // and the customer grain (below every summary) falls back to base.
    // Routing is require'd per grain, and the unioned grids hash-match
    // the base-served GROUPING SETS oracle.
    "olap_agg_grouping_sets" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val coarse = graft.olap.Aggregates.materialize(m.cube,
        "gs_region_year", Seq(Some(2), Some(2), None, None))
      val fine = graft.olap.Aggregates.materialize(m.cube,
        "gs_nation_year", Seq(Some(1), Some(2), None, None))
      val nav = new graft.olap.Aggregates.Navigator(m.cube, Seq(coarse, fine))
      val regionNames = m.cube.dimensions(0).members.filter(_.level == 2).map(_.name)
      val natNames = m.geo.members.find(_.name == "EUROPE").get.children
        .map(id => m.geo.nameOf(id))
      val custNames = Seq("C#1", "C#2", "C#3")
      val rest = Seq(Seq("1996"), Seq("AllBrands"), Seq("gross"))
      val grains = Seq(
        Seq(Seq("World")) ++ rest,
        Seq(regionNames) ++ rest,
        Seq(natNames) ++ rest,
        Seq(custNames) ++ rest)
      val (targets, df) = nav.groupingSets(grains)
      require((targets(0) eq coarse) && (targets(1) eq coarse),
        "World total and region grain must ride the coarse summary")
      require(targets(2) eq fine, "nation grain must ride the fine summary")
      require(targets(3) eq m.cube,
        "customer grain sits below every summary — base must serve it")
      df.select(col("grain"), col("m0").as("member"), col("value"))
    }),

    // §2.13 × R3 (round 12): AGGREGATION_LEVEL rule served THROUGH a
    // COARSENED summary — the exact r10-flagged failure shape. The summary's
    // grain members (nations, years) are LEAVES of the derived catalogs, so
    // the rule kept at AGGREGATION_LEVEL would never fire at grain addresses
    // and the navigator would silently surface the stored base-aggregate
    // instead of the computed margin. materialize() re-registers it
    // ALL_LEVELS (every servable summary address is an aggregate in the
    // BASE catalog, so base fires the rule everywhere the summary serves);
    // this gate pins that rescue end-to-end: rescoped registration asserted,
    // nation×year 'plan' selection navigator-routed to the summary, ruled
    // grid hash-matched against the base-served oracle.
    "olap_agg_rule_rescope" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      c.registerRule(RuleDef(
        trigger = Map("measures" -> "plan"), scope = RuleScope.AggregationLevel,
        expr = RuleExpr.Div(
          RuleExpr.Sub(RuleExpr.Ref("gross"), RuleExpr.Ref("disc_amt")),
          RuleExpr.Ref("gross")),
        name = "margin_rescope"))
      val summary = graft.olap.Aggregates.materialize(c, "scratch_ny_rule",
        Seq(Some(1), Some(2), None, None))
      require(summary.rules.exists(r =>
          r.name == "margin_rescope" && r.scope == RuleScope.AllLevels),
        "the AGGREGATION_LEVEL rule must be re-registered ALL_LEVELS on the coarsened summary")
      val nav = new graft.olap.Aggregates.Navigator(c, Seq(summary))
      val natNames = m.geo.membersByLevel(1).map(_.name)
      val t = nav.cubeForSelections(
        Seq(natNames, Seq("1996"), Seq("AllBrands"), Seq("plan")))
      require(t eq summary,
        "a nation×year rule-backed selection must be summary-served")
      val d0 = t.dimensions(0)
      val g = graft.olap.Rules.ruledGrid(t, Seq(
        natNames.map(d0.idOf), Seq(t.dimensions(1).idOf("1996")),
        Seq(t.dimensions(2).idOf("AllBrands")), Seq(t.dimensions(3).idOf("plan"))))
      val nm = map(natNames.flatMap(n => Seq(lit(d0.idOf(n)), lit(n))): _*)
      g.select(nm(col("a0")).as("nation"), col("value").cast("double").as("value"))
    }),

    // §2.13 × §2.11 (round 11): summary over a DEGENERATE dimension — the
    // >2M-member shape that most needs materialized aggregates is exactly
    // the one with no member catalog. The unbounded customer dim COLLAPSES
    // to its all-member (a derived one-member catalog; coverage routing by
    // name still holds: 'All' is a member, raw keys are not), priority
    // keeps its catalog; navigator-routed (All × priority) reads serve
    // from the priority-sized summary, never rescanning per-customer rows.
    "olap_degenerate_summary" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new graft.core.Database("degsumtpch", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq // tiny driver catalog
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val prioDf = s.createDataFrame(prios.map(p => (p, prio.idOf(p))))
        .toDF("o_orderpriority", "d1")
      val facts = orders
        .join(broadcast(prioDf), Seq("o_orderpriority"))
        .groupBy(col("o_custkey").cast("int").as("d0"), col("d1"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
      val cube = db.addCube("sales", Seq(cust, prio), facts)
      val summary = graft.olap.Aggregates.materialize(cube, "sales_allcust",
        Seq(Some(1), None))
      val nav = new graft.olap.Aggregates.Navigator(cube, Seq(summary))
      require(nav.cubeFor(Seq("All", "AllPrio")) eq summary,
        "an all-customer address must be summary-served")
      require(nav.cubeFor(Seq("C#1", "AllPrio")) eq cube,
        "a raw-key address is below the grain and must fall back to base")
      val c = nav.cubeForSelections(Seq(Seq("All"), prios :+ "AllPrio"))
      require(c eq summary, "the all-customer grid must be summary-served")
      val grid = c.gridAggregate(Seq(Seq(c.dimensions(0).idOf("All")),
        (prios :+ "AllPrio").map(prio.idOf)))
      val nameMap = map((prios :+ "AllPrio")
        .flatMap(n => Seq(lit(prio.idOf(n)), lit(n))): _*)
      grid.select(nameMap(col("a1")).as("priority"),
        col("value").cast("double").as("value"))
    }),

    // V+ (round 10): a whole VIEW through the navigator — same definition as
    // olap_view_pivot (regions × years, AllBrands/gross slicers), but the
    // grid job runs on the nation×year summary the navigator routes to
    // (every named member — regions, years, AllBrands, gross — is contained
    // in the derived dims). Same oracle as olap_view_pivot: routing must not
    // change a single cell.
    "olap_view_navigator" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val summary = graft.olap.Aggregates.materialize(m.cube,
        "sales_ny_view", Seq(Some(1), Some(2), None, None))
      val nav = new graft.olap.Aggregates.Navigator(m.cube, Seq(summary))
      // only catalog-present years: a member name absent from the DERIVED
      // dimension routes the view to base (coverage is by membership), and
      // the years dimension only holds years the orders actually span
      val years = (1995 to 1998).map(_.toString)
      val routed = nav.view(ViewDef(
        filters = Seq("product" -> "AllBrands", "measures" -> "gross"),
        rows = AxisDef(Seq("geo" -> m.geo.membersByLevel(2).map(_.name).sorted)),
        cols = AxisDef(Seq("calendar" -> years))))
      require(routed.cube eq summary,
        "the region×year view must be summary-served")
      routed.refresh()
    }),

    "olap_rule_validate" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      m.cube.rules.foreach(c.registerRule)
      def rejected(r: RuleDef): Boolean =
        try { c.registerRule(r); false }
        catch { case _: IllegalArgumentException => true }
      val badTrigger = rejected(RuleDef(Map("no_such_dim" -> "gross"),
        RuleScope.AllLevels, RuleExpr.Lit(1), "bad1"))
      val badRef = rejected(RuleDef(Map("measures" -> "plan"),
        RuleScope.AllLevels, RuleExpr.Ref("no_such_member"), "bad2"))
      val world = c.get(Seq("World", "AllTime", "AllBrands", "margin"))
      s.createDataFrame(
        s.sparkContext.parallelize(List(Row(Boolean.box(badTrigger),
          Boolean.box(badRef), Int.box(c.rules.size),
          world.map(Double.box).orNull)), 1),
        StructType(Seq(StructField("bad_trigger_rejected", BooleanType),
          StructField("bad_ref_rejected", BooleanType),
          StructField("n_rules", IntegerType),
          StructField("value", DoubleType))))
    }),

    // R5: the #DIV/0! sentinel — margin = net/gross over a STORED-zero
    // gross reads as the typed error code through getCell (never a silent
    // null or 0), and the sentinel cell does not poison the rest of the
    // cube: the world margin over everything-but-the-zeroed-cell still
    // matches the oracle exactly
    "olap_rule_divzero" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val c = scratch(m)
      m.cube.rules.foreach(c.registerRule)
      val addr = probeAddress(s, dir) // (customer, date, part, gross)
      c.set(addr, 0.0) // explicit stored zero — an ERROR divisor, not empty
      c.set(addr.updated(3, "disc_amt"), 0.0)
      val code = c.getCell(addr.updated(3, "margin")).collect {
        case graft.core.CellValue.Err(cd) => cd
      }.getOrElse("no-error")
      val world = c.get(Seq("World", "AllTime", "AllBrands", "margin"))
      s.createDataFrame(
        s.sparkContext.parallelize(
          List(Row(code, world.map(Double.box).orNull)), 1),
        StructType(Seq(StructField("code", StringType),
          StructField("value", DoubleType))))
    }),

    // V6: windowed refresh — ViewWindow pages rows 2..4 × value columns 1..3
    // out of the months×regions grid (driver-side crop of the ordered grid)
    // V9: view statistics — the refresh's self-reported grid extent and
    // storage-vs-rule position split, oracle-grounded: with zero
    // suppression ON, the post-suppression row count equals the number of
    // requested 1995 months that actually carry data; the (gross, margin)
    // column axis splits 1 aggregated + 1 ruled position
    "olap_view_stats" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val months = (1 to 12).map(mm => f"1995-$mm%02d")
      val view = new View(m.cube, ViewDef(
        filters = Seq("product" -> "AllBrands", "geo" -> "World"),
        rows = AxisDef(Seq("calendar" -> months)),
        cols = AxisDef(Seq("measures" -> Seq("gross", "margin"))),
        zeroSuppression = true))
      view.collect()
      val st = view.stats
      import s.implicits._
      Seq((st.rows, st.columns, st.aggregatedPositions, st.rulePositions))
        .toDF("n_rows", "n_cols", "agg_positions", "rule_positions")
    }),

    "olap_view_window" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val months = (1 to 12).map(mm => f"1995-$mm%02d")
      val view = new View(m.cube, ViewDef(
        filters = Seq("product" -> "AllBrands", "measures" -> "gross"),
        rows = AxisDef(Seq("calendar" -> months)),
        cols = AxisDef(Seq("geo" -> m.geo.membersByLevel(2).map(_.name).sorted))))
      val (cols, rows) = view.collect(Some(ViewWindow(top = 2, left = 1, bottom = 4, right = 3)))
      val schema = StructType(cols.map {
        case "calendar" => StructField("calendar", StringType)
        case c => StructField(c, DoubleType)
      })
      s.createDataFrame(
        s.sparkContext.parallelize(rows.map(Row.fromSeq).toList, 1), schema)
    }),

    // F3/F5: member selection by attribute wildcard → rollup over the hits
    "olap_attr_filter" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val promoParts = m.product.attribute("ptype").filter("PROMO*")
      val g = m.cube.gridAggregate(Seq(
        Seq(m.geo.idOf("World")), Seq(m.calendar.idOf("AllTime")),
        promoParts, Seq(m.measures.idOf("gross"))))
      s.createDataFrame(
        s.sparkContext.parallelize(List(org.apache.spark.sql.Row(
          g.agg(sum(col("value"))).head.getDecimal(0).doubleValue())), 1),
        StructType(Seq(StructField("value", DoubleType))))
    }),

    // alias resolution: querying through 'EU' hits the EUROPE member
    "olap_alias_query" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val g = grid(m, m.cube, Seq("EU"), Seq("AllTime"), Seq("AllBrands"), Seq("gross"))
      g.select(col("value").cast("double").as("value"))
    }),

    // subset as WHERE slicer in the SQL dialect (≙ `query.py:199-201`)
    "olap_subset_slicer" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      OlapQuery(m.db,
        "SELECT calendar, value FROM sales WHERE geo='World', calendar=h1_1995, product=AllBrands, 'gross'")
        .withColumn("value", col("value").cast("double"))
    }),

    // rule-backed measure inside the SQL dialect grid (pivot-compute-unpivot)
    "olap_query_rule" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      OlapQuery(m.db,
        "SELECT calendar, value FROM sales WHERE geo='World', calendar=('1995','1996'), product=AllBrands, 'margin'")
        .withColumn("value", col("value").cast("double"))
    }),

    // Q+ (round 10): the SQL dialect ROUTED through the navigator — the
    // identical olap_query_sql text, but the one-job grid runs on the
    // nation×year summary (every selected member — World, the two years,
    // AllBrands, net — is contained in the derived dims, ids remapped
    // name-stably). Same oracle as olap_query_sql: routing must not change
    // a cell; a dashboard's dialect queries hit the grain-sized frame
    // automatically.
    "olap_query_navigator" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val summary = graft.olap.Aggregates.materialize(m.cube,
        "sales_ny_dialect", Seq(Some(1), Some(2), None, None))
      val nav = new graft.olap.Aggregates.Navigator(m.cube, Seq(summary))
      val sql = "SELECT calendar, value FROM sales WHERE geo='World', calendar=('1995','1996'), product=AllBrands, 'net'"
      require(OlapQuery.routedTarget(nav, sql) eq summary,
        "the year-grain dialect query must be summary-served")
      OlapQuery.routed(nav, sql)
        .withColumn("value", col("value").cast("double"))
    }),

    // Q1-Q4: the SQL dialect — parse, slicer resolution, one-job grid exec
    "olap_query_sql" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      OlapQuery(m.db,
        "SELECT calendar, value FROM sales WHERE geo='World', calendar=('1995','1996'), product=AllBrands, 'net'")
        .withColumn("value", col("value").cast("double"))
    }),

    // V1-V3: pivot view — rows=regions, cols=years: one grid (a Spark job
    // unless base reads built the point index), pivoted on the driver
    "olap_view_pivot" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val years = (1995 to 2001).map(_.toString)
      val view = new View(m.cube, ViewDef(
        filters = Seq("product" -> "AllBrands", "measures" -> "gross"),
        rows = AxisDef(Seq("geo" -> m.geo.membersByLevel(2).map(_.name).sorted)),
        cols = AxisDef(Seq("calendar" -> years))))
      view.refresh()
    }),

    // V1 multi-dim column axis: cols = calendar × measures (cartesian product
    // of member lists, ≙ view.py:167-171) — still one grid job, pivoted on
    // the driver by the composite position key
    "olap_view_pivot2" -> ((s, dir) => {
      val m = TpchModel.get(s, dir)
      val view = new View(m.cube, ViewDef(
        filters = Seq("product" -> "AllBrands"),
        rows = AxisDef(Seq("geo" -> m.geo.membersByLevel(2).map(_.name).sorted)),
        cols = AxisDef(Seq(
          "calendar" -> Seq("1995", "1996"),
          "measures" -> Seq("gross", "net")))))
      view.refresh()
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "olap_rollup_region" ->
      s"SELECT r_name AS region, CAST(SUM($GROSS) AS DOUBLE) AS value $STAR GROUP BY r_name",

    "olap_rollup_net_year" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS year,
          CAST(SUM($GROSS) - SUM($DISC) AS DOUBLE) AS value $STAR GROUP BY 1""",

    "olap_multiparent" ->
      s"""SELECT p_brand AS member, CAST(SUM($GROSS) AS DOUBLE) AS value $PSTAR GROUP BY p_brand
          UNION ALL
          SELECT p_type AS member, CAST(SUM($GROSS) AS DOUBLE) AS value $PSTAR GROUP BY p_type""",

    "olap_point_read" ->
      s"""SELECT CAST(SUM($GROSS) AS DOUBLE) AS value
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_custkey = (SELECT o_custkey FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
            AND o_orderdate = (SELECT o_orderdate FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
            AND l_partkey = (SELECT min(l_partkey) FROM lineitem WHERE l_orderkey = (SELECT min(o_orderkey) FROM orders))""",

    // identical arithmetic through the indexed path
    "olap_point_read_indexed" ->
      s"""SELECT CAST(SUM($GROSS) AS DOUBLE) AS value
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_custkey = (SELECT o_custkey FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
            AND o_orderdate = (SELECT o_orderdate FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
            AND l_partkey = (SELECT min(l_partkey) FROM lineitem WHERE l_orderkey = (SELECT min(o_orderkey) FROM orders))""",

    "olap_upsert" ->
      s"""SELECT CAST(
            (SELECT SUM($GROSS) FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
            - (SELECT SUM($GROSS) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               WHERE o_custkey = (SELECT o_custkey FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
                 AND o_orderdate = (SELECT o_orderdate FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
                 AND l_partkey = (SELECT min(l_partkey) FROM lineitem WHERE l_orderkey = (SELECT min(o_orderkey) FROM orders)))
            + CAST(12345.67 AS DECIMAL(21,4)) AS DOUBLE) AS value""",

    // partial summary refresh serves the identical post-upsert world total
    "olap_agg_refresh" ->
      s"""SELECT CAST(
            (SELECT SUM($GROSS) FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
            - (SELECT SUM($GROSS) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               WHERE o_custkey = (SELECT o_custkey FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
                 AND o_orderdate = (SELECT o_orderdate FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
                 AND l_partkey = (SELECT min(l_partkey) FROM lineitem WHERE l_orderkey = (SELECT min(o_orderkey) FROM orders)))
            + CAST(12345.67 AS DECIMAL(21,4)) AS DOUBLE) AS value""",

    "olap_delete" ->
      s"""SELECT CAST(
            (SELECT SUM($GROSS) FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
            - (SELECT SUM($GROSS) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               WHERE o_custkey = (SELECT o_custkey FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
                 AND o_orderdate = (SELECT o_orderdate FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
                 AND l_partkey = (SELECT min(l_partkey) FROM lineitem WHERE l_orderkey = (SELECT min(o_orderkey) FROM orders)))
            AS DOUBLE) AS value""",

    "olap_payload_skip" ->
      s"""SELECT CAST(
            (SELECT SUM($GROSS) FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
            - (SELECT SUM($GROSS) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               WHERE o_custkey = (SELECT o_custkey FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
                 AND o_orderdate = (SELECT o_orderdate FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
                 AND l_partkey = (SELECT min(l_partkey) FROM lineitem WHERE l_orderkey = (SELECT min(o_orderkey) FROM orders)))
            AS DOUBLE) AS value,
            'approved by controlling' AS payload,
            CAST(1 AS BIGINT) AS payload_records""",

    "olap_area_records" ->
      s"""SELECT 'C#' || CAST(o_custkey AS VARCHAR) AS geo,
          strftime(o_orderdate, '%Y-%m-%d') AS calendar,
          'P#' || CAST(l_partkey AS VARCHAR) AS product,
          'gross' AS measures,
          CAST(SUM($GROSS) AS DOUBLE) AS value
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE strftime(o_orderdate, '%Y') = '1995'
          GROUP BY 1, 2, 3""",

    "olap_area_multiply" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS year,
          CAST(SUM(CASE WHEN strftime(o_orderdate, '%Y') = '1995'
                        THEN $GROSS * 2 ELSE $GROSS END) AS DOUBLE) AS value
          $STAR GROUP BY 1""",

    "olap_area_clear" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS year,
          CAST(SUM($GROSS) AS DOUBLE) AS value
          $STAR WHERE strftime(o_orderdate, '%Y') <> '1995' GROUP BY 1""",

    "olap_area_copy" ->
      s"SELECT r_name AS region, CAST(SUM($GROSS * 2) AS DOUBLE) AS value $STAR GROUP BY r_name",

    // mirrors the engine's arithmetic shape exactly: exact decimal cell sums,
    // S as decimal-sum→double, per-cell IEEE (v*T)/S in double, recast to the
    // fact frame's decimal(21,4) before the (exact, order-independent)
    // decimal rollup
    "olap_area_allocate" ->
      s"""WITH cells AS (
            SELECT strftime(o_orderdate, '%Y') AS year, SUM($GROSS) AS v
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_custkey, o_orderdate, l_partkey, strftime(o_orderdate, '%Y')),
          s95 AS (SELECT CAST(SUM(v) AS DOUBLE) AS s FROM cells WHERE year = '1995'),
          n96 AS (SELECT COUNT(*) AS n FROM cells WHERE year = '1996')
          SELECT year,
            CAST(SUM(CASE
              WHEN year = '1995' THEN CAST(CAST(v AS DOUBLE) * 1000000.0 / (SELECT s FROM s95) AS DECIMAL(21,4))
              WHEN year = '1996' THEN CAST(500000.0 / (SELECT n FROM n96) AS DECIMAL(21,4))
              ELSE v END) AS DOUBLE) AS value
          FROM cells GROUP BY year""",

    "olap_rule_base" ->
      s"SELECT r_name AS region, CAST(SUM($GROSS) - SUM($DISC) AS DOUBLE) AS value $STAR GROUP BY r_name",

    "olap_rule_agg" ->
      s"""SELECT r_name AS region,
          CAST(SUM($GROSS) - SUM($DISC) AS DOUBLE) / CAST(SUM($GROSS) AS DOUBLE) AS value
          $STAR GROUP BY r_name""",

    "olap_huge_top" ->
      "SELECT CAST(1000000 AS DOUBLE) AS value",

    "olap_grid_dense" ->
      s"""SELECT n_name AS nation, strftime(o_orderdate, '%Y-%m') AS month,
          CAST(SUM($GROSS) AS DOUBLE) AS value
          $STAR GROUP BY 1, 2""",

    "olap_area_stats" ->
      s"""WITH cells AS (
            SELECT SUM($GROSS) AS v
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE strftime(o_orderdate, '%Y') = '1995'
            GROUP BY o_custkey, o_orderdate, l_partkey)
          SELECT CAST(MIN(v) AS DOUBLE) AS mn, CAST(MAX(v) AS DOUBLE) AS mx,
                 CAST(SUM(v) AS DOUBLE) AS total,
                 CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean,
                 COUNT(*) AS n
          FROM cells""",

    "olap_attr_regex" ->
      s"""SELECT CAST(SUM($GROSS) AS DOUBLE) AS value
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE regexp_matches(p_type, '^(STA|ECO)')""",

    "olap_level_members" ->
      "SELECT n_name AS nation FROM nation",

    // mirrors Dimension.catalogDf over geo: World → region → nation →
    // customer, unit edge weights, roots with parent ''/weight 0
    "olap_dim_catalog" ->
      """SELECT 'World' AS mname, CAST(3 AS BIGINT) AS level, '' AS parent,
           CAST(0.0 AS DOUBLE) AS weight
         UNION ALL
         SELECT r_name, CAST(2 AS BIGINT), 'World', CAST(1.0 AS DOUBLE) FROM region
         UNION ALL
         SELECT n_name, CAST(1 AS BIGINT), r.r_name, CAST(1.0 AS DOUBLE)
         FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
         UNION ALL
         SELECT 'C#' || CAST(c_custkey AS VARCHAR), CAST(0 AS BIGINT), n.n_name,
           CAST(1.0 AS DOUBLE)
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey""",

    "olap_view_zero_suppress" -> {
      val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      val cols = regions.map(r =>
        s"""CAST(SUM($GROSS) FILTER (WHERE r_name = '$r') AS DOUBLE) AS "$r"""")
        .mkString(", ")
      s"""SELECT strftime(o_orderdate, '%Y') AS calendar, $cols
          $STAR WHERE strftime(o_orderdate, '%Y') <> '1995' GROUP BY 1"""
    },

    "olap_degenerate_grid" ->
      """SELECT o_custkey AS custkey,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
          FROM orders
          WHERE o_custkey IN (SELECT DISTINCT o_custkey FROM orders ORDER BY 1 LIMIT 5)
          GROUP BY 1""",

    "olap_import_named" ->
      """SELECT o_orderpriority AS priority,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
          FROM orders GROUP BY 1
          UNION ALL
          SELECT 'AllPrio' AS priority,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
          FROM orders""",

    // the removed (min-name) priority's rows are excluded per-leaf AND from
    // the AllPrio rollup — if the commit-time purge ever regressed, AllPrio
    // would carry the orphan sum and the hash would split
    "olap_member_remove" ->
      """SELECT o_orderpriority AS priority,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
          FROM orders
          WHERE o_orderpriority <> (SELECT min(o_orderpriority) FROM orders)
          GROUP BY 1
          UNION ALL
          SELECT 'AllPrio' AS priority,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
          FROM orders
          WHERE o_orderpriority <> (SELECT min(o_orderpriority) FROM orders)""",

    // the min-name priority renders under its new name, sum unchanged —
    // a rename that dropped or re-keyed facts would shift it
    "olap_member_rename" ->
      """SELECT CASE WHEN o_orderpriority = (SELECT min(o_orderpriority) FROM orders)
            THEN 'Renamed-P0' ELSE o_orderpriority END AS priority,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
          FROM orders GROUP BY 1
          UNION ALL
          SELECT 'AllPrio' AS priority,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
          FROM orders""",

    // the tombstoned (min-custkey, min-priority) cell is excluded from its
    // leaf sum and the AllPrio rollup; everything else reads from the
    // bucketed backing unchanged
    "olap_bucketed_read" ->
      """SELECT o_orderpriority AS priority,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
          FROM orders
          WHERE NOT (o_custkey = (SELECT min(o_custkey) FROM orders)
                 AND o_orderpriority = (SELECT min(o_orderpriority) FROM orders))
          GROUP BY 1
          UNION ALL
          SELECT 'AllPrio' AS priority,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
          FROM orders
          WHERE NOT (o_custkey = (SELECT min(o_custkey) FROM orders)
                 AND o_orderpriority = (SELECT min(o_orderpriority) FROM orders))""",

    // mirrors the engine's per-address record grain + post-write ref
    // resolution: each min-priority record adds its customer's max-priority
    // cell (absent → +0), then rolls up
    "olap_import_ref_rule" ->
      """WITH g AS (SELECT o_custkey AS ck, o_orderpriority AS p,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(21,4)) AS v
          FROM orders GROUP BY 1, 2),
        h AS (SELECT ck, p,
            CASE WHEN p = (SELECT min(o_orderpriority) FROM orders)
              THEN v + COALESCE((SELECT g2.v FROM g g2 WHERE g2.ck = g.ck
                  AND g2.p = (SELECT max(o_orderpriority) FROM orders)), 0)
              ELSE v END AS v
          FROM g)
        SELECT p AS priority, CAST(SUM(v) AS DOUBLE) AS value FROM h GROUP BY 1
        UNION ALL
        SELECT 'AllPrio' AS priority, CAST(SUM(v) AS DOUBLE) AS value FROM h""",

    // input = record grain + the 4 junk rows; resolved/dropped/total all
    // data-grounded against the same orders scan
    "olap_import_report" ->
      """WITH g AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
        SELECT CAST((SELECT COUNT(*) FROM g) + 4 AS BIGINT) AS input_rows,
               CAST((SELECT COUNT(*) FROM g) AS BIGINT) AS resolved_rows,
               CAST(4 AS BIGINT) AS dropped_rows,
               CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(15,2))) FROM orders)
                 AS DOUBLE) AS value""",

    // mirrors the engine's per-address record grain: the ON_ENTRY transform
    // applies to each imported (customer, priority) record, then rolls up
    "olap_import_on_entry" ->
      """WITH g AS (SELECT o_custkey, o_orderpriority,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(21,4)) AS v
          FROM orders GROUP BY 1, 2),
        h AS (SELECT o_orderpriority,
            CASE WHEN o_orderpriority = (SELECT MIN(o_orderpriority) FROM orders)
              THEN -ABS(v) ELSE v END AS v
          FROM g)
        SELECT o_orderpriority AS priority, CAST(SUM(v) AS DOUBLE) AS value
        FROM h GROUP BY 1
        UNION ALL
        SELECT 'AllPrio' AS priority, CAST(SUM(v) AS DOUBLE) AS value FROM h""",

    "olap_view_csv" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS calendar,
          CAST(SUM($GROSS) AS DOUBLE) AS gross,
          CAST(SUM($GROSS) - SUM($DISC) AS DOUBLE) AS net
          $STAR GROUP BY 1""",

    // the suppressed 'plan' column is simply absent; gross stays exact
    "olap_view_col_suppress" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS calendar,
          CAST(SUM($GROSS) AS DOUBLE) AS gross
          $STAR GROUP BY 1""",

    "olap_write_reject" ->
      s"""SELECT TRUE AS rejected, CAST((SELECT SUM($GROSS)
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey) AS DOUBLE) AS value""",

    "olap_comments" ->
      s"""SELECT 'alice:checked against ledger|bob:restated in Q3' AS comments, 2 AS n,
          (SELECT CAST(SUM($GROSS) AS DOUBLE)
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_custkey = (SELECT o_custkey FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
             AND o_orderdate = (SELECT o_orderdate FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
             AND l_partkey = (SELECT min(l_partkey) FROM lineitem WHERE l_orderkey = (SELECT min(o_orderkey) FROM orders))) AS value""",

    "olap_undo" ->
      s"""SELECT CAST((SELECT SUM($GROSS)
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey) AS DOUBLE) AS value""",

    "olap_saveload" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS calendar,
          CAST(SUM($GROSS) - SUM($DISC) AS DOUBLE) / CAST(SUM($GROSS) AS DOUBLE) AS value
          $STAR WHERE strftime(o_orderdate, '%Y') IN ('1997','1998') GROUP BY 1""",

    // same margin arithmetic as olap_saveload, different year pair — the
    // encrypted round-trip must reproduce it from decrypted payloads alone
    "olap_encrypted_saveload" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS calendar,
          CAST(SUM($GROSS) - SUM($DISC) AS DOUBLE) / CAST(SUM($GROSS) AS DOUBLE) AS value
          $STAR WHERE strftime(o_orderdate, '%Y') IN ('1996','1997') GROUP BY 1""",

    "olap_snapshot_restore" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS calendar,
          CAST(SUM($GROSS) - SUM($DISC) AS DOUBLE) / CAST(SUM($GROSS) AS DOUBLE) AS value
          $STAR WHERE strftime(o_orderdate, '%Y') IN ('1996','1998') GROUP BY 1""",

    "olap_setvalue_enum" ->
      s"""SELECT CAST(
            (SELECT SUM($GROSS) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               WHERE NOT (o_custkey = (SELECT o_custkey FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
                 AND strftime(o_orderdate, '%Y') = '1995'
                 AND l_partkey = (SELECT min(l_partkey) FROM lineitem WHERE l_orderkey = (SELECT min(o_orderkey) FROM orders))))
            + CAST(10 AS DECIMAL(21,4)) * (SELECT COUNT(DISTINCT o_orderdate) FROM orders
                 WHERE strftime(o_orderdate, '%Y') = '1995')
            AS DOUBLE) AS value""",

    "olap_view_stats" ->
      s"""SELECT CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS BIGINT) AS n_rows,
          2 AS n_cols, 1 AS agg_positions, 1 AS rule_positions
          $STAR WHERE strftime(o_orderdate, '%Y') = '1995'""",

    "olap_rule_validate" ->
      s"""SELECT TRUE AS bad_trigger_rejected, TRUE AS bad_ref_rejected,
          1 AS n_rules,
          CAST(SUM($GROSS) - SUM($DISC) AS DOUBLE) / CAST(SUM($GROSS) AS DOUBLE) AS value
          $STAR""",

    // mirrors the cross-cube rule: per-nation LC (decimal acctbal sum cast
    // to double) × rate (1.0 + 0.1·regionkey — same IEEE doubles both sides)
    "olap_rule_cuberef" ->
      """SELECT n_name AS nation,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) * (1.0 + 0.1 * r_regionkey) AS value
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name, r_regionkey""",

    // summary-served region×1996 gross — same derivation as the base facts
    "olap_agg_navigator" ->
      s"""SELECT r_name AS region, CAST(SUM($GROSS) AS DOUBLE) AS value
         $STAR
         WHERE strftime(o_orderdate, '%Y') = '1996'
         GROUP BY r_name""",

    // post-command state: plan = 2·gross seeded for EUROPE's base cells
    // only (AMERICA has no plan cells → no row); cells_written = EUROPE's
    // base address count at the gross measure
    "olap_rule_command" ->
      s"""SELECT r_name AS region, CAST(2 * SUM($GROSS) AS DOUBLE) AS value,
           (SELECT COUNT(DISTINCT (o_custkey, o_orderdate, l_partkey))
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE') AS cells_written
         $STAR
         WHERE r_name = 'EUROPE'
         GROUP BY r_name""",

    // persisted round-trip must be bit-identical to the in-session summary
    "olap_agg_navigator_persist" ->
      s"""SELECT r_name AS region, CAST(SUM($GROSS) AS DOUBLE) AS value
         $STAR
         WHERE strftime(o_orderdate, '%Y') = '1996'
         GROUP BY r_name""",

    // coarse-served regions ∪ fine-served nations of EUROPE, both at 1996
    "olap_agg_lattice" ->
      s"""SELECT r_name AS member, CAST(SUM($GROSS) AS DOUBLE) AS value
         $STAR
         WHERE strftime(o_orderdate, '%Y') = '1996'
         GROUP BY r_name
         UNION ALL
         SELECT n_name AS member, CAST(SUM($GROSS) AS DOUBLE) AS value
         $STAR
         WHERE strftime(o_orderdate, '%Y') = '1996' AND r_name = 'EUROPE'
         GROUP BY n_name""",

    // the base-served GROUPING SETS the navigator's per-grain routing
    // must reproduce bit-identically: World total, regions, EUROPE's
    // nations, and three named customers — all at 1996
    "olap_agg_grouping_sets" ->
      s"""SELECT 0 AS grain, 'World' AS member, CAST(SUM($GROSS) AS DOUBLE) AS value
         $STAR WHERE strftime(o_orderdate, '%Y') = '1996'
         UNION ALL
         SELECT 1 AS grain, r_name AS member, CAST(SUM($GROSS) AS DOUBLE) AS value
         $STAR WHERE strftime(o_orderdate, '%Y') = '1996' GROUP BY r_name
         UNION ALL
         SELECT 2 AS grain, n_name AS member, CAST(SUM($GROSS) AS DOUBLE) AS value
         $STAR WHERE strftime(o_orderdate, '%Y') = '1996' AND r_name = 'EUROPE'
         GROUP BY n_name
         UNION ALL
         SELECT 3 AS grain, 'C#' || CAST(o_custkey AS VARCHAR) AS member,
           CAST(SUM($GROSS) AS DOUBLE) AS value
         $STAR WHERE strftime(o_orderdate, '%Y') = '1996' AND o_custkey IN (1, 2, 3)
         GROUP BY o_custkey""",

    // margin per nation at 1996, the base-served arithmetic — the summary
    // route must not change a cell (sums are decimal-exact on both sides,
    // division in double)
    "olap_agg_rule_rescope" ->
      s"""SELECT n_name AS nation,
          CAST(SUM($GROSS) - SUM($DISC) AS DOUBLE) / CAST(SUM($GROSS) AS DOUBLE) AS value
          $STAR WHERE strftime(o_orderdate, '%Y') = '1996' GROUP BY n_name""",

    // the two alphabetically-first priorities, minus the deleted
    // (min-custkey, min-priority) cell — read through the partitioned base
    "olap_partitioned_read" ->
      """SELECT o_orderpriority AS priority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
         FROM orders
         WHERE o_orderpriority IN (
             SELECT DISTINCT o_orderpriority FROM orders ORDER BY 1 LIMIT 2)
           AND NOT (o_custkey = (SELECT MIN(o_custkey) FROM orders)
             AND o_orderpriority = (SELECT MIN(o_orderpriority) FROM orders))
         GROUP BY 1""",

    // the (priority × month) slice rollup the z-ordered backing serves —
    // plain SQL; the layout changes the scan, never the numbers
    "olap_zordered_read" ->
      """SELECT o_orderpriority AS priority,
           strftime(o_orderdate, '%Y-%m') AS month,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
         FROM orders
         WHERE o_orderpriority IN (
             SELECT DISTINCT o_orderpriority FROM orders ORDER BY 1 LIMIT 2)
           AND strftime(o_orderdate, '%Y-%m') IN (
             SELECT DISTINCT strftime(o_orderdate, '%Y-%m') FROM orders
             ORDER BY 1 LIMIT 3)
         GROUP BY 1, 2""",

    // the from-scratch rollup the incrementally-maintained store must
    // reproduce: first two months + the last (spans build and appends)
    "olap_zordered_append_read" ->
      """SELECT o_orderpriority AS priority,
           strftime(o_orderdate, '%Y-%m') AS month,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
         FROM orders
         WHERE o_orderpriority IN (
             SELECT DISTINCT o_orderpriority FROM orders ORDER BY 1 LIMIT 2)
           AND strftime(o_orderdate, '%Y-%m') IN (
             SELECT * FROM (
               (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS m FROM orders
                ORDER BY 1 LIMIT 2)
               UNION
               (SELECT max(strftime(o_orderdate, '%Y-%m')) FROM orders)))
         GROUP BY 1, 2""",

    // the snapshot rollup the generation-1 store must reproduce (early =
    // first half of the sorted distinct months — the same split the gate
    // builds from) next to the live rollup over everything; a priority
    // with no early-month orders reads NULL as-of on both sides
    "olap_zstore_asof" ->
      """WITH m AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS mth
                    FROM orders),
            r AS (SELECT mth, row_number() OVER (ORDER BY mth) AS rn,
                         count(*) OVER () AS n FROM m)
         SELECT o_orderpriority AS priority,
           CAST(SUM(CASE WHEN strftime(o_orderdate, '%Y-%m') IN
               (SELECT mth FROM r WHERE rn <= floor(n / 2))
             THEN CAST(o_totalprice AS DECIMAL(15,2)) END) AS DOUBLE)
             AS value_asof,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
             AS value_live
         FROM orders GROUP BY 1""",

    // per-priority totals + the all-customer all-priority rollup, served
    // from the collapsed-customer summary
    "olap_degenerate_summary" ->
      """SELECT o_orderpriority AS priority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
         FROM orders GROUP BY 1
         UNION ALL
         SELECT 'AllPrio' AS priority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS value
         FROM orders""",

    // base-grain conversion at leaf output coincides with the scalar gate
    "olap_rule_cuberef_base" ->
      """SELECT n_name AS nation,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) * (1.0 + 0.1 * r_regionkey) AS value
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name, r_regionkey""",

    // the dialect face: same derivation as olap_rule_cuberef
    "olap_query_cuberef" ->
      """SELECT n_name AS nation,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) * (1.0 + 0.1 * r_regionkey) AS value
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name, r_regionkey""",

    // the view face of the same model: stored LC column + converted GC
    "olap_view_cuberef" ->
      """SELECT n_name AS nation,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) AS lc,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) * (1.0 + 0.1 * r_regionkey) AS gc
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name, r_regionkey""",

    // mirrors the engine: net is the decimal-exact weighted rollup
    // (gross − disc) and margin divides AS DOUBLES at read time; the probe
    // cell's gross and disc were overwritten with 0, so the world sums
    // simply exclude it
    "olap_rule_divzero" ->
      s"""WITH x AS (
            SELECT SUM($GROSS) AS g, SUM($DISC) AS d
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE NOT (o_custkey = (SELECT o_custkey FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
              AND o_orderdate = (SELECT o_orderdate FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
              AND l_partkey = (SELECT min(l_partkey) FROM lineitem WHERE l_orderkey = (SELECT min(o_orderkey) FROM orders))))
          SELECT '#DIV/0!' AS code, CAST(g - d AS DOUBLE) / CAST(g AS DOUBLE) AS value
          FROM x""",

    "olap_view_format" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS calendar,
          format('{:.2f}', CAST(SUM(CAST(l_quantity AS DECIMAL(21,4))) AS DOUBLE)) AS quantity
          $STAR GROUP BY 1""",

    "olap_view_window" -> {
      val cols = Seq("AMERICA", "ASIA", "EUROPE").map(r =>
        s"""CAST(SUM($GROSS) FILTER (WHERE r_name = '$r') AS DOUBLE) AS "$r"""")
        .mkString(", ")
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS calendar, $cols
          $STAR WHERE strftime(o_orderdate, '%Y-%m') IN ('1995-03','1995-04','1995-05')
          GROUP BY 1"""
    },

    "olap_attr_filter" ->
      s"""SELECT CAST(SUM($GROSS) AS DOUBLE) AS value
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_type LIKE 'PROMO%'""",

    "olap_alias_query" ->
      s"SELECT CAST(SUM($GROSS) AS DOUBLE) AS value $STAR WHERE r_name = 'EUROPE'",

    "olap_subset_slicer" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS calendar,
          CAST(SUM($GROSS) AS DOUBLE) AS value
          $STAR WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1995-01' AND '1995-06'
          GROUP BY 1""",

    "olap_query_rule" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS calendar,
          CAST(SUM($GROSS) - SUM($DISC) AS DOUBLE) / CAST(SUM($GROSS) AS DOUBLE) AS value
          $STAR WHERE strftime(o_orderdate, '%Y') IN ('1995','1996') GROUP BY 1""",

    "olap_query_sql" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS calendar,
          CAST(SUM($GROSS) - SUM($DISC) AS DOUBLE) AS value
          $STAR WHERE strftime(o_orderdate, '%Y') IN ('1995','1996') GROUP BY 1""",

    // navigator-routed dialect: identical query, identical cells
    "olap_query_navigator" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS calendar,
          CAST(SUM($GROSS) - SUM($DISC) AS DOUBLE) AS value
          $STAR WHERE strftime(o_orderdate, '%Y') IN ('1995','1996') GROUP BY 1""",

    "olap_view_pivot" -> {
      val cols = (1995 to 2001).map(y =>
        s"""CAST(SUM($GROSS) FILTER (WHERE strftime(o_orderdate, '%Y') = '$y') AS DOUBLE) AS "$y"""")
        .mkString(", ")
      s"SELECT r_name AS geo, $cols $STAR GROUP BY r_name"
    },

    // navigator-routed view: identical definition, identical cells
    // (catalog-present years only — see the gate comment)
    "olap_view_navigator" -> {
      val cols = (1995 to 1998).map(y =>
        s"""CAST(SUM($GROSS) FILTER (WHERE strftime(o_orderdate, '%Y') = '$y') AS DOUBLE) AS "$y"""")
        .mkString(", ")
      s"SELECT r_name AS geo, $cols $STAR GROUP BY r_name"
    },

    "olap_view_pivot2" -> {
      val cols = Seq("1995", "1996").flatMap { y =>
        val f = s"FILTER (WHERE strftime(o_orderdate, '%Y') = '$y')"
        Seq(
          s"""CAST(SUM($GROSS) $f AS DOUBLE) AS "$y/gross"""",
          s"""CAST(SUM($GROSS) $f - SUM($DISC) $f AS DOUBLE) AS "$y/net"""")
      }.mkString(", ")
      s"SELECT r_name AS geo, $cols $STAR GROUP BY r_name"
    },
  )
}
