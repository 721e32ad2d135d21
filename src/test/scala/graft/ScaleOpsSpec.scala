package graft

import graft.ops.Relational
import graft.sources.FactSources
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-mechanics specs: salted skew joins preserve semantics; bucketed
  * tables join without a shuffle; the result cache honors its switch/bound.
  */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("salted join returns exactly the plain join's rows under skew") {
    import spark.implicits._
    // heavily skewed left: 10k rows of one hot key + a tail
    val left = (Seq.fill(10000)(1) ++ (2 to 50)).toDF("k")
    val right = (1 to 50).map(k => (k, s"v$k")).toDF("k", "v")
    val plain = left.join(right, Seq("k")).groupBy("k").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val salted = Relational.saltedJoin(left, right, "k", salt = 8)
      .groupBy("k").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(salted(1) == 10000L)
  }

  test("bucketed tables join with zero exchanges") {
    import spark.implicits._
    val a = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "x")
    val b = (1 to 1000).map(i => (i.toLong, i * 3.0)).toDF("k", "y")
    FactSources.writeBucketed(a, "bk_a", Seq("k"), 4)
    FactSources.writeBucketed(b, "bk_b", Seq("k"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bk_a").join(spark.table("bk_b"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("gridAggregate plan shape: broadcast closure joins, ONE shuffle") {
    val db = TinyModel.build(spark)
    val cube = db.addCube("plansales", db.cube("sales").dimensions)
    cube.set(Seq("2021", "Jan", "North", "sedan", "Sales"), 5.0)
    cube.compact() // pin the fact frame so the plan reads the stable shape
    cube.disablePointIndex() // keep the grid on the Spark plan whatever the index state
    val months = db.dimension("months")
    val sels = Seq(
      Seq(db.dimension("years").idOf("All years")),
      Seq("Q1", "Q2", "Q3", "Q4").map(months.idOf),
      Seq(db.dimension("regions").idOf("Total")),
      Seq(db.dimension("products").idOf("Total")),
      Seq(db.dimension("measures").idOf("Sales")))
    val grid = cube.gridAggregate(sels)
    val plan = grid.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"closure joins must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"no all-pairs / shuffle joins in a grid:\n$plan")
    // exactly one real shuffle: the final hash aggregation on the grid keys
    // (broadcast exchanges don't count)
    val shuffles = "(?m)^.*Exchange (hash|range|SinglePartition)".r
      .findAllIn(plan).size
    assert(shuffles <= 1, s"grid must shuffle at most once, saw $shuffles:\n$plan")
    assert(cube.enablePointIndex() &&
      cube.gridAggregate(sels).collect().toSet == grid.collect().toSet,
      "the indexed cube must return the same rows")
  }

  test("compactToPartitioned: sliced grids partition-prune, values unchanged") {
    val db = TinyModel.build(spark)
    val cube = db.addCube("partsales", db.cube("sales").dimensions)
    cube.set(Seq("2021", "Jan", "North", "sedan", "Sales"), 5.0)
    cube.set(Seq("2021", "Feb", "North", "sedan", "Sales"), 7.0)
    cube.set(Seq("2022", "Mar", "South", "coupe", "Sales"), 11.0)
    val before = cube.get(Seq("2021", "Q1", "Total", "Total", "Sales"))
    spark.sql("DROP TABLE IF EXISTS part_spec_tbl")
    assert(cube.compactToPartitioned("part_spec_tbl", Seq(1)), // months
      "partitioned compaction must land on an uncontended cube")
    // values identical through the swapped-in partitioned base
    assert(cube.get(Seq("2021", "Q1", "Total", "Total", "Sales")) == before)
    assert(before.contains(12.0))
    // a month-sliced grid carries a PartitionFilter on the months id col
    val months = db.dimension("months")
    val grid = cube.gridAggregate(Seq(
      Seq(db.dimension("years").idOf("2021")),
      Seq(months.idOf("Jan")),
      Seq(db.dimension("regions").idOf("Total")),
      Seq(db.dimension("products").idOf("Total")),
      Seq(db.dimension("measures").idOf("Sales"))))
    val plan = grid.queryExecution.executedPlan.treeString
    assert("PartitionFilters: \\[[^\\]]*d1".r.findFirstIn(plan).isDefined,
      s"expected a d1 partition filter on the sliced grid scan:\n$plan")
    assert(grid.collect().map(_.getAs[Number]("value").doubleValue()).toSeq == Seq(5.0))
    // a point write AFTER the swap overlays and reads back
    cube.set(Seq("2021", "Jan", "North", "sedan", "Cost"), 2.0)
    assert(cube.get(Seq("2021", "Jan", "North", "sedan", "Cost")).contains(2.0))
    // degenerate partition dims are rejected
    val db2 = new graft.core.Database("partdeg", spark)
    val dg = db2.addDegenerateDimension("k", "K#")
    val md = db2.addDimension("m"); md.edit().addMany(Seq("v")).commit()
    val c2 = db2.addCube("c2", Seq(dg, md))
    val e = intercept[IllegalArgumentException](
      c2.compactToPartitioned("part_bad_tbl", Seq(0)))
    assert(e.getMessage.contains("degenerate"))
  }

  test("result cache toggle and bound") {
    val db = TinyModel.build(spark)
    val cube = db.addCube("cachesales", db.cube("sales").dimensions)
    cube.set(Seq("2021", "Jan", "North", "sedan", "Sales"), 5.0)
    val addr = Seq("2021", "Year", "Total", "Total", "Sales")
    assert(cube.get(addr).contains(5.0))
    cube.cacheEnabled = false
    assert(cube.get(addr).contains(5.0)) // recomputed, same answer
    cube.cacheEnabled = true
    cube.cacheMaxEntries = 1
    assert(cube.get(addr).contains(5.0))
    assert(cube.get(Seq("2021", "Q1", "Total", "Total", "Sales")).contains(5.0))
  }
}
