package graft

import org.scalatest.funsuite.AnyFunSuite

/** Internal-consistency property: a batched `gridAggregate` must agree cell
  * for cell with the per-address `cube.get` path across arbitrary mixed
  * selections — leaves, weighted members (Profit = Sales − Cost),
  * full-coverage members (the identity-rollup join elision path), and
  * multi-parent members ("best sellers"). An aggregated `cube.get` is the
  * one-cell grid of the same `gridAggregate`, so on one input this checks
  * that a grid's cells do not depend on what else it selects (a bad join
  * elision or a wrong grid key shows up as a mismatch). It runs on two
  * inputs:
  *  - writes held in the overlay over an unpersisted base: every grid runs
  *    the Spark plan;
  *  - the same cells compacted into a persisted base whose index a base
  *    read has built: every grid runs the driver kernel, and each grid is
  *    also compared row for row with the Spark plan's grid on the first
  *    input — the independent check of the kernel's double sums, weights
  *    (Profit = Sales − Cost) and multi-parent members.
  */
class GridConsistencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("gridAggregate equals per-cell get over seeded random mixed selections") {
    val db = TinyModel.build(spark)
    val cube = db.cube("sales")
    // a few base cells so grids are non-trivial (values from FIXTURES §1)
    cube.set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 123.0)
    cube.set(Seq("2021", "Feb", "North", "motorcycles", "Sales"), 456.0)
    cube.set(Seq("2021", "Jan", "South", "sedan", "Sales"), 50.0)
    cube.set(Seq("2021", "Jan", "South", "sedan", "Cost"), 20.0)
    cube.set(Seq("2022", "Mar", "West", "sports", "Sales"), 7.0)
    cube.set(Seq("2022", "Mar", "West", "sports", "Cost"), 3.0)
    checkGridAgainstGet(cube, None)
    assert(cube.counterDriverAggregations == 0L)

    val persisted = new graft.core.Cube("sales_persisted", cube.dimensions, spark, Some(cube.facts))
    assert(persisted.compact())
    // a base read builds the index the kernel serves from
    assert(persisted.get(Seq("2021", "Jan", "North", "motorcycles", "Sales")).contains(123.0))
    assert(persisted.pointIndexEnabled)
    checkGridAgainstGet(persisted, Some(cube))
    assert(persisted.counterDriverAggregations > 0L, "the persisted input must reach the driver kernel")
    assert(cube.counterDriverAggregations == 0L)
  }

  /** `sparkRef`: a cube over the same cells whose grids run the Spark plan. */
  private def checkGridAgainstGet(cube: graft.core.Cube, sparkRef: Option[graft.core.Cube]): Unit = {
    val pools: Seq[Seq[String]] = Seq(
      Seq("2021", "2022", "All years"),
      Seq("Jan", "Feb", "Mar", "Q1", "Year"),
      Seq("North", "South", "West", "Total"),
      Seq("motorcycles", "sedan", "sports", "cars", "best sellers", "Total"),
      Seq("Sales", "Cost", "Profit"))

    val rnd = new scala.util.Random(20260812L)
    for (trial <- 0 until 15) {
      // random non-empty selection per dimension (1..3 members)
      val sel: Seq[Seq[String]] = pools.map { pool =>
        val n = 1 + rnd.nextInt(3)
        rnd.shuffle(pool).take(n)
      }
      val ids = sel.zipWithIndex.map { case (ms, i) =>
        ms.map(cube.dimensions(i).idOf)
      }
      val gridRows = cube.gridAggregate(ids).collect()
      sparkRef.foreach { ref =>
        assert(gridRows.toSet == ref.gridAggregate(ids).collect().toSet,
          s"trial $trial: the grid differs from the Spark plan's over ${sel.mkString("/")}")
      }
      val grid = gridRows.map { r =>
        (0 until 5).map(i => r.getInt(i)).toVector -> r.getDouble(5)
      }.toMap
      // sampled addresses from the cross-product must agree with cube.get
      // (the full product × per-cell jobs would cost thousands of jobs):
      // present rows value-for-value, absent rows as empty/zero reads
      val product = for (a0 <- ids(0); a1 <- ids(1); a2 <- ids(2);
                         a3 <- ids(3); a4 <- ids(4)) yield Vector(a0, a1, a2, a3, a4)
      for (addr <- rnd.shuffle(product).take(8)) {
        val names = addr.zipWithIndex.map { case (id, i) =>
          cube.dimensions(i).nameOf(id)
        }
        val got = cube.get(names)
        grid.get(addr) match {
          case Some(v) =>
            assert(got.contains(v),
              s"trial $trial: grid=$v but get=${got} at ${names.mkString("/")}")
          case None =>
            assert(got.forall(_ == 0.0),
              s"trial $trial: grid has NO row but get=${got} at ${names.mkString("/")}")
        }
      }
    }
  }
}
