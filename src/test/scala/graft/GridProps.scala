package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAllNoShrink
import org.scalacheck.Test.Parameters
import org.scalacheck.rng.Seed

/** Property: a plain grid answers the same from the driver kernel as from
  * the Spark grid plan. The driver side is a cube whose point index is
  * built, so [[Cube.reportGrid]] takes the kernel's rows inside
  * [[DriverGrid.MaxCells]]; the Spark side is the same cube over an
  * unpersisted frame, whose grid keeps the DataFrame plan through
  * [[Cube.withPlannedReports]]. Selections fall on both sides of the bound.
  *
  * Cubes have multi-parent weighted DAG dimensions, double or decimal
  * values, a member removed after the facts were loaded, and overlays of
  * upserts and tombstones that grow case by case (each case writes the
  * same cells on both cubes). Doubles are multiples of 1/8 and weights are
  * dyadic, so sums are exact in any order. Schemas and rows must agree,
  * doubles by raw bits.
  */
object GridProps extends Properties("Grid") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(200).withInitialSeed(Seed(20261019L))

  private lazy val spark = graft.TestSpark.spark

  private val stored = Seq("x", "y", "z")
  private val tLeaves = Seq("a", "b", "c", "d", "e", "f", "g", "h")
  private def wide(p: String) = (0 until 48).map(i => s"$p$i")

  /** A driver/Spark cube pair over the same facts, the base addresses the
    * writes may delete, and each dimension's top member. */
  private final case class Fixture(idx: Cube, ref: Cube, based: IndexedSeq[Seq[String]])

  /** `t`: a multi-parent weighted DAG over 8 leaves, an identity top `All`;
    * `u`, `v`: 48 leaves in groups of 8 under halves and an identity top,
    * beside a weighted `odd` parent; `m`: stored `x`, `y`, `z` and
    * `xy = x − y`. Leaf `v47` and member `v_gone` are removed after the
    * facts are in, which purges `v47`'s facts. */
  private def fixture(k: Int, valueType: DataType, rough: Boolean = false): Fixture = {
    val db = new Database(s"gprop$k", spark)
    val t = db.addDimension("t")
    t.edit().add("X", Seq("a", "b", "c", "d")).add("Y", Seq("e", "f", "g", "h")).add("All", Seq("X", "Y"))
      .add("P", Seq("a", "b", "c"), Seq(1.0, 0.5, 2.0)).add("Q", Seq("b", "c", "d", "e"), Seq(1.5, 1.0, 0.25, 4.0))
      .add("W", Seq("P", "Y"), Seq(0.5, 2.0)).commit()
    def wideDim(name: String) = {
      val d = db.addDimension(name)
      val leaves = wide(name)
      d.edit()
      leaves.grouped(8).zipWithIndex.foreach { case (g, i) => d.add(s"${name}_g$i", g) }
      d.add(s"${name}_h0", (0 until 3).map(i => s"${name}_g$i")).add(s"${name}_h1", (3 until 6).map(i => s"${name}_g$i"))
        .add(s"${name}_all", Seq(s"${name}_h0", s"${name}_h1"))
        .add(s"${name}_odd", leaves.indices.filter(_ % 2 == 1).map(leaves), Seq(0.5, 0.25, 2.0))
        .add(s"${name}_gone", leaves.take(3)).commit()
    }
    val u = wideDim("u")
    val v = wideDim("v")
    val m = db.addDimension("m")
    m.edit().addMany(stored).add("xy", Seq("x", "y"), Seq(1.0, -1.0)).commit()
    val rnd = new scala.util.Random(9100L + k)
    def value(): Any = valueType match {
      case DoubleType if rough => Double.box(rnd.nextGaussian() * 1000.0)
      case DoubleType => Double.box((rnd.nextInt(4001) - 2000) / 8.0)
      case d: DecimalType =>
        java.math.BigDecimal.valueOf(rnd.nextLong() % math.pow(10, math.min(11, d.precision - 3)).toLong, d.scale)
    }
    val addrs = for {
      tl <- tLeaves; ul <- wide("u"); vl <- wide("v"); ms <- stored
      if rnd.nextInt(100) < 6
    } yield Seq(tl, ul, vl, ms)
    val rows = addrs.map(a => Row.fromSeq(Seq(t, u, v, m).zip(a).map { case (d, n) => d.idOf(n) } :+ value()))
    val schema = StructType(Seq("d0", "d1", "d2", "d3").map(StructField(_, IntegerType)) :+
      StructField("value", valueType))
    val frame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val persisted = frame.persist()
    persisted.count()
    val idx = db.addCube("idx", Seq(t, u, v, m), persisted)
    val ref = db.addCube("ref", Seq(t, u, v, m), spark.createDataFrame(frame.rdd, schema))
    Seq(idx, ref).foreach(_.cacheEnabled = false)
    v.edit().remove("v47").remove("v_gone").commit()
    assert(idx.enablePointIndex())
    Fixture(idx, ref, addrs.filter(_(2) != "v47").toIndexedSeq)
  }

  private lazy val fixtures: IndexedSeq[Fixture] = IndexedSeq(
    fixture(0, DoubleType), fixture(1, DecimalType(21, 4)), fixture(2, DecimalType(12, 2)))

  /** Doubles with every bit of the mantissa in use, where a change in
    * summation order shows. */
  private lazy val roughFixture = fixture(3, DoubleType, rough = true)

  /** One write: an upsert of a multiple of 1/8 at a random leaf address,
    * or a tombstone at a base address. */
  private sealed trait Write
  private final case class Upsert(addr: Seq[String], value: Double) extends Write
  private final case class Tombstone(row: Int) extends Write

  private val genWrite: Gen[Write] = Gen.oneOf(
    for {
      tl <- Gen.oneOf(tLeaves); ul <- Gen.oneOf(wide("u")); vl <- Gen.oneOf(wide("v").init); ms <- Gen.oneOf(stored)
      v <- Gen.choose(-2000, 2000)
    } yield Upsert(Seq(tl, ul, vl, ms), v / 8.0),
    Gen.choose(0, Int.MaxValue).map(Tombstone(_)))

  /** A selection on dimension `d`: its top member alone (the identity
    * rollup), every leaf, or a few or many members of any level. */
  private def genSelection(d: Dimension, top: String): Gen[Seq[Int]] = {
    val members = d.members.map(_.id)
    Gen.frequency(
      (1, Gen.const(Seq(d.idOf(top)))),
      (1, Gen.const(d.leafMembers.map(_.id))),
      (4, Gen.choose(1, 4).flatMap(n => Gen.pick(n, members)).map(_.toSeq)),
      (2, Gen.choose(members.size / 2, members.size).flatMap(n => Gen.pick(n, members)).map(_.toSeq)))
  }

  /** One case in five selects most members of every dimension, a grid past
    * [[DriverGrid.MaxCells]] that both cubes send to Spark. */
  private def genCase(nFixtures: Int) = for {
    f <- Gen.choose(0, nFixtures - 1)
    writes <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, genWrite))
    dims = (fixtures :+ roughFixture)(f).idx.dimensions
    wide <- Gen.frequency((1, true), (4, false))
    sels <- Gen.sequence[Seq[Seq[Int]], Seq[Int]](dims.zip(Seq("All", "u_all", "v_all", "x")).map { case (d, top) =>
      if (wide) Gen.choose(d.members.size * 7 / 8, d.members.size).flatMap(Gen.pick(_, d.members.map(_.id))).map(_.toSeq)
      else genSelection(d, top)
    })
  } yield (f, writes, sels)

  /** The schema and the rows sorted, doubles as raw bits. */
  private def canonical(schema: StructType, rows: Seq[Row]): (StructType, Seq[String]) =
    (schema, rows.map(_.toSeq.map {
      case d: java.lang.Double => "d" + java.lang.Double.doubleToRawLongBits(d)
      case v => String.valueOf(v)
    }.mkString("|")).sorted)

  private def canonical(g: Either[DataFrame, Cube.GridRows]): (StructType, Seq[String]) = g match {
    case Left(df) => canonical(df.schema, df.collect().toSeq)
    case Right(rows) => canonical(rows.schema, rows.rows)
  }

  /** The same writes on both cubes of `f`. */
  private def write(f: Fixture, writes: Seq[Write]): Unit = writes.foreach {
    case Upsert(a, v) => Seq(f.idx, f.ref).foreach(_.set(a, v))
    case Tombstone(r) => Seq(f.idx, f.ref).foreach(_.delete(f.based(r % f.based.size)))
  }

  private var withinBound = 0
  private var kernelServed = 0

  property("the driver kernel and the Spark plan give the same grids") =
    forAllNoShrink(genCase(fixtures.size)) { case (f, writes, sels) =>
      val Fixture(idx, ref, _) = fixtures(f)
      write(fixtures(f), writes)
      val served = idx.counterDriverAggregations
      val driver = canonical(idx.reportGrid(sels))
      val inside = sels.map(_.distinct.size.toLong).product <= DriverGrid.MaxCells
      if (inside) withinBound += 1
      if (idx.counterDriverAggregations > served) kernelServed += 1
      val plan = Cube.withPlannedReports(ref.reportGrid(sels))
      val spark = canonical(plan)
      val same = plan.isLeft && driver == spark
      if (!same) println(s"MISMATCH fixture=$f sels=$sels\n  driver=$driver\n  spark =$spark")
      same && (inside || idx.counterDriverAggregations == served) && ref.counterDriverAggregations == 0L
    }

  property("the kernel served grids inside the bound, and some were outside it") =
    Prop(kernelServed > withinBound / 3 && withinBound < 180 && fixtures.forall(_.idx.counterDriverAggregations > 0L)) :|
      s"$kernelServed of $withinBound grids inside the bound served by the kernel"

  property("the kernel sums the same rows in the same order from the postings as from a full scan") =
    forAllNoShrink(genCase(fixtures.size + 1)) { case (f, writes, sels) =>
      val fx = (fixtures :+ roughFixture)(f)
      write(fx, writes)
      def exact(g: Option[Cube.GridRows]) = g.map(r => (r.schema, r.rows.map(_.toSeq.map {
        case d: java.lang.Double => "d" + java.lang.Double.doubleToRawLongBits(d)
        case v => String.valueOf(v)
      })))
      val postings = exact(fx.idx.kernelGrid(sels, fullScan = false))
      val scan = exact(fx.idx.kernelGrid(sels, fullScan = true))
      if (postings != scan) println(s"MISMATCH fixture=$f sels=$sels\n  postings=$postings\n  scan    =$scan")
      if (postings.isDefined) postingServed += 1
      postings == scan
    }

  private var postingServed = 0

  property("the postings property compared grids the kernel served") =
    Prop(postingServed > 60) :| s"$postingServed grids served"
}
