package graft

import graft.core.{Cube, Database}
import graft.olap._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAllNoShrink
import org.scalacheck.Test.Parameters
import org.scalacheck.rng.Seed

/** Property: a ruled grid and a view answer the same on the driver path as
  * on the Spark path. The driver side is a cube whose point index is built,
  * so the kernel serves its grids and the rule cells compute on the driver; the Spark side is the same cube
  * over an unpersisted frame, and its ruled grid keeps the DataFrame plan
  * (pivot → rule columns → stack) through [[Cube.withPlannedReports]].
  *
  * Cubes have a multi-parent weighted dimension and double, `decimal(21,4)`
  * or near-cap `decimal(38,6)` values with nulls; rule sets chain refs
  * through the [[OnEntryProps.genTree]] trees (no `Input`). Schemas and
  * rows must agree, doubles by raw bits; a case that raises must raise an
  * `ArithmeticException` on both sides (an ANSI decimal overflow).
  */
object RuleGridProps extends Properties("RuleGrid") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(200).withInitialSeed(Seed(20261018L))

  private lazy val spark = TestSpark.spark

  private val stored = Seq("x", "y", "z")
  private val ruleNames = Seq("r1", "r2", "r3")
  private val tMembers = Seq("a", "b", "c", "d", "P", "Q", "All")
  private val uMembers = Seq("u1", "u2", "u3", "U")

  /** A driver/Spark cube pair over the same facts. */
  private final case class Fixture(idx: Cube, ref: Cube)

  /** Facts: every (t leaf, u leaf, stored measure) cell present with
    * probability 0.7, one in ten of them null-valued with `nulls`. Doubles
    * are multiples of 1/8 and weights are dyadic, so sums are exact in any
    * order. */
  private def fixture(k: Int, valueType: DataType, nulls: Boolean): Fixture = {
    val db = new Database(s"rgprop$k", spark)
    val t = db.addDimension("t")
    t.edit().add("P", Seq("a", "b", "c"), Seq(1.0, 0.5, 2.0)).add("Q", Seq("b", "c", "d"), Seq(1.5, 1.0, 0.25))
      .add("All", Seq("P", "Q")).commit()
    val u = db.addDimension("u")
    u.edit().add("U", Seq("u1", "u2", "u3")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(stored ++ ruleNames).commit()
    val rnd = new scala.util.Random(7000L + k)
    def value(): Any = if (nulls && rnd.nextInt(10) == 0) null else valueType match {
      case DoubleType => Double.box((rnd.nextInt(4001) - 2000) / 8.0)
      case d: DecimalType if d.precision == 21 =>
        java.math.BigDecimal.valueOf(rnd.nextLong() % 100000000000L - 50000000000L, 4)
      case _ => // near the cap: a 31-digit integer part, so products overflow
        new java.math.BigDecimal(java.math.BigInteger.valueOf(rnd.nextInt(5) + 1)
          .multiply(java.math.BigInteger.TEN.pow(30)).add(java.math.BigInteger.valueOf(rnd.nextInt(1000000))), 6)
    }
    val rows = for {
      tl <- Seq("a", "b", "c", "d"); ul <- Seq("u1", "u2", "u3"); ms <- stored
      if rnd.nextInt(10) < 7
    } yield Row(t.idOf(tl), u.idOf(ul), m.idOf(ms), value())
    val schema = StructType(Seq("d0", "d1", "d2").map(StructField(_, IntegerType)) :+
      StructField("value", valueType))
    def frame: DataFrame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val idx = db.addCube("idx", Seq(t, u, m), frame)
    val ref = db.addCube("ref", Seq(t, u, m), frame)
    Seq(idx, ref).foreach(_.cacheEnabled = false)
    // a near-cap decimal's unscaled value exceeds a long: no index, and the
    // driver cube's grids come from a collected Spark job
    assert(idx.enablePointIndex() == (valueType != DecimalType(38, 6)))
    Fixture(idx, ref)
  }

  private lazy val fixtures: IndexedSeq[Fixture] = IndexedSeq(
    fixture(0, DoubleType, nulls = true), fixture(1, DecimalType(21, 4), nulls = true),
    fixture(2, DecimalType(21, 4), nulls = false), fixture(3, DecimalType(38, 6), nulls = false),
    fixture(4, DoubleType, nulls = false))

  /** Rule `r<i>` reads the stored measures and the rules before it. */
  private val genRules: Gen[Seq[RuleExpr]] = {
    def leaf(i: Int): Gen[RuleExpr] = Gen.frequency(
      (6, Gen.oneOf(stored ++ ruleNames.take(i)).map(RuleExpr.Ref(_))), (1, OnEntryProps.genLit))
    Gen.sequence[Seq[RuleExpr], RuleExpr](ruleNames.indices.map(i => OnEntryProps.genTree(2, leaf(i))))
  }

  private def subset(xs: Seq[String]): Gen[Seq[String]] =
    Gen.atLeastOne(xs).map(s => xs.filter(s.toSet))

  private val genCase = for {
    f <- Gen.choose(0, 4)
    rules <- genRules
    ts <- subset(tMembers)
    us <- subset(uMembers)
    ms <- subset(stored ++ ruleNames)
    filter <- Gen.oneOf(uMembers)
  } yield (f, rules, ts, us, ms, filter)

  /** Rows sorted, doubles as raw bits. */
  private def canonical(df: DataFrame): (Seq[(String, DataType)], Seq[String]) =
    (df.schema.map(f => f.name -> f.dataType), df.collect().toSeq.map(_.toSeq.map {
      case d: java.lang.Double => "d" + java.lang.Double.doubleToRawLongBits(d)
      case v => String.valueOf(v)
    }.mkString("|")).sorted)

  /** A result, or the exception it raised — an ArithmeticException (an
    * ANSI decimal overflow) anywhere in the cause chain, as Spark wraps a
    * task's error. */
  private def outcome[A](body: => A): Either[String, A] =
    try Right(body) catch {
      case e: Exception if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[ArithmeticException]) => Left("ArithmeticException")
      case e: Exception => Left(e.getClass.getName)
    }

  property("driver and Spark paths give the same ruled grids and views") =
    forAllNoShrink(genCase) { case (f, rules, ts, us, ms, filter) =>
      val Fixture(idx, ref) = fixtures(f)
      Seq(idx, ref).foreach { c =>
        ruleNames.foreach(c.removeRule)
        ruleNames.zip(rules).foreach { case (n, e) =>
          c.registerRule(RuleDef(Map("m" -> n), RuleScope.AllLevels, e, n)) }
      }
      val dims = idx.dimensions
      val sels = Seq(ts, us, ms).zip(dims).map { case (names, d) => names.map(d.idOf) }
      val driverGrid = outcome(canonical(Rules.ruledGrid(idx, sels)))
      val sparkGrid = outcome(Cube.withPlannedReports(canonical(Rules.ruledGrid(ref, sels))))
      val v = ViewDef(filters = Seq("u" -> filter), rows = AxisDef(Seq("t" -> ts)), cols = AxisDef(Seq("m" -> ms)))
      val driverView = outcome(new View(idx, v).toJson())
      val sparkView = outcome(new View(ref, v).toJson())
      val same = driverGrid == sparkGrid && driverView == sparkView
      if (!same) println(s"MISMATCH fixture=$f rules=$rules sels=$sels filter=$filter\n" +
        s"  grid driver=$driverGrid\n  grid spark =$sparkGrid\n" +
        s"  view driver=$driverView\n  view spark =$sparkView")
      same && ref.counterDriverAggregations == 0L
    }

  property("the kernel served the driver cubes") =
    Prop(fixtures.exists(_.idx.counterDriverAggregations > 0L))
}
