package graft

import graft.core._
import graft.olap._
import graft.sources.FactSources
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters

/** Property: the BULK ON_ENTRY compilation ([[Rules.onEntryBulk]], one
  * declarative Column per frame) and the SCALAR one ([[Rules.onEntry]],
  * per-cell inside `set`) store the SAME value for every Input-AST
  * transform — over random expression trees, not just the hand-picked
  * specs. This is exactly the drift class a review caught by hand in
  * round 6 (math.round vs Spark HALF_UP on negative halves); the property
  * pins the whole expression family.
  *
  * Spark jobs per case are real, so the case count is kept small; the
  * expression generator covers every bulk-expressible node (Lit, Input,
  * Add, Sub, Mul, Div, Neg, abs, round).
  */
object OnEntryProps extends Properties("OnEntryBulk") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = TestSpark.spark

  /** A random expression tree of depth ≤ `depth` over `leaf`: every
    * arithmetic node (Add, Sub, Mul, Div, Neg, abs, round). */
  private[graft] def genTree(depth: Int, leaf: Gen[RuleExpr]): Gen[RuleExpr] = {
    import RuleExpr._
    if (depth <= 0) leaf
    else Gen.frequency(
      2 -> leaf,
      1 -> Gen.zip(genTree(depth - 1, leaf), genTree(depth - 1, leaf)).map { case (a, b) => Add(a, b) },
      1 -> Gen.zip(genTree(depth - 1, leaf), genTree(depth - 1, leaf)).map { case (a, b) => Sub(a, b) },
      1 -> Gen.zip(genTree(depth - 1, leaf), genTree(depth - 1, leaf)).map { case (a, b) => Mul(a, b) },
      1 -> Gen.zip(genTree(depth - 1, leaf), genTree(depth - 1, leaf)).map { case (a, b) => Div(a, b) },
      1 -> genTree(depth - 1, leaf).map(Neg(_)),
      1 -> genTree(depth - 1, leaf).map(Fn("abs", _)),
      1 -> genTree(depth - 1, leaf).map(Fn("round", _)))
  }

  // values that exercise sign, halves, and fractions
  private[graft] val genLit: Gen[RuleExpr] =
    Gen.oneOf(-2.5, -1.0, -0.5, 0.0, 0.5, 1.5, 2.0, 3.25).map(RuleExpr.Lit(_))

  private def genExpr(depth: Int): Gen[RuleExpr] =
    genTree(depth, Gen.oneOf(Gen.const(RuleExpr.Input), genLit))

  private def usesInput(e: RuleExpr): Boolean = {
    import RuleExpr._
    e match {
      case Input => true
      case Add(a, b) => usesInput(a) || usesInput(b)
      case Sub(a, b) => usesInput(a) || usesInput(b)
      case Mul(a, b) => usesInput(a) || usesInput(b)
      case Div(a, b) => usesInput(a) || usesInput(b)
      case Neg(a) => usesInput(a)
      case Fn(_, a) => usesInput(a)
      case _ => false
    }
  }

  private val genCase = for {
    expr <- genExpr(3) if usesInput(expr) // transformless rules are no-ops on both paths
    values <- Gen.listOfN(3, Gen.oneOf(-7.5, -2.5, -1.0, 0.0, 0.5, 2.5, 10.0, 41.25))
  } yield (expr, values)

  private var n = 0

  // ---- Ref-bearing trees (round 7): bulk import computes refs against the
  // post-write state; parity target is per-cell set with ref cells written
  // FIRST (the order the bulk semantics correspond to). Absent ref cells
  // exercise the None-keeps-input branch and Add's +0 branch.
  private def genRefExpr(depth: Int): Gen[RuleExpr] =
    genTree(depth, Gen.oneOf(Gen.const(RuleExpr.Input), Gen.const(RuleExpr.Ref("Fx")), genLit))

  private val genRefCase = for {
    expr <- genRefExpr(3) if usesInput(expr)
    values <- Gen.listOfN(3, Gen.oneOf(-7.5, -2.5, -1.0, 0.0, 0.5, 2.5, 10.0, 41.25))
    fx <- Gen.listOfN(3, Gen.option(Gen.oneOf(-3.0, -0.5, 0.0, 1.0, 2.5)))
  } yield (expr, values, fx)

  property("bulk import with Ref trees matches per-cell set (refs written first)") =
    forAll(genRefCase) { case (expr, values, fx) =>
      n += 1
      val db = new Database(s"oerprop$n", spark)
      val t = db.addDimension("t")
      t.edit().addMany(Seq("a", "b", "c")).commit()
      val m = db.addDimension("m")
      m.edit().addMany(Seq("x", "Fx")).commit()
      val rule = RuleDef(Map("m" -> "x"), RuleScope.OnEntry, expr, "p")
      val members = Seq("a", "b", "c")

      val bulk = db.addCube("bulk", Seq(t, m))
      bulk.registerRule(rule)
      members.zip(fx).foreach { case (tm, f) =>
        f.foreach(v => bulk.set(Seq(tm, "Fx"), v)) // pre-existing ref cells
      }
      import spark.implicits._
      val recs = members.zip(values).map { case (tm, v) => (tm, "x", v) }
        .toDF("t", "m", "value")
      bulk.replaceFacts(bulk.facts.unionByName(FactSources.importNamed(bulk, recs)))

      val scalar = db.addCube("scalar", Seq(t, m))
      scalar.registerRule(rule)
      members.zip(fx).foreach { case (tm, f) =>
        f.foreach(v => scalar.set(Seq(tm, "Fx"), v))
      }
      members.zip(values).foreach { case (tm, v) => scalar.set(Seq(tm, "x"), v) }

      members.forall { tm =>
        val bv = bulk.get(Seq(tm, "x"))
        val sv = scalar.get(Seq(tm, "x"))
        val same = (bv, sv) match {
          case (Some(x), Some(y)) => (x.isNaN && y.isNaN) || x == y
          case (a, b) => a == b
        }
        if (!same) println(s"MISMATCH expr=$expr v=${values.mkString(",")} " +
          s"fx=${fx.mkString(",")} member=$tm bulk=$bv scalar=$sv")
        same
      }
    }

  property("bulk import stores the same values as per-cell set") =
    forAll(genCase) { case (expr, values) =>
      n += 1
      val db = new Database(s"oeprop$n", spark)
      val t = db.addDimension("t")
      t.edit().addMany(Seq("a", "b", "c")).commit()
      val m = db.addDimension("m")
      m.edit().addMany(Seq("x")).commit()
      val rule = RuleDef(Map("m" -> "x"), RuleScope.OnEntry, expr, "p")

      val bulk = db.addCube("bulk", Seq(t, m))
      bulk.registerRule(rule)
      import spark.implicits._
      val recs = Seq("a", "b", "c").zip(values).map { case (tm, v) => (tm, "x", v) }
        .toDF("t", "m", "value")
      bulk.replaceFacts(FactSources.importNamed(bulk, recs))

      val scalar = db.addCube("scalar", Seq(t, m))
      scalar.registerRule(rule)
      Seq("a", "b", "c").zip(values).foreach { case (tm, v) => scalar.set(Seq(tm, "x"), v) }

      Seq("a", "b", "c").forall { tm =>
        val bv = bulk.get(Seq(tm, "x"))
        val sv = scalar.get(Seq(tm, "x"))
        // NaN (the #DIV/0! in-band sentinel) must appear on BOTH paths or
        // neither; numeric values must agree to the bit
        val same = (bv, sv) match {
          case (Some(x), Some(y)) => (x.isNaN && y.isNaN) || x == y
          case (a, b) => a == b
        }
        if (!same) println(s"MISMATCH expr=$expr v=${values.mkString(",")} " +
          s"member=$tm bulk=$bv scalar=$sv")
        same
      }
    }
}
