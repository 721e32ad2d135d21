package graft.core

import org.apache.spark.sql.types.Decimal

/** The driver grid kernel: one pass over a base frame's [[PointIndex]] rows,
  * merged in address order with an overlay snapshot, summing every row into
  * a dense array of grid cells (≙ the reference summing the matching base
  * facts in process, `facttable.py:190-231`). It answers exactly what the
  * Spark grid plan of [[Cube.gridAggregate]] answers, or nothing:
  *  - decimal values sum as unscaled longs with `Math.addExact` /
  *    `multiplyExact`, weights at Spark's `decimal(10,4)` cast, and overlay
  *    doubles through Spark's own [[Decimal]] cast (HALF_UP, precision
  *    checked) — an overflow or a value that does not fit returns None;
  *  - double values multiply their weights in the plan's order (last
  *    dimension first) and sum per cell in address order.
  */
private[core] object DriverGrid {
  /** Largest grid, in cells, the kernel accumulates densely. */
  val MaxCells: Int = 65536

  /** Precision and scale of a closure weight in a decimal cube — the cast
    * both grid paths apply, so weighted sums stay exact. */
  val WeightPrecision = 10
  val WeightScale = 4

  /** One grid dimension as a lookup table over leaf ids: slot `k` is the
    * grid key `members(k)`. With `start == null` every row lands in slot 0
    * (the identity rollup). Otherwise leaf `l` contributes the entries
    * `start(l) until start(l + 1)`: slot `slots(e)` at weight `weights(e)`
    * (`weights == null`: unweighted). A row whose leaf has no entry is
    * dropped — also under an all-leaves selection, where a fact addressing
    * a removed member is undefined until `purgeUnknownMembers`.
    */
  final class Axis private (val members: Array[Int], val start: Array[Int],
      val slots: Array[Int], val weights: Array[Double])

  object Axis {
    def identity(member: Int): Axis = new Axis(Array(member), null, Array(0), null)

    /** `entries` are `(leaf, slot, weight)`; weights are dropped unless
      * `weighted`. */
    def apply(members: Array[Int], entries: Seq[(Int, Int, Double)], weighted: Boolean): Axis = {
      val maxLeaf = entries.foldLeft(-1)((m, e) => math.max(m, e._1))
      val start = new Array[Int](maxLeaf + 2)
      entries.foreach(e => start(e._1 + 1) += 1)
      var l = 0
      while (l <= maxLeaf) { start(l + 1) += start(l); l += 1 }
      val fill = start.clone()
      val slots = new Array[Int](entries.size)
      val weights = if (weighted) new Array[Double](entries.size) else null
      entries.foreach { case (leaf, slot, w) =>
        val e = fill(leaf); fill(leaf) += 1
        slots(e) = slot
        if (weighted) weights(e) = w
      }
      new Axis(members, start, slots, weights)
    }
  }

  /** Per-cell sums: `present(c)` iff at least one row reached cell `c`
    * (row-major over the axes, dimension 0 slowest); the value is
    * `doubles(c)`, or the unscaled decimal `longs(c)` at `scale`. */
  final class Result(val axes: Array[Axis], val present: Array[Boolean],
      val doubles: Array[Double], val longs: Array[Long], val scale: Int) {
    def value(c: Int): Any =
      if (longs == null) doubles(c) else java.math.BigDecimal.valueOf(longs(c), scale)
    def doubleValue(c: Int): Double =
      if (longs == null) doubles(c) else java.math.BigDecimal.valueOf(longs(c), scale).doubleValue
    /** The member ids of cell `c`. */
    def key(c: Int): Array[Int] = {
      val k = new Array[Int](axes.length)
      var rest = c
      var d = axes.length - 1
      while (d >= 0) {
        val n = axes(d).members.length
        k(d) = axes(d).members(rest % n); rest /= n; d -= 1
      }
      k
    }
  }

  /** Unscaled long of `v` cast to `decimal(precision, scale)` the way
    * Spark's cast does; None when it does not fit. */
  private def unscaled(v: Double, precision: Int, scale: Int): Option[Long] =
    try {
      val d = Decimal(v)
      if (!d.changePrecision(precision, scale)) None
      else {
        val u = d.toJavaBigDecimal.unscaledValue
        if (u.bitLength > 63) None else Some(u.longValue)
      }
    } catch { case _: NumberFormatException => None }

  /** Sum `idx` (overlaid by `overlay`: Some = upsert, None = delete) into
    * the grid of `axes`. `decimal = Some((precision, scale))` for a decimal
    * value field (the index then holds unscaled longs at that scale);
    * decimal cubes allow at most one weighted axis. `resultPrecision`
    * bounds a decimal cell, as Spark's sum type does. None: the answer
    * cannot be made exact here. */
  def run(idx: PointIndex, overlay: Iterable[(Vector[Int], Option[Double])], axes: Array[Axis],
      decimal: Option[(Int, Int)], resultPrecision: Int): Option[Result] = {
    val nd = axes.length
    val cells = axes.foldLeft(1)(_ * _.members.length)
    val wAxis = if (decimal.isDefined) axes.indexWhere(_.weights != null) else -1
    val wCast: Array[Option[Long]] =
      if (wAxis < 0) Array.empty
      else axes(wAxis).weights.map(unscaled(_, WeightPrecision, WeightScale))
    val ov = overlay.toArray.sortWith((a, b) => compareIds(a._1, b._1) < 0)
    // Some(None) is a delete; None a value the decimal cannot hold
    val ovRaw: Array[Option[Option[Long]]] = ov.map { case (_, v) =>
      v.fold(Option(Option.empty[Long]))(x => decimal match {
        case Some((p, s)) => unscaled(x, p, s).map(Some(_))
        case None => Some(Some(java.lang.Double.doubleToRawLongBits(x)))
      })
    }
    if (wCast.contains(None) || ovRaw.contains(None)) return None
    val wU = wCast.map(_.get)
    val present = new Array[Boolean](cells)
    val doubles = if (decimal.isEmpty) new Array[Double](cells) else null
    val longs = if (decimal.isDefined) new Array[Long](cells) else null
    val addr = new Array[Int](nd)
    val lo = new Array[Int](nd)
    val hi = new Array[Int](nd)
    val pos = new Array[Int](nd)

    def add(raw: Long): Unit = {
      var d = 0
      while (d < nd) {
        val ax = axes(d)
        if (ax.start == null) { lo(d) = 0; hi(d) = 1 }
        else {
          val id = addr(d)
          if (id >= 0 && id < ax.start.length - 1) { lo(d) = ax.start(id); hi(d) = ax.start(id + 1) }
          else { lo(d) = 0; hi(d) = 0 }
          if (lo(d) == hi(d)) return
        }
        pos(d) = lo(d)
        d += 1
      }
      var more = true
      while (more) {
        var c = 0
        d = 0
        while (d < nd) { c = c * axes(d).members.length + axes(d).slots(pos(d)); d += 1 }
        if (longs != null) {
          val u = if (wAxis < 0) raw else Math.multiplyExact(raw, wU(pos(wAxis)))
          longs(c) = Math.addExact(longs(c), u)
        } else {
          var v = java.lang.Double.longBitsToDouble(raw)
          d = nd - 1
          while (d >= 0) {
            val w = axes(d).weights
            if (w != null) v = v * w(pos(d))
            d -= 1
          }
          doubles(c) = doubles(c) + v
        }
        present(c) = true
        d = nd - 1
        while (d >= 0 && { pos(d) += 1; pos(d) == hi(d) }) { pos(d) = lo(d); d -= 1 }
        more = d >= 0
      }
    }

    try {
      var i = 0
      var j = 0
      while (i < idx.size || j < ov.length) {
        val c = if (j == ov.length) -1 else if (i == idx.size) 1 else idx.compareAt(i, ov(j)._1)
        if (c < 0) {
          var d = 0
          while (d < nd) { addr(d) = idx.idAt(i, d); d += 1 }
          add(idx.rawAt(i))
          i += 1
        } else {
          ovRaw(j).get.foreach { raw => ov(j)._1.copyToArray(addr); add(raw) }
          if (c == 0) i += 1
          j += 1
        }
      }
    } catch {
      case _: ArithmeticException => return None
    }
    if (longs != null && resultPrecision < 19) {
      val bound = java.math.BigInteger.TEN.pow(resultPrecision)
      if (longs.exists(u => java.math.BigInteger.valueOf(u).abs.compareTo(bound) >= 0)) return None
    }
    Some(new Result(axes, present, doubles, longs, decimal.fold(0)(_._2) + (if (wAxis >= 0) WeightScale else 0)))
  }

  private def compareIds(a: Vector[Int], b: Vector[Int]): Int = {
    var i = 0
    while (i < a.length && a(i) == b(i)) i += 1
    if (i == a.length) 0 else Integer.compare(a(i), b(i))
  }
}
