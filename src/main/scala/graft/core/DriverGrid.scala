package graft.core

import org.apache.spark.sql.types.Decimal
import org.roaringbitmap.RoaringBitmap

/** The driver grid kernel (≙ the reference summing the matching base facts
  * in process, `facttable.py:190-231`): the rows of a base frame's
  * [[PointIndex]] that can reach the grid, merged in address order with an
  * overlay snapshot, each summed into a dense array of grid cells. The
  * candidate rows come from the index's postings (≙ the reference's
  * `FactTableIndex` row sets, `facttable.py:46-64`): per axis that
  * restricts the grid the union of its selected leaves' rows, intersected
  * across axes, walked in ascending row order. An identity axis, or one
  * whose leaves hold every row, restricts nothing; with no restricting axis
  * every row is a candidate. A row outside the candidates reaches no cell,
  * so the kernel sums the same rows in the same order as a full scan, bit
  * for bit. It answers exactly what the Spark grid plan of
  * [[Cube.gridAggregate]] answers, or nothing:
  *  - decimal values sum as unscaled longs with `Math.addExact` /
  *    `multiplyExact`, weights at Spark's `decimal(10,4)` cast, and overlay
  *    doubles through Spark's own [[Decimal]] cast (HALF_UP, precision
  *    checked) — an overflow, a value that does not fit, or a candidate row
  *    holding a wide decimal ([[PointIndex.wide]]) returns None;
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
      val slots: Array[Int], val weights: Array[Double]) {
    /** The leaves with at least one entry, ascending. */
    def selectedLeaves: Iterator[Int] =
      if (start == null) Iterator.empty else (0 until start.length - 1).iterator.filter(l => start(l) < start(l + 1))
  }

  object Axis {
    def identity(member: Int): Axis = new Axis(Array(member), null, Array(0), null)

    /** Each selected member is its own leaf, unweighted. */
    def leaves(members: Array[Int]): Axis = {
      val n = members.length
      build(members, Array.tabulate(n + 1)(k => k), members, null)
    }

    /** Slot `k` takes member `members(k)`'s closure from `closure`; weights
      * are dropped unless `weighted`. */
    def closure(members: Array[Int], closure: Dimension.ClosureIndex, weighted: Boolean): Axis = {
      val from = new Array[Int](members.length + 1)
      members.indices.foreach(k => from(k + 1) = from(k) + closure.count(members(k)))
      val leaves = new Array[Int](from(members.length))
      val weights = if (weighted) new Array[Double](leaves.length) else null
      members.indices.foreach { k =>
        val n = from(k + 1) - from(k)
        if (n > 0) {
          val e = closure.start(members(k))
          System.arraycopy(closure.leaves, e, leaves, from(k), n)
          if (weighted) System.arraycopy(closure.weights, e, weights, from(k), n)
        }
      }
      build(members, from, leaves, weights)
    }

    /** Slot `k` takes the entries `from(k) until from(k + 1)` of `leaves`
      * (and `weights`, when not null), regrouped by leaf. */
    private def build(members: Array[Int], from: Array[Int], leaves: Array[Int], weights: Array[Double]): Axis = {
      val maxLeaf = leaves.foldLeft(-1)(math.max)
      val start = new Array[Int](maxLeaf + 2)
      leaves.foreach(l => start(l + 1) += 1)
      var l = 0
      while (l <= maxLeaf) { start(l + 1) += start(l); l += 1 }
      val fill = start.clone()
      val slots = new Array[Int](leaves.length)
      val ws = if (weights == null) null else new Array[Double](leaves.length)
      var k = 0
      while (k < members.length) {
        var i = from(k)
        while (i < from(k + 1)) {
          val e = fill(leaves(i)); fill(leaves(i)) += 1
          slots(e) = k
          if (ws != null) ws(e) = weights(i)
          i += 1
        }
        k += 1
      }
      new Axis(members, start, slots, ws)
    }
  }

  /** Per-cell sums: `present(c)` iff at least one row reached cell `c`
    * (row-major over the axes, dimension 0 slowest); the value is
    * `doubles(c)`, or the unscaled decimal `longs(c)` at `scale`. */
  final class Result(val axes: Array[Axis], val present: Array[Boolean],
      val doubles: Array[Double], val longs: Array[Long], val scale: Int, val rowsVisited: Long) {
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

  /** The rows that can reach the grid of `axes`, or null when no axis
    * restricts it (every row can). */
  private def candidates(idx: PointIndex, axes: Array[Axis]): RoaringBitmap = {
    val unions = axes.indices.flatMap { d =>
      val lists = axes(d).selectedLeaves.map(idx.posting(d, _)).filter(_ != null).toArray
      if (axes(d).start == null || lists.iterator.map(_.getLongCardinality).sum == idx.size) None
      else Some(if (lists.length == 1) lists(0) else RoaringBitmap.or(lists: _*))
    }.sortBy(_.getLongCardinality)
    if (unions.isEmpty) null else unions.reduceLeft(RoaringBitmap.and)
  }

  /** Sum `idx` (overlaid by `overlay`: Some = upsert, None = delete) into
    * the grid of `axes`. `decimal = Some((precision, scale))` for a decimal
    * value field (the index then holds unscaled longs at that scale);
    * decimal cubes allow at most one weighted axis. `resultPrecision`
    * bounds a decimal cell, as Spark's sum type does. None: the answer
    * cannot be made exact here. `fullScan` makes every row a candidate —
    * the row source the postings replace, kept to test them against. */
  def run(idx: PointIndex, overlay: Iterable[(Vector[Int], Option[Double])], axes: Array[Axis],
      decimal: Option[(Int, Int)], resultPrecision: Int, fullScan: Boolean = false): Option[Result] = {
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
    val cands = if (fullScan) null else candidates(idx, axes)
    if (!idx.wide.isEmpty && (cands == null || RoaringBitmap.intersects(cands, idx.wide))) return None
    val rows = if (cands == null) null else cands.getIntIterator
    var visited = 0L
    /** The candidate row after `row`; `idx.size` past the last. */
    def next(row: Int): Int = {
      val r = if (rows == null) row + 1 else if (rows.hasNext) rows.next() else idx.size
      if (r < idx.size) visited += 1
      r
    }
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
      var i = next(-1)
      var j = 0
      while (i < idx.size || j < ov.length) {
        val c = if (j == ov.length) -1 else if (i == idx.size) 1 else idx.compareAt(i, ov(j)._1)
        if (c < 0) {
          var d = 0
          while (d < nd) { addr(d) = idx.idAt(i, d); d += 1 }
          add(idx.rawAt(i))
          i = next(i)
        } else {
          ovRaw(j).get.foreach { raw => ov(j)._1.copyToArray(addr); add(raw) }
          if (c == 0) i = next(i)
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
    Some(new Result(axes, present, doubles, longs, decimal.fold(0)(_._2) + (if (wAxis >= 0) WeightScale else 0),
      visited))
  }

  private def compareIds(a: Vector[Int], b: Vector[Int]): Int = {
    var i = 0
    while (i < a.length && a(i) == b(i)) i += 1
    if (i == a.length) 0 else Integer.compare(a(i), b(i))
  }
}
