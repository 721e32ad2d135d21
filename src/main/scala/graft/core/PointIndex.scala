package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.roaringbitmap.RoaringBitmap

/** Driver-resident base-cell index (≙ the reference's in-process fact dict,
  * `facttable.py:146-170`): the base frame's addresses sorted, stored
  * row-major as `size × nDims` member ids beside one 8-byte value each, and
  * probed by binary search. No per-entry object exists, so an entry costs
  * `nDims × 4 + 8` bytes (24 B at 4 dimensions) where a boxed
  * `HashMap[Vector[Int], java.lang.Double]` cost ~175 B. Ids and values
  * live in pages of [[PointIndex.PageSize]] elements: a single array past
  * half a G1 region is allocated as whole regions, which added ~45% to the
  * heap of a 180k-cell index.
  *
  * A decimal value field is stored EXACTLY, as its unscaled long at the
  * field's `scale`; any other value type is stored as the bits of its double
  * (`scale == -1`). A decimal whose unscaled form exceeds a long is a
  * "wide" row: its value lives in a sparse side table (the rows in
  * [[wide]], their values in row order in `wideValues`) and its slot in
  * the pages holds 0. Rows with a null value are absent — they read as
  * empty, like the filter-job path — and counted in `nullRows`.
  *
  * Postings (≙ the reference's `FactTableIndex` row sets per member,
  * `facttable.py:46-64`): per (dimension, member id) a [[RoaringBitmap]] of
  * the rows holding that id, built once, on first use by the grid kernel.
  * They depend on the rows only, so they live and die with the index.
  */
private[graft] final class PointIndex private (
    nDims: Int, val size: Int, val nullRows: Int, val scale: Int,
    keys: Array[Array[Int]], values: Array[Array[Long]],
    val wide: RoaringBitmap, wideValues: Array[java.math.BigDecimal]) {
  import PointIndex.{PageBits, PageMask}

  @volatile private var postingLists: Array[Array[RoaringBitmap]] = null

  /** Bytes held by the pages and their page tables, headers included, the
    * side table (~64 B per wide value), and the postings once built. */
  def byteSize: Long =
    keys.map(16L + 4L * _.length).sum + values.map(16L + 8L * _.length).sum +
      2 * 16L + 4L * (keys.length + values.length) + 64L * wideValues.length +
      Option(postingLists).fold(0L)(_.map(d => 16L + 4L * d.length +
        d.iterator.filter(_ != null).map(_.getLongSizeInBytes + 16L).sum).sum)

  def get(ids: Vector[Int]): Option[Double] = {
    var lo = 0
    var hi = size - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = compareAt(mid, ids)
      if (c < 0) lo = mid + 1
      else if (c > 0) hi = mid - 1
      else return Some(
        if (scale < 0) java.lang.Double.longBitsToDouble(rawAt(mid))
        else if (wide.contains(mid)) wideValues(wide.rank(mid).toInt - 1).doubleValue
        else java.math.BigDecimal.valueOf(rawAt(mid), scale).doubleValue)
    }
    None
  }

  /** Member id of dimension `dim` at `row` (rows are in address order). */
  def idAt(row: Int, dim: Int): Int = {
    val k = row * nDims + dim
    keys(k >>> PageBits)(k & PageMask)
  }

  /** The stored value at `row`: an unscaled decimal at [[scale]], or the
    * bits of a double when `scale < 0`; 0 for a [[wide]] row. */
  def rawAt(row: Int): Long = values(row >>> PageBits)(row & PageMask)

  /** Compare the address at `row` with `ids`, lexicographically. */
  def compareAt(row: Int, ids: Vector[Int]): Int = {
    var i = 0
    while (i < nDims) {
      val a = idAt(row, i)
      val b = ids(i)
      if (a != b) return if (a < b) -1 else 1
      i += 1
    }
    0
  }

  /** The rows holding member `id` on dimension `dim`; null when none does.
    * The first call builds every dimension's postings (single-flight). Ids
    * are non-negative catalog ids: the kernel, the only caller, never
    * serves a cube with a degenerate dimension. */
  def posting(dim: Int, id: Int): RoaringBitmap = {
    val byId = postings(dim)
    if (id >= 0 && id < byId.length) byId(id) else null
  }

  /** Whether the postings are built. */
  def postingsBuilt: Boolean = postingLists != null

  private def postings: Array[Array[RoaringBitmap]] = {
    val p = postingLists
    if (p != null) p
    else synchronized {
      if (postingLists == null) postingLists = Array.tabulate(nDims) { d =>
        var maxId = -1
        var row = 0
        while (row < size) { maxId = math.max(maxId, idAt(row, d)); row += 1 }
        val byId = new Array[RoaringBitmap](maxId + 1)
        row = 0
        while (row < size) {
          val id = idAt(row, d)
          if (byId(id) == null) byId(id) = new RoaringBitmap
          byId(id).add(row) // ascending: an append
          row += 1
        }
        byId.foreach(b => if (b != null) { b.runOptimize(); b.trim() })
        byId
      }
      postingLists
    }
  }
}

private[graft] object PointIndex {
  /** Elements per page: 128 KB of ids or 256 KB of values, under the
    * humongous threshold of every G1 region size (≥ 512 KB). */
  val PageBits = 15
  val PageSize: Int = 1 << PageBits
  val PageMask: Int = PageSize - 1

  private def pages[T: scala.reflect.ClassTag](n: Int): Array[Array[T]] =
    Array.tabulate((n + PageMask) >>> PageBits)(p => new Array[T](math.min(PageSize, n - (p << PageBits))))

  /** Collect `base` — columns `d0…dN-1, value` — into an index, sorted by
    * address on the driver. Each partition ships as one compact chunk (ids,
    * values, positions of null values, wide values), never as per-row
    * objects. Returns null — a refusal — when wide values (unscaled forms
    * past a long) outnumber the other values: the side table is for sparse
    * outliers, and the kernel could serve almost no grid of such a base.
    * Throws an [[IllegalStateException]] naming the address (through
    * `describe`) when two base rows share one: a point read there has no
    * single answer.
    */
  def collect(base: DataFrame, nDims: Int, describe: Vector[Int] => String): PointIndex = {
    val (valueCol, scale, precision) = base.schema("value").dataType match {
      case d: DecimalType => (col("value"), d.scale, d.precision)
      case _ => (col("value").cast(DoubleType), -1, 0)
    }
    val chunks = base.select((0 until nDims).map(i => col(s"d$i")) :+ valueCol: _*)
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val ids = Array.newBuilder[Int]
        val vals = Array.newBuilder[Long]
        val nulls = Array.newBuilder[Int]
        val wide = Array.newBuilder[(Int, java.math.BigDecimal)]
        var n = 0
        rows.foreach { r =>
          var i = 0
          while (i < nDims) { ids += r.getInt(i); i += 1 }
          if (r.isNullAt(nDims)) { nulls += n; vals += 0L }
          else if (scale < 0) vals += java.lang.Double.doubleToRawLongBits(r.getDouble(nDims))
          else {
            val v = r.getDecimal(nDims, precision, scale).toJavaBigDecimal
            if (v.unscaledValue.bitLength > 63) { wide += ((n, v)); vals += 0L }
            else vals += v.unscaledValue.longValue
          }
          n += 1
        }
        Iterator((ids.result(), vals.result(), nulls.result(), wide.result()))
      }
      .collect()
    val ids = chunks.flatMap(_._1)
    val vals = chunks.flatMap(_._2)
    val isNull = new java.util.BitSet(vals.length)
    val wideAt = new java.util.HashMap[Integer, java.math.BigDecimal]
    var off = 0
    chunks.foreach { case (_, v, nulls, wide) =>
      nulls.foreach(r => isNull.set(off + r))
      wide.foreach { case (r, w) => wideAt.put(off + r, w) }
      off += v.length
    }
    if (2 * wideAt.size > vals.length - isNull.cardinality) return null
    val order = Array.tabulate[Integer](vals.length)(Int.box)
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => compareRows(ids, a, b, nDims))
    val n = vals.length - isNull.cardinality
    val keys = pages[Int](n * nDims)
    val values = pages[Long](n)
    val wideRows = new RoaringBitmap
    val wideValues = Array.newBuilder[java.math.BigDecimal]
    var out = 0
    var i = 0
    while (i < order.length) {
      val r: Int = order(i)
      if (i > 0 && compareRows(ids, order(i - 1), r, nDims) == 0)
        throw new IllegalStateException(
          s"two base rows share the address ${describe(Vector.tabulate(nDims)(d => ids(r * nDims + d)))}" +
            " — a fact frame must hold one row per address")
      if (!isNull.get(r)) {
        var d = 0
        while (d < nDims) {
          val k = out * nDims + d
          keys(k >>> PageBits)(k & PageMask) = ids(r * nDims + d)
          d += 1
        }
        values(out >>> PageBits)(out & PageMask) = vals(r)
        if (wideAt.containsKey(r)) { wideRows.add(out); wideValues += wideAt.get(r) }
        out += 1
      }
      i += 1
    }
    new PointIndex(nDims, n, vals.length - n, scale, keys, values, wideRows, wideValues.result())
  }

  private def compareRows(ids: Array[Int], a: Int, b: Int, nDims: Int): Int = {
    var i = 0
    while (i < nDims && ids(a * nDims + i) == ids(b * nDims + i)) i += 1
    if (i == nDims) 0 else Integer.compare(ids(a * nDims + i), ids(b * nDims + i))
  }
}
