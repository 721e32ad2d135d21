package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DoubleType

/** Driver-resident base-cell index (≙ the reference's in-process fact dict,
  * `facttable.py:146-170`): the base frame's addresses sorted, stored
  * row-major as `size × nDims` member ids beside their values, and probed
  * by binary search. No per-entry object exists, so an entry costs
  * `nDims × 4 + 8` bytes (24 B at 4 dimensions) where a boxed
  * `HashMap[Vector[Int], java.lang.Double]` cost ~175 B. Ids and values
  * live in pages of [[PointIndex.PageSize]] elements: a single array past
  * half a G1 region is allocated as whole regions, which added ~45% to the
  * heap of a 180k-cell index. Rows with a null value are absent: they read
  * as empty, like the filter-job path.
  */
private[graft] final class PointIndex private (
    nDims: Int, val size: Int, keys: Array[Array[Int]], values: Array[Array[Double]]) {
  import PointIndex.{PageBits, PageMask}

  /** Bytes held by the pages and their page tables, headers included. */
  def byteSize: Long =
    keys.map(16L + 4L * _.length).sum + values.map(16L + 8L * _.length).sum +
      2 * 16L + 4L * (keys.length + values.length)

  def get(ids: Vector[Int]): Option[Double] = {
    var lo = 0
    var hi = size - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = compareAt(mid, ids)
      if (c < 0) lo = mid + 1
      else if (c > 0) hi = mid - 1
      else return Some(values(mid >>> PageBits)(mid & PageMask))
    }
    None
  }

  private def compareAt(row: Int, ids: Vector[Int]): Int = {
    val off = row * nDims
    var i = 0
    while (i < nDims) {
      val a = keys((off + i) >>> PageBits)((off + i) & PageMask)
      val b = ids(i)
      if (a != b) return if (a < b) -1 else 1
      i += 1
    }
    0
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
    * values, positions of null values), never as per-row objects. Throws an
    * [[IllegalStateException]] naming the address (through `describe`) when
    * two base rows share one: a point read there has no single answer.
    */
  def collect(base: DataFrame, nDims: Int, describe: Vector[Int] => String): PointIndex = {
    val chunks = base.select((0 until nDims).map(i => col(s"d$i")) :+
        col("value").cast(DoubleType): _*)
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val ids = Array.newBuilder[Int]
        val vals = Array.newBuilder[Double]
        val nulls = Array.newBuilder[Int]
        var n = 0
        rows.foreach { r =>
          var i = 0
          while (i < nDims) { ids += r.getInt(i); i += 1 }
          if (r.isNullAt(nDims)) { nulls += n; vals += 0.0 } else vals += r.getDouble(nDims)
          n += 1
        }
        Iterator((ids.result(), vals.result(), nulls.result()))
      }
      .collect()
    val ids = chunks.flatMap(_._1)
    val vals = chunks.flatMap(_._2)
    val isNull = new java.util.BitSet(vals.length)
    var off = 0
    chunks.foreach { case (_, v, nulls) => nulls.foreach(r => isNull.set(off + r)); off += v.length }
    val order = Array.tabulate[Integer](vals.length)(Int.box)
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => compareRows(ids, a, b, nDims))
    val n = vals.length - isNull.cardinality
    val keys = pages[Int](n * nDims)
    val values = pages[Double](n)
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
        out += 1
      }
      i += 1
    }
    new PointIndex(nDims, n, keys, values)
  }

  private def compareRows(ids: Array[Int], a: Int, b: Int, nDims: Int): Int = {
    var i = 0
    while (i < nDims && ids(a * nDims + i) == ids(b * nDims + i)) i += 1
    if (i == nDims) 0 else Integer.compare(ids(a * nDims + i), ids(b * nDims + i))
  }
}
