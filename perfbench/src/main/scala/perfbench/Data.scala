package perfbench

import java.time.LocalDate
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A seeded TPC-H-shaped star schema, written as the parquet tables
  * `graft.tpch.TpchModel` reads: 5 regions, 25 nations, and customers,
  * parts, orders and line items sized by `sf` like TPC-H (sf 0.01 gives
  * 1,500 customers, 2,000 parts, 15,000 orders and ~60,000 line items,
  * about 180k base cells once the model unpivots three measures).
  *
  * The same `(sf, seed)` always gives the same tables. The generator keeps
  * the base-cell addresses it produced, so request pools can address cells
  * that exist without reading the data back.
  */
final class TpchData(
    val regions: IndexedSeq[String],
    val nationsByRegion: Map[String, IndexedSeq[String]],
    val brands: IndexedSeq[String],
    val types: IndexedSeq[String],
    val years: IndexedSeq[String],
    val months: IndexedSeq[String],
    val customers: IndexedSeq[String],
    val days: IndexedSeq[String],
    val parts: IndexedSeq[String],
    /** Distinct (customer, day, part) member names that hold facts. */
    val baseCells: IndexedSeq[(String, String, String)]) {
  def nations: IndexedSeq[String] = regions.flatMap(nationsByRegion)
}

object TpchData {
  val Regions: IndexedSeq[String] =
    IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Types: IndexedSeq[String] =
    IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val FirstDay = LocalDate.of(1995, 1, 1)
  private val NDays = 2399

  def generate(spark: SparkSession, dir: String, sf: Double, seed: Long): TpchData = {
    val rnd = new scala.util.Random(seed * 1000003L + 17L)
    val nCust = math.max(30, (150000 * sf).round.toInt)
    val nPart = math.max(40, (200000 * sf).round.toInt)
    val nOrders = math.max(300, (1500000 * sf).round.toInt)

    val nations = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
    val custNation = Array.tabulate(nCust)(_ => rnd.nextInt(25))
    val brandOf = Array.tabulate(nPart)(_ => s"Brand#${1 + rnd.nextInt(25)}")
    val typeOf = Array.tabulate(nPart)(_ => Types(rnd.nextInt(Types.size)))
    val retail = Array.tabulate(nPart)(p =>
      (90000 + ((p + 1) / 10) % 20001 + 100 * ((p + 1) % 1000)) / 100.0)

    val orders = Array.tabulate(nOrders)(o =>
      (o.toLong + 1, 1L + rnd.nextInt(nCust), FirstDay.plusDays(rnd.nextInt(NDays))))
    val items = orders.flatMap { case (ok, _, _) =>
      Array.fill(1 + rnd.nextInt(7)) {
        val p = rnd.nextInt(nPart)
        val q = 1 + rnd.nextInt(50)
        (ok, p.toLong + 1, q.toDouble, math.round(q * retail(p) * 100) / 100.0,
          rnd.nextInt(11) / 100.0)
      }
    }

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t, nullable = false)

    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.zipWithIndex.map { case (r, i) => Row(i, r) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      nations.map { case (k, n, r) => Row(k, n, r) })
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_nationkey", IntegerType))),
      custNation.indices.map(c => Row(c.toLong + 1, custNation(c))))
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_brand", StringType),
      f("p_type", StringType))),
      (0 until nPart).map(p => Row(p.toLong + 1, brandOf(p), typeOf(p))))
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderdate", DateType))),
      orders.toSeq.map { case (ok, ck, d) => Row(ok, ck, d) })
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
      f("l_discount", DoubleType))),
      items.toSeq.map { case (ok, pk, q, e, d) => Row(ok, pk, q, e, d) })

    val orderOf = orders.map { case (ok, ck, d) => ok -> (ck, d.toString) }.toMap
    val baseCells = items.map { case (ok, pk, _, _, _) =>
      val (ck, d) = orderOf(ok)
      (s"C#$ck", d, s"P#$pk")
    }.distinct.sorted.toIndexedSeq
    val days = orders.map(_._3.toString).distinct.sorted.toIndexedSeq
    new TpchData(
      regions = Regions,
      nationsByRegion = nations.groupBy(n => Regions(n._3)).map { case (r, ns) =>
        r -> ns.map(_._2).sorted.toIndexedSeq },
      brands = brandOf.distinct.sorted.toIndexedSeq,
      types = typeOf.distinct.sorted.toIndexedSeq,
      years = days.map(_.take(4)).distinct,
      months = days.map(_.take(7)).distinct,
      customers = orders.map(o => s"C#${o._2}").distinct.sorted.toIndexedSeq,
      days = days,
      parts = (1 to nPart).map(p => s"P#$p"),
      baseCells = baseCells)
  }
}
