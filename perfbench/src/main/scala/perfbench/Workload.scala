package perfbench

import graft.core.{Cube, Database}
import graft.olap.{AxisDef, OlapQuery, View, ViewDef}
import graft.server.RestServer
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Request kinds. `base` and `agg` are both `GET /cells`; the split says
  * whether the address names only leaf members or at least one aggregate. */
object Kind {
  val Base = "base"
  val Agg = "agg"
  val View = "view"
  val Query = "query"
  val Write = "write"
  /** The route a kind is served by, for per-route percentiles. */
  def route(k: String): String = k match {
    case Base | Agg => "cell"
    case other => other
  }
}

/** One request of a stream: a kind and an index into that kind's pool. */
final case class Req(kind: String, item: Int)

/** The seeded request pools of the served workload. The seed picks the
  * members; the shape of pool item `i` (its aggregation levels, measure,
  * view layout or query template) depends on `i` alone, so every seed asks
  * for the same mix of work. Aggregated cells are drawn Zipf-skewed by pool
  * index, so popular aggregates repeat and the cube's result cache sees
  * hits; every other kind is drawn uniformly, and base cells come from a
  * pool large enough that leaf reads rarely repeat.
  */
final class Pools(
    val base: IndexedSeq[Seq[String]],
    val agg: IndexedSeq[Seq[String]],
    val view: IndexedSeq[ViewDef],
    val query: IndexedSeq[String],
    /** Base `plan` cells that writes go to; client `c` owns slice `c`. */
    val writeSlices: IndexedSeq[IndexedSeq[Seq[String]]]) {
  lazy val viewJson: IndexedSeq[String] = view.map(ViewDef.toJson)
  def size(kind: String): Int = kind match {
    case Kind.Base => base.size
    case Kind.Agg => agg.size
    case Kind.View => view.size
    case Kind.Query => query.size
    case Kind.Write => writeSlices.map(_.size).sum
  }
  def writeAddresses: Seq[Seq[String]] = writeSlices.flatten
}

object Pools {
  def apply(d: TpchData, seed: Long, sizes: Map[String, Int], writePool: Int,
      clients: Int): Pools = {
    val rnd = new scala.util.Random(seed * 7919L + 3L)
    def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))
    val leafMeasures = IndexedSeq("quantity", "gross", "disc_amt")
    val aggMeasures = IndexedSeq("gross", "net", "quantity", "margin")
    def baseAddr(): Seq[String] = {
      val (c, day, p) = pick(d.baseCells)
      Seq(c, day, p, pick(leafMeasures))
    }
    val base = IndexedSeq.fill(sizes(Kind.Base))(baseAddr())
    def product(i: Int): String = i % 3 match {
      case 0 => "AllBrands"
      case 1 => pick(d.brands)
      case _ => pick(d.types)
    }
    val agg = IndexedSeq.tabulate(sizes(Kind.Agg)) { i =>
      val geo = if (i % 2 == 0) pick(d.regions) else pick(d.nations)
      val cal = if (i / 2 % 2 == 0) pick(d.years) else pick(d.months)
      Seq(geo, cal, product(i), aggMeasures(i % aggMeasures.size))
    }
    val view = IndexedSeq.tabulate(sizes(Kind.View)) { i =>
      val rows = if (i % 2 == 0) AxisDef(Seq("geo" -> d.regions))
        else AxisDef(Seq("geo" -> d.nationsByRegion(pick(d.regions))))
      val prodFilter = "product" -> product(i)
      if (i / 2 % 2 == 0) {
        // measures as columns (incl. the rule-backed margin), one period
        val period = if (i % 2 == 0) pick(d.years) else pick(d.months)
        ViewDef(filters = Seq("calendar" -> period, prodFilter), rows = rows,
          cols = AxisDef(Seq("measures" -> Seq("gross", "net", "margin", "quantity"))))
      } else {
        // years as columns, one stored measure
        ViewDef(filters = Seq(prodFilter, "measures" -> pick(IndexedSeq("gross", "net", "quantity"))),
          rows = rows, cols = AxisDef(Seq("calendar" -> d.years)))
      }
    }
    def q(s: String) = s"'$s'"
    val query = IndexedSeq.tabulate(sizes(Kind.Query)) { i =>
      i % 3 match {
        case 0 =>
          s"SELECT calendar, value FROM sales WHERE geo=${q(pick(d.regions))}, " +
            s"calendar=h1_1995, product=${q(pick(d.brands))}, measures=${pick(aggMeasures)}"
        case 1 =>
          val ns = rnd.shuffle(d.nations).take(3).map(q).mkString("(", ",", ")")
          val ys = rnd.shuffle(d.years).take(2).map(q).mkString("(", ",", ")")
          s"SELECT geo, calendar, value FROM sales WHERE geo=$ns, calendar=$ys, " +
            s"product=${q(pick(d.types))}, measures=${pick(aggMeasures)}"
        case _ =>
          s"SELECT product, value FROM sales WHERE geo=${q(pick(d.nations))}, " +
            s"calendar=${q(pick(d.years))}, product='*', measures=gross"
      }
    }
    val writes = IndexedSeq.fill(writePool)(
      Seq(pick(d.customers), pick(d.days), pick(d.parts), "plan")).distinct
    val slices = IndexedSeq.tabulate(clients)(c =>
      writes.indices.filter(_ % clients == c).map(writes))
    new Pools(base, agg, view, query, slices)
  }
}

/** A closed-loop client's request stream. Kinds come from a deck holding
  * each kind as often as the workload's mix says, reshuffled each time it
  * runs out, so every window of a run sees nearly the mix itself; items come
  * from the kind's draw over its pool (see [[Stream.exponent]]). Client `c`
  * of seed `s` always
  * yields the same sequence, so the HTTP run and the in-process replays send
  * the same requests in the same order.
  */
final class Stream(mix: Seq[(String, Int)], pools: Pools, seed: Long, client: Int) {
  private val rnd = new scala.util.Random(seed * 104729L + client * 31L + 5L)
  private val deck = mix.flatMap { case (k, n) => Seq.fill(n)(k) }.toIndexedSeq
  private var dealt = deck.size
  private var order = deck
  private def poolSize(k: String) =
    if (k == Kind.Write) pools.writeSlices(client).size else pools.size(k)
  private val zipf = mix.map(_._1).map(k => k -> Stream.zipfCdf(poolSize(k), Stream.exponent(k))).toMap

  def next(): Req = {
    if (dealt == deck.size) { order = rnd.shuffle(deck); dealt = 0 }
    val k = order(dealt)
    dealt += 1
    Req(k, Stream.draw(zipf(k), rnd.nextDouble()))
  }
}

object Stream {
  /** Zipf exponent of each kind's draws; 0 is uniform. */
  def exponent(kind: String): Double = if (kind == Kind.Agg) 1.1 else 0.0
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }
}

/** Canonical answer strings. An HTTP response and the in-process call for
  * the same request reduce to the same string when their answers agree;
  * grids are compared as sorted rows, since a grid carries no row order.
  */
object Canon {
  def value(v: Option[Double]): String = v.fold("null")(_.toString)

  def json(s: String): JValue = JsonMethods.parse(s, useBigDecimalForDouble = false)

  def scalar(j: JValue): String = j match {
    case JNull | JNothing => "null"
    case JDouble(d) => d.toString
    case JDecimal(d) => d.toString
    case JLong(l) => l.toString
    case JInt(i) => i.toString
    case JString(s) => s
    case JBool(b) => b.toString
    case other => JsonMethods.compact(JsonMethods.render(other))
  }

  def any(v: Any): String = v match {
    case null => "null"
    case d: java.lang.Double => d.toString
    case x => x.toString
  }

  /** A JSON array of flat objects, as rows of sorted `key=value` cells. */
  def records(rows: List[JValue]): String =
    rows.map {
      case JObject(fs) => fs.map { case (k, v) => s"$k=${scalar(v)}" }.sorted.mkString("|")
      case other => scalar(other)
    }.sorted.mkString("\n")

  def grid(viewJson: String): String = json(viewJson) match {
    case JArray(rows) => records(rows)
    case other => s"not a grid: ${scalar(other)}"
  }

  def queryRows(cols: Seq[String], rows: Seq[org.apache.spark.sql.Row], truncated: Boolean): String =
    rows.map(r => cols.zipWithIndex.map { case (c, i) => s"$c=${any(r.get(i))}" }.sorted.mkString("|"))
      .sorted.mkString("\n") + s"\ntruncated=$truncated"

  /** The canonical answer carried by a 200 response body of `kind`. */
  def response(kind: String, body: String): String = {
    val j = json(body)
    kind match {
      case Kind.Base | Kind.Agg | Kind.Write => scalar(j \ "value")
      case Kind.View => j match {
        case JArray(rows) => records(rows)
        case other => s"not a grid: ${scalar(other)}"
      }
      case Kind.Query =>
        val rows = (j \ "rows") match { case JArray(rs) => rs; case _ => Nil }
        records(rows) + s"\ntruncated=${scalar(j \ "truncated")}"
    }
  }
}

/** In-process calls of the public functions each route calls. `Trace.span`
  * wraps every call into a layer; with tracing off it is a plain call.
  */
final class Engine(val db: Database, val cube: Cube) {
  import Trace.span

  def cell(addr: Seq[String], agg: Boolean): String = {
    span("core.bolt")(cube.bolt(addr))
    Canon.value(span(if (agg) "core.get_agg" else "core.get_base")(cube.get(addr)))
  }

  /** The values of many base cells from one `Cube.readBatch`, one answer
    * per listed address: the expected answers of the base-cell pool, and the
    * read-back of the write pool. */
  def baseValues(addrs: IndexedSeq[Seq[String]]): IndexedSeq[String] = {
    val spark = cube.spark
    val bolts = addrs.map(a => cube.bolt(a).ids)
    val schema = org.apache.spark.sql.types.StructType(cube.dimCols.map(n =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.IntegerType)))
    val addrDf = spark.createDataFrame(spark.sparkContext.parallelize(
      bolts.map(b => org.apache.spark.sql.Row.fromSeq(b)), 1), schema)
    val got = cube.readBatch(addrDf).select((cube.dimCols :+ "value").map(org.apache.spark.sql.functions.col): _*)
      .collect()
      .map(r => Vector.tabulate(cube.nDims)(r.getInt) -> r.get(cube.nDims))
      .toMap
    bolts.map(b => Canon.value(got.get(b).map {
      case d: java.lang.Double => d.doubleValue
      case bd: java.math.BigDecimal => bd.doubleValue
      case n: java.lang.Number => n.doubleValue
    }))
  }

  def view(json: String): String = {
    val dfn = span("olap.view_def_parse")(ViewDef.fromJson(json))
    val v = new View(cube, dfn)
    val out = span("olap.view_toJson")(v.toJson())
    Trace.count("olap.view_rule_positions", v.stats.rulePositions)
    Canon.grid(out)
  }

  def query(sql: String): String = {
    val q = span("olap.query_resolve")(new OlapQuery(db, sql))
    val (cols, rows) = span("olap.query_exec") {
      val df = q.execute()
      (df.columns.toSeq, df.limit(RestServer.QueryRowCap + 1).collect().toSeq)
    }
    Canon.queryRows(cols, rows.take(RestServer.QueryRowCap), rows.size > RestServer.QueryRowCap)
  }

  def write(addr: Seq[String], value: Double): String = {
    span("core.bolt")(cube.bolt(addr))
    span("core.set")(cube.set(addr, value))
    Canon.value(Some(value))
  }
}
