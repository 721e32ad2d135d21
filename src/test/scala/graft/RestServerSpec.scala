package graft

import graft.olap.{AxisDef, ViewDef}
import graft.server.RestServer
import org.scalatest.funsuite.AnyFunSuite

/** The thin HTTP layer (≙ reference `api/rest`): real requests through
  * `java.net.http.HttpClient` against an ephemeral-port server over the
  * tiny model — catalogs, addressed cell read/write, view rendering in
  * all three formats, the dialect query route, and the reference's
  * status mapping (404 unknown entity, 400 invalid writeback).
  */
class RestServerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val db = TinyModel.build(spark)
  private lazy val server = new RestServer(Seq(db)).start()
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = java.net.http.HttpClient.newHttpClient()

  private def req(b: java.net.http.HttpRequest.Builder) =
    client.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
  private def get(path: String) =
    req(java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path)))
  private def put(path: String, body: String) =
    req(java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
      .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(body)))
  private def post(path: String, body: String) =
    req(java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)))

  test("index and database catalogs") {
    val root = get("/")
    assert(root.statusCode() == 200 && root.body().contains("graft OLAP API"))
    val dbs = get("/databases")
    assert(dbs.statusCode() == 200 && dbs.body().contains("\"tiny\""))
    val short = get("/databases/tiny")
    assert(short.statusCode() == 200)
    assert(short.body().contains("\"sales\"") &&
      short.body().contains("cells_count"))
    val full = get("/databases/tiny/catalog")
    assert(full.statusCode() == 200)
    assert(full.body().contains("\"members\"") &&
      full.body().contains("\"North\""), "full catalog carries members")
    assert(get("/databases/nope").statusCode() == 404)
  }

  test("addressed cell read and write through HTTP match the cube API") {
    // an empty cell reads as an explicit null value, not a missing field
    val empty = get("/cells/tiny/sales?address=2023,Dec,East,van,Cost")
    assert(empty.statusCode() == 200)
    assert(empty.body().contains("\"value\":null"), empty.body())
    // write via HTTP, read back through BOTH faces
    val w = put("/cells/tiny/sales",
      """{"address":["2022","Feb","South","sedan","Sales"],"value":777.5}""")
    assert(w.statusCode() == 200, w.body())
    assert(db.cube("sales").get(Seq("2022", "Feb", "South", "sedan", "Sales"))
      .contains(777.5))
    val rb = get("/cells/tiny/sales?address=2022,Feb,South,sedan,Sales")
    assert(rb.body().contains("777.5"))
    // an aggregate read rolls up what the write landed
    val agg = get("/cells/tiny/sales?address=All%20years,Year,Total,Total,Sales")
    assert(agg.statusCode() == 200 && agg.body().contains("777.5"), agg.body())
    // the reference's status mapping: aggregated writeback is invalid (400)
    val bad = put("/cells/tiny/sales",
      """{"address":["All years","Jan","North","motorcycles","Sales"],"value":1.0}""")
    assert(bad.statusCode() == 400, s"${bad.statusCode()}: ${bad.body()}")
    assert(get("/cells/tiny/nocube?address=a").statusCode() == 404)
    assert(get("/cells/tiny/sales").statusCode() == 400, "missing address")
  }

  test("ad-hoc and named view rendering in json/html/csv") {
    // seed the slice the view shows (the fixture cube starts empty)
    db.cube("sales").set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 42.0)
    val dfn = ViewDef(
      filters = Seq("measures" -> "Sales", "years" -> "2021"),
      rows = AxisDef(Seq("regions" -> Seq("North", "South"))),
      cols = AxisDef(Seq("months" -> Seq("Jan", "Feb"))))
    val body = ViewDef.toJson(dfn)
    val viaHttp = post("/views/tiny/sales", body)
    assert(viaHttp.statusCode() == 200, viaHttp.body())
    val direct = new graft.olap.View(db.cube("sales"), dfn).toJson()
    assert(viaHttp.body() == direct, "HTTP render must equal the direct render")
    val html = post("/views/tiny/sales?format=html", body)
    assert(html.statusCode() == 200 && html.body().contains("<table"))
    val csv = post("/views/tiny/sales?format=csv", body)
    assert(csv.statusCode() == 200 && csv.body().contains("North"))
    assert(post("/views/tiny/sales?format=nope", body).statusCode() == 400)
    // named view registry
    db.cube("sales").views.define("quarterly", dfn)
    val named = get("/views/tiny/sales/quarterly")
    assert(named.statusCode() == 200 && named.body() == direct)
    assert(get("/views/tiny/sales/missing").statusCode() == 404)
  }

  test("view bodies escape member names: JSON parses back, HTML stays text") {
    val edb = new graft.core.Database("esc", spark)
    val r = edb.addDimension("r")
    val rows = Seq("a\\b", "x\\", "say \"hi\"", "<b>&")
    r.edit().add("All", rows).commit()
    val m = edb.addDimension("m")
    m.edit().addMany(Seq("Sales", "net \"q\\")).commit()
    val c = edb.addCube("c", Seq(r, m))
    rows.zipWithIndex.foreach { case (n, i) => c.set(Seq(n, "Sales"), i + 1.5) }
    val srv = new RestServer(Seq(edb)).start()
    try {
      val dfn = ViewDef(rows = AxisDef(Seq("r" -> rows)), cols = AxisDef(Seq("m" -> Seq("Sales", "net \"q\\"))))
      def viewPost(fmt: String) = req(java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}/views/esc/c?format=$fmt"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(ViewDef.toJson(dfn))))
      val json = viewPost("json")
      assert(json.statusCode() == 200, json.body())
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val parsed = org.json4s.jackson.JsonMethods.parse(json.body()).extract[List[Map[String, org.json4s.JValue]]]
      assert(parsed.map(_("r").extract[String]) == rows)
      assert(parsed.map(_("Sales").extract[Double]) == Seq(1.5, 2.5, 3.5, 4.5))
      assert(parsed.forall(_("net \"q\\") == org.json4s.JNull))
      val html = viewPost("html").body()
      assert(html.contains("<td>&lt;b&gt;&amp;</td>") && html.contains("<td>say &quot;hi&quot;</td>"), html)
      assert(html.contains("<th>net &quot;q\\</th>") && !html.contains("<b>"), html)
    } finally srv.stop()
  }

  test("batched cell reads: one job for base addresses, rollups included") {
    db.cube("sales").set(Seq("2023", "Jun", "East", "van", "Cost"), 5.5)
    val body = """{"addresses":[
        ["2022","Feb","South","sedan","Sales"],
        ["2023","Jun","East","van","Cost"],
        ["2023","Dec","West","coupe","Cost"],
        ["All years","Year","Total","Total","Cost"]]}"""
    val r = post("/cells/tiny/sales/batch", body)
    assert(r.statusCode() == 200, r.body())
    val parsed = org.json4s.jackson.JsonMethods.parse(r.body())
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val cells = (parsed \ "cells").extract[List[org.json4s.JValue]]
    assert(cells.size == 4)
    def valueOf(i: Int): Option[Double] =
      (cells(i) \ "value").extractOpt[Double]
    assert(valueOf(0).contains(777.5), "base cell written earlier over HTTP")
    assert(valueOf(1).contains(5.5), "overlay point write visible in the batch job")
    assert(valueOf(2).isEmpty, "empty base cell is null")
    assert(valueOf(3).contains(5.5), "aggregated address rolls up")
    // unknown member -> 404; oversize -> 400
    assert(post("/cells/tiny/sales/batch",
      """{"addresses":[["nope","Jan","North","sedan","Sales"]]}""")
      .statusCode() == 404)
    assert(post("/cells/tiny/sales/batch", """{"addresses":[]}""")
      .statusCode() == 400)
  }

  test("a batch listing an address more than once answers every listing like Cube.get") {
    val c = db.cube("sales")
    c.set(Seq("2022", "Mar", "West", "coupe", "Sales"), 12.5)
    val baseA = List("2022", "Mar", "West", "coupe", "Sales")
    val aggA = List("All years", "Q1", "Total", "Total", "Sales")
    val listed = List(baseA, aggA, baseA, aggA, baseA)
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    val r = post("/cells/tiny/sales/batch", compact(render("addresses" -> listed)))
    assert(r.statusCode() == 200, r.body())
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val values = (parse(r.body()) \ "cells").extract[List[org.json4s.JValue]]
      .map(cell => (cell \ "value").extractOpt[Double])
    assert(values == listed.map(c.get(_)), "each listing reads its cell once")
    assert(values.head.contains(12.5))
  }

  test("a batch answers a rule on a leaf measure like GET /cells") {
    // "Profit in %" is a leaf of `measures` with an ALL_LEVELS rule, so an
    // all-leaf address naming it is a base address the rule answers
    val c = db.cube("sales")
    c.set(Seq("2021", "Apr", "East", "coupe", "Sales"), 40.0)
    c.set(Seq("2021", "Apr", "East", "coupe", "Cost"), 30.0)
    val ruled = List("2021", "Apr", "East", "coupe", "Profit in %")
    val listed = List(ruled, List("2021", "Apr", "East", "coupe", "Sales"),
      List("2021", "Mai", "East", "coupe", "Profit in %"),
      List("All years", "Q2", "Total", "Total", "Profit in %"), ruled)
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val r = post("/cells/tiny/sales/batch", compact(render("addresses" -> listed)))
    assert(r.statusCode() == 200, r.body())
    val values = (parse(r.body()) \ "cells").extract[List[org.json4s.JValue]]
      .map(cell => (cell \ "value").extractOpt[Double])
    val viaGet = listed.map { a =>
      val g = get("/cells/tiny/sales?address=" +
        java.net.URLEncoder.encode(a.mkString(","), "UTF-8"))
      assert(g.statusCode() == 200, g.body())
      (parse(g.body()) \ "value").extractOpt[Double]
    }
    assert(values == viaGet, s"batch $values vs GET /cells $viaGet")
    assert(values.head.contains(0.25), "(40 - 30) / 40 from the rule")
  }

  test("indexed GET /cells answers under the 40 ms delayed-ACK floor") {
    // a dedicated database+server: compact() persists the base, so base
    // reads serve from the driver point index instead of Spark jobs
    val db2 = TinyModel.build(spark)
    val c = db2.cube("sales")
    val months = Seq("Jan", "Feb", "Mar", "Apr", "Mai", "Jun", "Jul", "Aug", "Sep", "Oct")
    val addrs = for (y <- Seq("2021", "2022", "2023"); m <- months)
      yield Seq(y, m, "North", "sedan", "Sales")
    addrs.zipWithIndex.foreach { case (a, i) => c.set(a, i + 0.5) }
    assert(c.compact())
    val srv = new RestServer(Seq(db2)).start()
    try {
      def read(a: Seq[String]) = req(java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"http://127.0.0.1:${srv.boundPort}/cells/tiny/sales?address=${a.mkString(",")}")))
      // warm-up on other cells: builds the index, JIT-compiles the route
      (0 until 5).foreach(i => read(Seq("2021", months(i), "South", "van", "Cost")))
      assert(c.pointIndexEnabled)
      val ms = addrs.zipWithIndex.map { case (a, i) =>
        val t0 = System.nanoTime()
        val r = read(a)
        val dt = (System.nanoTime() - t0) / 1e6
        assert(r.statusCode() == 200 && r.body().contains(s"${i + 0.5}"), r.body())
        dt
      }.sorted
      assert(ms.size == 30)
      assert(ms(15) < 30.0, s"median ${ms(15)} ms over 30 sequential reads: ${ms.mkString(", ")}")
    } finally srv.stop()
  }

  test("dialect query route returns rows as JSON records") {
    val sql = "SELECT * FROM sales WHERE '2021', 'Jan', North, 'motorcycles', 'Sales'"
    val r = post("/query/tiny", sql)
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"rows\""))
    assert(post("/query/tiny", "").statusCode() == 400)
    assert(post("/query/nope", sql).statusCode() == 404)
  }

  test("query route caps and pages instead of materializing the grid (r13 #2)") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    import org.json4s.jackson.JsonMethods.parse
    // empty addresses drop out of the grid — seed four non-empty rows
    Seq("Jan", "Feb", "Mar", "Apr").zipWithIndex.foreach { case (m, i) =>
      db.cube("sales").set(Seq("2023", m, "North", "sedan", "Sales"), 10.0 + i)
    }
    val sql = "SELECT months, value FROM sales WHERE '2023', " +
      "months=('Jan','Feb','Mar','Apr'), regions='Total', products='Total', 'Sales'"
    // a page smaller than the grid is cut and says so
    val p1 = post("/query/tiny?limit=3", sql)
    assert(p1.statusCode() == 200, p1.body())
    val j1 = parse(p1.body())
    assert((j1 \ "rows").extract[List[org.json4s.JValue]].size == 3)
    assert((j1 \ "truncated").extract[Boolean])
    assert((j1 \ "next_offset").extract[Int] == 3)
    // paging with limit/offset is disjoint and exhaustive: the union of all
    // pages equals the unpaged result
    def months(body: String): List[String] =
      (parse(body) \ "rows").extract[List[org.json4s.JValue]]
        .map(r => (r \ "months").extract[String])
    val all = months(post("/query/tiny", sql).body())
    assert(all.size == 4)
    val paged = (0 until 4 by 2).flatMap { off =>
      val p = post(s"/query/tiny?limit=2&offset=$off", sql)
      assert(p.statusCode() == 200, p.body())
      months(p.body())
    }
    assert(paged.toSet == all.toSet && paged.size == 4,
      s"pages must partition the grid: $paged vs $all")
    // the last page is not truncated
    val last = parse(post("/query/tiny?limit=2&offset=2", sql).body())
    assert(!(last \ "truncated").extract[Boolean])
    // over-cap and malformed params are refused, never materialized
    assert(post("/query/tiny?limit=20000", sql).statusCode() == 400)
    assert(post("/query/tiny?limit=0", sql).statusCode() == 400)
    assert(post("/query/tiny?offset=-1", sql).statusCode() == 400)
    assert(post("/query/tiny?limit=abc", sql).statusCode() == 400)
  }

  test("paged /query on a kernel-served grid: Spark-sorted pages, disjoint and exhaustive, no Spark job") {
    import org.apache.spark.sql.functions.col
    val db2 = TinyModel.build(spark)
    val c = db2.cube("sales")
    val rnd = new scala.util.Random(71L)
    // ties in value, a negative zero, and names that sort apart by UTF-8 bytes
    for (y <- Seq("2021", "2022"); m <- Seq("Jan", "Feb", "Mar", "Apr", "Mai"); r <- Seq("North", "South", "East");
         p <- Seq("sedan", "van") if rnd.nextInt(3) > 0)
      c.set(Seq(y, m, r, p, "Sales"), if (rnd.nextInt(9) == 0) -0.0 else rnd.nextInt(12) / 4.0 - 1.0)
    assert(c.compact())
    c.get(Seq("2021", "Jan", "North", "sedan", "Sales"))
    assert(c.pointIndexEnabled)
    val sql = "SELECT years, months, regions, value FROM sales WHERE years=('2022','2021','All years'), " +
      "months='*', regions='*', products=cars, 'Sales'"
    val q = new graft.olap.OlapQuery(db2, sql)
    assert(q.result().isRight, "the kernel's grid stays on the driver")
    val df = q.execute()
    val cols = df.columns.toSeq
    val sortedBySpark = df.orderBy(cols.map(col): _*).collect().toSeq
    assert(sortedBySpark.size > 40)
    val limit = 7
    val expected = (0 until sortedBySpark.size by limit).map(off =>
      RestServer.queryBody(cols, sortedBySpark.drop(off).take(limit + 1), limit, off, paged = true))

    val srv = new RestServer(Seq(db2)).start()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("graft.test.sentinel") != null) sentinel.countDown()
        else jobs.incrementAndGet()
    }
    val served = c.counterDriverAggregations
    spark.sparkContext.addSparkListener(listener)
    val pages = try {
      val got = expected.indices.map { i =>
        req(java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://127.0.0.1:${srv.boundPort}/query/tiny?limit=$limit&offset=${i * limit}"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(sql)))
      }
      // a job started after the requests: once its start is seen, every
      // earlier job start has been delivered
      spark.sparkContext.setLocalProperty("graft.test.sentinel", "1")
      try spark.range(1).count() finally spark.sparkContext.setLocalProperty("graft.test.sentinel", null)
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
      got
    } finally { spark.sparkContext.removeSparkListener(listener); srv.stop() }
    assert(jobs.get() == 0, s"${jobs.get()} Spark job(s) ran for paged driver rows")
    assert(c.counterDriverAggregations == served + expected.size)
    pages.zip(expected).zipWithIndex.foreach { case ((r, want), i) =>
      assert(r.statusCode() == 200 && r.body() == want, s"page $i")
    }
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val rows = pages.flatMap(p => (org.json4s.jackson.JsonMethods.parse(p.body()) \ "rows").extract[List[org.json4s.JValue]])
    assert(rows.size == sortedBySpark.size && rows.distinct.size == rows.size, "pages are disjoint and exhaustive")
  }

  test("the control plane composes with at-rest encryption (r14 verdict #6)") {
    import graft.core.{Crypto, Database}
    // an AES-encrypted store, mounted through Database.load — the server
    // serves catalogs, cells and dialect queries while every fact read
    // decrypts in-executor through the loaded frames' options
    val src = TinyModel.build(spark)
    src.cube("sales").set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 41.0)
    src.cube("sales").set(Seq("2021", "Feb", "North", "motorcycles", "Sales"), 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_rest_enc").toString
    val pw = new Crypto.AesGcm("rest secret")
    src.save(dir, pw)
    val mounted = Database.load(dir, spark, pw)
    val encServer = new RestServer(Seq(mounted)).start()
    try {
      val encBase = s"http://127.0.0.1:${encServer.boundPort}"
      def encGet(path: String) = req(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(encBase + path)))
      def encPost(path: String, body: String) =
        req(java.net.http.HttpRequest.newBuilder(java.net.URI.create(encBase + path))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)))
      val cell = encGet("/cells/tiny/sales?address=2021,Year,North,motorcycles,Sales")
      assert(cell.statusCode() == 200 && cell.body().contains("42"), cell.body())
      val q = encPost("/query/tiny",
        "SELECT months, value FROM sales WHERE '2021', months=('Jan','Feb'), " +
          "regions='North', products='motorcycles', 'Sales'")
      assert(q.statusCode() == 200 && q.body().contains("41"), q.body())
    } finally encServer.stop()
    // a WRONG password can never reach a serving state: the AES tier fails
    // LOUDLY at load (GCM tag on the metadata) before a server exists…
    intercept[IllegalArgumentException] {
      new RestServer(Seq(Database.load(dir, spark, new Crypto.AesGcm("wrong")))).start()
    }
    // …and the integrity-less Obfuscator tier fails at the metadata PARSE
    // (garbage JSON), not by mounting a garbage model — no route ever
    // serves silently-wrong numbers under a wrong password
    val obfDir = java.nio.file.Files.createTempDirectory("graft_rest_obf").toString
    src.save(obfDir, new Crypto.Obfuscator("right"))
    intercept[Exception] {
      new RestServer(Seq(Database.load(obfDir, spark,
        new Crypto.Obfuscator("wrong")))).start()
    }
  }

  test("?asOfGeneration= on the cell route serves the z-store snapshot (r16)") {
    // a dedicated database+server: the z-store compaction swaps the cube's
    // backing and must not leak into the shared fixture's tests
    val db2 = TinyModel.build(spark)
    val c = db2.cube("sales")
    c.set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 100.0)
    val dir = java.nio.file.Files.createTempDirectory("rest_ztt").toString
    assert(c.compactToZorderedStore(dir, Seq(0, 1), files = 2))
    // generation 2: the same address replaced by a bulk append
    val batch = spark.createDataFrame(Seq(
      (c.dimensions(0).idOf("2021"), c.dimensions(1).idOf("Jan"),
        c.dimensions(2).idOf("North"), c.dimensions(3).idOf("motorcycles"),
        c.dimensions(4).idOf("Sales"), 250.0)))
      .toDF("d0", "d1", "d2", "d3", "d4", "value")
    c.appendZorderedStore(batch)
    val srv = new RestServer(Seq(db2)).start()
    try {
      val b2 = s"http://127.0.0.1:${srv.boundPort}"
      def get2(p: String) = req(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(b2 + p)))
      val addr = "address=2021,Jan,North,motorcycles,Sales"
      val live = get2(s"/cells/tiny/sales?$addr")
      assert(live.statusCode() == 200 && live.body().contains("250"),
        s"live read must see the appended value: ${live.body()}")
      val asof = get2(s"/cells/tiny/sales?$addr&asOfGeneration=1")
      assert(asof.statusCode() == 200 && asof.body().contains("100"),
        s"generation-1 snapshot must read the pre-append value: ${asof.body()}")
      // a generation below every retained manifest → 404; junk → 400
      assert(get2(s"/cells/tiny/sales?$addr&asOfGeneration=0").statusCode() == 404)
      assert(get2(s"/cells/tiny/sales?$addr&asOfGeneration=x").statusCode() == 400)
      // ---- r17: the SAME snapshot plumbing serves the view routes…
      def post2(p: String, body: String) = req(java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(b2 + p))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)))
      val dfn = graft.olap.ViewDef(
        filters = Seq("measures" -> "Sales", "years" -> "2021"),
        rows = AxisDef(Seq("regions" -> Seq("North"))),
        cols = AxisDef(Seq("months" -> Seq("Jan"))))
      val vbody = graft.olap.ViewDef.toJson(dfn)
      val vLive = post2("/views/tiny/sales", vbody)
      assert(vLive.statusCode() == 200 && vLive.body().contains("250"),
        s"live view must show the appended value: ${vLive.body()}")
      val vAsof = post2("/views/tiny/sales?asOfGeneration=1", vbody)
      assert(vAsof.statusCode() == 200 && vAsof.body().contains("100") &&
        !vAsof.body().contains("250"),
        s"as-of view must render the generation-1 grid: ${vAsof.body()}")
      c.views.define("jan", dfn)
      val nAsof = get2("/views/tiny/sales/jan?asOfGeneration=1")
      assert(nAsof.statusCode() == 200 && nAsof.body().contains("100"),
        s"named as-of view: ${nAsof.body()}")
      assert(post2("/views/tiny/sales?asOfGeneration=x", vbody).statusCode() == 400)
      // ---- …and the dialect-query route
      val sql = "SELECT * FROM sales WHERE '2021', 'Jan', North, 'motorcycles', 'Sales'"
      val qLive = post2("/query/tiny", sql)
      assert(qLive.statusCode() == 200 && qLive.body().contains("250"),
        s"live query: ${qLive.body()}")
      val qAsof = post2("/query/tiny?asOfGeneration=1", sql)
      assert(qAsof.statusCode() == 200 && qAsof.body().contains("100") &&
        !qAsof.body().contains("250"), s"as-of query: ${qAsof.body()}")
      assert(post2("/query/tiny?asOfGeneration=0", sql).statusCode() == 404)
    } finally srv.stop()
    // the shared fixture's cube carries no z-store: as-of must 400, loudly
    val no = get("/cells/tiny/sales?address=2021,Jan,North,motorcycles,Sales&asOfGeneration=1")
    assert(no.statusCode() == 400, s"${no.statusCode()}: ${no.body()}")
  }
}
