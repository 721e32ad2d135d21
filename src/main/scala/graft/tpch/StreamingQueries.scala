package graft.tpch

import graft.core.Database
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, StringType, StructField, StructType}

/** The streaming-ingest correctness gate: a cube filled ONLY through the
  * Structured Streaming path (`Streaming.ingestInto`, AvailableNow file
  * stream, one file per micro-batch) must roll up to exactly what the batch
  * engine computes from the same slice — which DuckDB can oracle directly
  * from the events table. ~25 micro-batches cross the `compactEvery=10`
  * boundary twice, so the bounded-lineage localCheckpoint path is exercised
  * by the gate itself, not just a spec.
  */
object StreamingQueries {

  /** Lay `df` out as `n` event-time-range files whose modification times
    * follow the range order, so the file source (which triggers oldest-mtime
    * first) replays the stream in event-time order with only WITHIN-batch
    * disorder — the bounded-disorder arrival contract a watermark assumes.
    * Unordered replay of a whole history through a finite watermark would
    * drop almost everything as late (observed: 1677/10000 events surviving a
    * hash-sharded replay), which tests the drop path, not the operator.
    */
  private def timeOrderedStream(s: SparkSession, df: DataFrame, tsCol: String,
      n: Int, tmp: String): DataFrame = {
    df.repartitionByRange(n, col(tsCol)).write.mode("overwrite").parquet(tmp)
    val parts = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName) // part-NNNNN ↔ range partition NNNNN
    val base = System.currentTimeMillis() - parts.length * 2000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 2000L) }
    s.readStream.schema(s.read.parquet(tmp).schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp)
  }

  /** [[timeOrderedStream]] with the laid-out FILES memoized per key for
    * the lifetime of the session — the twins' file layout is FIXTURE PREP
    * (write 12 range files, munge mtimes), not the replay a row measures;
    * it was re-paid per gate and per pass (~1.5–2 s each at sf0.1). The
    * plain-replay twins (tumbling/hopping/sessionize/pairs) share ONE
    * layout of the FULL normalized events frame (`events:<dir>`) and
    * project AFTER the stream read — same rows, same range split, so the
    * replay semantics are unchanged while the prep is paid once per
    * session, exactly like the batch gates share the testdata parquet.
    * Checkpoints stay per-run (callers keep their own tmpRoot/ckpt).
    * Layout dirs live under the JVM temp dir and die with the process.
    */
  private val layoutCache = scala.collection.concurrent.TrieMap[String, String]()
  private def timeOrderedStreamCached(s: SparkSession, df: DataFrame,
      tsCol: String, n: Int, key: String): DataFrame = {
    val tmp = layoutCache.getOrElseUpdate(key, {
      val d = java.nio.file.Files.createTempDirectory(s"graft_layout_")
        .resolve("files").toString
      df.repartitionByRange(n, col(tsCol)).write.mode("overwrite").parquet(d)
      val parts = new java.io.File(d).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      val base = System.currentTimeMillis() - parts.length * 2000L
      parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 2000L) }
      d
    })
    s.readStream.schema(s.read.parquet(tmp).schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp)
  }

  /** The shared 12-file time-ordered replay of the full events table. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame =
    timeOrderedStreamCached(s, RelationalQueries.readEvents(s, dir),
      "ts", 12, s"events:$dir")

  /** Pre-pay the shared layout outside a timed region (Bench times it as
    * its own `stream_layout_build` row, like `huge_build`). */
  private[graft] def warmEventsLayout(s: SparkSession, dir: String): Unit = {
    eventsStream(s, dir); ()
  }

  /** Run `body` with `spark.sql.shuffle.partitions` set to `n`, restored
    * after — the streaming twins SIZE their state-store layout to the
    * replayed volume (inheriting the session's 32 means 32 store
    * loads+commits per trigger, pure commit overhead; measured 12.3 s →
    * 8.3 s with the sized layout, ARCHITECTURE §6b9), on the session's
    * state-store provider (HDFS-backed by default). Provider and size
    * follow the MEASURED numbers (ARCHITECTURE §6b9, re-measured round 12
    * with the StreamProfile main, since deleted — its source is at commit
    * cd93821): when store fan-out dominates (the two-sided join at 8
    * partitions × 4 stores) changelog-checkpointed RocksDB beat HDFS
    * 18.5 vs 21.9 s — but CUTTING the partition count beats both
    * (2p+HDFS 13.5 s), because RocksDB's per-store-instance overhead is
    * exactly what the changelog win was paying for; the join twin now
    * sizes to 2 and stays on the default provider. Single-aggregation
    * window state commits cheaply at 8p and LOSES parallelism below it
    * (Complete-mode re-emission), so the window twins stay at 8p+HDFS.
    * The RocksDB switch and its `GRAFT_STATE_PROVIDER` /
    * `GRAFT_STREAM_STATE_PARTS` overrides are deleted (source at commit
    * cd93821).
    */
  private def withStatePartitions[A](s: SparkSession, n: Int,
      noDataBatch: Boolean = true)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    // `noDataBatch = false` skips the final zero-row watermark-finalization
    // micro-batch (round 19, guide §2.4 "fewer jobs"): on a finite
    // AvailableNow replay of an INNER stream-stream join every match is
    // emitted in the batch its later side arrives (by batch 11 of 12), so
    // trigger 12 is a full ~0.6 s trigger of pure scheduling overhead.
    // Measured (alternating A/B, warm pass): 9.72 vs 8.97 s. NOT used on
    // shapes whose output depends on watermark finalization (append-mode
    // aggregations); the conf is set+restored per query, session untouched.
    if (!noDataBatch)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try body finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      prevNoData match {
        case Some(v) => s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None => s.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "olap_stream_ingest" -> ((s, dir) => {
      val ev = RelationalQueries.readEvents(s, dir).filter(col("event_id") < 5000)

      // model: etype × ubucket, decimal(21,4) cells (exact rollups)
      val db = new Database("streamdb", s)
      val etypes = ev.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted.toSeq // tiny driver catalog
      val et = db.addDimension("etype")
      et.edit().addMany(etypes).add("AllTypes", etypes).commit()
      val buckets = (0 until 10).map(i => s"u$i")
      val ub = db.addDimension("ubucket")
      ub.edit().addMany(buckets).add("AllUsers", buckets).commit()
      val emptyFacts = s.createDataFrame(s.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("d0", IntegerType), StructField("d1", IntegerType),
          StructField("value", DecimalType(21, 4)))))
      val cube = db.addCube("streamcube", Seq(et, ub), emptyFacts)

      // one cell per (etype, ubucket): decimal-exact event-value sums, keyed
      // by member id via tiny broadcast name→id frames (no driver data path)
      val etDf = s.createDataFrame(etypes.map(n => (n, et.idOf(n))))
        .toDF("event_type", "d0")
      val ubDf = s.createDataFrame(buckets.map(n => (n, ub.idOf(n))))
        .toDF("ub", "d1")
      val cells = ev
        .withColumn("ub", concat(lit("u"), pmod(col("user_id"), lit(10))))
        .groupBy("event_type", "ub")
        .agg(sum(col("value").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
        .join(broadcast(etDf), Seq("event_type")).join(broadcast(ubDf), Seq("ub"))
        .select(col("d0"), col("d1"), col("value"))

      // spread the cells over ~25 files; the file stream feeds them back one
      // file per micro-batch (order-independent: cell keys are unique)
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_ingest")
      val tmp = tmpRoot.resolve("files").toString
      cells.withColumn("part", pmod(hash(col("d0"), col("d1")), lit(25)))
        .repartition(25, col("part")).drop("part")
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(cells.schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
      // explicit checkpoint under the same root — without it Spark creates
      // an orphan temp checkpoint dir per run; everything is deleted below
      val q = Streaming.ingestInto(cube, stream, Trigger.AvailableNow(), compactEvery = 10,
        checkpointDir = Some(tmpRoot.resolve("ckpt").toString))
      q.awaitTermination()
      // post-stream compaction: batches after the last compactEvery boundary
      // still reference the source parquet in their lineage — checkpoint the
      // final fact frame BEFORE deleting the work dir
      cube.replaceFacts(cube.facts.localCheckpoint(true))
      import scala.jdk.CollectionConverters._
      // unload providers BEFORE deleting the checkpoint: the maintenance
      // thread otherwise races the deletion (Bridge.unloadStateStores doc)
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))

      // rollup through the cube's closure-join aggregation: per-type totals
      // across the AllUsers parent — equals the batch slice's decimal sums
      val g = cube.gridAggregate(Seq(etypes.map(et.idOf), Seq(ub.idOf("AllUsers"))))
      g.join(broadcast(etDf.withColumnRenamed("d0", "a0")), Seq("a0"))
        .select(col("event_type"), col("value").cast("double").as("value"))
    }),

    // §2.14 × S+ (round 13): STREAMING ingest into the INCREMENTAL
    // z-ordered store — half the cells compact into the manifest store,
    // the other half replays as a file stream whose every micro-batch
    // lands through appendZorderedStore (only overlapping-z files
    // re-cluster, last-write-wins per address), so the layout stays
    // slice-optimal continuously. Same oracle as olap_stream_ingest:
    // maintenance must lose/duplicate nothing.
    "olap_stream_zstore" -> ((s, dir) => {
      val ev = RelationalQueries.readEvents(s, dir).filter(col("event_id") < 5000)
      val db = new Database("streamzdb", s)
      val etypes = ev.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val et = db.addDimension("etype")
      et.edit().addMany(etypes).add("AllTypes", etypes).commit()
      val buckets = (0 until 10).map(i => s"u$i")
      val ub = db.addDimension("ubucket")
      ub.edit().addMany(buckets).add("AllUsers", buckets).commit()
      val etDf = s.createDataFrame(etypes.map(n => (n, et.idOf(n))))
        .toDF("event_type", "d0")
      val ubDf = s.createDataFrame(buckets.map(n => (n, ub.idOf(n))))
        .toDF("ub", "d1")
      val cells = ev
        .withColumn("ub", concat(lit("u"), pmod(col("user_id"), lit(10))))
        .groupBy("event_type", "ub")
        .agg(sum(col("value").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
        .join(broadcast(etDf), Seq("event_type")).join(broadcast(ubDf), Seq("ub"))
        .select(col("d0"), col("d1"), col("value"))
      // base: even-bucket cells, compacted to the manifest store
      val cube = db.addCube("streamzcube", Seq(et, ub),
        cells.filter(col("d1") % 2 === 0))
      val store = java.nio.file.Files.createTempDirectory("graftzstream").toString
      require(cube.compactToZorderedStore(store, Seq(0, 1), files = 4),
        "z-store compaction must land on an uncontended cube")
      // stream: odd-bucket cells, one file per micro-batch
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_z")
      val tmp = tmpRoot.resolve("files").toString
      cells.filter(col("d1") % 2 === 1)
        .withColumn("part", pmod(hash(col("d0"), col("d1")), lit(8)))
        .repartition(8, col("part")).drop("part")
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(cells.schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
      val q = Streaming.ingestIntoZStore(cube, stream, Trigger.AvailableNow(),
        checkpointDir = Some(tmpRoot.resolve("ckpt").toString))
      q.awaitTermination()
      // the store's segments fully materialized at each append — the
      // backing no longer references the stream source; drop the work dir
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      val g = cube.gridAggregate(Seq(etypes.map(et.idOf), Seq(ub.idOf("AllUsers"))))
      g.join(broadcast(etDf.withColumnRenamed("d0", "a0")), Seq("a0"))
        .select(col("event_type"), col("value").cast("double").as("value"))
    }),

    // §2.13+§2.14 (round 10): STREAMING summary MAINTENANCE — the same
    // ingest replay, but a materialized summary (ubucket collapsed to
    // AllUsers) is kept CURRENT per micro-batch through ingestInto's
    // onBatchMerged hook + Aggregates.maintain: each batch's resolved cell
    // frame is profiled (one tiny collect_set aggregation, bounded by the
    // catalogs) and only the touched grain cells recompute from the
    // post-merge facts (overlay fast path; the 25-batch replay crosses the
    // 16-layer cap, so the frame-rewrite compaction path runs too). At
    // stream end the navigator must be FRESH with no rebuild — the gate
    // reads the per-type totals THROUGH it, against the identical oracle
    // as olap_stream_ingest.
    "olap_stream_agg_navigator" -> ((s, dir) => {
      val ev = RelationalQueries.readEvents(s, dir).filter(col("event_id") < 5000)
      val db = new Database("streamaggdb", s)
      val etypes = ev.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val et = db.addDimension("etype")
      et.edit().addMany(etypes).add("AllTypes", etypes).commit()
      val buckets = (0 until 10).map(i => s"u$i")
      val ub = db.addDimension("ubucket")
      ub.edit().addMany(buckets).add("AllUsers", buckets).commit()
      val emptyFacts = s.createDataFrame(s.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("d0", IntegerType), StructField("d1", IntegerType),
          StructField("value", DecimalType(21, 4)))))
      val cube = db.addCube("streamaggcube", Seq(et, ub), emptyFacts)
      val summary = graft.olap.Aggregates.materialize(cube, "stream_sum",
        Seq(None, Some(1)))
      val navRef = new java.util.concurrent.atomic.AtomicReference(
        new graft.olap.Aggregates.Navigator(cube, Seq(summary)))

      val etDf = s.createDataFrame(etypes.map(n => (n, et.idOf(n))))
        .toDF("event_type", "d0")
      val ubDf = s.createDataFrame(buckets.map(n => (n, ub.idOf(n))))
        .toDF("ub", "d1")
      val cells = ev
        .withColumn("ub", concat(lit("u"), pmod(col("user_id"), lit(10))))
        .groupBy("event_type", "ub")
        .agg(sum(col("value").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
        .join(broadcast(etDf), Seq("event_type")).join(broadcast(ubDf), Seq("ub"))
        .select(col("d0"), col("d1"), col("value"))

      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_agg")
      val tmp = tmpRoot.resolve("files").toString
      cells.withColumn("part", pmod(hash(col("d0"), col("d1")), lit(25)))
        .repartition(25, col("part")).drop("part")
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(cells.schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
      val q = Streaming.ingestInto(cube, stream, Trigger.AvailableNow(),
        compactEvery = 10,
        checkpointDir = Some(tmpRoot.resolve("ckpt").toString),
        onBatchMerged = Some { batch =>
          val nav0 = navRef.get
          navRef.set(new graft.olap.Aggregates.Navigator(cube,
            nav0.summaries.map(sc =>
              graft.olap.Aggregates.maintain(cube, sc, batch)
                .getOrElse(graft.olap.Aggregates.rebuild(cube, sc)))))
        })
      q.awaitTermination()

      // the maintained summary must be CURRENT without any rebuild, and it
      // must serve the grid — read it BEFORE the cleanup mutates base
      val nav = navRef.get
      require(nav.fresh, "maintained summary must be fresh at stream end")
      val probe = Seq(etypes.head, "AllUsers")
      require(nav.cubeFor(probe).name == "stream_sum",
        "per-type totals must be summary-served")
      val served = nav.cubeFor(probe)
      val rows = served.gridAggregate(Seq(etypes.map(n => served.dimensions(0).idOf(n)),
          Seq(served.dimensions(1).idOf("AllUsers"))))
        .join(broadcast(etDf.withColumnRenamed("d0", "a0")), Seq("a0"))
        .select(col("event_type"), col("value").cast("double").as("value"))
        .collect() // materialize while the work dir exists

      cube.replaceFacts(cube.facts.localCheckpoint(true))
      import scala.jdk.CollectionConverters._
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))

      s.createDataFrame(s.sparkContext.parallelize(rows.toList, 1),
        StructType(Seq(StructField("event_type", StringType),
          StructField("value", DoubleType))))
    }),

    // R3+ST1 (round 7): a CELL-READING ON_ENTRY rule on the STREAMING
    // ingest path — records entering at the min-name priority gain the same
    // customer's max-name priority cell (input + [maxprio]), evaluated per
    // streamed row against the batch's post-write state
    // (Rules.applyOnEntryBulk over the bulkMergeSnapshot). One AvailableNow
    // batch (no per-file trigger limit) so every ref cell is in scope —
    // the same semantics, and the same oracle, as the bulk-import gate.
    "olap_stream_ref_rule" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val db = new Database("streamref", s)
      val cust = db.addDegenerateDimension("customer", "C#")
      val prios = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val prio = db.addDimension("priority")
      prio.edit().addMany(prios).add("AllPrio", prios).commit()
      val emptyFacts = s.createDataFrame(s.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("d0", IntegerType), StructField("d1", IntegerType),
          StructField("value", DecimalType(21, 4)))))
      val cube = db.addCube("salesstream", Seq(cust, prio), emptyFacts)
      cube.registerRule(graft.olap.RuleDef(Map("priority" -> prios.head),
        graft.olap.RuleScope.OnEntry,
        graft.olap.RuleExpr.Add(graft.olap.RuleExpr.Input,
          graft.olap.RuleExpr.Ref(prios.last)), "min_plus_max"))
      val prioDf = s.createDataFrame(prios.map(n => (n, prio.idOf(n))))
        .toDF("o_orderpriority", "d1")
      val cells = orders
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(15,2)")).cast("decimal(21,4)").as("value"))
        .join(broadcast(prioDf), Seq("o_orderpriority"))
        .select(col("o_custkey").cast("int").as("d0"), col("d1"), col("value"))
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_ref")
      val tmp = tmpRoot.resolve("files").toString
      cells.write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(cells.schema).parquet(tmp)
      val q = Streaming.ingestInto(cube, stream, Trigger.AvailableNow(),
        checkpointDir = Some(tmpRoot.resolve("ckpt").toString))
      q.awaitTermination()
      cube.replaceFacts(cube.facts.localCheckpoint(true))
      import scala.jdk.CollectionConverters._
      // unload providers BEFORE deleting the checkpoint: the maintenance
      // thread otherwise races the deletion (Bridge.unloadStateStores doc)
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      val g = cube.gridAggregate(Seq(
        Seq(graft.core.Dimension.DegenerateAllId),
        prios.map(prio.idOf) :+ prio.idOf("AllPrio")))
      val names = cube.memberNamesDf(1)
        .select(col("id").as("a1"), col("mname").as("priority"))
      g.join(broadcast(names), "a1")
        .select(col("priority"), col("value").cast("double").as("value"))
    }),

    // Streaming twin of rel_events_tumbling (r7 verdict #6): the SAME events
    // land as an AvailableNow file stream (one file per micro-batch, so
    // windows accumulate across many triggers) and run through the
    // watermarked Streaming.windowedAggregate path; gated against the SAME
    // DuckDB oracle as the batch gate — proving the streaming operator
    // computes exactly what the batch plan does. Complete output mode keeps
    // every window in the snapshot (the finite-stream parity shape; a
    // production stream would run Append and let the watermark finalize+evict
    // — that path is exercised in StreamingSpec). Values stream as
    // decimal(15,2) so the windowed sums are order-exact like the batch side.
    "rel_events_tumbling_stream" -> ((s, dir) => {
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_tumble")
      val sinkName = s"tumble_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      withStatePartitions(s, 8) {
        val stream = eventsStream(s, dir)
          .select(col("ts"), col("event_type"),
            col("value").cast("decimal(15,2)").as("value"))
        val agg = Streaming.windowedAggregate(stream, "ts", "10 minutes", "1 hour")
        val q = agg.writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", tmpRoot.resolve("ckpt").toString)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val out = s.table(sinkName)
        .select(date_format(col("wstart"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          col("event_type"), col("n"), col("total").cast("double").as("total"))
        .localCheckpoint(true)
      import scala.jdk.CollectionConverters._
      // unload providers BEFORE deleting the checkpoint: the maintenance
      // thread otherwise races the deletion (Bridge.unloadStateStores doc)
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }),

    // Streaming twin of rel_events_hopping (round 9): the same replay
    // through the SLIDING form of the watermarked window operator — each
    // event fans out to 2 overlapping epoch-aligned windows whose partial
    // counts accumulate ACROSS triggers; identical oracle as the batch gate.
    "rel_events_hopping_stream" -> ((s, dir) => {
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_hop")
      val sinkName = s"hop_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      withStatePartitions(s, 8) {
        val stream = eventsStream(s, dir)
          .select(col("ts"), col("event_type"),
            col("value").cast("decimal(15,2)").as("value"))
        val agg = Streaming.windowedAggregate(stream, "ts", "1 hour", "1 hour",
          slide = Some("30 minutes"))
        val q = agg.writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", tmpRoot.resolve("ckpt").toString)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val out = s.table(sinkName)
        .select(date_format(col("wstart"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          col("event_type"), col("n"), col("total").cast("double").as("total"))
        .localCheckpoint(true)
      import scala.jdk.CollectionConverters._
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }),

    // Streaming twin of rel_sessionize: native session_window gap sessions
    // over the file stream, then per-user session count/event count derived
    // from the emitted sessions — the SAME oracle as the batch gate (no
    // exact-1800s gaps exist in the data, so the half-open session_window
    // boundary and the batch LAG>1800 rule agree).
    "rel_sessionize_stream" -> ((s, dir) => {
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_sess")
      val sinkName = s"sess_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      withStatePartitions(s, 8) {
        val stream = eventsStream(s, dir)
          .select(col("ts"), col("user_id"), col("value"))
        val agg = Streaming.sessionWindowAggregate(stream, "ts", "10 minutes", "30 minutes")
        val q = agg.writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", tmpRoot.resolve("ckpt").toString)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val out = s.table(sinkName)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
        .localCheckpoint(true)
      import scala.jdk.CollectionConverters._
      // unload providers BEFORE deleting the checkpoint: the maintenance
      // thread otherwise races the deletion (Bridge.unloadStateStores doc)
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }),

    // Streaming twin of rel_event_pairs (round 9): a STREAM-STREAM interval
    // self-join — clicks and views are two watermarked branches of the same
    // replayed file stream, inner-joined on user with the trailing-30-minute
    // bound. The hardest streaming shape in the matrix: state on BOTH sides,
    // evicted by the watermark against the join's time condition (views
    // older than watermark − 30 min can never match a future click and are
    // dropped from state). Inner-join matches emit immediately (append
    // mode); the per-user aggregation runs as a batch read over the sink so
    // the gate compares against the IDENTICAL batch oracle. The time-ordered
    // replay (zero cross-file disorder) means the 1-hour watermark can never
    // drop a legitimate match — streaming replay ≡ the batch join, proven by
    // the shared oracle.
    "rel_event_pairs_stream" -> ((s, dir) => {
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_pairs")
      val sinkName = s"pairs_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      // SMALLER layout than the window twins: the join keeps 4 stores per
      // partition, so store fan-out dominates until the partition count is
      // cut — r12 profile (the StreamProfile main, since deleted; summed
      // triggerExecution): 8p+RocksDB 18.5 s, 8p+HDFS 21.9 s,
      // 2p+HDFS 13.5 s, 1p+HDFS 13.2 s.
      // At the sized-down layout the HDFS provider wins — RocksDB's
      // per-store-instance overhead is what the changelog win was paying
      // for at 8p — and the residual ~1 s/trigger is addBatch stage
      // scheduling + incremental planning (state commitMs ~160 ms at 2p),
      // i.e. the micro-batch machinery itself, recorded in ARCHITECTURE §6.
      // The window twins stay at 8p: Complete-mode re-emission parallelizes
      // there (8p 8.3/9.8 s vs 1p 9.6/15.7 s tumbling/sessionize).
      withStatePartitions(s, 2, noDataBatch = false) {
        val stream = eventsStream(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        val clicks = stream.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("cid"))
          .withWatermark("cts", "1 hour")
        val views = stream.filter(col("event_type") === "view")
          .select(col("user_id").as("vu"), col("ts").as("vts"), col("event_id").as("vid"))
          .withWatermark("vts", "1 hour")
        val joined = clicks.join(views,
          col("cu") === col("vu") &&
            col("vts") >= col("cts") - expr("interval 30 minutes") &&
            col("vts") <= col("cts"))
        val q = joined.writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", tmpRoot.resolve("ckpt").toString)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val out = s.table(sinkName)
        .groupBy(col("cu").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("cid")).as("n_clicks_matched"))
        .localCheckpoint(true)
      import scala.jdk.CollectionConverters._
      // unload providers BEFORE deleting the checkpoint: the maintenance
      // thread otherwise races the deletion (Bridge.unloadStateStores doc)
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }),

    // streaming novelty filter: docs arrive as a file stream (one file per
    // micro-batch), stateful dropDuplicates collapses within-stream repeats
    // ACROSS batches, and a stream-static left_anti drops everything the
    // corpus fingerprint index already holds. Emits the surviving
    // fingerprint set (fp only — survivor identity among equal-fp repeats
    // is arrival-order dependent, the fp set is not).
    "pipe_stream_novelty" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val idx = graft.pipeline.TextDedup.fingerprintIndex(
        d.filter(col("doc_id") < 250), "text")
      val batch = d.filter(col("doc_id") >= 250).select("doc_id", "text")
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_novel")
      val tmp = tmpRoot.resolve("files").toString
      batch.withColumn("part", pmod(hash(col("doc_id")), lit(10)))
        .repartition(10, col("part")).drop("part")
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
      val sinkName = s"novel_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = graft.pipeline.TextDedup.novelOnly(stream, idx, "text")
        .select("fp")
        .writeStream.format("memory").queryName(sinkName)
        .option("checkpointLocation", tmpRoot.resolve("ckpt").toString)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.table(sinkName).select("fp").localCheckpoint(true)
      import scala.jdk.CollectionConverters._
      // unload providers BEFORE deleting the checkpoint: the maintenance
      // thread otherwise races the deletion (Bridge.unloadStateStores doc)
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }),

    // watermark-bounded streaming dedup: the event half is replayed WITH
    // every third event planted twice; dropDuplicatesWithinWatermark keeps
    // first arrivals with expiring state, so the surviving set equals the
    // batch DISTINCT (duplicates share a timestamp → always inside the
    // horizon here; the expiry re-emission contract is spec-pinned)
    "rel_stream_dedup" -> ((s, dir) => {
      val ev = RelationalQueries.readEvents(s, dir)
        .filter(col("event_id") < 4000)
        .select(col("event_id"), col("ts"), col("event_type"))
      val withDups = ev.unionAll(ev.filter(col("event_id") % 3 === 0))
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_dedup")
      val tmp = tmpRoot.resolve("files").toString
      val sinkName = s"dedup_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      withStatePartitions(s, 8) {
        val stream = timeOrderedStream(s, withDups, "ts", 12, tmp)
        val q = graft.streaming.Streaming
          .dedupWithinWatermark(stream, "ts", "10 minutes", Seq("event_id"))
          .select(col("event_id"), col("event_type"))
          .writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", tmpRoot.resolve("ckpt").toString)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val out = s.table(sinkName).localCheckpoint(true)
      import scala.jdk.CollectionConverters._
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }),

    // custom-state escape hatch under the gate battery: runningTotals
    // (mapGroupsWithState) replayed over the event half; the memory sink
    // accumulates every per-batch update, so the FINAL state per user is
    // the max-n emission (n strictly increases), compared against the
    // batch groupBy. Totals gate as ROUNDED CENTS: the operator sums
    // doubles in arrival order, and the worst-case FP drift
    // (n·eps·Σ|v| ≈ 1e-6) sits far below the half-cent boundary, so the
    // rounding is deterministic cross-engine.
    // streaming first-touch funnel (round 12): the per-user stage state
    // machine replayed over a time-ordered file stream must equal the
    // batch funnel — SAME SQL oracle as rel_funnel; depth is monotone so
    // max(depth) per user in the update-mode sink is the final state
    "rel_funnel_stream" -> ((s, dir) => {
      import s.implicits._
      val stages = Seq("view", "click", "purchase")
      val ev = RelationalQueries.readEvents(s, dir)
        .select(col("user_id").cast("long").as("user_id"),
          col("event_type"), col("ts"))
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_funnel")
      val tmp = tmpRoot.resolve("files").toString
      val sinkName = s"funnel_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      withStatePartitions(s, 8) {
        val stream = timeOrderedStream(s, ev, "ts", 12, tmp)
          .as[graft.streaming.Streaming.TypedEvent]
        val q = graft.streaming.Streaming.funnelStream(stream, stages)
          .toDF()
          .writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", tmpRoot.resolve("ckpt").toString)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val fin = s.table(sinkName)
        .groupBy(col("user_id")).agg(max(col("depth")).as("depth"))
        .localCheckpoint(true)
      val out = stages.zipWithIndex.map { case (st, i) =>
        fin.filter(col("depth") >= i + 1)
          .agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).as("stage"), lit(st).as("event_type"),
            col("n_users"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      import scala.jdk.CollectionConverters._
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }),

    "rel_stream_running_totals" -> ((s, dir) => {
      import s.implicits._
      val ev = RelationalQueries.readEvents(s, dir)
        .filter(col("event_id") < 4000)
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("value").cast("double").as("value"))
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_rt")
      val tmp = tmpRoot.resolve("files").toString
      val sinkName = s"rt_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      withStatePartitions(s, 8) {
        val stream = timeOrderedStream(s, ev, "ts", 12, tmp)
          .as[graft.streaming.Streaming.UserEvent]
        val q = graft.streaming.Streaming.runningTotals(stream)
          .toDF()
          .writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", tmpRoot.resolve("ckpt").toString)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val out = s.table(sinkName)
        .groupBy(col("user_id"))
        .agg(max(struct(col("n"), col("total"))).as("fin"))
        .select(col("user_id"), col("fin.n").as("n"),
          round(col("fin.total") * 100).cast("long").as("total_cents"))
        .localCheckpoint(true)
      import scala.jdk.CollectionConverters._
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }),

    // flatMapGroupsWithState under the battery: the burst detector's alert
    // COUNT per user is iteration-order-INVARIANT (every event increments
    // the carried counter by one, so alerts = floor(n_events/threshold)
    // regardless of within-batch order or batch boundaries) — exactly the
    // slice of the 0..n-outputs operator an oracle can pin; alert
    // timestamps are order-dependent by nature and stay spec-land.
    "rel_stream_burst_alerts" -> ((s, dir) => {
      import s.implicits._
      val ev = RelationalQueries.readEvents(s, dir)
        .filter(col("event_id") < 4000)
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("value").cast("double").as("value"))
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_burst")
      val tmp = tmpRoot.resolve("files").toString
      val sinkName = s"burst_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      withStatePartitions(s, 8) {
        val stream = timeOrderedStream(s, ev, "ts", 12, tmp)
          .as[graft.streaming.Streaming.UserEvent]
        val q = graft.streaming.Streaming.burstAlerts(stream, threshold = 7)
          .toDF()
          .writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", tmpRoot.resolve("ckpt").toString)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val out = s.table(sinkName)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_alerts"))
        .localCheckpoint(true)
      import scala.jdk.CollectionConverters._
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }),

    // streaming NEAR-dup novelty: the same file-replay intake, filtered per
    // micro-batch against the prebuilt corpus near-dup index (banded
    // MinHash candidates, exact Jaccard verify). The decision is per doc vs
    // the STATIC index, so the admitted id set is batching-independent and
    // fully order-free — oracle: stream docs with no corpus doc at word-set
    // Jaccard >= 0.9 (exact-verified LSH; recall 1.0 on this corpus is
    // what pipe_dedup_minhash's exact-pair-set oracle already pins).
    // online scoring with an offline-trained classifier (round 12): the
    // NB model fits on the batch corpus, then the stream scores each
    // micro-batch with the SCAN-shaped serving twin (vocab as a map
    // literal → stateless, append mode, zero aggregation state); the
    // oracle is the same whole-corpus SQL model as pipe_nb_classify, so
    // the hash proves stream scoring ≡ batch scoring
    "pipe_nb_classify_stream" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.pipeline.Classify.nbTrain(d, col("text"), col("lang"))
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_nb")
      val tmp = tmpRoot.resolve("files").toString
      val batch = d.select("doc_id", "text")
      batch.withColumn("part", pmod(hash(col("doc_id")), lit(10)))
        .repartition(10, col("part")).drop("part")
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
      val sinkName = s"nb_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = graft.pipeline.Classify
        .nbClassifyScan(model, stream, col("doc_id"), col("text"))
        .writeStream.format("memory").queryName(sinkName)
        .option("checkpointLocation", tmpRoot.resolve("ckpt").toString)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.table(sinkName)
        .join(d.select(col("doc_id").as("__id"), col("lang")), Seq("__id"))
        .select(col("__id").as("doc_id"), col("pred"), col("n_tokens"),
          (col("pred") === col("lang")).as("correct"))
        .localCheckpoint(true)
      import scala.jdk.CollectionConverters._
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }),

    // streaming entity resolution: corrupted customer names arrive as a
    // file stream (one file per micro-batch) and each record is linked to
    // the master entity table through the PREBUILT deletion-variant index
    // — per-record decisions against the static index only, so the
    // matched set is batching-invariant and shares the batch pipe_er_fuzzy
    // oracle (reprojected)
    "pipe_stream_er" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"))
      val idx = graft.pipeline.EntityResolution.variantIndex(
        c, "c_custkey", "c_name")
      val p = lit(1) + col("c_custkey") % length(col("c_name"))
      val dirty = c.select(col("c_custkey").as("dirty_id"),
        concat(substr(col("c_name"), lit(1), p - 1), lit("x"),
          substr(col("c_name"), p + 1, length(col("c_name")))).as("dirty_name"))
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_er")
      val tmp = tmpRoot.resolve("files").toString
      dirty.withColumn("part", pmod(hash(col("dirty_id")), lit(8)))
        .repartition(8, col("part")).drop("part")
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(
          s.read.parquet(tmp).schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
      val outDir = tmpRoot.resolve("matched").toString
      val q = graft.streaming.Streaming.erMatchStream(stream, "dirty_id",
        "dirty_name", idx, "c_custkey", outDir,
        checkpointDir = Some(tmpRoot.resolve("ckpt").toString))
      q.awaitTermination()
      val out = s.read.parquet(outDir)
        .select(col("dirty_id").cast("long").as("dirty_id"),
          col("c_custkey").cast("long").as("ref_id"),
          col("dist").cast("long").as("dist"))
        .localCheckpoint(true)
      import scala.jdk.CollectionConverters._
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(pth => java.nio.file.Files.deleteIfExists(pth))
      out
    }),

    "pipe_stream_neardup" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val (idxB, idxW) = graft.pipeline.TextDedup.nearDupIndex(
        d.filter(col("doc_id") < 250), "doc_id", "text")
      val batch = d.filter(col("doc_id") >= 250).select("doc_id", "text")
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream_neardup")
      val tmp = tmpRoot.resolve("files").toString
      batch.withColumn("part", pmod(hash(col("doc_id")), lit(10)))
        .repartition(10, col("part")).drop("part")
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
      val outDir = tmpRoot.resolve("admitted").toString
      val q = graft.streaming.Streaming.nearDupNovelStream(stream, "doc_id",
        "text", idxB, idxW, outDir,
        checkpointDir = Some(tmpRoot.resolve("ckpt").toString))
      q.awaitTermination()
      val out = s.read.parquet(outDir).select("doc_id").localCheckpoint(true)
      import scala.jdk.CollectionConverters._
      org.apache.spark.sql.graft.Bridge.unloadStateStores()
      java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }))

  val oracleSql: Map[String, String] = Map(
    // IDENTICAL oracle to the batch pipe_nb_classify — the path under
    // test is stateless micro-batch scoring, not the model arithmetic
    "pipe_nb_classify_stream" -> PipelineQueries.NB_ORACLE,

    "olap_stream_ingest" ->
      """SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS value
         FROM events WHERE event_id < 5000 GROUP BY event_type""",

    // the incrementally-z-maintained store serves the identical totals
    "olap_stream_zstore" ->
      """SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS value
         FROM events WHERE event_id < 5000 GROUP BY event_type""",

    // per-batch-maintained summary serves the identical totals
    "olap_stream_agg_navigator" ->
      """SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS value
         FROM events WHERE event_id < 5000 GROUP BY event_type""",

    // identical semantics (and oracle) to olap_import_ref_rule — the path
    // under test is the streaming ingest hook, not the arithmetic
    "olap_stream_ref_rule" ->
      """WITH g AS (SELECT o_custkey AS ck, o_orderpriority AS p,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(21,4)) AS v
          FROM orders GROUP BY 1, 2),
        h AS (SELECT ck, p,
            CASE WHEN p = (SELECT min(o_orderpriority) FROM orders)
              THEN v + COALESCE((SELECT g2.v FROM g g2 WHERE g2.ck = g.ck
                  AND g2.p = (SELECT max(o_orderpriority) FROM orders)), 0)
              ELSE v END AS v
          FROM g)
        SELECT p AS priority, CAST(SUM(v) AS DOUBLE) AS value FROM h GROUP BY 1
        UNION ALL
        SELECT 'AllPrio' AS priority, CAST(SUM(v) AS DOUBLE) AS value FROM h""",

    // IDENTICAL oracle to the batch rel_events_tumbling — the path under
    // test is the watermarked streaming window operator, not the arithmetic
    "rel_events_tumbling_stream" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
           COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2""",

    // IDENTICAL oracle to the batch rel_events_hopping
    "rel_events_hopping_stream" ->
      """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(15,2)) AS value,
             to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS b
           FROM events),
         x AS (SELECT event_type, value, b AS ws FROM e
               UNION ALL
               SELECT event_type, value, b - INTERVAL 30 MINUTE AS ws FROM e)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
           COUNT(*) AS n, CAST(SUM(value) AS DOUBLE) AS total
         FROM x GROUP BY 1, 2""",

    // IDENTICAL oracle to the batch rel_sessionize
    "rel_sessionize_stream" ->
      """WITH flagged AS (
           SELECT user_id,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800 OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
         FROM flagged GROUP BY user_id""",

    // IDENTICAL oracle to the batch rel_event_pairs — the path under test
    // is the two-sided-state stream-stream join, not the arithmetic
    "rel_event_pairs_stream" ->
      """SELECT c.user_id, COUNT(*) AS n_pairs,
           COUNT(DISTINCT c.event_id) AS n_clicks_matched
         FROM events c JOIN events v
           ON v.user_id = c.user_id
          AND c.event_type = 'click' AND v.event_type = 'view'
          AND v.ts BETWEEN c.ts - INTERVAL 30 MINUTE AND c.ts
         GROUP BY c.user_id""",

    // IDENTICAL oracle to the batch rel_funnel — the path under test is
    // the per-user stage state machine across triggers, not the funnel
    // arithmetic
    "rel_funnel_stream" ->
      """WITH s1 AS (SELECT user_id AS u, min(ts) AS t FROM events
                     WHERE event_type = 'view' GROUP BY 1),
           s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
                  JOIN s1 ON e.user_id = s1.u AND e.ts >= s1.t
                  WHERE e.event_type = 'click' GROUP BY 1),
           s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
                  JOIN s2 ON e.user_id = s2.u AND e.ts >= s2.t
                  WHERE e.event_type = 'purchase' GROUP BY 1)
         SELECT 1 AS stage, 'view' AS event_type, count(*) AS n_users FROM s1
         UNION ALL
         SELECT 2, 'click', count(*) FROM s2
         UNION ALL
         SELECT 3, 'purchase', count(*) FROM s3""",

    // IDENTICAL pair derivation to the batch pipe_er_fuzzy oracle — the
    // path under test is the stream-static index matching, not the
    // edit-distance arithmetic
    "pipe_stream_er" ->
      """WITH c AS (SELECT c_custkey AS cid, c_name AS nm FROM customer),
           d0 AS (SELECT cid, nm, CAST(1 + (cid % length(nm)) AS INT) AS p FROM c),
           dirty AS (SELECT cid AS did,
               substring(nm, 1, p - 1) || 'x' || substring(nm, p + 1) AS dnm
             FROM d0),
           lv AS (SELECT did, dnm,
               CASE WHEN i = 0 THEN dnm
                    ELSE substring(dnm, 1, i - 1) || substring(dnm, i + 1) END AS v
             FROM dirty, unnest(range(0, length(dnm) + 1)) AS s(i)),
           rv AS (SELECT cid, nm,
               CASE WHEN i = 0 THEN nm
                    ELSE substring(nm, 1, i - 1) || substring(nm, i + 1) END AS v
             FROM c, unnest(range(0, length(nm) + 1)) AS s(i))
         SELECT DISTINCT did AS dirty_id, cid AS ref_id,
           CAST(levenshtein(dnm, nm) AS BIGINT) AS dist
         FROM lv JOIN rv USING (v)
         WHERE levenshtein(dnm, nm) <= 1""",

    // mirrors TextDedup.novelOnly over the doc_id<250 corpus /
    // doc_id>=250 intake split: distinct canonical fingerprints of the
    // intake minus the corpus index (fingerprint ≙ pipe_fingerprint oracle)
    "pipe_stream_novelty" ->
      """WITH canon AS (
           SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
           FROM documents),
         corpus AS (SELECT DISTINCT fp FROM canon WHERE doc_id < 250),
         intake AS (SELECT DISTINCT fp FROM canon WHERE doc_id >= 250)
         SELECT fp FROM intake
         WHERE fp NOT IN (SELECT fp FROM corpus)""",

    // the planted duplicates collapse back to the batch DISTINCT
    "rel_stream_dedup" ->
      """SELECT event_id, event_type FROM events WHERE event_id < 4000""",

    // alerts per user = floor(n_events / 7), zero-alert users absent
    "rel_stream_burst_alerts" ->
      """SELECT user_id, CAST(FLOOR(COUNT(*) / 7) AS BIGINT) AS n_alerts
         FROM events WHERE event_id < 4000
         GROUP BY user_id HAVING COUNT(*) >= 7""",

    // final per-user state = the batch aggregate; cents via exact decimal
    "rel_stream_running_totals" ->
      """SELECT user_id, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(15,2))) * 100) AS BIGINT) AS total_cents
         FROM events WHERE event_id < 4000 GROUP BY user_id""",

    // mirrors TextDedup.dropCorpusNearDups over the same corpus/intake
    // split: an intake doc survives iff NO corpus doc sits at word-set
    // Jaccard >= 0.9 (the pipe_dedup_jaccard similarity, across the halves)
    "pipe_stream_neardup" ->
      """WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents),
           n AS (SELECT doc_id, count(*) AS c FROM t GROUP BY doc_id),
           hits AS (SELECT b.doc_id AS sid, a.doc_id AS cid, count(*) AS shared
                    FROM t a JOIN t b ON a.w = b.w
                    WHERE a.doc_id < 250 AND b.doc_id >= 250
                    GROUP BY 1, 2),
           bad AS (SELECT DISTINCT sid FROM hits
                   JOIN n na ON cid = na.doc_id JOIN n nb ON sid = nb.doc_id
                   WHERE CAST(shared AS DOUBLE) / CAST(na.c + nb.c - shared AS DOUBLE) >= 0.9)
         SELECT doc_id FROM documents
         WHERE doc_id >= 250 AND doc_id NOT IN (SELECT sid FROM bad)""")
}
