package graft

import org.apache.spark.sql.SparkSession

/** The one profiling entry point for local perf iteration (round 18 folds
  * the accumulated scratch mains — WarmPerf/WarmPerf2/ScratchPerf/
  * ScratchHuge8 — into this):
  *
  *   Test/runMain graft.Profile warm  <gate…>   3 warmed passes per gate
  *   Test/runMain graft.Profile cold  <gate…>   1 cold-JVM pass per gate
  *   Test/runMain graft.Profile plan  <gate…>   explain("formatted")
  *   Test/runMain graft.Profile stages <gate>   per-stage metrics (run/cpu/
  *                                              gc/spill/shuffle) of a warm
  *                                              pass
  *   Test/runMain graft.Profile huge8 [build|zstore|both] [passes]
  *                                              1e8 variant harness (env:
  *                                              SPARK_GRAFT_HUGE_SLICES/
  *                                              PERSIST, SPARK_GRAFT_OFFHEAP,
  *                                              SPARK_GRAFT_HUGE8_ROWS)
  *
  * `SP_SF` picks the testdata dir (default sf0.1). Numbers from this light
  * context are for ITERATION; quote full-bench minima in records.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("warm")
    val rest = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SP_SF", "/root/testdata/sf0.1")
    mode match {
      case "warm" | "cold" =>
        val names = if (rest.nonEmpty) rest else Seq("pipe_dedup_minhash")
        val passes = if (mode == "warm") 3 else 1
        val spark = Bench.session()
        names.foreach { name =>
          (1 to passes).foreach { i =>
            val t0 = System.nanoTime()
            val n = SparkEntry.queries(name)(spark, sfDir).count()
            println(f"[$mode] $name pass$i ${(System.nanoTime() - t0) / 1e9}%8.2f s rows=$n")
          }
        }
        spark.stop()
      case "plan" =>
        val spark = Bench.session()
        rest.foreach { name =>
          println(s"===== $name =====")
          SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        }
        spark.stop()
      case "stages" =>
        val name = rest.headOption.getOrElse("pipe_dedup_minhash")
        val spark = Bench.session()
        @volatile var show = false
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = if (show) {
            val si = s.stageInfo
            val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
            val tm = si.taskMetrics
            System.err.println(f"[stage ${si.stageId}%3d] ${dur}%6.2f s tasks=${si.numTasks}%4d " +
              f"run=${tm.executorRunTime / 1000.0}%7.1f cpu=${tm.executorCpuTime / 1e9}%7.1f " +
              f"gc=${tm.jvmGCTime / 1000.0}%5.1f spillM=${tm.memoryBytesSpilled / 1048576}%5d " +
              f"spillD=${tm.diskBytesSpilled / 1048576}%5d " +
              f"in=${tm.inputMetrics.recordsRead}%9d shufR=${tm.shuffleReadMetrics.recordsRead}%9d " +
              f"shufW=${tm.shuffleWriteMetrics.recordsWritten}%9d  ${si.name.split("\n").head.take(50)}")
          }
        })
        SparkEntry.queries(name)(spark, sfDir).count() // warm pass, unlisted
        show = true
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        println(f"[stages] $name total ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
        spark.stop()
      case "pairs8" =>
        // the huge8_pipe_minhash_pairs body (Bench.scala 1e8 block), with
        // per-stage metrics — attribution for the suite's biggest row.
        // SPARK_GRAFT_HUGE8_MINHASH_PAIR_DOCS sizes it down for iteration.
        import org.apache.spark.sql.functions.{col, concat, concat_ws, lit,
          pmod, when, xxhash64}
        val docs8 = sys.env.getOrElse("SPARK_GRAFT_HUGE8_MINHASH_PAIR_DOCS",
          "100000000").toLong
        val parts = sys.env.getOrElse("SPARK_GRAFT_HUGE8_MINHASH_PARTS", "256").toInt
        val spark = Bench.session()
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = s.stageInfo
            val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
            val tm = si.taskMetrics
            if (dur >= 0.5) System.err.println(
              f"[stage ${si.stageId}%3d] ${dur}%7.2f s tasks=${si.numTasks}%4d " +
              f"run=${tm.executorRunTime / 1000.0}%7.1f cpu=${tm.executorCpuTime / 1e9}%7.1f " +
              f"gc=${tm.jvmGCTime / 1000.0}%5.1f spillM=${tm.memoryBytesSpilled / 1048576}%6d " +
              f"spillD=${tm.diskBytesSpilled / 1048576}%6d " +
              f"in=${tm.inputMetrics.recordsRead}%10d shufR=${tm.shuffleReadMetrics.recordsRead}%10d " +
              f"shufW=${tm.shuffleWriteMetrics.recordsWritten}%10d  ${si.name.split("\n").head.take(60)}")
          }
        })
        val base = when(pmod(col("id"), lit(100)) === 99, col("id") - 1)
          .otherwise(col("id"))
        val docs = spark.range(0, docs8, 1, parts)
          .select(col("id").as("doc"),
            concat_ws(" ", (0 until 8).map(j =>
              concat(lit("w"), pmod(xxhash64(base, lit(j)), lit(50000)))): _*)
              .as("text"))
        val t0 = System.nanoTime()
        val pairs = graft.pipeline.TextDedup.minhashLshPairs(
          docs, "doc", "text", k = 32, bands = 4, threshold = 0.9)
        val n = pairs.count()
        println(f"[pairs8] total ${(System.nanoTime() - t0) / 1e9}%.2f s " +
          f"pairs=$n (expect ${docs8 / 100})")
        if (sys.env.contains("SPARK_GRAFT_PAIRS8_PLAN")) pairs.explain("formatted")
        spark.stop()
      case "stream" =>
        // per-trigger attribution for the streaming twins: queryProgress
        // durationMs (addBatch/getBatch/commitOffsets/walCommit/
        // triggerExecution) + state commit times, per micro-batch.
        val names = if (rest.nonEmpty) rest else
          Seq("rel_events_tumbling_stream", "rel_sessionize_stream",
            "rel_event_pairs_stream")
        val spark = Bench.session()
        // A/B levers for this mode only (session conf, read by the twins)
        sys.env.get("GRAFT_STREAM_NODATA").foreach(v =>
          spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v))
        sys.env.get("GRAFT_STREAM_ROCKSDB").foreach { _ =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        }
        spark.streams.addListener(
          new org.apache.spark.sql.streaming.StreamingQueryListener {
            import org.apache.spark.sql.streaming.StreamingQueryListener._
            override def onQueryStarted(e: QueryStartedEvent): Unit = ()
            override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
            override def onQueryProgress(e: QueryProgressEvent): Unit = {
              val p = e.progress
              val d = p.durationMs
              def ms(k: String) = Option(d.get(k)).map(_.longValue).getOrElse(-1L)
              val commit = p.stateOperators.map(_.commitTimeMs).sum
              System.err.println(
                f"[trigger ${p.batchId}%3d] rows=${p.numInputRows}%7d " +
                f"trig=${ms("triggerExecution")}%5d addBatch=${ms("addBatch")}%5d " +
                f"getBatch=${ms("getBatch")}%4d latestOffset=${ms("latestOffset")}%4d " +
                f"walCommit=${ms("walCommit")}%4d commitOffsets=${ms("commitOffsets")}%4d " +
                f"stateCommit=${commit}%5d")
            }
          })
        names.foreach { name =>
          (1 to 2).foreach { i =>
            val t0 = System.nanoTime()
            val n = SparkEntry.queries(name)(spark, sfDir).count()
            println(f"[stream] $name pass$i ${(System.nanoTime() - t0) / 1e9}%8.2f s rows=$n")
          }
        }
        spark.stop()
      case "minhash8" =>
        // the huge8_pipe_minhash body (signatures + band hashes + HLL
        // distinct, zero doc-grain exchange) with per-stage metrics —
        // adjudication harness for the r18 50.3-s-vs-37.9-min question.
        import org.apache.spark.sql.functions.{approx_count_distinct, array,
          col, concat, concat_ws, lit, pmod, posexplode, slice, xxhash64}
        val docs8 = sys.env.getOrElse("SPARK_GRAFT_HUGE8_MINHASH_DOCS",
          "100000000").toLong
        val parts = sys.env.getOrElse("SPARK_GRAFT_HUGE8_MINHASH_PARTS", "256").toInt
        val passes = rest.headOption.map(_.toInt).getOrElse(3)
        val spark = Bench.session()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = s.stageInfo
            val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
            val tm = si.taskMetrics
            if (dur >= 0.5) System.err.println(
              f"[stage ${si.stageId}%3d] ${dur}%7.2f s tasks=${si.numTasks}%4d " +
              f"run=${tm.executorRunTime / 1000.0}%7.1f cpu=${tm.executorCpuTime / 1e9}%7.1f " +
              f"gc=${tm.jvmGCTime / 1000.0}%5.1f spillM=${tm.memoryBytesSpilled / 1048576}%6d " +
              f"spillD=${tm.diskBytesSpilled / 1048576}%6d  ${si.name.split("\n").head.take(60)}")
          }
        })
        (1 to passes).foreach { i =>
          val t0 = System.nanoTime()
          val docs = spark.range(0, docs8, 1, parts)
            .select(col("id").as("doc"),
              concat_ws(" ", (0 until 8).map(j =>
                concat(lit("w"), pmod(xxhash64(col("id"), lit(j)), lit(50000)))): _*)
                .as("text"))
          val sig = graft.pipeline.TextDedup.minhashSignatures(
            docs, "doc", "text", k = 16)
          val rowsPerBand = 4
          val banded = sig.select(posexplode(array((0 until 4).map(bi =>
            xxhash64(lit(bi), slice(col("sig"), bi * rowsPerBand + 1, rowsPerBand))): _*))
            .as(Seq("band", "bh")))
          val nb = banded.agg(approx_count_distinct(col("bh")).as("nb"))
            .collect()(0).getLong(0)
          println(f"[minhash8] pass$i ${(System.nanoTime() - t0) / 1e9}%8.2f s nb=$nb")
        }
        spark.stop()
      case "hugeplan" =>
        // explain("formatted") of the huge-model facts aggregation under
        // the current group knob (SPARK_GRAFT_HUGE_GROUP / graft.huge.group)
        // — the committable plan evidence for the huge_build rows.
        val rows = sys.env.getOrElse("SPARK_GRAFT_HUGE8_ROWS", "100000000").toLong
        val spark = Bench.session()
        graft.tpch.HugeModel.factsFrame(spark, rows).explain("formatted")
        spark.stop()
      case "huge8" =>
        val what = rest.headOption.getOrElse("build")
        val passes = rest.drop(1).headOption.map(_.toInt).getOrElse(2)
        val rows = sys.env.getOrElse("SPARK_GRAFT_HUGE8_ROWS", "100000000").toLong
        val spark = Bench.session()
        // per-stage attribution (same shape as pairs8): where does the
        // build row actually spend — generation+hash, exchange, final
        // agg, or cache materialization?
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = s.stageInfo
            val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
            val tm = si.taskMetrics
            if (dur >= 0.5) System.err.println(
              f"[stage ${si.stageId}%3d] ${dur}%7.2f s tasks=${si.numTasks}%4d " +
              f"run=${tm.executorRunTime / 1000.0}%7.1f cpu=${tm.executorCpuTime / 1e9}%7.1f " +
              f"gc=${tm.jvmGCTime / 1000.0}%5.1f spillM=${tm.memoryBytesSpilled / 1048576}%6d " +
              f"spillD=${tm.diskBytesSpilled / 1048576}%6d " +
              f"shufR=${tm.shuffleReadMetrics.recordsRead}%10d " +
              f"shufW=${tm.shuffleWriteMetrics.recordsWritten}%10d  ${si.name.split("\n").head.take(60)}")
          }
        })
        import scala.jdk.CollectionConverters._
        def gcMs: Long = java.lang.management.ManagementFactory
          .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
        def timed(name: String)(body: => Unit): Unit = {
          val g0 = gcMs; val t0 = System.nanoTime()
          body
          println(f"[huge8] $name ${(System.nanoTime() - t0) / 1e9}%8.2f s " +
            f"gc=${gcMs - g0} ms")
        }
        val variant = Seq("SPARK_GRAFT_HUGE_SLICES",
          "SPARK_GRAFT_HUGE_PERSIST", "SPARK_GRAFT_OFFHEAP", "SPARK_GRAFT_HUGE_GROUP")
          .flatMap(k => sys.env.get(k).map(v => s"$k=$v")).mkString(" ") match {
          case "" => "baseline"; case s => s
        }
        println(s"[huge8] variant: $variant rows=$rows what=$what")
        // JIT warmup at 1e6 (untimed)
        graft.tpch.HugeModel.rebuild(spark, 1000000L)
        graft.tpch.HugeModel.drop(1000000L, blocking = true)
        if (what == "build" || what == "both") {
          (1 to passes).foreach { _ =>
            timed("huge8_build") { graft.tpch.HugeModel.rebuild(spark, rows); () }
          }
          graft.tpch.HugeModel.drop(rows, blocking = true)
          System.gc(); Thread.sleep(1500)
        }
        if (what == "zstore" || what == "both") {
          import org.apache.spark.sql.functions.{col, hash, lit, pmod}
          def zframe(n: Long) = spark.range(0, n).select(col("id"),
            pmod(hash(col("id")), lit(1024)).cast("long").as("a"),
            pmod(hash(col("id") * 3), lit(1024)).cast("long").as("b"),
            (col("id") % 97).cast("double").as("value"))
          (1 to passes).foreach { _ =>
            val d = java.nio.file.Files.createTempDirectory("profile_z8").toString
            timed("huge8_pipe_zstore_build") {
              graft.pipeline.Layout.zorderWrite(spark, d, zframe(rows),
                Seq(col("a"), col("b")), bits = 10, numFiles = 64); ()
            }
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
          }
        }
        spark.stop()
      case other =>
        System.err.println(s"unknown Profile mode '$other' — " +
          "use warm|cold|plan|stages|huge8")
    }
  }
}
