package graft

import graft.tpch.HugeModel
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The huge model ONE ORDER UP from the reference's 1e6 benchmark: 1e7 rows,
  * where a local[4] run genuinely multi-waves its tasks and the groupBy
  * shuffle/AQE engage — the paths are the production ones (same build, same
  * closure-join rollup, same batched point-read shape), only the row count
  * moves. Self-verifying like HugeModelSpec: value-1.0 cells ⇒ every
  * aggregate equals its contributing row count.
  *
  * Measured numbers are recorded in ARCHITECTURE §6d.
  */
class HugeScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  test("order-up model: build, cold top cell, slice, dense grid, 10k point batch") {
    // default 1e7 keeps CI fast; SPARK_GRAFT_HUGE_ROWS=100000000 was run
    // once to record the 1e8 numbers in ARCHITECTURE §6d
    val rows = sys.env.getOrElse("SPARK_GRAFT_HUGE_ROWS", "10000000").toLong
    val (cube, tBuild) = time(HugeModel.at(spark, rows))

    // cold full-cube aggregation (caching off — the baseline-comparable read)
    cube.cacheEnabled = false
    val (top, tTop) = time(cube.get(Seq.fill(HugeModel.NDims)("All")))
    cube.cacheEnabled = true
    assert(top.contains(rows.toDouble))

    // one-dim slice equals its filter count (closure join + pushed filter)
    val m5Id = cube.dimensions(0).idOf("m5")
    val expected = cube.facts.filter(col("d0") === m5Id)
      .agg(sum("value")).head.getDouble(0)
    assert(cube.get(Seq("m5") ++ Seq.fill(HugeModel.NDims - 1)("All")).contains(expected))

    // dense grid: all 100 d0 leaves × All^7 in ONE job — cells partition the
    // row space, so the grid total must be exactly `rows`
    val sel = Seq(cube.dimensions(0).leafMembers.map(_.id)) ++
      (1 until HugeModel.NDims).map(i => Seq(cube.dimensions(i).idOf("All")))
    val (gridRow, tGrid) = time(
      cube.gridAggregate(sel).agg(count(lit(1)).as("n"), sum("value").as("total")).head)
    assert(gridRow.getLong(0) == HugeModel.LeavesPerDim.toLong)
    assert(gridRow.getDouble(1) == rows.toDouble)

    // 10k batched point reads in one broadcast-semi-join job. The bench's
    // random addresses nearly never land on occupied cells in a 100^8 space,
    // so here the addresses reuse the BUILD's hash seeds: every address is a
    // real cell, and the semi-join must return exactly one fact row per
    // distinct requested address
    val addrCols = (0 until HugeModel.NDims).map(i =>
      (pmod(xxhash64(col("id"), lit(i)), lit(HugeModel.LeavesPerDim)) + 1)
        .cast("int").as(s"d$i"))
    val addrs = spark.range(10000).select(addrCols: _*)
    val nDistinct = addrs.distinct().count()
    val (nHit, tReads) = time(
      cube.facts.join(broadcast(addrs),
        (0 until HugeModel.NDims).map(i => s"d$i"), "left_semi").count())
    assert(nHit == nDistinct,
      s"expected every requested address to resolve: $nHit of $nDistinct")

    info(f"$rows rows: build=$tBuild%.1fs coldTop=$tTop%.2fs grid100=$tGrid%.2fs " +
      f"pointBatch10k=$tReads%.2fs hits=$nHit")

    // release the large persisted frame so later suites in the shared
    // session don't carry it
    cube.facts.unpersist(blocking = true)
  }

  test("bucketed fact layout: exchange-free fact side THROUGH the cube API") {
    val rows = sys.env.getOrElse("SPARK_GRAFT_HUGE_ROWS", "10000000").toLong
    val cube = HugeModel.at(spark, rows)
    val dimCols = (0 until HugeModel.NDims).map(i => s"d$i")
    // the previous test released the persist; re-pin so the writes below
    // don't each recompute the build
    cube.facts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()

    // the layout knob, now a CUBE MODE: compactToBucketed materializes the
    // facts hash-bucketed + sorted on the full address and swaps them in as
    // the cube's backing frame, so repeated key joins/aggs co-locate without
    // shuffling the fact side — the 100 TB answer to the point-batch spill
    // re-read (§6d: 10.2 s at 1e8 was the persisted frame re-read against a
    // broadcast)
    spark.sql("DROP TABLE IF EXISTS huge_bucketed")
    val tmpPlain = java.nio.file.Files.createTempDirectory("graft_plainfacts").toString
    cube.facts.write.mode("overwrite").parquet(tmpPlain)
    val plain = spark.read.parquet(tmpPlain)
    val bcube = new graft.core.Cube("hugeb", cube.dimensions, spark, Some(cube.facts))
    val (swapped, tWrite) = time(bcube.compactToBucketed("huge_bucketed", 8))
    assert(swapped, "compactToBucketed must land on an uncontended cube")

    // build-seed addresses: every one a real cell (same contract as the
    // point-batch test above)
    val addrCols = (0 until HugeModel.NDims).map(i =>
      (pmod(xxhash64(col("id"), lit(i)), lit(HugeModel.LeavesPerDim)) + 1)
        .cast("int").as(s"d$i"))
    val addrs = spark.range(10000).select(addrCols: _*)
    val nDistinct = addrs.distinct().count()

    // the shuffle-join shape (the 100 TB shape: an address list too big to
    // broadcast), planned by a merge hint on the address side — no session
    // conf flip — and compared across layouts
    try {
      // node lines print as "+- Exchange …" / ":- Exchange …" at any tree
      // depth; ReusedExchange deliberately not counted ("- Reused…")
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "[+:]- Exchange".r
          .findAllIn(df.queryExecution.executedPlan.toString).length

      val plainJoin = plain.join(addrs.hint("merge"), dimCols, "left_semi")
      // the CUBE-API read over the bucketed-backed cube — not a hand join
      val bucketedJoin = bcube.readBatch(addrs, broadcastAddrs = false)
      // plain layout shuffles BOTH sides; bucketed shuffles only the
      // (small) address side — the fact side reads its buckets in place
      assert(exchanges(plainJoin) == 2,
        s"expected 2 exchanges on the plain layout:\n${plainJoin.queryExecution.executedPlan}")
      assert(exchanges(bucketedJoin) == 1,
        s"expected the fact side exchange-free:\n${bucketedJoin.queryExecution.executedPlan}")
      // …and SORT-free: one file per bucket + trusted sortBy order means the
      // merge join streams the buckets as-is (round 7; the fact branch is
      // the SortMergeJoin's first ':-' child — it must not be a Sort)
      val bPlan = bucketedJoin.queryExecution.executedPlan.toString
      val factBranch = bPlan.linesIterator
        .dropWhile(l => !l.contains("SortMergeJoin"))
        .find(_.trim.startsWith(":-"))
      assert(factBranch.exists(!_.contains("Sort")),
        s"expected the fact side sort-free:\n$bPlan")

      val (nPlain, tPlain) = time(plainJoin.count())
      val (nBucketed, tBucketed) = time(bucketedJoin.count())
      assert(nPlain == nDistinct && nBucketed == nDistinct)

      // address-grain aggregation over the bucketed-backed cube: NO exchange
      // at all — the shuffle the compaction pays once, amortized forever after
      val agg = bcube.facts.groupBy(dimCols.map(col): _*).agg(sum("value").as("v"))
      assert(exchanges(agg) == 0,
        s"bucketed address-grain agg must not shuffle:\n${agg.queryExecution.executedPlan}")
      assert(agg.count() == bcube.facts.count())

      // the bucketed backing serves the whole read surface, not just joins:
      // the top cell still aggregates to the row count
      assert(bcube.get(Seq.fill(HugeModel.NDims)("All")).contains(rows.toDouble))

      // a point write degrades gracefully: overlay merges over the bucketed
      // base (exchanges return), reads stay CORRECT
      val probe = addrs.limit(1).head()
      val probeAddr = (0 until HugeModel.NDims).map(i => s"m${probe.getInt(i) - 1}")
      bcube.set(probeAddr, 123.0)
      assert(bcube.readBatch(addrs, broadcastAddrs = false).count() == nDistinct)
      assert(bcube.get(probeAddr).contains(123.0))

      info(f"$rows rows: bucketedCompact=$tWrite%.1fs shuffleSemiJoin " +
        f"plain=$tPlain%.2fs bucketed=$tBucketed%.2fs hits=$nBucketed")
    } finally {
      spark.sql("DROP TABLE IF EXISTS huge_bucketed")
      cube.facts.unpersist(blocking = true)
    }
  }

  // ---- round-9 ask #4: the round-8 window ops at multi-wave scale --------

  // executedPlan, not sparkPlan: exchanges are inserted by EnsureRequirements
  // during preparation — the bare sparkPlan hasn't planned its shuffles yet
  private def exchangeCount(df: org.apache.spark.sql.DataFrame): Int = {
    val p = df.queryExecution.executedPlan.toString
    "(?m)^\\s*(?:[+:]-\\s*)?Exchange".r.findAllIn(p).length
  }

  test("RANGE-frame window at 1e7 events with a hot user holds one shuffle and bounded runtime") {
    import org.apache.spark.sql.expressions.Window
    val n = sys.env.getOrElse("SPARK_GRAFT_HUGE_EVENTS", "10000000").toLong
    // synthetic event stream: ~10k users, but user 0 owns 10% of all events
    // (the skew shape the sf data never produces) — a RANGE frame sorts each
    // user partition, so the hot user is one multi-million-row sort task.
    // FRAME WIDTH is the real scale hazard, not partition size: Spark's
    // sliding frame (SlidingWindowFunctionFrame) RE-AGGREGATES its buffer
    // whenever the lower bound evicts a row — cost is O(rows × frame rows),
    // quadratic when the frame spans the partition (measured here: a frame
    // covering all 1e6 hot-user rows does not finish). Event spacing below
    // keeps the hot user's trailing-hour frame at ~100 rows (36 s apart), so
    // the test proves the BOUNDED-frame contract at 1e7 rows; wide-frame
    // trailing aggregates at 100 TB belong to tumbling pre-aggregation
    // (rel_events_tumbling) + a final RANGE pass over the pre-aggregated
    // grain. Recorded in ARCHITECTURE §6d.
    val ev = spark.range(n).select(
      col("id").as("event_id"),
      when(col("id") % 10 === 0, 0L).otherwise(pmod(xxhash64(col("id")), lit(10000L)))
        .as("user_id"),
      // 36 s of simulated time between successive ids: the hot user (every
      // 10th id) sees one event per 360 s — a trailing hour holds ≤ 11 of
      // its rows; cold users' frames are sparser still
      (lit(1700000000000000L) + (col("id") % 1000000L) * 36000000L).as("ts_us"),
      lit(1L).as("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600L * 1000L * 1000L, Window.currentRow)
    val out = ev.select(col("event_id"), col("user_id"),
      count(lit(1)).over(w).as("n_1h"),
      sum(col("value")).over(w).as("sum_1h"))
    // ONE exchange: the window partitionBy — nothing else may shuffle
    assert(exchangeCount(out) == 1,
      s"RANGE window must shuffle exactly once:\n${out.queryExecution.executedPlan}")
    // value ≡ 1 ⇒ the trailing-hour sum must equal the trailing-hour count
    // on every row — an exact self-check of frame bounds at any scale
    val (bad, t) = time(out.filter(col("n_1h") =!= col("sum_1h")).count())
    assert(bad == 0L)
    assert(t < 300.0, f"RANGE window at $n rows took $t%.1fs — frame is not streaming")
    info(f"$n events (hot user 10%%): rangeWindow=$t%.1fs exchanges=1")
  }

  test("token-bounded shard assignment at 1e7 docs with a dominant stratum: exact offsets, one shuffle") {
    val n = sys.env.getOrElse("SPARK_GRAFT_HUGE_EVENTS", "10000000").toLong
    val cap = 1000000L
    // half the corpus lands in ONE stratum — the exclusive-cumsum window's
    // skew shape (a 5e6-row single-partition sort). The documented remedy
    // for a genuinely unsortable stratum is the composite-stratum
    // pre-bucketing of packSequencesBucketed; this asserts the PLAIN path
    // stays exact and bounded at one order above the gate
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      when(col("id") % 2 === 0, lit("web"))
        .otherwise(concat(lit("s"), pmod(col("id"), lit(50L)))).as("stratum"),
      (lit(100L) + col("id") % 400L).as("tokens"))
    val sharded = graft.pipeline.Curation.assignShards(
      docs, col("doc_id"), col("stratum"), col("tokens"), cap)
    assert(exchangeCount(sharded) == 1,
      s"assignShards must shuffle exactly once:\n${sharded.queryExecution.executedPlan}")
    val (stats, t) = time {
      sharded.groupBy(col("stratum"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens"),
          max(col("n_tokens")).as("max_doc"))
        .agg(
          count(lit(1)).as("n_shards"),
          sum(col("n_docs")).as("n_docs"),
          // never-split contract: a shard overshoots the cap by less than
          // one document — its FIRST token fell inside the cap
          max(col("shard_tokens") - (lit(cap) + col("max_doc"))).as("max_over"),
          // no empty shard ids: every shard got at least one document
          min(col("n_docs")).as("min_docs")).head()
    }
    assert(stats.getLong(1) == n, "every document must land in exactly one shard")
    assert(stats.getLong(2) < 0L, "a shard exceeded cap + one document")
    assert(stats.getLong(3) >= 1L)
    assert(t < 300.0, f"assignShards at $n rows took $t%.1fs")
    // shard ids are dense from 0 per stratum: the count of distinct ids in
    // the dominant stratum equals max(shard_id)+1 — offsets are EXACT, so
    // `div` can't skip a shard
    val web = sharded.filter(col("stratum") === "web")
      .agg(countDistinct(col("shard_id")).as("d"), max(col("shard_id")).as("m")).head()
    assert(web.getLong(0) == web.getLong(1) + 1L, "shard ids must be dense per stratum")
    info(f"$n docs (50%% one stratum): assignShards=$t%.1fs shards=${stats.getLong(0)} exchanges=1")
  }

  // ---- round 9: cross-cube rule grid at multi-wave scale -----------------

  test("cross-cube grid at 1e7 facts: broadcast rate slice, no quadratic shapes, exact") {
    import graft.olap.{RuleDef, RuleExpr, RuleScope, Rules}
    val rows = sys.env.getOrElse("SPARK_GRAFT_HUGE_ROWS", "10000000").toLong
    val cube = HugeModel.at(spark, rows)
    val db = cube.databaseRef.get
    // target cube: one rate per dim0 leaf NAME (driver-bounded, 100 cells —
    // the exrates shape); rate(mK) = K so every converted value is an exact
    // small integer product in double
    val rd = db.addDimension("ratekey")
    rd.edit().addMany((0 until HugeModel.LeavesPerDim).map(k => s"m$k")).commit()
    val rates = db.addCube("hugerates", Seq(rd))
    (0 until HugeModel.LeavesPerDim).foreach(k => rates.set(Seq(s"m$k"), k.toDouble))
    // ruled member on dim7: scaled = m1 × rate[Carry(dim0)]
    db.dimension("dim7").edit().addMany(Seq("scaled")).commit()
    cube.registerRule(RuleDef(Map("dim7" -> "scaled"), RuleScope.AllLevels,
      RuleExpr.Mul(RuleExpr.Ref("m1"),
        RuleExpr.CubeRef("hugerates", Seq(RuleExpr.CubeRefPart.Carry("dim0")))),
      "scale_rule"))
    val sel = Seq(cube.dimensions(0).leafMembers.map(_.id)) ++
      (1 until HugeModel.NDims - 1).map(i => Seq(cube.dimensions(i).idOf("All"))) ++
      Seq(Seq(cube.dimensions(7).idOf("m1"), cube.dimensions(7).idOf("scaled")))
    val m1Id = cube.dimensions(7).idOf("m1")
    val scaledId = cube.dimensions(7).idOf("scaled")
    val expected = cube.facts.filter(col("d7") === m1Id)
      .agg(sum((col("d0") - 1).cast("double") * col("value"))).head.getDouble(0)
    // 200 cells: one grid job, then pivot, rate lookup and stack on the
    // driver — the answer is a local relation
    val small = Rules.ruledGrid(cube, sel)
    assert(small.isLocal, "a grid within the kernel bound finishes on the driver")
    val smallScaled = small.filter(col(s"a${HugeModel.NDims - 1}") === scaledId)
      .agg(sum(col("value")).as("s"), count(lit(1)).as("n")).head
    assert(smallScaled.getLong(1) == HugeModel.LeavesPerDim.toLong)
    assert(smallScaled.getDouble(0) == expected, s"scaled total ${smallScaled.getDouble(0)} != $expected")
    // dims 0-2 at leaf grain: 2e6 cells, past the bound — the DataFrame plan
    val wide = (0 until 3).map(i => cube.dimensions(i).leafMembers.map(_.id)) ++ sel.drop(3)
    val g = Rules.ruledGrid(cube, wide)
    val plan = g.queryExecution.executedPlan.toString
    // the rate slice must arrive as a broadcast HASH join — never a
    // nested-loop/cartesian — and the whole ruled grid stays at the
    // aggregation shuffles (grid agg + pivot re-group); 100 TB of facts
    // would move through the same two exchanges
    assert(plan.contains("BroadcastHashJoin"), s"slice join must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"quadratic shape in the cross-cube grid:\n$plan")
    assert(exchangeCount(g) <= 3,
      s"cross-cube grid must hold to the aggregation shuffles:\n$plan")
    // self-check: scaled total = Σ_leafK m1count(K)·K, independently derived
    // from the fact frame (leaf id = K+1); integer-valued doubles ⇒ exact;
    // one scaled cell per (d0, d1, d2) holding m1 facts
    val (gotRow, t) = time(
      g.filter(col(s"a${HugeModel.NDims - 1}") === scaledId)
        .agg(sum(col("value")).as("s"), count(lit(1)).as("n")).head)
    assert(gotRow.getLong(1) ==
      cube.facts.filter(col("d7") === m1Id).select("d0", "d1", "d2").distinct().count())
    assert(gotRow.getDouble(0) == expected,
      s"scaled total ${gotRow.getDouble(0)} != $expected")
    assert(t < 120.0, f"cross-cube grid at $rows rows took $t%.1fs")
    info(f"$rows facts × 100-cell rate slice: ruledGrid=$t%.1fs exchanges=${exchangeCount(g)}")
  }
}
