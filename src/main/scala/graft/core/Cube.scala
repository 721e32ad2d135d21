package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Resolved cell address: member ids per dimension + super level (sum of
  * member levels — ≙ the reference "bolt", `cube.py:601-627`).
  * `superLevel == 0` ⇒ base cell (stored); `> 0` ⇒ computed rollup.
  */
final case class Bolt(superLevel: Int, ids: Vector[Int])

/** What a cell read can yield (≙ the reference storing ANY object in a cell,
  * `cube.py:325-327`, with only floats aggregating — skip checks
  * `cube.py:468,493` — and rules returning error sentinels, `rules.py:15-20`).
  * Numbers aggregate; text payloads are carried alongside and skipped by
  * every rollup; errors render as their code (`#DIV/0!` …), not blank.
  */
sealed trait CellValue { def render: String }
object CellValue {
  final case class Num(v: Double) extends CellValue { def render: String = v.toString }
  final case class Text(s: String) extends CellValue { def render: String = s }
  final case class Err(code: String) extends CellValue { def render: String = code }
  val DivZero = "#DIV/0!"

  /** Error sentinels travel as strings of the reference's `#…!` shape. */
  def fromPayload(s: String): CellValue =
    if (s.length > 2 && s.startsWith("#") && s.endsWith("!")) Err(s) else Text(s)
}

/** An N-dimensional cube (≙ `cube.py:65`): an ordered list of [[Dimension]]s
  * plus a fact DataFrame with schema `(d0:Int, …, dN-1:Int, value:Double)`
  * holding base-level cells only. Aggregated cells are computed on read as
  * closure-join + weighted sum — the Spark-native replacement for the
  * reference's write-time ancestor inverted index (`cube.py:542-549`):
  * fan-out happens at read time, on executors through broadcast joins, or
  * in one driver pass over the point index once base reads have built it
  * ([[gridAggregate]]), not at write time.
  *
  * Writes land in a driver-side overlay (point upserts/deletes) merged into
  * the fact frame lazily; `compact()` materializes. Any write invalidates the
  * whole result cache (≙ `cube.py:510-511`).
  */
final class Cube(
    val name: String,
    val dimensions: Seq[Dimension],
    val spark: SparkSession,
    initialFacts: Option[DataFrame] = None) {

  require(dimensions.nonEmpty && dimensions.size <= 32, "1..32 dimensions")
  val nDims: Int = dimensions.size
  val dimCols: Vector[String] = Vector.tabulate(nDims)(i => s"d$i")
  // indexed view of `dimensions` for per-dim hot loops (a caller-supplied
  // List would make positional access O(i))
  private val dimAt: Array[Dimension] = dimensions.toArray

  /** Back-reference to the owning database, set by `Database.addCube` —
    * cross-cube rule references ([[graft.olap.RuleExpr.CubeRef]]) resolve
    * the target cube through it. None for a standalone cube (cross-cube
    * refs then raise `#REF!`). */
  @volatile private[graft] var databaseRef: Option[Database] = None

  // register with each dimension so a later dimension edit reaches this cube
  // (commit-time fact purge of removed members + closure refresh)
  dimensions.distinct.foreach(_.registerCube(this))

  private val valueField: StructField =
    initialFacts.map(df => df.schema("value")).getOrElse(StructField("value", DoubleType))
  private def factSchema: StructType =
    StructType(dimCols.map(StructField(_, IntegerType)) :+ valueField)

  private var base: DataFrame =
    initialFacts.getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], factSchema))

  /** Point-write overlay: address → Some(value) upsert | None delete.
    * PERSISTENT (immutable HashMap in a var): every write is O(eC) shared-
    * structure update and a history snapshot is O(1) map sharing — the old
    * mutable map made each undo snapshot copy the whole overlay, turning a
    * k-write session into O(k²) copying (measured on huge_writes_10k). */
  private var overlay = scala.collection.immutable.HashMap[Vector[Int], Option[Double]]()
  /** Non-float cell payloads (≙ arbitrary-object cells, `cube.py:325-327`):
    * driver-side — payload cells are human-entered annotations/tags, sparse
    * by construction; they never enter the aggregation plan (the skip checks
    * `cube.py:468,493` hold by absence).
    */
  private var payloads = scala.collection.immutable.HashMap[Vector[Int], String]()

  /** Concurrency contract (ARCHITECTURE §2): the reference is single-threaded
    * by design; this engine hands out lazily-evaluated frames, and streaming
    * ingest (`Streaming.ingestInto`'s foreachBatch) mutates a cube from the
    * stream execution thread while interactive readers may be active. All
    * driver-side mutable state (base/overlay/payloads) is therefore guarded
    * by one per-cube lock: mutations are atomic, and every read path takes a
    * consistent snapshot under the lock, then runs its Spark job lock-free
    * (frames are immutable). Read-modify-write merges (streaming batches)
    * are atomic per batch; an interactive write racing a stream batch may be
    * superseded by the batch's merge — last-writer-wins at batch granularity,
    * never a torn state.
    */
  private val stateLock = new Object
  /** Bumped on every logical-state mutation; result-cache entries are keyed
    * by the version they were computed against, so a reader racing a write
    * can never install a stale entry that outlives the write (it lands under
    * the superseded version and is never read again).
    */
  @volatile private var stateVersion: Long = 0L
  private val cache = new Cube.ResultCache[(Long, Seq[Long], Vector[Int]), Option[Double]]

  private[graft] def currentStateVersion: Long = stateVersion

  /** Bounded log of point-written base addresses per state version — what a
    * PARTIAL summary refresh ([[graft.olap.Aggregates]]) consumes: "which
    * base cells changed since version v" so only the covering grain cells
    * are recomputed instead of re-paying the full base scan. Bulk rewrites
    * (replace/merge/restore/dimension-purge) and rule-set changes make the
    * question unanswerable-by-address and reset the log baseline; so does
    * overflow past [[writeLogCap]] (a workload that point-writes 100k+
    * cells between refreshes should rebuild anyway). All under
    * [[stateLock]] like every other driver-side mutable.
    */
  private val writeLog = mutable.ArrayBuffer[(Long, Vector[Int])]()
  private var writeLogBase: Long = 0L
  private val writeLogCap: Int = 100000
  private def logPoint(ids: Vector[Int]): Unit =
    if (writeLog.size >= writeLogCap) { writeLog.clear(); writeLogBase = stateVersion }
    else writeLog += ((stateVersion, ids))
  private def logBulk(): Unit = { writeLog.clear(); writeLogBase = stateVersion }

  /** Distinct base addresses point-written in versions (v, current]; None
    * when a bulk rewrite / rule change / log overflow happened after `v`
    * (callers must fall back to a full rebuild). */
  private[graft] def pointWritesSince(v: Long): Option[Vector[Vector[Int]]] =
    stateLock.synchronized {
      if (v < writeLogBase) None
      else Some(writeLog.iterator.collect { case (ver, ids) if ver > v => ids }
        .toVector.distinct)
    }

  /** Install precomputed cell values/tombstones directly into the overlay —
    * the partial-summary-refresh fast path ([[graft.olap.Aggregates]]):
    * a bounded set of GRAIN cells lands as driver-side upserts instead of
    * rewriting (and re-checkpointing) the whole summary frame. Bypasses
    * ON_ENTRY hooks and history deliberately: these are derived aggregation
    * results, not user writes. Logged as bulk (the addresses are
    * grain-space, not this cube's write-source space). */
  private[graft] def putOverlay(entries: Seq[(Vector[Int], Option[Double])]): Unit =
    stateLock.synchronized {
      overlay = overlay ++ entries
      payloads = payloads -- entries.iterator.map(_._1)
      stateVersion += 1; logBulk(); cache.clear()
    }

  /** stateVersions of every cube referenced by a registered CubeRef rule —
    * part of the result-cache key, so mutating a REFERENCED cube (e.g.
    * updating an exrates rate) invalidates dependent cached cells HERE even
    * though this cube's own stateVersion did not move (r8 advice: the key
    * previously carried only the source version, leaving stale
    * currency-converted values until the source itself mutated). Empty —
    * and free — when no rule uses CubeRef.
    */
  private def refCubeVersions: Seq[Long] = {
    // target names are precomputed on rule change ([[refTargetNames]]) —
    // this sits in the result-cache KEY, i.e. on every cached read; the
    // VERSIONS must still be read live (that is the invalidation)
    val names = refTargetNames
    if (names.isEmpty) Nil
    else names.map { n =>
      databaseRef.flatMap(db => scala.util.Try(db.cube(n)).toOption)
        .map(_.currentStateVersion).getOrElse(-1L)
    }
  }

  /** Result-cache switch + bound (≙ the database-level caching switch,
    * `database.py:196-237`; the reference's per-cube dict is unbounded —
    * ours evicts wholesale past `cacheMaxEntries`, keeping the driver's
    * footprint flat under adversarial scan patterns).
    */
  @volatile var cacheEnabled: Boolean = true
  @volatile var cacheMaxEntries: Int = 100000
  /** Registered rules as a volatile immutable snapshot: writers replace the
    * whole vector under [[stateLock]]; readers take the reference lock-free
    * (a racing reader sees either the old or the new complete set, never a
    * torn one). The earlier lock-and-copy form put a synchronized Vector
    * copy on EVERY point read/write — this is the same safety without the
    * per-op cost.
    */
  @volatile private var rulesVec = Vector.empty[graft.olap.RuleDef]
  /** CubeRef target names across the registered rule set — recomputed on
    * rule change, never per read. */
  @volatile private var refTargetNames: Seq[String] = Nil
  private def recomputeRefTargets(): Unit =
    refTargetNames = rulesVec.iterator
      .flatMap(r => graft.olap.Rules.cubeRefTargets(r.expr))
      .map(_.toLowerCase(java.util.Locale.ROOT)).distinct.toSeq.sorted
  private[graft] def rules: Vector[graft.olap.RuleDef] = rulesVec

  /** Read-path counters (≙ `cube.py:183-207`): requests, rule evaluations,
    * aggregated cell reads, cache hits, weighted aggregations (rollups whose
    * plan carried a non-unit closure weight factor, ≙ `cube.py:198`), and
    * grids — scalar rollups included — that the driver kernel served
    * instead of a Spark job ([[gridAggregate]]). Driver-side observability
    * only.
    */
  private val counters = new java.util.concurrent.atomic.AtomicLongArray(7)
  private def bump(i: Int): Unit = { counters.incrementAndGet(i); () }
  def counterCellRequests: Long = counters.get(0)
  def counterRuleRequests: Long = counters.get(1)
  def counterAggregations: Long = counters.get(2)
  def counterCacheHits: Long = counters.get(3)
  def counterWeightedAggregations: Long = counters.get(4)
  def counterDriverAggregations: Long = counters.get(5)
  /** Index rows the driver kernel visited, over every grid it ran: its
    * candidate rows, not the whole index. */
  private[graft] def counterKernelRowsVisited: Long = counters.get(6)
  def resetCounters(): Unit = (0 until counters.length).foreach(counters.set(_, 0L))

  private var historyOpt: Option[History] = None
  /** Per-cell comments (≙ `comments.py`); keyed by idx address. */
  val comments = new CellComments

  /** Turn on the undo/redo command log (SURVEY §2.12). */
  def enableHistory(): History = {
    val h = historyOpt.getOrElse(new History(this))
    historyOpt = Some(h); h
  }
  /** Whether undo/time-travel history is recording ([[enableHistory]]) —
    * callers that change GC behavior on it (z-store appends skip the
    * keep-2 auto-vacuum: undo can restore frames pinning arbitrarily old
    * file lists) can warn loudly instead of accumulating silently. */
  def historyEnabled: Boolean = historyOpt.isDefined

  def history: History = historyOpt.getOrElse(
    throw new IllegalStateException(s"history not enabled on cube '$name' — call enableHistory()"))

  private[core] def snapshotState(): Cube.State = stateLock.synchronized {
    Cube.State(base, overlay, payloads) // O(1): persistent maps share
  }
  private[core] def restoreState(s: Cube.State): Unit = stateLock.synchronized {
    base = s.base
    overlay = s.overlay
    payloads = s.payloads
    stateVersion += 1
    logBulk()
    cache.clear()
  }
  // label is by-name: the interpolated address string is only built when
  // history is actually enabled (it sits on the per-write hot path)
  private def recordHistory(label: => String): Unit = historyOpt.foreach(_.record(label))

  // ---- closure tables (broadcast dimension metadata) ----------------------

  private val closureDfs = mutable.Map[Int, DataFrame]()

  /** (anc, leaf, weight) DataFrame for dimension `i`; driver-built, small,
    * always used under `broadcast()`.
    */
  def closureDf(i: Int): DataFrame = stateLock.synchronized { closureDfs.getOrElseUpdate(i, {
    require(!dimensions(i).isDegenerate,
      s"dimension '${dimensions(i).name}' is degenerate — it has no closure; " +
        "grid/rollup paths must skip the join (this is a bug if reached)")
    val rows = dimensions(i).closureRows.map(r => Row(r.anc, r.leaf, r.weight))
    val schema = StructType(Seq(
      StructField("anc", IntegerType), StructField("leaf", IntegerType),
      StructField("weight", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toList, 1), schema)
  }) }

  private def namesDf(members: Seq[MemberDef]): DataFrame = {
    val rows = members.map(m => Row(m.id, m.name))
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("mname", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toList, 1), schema)
  }

  /** (id, name) DataFrame for dimension `i` — for record enumeration. */
  def memberNamesDf(i: Int): DataFrame = namesDf(dimensions(i).members)

  /** (id, name) DataFrame of LEAF members only. Bulk import resolves names
    * against this (mirroring `set`'s leaf-only gate): a record addressed at
    * an aggregate name must NOT land at the aggregate id — the identity-
    * rollup elision reads raw fact ids, so such a row would be invisible to
    * leaf reads yet double-counted in top-cell reads.
    */
  def leafNamesDf(i: Int): DataFrame = namesDf(dimensions(i).leafMembers)

  def refreshClosures(): Unit = stateLock.synchronized {
    closureDfs.clear(); stateVersion += 1; logBulk(); cache.clear()
  }

  /** Dimensions whose closure weights are ALL 1.0 contribute no weight factor
    * to rollups (≙ the reference keeping only non-default weights,
    * `dimension.py:782-827`) — keeps the aggregation expression minimal.
    */
  private lazy val unitWeightDim: IndexedSeq[Boolean] =
    dimensions.map(_.closureRows.forall(_.weight == 1.0)).toIndexedSeq

  private def decimalValues: Boolean = valueField.dataType.isInstanceOf[DecimalType]

  /** Weight column for a joined closure; cast to decimal when the fact value
    * is decimal so weighted sums stay EXACT (order-independent).
    */
  private[graft] def weightExpr: Column =
    if (decimalValues) col("weight").cast(DecimalType(DriverGrid.WeightPrecision, DriverGrid.WeightScale))
    else col("weight")

  private[graft] def needsWeight(i: Int): Boolean = !unitWeightDim(i)

  // ---- address resolution -------------------------------------------------

  /** Names → bolt (≙ `_address_to_bolt`, `cube.py:601-627`). Hot path for
    * every point read/write: one pass, no intermediate collections.
    */
  def bolt(address: Seq[String]): Bolt = {
    require(address.length == nDims,
      s"address has ${address.length} parts, cube '$name' has $nDims dimensions")
    val ids = new Array[Int](nDims)
    var superLevel = 0
    var i = 0
    val it = address.iterator
    while (it.hasNext) {
      val d = dimAt(i)
      val id = d.idOf(it.next())
      ids(i) = id
      superLevel += d.levelOf(id)
      i += 1
    }
    Bolt(superLevel, ids.toVector)
  }

  // ---- fact frame ---------------------------------------------------------

  /** The merged fact frame (base + overlay, overlay wins) — a consistent
    * snapshot taken under the state lock; the returned frame is immutable,
    * so jobs planned from it run lock-free.
    */
  def facts: DataFrame = stateLock.synchronized(factsOf(base, overlay))

  private def factsOf(base: DataFrame,
      overlay: scala.collection.immutable.HashMap[Vector[Int], Option[Double]]): DataFrame =
    if (overlay.isEmpty) base
    else {
      val rows = overlay.toSeq.map { case (ids, v) =>
        Row.fromSeq(ids.map(Int.box) :+ v.map(Double.box).orNull)
      }
      val schema = StructType(dimCols.map(StructField(_, IntegerType)) :+
        StructField("value", DoubleType))
      val delta = spark.createDataFrame(spark.sparkContext.parallelize(rows.toList, 1), schema)
      val deltaCast =
        if (valueField.dataType == DoubleType) delta
        else delta.withColumn("value", col("value").cast(valueField.dataType))
      base.join(broadcast(deltaCast.select(dimCols.map(col): _*)), dimCols, "left_anti")
        .unionByName(deltaCast.filter(col("value").isNotNull))
    }

  /** RAW bulk swap of the fact frame — a hook-BYPASSING primitive, on
    * purpose: every in-package caller (Area transforms/copies/enumeration,
    * importNamed, streaming ingest) pre-applies the ON_ENTRY hook to the
    * frame it passes in (`Rules.onEntryBulk` — the values are already
    * post-hook when they land here), and applying it again would
    * double-transform. Callers introducing a NEW bulk write path must route
    * values through the hook themselves, or the documented every-write-
    * passes-the-hook contract (≙ `cube.py:527-537`) breaks.
    */
  private[graft] def replaceFacts(df: DataFrame): Unit = stateLock.synchronized {
    base = df.select(factSchema.fieldNames.map(col).toIndexedSeq: _*)
    overlay = overlay.empty; stateVersion += 1; logBulk(); cache.clear()
    recordHistory("bulk")
  }

  /** Dimension-commit callback (see `Dimension.commit`): drop every fact,
    * overlay entry, and payload addressing a member this edit removed, then
    * refresh the broadcast closures. Runs synchronously inside commit() so
    * aggregates never transit a state where the new hierarchy reads old
    * orphan facts (the identity-rollup elision scans raw ids).
    */
  private[core] def onDimensionCommitted(d: Dimension, removedIds: Seq[Int]): Unit = {
    val idxs = dimensions.zipWithIndex.collect { case (dd, i) if dd eq d => i }
    if (idxs.nonEmpty && removedIds.nonEmpty) stateLock.synchronized {
      val rm = removedIds.toSet
      val pred = idxs.map(i => !col(s"d$i").isin(removedIds: _*)).reduce(_ && _)
      base = base.filter(pred)
      overlay = overlay.filter { case (k, _) => !idxs.exists(i => rm(k(i))) }
      payloads = payloads.filter { case (k, _) => !idxs.exists(i => rm(k(i))) }
      stateVersion += 1
      logBulk()
      cache.clear()
      recordHistory(s"purge removed members of ${d.name}")
    }
    if (idxs.nonEmpty) refreshClosures() // hierarchy changed on ANY commit
  }

  /** Consistent (merged facts, overlay entries) pair for a read-modify-write
    * bulk merge whose job runs OUTSIDE the lock (streaming batches). The
    * overlay snapshot records exactly which point writes the merge
    * incorporates.
    */
  private[graft] def bulkMergeSnapshot(): (DataFrame, Vector[(Vector[Int], Option[Double])]) =
    stateLock.synchronized((facts, overlay.toVector))

  /** Swap in a frame built from a [[bulkMergeSnapshot]], dropping ONLY the
    * overlay entries that snapshot incorporated: an interactive write that
    * landed while the merge job ran (new key, or changed value) survives in
    * the overlay and wins over the batch's older data for its cell —
    * a plain replaceFacts here would erase it wholesale.
    *
    * Payload (text) cells are NOT consulted or cleared here: enumerating a
    * bulk batch's addresses driver-side would defeat the scale shape, so an
    * annotation payload survives a bulk merge that also lands a number at
    * its address (getCell keeps answering the text; the number aggregates).
    * Interactive writes (`set`) and area commands replace payloads per the
    * one-value-per-cell rule; machine bulk loads leave human annotations
    * alone by design.
    */
  private[graft] def commitBulkMerge(df: DataFrame,
      incorporated: Vector[(Vector[Int], Option[Double])]): Unit =
    stateLock.synchronized {
      base = df.select(factSchema.fieldNames.map(col).toIndexedSeq: _*)
      val inc = incorporated.toMap
      overlay = overlay.filter { case (k, v) => !inc.get(k).contains(v) }
      stateVersion += 1; logBulk(); cache.clear()
      recordHistory("bulk")
    }

  /** Materialize merged facts (persist + cut lineage), dropping the overlay
    * entries the materialization incorporated. Same snapshot/merge-outside/
    * commit shape as [[bulkMergeSnapshot]]/[[commitBulkMerge]]: the
    * materializing count runs OUTSIDE the state lock so readers and writers
    * (including streaming ingest) stay live for the job's duration. A POINT
    * write that lands mid-materialization survives in the overlay and wins
    * over the compacted base; a BULK write (streaming batch commit, area
    * transform) replaces `base` itself, so the swap is abandoned rather
    * than silently reverting it — compact() is an optimization, re-call it.
    * Logical content is unchanged by a successful swap, so the result-cache
    * version does not move.
    *
    * @return true iff the swap landed; false means a concurrent bulk write
    *         superseded the materialization — observable, so callers (e.g. a
    *         streaming compaction policy) can retry instead of guessing
    */
  def compact(): Boolean = compactImpl(() => ())

  /** The ONE snapshot → materialize → swap/abort contract behind all three
    * compactions (in-memory, bucketed table, partitioned table): a BULK
    * write (commitBulkMerge / replaceFacts) that lands while the
    * materialization runs replaced `base` with data the materialization
    * never saw — swapping over it would silently revert that write, so the
    * swap is abandoned (the caller retries). Point writes are fine: they
    * live in the overlay, and only the entries this materialization
    * INCORPORATED are dropped from it on a successful swap.
    */
  private def swapCompacted(label: String, midMaterialize: () => Unit,
      materialize: DataFrame => DataFrame,
      onAbort: DataFrame => Unit): Boolean = {
    // guards every compactTo* face: compacting a snapshot would rewrite a
    // layout for the as-of SUBSET under a live-looking name — the same
    // silent-divergence class the cell-write guard rejects
    rejectSnapshotWrite(label)
    val (base0, merged, incorporated) =
      stateLock.synchronized((base, facts, overlay.toVector))
    val newBase = materialize(
      merged.select(factSchema.fieldNames.map(col).toIndexedSeq: _*))
    midMaterialize()
    val swapped = stateLock.synchronized {
      if (base eq base0) {
        base = newBase
        val inc = incorporated.toMap
        overlay = overlay.filter { case (k, v) => !inc.get(k).contains(v) }
        true
      } else false
    }
    if (!swapped) {
      onAbort(newBase)
      System.err.println(s"[graft] cube '$name': $label skipped — a bulk " +
        s"write landed mid-materialization; call it again")
    }
    swapped
  }

  /** Test seam: `midMaterialize` runs after the materializing count and
    * before the swap attempt — the window a concurrent write can land in.
    */
  private[graft] def compactImpl(midMaterialize: () => Unit): Boolean =
    swapCompacted("compact()", midMaterialize,
      materialize = { df =>
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      },
      onAbort = _.unpersist(blocking = false))

  /** Compact the merged facts into a hash-bucketed, address-sorted catalog
    * TABLE and make it this cube's backing frame: every later batch read
    * that joins or aggregates on the full address — [[readBatch]] with
    * broadcast off, address-grain `gridAggregate` at base grain — plans
    * with NO Exchange on the fact side (the bucketing metadata satisfies
    * the join's required distribution). This is the 100 TB point-batch
    * shape: the one-time layout shuffle here is amortized over every
    * subsequent keyed read, and it survives address lists too big to
    * broadcast (ARCHITECTURE §6d: 65 s plain-shuffle → 9.4 s bucketed at
    * 1e8 rows).
    *
    * Point writes after this land in the overlay as usual; the merged plan
    * degrades to anti-join+union (exchanges return) until the next
    * compaction. Re-compacting must target a FRESH table name — Spark
    * cannot overwrite a table the current base frame still reads.
    *
    * Same abort contract as [[compact]]: a concurrent bulk write
    * supersedes the swap (returns false; the written table is left behind).
    */
  def compactToBucketed(table: String, nBuckets: Int = 8): Boolean =
    swapCompacted(s"compactToBucketed('$table')", () => (),
      materialize = { df =>
        // ONE file per bucket (repartition on the bucket hash before
        // writing): with multiple files per bucket Spark cannot trust the
        // sortBy order and re-SORTS the whole fact side on every merge
        // join — measured 1.8× on the 10k point batch at 1e7 rows once the
        // sort disappears. The ordering is only consumed when this session
        // conf is on (Spark keeps it off by default to let multi-file
        // buckets split into more tasks; with one file per bucket there is
        // nothing to split, and full scans that don't exploit bucketing
        // fall back to normal splits via autoBucketedScan) — a
        // bucketed-backed cube is exactly the opt-in.
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        df.repartition(nBuckets, dimCols.map(col): _*)
          .write.mode("overwrite")
          .bucketBy(nBuckets, dimCols.head, dimCols.tail: _*)
          .sortBy(dimCols.head, dimCols.tail: _*)
          .format("parquet")
          .saveAsTable(table)
        spark.table(table)
      },
      onAbort = _ => ()) // the written table is left behind

  /** Compact to a PARTITIONED parquet table on the given dimensions' id
    * columns — the calendar-slice layout, complementing
    * [[compactToBucketed]] (which co-locates JOINS): a grid/rollup whose
    * selection pins or lists members of a partition dimension reads ONLY
    * the matching partitions (`PartitionFilters` at the scan — a
    * time-sliced query over a 100 TB fact table reads the week it asked
    * for, not the decade). Partition dims must be catalog dims of modest
    * cardinality at the fact grain (a day/month/nation id — one directory
    * per value; degenerate keys are rejected). Spark appends partition
    * columns last on read, so the swapped-in base is re-projected to the
    * canonical column order (positional unions in the merge paths depend
    * on it). Same swap/abort contract as [[compact]].
    */
  def compactToPartitioned(table: String, partitionDims: Seq[Int]): Boolean = {
    require(partitionDims.nonEmpty && partitionDims.forall(i => i >= 0 && i < nDims),
      s"compactToPartitioned: dimension indices out of range in $partitionDims")
    partitionDims.foreach(i => require(!dimensions(i).isDegenerate,
      s"dimension '${dimensions(i).name}' is degenerate — partitioning " +
        "would create one directory per raw key; partition on a catalog dim"))
    val pCols = partitionDims.map(i => s"d$i")
    swapCompacted(s"compactToPartitioned('$table')", () => (),
      materialize = { df =>
        df.write.mode("overwrite")
          .partitionBy(pCols: _*)
          .format("parquet")
          .saveAsTable(table)
        // partition columns come back LAST on read — re-project to the
        // canonical order (positional unions in merge paths depend on it)
        spark.table(table).select(factSchema.fieldNames.map(col).toIndexedSeq: _*)
      },
      onAbort = _ => ()) // the written table is left behind
  }

  /** Compact to a Z-ORDERED parquet table: facts range-partitioned and
    * sorted by the Morton interleave ([[graft.pipeline.Layout.zValue]]) of
    * the chosen dimensions' id columns, so parquet row-group min/max stats
    * prune slice reads on EVERY interleaved dimension — the multi-dim
    * complement of [[compactToPartitioned]] (directory pruning on ONE
    * axis) for cubes sliced along several axes with no single dominant
    * one. Bit width is sized from the widest chosen dimension's max
    * member id; `zDims.size * bits` must fit a long, which caps the
    * interleave at a handful of CATALOG dims (pick the 2–4 the workload
    * actually slices by — more dims dilute per-dim locality anyway).
    * Same swap discipline as the other compactions: aborts cleanly if a
    * bulk write lands mid-materialization.
    */
  def compactToZordered(table: String, zDims: Seq[Int], files: Int = 64): Boolean = {
    require(zDims.size >= 2 && zDims.distinct.size == zDims.size &&
        zDims.forall(i => i >= 0 && i < nDims),
      s"compactToZordered: need >= 2 distinct in-range dims, got $zDims")
    zDims.foreach(i => require(!dimensions(i).isDegenerate,
      s"dimension '${dimensions(i).name}' is degenerate — interleave catalog dims"))
    val bits = zDims.map { i =>
      val maxId = math.max(dimensions(i).members.map(_.id).max, 1)
      64 - java.lang.Long.numberOfLeadingZeros(maxId.toLong)
    }.max.toInt
    require(bits * zDims.size <= 63,
      s"interleave of ${zDims.size} dims at $bits bits exceeds a long; interleave fewer dims")
    swapCompacted(s"compactToZordered('$table')", () => (),
      materialize = { df =>
        graft.pipeline.Layout.zorderLayout(df,
            zDims.map(i => col(s"d$i")), bits, files)
          .drop("__z")
          .write.mode("overwrite").format("parquet")
          .saveAsTable(table)
        spark.table(table).select(factSchema.fieldNames.map(col).toIndexedSeq: _*)
      },
      onAbort = _ => ()) // the written table is left behind
  }

  /** Incremental z-ordered store backing (set by [[compactToZorderedStore]],
    * consumed by [[appendZorderedStore]]): `(manifest dir, zDims, bits,
    * parquet options — carries modular-encryption key material when the
    * store is encrypted at rest)`. */
  private var zStoreState: Option[(String, Seq[Int], Int, Map[String, String])] = None

  /** The exact base frame the z-store contents reflect. Any OTHER swap —
    * [[compact]], [[compactToBucketed]]/[[compactToPartitioned]]/
    * [[compactToZordered]], a bulk merge — replaces `base` and makes the
    * on-disk store STALE (e.g. a compact() folds overlay point-writes into
    * base and drops them from the overlay; appending against the store
    * afterwards would swap those writes away silently). Verified by
    * reference in [[appendZorderedStore]] so a superseded store fails
    * loudly instead (r13 advice, medium). */
  private var zStoreBase: DataFrame = null

  /** [[compactToZordered]] through the INCREMENTAL manifest store
    * ([[graft.pipeline.Layout.zorderWrite]]): the cube's backing becomes
    * the manifest-driven file set, so later bulk appends
    * ([[appendZorderedStore]]) re-cluster ONLY the files whose z-range the
    * batch touches instead of rewriting the table — the maintenance shape
    * a streaming-fed z-ordered cube needs at 100 TB. Same validation and
    * swap/abort contract as [[compactToZordered]].
    */
  def compactToZorderedStore(dir: String, zDims: Seq[Int],
      files: Int = 64,
      encryption: Option[(Map[String, String], Map[String, String])] = None): Boolean = {
    require(zDims.size >= 2 && zDims.distinct.size == zDims.size &&
        zDims.forall(i => i >= 0 && i < nDims),
      s"compactToZorderedStore: need >= 2 distinct in-range dims, got $zDims")
    zDims.foreach(i => require(!dimensions(i).isDegenerate,
      s"dimension '${dimensions(i).name}' is degenerate — interleave catalog dims"))
    val bits = zDims.map { i =>
      val maxId = math.max(dimensions(i).members.map(_.id).max, 1)
      64 - java.lang.Long.numberOfLeadingZeros(maxId.toLong)
    }.max.toInt
    require(bits * zDims.size <= 63,
      s"interleave of ${zDims.size} dims at $bits bits exceeds a long; interleave fewer dims")
    val zCols = zDims.map(i => col(s"d$i"))
    val (wOpts, rOpts) = encryption.getOrElse(
      (Map.empty[String, String], Map.empty[String, String]))
    var built: DataFrame = null
    val ok = swapCompacted(s"compactToZorderedStore('$dir')", () => (),
      materialize = { df =>
        graft.pipeline.Layout.zorderWrite(spark, dir, df, zCols, bits, files,
          pqOptions = wOpts)
        built = graft.pipeline.Layout.zorderRead(spark, dir, pqOptions = rOpts)
          .select(factSchema.fieldNames.map(col).toIndexedSeq: _*)
        built
      },
      onAbort = _ => ())
    if (ok) stateLock.synchronized {
      // the WRITE options serve both faces of later appends (read-side
      // ignores the writer-only uniform-key property)
      zStoreState = Some((dir, zDims, bits, wOpts)); zStoreBase = built
    }
    ok
  }

  /** Bulk-append a resolved cell frame `(d0…dN-1, value)` through the
    * incremental z-store: values pass the ON_ENTRY hook (the bulk-write
    * contract), the batch lands last-write-wins on its addresses (the
    * [[graft.streaming.Streaming.ingestInto]] merge semantics — replaced
    * rows live in overlapping-z files BY CONSTRUCTION, so the rewrite set
    * already contains them), only touched-range files re-cluster, and the
    * cube swaps to the grown manifest read. Point writes that land while
    * the append's jobs run survive in the overlay and keep winning; a
    * CONCURRENT BULK write is refused loudly (the store already holds the
    * batch — re-run [[compactToZorderedStore]] to re-sync) — bulk appends
    * are single-writer, the intake-pipeline shape.
    */
  def appendZorderedStore(batch: DataFrame,
      assumeUniqueAddresses: Boolean = false): graft.pipeline.Layout.ZAppendStats = {
    // an append commits a NEW generation — the one mutation that would
    // rewrite history from a historical vantage point
    rejectSnapshotWrite("appendZorderedStore")
    val (dir, zDims, bits, pqOpts, facts0) = stateLock.synchronized[(String, Seq[Int], Int, Map[String, String], DataFrame)] {
      val (d, z, b, o) = zStoreState.getOrElse(throw new IllegalStateException(
        "appendZorderedStore needs a prior compactToZorderedStore"))
      // the store must reflect the CURRENT base: any other compaction or
      // bulk merge since compactToZorderedStore superseded the on-disk
      // contents (e.g. compact() folded overlay writes into base — swapping
      // back to the stale store would silently lose them)
      if (!(base eq zStoreBase)) throw new IllegalStateException(
        s"cube '$name': the z-store at $d was superseded by another " +
          "compaction or bulk write since compactToZorderedStore — appending " +
          "would silently revert that change; re-run compactToZorderedStore")
      (d, z, b, o, facts)
    }
    // one row per address: a batch naming the same address twice would
    // UNION both rows into the store and later reads would sum them
    // (r13 advice, low); which duplicate survives is arbitrary — callers
    // wanting an ordering must pre-aggregate. `assumeUniqueAddresses`
    // skips the dedup SHUFFLE for callers that just aggregated on exactly
    // these keys (ingestIntoZStore's per-trigger groupBy) — re-shuffling
    // their micro-batch every trigger would be pure overhead.
    val unique = batch.select(factSchema.fieldNames.map(col).toIndexedSeq: _*)
      .withColumn("value", col("value").cast(factSchema("value").dataType))
    val entry = graft.olap.Rules.applyOnEntryBulk(this,
      if (assumeUniqueAddresses) unique else unique.dropDuplicates(dimCols),
      Some(facts0))
    val st = graft.pipeline.Layout.zorderAppend(spark, dir, entry,
      zDims.map(i => col(s"d$i")), bits, replaceOn = dimCols,
      pqOptions = pqOpts)
    val newBase = graft.pipeline.Layout.zorderRead(spark, dir, pqOptions = pqOpts)
      .select(factSchema.fieldNames.map(col).toIndexedSeq: _*)
    stateLock.synchronized {
      if (!(base eq zStoreBase)) throw new IllegalStateException(
        s"cube '$name': a concurrent bulk write landed during " +
          "appendZorderedStore — the store holds the batch but the swap is " +
          "refused; re-run compactToZorderedStore to re-sync")
      base = newBase; zStoreBase = newBase
      // overlay entries were NOT incorporated (the append merges files,
      // not the overlay) — they stay and keep winning over the new base
      stateVersion += 1; logBulk(); cache.clear()
      recordHistory("zstore append")
    }
    // deferred GC with a ONE-APPEND grace: files this append killed stay on
    // disk (a reader pinned on the just-replaced base still lists them);
    // files dead since before this append — which no frame newer than TWO
    // swaps ago references — are reclaimed (r13 advice, medium: immediate
    // deletion raced pinned readers into FileNotFoundException). With
    // HISTORY enabled, no auto-GC at all: undo/goTo restore base frames
    // whose plans list ARBITRARILY old file sets — reclaiming is the
    // owner's explicit call (Layout.zorderVacuum) once the log is dropped.
    if (historyOpt.isEmpty)
      graft.pipeline.Layout.zorderVacuum(spark, dir, keepGenerations = 2)
    st
  }

  // ---- z-store TIME TRAVEL (round 16) --------------------------------
  // The incremental store's immutable manifest commits leave a generation
  // history behind; these expose it on the CUBE face so a snapshot rollup
  // never needs to drop to the raw Layout API. Two DISTINCT time axes
  // coexist (document both to users): the OVERLAY history ([[history]]/
  // undo — per-point-write, driver-side, ≙ the reference's
  // `history.py:298-417` time travel) versus the STORE's commit
  // generations (per bulk append, on-disk). A store snapshot reflects the
  // bulk-landed facts as of that commit ONLY — overlay point writes are
  // not part of any store generation until a compaction folds them in.

  private def zStoreDirOpts: (String, Map[String, String]) =
    stateLock.synchronized {
      val (d, _, _, o) = zStoreState.getOrElse(throw new IllegalStateException(
        s"cube '$name' has no incremental z-store backing — " +
          "compactToZorderedStore first"))
      (d, o)
    }

  /** The z-store backing's LIVE commit generation (bumped by
    * [[compactToZorderedStore]] and every [[appendZorderedStore]]).
    */
  def zStoreGeneration: Long = {
    val (dir, _) = zStoreDirOpts
    graft.pipeline.Layout.zorderGeneration(spark, dir)
  }

  /** The cube's bulk-landed fact frame AS OF store generation
    * `generation` — a plan over the newest retained manifest at or below
    * it ([[graft.pipeline.Layout.zorderManifestAsOf]]). Snapshots reach
    * exactly as far as the vacuum's `keepGenerations` retention window;
    * a reclaimed generation fails loudly at manifest selection, never
    * mid-scan. Encrypted stores decrypt through the same key material the
    * live reads use.
    */
  def readZStoreAsOf(generation: Long): DataFrame = {
    val (dir, pqOpts) = zStoreDirOpts
    graft.pipeline.Layout.zorderRead(spark, dir, pqOptions = pqOpts,
      asOfGeneration = Some(generation))
      .select(factSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** A read-only snapshot CUBE over [[readZStoreAsOf]] — same dimensions,
    * so every read face (rollup, [[gridAggregate]], views, the query
    * dialect) accepts it unchanged: "what did the Q3 rollup say before
    * yesterday's load" is `snapshotAtGeneration(g).gridAggregate(...)`.
    * The snapshot starts with an EMPTY overlay by construction (store
    * generations carry bulk-landed facts only; see the axis note above).
    * Snapshots are READ-ONLY (round 17): a write would land in a
    * throwaway overlay the store and the live cube never see — a user
    * "correcting history" must be told, not silently ignored, so
    * `set`/`delete`/`setPayload`/rule mutation reject with a pointed
    * message (the reference's history time travel is read-only in effect
    * too, `history.py:298-417`). Round 18 extends the guard to the
    * remaining state-mutation faces: `clear` (drops all cells), every
    * `compactTo*` (would rewrite a layout for the as-of subset under a
    * live-looking name) and `appendZorderedStore` (would commit a new
    * generation from a historical vantage point). `views.define` stays
    * EXEMPT deliberately: a view is a query definition over the read
    * surface, not cell/store state — defining one on a snapshot is the
    * supported way to render history.
    */
  def snapshotAtGeneration(generation: Long): Cube = {
    val snap = new Cube(s"$name@g$generation", dimensions, spark,
      Some(readZStoreAsOf(generation)))
    snap._readOnlySnapshot = true
    snap
  }

  private var _readOnlySnapshot: Boolean = false

  /** True for cubes returned by [[snapshotAtGeneration]]. */
  def isReadOnlySnapshot: Boolean = _readOnlySnapshot

  private def rejectSnapshotWrite(op: String): Unit =
    if (_readOnlySnapshot) throw new UnsupportedOperationException(
      s"cube '$name' is a read-only as-of snapshot: $op rejected — a " +
        "snapshot write would land in a throwaway overlay the store and " +
        "the live cube never see; correct history on the LIVE cube")

  /** Batched base-cell point reads: resolve every address row `(d0…dN-1)`
    * in ONE job, returning the matching fact rows (≙ the reference's
    * point-read loop `samples/huge.py:134-157`, batched the Spark-native
    * way — per-cell driver round-trips can never amortize the per-job
    * floor). `broadcastAddrs = false` is the at-scale shape for address
    * lists too big to broadcast: a sort-merge semi join, chosen by a `merge`
    * hint on the address side whatever the broadcast thresholds say, and
    * exchange-free on the fact side when the cube is
    * [[compactToBucketed]]-backed.
    */
  def readBatch(addrs: DataFrame, broadcastAddrs: Boolean = true): DataFrame = {
    val a = addrs.select(dimCols.map(col): _*)
    facts.join(if (broadcastAddrs) broadcast(a) else a.hint("merge"), dimCols, "left_semi")
  }

  def cellsCount: Long = facts.count()

  // ---- point read / write (≙ `facttable.py:146-170`, `cube.py:499-537`) ---

  def set(address: Seq[String], value: Double): Unit = {
    rejectSnapshotWrite("set")
    val b = bolt(address)
    require(b.superLevel == 0,
      s"writeback to aggregated cell ${address.mkString("[", ",", "]")} not allowed")
    // ON_ENTRY rules may read other cells — evaluate OUTSIDE the lock
    val v = graft.olap.Rules.onEntry(this, b, value).getOrElse(value)
    stateLock.synchronized {
      overlay = overlay.updated(b.ids, Some(v))
      payloads = payloads - b.ids // a cell holds ONE value — number replaces text
      stateVersion += 1
      logPoint(b.ids)
      cache.clear()
      recordHistory(s"set ${address.mkString(",")}")
    }
  }

  def delete(address: Seq[String]): Unit = {
    rejectSnapshotWrite("delete")
    val b = bolt(address)
    require(b.superLevel == 0, "can only delete base cells")
    stateLock.synchronized {
      overlay = overlay.updated(b.ids, None)
      payloads = payloads - b.ids
      stateVersion += 1
      logPoint(b.ids)
      cache.clear()
      recordHistory(s"delete ${address.mkString(",")}")
    }
  }

  /** Write a non-float payload into a base cell (≙ storing any object,
    * `cube.py:325-327`): replaces any numeric value there; the cell reads as
    * [[CellValue.Text]]/[[CellValue.Err]] and is SKIPPED by every rollup
    * (≙ the float-only skip checks `cube.py:468,493`).
    */
  def setPayload(address: Seq[String], payload: String): Unit = {
    rejectSnapshotWrite("setPayload")
    val b = bolt(address)
    require(b.superLevel == 0,
      s"writeback to aggregated cell ${address.mkString("[", ",", "]")} not allowed")
    stateLock.synchronized {
      payloads = payloads.updated(b.ids, payload)
      overlay = overlay.updated(b.ids, None) // text replaces number: remove the cell from rollups
      stateVersion += 1
      logPoint(b.ids)
      cache.clear()
      recordHistory(s"payload ${address.mkString(",")}")
    }
  }

  def getPayload(address: Seq[String]): Option[String] =
    stateLock.synchronized(payloads.get(bolt(address).ids))
  private[graft] def payloadAt(ids: Vector[Int]): Option[String] =
    stateLock.synchronized(payloads.get(ids))

  /** Typed cell read: payloads/errors first, else the numeric read path.
    * Rule evaluation failures surface as typed error cells instead of
    * exceptions (≙ `rules.py:15-20` + dispatch `cube.py:362-367`): `#REF!`
    * for dangling refs, `#VALUE!` for arithmetic over text, `#ERR!`
    * otherwise; rule-computed NaN reads as `#DIV/0!`. The numeric [[get]]
    * path lets [[graft.olap.RuleError]] propagate (code in the message).
    */
  def getCell(address: Seq[String]): Option[CellValue] = {
    val b = bolt(address)
    val payload = if (b.superLevel == 0) payloadAt(b.ids) else None
    if (payload.isDefined)
      payload.map(CellValue.fromPayload)
    else try getByBolt(b).map(v =>
      if (v.isNaN) CellValue.Err(CellValue.DivZero) else CellValue.Num(v))
    catch {
      case e: graft.olap.RuleError => Some(CellValue.Err(e.code))
    }
  }

  /** Payload rows within a predicate over the address ids (Area support). */
  private[core] def payloadEntries(p: Vector[Int] => Boolean): Seq[(Vector[Int], String)] =
    stateLock.synchronized(payloads.toSeq.filter { case (ids, _) => p(ids) })
  // payload-only mutations do NOT touch the result cache: cached entries
  // are numeric pointRead/rollup values, and getCell consults payloads
  // BEFORE the cached path — invalidating here would only waste recomputes
  private[graft] def removePayloads(p: Vector[Int] => Boolean): Unit =
    stateLock.synchronized { payloads = payloads.filter { case (ids, _) => !p(ids) } }
  private[graft] def payloadCount: Int = stateLock.synchronized(payloads.size)
  private[graft] def allPayloads: Seq[(Vector[Int], String)] =
    stateLock.synchronized(payloads.toSeq)
  private[core] def restorePayload(ids: Vector[Int], p: String): Unit =
    stateLock.synchronized { payloads = payloads.updated(ids, p) }

  /** Cell read: base cells are point lookups (overlay first, then the
    * driver point index, or a pushed-down filter job when the base is not
    * persisted); aggregated cells are closure-join rollups.
    * Rules intercept per scope (≙ `cube.py:334-497`).
    */
  def get(address: Seq[String]): Option[Double] = getByBolt(bolt(address))

  private[graft] def getByBolt(b: Bolt): Option[Double] = {
    bump(0)
    def compute = graft.olap.Rules.evaluate(this, b) match {
      case Some(v) => bump(1); v
      case None =>
        if (b.superLevel == 0) pointRead(b.ids)
        else { bump(2); rollup(b.ids) }
    }
    if (!cacheEnabled) compute
    else {
      if (cache.size >= cacheMaxEntries) cache.clear()
      // the cache key carries the state version the value was computed
      // against: a reader racing a write installs its (now stale) result
      // under the OLD version, which no later read ever looks up — the
      // wholesale clear() on write is memory hygiene, not correctness.
      val key = (stateVersion, refCubeVersions, b.ids)
      val (r, hit) = cache.getOrElseUpdate(key, compute)
      if (hit) bump(3)
      r
    }
  }

  // ---- driver-resident point index ---------------------------------------

  /** Base-cell point index ([[PointIndex]]): the reference answers a base
    * cell from an in-process dict (`facttable.py:146-170`); here the first
    * base read of a PERSISTED base frame of at most [[Cube.PointIndexCap]]
    * cells collects that frame into a sorted driver index, and every later
    * base read is a binary search — no Spark job. The build is
    * single-flight: concurrent readers wait on [[pointIdxBuildLock]], while
    * writers never do (the build runs outside [[stateLock]]). A refusal —
    * over the cap, a base made mostly of decimals past a long, or
    * [[disablePointIndex]] — is remembered for that frame,
    * so a 1e8-cell cube counts itself once. Unpersisted bases (as-of
    * snapshots, store- and table-backed bases, streaming merges) keep the
    * pushed-down filter job: collecting them would re-read their source.
    * Once in place, the index also feeds the driver grid kernel of
    * [[gridAggregate]]; grids never build it themselves.
    *
    * The index mirrors the `base` frame ONLY: overlay writes/deletes are
    * consulted BEFORE it (in-session writes read correctly with no
    * invalidation), and a bulk base swap changes the frame's object
    * identity, which the read-side `eq` check detects — a stale index can
    * never serve. Two base rows at one address fail the build loudly.
    *
    * `pointIdxBase` names the frame the index state belongs to;
    * `pointIdx == null` there means refused. Both under [[stateLock]].
    */
  private var pointIdx: PointIndex = null
  private var pointIdxBase: DataFrame = null
  private val pointIdxBuildLock = new Object
  private val pointIdxBuilds = new java.util.concurrent.atomic.AtomicInteger

  /** Point-index builds attempted on this cube (each runs one count job). */
  private[graft] def pointIndexBuilds: Int = pointIdxBuilds.get

  /** Bytes the point index holds, its postings included once the kernel
    * has built them (0 when no index is in place). */
  private[graft] def pointIndexBytes: Long = stateLock.synchronized {
    if (pointIdx != null && (pointIdxBase eq base)) pointIdx.byteSize else 0L
  }

  /** Build (or refresh) the point index if the base holds ≤ `cap` cells,
    * whatever its storage level; returns whether the index is in place.
    * Idempotent while the base is unchanged. Base reads build it on their
    * own for persisted bases — this is for unpersisted bases and for
    * timing a build. */
  def enablePointIndex(cap: Long = Cube.PointIndexCap): Boolean = {
    val b = stateLock.synchronized {
      if (pointIdx != null && (pointIdxBase eq base)) return true
      base
    }
    pointIdxBuildLock.synchronized {
      if (!pointIndexEnabled) buildPointIndex(b, cap)
    }
    pointIndexEnabled
  }

  def pointIndexEnabled: Boolean = stateLock.synchronized {
    pointIdx != null && (pointIdxBase eq base)
  }

  /** Drop the point index and keep base reads of the current frame on the
    * filter job; the next [[enablePointIndex]] re-collects — the re-timing
    * lever for benchmarks and the release valve for a driver under memory
    * pressure. It also turns off the driver grid kernel for that frame:
    * every grid and aggregated cell then runs the Spark plan. */
  def disablePointIndex(): Unit = stateLock.synchronized {
    pointIdx = null; pointIdxBase = base
  }

  /** Count, then collect `b` unless it holds more than `cap` cells; install
    * the outcome (index or refusal) if `b` is still the base. Callers hold
    * [[pointIdxBuildLock]]. */
  private def buildPointIndex(b: DataFrame, cap: Long): PointIndex = {
    pointIdxBuilds.incrementAndGet()
    val idx =
      if (b.count() > cap) null
      else PointIndex.collect(b, nDims, ids => ids.indices.map { i =>
        scala.util.Try(dimAt(i).nameOf(ids(i))).getOrElse(s"#${ids(i)}")
      }.mkString("[", ", ", s"] of cube '$name'"))
    stateLock.synchronized {
      if (base eq b) { pointIdx = idx; pointIdxBase = b }
    }
    idx
  }

  /** The index over `b` for a base read, building it first if `b` is
    * persisted and no outcome is recorded for it; null → filter job. */
  private def autoPointIndex(b: DataFrame): PointIndex =
    if (b.storageLevel == org.apache.spark.storage.StorageLevel.NONE) null
    else pointIdxBuildLock.synchronized {
      stateLock.synchronized(if (pointIdxBase eq b) Some(pointIdx) else None)
        .getOrElse(buildPointIndex(b, Cube.PointIndexCap))
    }

  private def pointRead(ids: Vector[Int]): Option[Double] = {
    // snapshot overlay-hit-or-index-or-base under the lock; an index build
    // or the filter job then runs lock-free on the immutable base frame
    val snapshot: Either[Option[Double], (DataFrame, Boolean)] = stateLock.synchronized {
      overlay.get(ids) match {
        case Some(v) => Left(v)
        case None if pointIdxBase eq base =>
          if (pointIdx != null) Left(pointIdx.get(ids)) else Right((base, false))
        case None => Right((base, true))
      }
    }
    snapshot match {
      case Left(v) => v
      case Right((b, mayIndex)) =>
        val idx = if (mayIndex) autoPointIndex(b) else null
        if (idx != null) idx.get(ids)
        else {
          val pred = dimCols.zip(ids).map { case (c, id) => col(c) === id }.reduce(_ && _)
          b.filter(pred).select(col("value").cast(DoubleType))
            .collect().headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
        }
    }
  }

  /** Weighted rollup of one aggregated cell (≙ `cube.py:440-497` +
    * `facttable.py:190-231`): the one-cell grid of [[gridAggregate]] over
    * one-member selections, read from whichever path answered it (on the
    * Spark path the same filtered, joined input, summed without a key).
    */
  private def rollup(ids: Vector[Int]): Option[Double] = {
    val sels = ids.map(Seq(_))
    val kinds = gridKinds(sels)
    if ((0 until nDims).exists(i => kinds(i) == Cube.GridClosure && needsWeight(i))) bump(4)
    grid(sels, kinds) match {
      case Right((g, _)) => if (g.present(0)) Some(g.doubleValue(0)) else None
      case Left((df, value)) =>
        // one cell: a global sum — a constant grid key would only add a
        // hash-aggregation probe per fact row
        df.agg(sum(value)).collect().headOption.flatMap(r => Option(r.get(0)).map {
          case d: java.lang.Double => d.doubleValue()
          case bd: java.math.BigDecimal => bd.doubleValue()
        })
    }
  }

  // ---- grid aggregation (cells, views, query dialect) ---------------------

  /** A whole grid of aggregated cells: for each dimension a list of
    * requested members (leaf or aggregated, mixed). The result has one row
    * per non-empty address combination with columns
    * `(a0:Int, …, aN-1:Int, value)` where `a_i` is the requested member id.
    *
    * This replaces the reference's per-cell loop (`query.py:101-136`,
    * `view.py:769-911`) with one pass over the facts, on one of two paths
    * that answer identically (same rows, same schema):
    *  - the DRIVER KERNEL ([[DriverGrid]]) sums the rows of the base
    *    frame's [[PointIndex]] that the selections can reach — the
    *    intersection of the restricting axes' postings — merged with the
    *    overlay, and returns a local relation. It serves a grid when base
    *    reads have already put an index in place for the current base
    *    frame (a grid never starts a build), no dimension is degenerate,
    *    the grid has at most [[DriverGrid.MaxCells]] cells, and the sums
    *    can be made exact (double values, or decimal values with at most
    *    one weighted closure join, no null-valued base row, no candidate
    *    row past a long, and no overflow). A served report selects a small share of a working-set
    *    cube, and summing it takes well under a millisecond, where
    *    planning and scheduling a job costs hundreds. The kernel runs when
    *    this method is called (its result is already computed);
    *    [[disablePointIndex]] turns it off for the frame.
    *  - otherwise ONE Catalyst-planned Spark job: per dimension one
    *    broadcast join against the closure subset (fan-out = matching
    *    ancestors), then one hash aggregation — at scale it shuffles once,
    *    on the grid keys.
    * [[counterDriverAggregations]] counts the grids the kernel served.
    * Reports (views, dialect queries, cross-cube slices) take their grid
    * through [[reportGrid]] instead, which keeps small grids on the driver.
    */
  def gridAggregate(selections: Seq[Seq[Int]]): DataFrame = {
    require(selections.length == nDims)
    grid(selections, gridKinds(selections)) match {
      case Left((df, value)) => sumPlan(df, value)
      case Right((g, schema)) => Cube.GridRows(schema, kernelRows(g)).toDF(spark)
    }
  }

  /** The grid of a report — a view, a dialect query, a cross-cube slice —
    * on the path that finishes it: its rows on the driver when the kernel
    * serves it (see [[gridAggregate]]), or when the Spark grid is small
    * enough to collect — at most [[DriverGrid.MaxCells]] cells, or any size
    * with `collectAny` (a caller that collects the whole grid anyway) — and
    * otherwise the Spark grid plan, uncollected, for the caller to page.
    * This is the one place a report's path is chosen; the rows carry the
    * schema [[gridAggregate]] gives.
    */
  def reportGrid(selections: Seq[Seq[Int]], collectAny: Boolean = false): Either[DataFrame, Cube.GridRows] = {
    require(selections.length == nDims)
    grid(selections, gridKinds(selections)) match {
      case Right((g, schema)) => Right(Cube.GridRows(schema, kernelRows(g)))
      case Left((df, value)) =>
        val plan = sumPlan(df, value)
        val bounded = !Cube.plannedReports.value &&
          !selections.contains(Seq(Dimension.DegenerateLeafAllId)) && withinKernelBound(selections)
        if (collectAny || bounded) Right(Cube.GridRows(plan.schema, plan.collect().toIndexedSeq))
        else Left(plan)
    }
  }

  private def sumPlan(df: DataFrame, value: Column): DataFrame =
    df.groupBy(dimCols.indices.map(i => col(s"a$i")): _*).agg(sum(value).as("value"))

  /** The kernel's present cells as grid rows, row-major. */
  private def kernelRows(g: DriverGrid.Result): IndexedSeq[Row] = {
    val rows = Vector.newBuilder[Row]
    var c = 0
    while (c < g.present.length) {
      if (g.present(c)) rows += Row.fromSeq(g.key(c).toSeq.map(Int.box) :+ g.value(c))
      c += 1
    }
    rows.result()
  }

  /** Whether the selections span at most [[DriverGrid.MaxCells]] cells. */
  private def withinKernelBound(selections: Seq[Seq[Int]]): Boolean =
    selections.foldLeft(1L)((n, s) => if (n > DriverGrid.MaxCells) n else n * s.distinct.size) <=
      DriverGrid.MaxCells

  /** How each dimension enters a grid — decided once, for the Spark plan
    * and the driver kernel alike: raw keys of a degenerate dimension;
    * leaves (a filter, or none when the selection is every leaf); the
    * identity rollup (full unit coverage, the top `All`: no join, constant
    * key); or a broadcast closure join. */
  private def gridKinds(selections: Seq[Seq[Int]]): Array[Int] = Array.tabulate(nDims) { i =>
    val sel = selections(i)
    val d = dimAt(i)
    if (d.isDegenerate) {
      require(!(sel.contains(Dimension.DegenerateAllId) ||
          sel.contains(Dimension.DegenerateLeafAllId)) || sel.size == 1,
        s"degenerate dimension '${d.name}': the all-member / " +
          "leaf-all sentinels cannot be mixed with raw keys in one grid selection")
      Cube.GridRaw
    } else if (sel.forall(d.levelOf(_) == 0)) {
      val leaves = d.leafMembers
      if (sel.size == leaves.size && sel.toSet == leaves.map(_.id).toSet) Cube.GridAllLeaves
      else Cube.GridLeaves
    } else if (sel.size == 1 && d.coversAllLeavesUnit(sel.head)) Cube.GridIdentity
    else Cube.GridClosure
  }

  /** The grid over ONE (base, overlay, index) snapshot: the driver kernel's
    * answer (with the schema the Spark plan would have) when it can give
    * one, else the Spark plan's input to the sum. The snapshot is taken under [[stateLock]];
    * the kernel runs lock-free. It never starts an index build: only an
    * index that base reads (or [[enablePointIndex]]) put in place for the
    * current frame is used. */
  private def grid(selections: Seq[Seq[Int]],
      kinds: Array[Int]): Either[(DataFrame, Column), (DriverGrid.Result, StructType)] = {
    val (b, ov, idx) = stateLock.synchronized((base, overlay, if (pointIdxBase eq base) pointIdx else null))
    kernel(b, ov, idx, selections, kinds, fullScan = false) match {
      case Some(g) => bump(5); counters.addAndGet(6, g._1.rowsVisited); Right(g)
      case None => Left(sparkGridInput(factsOf(b, ov), selections, kinds))
    }
  }

  /** The driver kernel's answer over one (base, overlay, index) snapshot,
    * with the schema the Spark plan would have; None when it gives none. */
  private def kernel(b: DataFrame, ov: scala.collection.Map[Vector[Int], Option[Double]], idx: PointIndex,
      selections: Seq[Seq[Int]], kinds: Array[Int],
      fullScan: Boolean): Option[(DriverGrid.Result, StructType)] =
    if (idx == null || idx.nullRows > 0) None
    else driverPlan(selections, kinds, b).flatMap { case (axes, decimal, resultPrecision) =>
      DriverGrid.run(idx, ov, axes, decimal, resultPrecision, fullScan).map { r =>
        val keyFields = (0 until nDims).map { i =>
          val f = b.schema(s"d$i")
          kinds(i) match {
            case Cube.GridIdentity => StructField(s"a$i", IntegerType, nullable = false)
            case Cube.GridClosure => StructField(s"a$i", IntegerType)
            case _ => StructField(s"a$i", IntegerType, f.nullable || ov.nonEmpty, f.metadata)
          }
        }
        val vt = if (decimal.isEmpty) DoubleType else DecimalType(resultPrecision, r.scale)
        (r, StructType(keyFields :+ StructField("value", vt)))
      }
    }

  /** Test seam: the kernel's grid rows for `selections` on the current
    * state, from the postings or (`fullScan`) from every index row; None
    * when the kernel does not serve the grid. Counts nothing. */
  private[core] def kernelGrid(selections: Seq[Seq[Int]], fullScan: Boolean): Option[Cube.GridRows] = {
    val (b, ov, idx) = stateLock.synchronized((base, overlay, if (pointIdxBase eq base) pointIdx else null))
    kernel(b, ov, idx, selections, gridKinds(selections), fullScan)
      .map { case (g, schema) => Cube.GridRows(schema, kernelRows(g)) }
  }

  /** The kernel's axes for a grid it may answer, with the decimal
    * `(precision, scale)` of the value field and the precision of Spark's
    * sum type; None sends the grid to the Spark plan. A decimal cube with
    * two weighted joins goes to Spark: there the product type exceeds 38
    * digits and Spark rounds. */
  private def driverPlan(selections: Seq[Seq[Int]], kinds: Array[Int],
      b: DataFrame): Option[(Array[DriverGrid.Axis], Option[(Int, Int)], Int)] = {
    val members = selections.map(_.distinct.toArray)
    val schema = b.schema
    val vt = schema("value").dataType
    val nWeighted = (0 until nDims).count(i => kinds(i) == Cube.GridClosure && needsWeight(i))
    val numeric: Option[(Option[(Int, Int)], Int)] = vt match {
      case DoubleType => Some((None, 0))
      case d: DecimalType if nWeighted == 0 =>
        Some((Some((d.precision, d.scale)), math.min(38, d.precision + 10)))
      case d: DecimalType if nWeighted == 1 && d.precision + DriverGrid.WeightPrecision + 1 <= 38 =>
        Some((Some((d.precision, d.scale)), math.min(38, d.precision + DriverGrid.WeightPrecision + 11)))
      case _ => None
    }
    if (kinds.contains(Cube.GridRaw) || vt != valueField.dataType ||
        !withinKernelBound(selections) ||
        dimCols.exists(c => schema(c).dataType != IntegerType)) None
    else numeric.map { case (decimal, resultPrecision) =>
      val axes = Array.tabulate(nDims) { i =>
        val ms = members(i)
        kinds(i) match {
          case Cube.GridIdentity => DriverGrid.Axis.identity(ms.head)
          case Cube.GridClosure => DriverGrid.Axis.closure(ms, dimAt(i).closureIndex, weighted = needsWeight(i))
          case _ => DriverGrid.Axis.leaves(ms)
        }
      }
      (axes, decimal, resultPrecision)
    }
  }

  /** The Spark plan's input to the grid sum: `facts` filtered and
    * closure-joined per dimension, with the grid keys `a0 … aN-1`, and the
    * weighted value column to sum per key. */
  private def sparkGridInput(facts: DataFrame, selections: Seq[Seq[Int]],
      kinds: Array[Int]): (DataFrame, Column) = {
    var df = facts
    var weightCols = List.empty[Column]
    selections.zipWithIndex.foreach { case (sel, i) =>
      kinds(i) match {
        case Cube.GridRaw =>
          // raw keys: pushed-down filter, group key = the fact column itself.
          // The "all" member: no filter, constant group key — never a closure.
          // The leaf-all sentinel: no filter, FULL resolution (the summary-
          // build shape — the key space cannot be enumerated driver-side).
          if (sel == Seq(Dimension.DegenerateAllId)) {
            df = df.withColumn(s"a$i", lit(Dimension.DegenerateAllId))
          } else if (sel == Seq(Dimension.DegenerateLeafAllId)) {
            df = df.withColumn(s"a$i", col(s"d$i"))
          } else {
            df = if (sel.size == 1) df.filter(col(s"d$i") === sel.head)
                 else df.filter(col(s"d$i").isin(sel: _*))
            df = df.withColumn(s"a$i", col(s"d$i"))
          }
        case Cube.GridAllLeaves =>
          // a selection of EVERY leaf is a no-op predicate — skip it (facts
          // carry only leaf ids; stale ids of removed members are undefined
          // until purgeUnknownMembers, with or without the filter). Keeps
          // full-resolution grids — e.g. aggregate-summary builds — pure
          // scans instead of scans behind a catalog-sized IN list.
          df = df.withColumn(s"a$i", col(s"d$i"))
        case Cube.GridLeaves =>
          df = if (sel.size == 1) df.filter(col(s"d$i") === sel.head)
               else df.filter(col(s"d$i").isin(sel: _*))
          df = df.withColumn(s"a$i", col(s"d$i"))
        case Cube.GridIdentity =>
          // identity rollup: the closure join would match every row exactly
          // once with weight 1, so skip it — constant grid key, no join.
          // Contract: facts addressing members REMOVED from the catalog are
          // undefined until purgeUnknownMembers() (ARCHITECTURE §1) — the
          // join was never a reliable orphan filter, since leaf point reads
          // don't closure-join either.
          df = df.withColumn(s"a$i", lit(sel.head))
        case _ =>
          val cl = closureDf(i).filter(col("anc").isin(sel: _*))
            .select(col("anc").as(s"a$i"), col("leaf").as(s"leaf_$i"), weightExpr.as(s"w_$i"))
          df = df.join(broadcast(cl), col(s"d$i") === col(s"leaf_$i"))
          if (needsWeight(i)) weightCols ::= col(s"w_$i")
      }
    }
    (df, weightCols.foldLeft(col("value"))(_ * _))
  }

  /** Leaf-level ids under the given members (no weights — membership only). */
  def leafIdsOf(dimIdx: Int, memberIds: Seq[Int]): Seq[Int] = {
    val d = dimensions(dimIdx)
    if (d.isDegenerate) {
      // raw keys are their own leaves; the All member's key space is the
      // fact column itself and CANNOT be enumerated driver-side — silent
      // empty here would make areas quietly see zero cells
      require(!memberIds.contains(Dimension.DegenerateAllId) &&
          !memberIds.contains(Dimension.DegenerateLeafAllId),
        s"dimension '${d.name}' is degenerate — 'All' cannot be enumerated; " +
          "list raw keys explicitly (areas/enumeration need concrete members)")
      memberIds.distinct
    } else memberIds.flatMap { id =>
      if (d.levelOf(id) == 0) Seq(id) else d.closureRows.collect { case r if r.anc == id => r.leaf }
    }.distinct
  }

  def area(pattern: (String, Seq[String])*): Area = Area(this, pattern)
  def fullArea: Area = new Area(this, Map.empty)

  /** Drop ALL cells — facts, overlay, payloads, comments
    * (≙ `cube.py:306-310`).
    */
  def clear(): Unit = {
    rejectSnapshotWrite("clear")
    stateLock.synchronized {
      payloads = payloads.empty
      comments.clear()
      replaceFacts(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], factSchema))
    }
  }

  /** Navigable cell pointer (≙ `cube.cell(...)`, `cell.py`). */
  def cell(address: String*): Cell = new Cell(this, bolt(address).ids)

  /** Named view registry (≙ `cube.views`, `view.py:1334-1390`). */
  lazy val views: graft.olap.ViewList = new graft.olap.ViewList(this)

  /** Register a rule after smoke validation (≙ `cube.py:750-847` + R8). */
  def registerRule(rule: graft.olap.RuleDef): Unit = {
    rejectSnapshotWrite("registerRule")
    graft.olap.Rules.validate(this, rule)
    stateLock.synchronized {
      rulesVec = rulesVec :+ rule; recomputeRefTargets()
      stateVersion += 1; logBulk(); cache.clear()
    }
  }

  /** Remove a registered rule by name (≙ `cube.remove_rule`); no-op when
    * absent. Invalidates the result cache like any rule change. */
  def removeRule(ruleName: String): Unit = {
    rejectSnapshotWrite("removeRule")
    stateLock.synchronized {
      val next = rulesVec.filterNot(_.name == ruleName)
      if (next.size != rulesVec.size) {
        rulesVec = next; recomputeRefTargets()
        stateVersion += 1; logBulk(); cache.clear()
      }
    }
  }

  private[graft] def clearCache(): Unit = cache.clear()

  /** Drop fact rows addressing members that no longer exist in their
    * dimension (≙ `facttable.py:375-420`). Member removals through
    * `Dimension.commit()` purge AUTOMATICALLY ([[onDimensionCommitted]]);
    * this manual full pass remains for facts that arrived unknown from the
    * outside (e.g. a bulk frame loaded against a since-edited catalog).
    */
  def purgeUnknownMembers(): Unit = stateLock.synchronized {
    // degenerate dimensions have no catalog to be "unknown" against — every
    // fact value IS a member; an empty isin() here would silently drop ALL
    // rows, so those dimensions contribute no predicate
    val preds = dimCols.zipWithIndex.collect {
      case (c, i) if !dimensions(i).isDegenerate =>
        col(c).isin(dimensions(i).leafMembers.map(_.id): _*)
    }
    if (preds.nonEmpty) replaceFacts(facts.filter(preds.reduce(_ && _)))
    refreshClosures()
  }

  /** Comment helpers addressed by member names. */
  def addComment(address: Seq[String], text: String, user: String = ""): Unit =
    comments.add(bolt(address).ids, text, user)
  def commentsAt(address: Seq[String]): Seq[CellComments#Comment] =
    comments.get(bolt(address).ids)
}

object Cube {
  /** Immutable mutation-log state handle (see [[History]]). */
  final case class State(
      base: DataFrame,
      overlay: scala.collection.immutable.HashMap[Vector[Int], Option[Double]],
      payloads: scala.collection.immutable.HashMap[Vector[Int], String])

  /** Test seam: inside [[withPlannedReports]], on this thread, a report
    * the kernel does not serve keeps its Spark plan however small its grid,
    * so a ruled grid takes its DataFrame path. */
  private val plannedReports = new scala.util.DynamicVariable(false)
  private[graft] def withPlannedReports[A](body: => A): A = plannedReports.withValue(true)(body)

  /** Largest base frame (in cells) the driver point index will hold. */
  val PointIndexCap: Long = 2000000L

  /** A grid's rows held on the driver, with the schema of the Spark plan
    * for the same grid. */
  final case class GridRows(schema: StructType, rows: IndexedSeq[Row]) {
    /** The rows as a local relation: actions on it run no Spark job. */
    def toDF(spark: SparkSession): DataFrame = spark.createDataFrame(rows.asJava, schema)
  }

  /** How a dimension enters a grid ([[Cube.gridAggregate]]). */
  private final val GridRaw = 0
  private final val GridLeaves = 1
  private final val GridAllLeaves = 2
  private final val GridIdentity = 3
  private final val GridClosure = 4


  /** The result cache: a `TrieMap` plus an entry counter, so the bound
    * check on every cached read is O(1) — `TrieMap.size` snapshots and
    * counts the whole map. The count is approximate under races (two
    * readers computing one key both count it; a clear racing an insert
    * may drop one): it only drives the wholesale eviction bound.
    */
  private[core] final class ResultCache[K, V] {
    private val map = TrieMap[K, V]()
    private val entries = new java.util.concurrent.atomic.AtomicInteger
    def size: Int = entries.get
    def clear(): Unit = { map.clear(); entries.set(0) }

    /** The value for `k`, computing it on a miss, and whether it was a hit.
      * Hit detection can misreport under concurrent reads (TrieMap may
      * discard a losing thread's computed value and return the winner's) —
      * acceptable for driver-side observability; the returned VALUE is
      * always consistent. */
    def getOrElseUpdate(k: K, v: => V): (V, Boolean) = {
      var hit = true
      val r = map.getOrElseUpdate(k, { hit = false; v })
      if (!hit) entries.incrementAndGet()
      (r, hit)
    }
  }
}
