package graft.olap

import graft.core.{Cube, MemberDef}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One axis of a view: an ordered list of (dimension, members) entries; the
  * axis positions are the cartesian product of the member lists in order
  * (≙ `view.py:167-171`).
  */
final case class AxisDef(entries: Seq[(String, Seq[String])])

/** A pivot-report definition (≙ `view.py:582-744`): filter axis (single
  * members), row axis, column axis. Dimensions not mentioned anywhere fall
  * back to their default member on the filter axis (≙ `view.py:615-622`).
  */
final case class ViewDef(
    filters: Seq[(String, String)] = Nil,
    rows: AxisDef,
    cols: AxisDef,
    zeroSuppression: Boolean = false,
    /** Drop column-axis positions whose every cell is empty/zero
      * (≙ `zero_suppression_on_columns`, `view.py:409-414`).
      */
    zeroSuppressionColumns: Boolean = false,
    /** Report metadata (≙ `view.py:338-374`). */
    title: String = "",
    description: String = "",
    /** Fallback number format for cells whose member carries none
      * (≙ `default_number_format`, `view.py:379-385`).
      */
    defaultNumberFormat: Option[String] = None)

/** Paged refresh window (≙ `ViewWindow`, `view.py:65-105`): inclusive row and
  * column index bounds of the rendered grid.
  */
final case class ViewWindow(top: Int, left: Int, bottom: Int, right: Int)

/** Refresh statistics (≙ `ViewStatistics`, `view.py:46-63`): wall time, grid
  * extent, how many positions were served from storage vs computed by rules.
  */
final case class ViewStats(
    durationMs: Long,
    rows: Long,
    columns: Int,
    aggregatedPositions: Int = 0,
    rulePositions: Int = 0)

/** Pivot-grid report over a cube. The whole grid — every axis combination —
  * is ONE grid aggregation ([[Cube.gridAggregate]]: a driver pass once
  * base reads have built the point index, else a closure-join Spark job), then `groupBy(rowKeys)
  * .pivot(colKey)` (≙ the per-cell loop `view.py:769-911`, re-planned as
  * SURVEY §2.10 V3 prescribes).
  *
  * Measure rules: when the column axis is a single dimension, requested
  * members backed by an ALL_LEVELS / AGGREGATION_LEVEL rule with same-dim
  * refs are computed post-pivot as derived Columns — still one job.
  */
final class View(val cube: Cube, val dfn: ViewDef) {

  private def dimIdx(name: String): Int = {
    val i = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(name))
    require(i >= 0, s"unknown dimension '$name' in cube '${cube.name}'")
    i
  }

  var stats: ViewStats = ViewStats(0, 0, 0)

  /** The grid as a DataFrame: one column per row-axis dimension (member
    * names), then one column per column-axis POSITION — the cartesian product
    * of the column-axis member lists in entry order, last entry varying
    * fastest (≙ `view.py:167-171`). Multi-dimension positions are named
    * `m1/m2/…` (one member per axis entry). Cells are doubles (null = empty).
    */
  def refresh(): DataFrame = {
    val t0 = System.nanoTime()
    val rowDims = dfn.rows.entries.map(e => dimIdx(e._1))
    val colEntries = dfn.cols.entries
    require(colEntries.nonEmpty, "column axis needs at least one dimension")

    // preliminary per-dimension selections (for multi-trigger rule pinning):
    // filters fix single members, axes select their requested members,
    // unmentioned dimensions default
    val prelim: Int => Seq[Int] = {
      val p = Array.tabulate(cube.nDims)(i => Seq(cube.dimensions(i).defaultMember.id))
      dfn.filters.foreach { case (dn, mm) =>
        val i = dimIdx(dn); p(i) = Seq(cube.dimensions(i).idOf(mm)) }
      dfn.rows.entries.foreach { case (dn, ms) =>
        val i = dimIdx(dn); p(i) = ms.map(cube.dimensions(i).idOf) }
      colEntries.foreach { case (dn, ms) =>
        val i = dimIdx(dn); p(i) = ms.map(cube.dimensions(i).idOf) }
      p(_)
    }
    // Transitive rule expansion per dimension through the SHARED helpers
    // (same semantics as dialect grids and scalar reads): rule matching by
    // resolved id (aliases behave like the scalar path), refs of ruled
    // members pulled in, chained ruled refs computed not fetched. Members
    // dedupe by id, first spelling wins — "Sales" requested + "sales" ref'd
    // are one pivot column.
    val perDim = colEntries.map { case (dName, requested) =>
      val cd = dimIdx(dName)
      val d = cube.dimensions(cd)
      val (ruledIds, fetchIds, topoIds, errIds) = Rules.expandRuled(
        cube, cd, requested.map(d.idOf),
        id => Rules.gridRuleFor(cube, cd, id, prelim))
      require(fetchIds.nonEmpty || errIds.nonEmpty,
        s"column axis dimension '$dName': no stored members to fetch — every " +
          "requested member is rule-backed with no stored refs; include at least one stored member")
      val nameById = scala.collection.mutable.LinkedHashMap[Int, String]()
      requested.foreach(m => nameById.getOrElseUpdate(d.idOf(m), m))
      (fetchIds ++ topoIds).foreach(id => nameById.getOrElseUpdate(id, d.nameOf(id)))
      if (colEntries.size > 1) nameById.values.foreach(m => require(!m.contains("/"),
        s"member '$m': '/' is reserved as the position separator on multi-dimension column axes"))
      ColDim(cd, requested,
        ruledIds.map { case (id, r) => nameById(id) -> r },
        fetchIds.map(nameById),
        nameById.toMap,
        topoIds.map(nameById),
        errIds.map { case (id, code) => nameById.getOrElse(id, d.nameOf(id)) -> code })
    }

    // a column dimension whose every requested member's rule chain is broken
    // has nothing to fetch — render the whole grid as sentinel codes (the
    // promise of the #REF! machinery) instead of issuing an empty-selection
    // aggregation: rows from the row-axis member lists, one code per position.
    // Only legitimate when every requested member IS broken: a fetch-empty
    // dimension that still carries a computable ruled member (a ref-free
    // expr) must fail loudly, not silently render #REF! over a real value.
    if (perDim.exists(_.fetch.isEmpty)) {
      perDim.filter(_.fetch.isEmpty).foreach { pd =>
        val computable = pd.requested.filterNot(pd.errs.contains)
        require(computable.isEmpty,
          s"column axis dimension '${cube.dimensions(pd.cd).name}': no stored members " +
            s"to fetch, but ${computable.mkString(", ")} are computable ruled members — " +
            "include at least one stored member to anchor the grid")
      }
      val reqPositions = cartesian(perDim.map(_.requested))
      val posCode: Seq[(String, String)] = reqPositions.map { pos =>
        pos.mkString("/") -> pos.zip(perDim).collectFirst {
          case (m, pd) if pd.errs.contains(m) => pd.errs(m) }.getOrElse("#REF!")
      }
      val rowTuples = cartesian(dfn.rows.entries.map(_._2))
      val schema = org.apache.spark.sql.types.StructType(
        (dfn.rows.entries.map(_._1) ++ posCode.map(_._1)).map(n =>
          org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)))
      val rows = rowTuples.map(rt => org.apache.spark.sql.Row.fromSeq(rt ++ posCode.map(_._2)))
      stats = ViewStats((System.nanoTime() - t0) / 1000000, rowTuples.size,
        posCode.size, aggregatedPositions = 0, rulePositions = 0)
      return cube.spark.createDataFrame(
        cube.spark.sparkContext.parallelize(rows.toList, 1), schema)
    }

    // selections: filters fix single members; unmentioned dims → default
    val sel = Array.tabulate(cube.nDims) { i =>
      Seq(cube.dimensions(i).defaultMember.id)
    }
    dfn.filters.foreach { case (d, m) => sel(dimIdx(d)) = Seq(cube.dimensions(dimIdx(d)).idOf(m)) }
    dfn.rows.entries.zip(rowDims).foreach { case ((_, ms), i) =>
      sel(i) = ms.map(cube.dimensions(i).idOf)
    }
    perDim.foreach(pd => sel(pd.cd) = pd.fetch.map(cube.dimensions(pd.cd).idOf))

    var df = cube.gridAggregate(sel.toIndexedSeq)

    // row member names + position ordinals (axis order, not alphabetical)
    rowDims.zip(dfn.rows.entries).foreach { case (i, (dName, members)) =>
      val spark = cube.spark
      val rows = members.zipWithIndex.map { case (m, ord) =>
        org.apache.spark.sql.Row(cube.dimensions(i).idOf(m), m, ord)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(s"__id$i", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField(dName, org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(s"__ord$i", org.apache.spark.sql.types.IntegerType)))
      val names = spark.createDataFrame(spark.sparkContext.parallelize(rows.toList, 1), schema)
      df = df.join(broadcast(names), col(s"a$i") === col(s"__id$i")).drop(s"__id$i")
    }

    // pivot on the composite position key: per column dim an id→name map,
    // joined with '/' — ONE pivot regardless of axis dimensionality
    val nameCols = perDim.map { pd =>
      val byId = pd.fetch.map(m => cube.dimensions(pd.cd).idOf(m) -> m)
      map(byId.flatMap { case (id, n) => Seq(lit(id), lit(n)) }: _*)(col(s"a${pd.cd}"))
    }
    df = df.withColumn("__colName",
      if (nameCols.size == 1) nameCols.head else concat_ws("/", nameCols: _*))
    val fetchNames = cartesian(perDim.map(_.fetch)).map(_.mkString("/"))
    val rowKeyCols = rowDims.zip(dfn.rows.entries).map(_._2._1)
    val ordCols = rowDims.map(i => s"__ord$i")
    var grid = df.groupBy((rowKeyCols ++ ordCols).map(col): _*)
      .pivot("__colName", fetchNames)
      .agg(first(col("value").cast("double")))

    // requested positions: cartesian product in axis order (last fastest)
    val reqPositions = cartesian(perDim.map(_.requested))
    // a position may carry a ruled member on at most ONE dimension
    reqPositions.foreach { pos =>
      val n = pos.zip(perDim).count { case (m, pd) => pd.ruled.contains(m) }
      require(n <= 1, s"position ${pos.mkString("/")}: rule-backed members on " +
        "more than one column-axis dimension are not supported")
    }
    // positions carrying a BROKEN ruled member (dangling ref after a
    // dimension edit, cascaded through referencing rules) render the
    // sentinel code in every cell instead of aborting the whole view
    // (≙ `rules.py:15-20`): the column is a string literal the renders
    // pass through verbatim. `errPosCode` accumulates EVERY sentinel column
    // (including rule-compile failures below) so chained rules propagate the
    // code instead of doing string arithmetic, and zero suppression knows
    // the grid carries non-numeric content.
    val errPosCode = scala.collection.mutable.LinkedHashMap[String, String]()
    reqPositions.foreach { pos =>
      pos.zip(perDim).collectFirst {
        case (m, pd) if pd.errs.contains(m) => pd.errs(m) }.foreach { code =>
        errPosCode(pos.mkString("/")) = code
        grid = grid.withColumn(pos.mkString("/"), lit(code))
      }
    }
    // Cross-cube refs ([[RuleExpr.CubeRef]]) in GRID mode: each distinct ref
    // shape — target cube + per-part resolution — becomes ONE broadcast
    // LEFT join of the target cube's (rule-aware) slice onto the pivoted
    // grid, so a report of currency-converted cells is a single job instead
    // of N scalar reads (the scalar read path stays the per-cell semantics;
    // this is its bulk face). Parts referencing ROW-axis dimensions vary
    // per row (join key derived from the row's member name — identity for
    // Carry, the driver-held attribute map for AttrOf); parts referencing
    // pinned or column-axis dimensions are constants for the position. A
    // fully-pinned address is a bounded scalar read through the target's
    // full read path. Resolution failures (unknown cube/member, missing
    // attribute on any REQUESTED row member) raise RuleError, so the whole
    // position renders its sentinel code — coarser than the scalar path's
    // per-cell error, on record here. Empty target cells stay empty (left
    // join miss → null), matching the scalar read's None.
    val crCols = scala.collection.mutable.LinkedHashMap[String, String]()
    def cubeRefColumn(cr: RuleExpr.CubeRef,
        memberAt: Int => Either[String, (String, Seq[String])]): Column = {
      import RuleExpr.CubeRefPart
      val db = cube.databaseRef.getOrElse(throw RuleError("#REF!",
        s"cube '${cube.name}' is not attached to a database — cross-cube ref needs one"))
      val target = try db.cube(cr.cubeName) catch {
        case _: NoSuchElementException =>
          throw RuleError("#REF!", s"unknown cube '${cr.cubeName}' in cross-cube ref")
      }
      if (cr.parts.size != target.nDims) throw RuleError("#REF!",
        s"cross-cube ref to '${cr.cubeName}' needs ${target.nDims} members, got ${cr.parts.size}")
      def srcDim(dn: String): Int = {
        val i = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(dn))
        if (i < 0) throw RuleError("#REF!", s"unknown dimension '$dn' in cross-cube ref")
        i
      }
      // per part: Left(constant target member) or Right(grid row column,
      // ordered (source row member → target member) pairs)
      val resolved: Seq[Either[String, (String, Seq[(String, String)])]] = cr.parts.map {
        case CubeRefPart.Fixed(mm) => Left(mm)
        case CubeRefPart.Carry(dn) => memberAt(srcDim(dn)) match {
          case Left(name) => Left(name)
          case Right((rowCol, req)) => Right((rowCol, req.distinct.map(n => n -> n)))
        }
        case CubeRefPart.AttrOf(dn, a) =>
          val i = srcDim(dn); val dim = cube.dimensions(i)
          if (!dim.hasAttribute(a)) throw RuleError("#REF!",
            s"dimension '$dn' has no attribute '$a' for cross-cube ref")
          def attrOf(n: String): String = dim.getAttribute(a, n).getOrElse(
            throw RuleError("#REF!",
              s"member '$n' carries no '$a' attribute value for cross-cube ref"))
          memberAt(i) match {
            case Left(name) => Left(attrOf(name))
            case Right((rowCol, req)) => Right((rowCol, req.distinct.map(n => n -> attrOf(n))))
          }
      }
      val sig = target.name + " " + resolved.map {
        case Left(n) => s"=$n"
        case Right((rc, pairs)) =>
          s"@$rc:${pairs.map(p => p._1 + ">" + p._2).mkString(",")}"
      }.mkString(" ")
      crCols.get(sig).map(col).getOrElse {
        def idOfOr(td: graft.core.Dimension, n: String): Int =
          if (td.contains(n)) td.idOf(n)
          else throw RuleError("#REF!",
            s"cross-cube ref to '${target.name}': no member '$n' in dimension '${td.name}'")
        val valName = s"__cr${crCols.size}"
        if (resolved.forall(_.isLeft)) {
          // fully pinned address: bounded scalar read through the target's
          // full read path (its rules fire, its cache serves)
          val names = resolved.map {
            case Left(n) => n
            case Right(_) => throw new IllegalStateException("unreachable")
          }
          val v = try target.get(names) catch {
            case e: RuleError => throw e
            case _: NoSuchElementException => throw RuleError("#REF!",
              s"cross-cube ref to '${target.name}': no such member address " +
                names.mkString("(", ", ", ")"))
          }
          grid = grid.withColumn(valName,
            v.map(lit(_)).getOrElse(lit(null).cast("double")))
        } else {
          val selIds: Seq[Seq[Int]] = resolved.zip(target.dimensions).map {
            case (Left(n), td) => Seq(idOfOr(td, n))
            case (Right((_, pairs)), td) => pairs.map(_._2).distinct.map(idOfOr(td, _))
          }
          // rule-aware target slice (the target's own grid-computable rules
          // fire inside the slice plan) — bounded by the source axes, so
          // broadcast is the right side for any fact-cube scale
          var slice = Rules.ruledGrid(target, selIds)
          val keys = resolved.zipWithIndex.collect {
            case (Right((rowCol, pairs)), p) =>
              val td = target.dimensions(p)
              val kc = s"${valName}_k$p"
              val idName = pairs.map(_._2).distinct.map(n => td.idOf(n) -> n)
              slice = slice.withColumn(kc,
                map(idName.flatMap { case (id, n) => Seq(lit(id), lit(n)) }: _*)(
                  col(s"a$p")))
              (kc, map(pairs.flatMap { case (s0, t0) =>
                Seq(lit(s0), lit(t0)) }: _*)(col(rowCol)))
          }
          slice = slice.select(keys.map(kv => col(kv._1)) :+ col("value").as(valName): _*)
          grid = grid.join(broadcast(slice),
            keys.map { case (kc, src) => col(kc) === src }.reduce(_ && _), "left")
            .drop(keys.map(_._1): _*)
        }
        crCols(sig) = valName
        col(valName)
      }
    }

    // rule-derived positions post-pivot (one job, no per-cell recursion):
    // refs resolve to the sibling position with only the ruled dim's member
    // replaced (Jan/Profit ← Jan/Sales − Jan/Cost). Chained ruled members are
    // computed deps-first (topo order), so Margin sees the COMPUTED Profit
    // column, not the empty stored one — for every context over the other
    // dims' requested members.
    perDim.zipWithIndex.filter(_._1.ruled.nonEmpty).foreach { case (pd, k) =>
      val d = cube.dimensions(pd.cd)
      val contexts = cartesian(perDim.zipWithIndex.map { case (pd2, j) =>
        if (j == k) Seq("") else pd2.requested
      }).filterNot(_.zip(perDim).zipWithIndex.exists { case ((cm, pdj), j) =>
        // two-ruled-dims positions already rejected; errored-member contexts
        // already carry their sentinel column
        j != k && (pdj.ruled.contains(cm) || pdj.errs.contains(cm))
      })
      pd.topo.foreach { m =>
        val rule = pd.ruled(m)
        contexts.foreach { ctx =>
          val pos = ctx.updated(k, m)
          val posName = pos.mkString("/")
          // the cell's member NAME on any source dimension, for cross-cube
          // part resolution: ruled/column-axis dims are position constants,
          // row-axis dims vary per row (→ the row's name column), anything
          // else is pinned by filter/default (single-member by construction)
          val memberAt: Int => Either[String, (String, Seq[String])] = i => {
            val rIdx = rowDims.indexOf(i)
            if (rIdx >= 0)
              Right((dfn.rows.entries(rIdx)._1, dfn.rows.entries(rIdx)._2))
            else perDim.indexWhere(_.cd == i) match {
              case j if j >= 0 => Left(if (j == k) m else ctx(j))
              case _ => Left(cube.dimensions(i).nameOf(sel(i).head))
            }
          }
          grid = try {
            // build the Column FIRST: cross-cube resolution may join slices
            // onto `grid`, and the receiver must be the post-join grid
            val c0 = Rules.toColumnWith({ ref =>
              val refPos = pos.updated(k, pd.nameById(d.idOf(ref))).mkString("/")
              // a ref to a sentinel column propagates the code (string
              // arithmetic would silently cast "#ERR!" to null)
              errPosCode.get(refPos).foreach(code =>
                throw RuleError(code, s"position '$posName' reads error column '$refPos'"))
              col(refPos)
            }, None, cr => cubeRefColumn(cr, memberAt))(rule.expr)
            grid.withColumn(posName, c0)
          }
          catch { // unknown fn / unresolvable ref at compile → sentinel column
            case e: RuleError =>
              errPosCode(posName) = e.code
              grid.withColumn(posName, lit(e.code))
            case _: NoSuchElementException =>
              errPosCode(posName) = "#REF!"
              grid.withColumn(posName, lit("#REF!"))
          }
        }
      }
    }

    val reqNames = reqPositions.map(_.mkString("/"))
    // an error column makes every row non-empty (sentinels are content),
    // so suppression only applies when no position errored — including
    // rule-compile failures caught above, whose string columns would poison
    // the numeric suppression sum (coalesce(string, double) is a string)
    if (dfn.zeroSuppression && errPosCode.isEmpty) {
      val cells = reqNames.map(m => abs(coalesce(col(m), lit(0.0))))
      grid = grid.filter(cells.reduce(_ + _) =!= 0.0) // ≙ `view.py:844-885`
    }
    // column suppression (≙ `zero_suppression_on_columns`, `view.py:409-414`):
    // drop positions whose every cell is empty/zero — one small aggregation
    // over the already-aggregated grid (null sum ⇔ no non-empty cell)
    val keptNames =
      if (dfn.zeroSuppressionColumns && errPosCode.isEmpty && reqNames.nonEmpty) {
        val aggs = reqNames.map(m => sum(abs(col(m).cast("double"))).as(m))
        val totals = grid.agg(aggs.head, aggs.tail: _*).head()
        val kept = reqNames.zipWithIndex.collect {
          case (m, i) if !totals.isNullAt(i) && totals.getDouble(i) != 0.0 => m
        }
        kept
      } else reqNames

    val ordered = grid.orderBy(ordCols.map(col): _*)
      .select((rowKeyCols.map(col) ++ keptNames.map(col)): _*)
    val keptPositions = reqPositions.filter(p => keptNames.contains(p.mkString("/")))
    val nRuled = keptPositions.count(pos =>
      pos.zip(perDim).exists { case (m, pd) => pd.ruled.contains(m) })
    stats = ViewStats((System.nanoTime() - t0) / 1000000, 0, keptNames.size,
      aggregatedPositions = keptNames.size - nRuled, rulePositions = nRuled)
    ordered
  }

  /** One column-axis dimension's resolved request: stored members to fetch,
    * rule-backed members (with their transitive refs) and their dependency
    * order, and the id→retained-spelling map used for ref renaming.
    */
  private case class ColDim(
      cd: Int,
      requested: Seq[String],
      ruled: Map[String, RuleDef],
      fetch: Seq[String],
      nameById: Map[Int, String],
      topo: Seq[String],
      errs: Map[String, String])

  /** Cartesian product preserving entry order; LAST list varies fastest
    * (≙ `itertools.product`, `view.py:167-171`).
    */
  private def cartesian[A](xs: Seq[Seq[A]]): Seq[Seq[A]] =
    xs.foldLeft(Seq(Seq.empty[A]))((acc, l) => acc.flatMap(p => l.map(p :+ _)))

  /** Position name → one member per column-axis entry. Single-dim axes use
    * the whole name verbatim (members may contain '/'); multi-dim axes split
    * on the reserved separator (enforced at refresh).
    */
  private def positionMembers(colName: String): Seq[String] =
    if (dfn.cols.entries.size == 1) Seq(colName) else colName.split("/").toSeq

  // ---- windowed / rendered output (≙ `view.py:746-767, 984-1331`) ---------

  /** Collect (a window of) the grid driver-side for rendering. */
  def collect(window: Option[ViewWindow] = None): (Seq[String], Seq[Seq[Any]]) = {
    val grid = refresh()
    val allCols = grid.columns.toSeq
    val nRowKeys = dfn.rows.entries.size
    val keptCols = window match {
      case Some(w) =>
        allCols.take(nRowKeys) ++
          allCols.drop(nRowKeys).slice(w.left, w.right + 1)
      case None => allCols
    }
    val rows = window match {
      case Some(w) =>
        grid.limit(w.bottom + 1).collect().drop(w.top).toSeq
      case None => grid.collect().toSeq
    }
    stats = stats.copy(rows = rows.size)
    (keptCols, rows.map(r => keptCols.map(c => r.get(r.fieldIndex(c)))))
  }

  /** Member number format cascade: the LAST column-axis member (usually the
    * measure) with a defined format wins, else plain (≙ `view.py:791-852`,
    * formats `dimension.py:1479-1518`). Multi-dim positions split on '/'.
    */
  private def fmtFor(colName: String): Option[String] = {
    val cds = dfn.cols.entries.map(e => dimIdx(e._1))
    cds.zip(positionMembers(colName)).reverse.collectFirst {
      case (cd, p) if cube.dimensions(cd).contains(p) &&
        cube.dimensions(cd)(p).format.isDefined => cube.dimensions(cd)(p).format.get
    }.orElse(dfn.defaultNumberFormat) // member format wins over the default
  }

  def toConsole(window: Option[ViewWindow] = None): String = {
    val (cols, rows) = collect(window)
    val rendered = rows.map(_.zip(cols).map { case (v, c) =>
      v match {
        case null => ""
        case d: java.lang.Double if d.isNaN => graft.core.CellValue.DivZero
        case d: java.lang.Double => ViewFormat(fmtFor(c), d)
        case x => x.toString
      }
    })
    val widths = cols.indices.map(i =>
      (cols(i).length +: rendered.map(_(i).length)).max)
    def line(vals: Seq[String]) = vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString(" | ")
    (line(cols) +: line(widths.map("-" * _)) +: rendered.map(line)).mkString("\n")
  }

  /** Full idx address of one grid cell (filters + row members + the column
    * member + defaults) — used to surface cell comments (≙ `view.py:870-871`).
    */
  private def cellAddress(rowMembers: Map[String, String], colMember: String): Vector[Int] = {
    val colByDim = dfn.cols.entries.map(e => dimIdx(e._1))
      .zip(positionMembers(colMember)).toMap
    Vector.tabulate(cube.nDims) { i =>
      val d = cube.dimensions(i)
      colByDim.get(i).map(d.idOf).getOrElse {
        rowMembers.get(d.name.toLowerCase).map(d.idOf).getOrElse {
          dfn.filters.find(_._1.equalsIgnoreCase(d.name))
            .map(f => d.idOf(f._2)).getOrElse(d.defaultMember.id)
        }
      }
    }
  }

  def toHtml(window: Option[ViewWindow] = None): String = {
    val (cols, rows) = collect(window)
    val nRowKeys = dfn.rows.entries.size
    val head = cols.map(c => s"<th>$c</th>").mkString
    val body = rows.map { r =>
      val rowMembers = cols.take(nRowKeys).zip(r.take(nRowKeys))
        .map { case (c, v) => c.toLowerCase -> String.valueOf(v) }.toMap
      "<tr>" + r.zip(cols).zipWithIndex.map { case ((v, c), idx) =>
        val s = v match {
          case null => ""
          case d: java.lang.Double if d.isNaN => graft.core.CellValue.DivZero
          case d: java.lang.Double => ViewFormat(fmtFor(c), d)
          case x => x.toString
        }
        val tooltip = if (idx < nRowKeys) "" else {
          val cs = cube.comments.get(cellAddress(rowMembers, c))
          if (cs.isEmpty) ""
          else " title=\"" + cs.map(cm => s"${cm.user}: ${cm.text}").mkString("; ")
            .replace("\"", "&quot;") + "\""
        }
        s"<td$tooltip>$s</td>"
      }.mkString + "</tr>"
    }.mkString("\n")
    s"<table><thead><tr>$head</tr></thead><tbody>\n$body\n</tbody></table>"
  }

  /** CSV render (≙ the Slice CSV export, `slice.py:669-671`). */
  def toCsv(window: Option[ViewWindow] = None): String = {
    val (cols, rows) = collect(window)
    def esc(s: String) =
      if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
      else s
    (cols.map(esc).mkString(",") +: rows.map(_.zip(cols).map {
      case (null, _) => ""
      case (d: java.lang.Double, _) if d.isNaN => graft.core.CellValue.DivZero
      // member number formats apply here like console/HTML (≙ the render
      // formatting of `view.py:791-852`); a member WITHOUT a format keeps
      // the lossless Double.toString round-trip
      case (d: java.lang.Double, c) => fmtFor(c).fold(d.toString)(f => ViewFormat(Some(f), d))
      case (x, _) => x.toString
    }.map(esc).mkString(","))).mkString("\n")
  }

  def toJson(window: Option[ViewWindow] = None): String = {
    val (cols, rows) = collect(window)
    val items = rows.map { r =>
      cols.zip(r).map { case (c, v) =>
        val vs = v match {
          case null => "null"
          case d: java.lang.Double if d.isNaN => "\"" + graft.core.CellValue.DivZero + "\""
          case d: java.lang.Double => d.toString
          case x => "\"" + x.toString.replace("\"", "\\\"") + "\""
        }
        "\"" + c.replace("\"", "\\\"") + "\":" + vs
      }.mkString("{", ",", "}")
    }
    items.mkString("[", ",", "]")
  }
}

/** Named view registry per cube (≙ `ViewList`, `view.py:1334-1390`):
  * definitions register by name and instantiate fresh [[View]]s on demand;
  * definitions serialize with [[ViewDef]]'s JSON round-trip.
  */
final class ViewList(val cube: Cube) {
  private val defs = scala.collection.mutable.LinkedHashMap[String, ViewDef]()

  def define(name: String, dfn: ViewDef): View = {
    defs(name.toLowerCase) = dfn
    new View(cube, dfn)
  }
  def apply(name: String): View = new View(cube,
    defs.getOrElse(name.toLowerCase,
      throw new NoSuchElementException(s"unknown view '$name' on cube '${cube.name}'")))
  def definition(name: String): ViewDef = defs(name.toLowerCase)
  def contains(name: String): Boolean = defs.contains(name.toLowerCase)
  def names: Seq[String] = defs.keys.toSeq
  def size: Int = defs.size
  def remove(name: String): Unit = defs.remove(name.toLowerCase)

  def toJson: String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
      defs.toList.map { case (n, d) =>
        ("name" -> n) ~ ("definition" -> org.json4s.jackson.JsonMethods.parse(ViewDef.toJson(d)))
      }))
  }
  def loadJson(s: String): Unit = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    org.json4s.jackson.JsonMethods.parse(s).extract[List[JValue]].foreach { j =>
      defs((j \ "name").extract[String].toLowerCase) =
        ViewDef.fromJson(org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(j \ "definition")))
    }
  }
}

/** ViewDef ⇄ JSON (≙ `view.py:1089-1149` — definition round-trip,
  * `tests/test_view.py:41-60`).
  */
object ViewDef {
  import org.json4s._
  import org.json4s.JsonDSL._
  import org.json4s.jackson.JsonMethods

  private def axisJson(a: AxisDef): JValue =
    a.entries.map { case (d, ms) => ("dimension" -> d) ~ ("members" -> ms.toList) }

  def toJson(v: ViewDef): String = JsonMethods.compact(JsonMethods.render(
    ("filters" -> v.filters.map { case (d, m) =>
      ("dimension" -> d) ~ ("member" -> m) }.toList) ~
    ("rows" -> axisJson(v.rows)) ~
    ("columns" -> axisJson(v.cols)) ~
    ("zeroSuppression" -> v.zeroSuppression) ~
    ("zeroSuppressionColumns" -> v.zeroSuppressionColumns) ~
    ("title" -> v.title) ~
    ("description" -> v.description) ~
    ("defaultNumberFormat" -> v.defaultNumberFormat)))

  def fromJson(s: String): ViewDef = {
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(s)
    def axis(field: String): AxisDef = AxisDef(
      (j \ field).extract[List[JValue]].map { e =>
        ((e \ "dimension").extract[String], (e \ "members").extract[List[String]]) })
    ViewDef(
      filters = (j \ "filters").extract[List[JValue]].map(e =>
        ((e \ "dimension").extract[String], (e \ "member").extract[String])),
      rows = axis("rows"),
      cols = axis("columns"),
      zeroSuppression = (j \ "zeroSuppression").extract[Boolean],
      // the round-7 fields are absent in pre-round-7 saved views → defaults
      zeroSuppressionColumns =
        (j \ "zeroSuppressionColumns").extractOpt[Boolean].getOrElse(false),
      title = (j \ "title").extractOpt[String].getOrElse(""),
      description = (j \ "description").extractOpt[String].getOrElse(""),
      defaultNumberFormat = (j \ "defaultNumberFormat").extractOpt[String])
  }
}

/** Python-format-mini-language subset for member number formats
  * (≙ `dimension.py:1479-1518`, applied at `view.py:866-869`):
  * `{:.Nf}`, `{:.N%}`, `{:,.Nf}`.
  */
object ViewFormat {
  private val P = """\{:(,)?\.(\d+)([f%])\}""".r
  def apply(fmt: Option[String], v: Double): String = fmt match {
    case Some(P(comma, digits, kind)) =>
      val n = digits.toInt
      kind match {
        case "%" => String.format(s"%.${n}f%%", Double.box(v * 100))
        case _ =>
          val s = String.format(s"%${if (comma != null) "," else ""}.${n}f", Double.box(v))
          s
      }
    case _ => if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
}
