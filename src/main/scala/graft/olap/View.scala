package graft.olap

import graft.core.Cube
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import scala.collection.mutable

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

/** Refresh statistics (≙ `ViewStatistics`, `view.py:46-63`) of the last
  * computed grid: the wall time to compute it, its extent — rows after
  * suppression, before any window, and columns — and how many positions
  * were served from storage vs computed by rules.
  */
final case class ViewStats(
    durationMs: Long,
    rows: Long,
    columns: Int,
    aggregatedPositions: Int = 0,
    rulePositions: Int = 0)

/** Pivot-grid report over a cube (≙ the per-cell loop `view.py:769-911`,
  * re-planned as SURVEY §2.10 V3 prescribes). The whole grid — every axis
  * combination — is ONE grid aggregation whose rows come to the driver
  * ([[Cube.reportGrid]]: the kernel's pass over the point index once base
  * reads have built it, else one collected closure-join Spark job). The
  * rest of the report runs in Scala on those rows with no further Spark
  * job: the pivot to one column per column-axis position, the row-member
  * names in axis order, rule-derived positions, cross-cube slices
  * (collected once, then looked up by key), sentinel columns, row and
  * column zero suppression, and windows.
  *
  * Measure rules: requested column-axis members backed by an ALL_LEVELS /
  * AGGREGATION_LEVEL rule with same-dim refs are computed per position
  * from the pivoted cells by [[Rules.ruleCells]]: the column compiler's
  * expression, analyzed once by Spark and cached, evaluated by Spark's
  * interpreted projection over the position's input columns — the types,
  * nullability and bits a Spark plan gives, with no Spark job.
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
    * The frame is a local relation over the computed rows.
    */
  def refresh(): DataFrame = assemble().toDF(cube.spark)

  /** Compute the grid: its rows in row-axis order, with the schema of
    * [[refresh]]; sets [[stats]]. */
  private def assemble(): Cube.GridRows = {
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
      val nameById = mutable.LinkedHashMap[Int, String]()
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
    val reqPositions = cartesian(perDim.map(_.requested))
    val rowKeyNames = dfn.rows.entries.map(_._1)

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
      val posCode: Seq[(String, String)] = reqPositions.map { pos =>
        pos.mkString("/") -> pos.zip(perDim).collectFirst {
          case (m, pd) if pd.errs.contains(m) => pd.errs(m) }.getOrElse("#REF!")
      }
      val rowTuples = cartesian(dfn.rows.entries.map(_._2))
      stats = ViewStats((System.nanoTime() - t0) / 1000000, rowTuples.size,
        posCode.size, aggregatedPositions = 0, rulePositions = 0)
      return Cube.GridRows(
        StructType((rowKeyNames ++ posCode.map(_._1)).map(StructField(_, StringType))),
        rowTuples.map(rt => Row.fromSeq(rt ++ posCode.map(_._2))).toIndexedSeq)
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
    val g = Rules.collected(cube.reportGrid(sel.toIndexedSeq, collectAny = true))

    // the pivot: one row per combination of row-axis positions (a member
    // listed twice is two rows), in axis order; one double cell per fetched
    // column position, named by its members joined with '/'
    val rowOrds = dfn.rows.entries.zip(rowDims).map { case ((_, ms), i) =>
      ms.indices.groupBy(k => cube.dimensions(i).idOf(ms(k)))
    }
    val colName = perDim.map(pd => pd.fetch.map(m => cube.dimensions(pd.cd).idOf(m) -> m).toMap)
    val fetchNames = cartesian(perDim.map(_.fetch)).map(_.mkString("/"))
    val fetchAt = fetchNames.zipWithIndex.toMap
    val groups = mutable.HashMap[Seq[Int], Array[Any]]()
    // with no row axis the pivot is one global row, present even when empty
    if (rowDims.isEmpty) groups(Nil) = new Array[Any](fetchNames.size)
    val n = cube.nDims
    g.rows.foreach { r =>
      if ((rowDims ++ perDim.map(_.cd)).forall(i => !r.isNullAt(i))) {
        val j = fetchAt.get(perDim.indices.map(k => colName(k)(r.getInt(perDim(k).cd))).mkString("/"))
        val cell = Rules.toDouble(r.get(n))
        cartesian(rowDims.indices.map(k => rowOrds(k).getOrElse(r.getInt(rowDims(k)), Nil))).foreach { ords =>
          val cells = groups.getOrElseUpdate(ords, new Array[Any](fetchNames.size))
          j.foreach(j => if (cells(j) == null) cells(j) = cell)
        }
      }
    }
    val ordered = groups.keys.toIndexedSeq.sorted(Ordering.Implicits.seqOrdering[Seq, Int])
    val nRows = ordered.size

    // the grid's columns by case-insensitive name, as Spark resolves them;
    // a column added under an existing name replaces it
    val columns = mutable.HashMap[String, Rules.Cells]()
    def put(name: String, c: Rules.Cells): Unit = columns(name.toLowerCase) = c
    def column(name: String): Rules.Cells = columns.getOrElse(name.toLowerCase,
      throw new IllegalStateException(s"view grid has no column '$name'"))
    rowKeyNames.zipWithIndex.foreach { case (name, k) =>
      val names = ordered.map(o => dfn.rows.entries(k)._2(o(k)))
      put(name, Rules.Cells(StringType, nullable = true, names(_)))
    }
    fetchNames.zipWithIndex.foreach { case (name, j) =>
      val vals = ordered.map(groups(_)(j))
      put(name, Rules.Cells(DoubleType, nullable = true, vals(_)))
    }

    // a position may carry a ruled member on at most ONE dimension
    reqPositions.foreach { pos =>
      val nr = pos.zip(perDim).count { case (m, pd) => pd.ruled.contains(m) }
      require(nr <= 1, s"position ${pos.mkString("/")}: rule-backed members on " +
        "more than one column-axis dimension are not supported")
    }
    // positions carrying a BROKEN ruled member (dangling ref after a
    // dimension edit, cascaded through referencing rules) render the
    // sentinel code in every cell instead of aborting the whole view
    // (≙ `rules.py:15-20`): the column is a string the renders pass through
    // verbatim. `errPosCode` accumulates EVERY sentinel column (including
    // rule-compile failures below) so chained rules propagate the code
    // instead of doing string arithmetic, and zero suppression knows the
    // grid carries non-numeric content.
    val errPosCode = mutable.LinkedHashMap[String, String]()
    def sentinel(posName: String, code: String): Unit = {
      errPosCode(posName) = code
      put(posName, Rules.Cells(StringType, nullable = false, _ => code))
    }
    reqPositions.foreach { pos =>
      pos.zip(perDim).collectFirst {
        case (m, pd) if pd.errs.contains(m) => pd.errs(m) }.foreach(sentinel(pos.mkString("/"), _))
    }
    // Cross-cube refs ([[RuleExpr.CubeRef]]) in GRID mode: each distinct ref
    // shape — target cube + per-part resolution — reads the target cube's
    // (rule-aware) slice ONCE and looks each row's cell up by key, so a
    // report of currency-converted cells costs one slice instead of N scalar
    // reads (the scalar read path stays the per-cell semantics; this is its
    // bulk face). Parts referencing ROW-axis dimensions vary per row (key
    // derived from the row's member name — identity for Carry, the
    // driver-held attribute map for AttrOf); parts referencing pinned or
    // column-axis dimensions are constants for the position. A
    // fully-pinned address is a bounded scalar read through the target's
    // full read path. Resolution failures (unknown cube/member, missing
    // attribute on any REQUESTED row member) raise RuleError, so the whole
    // position renders its sentinel code — coarser than the scalar path's
    // per-cell error, on record here. Empty target cells stay empty
    // (no key → null), matching the scalar read's None.
    val slices = mutable.HashMap[String, Rules.Cells]()
    def cubeRefCells(cr: RuleExpr.CubeRef,
        memberAt: Int => Either[String, (Int, Seq[String])]): Rules.Cells = {
      // a row-axis part varies with the row's member name
      val r = Rules.cubeRefSlice(cube, cr, i => memberAt(i).map { case (k, names) =>
        (k, names.distinct.map(nm => nm -> nm)) })
      slices.getOrElseUpdate(r.sig, r.cells(0, nRows, (k, i) => column(rowKeyNames(k)).at(i)))
    }

    // rule-derived positions (no per-cell recursion): refs resolve to the
    // sibling position with only the ruled dim's member replaced
    // (Jan/Profit ← Jan/Sales − Jan/Cost). Chained ruled members are
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
          val memberAt: Int => Either[String, (Int, Seq[String])] = i => {
            val rIdx = rowDims.indexOf(i)
            if (rIdx >= 0) Right((rIdx, dfn.rows.entries(rIdx)._2))
            else perDim.indexWhere(_.cd == i) match {
              case j if j >= 0 => Left(if (j == k) m else ctx(j))
              case _ => Left(cube.dimensions(i).nameOf(sel(i).head))
            }
          }
          try {
            put(posName, Rules.ruleCells(cube.spark, nRows, { ref =>
              val refPos = pos.updated(k, pd.nameById(d.idOf(ref))).mkString("/")
              // a ref to a sentinel column propagates the code (string
              // arithmetic would silently cast "#ERR!" to null)
              errPosCode.get(refPos).foreach(code =>
                throw RuleError(code, s"position '$posName' reads error column '$refPos'"))
              column(refPos)
            }, cubeRefCells(_, memberAt))(rule.expr))
          }
          catch { // unknown fn / unresolvable ref / analysis failure → sentinel column
            case e: RuleError => sentinel(posName, e.code)
            case _: NoSuchElementException => sentinel(posName, "#REF!")
          }
        }
      }
    }

    val reqNames = reqPositions.map(_.mkString("/"))
    // an error column makes every row non-empty (sentinels are content),
    // so suppression only applies when no position errored — including
    // rule-compile failures caught above, whose string columns would poison
    // the numeric suppression sum
    val keptRows =
      if (dfn.zeroSuppression && errPosCode.isEmpty) (0 until nRows).filter { i =>
        reqNames.map(nm => math.abs(Option(Rules.toDouble(column(nm).at(i))).fold(0.0)(_.doubleValue)))
          .reduce(_ + _) != 0.0 // ≙ `view.py:844-885`
      } else 0 until nRows
    // column suppression (≙ `zero_suppression_on_columns`,
    // `view.py:409-414`): drop positions whose every cell is empty or zero
    val keptNames =
      if (dfn.zeroSuppressionColumns && errPosCode.isEmpty) reqNames.filter { nm =>
        val c = column(nm)
        keptRows.exists(i => Option(Rules.toDouble(c.at(i))).exists(v => math.abs(v) != 0.0))
      } else reqNames

    // a column selected under another spelling takes that spelling
    val out = (rowKeyNames ++ keptNames).map(nm => nm -> column(nm))
    val keptPositions = reqPositions.filter(p => keptNames.contains(p.mkString("/")))
    val nRuled = keptPositions.count(pos =>
      pos.zip(perDim).exists { case (m, pd) => pd.ruled.contains(m) })
    stats = ViewStats((System.nanoTime() - t0) / 1000000, keptRows.size, keptNames.size,
      aggregatedPositions = keptNames.size - nRuled, rulePositions = nRuled)
    Cube.GridRows(StructType(out.map { case (nm, c) => StructField(nm, c.dataType, c.nullable) }),
      keptRows.map(i => Row.fromSeq(out.map(_._2.at(i)))))
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

  /** (A window of) the grid for rendering: column names and row values. */
  def collect(window: Option[ViewWindow] = None): (Seq[String], Seq[Seq[Any]]) = {
    val grid = assemble()
    val allCols = grid.schema.fieldNames.toSeq
    val nRowKeys = dfn.rows.entries.size
    window match {
      case Some(w) =>
        val kept = allCols.indices.take(nRowKeys) ++ allCols.indices.drop(nRowKeys).slice(w.left, w.right + 1)
        (kept.map(allCols), grid.rows.take(w.bottom + 1).drop(w.top).map(r => kept.map(r.get)))
      case None => (allCols, grid.rows.map(_.toSeq))
    }
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
    val head = cols.map(c => s"<th>${View.html(c)}</th>").mkString
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
          else " title=\"" + View.html(cs.map(cm => s"${cm.user}: ${cm.text}").mkString("; ")) + "\""
        }
        s"<td$tooltip>${View.html(s)}</td>"
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
          case x => View.json(x.toString)
        }
        View.json(c) + ":" + vs
      }.mkString("{", ",", "}")
    }
    items.mkString("[", ",", "]")
  }
}

object View {
  /** A JSON string literal: quoted, escaped by json4s. */
  private def json(s: String): String = "\"" + org.json4s.ParserUtil.quote(s, false) + "\""

  /** Text escaped for HTML content and double-quoted attributes. */
  private def html(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
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
