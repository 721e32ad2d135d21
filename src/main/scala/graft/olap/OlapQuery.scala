package graft.olap

import graft.core.{Cube, Database, Dimension}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's minimal SQL dialect (≙ `query.py:14`):
  *
  *   `SELECT <fields> FROM <cube> WHERE <slicers>`
  *
  * - fields: `*`, dimension names, `value`, `dim.attribute` (≙ `query.py:167-173,244-286`)
  * - slicers (comma list, ≙ `query.py:158-236`): bare `'member'` (dimension
  *   inferred, first match wins), `dim=member` / `dim:member`, `dim='*'`
  *   (all members), a subset name, or a member list `dim=(Jan,'Feb')`;
  *   unspecified dimensions default to their first member.
  *
  * Execution deviates from the reference by design (SURVEY §3.2): instead of
  * a per-address `cube[...]` loop over the cartesian product, the whole grid
  * is ONE aggregation pass — [[graft.core.Cube.reportGrid]]: the driver
  * kernel over the rows the query selects once base reads have built the
  * point index, else one Catalyst job (closure joins + hash aggregation);
  * only non-empty cells are returned.
  */
final class OlapQuery(db: Database, sql: String,
    resolveCube: Option[String => Cube] = None) {

  private val Pat = """(?is)\s*SELECT\s+(.+?)\s+FROM\s+(\S+)(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r

  val (cube: Cube, fields: Seq[String], selections: Vector[Seq[Int]]) = sql match {
    case Pat(fieldsStr, cubeName, whereStr) =>
      // `resolveCube` override (round 17): the REST layer routes
      // `?asOfGeneration=` dialect queries through a z-store snapshot cube
      // without the parser knowing about generations
      val c = resolveCube.map(_(cubeName)).getOrElse(db.cube(cubeName))
      val sels = resolveWhere(c, Option(whereStr))
      val fs = fieldsStr.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      (c, fs, sels)
    case _ => throw new IllegalArgumentException(s"cannot parse query: $sql")
  }

  private def unquote(s: String): String = {
    val t = s.trim
    if ((t.startsWith("'") && t.endsWith("'")) || (t.startsWith("\"") && t.endsWith("\"")))
      t.substring(1, t.length - 1)
    else t
  }

  /** Split on commas not inside quotes or parentheses. */
  private def topLevelSplit(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var depth = 0; var q: Char = 0
    s.foreach { ch =>
      if (q != 0) { cur += ch; if (ch == q) q = 0 }
      else ch match {
        case '\'' | '"' => q = ch; cur += ch
        case '(' => depth += 1; cur += ch
        case ')' => depth -= 1; cur += ch
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += ch
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def resolveWhere(c: Cube, whereStr: Option[String]): Vector[Seq[Int]] = {
    val sel = Array.fill[Option[Seq[Int]]](c.nDims)(None)

    def dimIdx(name: String): Int =
      c.dimensions.indexWhere(_.name.equalsIgnoreCase(name))

    def resolveMembers(d: Dimension, spec: String): Seq[Int] = {
      val t = spec.trim
      if (t == "'*'" || t == "*") d.members.map(_.id)
      else if (t.startsWith("(") && t.endsWith(")"))
        topLevelSplit(t.substring(1, t.length - 1)).map(m => d.idOf(unquote(m)))
      else {
        val m = unquote(t)
        if (d.hasSubset(m)) d.subset(m).map(_.id)
        else Seq(d.idOf(m))
      }
    }

    whereStr.map(topLevelSplit).getOrElse(Nil).foreach { slicer =>
      val eq = {
        // find a top-level '=' or ':' separator
        var depth = 0; var q: Char = 0; var pos = -1
        slicer.zipWithIndex.foreach { case (ch, i) =>
          if (q != 0) { if (ch == q) q = 0 }
          else ch match {
            case '\'' | '"' => q = ch
            case '(' => depth += 1
            case ')' => depth -= 1
            case '=' | ':' if depth == 0 && pos < 0 => pos = i
            case _ =>
          }
        }
        pos
      }
      if (eq > 0 && dimIdx(unquote(slicer.substring(0, eq))) >= 0) {
        val i = dimIdx(unquote(slicer.substring(0, eq)))
        sel(i) = Some(resolveMembers(c.dimensions(i), slicer.substring(eq + 1)))
      } else {
        // bare member or subset: first dimension that knows it wins
        val m = unquote(slicer)
        val i = c.dimensions.indexWhere(d => d.contains(m) || d.hasSubset(m))
        require(i >= 0, s"member '$m' not found in any dimension of cube '${c.name}'")
        sel(i) = Some(resolveMembers(c.dimensions(i), slicer))
      }
    }
    // unspecified dimensions default to the first member (≙ `query.py:233-236`)
    sel.zipWithIndex.map { case (s, i) =>
      s.getOrElse(Seq(c.dimensions(i).defaultMember.id))
    }.toVector
  }

  /** Run the query as one grid pass and project the requested fields. The
    * grid computes rule-backed members of (at most) one dimension after a
    * pivot (≙ rule cells in the dialect's dense grid, `query.py:101-136` —
    * still no per-cell loop); rule matching, transitive ref expansion, and
    * deps-first ordering are the shared
    * [[Rules.gridRuleFor]]/[[Rules.expandRuled]] helpers — one semantics
    * for dialect grids, views, and the scalar path.
    *
    * The answer is the projected rows on the driver when
    * [[Cube.reportGrid]] keeps the grid there (the driver kernel, or a
    * collected small Spark grid), else the DataFrame plan with broadcast
    * name joins — a `'*'` cross product past [[Cube.reportGrid]]'s bound,
    * which the REST route pages. Either way the rows, fields and types are
    * the same; the REST route renders driver rows with no Spark job.
    */
  def result(): Either[DataFrame, Cube.GridRows] = resultOn(cube, selections)

  /** [[result]] as a DataFrame: driver rows become a local relation. */
  def execute(): DataFrame = executeOn(cube, selections)

  /** The same grid + projection against a ROUTED target (an aggregate
    * summary whose derived dimensions carry the same member names) — used
    * by [[OlapQuery.routed]]; `sels` are the target cube's member ids.
    */
  private[olap] def resultOn(target: Cube, sels: Vector[Seq[Int]]): Either[DataFrame, Cube.GridRows] =
    Rules.ruledReport(target, sels) match {
      case Right(g) => Right(project(target, g))
      case Left(df) => Left(projectPlan(target, df))
    }

  private[olap] def executeOn(target: Cube, sels: Vector[Seq[Int]]): DataFrame =
    resultOn(target, sels).fold(identity, _.toDF(target.spark))

  private def wantAll: Boolean = fields.exists(_ == "*")
  private def wantDim(d: Dimension): Boolean = wantAll || fields.exists(_.equalsIgnoreCase(d.name))
  private def wantValue: Boolean = wantAll || fields.exists(_.equalsIgnoreCase("value"))
  private def attrFields(d: Dimension): Seq[String] =
    fields.filter(f => f.toLowerCase.startsWith(d.name.toLowerCase + "."))

  /** The projection on driver rows: an address whose member (or attribute
    * holder) is not in the catalog is dropped, as the name join drops it;
    * the fields and types are those of [[projectPlan]]. */
  private def project(target: Cube, g: Cube.GridRows): Cube.GridRows = {
    val outFields = scala.collection.mutable.ArrayBuffer[StructField]()
    val getters = scala.collection.mutable.ArrayBuffer[Row => Any]()
    val inCatalog = scala.collection.mutable.ArrayBuffer[Row => Boolean]()
    target.dimensions.zipWithIndex.foreach { case (d, i) =>
      val attrs = attrFields(d)
      if (wantDim(d) || attrs.nonEmpty) {
        require(!(d.isDegenerate && attrs.nonEmpty),
          s"dimension '${d.name}' is degenerate — it has no attributes")
        // a degenerate dimension's member is its functional name, computed
        val member: Row => Option[graft.core.MemberDef] = r =>
          if (r.isNullAt(i)) None else d.memberOpt(r.getInt(i))
        if (!d.isDegenerate) inCatalog += (r => member(r).isDefined)
        if (wantDim(d)) {
          outFields += StructField(d.name, StringType, !d.isDegenerate || g.schema(i).nullable)
          getters += (r => member(r).map(_.name).orNull)
        }
        attrs.foreach { f =>
          val field = d.attribute(f.substring(d.name.length + 1))
          outFields += StructField(f, StringType)
          getters += (r => member(r).flatMap(m => field.get(m.id)).orNull)
        }
      }
    }
    if (wantValue) {
      outFields += g.schema("value")
      getters += (r => r.get(r.length - 1))
    }
    val rows = g.rows.filter(r => inCatalog.forall(_(r))).map(r => Row.fromSeq(getters.map(_(r)).toSeq))
    Cube.GridRows(StructType(outFields.toSeq), rows)
  }

  /** The projection as a plan: broadcast joins of member names and
    * attribute values onto the grid. */
  private def projectPlan(target: Cube, grid: DataFrame): DataFrame = {
    var df = grid
    val projected = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column]()
    target.dimensions.zipWithIndex.foreach { case (d, i) =>
      val attrs = attrFields(d)
      if (wantDim(d) || attrs.nonEmpty) {
        require(!(d.isDegenerate && attrs.nonEmpty),
          s"dimension '${d.name}' is degenerate — it has no attributes")
        if (d.isDegenerate) {
          // functional name: computed, never joined (the catalog is empty —
          // an inner name join would silently drop every row)
          df = df.withColumn(d.name, d.functionalNameColumn(col(s"a$i")))
        } else {
          val names = target.memberNamesDf(i)
            .select(col("id").as(s"__id$i"), col("mname").as(d.name))
          df = df.join(broadcast(names), col(s"a$i") === col(s"__id$i")).drop(s"__id$i")
        }
        if (wantDim(d)) projected += col(d.name)
        attrs.foreach { f =>
          val attrName = f.substring(d.name.length + 1)
          val field = d.attribute(attrName)
          val spark = target.spark
          val rows = d.members.map(m => Row(m.id, field.get(m.id).orNull))
          val attrDf = spark.createDataFrame(
            spark.sparkContext.parallelize(rows.toList, 1),
            StructType(Seq(StructField(s"__aid$i", IntegerType),
              StructField(f, StringType))))
          df = df.join(broadcast(attrDf), col(s"a$i") === col(s"__aid$i")).drop(s"__aid$i")
          projected += col(s"`$f`") // backticks: 'dim.attr' is a plain name, not a struct path
        }
      }
    }
    if (wantValue) projected += col("value")
    df.select(projected.toSeq: _*)
  }
}

object OlapQuery {
  def apply(db: Database, sql: String): DataFrame = new OlapQuery(db, sql).execute()

  /** Dialect query ROUTED through an aggregate navigator: parsed and
    * member-resolved against the navigator's BASE cube, then the one-job
    * grid runs on the first fresh summary containing every selected member
    * (ids remapped name-stably), else on base — a dashboard's dialect
    * queries hit the grain-sized frame automatically. Fields addressing a
    * dimension's ATTRIBUTES pin that dimension to the base catalog object
    * (derived dims carry no attributes), which in practice routes such
    * queries to a summary only when that dimension kept leaf resolution.
    */
  def routed(nav: Aggregates.Navigator, sql: String): DataFrame = {
    val q = parsed(nav, sql)
    val target = targetFor(nav, q)
    if (target eq nav.base) q.execute()
    else {
      val remapped = q.selections.zipWithIndex.map { case (sel, i) =>
        if (target.dimensions(i) eq nav.base.dimensions(i)) sel
        else sel.map(id => target.dimensions(i).idOf(nav.base.dimensions(i).nameOf(id)))
      }
      q.executeOn(target, remapped)
    }
  }

  /** The cube [[routed]] would execute on — observable routing for specs
    * and gates. */
  def routedTarget(nav: Aggregates.Navigator, sql: String): Cube =
    targetFor(nav, parsed(nav, sql))

  private def parsed(nav: Aggregates.Navigator, sql: String): OlapQuery = {
    val db = nav.base.databaseRef.getOrElse(throw new IllegalStateException(
      s"cube '${nav.base.name}' is not attached to a database — dialect routing needs one"))
    val q = new OlapQuery(db, sql)
    require(q.cube eq nav.base,
      s"query addresses cube '${q.cube.name}', not the navigator's base '${nav.base.name}'")
    q
  }

  private def targetFor(nav: Aggregates.Navigator, q: OlapQuery): Cube =
    if (nav.base.dimensions.exists(_.isDegenerate)) nav.base
    else {
      // dims whose attributes the field list touches must stay the BASE
      // catalog object on the target (derived dims carry no attributes)
      val needShared: Set[Int] = q.fields.flatMap(f =>
        nav.base.dimensions.zipWithIndex.collect {
          case (d, i) if f.toLowerCase.startsWith(d.name.toLowerCase + ".") => i
        }).toSet
      val names = q.selections.zipWithIndex.map { case (sel, i) =>
        sel.map(nav.base.dimensions(i).nameOf) }
      nav.cubeForSelections(names, needShared)
    }
}
