package graft.core

import scala.collection.mutable

/** Immutable snapshot of one member of a [[Dimension]].
  *
  * Mirrors the reference's member record (tinyolap `dimension.py:908-919`:
  * IDX/NAME/PARENTS/CHILDREN/LEVEL/FORMAT/PARENT_WEIGHTS) but the transitive
  * closures (ALL_PARENTS / BASE_CHILDREN) live on the dimension as a
  * relational closure table — the Spark-native form (SURVEY §1.7).
  */
final case class MemberDef(
    id: Int,
    name: String,
    parents: Vector[Int],
    children: Vector[Int],
    parentWeights: Map[Int, Double],
    level: Int,
    format: Option[String])

/** One (ancestor, leaf, weight) row of a dimension's leaf-closure table.
  * `weight` is the sum over all ancestor→leaf paths of the product of edge
  * weights along the path (≙ `dimension.py:782-827` weight precompute).
  * Leaves carry a self-row with weight 1.0.
  */
final case class ClosureRow(anc: Int, leaf: Int, weight: Double)

/** Typed member attribute field (≙ `dimension.py:79-180`). Values stored as
  * strings, validated against `valueType` ∈ {string, int, double, bool}.
  */
final class AttributeField(val name: String, val valueType: String) {
  private[core] val values = mutable.Map[Int, String]()

  def set(memberId: Int, value: Any): Unit = {
    val s = value.toString
    valueType match {
      case "int"    => s.toLong
      case "double" => s.toDouble
      case "bool"   => s.toBoolean
      case _        =>
    }
    values(memberId) = s
  }
  def get(memberId: Int): Option[String] = values.get(memberId)

  /** fnmatch-style wildcard filter (≙ `dimension.py:135-168`). */
  def filter(pattern: String, caseSensitive: Boolean = false): Seq[Int] = {
    val rx = AttributeField.fnmatchToRegex(pattern, caseSensitive)
    values.collect { case (id, v) if rx.matcher(v).matches() => id }.toSeq.sorted
  }
  /** Regex filter (≙ `dimension.py:170-180`). */
  def rmatch(regex: String): Seq[Int] = {
    val rx = java.util.regex.Pattern.compile(regex)
    values.collect { case (id, v) if rx.matcher(v).find() => id }.toSeq.sorted
  }
}

object Dimension {
  /** Hard boundary for driver-side member catalogs (see ARCHITECTURE.md §7):
    * closures up to here broadcast comfortably; past it the model should use
    * degenerate fact columns — see [[Dimension.degenerate]].
    */
  val MaxMembers: Int = 2000000
  /** Soft boundary — warn, still works. */
  val WarnMembers: Int = 1000000

  /** Sentinel member id of a degenerate dimension's implicit "all" rollup —
    * aggregated (level 1) so writes to it are rejected, reads roll up.
    */
  val DegenerateAllId: Int = Int.MaxValue

  /** The closure table grouped by ancestor (compressed rows): ancestor `a`
    * owns the entries `start(a) until start(a + 1)` of `leaves` and
    * `weights`, in closure-row order. */
  private[core] final class ClosureIndex(rows: Vector[ClosureRow]) {
    val start: Array[Int] = {
      val s = new Array[Int](rows.foldLeft(0)((m, r) => math.max(m, r.anc + 1)) + 1)
      rows.foreach(r => s(r.anc + 1) += 1)
      (1 until s.length).foreach(a => s(a) += s(a - 1))
      s
    }
    val leaves: Array[Int] = new Array[Int](rows.size)
    val weights: Array[Double] = new Array[Double](rows.size)
    locally {
      val fill = start.clone()
      rows.foreach { r => leaves(fill(r.anc)) = r.leaf; weights(fill(r.anc)) = r.weight; fill(r.anc) += 1 }
    }
    /** Closure entries of ancestor `a`. */
    def count(a: Int): Int = if (a >= 0 && a < start.length - 1) start(a + 1) - start(a) else 0
  }

  /** Sentinel SELECTION id for grid paths over a degenerate dimension:
    * "every raw key, at leaf resolution" — no filter, group by the fact
    * column itself. Exists because the key space of a degenerate dimension
    * CANNOT be enumerated driver-side by design; a full-resolution grid
    * (e.g. a summary build that keeps the degenerate dim) selects this
    * instead of a key list. Never a member id: [[Dimension.degIdOf]]
    * refuses to parse it, so no raw key collides.
    */
  val DegenerateLeafAllId: Int = Int.MaxValue - 1

  /** A DEGENERATE dimension: leaf members live only as fact-column values —
    * no driver catalog, no broadcast closure, unbounded cardinality (the
    * customer-grain answer past [[MaxMembers]], ARCHITECTURE §7). Member
    * names are `prefix + <fact id>` (functional mapping, parsed not looked
    * up); the single aggregated member `allName` rolls up across every key
    * WITHOUT a closure join — the grid/rollup paths simply skip the filter.
    * No hierarchy, attributes, aliases or subsets: filters and group-bys
    * only, which is exactly what a 10M+-member grain supports at scale.
    *
    * KEY-SPACE CONTRACT: raw keys are `0 .. Int.MaxValue-2`. The two top
    * ids are reserved as grid sentinels ([[DegenerateAllId]],
    * [[DegenerateLeafAllId]]) — `degIdOf` refuses to parse them, and fact
    * frames must not carry them (summary maintenance declines such
    * batches rather than conflate them with the all/leaf-all selections).
    */
  def degenerate(name: String, prefix: String = "", allName: String = "All"): Dimension = {
    val d = new Dimension(name)
    d.degenerateMode = Some((prefix, allName))
    d
  }
}

object AttributeField {
  /** Translate an fnmatch wildcard (`* ? [seq]`) to a compiled regex. */
  def fnmatchToRegex(pattern: String, caseSensitive: Boolean): java.util.regex.Pattern = {
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          val j = pattern.indexOf(']', i + 1)
          if (j < 0) { sb.append("\\["); }
          else { sb.append(pattern.substring(i, j + 1)); i = j }
        case c => sb.append(java.util.regex.Pattern.quote(c.toString))
      }
      i += 1
    }
    val flags = if (caseSensitive) 0 else java.util.regex.Pattern.CASE_INSENSITIVE
    java.util.regex.Pattern.compile(sb.toString, flags)
  }
}

/** Subset of a dimension's members (≙ `dimension.py:641-724`). */
sealed trait Subset {
  def name: String
  def resolve(dim: Dimension): Seq[Int]
  /** Same subset under a new name (≙ `rename_subset`, `dimension.py:2013`). */
  def renamed(newName: String): Subset
}
final case class StaticSubset(name: String, members: Seq[String]) extends Subset {
  def resolve(dim: Dimension): Seq[Int] = members.map(dim.idOf)
  def renamed(newName: String): Subset = copy(name = newName)
}
/** Multi-condition AND over attribute wildcard queries. */
final case class AttributeSubset(name: String, conditions: Seq[(String, String)]) extends Subset {
  def resolve(dim: Dimension): Seq[Int] =
    conditions.map { case (attr, pat) => dim.attribute(attr).filter(pat).toSet }
      .reduce(_ intersect _).toSeq.sorted
  def renamed(newName: String): Subset = copy(name = newName)
}
/** Custom callable subset; `volatile` ⇒ re-evaluated on every resolve. */
final class CallableSubset(val name: String, fn: Dimension => Seq[String], volatileEval: Boolean) extends Subset {
  private var cache: Option[Seq[Int]] = None
  def resolve(dim: Dimension): Seq[Int] = {
    if (volatileEval) fn(dim).map(dim.idOf)
    else cache.getOrElse { val r = fn(dim).map(dim.idOf); cache = Some(r); r }
  }
  def renamed(newName: String): Subset = new CallableSubset(newName, fn, volatileEval)
}

/** A named, leveled, weighted, multi-parent member hierarchy (a DAG, not a
  * tree — ≙ `dimension.py:830`). Edit-transactional: `edit()` / `commit()` /
  * `rollback()` (≙ `dimension.py:1054-1115`); `commit()` rebuilds levels and
  * the leaf-closure table and rejects cycles (≙ `dimension.py:2263-2275`).
  *
  * Dimensions are driver-side metadata: small (≤ ~1e6 members), always
  * broadcast to executors as closure-table DataFrames by the cube layer.
  */
final class Dimension(val name: String) {

  private case class MutMember(
      id: Int, name: String,
      parents: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer(),
      children: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer(),
      parentWeights: mutable.Map[Int, Double] = mutable.Map(),
      var format: Option[String] = None)

  private val defs = mutable.ArrayBuffer[MutMember]()
  private val byName = mutable.Map[String, Int]() // lower-cased name → id
  private val aliasMap = mutable.Map[String, Int]() // lower-cased alias → id
  private val attrs = mutable.LinkedHashMap[String, AttributeField]()
  private val subsetMap = mutable.LinkedHashMap[String, Subset]()
  private var editing = false
  // committed members, byName, aliasMap, per-attribute value maps, subsets —
  // everything remove()/renameMember() mutates eagerly must be snapshotted,
  // or rollback() loses it.
  private var editBackup: Option[(Seq[MemberDef], Map[String, Int], Map[String, Int], Map[String, Map[Int, String]], Seq[(String, Subset)])] = None

  // committed snapshot
  private var committed: Vector[MemberDef] = Vector.empty
  private var byId: Map[Int, MemberDef] = Map.empty
  private var closure: Vector[ClosureRow] = Vector.empty
  private var allParentsMap: Map[Int, Set[Int]] = Map.empty

  /** Cubes built over this dimension, registered by the Cube constructor so
    * `commit()` can push edits to them (fact purge of removed members +
    * closure refresh, ≙ `dimension.py:1079-1081` → `facttable.py:375-420`).
    * Weak refs: scratch cubes (one per mutating gate/spec) must stay
    * collectible — the catalog must not pin every cube ever built on it.
    */
  private val usingCubes = mutable.ArrayBuffer[java.lang.ref.WeakReference[Cube]]()
  private[core] def registerCube(c: Cube): Unit = synchronized {
    usingCubes.filterInPlace(_.get != null)
    usingCubes += new java.lang.ref.WeakReference(c)
  }
  private def liveCubes: Seq[Cube] = synchronized {
    usingCubes.filterInPlace(_.get != null)
    usingCubes.iterator.flatMap(r => Option(r.get)).toSeq
  }

  // ---- degenerate mode (see Dimension.degenerate) -------------------------

  private[core] var degenerateMode: Option[(String, String)] = None
  def isDegenerate: Boolean = degenerateMode.isDefined
  /** The functional-name prefix of a degenerate dimension (None otherwise). */
  def degeneratePrefix: Option[String] = degenerateMode.map(_._1)
  /** Functional member-name Column for a degenerate dimension's id column:
    * `prefix + id`, with the All sentinel rendered by its configured name.
    * The ONE place this mapping lives — Area.records and OlapQuery grids
    * both render through it (two hand copies with inconsistent All handling
    * is how a sentinel once printed as `C#2147483647`).
    */
  def functionalNameColumn(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat, lit, when}
    val (prefix, allName) = degenerateMode.getOrElse(
      throw new IllegalStateException(s"dimension '$name' is not degenerate"))
    when(idCol === Dimension.DegenerateAllId, lit(allName))
      .otherwise(concat(lit(prefix), idCol.cast("string")))
  }
  private def degMember(id: Int): MemberDef = {
    val (prefix, allName) = degenerateMode.get
    if (id == Dimension.DegenerateAllId)
      MemberDef(id, allName, Vector.empty, Vector.empty, Map.empty, 1, None)
    else MemberDef(id, prefix + id, Vector.empty, Vector.empty,
      Map(Dimension.DegenerateAllId -> 1.0), 0, None)
  }
  /** Parse `prefix<id>` / `allName` → id; functional, no catalog. The
    * prefix matches case-insensitively (catalog dimensions resolve names
    * case-insensitively — same contract) but the numeral must be CANONICAL:
    * "C#007" / "C#+7" do not alias "C#7", one spelling per member.
    */
  private def degIdOf(member: String): Option[Int] = {
    val (prefix, allName) = degenerateMode.get
    if (member.equalsIgnoreCase(allName)) Some(Dimension.DegenerateAllId)
    else if (member.length > prefix.length &&
        member.regionMatches(true, 0, prefix, 0, prefix.length)) {
      val digits = member.substring(prefix.length)
      digits.toIntOption.filter(id =>
        id >= 0 && id != Dimension.DegenerateAllId &&
          id != Dimension.DegenerateLeafAllId && digits == id.toString)
    } else None
  }

  // ---- edit lifecycle -----------------------------------------------------

  def edit(): Dimension = {
    require(!isDegenerate,
      s"dimension '$name' is degenerate — its members ARE the fact-column " +
        "values; there is no catalog to edit")
    require(!editing, s"dimension '$name' already in edit mode")
    editBackup = Some((committed, byName.toMap, aliasMap.toMap,
      attrs.map { case (k, f) => k -> f.values.toMap }.toMap, subsetMap.toSeq))
    editing = true
    this
  }

  /** Add a member; with children, creates/links them with the given weights
    * (default 1.0). Unknown children are auto-created (≙ `dimension.py:2144`).
    */
  def add(member: String, children: Seq[String] = Nil, weights: Seq[Double] = Nil): Dimension = {
    require(editing, s"dimension '$name' not in edit mode — call edit()")
    val mid = getOrCreate(member)
    children.zipWithIndex.foreach { case (c, i) =>
      val cid = getOrCreate(c)
      val w = if (i < weights.length) weights(i) else 1.0
      val parent = defs(mid); val child = defs(cid)
      if (!parent.children.contains(cid)) parent.children += cid
      if (!child.parents.contains(mid)) child.parents += mid
      child.parentWeights(mid) = w
    }
    this
  }

  def addMany(members: Seq[String]): Dimension = { members.foreach(m => add(m)); this }

  /** Remove a member (edit mode). `commit()` automatically purges fact rows
    * addressing the removed member from every registered cube and refreshes
    * their broadcast closures (≙ commit-time fact deletion,
    * `dimension.py:1079-1081` → `facttable.py:375-420`) — without the purge,
    * identity-rollup elision would keep counting the orphan rows in top
    * cells while leaf selections exclude them.
    */
  def remove(member: String): Dimension = {
    require(editing, s"dimension '$name' not in edit mode")
    val mid = idOf(member)
    defs.foreach { m =>
      m.parents -= mid; m.children -= mid; m.parentWeights.remove(mid)
    }
    byName.remove(member.toLowerCase)
    aliasMap.filterInPlace((_, id) => id != mid) // aliases must not outlive the member
    attrs.values.foreach(_.values.remove(mid))
    defs(mid) = MutMember(mid, null) // tombstone; ids are stable
    this
  }

  /** Rename a member in place (edit mode; ≙ `rename_member`,
    * `dimension.py:1299`). Member ids are STABLE, so existing facts keep
    * addressing the member — only the name catalog moves; aliases and
    * attributes follow the id untouched. Name-stored references move with
    * it: static subsets listing the old name are rewritten (the reference
    * stores subset members by index, which survives renames — same
    * semantics, different mechanism).
    */
  def renameMember(member: String, newName: String): Dimension = {
    require(editing, s"dimension '$name' not in edit mode — call edit()")
    requireValidName(newName)
    val mid = idOf(member)
    val oldName = defs(mid).name
    val clash = byName.get(newName.toLowerCase)
    require(clash.forall(_ == mid),
      s"member '$newName' already exists in dimension '$name'")
    byName.remove(oldName.toLowerCase)
    defs(mid) = defs(mid).copy(name = newName)
    byName(newName.toLowerCase) = mid
    subsetMap.mapValuesInPlace {
      case (_, StaticSubset(sn, ms)) if ms.exists(_.equalsIgnoreCase(oldName)) =>
        StaticSubset(sn, ms.map(m => if (m.equalsIgnoreCase(oldName)) newName else m))
      case (_, s) => s
    }
    this
  }

  def commit(): Dimension = {
    require(editing, s"dimension '$name' not in edit mode")
    // Dimensions are driver-side catalogs whose closures broadcast to every
    // executor (ARCHITECTURE §1). That design holds to ~1e6 members (tens of
    // MB of closure); beyond it, model the key as a degenerate fact column
    // (plain `d<i>` values with no hierarchy — filters/groupBys need no
    // catalog) or pre-aggregate the grain before modeling.
    val live = defs.count(_.name != null)
    require(live <= Dimension.MaxMembers,
      s"dimension '$name' has $live members — above the ${Dimension.MaxMembers} " +
        "driver-catalog boundary; build it as Dimension.degenerate(name, prefix) " +
        "instead: members stay fact-column values, no catalog, no broadcast " +
        "closure (ARCHITECTURE.md §7)")
    if (live > Dimension.WarnMembers)
      System.err.println(s"[graft] dimension '$name': $live members — driver " +
        s"catalogs + broadcast closures get expensive past ${Dimension.WarnMembers}; " +
        "consider Dimension.degenerate(name, prefix) (ARCHITECTURE.md §7)")
    detectCycles()
    val levels = computeLevels()
    committed = defs.filter(_.name != null).map { m =>
      MemberDef(m.id, m.name, m.parents.toVector, m.children.toVector,
        m.parentWeights.toMap, levels(m.id), m.format)
    }.toVector
    byId = committed.map(m => m.id -> m).toMap
    closure = buildClosure(levels)
    // eager: publish the memo with the new closure so concurrent readers
    // never observe a stale identity set after a dimension edit
    identityCovers = computeIdentityCovers()
    closureIdx = new Dimension.ClosureIndex(closure)
    allParentsMap = buildAllParents()
    // members REMOVED by this edit: ids committed before the edit whose slot
    // is now a tombstone — their facts must not survive the commit
    val removedIds = editBackup.get._1.collect {
      case m if m.id >= defs.length || defs(m.id).name == null => m.id
    }
    editing = false
    editBackup = None
    // push the edit to every cube built over this dimension: purge facts of
    // removed members, refresh broadcast closures — BEFORE commit() returns,
    // so no read can ever observe the new hierarchy over unpurged facts (the
    // double-count window the manual-purgeUnknownMembers era had)
    liveCubes.foreach(_.onDimensionCommitted(this, removedIds))
    this
  }

  def rollback(): Dimension = {
    require(editing, s"dimension '$name' not in edit mode")
    val (snap, names, aliases, attrValues, subsets) = editBackup.get
    defs.clear(); byName.clear(); aliasMap.clear()
    snap.foreach { m =>
      while (defs.length <= m.id) defs += MutMember(defs.length, null)
      defs(m.id) = MutMember(m.id, m.name,
        mutable.ArrayBuffer(m.parents: _*), mutable.ArrayBuffer(m.children: _*),
        mutable.Map(m.parentWeights.toSeq: _*), m.format)
    }
    names.foreach { case (k, v) => byName(k) = v }
    aliases.foreach { case (k, v) => aliasMap(k) = v }
    attrs.foreach { case (k, f) =>
      f.values.clear()
      attrValues.get(k).foreach(_.foreach { case (id, v) => f.values(id) = v })
    }
    subsetMap.clear(); subsets.foreach { case (k, v) => subsetMap(k) = v }
    editing = false; editBackup = None
    this
  }

  /** Naming convention (≙ `tests/test_dimension.py` member_naming_
    * conventions): tabs / newlines / carriage returns are rejected — they
    * would corrupt CSV renders and dialect parsing; anything else (unicode
    * included) is a valid member name.
    */
  private def requireValidName(member: String): Unit =
    require(!member.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"invalid member name ${member.replace("\t", "\\t").replace("\n", "\\n")
        .replace("\r", "\\r")} in dimension '$name' — " +
        "tabs/newlines/carriage returns are not allowed")

  private def getOrCreate(member: String): Int =
    byName.getOrElse(member.toLowerCase, {
      requireValidName(member)
      val id = defs.length
      defs += MutMember(id, member)
      byName(member.toLowerCase) = id
      id
    })

  /** DFS cycle check over parent edges (≙ `dimension.py:2263-2275`). */
  private def detectCycles(): Unit = {
    val state = mutable.Map[Int, Int]().withDefaultValue(0) // 0 unseen, 1 open, 2 done
    def visit(id: Int, path: List[Int]): Unit = {
      state(id) match {
        case 1 => throw new IllegalArgumentException(
          s"circular reference in dimension '$name' via member '${defs(id).name}': " +
            path.reverse.map(defs(_).name).mkString(" -> "))
        case 2 =>
        case _ =>
          state(id) = 1
          defs(id).parents.foreach(p => visit(p, p :: path))
          state(id) = 2
      }
    }
    defs.indices.filter(defs(_).name != null).foreach(i => visit(i, List(i)))
  }

  /** Leaf level = 0; parent level = 1 + max(children levels). */
  private def computeLevels(): Array[Int] = {
    val levels = Array.fill(defs.length)(-1)
    def lv(id: Int): Int = {
      if (levels(id) >= 0) levels(id)
      else {
        val m = defs(id)
        val l = if (m.children.isEmpty) 0 else 1 + m.children.map(lv).max
        levels(id) = l; l
      }
    }
    defs.indices.filter(defs(_).name != null).foreach(lv)
    levels
  }

  /** Per member: leaf descendants with summed path-product weights
    * (≙ `dimension.py:2284-2294` + `782-827`). A leaf reachable via two
    * paths contributes the SUM of the per-path weight products.
    */
  private def buildClosure(levels: Array[Int]): Vector[ClosureRow] = {
    val memo = mutable.Map[Int, Map[Int, Double]]()
    def leavesOf(id: Int): Map[Int, Double] = memo.getOrElseUpdate(id, {
      val m = defs(id)
      if (m.children.isEmpty) Map(id -> 1.0)
      else {
        val acc = mutable.Map[Int, Double]().withDefaultValue(0.0)
        m.children.foreach { c =>
          val w = defs(c).parentWeights.getOrElse(id, 1.0)
          leavesOf(c).foreach { case (leaf, lw) => acc(leaf) += w * lw }
        }
        acc.toMap
      }
    })
    defs.indices.filter(defs(_).name != null).flatMap { id =>
      leavesOf(id).toSeq.sortBy(_._1).map { case (leaf, w) => ClosureRow(id, leaf, w) }
    }.toVector
  }

  private def buildAllParents(): Map[Int, Set[Int]] = {
    val memo = mutable.Map[Int, Set[Int]]()
    def up(id: Int): Set[Int] = memo.getOrElseUpdate(id,
      defs(id).parents.toSet ++ defs(id).parents.flatMap(up))
    defs.indices.filter(defs(_).name != null).map(i => i -> up(i)).toMap
  }

  // ---- committed read surface --------------------------------------------

  def members: Vector[MemberDef] = committed
  def memberCount: Int = committed.length
  /** Case-fold for lookups — allocation-free when the name is already
    * lowercase (the common case, and `idOf` sits on the point read/write
    * hot path); any char that would change under lowering falls back to
    * the full `toLowerCase` the insert side used.
    */
  private def foldCase(s: String): String = {
    // any surrogate takes the slow path: per-char Character.toLowerCase is
    // an identity on surrogate halves, so a supplementary-plane capital
    // (e.g. Deseret U+10400) would otherwise look "already lowercase" and
    // miss the String.toLowerCase key the insert side stored
    var i = 0
    while (i < s.length && {
      val c = s.charAt(i)
      !Character.isSurrogate(c) && Character.toLowerCase(c) == c
    }) i += 1
    if (i == s.length) s else s.toLowerCase
  }
  def contains(member: String): Boolean =
    if (isDegenerate) degIdOf(member).isDefined
    else { val k = foldCase(member); byName.contains(k) || aliasMap.contains(k) }
  def idOf(member: String): Int =
    if (isDegenerate) degIdOf(member).getOrElse(throw new NoSuchElementException(
      s"member '$member' does not parse in degenerate dimension '$name' " +
        s"(expected '${degenerateMode.get._1}<id>' or '${degenerateMode.get._2}')"))
    else {
      val k = foldCase(member)
      byName.getOrElse(k,
        aliasMap.getOrElse(k,
          throw new NoSuchElementException(s"unknown member '$member' in dimension '$name'")))
    }
  def apply(member: String): MemberDef = memberById(idOf(member))
  def memberById(id: Int): MemberDef =
    if (isDegenerate) degMember(id) else byId(id)
  def nameOf(id: Int): String = memberById(id).name
  /** The member with `id`, if the catalog holds it (a degenerate dimension
    * holds every raw key). */
  def memberOpt(id: Int): Option[MemberDef] =
    if (isDegenerate) Some(degMember(id)) else byId.get(id)
  def levelOf(id: Int): Int = memberById(id).level

  def leafMembers: Vector[MemberDef] = committed.filter(_.level == 0)
  def aggregatedMembers: Vector[MemberDef] = committed.filter(_.level > 0)
  def rootMembers: Vector[MemberDef] = committed.filter(_.parents.isEmpty)
  def membersByLevel(level: Int): Vector[MemberDef] = committed.filter(_.level == level)
  def topLevel: Int =
    if (isDegenerate) 1 else if (committed.isEmpty) 0 else committed.map(_.level).max
  def defaultMember: MemberDef =
    if (isDegenerate) degMember(Dimension.DegenerateAllId) else committed.head

  /** Full leaf-closure table (incl. leaf self-rows, weight 1.0). */
  def closureRows: Vector[ClosureRow] = closure

  /** The committed member catalog as a DataFrame — one row per
    * (member, parent) edge carrying the edge weight, plus one row per
    * parentless root (`parent` = '', `weight` = 0.0, so the frame is
    * null-free): `mname, level, parent, weight`. Dimension catalogs are
    * bounded driver-side structures (the 2M-member guard), so this is a
    * bounded `createDataFrame` — the relational face of ordinal/hierarchy
    * navigation (≙ member_* accessors, tinyolap `dimension.py:908-1010`),
    * joinable against grids and oracle-checkable.
    */
  def catalogDf(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    require(!isDegenerate, "degenerate dimensions have a virtual catalog")
    val rows = committed.flatMap { m =>
      if (m.parents.isEmpty) Vector((m.name, m.level, "", 0.0))
      else m.parents.map(p =>
        (m.name, m.level, nameOf(p), m.parentWeights.getOrElse(p, 1.0)))
    }
    spark.createDataFrame(rows).toDF("mname", "level", "parent", "weight")
  }

  /** True iff this member's closure covers EVERY current leaf exactly once
    * at weight 1.0 — aggregating over it is the IDENTITY rollup (the usual
    * top `All` member), so aggregation paths skip the closure join
    * entirely: no filter, no fan-out, no weight factor. False for leaves,
    * weighted/multi-parent covers, and degenerate dims (those use
    * [[Dimension.DegenerateAllId]]). Closure rows are one-per-(anc, leaf)
    * with leaf-only descendants, so a row count equal to the leaf count is
    * full coverage.
    */
  def coversAllLeavesUnit(id: Int): Boolean =
    !isDegenerate && levelOf(id) > 0 && {
      // memoized per closure build — this sits on the aggregation planning
      // hot path (per dimension per rollup/grid call), and a per-call
      // O(closure) scan would cost real driver time on §7-scale dims.
      // @volatile: read concurrently by interactive readers + the streaming
      // thread; the compute is idempotent, so a benign double-compute race
      // is fine, but a stale read past a commit() reset is not.
      if (identityCovers == null) identityCovers = computeIdentityCovers()
      identityCovers(id)
    }
  @volatile private var identityCovers: Set[Int] = null

  /** The closure grouped by ancestor, for the driver grid kernel's axes;
    * memoized per closure build like [[coversAllLeavesUnit]]'s set. */
  private[core] def closureIndex: Dimension.ClosureIndex = {
    if (closureIdx == null) closureIdx = new Dimension.ClosureIndex(closure)
    closureIdx
  }
  @volatile private var closureIdx: Dimension.ClosureIndex = null
  private def computeIdentityCovers(): Set[Int] = {
    val nLeaves = leafMembers.size
    closure.groupBy(_.anc).collect {
      case (anc, rows) if rows.size == nLeaves && rows.forall(_.weight == 1.0) => anc
    }.toSet
  }
  /** Leaf descendants of one member, with effective weights. */
  def leavesOf(member: String): Vector[ClosureRow] = {
    val id = idOf(member); closure.filter(_.anc == id)
  }
  def allParents(id: Int): Set[Int] = allParentsMap.getOrElse(id, Set.empty)

  // ---- attributes / aliases / subsets / formats ---------------------------

  def addAttribute(attrName: String, valueType: String = "string"): AttributeField = {
    val f = new AttributeField(attrName, valueType)
    attrs(attrName.toLowerCase) = f
    f
  }
  def attribute(attrName: String): AttributeField =
    attrs.getOrElse(attrName.toLowerCase,
      throw new NoSuchElementException(s"unknown attribute '$attrName' in dimension '$name'"))
  def hasAttribute(attrName: String): Boolean = attrs.contains(attrName.toLowerCase)
  def attributeNames: Seq[String] = attrs.values.map(_.name).toSeq
  def setAttribute(attrName: String, member: String, value: Any): Unit =
    attribute(attrName).set(idOf(member), value)
  def getAttribute(attrName: String, member: String): Option[String] =
    attribute(attrName).get(idOf(member))
  /** Members whose attribute equals `value` (≙ `dimension.py:1919-1938`). */
  def membersByAttribute(attrName: String, value: String): Seq[MemberDef] =
    attribute(attrName).values.collect { case (id, v) if v == value => memberById(id) }.toSeq

  def addAlias(alias: String, member: String): Unit = aliasMap(alias.toLowerCase) = idOf(member)

  /** Rename an attribute field, values intact (≙ `rename_attribute`,
    * `dimension.py:1878`). Not part of the edit transaction (matching the
    * reference) — so not while an edit is open, to keep rollback exact.
    */
  def renameAttribute(attrName: String, newName: String): Unit = {
    require(!editing,
      s"dimension '$name': attribute renames are not part of the edit " +
        "transaction — commit() or rollback() first")
    val f = attribute(attrName)
    require(!attrs.contains(newName.toLowerCase),
      s"attribute '$newName' already exists in dimension '$name'")
    attrs.remove(f.name.toLowerCase)
    val nf = new AttributeField(newName, f.valueType)
    nf.values ++= f.values
    attrs(newName.toLowerCase) = nf
  }

  /** Drop an attribute field and its values (≙ `Attributes.remove`,
    * `dimension.py:293`).
    */
  def removeAttribute(attrName: String): Unit = {
    require(!editing,
      s"dimension '$name': attribute removal is not part of the edit " +
        "transaction — commit() or rollback() first")
    require(attrs.remove(attrName.toLowerCase).isDefined,
      s"unknown attribute '$attrName' in dimension '$name'")
  }

  def addSubset(subsetName: String, members: Seq[String]): Unit =
    subsetMap(subsetName.toLowerCase) = StaticSubset(subsetName, members)
  def addAttributeSubset(subsetName: String, conditions: Seq[(String, String)]): Unit =
    subsetMap(subsetName.toLowerCase) = AttributeSubset(subsetName, conditions)
  def addCallableSubset(subsetName: String, fn: Dimension => Seq[String], volatileEval: Boolean = false): Unit =
    subsetMap(subsetName.toLowerCase) = new CallableSubset(subsetName, fn, volatileEval)
  /** Rename a subset in place (≙ `rename_subset`, `dimension.py:2013`). */
  def renameSubset(subsetName: String, newName: String): Unit = {
    require(!editing,
      s"dimension '$name': subset renames are not part of the edit " +
        "transaction — commit() or rollback() first")
    val s = subsetMap.getOrElse(subsetName.toLowerCase,
      throw new NoSuchElementException(s"unknown subset '$subsetName' in dimension '$name'"))
    require(!subsetMap.contains(newName.toLowerCase),
      s"subset '$newName' already exists in dimension '$name'")
    subsetMap.remove(subsetName.toLowerCase)
    subsetMap(newName.toLowerCase) = s.renamed(newName)
  }

  /** Drop a subset (≙ `Subsets.remove`, `dimension.py:623`). */
  def removeSubset(subsetName: String): Unit = {
    require(!editing,
      s"dimension '$name': subset removal is not part of the edit " +
        "transaction — commit() or rollback() first")
    require(subsetMap.remove(subsetName.toLowerCase).isDefined,
      s"unknown subset '$subsetName' in dimension '$name'")
  }

  def hasSubset(subsetName: String): Boolean = subsetMap.contains(subsetName.toLowerCase)
  def subset(subsetName: String): Seq[MemberDef] =
    subsetMap(subsetName.toLowerCase).resolve(this).map(memberById)
  def subsetNames: Seq[String] = subsetMap.values.map(_.name).toSeq

  def setFormat(member: String, format: String): Unit = setFormatOpt(member, Some(format))
  /** Remove a member's number format (renders fall back to the default). */
  def clearFormat(member: String): Unit = setFormatOpt(member, None)
  private def setFormatOpt(member: String, format: Option[String]): Unit = {
    val id = idOf(member)
    committed = committed.map(m => if (m.id == id) m.copy(format = format) else m)
    byId = byId.updated(id, byId(id).copy(format = format))
    if (id < defs.length && defs(id).name != null) defs(id).format = format
  }

  def member(memberName: String): Member = new Member(this, idOf(memberName))
}

/** Navigable pointer into a dimension (≙ `member.py:15`, navigation
  * `member.py:162-565`). Ordinal navigation follows committed member order.
  */
final class Member(val dimension: Dimension, val id: Int) {
  private def d: MemberDef = dimension.memberById(id)
  def name: String = d.name
  def level: Int = d.level
  def format: Option[String] = d.format
  def isLeaf: Boolean = d.level == 0
  def isRoot: Boolean = d.parents.isEmpty
  def isParent: Boolean = d.children.nonEmpty
  def isChild: Boolean = d.parents.nonEmpty

  private def ordinal: Int = dimension.members.indexWhere(_.id == id)
  def hasNext: Boolean = ordinal < dimension.members.length - 1
  def hasPrevious: Boolean = ordinal > 0
  def next: Member = { require(hasNext, s"no member after '$name'"); new Member(dimension, dimension.members(ordinal + 1).id) }
  def previous: Member = { require(hasPrevious, s"no member before '$name'"); new Member(dimension, dimension.members(ordinal - 1).id) }
  def first: Member = new Member(dimension, dimension.members.head.id)
  def last: Member = new Member(dimension, dimension.members.last.id)

  def parents: Seq[Member] = d.parents.map(new Member(dimension, _))
  def children: Seq[Member] = d.children.map(new Member(dimension, _))
  def parent: Member = { require(d.parents.nonEmpty, s"'$name' has no parent"); new Member(dimension, d.parents.head) }
  def up(i: Int = 0): Member = new Member(dimension, d.parents(i))
  def down(i: Int = 0): Member = new Member(dimension, d.children(i))
  def parentWeight(parentName: String): Double =
    d.parentWeights.getOrElse(dimension.idOf(parentName), 1.0)
  def leaves: Seq[Member] =
    dimension.closureRows.filter(r => r.anc == id && r.leaf != id).map(r => new Member(dimension, r.leaf))
  def roots: Seq[Member] = dimension.rootMembers.map(m => new Member(dimension, m.id))
  def allParents: Seq[Member] = dimension.allParents(id).toSeq.sorted.map(new Member(dimension, _))
  override def toString: String = s"${dimension.name}:$name"
}
