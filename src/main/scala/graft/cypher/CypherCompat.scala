package graft.cypher

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine execution of the reference's Cypher surface (S2/S3's
  * re-scope, completed): every Cypher string the reference issues
  * against Neo4j runs VERBATIM against the DataFrame catalog — the
  * migration story MIGRATION.md promises, made executable. The grammar
  * is exactly the one the reference uses (all cited, CypherCompatSpec
  * runs each literal string):
  *
  *  - node scans with property projection + aliases
  *    (`streaming_rec.py:140,156,229`, `distributed.py:222`)
  *  - inline-property node filters `(u:User{UserID:5})`
  *    (`streaming_rec.py:96`)
  *  - one-hop typed edge triples `(u:User)-[r:Rate]->(m:Movie)`
  *    (`spark_als.py:146`, `distributed.py:152`)
  *  - unlabeled / untyped variables `(User{UserID:5})-[Rate]->(m)`
  *    (`recommend.py:115`, `distributed.py:244`, `cold_rec.py:58`)
  *  - WITH + aggregation + WHERE on the aggregate
  *    (`cold_rec.py:58-61,71-74`)
  *  - RETURN aggregates with implicit grouping and ORDER BY … DESC
  *    (`cold_rec.py:58-61`)
  *  - SET property writes, unfiltered and key-filtered
  *    (`streaming_rec.py:74,102`)
  *  - MATCH … WITH … MERGE relationship upserts with properties
  *    (`recommend.py:89-91`, `distributed.py:282-284`)
  *  - edge DELETE (`streaming_rec.py:119`)
  *  - the report's console queries (`doc/课程报告.md:559-637`): path
  *    binding `p=()-[Rate]->()` with LIMIT (without ORDER BY the
  *    engine defines the sample deterministically — see the RETURN
  *    executor — so the console sample is reproducible, q130),
  *    whole-variable
  *    `RETURN u, r, m` (rendered as the connector flattens graph
  *    objects — one `v.Prop` column per property), non-key property
  *    filters `{Title:'…'}`, and global `COUNT(v)` / `AVG(r.Rating)`
  *
  * Neo4j semantics are preserved, including the reference's own latent
  * traps: a variable in label position (`(User)`) is a VARIABLE, not a
  * label — it matches any node and is narrowed only by its property
  * filter or the edge it rides; a bare `[Rate]` is an untyped edge
  * variable matching EVERY relationship type; and property names are
  * case-sensitive, so `u.interest` (`streaming_rec.py:231`) reads a
  * property that was only ever written as `u.Interest`
  * (`streaming_rec.py:74`) and returns null — exactly what the live
  * system does.
  *
  * Scale: a translated query IS a catalog DataFrame plan — node scans
  * are parquet-prunable scans, property filters push down, edge joins
  * are equi-joins on the key columns, aggregates are partial — so
  * Catalyst optimizes Cypher reads like any other catalog query.
  * Writes go through the same merge idiom as [[graft.io.Upsert]].
  */
/** A Cypher construct outside the supported grammar (VERDICT r10 item 6:
  * fail NAMED, with the migration pointer, not with a parse stack
  * trace). The message carries the construct, the offending fragment,
  * and where the idiomatic DataFrame rewrite lives. */
final class UnsupportedCypherException(construct: String, fragment: String)
    extends RuntimeException(
      s"unsupported Cypher construct: $construct in «$fragment» — this " +
        "surface executes exactly the reference's query shapes; see " +
        "MIGRATION.md §2's rewrite table for the idiomatic DataFrame " +
        "equivalent of each construct")

object CypherCompat {

  // ---- AST -------------------------------------------------------------

  private[cypher] final case class NodePat(
      v: Option[String], label: Option[String], props: Map[String, Any])
  private[cypher] final case class EdgePat(
      v: Option[String], tpe: Option[String], props: Map[String, Any])
  private[cypher] final case class Pattern(
      src: NodePat, edge: Option[EdgePat], dst: Option[NodePat],
      pathVar: Option[String] = None)

  private[cypher] sealed trait Item { def alias: String }
  /** `v.Prop [AS alias]` — alias defaults to the literal text, which is
    * what the Neo4j Spark connector names unaliased columns. */
  private[cypher] final case class PropItem(
      v: String, prop: String, as: Option[String]) extends Item {
    def alias: String = as.getOrElse(s"$v.$prop")
  }
  /** `COUNT(r) / AVG(r.Rating) AS alias`. */
  private[cypher] final case class AggItem(
      fn: String, v: String, prop: Option[String], as: Option[String])
      extends Item {
    def alias: String =
      as.getOrElse(s"$fn($v${prop.map("." + _).getOrElse("")})")
  }
  /** bare `m` in a WITH — carries the binding forward. */
  private[cypher] final case class VarItem(v: String) extends Item {
    def alias: String = v
  }

  private[cypher] sealed trait Clause
  private[cypher] final case class MatchC(pat: Pattern) extends Clause
  private[cypher] final case class WithC(
      items: Seq[Item], where: Option[(String, String, Double)]) extends Clause
  private[cypher] final case class ReturnC(
      items: Seq[Item], orderBy: Option[(String, Boolean)],
      limit: Option[Int] = None) extends Clause
  private[cypher] final case class SetC(
      v: String, prop: String, value: Any) extends Clause
  private[cypher] final case class MergeC(
      srcVar: String, edge: EdgePat, dstVar: String) extends Clause
  private[cypher] final case class DeleteC(v: String) extends Clause

  // ---- parser ----------------------------------------------------------

  private val ident = "[A-Za-z_][A-Za-z0-9_]*"

  private def unsupported(construct: String, fragment: String): Nothing =
    throw new UnsupportedCypherException(construct, fragment)

  /** Constructs the grammar deliberately does not cover, detected up
    * front (on the literal-masked text) so they fail by NAME with the
    * MIGRATION.md §2 rewrite, instead of mis-parsing — e.g. `OPTIONAL
    * MATCH` would otherwise scan as a bare MATCH with leading junk and
    * silently drop its optionality. Keyword detectors are anchored to
    * CLAUSE positions via [[isIdentifierUse]] (ADVICE r11): an alias,
    * property, or variable that happens to spell `call`/`union`/
    * `create`/`unwind` (e.g. `RETURN u.UserID AS call`) is an
    * identifier, not a clause, and must not trip the detector. */
  private val knownUnsupported: Seq[(String, scala.util.matching.Regex)] = Seq(
    "OPTIONAL MATCH (rewrite: left/left_anti join in the DataFrame API)" ->
      "(?i)\\bOPTIONAL\\s+MATCH\\b".r,
    "variable-length relationship pattern [*…] (rewrite: iterative joins — see rec.GraphPropagation)" ->
      "\\[[^\\]]*\\*[^\\]]*\\]".r,
    "collect() aggregation (rewrite: collect_list / collect_set)" ->
      "(?i)\\bCOLLECT\\s*\\(".r,
    "UNWIND (rewrite: explode)" -> "(?i)\\bUNWIND\\b".r,
    "CREATE (this store is populated from the catalog; writes go through MERGE/SET)" ->
      "(?i)\\bCREATE\\b".r,
    "UNION (rewrite: DataFrame unionByName)" -> "(?i)\\bUNION\\b".r,
    "CALL procedures (no procedure surface)" -> "(?i)\\bCALL\\b".r)

  /** True when the keyword match at [start, end) of the masked text sits
    * in an IDENTIFIER position, where a clause keyword cannot begin: as
    * an alias (`AS call`), a property name (`u.call`), a variable read
    * with its property or label (`call.Prop`, `(call:User)`), or a
    * variable opening a node pattern (`(call)`). Clause keywords are
    * only flagged where a clause can actually start. */
  private[cypher] def isIdentifierUse(
      masked: String, start: Int, end: Int): Boolean = {
    val before = masked.substring(0, start)
    val after = masked.substring(end)
    val aliasPos = "(?i)\\bAS\\s*$".r.findFirstIn(before).isDefined
    val propertyPos = before.trim.endsWith(".")
    val patternVarPos = before.trim.endsWith("(")
    val varWithSuffix = after.headOption.exists(c => c == '.' || c == ':')
    aliasPos || propertyPos || patternVarPos || varWithSuffix
  }

  /** Collapse whitespace runs to single spaces OUTSIDE single-quoted
    * literals only — a property value's internal spacing is data, not
    * syntax. */
  private[cypher] def normalizeOutsideQuotes(s: String): String = {
    val sb = new StringBuilder
    var inQ = false; var lastWs = false
    s.foreach { ch =>
      if (inQ) { sb.append(ch); if (ch == '\'') inQ = false }
      else if (ch == '\'') { sb.append(ch); inQ = true; lastWs = false }
      else if (ch.isWhitespace) { if (!lastWs) sb.append(' '); lastWs = true }
      else { sb.append(ch); lastWs = false }
    }
    sb.toString.trim
  }

  /** Same length as `s`, with every character inside single-quoted
    * literals replaced by NUL — keyword/structure scans run on THIS so a
    * property value like `'The Match'` or `'limit 5'` can never split a
    * clause (ADVICE r10), while offsets stay valid into the original. */
  private[cypher] def maskQuotes(s: String): String = {
    val sb = new StringBuilder(s)
    var inQ = false
    s.indices.foreach { i =>
      val ch = s.charAt(i)
      if (inQ) { if (ch == '\'') inQ = false else sb.setCharAt(i, '\u0000') }
      else if (ch == '\'') inQ = true
    }
    sb.toString
  }

  private def parseValue(s: String): Any = {
    val t = s.trim
    if (t.startsWith("'")) t.stripPrefix("'").stripSuffix("'")
    else if (t.matches("-?[0-9]+")) t.toLong
    else t.toDouble
  }

  private def parseProps(s: String): Map[String, Any] =
    if (s == null || s.trim.isEmpty) Map.empty
    else s"($ident)\\s*:\\s*('[^']*'|[-0-9.eE]+)".r
      .findAllMatchIn(s)
      .map(m => m.group(1) -> parseValue(m.group(2)))
      .toMap

  /** `(v:Label{props})` with every part optional. A name with NO colon
    * is a VARIABLE (Neo4j), even when the author meant it as a label. */
  private def parseNode(s: String): NodePat = {
    val re = s"^\\(\\s*($ident)?\\s*(?::\\s*($ident))?\\s*(\\{[^}]*\\})?\\s*\\)$$".r
    s.trim match {
      case re(v, label, props) =>
        NodePat(Option(v), Option(label), parseProps(Option(props).getOrElse("")))
      case other => unsupported("node pattern", other)
    }
  }

  private def parseEdge(s: String): EdgePat = {
    val re = s"^\\[\\s*($ident)?\\s*(?::\\s*($ident))?\\s*(\\{[^}]*\\})?\\s*\\]$$".r
    s.trim match {
      case re(v, tpe, props) =>
        EdgePat(Option(v), Option(tpe), parseProps(Option(props).getOrElse("")))
      case other => unsupported("edge pattern", other)
    }
  }

  private def parsePattern(s: String): Pattern = {
    // optional path binding: `p=(…)-[…]->(…)` (doc/课程报告.md:559)
    val bound = s"^($ident)\\s*=\\s*(.*)$$".r
    val (pathVar, body) = s.trim match {
      case bound(p, rest) => (Some(p), rest.trim)
      case other          => (None, other)
    }
    val hop = "^(\\([^)]*\\))\\s*-\\s*(\\[[^\\]]*\\])\\s*->\\s*(\\([^)]*\\))$".r
    body match {
      case hop(a, e, b) =>
        Pattern(parseNode(a), Some(parseEdge(e)), Some(parseNode(b)), pathVar)
      case node => Pattern(parseNode(node), None, None, pathVar)
    }
  }

  private def parseItem(s: String): Item = {
    // fn names and AS are case-insensitive (Neo4j); identifiers stay
    // case-sensitive
    val agg = s"(?i:(COUNT|AVG|SUM|MIN|MAX))\\s*\\(\\s*($ident)(?:\\.($ident))?\\s*\\)(?:\\s+(?i:AS)\\s+($ident))?$$".r
    val prop = s"^($ident)\\.($ident)(?:\\s+(?i:AS)\\s+($ident))?$$".r
    val bare = s"^($ident)$$".r
    s.trim match {
      case agg(fn, v, p, as) => AggItem(fn.toUpperCase, v, Option(p), Option(as))
      case prop(v, p, as)    => PropItem(v, p, Option(as))
      case bare(v)           => VarItem(v)
      case other             => unsupported("projection item", other)
    }
  }

  private def splitItems(s: String): Seq[Item] =
    s.split(",").map(parseItem).toSeq

  /** The clause scanner: the surface's clauses all start with one of
    * seven keywords at top level, so splitting on them is a full parse
    * for this grammar. */
  private[cypher] def parse(query: String): Seq[Clause] = {
    val q = normalizeOutsideQuotes(query).stripSuffix(";").trim
    val masked = maskQuotes(q)
    knownUnsupported.foreach { case (name, re) =>
      if (re.findAllMatchIn(masked).exists(m =>
        !isIdentifierUse(masked, m.start, m.end))) unsupported(name, q)
    }
    val kw = "(?i)\\b(MATCH|WITH|WHERE|RETURN|SET|MERGE|DELETE|ORDER BY|LIMIT)\\b".r
    // clause keywords are located on the MASKED text (a literal cannot
    // open a clause), then bodies are cut from the original
    val ms = kw.findAllMatchIn(masked).toSeq
    if (ms.isEmpty) unsupported("no recognizable clause", q)
    if (q.substring(0, ms.head.start).trim.nonEmpty)
      unsupported(
        s"text before the first clause keyword", q.substring(0, ms.head.start).trim)
    val parts = ms.zipWithIndex.map { case (m, i) =>
      val end = if (i + 1 < ms.size) ms(i + 1).start else q.length
      (m.group(1).toUpperCase, q.substring(m.end, end).trim)
    }
    // fold WHERE into the preceding WITH, ORDER BY into the RETURN
    val out = scala.collection.mutable.ArrayBuffer.empty[Clause]
    parts.foreach {
      case ("MATCH", body) => out += MatchC(parsePattern(body))
      case ("WITH", body)  => out += WithC(splitItems(body), None)
      case ("WHERE", body) =>
        val cmp = s"^($ident)\\s*(<|>|<=|>=|=)\\s*(-?[0-9.]+)$$".r
        body match {
          case cmp(a, op, n) =>
            val w = (a, op, n.toDouble)
            out(out.size - 1) = out.last match {
              case WithC(items, None) => WithC(items, Some(w))
              case other => unsupported("WHERE in this position (only after a WITH)", body)
            }
          case other => unsupported("WHERE predicate (only <alias> <cmp> <number>)", other)
        }
      case ("RETURN", body) => out += ReturnC(splitItems(body), None)
      case ("ORDER BY", body) =>
        val ob = s"^($ident)(?:\\s+((?i:ASC|DESC)))?$$".r
        body match {
          case ob(a, dir) =>
            out(out.size - 1) = out.last match {
              case ReturnC(items, None, lim) =>
                ReturnC(items,
                  Some((a, dir != null && dir.equalsIgnoreCase("DESC"))), lim)
              case other => unsupported("ORDER BY in this position (only after a RETURN)", body)
            }
          case other => unsupported("ORDER BY expression (only <alias> [ASC|DESC])", other)
        }
      case ("LIMIT", body) =>
        out(out.size - 1) = out.last match {
          case ReturnC(items, ob, None) => ReturnC(items, ob, Some(body.trim.toInt))
          case other => unsupported("LIMIT in this position (only after a RETURN)", body)
        }
      case ("SET", body) =>
        val re = s"^($ident)\\.($ident)\\s*=\\s*('[^']*'|[-0-9.eE]+)$$".r
        body match {
          case re(v, p, value) => out += SetC(v, p, parseValue(value))
          case other => unsupported("SET form (only <var>.<Prop> = <literal>)", other)
        }
      case ("MERGE", body) =>
        val re = s"^\\(\\s*($ident)\\s*\\)\\s*-\\s*(\\[[^\\]]*\\])\\s*->\\s*\\(\\s*($ident)\\s*\\)$$".r
        body match {
          case re(a, e, b) => out += MergeC(a, parseEdge(e), b)
          case other => unsupported("MERGE form (only (a)-[:T{props}]->(b) over bound vars)", other)
        }
      case ("DELETE", body) => out += DeleteC(body.trim)
      case (k, _) => unsupported("clause", k)
    }
    out.toSeq
  }
}

/** Execution env threaded through a query's clauses: bound rows
  * (`v__key` columns for nodes, `v__*` for edge vars) + node/edge var
  * bindings. */
private final case class Env(
    df: Option[DataFrame],
    nodeVars: Map[String, String],        // var -> label
    edgeVars: Map[String, Seq[String]],   // var -> matched types
    pathVars: Map[String, String] = Map.empty) { // path var -> its edge var

  def join(frag: DataFrame, shared: Seq[String]): DataFrame = df match {
    case None => frag
    case Some(cur) =>
      if (shared.isEmpty) cur.crossJoin(frag)
      else cur.join(frag, shared)
  }
}

/** The mutable graph store the Cypher surface executes against: one
  * DataFrame per node label (columns named by Cypher property, keyed by
  * `keyProp`) and one per relationship type (`__src`, `__dst` + property
  * columns). [[graft.cypher.MovieGraph]] builds the reference's
  * User/Movie/Rate shape from the engine's ratings view.
  */
final class CypherGraph(
    val spark: SparkSession,
    private var nodes: Map[String, (String, DataFrame)],
    private var edges: Map[String, (String, String, DataFrame)]) {

  import CypherCompat._

  private[cypher] def node(label: String): (String, DataFrame) = nodes(label)

  /** current edge table for `tpe` (empty, schema-bearing when absent). */
  private def edgeDf(tpe: String, props: Seq[String]): DataFrame =
    edges.get(tpe).map(_._3).getOrElse {
      val base = spark.range(0).select(col("id").as("__src"),
        col("id").as("__dst"))
      props.foldLeft(base)((d, p) => d.withColumn(p, lit(null).cast("double")))
    }

  // ---- execution state -------------------------------------------------

  /** Swap an updated node/edge table into the store without accumulating
    * state (ADVICE r10: each write used to stack `updated.cache()` on
    * the previous cached table, so the reference's per-event-batch SET
    * pattern — `streaming_rec.py` issues one per user per batch — grew
    * cached copies AND lineage without bound in a long-lived driver).
    * The new table is materialized eagerly as a fresh checkpoint leaf
    * ([[graft.Lineage.checkpointLeaf]]), so lineage depth and planning
    * cost stay O(1) in the number of writes; the prior table is
    * unpersisted (no-op unless it was cached), and its checkpoint
    * blocks are reclaimed by the ContextCleaner once the old plan is
    * unreferenced. */
  private def swapIn(old: DataFrame, updated: DataFrame): DataFrame = {
    val fresh = graft.Lineage.checkpointLeaf(updated)
    old.unpersist()
    fresh
  }

  private def keyCol(v: String) = s"${v}__key"

  /** Resolve which label an (un)labeled node pattern scans: explicit
    * label wins; else a property filter names it (UserID → the label
    * whose key it is); else the edge's endpoint (caller passes it). */
  private def resolve(pat: NodePat, fromEdge: Option[String]): Option[String] =
    pat.label
      .orElse(pat.props.keys.flatMap(p =>
        nodes.collectFirst { case (l, (k, _)) if k == p => l }).headOption)
      .orElse(fromEdge)

  /** Node-scan fragment: the key column (named for the var) filtered by
    * the inline props. Unbound (var-less, prop-less) nodes contribute
    * nothing — the edge carries their keys. */
  private def nodeFrag(pat: NodePat, label: String): Option[DataFrame] =
    pat.v.map { v =>
      val (key, df) = nodes(label)
      pat.props.foldLeft(df)((d, kv) =>
          d.where(col(kv._1) === lit(kv._2)))
        .select(col(key).as(keyCol(v)))
    }

  private def matchFrag(env: Env, pat: Pattern): Env = pat match {
    case Pattern(n, None, None, _) =>
      val label = resolve(n, None).getOrElse(
        sys.error(s"cannot resolve label for $n"))
      val v = n.v.getOrElse(sys.error(s"unbound single-node match: $n"))
      val frag = nodeFrag(n, label).get
      val shared = env.df.map(_.columns.toSeq.intersect(frag.columns.toSeq))
        .getOrElse(Nil)
      Env(Some(env.join(frag, shared)),
        env.nodeVars + (v -> label), env.edgeVars)

    case Pattern(sn, Some(e0), Some(dn), _) =>
      // a path binding needs the edge columns: give a var-less edge the
      // path's name (a named edge keeps its own; the path aliases it)
      val e = pat.pathVar match {
        case Some(p) if e0.v.isEmpty => e0.copy(v = Some(p))
        case _ => e0
      }
      // candidate types: the explicit one, or (untyped edge VARIABLE —
      // Neo4j semantics) every type whose endpoints are consistent
      val types = e.tpe.map(Seq(_)).getOrElse {
        edges.keys.toSeq.sorted.filter { t =>
          val (sl, dl, _) = edges(t)
          resolve(sn, Some(sl)).contains(sl) && resolve(dn, Some(dl)).contains(dl)
        }
      }
      require(types.nonEmpty, s"no relationship type matches $pat")
      val propCols = types.flatMap(t => edges(t)._3.columns.toSeq)
        .distinct.filterNot(Set("__src", "__dst"))
      val sv = sn.v; val dv = dn.v
      val frags = types.map { t =>
        val (sl, dl, ed) = edges(t)
        var d = ed
        propCols.foreach(p =>
          if (!d.columns.contains(p)) d = d.withColumn(p, lit(null).cast("double")))
        // inline edge property filters `-[r:Rate{Rating:5}]->` (ADVICE
        // r10: parsed but silently unapplied — a silent full scan).
        // Neo4j semantics: a type that never carries the property has it
        // null on every row, and null ≠ value filters everything out —
        // which is exactly what comparing the null-padded column does.
        e.props.foreach { case (k, value) =>
          d = if (propCols.contains(k)) d.where(col(k) === lit(value))
              else d.where(lit(false)) // no type carries the property
        }
        var out = d.select(
          (col("__src").as(sv.map(keyCol).getOrElse("__src")) +:
           col("__dst").as(dv.map(keyCol).getOrElse("__dst")) +:
           propCols.map(p => col(p).as(e.v.map(v => s"${v}__$p").getOrElse(p)))) ++
          e.v.toSeq.flatMap(v => Seq(lit(t).as(s"${v}__type"),
            col("__src").as(s"${v}__src"), col("__dst").as(s"${v}__dst"))): _*)
        // node-side inline property filters ride the key columns
        sn.props.foreach { case (k, value) =>
          val (key, ndf) = nodes(sl)
          out =
            if (k == key) out.where(col(sv.map(keyCol).getOrElse("__src")) === lit(value))
            else out.join(ndf.where(col(k) === lit(value))
              .select(col(key).as(sv.map(keyCol).getOrElse("__src"))),
              Seq(sv.map(keyCol).getOrElse("__src")))
        }
        dn.props.foreach { case (k, value) =>
          val (key, ndf) = nodes(dl)
          out =
            if (k == key) out.where(col(dv.map(keyCol).getOrElse("__dst")) === lit(value))
            else out.join(ndf.where(col(k) === lit(value))
              .select(col(key).as(dv.map(keyCol).getOrElse("__dst"))),
              Seq(dv.map(keyCol).getOrElse("__dst")))
        }
        out
      }
      val frag = frags.reduce(_ unionByName _)
        .drop("__src").drop("__dst")
      val shared = env.df.map(_.columns.toSeq.intersect(frag.columns.toSeq))
        .getOrElse(Nil)
      val nv = Seq(sv.flatMap(v => types.headOption.map(t => v -> edges(t)._1)),
                   dv.flatMap(v => types.headOption.map(t => v -> edges(t)._2)))
        .flatten.toMap
      Env(Some(env.join(frag, shared)), env.nodeVars ++ nv,
        env.edgeVars ++ e.v.map(_ -> types).toMap,
        env.pathVars ++ pat.pathVar.map(p => p -> e.v.get).toMap)

    case other => sys.error(s"unsupported pattern: $other")
  }

  /** `v.Prop` as a Column over the env: node key props read the bound
    * key column; other node props join the label's table (CASE-
    * SENSITIVE — an unknown property is null, exactly Neo4j); edge
    * props read the edge fragment's columns. Returns the possibly
    * prop-joined df plus the column. */
  private def propCol(env: Env, df: DataFrame, v: String, prop: String)
      : (DataFrame, Column) =
    env.nodeVars.get(v) match {
      case Some(label) =>
        val (key, ndf) = nodes(label)
        if (prop == key) (df, col(keyCol(v)))
        else if (!ndf.columns.contains(prop)) (df, lit(null))
        else {
          val pcol = s"${v}__$prop"
          if (df.columns.contains(pcol)) (df, col(pcol))
          else (df.join(ndf.select(col(key).as(keyCol(v)), col(prop).as(pcol)),
            Seq(keyCol(v)), "left"), col(pcol))
        }
      case None if env.edgeVars.contains(v) =>
        val pcol = s"${v}__$prop"
        if (df.columns.contains(pcol)) (df, col(pcol)) else (df, lit(null))
      case None => sys.error(s"unbound variable: $v")
    }

  /** Evaluate WITH/RETURN items (with implicit Cypher grouping when any
    * aggregate appears) and project to the item aliases + retained
    * binding keys. In `terminal` (RETURN) position a bare variable
    * renders the way the Neo4j connector flattens graph objects: a node
    * as one `v.Prop` column per property of its label (key first), an
    * edge as `v.type` + its properties, a path as `v.src` / `v.type` /
    * `v.dst` + the edge's properties. */
  private def project(env: Env, items: Seq[Item],
                      terminal: Boolean = false): Env = {
    var df = env.df.getOrElse(sys.error("projection with no MATCH"))
    val aggs = items.collect { case a: AggItem => a }
    val plain = items.filterNot(_.isInstanceOf[AggItem])

    /** a bare edge var's rendered columns: type + its property cols. */
    def edgeCols(as: String, v: String): Seq[(String, Column)] =
      (s"$as.type" -> col(s"${v}__type")) +:
        df.columns.toSeq
          .filter(c => c.startsWith(s"${v}__") &&
            !Set(s"${v}__type", s"${v}__src", s"${v}__dst").contains(c))
          .map(c => s"$as.${c.stripPrefix(s"${v}__")}" -> col(c))

    def expand(it: Item): Seq[(String, Column)] = it match {
      case PropItem(v, p, _) =>
        val (d2, c) = propCol(env, df, v, p); df = d2
        Seq(it.alias -> c)
      case VarItem(v) if !terminal => Seq(it.alias -> col(keyCol(v)))
      case VarItem(v) if env.nodeVars.contains(v) =>
        val label = env.nodeVars(v)
        val (key, ndf) = nodes(label)
        (s"$v.$key" -> col(keyCol(v))) +:
          ndf.columns.toSeq.filterNot(_ == key).map { p =>
            val (d2, c) = propCol(env, df, v, p); df = d2
            s"$v.$p" -> c
          }
      case VarItem(v) if env.pathVars.contains(v) =>
        val ev = env.pathVars(v)
        Seq(s"$v.src" -> col(s"${ev}__src"),
            s"$v.dst" -> col(s"${ev}__dst")) ++ edgeCols(v, ev)
      case VarItem(v) if env.edgeVars.contains(v) => edgeCols(v, v)
      case VarItem(v) => sys.error(s"unbound variable: $v")
      case a: AggItem => sys.error(s"aggregate in plain position: $a")
    }
    val plainCols = plain.flatMap(it => expand(it).map { case (a, c) =>
      (it, a, c)
    })

    val out =
      if (aggs.isEmpty)
        df.select(plainCols.map { case (_, a, c) => c.as(a) }: _*)
      else {
        val aggCols = aggs.map { a =>
          val base = a.prop match {
            case Some(p) =>
              val (d2, c) = propCol(env, df, a.v, p); df = d2; c
            // COUNT(r) over an edge variable counts matched
            // relationships; over a node variable, matched nodes
            case None if env.edgeVars.contains(a.v) => col(s"${a.v}__src")
            case None => col(keyCol(a.v))
          }
          (a.fn match {
            case "COUNT" => count(base)
            case "AVG"   => avg(base)
            case "SUM"   => sum(base)
            case "MIN"   => min(base)
            case "MAX"   => max(base)
          }).as(a.alias)
        }
        if (plainCols.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
        else df.groupBy(plainCols.map { case (_, a, c) => c.as(a) }: _*)
          .agg(aggCols.head, aggCols.tail: _*)
      }
    // bindings that survive: node vars carried as bare items; their key
    // column keeps its env name so later MATCHes re-join on it
    val kept = plain.collect { case VarItem(v) => v }.toSet
    val renamed =
      if (terminal) out
      else kept.foldLeft(out)((d, v) => d.withColumnRenamed(v, keyCol(v)))
    Env(Some(renamed), env.nodeVars.view.filterKeys(kept).toMap, Map.empty)
  }

  // ---- public API ------------------------------------------------------

  /** Run a READ query (MATCH/WITH/WHERE/RETURN), returning the result
    * exactly as the Neo4j Spark connector would name it. */
  def read(query: String): DataFrame = {
    var env = Env(None, Map.empty, Map.empty)
    var result: Option[DataFrame] = None
    CypherCompat.parse(query).foreach {
      case MatchC(p) => env = matchFrag(env, p)
      case WithC(items, where) =>
        env = project(env, items)
        where.foreach { case (a, op, n) =>
          val c = op match {
            case "<"  => col(a) < n
            case ">"  => col(a) > n
            case "<=" => col(a) <= n
            case ">=" => col(a) >= n
            case "="  => col(a) === n
          }
          env = env.copy(df = env.df.map(_.where(c)))
        }
      case ReturnC(items, orderBy, limit) =>
        val projected = project(env, items, terminal = true).df.get
        val ordered = (orderBy, limit) match {
          case (Some((a, desc)), _) =>
            projected.orderBy(if (desc) col(a).desc else col(a).asc)
          case (None, Some(_)) =>
            // Engine semantics decision: Cypher's LIMIT without ORDER BY
            // returns "arbitrary" rows — Neo4j in practice yields store
            // (insertion) order, which for a batch-loaded graph is the
            // load file's key order. We DEFINE the sample as the first n
            // rows in lexicographic order of the rendered columns (for
            // an edge/path scan that is (src, dst, …) = insertion order
            // of the sorted ratings file), making the console sample
            // reproducible and therefore oracle-checkable (q130).
            // Catalyst compiles sort+limit to TakeOrderedAndProject — a
            // per-partition top-n plus a driver merge of n-row partials,
            // never a global sort, so determinism costs O(n) per task.
            projected.orderBy(
              projected.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
          case (None, None) => projected
        }
        result = Some(limit.foldLeft(ordered)((d, n) => d.limit(n)))
      case other => sys.error(s"write clause in read(): $other")
    }
    result.getOrElse(sys.error("query has no RETURN"))
  }

  /** Run a WRITE query (SET / MERGE / DELETE after MATCH/WITH). */
  def write(query: String): Unit = {
    var env = Env(None, Map.empty, Map.empty)
    CypherCompat.parse(query).foreach {
      case MatchC(p) => env = matchFrag(env, p)
      case WithC(items, None) => env = project(env, items)
      case SetC(v, prop, value) =>
        val label = env.nodeVars(v)
        val (key, ndf) = nodes(label)
        val matched = env.df.get.select(col(keyCol(v)).as(key)).distinct()
          .withColumn("__hit", lit(1))
        val lv: Column = value match {
          case s: String => lit(s)
          case l: Long   => lit(l)
          case d: Double => lit(d)
        }
        val updated0 = ndf.join(broadcast(matched), Seq(key), "left")
        val updated =
          (if (ndf.columns.contains(prop))
            updated0.withColumn(prop,
              when(col("__hit").isNotNull, lv).otherwise(col(prop)))
          else
            updated0.withColumn(prop,
              when(col("__hit").isNotNull, lv))).drop("__hit")
        nodes += label -> (key, swapIn(ndf, updated))
      case MergeC(sv, e, dv) =>
        val tpe = e.tpe.getOrElse(sys.error("MERGE needs a relationship type"))
        val (sl, dl) = (env.nodeVars(sv), env.nodeVars(dv))
        val props = e.props.toSeq.sortBy(_._1)
        val pairs = props.foldLeft(
          env.df.get.select(col(keyCol(sv)).as("__src"),
            col(keyCol(dv)).as("__dst")).distinct()) {
          case (d, (k, value)) => d.withColumn(k, value match {
            case s: String => lit(s)
            case l: Long   => lit(l.toDouble)
            case x: Double => lit(x)
          })
        }
        // MERGE matches the WHOLE pattern incl. properties: an edge with
        // the same endpoints but a different Score is NOT a match and a
        // second edge is created (why the reference's own comment DELETEs
        // Recommend edges before re-merging — streaming_rec.py:119)
        val existing = edgeDf(tpe, props.map(_._1))
        val merged = existing.unionByName(
          pairs.join(existing, pairs.columns.toSeq, "left_anti"),
          allowMissingColumns = true)
        edges += tpe -> (sl, dl, swapIn(existing, merged))
      case DeleteC(v) =>
        val types = env.edgeVars.getOrElse(v, sys.error(s"unbound edge var: $v"))
        types.foreach { t =>
          val (sl, dl, ed) = edges(t)
          val dead = env.df.get.where(col(s"${v}__type") === t)
            .select(col(s"${v}__src"), col(s"${v}__dst")).distinct()
          edges += t -> (sl, dl, swapIn(ed,
            ed.join(dead.select(col(s"${v}__src").as("__src"),
              col(s"${v}__dst").as("__dst")), Seq("__src", "__dst"),
              "left_anti")))
        }
      case other => sys.error(s"unsupported clause in write(): $other")
    }
  }
}

/** The reference's graph shape (User, Movie, Rate — SURVEY §1.1) over
  * the engine's ratings view, so the literal Cypher strings from the
  * reference run against real catalog data. */
object MovieGraph {
  def apply(spark: SparkSession, sfDir: String): CypherGraph = {
    val r = graft.rec.Ratings.view(spark, sfDir)
      .select(col("user_id"), col("item_id"), col("rating")).cache()
    val users = r.select(col("user_id").as("UserID")).distinct()
    // Title from the part dimension — the fixture's movie title
    // (FIXTURES.md item ≙ part), so title-filtered Cypher
    // (doc/课程报告.md:591) matches real rows
    val movies = r.select(col("item_id").as("MovieID")).distinct()
      .join(graft.Tables.part(spark, sfDir)
        .select(col("p_partkey").as("MovieID"), col("p_name").as("Title")),
        Seq("MovieID"), "left")
    val rate = r.select(col("user_id").as("__src"),
      col("item_id").as("__dst"), col("rating").as("Rating"))
    new CypherGraph(spark,
      Map("User" -> ("UserID", users), "Movie" -> ("MovieID", movies)),
      Map("Rate" -> ("User", "Movie", rate)))
  }
}
