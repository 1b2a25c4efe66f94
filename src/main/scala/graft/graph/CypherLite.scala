package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Regex-parsed Cypher subset → DataFrame plan, mirroring the reference's
  * `GraphDB.query` (jcolano/fastpyvectordb `graph.py:950-1111`):
  *
  *   MATCH (a:Label {prop: value})                       — node pattern
  *   MATCH (a:L1)-[:TYPE]->(b:L2)                        — one-hop pattern
  *   MATCH (a:L1)-[:TYPE*min..max]->(b:L2)               — var-length
  *   [WHERE var.prop <op> value]  op ∈ = <> < > <= >=
  *   RETURN var | var.prop [, ...]
  *   [ORDER BY item] [LIMIT n]       — graft extension for determinism
  *
  * Compilation: node pattern = filter on the nodes DF; relationship =
  * nodes ⋈ edges ⋈ nodes; the reach between the two node patterns is
  * `GraphOps.expand` from the `a` side, one hop per step up to the bound,
  * never a recursive fixpoint, and the union of the hops in the range.
  * It runs in the caller's session, adaptive if the caller's is: the
  * final `a ⋈ pairs ⋈ b` joins have no measured size, and adaptive
  * execution broadcasts their small sides at run time.
  */
object CypherLite {

  private val NodePat =
    """\(\s*(\w+)\s*(?::(\w+))?\s*(\{[^}]*\})?\s*\)""".r
  private val RelPat =
    (NodePat.regex + """\s*-\[\s*(?::(\w+))?\s*(?:\*(\d+)\.\.(\d+))?\s*\]->\s*""" +
      NodePat.regex).r
  private val WherePat =
    """WHERE\s+(.+?)\s*(?=RETURN)""".r
  private val CondPat =
    """(\w+)\.(\w+)\s*(=|<>|<=|>=|<|>)\s*(\S+)""".r
  private val ReturnPat = """RETURN\s+(.+?)\s*(?:ORDER BY\s+(.+?)\s*)?(?:LIMIT\s+(\d+)\s*)?$""".r

  private def parseValue(s: String): Any = {
    val t = s.trim
    if (t.startsWith("'") && t.endsWith("'")) t.substring(1, t.length - 1)
    else if (t.contains('.')) t.toDouble
    else t.toLong
  }

  private def parseProps(s: String): Map[String, Any] =
    if (s == null || s.isEmpty) Map.empty
    else
      s.stripPrefix("{").stripSuffix("}").split(",").filter(_.trim.nonEmpty)
        .map { kv =>
          val Array(k, v) = kv.split(":", 2)
          k.trim -> parseValue(v)
        }.toMap

  private def nodeDf(g: Graph, label: String, props: Map[String, Any]): DataFrame = {
    val base = Option(label).filter(_.nonEmpty)
      .map(l => g.nodes.filter(col("label") === l)).getOrElse(g.nodes)
    props.foldLeft(base) { case (df, (k, v)) => df.filter(col(k) === lit(v)) }
  }

  /** Prefix every column with `var_`. */
  private def prefixed(df: DataFrame, v: String): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"${v}_$c"))

  def query(g: Graph, cypher: String): DataFrame = {
    val q = cypher.trim.replaceAll("\\s+", " ")
    require(q.toUpperCase.startsWith("MATCH "), s"only MATCH supported: $q")
    val body = q.substring(6)

    // Bound variable frame: var -> prefixed node DF joined into `rows`.
    var rows: DataFrame = null
    var vars: Set[String] = Set.empty

    RelPat.findFirstMatchIn(body) match {
      case Some(m) =>
        val (va, la, pa) = (m.group(1), m.group(2), m.group(3))
        val (relType, minH, maxH) = (m.group(4), m.group(5), m.group(6))
        val (vb, lb, pb) = (m.group(7), m.group(8), m.group(9))
        val a = prefixed(nodeDf(g, la, parseProps(pa)), va)
        val b = prefixed(nodeDf(g, lb, parseProps(pb)), vb)
        val (lo, hi) = if (minH != null) (minH.toInt, maxH.toInt) else (1, 1)
        require(lo <= hi, s"empty hop range *$lo..$hi")
        // Var-length reach is seeded from the (already filtered) `a`
        // side and expanded frontier-by-frontier — never a global
        // transitive materialization: when the pattern pins `a` (e.g.
        // {id: 'x'}) each hop joins a tiny frontier against edges
        // (19 s -> sub-second on the sf0.1 2-hop query). The edge side
        // reads the builder's PERSISTED edge cache directly: it already
        // serves repeated column-pruned scans, and a per-query checkpoint
        // would copy the whole edge table into fresh storage every call.
        // The seed holds one row per distinct `a` id, so the graph's
        // node count bounds it for the first hop's broadcast gate.
        val ec = GraphOps.ofType(g.edges, Option(relType)).select(col("src"), col("dst"))
        val seed = a.select(col(s"${va}_id").as("a_id"), col(s"${va}_id").as("cur")).distinct()
        val frames = GraphOps.expand(seed, g.nodeCount, hi) { (f, _) =>
          f.join(ec, col("cur") === col("src"))
            .select(col("a_id"), col("dst").as("cur"))
            .distinct()
        }
        // *0..N includes the zero-length path (a reaches itself)
        val reach = ((if (lo == 0) Seq(seed) else Nil) ++ frames.drop(lo - 1)).reduce(_ union _)
        val pairs = reach.distinct()
        rows = a.join(pairs, col(s"${va}_id") === col("a_id"))
          .join(b, col("cur") === col(s"${vb}_id"))
          .drop("a_id", "cur")
        vars = Set(va, vb)
      case None =>
        val m = NodePat.findFirstMatchIn(body).getOrElse(
          throw new IllegalArgumentException(s"no pattern in: $q"))
        val v = m.group(1)
        rows = prefixed(nodeDf(g, m.group(2), parseProps(m.group(3))), v)
        vars = Set(v)
    }

    // WHERE supports a conjunction: `a.p > 1 AND b.q = 'x'` (the
    // reference parses a single condition, graph.py:1061-1092 — AND is a
    // graft extension).
    WherePat.findFirstMatchIn(body).foreach { w =>
      w.group(1).split("(?i)\\s+AND\\s+").foreach { condStr =>
        val m = CondPat.findFirstMatchIn(condStr).getOrElse(
          throw new IllegalArgumentException(s"bad WHERE condition: $condStr"))
        val (v, p, op, raw) = (m.group(1), m.group(2), m.group(3), m.group(4))
        require(vars.contains(v), s"unbound variable $v")
        val c = col(s"${v}_$p"); val value = lit(parseValue(raw))
        val pred: Column = op match {
          case "="  => c === value
          case "<>" => c.isNotNull && c =!= value
          case "<"  => c < value
          case ">"  => c > value
          case "<=" => c <= value
          case ">=" => c >= value
        }
        rows = rows.filter(pred)
      }
    }

    val rm = ReturnPat.findFirstMatchIn(body).getOrElse(
      throw new IllegalArgumentException(s"missing RETURN in: $q"))
    // RETURN v yields the node WITH its properties (the reference returns
    // node.to_dict(), graph.py:1094-1111) — all uniform property columns,
    // prefixed; RETURN v.prop yields the single column.
    def itemCols(item: String): Seq[(Column, String)] = {
      val t = item.trim
      if (t.contains('.')) {
        val Array(v, p) = t.split("\\.", 2)
        Seq((col(s"${v}_$p"), s"${v}_$p"))
      } else NodeCols.map(c => (col(s"${t}_$c"), s"${t}_$c"))
    }
    // ORDER BY on a bare var orders by its id (deterministic proxy)
    def orderCol(item: String): String = {
      val t = item.trim
      if (t.contains('.')) t.replace('.', '_') else s"${t}_id"
    }
    val items = rm.group(1).split(",").flatMap(itemCols)
    var out = rows.select(items.map { case (c, n) => c.as(n) }: _*)
    Option(rm.group(2)).foreach { ob =>
      out = out.orderBy(ob.split(",").map(orderCol).map(col): _*)
    }
    Option(rm.group(3)).foreach(n => out = out.limit(n.toInt))
    out
  }

  /** The uniform node property columns (Graph.nodes schema). */
  val NodeCols: Seq[String] = Seq("id", "label", "name", "num", "seg")
}
