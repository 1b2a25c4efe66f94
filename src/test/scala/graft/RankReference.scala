package graft

/** Driver-side references of the integer fixed-point rank recurrences,
  * computed naively over in-memory edge lists. */
object RankReference {
  /** Reference: pagerank, dense over the nodes `ns`, from 1e6 on every
    * node. */
  def refPagerank(ns: Seq[String], es: Seq[(String, String)], iters: Int): Map[String, Long] = {
    val od = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = ns.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val c = scala.collection.mutable.Map.empty[String, Long]
      for ((s, d) <- es) c(d) = c.getOrElse(d, 0L) + r(s) / od(s)
      r = ns.map(n => n -> (150000L + c.getOrElse(n, 0L) * 17 / 20)).toMap
    }
    r
  }

  /** Reference: the integer fixed-point PPR recurrence, dense over the
    * nodes; a seed that is no node or endpoint reaches nothing. */
  def refPpr(ns: Seq[String], es: Seq[(String, String, String)],
      seed: String, iters: Int): Map[String, Long] = {
    val od = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = Map(seed -> 1000000L)
    for (_ <- 1 to iters) {
      val c = scala.collection.mutable.Map.empty[String, Long]
      for ((s, d, _) <- es; rs <- r.get(s)) c(d) = c.getOrElse(d, 0L) + rs / od(s)
      r = (c.keySet.toSet + seed).map(n =>
        n -> (c.getOrElse(n, 0L) * 17 / 20 + (if (n == seed) 150000L else 0L))).toMap
    }
    ns.map(n => n -> r.getOrElse(n, 0L)).toMap
  }
}
