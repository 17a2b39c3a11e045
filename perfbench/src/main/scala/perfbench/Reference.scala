package perfbench

import scala.collection.mutable

/** The benchmark's own answers, computed on the driver without Spark,
  * that the program's outputs are checked against. */
object Reference {

  /** Directed adjacency over integer weights. */
  final class Graph(edges: Iterable[(Long, Long, Long)]) {
    val edgeCount: Long = edges.size.toLong
    val adj: Map[Long, Array[(Long, Long)]] = edges.groupBy(_._1)
      .map { case (u, es) => u -> es.map(e => (e._2, e._3)).toArray }
    val nodes: Array[Long] = edges.flatMap(e => Seq(e._1, e._2)).toSet.toArray.sorted
    val weights: Map[(Long, Long), Long] = edges.groupBy(e => (e._1, e._2))
      .map { case (k, es) => k -> es.map(_._3).min }
  }

  /** Dijkstra from every source at distance 0: each reachable node's
    * distance to its nearest source. */
  def dijkstra(g: Graph, sources: Seq[Long]): Map[Long, Long] = {
    val dist = mutable.HashMap.empty[Long, Long]
    val pq = mutable.PriorityQueue.empty[(Long, Long)](Ordering.by[(Long, Long), Long](_._1).reverse)
    sources.foreach { s => dist(s) = 0L; pq.enqueue((0L, s)) }
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d == dist(u)) g.adj.getOrElse(u, Array.empty[(Long, Long)]).foreach {
        case (v, w) =>
          val nd = d + w
          if (dist.get(v).forall(nd < _)) { dist(v) = nd; pq.enqueue((nd, v)) }
      }
    }
    dist.toMap
  }

  /** A route answer is right when it reaches the same nodes at the same
    * distance as Dijkstra, and the path is a chain of edges from source
    * to target whose weights sum to that distance. Ties between equal
    * paths may be broken either way. */
  def routeMatches(g: Graph, source: Long, target: Long,
      got: Option[(Seq[Long], Double)]): Boolean = {
    val want = dijkstra(g, Seq(source)).get(target)
    (want, got) match {
      case (None, None) => true
      case (Some(d), Some((path, total))) =>
        total == d.toDouble && path.headOption.contains(source) &&
          path.lastOption.contains(target) &&
          path.sliding(2).filter(_.size == 2).map(p => g.weights.get((p(0), p(1))))
            .foldLeft(Option(0L))((acc, w) => for (a <- acc; x <- w) yield a + x)
            .contains(d)
      case _ => false
    }
  }

  /** (component count, size of the largest) of the undirected graph,
    * by union-find. */
  def componentSummary(edges: Iterable[(Long, Long)]): (Long, Long) = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val sizes = parent.keys.toSeq.groupBy(find).values.map(_.size.toLong)
    (sizes.size.toLong, if (sizes.isEmpty) 0L else sizes.max)
  }

  /** `TagExplore.tagKvCounts` with its default exclusions: (tag, value)
    * -> count over the entities that carry `whereKey`. */
  val exploreExcludedKeys: Set[String] = Set("created_by", "wikidata", "width",
    "wikipedia", "note", "old_ref", "length", "description")
  val exploreExcludedSubstrings: Seq[String] = Seq("name", "source", "destination", "addr")

  def tagKvCounts(tags: Iterator[Map[String, String]],
      whereKey: String): Map[(String, String), Long] =
    tags.filter(_.contains(whereKey))
      .flatMap(_.iterator.filter { case (k, _) =>
        !exploreExcludedKeys(k) && exploreExcludedSubstrings.forall(s => !k.contains(s))
      })
      .foldLeft(Map.empty[(String, String), Long]) { (m, kv) =>
        m.updated(kv, m.getOrElse(kv, 0L) + 1)
      }

  /** POI key -> count of nodes carrying it (`PoisExtract.poisNodes`). */
  def poiCounts(tags: Iterator[Map[String, String]],
      keys: Seq[String]): Map[String, Long] =
    tags.flatMap(t => keys.filter(t.contains))
      .foldLeft(Map.empty[String, Long])((m, k) => m.updated(k, m.getOrElse(k, 0L) + 1))

  /** Squared planar distance from (px, py) to a polyline. */
  def dist2ToLine(line: Seq[(Double, Double)], px: Double, py: Double): Double =
    line.sliding(2).map {
      case Seq((ax, ay), (bx, by)) =>
        val (dx, dy) = (bx - ax, by - ay)
        val len2 = dx * dx + dy * dy
        val t = if (len2 == 0) 0.0
          else math.max(0.0, math.min(1.0, ((px - ax) * dx + (py - ay) * dy) / len2))
        val (qx, qy) = (ax + t * dx - px, ay + t * dy - py)
        qx * qx + qy * qy
      case Seq((ax, ay)) => (ax - px) * (ax - px) + (ay - py) * (ay - py)
    }.min
}

/** Order statistics for latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks on the sorted sample
    * (the "inclusive" definition: q = 0 is the minimum, 1 the maximum). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples strictly above the q-quantile: p90 of 100 samples has ten. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }
}
