package perfbench

/** Tests of the benchmark's own code: the generator, the reference
  * answers, span arithmetic and order statistics. Run with
  * `python3 perfbench/build.py test`; exits non-zero on a failure. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def pbfBytes(ex: Extract): Seq[Byte] = {
    val f = java.nio.file.Files.createTempFile("selftest", ".osm.pbf")
    try { OsmGen.writePbf(ex, f); java.nio.file.Files.readAllBytes(f).toSeq }
    finally java.nio.file.Files.delete(f)
  }

  private def span(id: Int, start: Long, end: Long, parent: Int, name: String = "x.y") =
    Span(id, name, start, end, parent, 1, Counters())

  def main(args: Array[String]): Unit = {
    val small = OsmGen.Config(rows = 12, cols = 12, spacingDeg = 0.001, districtBlocks = 6)

    check("generator: same seed, same extract and same PBF bytes") {
      val (a, b) = (OsmGen.generate(7, small), OsmGen.generate(7, small))
      a.counts == b.counts && a.nodes.toSeq == b.nodes.toSeq &&
        a.ways.map(w => (w.id, w.nodes.toSeq, w.tags)).toSeq ==
          b.ways.map(w => (w.id, w.nodes.toSeq, w.tags)).toSeq &&
        a.relations.toSeq == b.relations.toSeq && pbfBytes(a) == pbfBytes(b)
    }
    check("generator: another seed, another extract") {
      pbfBytes(OsmGen.generate(7, small)) != pbfBytes(OsmGen.generate(8, small))
    }
    check("generator: grid size fixes the intersections; ways share them") {
      val ex = OsmGen.generate(3, small)
      val refs = ex.ways.flatMap(_.nodes.toSeq).groupBy(identity).map { case (k, v) => k -> v.length }
      (1L to 144L).forall(id => refs.getOrElse(id, 0) >= 2) &&
        ex.ways.forall(_.nodes.forall(ex.nodeById.contains))
    }
    check("generator: tags cover every class the road graph branches on") {
      val ex = OsmGen.generate(5, OsmGen.default)
      val tags = ex.ways.map(_.tags)
      Seq("yes", "-1", "no").forall(v => tags.exists(_.get("oneway").contains(v))) &&
        tags.exists(t => t.contains("highway") && !t.contains("oneway")) &&
        tags.exists(_.contains("maxspeed")) &&
        tags.exists(t => t.contains("highway") && !t.contains("maxspeed")) &&
        tags.exists(_.get("access").contains("private")) &&
        tags.exists(_.get("highway").contains("footway")) &&
        tags.exists(_.contains("landuse")) &&
        ex.nodes.exists(_.tags.contains("amenity")) &&
        ex.relations.exists(_.tags.get("type").contains("restriction"))
    }

    // 1 -> 2 -> 4 costs 5, 1 -> 3 -> 4 costs 4; 5 is unreachable from 1
    val g = new Reference.Graph(Seq((1L, 2L, 2L), (2L, 4L, 3L), (1L, 3L, 1L),
      (3L, 4L, 3L), (4L, 5L, 1L), (5L, 4L, 1L), (6L, 5L, 7L)))
    check("dijkstra: single source") {
      Reference.dijkstra(g, Seq(1L)) == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 4L, 5L -> 5L)
    }
    check("dijkstra: nearest of several sources") {
      Reference.dijkstra(g, Seq(2L, 6L)) == Map(2L -> 0L, 4L -> 3L, 5L -> 4L, 6L -> 0L)
    }
    check("route check: accepts a shortest path, rejects a longer one") {
      Reference.routeMatches(g, 1L, 4L, Some((Seq(1L, 3L, 4L), 4.0))) &&
        !Reference.routeMatches(g, 1L, 4L, Some((Seq(1L, 2L, 4L), 5.0))) &&
        !Reference.routeMatches(g, 1L, 4L, Some((Seq(1L, 2L, 4L), 4.0))) &&
        Reference.routeMatches(g, 4L, 1L, None) &&
        !Reference.routeMatches(g, 1L, 4L, None)
    }
    check("union-find: components and the largest") {
      Reference.componentSummary(Seq((1L, 2L), (2L, 3L), (10L, 11L), (4L, 4L))) == (3L, 3L) &&
        Reference.componentSummary(Nil) == (0L, 0L)
    }
    check("explore reference: exclusions and counts") {
      val tags = Seq(Map("amenity" -> "cafe", "name" -> "A", "wikidata" -> "Q1"),
        Map("amenity" -> "cafe", "addr:street" -> "B"), Map("shop" -> "bakery"))
      Reference.tagKvCounts(tags.iterator, "amenity") == Map(("amenity", "cafe") -> 2L)
    }
    check("snap reference: distance to a polyline") {
      val line = Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0))
      Reference.dist2ToLine(line, 0.5, 0.5) == 0.25 && Reference.dist2ToLine(line, 2.0, 2.0) == 2.0
    }

    check("self time: children's cover is subtracted from the parent") {
      val spans = Seq(span(0, 0, 100, -1, "op"), span(1, 10, 30, 0, "a.x"),
        span(2, 40, 70, 0, "b.y"), span(3, 50, 60, 2, "a.z"))
      val self = Trace.selfSeconds(spans).map { case (k, v) => k -> math.round(v * 1e9) }
      self == Map("op" -> 50L, "a" -> 30L, "b" -> 20L)
    }
    check("self time: overlapping children count once") {
      val spans = Seq(span(0, 0, 100, -1, "op"), span(1, 10, 50, 0), span(2, 30, 70, 0))
      math.round(Trace.selfSeconds(spans)("op") * 1e9) == 40L
    }

    val xs = (1 to 100).map(_.toDouble)
    check("quantiles: interpolated on 100 samples") {
      Stats.median(xs) == 50.5 && math.abs(Stats.quantile(xs, 0.9) - 90.1) < 1e-9 &&
        Stats.quantile(Seq(3.0), 0.9) == 3.0
    }
    check("quantiles: p90 of 100 samples has ten beyond it") {
      Stats.beyond(xs, 0.9) == 10 && Stats.beyond(xs.take(99), 0.9) == 10 &&
        Stats.beyond(xs.take(50), 0.9) == 5
    }

    check("json: objects, arrays, escapes and numbers") {
      Json(Seq("a" -> 1, "b" -> Seq[Any](1.5, 2L), "c" -> "q\"\n", "d" -> true)) ==
        "{\"a\":1,\"b\":[1.5,2],\"c\":\"q\\\"" + "\\" + "u000a\",\"d\":true}"
    }

    println(if (failures == 0) "all passed" else s"$failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
