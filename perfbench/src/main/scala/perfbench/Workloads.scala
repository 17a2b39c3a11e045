package perfbench

import java.nio.file.Path

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.osm.{CompleteGraph, GraphCheck, OsmTables, PoisExtract, RoadGraph, TagExplore}

/** What one op hands back to the loop: its kind, the work units it
  * completed, timed parts of it (name -> (rows, seconds)), and a check
  * of its output that runs after the clock stops. */
final case class OpResult(kind: String, units: Long, check: () => Boolean,
    parts: Map[String, (Long, Double)] = Map.empty)

/** A workload prepares its inputs from a generated extract during
  * set-up, then runs ops in a closed loop. Data lives under `dir`; each
  * op calls the public functions of `graft.sources`, `graft.osm` and
  * Spark, inside spans named after the module. */
abstract class Workload(val spark: SparkSession, val dir: Path) {
  /** The workload's own set-up, once the extract is written. */
  def setup(ex: Extract, pbf: Path): Unit
  /** Op kinds to run untimed before timing starts: the JVM and Spark's
    * code generation warm up on the real inputs. */
  def warmupKinds: Seq[String]
  /** Fewest ops a timed loop runs, whatever `--seconds` says. */
  def minTimedOps: Int
  def nextKind(rnd: scala.util.Random): String
  def op(kind: String, rnd: scala.util.Random, t: Tracer): OpResult
  /** Sizes of derived inputs, for the run's regime line. */
  def inputSizes: Seq[(String, Long)] = Nil

  protected var ex: Extract = _
  /** Traced GraphCheck calls by the path they took: "local" or "distributed". */
  val graphcheckPaths = scala.collection.mutable.Map("local" -> 0L, "distributed" -> 0L)
  protected def countPath(t: Tracer, local: Boolean): Unit =
    if (t.enabled) graphcheckPaths(if (local) "local" else "distributed") += 1
  protected def path(name: String): String = dir.resolve(name).toString

  /** Land the five pgsnapshot tables from the PBF under `to`, then
    * derive way linestrings from node positions, as an Osmosis load
    * does (the PBF reader leaves them null). */
  protected def landTables(pbf: Path, to: String, t: Tracer): OsmTables = {
    Workload.entities.foreach { e =>
      if (t.enabled) t.span(s"sources.pbf.scan.$e") {
        Workload.loadPbf(spark, pbf, e).write.format("noop").mode("overwrite").save()
      }
      t.span(s"ingest.load.$e") {
        Workload.loadPbf(spark, pbf, e).write.mode("overwrite").parquet(path(s"$to/$e"))
      }
    }
    val nodes = spark.read.parquet(path(s"$to/nodes"))
    val ways = spark.read.parquet(path(s"$to/ways"))
    t.span("ingest.linestrings") {
      val lines = ways.select(col("id"), posexplode(col("nodes")).as(Seq("seq", "node_id")))
        .join(nodes.select(col("id").as("node_id"), col("geom")), "node_id")
        .groupBy("id")
        .agg(transform(array_sort(collect_list(struct(col("seq"), col("geom")))),
          e => e.getField("geom")).as("linestring"))
      ways.drop("linestring").join(lines, Seq("id"), "left")
        .select(ways.columns.map(col).toIndexedSeq: _*)
        .write.mode("overwrite").parquet(path(s"$to/ways_geom"))
    }
    OsmTables(nodes, spark.read.parquet(path(s"$to/ways_geom")),
      spark.read.parquet(path(s"$to/way_nodes")))
  }
}

object Workload {
  val entities: Seq[String] =
    Seq("nodes", "ways", "way_nodes", "relations", "relation_members")

  def loadPbf(spark: SparkSession, pbf: Path, entity: String): DataFrame =
    spark.read.format("graft.sources.OsmPbfSource").option("entity", entity)
      .load(pbf.toString)

  def apply(name: String, spark: SparkSession, dir: Path): Workload = name match {
    case "graph_build" => new GraphBuild(spark, dir)
    case "route_mix" => new RouteMix(spark, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** PBF file in, checked road-graph edge list out. One op lands the five
  * pgsnapshot tables as parquet, builds the merged road network,
  * labels its components with GraphCheck's distributed fixpoint,
  * exports the minimal directed edge list to parquet, and builds the
  * complete multi-modal network. The traced op also scans each entity
  * into a noop sink, so the parquet write's share is load time minus
  * scan time, and materializes the RoadGraph stages one by one. */
final class GraphBuild(spark: SparkSession, dir: Path) extends Workload(spark, dir) {
  private var pbf: Path = _
  private var expected: Option[(Long, (Long, Long))] = None // edge hash, summary
  private var highwayWays = 0L
  val stageRows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  var rounds: Seq[Int] = Nil
  def warmupKinds: Seq[String] = Seq("build")
  // one build is a single sample: time two and report the rate over both
  def minTimedOps: Int = 2
  def nextKind(rnd: scala.util.Random): String = "build"

  def setup(ex: Extract, pbf: Path): Unit = {
    this.ex = ex
    this.pbf = pbf
    highwayWays = ex.ways.count(_.tags.contains("highway")).toLong
    expected = None
  }

  private def stage(t: Tracer, name: String)(df: => DataFrame): DataFrame = {
    val out = t.span(s"roadgraph.$name")(df.localCheckpoint(true))
    stageRows(name) = out.count()
    out
  }

  def op(kind: String, rnd: scala.util.Random, t: Tracer): OpResult = {
    val t0 = System.nanoTime()
    val tables = landTables(pbf, "out/tables", t)
    val landS = (System.nanoTime() - t0) / 1e9
    // the merged network feeds two consumers, so it is materialized, as
    // the reference's CTAS and RoadGraph.buildMergedNetworkCached do
    val merged =
      if (!t.enabled) RoadGraph.buildMergedNetwork(tables).localCheckpoint(true)
      else {
        val (ways, wn) = (tables.ways, tables.wayNodes)
        val net = stage(t, "network")(
          RoadGraph.imputeSpeedLimits(RoadGraph.excludeModes(RoadGraph.carNetwork(ways))))
        val shared = stage(t, "shared_nodes")(RoadGraph.sharedNodes(wn, net))
        val lengths = stage(t, "ways_length")(RoadGraph.waysLength(wn, net))
        val splits = stage(t, "split_nodes")(RoadGraph.splitNodes(wn, net, shared, lengths))
        val limits = stage(t, "merge_limits")(RoadGraph.mergeLimits(wn, splits, shared, lengths))
        val ntm = stage(t, "nodes_to_merge")(RoadGraph.nodesToMerge(wn, net, limits))
        stage(t, "merged_network")(RoadGraph.mergedNetwork(ntm, tables.nodes, net))
      }
    val summary = t.span("graphcheck.components") {
      // componentSummary's aggregate over the fixpoint's labelling. This
      // network is below GraphCheck's driver-local gate, so the
      // distributed loop is forced (localThreshold = 0); route_mix
      // covers the local side of the gate.
      val (labels, n) = GraphCheck.connectedComponentsWithRounds(merged, localThreshold = 0)
      rounds :+= n
      countPath(t, n == 0)
      val r = labels.groupBy("component").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)), max(col("n"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val edgesPath = path("out/edges")
    val directed =
      if (!t.enabled) RoadGraph.minimalDirectedGraph(merged)
      else stage(t, "directed")(RoadGraph.minimalDirectedGraph(merged))
    t.span("parquet.write")(directed.write.mode("overwrite").parquet(edgesPath))
    t.span("completegraph.build") {
      CompleteGraph.build(tables.ways).write.mode("overwrite").parquet(path("out/complete"))
    }
    OpResult("build", ex.ways.length.toLong, () => {
      val edges = spark.read.parquet(edgesPath)
      val hash = edges.agg(sum(xxhash64(edges.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)"))).head().getDecimal(0).longValue
      if (expected.isEmpty) {
        val pairs = merged.select("start_node", "end_node").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        expected = Some((hash, Reference.componentSummary(pairs)))
      }
      Workload.entities.forall { e =>
        spark.read.parquet(path(s"out/tables/$e")).count() == ex.counts(e)
      } && expected.contains((hash, summary)) &&
        spark.read.parquet(path("out/complete")).count() == highwayWays
    }, parts = Map("land" -> (ex.totalRows, landS)))
  }
}

/** A seeded mix of five read-only request types over the landed tables
  * and a district clip of the network that is below GraphCheck's
  * driver-local gate. */
final class RouteMix(spark: SparkSession, dir: Path) extends Workload(spark, dir) {
  private var nodes: DataFrame = _
  private var ways: DataFrame = _
  private var clipEdges: DataFrame = _
  private var clipGeoms: DataFrame = _
  private var graph: Reference.Graph = _
  private var lines: Array[Seq[(Double, Double)]] = _
  private var amenities: Array[Long] = _
  private var snapCandidates: Array[GenNode] = _
  private var exploreExpected: Map[(String, String), Map[(String, String), Long]] = _
  private var poisExpected: Map[String, Long] = _

  val kinds: Seq[String] = Seq("route", "access", "explore", "pois", "snap")
  override def inputSizes: Seq[(String, Long)] = Seq(
    "clip_segments" -> lines.length.toLong, "clip_directed_edges" -> graph.edgeCount,
    "clip_nodes" -> graph.nodes.length.toLong)
  def warmupKinds: Seq[String] = Seq.fill(2)(kinds).flatten
  // p90 needs ten samples beyond it
  def minTimedOps: Int = 100
  def nextKind(rnd: scala.util.Random): String = kinds(rnd.nextInt(kinds.size))
  private val exploreMenu = Seq("nodes" -> "amenity", "nodes" -> "shop",
    "nodes" -> "highway", "ways" -> "highway", "ways" -> "landuse", "ways" -> "oneway")
  private val snapTolerance = 0.001 // RoadGraph.snapPois' default maxDeg

  /** Land the tables, build the merged network, clip the district, and
    * collect the reference graph and the expected answers. */
  def setup(ex: Extract, pbf: Path): Unit = {
    this.ex = ex
    val tables = landTables(pbf, "tables", new Tracer(false, null))
    nodes = tables.nodes
    ways = spark.read.parquet(path("tables/ways"))
    val (x0, y0, x1, y1) = ex.district
    def inside(p: Column): Column =
      p.getField("lon").between(x0, x1) && p.getField("lat").between(y0, y1)
    val clip = RoadGraph.buildMergedNetwork(tables)
      .filter(inside(element_at(col("geom"), 1)) && inside(element_at(col("geom"), -1)))
      .localCheckpoint(true)
    clipGeoms = clip.select("edge_id", "geom").localCheckpoint(true)
    clipEdges = RoadGraph.minimalDirectedGraph(clip)
      .select(col("start_node"), col("end_node"),
        round(col("length") * 100).cast("long").as("w"))
      .localCheckpoint(true)
    graph = new Reference.Graph(clipEdges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    lines = clipGeoms.collect().map(_.getSeq[org.apache.spark.sql.Row](1)
      .map(p => (p.getDouble(0), p.getDouble(1))))
    val onGraph = graph.nodes.toSet
    amenities = ex.nodes.filter(n => n.tags.contains("amenity") && onGraph(n.id)).map(_.id)
    snapCandidates = ex.nodes.filter(n =>
      ex.inDistrict(n) && PoisExtract.nodeKeys.exists(n.tags.contains))
    require(amenities.length >= 3 && snapCandidates.length >= 25,
      s"district too sparse: ${amenities.length} amenities, ${snapCandidates.length} POIs")
    exploreExpected = exploreMenu.map { case (entity, key) =>
      val tags = if (entity == "nodes") ex.nodes.iterator.map(_.tags)
        else ex.ways.iterator.map(_.tags)
      (entity, key) -> Reference.tagKvCounts(tags, key)
    }.toMap
    poisExpected = Reference.poiCounts(ex.nodes.iterator.map(_.tags), PoisExtract.nodeKeys)
  }

  def op(kind: String, rnd: scala.util.Random, t: Tracer): OpResult = {
    def ok(b: => Boolean) = OpResult(kind, 1, () => b)
    kind match {
      case "route" =>
        val (s, d) = (graph.nodes(rnd.nextInt(graph.nodes.length)),
          graph.nodes(rnd.nextInt(graph.nodes.length)))
        val got = t.span("graphcheck.route")(GraphCheck.shortestPathTo(clipEdges, s, d))
        // shortestPathTo reports no round count: its local path runs at
        // most four Spark jobs, the distributed loop two or more per round
        if (t.enabled) countPath(t, t.spans.last.engine.jobs <= 4)
        ok(Reference.routeMatches(graph, s, d, got))
      case "access" =>
        val sources = rnd.shuffle(amenities.toSeq).take(3)
        val (rows, n) = t.span("graphcheck.access") {
          val (df, n) = GraphCheck.multiSourceShortestPaths(clipEdges, sources)
          (df.collect(), n)
        }
        countPath(t, n == 0)
        ok(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
          Reference.dijkstra(graph, sources))
      case "explore" =>
        val (entity, key) = exploreMenu(rnd.nextInt(exploreMenu.size))
        val rows = t.span("tagexplore.explore") {
          TagExplore.tagKvCounts(if (entity == "nodes") nodes else ways, key).collect()
        }
        ok(rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap ==
          exploreExpected((entity, key)) && rows.length == exploreExpected((entity, key)).size)
      case "pois" =>
        val keys = rnd.shuffle(PoisExtract.nodeKeys).take(3)
        val rows = t.span("poisextract.pois")(PoisExtract.poisNodes(nodes, keys).collect())
        ok(rows.groupBy(_.getAs[String]("key")).map { case (k, v) => k -> v.length.toLong } ==
          poisExpected.filter(kv => keys.contains(kv._1)))
      case "snap" =>
        val picked = rnd.shuffle(snapCandidates.toSeq).take(25)
        val rows = t.span("roadgraph.snap") {
          RoadGraph.snapPois(
            nodes.filter(col("id").isin(picked.map(_.id): _*))
              .select(col("id").as("node_id"), col("geom")),
            clipGeoms).collect()
        }
        val got = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
        ok(picked.forall { p =>
          val want = lines.iterator.map(Reference.dist2ToLine(_, p.lon, p.lat)).min
          val limit = snapTolerance * snapTolerance
          got.get(p.id) match {
            case Some(d2) => math.abs(d2 - want) <= 1e-9 * want + 1e-18
            case None => want > limit * (1 - 1e-9)
          }
        })
    }
  }
}
