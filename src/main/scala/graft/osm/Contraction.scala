package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** pgr_contraction analog (VERDICT r19 item 5): dead-end + linear
  * (degree-2) graph contraction with cost accumulation and a full
  * vertex-accounting trail — pgRouting's scale lever for exactly the
  * road graphs this pipeline exports (the reference hands its edge
  * lists to pgRouting/igraph consumers, osm-pg-etl.md:34-52; pgRouting
  * ships pgr_contraction(cycle [dead_end, linear]) as the standard
  * preprocessing step that shrinks them before routing).
  *
  * Semantics mirrored from pgr_contraction with the operation cycle
  * [dead_end, linear], each run to fixpoint, the cycle repeated until
  * nothing changes:
  *
  *  - DEAD-END: a vertex with exactly one incident edge is absorbed
  *    into its neighbor (the neighbor's `contracted` set gains the
  *    vertex plus everything the vertex had already absorbed, plus the
  *    interior of the removed edge if it was a shortcut); repeated, so
  *    whole tree appendages collapse into their attachment vertex.
  *    When BOTH endpoints of an edge are degree-1 (a free 2-vertex
  *    component) the larger id absorbs into the smaller —
  *    deterministic where pgRouting is order-dependent.
  *  - LINEAR: maximal runs of degree-2 vertices between junctions
  *    collapse into one shortcut edge whose cost is the sum along the
  *    run and whose `contracted` set is the interior vertices (plus
  *    anything member shortcut edges already carried, plus the
  *    absorbed sets of interior vertices — folded transitively, so
  *    every original vertex is accounted for exactly once across the
  *    output). Pure cycles (a run with no junction endpoint) are left
  *    untouched; a run that loops back to its own junction becomes a
  *    self-loop shortcut. Parallel edges make their shared vertices
  *    look degree-2 but form an endpoint-less "cycle" component, so
  *    they survive unchanged — same effective behavior as pgRouting.
  *
  * Self-loops add 2 to their vertex's degree, which protects the
  * vertex from both operations — pgRouting likewise never contracts
  * them.
  *
  * 100 TB shape: every step is a keyed aggregate or equi-join (degree
  * count, incidence explode, per-chain aggregation); chain discovery
  * rides [[GraphCheck.connectedComponents]] (hash-min + pointer
  * jumping, O(log diameter) rounds); nothing is all-pairs and nothing
  * collects to the driver. Dead-end peeling runs one round per tree
  * LEVEL, not per vertex — road-network cul-de-sac trees are a few
  * levels deep, and `maxPeelRounds` caps the pathological case (a long
  * free path is degree-2, so the linear pass handles it in one shot).
  */
object Contraction {

  /** `edges`: the contracted graph — surviving originals plus shortcut
    * rows (shortcut ids are negative; `contracted` lists the vertices
    * a shortcut subsumes, empty array on surviving originals).
    * `vertexAbsorptions`: one row per surviving vertex that absorbed
    * dead-end trees — (vertex_id, contracted ARRAY<LONG>). */
  case class Contracted(edges: DataFrame, vertexAbsorptions: DataFrame)

  private def chk(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Degree per vertex (self-loops count twice, see scaladoc). */
  private def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("source"), col("target"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))

  /** Input: (edge_id LONG, source LONG, target LONG, cost DOUBLE).
    * `forbidden`: vertices exempt from contraction (pgr_contraction's
    * forbidden_vertices). Below `localThreshold` edges the whole
    * cycle runs on the driver, behind [[GraphCheck]]'s driver-local
    * gate; the local walk mirrors the distributed steps operation for
    * operation, so results are identical (pinned in ContractionSpec).
    * `localThreshold = 0` forces the distributed loop. */
  def contractGraph(edges: DataFrame, forbidden: Seq[Long] = Nil,
      maxPeelRounds: Int = 64, maxCycles: Int = 8,
      localThreshold: Long = GraphCheck.DefaultLocalThreshold)
      : Contracted = {
    val spark = edges.sparkSession
    var cur = chk(edges.select(col("edge_id").cast("long"),
      col("source").cast("long"), col("target").cast("long"),
      col("cost").cast("double"),
      array().cast("array<long>").as("contracted")))
    GraphCheck.collectIfSmall(cur, localThreshold).foreach { rows =>
      return contractLocal(spark,
        rows.map(r => LocalEdge(r.getLong(0), r.getLong(1),
          r.getLong(2), r.getDouble(3), Vector.empty)),
        forbidden.toSet, maxPeelRounds, maxCycles)
    }
    var vmap = chk(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("vertex_id", "long").add("contracted", "array<long>")))
    val forb = forbidden.toSet
    val isForbidden: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      v => if (forb.isEmpty) lit(false)
           else v.isInCollection(forb)

    var cycle = 0
    var changedInCycle = true
    while (changedInCycle && cycle < maxCycles) {
      changedInCycle = false

      // ---- dead-end to fixpoint: peel one tree level per round
      var peeled = true
      var round = 0
      while (peeled && round < maxPeelRounds) {
        val dead = degrees(cur)
          .filter(col("deg") === 1 && !isForbidden(col("v")))
          .select(col("v").as("__dead"))
        // classify each edge by which endpoints are dead this round;
        // the absorbed vertex has exactly one edge, so it appears in
        // exactly one row here
        val marked = cur
          .join(dead.withColumnRenamed("__dead", "__ds"),
            col("source") === col("__ds"), "left")
          .join(dead.withColumnRenamed("__dead", "__dt"),
            col("target") === col("__dt"), "left")
          .withColumn("__sdead", col("__ds").isNotNull)
          .withColumn("__tdead", col("__dt").isNotNull)
        val removed = marked.filter(col("__sdead") || col("__tdead"))
          .select(col("source"), col("target"), col("cost"),
            col("contracted"),
            when(col("__sdead") && col("__tdead"),
                greatest(col("source"), col("target")))
              .when(col("__sdead"), col("source"))
              .otherwise(col("target")).as("__absorbed"),
            when(col("__sdead") && col("__tdead"),
                least(col("source"), col("target")))
              .when(col("__sdead"), col("target"))
              .otherwise(col("source")).as("__holder"))
        if (removed.isEmpty) { peeled = false }
        else {
          changedInCycle = true
          // transfer: absorbed vertex + its prior absorptions + the
          // removed edge's shortcut interior all flow to the holder
          val vmapPrior = vmap.withColumnRenamed("contracted", "__vabs")
          val transfers = removed
            .join(vmapPrior, col("__absorbed") === col("vertex_id"), "left")
            .select(col("__holder").as("vertex_id"),
              explode(concat(
                array(col("__absorbed")),
                coalesce(col("contracted"),
                  array().cast("array<long>")),
                coalesce(col("__vabs"),
                  array().cast("array<long>")))).as("__c"))
          val absorbedSet = removed.select(col("__absorbed").as("vertex_id"))
          vmap = chk(vmap
            .join(absorbedSet, Seq("vertex_id"), "left_anti")
            .select(col("vertex_id"), explode(col("contracted")).as("__c"))
            .unionByName(transfers)
            .groupBy("vertex_id")
            .agg(array_sort(collect_set(col("__c"))).as("contracted")))
          // two equi anti-joins, not one OR-condition anti-join (which
          // would plan as a nested loop): drop edges touching any
          // absorbed vertex
          cur = chk(cur
            .join(absorbedSet.withColumnRenamed("vertex_id", "__a"),
              col("source") === col("__a"), "left_anti")
            .join(absorbedSet.withColumnRenamed("vertex_id", "__a"),
              col("target") === col("__a"), "left_anti"))
          round += 1
        }
      }

      // ---- linear to fixpoint (one shot: maximal runs collapse whole)
      val deg = degrees(cur)
      val chainV = deg.filter(col("deg") === 2 && !isForbidden(col("v")))
        .select(col("v"))
      val inc = cur
        .select(col("edge_id"),
          explode(array(col("source"), col("target"))).as("v"))
        .join(chainV, Seq("v"))
      if (!inc.isEmpty) {
        // edges sharing a degree-2 vertex belong to one chain: connect
        // them in the edge graph and component-label it (each chain
        // vertex has exactly two incident edges, so this emits one
        // link per chain vertex)
        val links = inc.groupBy("v")
          .agg(min(col("edge_id")).as("start_node"),
            max(col("edge_id")).as("end_node"))
          .filter(col("start_node") =!= col("end_node"))
          .select("start_node", "end_node")
        val singleEdgeChains = inc.select("edge_id").distinct()
          .join(links.select(col("start_node").as("edge_id"))
            .unionByName(links.select(col("end_node").as("edge_id"))),
            Seq("edge_id"), "left_anti")
          .select(col("edge_id").as("node_id"), col("edge_id").as("component"))
        val comp = GraphCheck.connectedComponents(links)
          .unionByName(singleEdgeChains)
        val members = cur
          .join(comp, col("edge_id") === col("node_id"))
          .drop("node_id")
        // per-chain census: endpoints are incident vertices that are
        // NOT chain vertices; interior are the chain vertices
        val ends = members
          .select(col("component"),
            explode(array(col("source"), col("target"))).as("v"))
          .join(chainV.withColumn("__chain", lit(true)), Seq("v"), "left")
        val census = ends.groupBy("component")
          .agg(
            array_sort(collect_list(when(col("__chain").isNull, col("v"))))
              .as("__ends"),
            array_sort(collect_set(when(col("__chain").isNotNull, col("v"))))
              .as("__interior"))
        val costs = members.groupBy("component")
          .agg(sum(col("cost")).as("__cost"),
            flatten(collect_list(col("contracted"))).as("__carried"))
        val chains = census.join(costs, "component")
          .filter(size(col("__ends")) > 0) // endpoint-less = cycle: skip
        if (!chains.isEmpty) {
          changedInCycle = true
          // fold interior vertices' own absorbed sets into the shortcut
          val interiorAbs = chains
            .select(col("component"), explode(col("__interior")).as("vertex_id"))
            .join(vmap, Seq("vertex_id"))
            .select(col("component"),
              explode(col("contracted")).as("__extra"))
            .groupBy("component")
            .agg(collect_set(col("__extra")).as("__extras"))
          val interiorSet = chains
            .select(explode(col("__interior")).as("vertex_id")).distinct()
          vmap = chk(vmap.join(interiorSet, Seq("vertex_id"), "left_anti"))
          // shortcut id: negative of the chain's minimum interior
          // vertex — interiors are disjoint across chains AND across
          // cycles (a vertex contracts once), so ids are unique and
          // DETERMINISTIC with no global window (original edge ids are
          // assumed non-negative, as OSM ids are)
          val shortcuts = chains
            .join(interiorAbs, Seq("component"), "left")
            .select(
              (-element_at(col("__interior"), 1) - 1).as("edge_id"),
              element_at(col("__ends"), 1).as("source"),
              element_at(col("__ends"), -1).as("target"),
              col("__cost").as("cost"),
              array_sort(array_union(
                array_union(col("__interior"), col("__carried")),
                coalesce(col("__extras"), array().cast("array<long>"))))
                .as("contracted"))
          val contractedEdgeIds = members
            .join(chains.select("component"), Seq("component"))
            .select("edge_id").distinct()
          cur = chk(cur
            .join(contractedEdgeIds, Seq("edge_id"), "left_anti")
            .unionByName(shortcuts))
        }
      }
      cycle += 1
    }
    Contracted(cur, vmap)
  }

  private case class LocalEdge(id: Long, s: Long, t: Long, c: Double,
    contracted: Vector[Long])

  /** Driver-side contraction — each step is the in-memory twin of the
    * distributed step above (same classification, same deterministic
    * rules: max-id absorbs into min on dead pairs, shortcut id =
    * −min(interior)−1, ends/interior sorted, component label = min
    * edge id), so the returned relations are row-identical. Fixture
    * costs are binary-exact by the callers' contract, so the local
    * cost sum cannot diverge from the distributed partial sums. */
  private def contractLocal(spark: SparkSession,
      edges0: Array[LocalEdge], forb: Set[Long],
      maxPeelRounds: Int, maxCycles: Int): Contracted = {
    import scala.collection.mutable
    var cur: Vector[LocalEdge] = edges0.toVector
    val vmap = mutable.Map.empty[Long, Set[Long]]
    var cycle = 0
    var changedInCycle = true
    while (changedInCycle && cycle < maxCycles) {
      changedInCycle = false

      // ---- dead-end to fixpoint: peel one tree level per round
      var peeled = true
      var round = 0
      while (peeled && round < maxPeelRounds) {
        val deg = mutable.Map.empty[Long, Long].withDefaultValue(0L)
        cur.foreach { e => deg(e.s) += 1; deg(e.t) += 1 }
        val dead = deg.collect {
          case (v, d) if d == 1 && !forb(v) => v }.toSet
        val removed = cur.filter(e => dead(e.s) || dead(e.t))
        if (removed.isEmpty) peeled = false
        else {
          changedInCycle = true
          val absorbedSet = mutable.Set.empty[Long]
          val transfers = mutable.Map.empty[Long, mutable.Set[Long]]
          removed.foreach { e =>
            val (absorbed, holder) =
              if (dead(e.s) && dead(e.t)) (math.max(e.s, e.t), math.min(e.s, e.t))
              else if (dead(e.s)) (e.s, e.t)
              else (e.t, e.s)
            absorbedSet += absorbed
            val tr = transfers.getOrElseUpdate(holder, mutable.Set.empty)
            tr += absorbed
            tr ++= e.contracted
            tr ++= vmap.getOrElse(absorbed, Set.empty)
          }
          absorbedSet.foreach(vmap.remove)
          transfers.foreach { case (h, s) =>
            vmap(h) = vmap.getOrElse(h, Set.empty) ++ s }
          cur = cur.filterNot(e => absorbedSet(e.s) || absorbedSet(e.t))
          round += 1
        }
      }

      // ---- linear to fixpoint (one shot: maximal runs collapse whole)
      val deg = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      cur.foreach { e => deg(e.s) += 1; deg(e.t) += 1 }
      val chainV = deg.collect {
        case (v, d) if d == 2 && !forb(v) => v }.toSet
      // incidences of chain vertices: edge-id pairs per chain vertex
      val incByV = mutable.Map.empty[Long, List[Long]]
      cur.foreach { e =>
        if (chainV(e.s)) incByV(e.s) = e.id :: incByV.getOrElse(e.s, Nil)
        if (chainV(e.t)) incByV(e.t) = e.id :: incByV.getOrElse(e.t, Nil)
      }
      if (incByV.nonEmpty) {
        // chain components over the edge graph: union-find by min root
        // (= hash-min CC labels); self-loop incidences (min == max
        // edge id) contribute no link, matching the distributed filter
        val parent = mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        incByV.values.foreach { ids =>
          ids.foreach(id => parent.getOrElseUpdate(id, id))
          val (lo, hi) = (ids.min, ids.max)
          if (lo != hi) {
            val (ra, rb) = (find(lo), find(hi))
            if (ra < rb) parent(rb) = ra
            else if (rb < ra) parent(ra) = rb
          }
        }
        val byId = cur.map(e => e.id -> e).toMap
        val membersByComp = parent.keys.toSeq.sorted
          .groupBy(find).map { case (c, ids) => c -> ids.map(byId) }
        case class Chain(component: Long, ends: Seq[Long],
          interior: Seq[Long], cost: Double, carried: Seq[Long])
        val chains = membersByComp.toSeq.sortBy(_._1).flatMap {
          case (comp, members) =>
            val endsList = members.flatMap(e => Seq(e.s, e.t))
              .filterNot(chainV).sorted
            if (endsList.isEmpty) None // endpoint-less = cycle: skip
            else {
              val interior = members.flatMap(e => Seq(e.s, e.t))
                .filter(chainV).distinct.sorted
              // member order is id-sorted; fixture costs are
              // binary-exact so order cannot matter anyway
              val cost = members.map(_.c).sum
              Some(Chain(comp, endsList, interior, cost,
                members.flatMap(_.contracted)))
            }
        }
        if (chains.nonEmpty) {
          changedInCycle = true
          val interiorSet = chains.flatMap(_.interior).toSet
          val extras = chains.map { ch =>
            ch.component ->
              ch.interior.flatMap(v => vmap.getOrElse(v, Set.empty)).toSet
          }.toMap
          interiorSet.foreach(vmap.remove)
          val shortcuts = chains.map { ch =>
            LocalEdge(-ch.interior.min - 1, ch.ends.head, ch.ends.last,
              ch.cost,
              (ch.interior.toSet ++ ch.carried ++ extras(ch.component))
                .toVector.sorted)
          }
          val contractedEdgeIds =
            chains.flatMap(ch => membersByComp(ch.component).map(_.id)).toSet
          cur = cur.filterNot(e => contractedEdgeIds(e.id)) ++ shortcuts
        }
      }
      cycle += 1
    }
    import spark.implicits._
    val edgesDf = cur
      .map(e => (e.id, e.s, e.t, e.c, e.contracted))
      .toDF("edge_id", "source", "target", "cost", "contracted")
    val vmapDf = vmap.toSeq.sortBy(_._1)
      .map { case (v, s) => (v, s.toVector.sorted) }
      .toDF("vertex_id", "contracted")
    Contracted(edgesDf, vmapDf)
  }
}
