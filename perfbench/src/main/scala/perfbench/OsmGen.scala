package perfbench

import scala.collection.mutable.ArrayBuffer

/** One OSM node of a generated extract. `latRaw`/`lonRaw` are the PBF
  * wire values (1e-7 degree units at the default granularity), so the
  * degrees below are bit-identical to what the PBF reader decodes. */
final case class GenNode(id: Long, latRaw: Long, lonRaw: Long,
    tags: Map[String, String]) {
  def lat: Double = OsmGen.degrees(latRaw)
  def lon: Double = OsmGen.degrees(lonRaw)
}

final case class GenWay(id: Long, nodes: Array[Long], tags: Map[String, String])

final case class GenMember(id: Long, kind: Int, role: String) // kind: 0 N, 1 W, 2 R

final case class GenRelation(id: Long, members: Seq[GenMember],
    tags: Map[String, String])

/** A generated extract plus the facts the benchmark checks outputs
  * against. `district` is the bounding box of the route_mix clip. */
final case class Extract(nodes: Array[GenNode], ways: Array[GenWay],
    relations: Array[GenRelation], district: (Double, Double, Double, Double)) {
  lazy val counts: Map[String, Long] = Map(
    "nodes" -> nodes.length.toLong,
    "ways" -> ways.length.toLong,
    "way_nodes" -> ways.map(_.nodes.length.toLong).sum,
    "relations" -> relations.length.toLong,
    "relation_members" -> relations.map(_.members.size.toLong).sum)
  def totalRows: Long = counts.values.sum
  lazy val nodeById: Map[Long, GenNode] = nodes.iterator.map(n => n.id -> n).toMap
  def inDistrict(n: GenNode): Boolean = {
    val (x0, y0, x1, y1) = district
    n.lon >= x0 && n.lon <= x1 && n.lat >= y0 && n.lat <= y1
  }
}

/** Seeded synthetic OSM extract: a street grid whose ways cross at
  * shared intersection nodes, written as a PBF file.
  *
  * Grid size is fixed so every seed does the same amount of work; the
  * seed draws everything else: coordinate jitter, shape nodes per
  * block, way lengths, highway classes (the car classes of
  * `RoadGraph.includedHighways` plus excluded spur classes), mode tags
  * that `RoadGraph.excludeModes` removes, `maxspeed` on a share of ways
  * (plain, unit-suffixed and missing, so `imputeSpeedLimits` fills
  * gaps), `oneway` = yes / -1 / no / absent, POI nodes placed beside
  * streets, landuse rings, and restriction, route and multipolygon
  * relations. */
object OsmGen {
  final case class Config(rows: Int, cols: Int, spacingDeg: Double,
      districtBlocks: Int)

  /** 64 x 64 intersections (~35k pgsnapshot rows): one file-to-edge-list
    * build fits a run; the route_mix district is 40 x 40 blocks of it. */
  val default: Config = Config(rows = 64, cols = 64, spacingDeg = 0.001,
    districtBlocks = 40)

  def degrees(raw: Long): Double = 1e-9 * (100L * raw)
  private def raw(deg: Double): Long = math.round(deg * 1e7)

  private val lat0 = 42.40
  private val lon0 = 19.20
  private val carMinor = Array("residential", "residential", "residential",
    "unclassified", "living_street")
  private val carMajor = Array("primary", "secondary", "tertiary", "trunk")
  private val spurClasses = Array("footway", "cycleway", "path", "service",
    "track", "steps")
  private val modeTags = Array("bicycle" -> "designated", "foot" -> "designated",
    "bus" -> "designated", "footway" -> "sidewalk", "motor_vehicle" -> "no",
    "access" -> "private", "service" -> "parking_aisle")
  private val speeds = Array("30", "40", "50", "50", "60", "80 km/h", "20 mph")
  private val poiKeys = Array("amenity", "amenity", "shop", "shop", "leisure",
    "tourism", "office", "craft", "sport", "emergency", "historic")
  private val poiValues = Map(
    "amenity" -> Array("cafe", "restaurant", "school", "pharmacy", "bank"),
    "shop" -> Array("bakery", "supermarket", "clothes", "kiosk"),
    "leisure" -> Array("park", "playground", "fitness_centre"),
    "tourism" -> Array("hotel", "museum", "viewpoint"),
    "office" -> Array("company", "government"),
    "craft" -> Array("carpenter", "electrician"),
    "sport" -> Array("soccer", "tennis"),
    "emergency" -> Array("defibrillator", "fire_hydrant"),
    "historic" -> Array("memorial", "monument"))
  private val landuses = Array("residential", "commercial", "retail", "grass",
    "forest")
  private val turns = Array("no_left_turn", "no_right_turn", "no_u_turn",
    "only_straight_on")

  def generate(seed: Long, cfg: Config = default): Extract = {
    val rnd = new scala.util.Random(seed)
    def pick[T](a: Array[T]): T = a(rnd.nextInt(a.length))
    val nodes = ArrayBuffer.empty[GenNode]
    val ways = ArrayBuffer.empty[GenWay]
    val relations = ArrayBuffer.empty[GenRelation]
    val s = cfg.spacingDeg
    def addNode(lon: Double, lat: Double, tags: Map[String, String]): Long = {
      val id = nodes.size + 1L
      nodes += GenNode(id, raw(lat), raw(lon), tags)
      id
    }
    def freshWayId(): Long = 1000000L + ways.size
    val nameStems = Array("Oak", "Main", "Harbour", "Hill", "Mill", "Church",
      "Station", "Park", "Bridge", "Market")

    // intersections first, row-major, so their ids are (r * cols + c + 1)
    val ix = Array.tabulate(cfg.rows, cfg.cols) { (r, c) =>
      val tags =
        if (rnd.nextDouble() < 0.04) Map("highway" -> "traffic_signals")
        else if (rnd.nextDouble() < 0.02)
          Map("amenity" -> pick(Array("fuel", "charging_station", "parking_entrance")))
        else Map.empty[String, String]
      addNode(lon0 + c * s + (rnd.nextDouble() - 0.5) * 0.2 * s,
        lat0 + r * s + (rnd.nextDouble() - 0.5) * 0.2 * s, tags)
    }
    def ixNode(r: Int, c: Int): GenNode = nodes((ix(r)(c) - 1).toInt)
    val waysAt = scala.collection.mutable.HashMap.empty[Long, List[Long]]

    // streets: one per grid row and column, cut into ways of 3..9 blocks
    def street(line: IndexedSeq[Long], major: Boolean, name: String): Unit = {
      val cls = if (major) pick(carMajor) else pick(carMinor)
      var i = 0
      while (i < line.size - 1) {
        val blocks = math.min(3 + rnd.nextInt(7), line.size - 1 - i)
        val refs = ArrayBuffer(line(i))
        (i until i + blocks).foreach { b =>
          val (a, z) = (nodes((line(b) - 1).toInt), nodes((line(b + 1) - 1).toInt))
          val shapes = rnd.nextInt(3)
          (1 to shapes).foreach { k =>
            val f = k.toDouble / (shapes + 1)
            refs += addNode(a.lon + (z.lon - a.lon) * f + (rnd.nextDouble() - 0.5) * 0.05 * s,
              a.lat + (z.lat - a.lat) * f + (rnd.nextDouble() - 0.5) * 0.05 * s,
              Map.empty)
          }
          refs += line(b + 1)
        }
        val oneway = rnd.nextDouble()
        val tags = Map.newBuilder[String, String]
        tags += "highway" -> (if (rnd.nextDouble() < 0.01) "motorway" else cls)
        tags += "name" -> name
        if (rnd.nextDouble() < 0.6) tags += "maxspeed" -> pick(speeds)
        if (oneway < 0.08) tags += "oneway" -> "yes"
        else if (oneway < 0.12) tags += "oneway" -> "-1"
        else if (oneway < 0.15) tags += "oneway" -> "no"
        if (rnd.nextDouble() < 0.03) tags += pick(modeTags)
        if (rnd.nextDouble() < 0.3) tags += "surface" -> pick(Array("asphalt", "paving_stones", "gravel"))
        if (rnd.nextDouble() < 0.2) tags += "lanes" -> (1 + rnd.nextInt(3)).toString
        val id = freshWayId()
        ways += GenWay(id, refs.toArray, tags.result())
        (i to i + blocks).foreach(b => waysAt(line(b)) = id :: waysAt.getOrElse(line(b), Nil))
        i += blocks
      }
    }
    (0 until cfg.rows).foreach { r =>
      street((0 until cfg.cols).map(c => ix(r)(c)), r % 12 == 0,
        s"${pick(nameStems)} Street $r")
    }
    (0 until cfg.cols).foreach { c =>
      street((0 until cfg.rows).map(r => ix(r)(c)), c % 12 == 0,
        s"${pick(nameStems)} Avenue $c")
    }

    // per block: spur ways of excluded classes, landuse rings, POIs
    val landuseWays = ArrayBuffer.empty[Long]
    for (r <- 0 until cfg.rows - 1; c <- 0 until cfg.cols - 1) {
      val sw = ixNode(r, c)
      val (bx, by) = (sw.lon, sw.lat)
      if (rnd.nextDouble() < 0.08) {
        val end = addNode(bx + s * (0.3 + 0.2 * rnd.nextDouble()),
          by + s * (0.3 + 0.2 * rnd.nextDouble()), Map.empty)
        ways += GenWay(freshWayId(), Array(sw.id, end),
          Map("highway" -> pick(spurClasses)))
      }
      if (rnd.nextDouble() < 0.05) {
        val (x0, y0, d) = (bx + 0.55 * s, by + 0.55 * s, 0.3 * s)
        val ring = Seq((x0, y0), (x0 + d, y0), (x0 + d, y0 + d), (x0, y0 + d))
          .map { case (x, y) => addNode(x, y, Map.empty) }
        val tags = Map("landuse" -> pick(landuses)) ++
          (if (rnd.nextDouble() < 0.3) Map("leisure" -> "park") else Map.empty)
        val id = freshWayId()
        ways += GenWay(id, (ring :+ ring.head).toArray, tags)
        landuseWays += id
      }
      if (rnd.nextDouble() < 0.15) {
        // beside the block's southern street: 0.05..0.45 spacings north
        // of it, inside RoadGraph.snapPois' default 0.001-degree tolerance
        val e = ixNode(r, c + 1)
        val f = 0.2 + 0.6 * rnd.nextDouble()
        val off = s * (0.05 + 0.4 * rnd.nextDouble())
        val k = pick(poiKeys)
        val tags = Map.newBuilder[String, String]
        tags += k -> pick(poiValues(k))
        if (rnd.nextDouble() < 0.7) tags += "name" -> s"${pick(nameStems)} ${k.capitalize} ${r * cfg.cols + c}"
        if (rnd.nextDouble() < 0.05 && k != "shop") tags += "shop" -> pick(poiValues("shop"))
        if (rnd.nextDouble() < 0.2) tags += "opening_hours" -> "Mo-Fr 08:00-18:00"
        addNode(sw.lon + (e.lon - sw.lon) * f, sw.lat + (e.lat - sw.lat) * f + off,
          tags.result())
      }
    }

    // relations: turn restrictions at intersections shared by 2+ ways,
    // bus routes along major streets, multipolygons over landuse rings
    var relId = 5000000L
    def addRel(members: Seq[GenMember], tags: Map[String, String]): Unit = {
      relations += GenRelation(relId, members, tags); relId += 1
    }
    for (r <- 0 until cfg.rows; c <- 0 until cfg.cols) {
      val at = waysAt.getOrElse(ix(r)(c), Nil)
      if (at.size >= 2 && rnd.nextDouble() < 0.01) {
        val from = at(rnd.nextInt(at.size))
        val to = at.filter(_ != from)(rnd.nextInt(at.size - 1))
        addRel(Seq(GenMember(from, 1, "from"), GenMember(ix(r)(c), 0, "via"),
          GenMember(to, 1, "to")),
          Map("type" -> "restriction", "restriction" -> pick(turns)))
      }
    }
    (0 until 24).foreach { i =>
      val r = 12 * (i % ((cfg.rows + 11) / 12))
      val members = (0 until cfg.cols by 3).flatMap(c => waysAt.getOrElse(ix(r)(c), Nil))
        .distinct.take(12).map(GenMember(_, 1, "")) ++
        (0 until 4).map(k => GenMember(ix(r)(k * 7 % cfg.cols), 0, "stop"))
      addRel(members, Map("type" -> "route", "route" -> "bus", "ref" -> (i + 1).toString))
    }
    landuseWays.foreach { w =>
      if (rnd.nextDouble() < 0.2)
        addRel(Seq(GenMember(w, 1, "outer")),
          Map("type" -> "multipolygon", "landuse" -> pick(landuses)))
    }

    val r0 = (cfg.rows - cfg.districtBlocks) / 2
    val c0 = (cfg.cols - cfg.districtBlocks) / 2
    val district = (lon0 + (c0 - 0.5) * s, lat0 + (r0 - 0.5) * s,
      lon0 + (c0 + cfg.districtBlocks + 0.5) * s,
      lat0 + (r0 + cfg.districtBlocks + 0.5) * s)
    Extract(nodes.toArray, ways.toArray, relations.toArray, district)
  }

  // ---- PBF writer: OSMHeader blob, then dense-node, way and relation
  //      blocks of up to 8000 entities each, zlib-compressed ----------

  private final class Buf {
    private val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): Buf = {
      var v = v0
      while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt); this
    }
    def key(field: Int, wire: Int): Buf = varint((field << 3) | wire)
    def vi(field: Int, v: Long): Buf = key(field, 0).varint(v)
    def bytes(field: Int, b: Array[Byte]): Buf = {
      key(field, 2).varint(b.length); out.write(b); this
    }
    def str(field: Int, v: String): Buf = bytes(field, v.getBytes("UTF-8"))
    def packed(field: Int, vs: Iterable[Long]): Buf = {
      val p = new Buf; vs.foreach(p.varint); bytes(field, p.result)
    }
    def packedS(field: Int, vs: Iterable[Long]): Buf =
      packed(field, vs.map(v => (v << 1) ^ (v >> 63)))
    def result: Array[Byte] = out.toByteArray
  }

  private def deltas(vs: Iterable[Long]): Seq[Long] = {
    var prev = 0L
    vs.map { v => val d = v - prev; prev = v; d }.toSeq
  }

  private final class StringTable {
    private val index = scala.collection.mutable.LinkedHashMap("" -> 0)
    def apply(s: String): Long = index.getOrElseUpdate(s, index.size).toLong
    def encode: Array[Byte] = {
      val b = new Buf; index.keys.foreach(s => b.str(1, s)); b.result
    }
  }

  private def writeBlob(out: java.io.DataOutputStream, kind: String,
      block: Array[Byte]): Unit = {
    val d = new java.util.zip.Deflater()
    d.setInput(block); d.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](1 << 16)
    while (!d.finished()) zbuf.write(chunk, 0, d.deflate(chunk))
    d.end()
    val blob = new Buf().vi(2, block.length).bytes(3, zbuf.toByteArray).result
    val header = new Buf().str(1, kind).vi(3, blob.length).result
    out.writeInt(header.length); out.write(header); out.write(blob)
  }

  /** Call after the group is encoded: encoding fills the string table. */
  private def primitiveBlock(st: StringTable, group: Array[Byte]): Array[Byte] =
    new Buf().bytes(1, st.encode).bytes(2, group).result

  private val perBlock = 8000

  /** Entity metadata is derived from the id so the file is fully
    * determined by the extract. */
  private def version(id: Long): Long = 1 + id % 3
  private def timestamp(id: Long): Long = 1600000000L + id % 100000
  private def changeset(id: Long): Long = 100000L + id % 5000
  private def uid(id: Long): Long = id % 997

  def writePbf(ex: Extract, path: java.nio.file.Path): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(path), 1 << 20))
    try {
      writeBlob(out, "OSMHeader", new Buf().str(4, "OsmSchema-V0.6")
        .str(4, "DenseNodes").str(16, "perfbench").result)
      ex.nodes.grouped(perBlock).foreach { ns =>
        val st = new StringTable
        val kv = ns.toSeq.flatMap(n =>
          n.tags.toSeq.sorted.flatMap { case (k, v) => Seq(st(k), st(v)) } :+ 0L)
        val info = new Buf()
          .packed(1, ns.map(n => version(n.id)))
          .packedS(2, deltas(ns.map(n => timestamp(n.id))))
          .packedS(3, deltas(ns.map(n => changeset(n.id))))
          .packedS(4, deltas(ns.map(n => uid(n.id)))).result
        val dense = new Buf()
          .packedS(1, deltas(ns.map(_.id)))
          .bytes(5, info)
          .packedS(8, deltas(ns.map(_.latRaw)))
          .packedS(9, deltas(ns.map(_.lonRaw)))
          .packed(10, kv).result
        val group = new Buf().bytes(2, dense).result
        writeBlob(out, "OSMData", primitiveBlock(st, group))
      }
      def info(id: Long): Array[Byte] = new Buf().vi(1, version(id))
        .vi(2, timestamp(id)).vi(3, changeset(id)).vi(4, uid(id)).result
      ex.ways.grouped(perBlock).foreach { ws =>
        val st = new StringTable
        val g = new Buf()
        ws.foreach { w =>
          val tags = w.tags.toSeq.sorted
          g.bytes(3, new Buf().vi(1, w.id)
            .packed(2, tags.map(t => st(t._1))).packed(3, tags.map(t => st(t._2)))
            .bytes(4, info(w.id))
            .packedS(8, deltas(w.nodes.toSeq)).result)
        }
        writeBlob(out, "OSMData", primitiveBlock(st, g.result))
      }
      ex.relations.grouped(perBlock).foreach { rs =>
        val st = new StringTable
        val g = new Buf()
        rs.foreach { r =>
          val tags = r.tags.toSeq.sorted
          g.bytes(4, new Buf().vi(1, r.id)
            .packed(2, tags.map(t => st(t._1))).packed(3, tags.map(t => st(t._2)))
            .bytes(4, info(r.id))
            .packed(8, r.members.map(m => st(m.role)))
            .packedS(9, deltas(r.members.map(_.id)))
            .packed(10, r.members.map(_.kind.toLong)).result)
        }
        writeBlob(out, "OSMData", primitiveBlock(st, g.result))
      }
    } finally out.close()
  }
}
