package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark main. Usage:
  *
  * {{{
  * PerfBench --workload graph_build|route_mix --seed N --seconds S
  *           --trace 0|1 --work DIR
  * }}}
  *
  * Set-up starts a `local[4]` session, generates and writes the seeded
  * extract several times, runs the workload's own set-up and warms it
  * up. The timed loop then runs ops back to back from one client for S
  * seconds and at least the workload's minimum op count. With
  * `--trace 1` an untraced loop is followed by a traced one of the same
  * length, and the per-layer metrics are reported instead of the
  * end-to-end ones. The last line of stdout is the result object.
  */
object PerfBench {
  val cores = 4
  val setupReps = 3

  final case class Sample(kind: String, units: Long, seconds: Double, ok: Boolean,
      parts: Map[String, (Long, Double)] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("train")) return train(Paths.get(args("work")).toAbsolutePath)
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val loadBefore = loadavg()
    val stealBefore = stealSeconds()

    val tSession = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - tSession) / 1e9

    try {
      val wl = Workload(workload, spark, work.resolve("data"))
      lazy val probe = new EngineProbe(spark)
      val off = new Tracer(false, probe)

      // set-up: generating and writing the extract runs several times
      // (the median is reported); the workload's own set-up and the
      // warm-up on the real inputs run once
      var ex: Extract = null
      val pbf = work.resolve("extract.osm.pbf")
      val genS = (1 to setupReps).map { _ =>
        val t0 = System.nanoTime()
        ex = OsmGen.generate(seed)
        OsmGen.writePbf(ex, pbf)
        (System.nanoTime() - t0) / 1e9
      }
      val pbfBytes = Files.size(pbf)
      val tPrep = System.nanoTime()
      wl.setup(ex, pbf)
      val prepS = (System.nanoTime() - tPrep) / 1e9
      val tWarm = System.nanoTime()
      val warm = loop(wl, new scala.util.Random(seed ^ 0x5eed), off, 0.0,
        wl.warmupKinds.size, wl.warmupKinds.iterator)
      val warmupS = (System.nanoTime() - tWarm) / 1e9
      val setupS = sessionS + Stats.median(genS) + prepS + warmupS

      val rnd = () => new scala.util.Random(seed * 31 + 7)
      // a traced run reports no latency percentiles
      val minOps = if (trace) 1 else wl.minTimedOps
      def timedKinds(r: scala.util.Random) = Iterator.continually(wl.nextKind(r))
      val timedRnd = rnd()
      val timed = loop(wl, timedRnd, off, seconds, minOps, timedKinds(timedRnd))
      var traced = Seq.empty[(Sample, Option[OpEngine])]
      val (metrics, named) =
        if (!trace) endToEnd(workload, timed, setupS)
        else {
          val tracer = new Tracer(true, probe)
          val tracedRnd = rnd()
          traced = loop(wl, tracedRnd, tracer, seconds, minOps, timedKinds(tracedRnd), Some(probe))
          (Report.perLayer(wl, tracer, traced, timed, pbfBytes), Nil)
        }
      val all = (warm ++ timed ++ traced).map(_._1)
      val attempted = all.size
      val failed = all.count(!_.ok)

      val regime = Seq(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_cores" -> cores,
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
        "cpu_steal_s" -> (stealSeconds() - stealBefore),
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
        "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.toArray.toSeq.map(_.toString).filterNot(_.startsWith("--add-opens")),
        "spark_version" -> spark.version,
        "input" -> (ex.counts.toSeq.sortBy(_._1) ++ Seq("pbf_bytes" -> pbfBytes) ++
          wl.inputSizes),
        "setup" -> Seq("session_s" -> sessionS, "extract_s" -> genS,
          "prepare_s" -> prepS, "warmup_s" -> warmupS),
        "ops" -> Seq("warmup" -> warm.size, "warmup_s" -> warm.map(_._1.seconds),
          "timed" -> timed.size, "timed_s" -> timed.map(_._1.seconds),
          "traced" -> traced.size,
          "by_kind" -> timed.groupBy(_._1.kind).toSeq.sortBy(_._1).map { case (k, v) => k -> v.size }),
        "attempted" -> attempted, "failed" -> failed,
        "error_rate" -> failed.toDouble / attempted)
      println(Json(Seq("regime" -> regime)))
      if (named.nonEmpty) println(Json(Seq("workload" -> workload, "metrics" -> named)))
      println(Json(Seq("correct" -> (failed == 0), "attempted" -> attempted,
        "failed" -> failed, "metrics" -> metrics)))
    } finally spark.stop()
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Both workloads' set-up and warm-up on a small fixed extract: the
    * build runs this once to record the classes a run loads into a
    * class-data-sharing archive, which later runs map at start. */
  def train(work: Path): Unit = {
    val spark = session(work)
    try Seq("graph_build", "route_mix").foreach { name =>
      val wl = Workload(name, spark, work.resolve(name))
      val ex = OsmGen.generate(0L, OsmGen.Config(rows = 30, cols = 30,
        spacingDeg = 0.001, districtBlocks = 20))
      val pbf = work.resolve(s"$name.osm.pbf")
      OsmGen.writePbf(ex, pbf)
      wl.setup(ex, pbf)
      val res = loop(wl, new scala.util.Random(0), new Tracer(false, null), 0.0,
        wl.warmupKinds.size, wl.warmupKinds.iterator)
      require(res.forall(_._1.ok), s"$name training ops failed")
    } finally spark.stop()
  }

  /** Closed loop, one client: run ops back to back until `seconds` have
    * passed and at least `minOps` ops ran. Each op is timed alone; its
    * output check runs after the clock stops. With a probe, each op's
    * engine counters are kept beside its sample. */
  def loop(wl: Workload, rnd: scala.util.Random, t: Tracer, seconds: Double,
      minOps: Int, kinds: Iterator[String], probe: Option[EngineProbe] = None)
      : Seq[(Sample, Option[OpEngine])] = {
    val out = ArrayBuffer.empty[(Sample, Option[OpEngine])]
    val start = System.nanoTime()
    var opId = 0
    while (kinds.hasNext &&
        (out.size < minOps || (System.nanoTime() - start) / 1e9 < seconds)) {
      opId += 1
      t.currentOp = opId
      val before = probe.map(_.snapshot())
      probe.foreach(_.takePeakExecMem())
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res =
        try Right(t.span("op")(wl.op(kinds.next(), rnd, t)))
        catch { case e: Exception => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      val wall1 = System.currentTimeMillis()
      val engine = probe.map { p =>
        val c = p.snapshot() - before.get
        OpEngine(c, p.takePeakExecMem(), p.idleMs(wall0, wall1) / 1e3)
      }
      val sample = res match {
        case Right(r) =>
          val ok = try r.check() catch { case e: Exception =>
            System.err.println(s"[perfbench] check of ${r.kind} op $opId threw: $e"); false
          }
          if (!ok) System.err.println(s"[perfbench] ${r.kind} op $opId: wrong answer")
          Sample(r.kind, r.units, dt, ok, r.parts)
        case Left(e) =>
          System.err.println(s"[perfbench] op $opId failed: $e")
          Sample("failed", 0, dt, ok = false)
      }
      out += ((sample, engine))
    }
    out.toSeq
  }

  /** The end-to-end metrics, plus the same figures under the names the
    * workload's own definition uses. */
  private def endToEnd(workload: String, timed: Seq[(Sample, Option[OpEngine])],
      setupS: Double): (Seq[(String, Any)], Seq[(String, Any)]) = {
    val s = timed.map(_._1)
    val ms = s.map(_.seconds * 1e3)
    val rate = s.map(_.units).sum / s.map(_.seconds).sum
    def m(v: Double, unit: String) = Seq("value" -> v, "unit" -> unit)
    val p50 = Stats.quantile(ms, 0.5)
    val p90 = Stats.quantile(ms, 0.9)
    val metrics = Seq("setup_s" -> m(setupS, "s"), "work_per_s" -> m(rate, "units/s"),
      "op_p50_ms" -> m(p50, "ms"), "op_p90_ms" -> m(p90, "ms"))
    val errorRate = s.count(!_.ok).toDouble / s.size
    val named = workload match {
      case "graph_build" =>
        val land = s.flatMap(_.parts.get("land"))
        Seq("graph_build_ways_per_s" -> m(rate, "ways/s"),
          "ingest_rows_per_s" -> m(land.map(_._1).sum / land.map(_._2).sum, "rows/s"))
      case _ => Seq("request_p50_ms" -> m(p50, "ms"), "request_p90_ms" -> m(p90, "ms"),
        "requests" -> m(s.size.toDouble, "count"),
        "requests_beyond_p90" -> m(Stats.beyond(ms, 0.9).toDouble, "count"))
    }
    (metrics, Seq("setup_s" -> m(setupS, "s")) ++ named ++
      Seq("error_rate" -> m(errorRate, "failed/attempted")))
  }

  /** CPU time the hypervisor gave to others, summed over all CPUs. */
  private def stealSeconds(): Double =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      cpu(8).toDouble / 100
    } catch { case _: Exception => 0.0 }

  private def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
      .take(3).toSeq.map(_.toDouble)
    catch { case _: Exception => Nil }
}

/** Engine figures of one op: counter deltas, the highest task peak
  * memory, and the seconds of the op during which no job ran. */
final case class OpEngine(c: Counters, peakExecMem: Long, driverGapS: Double)
