package perfbench

/** Per-layer metrics of a traced run. Figures are per op unless named
  * a ratio, a median or a count of calls; a layer the workload never
  * calls reads 0. */
object Report {
  val stages: Seq[String] = Seq("network", "shared_nodes", "ways_length",
    "split_nodes", "merge_limits", "nodes_to_merge", "merged_network", "directed")
  val layers: Seq[String] = Seq("op", "sources", "ingest", "parquet", "roadgraph",
    "completegraph", "graphcheck", "tagexplore", "poisextract")

  def perLayer(wl: Workload, t: Tracer,
      traced: Seq[(PerfBench.Sample, Option[OpEngine])],
      untraced: Seq[(PerfBench.Sample, Option[OpEngine])],
      pbfBytes: Long): Seq[(String, Any)] = {
    val ops = traced.size.toDouble
    val spans = t.spans.toSeq
    def named(prefix: String) = spans.filter(_.name.startsWith(prefix))
    def perOp(prefix: String) = named(prefix).map(_.seconds).sum / ops
    def medianMs(name: String) = {
      val xs = named(name).map(_.seconds * 1e3)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    val scans = named("sources.pbf.scan.")
    val scanEngine = scans.map(_.engine).foldLeft(Counters())(_ + _)
    val engine = traced.flatMap(_._2)
    val c = engine.map(_.c).foldLeft(Counters())(_ + _)
    val opSeconds = traced.map(_._1.seconds).sum
    val self = Trace.selfSeconds(spans)
    val rows = wl match { case g: GraphBuild => g.stageRows.toMap case _ => Map.empty[String, Long] }
    val rounds = wl match { case g: GraphBuild if g.rounds.nonEmpty =>
      Stats.median(g.rounds.map(_.toDouble)) case _ => 0.0 }
    def mean(xs: Seq[PerfBench.Sample]) = xs.map(_.seconds).sum / xs.size

    def m(v: Double, unit: String) = Seq("value" -> v, "unit" -> unit)
    Seq(
      "sources.pbf.scan_s" -> m(perOp("sources.pbf.scan."), "s")) ++
    Workload.entities.map(e => s"sources.pbf.scan_s.$e" -> m(perOp(s"sources.pbf.scan.$e"), "s")) ++
    Seq(
      "sources.pbf.partitions" -> m(ratio(scanEngine.tasks, scans.size), "count"),
      "sources.pbf.empty_task_ratio" -> m(ratio(scanEngine.emptyTasks, scanEngine.tasks), "ratio"),
      "sources.pbf.decode_mb_per_s" -> m(ratio(pbfBytes * scans.size / 1e6,
        scans.map(_.seconds).sum), "MB/s"),
      "ingest.write_s" -> m(perOp("ingest.load.") - perOp("sources.pbf.scan."), "s"),
      "ingest.linestrings_s" -> m(perOp("ingest.linestrings"), "s")) ++
    stages.map(s => s"roadgraph.${s}_s" -> m(perOp(s"roadgraph.$s"), "s")) ++
    stages.map(s => s"roadgraph.${s}_rows" -> m(rows.getOrElse(s, 0L).toDouble, "rows")) ++
    Seq(
      "roadgraph.snap_ms" -> m(medianMs("roadgraph.snap"), "ms"),
      "parquet.write_s" -> m(perOp("parquet.write"), "s"),
      "completegraph.build_s" -> m(perOp("completegraph.build"), "s"),
      "graphcheck.components_s" -> m(perOp("graphcheck.components"), "s"),
      "graphcheck.components_rounds" -> m(rounds, "count"),
      "graphcheck.route_ms" -> m(medianMs("graphcheck.route"), "ms"),
      "graphcheck.access_ms" -> m(medianMs("graphcheck.access"), "ms"),
      "graphcheck.local_calls" -> m(wl.graphcheckPaths("local").toDouble, "count"),
      "graphcheck.distributed_calls" -> m(wl.graphcheckPaths("distributed").toDouble, "count"),
      "tagexplore.explore_ms" -> m(medianMs("tagexplore.explore"), "ms"),
      "poisextract.pois_ms" -> m(medianMs("poisextract.pois"), "ms"),
      "spark.jobs" -> m(c.jobs / ops, "count"),
      "spark.stages" -> m(c.stages / ops, "count"),
      "spark.tasks" -> m(c.tasks / ops, "count"),
      "spark.empty_task_ratio" -> m(ratio(c.emptyTasks, c.tasks), "ratio"),
      "spark.shuffle_read_bytes" -> m(c.shuffleReadBytes / ops, "bytes"),
      "spark.shuffle_write_bytes" -> m(c.shuffleWriteBytes / ops, "bytes"),
      "spark.spill_bytes" -> m(c.spillBytes / ops, "bytes"),
      "spark.peak_exec_mem_bytes" -> m(engine.map(_.peakExecMem).maxOption.getOrElse(0L).toDouble, "bytes"),
      "spark.executor_run_s" -> m(c.executorRunMs / 1e3 / ops, "s"),
      "spark.busy_ratio" -> m(ratio(c.executorRunMs / 1e3, opSeconds * PerfBench.cores), "ratio"),
      "spark.driver_gap_s" -> m(engine.map(_.driverGapS).sum / ops, "s"),
      "catalyst.analysis_ms" -> m(c.analysisMs / ops, "ms"),
      "catalyst.optimization_ms" -> m(c.optimizationMs / ops, "ms"),
      "catalyst.planning_ms" -> m(c.planningMs / ops, "ms"),
      "jvm.gc_s" -> m(c.gcMs / 1e3 / ops, "s")) ++
    layers.map(l => s"$l.self_s" -> m(self.getOrElse(l, 0.0) / ops, "s")) ++
    Seq(
      "trace.overhead_s" -> m(mean(traced.map(_._1)) - mean(untraced.map(_._1)), "s"),
      "trace.ops" -> m(ops, "count"))
  }
}

/** Minimal JSON writer: strings, numbers, booleans, sequences of pairs
  * (objects, in order) and other sequences (arrays). */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      d.toString
    case kvs: Seq[_] if kvs.nonEmpty && kvs.forall {
          case (_: String, _) => true
          case _ => false
        } =>
      kvs.map { case (k: String, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(apply).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot encode $other")
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
