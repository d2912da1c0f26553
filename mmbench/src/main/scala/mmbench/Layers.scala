package mmbench

/** Per-layer metrics of a traced run, from its spans and counters.
  *
  * Every name is reported for every workload, as 0 where the workload
  * does not reach the layer. Times and counts are per traced pass for
  * `medallion_loop` (one gap closure), per query for `queries.*` and per
  * pipeline run for `text.*` and `sim.*`.
  */
final case class Layers(rec: Recorder, workload: String, traced: Seq[Pass],
                        untraced: Seq[Pass], cores: Int) {
  import Main.median

  private val spans = rec.all
  private val children = spans.groupBy(_.parent)
  private val passes = traced.size.max(1).toDouble

  private def named(n: String) = spans.filter(_.name == n)
  private def inLayer(prefix: String) = spans.filter(_.name.startsWith(prefix))
  private def total(n: String) = named(n).map(_.seconds).sum
  private def own(prefix: String, key: String) = inLayer(prefix).map(_.counters(key)).sum
  private def per(x: Double, n: Double) = if (n == 0) 0.0 else x / n
  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
  private def layerStat(k: String) = per(traced.map(_.layer.getOrElse(k, 0.0)).sum, passes)

  /** Spans of the gap closure: everything but the mart reads after it. */
  private val closureSpans = spans.filterNot(_.name == "mars.view_read")
  private def selfOf(prefix: String) =
    per(closureSpans.filter(_.name.startsWith(prefix)).map(rec.selfSeconds(_, children)).sum, passes)

  private val closureS = if (workload == "medallion_loop") med(traced.map(_.seconds)) else 0.0
  private val uncovered =
    if (closureS == 0) 0.0
    else closureS - per(closureSpans.filter(_.parent < 0).map(_.seconds).sum, passes)

  private def pipeline(layer: String): Seq[(String, Double, String)] = {
    val runs = named(s"$layer.pipeline").size.toDouble
    Seq(
      (s"$layer.run_s", med(named(s"$layer.run").map(_.seconds)), "s"),
      (s"$layer.consume_s", med(named(s"$layer.consume").map(_.seconds)), "s"),
      (s"$layer.kept_frac", per(own(layer, s"$layer.kept"), own(layer, s"$layer.input")), "ratio"),
      (s"$layer.jobs", per(own(layer, "jobs"), runs), "count"),
      (s"$layer.task_cpu_s", per(own(layer, "task_cpu_s"), runs), "s"),
      (s"$layer.gc_s", per(own(layer, "gc_s"), runs), "s"),
      (s"$layer.shuffle_write_mb", per(own(layer, "shuffle_write_mb"), runs), "MB"),
      (s"$layer.spill_mb", per(own(layer, "spill_mb"), runs), "MB"))
  }

  /** Stored bytes left once the workload is done. Releases are
    * asynchronous, so wait up to five seconds for them to land. */
  private val residueMb = {
    val until = System.nanoTime + 5000000000L
    var bytes = rec.storedBytes
    while (bytes > 0 && System.nanoTime < until) { Thread.sleep(100); bytes = rec.storedBytes }
    bytes / 1e6
  }

  val metrics: Seq[(String, Double, String)] = {
    val queries = named("queries.query").size.toDouble
    val queryWall = total("queries.query")
    Seq(
      ("ingest.fanout_s", total("ingest.fanout") / passes, "s"),
      ("ingest.upload_s", total("ingest.upload") / passes, "s"),
      ("ingest.tasks", own("streaming.ingest_stage", "tasks") / passes, "count"),
      ("ingest.photos", layerStat("ingest.photos"), "count"),
      ("ingest.jobs", own("ingest.", "jobs") / passes, "count"),
      ("ingest.spark_tasks", own("ingest.", "spark_tasks") / passes, "count"),
      ("ingest.self_s", selfOf("ingest."), "s"),
      ("streaming.produce_s", total("streaming.produce") / passes, "s"),
      ("streaming.messages", named("streaming.produce").size / passes, "count"),
      ("streaming.self_s", selfOf("streaming."), "s"),
      ("mars.gap_scan_s", total("mars.gap_scan") / passes, "s"),
      ("mars.gap_rows", own("streaming.transform_stage", "gap_rows") / passes, "count"),
      ("mars.load_bronze_s", total("mars.load_bronze") / passes, "s"),
      ("mars.bronze_rows", layerStat("mars.bronze_rows"), "count"),
      ("mars.build_silver_s", total("mars.build_silver") / passes, "s"),
      ("mars.build_gold_s", total("mars.build_gold") / passes, "s"),
      ("mars.write_amp", layerStat("mars.write_amp"), "ratio"),
      ("mars.files_written", layerStat("mars.files_written"), "count"),
      ("mars.freshness_s", med(traced.flatMap(_.samples.getOrElse("freshness", Nil))), "s"),
      ("mars.self_s", selfOf("mars."), "s"),
      ("mars.view_read_ms", 1000 * med(named("mars.view_read").map(_.seconds)), "ms"),
      ("loop.closure_s", closureS, "s"),
      ("loop.uncovered_s", uncovered, "s"),
      ("queries.plan_ms", 1000 * med(named("queries.plan").map(_.seconds)), "ms"),
      ("queries.exec_ms", 1000 * med(named("queries.exec").map(_.seconds)), "ms"),
      ("queries.jobs_per_query", per(own("queries.", "jobs"), queries), "count"),
      ("queries.stages_per_query", per(own("queries.", "stages"), queries), "count"),
      ("queries.spark_tasks_per_query", per(own("queries.", "spark_tasks"), queries), "count"),
      ("queries.busy_frac", per(own("queries.", "task_run_s"), queryWall * cores), "ratio")) ++
      pipeline("text") ++ pipeline("sim") ++ Seq(
      ("ops.stored_peak_mb", rec.storedPeakMb, "MB"),
      ("ops.residue_mb", residueMb, "MB"),
      ("trace.overhead_frac",
        med(traced.map(_.seconds)) / med(untraced.map(_.seconds)) - 1, "ratio"),
      ("trace.spans", spans.size / passes, "count"))
  }

  /** Human-readable lines: where a traced pass's time went. */
  def report(): Seq[String] = {
    val m = metrics.map(x => x._1 -> x._2).toMap
    def f(x: Double) = f"$x%.2f"
    val untracedS = med(untraced.map(_.seconds))
    if (workload == "medallion_loop") Seq(
      s"gap closure, traced: ${f(closureS)} s (untraced ${f(untracedS)} s, tracing overhead " +
        f"${100 * m("trace.overhead_frac")}%.1f%%)",
      s"  span self time: ingest ${f(m("ingest.self_s"))} s, streaming ${f(m("streaming.self_s"))} s, " +
        s"mars ${f(m("mars.self_s"))} s; no span: ${f(uncovered)} s")
    else Seq(
      s"query batch pass, traced: ${f(med(traced.map(_.seconds)))} s (untraced ${f(untracedS)} s, " +
        f"tracing overhead ${100 * m("trace.overhead_frac")}%.1f%%)",
      s"  queries: plan ${f(m("queries.plan_ms"))} ms + exec ${f(m("queries.exec_ms"))} ms per query; " +
        s"text run ${f(m("text.run_s"))} s; vectors run ${f(m("sim.run_s"))} s")
  }

  def spansJson: String = rec.toJson(children)
}
