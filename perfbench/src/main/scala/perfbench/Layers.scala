package perfbench

import java.io.File

import Tracer.SpanView

/** The per-layer numbers of a traced run, computed from its spans, the
  * jobs the listener attributed to them, and the counts the layer calls
  * returned. Every metric is present for every workload; a layer the
  * workload never calls reports 0. */
object Layers {

  /** Name and unit of every per-layer metric, in report order. */
  val Metrics: Seq[(String, String)] = Seq(
    "manifest_source.resolve_ms" -> "ms",
    "manifest_source.plan_ms" -> "ms",
    "manifest_source.manifests" -> "count",
    "manifest_source.entries" -> "count",
    "manifest_source.decode_ms" -> "ms",
    "manifest_source.decode_entries_per_s" -> "entries/s",
    "metrics_calculator.partition_stats_ms" -> "ms",
    "metrics_calculator.groups" -> "count",
    "metrics_calculator.table_metrics_ms" -> "ms",
    "renderer.render_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_deserialize_ms" -> "ms",
    "spark.task_run_ms" -> "ms",
    "spark.driver_only_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_records" -> "count",
    "layout_maintenance.append_ms" -> "ms",
    "layout_maintenance.metadata_json_bytes" -> "bytes",
    "layout_maintenance.metadata_bytes_written" -> "bytes",
    "layout_maintenance.rewrite_manifests_ms" -> "ms",
    "layout_maintenance.manifests_before" -> "count",
    "layout_maintenance.manifests_after" -> "count",
    "layout_maintenance.compaction_ms" -> "ms",
    "layout_maintenance.compaction_jobs" -> "count",
    "layout_maintenance.data_files_before" -> "count",
    "layout_maintenance.data_files_after" -> "count",
    "layout_maintenance.compaction_ratio" -> "ratio") ++
    QueryMixWorkload.Queries.flatMap(q => Seq(
      s"operators.$q.ms" -> "ms",
      s"operators.$q.jobs" -> "count",
      s"operators.$q.driver_only_ms" -> "ms")) ++ Seq(
    "jvm.gc_ms" -> "ms",
    "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio")

  /** Counts a traced diagnosis returned. */
  def diagCounts(res: Diagnosis.Result, s: Samples): Unit = {
    s.add("manifests", res.manifests.toDouble)
    s.add("entries_decoded", res.entries.toDouble)
    s.add("groups", res.groups.toDouble)
  }

  /** Name to size of every file under the table's metadata directory. */
  def metadataFiles(tableDir: String): Map[String, Long] =
    Option(new File(tableDir, "metadata").listFiles()).fold(Map.empty[String, Long])(
      _.map(f => f.getName -> f.length()).toMap)

  /** Bytes one commit wrote (new or rewritten metadata files) and the
    * size of the metadata JSON it left current. */
  def metadataWritten(tableDir: String, before: Map[String, Long], s: Samples): Unit = {
    val after = metadataFiles(tableDir)
    s.add("metadata_bytes_written",
      after.collect { case (n, len) if !before.get(n).contains(len) => len }.sum.toDouble)
    val current = after.keys.filter(_.endsWith(".metadata.json"))
      .maxByOption(n => "^v(\\d+)".r.findFirstMatchIn(n).fold(-1L)(_.group(1).toLong))
    current.foreach(n => s.add("metadata_json_bytes", after(n).toDouble))
  }

  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  def compute(spans: Seq[SpanView], s: Samples, gcMs: Double,
      heapPeakMb: Double, overheadRatio: Double): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    def subtree(v: SpanView): Seq[SpanView] =
      v +: children.getOrElse(v.id, Nil).flatMap(subtree)
    def named(n: String) = spans.filter(_.name == n)
    def jobs(v: SpanView) = subtree(v).flatMap(_.jobs)
    def driverOnly(v: SpanView): Double = {
      val end = v.startMs + math.round(v.durMs)
      val covered = Tracer.unionLength(jobs(v).map(j =>
        (math.max(j.submitMs, v.startMs), math.min(j.endMs, end))))
      math.max(0.0, v.durMs - covered)
    }
    // per diagnosis: the sum of one layer's spans inside it
    val diags = named("diagnosis")
    def perDiag(layer: String): Double =
      med(diags.map(d => subtree(d).filter(_.name == layer).map(_.durMs).sum))
    val decodeRates = diags.flatMap { d =>
      subtree(d).find(_.name == "manifest_source.decode").map(_.durMs)
    }.zip(s("entries_decoded")).collect { case (ms, n) if ms > 0 => n * 1000.0 / ms }
    // Spark counters per unit of the workload: a diagnosis, or a query pass
    val units = if (diags.nonEmpty) diags else named("pass")
    def perUnit(f: Tracer.Job => Double): Double =
      med(units.map(u => jobs(u).map(f).sum))
    val compactions = named("layout_maintenance.compaction")
    val ratios = s("data_files_before").zip(s("data_files_after"))
      .collect { case (b, a) if b > 0 => a / b }
    val base = Map(
      "manifest_source.resolve_ms" -> perDiag("manifest_source.resolve"),
      "manifest_source.plan_ms" -> perDiag("manifest_source.plan"),
      "manifest_source.manifests" -> med(s("manifests")),
      "manifest_source.entries" -> med(s("entries_decoded")),
      "manifest_source.decode_ms" -> perDiag("manifest_source.decode"),
      "manifest_source.decode_entries_per_s" -> med(decodeRates),
      "metrics_calculator.partition_stats_ms" -> perDiag("metrics_calculator.partition_stats"),
      "metrics_calculator.groups" -> med(s("groups")),
      "metrics_calculator.table_metrics_ms" -> perDiag("metrics_calculator.table_metrics"),
      "renderer.render_ms" -> perDiag("renderer.render"),
      "spark.jobs" -> perUnit(_ => 1.0),
      "spark.stages" -> perUnit(_.stages.toDouble),
      "spark.tasks" -> perUnit(_.tasks.toDouble),
      "spark.task_deserialize_ms" -> perUnit(_.deserializeMs.toDouble),
      "spark.task_run_ms" -> perUnit(_.runMs.toDouble),
      "spark.driver_only_ms" -> med(units.map(driverOnly)),
      "spark.shuffle_write_bytes" -> perUnit(_.shuffleWriteBytes.toDouble),
      "spark.shuffle_records" -> perUnit(_.shuffleRecords.toDouble),
      "layout_maintenance.append_ms" -> med(named("layout_maintenance.append").map(_.durMs)),
      "layout_maintenance.metadata_json_bytes" ->
        s("metadata_json_bytes").lastOption.getOrElse(0.0),
      "layout_maintenance.metadata_bytes_written" -> med(s("metadata_bytes_written")),
      "layout_maintenance.rewrite_manifests_ms" ->
        med(named("layout_maintenance.rewrite_manifests").map(_.durMs)),
      "layout_maintenance.manifests_before" -> med(s("manifests_before")),
      "layout_maintenance.manifests_after" -> med(s("manifests_after")),
      "layout_maintenance.compaction_ms" -> med(compactions.map(_.durMs)),
      "layout_maintenance.compaction_jobs" -> med(compactions.map(jobs(_).size.toDouble)),
      "layout_maintenance.data_files_before" -> med(s("data_files_before")),
      "layout_maintenance.data_files_after" -> med(s("data_files_after")),
      "layout_maintenance.compaction_ratio" -> med(ratios),
      "jvm.gc_ms" -> gcMs,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "trace.overhead_ratio" -> overheadRatio)
    val ops = QueryMixWorkload.Queries.flatMap { q =>
      val vs = named(s"operators.$q")
      Seq(s"operators.$q.ms" -> med(vs.map(_.durMs)),
        s"operators.$q.jobs" -> med(vs.map(jobs(_).size.toDouble)),
        s"operators.$q.driver_only_ms" -> med(vs.map(driverOnly)))
    }
    base ++ ops
  }
}
