package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** The diagnosis benchmark's JVM side. `perfbench/run.py` builds it and
  * starts it; see `perfbench/README.md` for the workloads and metrics.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --digests <file>
  * Main --pin <outDir> --work <dir> --digests <file>
  * }}}
  *
  * The last line of standard output is the result object; every line
  * before it is a readable report.
  */
object Main {

  /** Set-up runs this many times per run; `setup_s` is their median. */
  val SetupRepeats = 3

  def workloads(digests: Map[String, (Long, String)]): Map[String, () => Workload] = Map(
    "diag_catalog" -> (() => new DiagWorkload("diag_catalog", tables = 6,
      manifests = 4, perManifest = 64, partitions = 8, deleteShare = 0.02)),
    "maintain_commit" -> (() => new MaintainWorkload),
    "query_mix" -> (() => new QueryMixWorkload(digests)))

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(args("work")).getAbsoluteFile
    val digests = Digests.read(new File(args("digests")))
    Reference.checkGoldens()
    args.get("pin") match {
      case Some(out) => Digests.pin(session(work), new File(work, "pin"), new File(out),
        new File(args("digests")))
      case None =>
        val all = workloads(digests)
        val make = all.getOrElse(args("workload"), sys.error(
          s"unknown workload ${args("workload")}; one of ${all.keys.mkString(", ")}"))
        run(make(), args("seed").toLong, args("seconds").toInt, args("trace") == "1", work)
    }
  }

  private def run(w: Workload, seed: Long, seconds: Int, trace: Boolean, work: File): Unit = {
    val ck = new Checks
    val dir = new File(work, w.name)
    val setup = (1 to SetupRepeats).map { _ =>
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      w.prepare(session(work), dir, seed, ck)
      Stats.ms(t0) / 1000.0
    }
    val spark = SparkSession.active
    val off = new Tracer(spark.sparkContext, enabled = false)
    val on = new Tracer(spark.sparkContext, enabled = trace)
    val s = new Samples
    val gc0 = Jvm.gcMs()
    Jvm.resetHeapPeak()
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    // traced runs alternate untraced and traced steps, so the overhead is
    // measured on the same inputs at the same point of the run
    while (i < w.minSteps * (if (trace) 2 else 1) || System.nanoTime() < deadline) {
      w.step(i, if (trace && i % 2 == 1) on else off, s, ck)
      i += 1
    }
    val report = ("setup_s", Stats.median(setup),
        s"s (median of ${setup.size}: ${setup.map(x => f"$x%.3f").mkString(", ")})") +:
      w.report(s) :+
      ("failed_ops_ratio", ck.failed.toDouble / math.max(1L, ck.attempted),
        s"(${ck.failed} of ${ck.attempted} operations)")
    println(s"workload ${w.name}, seed $seed, $i steps, ${if (trace) "traced" else "untraced"}")
    report.foreach { case (n, v, u) => println(f"  $n%-22s $v%.4f $u") }
    ck.notes.foreach(n => println(s"  FAILED $n"))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.median(setup), "s"),
        ("op_p50_ms", w.opP50(s), "ms"),
        ("work_per_s", w.workPerS(s), "1/s"))
      else {
        val spans = on.finish()
        val overhead = w.opP50(s, traced = true) / w.opP50(s)
        val layers = Layers.compute(spans, s, Jvm.gcMs() - gc0, Jvm.heapPeakMb(), overhead)
        println(f"  trace.overhead_ratio  $overhead%.4f (traced / untraced op_p50_ms)")
        val file = new File(work, s"trace/${w.name}-seed$seed.json")
        TraceFile.write(file, w.name, seed, spans, layers)
        println(s"  spans written to $file")
        Layers.Metrics.map { case (n, u) => (n, layers(n), u) }
      }
    on.close()
    spark.stop()
    println(Json.result(ck.failed == 0, ck.attempted, ck.failed, metrics))
  }
}
