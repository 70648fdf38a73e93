package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** JSON text for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A measured number with all its digits; JSON has no NaN or infinity. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) =>
        s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}"""
      }.mkString(", ") + "}}"
}

/** The traced run's spans, each with its self time and the Spark jobs
  * attributed to it, beside the per-layer metrics computed from them. */
object TraceFile {
  def write(file: File, workload: String, seed: Long,
      spans: Seq[Tracer.SpanView], layers: Map[String, Double]): Unit = {
    val t0 = spans.headOption.fold(0L)(_.startMs)
    val spanJson = spans.map { s =>
      val jobs = s.jobs.map { j =>
        s"""{"job": ${j.id}, "grouped": ${j.group.isDefined}, "start_ms": ${j.submitMs - t0}, """ +
          s""""end_ms": ${j.endMs - t0}, "stages": ${j.stages}, "tasks": ${j.tasks}, """ +
          s""""task_deserialize_ms": ${j.deserializeMs}, "task_run_ms": ${j.runMs}, """ +
          s""""shuffle_write_bytes": ${j.shuffleWriteBytes}, """ +
          s""""shuffle_records": ${j.shuffleRecords}}"""
      }
      s"""    {"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
        s""""start_ms": ${s.startMs - t0}, "duration_ms": ${Json.num(s.durMs)}, """ +
        s""""self_ms": ${Json.num(s.selfMs)}, "jobs": [${jobs.mkString(", ")}]}"""
    }
    val layerJson = Layers.Metrics.map { case (n, u) =>
      s"""    ${Json.str(n)}: {"value": ${Json.num(layers(n))}, "unit": ${Json.str(u)}}"""
    }
    file.getParentFile.mkdirs()
    Files.write(file.toPath, (
      s"""{\n  "workload": ${Json.str(workload)},\n  "seed": $seed,\n""" +
        s"""  "per_layer": {\n${layerJson.mkString(",\n")}\n  },\n""" +
        s"""  "spans": [\n${spanJson.mkString(",\n")}\n  ]\n}\n""")
      .getBytes(StandardCharsets.UTF_8))
  }
}

/** Pinned row counts and digests of the query mix's outputs. */
object Digests {

  /** Query name to (rows, digest); empty when the file is absent. */
  def read(file: File): Map[String, (Long, String)] =
    if (!file.isFile) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
      root.get("queries").fields().asScala.map { e =>
        e.getKey -> ((e.getValue.get("rows").asLong(), e.getValue.get("digest").asText()))
      }.toMap
    }

  /** Runs every query of the mix once over the corpus, writes the digests
    * to `digestsFile`, and dumps each output with its oracle SQL under
    * `out` in the layout `tools/check_oracle.py` compares. */
  def pin(spark: SparkSession, work: File, out: File, digestsFile: File): Unit = {
    val corpus = new File(work, "corpus")
    Fixtures.queryCorpus(spark, corpus, QueryMixWorkload.CorpusOrders)
    out.mkdirs()
    val pinned = QueryMixWorkload.Queries.map { q =>
      val df = SparkEntry.queries(q)(spark, corpus.getAbsolutePath)
      val rows = df.collect()
      df.coalesce(1).write.mode("overwrite").parquet(new File(out, q).getAbsolutePath)
      q -> ((rows.length.toLong, QueryMixWorkload.digest(rows)))
    }
    val oracle = QueryMixWorkload.Queries.map(q =>
      s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}")
    Files.write(new File(out, "oracle_sql.json").toPath,
      oracle.mkString("{", ",\n", "}").getBytes(StandardCharsets.UTF_8))
    val body = pinned.map { case (q, (n, d)) =>
      s"""    ${Json.str(q)}: {"rows": $n, "digest": ${Json.str(d)}}"""
    }
    Files.write(digestsFile.toPath,
      (s"""{\n  "corpus_orders": ${QueryMixWorkload.CorpusOrders},\n  "queries": {\n""" +
        body.mkString(",\n") + "\n  }\n}\n").getBytes(StandardCharsets.UTF_8))
    println(s"corpus ${corpus.getAbsolutePath}")
    println(s"outputs ${out.getAbsolutePath}")
    spark.stop()
  }
}

/** JVM-wide collector time and heap peak. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}

  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)

  def gcMs(): Double = gcs.map(_.getCollectionTime.max(0L)).sum.toDouble

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
