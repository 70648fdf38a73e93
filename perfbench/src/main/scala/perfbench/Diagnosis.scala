package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.metrics.MetricsCalculator
import graft.model.TableMetricsWide
import graft.render.Renderer
import graft.sources.IcebergManifestSource

/** One diagnosis, the way `Cli diag` composes it for many tables: resolve
  * each table's current snapshot to its manifests, union every table's
  * lazy manifest scan into one plan, compute the wide metrics, and render
  * each table's panel. This is `IcebergManifestSource.fromTableDir` split
  * into its two public halves, so the traced run can time them apart.
  *
  * Untraced, the metrics run as the one fused plan the program builds.
  * Traced, each layer's output is materialised before the next layer
  * starts, so every layer is timed alone.
  */
object Diagnosis {

  /** `entries` and `groups` are counted only when traced (-1 otherwise):
    * counting them untraced would add a Spark job to the timed path. */
  final case class Result(rows: Seq[TableMetricsWide], panels: Seq[String],
      manifests: Long, entries: Long, groups: Long)

  def run(spark: SparkSession, tables: Seq[Fixtures.Table],
      tr: Tracer): Result = tr.span("diagnosis") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val scans = tables.map { t =>
      val paths = tr.span("manifest_source.resolve") {
        IcebergManifestSource.manifestListPath(spark, t.dir)
          .fold(Seq.empty[String])(IcebergManifestSource.manifestPaths(conf, _))
      }
      val ds = tr.span("manifest_source.plan") {
        IcebergManifestSource.fromManifests(spark, paths, t.name)
      }
      (t.name, ds, paths.size.toLong)
    }
    val files = scans.map(_._2).reduce(_ union _)
    val manifestCounts = scans.map(s => (s._1, s._3)).toDS()
    var entries, groups = -1L
    val rows =
      if (!tr.enabled) MetricsCalculator.computeMetricsWide(files, manifestCounts).collect()
      else {
        val decoded = tr.span("manifest_source.decode") {
          val d = files.persist(StorageLevel.MEMORY_ONLY)
          entries = d.count()
          d
        }
        val parts = tr.span("metrics_calculator.partition_stats") {
          val p = MetricsCalculator.partitionStats(decoded)
            .persist(StorageLevel.MEMORY_ONLY)
          groups = p.count()
          p
        }
        try tr.span("metrics_calculator.table_metrics") {
          MetricsCalculator.tableMetrics(parts, manifestCounts).collect()
        } finally {
          parts.unpersist(blocking = true)
          decoded.unpersist(blocking = true)
        }
      }
    val sorted = rows.toSeq.sortBy(_.table)
    val panels = tr.span("renderer.render") {
      sorted.map(w => Renderer.renderTable(w.table, w.toRows, Renderer.LocalMode))
    }
    Result(sorted, panels, scans.map(_._3).sum, entries, groups)
  }

  /** Names of the tables whose output disagrees with the checker: the 9
    * metrics against [[Reference.metrics]] over the generated entries, and
    * each panel's title and row count (8 rows are visible in local mode). */
  def mismatches(res: Result, tables: Seq[Fixtures.Table]): Seq[String] = {
    val got = res.rows.map(w => w.table -> w).toMap
    val panels = res.panels.map(p => p.linesIterator.next() -> p).toMap
    tables.flatMap { t =>
      val ok = got.get(t.name).exists { w =>
        Reference.matches(Reference.of(w), Reference.metrics(t.entries, t.manifests))
      } && panels.get(s"Table: ${t.name}").exists(_.linesIterator.size == 13)
      if (ok) None else Some(t.name)
    } ++ (if (res.rows.size == tables.size) Nil else Seq("<table count>"))
  }
}
