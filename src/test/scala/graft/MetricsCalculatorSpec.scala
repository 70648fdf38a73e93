package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import graft.model._
import graft.metrics.MetricsCalculator
import graft.functions.Pure

/** Golden corpus for the whole metrics pipeline: the reference's calculator
  * fixture re-generated from its spec (`tests/test_metric_calculator.py:19-43`,
  * expected values re-derived; see BASELINE.md).
  *
  * Fixture: 300 iterations i=1..300; partition = p[(i % 3)] over
  * (partition1, partition2, partition3); one DATA file of (12 + i % 13) MiB;
  * delete files (EQUALITY_DELETES) per i % 3: 0 -> [10,5] MiB, 1 -> [20] MiB,
  * 2 -> [5,5,10] MiB. 900 files total (300 data + 600 delete); per-partition
  * counts 300/200/400; manifest count 10.
  */
class MetricsCalculatorSpec extends AnyFunSuite {
  private val MiB = 1024L * 1024

  private def fixture: Seq[FileEntry] = {
    val parts = Array("partition1", "partition2", "partition3")
    (1 to 300).flatMap { i =>
      val p = parts(i % 3)
      val data = FileEntry("t", FileContent.Data, p, (12 + i % 13) * MiB)
      val deletes = (i % 3) match {
        case 0 => Seq(10L * MiB, 5L * MiB)
        case 1 => Seq(20L * MiB)
        case _ => Seq(5L * MiB, 5L * MiB, 10L * MiB)
      }
      data +: deletes.map(s => FileEntry("t", FileContent.EqualityDeletes, p, s))
    }
  }

  private lazy val rows: Map[String, MetricRow] = {
    val spark = SparkSpec.spark
    import spark.implicits._
    val files = spark.createDataset(fixture)
    MetricsCalculator.computeMetrics(files, manifestCount = 10).map(r => r.metric -> r).toMap
  }

  test("fixture shape") {
    val f = fixture
    assert(f.size == 900)
    assert(f.count(_.content == FileContent.Data) == 300)
    assert(f.groupBy(_.partitionKey).view.mapValues(_.size).toMap ==
      Map("partition1" -> 300, "partition2" -> 200, "partition3" -> 400))
  }

  test("FILE_COUNT 900 -> 9") {
    val r = rows("FILE_COUNT")
    assert(r.before == 900.0 && r.after.contains(9.0))
  }

  test("WORST_FILE_COUNT 400 -> 3") {
    val r = rows("WORST_FILE_COUNT")
    assert(r.before == 400.0 && r.after.contains(3.0))
  }

  test("FULL_SCAN_OVERHEAD 1810 -> 180") {
    val r = rows("FULL_SCAN_OVERHEAD")
    assert(r.before == 1810.0 && r.after.contains(180.0))
  }

  test("WORST_SCAN_OVERHEAD 800 -> 60") {
    val r = rows("WORST_SCAN_OVERHEAD")
    assert(r.before == 800.0 && r.after.contains(60.0))
  }

  test("AVG_FILE_SIZE 18856891.733...") {
    val r = rows("AVG_FILE_SIZE")
    assert(math.abs(r.before - 18856891.733333334) < 1e-6 && r.after.isEmpty)
  }

  test("TOTAL_TABLE_SIZE 11424235520") {
    val r = rows("TOTAL_TABLE_SIZE")
    assert(r.before == 11424235520.0 && r.after.isEmpty)
  }

  test("LARGEST_PARTITION_SIZE 3982491648") {
    assert(rows("LARGEST_PARTITION_SIZE").before == 3982491648.0)
  }

  test("TOTAL_PARTITIONS 3") {
    assert(rows("TOTAL_PARTITIONS").before == 3.0)
  }

  test("metric order and count match the reference enum") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val out = MetricsCalculator.computeMetrics(spark.createDataset(fixture), 10)
    assert(out.map(_.metric) == Seq("FULL_SCAN_OVERHEAD", "WORST_SCAN_OVERHEAD", "FILE_COUNT",
      "WORST_FILE_COUNT", "AVG_FILE_SIZE", "WORST_AVG_FILE_SIZE", "TOTAL_TABLE_SIZE",
      "LARGEST_PARTITION_SIZE", "TOTAL_PARTITIONS"))
  }

  test("empty input: zero metrics, no after-positives") {
    val spark = SparkSpec.spark
    import spark.implicits._
    // single-table convenience can't know the table name for an empty
    // relation; the multi-table path (below) enumerates via manifestCounts
    val out = MetricsCalculator.computeMetrics(spark.emptyDataset[FileEntry], 0)
    assert(out.isEmpty)
  }

  test("empty-snapshot table still reports a full row (manifest-seeded)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    // reference: compute_metrics([], manifest_count=10) -> all 9 metrics,
    // FULL_SCAN_OVERHEAD = 10, everything else 0
    val files = spark.createDataset(Seq(FileEntry("present", 0, "p", 100L)))
    val mc = spark.createDataset(Seq(("present", 2L), ("empty_snapshot", 10L)))
    val wide = MetricsCalculator.computeMetricsWide(files, mc).collect()
      .map(w => w.table -> w).toMap
    assert(wide.keySet == Set("present", "empty_snapshot"))
    val e = wide("empty_snapshot")
    assert(e.fullScanOverheadBefore == 10L && e.fullScanOverheadAfter == 0L)
    assert(e.fileCountBefore == 0L && e.totalPartitions == 0L)
    assert(e.avgFileSize == 0.0 && e.worstAvgFileSize == 0.0)
    assert(wide("present").fileCountBefore == 1L)
  }

  test("all-delete partition contributes 0 groups") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val files = spark.createDataset(Seq(
      FileEntry("t", FileContent.EqualityDeletes, "p1", 10 * MiB),
      FileEntry("t", FileContent.Data, "p2", 10 * MiB)))
    val m = MetricsCalculator.computeMetrics(files, 0).map(r => r.metric -> r).toMap
    assert(m("FILE_COUNT").before == 2.0 && m("FILE_COUNT").after.contains(1.0))
    assert(m("TOTAL_PARTITIONS").before == 2.0)
  }

  test("streaming partitionStats == buffered formulation on random data") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val entries = (1 to 3000).map { i =>
      FileEntry(
        table = s"t${rnd.nextInt(3)}",
        content = rnd.nextInt(3),
        partitionKey = s"p${rnd.nextInt(5)}",
        sizeBytes = math.abs(rnd.nextLong()) % (2000L * 1024 * 1024))
    }
    val ds = spark.createDataset(entries).repartition(7) // scramble placement
    val streaming = MetricsCalculator.partitionStats(ds).collect()
      .map(p => (p.table, p.partitionKey) -> p).toMap
    val buffered = MetricsCalculator.partitionStatsBuffered(ds).collect()
      .map(p => (p.table, p.partitionKey) -> p).toMap
    assert(streaming == buffered)
    assert(streaming.size == entries.map(e => (e.table, e.partitionKey)).distinct.size)
  }

  test("one giant skewed partition (1M files) streams through") {
    val spark = SparkSpec.spark
    import spark.implicits._
    // the buffered path would hold 1M longs for this single group; the
    // streaming path carries O(1) state — and must produce the exact pack
    val n = 1000000
    val files = spark.range(n.toLong).select(
      org.apache.spark.sql.functions.lit("big").as("table"),
      org.apache.spark.sql.functions.lit(0).as("content"),
      org.apache.spark.sql.functions.lit("hot").as("partitionKey"),
      (org.apache.spark.sql.functions.col("id") % 997 * 1024 * 1024).as("sizeBytes"))
      .as[FileEntry]
    val stats = MetricsCalculator.partitionStats(files).collect()
    assert(stats.length == 1)
    val p = stats.head
    assert(p.fileCount == n && p.dataFileCount == n)
    // cross-check group count against the pure packer on the same multiset
    val sizes = (0 until n).map(i => i.toLong % 997 * 1024 * 1024).sorted
    val (expGroups, expCost) = graft.functions.Pure.packStats(sizes.iterator, graft.model.EngineConfig.default)
    assert(p.afterGroupCount == expGroups && p.afterOverhead == expCost)
  }

  test("rendered improvements match reference goldens") {
    val cells = graft.render.Renderer.metricCells(
      rows.values.toSeq, graft.render.Renderer.LocalMode)
    val byName = cells.map(c => c._1 -> c).toMap
    assert(byName("Total File Count")._4 == "99.00%")
    assert(byName("Worst Partition File Count")._4 == "99.25%")
    assert(byName("Full Scan Overhead")._4 == "90.06%")
    assert(byName("Worst Partition Scan Overhead")._4 == "92.50%")
    assert(byName("Avg Data File Size")._4 == "") // display_improvement=false
    // WORST_AVG_FILE_SIZE hidden in local mode
    assert(!byName.contains("Worst Partition Avg Data File Size"))
    assert(byName("Full Scan Overhead")._2 == "1.81s")
    assert(byName("Full Scan Overhead")._3 == "0.18s")
  }

  // ---- both arms of computeMetricsWide: local inputs fold on the driver,
  // the cluster arm is tableMetrics(partitionStats(...)); rows must match
  // field for field, doubles bit for bit

  /** A metrics row with each double as its raw bits. */
  private def bits(w: TableMetricsWide): List[Any] = w.productIterator.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v => v
  }.toList

  /** (driver arm rows, cluster arm rows), each sorted. */
  private def bothArms(files: Dataset[FileEntry],
      counts: Dataset[(String, Long)]): (Seq[List[Any]], Seq[List[Any]]) = {
    val driver = MetricsCalculator.computeMetricsWide(files, counts)
    assert(driver.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "local inputs must take the driver arm")
    val cluster = MetricsCalculator.tableMetrics(
      MetricsCalculator.partitionStats(files), counts)
    def rows(ds: Dataset[TableMetricsWide]) =
      ds.collect().toSeq.map(bits).sortBy(_.toString)
    (rows(driver), rows(cluster))
  }

  private def assertArmsEqual(files: Dataset[FileEntry],
      counts: Dataset[(String, Long)]): Seq[List[Any]] = {
    val (driver, cluster) = bothArms(files, counts)
    assert(driver == cluster)
    driver
  }

  test("driver arm == cluster arm on the reference fixture") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val rows = assertArmsEqual(fixture.toDS(), Seq(("t", 10L)).toDS())
    assert(rows.size == 1 && rows.head(5) == 900L) // fileCountBefore
  }

  test("driver arm == cluster arm: argmax ties break on UTF-8 key order") {
    val spark = SparkSpec.spark
    import spark.implicits._
    // "｡" (U+FF61) sorts above "😀" (U+1F600) in UTF-16 but below it in UTF-8;
    // both partitions reduce their file count by 2, from different pairs
    val files = Seq.fill(3)(FileEntry("t", 0, "｡", MiB)) ++
      Seq.fill(4)(FileEntry("t", 0, "😀", 400 * MiB))
    val rows = assertArmsEqual(files.toDS(), Seq(("t", 1L)).toDS())
    // worstFileCountBefore/After come from the UTF-8-larger key, the emoji
    assert(rows.head.slice(7, 9) == List(4L, 2L))
  }

  test("driver arm == cluster arm: manifest-only tables, tables without a manifest row, duplicate and null tables") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val files = (1 to 2000).map { i =>
      FileEntry(
        table = if (i % 97 == 0) null else s"t${rnd.nextInt(4)}",
        content = rnd.nextInt(3),
        partitionKey = if (i % 89 == 0) null else s"p${rnd.nextInt(6)}",
        sizeBytes = math.abs(rnd.nextLong()) % (900L * MiB))
    }
    // t3 has files but no manifest row; "empty" has a manifest row and no
    // files; t1 has two manifest rows; null tables never join
    val counts = Seq(("t0", 4L), ("t1", 2L), ("t1", 7L), ("t2", 1L),
      ("empty", 9L), (null, 5L))
    val rows = assertArmsEqual(files.toDS(), counts.toDS())
    assert(rows.size == 8)
  }

  test("driver arm == cluster arm: delete-only partitions, zero reductions, several tables in one union") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val deletesOnly = Seq(
      FileEntry("d", FileContent.PositionDeletes, "p1", 5 * MiB),
      FileEntry("d", FileContent.EqualityDeletes, "p1", 7 * MiB),
      FileEntry("d", FileContent.EqualityDeletes, "p2", 40 * MiB))
    // one data file per partition: nothing to compact, worst* zeroed
    val zero = Seq(FileEntry("z", 0, "a", 3 * MiB), FileEntry("z", 0, "b", 90 * MiB))
    val union = Seq(deletesOnly, zero, fixture).map(_.toDS()).reduce(_ union _)
    val rows = assertArmsEqual(union,
      Seq(("d", 1L), ("z", 2L), ("t", 10L)).toDS())
    val z = rows.find(_.head == "z").get
    assert(z.slice(3, 5) == List(0L, 0L) && z.slice(7, 9) == List(0L, 0L))
    val d = rows.find(_.head == "d").get
    assert(d(6) == 0L) // fileCountAfter: delete files never pack
  }
}
