package graft.metrics

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.Resolver
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.model._
import graft.functions.Pure

/** Re-expression of the reference's metrics pipeline
  * (`icebergdiag/metrics/table_metrics.py:46-155`) with
  * two arms that give identical rows.
  *
  * Driver arm: when both inputs are already on the driver (their
  * optimised plans are local relations, as
  * `IcebergManifestSource.fromManifests` returns for a table whose
  * manifests and entries fit its driver-side decode limits),
  * [[computeMetricsWide]] folds the 9 metrics in-process, like the
  * reference's own loop, and launches no Spark job. The rows come back
  * as a local relation.
  *
  * Cluster arm, the part that must survive 100 TB / 1000 executors:
  *   - ONE wide shuffle on (table, partitionKey). Everything the
  *     reference computes per partition — counts, sums, overheads, and the
  *     sequential bin-packing simulation — is produced in a single
  *     streaming pass over each sorted group, O(1) memory per group.
  *   - The per-table rollup then runs over `Dataset[PartitionStats]`, whose
  *     cardinality is #partitions (tiny vs #files), with declarative
  *     aggregates (codegen'd) and deterministic `max_by` tie-breaks.
  *   - Thousands of tables fan in as ONE union-all plan with `table` as a
  *     grouping column — no driver-side loop over tables.
  *
  * Both arms run the one per-partition fold ([[foldPartitions]]). The
  * bin-packer is a sequential scan-with-carry whose groups overshoot the
  * cap (see [[Pure.buildPartitionGroups]]); a closed-form window cumsum is
  * deliberately NOT used because `floor(cumsum/cap)` changes group shapes.
  */
object MetricsCalculator {

  /** Stage 1: per-(table, partition) stats + compaction simulation.
    *
    * O(1) MEMORY PER GROUP: instead of materializing each partition's size
    * array (`groupByKey.mapGroups` — see [[partitionStatsBuffered]]), the
    * shuffle itself delivers rows SORTED by (table, partitionKey, sizeBytes)
    * via `repartition` + `sortWithinPartitions`; a boundary-detecting
    * `mapPartitions` then folds every aggregate AND the sequential bin-pack
    * carry in one streaming pass. A pathological partition with 100M files
    * costs this path nothing — the buffered path would hold an 800 MB array.
    *
    * Input needs only (table, content, partitionKey, sizeBytes) — project
    * before calling so the shuffle carries 4 narrow columns. */
  def partitionStats(files: Dataset[FileEntry], cfg: EngineConfig = EngineConfig.default): Dataset[PartitionStats] = {
    val spark = files.sparkSession
    import spark.implicits._
    files
      .repartition(col("table"), col("partitionKey"))
      .sortWithinPartitions(col("table"), col("partitionKey"), col("sizeBytes"))
      .as[FileEntry]
      .mapPartitions(foldPartitions(_, cfg))
  }

  /** The per-partition fold: entries sorted by (table, partitionKey,
    * sizeBytes) in, one [[PartitionStats]] per (table, partitionKey) run
    * out. A boundary-detecting stream that folds every aggregate AND the
    * sequential bin-pack carry in one pass with O(1) state. */
  private def foldPartitions(it: Iterator[FileEntry],
      cfg: EngineConfig): Iterator[PartitionStats] =
    new Iterator[PartitionStats] {
      private var pending: Option[FileEntry] = None
      private def nextEntry(): Option[FileEntry] = {
        val e = pending.orElse(if (it.hasNext) Some(it.next()) else None)
        pending = None
        e
      }
      private var lookahead: Option[FileEntry] = None
      def hasNext: Boolean = {
        if (lookahead.isEmpty) lookahead = nextEntry()
        lookahead.isDefined
      }
      def next(): PartitionStats = {
        if (!hasNext) throw new NoSuchElementException
        val first = lookahead.get; lookahead = None
        val table = first.table; val pk = first.partitionKey
        var fileCount = 0L; var totalSize = 0L; var scanOverhead = 0L
        var dataCount = 0L; var dataSize = 0L
        // streaming bin-pack carry (sizes arrive ascending for the group)
        var groups = 0L; var costSum = 0L; var curSize = 0L; var open = false
        var cur: Option[FileEntry] = Some(first)
        while (cur.isDefined && cur.get.table == table && cur.get.partitionKey == pk) {
          val f = cur.get
          fileCount += 1
          totalSize += f.sizeBytes
          scanOverhead += Pure.readFileCost(f.sizeBytes, cfg.fetchSize) * cfg.msPerScan
          if (f.content == FileContent.Data) {
            dataCount += 1; dataSize += f.sizeBytes
            if (curSize > cfg.maxGroupBytes) {
              groups += 1; costSum += Pure.readFileCost(curSize, cfg.fetchSize)
              curSize = 0L; open = false
            }
            curSize += f.sizeBytes; open = true
          }
          cur = nextEntry()
        }
        pending = cur // first entry of the NEXT group (or None)
        if (open) { groups += 1; costSum += Pure.readFileCost(curSize, cfg.fetchSize) }
        PartitionStats(table, pk, fileCount, totalSize, scanOverhead, dataCount, dataSize,
          groups, costSum * cfg.msPerScan)
      }
    }

  /** Buffered formulation (groupByKey + in-memory sort per group) — kept as
    * the reference implementation for the equivalence spec; memory bound is
    * O(data files per partition), same as the reference engine. */
  def partitionStatsBuffered(files: Dataset[FileEntry], cfg: EngineConfig = EngineConfig.default): Dataset[PartitionStats] = {
    val spark = files.sparkSession
    import spark.implicits._
    files
      .groupByKey(f => (f.table, f.partitionKey))
      .mapGroups { (key: (String, String), it: Iterator[FileEntry]) =>
        val (table, pk) = key
        var fileCount = 0L; var totalSize = 0L; var scanOverhead = 0L
        var dataCount = 0L; var dataSize = 0L
        val dataSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (it.hasNext) {
          val f = it.next()
          fileCount += 1
          totalSize += f.sizeBytes
          scanOverhead += Pure.readFileCost(f.sizeBytes, cfg.fetchSize) * cfg.msPerScan
          if (f.content == FileContent.Data) {
            dataCount += 1; dataSize += f.sizeBytes
            dataSizes += f.sizeBytes
          }
        }
        val sorted = dataSizes.toArray
        java.util.Arrays.sort(sorted)
        val (groups, afterOverhead) = Pure.packStats(sorted.iterator, cfg)
        PartitionStats(table, pk, fileCount, totalSize, scanOverhead, dataCount, dataSize, groups, afterOverhead)
      }
  }

  /** Stage 2: per-table rollup over partition stats (A6-A12 of SURVEY §2.4).
    *
    * `manifestCounts` seeds FULL_SCAN_OVERHEAD's *before* value with
    * `manifest_count * msPerScan` (reference `table_metrics.py:50`); the
    * *after* value intentionally does NOT re-add it (`:116-121`).
    *
    * Argmax tie-breaks: the reference keeps the FIRST partition seen with the
    * strictly-max reduction (dict order — nondeterministic for us), so we
    * impose a deterministic total order: (reduction, partitionKey) both
    * ascending under `max_by`, i.e. ties go to the lexicographically largest
    * key. Reductions must be strictly positive, else 0/0.
    */
  def tableMetrics(
      parts: Dataset[PartitionStats],
      manifestCounts: Dataset[(String, Long)],
      cfg: EngineConfig = EngineConfig.default): Dataset[TableMetricsWide] = {
    val spark = parts.sparkSession
    import spark.implicits._

    val fcReduction = col("fileCount") - col("afterGroupCount")
    val soReduction = col("scanOverhead") - col("afterOverhead")

    val agg = parts
      .groupBy(col("table"))
      .agg(
        sum("scanOverhead").as("scanOverheadSum"),
        sum("afterOverhead").as("fullScanOverheadAfter"),
        sum("fileCount").as("fileCountBefore"),
        sum("afterGroupCount").as("fileCountAfter"),
        sum("dataFileSize").as("dataSize"),
        sum("dataFileCount").as("dataCount"),
        // WORST_AVG_FILE_SIZE is avg over ALL files incl. deletes — the
        // reference's intentional asymmetry vs the global data-only average
        // (table_metrics.py:103-105). Groups are never empty post-groupBy.
        min(col("totalSize").cast("double") / col("fileCount").cast("double")).as("worstAvgFileSize"),
        max("totalSize").as("largestPartitionSize"),
        sum("totalSize").as("totalTableSize"),
        count(lit(1)).as("totalPartitions"),
        max(struct(fcReduction.as("red"), col("partitionKey"))).as("bestFc"),
        max_by(struct(col("fileCount").as("b"), col("afterGroupCount").as("a")),
          struct(fcReduction, col("partitionKey"))).as("worstFc"),
        max(struct(soReduction.as("red"), col("partitionKey"))).as("bestSo"),
        max_by(struct(col("scanOverhead").as("b"), col("afterOverhead").as("a")),
          struct(soReduction, col("partitionKey"))).as("worstSo"))

    // FULL outer: manifestCounts is the authoritative table list, so a
    // table with an empty snapshot (no file entries at all) still reports a
    // full metrics row — FULL_SCAN_OVERHEAD seeded by its manifest count,
    // everything else 0 — matching the reference's empty-iterator behavior
    // (compute_metrics([], n) returns all 9 metrics).
    val withManifests = agg
      .join(manifestCounts.toDF("table", "manifestCount"), Seq("table"), "full_outer")
      .na.fill(0L, Seq("manifestCount", "scanOverheadSum", "fullScanOverheadAfter",
        "fileCountBefore", "fileCountAfter", "dataSize", "dataCount",
        "largestPartitionSize", "totalTableSize", "totalPartitions"))
      .na.fill(0.0, Seq("worstAvgFileSize"))

    withManifests
      .select(
        col("table"),
        (col("scanOverheadSum") + col("manifestCount") * lit(cfg.msPerScan)).as("fullScanOverheadBefore"),
        col("fullScanOverheadAfter"),
        when(col("bestSo.red") > 0, col("worstSo.b")).otherwise(0L).as("worstScanOverheadBefore"),
        when(col("bestSo.red") > 0, col("worstSo.a")).otherwise(0L).as("worstScanOverheadAfter"),
        col("fileCountBefore"),
        col("fileCountAfter"),
        when(col("bestFc.red") > 0, col("worstFc.b")).otherwise(0L).as("worstFileCountBefore"),
        when(col("bestFc.red") > 0, col("worstFc.a")).otherwise(0L).as("worstFileCountAfter"),
        when(col("dataCount") === 0, lit(0.0))
          .otherwise(col("dataSize").cast("double") / col("dataCount").cast("double")).as("avgFileSize"),
        col("worstAvgFileSize"),
        col("totalTableSize"),
        col("largestPartitionSize"),
        col("totalPartitions"))
      .as[TableMetricsWide]
  }

  /** End-to-end, multi-table: `Dataset[FileEntry]` (+ per-table manifest
    * counts) -> one wide metrics row per table. When both inputs are
    * already on the driver (local relations, or unions of them) the
    * metrics fold on the driver into a local relation, with no Spark job;
    * otherwise [[tableMetrics]] over [[partitionStats]]. */
  def computeMetricsWide(
      files: Dataset[FileEntry],
      manifestCounts: Dataset[(String, Long)],
      cfg: EngineConfig = EngineConfig.default): Dataset[TableMetricsWide] = {
    val spark = files.sparkSession
    import spark.implicits._
    (localRelations(files), localRelations(manifestCounts)) match {
      case (Some(f), Some(m)) =>
        driverTableMetrics(f, localRows[(String, java.lang.Long)](m), cfg,
          spark.sessionState.conf.resolver).toDS()
      case _ => tableMetrics(partitionStats(files, cfg), manifestCounts, cfg)
    }
  }

  /** The local relations a Dataset's optimised plan consists of, with the
    * plan's output: one `LocalRelation`, or a `Union` of them. */
  private def localRelations(ds: Dataset[_]): Option[(Seq[Attribute], Seq[LocalRelation])] =
    if (ds.isStreaming) None
    else ds.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some((l.output, Seq(l)))
      case u: Union if u.children.forall(_.isInstanceOf[LocalRelation]) =>
        Some((u.output, u.children.collect { case l: LocalRelation => l }))
      case _ => None
    }

  private def localRows[T: TypeTag](rels: (Seq[Attribute], Seq[LocalRelation])): Seq[T] = {
    val decode = ExpressionEncoder[T]().resolveAndBind(rels._1).createDeserializer()
    rels._2.flatMap(_.data.map(decode))
  }

  /** [[tableMetrics]] over [[partitionStats]], folded on the driver. It
    * reproduces the cluster arm row for row: one row per (table, manifest
    * row) of the full outer join on `table` (a null table joins nothing),
    * the argmax on (reduction, partitionKey) with keys in UTF-8 byte
    * order as Spark compares them, the `worst*` pair zeroed unless the
    * best reduction is positive, and exact long arithmetic where ANSI
    * mode would raise on overflow. A null manifest count reads 0.
    *
    * The entries are sorted as the local relation's own rows, comparing
    * the keys in place, and decoded one at a time into the fold: besides
    * the relation, the driver holds one reference per entry. */
  private def driverTableMetrics(files: (Seq[Attribute], Seq[LocalRelation]),
      manifestCounts: Seq[(String, java.lang.Long)], cfg: EngineConfig,
      resolver: Resolver): Seq[TableMetricsWide] = {
    val (attrs, rels) = files
    def ordinal(name: String) = attrs.indexWhere(a => resolver(a.name, name))
    val (t, k, s) = (ordinal("table"), ordinal("partitionKey"), ordinal("sizeBytes"))
    val rows = rels.iterator.flatMap(_.data).toArray
    java.util.Arrays.sort(rows, (x: InternalRow, y: InternalRow) => {
      val c = nullsFirst(x.getUTF8String(t), y.getUTF8String(t))
      if (c != 0) c else {
        val ck = nullsFirst(x.getUTF8String(k), y.getUTF8String(k))
        if (ck != 0) ck else java.lang.Long.compare(x.getLong(s), y.getLong(s))
      }
    })
    val decode = ExpressionEncoder[FileEntry]().resolveAndBind(attrs).createDeserializer()
    val tables = scala.collection.mutable.LinkedHashMap.empty[String, TableFold]
    foldPartitions(rows.iterator.map(decode), cfg).foreach { p =>
      tables.getOrElseUpdate(p.table, new TableFold).add(p)
    }
    val counts = manifestCounts.map(m => (m._1, Option(m._2).fold(0L)(_.longValue)))
    val countsOf = counts.filter(_._1 != null).groupMap(_._1)(_._2)
    val joined = tables.toSeq.flatMap { case (t, f) =>
      val ms = if (t == null) Nil else countsOf.getOrElse(t, Nil)
      if (ms.isEmpty) Seq(f.row(t, 0L, cfg)) else ms.map(f.row(t, _, cfg))
    }
    joined ++ counts.collect { case (t, m) if t == null || !tables.contains(t) =>
      new TableFold().row(t, m, cfg)
    }
  }

  private def nullsFirst(a: UTF8String, b: UTF8String): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else a.compareTo(b)

  /** One table's rollup of its partitions — the aggregates of
    * [[tableMetrics]]. An instance that saw no partition is the all-zero
    * side of a manifest-only row. */
  private final class TableFold {
    private var scanOverhead, afterOverhead, fileCount, afterGroups = 0L
    private var dataSize, dataCount, largest, totalSize, partitions = 0L
    private var worstAvg = 0.0
    // argmax key (reduction, partitionKey) and its (before, after) pair
    private var bestFc, bestSo: (Long, UTF8String) = _
    private var worstFc, worstSo = (0L, 0L)

    def add(p: PartitionStats): Unit = {
      scanOverhead = Math.addExact(scanOverhead, p.scanOverhead)
      afterOverhead = Math.addExact(afterOverhead, p.afterOverhead)
      fileCount = Math.addExact(fileCount, p.fileCount)
      afterGroups = Math.addExact(afterGroups, p.afterGroupCount)
      dataSize = Math.addExact(dataSize, p.dataFileSize)
      dataCount = Math.addExact(dataCount, p.dataFileCount)
      totalSize = Math.addExact(totalSize, p.totalSize)
      val avg = p.totalSize.toDouble / p.fileCount.toDouble
      worstAvg = if (partitions == 0L) avg else math.min(worstAvg, avg)
      largest = if (partitions == 0L) p.totalSize else math.max(largest, p.totalSize)
      partitions += 1
      val key = UTF8String.fromString(p.partitionKey)
      val fc = (Math.subtractExact(p.fileCount, p.afterGroupCount), key)
      if (bestFc == null || above(fc, bestFc)) {
        bestFc = fc; worstFc = (p.fileCount, p.afterGroupCount)
      }
      val so = (Math.subtractExact(p.scanOverhead, p.afterOverhead), key)
      if (bestSo == null || above(so, bestSo)) {
        bestSo = so; worstSo = (p.scanOverhead, p.afterOverhead)
      }
    }

    private def above(a: (Long, UTF8String), b: (Long, UTF8String)): Boolean = {
      val c = java.lang.Long.compare(a._1, b._1)
      c > 0 || (c == 0 && nullsFirst(a._2, b._2) > 0)
    }

    def row(table: String, manifestCount: Long, cfg: EngineConfig): TableMetricsWide = {
      def worst(best: (Long, UTF8String), pair: (Long, Long)) =
        if (best != null && best._1 > 0) pair else (0L, 0L)
      val (wsoB, wsoA) = worst(bestSo, worstSo)
      val (wfcB, wfcA) = worst(bestFc, worstFc)
      TableMetricsWide(table,
        Math.addExact(scanOverhead, Math.multiplyExact(manifestCount, cfg.msPerScan)),
        afterOverhead, wsoB, wsoA, fileCount, afterGroups, wfcB, wfcA,
        if (dataCount == 0L) 0.0 else dataSize.toDouble / dataCount.toDouble,
        worstAvg, totalSize, largest, partitions)
    }
  }

  /** The SIZE-FAMILY metrics (SURVEY §2.4 A5–A9: avg data-file size,
    * worst per-partition average, total table size, largest partition,
    * total partitions) served from a table's FRESH partition-statistics
    * file — ONE KB-sized parquet read, zero manifest I/O. The per-file
    * arm (scan overheads + the bin-packing simulation) still needs file
    * sizes, so the full 9-metric pipeline keeps its manifest scan; this
    * is the short-circuit a thousands-of-tables SIZE report wants.
    *
    * Sound only when the snapshot carries NO delete files: the stats
    * rollup records data bytes, while the reference's totals include
    * tombstone bytes (`table_metrics.py:103-105` averages over ALL
    * files) — delete-carrying tables return None and take the manifest
    * arm. None likewise when no fresh stats file is registered.
    * Output column names match [[tableMetrics]]'s exactly. */
  def sizeMetricsFromStats(spark: SparkSession, tableDir: String,
      table: String): Option[org.apache.spark.sql.DataFrame] =
    graft.sources.LayoutMaintenance
      .freshPartitionStats(spark, tableDir, None).flatMap { statsPath =>
      val stats = spark.read.schema(
        "partition STRING, file_count BIGINT, record_count BIGINT, " +
          "total_size BIGINT, position_delete_file_count BIGINT, " +
          "equality_delete_file_count BIGINT, " +
          "last_updated_snapshot_id BIGINT")
        .parquet(statsPath)
      val agg = stats.agg(
        sum(col("position_delete_file_count") +
          col("equality_delete_file_count")).as("nDel"),
        sum(col("total_size")).as("totalTableSize"),
        sum(col("file_count")).as("dataCount"),
        min(col("total_size").cast("double") /
          col("file_count").cast("double")).as("worstAvgFileSize"),
        max(col("total_size")).as("largestPartitionSize"),
        count(lit(1)).as("totalPartitions")).head()
      if (agg.getLong(0) != 0L) None // tombstones: sizes not in stats
      else Some(spark.range(1).select(
        lit(table).as("table"),
        when(lit(agg.getLong(2)) === 0L, lit(0.0))
          .otherwise(lit(agg.getLong(1).toDouble / agg.getLong(2)))
          .as("avgFileSize"),
        lit(agg.getDouble(3)).as("worstAvgFileSize"),
        lit(agg.getLong(1)).as("totalTableSize"),
        lit(agg.getLong(4)).as("largestPartitionSize"),
        lit(agg.getLong(5)).as("totalPartitions")))
    }

  /** Single-table convenience mirroring the reference's
    * `compute_metrics(files, manifest_files_count)`; returns the 9 metrics
    * in the reference's enum order. */
  def computeMetrics(
      files: Dataset[FileEntry],
      manifestCount: Long,
      cfg: EngineConfig = EngineConfig.default): Seq[MetricRow] = {
    val spark = files.sparkSession
    import spark.implicits._
    val mc = files.select("table").distinct().as[String].map(t => (t, manifestCount))
    computeMetricsWide(files, mc, cfg).collect().toSeq.flatMap(_.toRows)
  }
}
