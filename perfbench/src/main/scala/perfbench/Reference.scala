package perfbench

/** The benchmark's own statement of the 9 diagnosis metrics, written from
  * the reference formulas and nothing in the program:
  *
  *  - a file costs `size / 32 MiB + 2` read ops, at 1 ms per op;
  *  - each manifest adds 1 ms to the full-scan overhead before compaction;
  *  - compaction packs a partition's data files in ascending size order
  *    and closes a group before adding a file once the group's total
  *    exceeds 750 MiB (groups overshoot the cap);
  *  - the worst partition is the one with the largest strictly positive
  *    reduction, ties going to the larger partition key.
  *
  * It is the expected value every diagnosis is checked against.
  */
object Reference {
  val MiB: Long = 1024L * 1024
  val FetchSize: Long = 32 * MiB
  val MaxGroupBytes: Long = 750 * MiB

  /** One manifest entry as the benchmark generated it. `content` follows
    * the Iceberg spec: 0 data, 1 position deletes, 2 equality deletes. */
  final case class Entry(content: Int, partitionKey: String, size: Long)

  /** The 14 numbers behind the 9 metrics, in the program's wide shape. */
  final case class Metrics(fullScanBefore: Long, fullScanAfter: Long,
      worstScanBefore: Long, worstScanAfter: Long,
      fileCountBefore: Long, fileCountAfter: Long,
      worstFileCountBefore: Long, worstFileCountAfter: Long,
      avgFileSize: Double, worstAvgFileSize: Double,
      totalTableSize: Long, largestPartitionSize: Long,
      totalPartitions: Long)

  def readOps(size: Long): Long = Math.floorDiv(size, FetchSize) + 2

  /** Group sizes of the ascending close-on-overshoot packer. */
  def pack(sizes: Seq[Long]): Seq[Long] = {
    val groups = Seq.newBuilder[Long]
    var cur = 0L
    var open = false
    sizes.sorted.foreach { s =>
      if (cur > MaxGroupBytes) { groups += cur; cur = 0L; open = false }
      cur += s; open = true
    }
    if (open) groups += cur
    groups.result()
  }

  private final case class Part(key: String, files: Long, total: Long,
      scan: Long, groups: Long, scanAfter: Long)

  def metrics(entries: Seq[Entry], manifests: Long): Metrics = {
    val parts = entries.groupBy(_.partitionKey).toSeq.map { case (k, es) =>
      val packed = pack(es.filter(_.content == 0).map(_.size))
      Part(k, es.size.toLong, es.map(_.size).sum,
        es.map(e => readOps(e.size)).sum, packed.size.toLong,
        packed.map(readOps).sum)
    }
    def worst(reduction: Part => Long): Option[Part] =
      parts.filter(reduction(_) > 0)
        .maxByOption(p => (reduction(p), p.key))
    val data = entries.filter(_.content == 0)
    val ws = worst(p => p.scan - p.scanAfter)
    val wf = worst(p => p.files - p.groups)
    Metrics(
      fullScanBefore = parts.map(_.scan).sum + manifests,
      fullScanAfter = parts.map(_.scanAfter).sum,
      worstScanBefore = ws.fold(0L)(_.scan),
      worstScanAfter = ws.fold(0L)(_.scanAfter),
      fileCountBefore = entries.size.toLong,
      fileCountAfter = parts.map(_.groups).sum,
      worstFileCountBefore = wf.fold(0L)(_.files),
      worstFileCountAfter = wf.fold(0L)(_.groups),
      avgFileSize =
        if (data.isEmpty) 0.0 else data.map(_.size).sum.toDouble / data.size,
      worstAvgFileSize =
        if (parts.isEmpty) 0.0
        else parts.map(p => p.total.toDouble / p.files).min,
      totalTableSize = parts.map(_.total).sum,
      largestPartitionSize = if (parts.isEmpty) 0L else parts.map(_.total).max,
      totalPartitions = parts.size.toLong)
  }

  /** The program's wide row, in the same shape, for comparison. */
  def of(w: graft.model.TableMetricsWide): Metrics =
    Metrics(w.fullScanOverheadBefore, w.fullScanOverheadAfter,
      w.worstScanOverheadBefore, w.worstScanOverheadAfter,
      w.fileCountBefore, w.fileCountAfter,
      w.worstFileCountBefore, w.worstFileCountAfter,
      w.avgFileSize, w.worstAvgFileSize, w.totalTableSize,
      w.largestPartitionSize, w.totalPartitions)

  /** Exact on every count, size and duration; the two averages agree to
    * 1e-9 relative (they are quotients the program computes in Spark). */
  def matches(got: Metrics, want: Metrics): Boolean = {
    def close(a: Double, b: Double) =
      a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    got.copy(avgFileSize = 0, worstAvgFileSize = 0) ==
      want.copy(avgFileSize = 0, worstAvgFileSize = 0) &&
      close(got.avgFileSize, want.avgFileSize) &&
      close(got.worstAvgFileSize, want.worstAvgFileSize)
  }

  /** The reference calculator's 900-file fixture: i = 1..300 over three
    * partitions, one data file of (12 + i % 13) MiB each, and equality
    * deletes per i % 3 of [10, 5], [20] and [5, 5, 10] MiB; 10 manifests. */
  def goldenFixture: Seq[Entry] = {
    val parts = Array("partition1", "partition2", "partition3")
    (1 to 300).flatMap { i =>
      val p = parts(i % 3)
      val deletes = (i % 3) match {
        case 0 => Seq(10L, 5L)
        case 1 => Seq(20L)
        case _ => Seq(5L, 5L, 10L)
      }
      Entry(0, p, (12L + i % 13) * MiB) +: deletes.map(d => Entry(2, p, d * MiB))
    }
  }

  /** Fails unless the formulas above reproduce the published goldens:
    * FILE_COUNT 900 -> 9, WORST_FILE_COUNT 400 -> 3,
    * FULL_SCAN_OVERHEAD 1810 -> 180 ms, WORST_SCAN_OVERHEAD 800 -> 60 ms,
    * TOTAL_TABLE_SIZE 11 424 235 520 B, LARGEST_PARTITION_SIZE
    * 3 982 491 648 B, 3 partitions. */
  def checkGoldens(): Unit = {
    val m = metrics(goldenFixture, manifests = 10)
    val want = Seq(
      "FILE_COUNT" -> ((m.fileCountBefore, m.fileCountAfter), (900L, 9L)),
      "WORST_FILE_COUNT" -> ((m.worstFileCountBefore, m.worstFileCountAfter), (400L, 3L)),
      "FULL_SCAN_OVERHEAD" -> ((m.fullScanBefore, m.fullScanAfter), (1810L, 180L)),
      "WORST_SCAN_OVERHEAD" -> ((m.worstScanBefore, m.worstScanAfter), (800L, 60L)),
      "TOTAL_TABLE_SIZE" -> ((m.totalTableSize, 0L), (11424235520L, 0L)),
      "LARGEST_PARTITION_SIZE" -> ((m.largestPartitionSize, 0L), (3982491648L, 0L)),
      "TOTAL_PARTITIONS" -> ((m.totalPartitions, 0L), (3L, 0L)))
    want.foreach { case (name, (got, exp)) =>
      require(got == exp, s"reference checker fails the $name golden: $got != $exp")
    }
  }
}
