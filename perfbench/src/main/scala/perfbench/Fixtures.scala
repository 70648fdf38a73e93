package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.IcebergLayoutWriter
import graft.sources.IcebergLayoutWriter.ManifestEntrySpec

/** Seeded, deterministic inputs. Every size, partition and content choice
  * is a pure function of (seed, table, entry index), so one seed always
  * yields the same tables, byte for byte in their manifests. */
object Fixtures {
  import Reference.{Entry, MiB}

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, a: Long, b: Long): Long = mix(mix(mix(seed) ^ a) ^ b)

  /** Non-negative draw in [0, n). */
  def draw(seed: Long, a: Long, b: Long, n: Long): Long =
    java.lang.Math.floorMod(hash(seed, a, b), n)

  def partitionKey(p: Int): String = s"""{"p":$p}"""

  /** A table as written: its directory and, for the checker, the entries
    * and manifest count the program must report. */
  final case class Table(name: String, dir: String, entries: Seq[Entry],
      manifests: Long)

  /** One identity-partitioned table of `manifests` manifests holding
    * `perManifest` entries each. The last `deleteShare` of the entries are
    * equality deletes; sizes are 1 MiB plus up to 128 MiB. */
  def diagTable(root: File, name: String, seed: Long, table: Int,
      manifests: Int, perManifest: Int, partitions: Int,
      deleteShare: Double): Table = {
    val dir = new File(root, name)
    val n = manifests * perManifest
    val firstDelete = n - math.round(n * deleteShare).toInt
    val specs = new Array[ManifestEntrySpec](n)
    val entries = new Array[Entry](n)
    var i = 0
    while (i < n) {
      val p = draw(seed, table, 2L * i, partitions).toInt
      val size = MiB + draw(seed, table, 2L * i + 1, 128 * MiB)
      val content = if (i >= firstDelete) 2 else 0
      specs(i) = ManifestEntrySpec(status = 1, content = content,
        filePath = s"${dir.getAbsolutePath}/data/p=$p/f-$i.parquet",
        partition = Seq("p" -> p), recordCount = size / 128,
        sizeBytes = size, sequenceNumber = 1L,
        manifestGroup = i / perManifest,
        equalityIds = if (content == 2) Seq(1) else Nil)
      entries(i) = Entry(content, partitionKey(p), size)
      i += 1
    }
    IcebergLayoutWriter.writeTable(dir, specs.toSeq,
      partitionSpec = Seq(("p", "identity", 1)))
    // the writer keeps data and delete entries in separate manifests
    val written = specs.map(s => (s.content != 0, s.manifestGroup)).distinct.length
    Table(name, dir.getAbsolutePath, entries.toSeq, written.toLong)
  }

  /** `files` small data files for one append commit, 1 to 16 MiB each. */
  def appendBatch(dir: String, seed: Long, commit: Int, files: Int,
      partitions: Int): Seq[(ManifestEntrySpec, Entry)] =
    (0 until files).map { j =>
      val p = draw(seed, 1000003L + commit, 2L * j, partitions).toInt
      val size = MiB + draw(seed, 1000003L + commit, 2L * j + 1, 15 * MiB)
      (ManifestEntrySpec(status = 1, content = 0,
        filePath = s"$dir/data/p=$p/a-$commit-$j.parquet",
        partition = Seq("p" -> p), recordCount = size / 128,
        sizeBytes = size), Entry(0, partitionKey(p), size))
    }

  /** A TPC-H-shaped `orders` and `lineitem` pair for the query mix, with
    * the column names, parquet types and shape of the repository's
    * scale-factor-0.01 corpus: `orders` rows with dates spread evenly over
    * 1995-01 to 2001-08, and four times as many `lineitem` rows on random
    * orders. Generated by Spark from a fixed seed, so query digests can be
    * pinned. */
  def queryCorpus(spark: SparkSession, dir: File, orders: Long): Unit = {
    val salt = 0x5EEDL
    def u(c: String, k: Int) = pmod(xxhash64(col(c), lit(salt + k)), lit(1L << 40))
    val priorities = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW").map(lit): _*)
    // 1995-01-01 to 2001-08-01, the date span of the TPC-H-shaped corpus
    val day0 = java.time.LocalDate.of(1995, 1, 1)
    val days = java.time.temporal.ChronoUnit.DAYS.between(day0,
      java.time.LocalDate.of(2001, 8, 1))
    singleFile(dir, "orders")(spark.range(orders).toDF("o_orderkey")
      .select(col("o_orderkey"),
        (u("o_orderkey", 1) % 1000).as("o_custkey"),
        element_at(array(lit("F"), lit("O"), lit("P")),
          (u("o_orderkey", 2) % 3 + 1).cast("int")).as("o_orderstatus"),
        ((u("o_orderkey", 3) % 49900000 + 100000) / 100.0).as("o_totalprice"),
        date_add(lit(day0.toString).cast("date"),
          (u("o_orderkey", 4) % days).cast("int")).cast("timestamp_ntz")
          .as("o_orderdate"),
        element_at(priorities, (u("o_orderkey", 5) % 5 + 1).cast("int"))
          .as("o_orderpriority")))
    singleFile(dir, "lineitem")(spark.range(orders * 4).toDF("i")
      .select((u("i", 10) % orders).as("l_orderkey"),
        (u("i", 20) % 7 + 1).cast("int").as("l_linenumber"),
        (u("i", 11) % 2000).as("l_partkey"),
        (u("i", 12) % 100).as("l_suppkey"),
        (u("i", 13) % 50 + 1).cast("double").as("l_quantity"),
        ((u("i", 14) % 10000000 + 90000) / 100.0).as("l_extendedprice"),
        ((u("i", 15) % 11) / 100.0).as("l_discount"),
        ((u("i", 16) % 9) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (u("i", 17) % 3 + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (u("i", 18) % 2 + 1).cast("int")).as("l_linestatus"),
        date_add(lit(day0.toString).cast("date"),
          (u("i", 19) % days).cast("int")).cast("timestamp_ntz")
          .as("l_shipdate")))
  }

  /** Writes `<dir>/<name>.parquet` as one plain parquet file, the shape
    * the queries and a DuckDB oracle both read. */
  private def singleFile(dir: File, name: String)(
      df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = new File(dir, s"_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one part file under $tmp")
    val dest = new File(dir, s"$name.parquet")
    dest.delete()
    require(part.head.renameTo(dest), s"cannot move ${part.head} to $dest")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }
}
