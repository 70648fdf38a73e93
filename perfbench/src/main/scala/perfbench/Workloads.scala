package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.sources.LayoutMaintenance

/** Attempted and failed operations. An operation fails when it throws or
  * when the checker rejects its output. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]

  /** Runs one operation; a throw counts as a failure and gives None. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => reject(what, e.toString); None }
  }

  /** Marks an attempted operation's output as wrong. */
  def reject(what: String, why: String): Unit = {
    failed += 1
    if (notes.size < 20) notes += s"$what: $why"
  }
}

/** Named samples a run collects (milliseconds unless the name says). */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    m.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  def apply(name: String): Seq[Double] = m.get(name).fold(Seq.empty[Double])(_.toSeq)
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** One closed-loop workload: a single client, no think time. `prepare`
  * generates the inputs and warms the path up (that is set-up time);
  * `step` runs one loop iteration and records its samples. */
trait Workload {
  def name: String
  /** Loop iterations a run makes even when the time is up. */
  def minSteps: Int
  def prepare(spark: SparkSession, dir: File, seed: Long, ck: Checks): Unit
  def step(i: Int, tr: Tracer, s: Samples, ck: Checks): Unit
  /** Median latency of the unit operation, untraced or traced steps. */
  def opP50(s: Samples, traced: Boolean = false): Double
  /** Units of work per second of the timed loop. */
  def workPerS(s: Samples): Double
  /** The workload-specific metrics the report prints, by name and unit. */
  def report(s: Samples): Seq[(String, Double, String)]
}

/** Diagnosis of generated tables, all unioned into one plan. The table
  * count and shape are parameters: `diag_catalog` is many small tables. */
final class DiagWorkload(val name: String, tables: Int, manifests: Int,
    perManifest: Int, partitions: Int, deleteShare: Double) extends Workload {
  private var spark: SparkSession = _
  private var fixture: Seq[Fixtures.Table] = Nil
  private def entries = fixture.map(_.entries.size.toLong).sum

  def minSteps = 3

  def prepare(sp: SparkSession, dir: File, seed: Long, ck: Checks): Unit = {
    spark = sp
    fixture = (0 until tables).map(i => Fixtures.diagTable(dir, f"t$i%03d",
      seed, i, manifests, perManifest, partitions, deleteShare))
    diagnose(new Tracer(sp.sparkContext, enabled = false), new Samples, ck)
  }

  def step(i: Int, tr: Tracer, s: Samples, ck: Checks): Unit =
    diagnose(tr, s, ck)

  private def diagnose(tr: Tracer, s: Samples, ck: Checks): Unit = {
    val t0 = System.nanoTime()
    ck.attempt("diagnosis")(Diagnosis.run(spark, fixture, tr)).foreach { res =>
      val ms = Stats.ms(t0)
      s.add(if (tr.enabled) "diag_ms_traced" else "diag_ms", ms)
      if (tr.enabled) Layers.diagCounts(res, s)
      val bad = Diagnosis.mismatches(res, fixture)
      if (bad.nonEmpty) ck.reject("diagnosis", s"wrong metrics for ${bad.mkString(", ")}")
    }
  }

  def opP50(s: Samples, traced: Boolean): Double =
    Stats.median(s(if (traced) "diag_ms_traced" else "diag_ms"))
  /** Manifest entries diagnosed per second of diagnosis wall time. */
  def workPerS(s: Samples): Double = entries * s("diag_ms").size * 1000.0 / s("diag_ms").sum

  def report(s: Samples): Seq[(String, Double, String)] = Seq(
    ("diag_p50_ms", Stats.median(s("diag_ms")),
      s"ms (n=${s("diag_ms").size}: ${s("diag_ms").map(x => f"$x%.0f").mkString(", ")})"),
    ("entries_per_s", workPerS(s),
      s"entries/s ($entries entries in ${fixture.size} tables)"))
}

/** Commits beside the reader: appends, manifest rewrite, a diagnosis as
  * the compaction preview, then the compaction commit it previews. Each
  * cycle starts from a freshly seeded table, so every cycle does the same
  * work and a run's samples do not depend on how many cycles it fits. */
final class MaintainWorkload extends Workload {
  val name = "maintain_commit"
  private val Partitions = 8
  private val AppendsPerCycle = 20
  private val FilesPerAppend = 20
  private var spark: SparkSession = _
  private var seed = 0L
  private var root: File = _

  /** Five cycles give 100 commits, so the p90 has ten samples above it. */
  def minSteps = 5

  /** Cycles of appends alone that each set-up runs before one whole cycle.
    * The commit path keeps getting faster for its first several hundred
    * commits in a JVM; three set-ups of eight leave 480 commits behind
    * before the timed loop starts. */
  private val WarmupAppendCycles = 8

  def prepare(sp: SparkSession, dir: File, sd: Long, ck: Checks): Unit = {
    spark = sp; seed = sd; root = dir
    val off = new Tracer(sp.sparkContext, enabled = false)
    (1 to WarmupAppendCycles).foreach(k =>
      cycle(-1 - k, off, new Samples, ck, maintain = false))
    cycle(-1, off, new Samples, ck)
  }

  def step(i: Int, tr: Tracer, s: Samples, ck: Checks): Unit = cycle(i, tr, s, ck)

  /** One cycle on a fresh table; with `maintain` false, the appends alone. */
  private def cycle(i: Int, tr: Tracer, s: Samples, ck: Checks,
      maintain: Boolean = true): Unit = {
    val tableRoot = new File(root, "cycle")
    org.apache.commons.io.FileUtils.deleteQuietly(tableRoot)
    val table = Fixtures.diagTable(tableRoot, "events", seed, i, manifests = 4,
      perManifest = 200, partitions = Partitions, deleteShare = 0.0)
    val dir = table.dir
    var live = table.entries
    val suffix = if (tr.enabled) "_traced" else ""
    val t0 = System.nanoTime()
    for (c <- 0 until AppendsPerCycle) {
      val batch = Fixtures.appendBatch(dir, seed, i * AppendsPerCycle + c,
        FilesPerAppend, Partitions)
      val before = if (tr.enabled) Layers.metadataFiles(dir) else Map.empty[String, Long]
      val t = System.nanoTime()
      ck.attempt("commitAppend")(tr.span("layout_maintenance.append") {
        LayoutMaintenance.commitAppend(spark, dir, batch.map(_._1))
      }).foreach { _ =>
        s.add("commit_ms" + suffix, Stats.ms(t))
        live = live ++ batch.map(_._2)
        if (tr.enabled) Layers.metadataWritten(dir, before, s)
      }
    }
    if (!maintain) return
    val t1 = System.nanoTime()
    val manifests = ck.attempt("rewriteManifests")(tr.span(
        "layout_maintenance.rewrite_manifests") {
      LayoutMaintenance.rewriteManifests(spark, dir)
    }).flatMap { case (mb, ma) =>
      val ms = Stats.ms(t1)
      if (tr.enabled) {
        s.add("manifests_before", mb); s.add("manifests_after", ma)
      }
      if (ma > 2 || (mb <= 2 && ma != mb)) {
        ck.reject("rewriteManifests", s"$mb manifests became $ma"); None
      } else Some((ma.toLong, ms))
    }
    val preview = manifests.flatMap { case (m, _) =>
      val expected = table.copy(entries = live, manifests = m)
      val t = System.nanoTime()
      ck.attempt("diagnosis")(Diagnosis.run(spark, Seq(expected), tr)).flatMap { res =>
        s.add("diag_ms" + suffix, Stats.ms(t))
        if (tr.enabled) Layers.diagCounts(res, s)
        val bad = Diagnosis.mismatches(res, Seq(expected))
        if (bad.isEmpty) res.rows.headOption
        else { ck.reject("diagnosis", "metrics disagree with the commit log"); None }
      }
    }
    val t2 = System.nanoTime()
    val compacted = ck.attempt("commitCompaction")(tr.span("layout_maintenance.compaction") {
      LayoutMaintenance.commitCompaction(spark, dir, Reference.MaxGroupBytes)
    })
    val compactMs = Stats.ms(t2)
    s.add("cycle_ms" + suffix, Stats.ms(t0))
    for ((_, before, after) <- compacted) {
      manifests.foreach { case (_, rw) => s.add("maintenance_ms" + suffix, rw + compactMs) }
      if (tr.enabled) {
        s.add("data_files_before", before); s.add("data_files_after", after)
      }
      val packed = live.groupBy(_.partitionKey).toSeq.flatMap { case (_, es) =>
        Reference.pack(es.map(_.size)) }
      val (files, bytes) = liveData(dir)
      val why =
        if (before != live.size) s"$before data files before, the log has ${live.size}"
        else if (!preview.exists(_.fileCountAfter == after))
          s"$after data files after, the preview said ${preview.map(_.fileCountAfter)}"
        else if (after != packed.size) s"$after data files after, packing gives ${packed.size}"
        else if (files != after || bytes != live.map(_.size).sum)
          s"the table holds $files files of $bytes bytes after compaction"
        else ""
      if (why.nonEmpty) ck.reject("commitCompaction", why)
    }
  }

  /** Live data files and bytes of the table's current snapshot, read back
    * from its manifests after the cycle's timed work. */
  private def liveData(dir: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val r = graft.sources.IcebergManifestSource.statsFromTableDir(spark, dir, "t", Nil)
      .filter(col("content") === 0)
      .agg(count(lit(1)), sum(col("sizeBytes"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def opP50(s: Samples, traced: Boolean): Double =
    Stats.median(s(if (traced) "commit_ms_traced" else "commit_ms"))
  /** Data files committed per second of a whole cycle at the median cycle
    * time, so appends, maintenance and the preview diagnosis all count. */
  def workPerS(s: Samples): Double =
    AppendsPerCycle * FilesPerAppend * 1000.0 / Stats.median(s("cycle_ms"))

  def report(s: Samples): Seq[(String, Double, String)] = Seq(
    ("commit_p50_ms", Stats.median(s("commit_ms")), s"ms (n=${s("commit_ms").size})"),
    ("commit_p90_ms", Stats.quantile(s("commit_ms"), 0.9), s"ms (n=${s("commit_ms").size})"),
    ("maintenance_p50_ms", Stats.median(s("maintenance_ms")),
      s"ms (n=${s("maintenance_ms").size}, rewriteManifests + commitCompaction)"),
    ("diag_p50_ms", Stats.median(s("diag_ms")), s"ms (n=${s("diag_ms").size})"),
    ("files_committed_per_s", workPerS(s), "files/s at the median whole cycle"))
}

/** A fixed list of the program's queries over a generated TPC-H-shaped
  * corpus, each output checked against a pinned row count and digest. */
final class QueryMixWorkload(digests: Map[String, (Long, String)]) extends Workload {
  val name = "query_mix"
  private var spark: SparkSession = _
  private var corpus: String = _
  private var seed = 0L

  def minSteps = 3

  def prepare(sp: SparkSession, dir: File, sd: Long, ck: Checks): Unit = {
    spark = sp; seed = sd
    val c = new File(dir, "corpus")
    Fixtures.queryCorpus(sp, c, QueryMixWorkload.CorpusOrders)
    corpus = c.getAbsolutePath
    // warm every query of the list: a query's first run in a JVM costs
    // about twice its later runs, and the next several are still slower
    val off = new Tracer(sp.sparkContext, enabled = false)
    for (_ <- 1 to QueryMixWorkload.WarmupPasses)
      QueryMixWorkload.Queries.foreach(run(_, off, new Samples, ck))
  }

  /** One pass over the list, in an order drawn from the seed. */
  def step(i: Int, tr: Tracer, s: Samples, ck: Checks): Unit = {
    val order = QueryMixWorkload.Queries.sortBy(q => Fixtures.hash(seed, i, q.hashCode))
    tr.span("pass")(order.foreach(run(_, tr, s, ck)))
  }

  /** Times `count()` of the query's DataFrame, then collects the same
    * DataFrame outside the timed span to check its rows. */
  private def run(q: String, tr: Tracer, s: Samples, ck: Checks): Unit = {
    val suffix = if (tr.enabled) "_traced" else ""
    ck.attempt(q)(tr.span(s"operators.$q") {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, corpus)
      val n = df.count()
      (df, n, Stats.ms(t0))
    }).foreach { case (df, n, ms) =>
      s.add(q + suffix, ms)
      s.add("queries" + suffix, 1)
      try {
        val rows = df.collect()
        val got = (rows.length.toLong, QueryMixWorkload.digest(rows))
        if (n != rows.length || !digests.get(q).contains(got))
          ck.reject(q, s"count $n, rows ${rows.length}, digest ${got._2}; " +
            s"pinned ${digests.get(q)}")
      } catch { case NonFatal(e) => ck.reject(q, s"collect failed: $e") }
    }
  }

  /** Sum over the list of each query's median: one pass at median speed. */
  def opP50(s: Samples, traced: Boolean): Double =
    QueryMixWorkload.Queries.map(q => Stats.median(s(if (traced) s"${q}_traced" else q))).sum
  /** Queries completed per second of query wall time. */
  def workPerS(s: Samples): Double =
    s("queries").size * 1000.0 / QueryMixWorkload.Queries.map(q => s(q).sum).sum

  def report(s: Samples): Seq[(String, Double, String)] =
    ("query_mix_s", opP50(s, traced = false) / 1000.0,
      s"s (sum of ${QueryMixWorkload.Queries.size} query medians)") +:
      QueryMixWorkload.Queries.map(q => (s"$q.p50_ms", Stats.median(s(q)),
        s"ms (n=${s(q).size}: ${s(q).map(x => f"$x%.0f").mkString(", ")})"))
}

object QueryMixWorkload {
  val Queries: Seq[String] = Seq("q91_part_pagerank", "q272_eq_delete_merge")

  /** Passes over the list each set-up runs; three set-ups leave nine. */
  val WarmupPasses = 3

  /** Orders in the generated corpus, as in the scale-factor-0.01 corpus. */
  val CorpusOrders = 15000L

  /** Order-independent digest of a result: the sum, modulo 2^64, of a
    * SHA-256 prefix of each row's canonical text. */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest(canon(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    f"$sum%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
