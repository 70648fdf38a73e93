package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{IcebergLayoutWriter, IcebergManifestSource, LayoutMaintenance,
  MorRead}
import graft.sources.IcebergLayoutWriter.ManifestEntrySpec

/** EXECUTED metadata maintenance on real on-disk layouts: snapshot
  * expiration (history drop + physical manifest cleanup, reachability-
  * safe) and manifest consolidation (same relation from fewer files,
  * raw-record fidelity). */
class LayoutMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def entry(name: String, rc: Long, seq: Long, content: Int = 0) =
    ManifestEntrySpec(status = 1, content = content, filePath = name,
      partition = Seq("day" -> 7), recordCount = rc, sizeBytes = rc * 10L,
      sequenceNumber = seq,
      lower = Map(1 -> IcebergLayoutWriter.boundLong(rc)),
      upper = Map(1 -> IcebergLayoutWriter.boundLong(rc * 2)))

  private def files(tbl: java.io.File, snap: Option[Long]): Seq[(String, Long)] =
    IcebergManifestSource.statsFromTableDir(spark, tbl.getPath, "t", Nil, snap)
      .collect().map(r => (r.getString(1), r.getLong(5))).sortBy(_._1).toSeq

  test("expireSnapshots drops old history, keeps survivors bit-identical, deletes files") {
    val tbl = new java.io.File("target/tmp-maint-expire")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    IcebergLayoutWriter.writeTableSnapshots(tbl, Seq(
      1L -> Seq(entry("a.parquet", 5L, 1L)),
      2L -> Seq(entry("a.parquet", 5L, 1L), entry("b.parquet", 7L, 2L)),
      3L -> Seq(entry("c.parquet", 12L, 3L))))
    val meta = new java.io.File(tbl, "metadata")
    val manifestsBefore = meta.listFiles().count(_.getName.startsWith("manifest-"))
    val keepSnapshot = files(tbl, Some(3L))

    val (kept, deleted) = LayoutMaintenance.expireSnapshots(spark, tbl.getPath, keepLast = 1)
    assert(kept == Seq(3L))
    assert(deleted > 0, "expired manifests/lists must be physically removed")
    // survivors unchanged, old ids gone, current still resolves
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath) == Seq(3L))
    assert(files(tbl, None) == keepSnapshot)
    assert(files(tbl, Some(3L)) == keepSnapshot)
    val manifestsAfter = meta.listFiles().count(_.getName.startsWith("manifest-"))
    assert(manifestsAfter < manifestsBefore)
  }

  test("expireSnapshots never deletes a manifest a surviving snapshot still references") {
    // snapshots 1 and 2 SHARE manifest files: build by hand with one
    // manifest referenced from both lists
    val tbl = new java.io.File("target/tmp-maint-shared")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val meta = new java.io.File(tbl, "metadata"); meta.mkdirs()
    val shared = new java.io.File(meta, "manifest-shared.avro")
    IcebergLayoutWriter.writeManifest(shared, Seq(entry("a.parquet", 5L, 1L)))
    val only2 = new java.io.File(meta, "manifest-only2.avro")
    IcebergLayoutWriter.writeManifest(only2, Seq(entry("b.parquet", 7L, 2L)))
    val l1 = new java.io.File(meta, "snap-1-list.avro")
    IcebergLayoutWriter.writeManifestList(l1, Seq((shared, 0)), 1L)
    val l2 = new java.io.File(meta, "snap-2-list.avro")
    IcebergLayoutWriter.writeManifestList(l2, Seq((shared, 0), (only2, 0)), 2L)
    java.nio.file.Files.write(new java.io.File(meta, "v1.metadata.json").toPath,
      s"""{"format-version": 2, "current-snapshot-id": 2, "snapshots": [
         |  {"snapshot-id": 1, "manifest-list": "${l1.getAbsolutePath}"},
         |  {"snapshot-id": 2, "manifest-list": "${l2.getAbsolutePath}"}]}"""
        .stripMargin.getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(meta, "version-hint.text").toPath,
      "1".getBytes("UTF-8"))
    val before = files(tbl, Some(2L))
    val (kept, _) = LayoutMaintenance.expireSnapshots(spark, tbl.getPath, keepLast = 1)
    assert(kept == Seq(2L))
    assert(shared.isFile, "shared manifest must survive — snapshot 2 references it")
    assert(!l1.isFile, "expired snapshot's manifest list must be deleted")
    assert(files(tbl, None) == before)
  }

  test("rewriteManifests: same relation from fewer files, stats/partitions intact") {
    val tbl = new java.io.File("target/tmp-maint-rewrite")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val meta = new java.io.File(tbl, "metadata"); meta.mkdirs()
    // six tiny manifests (a streaming writer's leavings) + one delete manifest
    val manifests = (0 until 6).map { i =>
      val f = new java.io.File(meta, s"manifest-small-$i.avro")
      IcebergLayoutWriter.writeManifest(f,
        Seq(entry(s"f$i.parquet", 10L + i, 1L + i)))
      (f, 0)
    } :+ {
      val f = new java.io.File(meta, "manifest-del.avro")
      IcebergLayoutWriter.writeManifest(f,
        Seq(entry("d.parquet", 3L, 7L, content = 1)))
      (f, 1)
    }
    val list = new java.io.File(meta, "snap-5-list.avro")
    IcebergLayoutWriter.writeManifestList(list, manifests, 5L)
    java.nio.file.Files.write(new java.io.File(meta, "v1.metadata.json").toPath,
      s"""{"format-version": 2, "current-snapshot-id": 5, "snapshots": [
         |  {"snapshot-id": 5, "manifest-list": "${list.getAbsolutePath}"}]}"""
        .stripMargin.getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(meta, "version-hint.text").toPath,
      "1".getBytes("UTF-8"))

    // full-fidelity snapshot of the relation BEFORE (stats + partition + seq)
    def relation = IcebergManifestSource.statsFromTableDir(spark, tbl.getPath, "t",
        Seq((1, "x", org.apache.spark.sql.types.LongType)))
      .collect().map(_.toString).sorted.toSeq
    val before = relation
    val (nBefore, nAfter) = LayoutMaintenance.rewriteManifests(spark, tbl.getPath)
    assert(nBefore == 7 && nAfter == 2, s"expected 7 -> 2 manifests, got $nBefore -> $nAfter")
    assert(relation == before, "consolidation must not change the relation")
    assert(!manifests.head._1.isFile, "old small manifests must be deleted")
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath) == Seq(5L))
  }

  test("rollback moves the current pointer (and main) without losing history; expire keeps it") {
    val tbl = new java.io.File("target/tmp-maint-rollback")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    IcebergLayoutWriter.writeTableSnapshots(tbl, Seq(
      1L -> Seq(entry("a.parquet", 5L, 1L)),
      2L -> Seq(entry("a.parquet", 5L, 1L), entry("b.parquet", 7L, 2L)),
      3L -> Seq(entry("c.parquet", 12L, 3L))),
      refs = Map("main" -> (3L, "branch"), "audit" -> (2L, "tag")))
    val snap1 = files(tbl, Some(1L))

    val prev = LayoutMaintenance.rollback(spark, tbl.getPath, 1L)
    assert(prev.contains(3L))
    // current read IS snapshot 1 now; nothing was deleted
    assert(files(tbl, None) == snap1)
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath) == Seq(1L, 2L, 3L))
    // main follows the pointer, other refs stay
    assert(IcebergManifestSource.refSnapshotId(spark, tbl.getPath, "main").contains(1L))
    assert(IcebergManifestSource.refSnapshotId(spark, tbl.getPath, "audit").contains(2L))
    // rollback is reversible: snapshot 3 still reads
    assert(files(tbl, Some(3L)).nonEmpty)

    // expire keepLast=1 keeps the HISTORY tail (3), the current (1), AND
    // the tagged snapshot (2) — refs PIN their snapshots against expiry
    // (Iceberg's branch/tag retention contract)
    val (kept, _) = LayoutMaintenance.expireSnapshots(spark, tbl.getPath, keepLast = 1)
    assert(kept == Seq(1L, 2L, 3L), s"got $kept")
    assert(files(tbl, None) == snap1, "rolled-back pointer must survive expiration")
    assert(IcebergManifestSource.refSnapshotId(spark, tbl.getPath, "main").contains(1L))
    assert(IcebergManifestSource.refSnapshotId(spark, tbl.getPath, "audit").contains(2L))
    // dropping the tag releases its snapshot to the next expire
    LayoutMaintenance.dropRef(spark, tbl.getPath, "audit")
    val (kept2, _) = LayoutMaintenance.expireSnapshots(spark, tbl.getPath, keepLast = 1)
    assert(kept2 == Seq(1L, 3L), s"got $kept2")
    assert(files(tbl, None) == snap1)
  }

  test("maintenance preserves metadata fields it does not model (real-writer tables)") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val tbl = new java.io.File("target/tmp-maint-preserve")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    IcebergLayoutWriter.writeTableSnapshots(tbl, Seq(
      1L -> Seq(entry("a.parquet", 5L, 1L)),
      2L -> Seq(entry("b.parquet", 7L, 2L))),
      refs = Map("main" -> (2L, "branch")))
    // decorate the metadata the way a real engine would: top-level fields
    // this repo's model knows nothing about, extra per-snapshot fields,
    // extra per-ref fields
    val meta = new java.io.File(tbl, "metadata")
    val v1 = new java.io.File(meta, "v1.metadata.json")
    val mapper = new ObjectMapper()
    val root = mapper.readTree(v1).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("table-uuid", "9c3a2f00-aaaa-bbbb-cccc-123456789abc")
    root.putArray("schemas").addObject().put("schema-id", 0)
    root.putObject("properties").put("write.format.default", "parquet")
    root.get("snapshots").get(1).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("timestamp-ms", 1723500000000L)
    root.get("refs").get("main").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("min-snapshots-to-keep", 5)
    java.nio.file.Files.write(v1.toPath, mapper.writeValueAsBytes(root))

    // rollback bumps the metadata version — every decoration must survive
    LayoutMaintenance.rollback(spark, tbl.getPath, 1L)
    val v2 = new java.io.File(meta, "v2.metadata.json")
    assert(v2.isFile)
    val after = mapper.readTree(v2)
    assert(after.get("table-uuid").asText == "9c3a2f00-aaaa-bbbb-cccc-123456789abc")
    assert(after.get("schemas").get(0).get("schema-id").asInt == 0)
    assert(after.get("properties").get("write.format.default").asText == "parquet")
    // the fixture assigns row lineage (a v3 construct), so the layout
    // writer stamps 3 — maintenance must carry the stamp, never lower it
    assert(after.get("format-version").asInt == 3)
    val snap2 = after.get("snapshots").get(1)
    assert(snap2.get("snapshot-id").asLong == 2L)
    assert(snap2.get("timestamp-ms").asLong == 1723500000000L,
      "per-snapshot fields beyond id/manifest-list must survive maintenance")
    val main = after.get("refs").get("main")
    assert(main.get("snapshot-id").asLong == 1L, "rollback moves main")
    assert(main.get("min-snapshots-to-keep").asInt == 5,
      "per-ref fields beyond snapshot-id/type must survive")
  }

  test("expireSnapshots removes superseded metadata versions with the files they reference") {
    val tbl = new java.io.File("target/tmp-maint-mdpurge")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    IcebergLayoutWriter.writeTableSnapshots(tbl, Seq(
      1L -> Seq(entry("a.parquet", 5L, 1L)),
      2L -> Seq(entry("b.parquet", 7L, 2L)),
      3L -> Seq(entry("c.parquet", 9L, 3L))))
    LayoutMaintenance.expireSnapshots(spark, tbl.getPath, keepLast = 1)
    val meta = new java.io.File(tbl, "metadata")
    val mdFiles = meta.listFiles().map(_.getName)
      .filter(_.matches("v\\d+\\.metadata\\.json")).sorted.toSeq
    assert(mdFiles == Seq("v2.metadata.json"),
      s"old metadata versions reference deleted manifests and must go; got $mdFiles")
    // and the survivor still resolves + reads
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath) == Seq(3L))
    assert(files(tbl, None).nonEmpty)
  }

  test("commitCompaction: executed file count equals the simulation's fileCountAfter") {
    import org.apache.spark.sql.functions._
    val tbl = new java.io.File("target/tmp-maint-compact")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    // data at seq 2, the delete at seq 1 — every data file is NEWER than
    // the delete, so all are packable (the MOR pinning rule is exercised
    // by its own test below)
    def df(name: String, day: Int, size: Long, rc: Long) =
      ManifestEntrySpec(status = 1, content = 0, filePath = name,
        partition = Seq("day" -> day), recordCount = rc, sizeBytes = size,
        sequenceNumber = 2L)
    // day=1: 10+20+30 pack into one group under cap 50 (close fires on 60
    // only when the NEXT file arrives), 1000 stays alone; day=2: 5+6 pack
    val entries = Seq(
      df("a.parquet", 1, 10L, 1L), df("b.parquet", 1, 20L, 2L),
      df("c.parquet", 1, 30L, 3L), df("d.parquet", 1, 1000L, 4L),
      df("e.parquet", 2, 5L, 5L), df("f.parquet", 2, 6L, 6L),
      ManifestEntrySpec(status = 1, content = 1, filePath = "del.parquet",
        partition = Seq("day" -> 1), recordCount = 3L, sizeBytes = 99L,
        sequenceNumber = 1L))
    IcebergLayoutWriter.writeTable(tbl, entries,
      partitionSpec = Seq(("day", "identity", 1)))

    // the SIMULATION's prediction for the same cap
    val cfg = graft.model.EngineConfig.default.copy(maxGroupBytes = 50L)
    val (filesDs, nManifests) =
      IcebergManifestSource.fromTableDir(spark, tbl.getPath, "t")
    val manifests = spark.createDataset(Seq(("t", nManifests)))(
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong))
    val predicted = graft.metrics.MetricsCalculator
      .computeMetricsWide(filesDs, manifests, cfg).head().fileCountAfter

    val (newId, before, after) =
      LayoutMaintenance.commitCompaction(spark, tbl.getPath, 50L)
    assert(newId == 3L && before == 6)
    assert(after.toLong == predicted,
      s"executed $after data files != simulated fileCountAfter $predicted")

    // totals preserved, deletes carried, old snapshot still time-travels
    val now = IcebergManifestSource
      .statsFromTableDir(spark, tbl.getPath, "t", Nil)
    val dataNow = now.filter(col("content") === 0)
    assert(dataNow.count() == after.toLong)
    assert(dataNow.agg(sum(col("sizeBytes")), sum(col("record_count")))
      .head() == org.apache.spark.sql.Row(10L + 20L + 30L + 1000L + 5L + 6L,
        1L + 2L + 3L + 4L + 5L + 6L))
    // compacted entries carry the new sequence; kept singleton keeps its own
    val seqs = now.filter(col("content") === 0)
      .select(col("file_path"), col("sequence_number")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(seqs("d.parquet") == 2L)
    assert(seqs.filterKeys(_.startsWith("data/compact-3-")).values.toSet == Set(3L))
    val delNow = now.filter(col("content") =!= 0).collect()
    assert(delNow.map(r => (r.getString(1), r.getLong(6))).toSeq ==
      Seq(("del.parquet", 1L)), "delete file must carry its original seq")
    assert(files(tbl, Some(1L)).size == 7, "snapshot 1 stays readable")
    // the changelog records exactly the rewrite
    val changes = IcebergManifestSource
      .changesBetween(spark, tbl.getPath, "t", 1L, 3L).collect()
      .map(r => (r.getString(0), r.getString(2))).sorted.toSeq
    assert(changes == Seq(
      ("a.parquet", "removed"), ("b.parquet", "removed"),
      ("c.parquet", "removed"),
      ("data/compact-3-1.parquet", "added"), ("data/compact-3-2.parquet", "added"),
      ("e.parquet", "removed"), ("f.parquet", "removed")))

    // idempotence: an already-packed table is a NO-OP — same snapshot id
    // back, no metadata churn
    val versionsBefore = new java.io.File(tbl, "metadata").listFiles()
      .count(_.getName.matches("v\\d+\\.metadata\\.json"))
    val (sameId, b2, a2) =
      LayoutMaintenance.commitCompaction(spark, tbl.getPath, 50L)
    assert(sameId == 3L && b2 == a2,
      s"re-compaction must be a no-op, got $sameId: $b2 -> $a2")
    val versionsAfter = new java.io.File(tbl, "metadata").listFiles()
      .count(_.getName.matches("v\\d+\\.metadata\\.json"))
    assert(versionsAfter == versionsBefore, "no-op must not write metadata")
  }

  test("commitCompaction pins data files a delete may still apply to (MOR safety)") {
    import org.apache.spark.sql.functions._
    val tbl = new java.io.File("target/tmp-maint-morpin")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    def df(name: String, size: Long, seq: Long) =
      ManifestEntrySpec(status = 1, content = 0, filePath = name,
        partition = Seq("day" -> 1), recordCount = size / 10, sizeBytes = size,
        sequenceNumber = seq)
    // old files (seq 1) are covered by the position delete (seq 2):
    // packing them would dangle the delete's path refs / change eq-delete
    // visibility — they must keep their identity. The seq-3 files are
    // newer than every delete and pack freely.
    IcebergLayoutWriter.writeTable(tbl, Seq(
      df("old1.parquet", 10L, 1L), df("old2.parquet", 20L, 1L),
      df("new1.parquet", 5L, 3L), df("new2.parquet", 6L, 3L),
      ManifestEntrySpec(status = 1, content = 1, filePath = "pos.parquet",
        partition = Seq("day" -> 1), recordCount = 2L, sizeBytes = 40L,
        sequenceNumber = 2L)))
    val (newId, before, after) =
      LayoutMaintenance.commitCompaction(spark, tbl.getPath, 50L)
    assert(newId == 4L && before == 4 && after == 3,
      s"expected only the seq-3 pair to pack: $before -> $after")
    val now = IcebergManifestSource
      .statsFromTableDir(spark, tbl.getPath, "t", Nil)
      .select(col("file_path"), col("content"), col("sequence_number"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(now == Seq(
      ("data/compact-4-1.parquet", 0, 4L),
      ("old1.parquet", 0, 1L), ("old2.parquet", 0, 1L),
      ("pos.parquet", 1, 2L)).sorted,
      s"pinned files must survive byte-identical with their seqs: $now")
  }

  test("commitCompaction carries every uncompacted entry with its full identity") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val session = spark
    import session.implicits._
    val tbl = new java.io.File("target/tmp-maint-carry")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    def append(name: String, lo: Long, hi: Long): Unit = {
      val f = new java.io.File(dataDir, name)
      val n = IcebergLayoutWriter.writeSingleParquet(
        (lo to hi).map(k => (k, k % 7)).toDF("k", "b"), f)
      LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(
        ManifestEntrySpec(status = 1, content = 0,
          filePath = f.getAbsolutePath, recordCount = n,
          sizeBytes = f.length(),
          lower = Map(1 -> IcebergLayoutWriter.boundLong(lo)),
          upper = Map(1 -> IcebergLayoutWriter.boundLong(hi)))))
    }
    // an equality delete (with equality_ids) and a PUFFIN deletion
    // vector, then newer small appends the compaction may pack
    append("base.parquet", 0L, 99L)
    LayoutMaintenance.commitUpsert(spark, tbl.getPath,
      Seq((5L, 50L)).toDF("k", "b"), Seq("k"))
    LayoutMaintenance.commitDeleteWhereDv(spark, tbl.getPath, col("k") === 7L)
    (0 until 3).foreach(i =>
      append(s"small$i.parquet", 1000L + 10 * i, 1009L + 10 * i))
    def relation: Map[String, Seq[Any]] = IcebergManifestSource
      .statsFromTableDir(spark, tbl.getPath, "t", Seq((1, "k", LongType)))
      .select(col("file_path"), col("content"), col("file_format"),
        col("equality_ids"), col("lo_k"), col("hi_k"),
        col("sequence_number"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val before = relation
    val keysBefore = MorRead.metadataEqKeys(spark, tbl.getPath)
    assert(keysBefore == Seq("k"))
    assert(before.values.count(_(1) == "PUFFIN") == 1)
    val (_, filesBefore, filesAfter) =
      LayoutMaintenance.commitCompaction(spark, tbl.getPath, 1L << 30)
    // base + upsert are pinned under the deletes; the 3 small files pack
    assert(filesBefore == 5 && filesAfter == 3)
    val after = relation
    assert(after.filter(!_._1.contains("compact-")) ==
      before.filter(!_._1.contains("small")),
      "every uncompacted entry must keep its format, equality ids, " +
        "bounds and sequence number")
    assert(MorRead.metadataEqKeys(spark, tbl.getPath) == keysBefore)
  }
}
