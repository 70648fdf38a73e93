package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A commit lost its optimistic-concurrency race: the metadata version it
  * was computed against is no longer current (another writer — possibly in
  * a DIFFERENT process — committed first). Append-shaped commits catch
  * this and retry against the new base; replace-shaped commits let it
  * propagate, because their write decisions (which files to drop) were
  * made against state that no longer exists. Mirrors Iceberg's
  * CommitFailedException contract. */
final class CommitConflictException(msg: String,
    cause: Throwable = null,
    /** false = retrying cannot help (the conflict invalidates the
      * commit's own inputs, not just its base version — e.g. a data file
      * its tombstones reference was removed); the retry loop rethrows
      * immediately and the STATEMENT fails, Iceberg's
      * validateDataFilesExist behavior. */
    val retryable: Boolean = true) extends RuntimeException(msg, cause)

/** EXECUTED commits and metadata maintenance over real on-disk layouts —
  * the write side of the format [[IcebergLayoutWriter]] writes and
  * [[IcebergManifestSource]] reads.
  *
  * Every verb that writes a snapshot from entries (append, upsert,
  * MERGE, DELETE in all three dialects, MOR deltas, group replaces,
  * rewrites, compaction, cherry-pick, WAP staging) goes through ONE
  * producer:
  *
  *   1. under the table's lock, pin the current metadata document and
  *      parse it once into a [[CommitBase]] (snapshots, refs, current
  *      id, spec/format/lineage state, the current manifest list, the
  *      carried entries and the new snapshot id);
  *   2. the verb writes its own files and returns a [[ChangeSet]]:
  *      added entries, what is removed, the operation;
  *   3. the producer stamps sequence numbers, row ids and spec ids,
  *      gates v3 constructs, and writes the manifests, manifest list
  *      and summary — on the DRIVER-WALK arm (a fresh list over the
  *      carried entries) while the carry fits under
  *      `spark.graft.maxDriverFileEntries`, else on the REUSE arm (a
  *      filtered copy of the current list: untouched manifests ride
  *      verbatim, touched ones re-file or rewrite in tasks);
  *   4. refs move and the metadata version swaps by compare-and-swap
  *      against the pinned version; append-shaped verbs retry a lost
  *      race from step 1, replace-shaped verbs fail loudly.
  *
  * Metadata-only maintenance (expire, rollback, manifest rewrite, ref
  * DDL) reads the same pinned base and ends in the same CAS. All of it
  * runs driver-side over metadata-sized inputs — at 100 TB the DATA
  * never moves, which is why metadata maintenance is the cheap lever.
  */
object LayoutMaintenance {

  private def metaDir(tableDir: String) = new java.io.File(tableDir, "metadata")

  /** The metadata document a commit is based on, pinned by FILE (not by
    * "whatever is current when we get around to writing"): every read the
    * commit makes should derive from this file, and the commit's version
    * swap is a compare-and-swap against `version` — see
    * [[writeMetadataVersion]]. */
  final case class MetaBase(file: java.io.File, version: Long)

  /** Pin the current metadata version as a commit base. Captured FIRST in
    * every commit path, before any state reads — a concurrent commit
    * landing after the capture makes the final swap fail (conflict)
    * instead of silently building on mixed state. */
  def metaBase(spark: SparkSession, tableDir: String): MetaBase = {
    val f = currentMetadataFile(spark, tableDir)
    val v = "^v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(f.getName)
      .map(_.group(1).toLong).getOrElse(0L)
    MetaBase(f, v)
  }

  /** Optimistic-commit retry loop for APPEND-shaped commits (new files on
    * top of whatever is current — recomputing against a newer base is
    * always valid): run `body`, and on [[CommitConflictException]] re-run
    * it from scratch (it re-captures [[metaBase]] and re-reads state) up
    * to `maxAttempts` times. Replace-shaped commits must NOT use this —
    * their removed-file decisions die with the old base. Iceberg's own
    * commit protocol: CAS, and retry only what composes. */
  def withCommitRetry[T](tableDir: String, maxAttempts: Int = 5)(
      body: => T): T = {
    var attempt = 0
    var last: CommitConflictException = null
    while (attempt < maxAttempts) {
      attempt += 1
      try return body
      catch {
        case e: CommitConflictException if e.retryable =>
          last = e
          // brief deterministic backoff: losers of a same-ms race should
          // not immediately collide again on the next version
          Thread.sleep(5L * attempt)
      }
    }
    throw new CommitConflictException(
      s"commit on $tableDir lost $maxAttempts consecutive version races",
      last)
  }

  /** The SAME resolver the reader uses ([[IcebergManifestSource]]) —
    * maintenance and reads can never disagree about which metadata file
    * is current (incl. hint-as-filename and dead-hint listing fallback). */
  private def currentMetadataFile(spark: SparkSession,
      tableDir: String): java.io.File =
    new java.io.File(
      IcebergManifestSource.currentMetadataPath(spark, tableDir).toUri.getPath)

  /** Parse the current metadata JSON — DRIVER-SIDE Jackson over the one
    * KB-sized document (the `spark.read.json` it replaces cost a
    * schema-inference job + a collect job per call, several times per
    * commit on the write path). */
  private def readMetadata(spark: SparkSession,
      tableDir: String): com.fasterxml.jackson.databind.JsonNode =
    graft.Json.mapper.readTree(currentMetadataFile(spark, tableDir))

  /** The catalog descriptor's `properties` map (graft-table.json) —
    * empty for descriptor-less layouts or unreadable docs. One
    * small-file read; the ONLY descriptor-properties parser (the
    * write/commit paths all route through here). SQL DDL lands table
    * properties here (CREATE/ALTER ... TBLPROPERTIES); they win over
    * the metadata document's `properties`, which cover external
    * layouts and programmatic tables. */
  private[graft] def descriptorProps(tableDir: String): Map[String, String] = {
    val d = new java.io.File(tableDir, "graft-table.json")
    if (!d.exists()) return Map.empty
    try Option(graft.Json.mapper.readTree(d).get("properties"))
        .map(propsOf).getOrElse(Map.empty)
    catch { case scala.util.control.NonFatal(_) =>
      Map.empty[String, String] }
  }

  /** A JSON `properties` object as a string map. */
  private def propsOf(
      n: com.fasterxml.jackson.databind.JsonNode): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    n.fields().forEachRemaining(e => out += (e.getKey -> e.getValue.asText()))
    out.result()
  }

  /** A metadata document's `properties` map (external layouts). */
  private def metadataPropsOf(
      meta: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
    Option(meta.get("properties")).filter(_.isObject).map(propsOf)
      .getOrElse(Map.empty)

  /** EFFECTIVE table properties for version/dialect decisions: the
    * descriptor when one exists (SQL DDL lands properties there; one
    * small-file read — this runs per commit), else the metadata
    * document's (descriptor-less external layouts). */
  private[graft] def tablePropsFor(spark: SparkSession,
      tableDir: String): Map[String, String] =
    if (new java.io.File(tableDir, "graft-table.json").exists())
      descriptorProps(tableDir)
    else try metadataPropsOf(readMetadata(spark, tableDir))
    catch { case scala.util.control.NonFatal(_) =>
      Map.empty[String, String] }

  /** The table's DECLARED `format-version` property. None = unset: the
    * dialect then auto-raises the stamped version when a commit first
    * lands a v3 construct. Some(2) = the user pinned v2 — v3 features
    * (row lineage, deletion vectors, VARIANT columns) REFUSE, the
    * spec's per-version feature gates. */
  private[graft] def declaredFormatVersion(spark: SparkSession,
      tableDir: String): Option[Int] =
    tablePropsFor(spark, tableDir).get("format-version")
      .flatMap(_.toIntOption)

  /** The `format-version` the CURRENT metadata document is stamped
    * with (2 when the field is absent or the table has no metadata
    * yet — the pre-v3 dialect default). */
  def tableFormatVersion(spark: SparkSession, tableDir: String): Int =
    try Option(readMetadata(spark, tableDir).get("format-version"))
      .filter(_.canConvertToInt).map(_.asInt()).getOrElse(2)
    catch { case scala.util.control.NonFatal(_) => 2 }

  /** The spec's v2→v3 UPGRADE: one metadata-only commit re-stamping
    * the current document at `v` (irreversible — downgrades refuse at
    * the property layer). No-op when the table has no metadata yet
    * (the first commit then stamps the declared version) or is already
    * at `v` or above. */
  def upgradeFormatVersion(spark: SparkSession, tableDir: String,
      v: Int): Unit = commitLock(tableDir).synchronized {
    val m = metaDir(tableDir)
    val hasMeta = new java.io.File(m, "version-hint.text").exists() ||
      Option(m.listFiles()).exists(_.exists(
        _.getName.endsWith(".metadata.json")))
    if (!hasMeta) return
    val base = metaBase(spark, tableDir)
    val root = graft.Json.mapper.readTree(base.file)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val cur = Option(root.get("format-version"))
      .filter(_.canConvertToInt).map(_.asInt()).getOrElse(2)
    if (cur >= v) return
    root.put("format-version", v)
    casWrite(tableDir, base, root, "format-version upgrade")
  }

  /** The table's `graft.lake-type.<column>` declarations (uuid /
    * fixed[N] columns) — descriptor properties win over the metadata
    * document's (see [[descriptorProps]]). MorRead
    * consults this so Spark-native parquet scans can read uuid columns
    * (fixed 16-byte physical) as BINARY and decode post-scan. */
  private[sources] def tableLakeTypes(spark: SparkSession,
      tableDir: String): Map[String, String] =
    graft.sources.v2.GraftFormatWriters.lakeTypesOf(
      metadataPropsOf(readMetadata(spark, tableDir)) ++
        descriptorProps(tableDir))

  /** Snapshot ids listed in the current metadata JSON, history order. */
  def snapshotIds(spark: SparkSession, tableDir: String): Seq[Long] =
    snapshots(spark, tableDir).map(_.id)

  /** (snapshotId, timestampMs) in history order; None for snapshots
    * written before timestamps existed in this layout. */
  def snapshotTimestamps(spark: SparkSession,
      tableDir: String): Seq[(Long, Option[Long])] =
    timestampsOf(readMetadata(spark, tableDir))

  private def timestampsOf(meta: com.fasterxml.jackson.databind.JsonNode)
      : Seq[(Long, Option[Long])] = {
    val arr = meta.get("snapshots")
    if (arr == null || !arr.isArray) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    arr.forEach { n =>
      val sid = n.get("snapshot-id")
      if (sid != null && sid.canConvertToLong)
        out += ((sid.asLong(), Option(n.get("timestamp-ms"))
          .filter(_.canConvertToLong).map(_.asLong())))
    }
    out.toSeq
  }

  /** The snapshot current AS OF `tsMs` — the LAST history entry whose
    * commit timestamp is <= tsMs (Iceberg's time-travel resolution).
    * Snapshots without timestamps are unresolvable and skipped. */
  def snapshotIdAsOf(spark: SparkSession, tableDir: String,
      tsMs: Long): Option[Long] =
    snapshotTimestamps(spark, tableDir)
      .collect { case (id, Some(t)) if t <= tsMs => id }.lastOption

  private case class Snap(id: Long, listPath: String,
      summary: Option[Seq[(String, String)]] = None)

  /** Snapshots in METADATA ARRAY ORDER — the commit history order, NOT
    * sorted by id (ids may be random longs on real tables). */
  private def snapshots(spark: SparkSession, tableDir: String): Seq[Snap] =
    snapshotsOf(readMetadata(spark, tableDir), tableDir)

  private def snapshotsOf(meta: com.fasterxml.jackson.databind.JsonNode,
      tableDir: String): Seq[Snap] = {
    val arr = meta.get("snapshots")
    if (arr == null || !arr.isArray) Nil
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Snap]
      arr.forEach { n =>
        val sid = n.get("snapshot-id"); val list = n.get("manifest-list")
        if (sid != null && sid.canConvertToLong && list != null && list.isTextual) {
          val summary = Option(n.get("summary")).filter(_.isObject).map { sn =>
            val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
            sn.fields().forEachRemaining(e => buf += (e.getKey -> e.getValue.asText()))
            buf.toSeq
          }
          out += Snap(sid.asLong(), IcebergManifestSource.Relocate.meta(
            metaDir(tableDir), list.asText()), // survives a table-dir move
            summary)
        }
      }
      out.toSeq
    }
  }

  private def currentSnapshotId(spark: SparkSession, tableDir: String): Option[Long] =
    currentIdOf(readMetadata(spark, tableDir))

  private def currentIdOf(
      meta: com.fasterxml.jackson.databind.JsonNode): Option[Long] =
    Option(meta.get("current-snapshot-id"))
      .filter(_.canConvertToLong).map(_.asLong()).filter(_ != -1L)

  /** Named refs from the current metadata (name, snapshotId, type),
    * sorted by name — driver-side walk of the one refs object. */
  private def refs(spark: SparkSession, tableDir: String): Seq[(String, Long, String)] =
    refsOf(readMetadata(spark, tableDir))

  private def refsOf(meta: com.fasterxml.jackson.databind.JsonNode)
      : Seq[(String, Long, String)] = {
    val rs = meta.get("refs")
    if (rs == null || !rs.isObject) Nil
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
      rs.fields().forEachRemaining { e =>
        val sid = e.getValue.get("snapshot-id")
        if (sid != null && sid.canConvertToLong) {
          val t = e.getValue.get("type")
          val kind = if (t != null && t.isTextual) t.asText() else "branch"
          out += ((e.getKey, sid.asLong(), kind))
        }
      }
      out.sortBy(_._1).toSeq
    }
  }

  /** Where a commit's new snapshot lands: the table head (the current
    * pointer and every branch at the parent move), a staged branch (only
    * that branch moves, and its head is the parent the commit carries
    * from), or staged with nothing moving (WAP by audit id). */
  private sealed trait Target
  private case object MoveHead extends Target
  private final case class StageBranch(name: String) extends Target
  private case object StageOnly extends Target

  /** One commit attempt's view of the table, parsed ONCE from the pinned
    * metadata document ([[MetaBase]]): every state read a commit makes
    * comes from here, so the written document derives from exactly the
    * base its CAS verifies. What a verb may not need (the entry walk,
    * list rows, properties) is computed lazily, at most once. */
  private final class CommitBase(spark: SparkSession, val tableDir: String,
      target: Target = MoveHead, cap: Option[Int] = None) {
    private def conf = spark.sparkContext.hadoopConfiguration
    val meta: MetaBase = metaBase(spark, tableDir)
    val root: com.fasterxml.jackson.databind.node.ObjectNode =
      graft.Json.mapper.readTree(meta.file) match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode => o
        case other => throw new IllegalStateException(
          s"${meta.file} is not a JSON object: ${other.getNodeType}")
      }
    val snaps: Seq[Snap] = snapshotsOf(root, tableDir)
    val current: Option[Long] = currentIdOf(root)
    val refs: Seq[(String, Long, String)] = refsOf(root)
    /** The current snapshot (the history tail when no pointer is set). */
    lazy val curId: Long = current.getOrElse(snaps.last.id)
    /** The snapshot the commit builds on: the staged branch's head when
      * that branch exists (staged commits stack), else the table head. */
    lazy val parentId: Long = target match {
      case StageBranch(name) =>
        refs.collectFirst { case (`name`, id, "branch") => id }.getOrElse(curId)
      case _ => curId
    }
    private lazy val parent = snaps.find(_.id == parentId)
    lazy val listPath: Option[String] = parent.map(_.listPath)
    lazy val parentSummary: Map[String, String] =
      parent.flatMap(_.summary).getOrElse(Nil).toMap
    /** The parent's manifest-list rows ([[listRowsOf]]). */
    lazy val listRows: Seq[(String, Long, Int, Int)] =
      listPath.toSeq.flatMap(listRowsOf(conf, _))
    /** The parent's live entries as writer specs while they fit under the
      * entry cap ([[driverEntryCap]]); None past it — the producer's
      * signal to take the manifest-REUSE arm. */
    lazy val carry: Option[Seq[IcebergLayoutWriter.ManifestEntrySpec]] =
      walkEntries(conf, listRows, cap.getOrElse(driverEntryCap(spark)))
    /** The parent's DELETE-side entries — commit-count shaped, so walked
      * driver-side even past the cap. */
    lazy val deleteSide: Seq[IcebergLayoutWriter.ManifestEntrySpec] =
      carry.map(_.filter(_.content != 0)).getOrElse(
        walkEntries(conf, listRows.filter(_._3 == 1), Int.MaxValue).get)
    lazy val hasDeletes: Boolean =
      carry.fold(listRows.exists(_._3 == 1))(_.exists(_.content != 0))
    /** The new snapshot's id, doubling as its sequence number: above every
      * history id and every carried sequence (past the cap, every list-row
      * sequence bounds them). */
    lazy val newId: Long = (snaps.map(_.id) ++ carry.fold(listRows.map(_._2))(
      _.map(_.sequenceNumber.longValue))).max + 1
    /** The parent's live-entry relation — the distributed view the
      * checks past the cap run on. */
    def liveStats: org.apache.spark.sql.DataFrame =
      IcebergManifestSource.statsFromManifestSpecSeqs(spark,
        listRows.map(r => (r._1, r._2, r._4)), "t", Nil)
    /** The [[IcebergManifestSource.localPath]]s among `paths` that name
      * live data files of the parent: a carry lookup under the cap, one
      * small distributed manifest scan past it. */
    def liveDataAmong(paths: Seq[String]): Set[String] = {
      val wanted = paths.map(IcebergManifestSource.localPath).distinct
      carry match {
        case Some(c) => c.collect { case e if e.content == 0 =>
          IcebergManifestSource.localPath(e.filePath) }.toSet
          .intersect(wanted.toSet)
        case None => liveStats.filter(col("content") === 0)
          .select(IcebergManifestSource.localPath(col("file_path")).as("fp"))
          .filter(col("fp").isin(wanted: _*))
          .distinct().collect().map(_.getString(0)).toSet
      }
    }
    /** One live data file of the parent (equality-id resolution): the
      * first carried one, else streamed from the head of the first data
      * manifest — never an entry walk past the cap. */
    lazy val firstDataFile: Option[String] = carry.fold(
      firstDataFileOf(conf, listRows))(_.find(_.content == 0).map(_.filePath))

    private lazy val hasDescriptor =
      new java.io.File(tableDir, "graft-table.json").exists()
    private lazy val descriptor = descriptorProps(tableDir)
    private lazy val metaProps = metadataPropsOf(root)
    private def prop(key: String) = descriptor.get(key).orElse(metaProps.get(key))
    /** `write.format.default`: the format maintenance rewrites emit, so an
      * ORC- or AVRO-default table never flips to parquet on compaction. */
    lazy val writeFormat: String =
      graft.sources.v2.GraftFormatWriters.normalize(prop("write.format.default"))
    /** `write.delete.format.default`: Iceberg's knob for DELETE file
      * format, distinct from the data files'. */
    lazy val deleteFormat: String = graft.sources.v2.GraftFormatWriters
      .normalize(prop("write.delete.format.default"))
    /** Declared `format-version` (see [[declaredFormatVersion]]). */
    lazy val declaredFv: Option[Int] =
      (if (hasDescriptor) descriptor else metaProps).get("format-version")
        .flatMap(_.toIntOption)
    /** The declared `pushdown.fields` stat fields as (fieldId, name,
      * type-letter) — the fields rewrites harvest bounds for. */
    lazy val statFields: Seq[(Int, String, String)] =
      prop("pushdown.fields").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
        .flatMap { s =>
          s.split(':') match {
            case Array(n, id, t) if Set("long", "double", "string")(t) =>
              id.toIntOption.map(i => (i, n, t))
            case _ => None
          }
        }
    /** The v3 `next-row-id` counter (0 before row lineage). */
    lazy val nextRowId: Long = Option(root.get("next-row-id"))
      .filter(_.canConvertToLong).map(_.asLong()).getOrElse(0L)
    lazy val defaultSpecId: Int = Option(root.get("default-spec-id"))
      .filter(_.canConvertToLong).map(_.asInt()).getOrElse(0)

    /** Refuse a v3-only construct on an explicitly format-version-2
      * table. Unset tables never refuse — their stamp auto-raises with
      * the construct instead (spec upgrade semantics). */
    def requireV3(feature: String): Unit =
      if (declaredFv.contains(2))
        sys.error(s"graft-iceberg: $feature requires format-version 3, " +
          s"but $tableDir declares format-version 2 — upgrade with " +
          "ALTER TABLE ... SET TBLPROPERTIES ('format-version' = '3') " +
          "(one metadata-only commit, irreversible)")
  }

  /** Write `root` as metadata version `base.version + 1`. CREATE_NEW is
    * the commit's compare-and-swap (Iceberg Hadoop-tables semantics: the
    * rename to v(N+1) fails if the target exists). The document derives
    * ENTIRELY from v(N); atomically creating v(N+1) therefore succeeds
    * iff no other writer — same JVM or a different PROCESS — committed
    * since the base was pinned. A loser gets [[CommitConflictException]]:
    * append-shaped callers retry via [[withCommitRetry]], replace-shaped
    * callers fail loudly. Returns the new version. */
  private def casWrite(tableDir: String, base: MetaBase,
      root: com.fasterxml.jackson.databind.JsonNode, what: String): Long = {
    val m = metaDir(tableDir)
    val next = base.version + 1
    try java.nio.file.Files.write(
      new java.io.File(m, s"v$next.metadata.json").toPath,
      graft.Json.mapper
        .writerWithDefaultPrettyPrinter().writeValueAsBytes(root),
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"metadata version conflict on $tableDir ($what): base " +
            s"v${base.version} is no longer current (v$next already " +
            "exists — a concurrent writer committed first)", e)
    }
    writeHintAtomic(m, next)
    next
  }

  /** Atomically swap version-hint.text: write a temp sibling, then
    * ATOMIC_MOVE over the hint — a concurrent reader sees the old hint
    * or the new one, never a truncated/empty file (a live streaming
    * poll races commits on exactly this window). */
  private[sources] def writeHintAtomic(metaDir: java.io.File,
      version: Long): Unit = {
    val tmp = new java.io.File(metaDir, s".version-hint.$version.tmp")
    java.nio.file.Files.write(tmp.toPath, version.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(metaDir, "version-hint.text").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Bump the metadata version: READ-MODIFY-WRITE the pinned document of
    * `b` — only `current-snapshot-id`, the `snapshots` array membership
    * (each kept snapshot's ORIGINAL node survives, with its
    * timestamps/summary/whatever a real writer put there; only
    * `manifest-list` is updated when maintenance moved it), `refs`, and
    * the v3 lineage/format fields are touched. Every other field —
    * table-uuid, schemas, partition-specs, sort-orders, properties,
    * fields this code has never heard of — passes through
    * byte-for-semantics, so a table written by a real engine stays
    * readable by that engine after maintenance here. The document is
    * never re-resolved: a loser that raced must not graft its stale
    * snapshots onto the winner's fresher document. Consumes `b.root`
    * (the attempt's last step) and returns the new version. */
  private def writeMetadataVersion(b: CommitBase,
      keep: Seq[Snap], currentId: Long,
      keepRefs: Seq[(String, Long, String)],
      refRetention: Map[String, Seq[(String, Long)]] = Map.empty,
      /** v3 row lineage: `next-row-id` AFTER this commit (None = keep
        * the base document's counter untouched). */
      nextRowIdAfter: Option[Long] = None,
      /** (snapshotId → first-row-id) to stamp on the NEW snapshot's
        * node — the spec's per-snapshot assignment record. */
      snapshotFirstRowId: Option[(Long, Long)] = None,
      /** true when this commit lands a v3-only construct the lineage
        * params don't already witness (deletion-vector PUFFIN entries)
        * — forces the format-version stamp to 3. */
      v3Construct: Boolean = false): Long = {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val root = b.root
    root.put("current-snapshot-id", currentId)
    // snapshots: filter/patch the ORIGINAL nodes, in `keep` order
    val keptById = new java.util.LinkedHashMap[Long, ObjectNode]()
    val orig = root.get("snapshots")
    if (orig != null && orig.isArray) orig.forEach { n =>
      val sid = n.get("snapshot-id")
      if (sid != null && sid.canConvertToLong)
        keptById.put(sid.asLong(), n.asInstanceOf[ObjectNode])
    }
    val snapArr = root.arrayNode()
    keep.foreach { s =>
      val node = Option(keptById.get(s.id)).getOrElse(
        // a NEW snapshot: stamp its commit wall-clock (spec "Snapshots")
        // so TIMESTAMP AS OF can resolve it; existing nodes keep theirs
        root.objectNode().put("snapshot-id", s.id)
          .put("timestamp-ms", System.currentTimeMillis()))
      node.put("manifest-list", s.listPath)
      snapshotFirstRowId.foreach { case (sid, fri) =>
        if (sid == s.id) node.put("first-row-id", fri) }
      // operation + change counts for a NEW snapshot; existing nodes
      // keep whatever summary their writer recorded (pass-through rule)
      s.summary.foreach { kv =>
        if (node.get("summary") == null) {
          val sn = root.objectNode()
          kv.foreach { case (k, v) => sn.put(k, v) }
          node.set[ObjectNode]("summary", sn)
        }
      }
      snapArr.add(node)
    }
    root.set[ArrayNode]("snapshots", snapArr)
    nextRowIdAfter.foreach(v => root.put("next-row-id", v))
    // format-version fidelity: the stamp must admit the constructs the
    // document carries — 3 whenever the table records row lineage (the
    // counter or a per-snapshot assignment), the commit lands a DV, or
    // the table DECLARES 3. Never lowered: the spec's upgrade is
    // irreversible.
    val stampedFv = Option(root.get("format-version"))
      .filter(_.canConvertToInt).map(_.asInt()).getOrElse(2)
    if (stampedFv < 3 && (v3Construct || nextRowIdAfter.nonEmpty ||
        snapshotFirstRowId.nonEmpty || root.has("next-row-id") ||
        b.declaredFv.contains(3)))
      root.put("format-version", 3)
    // refs: original node per surviving name (extra fields like
    // min-snapshots-to-keep survive), target id patched when moved
    if (keepRefs.isEmpty) root.remove("refs")
    else {
      val origRefs = root.get("refs")
      val refObj = root.objectNode()
      keepRefs.foreach { case (name, id, kind) =>
        val node = Option(origRefs).map(_.get(name)).filter(_ != null)
          .collect { case o: ObjectNode => o }
          .getOrElse(root.objectNode().put("type", kind))
        node.put("snapshot-id", id)
        // retention fields declared by THIS commit (spec "Refs":
        // max-ref-age-ms, min-snapshots-to-keep, max-snapshot-age-ms);
        // refs not named here keep whatever their writer recorded
        refRetention.getOrElse(name, Nil).foreach {
          case (k, v) => node.put(k, v) }
        refObj.set[ObjectNode](name, node)
      }
      root.set[ObjectNode]("refs", refObj)
    }
    casWrite(b.tableDir, b.meta, root, "commit")
  }

  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** One lock object per table path: metadata commits from the same JVM
    * (e.g. streaming epochs racing a maintenance call in local mode)
    * serialize here, and [[commitAppend]] re-reads the base metadata
    * under the lock, so each commit stacks on the previous one instead
    * of overwriting it. Cross-JVM racers are caught by the CREATE_NEW
    * swap in [[writeMetadataVersion]]. */
  private[sources] def commitLock(tableDir: String): Object =
    commitLocks.computeIfAbsent(
      new java.io.File(tableDir).getAbsolutePath, _ => new Object)

  /** Collision-safe target for a commit-written file: the deterministic
    * name when free (the overwhelmingly common case — names are keyed by
    * a fresh snapshot id), else the first free `-rK` sibling. Why: a
    * commit attempt writes its manifests / data files BEFORE its version
    * CAS, and two processes racing the same base compute the SAME new
    * snapshot id — without this, the loser's doomed attempt would
    * overwrite the WINNER's already-committed files and the CAS failure
    * would not undo that. (Real Iceberg gets this property from UUIDs in
    * file names; deterministic-name-else-suffix keeps this layout's
    * names stable for tooling.) */
  private def freshFile(dir: java.io.File, name: String): java.io.File = {
    // createNewFile is the CLAIM, not just a probe — exists()-then-use
    // would let two processes racing the same base both observe the name
    // free and the CAS loser overwrite the winner's committed file in
    // the window between check and write. The atomic create closes it:
    // exactly one process wins each name; losers advance to -rK. The
    // claimed empty file is the claimant's to overwrite (every commit
    // writer replaces its target).
    dir.mkdirs() // a missing parent would make every create throw
    val dot = name.lastIndexOf('.')
    val (stem, ext) = name.splitAt(if (dot < 0) name.length else dot)
    (Iterator(new java.io.File(dir, name)) ++
      Iterator.from(1).map(k => new java.io.File(dir, s"$stem-r$k$ext")))
      .find(f => f.exists() match {
        case true => false
        case false => try f.createNewFile() catch {
          case _: java.io.IOException => false
        }
      }).get
  }

  /** Manifest paths referenced by a snapshot's manifest list. */
  private def manifestsOf(spark: SparkSession, s: Snap): Seq[String] =
    IcebergManifestSource.manifestPaths(
      spark.sparkContext.hadoopConfiguration, s.listPath)

  /** Expire all but the last `keepLast` snapshots (HISTORY order — the
    * metadata array, not id order): metadata version bump + physical
    * deletion of unreferenced manifest lists and manifests. Returns
    * (kept ids, deleted file count). Reachability-safe: a manifest
    * referenced by ANY surviving snapshot survives, even if an expired
    * snapshot also referenced it. The existing current-snapshot-id is
    * preserved (the CURRENT snapshot is never expired, whatever its
    * history position — a rolled-back table keeps both its pointer and
    * the snapshot it names, like Iceberg's expire_snapshots). Snapshots
    * REFERENCED BY A NAMED REF are protected too — a tag pins its
    * snapshot against expiry until the ref is dropped (Iceberg's
    * branch/tag retention contract; dropRef is the release valve).
    * `olderThanMs` (when >= 0) additionally spares any snapshot whose
    * `timestamp-ms` is at or after the cutoff — the production shape is
    * expire_snapshots(older_than => now - 7d, retain_last => 1), which
    * can never reclaim in-flight readers' recent history. */
  def expireSnapshots(spark: SparkSession, tableDir: String,
      keepLast: Int, olderThanMs: Long = -1L): (Seq[Long], Int) =
      commitLock(tableDir).synchronized {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val b = new CommitBase(spark, tableDir)
    val all = b.snaps
    val curId = b.current
    val tsOf = timestampsOf(b.root).toMap
    val nowMs = System.currentTimeMillis()
    val retention = refRetentionOf(b.root)
    // ref retention, Iceberg's expire semantics: a ref whose snapshot's
    // commit time is older than its max-ref-age-ms is DROPPED here
    // ('main' never expires); surviving BRANCHES protect their history
    // per min-snapshots-to-keep / max-snapshot-age-ms — the knobs the
    // ref DDL's RETAIN / WITH SNAPSHOT RETENTION clauses persist. Refs
    // without fields keep Iceberg's defaults: live forever, head only.
    val liveRefs = b.refs.filter { case (name, target, _) =>
      name == "main" || {
        val maxAge = retention.get(name).flatMap(_._1)
        // an un-timestamped target (older layouts) is conservatively
        // treated as never aging out
        maxAge.forall(a => tsOf.get(target).flatten.forall(nowMs - _ <= a))
      }
    }
    val refTargets = liveRefs.map(_._2).toSet
    val ids = all.map(_.id)
    val branchKeep: Set[Long] = liveRefs.flatMap {
      case (name, target, "branch") =>
        val (_, minKeep, maxSnapAge) =
          retention.getOrElse(name, (None, None, None))
        if (minKeep.isEmpty && maxSnapAge.isEmpty) Seq(target)
        else {
          // the branch's ancestry in this linear-history layout: every
          // snapshot up to and including its target, history order
          val upTo = ids.take(ids.indexOf(target) + 1)
          val byMin = upTo.takeRight(math.max(1, minKeep.getOrElse(1)))
          val byAge = maxSnapAge.map(a => upTo.filter(id =>
            tsOf.get(id).flatten.exists(nowMs - _ <= a))).getOrElse(Nil)
          byMin ++ byAge
        }
      case _ => Nil
    }.toSet
    val tail = all.takeRight(keepLast).map(_.id).toSet
    def protectedSnap(id: Long): Boolean =
      tail.contains(id) || curId.contains(id) || refTargets.contains(id) ||
        branchKeep.contains(id) ||
        (olderThanMs >= 0L &&
          tsOf.get(id).flatten.forall(_ >= olderThanMs))
    val (keep, expire) = all.partition(s => protectedSnap(s.id))
    if (expire.isEmpty && liveRefs.size == b.refs.size)
      return (keep.map(_.id), 0)
    val keepIds = keep.map(_.id).toSet
    val currentId = curId.filter(keepIds.contains).getOrElse(keep.last.id)
    val keepRefs = liveRefs.filter(r => keepIds.contains(r._2))
    val newV = writeMetadataVersion(b, keep, currentId, keepRefs)
    (keep.map(_.id), deleteExpired(spark, tableDir, keep, expire, newV))
  }

  /** Physical cleanup after an expiry commit landed as version `newV`:
    * delete the expired snapshots' lists, the manifests no surviving
    * snapshot references (reachability is computed from the survivors,
    * never assumed), and the superseded metadata versions — they still
    * REFERENCE the deleted files, so a reader resolving one (stale
    * version-hint, racing listing) would hit FileNotFoundException
    * instead of a clean miss. Single-writer assumption, like Iceberg's
    * own expire: a reader pinned to expired history races the deletion.
    * Only files THIS table owns are deleted: a zero-copy clone's
    * snapshot may reference the SOURCE's manifests by absolute path.
    * Returns the deleted file count. */
  private def deleteExpired(spark: SparkSession, tableDir: String,
      keep: Seq[Snap], expire: Seq[Snap], newV: Long): Int = {
    val reachable = keep.flatMap(manifestsOf(spark, _)).toSet
    val doomedManifests = expire.flatMap(manifestsOf(spark, _)).toSet -- reachable
    val mdPattern = "^v(\\d+)\\.metadata\\.json$".r
    val doomedMeta = Option(metaDir(tableDir).listFiles()).getOrElse(Array.empty)
      .filter(f => mdPattern.findFirstMatchIn(f.getName)
        .exists(_.group(1).toLong != newV))
      .map(_.getPath)
    (expire.map(_.listPath) ++ doomedManifests ++ doomedMeta)
      .filter(ownedByTable(tableDir, _))
      .count(p => new java.io.File(p).delete())
  }

  /** True when `p` sits inside `tableDir` — the ownership test expiry
    * uses before deleting a referenced file (by-reference clones point
    * at files the table does NOT own). */
  private def ownedByTable(tableDir: String, p: String): Boolean = {
    val root = new java.io.File(tableDir).getAbsolutePath + java.io.File.separator
    new java.io.File(IcebergManifestSource.localPath(p)).getAbsolutePath
      .startsWith(root)
  }

  /** Reachability GC — the expire flavor a FAILED write-audit-publish
    * needs: drop every snapshot that is neither the current one nor
    * named by any ref, WHEREVER it sits in history ([[expireSnapshots]]
    * keeps history suffixes, so an abandoned staged snapshot — always
    * the newest — would survive keep-last forever). Same physical
    * cleanup discipline ([[deleteExpired]]). Returns (kept ids, deleted
    * file count). */
  def expireUnreferenced(spark: SparkSession,
      tableDir: String): (Seq[Long], Int) =
      commitLock(tableDir).synchronized {
    val b = new CommitBase(spark, tableDir)
    val named = b.refs.map(_._2).toSet
    val (keep, expire) = b.snaps.partition(s =>
      b.current.contains(s.id) || named.contains(s.id))
    require(keep.nonEmpty, s"nothing reachable under $tableDir")
    if (expire.isEmpty) return (keep.map(_.id), 0)
    val newV = writeMetadataVersion(b, keep,
      b.current.getOrElse(keep.last.id), b.refs)
    (keep.map(_.id), deleteExpired(spark, tableDir, keep, expire, newV))
  }

  /** Roll the table back to `snapshotId`: write a new metadata version
    * whose current-snapshot-id names that snapshot, keeping the FULL
    * snapshot history and every ref intact (newer snapshots stay until
    * [[expireSnapshots]] removes them — rollback moves the pointer, it
    * never deletes, so it is instantly reversible). A "main" branch ref,
    * if present, follows the pointer — Iceberg's rollback semantics,
    * where main IS the current lineage. Returns the previous current
    * snapshot id. */
  def rollback(spark: SparkSession, tableDir: String,
      snapshotId: Long): Option[Long] = commitLock(tableDir).synchronized {
    withCommitRetry(tableDir) {
      val b = new CommitBase(spark, tableDir)
      require(b.snaps.exists(_.id == snapshotId),
        s"snapshot $snapshotId not in ${tableDir}'s history (${b.snaps.map(_.id)})")
      val movedRefs = b.refs.map {
        case ("main", _, kind) => ("main", snapshotId, kind)
        case r => r
      }
      writeMetadataVersion(b, b.snaps, snapshotId, movedRefs)
      b.current
    }
  }

  /** Consolidate the CURRENT snapshot's manifests into one manifest per
    * content kind (data / deletes), writing a new manifest list and a
    * new metadata version; the old small manifests of that snapshot are
    * deleted unless an older snapshot still references them. Entries are
    * copied as RAW Avro records — partitions, record_count, bounds, and
    * sequence numbers survive byte-equivalently (only status=2 DELETED
    * entries are dropped, which the reader discards anyway), so the
    * reader sees the SAME relation from fewer files. All source
    * manifests must share one entry schema (single-writer tables do).
    * Returns (manifests before, after). */
  def rewriteManifests(spark: SparkSession, tableDir: String): (Int, Int) =
      commitLock(tableDir).synchronized {
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    import org.apache.avro.mapred.FsInput
    val b = new CommitBase(spark, tableDir)
    val all = b.snaps
    require(all.nonEmpty, s"no snapshots under $tableDir")
    // the snapshot the CURRENT pointer names, not the array tail — a
    // rolled-back table rewrites what readers actually see
    val curId = b.curId
    val cur = all.find(_.id == curId).getOrElse(all.last)
    val conf = spark.sparkContext.hadoopConfiguration
    val before = manifestsOf(spark, cur)
    if (before.size <= 2) return (before.size, before.size)
    val m = metaDir(tableDir)
    // lazily-created writer per content kind, schema from the first record
    val outs = scala.collection.mutable.Map.empty[Int, (java.io.File, DataFileWriter[GenericRecord])]
    def writerFor(content: Int, schema: org.apache.avro.Schema) =
      outs.getOrElseUpdate(content, {
        val f = new java.io.File(m, s"manifest-${cur.id}-rw$content.avro")
        f.delete()
        val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
        w.create(schema, f)
        (f, w)
      })
    try {
      before.foreach { p =>
        val reader = DataFileReader.openReader(
          new FsInput(new org.apache.hadoop.fs.Path(p), conf),
          new GenericDatumReader[GenericRecord]())
        try {
          val schema = reader.getSchema
          while (reader.hasNext) {
            val e = reader.next()
            if (e.get("status").asInstanceOf[Int] != 2) {
              val df = e.get("data_file").asInstanceOf[GenericRecord]
              val content =
                if (df.getSchema.getField("content") == null) 0
                else Option(df.get("content")).fold(0)(_.asInstanceOf[Int])
              val (_, w) = writerFor(if (content == 0) 0 else 1, schema)
              w.append(e)
            }
          }
        } finally reader.close()
      }
    } finally outs.values.foreach(_._2.close())
    val newList = new java.io.File(m, s"snap-${cur.id}-rw-manifest-list.avro")
    IcebergLayoutWriter.writeManifestList(newList,
      outs.toSeq.sortBy(_._1).map { case (c, (f, _)) => (f, c) }, cur.id)
    val others = all.filterNot(_.id == cur.id)
    val stillReferenced = others.flatMap(manifestsOf(spark, _)).toSet
    val rewritten = all.map(s =>
      if (s.id == cur.id) Snap(cur.id, newList.getAbsolutePath) else s)
    writeMetadataVersion(b, rewritten, curId, b.refs)
    new java.io.File(cur.listPath).delete()
    (before.toSet -- stillReferenced).foreach(p => new java.io.File(p).delete())
    val after = manifestsOf(spark, Snap(cur.id, newList.getAbsolutePath))
    (before.size, after.size)
  }

  /** EXECUTE the compaction the metrics pipeline previews: bin-pack each
    * partition's data files with the EXACT `Pure.buildPartitionGroups`
    * semantics (ascending size, close-on-overshoot), and commit the
    * result as a NEW snapshot appended to the metadata document — old
    * snapshots stay time-travelable, delete files are carried with
    * their original sequence numbers, multi-file groups become one
    * compacted entry at the new snapshot's sequence, singleton groups
    * keep their original file untouched — every carried entry keeps its
    * full identity (format, equality ids, bounds, counts, spec id, row
    * lineage). Because the packer is shared ([[packGroups]]), the
    * executed data-file count EQUALS the simulation's `fileCountAfter`
    * for the same `maxGroupBytes` — the preview-equals-execution
    * identity, pinned in LayoutMaintenanceSpec.
    *
    * Driver state is the carried entry set (~100 B/file — the group
    * ASSIGNMENT is inherently a planning decision, same as Iceberg's own
    * rewrite_data_files planning), so the carry is bounded by
    * [[MaxDriverFileEntries]] rather than the session's entry cap.
    * Returns (newSnapshotId, dataFilesBefore, dataFilesAfter). */
  def commitCompaction(spark: SparkSession, tableDir: String,
      maxGroupBytes: Long): (Long, Int, Int) =
    produce(spark, tableDir, retry = false,
        cap = Some(MaxDriverFileEntries)) { b =>
      val carried = b.carry.getOrElse(sys.error(
        s"commitCompaction($tableDir): ${pastCeiling(b.curId)}"))
      require(carried.nonEmpty, s"current snapshot ${b.curId} has no files")
      val (data, deletes) = carried.partition(_.content == 0)
      // MOR safety: a data file some delete file may still apply to must
      // keep its IDENTITY — a position delete references the old path
      // (which would dangle after packing) and an equality delete applies
      // only to files with a strictly LOWER sequence (a compacted file's
      // new sequence would escape it). This metadata-level commit never
      // rewrites rows, so it conservatively pins every data file with
      // seq <= the newest delete file's seq and packs only newer ones —
      // visibility before == after, which the spec asserts. (A full
      // rewrite_data_files applies the deletes during the data rewrite;
      // that is `Compactor`'s territory, not this commit's.)
      val maxDeleteSeq = deletes.map(_.sequenceNumber.longValue).maxOption
        .getOrElse(Long.MinValue)
      val groups = data.filter(_.sequenceNumber.longValue > maxDeleteSeq)
        .groupBy(e => (e.specId, e.partition))
        .toSeq.sortBy { case ((sid, pv), _) =>
          (sid, pv.map { case (k, v) => s"$k=$v" }.mkString(",")) }
        .flatMap { case (_, fs) =>
          val byPath = fs.map(e => e.filePath -> e).toMap
          packGroups(fs.map(e => (e.filePath, e.sizeBytes))
              .sortBy(f => (f._2, f._1)), maxGroupBytes)
            .filter(_.size > 1).map(_.map(f => byPath(f._1)))
        }
      val after = data.size - groups.map(_.size - 1).sum
      // no-op guard: if every group is a singleton the table is already
      // packed for this cap — committing would churn a new snapshot whose
      // file set is identical (Iceberg's rewrite_data_files skips too)
      if (groups.isEmpty) (None, (b.curId, data.size, data.size))
      else {
        val compacted = groups.zipWithIndex.map { case (g, i) =>
          IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
            filePath = s"data/compact-${b.newId}-${i + 1}.parquet",
            partition = g.head.partition, recordCount = g.map(_.recordCount).sum,
            sizeBytes = g.map(_.sizeBytes).sum, specId = g.head.specId)
        }
        (Some(ChangeSet(compacted, RemovePaths(groups.flatten.map(_.filePath)),
          operation = "replace")), (b.newId, data.size, after))
      }
    }

  // ---- read accessors for [[MetadataTables]] (metadata-sized) ----

  /** (snapshotId, manifestListPath) in commit-history order. */
  private[sources] def snapshotList(spark: SparkSession,
      tableDir: String): Seq[(Long, String)] =
    snapshots(spark, tableDir).map(s => (s.id, s.listPath))

  /** (snapshotId, operation, summary key-values) per snapshot in history
    * order — the spec "Snapshots" summary each commit records (empty for
    * snapshots written before summaries existed, or by other writers). */
  def snapshotSummaries(spark: SparkSession,
      tableDir: String): Seq[(Long, String, Map[String, String])] =
    snapshots(spark, tableDir).map { s =>
      val kv = s.summary.getOrElse(Nil).toMap
      (s.id, kv.getOrElse("operation", ""), kv)
    }

  /** The current snapshot id, if the table points at one. */
  private[sources] def currentSnapshot(spark: SparkSession,
      tableDir: String): Option[Long] =
    currentSnapshotId(spark, tableDir)
      .orElse(snapshots(spark, tableDir).lastOption.map(_.id))

  /** (name, snapshotId, type) for every named ref. */
  private[sources] def refList(spark: SparkSession,
      tableDir: String): Seq[(String, Long, String)] =
    refs(spark, tableDir)

  // ---- commit primitives: the v2 WRITE path (append / upsert / WAP) ----

  private def partitionPairsOf(pk: String): Seq[(String, Any)] =
    if (pk == null || pk.isEmpty || pk == "{}") Nil
    else {
      val node = graft.Json.mapper.readTree(pk)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
      node.fields().forEachRemaining { e =>
        val v: Any = e.getValue match {
          case n if n.isInt => n.asInt()
          case n if n.isLong => n.asLong()
          case n if n.isBoolean => n.asBoolean()
          case n => n.asText()
        }
        out += ((e.getKey, v))
      }
      out.toSeq
    }

  /** Hard ceiling on driver-side file-entry state (here and in
    * [[graft.sources.v2.GraftIcebergSource]]'s scan planning): at ~100 B
    * per entry, 10M files ≈ 1 GB of driver heap — comfortably inside a
    * planning driver's budget and the same order as Iceberg's own
    * client-side rewrite planning; past it, the right design is
    * distributed manifest carry (entries stay a DataFrame end-to-end and
    * manifests are written per-partition), which this layout's writer
    * does not need at any fixture scale. The require makes the ceiling
    * explicit instead of an OOM. */
  private[sources] val MaxDriverFileEntries: Int = 10 * 1000 * 1000

  /** The effective driver-entry cap, `spark.graft.maxDriverFileEntries`
    * falling back to [[MaxDriverFileEntries]] — the ONE reading of the
    * knob, shared by the commit producer's arm choice and the scan
    * planner's per-file/manifest-granular switch. */
  private[graft] def driverEntryCap(spark: SparkSession): Int =
    spark.sessionState.conf.getConfString("spark.graft.maxDriverFileEntries",
      MaxDriverFileEntries.toString).toInt

  /** Why a driver-shaped verb refused a snapshot past the hard ceiling. */
  private def pastCeiling(snapshotId: Long): String =
    s"snapshot $snapshotId holds more than $MaxDriverFileEntries file " +
      "entries, past the driver-side planning ceiling. Every DML commit " +
      "shape has a past-the-ceiling manifest-reuse/distributed path — only " +
      "genuinely driver-shaped maintenance (compaction, clone, manifest " +
      "compaction) reaches this; run rewrite_manifests/expire first."

  /** A manifest list's rows as (path, sequence_number, content,
    * partition_spec_id) — everything a carry walk needs, one list read. */
  private def listRowsOf(conf: org.apache.hadoop.conf.Configuration,
      list: String): Seq[(String, Long, Int, Int)] =
    IcebergManifestSource.manifestListRows(conf, list)
      .map(r => (r._1, r._5, r._4, r._3))

  /** The live entries of the manifests in `rows` ([[listRowsOf]]) as
    * writer specs — identity carry: path/content/partition/record-count/
    * size/SEQUENCE, bounds, counts, format, equality ids and row lineage
    * survive verbatim, so a commit on top never disturbs delete
    * visibility or file skipping for pre-existing files. A driver-side manifest walk (the real
    * Iceberg-client shape — no Spark job per commit). None once the walk
    * passes `cap` entries. */
  private def walkEntries(conf: org.apache.hadoop.conf.Configuration,
      rows: Seq[(String, Long, Int, Int)], cap: Int)
      : Option[Seq[IcebergLayoutWriter.ManifestEntrySpec]] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[IcebergLayoutWriter.ManifestEntrySpec]
    val it = rows.iterator.flatMap { case (p, seq, _, specId) =>
      IcebergManifestSource.readManifestStats(p, conf, seq)
        .map(specFromStats(_, specId)) }
    while (it.hasNext) {
      val e = it.next()
      if (out.size >= cap) return None
      out += e
    }
    Some(out.toSeq)
  }

  /** One manifest entry's identity-carry spec — the shared mapping every
    * carry path (driver walk, delete-side walk, distributed rewrite
    * tasks) uses, so no path can disagree about what survives a commit.
    * The spec id rides on the manifest-list row: a commit after
    * partition-spec evolution re-files old entries under their ORIGINAL
    * spec (spec "Partition Evolution"). */
  private def specFromStats(s: IcebergManifestSource.ManifestStats,
      specId: Int): IcebergLayoutWriter.ManifestEntrySpec =
    IcebergLayoutWriter.ManifestEntrySpec(status = 1,
      content = s.content, filePath = s.filePath,
      partition = partitionPairsOf(s.partitionKey),
      recordCount = s.recordCount, sizeBytes = s.sizeBytes,
      sequenceNumber = s.sequenceNumber,
      lower = s.lower, upper = s.upper,
      valueCounts = s.valueCounts, nullValueCounts = s.nullValueCounts,
      nanValueCounts = s.nanValueCounts, columnSizes = s.columnSizes,
      equalityIds = s.equalityIds,
      fileFormat = s.fileFormat,
      sortOrderId = s.sortOrderId.map(Int.box).orNull,
      specId = specId,
      firstRowId = s.firstRowId.map(Long.box).orNull)

  /** ONE live data-file path of a snapshot, streamed from the head of its
    * first data manifest — O(1) instead of O(files). */
  private[sources] def firstDataFilePath(spark: SparkSession,
      tableDir: String, snapshotId: Long): Option[String] =
    IcebergManifestSource.resolveManifestList(spark, tableDir, Some(snapshotId))
      .flatMap { l =>
        val conf = spark.sparkContext.hadoopConfiguration
        firstDataFileOf(conf, listRowsOf(conf, l))
      }

  private def firstDataFileOf(conf: org.apache.hadoop.conf.Configuration,
      rows: Seq[(String, Long, Int, Int)]): Option[String] =
    rows.filter(_._3 == 0).iterator.flatMap { case (p, seq, _, _) =>
      IcebergManifestSource.readManifestStats(p, conf, seq)
        .find(_.content == 0).map(_.filePath) }.nextOption()

  /** The table's v3 `next-row-id` counter (0 when the metadata predates
    * row lineage — existing files then read `_row_id` as null until a
    * lineage-assigning commit touches them, the spec's upgrade rule). */
  def nextRowId(spark: SparkSession, tableDir: String): Long =
    Option(readMetadata(spark, tableDir).get("next-row-id"))
      .filter(_.canConvertToLong).map(_.asLong()).getOrElse(0L)

  // ---- the snapshot producer ----

  /** What a commit removes from its parent snapshot's entries. */
  private sealed trait Removal
  /** Nothing: files and/or tombstones land on top. */
  private case object KeepAll extends Removal
  /** A delete-side keep filter: every data entry survives, a carried
    * DELETE entry survives iff `keep` holds (the DV supersede fold,
    * position-delete consolidation, eq→pos conversion). */
  private final case class KeepDeletes(
      keep: IcebergLayoutWriter.ManifestEntrySpec => Boolean) extends Removal
  /** Data files by path — each must be live in the parent, or the
    * commit fails as a concurrent-commit conflict (Iceberg's
    * validation). `dropDeletes` retires every delete entry too. */
  private final case class RemovePaths(paths: Seq[String],
      dropDeletes: Boolean = false) extends Removal
  /** Data files whose partition values are in `touched`. */
  private final case class RemovePartitions(
      touched: Set[Map[String, String]]) extends Removal
  /** Everything: the snapshot holds exactly the added entries. */
  private case object RemoveAll extends Removal

  /** One verb's change to its parent snapshot: the entries it added (its
    * files are already written), what it removes, the summary operation
    * plus any extra summary entries, and a hook that runs once the CAS
    * has landed. */
  private final case class ChangeSet(
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      removal: Removal = KeepAll,
      operation: String = "append",
      extraSummary: Seq[(String, String)] = Nil,
      afterCommit: () => Unit = () => ())

  /** THE snapshot producer: under the table lock, pin a [[CommitBase]],
    * let `plan` write its files and return its change (None = nothing to
    * commit) and result, then commit the change. `retry` is for
    * APPEND-shaped verbs only ([[withCommitRetry]] re-runs the whole
    * attempt against the new base); replace-shaped verbs let a lost race
    * fail the statement. `target` names where the snapshot lands and
    * which snapshot it carries from; `cap` overrides the entry cap for
    * planning-shaped verbs. */
  private def produce[R](spark: SparkSession, tableDir: String,
      retry: Boolean, target: Target = MoveHead, cap: Option[Int] = None)(
      plan: CommitBase => (Option[ChangeSet], R)): R =
    commitLock(tableDir).synchronized {
      def attempt(): R = {
        val b = new CommitBase(spark, tableDir, target, cap)
        require(b.snaps.nonEmpty, s"no snapshots under $tableDir")
        val (change, result) = plan(b)
        change.foreach { c =>
          commitChange(spark, b, target, c)
          c.afterCommit()
        }
        result
      }
      if (retry) withCommitRetry(tableDir)(attempt()) else attempt()
    }

  /** What the REUSE arm does to the parent's manifest list: rows to
    * retire, task-rewritten manifests to reference, delete entries to
    * re-file, and the removed counts the summary totals subtract. */
  private final case class ListEdit(
      drop: Set[String] = Set.empty,
      rewritten: Seq[(java.io.File, Int, Int)] = Nil,
      refiled: Seq[IcebergLayoutWriter.ManifestEntrySpec] = Nil,
      removedData: Long = 0L, removedRecords: Long = 0L,
      removedDeletes: Long = 0L)

  /** Commit `c` on `b`: stamp the added entries (sequence = the new id,
    * unset spec ids → the default spec, row ids from the lineage
    * counter), gate deletion vectors, write manifests + list + summary on
    * the driver-walk arm (the carry fits under the cap, or nothing is
    * carried) or the reuse arm (past it), move refs, CAS. */
  private def commitChange(spark: SparkSession, b: CommitBase,
      target: Target, c: ChangeSet): Unit = {
    val newId = b.newId
    // deletion vectors are v3-only: refuse on an explicitly-v2 table,
    // stamp 3 otherwise (DV-only commits add no data rows, so the
    // lineage params alone would not witness the construct)
    val addsDv = c.added.exists(_.fileFormat == "PUFFIN")
    if (addsDv) b.requireV3("deletion vectors")
    val (added, firstRowId, nextRowIdAfter) = assignRowIds(b,
      c.added.map(e => e.copy(sequenceNumber = newId,
        specId = if (e.specId < 0) b.defaultSpecId else e.specId)))
    val m = metaDir(b.tableDir)
    // a manifest is homogeneous in partition SHAPE (the writer derives
    // the Avro partition record from its first entry) AND in spec id
    // (the list row carries ONE partition_spec_id) — entries spanning
    // shapes or an evolved spec history split accordingly
    def writeManifests(es: Seq[IcebergLayoutWriter.ManifestEntrySpec]) =
      es.groupBy(e =>
          (if (e.content == 0) 0 else 1, e.specId, e.partition.map(_._1)))
        .toSeq.sortBy { case ((ct, sid, names), _) => (ct, sid, names.mkString(",")) }
        .zipWithIndex.map { case (((ct, sid, _), group), i) =>
          val f = freshFile(m, s"manifest-$newId-$ct-s$sid-g$i.avro")
          IcebergLayoutWriter.writeManifest(f, group)
          (f, ct, sid)
        }
    val addedData = added.filter(_.content == 0)
    val addedRecords = addedData.map(_.recordCount).sum
    val addedDeletes = (added.size - addedData.size).toLong
    val walked = if (c.removal == RemoveAll) Some(Nil) else b.carry
    val (newList, totals) = walked match {
      case Some(carried) =>
        // DRIVER-WALK arm: a fresh list over kept ++ added; totals exact
        val entries = keptEntries(b, carried, c.removal) ++ added
        val manifests = writeManifests(entries)
        val list = freshFile(m, s"snap-$newId-manifest-list.avro")
        IcebergLayoutWriter.writeManifestListSpecs(list, manifests, newId)
        val data = entries.filter(_.content == 0)
        (list, Seq("total-data-files" -> data.size.toLong,
          "total-records" -> data.map(_.recordCount).sum,
          "total-delete-files" -> (entries.size - data.size).toLong))
      case None =>
        // REUSE arm: untouched manifests ride verbatim in a filtered copy
        // of the parent's list; totals extend the parent summary's by the
        // change's deltas when it carries them, else are omitted rather
        // than guessed
        val edit = listEdit(spark, b, c.removal)
        val manifests = edit.rewritten ++ writeManifests(added ++ edit.refiled)
        val list = freshFile(m, s"snap-$newId-manifest-list.avro")
        IcebergLayoutWriter.filterManifestList(list,
          new java.io.File(b.listPath.get), edit.drop, manifests, newId)
        def tot(key: String, delta: Long) = b.parentSummary.get(key)
          .flatMap(_.toLongOption).map(p => key -> (p + delta)).toSeq
        (list, tot("total-data-files", addedData.size - edit.removedData) ++
          tot("total-records", addedRecords - edit.removedRecords) ++
          tot("total-delete-files",
            addedDeletes + edit.refiled.size - edit.removedDeletes))
    }
    // spec "Snapshots": every snapshot records its operation plus change
    // counts — what `snapshots` metadata-table consumers and commit
    // auditors read without touching manifests
    val summary = Seq("operation" -> c.operation,
      "added-data-files" -> addedData.size.toString,
      "added-records" -> addedRecords.toString,
      "added-delete-files" -> addedDeletes.toString) ++
      totals.map { case (k, v) => k -> v.toString } ++ c.extraSummary
    val (currentAfter, refsAfter) = target match {
      case MoveHead => (newId, b.refs.map {
        case (name, id, "branch") if id == b.parentId => (name, newId, "branch")
        case other => other
      })
      case StageBranch(name) => (b.curId,
        (b.refs.filterNot(_._1 == name) :+ ((name, newId, "branch"))).sortBy(_._1))
      case StageOnly => (b.curId, b.refs)
    }
    writeMetadataVersion(b,
      b.snaps :+ Snap(newId, newList.getAbsolutePath, Some(summary)),
      currentAfter, refsAfter,
      nextRowIdAfter = nextRowIdAfter,
      snapshotFirstRowId = firstRowId.map(newId -> _),
      v3Construct = addsDv)
  }

  /** The driver-walk arm's surviving carried entries. */
  private def keptEntries(b: CommitBase,
      carried: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      removal: Removal): Seq[IcebergLayoutWriter.ManifestEntrySpec] =
    removal match {
      case KeepAll => carried
      case KeepDeletes(keep) => carried.filter(e => e.content == 0 || keep(e))
      case RemovePaths(paths, dropDeletes) =>
        val removed = paths.map(IcebergManifestSource.localPath).toSet
        requireLive(b, removed, carried.collect { case e if e.content == 0 =>
          IcebergManifestSource.localPath(e.filePath) }.toSet)
        carried.filter(e =>
          if (e.content == 0) !removed(IcebergManifestSource.localPath(e.filePath))
          else !dropDeletes)
      case RemovePartitions(touched) =>
        // a data file WITHOUT recorded partition values can never match
        // the predicate, yet may hold touched partitions' rows — silently
        // retaining it would corrupt the overwrite, silently dropping it
        // would lose its OTHER partitions' rows. Refuse loudly.
        val blind = carried.filter(e => e.content == 0 && e.partition.isEmpty)
        require(blind.isEmpty,
          s"commitReplacePartitions(${b.tableDir}): data files without " +
            s"recorded partition values (${blind.take(3).map(_.filePath)
              .mkString(", ")}) cannot be partition-matched; rewrite " +
            "them with a partition-preserving compaction first")
        carried.filter(e =>
          e.content != 0 || !touched(canonPartition(e.partition)))
      case RemoveAll => Nil
    }

  /** OCC validation (Iceberg's commit-conflict semantics): every file a
    * replace removes must still be live in its base. A concurrent commit
    * that already replaced one would make the swap resurrect or
    * duplicate rows — the statement fails and re-runs instead. */
  private def requireLive(b: CommitBase, removed: Set[String],
      live: Set[String]): Unit = {
    val gone = removed.filterNot(live)
    require(gone.isEmpty,
      s"commitReplaceFiles(${b.tableDir}): concurrent commit conflict — " +
        s"scanned files no longer in snapshot ${b.parentId}: " +
        s"${gone.take(3).mkString(", ")}")
  }

  /** The reuse arm's list edit for `removal`. Delete-side filters re-file
    * the (small, commit-count shaped) delete side when they drop an
    * entry. Data-side removal is the distributed manifest carry real
    * Iceberg gets from its manifest-rewrite machinery: one task per DATA
    * manifest classifies it against the (broadcast, change-set-sized)
    * removed set; untouched manifests stay referenced VERBATIM, touched
    * ones are rewritten in the task minus their removed entries (via the
    * shared [[specFromStats]] mapping). The driver handles manifest-count
    * rows and the KB-sized list — never a per-file entry. */
  private def listEdit(spark: SparkSession, b: CommitBase,
      removal: Removal): ListEdit = {
    def deleteManifests = b.listRows.filter(_._3 == 1).map(_._1).toSet
    removal match {
      case KeepAll | RemoveAll => ListEdit()
      case KeepDeletes(keep) =>
        val kept = b.deleteSide.filter(keep)
        if (kept.size == b.deleteSide.size) ListEdit()
        else ListEdit(drop = deleteManifests, refiled = kept,
          removedDeletes = b.deleteSide.size.toLong)
      case RemovePaths(_, _) | RemovePartitions(_) =>
        val (removedNorm, touched, dropDeletes) = removal match {
          case RemovePaths(ps, dd) =>
            (ps.map(IcebergManifestSource.localPath).toSet, None, dd)
          case RemovePartitions(t) => (Set.empty[String], Some(t), false)
          case _ => (Set.empty[String], None, false)
        }
        val dataRows = b.listRows.filter(_._3 == 0)
        val sconf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        val metaDirPath = metaDir(b.tableDir).getAbsolutePath
        val newId = b.newId
        val removedB = spark.sparkContext.broadcast(removedNorm)
        val partB = spark.sparkContext.broadcast(touched)
        val par = math.max(1, math.min(dataRows.size,
          spark.sparkContext.defaultParallelism))
        // (srcPath, reusedVerbatim, rewrittenPathOrNull, specId,
        //  foundRemovedPaths, removedRecords)
        val results = spark.sparkContext
          .parallelize(dataRows.zipWithIndex, par)
          .map { case ((p, seq, _, specId), idx) =>
            val entries = IcebergManifestSource
              .readManifestStats(p, sconf.value, seq)
              .map(s => specFromStats(s, specId)).toSeq
            val pf = partB.value
            // partition mode: a pval-less data file is un-matchable —
            // surface it so the driver refuses (same contract as the
            // driver-walk arm)
            if (pf.isDefined && entries.exists(_.partition.isEmpty))
              sys.error(
                s"commitReplacePartitions: manifest $p holds data files " +
                  "without recorded partition values; rewrite them with " +
                  "a partition-preserving compaction first")
            val (hit, survivors) = entries.partition(e => pf match {
              case Some(t) => t(canonPartition(e.partition))
              case None =>
                removedB.value(IcebergManifestSource.localPath(e.filePath))
            })
            if (hit.isEmpty) (p, true, null: String, specId,
              Seq.empty[String], 0L)
            else {
              val out =
                if (survivors.isEmpty) null
                else {
                  val f = new java.io.File(metaDirPath,
                    s"manifest-$newId-rw-$idx.avro")
                  IcebergLayoutWriter.writeManifest(f, survivors)
                  f.getAbsolutePath
                }
              (p, false, out, specId,
                hit.map(e => IcebergManifestSource.localPath(e.filePath)),
                hit.map(_.recordCount).sum)
            }
          }.collect().toSeq
        removedB.destroy(); partB.destroy()
        // a PARTITION-predicate replace has no expected path set — its
        // removal derives from this base by construction, and the CAS
        // catches racers
        if (touched.isEmpty)
          requireLive(b, removedNorm, results.flatMap(_._5).toSet)
        ListEdit(
          drop = results.filterNot(_._2).map(_._1).toSet ++
            (if (dropDeletes) deleteManifests else Set.empty[String]),
          rewritten = results.collect { case (_, false, np, sid, _, _)
            if np != null => (new java.io.File(np), 0, sid) },
          removedData = results.map(_._5.size.toLong).sum,
          removedRecords = results.map(_._6).sum,
          removedDeletes =
            if (dropDeletes) b.deleteSide.size.toLong else 0L)
    }
  }

  /** v3 row lineage assignment: stamp `first_row_id` on the commit's new
    * data entries not already stamped by a lineage-preserving writer,
    * sequentially by record count from the table's `next-row-id`
    * counter. Returns (stamped entries, snapshot first-row-id,
    * next-row-id after) — the Nones when the commit adds no data rows.
    * Row lineage is a v3-only construct: an explicitly-v2 table never
    * assigns it (_row_id reads null — the v2 contract), and its metadata
    * stays stamped 2. */
  private def assignRowIds(b: CommitBase,
      entries: Seq[IcebergLayoutWriter.ManifestEntrySpec])
      : (Seq[IcebergLayoutWriter.ManifestEntrySpec], Option[Long], Option[Long]) = {
    if (b.declaredFv.contains(2)) return (entries, None, None)
    val start = b.nextRowId
    var cur = start
    val stamped = entries.map { e =>
      if (e.content == 0 && e.firstRowId == null) {
        val s = e.copy(firstRowId = Long.box(cur)); cur += e.recordCount; s
      } else e
    }
    if (cur == start) (entries, None, None)
    else (stamped, Some(start), Some(cur))
  }

  /** 1-based field ids of `keyCols` in the table's data schema,
    * resolved from the header of the live data file `dataPath` (the
    * dialect's positional field-id convention). Nil when the table has
    * no data file to resolve against. Written into eq-delete manifest
    * entries as the spec's `equality_ids`, so readers apply the
    * tombstones with no out-of-band key list. */
  private def keyFieldIds(dataPath: Option[String],
      keyCols: Seq[String]): Seq[Int] =
    dataPath.toSeq.flatMap { p =>
      val names = dataFileFieldNames(p)
      keyCols.map { k =>
        val i = names.indexOf(k)
        require(i >= 0,
          s"keyFieldIds: column $k not in data file $p (${names.mkString(",")})")
        i + 1
      }
    }

  /** Top-level column names of one data file, resolved from ITS OWN
    * header — any of the three spec formats (`write.format.default`
    * writes all of them from SQL, so a resolution probe cannot assume
    * parquet). */
  private def dataFileFieldNames(p: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (p.endsWith(".orc")) {
      val r = org.apache.orc.OrcFile.createReader(
        new org.apache.hadoop.fs.Path(p),
        org.apache.orc.OrcFile.readerOptions(
          new org.apache.hadoop.conf.Configuration()))
      try r.getSchema.getFieldNames.asScala.toSeq finally r.close()
    } else if (p.endsWith(".avro")) {
      val r = new org.apache.avro.file.DataFileReader[
        org.apache.avro.generic.GenericRecord](new java.io.File(p),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try r.getSchema.getFields.asScala.toSeq.map(_.name) finally r.close()
    } else {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val schema = try r.getFooter.getFileMetaData.getSchema finally r.close()
      schema.getFields.asScala.toSeq.map(_.getName)
    }
  }

  /** Write `rows` as ONE data file `<stem>-<newId>` in the table's
    * `write.format.default`, its entry carrying the declared stat
    * fields' harvested bounds. */
  private def dataEntry(b: CommitBase, rows: org.apache.spark.sql.DataFrame,
      stem: String): IcebergLayoutWriter.ManifestEntrySpec = {
    val f = freshFile(new java.io.File(b.tableDir, "data"), s"$stem-${b.newId}." +
      graft.sources.v2.GraftFormatWriters.extensionOf(b.writeFormat))
    val n = IcebergLayoutWriter.writeSingleData(rows, f, b.writeFormat)
    withHarvestedBounds(Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
      content = 0, filePath = f.getAbsolutePath, recordCount = n,
      sizeBytes = f.length(), fileFormat = b.writeFormat.toUpperCase)),
      b.writeFormat, b.statFields).head
  }

  /** Write ONE equality-delete file of the distinct `keyCols` of `keys`
    * (sorted) in the table's `write.delete.format.default` — Iceberg keys
    * ALL delete-file formats off that property — with its
    * `equality_ids` resolved from `idProbe`, a live data file. */
  private def eqDeleteEntry(b: CommitBase, keys: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      idProbe: Option[String]): IcebergLayoutWriter.ManifestEntrySpec = {
    val f = freshFile(new java.io.File(b.tableDir, "data"), s"eqdel-${b.newId}." +
      graft.sources.v2.GraftFormatWriters.extensionOf(b.deleteFormat))
    val n = IcebergLayoutWriter.writeSingleData(keys.select(keyCols.map(col): _*)
      .distinct().sort(keyCols.map(col): _*), f, b.deleteFormat)
    IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 2,
      filePath = f.getAbsolutePath, recordCount = n, sizeBytes = f.length(),
      fileFormat = b.deleteFormat.toUpperCase,
      equalityIds = keyFieldIds(idProbe, keyCols))
  }

  /** MERGE-style upsert commit — the Iceberg v2 merge-on-read WRITE path
    * (spec "Row-level deletes"; the write twin of [[MorRead.readTable]]):
    * ONE new data file holding the upserted rows (sorted by `keyCols`, so
    * positions are deterministic) plus ONE equality-delete file listing
    * the distinct update keys, both at a sequence number above every
    * existing entry. The spec's strict-< equality-delete visibility makes
    * this exactly MERGE: old versions of updated keys (strictly lower
    * sequence) die, the new file (same sequence as the tombstones)
    * survives, and never-seen keys are pure inserts whose tombstones
    * match nothing. Branch refs pointing at the old head fast-forward,
    * exactly like a real commit moves `main`. Data the size of the
    * UPDATE SET moves; the table's existing files are carried by
    * identity — at 100 TB an upsert costs O(updates), not O(table).
    * Returns (newSnapshotId, upsertedRowCount). */
  def commitUpsert(spark: SparkSession, tableDir: String,
      updates: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): (Long, Long) = {
    require(keyCols.nonEmpty, "commitUpsert needs at least one key column")
    produce(spark, tableDir, retry = true) { b =>
      val up = dataEntry(b, updates.sort(keyCols.map(col): _*), "upsert")
      val ed = eqDeleteEntry(b, updates, keyCols,
        b.firstDataFile.orElse(Some(up.filePath)))
      (Some(ChangeSet(Seq(up, ed), operation = "overwrite")),
        (b.newId, up.recordCount))
    }
  }

  /** APPEND commit: add already-written data files as a new snapshot on
    * top of the current one (the connector write path's commit step —
    * [[graft.sources.v2.GraftIcebergSource]]'s BatchWrite calls this
    * from its driver-side commit()). If the table has no metadata yet,
    * the commit CREATES it (snapshot 1). Entries' sequence numbers are
    * stamped here. Returns the new snapshot id. */
  def commitAppend(spark: SparkSession, tableDir: String,
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      partitionSpec: Seq[(String, String, Int)] = Nil,
      sortOrder: Seq[(Int, String, String, String)] = Nil,
      afterPlan: () => Unit = () => ()): Long =
      commitLock(tableDir).synchronized {
    val hasMeta = new java.io.File(metaDir(tableDir), "version-hint.text").exists() ||
      Option(metaDir(tableDir).listFiles()).exists(_.exists(
        _.getName.endsWith(".metadata.json")))
    if (!hasMeta) {
      // first write creates the table; a declared partition spec (from
      // the catalog descriptor or the write path) is born with it and
      // carried verbatim by every later metadata version — likewise the
      // declared sort order ("sort-orders" + default-sort-order-id).
      // format-version honors the declared property: an explicitly-v2
      // table is born WITHOUT row lineage (a v3 construct) and stamped
      // 2; otherwise lineage assigns and the stamp says 3.
      val declaredFv = declaredFormatVersion(spark, tableDir)
      IcebergLayoutWriter.writeTable(new java.io.File(tableDir),
        added.map(_.copy(sequenceNumber = 1L)),
        partitionSpec = partitionSpec,
        sortOrder = sortOrder,
        assignRowIds = !declaredFv.contains(2),
        formatVersion = declaredFv.getOrElse(2))
      1L
    } else produce(spark, tableDir, retry = true) { b =>
      val newId = b.newId
      // OCC test seam: fires between this commit's state reads and its
      // version swap — a hook that itself commits forces the exact
      // cross-process interleaving the CAS+retry protocol exists for
      // (same-thread reentry through the JVM lock keeps it
      // deterministic)
      afterPlan()
      (Some(ChangeSet(added)), newId)
    }
  }

  /** Zero-copy table CLONE (Iceberg's `snapshot` procedure): the target
    * is born with ONE snapshot referencing the SOURCE's current live
    * files in place — no data movement, cost = one driver-side manifest
    * walk. Per-entry sequence numbers are PRESERVED, so merge-on-read
    * tombstone visibility (equality strict-<, position <=) replays
    * identically in the clone; the clone's snapshot id is the source's
    * current id, which bounds every carried sequence, so later clone
    * commits allocate above all of them. Source and clone share data
    * files but nothing else — commits diverge freely from here.
    * Multi-spec sources are refused (carried entries do not record
    * their spec id, so a single-spec clone could misinterpret old
    * partition values); differing partition SHAPES under the one spec
    * split into per-shape manifests. CAVEAT (same as real Iceberg
    * snapshot tables): remove_orphan_files on the SOURCE cannot see the
    * clone's references — never point GC at a snapshotted source's
    * files. Returns (cloneSnapshotId, carriedFileCount). */
  def snapshotTable(spark: SparkSession, srcDir: String,
      dstDir: String): (Long, Int) = commitLock(dstDir).synchronized {
    val dstMeta = new java.io.File(metaDir(dstDir), "version-hint.text")
    require(!dstMeta.exists() &&
      !Option(metaDir(dstDir).listFiles()).exists(_.exists(
        _.getName.endsWith(".metadata.json"))),
      s"snapshotTable: target $dstDir already has table metadata")
    // the SOURCE, read from one pinned document like a commit base
    val src = new CommitBase(spark, srcDir)
    require(src.snaps.nonEmpty, s"snapshotTable($srcDir): source has no snapshots")
    val cur = src.curId
    val (defId, allSpecs) = IcebergManifestSource.partitionSpecsOf(src.root)
    val maxSpecId = allSpecs.map(_._1).maxOption.getOrElse(-1)
    require(maxSpecId < 0 ||
      (allSpecs.map(_._1).sorted == (0 to maxSpecId) && defId == maxSpecId),
      s"snapshotTable($srcDir): spec-evolved source has non-contiguous " +
        s"spec ids or a non-latest default (ids ${allSpecs.map(_._1)}, " +
        s"default $defId) — rewrite_data_files it first")
    val specsForClone =
      if (maxSpecId < 0) Nil
      else (0 to maxSpecId).map(id =>
        allSpecs.find(_._1 == id).map(_._2).getOrElse(Nil))
    src.carry match {
      case Some(raw) =>
        // manifests store paths the SOURCE resolves; make them absolute
        // so the clone (a different root) still points at the same bytes
        val entries = raw.map { e =>
          val abs =
            if (e.filePath.startsWith("/") || e.filePath.contains(":/"))
              e.filePath
            else new java.io.File(srcDir, e.filePath).getAbsolutePath
          e.copy(filePath = abs)
        }
        // one manifest per partition SHAPE (manifestRecords derives its
        // Avro schema from the first entry, so shapes must not mix in a
        // manifest); per-entry spec ids carried by the walk split
        // further inside writeTableSnapshots' (content, specId, group)
        // manifests
        val shapes = entries.map(_.partition.map(_._1))
          .distinct.zipWithIndex.toMap
        val shaped = entries.map(e =>
          e.copy(manifestGroup = shapes(e.partition.map(_._1))))
        IcebergLayoutWriter.writeTableSnapshots(new java.io.File(dstDir),
          Seq(cur -> shaped),
          partitionSpecs = specsForClone,
          sortOrder = IcebergManifestSource.sortOrder(spark, srcDir))
        (cur, shaped.size)
      case None =>
        // past the driver ceiling: BY-REFERENCE clone — the clone's one
        // snapshot is a verbatim (path-absolutized) COPY of the source's
        // manifest list, so no entry is ever materialized and the clone
        // costs one KB-sized list copy. The source's manifests resolve
        // their relative data paths against the SOURCE root (manifest
        // location drives resolution), so the bytes are shared exactly
        // like the driver-walk clone; expiry on the clone never deletes
        // files it does not own (ownedByTable guards both expire paths).
        IcebergLayoutWriter.writeTableFromList(new java.io.File(dstDir),
          cur, new java.io.File(src.listPath.get),
          partitionSpecs = specsForClone,
          sortOrder = IcebergManifestSource.sortOrder(spark, srcDir),
          // the clone references the source's manifests verbatim — its
          // feature level (row lineage, DVs) carries over with them
          formatVersion = Option(src.root.get("format-version"))
            .filter(_.canConvertToInt).map(_.asInt()).getOrElse(2))
        val files = IcebergManifestSource
          .statsFromTableDir(spark, dstDir, "t", Nil).count().toInt
        (cur, files)
    }
  }

  /** CDC MERGE commit — one commit applying a mixed change set (the
    * batch twin of a streaming CDC sink): every change key gets an
    * equality tombstone (killing its prior version, strict-<), and only
    * non-delete rows land in the new data file. `opCol` marks deletes
    * with value "D"; all other rows are upserts. ONE data file + ONE
    * delete file regardless of the mix — the commit costs O(change
    * set). Assumes one change row per key (a compacted CDC batch —
    * [[graft.operators.CdcOps.latestWins]] produces exactly that).
    * Returns (newSnapshotId, nUpserts, nDeletes = keys − upserts). */
  def commitMerge(spark: SparkSession, tableDir: String,
      changes: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
      opCol: String): (Long, Long, Long) = {
    require(keyCols.nonEmpty, "commitMerge needs at least one key column")
    produce(spark, tableDir, retry = true) { b =>
      val up = dataEntry(b, changes.filter(col(opCol) =!= "D").drop(opCol)
        .sort(keyCols.map(col): _*), "merge")
      val ed = eqDeleteEntry(b, changes, keyCols,
        b.firstDataFile.orElse(Some(up.filePath)))
      (Some(ChangeSet(Seq(up, ed), operation = "overwrite")),
        (b.newId, up.recordCount, ed.recordCount - up.recordCount))
    }
  }

  /** DELETE commit: an equality-delete file on `keyCols` with NO
    * replacement rows — together with [[commitUpsert]] this closes CRUD
    * over the layout. Same sequence discipline (tombstones land strictly
    * above every live file). Returns (newSnapshotId, nDeleteKeys). */
  def commitDelete(spark: SparkSession, tableDir: String,
      deleteKeys: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): (Long, Long) = {
    require(keyCols.nonEmpty, "commitDelete needs at least one key column")
    produce(spark, tableDir, retry = true) { b =>
      val ed = eqDeleteEntry(b, deleteKeys, keyCols, b.firstDataFile)
      (Some(ChangeSet(Seq(ed), operation = "delete")), (b.newId, ed.recordCount))
    }
  }

  /** Position-style deletes require a row ordinal. ORC files whose rows
    * match the predicate read with real ordinals via
    * [[MorRead.orcFilesMatching]] + [[OrcPosRead]], so this guard is
    * normally unreachable — it stays as the BACKSTOP: a tombstone/DV
    * write that let a NULL position through would COMMIT, and later MOR
    * reads would silently keep the row the user deleted. Shared by the
    * parquet-tombstone and deletion-vector delete paths: refuse at the
    * WRITE. */
  private def requireOrdinals(hitRows: Array[org.apache.spark.sql.Row],
      op: String, tableDir: String): Unit = {
    val ordinalless = hitRows.filter(_.isNullAt(1)).map(_.getString(0))
    require(ordinalless.isEmpty,
      s"$op($tableDir): matched rows in " +
        s"${ordinalless.distinct.take(3).mkString(", ")} have no row " +
        "ordinal (ORC data files) — position-style deletes cannot apply; " +
        "use equality deletes or rewrite the files to parquet")
  }

  /** The (file_path, pos) pairs `predicate` matches in the current
    * state, read WITH row lineage ([[MorRead.readTableLineage]]) —
    * reject-sized by contract, collected once so the ordinal-less
    * backstop fires BEFORE any tombstone byte is written. ORC files
    * with matches are prefiltered so exactly they read with real row
    * ordinals ([[OrcPosRead]]). */
  private def matchedPositions(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column, eqKeys: Seq[String],
      renames: Map[String, Seq[String]],
      dataSchema: Option[org.apache.spark.sql.types.StructType],
      op: String): Seq[(String, Long)] = {
    val hitRows = MorRead
      .readTableLineage(spark, tableDir, eqKeys, renames, dataSchema,
        orcPosPaths = MorRead.orcFilesMatching(spark, tableDir, predicate))
      .filter(predicate)
      .select(col("file_path"), col("pos"))
      .collect()
    requireOrdinals(hitRows, op, tableDir)
    hitRows.map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** One MERGE-ON-READ delta commit: task-written data files (content=0)
    * and position-delete files (content=1) land together in ONE snapshot
    * at a fresh sequence number, previous entries carried verbatim —
    * the commit behind [[graft.sources.v2.GraftDeltaBatchWrite]] (SQL
    * UPDATE/MERGE/DELETE under write.<command>.mode = merge-on-read).
    * Position visibility (data_seq <= delete_seq) lets the tombstones
    * hit the pre-existing files they address; the new data files share
    * the sequence but no tombstone references their paths. Task DVs fold
    * with live ones through [[dvChange]]. Append-shaped (nothing removed
    * but superseded vectors), so a lost CAS race retries. Returns the
    * new snapshot id. */
  def commitDeltaFiles(spark: SparkSession, tableDir: String,
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      referencedDataFiles: Seq[String] = Nil): Long =
    produce(spark, tableDir, retry = true) { b =>
      // Iceberg's validateDataFilesExist: the (file, pos) tombstones were
      // computed by a scan of an EARLIER snapshot; if a concurrent
      // rewrite/compaction/COW commit removed any referenced data file,
      // landing them would silently drop the DELETE half of the
      // UPDATE/MERGE (dangling tombstones) while the inserts still land —
      // duplicated rows. Not retryable: a newer base can only confirm the
      // files are gone; the STATEMENT must re-run its scan.
      if (referencedDataFiles.nonEmpty) {
        val wanted = referencedDataFiles.map(IcebergManifestSource.localPath)
        val gone = wanted.distinct.filterNot(b.liveDataAmong(wanted))
        if (gone.nonEmpty) throw new CommitConflictException(
          s"commitDeltaFiles($tableDir): data files referenced by this " +
            s"delta's position deletes are no longer live in snapshot " +
            s"${b.curId} (a concurrent commit replaced them): " +
            s"${gone.take(3).mkString(", ")} — re-run the statement",
          retryable = false)
      }
      val (dv, rest) =
        added.partition(e => e.content == 1 && e.fileFormat == "PUFFIN")
      (Some(dvChange(b, rest, dv, "overwrite")), b.newId)
    }

  /** The change of a commit adding deletion vectors `dv` (task-written
    * or staged, not yet committed) next to `others`. v3 invariant: AT
    * MOST ONE deletion vector per data file — a conforming external
    * reader loads ONE vector per file, so a second would silently drop
    * deletes. New vectors and any live carried vector sharing a target
    * fold into ONE fresh puffin holding one blob per target (a
    * superseded puffin's non-overlapping blobs are carried into it, so
    * no delete is lost); superseded entries leave the snapshot (their
    * files stay — history references them). Re-stamping carried
    * positions at the new (higher) sequence targets the same rows —
    * paths are never reused in this layout, the same argument as
    * [[rewritePositionDeletes]]. The DVs are read driver-side
    * (commit-sized by the MOR contract), from the delete side only, so
    * the fold costs the same on both producer arms. */
  private def dvChange(b: CommitBase,
      others: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      dv: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      operation: String): ChangeSet =
    if (dv.isEmpty) ChangeSet(others, operation = operation)
    else {
      val addedBlobs = dv.flatMap(e =>
        DeletionVectors.read(new java.io.File(e.filePath)))
      val newTargets =
        addedBlobs.map(t => IcebergManifestSource.localPath(t._1)).toSet
      val superseded = b.deleteSide
        .filter(e => e.content == 1 && e.fileFormat == "PUFFIN")
        .map(e => e -> DeletionVectors.read(new java.io.File(e.filePath)))
        .filter(_._2.exists(t =>
          newTargets(IcebergManifestSource.localPath(t._1))))
      val perTarget = (addedBlobs ++ superseded.flatMap(_._2))
        .groupBy(t => IcebergManifestSource.localPath(t._1))
        .toSeq.sortBy(_._1)
        .map { case (_, bs) => (bs.head._1, bs.flatMap(_._2).distinct) }
      val f = freshFile(new java.io.File(b.tableDir, "data"),
        s"dv-${b.newId}.puffin")
      DeletionVectors.write(f, b.newId, perTarget)
      val merged = IcebergLayoutWriter.ManifestEntrySpec(status = 1,
        content = 1, filePath = f.getAbsolutePath,
        recordCount = perTarget.map(_._2.size.toLong).sum,
        sizeBytes = f.length(), fileFormat = "PUFFIN")
      val gone = superseded.map(_._1.filePath).toSet
      // the input puffins are the RETRY's input too: a commit re-run
      // after a lost CAS race re-reads them, so they are removed only
      // once the commit has landed
      ChangeSet(others :+ merged, KeepDeletes(e => !gone(e.filePath)),
        operation, afterCommit = () => dv.foreach(e =>
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(e.filePath))))
    }

  /** Predicate DELETE via POSITION tombstones — the other half of the
    * row-level delete write path ([[commitDelete]] writes equality
    * tombstones): evaluate the predicate over the current state
    * ([[matchedPositions]]) and commit the matching (file_path, pos)
    * pairs as a position-delete file (sorted by file then position, the
    * spec's required order) — or, on a declared-v3 table, as a deletion
    * vector ([[commitDeleteWhereDv]]). Position visibility is
    * `data_seq <= delete_seq`, and this commit adds no data, so the
    * tombstones hit exactly the matched rows. At 100 TB the predicate
    * scan is an ordinary distributed read; only the matched positions
    * move. Same eqKeys hazard as [[rewriteDataFiles]]: if the current
    * snapshot carries equality-delete files and eqKeys is empty, the
    * predicate is evaluated over un-tombstoned state — rows already
    * equality-deleted can be re-matched (wasted tombstones) and the
    * deleted-row count over-reports. Pass the equality keys whenever
    * content==2 files are live. Returns (newSnapshotId, rowsDeleted). */
  def commitDeleteWhere(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      eqKeys: Seq[String] = Nil,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): (Long, Long) = {
    // a DECLARED-v3 table defaults position tombstones to deletion
    // vectors (the v3 spec prohibits new position-delete FILES) —
    // EXACTLY GraftTable.dvTombstones' rule, so the fixture/Cli path
    // and the connector's SQL DELETE can never pick different dialects
    // for the same table: an explicit tombstone FILE format opts out,
    // equality granularity keeps its own dialect, and descriptor-less
    // external layouts resolve from the metadata document's properties
    val p = tablePropsFor(spark, tableDir)
    if (p.get("format-version").contains("3") &&
        !p.contains("write.delete.format.default") &&
        !p.get("write.delete.granularity").map(_.toLowerCase)
          .contains("equality") &&
        p.get("write.delete.format").forall(_.toLowerCase == "dv"))
      return commitDeleteWhereDv(spark, tableDir, predicate, eqKeys,
        renames, dataSchema)
    produce(spark, tableDir, retry = true) { b =>
      val hits = matchedPositions(spark, tableDir, predicate, eqKeys,
        renames, dataSchema, "commitDeleteWhere").sorted
      // the tombstone FILE honors write.delete.format.default; pairs are
      // already driver-local — written directly, no Spark job for a
      // KB-sized file
      val pd = freshFile(new java.io.File(tableDir, "data"),
        s"posdel-${b.newId}." +
          graft.sources.v2.GraftFormatWriters.extensionOf(b.deleteFormat))
      val n = b.deleteFormat match {
        case "orc" => IcebergLayoutWriter.writePosDeleteOrc(pd, hits,
          spark.sparkContext.hadoopConfiguration)
        case "avro" => IcebergLayoutWriter.writePosDeleteAvro(pd, hits)
        case _ => IcebergLayoutWriter.writePosDeleteParquet(pd, hits,
          spark.sparkContext.hadoopConfiguration)
      }
      (Some(ChangeSet(Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
        content = 1, filePath = pd.getAbsolutePath, recordCount = n,
        sizeBytes = pd.length(), fileFormat = b.deleteFormat.toUpperCase)),
        operation = "delete")), (b.newId, n))
    }
  }

  /** Predicate DELETE committing a DELETION VECTOR (Iceberg v3 shape)
    * instead of a parquet tombstone file: matched (file, pos) pairs fold
    * into ONE Puffin container with one blob per affected data file
    * ([[DeletionVectors]]), committed as a content=1 entry with
    * fileFormat=PUFFIN through the [[dvChange]] fold (successive DELETEs
    * supersede, not accumulate). Matched pairs are reject-sized by
    * assumption (the same contract as [[commitDeleteWhere]]'s single
    * tombstone file). Readers apply DVs exactly like position
    * tombstones — same (file, pos, seq) visibility — so the two delete
    * commits are interchangeable. Returns (newSnapshotId,
    * deletedRowCount). */
  def commitDeleteWhereDv(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      eqKeys: Seq[String] = Nil,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): (Long, Long) =
    produce(spark, tableDir, retry = true) { b =>
      val hits = matchedPositions(spark, tableDir, predicate, eqKeys,
        renames, dataSchema, "commitDeleteWhereDv")
      if (hits.isEmpty) (None, (b.curId, 0L))
      else {
        // staging name: the fold owns the final dv-<id>.puffin name
        val stage = freshFile(new java.io.File(tableDir, "data"),
          s"dv-stage-${b.newId}.puffin")
        DeletionVectors.write(stage, b.newId,
          hits.groupBy(_._1).toSeq.map { case (f, ps) => (f, ps.map(_._2)) })
        val staged = IcebergLayoutWriter.ManifestEntrySpec(status = 1,
          content = 1, filePath = stage.getAbsolutePath,
          recordCount = hits.size, sizeBytes = stage.length(),
          fileFormat = "PUFFIN")
        (Some(dvChange(b, Nil, Seq(staged), "delete")),
          (b.newId, hits.size.toLong))
      }
    }

  /** Predicate DELETE, COPY-ON-WRITE mode (Iceberg's
    * `write.delete.mode=copy-on-write`; the SQL `DELETE FROM` behind
    * [[graft.sources.v2.GraftTable]]'s SupportsDelete): files containing
    * matches are rewritten without the matched rows, untouched files are
    * carried verbatim, and the committed snapshot holds NO delete files
    * — so the connector's append-only scan (which does not apply
    * tombstones) reads the post-delete truth with zero reader changes.
    * When the current snapshot already carries tombstones (a MOR table),
    * the whole state is rewritten instead (tombstone contents reference
    * files by path, so partial carry would need reading every delete
    * file to prove safety). At 100 TB the common path costs O(affected
    * files) — the same bill Iceberg's own COW delete pays — and a
    * predicate that matches nothing commits nothing. Replace-shaped:
    * which files get rewritten is decided against THIS base, so a
    * version conflict fails loudly (no retry), Iceberg's own
    * COW-conflict behavior. Returns (snapshotId after, rowsDeleted).
    *
    * The consolidated replacement file records no partition values
    * (survivors of MANY files fold into one); on tables that lean on
    * file skipping, a rewrite_data_files with a sort order restores it.
    * The row-level SQL path (GraftCowBatchWrite) does NOT share this
    * limit — it rewrites per group with bounds + partitions. */
  def commitDeleteWhereCow(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      eqKeys: Seq[String] = Nil,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): (Long, Long) =
    produce(spark, tableDir, retry = false) { b =>
      // a lineage-assigned parquet table MATERIALIZES row lineage into
      // the survivors file (spec v3: a COW delete must keep the
      // surviving rows' ids and last-updated sequences — only the dying
      // rows disappear)
      val lineageOn = b.writeFormat == "parquet" && b.nextRowId > 0
      val lineage0 = MorRead.readTableLineage(spark, tableDir, eqKeys,
        renames, dataSchema, withLineage = lineageOn)
      val lineage =
        if (lineageOn) MorRead.resolveRowLineage(spark, tableDir, lineage0)
        else lineage0
      // tombstoned tables rewrite the WHOLE state — modeled as affected =
      // None so no all-files set ever materializes. ONE action serves
      // the affected-file set AND the deleted count; an empty table or
      // no-match predicate short-circuits through the empty map / zero
      // count below.
      val affectedCounts: Option[Map[String, Long]] =
        if (b.hasDeletes) None
        else Some(lineage.filter(predicate).groupBy(col("file_path"))
          .count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
      val inScopeRaw = affectedCounts.fold(lineage)(a =>
        lineage.filter(col("file_path")
          .isin(a.keys.map(IcebergManifestSource.localPath).toSeq: _*)))
      // checkpoint only when a count action AND the write both read it
      // (the tombstoned whole-state arm); the affected-files arm has one
      // consumer — the survivor write — so materializing first is waste
      val inScope =
        if (affectedCounts.isDefined) inScopeRaw
        else inScopeRaw.localCheckpoint()
      val deleted = affectedCounts.map(_.valuesIterator.sum)
        .getOrElse(inScope.filter(predicate).count())
      if (deleted == 0L) (None, (b.curId, 0L)) // nothing matched
      else {
        // DELETE removes rows where the predicate is TRUE; null keeps
        val rw = dataEntry(b, inScope.filter(not(coalesce(predicate, lit(false))))
          .drop("file_path", "pos", "data_seq"), "cowdel")
        val added =
          if (rw.recordCount > 0L) Seq(rw)
          else { // every in-scope row died: no empty file in the commit
            org.apache.commons.io.FileUtils.deleteQuietly(
              new java.io.File(rw.filePath)); Nil
          }
        (Some(ChangeSet(added, affectedCounts.fold[Removal](RemoveAll)(a =>
          RemovePaths(a.keys.toSeq)), operation = "delete")),
          (b.newId, deleted))
      }
    }

  /** Group-replace commit — the copy-on-write primitive behind SQL
    * row-level operations (`UPDATE`/`MERGE INTO` through the connector's
    * `SupportsRowLevelOperations`): one snapshot that drops exactly the
    * data files the operation's scan read (`removedPaths` — the replaced
    * "groups") and adds the files the operation wrote in their place.
    * The group contract makes this correct at any filter granularity:
    * every surviving row of a removed file is in the added set, so
    * read-before minus matched-rows-delta equals read-after. Tombstones
    * are refused unless `dropDeletes` (a carried delete file could
    * reference a replaced data file, and the group write has already
    * applied row-level truth), the same fail-fast as streaming's initial
    * load; SQL-born tables never carry them. Every removed path must
    * still be live, or the statement fails as a concurrent-commit
    * conflict. Commit cost is O(change set) metadata + the rewritten
    * groups' data — past the entry cap, untouched manifests ride
    * verbatim and touched ones rewrite in tasks. */
  def commitReplaceFiles(spark: SparkSession, tableDir: String,
      removedPaths: Seq[String],
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      dropDeletes: Boolean = false): Long =
    replaceFiles(spark, tableDir, RemovePaths(removedPaths, dropDeletes), added)

  /** Replace EVERY current data file with `added` — RTAS's commit shape.
    * The replace set is derived from the SAME pinned base the commit's
    * CAS verifies, inside the lock: a caller-side "list current files,
    * then replace them" (the old GraftStagedTable shape) left a window
    * where a concurrent insert's files were read into neither the
    * replace set nor the conflict check, silently surviving the REPLACE.
    * Tombstones drop with the files they reference (full overwrite). */
  def commitReplaceAll(spark: SparkSession, tableDir: String,
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec]): Long =
    replaceFiles(spark, tableDir, RemoveAll, added)

  /** Canonical string form of an entry's partition values — the match
    * key partition-scoped replaces compare on (same canon the dynamic
    * overwrite's touched set uses). */
  private[sources] def canonPartition(
      p: Iterable[(String, Any)]): Map[String, String] =
    p.map { case (n, v) => n -> String.valueOf(v) }.toMap

  /** Replace every data file whose partition values are in `touched` —
    * dynamic partition overwrite's commit. The removed set derives from
    * the commit's OWN pinned base inside the lock (never a caller-side
    * listing, which would let a concurrent insert's file survive the
    * partition swap), and the CAS fails the statement loudly when a
    * commit lands in between. */
  def commitReplacePartitions(spark: SparkSession, tableDir: String,
      touched: Set[Map[String, String]],
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec]): Long =
    replaceFiles(spark, tableDir, RemovePartitions(touched), added)

  /** The group-replace commits: replace-shaped, so a lost race fails
    * loudly. Only a FULL overwrite (every data file replaced, so
    * tombstones reference nothing live and drop with them) may run on a
    * tombstoned table. */
  private def replaceFiles(spark: SparkSession, tableDir: String,
      removal: Removal,
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec]): Long =
    produce(spark, tableDir, retry = false) { b =>
      removal match {
        case RemoveAll | RemovePaths(_, true) => ()
        case _ => requireNoTombstones(b)
      }
      (Some(ChangeSet(added, removal, operation = "replace")), b.newId)
    }

  private def requireNoTombstones(b: CommitBase): Unit =
    require(!b.hasDeletes,
      s"commitReplaceFiles(${b.tableDir}): current snapshot carries delete " +
        "files; a group-replace commit cannot preserve their visibility. " +
        "Run rewrite_data_files first.")

  /** EXECUTED rewrite_data_files — the data-moving compaction that
    * [[commitCompaction]]'s metadata-only commit deliberately is not:
    * read the current snapshot MERGE-ON-READ (every position/equality
    * tombstone applied), rewrite the surviving rows as fresh data files,
    * and commit a snapshot that carries NO old data files and NO delete
    * files. Read-before == read-after is the invariant (asserted by
    * CommitWriteSpec and pinned in q192's oracle); what changes is the
    * physical shape: tombstone anti joins disappear from every future
    * read's plan. The rewrite here lands as one sorted file (fixture
    * grain — `writeSingleParquet`); at 100 TB the same commit writes
    * one file per partition from the distributed MOR relation and the
    * metadata arithmetic is unchanged. Returns
    * (newSnapshotId, rowsRewritten, filesBefore, filesAfter). */
  def rewriteDataFiles(spark: SparkSession, tableDir: String,
      eqKeys: Seq[String], sortCols: Seq[String] = Nil,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None,
      targetFileSizeBytes: Option[Long] = None)
      : (Long, Long, Int, Int) =
      produce(spark, tableDir, retry = false) { b => // conflict = loud
    // the commit replaces EVERYTHING, so per-file carry is never needed
    val hasEqDeletes = b.deleteSide.exists(_.content == 2)
    // Equality tombstones need the equality keys: the caller's, or —
    // since eq-delete commits record spec `equality_ids` in their
    // manifest entries — resolved from METADATA (the real-Iceberg
    // contract). Only when neither names them (a legacy layout written
    // before ids existed) does the rewrite fail fast: eqKeys=Nil would
    // skip eq-tombstone application in MorRead yet drop the delete
    // files from the commit — silently resurrecting deleted rows.
    val effKeys =
      if (eqKeys.nonEmpty) eqKeys
      else if (hasEqDeletes) MorRead.metadataEqKeys(spark, tableDir)
      else Nil
    require(effKeys.nonEmpty || !hasEqDeletes,
      s"rewriteDataFiles($tableDir): current snapshot carries equality-" +
        "delete files with no equality_ids in their metadata and no " +
        "eqKeys given; the rewrite would drop the tombstones without " +
        "applying them. Pass the equality keys.")
    val filesBefore = b.carry.fold(
      b.liveStats.filter(col("content") === 0).count().toInt)(
      _.count(_.content == 0))
    val newId = b.newId
    // rewritten data lands in the table's declared write.format.default
    // (both arms) — a full rewrite is the LAST place a format flip may
    // hide, since it touches every byte of the table
    val fmt = b.writeFormat
    // v3 row lineage: a rewrite of a lineage-assigned PARQUET table
    // MATERIALIZES _row_id / _last_updated_sequence_number into the
    // compacted files (spec "Row Lineage": rewrites must preserve row
    // ids — the id is stable, the untouched rows keep their original
    // last-updated sequence even though the file's own sequence moves).
    // ORC/AVRO-default tables skip materialization (ids reassign — the
    // spec's permitted fallback for engines without the encoding).
    val lineageOn = fmt == "parquet" && b.nextRowId > 0
    val state =
      if (lineageOn) MorRead.readTableRowLineage(spark, tableDir, effKeys,
        renames, dataSchema)
      else MorRead.readTable(spark, tableDir, effKeys, renames, dataSchema)
    val order = if (sortCols.nonEmpty) sortCols else effKeys
    val dataDir = new java.io.File(tableDir, "data"); dataDir.mkdirs()
    val ext = graft.sources.v2.GraftFormatWriters.extensionOf(fmt)
    val added = targetFileSizeBytes match {
      case None =>
        // single consolidated file — deterministic row positions, the
        // fixture grain every position-sensitive test leans on
        val rw = freshFile(dataDir, s"rewrite-$newId.$ext")
        val n = IcebergLayoutWriter.writeSingleData(
          if (order.nonEmpty) state.sort(order.map(col): _*) else state,
          rw, fmt)
        Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
          content = 0, filePath = rw.getAbsolutePath, recordCount = n,
          sizeBytes = rw.length(), sequenceNumber = newId,
          fileFormat = fmt.toUpperCase))
      case Some(target) =>
        // DISTRIBUTED output sized to write.target-file-size-bytes: the
        // file count derives from the pre-rewrite data volume (manifest
        // sizes — an upper bound, tombstoned rows shrink it), the write
        // is task-parallel, and a sort order becomes a RANGE
        // distribution + within-partition sort so output files carry
        // DISJOINT ranges — exactly what manifest-bound skipping wants.
        // This is the 100 TB arm: one file per ~target, never one
        // driver-fed file for the whole table.
        require(target > 0, "rewriteDataFiles: target size must be > 0")
        val totalBytes = b.carry.fold(b.liveStats
          .filter(col("content") === 0)
          .agg(sum(col("sizeBytes"))).head.getLong(0))(
          _.filter(_.content == 0).map(_.sizeBytes).sum)
        val nFiles = math.max(1L,
          (totalBytes + target - 1) / target).toInt
        val shaped =
          if (order.nonEmpty)
            state.repartitionByRange(nFiles, order.map(col): _*)
              .sortWithinPartitions(order.map(col): _*)
          else state.repartition(nFiles)
        val tmp = new java.io.File(dataDir, s"rewrite-$newId-tmp")
        // task-parallel part write in the table format: parquet and ORC
        // through Spark's native writers (row counts from their own
        // footers/tails), AVRO through the explicit per-task container
        // fan-out (no spark-avro datasource on the classpath)
        val partRows: Seq[(java.io.File, Long)] = fmt match {
          case "avro" =>
            IcebergLayoutWriter.writeAvroParts(shaped, tmp)
              .map { case (p, n) => (new java.io.File(p), n) }
          case _ =>
            if (fmt == "orc") IcebergLayoutWriter.orcWritable(shaped)
              .write.mode("overwrite").orc(tmp.getPath)
            else shaped.write.mode("overwrite").parquet(tmp.getPath)
            val conf = spark.sparkContext.hadoopConfiguration
            Option(tmp.listFiles()).getOrElse(Array.empty)
              .filter(f => f.getName.startsWith("part-") &&
                f.getName.endsWith(s".$ext")).sortBy(_.getName)
              .map { part =>
                val rows =
                  if (fmt == "orc") {
                    val r = org.apache.orc.OrcFile.createReader(
                      new org.apache.hadoop.fs.Path(part.getAbsolutePath),
                      org.apache.orc.OrcFile.readerOptions(conf))
                    try r.getNumberOfRows finally r.close()
                  } else {
                    val in = org.apache.parquet.hadoop.util.HadoopInputFile
                      .fromPath(new org.apache.hadoop.fs.Path(
                        part.getAbsolutePath), conf)
                    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                    import scala.jdk.CollectionConverters._
                    try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
                    finally r.close()
                  }
                (part, rows)
              }.toSeq
        }
        val out = partRows.zipWithIndex.flatMap { case ((part, rows), i) =>
          // empty partitions (heavy tombstoning) never leave tmp: moving
          // them first would orphan unreferenced files in data/
          if (rows == 0) None
          else {
            val dest = freshFile(dataDir, s"rewrite-$newId-p$i.$ext")
            java.nio.file.Files.move(part.toPath, dest.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            Some(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
              content = 0, filePath = dest.getAbsolutePath,
              recordCount = rows, sizeBytes = dest.length(),
              sequenceNumber = newId, fileFormat = fmt.toUpperCase))
          }
        }
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
        out
    }
    val n = added.map(_.recordCount).sum
    // rewritten entries carry REAL bounds for the declared stat fields,
    // harvested from the written files' own parquet/ORC statistics —
    // a compaction (or a write.sort-order rewrite) must never erase the
    // table's file skipping on those fields. KNOWN LIMIT: variant-shred
    // and geometry bbox bounds (synthetic 5000+/6000+ stat ids) cannot
    // be harvested from natively-written files (no typed subcolumns),
    // so those re-establish on subsequent connector writes; until then
    // the rewritten files are conservatively never skipped.
    (Some(ChangeSet(withHarvestedBounds(added, fmt, b.statFields),
      RemoveAll, operation = "replace")),
      (newId, n, filesBefore, added.size))
  }

  /** Per-file lower/upper bounds for the declared stat fields,
    * HARVESTED from the written file's own native statistics — parquet
    * column-chunk stats folded across row groups, ORC file column
    * statistics; AVRO records none. This is how maintenance REWRITES
    * keep manifest-bound file skipping alive: the rewritten files'
    * entries used to carry no bounds at all, so one compaction erased
    * the table's skipping (and made `write.sort-order` rewrites
    * pointless for pruning). Parquet string maxima may be truncated
    * UPWARD by the writer — still a sound containment bound. */
  private[sources] def harvestFileBounds(path: String, fmt: String,
      fields: Seq[(Int, String, String)])
      : (Map[Int, Array[Byte]], Map[Int, Array[Byte]]) = {
    import IcebergLayoutWriter.{boundDouble, boundLong, boundString}
    def enc(t: String, v: Any): Option[Array[Byte]] = (t, v) match {
      case (_, null) => None
      case ("long", n: Number) => Some(boundLong(n.longValue))
      // NaN never enters a recorded bound (the Iceberg convention —
      // nan_value_counts exists for it): pruning compares bounds with
      // Double.compare where NaN sorts above everything, so a NaN bound
      // from an all-NaN parquet/ORC stat would wrongly skip files
      case ("double", n: Number) if java.lang.Double.isNaN(n.doubleValue) =>
        None
      case ("double", n: Number) => Some(boundDouble(n.doubleValue))
      case ("string", s: String) => Some(boundString(s))
      case _ => None
    }
    fmt match {
      case "parquet" =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          new org.apache.hadoop.conf.Configuration())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val lo = Map.newBuilder[Int, Array[Byte]]
          val hi = Map.newBuilder[Int, Array[Byte]]
          fields.foreach { case (id, name, t) =>
            val chunks = r.getFooter.getBlocks.asScala.flatMap(
              _.getColumns.asScala.filter { c =>
                val p = c.getPath.toArray
                p.length == 1 && p(0) == name
              })
            val stats = chunks.map(_.getStatistics)
              .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
            def statNaN(v: Any): Boolean = v match {
              case n: java.lang.Double => n.isNaN
              case n: java.lang.Float => n.isNaN
              case _ => false
            }
            // one NaN row-group stat suppresses the FIELD's bounds: the
            // `<` fold is unordered under NaN, so the reduced value could
            // be a non-NaN that undercovers the file (mirrors the shred
            // harvester's mistyped-value suppression discipline)
            val anyNaN = stats.exists(s =>
              statNaN(s.genericGetMin()) || statNaN(s.genericGetMax()))
            if (stats.nonEmpty && !anyNaN) {
              def jv(b: org.apache.parquet.column.statistics.Statistics[_],
                  min: Boolean): Any =
                (if (min) b.genericGetMin() else b.genericGetMax()) match {
                  case bin: org.apache.parquet.io.api.Binary =>
                    bin.toStringUsingUTF8
                  case other => other
                }
              def fold(min: Boolean): Any =
                stats.map(jv(_, min)).reduce { (a, b) =>
                  val keepA = (a, b) match {
                    case (x: Number, y: Number) =>
                      (x.doubleValue < y.doubleValue) == min
                    case (x: String, y: String) => (x < y) == min
                    case _ => true
                  }
                  if (keepA) a else b
                }
              enc(t, fold(min = true)).foreach(lo += id -> _)
              enc(t, fold(min = false)).foreach(hi += id -> _)
            }
          }
          (lo.result(), hi.result())
        } finally r.close()
      case "orc" =>
        val reader = org.apache.orc.OrcFile.createReader(
          new org.apache.hadoop.fs.Path(path),
          org.apache.orc.OrcFile.readerOptions(
            new org.apache.hadoop.conf.Configuration()))
        try {
          import scala.jdk.CollectionConverters._
          val td = reader.getSchema
          val names = td.getFieldNames.asScala.toSeq
          val kids = td.getChildren.asScala.toSeq
          val all = reader.getStatistics
          val lo = Map.newBuilder[Int, Array[Byte]]
          val hi = Map.newBuilder[Int, Array[Byte]]
          fields.foreach { case (id, name, t) =>
            names.indexOf(name) match {
              case -1 => ()
              case k =>
                val cid = kids(k).getId
                if (cid < all.length && all(cid).getNumberOfValues > 0)
                  all(cid) match {
                    case s: org.apache.orc.IntegerColumnStatistics =>
                      enc(t, Long.box(s.getMinimum)).foreach(lo += id -> _)
                      enc(t, Long.box(s.getMaximum)).foreach(hi += id -> _)
                    case s: org.apache.orc.DoubleColumnStatistics =>
                      enc(t, Double.box(s.getMinimum)).foreach(lo += id -> _)
                      enc(t, Double.box(s.getMaximum)).foreach(hi += id -> _)
                    case s: org.apache.orc.StringColumnStatistics =>
                      enc(t, s.getMinimum).foreach(lo += id -> _)
                      enc(t, s.getMaximum).foreach(hi += id -> _)
                    case _ => ()
                  }
            }
          }
          (lo.result(), hi.result())
        } finally reader.close()
      case _ => (Map.empty, Map.empty)
    }
  }

  /** Attach harvested bounds to freshly-rewritten data entries, fanned
    * over a small pool (one KB-grain tail read per file — max(read),
    * not sum, when a rewrite emits hundreds of parts). */
  private def withHarvestedBounds(
      entries: Seq[IcebergLayoutWriter.ManifestEntrySpec], fmt: String,
      fields: Seq[(Int, String, String)])
      : Seq[IcebergLayoutWriter.ManifestEntrySpec] = {
    if (fields.isEmpty || fmt == "avro" || entries.isEmpty) return entries
    if (entries.size == 1) {
      val (lo, hi) = harvestFileBounds(entries.head.filePath, fmt, fields)
      return Seq(entries.head.copy(lower = lo, upper = hi))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(entries.size, 8))
    try {
      val futs = entries.map { e =>
        pool.submit(new java.util.concurrent.Callable[
            (Map[Int, Array[Byte]], Map[Int, Array[Byte]])] {
          override def call() = harvestFileBounds(e.filePath, fmt, fields)
        })
      }
      entries.zip(futs).map { case (e, f) =>
        val (lo, hi) = f.get()
        e.copy(lower = lo, upper = hi)
      }
    } finally pool.shutdown()
  }

  /** Greedy overshoot grouping — the EXECUTABLE form of the reference's
    * bin-packer ([[graft.functions.Pure.packStats]] simulates exactly
    * this loop; reference `table_metrics.py:178-197`): ascending-size
    * files fold into a group until its size EXCEEDS `maxGroupBytes`,
    * then the group closes BEFORE the next append (overshoot semantics
    * — a group may exceed the cap by one file, never undershoot-split).
    * Shared here so the simulation (metrics A10) and the executed
    * compaction can never disagree about the group count. */
  private[sources] def packGroups(sortedBySize: Seq[(String, Long)],
      maxGroupBytes: Long): Seq[Seq[(String, Long)]] = {
    val groups = Seq.newBuilder[Seq[(String, Long)]]
    var cur = Seq.newBuilder[(String, Long)]
    var curSize = 0L
    var nonEmpty = false
    sortedBySize.foreach { case (p, s) =>
      if (curSize > maxGroupBytes) {
        groups += cur.result(); cur = Seq.newBuilder
        curSize = 0L; nonEmpty = false
      }
      cur += ((p, s)); curSize += s; nonEmpty = true
    }
    if (nonEmpty) groups += cur.result()
    groups.result()
  }

  /** SELECTIVE small-file compaction — the executed form of the
    * reference's bin-pack diagnosis (the 9-metric report simulates
    * exactly this fold; this commits it): data files SMALLER than
    * `smallFileBytes` group under the overshoot packer ([[packGroups]] —
    * same semantics as the simulation's `Pure.packStats`, golden-pinned
    * 900→9) and each multi-file group rewrites as ONE file; files at or
    * above the threshold are CARRIED VERBATIM — zero data movement for
    * them, which is the whole point against [[rewriteDataFiles]]' full
    * rewrite. One group-replace snapshot commits the swap (the
    * distributed manifest-rewrite arm handles tables past the planning
    * ceiling), so at 100 TB the bill is O(small files), not O(table).
    * Tombstoned tables are refused by the group-replace commit (a
    * carried tombstone could reference a rewritten file); fold
    * tombstones first with [[rewriteDataFiles]] /
    * [[rewritePositionDeletes]]. Consolidated files record no bounds
    * (survivors of many files fold into one) — a sorted full rewrite
    * restores skipping, same caveat as the COW delete's note. Returns
    * (snapshotId after, filesCompacted, groupsWritten) — a no-op (fewer
    * than 2 small files, or no multi-file group) returns the current
    * snapshot with zero counts and commits nothing. */
  def rewriteSmallFiles(spark: SparkSession, tableDir: String,
      maxGroupBytes: Long = graft.model.EngineConfig.default.maxGroupBytes,
      smallFileBytes: Long =
        graft.model.EngineConfig.default.maxGroupBytes / 2)
      : (Long, Int, Int) = produce(spark, tableDir, retry = false) { b =>
    // candidate listing is DISTRIBUTED; only small files' (path, size,
    // format, partition) land on the driver — the operation's own size
    val smallRows = b.liveStats
      .filter(col("content") === 0 && col("sizeBytes") < smallFileBytes)
      .select("file_path", "sizeBytes", "file_format", "partitionKey",
        "sequence_number", "first_row_id")
      .collect()
    val small = smallRows.map(r => (r.getString(0), r.getLong(1),
      r.getString(2), r.getString(3))).toSeq
    // v3 row lineage across the pack (parquet groups only): per-file
    // sequence numbers and first_row_ids, driver-known, group-sized
    val seqOf: Map[String, Long] = smallRows.map(r =>
      IcebergManifestSource.localPath(r.getString(0)) -> r.getLong(4)).toMap
    val friOf: Map[String, Long] = smallRows
      .flatMap(r => Option(r.getAs[java.lang.Long](5)).map(v =>
        IcebergManifestSource.localPath(r.getString(0)) -> v.longValue)).toMap
    // groups never mix physical formats (one read per group) and never
    // span PARTITIONS — a consolidated file keeps its group's partition
    // values, so partition pruning, SPJ, and partition-predicate
    // replaces (dynamic overwrite) keep seeing compacted files. The
    // consolidated output honors write.format.default (compaction
    // doubles as normalization toward the table's DECLARED format, not
    // unconditionally toward parquet).
    val groups = small.groupBy(f => (f._3, f._4)).toSeq.sortBy(_._1)
      .flatMap { case ((fmt, pk), files) =>
        packGroups(files.sortBy(_._2).map(f => (f._1, f._2)), maxGroupBytes)
          .filter(_.length >= 2).map(g => (fmt, pk, g))
      }
    if (groups.isEmpty) (None, (b.curId, 0, 0))
    else {
      // a carried tombstone could reference a rewritten file
      requireNoTombstones(b)
      val dataDir = new java.io.File(tableDir, "data")
      val outFmt = b.writeFormat
      val outExt = graft.sources.v2.GraftFormatWriters.extensionOf(outFmt)
      // a lineage-assigned parquet→parquet pack MATERIALIZES row lineage
      // into the group file (spec v3: compaction preserves row ids) —
      // same rule as rewrite_data_files; other format pairs reassign
      val packLineage = outFmt == "parquet" && b.nextRowId > 0
      val added = groups.zipWithIndex.map { case ((fmt, pk, g), i) =>
        val paths = g.map(_._1)
        val df = fmt match {
          case "ORC" => spark.read.orc(paths: _*)
          case "AVRO" =>
            AvroDataRead.readWithPos(spark, paths).drop("file_path", "pos")
          case _ if !packLineage => spark.read.parquet(paths: _*)
          case _ =>
            // a group file that already materializes lineage (a prior
            // COW/rewrite output) binds its columns via mergeSchema;
            // groups of plain files — the common case — skip the
            // schema-merge pass entirely (driver footer sniff: these are
            // SMALL files by definition)
            val conf = spark.sparkContext.hadoopConfiguration
            val anyMaterialized = paths.exists { p =>
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(new org.apache.hadoop.fs.Path(p), conf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try r.getFooter.getFileMetaData.getSchema
                .containsField("_row_id")
              finally r.close()
            }
            val base =
              if (anyMaterialized) spark.read.option("mergeSchema", "true")
                .parquet(paths: _*)
              else spark.read.parquet(paths: _*)
            val own = IcebergManifestSource.localPath(
              col("_metadata.file_path"))
            val matRid =
              if (base.columns.contains("_row_id")) col("_row_id")
              else lit(null).cast("long")
            val matSeq =
              if (base.columns.contains("_last_updated_sequence_number"))
                col("_last_updated_sequence_number")
              else lit(null).cast("long")
            val fri =
              if (friOf.isEmpty) lit(null).cast("long")
              else element_at(typedLit(friOf), own)
            base
              .withColumn("_row_id",
                coalesce(matRid, fri + col("_metadata.row_index")))
              .withColumn("_last_updated_sequence_number",
                coalesce(matSeq, element_at(typedLit(seqOf), own)))
        }
        val f = freshFile(dataDir, s"binpack-${b.curId}-g$i.$outExt")
        val n = IcebergLayoutWriter.writeSingleData(df, f, outFmt)
        IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
          filePath = f.getAbsolutePath, recordCount = n,
          sizeBytes = f.length(), partition = partitionPairsOf(pk),
          fileFormat = outFmt.toUpperCase)
      }
      val removed = groups.flatMap(_._3.map(_._1))
      (Some(ChangeSet(withHarvestedBounds(added, outFmt, b.statFields),
        RemovePaths(removed), operation = "replace")),
        (b.newId, removed.size, groups.size))
    }
  }

  /** `rewrite_position_deletes` — Iceberg's delete-file compaction: the
    * snapshot's position-tombstone files consolidate into ONE, and
    * tombstones that no longer target a live data file (dangling after
    * a data rewrite) are dropped. Table state is UNCHANGED: each kept
    * (file_path, pos) pair targeted a data file with data_seq <= its
    * old tombstone's seq, so re-stamping at the new (higher) sequence
    * applies to exactly the same rows — paths are never reused in this
    * layout, so a higher seq cannot capture a newer file under an old
    * path. Why it matters at 100 TB: a steady DELETE stream accretes
    * one tombstone file per commit, and every MOR read pays a per-file
    * open for each — this fold is how the read bill stays O(1) delete
    * files instead of O(delete commits). Returns (newSnapshotId,
    * posFilesBefore, posFilesAfter, pairsKept). */
  def rewritePositionDeletes(spark: SparkSession, tableDir: String)
      : (Long, Int, Int, Long) =
    produce(spark, tableDir, retry = false) { b => // conflict = loud
      val posFiles = b.deleteSide.filter(_.content == 1)
      foldPositionDeletes(spark, b, posFiles) match {
        case None => (None, (b.curId, 0, 0, 0L))
        case Some(newEntry) =>
          val nPairs = newEntry.headOption.map(_.recordCount).getOrElse(0L)
          // eq-tombstones carried, position files consolidated to one
          (Some(ChangeSet(newEntry, KeepDeletes(_.content == 2),
            operation = "replace")),
            (b.newId, posFiles.size, if (nPairs == 0) 0 else 1, nPairs))
      }
    }

  /** [[rewritePositionDeletes]]' fold: the ONE consolidated tombstone
    * entry (none when every pair dangles), or None when there is nothing
    * to rewrite. The DELETE side (the thing being rewritten — commit-count
    * shaped) is read driver-side; the data side's liveness comes from the
    * carry under the cap, a distributed manifest scan past it. */
  private def foldPositionDeletes(spark: SparkSession, b: CommitBase,
      posFiles: Seq[IcebergLayoutWriter.ManifestEntrySpec])
      : Option[Seq[IcebergLayoutWriter.ManifestEntrySpec]] = {
    import spark.implicits._
    if (posFiles.isEmpty) return None
    val carriedOpt = b.carry
    val newId = b.newId
    def norm(p: String): String = IcebergManifestSource.localPath(p)
    // tombstone rows with their owning file's sequence number attached;
    // deletion-vector entries (fileFormat=PUFFIN) decode driver-side and
    // fold into the SAME consolidated parquet output — a rewrite is how
    // a DV-carrying table converts back to the v2 tombstone shape
    val (dvPos, fileTombEntries) = posFiles.partition(_.fileFormat == "PUFFIN")
    val dvTombRows = dvPos.flatMap { e =>
      DeletionVectors.read(new java.io.File(e.filePath)).flatMap {
        case (target, poss) =>
          poss.map(p => (norm(target), p, e.sequenceNumber.longValue)) }
    }
    // tombstone FILES may be any of the three spec formats
    // (write.delete.format.default); the fold always consolidates to
    // the table's CURRENT delete format below
    def fileTombArm(fmt: String,
        read: Seq[String] => org.apache.spark.sql.DataFrame)
        : Option[org.apache.spark.sql.DataFrame] = {
      val fs = fileTombEntries.filter(_.fileFormat == fmt)
      if (fs.isEmpty) None
      else {
        val seqDf = fs.map(e => (norm(e.filePath),
          e.sequenceNumber.longValue)).toDF("__fp", "seq")
        Some(read(fs.map(_.filePath).toIndexedSeq)
          .withColumn("__own", IcebergManifestSource.localPath(
            col("_metadata.file_path")))
          .join(broadcast(seqDf), col("__own") === col("__fp"))
          .select(IcebergManifestSource.localPath(col("file_path"))
            .as("file_path"), col("pos"), col("seq")))
      }
    }
    // fixed tombstone schema: no footer-inference job
    val avroTombRows = fileTombEntries.filter(_.fileFormat == "AVRO")
      .flatMap(e => AvroDataRead.readPosDeletes(e.filePath)
        .map { case (t, p) => (norm(t), p, e.sequenceNumber.longValue) })
    // DRIVER fold when every ingredient is already driver-side (DV and
    // avro tombstones decode on the driver, and under the entry ceiling
    // the live data set is a carried list): the liveness join, distinct
    // and sort are a map lookup + in-memory sort over reject-sized
    // pairs, skipping the multi-stage Spark job the DataFrame shape
    // cost per fold (r16: q253's fold was ~0.9 s of job overhead for
    // ~17k pairs). Parquet/ORC tombstone FILES keep the distributed
    // scan arm — their rows were never driver-materialized.
    val hasFileScanTombs = fileTombEntries.exists(e =>
      e.fileFormat == "PARQUET" || e.fileFormat == "ORC")
    if (!hasFileScanTombs && dvTombRows.isEmpty && avroTombRows.isEmpty)
      return None // no tombstone rows at all
    val keptDriver: Option[Seq[(String, Long)]] =
      if (hasFileScanTombs || carriedOpt.isEmpty) None
      else {
        val liveSeqMap = carriedOpt.get.filter(_.content == 0)
          .map(e => norm(e.filePath) -> e.sequenceNumber.longValue).toMap
        Some((dvTombRows ++ avroTombRows)
          .filter(t => liveSeqMap.get(t._1).exists(_ <= t._3))
          .map(t => (t._1, t._2)).distinct.sorted)
      }
    lazy val keptDf = {
      val parqTomb = fileTombArm("PARQUET", ps => spark.read
        .schema("file_path STRING, pos BIGINT").parquet(ps: _*))
      val orcTomb = fileTombArm("ORC", ps => spark.read
        .schema("file_path STRING, pos BIGINT").orc(ps: _*))
      val avroTomb =
        if (avroTombRows.isEmpty) None
        else Some(avroTombRows.toDF("file_path", "pos", "seq"))
      val dvTomb =
        if (dvTombRows.isEmpty) None
        else Some(dvTombRows.toDF("file_path", "pos", "seq"))
      Seq(parqTomb, orcTomb, avroTomb, dvTomb).flatten
        .reduceOption(_ unionByName _).map { tomb =>
          // data-file liveness (the dangling-pair filter): driver map
          // under the ceiling, the DISTRIBUTED manifest scan past it —
          // the tombstone side is the small one either way
          val liveSeq = carriedOpt match {
            case Some(carried) => broadcast(carried.filter(_.content == 0)
              .map(e => (norm(e.filePath), e.sequenceNumber.longValue))
              .toDF("file_path", "data_seq"))
            case None => b.liveStats
              .filter(col("content") === 0)
              .select(IcebergManifestSource.localPath(col("file_path"))
                .as("file_path"), col("sequence_number").as("data_seq"))
          }
          tomb.join(liveSeq, Seq("file_path"))
            .filter(col("data_seq") <= col("seq")) // the pair applies
            .select(col("file_path"), col("pos")).distinct()
            .sort(col("file_path"), col("pos"))
        }
    }
    // sorted distinct (file_path, pos) pairs, streamed: driver fold →
    // plain iterator; DataFrame fold → toLocalIterator over the sorted
    // frame (driver memory bounded by one group either way)
    def pairIter(): Iterator[(String, Long)] = keptDriver match {
      case Some(pairs) => pairs.iterator
      case None =>
        val it = keptDf.get.toLocalIterator()
        new Iterator[(String, Long)] {
          override def hasNext: Boolean = it.hasNext
          override def next(): (String, Long) = {
            val r = it.next(); (r.getString(0), r.getLong(1))
          }
        }
    }
    val dataDir = new java.io.File(b.tableDir, "data")
    // the consolidated output honors the table's DECLARED version: a
    // format-version-3 table folds into ONE puffin of deletion vectors
    // (the v3 spec prohibits new position-delete FILES); v2/unset
    // tables keep the parquet tombstone shape
    val newEntry =
      if (b.declaredFv.contains(3)) {
        val it = pairIter()
        if (!it.hasNext) Nil
        else {
          val f = freshFile(dataDir, s"posdel-rw-$newId.puffin")
          var pending: (String, Long) = it.next()
          val grouped = new Iterator[(String, Seq[Long])] {
            override def hasNext: Boolean = pending != null
            override def next(): (String, Seq[Long]) = {
              val target = pending._1
              val poss = scala.collection.mutable.ArrayBuffer(pending._2)
              pending = null
              while (it.hasNext && pending == null) {
                val r = it.next()
                if (r._1 == target) poss += r._2
                else pending = r
              }
              (target, poss.toSeq)
            }
          }
          val nPairs = DeletionVectors.writeStreamed(f, newId, grouped)
          Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
            content = 1, filePath = f.getAbsolutePath,
            recordCount = nPairs, sizeBytes = f.length(),
            sequenceNumber = newId, fileFormat = "PUFFIN"))
        }
      } else keptDriver match {
        case Some(pairs) =>
          if (pairs.isEmpty) Nil // every tombstone was dangling
          else {
            val pd = freshFile(dataDir, s"posdel-rw-$newId.parquet")
            val n = IcebergLayoutWriter.writePosDeleteParquet(pd, pairs,
              spark.sparkContext.hadoopConfiguration)
            Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
              content = 1, filePath = pd.getAbsolutePath, recordCount = n,
              sizeBytes = pd.length(), sequenceNumber = newId))
          }
        case None =>
          val pd = freshFile(dataDir, s"posdel-rw-$newId.parquet")
          val n = IcebergLayoutWriter.writeSingleParquet(keptDf.get, pd)
          if (n == 0) { // every tombstone was dangling: none to carry
            org.apache.commons.io.FileUtils.deleteQuietly(pd)
            Nil
          }
          else Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
            content = 1, filePath = pd.getAbsolutePath, recordCount = n,
            sizeBytes = pd.length(), sequenceNumber = newId))
      }
    Some(newEntry)
  }

  /** `convert_equality_deletes` — eq→pos tombstone maintenance: resolve
    * every live EQUALITY tombstone against the current data files into
    * one consolidated POSITION-delete file, and drop the eq entries.
    * The streaming-upsert dialect (write.delete.granularity=equality)
    * accretes an eq-delete file per MERGE, and every MOR read replays
    * each one as a key anti-join; until now the only way to clear them
    * was `rewriteDataFiles` — a FULL data rewrite. This is the
    * Iceberg-ecosystem compactor's small-side job instead: data files
    * are never rewritten (carried verbatim — manifest reuse past the
    * driver ceiling), only the tombstone representation changes.
    *
    * Equivalence: a key row of an eq file at sequence S kills rows in
    * data files with data_seq < S (strict — MorRead.applyEqDeletes'
    * join). The converter materializes exactly those (file, pos) pairs
    * from the pos-applied, eq-UNAPPLIED lineage (a row an existing pos
    * tombstone already kills needs no new pair) and stamps them at the
    * new snapshot's sequence, which every current data file is <= of —
    * so the suppressed row set is bit-identical before and after. Data
    * files appended LATER get higher sequences, which neither the old
    * eq tombstones (data_seq < S fails) nor the new pos pairs (path
    * never matches a new file) touch. ORC data files read through
    * [[OrcPosRead]] for real ordinals; AVRO/parquet carry them natively.
    * Keys resolve from the manifests' spec `equality_ids` — the same
    * metadata contract the reader uses. Returns (newSnapshotId,
    * eqFilesBefore, posPairsWritten); a table with no live eq
    * tombstones returns the current snapshot and commits nothing.
    *
    * Output grain: ONE consolidated position-delete file — the same
    * contract as [[rewritePositionDeletes]] (the point of both is
    * collapsing the per-commit tombstone accretion back to O(1) read
    * opens). Pair volume is bounded by the rows the eq tombstones
    * actually suppress; a table whose suppressed set outgrows a single
    * file wants the full [[rewriteDataFiles]] instead — the suppressed
    * rows are then a material fraction of the data and the rewrite
    * amortizes. */
  def convertEqualityDeletes(spark: SparkSession, tableDir: String,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : (Long, Int, Long) =
    produce(spark, tableDir, retry = false) { b => // conflict = loud
      val eqFiles = b.deleteSide.filter(_.content == 2)
      if (eqFiles.isEmpty) (None, (b.curId, 0, 0L))
      else {
        // the eq entries leave; existing pos/DV entries are carried
        val newEntry = eqToPositions(spark, b, eqFiles, renames, dataSchema)
        (Some(ChangeSet(newEntry, KeepDeletes(_.content == 1),
          operation = "replace")),
          (b.newId, eqFiles.size, newEntry.map(_.recordCount).sum))
      }
    }

  /** [[convertEqualityDeletes]]' conversion: the ONE position-delete
    * entry the live `eqFiles` resolve to (none when every eq tombstone
    * dangles). */
  private def eqToPositions(spark: SparkSession, b: CommitBase,
      eqFiles: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      renames: Map[String, Seq[String]],
      dataSchema: Option[org.apache.spark.sql.types.StructType])
      : Seq[IcebergLayoutWriter.ManifestEntrySpec] = {
    import spark.implicits._
    val tableDir = b.tableDir
    def norm(p: String): String = IcebergManifestSource.localPath(p)
    val eqKeys = MorRead.metadataEqKeys(spark, tableDir)
    require(eqKeys.nonEmpty,
      s"convertEqualityDeletes($tableDir): live equality-delete files " +
        "carry no (or disagreeing) equality_ids; converting without the " +
        "keys would drop the tombstones unapplied. Rewrite the table " +
        "instead (rewriteDataFiles with explicit eqKeys).")
    val newId = b.newId
    // every ORC data file needs real ordinals: an eq key may match rows
    // anywhere, and a NULL-pos row cannot become a (file, pos) pair
    val orcPaths: Set[String] = b.carry match {
      case Some(c) => c.filter(e => e.content == 0 && e.fileFormat == "ORC")
        .map(e => norm(e.filePath)).toSet
      case None => b.liveStats
        .filter(col("content") === 0 && col("file_format") === "ORC")
        .select("file_path").collect().map(r => norm(r.getString(0))).toSet
    }
    val hasData = b.carry.fold(b.liveStats
      .filter(col("content") === 0).limit(1).count() > 0)(
      _.exists(_.content == 0))
    val pd = freshFile(new java.io.File(tableDir, "data"),
      s"posdel-conv-$newId.parquet")
    // a data-less table converts to ZERO pairs (every eq tombstone is
    // dangling) and the commit below still drops the eq entries
    val n = if (!hasData) 0L else {
      val lineage = MorRead.readTableLineage(spark, tableDir, Nil, renames,
        dataSchema, orcPosPaths = orcPaths, applyEq = false)
      // eq tombstone rows with their owning file's sequence attached —
      // eq files may be any spec format (write.delete.format.default),
      // so each dialect reads through its own scan and the arms union
      val eqSeqDf = eqFiles.map(e => (norm(e.filePath),
        e.sequenceNumber.longValue)).toDF("__fp", "ed_seq")
      def seqJoin(df: org.apache.spark.sql.DataFrame,
          pathCol: org.apache.spark.sql.Column)
          : org.apache.spark.sql.DataFrame =
        df.withColumn("__own", IcebergManifestSource.localPath(pathCol))
          .join(broadcast(eqSeqDf), col("__own") === col("__fp"))
          .select(
            eqKeys.map(k => col(k).as(s"ed_$k")) :+ col("ed_seq"): _*)
      val parqEq = eqFiles.filter(_.fileFormat == "PARQUET")
      val orcEq = eqFiles.filter(_.fileFormat == "ORC")
      val avroEq = eqFiles.filterNot(e =>
        e.fileFormat == "PARQUET" || e.fileFormat == "ORC")
      val eqRows = Seq(
        if (parqEq.isEmpty) None
        else Some(seqJoin(
          spark.read.parquet(parqEq.map(_.filePath).toIndexedSeq: _*),
          col("_metadata.file_path"))),
        if (orcEq.isEmpty) None
        else Some(seqJoin(
          spark.read.orc(orcEq.map(_.filePath).toIndexedSeq: _*),
          col("_metadata.file_path"))),
        if (avroEq.isEmpty) None
        else Some(seqJoin(
          AvroDataRead.readWithPos(spark,
            avroEq.map(e => norm(e.filePath)).toIndexedSeq).drop("pos"),
          col("file_path")))).flatten.reduce(_ unionByName _)
      // the EXACT suppression predicate the reader applies: null-safe
      // key equality + strict data_seq < ed_seq; the join is data⋈keys
      // with no forced broadcast — the eq side's size is known to the
      // planner
      val cond = eqKeys.map(k => col(k) <=> col(s"ed_$k")).reduce(_ && _) &&
        col("data_seq") < col("ed_seq")
      val pairs = lineage.join(eqRows, cond, "inner")
        .select(col("file_path"), col("pos")).distinct()
        .sort(col("file_path"), col("pos"))
      IcebergLayoutWriter.writeSingleParquet(pairs, pd)
    }
    if (n == 0) { // every eq tombstone was dangling: none to convert
      org.apache.commons.io.FileUtils.deleteQuietly(pd); Nil
    } else Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
      content = 1, filePath = pd.getAbsolutePath, recordCount = n,
      sizeBytes = pd.length(), sequenceNumber = newId))
  }

  /** Cherry-pick an append snapshot onto the CURRENT head — Iceberg's
    * `cherrypick_snapshot`, the publish path for a WAP stage whose base
    * has since advanced ([[fastForward]] only publishes when the head
    * never moved). The picked snapshot's own additions — its entries
    * stamped with its sequence number, the layout's commit discipline —
    * re-commit on top of today's head as a NEW snapshot; the staged
    * snapshot itself stays in history for audit. Only pure appends
    * qualify (a picked delete file could target rows the head already
    * rewrote), and a path collision with the head refuses — both are
    * Iceberg's own restrictions. Returns the new head snapshot id. */
  def cherryPick(spark: SparkSession, tableDir: String,
      snapshotId: Long): Long =
    produce(spark, tableDir, retry = true) { b =>
      val staged = b.snaps.find(_.id == snapshotId).getOrElse(sys.error(
        s"cherryPick($tableDir): snapshot $snapshotId not in history"))
      // the PICKED additions are one commit's worth of entries: walk only
      // the manifests its list rows stamp with its sequence number (every
      // row of a driver-walk list, only its own rows of a reuse list)
      val conf = spark.sparkContext.hadoopConfiguration
      val picked = walkEntries(conf,
        listRowsOf(conf, staged.listPath).filter(_._2 == snapshotId),
        Int.MaxValue).get.filter(_.sequenceNumber.longValue == snapshotId)
      require(picked.nonEmpty,
        s"cherryPick($tableDir): snapshot $snapshotId added no files")
      require(picked.forall(_.content == 0),
        s"cherryPick($tableDir): snapshot $snapshotId carries delete " +
          "files; only append snapshots can be cherry-picked")
      val clash = b.liveDataAmong(picked.map(_.filePath))
      require(clash.isEmpty,
        s"cherryPick($tableDir): head already contains ${clash.take(3)}")
      (Some(ChangeSet(picked)), b.newId)
    }

  /** Stage an append WITHOUT moving the table head — the write half of
    * write-audit-publish (Iceberg's WAP / branch commits): the new
    * snapshot lands in history and `branch` points at it, but
    * `current-snapshot-id` (and `main`) stay put, so readers of the
    * table see nothing until [[fastForward]] publishes. Staged commits
    * STACK: when the branch already exists, the append carries from the
    * BRANCH head (Iceberg's branch-commit semantics — a second staged
    * write must not silently drop the first), else from the table head
    * it forks from. Returns the staged snapshot id. */
  def stageAppend(spark: SparkSession, tableDir: String,
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      branch: String): Long =
    produce(spark, tableDir, retry = true, target = StageBranch(branch)) {
      b => (Some(ChangeSet(added)), b.newId)
    }

  /** WAP staging by AUDIT ID (Iceberg's `spark.wap.id` flavor — the
    * branchless twin of [[stageAppend]]): the snapshot lands in history
    * with `wap.id` recorded in its summary and NO ref moves — the head
    * stays put until [[publishChanges]] cherry-picks it. One snapshot
    * per wap id (Iceberg's publish-by-id resolution requires it). */
  def stageAppendWap(spark: SparkSession, tableDir: String,
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      wapId: String): Long =
    produce(spark, tableDir, retry = true, target = StageOnly) { b =>
      val dup = b.snaps.collectFirst {
        case s if s.summary.exists(_.contains("wap.id" -> wapId)) => s.id }
      require(dup.isEmpty,
        s"stageAppendWap($tableDir): wap.id '$wapId' already staged as " +
          s"snapshot ${dup.get}; publish or expire it first")
      (Some(ChangeSet(added, extraSummary = Seq("wap.id" -> wapId))), b.newId)
    }

  /** Iceberg's `publish_changes`: resolve the staged snapshot whose
    * summary carries `wap.id = <id>` and cherry-pick its additions onto
    * the current head. Returns (stagedSnapshotId, newHeadId). */
  def publishChanges(spark: SparkSession, tableDir: String,
      wapId: String): (Long, Long) = {
    val staged = snapshotSummaries(spark, tableDir)
      .collectFirst { case (id, _, kv) if kv.get("wap.id")
        .contains(wapId) => id }
      .getOrElse(sys.error(
        s"publishChanges($tableDir): no staged snapshot carries " +
          s"wap.id '$wapId'"))
    (staged, cherryPick(spark, tableDir, staged))
  }

  /** Create or move a named ref (Iceberg's create_tag / create_branch /
    * replace_tag): point `name` at a snapshot in history — the current
    * head when none is given. Metadata-only; `main` is refused (it is
    * the published head, moved by commits / rollback / fastForward, not
    * by ref DDL). Returns the snapshot the ref points at.
    *
    * @param maxRefAgeMs spec `max-ref-age-ms` — how long the REF itself
    *   lives (branches and tags)
    * @param minSnapshotsToKeep / @param maxSnapshotAgeMs branch-only
    *   snapshot-retention knobs (spec `min-snapshots-to-keep`,
    *   `max-snapshot-age-ms`); refused on tags, as in Iceberg's DDL. */
  def setRef(spark: SparkSession, tableDir: String, name: String,
      kind: String, snapshotId: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None): Long =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    require(kind == "tag" || kind == "branch",
      s"setRef: kind must be 'tag' or 'branch', got '$kind'")
    require(name != "main",
      "refusing to redefine 'main' (commits and rollback own it)")
    require(kind == "branch" ||
      (minSnapshotsToKeep.isEmpty && maxSnapshotAgeMs.isEmpty),
      "setRef: snapshot-retention fields apply to BRANCHES only")
    val b = new CommitBase(spark, tableDir)
    require(b.snaps.nonEmpty, s"setRef($tableDir): table has no snapshots")
    val target = snapshotId.getOrElse(b.curId)
    require(b.snaps.exists(_.id == target),
      s"setRef($tableDir): no snapshot $target in history " +
        s"(have: ${b.snaps.map(_.id).mkString(", ")})")
    val retention: Seq[(String, Long)] =
      maxRefAgeMs.map("max-ref-age-ms" -> _).toSeq ++
        minSnapshotsToKeep.map(v => "min-snapshots-to-keep" -> v.toLong) ++
        maxSnapshotAgeMs.map("max-snapshot-age-ms" -> _)
    writeMetadataVersion(b, b.snaps, b.curId,
      (b.refs.filterNot(_._1 == name) :+ ((name, target, kind))).sortBy(_._1),
      refRetention =
        if (retention.isEmpty) Map.empty else Map(name -> retention))
    target
  } }

  /** The KIND ("branch" | "tag") of a named ref, None when absent — the
    * existence probe the ref DDL commands branch on. */
  def refKind(spark: SparkSession, tableDir: String,
      name: String): Option[String] =
    refs(spark, tableDir).collectFirst { case (n, _, k) if n == name => k }

  /** Per-ref retention fields from the metadata document (spec "Refs"):
    * name → (max-ref-age-ms, min-snapshots-to-keep, max-snapshot-age-ms).
    * Refs without the fields map to (None, None, None) — the defaults
    * expire applies are Iceberg's (refs live forever, branches keep
    * their head only). */
  def refRetention(spark: SparkSession, tableDir: String)
      : Map[String, (Option[Long], Option[Int], Option[Long])] =
    refRetentionOf(readMetadata(spark, tableDir))

  private def refRetentionOf(meta: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, (Option[Long], Option[Int], Option[Long])] = {
    val node = meta.get("refs")
    if (node == null || !node.isObject) return Map.empty
    val out = Map.newBuilder[String, (Option[Long], Option[Int], Option[Long])]
    node.fields().forEachRemaining { e =>
      def l(k: String): Option[Long] = Option(e.getValue.get(k))
        .filter(_.canConvertToLong).map(_.asLong())
      out += e.getKey -> ((l("max-ref-age-ms"),
        l("min-snapshots-to-keep").map(_.toInt), l("max-snapshot-age-ms")))
    }
    out.result()
  }

  /** Drop a named ref (the DROP BRANCH/TAG of a failed audit): the
    * snapshot it pointed at stays in history — expireSnapshots reclaims
    * it later — only the NAME goes. `main` is refused, like Iceberg's
    * drop_branch; the current-snapshot-id pointer is independent of
    * refs and never moves here. */
  def dropRef(spark: SparkSession, tableDir: String, name: String): Unit =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    require(name != "main", "refusing to drop 'main' (roll back instead)")
    val b = new CommitBase(spark, tableDir)
    require(b.refs.exists(_._1 == name), s"no ref named '$name' in $tableDir")
    writeMetadataVersion(b, b.snaps, b.curId, b.refs.filterNot(_._1 == name))
  } }

  /** Publish a staged branch: fast-forward `to` (default the table head
    * + `main`) onto `from`'s snapshot — metadata-only, nothing moves on
    * disk. The audit step between [[stageAppend]] and this call reads
    * the staged snapshot via its ref
    * ([[IcebergManifestSource.refSnapshotId]]) without ever exposing it
    * to table readers. Returns the published snapshot id. */
  def fastForward(spark: SparkSession, tableDir: String,
      from: String, to: String = "main"): Long =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    val b = new CommitBase(spark, tableDir)
    val target = b.refs.collectFirst { case (`from`, id, _) => id }
      .getOrElse(sys.error(s"no ref named '$from' in $tableDir"))
    writeMetadataVersion(b, b.snaps, target,
      (b.refs.filterNot(_._1 == to) :+ ((to, target, "branch"))).sortBy(_._1))
    target
  } }

  /** PARTITION SPEC EVOLUTION (spec "Partition Evolution"): append
    * `fields` — the COMPLETE field list of the evolved spec, as
    * (field-name, transform, source-id) — as a new spec with id
    * max+1 and make it the table default. Metadata-only: no file is
    * touched; existing manifests keep the spec ids their manifest-list
    * rows record, the commit carry keeps them per entry, and the
    * producer files future adds under the new default while re-filing
    * old entries under their original specs — so readers
    * interpret every file's partition values with the spec it was
    * written under. Field-ids continue above the highest already
    * assigned (evolution never reuses one, spec rule). Returns the new
    * spec id. */
  def evolvePartitionSpec(spark: SparkSession, tableDir: String,
      fields: Seq[(String, String, Int)]): Int =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    // an EMPTY field list is legal: dropping the last partition field
    // evolves to the unpartitioned spec (still a fresh spec id)
    val base = metaBase(spark, tableDir)
    val mapper = graft.Json.mapper
    val root = mapper.readTree(base.file).asInstanceOf[ObjectNode]
    val arr = mapper.createArrayNode()
    var maxSpec = -1
    var maxField = 999
    val orig = root.get("partition-specs")
    if (orig != null && orig.isArray) orig.forEach { n =>
      arr.add(n)
      maxSpec = math.max(maxSpec,
        Option(n.get("spec-id")).map(_.asInt()).getOrElse(0))
      val fs = n.get("fields")
      if (fs != null && fs.isArray) fs.forEach { f =>
        maxField = math.max(maxField,
          Option(f.get("field-id")).map(_.asInt()).getOrElse(999)) }
    }
    if (maxSpec < 0) {
      // no specs recorded yet: materialize spec 0 (the unpartitioned
      // original) so old manifests' implicit spec-id 0 stays resolvable
      val s0 = mapper.createObjectNode()
      s0.put("spec-id", 0)
      s0.set[ArrayNode]("fields", mapper.createArrayNode())
      arr.add(s0)
      maxSpec = 0
    }
    val newId = maxSpec + 1
    val entry = mapper.createObjectNode()
    entry.put("spec-id", newId)
    val fArr = mapper.createArrayNode()
    fields.foreach { case (name, transform, srcId) =>
      maxField += 1
      val f = mapper.createObjectNode()
      f.put("name", name); f.put("transform", transform)
      f.put("source-id", srcId); f.put("field-id", maxField)
      fArr.add(f)
    }
    entry.set[ArrayNode]("fields", fArr)
    arr.add(entry)
    root.set[ArrayNode]("partition-specs", arr)
    root.put("default-spec-id", newId)
    casWrite(tableDir, base, root, "partition spec evolution")
    newId
  } }

  /** Compute and persist the PARTITION STATISTICS file for the current
    * snapshot (Iceberg spec "Partition statistics"): the per-partition
    * rollup every `$partitions` read and per-partition diagnosis
    * recomputes from a manifest scan, materialized ONCE as a KB-sized
    * parquet file under `metadata/` and registered in the metadata
    * document's `partition-statistics` array ({snapshot-id,
    * statistics-path, file-size-in-bytes} — entries for other snapshots
    * survive, a same-snapshot entry is replaced). At 100 TB the
    * 9-metric report over thousands of tables wants this file, not a
    * per-run manifest re-scan: [[MetadataTables.partitions]] serves
    * from it while it is FRESH (registered for the exact current
    * snapshot) and falls back to the manifest scan the moment a commit
    * advances the table. Returns (statsPath, snapshotId, nPartitions). */
  def computePartitionStats(spark: SparkSession,
      tableDir: String): (String, Long, Long) =
    computePartitionStatsMode(spark, tableDir, "auto") match {
      case (p, s, n, _) => (p, s, n)
    }

  /** @param mode "full" recomputes from the current snapshot's manifest
    *   scan; "auto" goes INCREMENTAL when a prior stats file exists for
    *   an ancestor snapshot: manifest REUSE means unchanged manifests
    *   are shared BY PATH across snapshots, so the stats delta is
    *   exactly the entries of the manifests in the two lists' symmetric
    *   difference — added manifests add, dropped manifests subtract,
    *   and the update costs O(changed manifests), not O(table). The
    *   spec pins incremental == full bit-for-bit. Returns
    *   (statsPath, snapshotId, nPartitions, armUsed). */
  def computePartitionStatsMode(spark: SparkSession,
      tableDir: String, mode: String): (String, Long, Long, String) =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    require(mode == "auto" || mode == "full",
      s"computePartitionStats: mode must be auto|full, got '$mode'")
    val b = new CommitBase(spark, tableDir)
    val all = b.snaps
    require(all.nonEmpty,
      s"computePartitionStats($tableDir): table has no snapshots")
    val cur = b.curId
    val statsSchema = "partition STRING, file_count BIGINT, " +
      "record_count BIGINT, total_size BIGINT, " +
      "position_delete_file_count BIGINT, " +
      "equality_delete_file_count BIGINT, last_updated_snapshot_id BIGINT"
    // prior stats usable for the incremental arm: registered for an
    // ANCESTOR snapshot that is still in history, file still on disk
    val prior: Option[(Long, String)] =
      if (mode != "auto") None
      else {
        val arr = b.root.get("partition-statistics")
        if (arr == null || !arr.isArray) None
        else {
          val ids = all.map(_.id)
          var best: Option[(Long, String)] = None
          arr.forEach { nd =>
            val sid = Option(nd.get("snapshot-id"))
              .filter(_.canConvertToLong).map(_.asLong())
            val p = Option(nd.get("statistics-path")).map(_.asText())
            (sid, p) match {
              case (Some(id), Some(path))
                if id != cur && ids.contains(id) &&
                  new java.io.File(path).exists() &&
                  best.forall(b => ids.indexOf(id) > ids.indexOf(b._1)) =>
                best = Some((id, path))
              case _ => ()
            }
          }
          best
        }
      }
    def manifestsOfSnap(id: Long): Seq[(String, Long)] =
      all.find(_.id == id).toSeq.flatMap(s => IcebergManifestSource
        .manifestPathSeqs(spark.sparkContext.hadoopConfiguration, s.listPath))
    val (rollup0, arm) = prior match {
      case Some((baseId, basePath)) =>
        val before = manifestsOfSnap(baseId)
        val after = manifestsOfSnap(cur)
        val beforeSet = before.map(_._1).toSet
        val afterSet = after.map(_._1).toSet
        val added = after.filterNot(m => beforeSet.contains(m._1))
        val removed = before.filterNot(m => afterSet.contains(m._1))
        def signedRollup(ms: Seq[(String, Long)], sign: Long) =
          MetadataTables.rollupOf(
            IcebergManifestSource.statsFromManifestSeqs(spark, ms, "t", Nil)
              .select(col("content"),
                col("partitionKey").as("partition"),
                col("record_count"),
                col("sizeBytes").as("file_size_in_bytes")))
            .select(col("partition"),
              (col("file_count") * sign).as("file_count"),
              (col("record_count") * sign).as("record_count"),
              (col("total_size") * sign).as("total_size"),
              (col("position_delete_file_count") * sign)
                .as("position_delete_file_count"),
              (col("equality_delete_file_count") * sign)
                .as("equality_delete_file_count"))
        val old = spark.read.schema(statsSchema).parquet(basePath)
          .drop("last_updated_snapshot_id")
        val parts = Seq(Some(old),
          if (added.isEmpty) None else Some(signedRollup(added, 1L)),
          if (removed.isEmpty) None else Some(signedRollup(removed, -1L)))
          .flatten
        val merged = parts.reduce(_ unionByName _)
          .groupBy(col("partition"))
          .agg(sum(col("file_count")).as("file_count"),
            sum(col("record_count")).as("record_count"),
            sum(col("total_size")).as("total_size"),
            sum(col("position_delete_file_count"))
              .as("position_delete_file_count"),
            sum(col("equality_delete_file_count"))
              .as("equality_delete_file_count"))
          // a partition whose every file left the table drops, exactly
          // as a full recompute would never emit it
          .filter(col("file_count") + col("position_delete_file_count") +
            col("equality_delete_file_count") > 0)
        (merged, "incremental")
      case None =>
        (MetadataTables.partitionsFromManifests(spark, tableDir), "full")
    }
    val rollup = rollup0
      .withColumn("last_updated_snapshot_id", lit(cur))
      .sort(col("partition"))
    val m = metaDir(tableDir)
    val f = freshFile(m, s"partition-stats-$cur.parquet")
    val n = IcebergLayoutWriter.writeSingleParquet(rollup, f)
    // register under `partition-statistics`: read-modify-write of the
    // pinned document + version CAS, like every commit
    import com.fasterxml.jackson.databind.node.ArrayNode
    val root = b.root
    val arr = root.arrayNode()
    val orig = root.get("partition-statistics")
    if (orig != null && orig.isArray) orig.forEach { nd =>
      val sid = nd.get("snapshot-id")
      if (sid == null || !sid.canConvertToLong || sid.asLong() != cur)
        arr.add(nd)
    }
    val entry = root.objectNode()
    entry.put("snapshot-id", cur)
    entry.put("statistics-path", f.getAbsolutePath)
    entry.put("file-size-in-bytes", f.length())
    arr.add(entry)
    root.set[ArrayNode]("partition-statistics", arr)
    casWrite(tableDir, b.meta, root, "partition statistics")
    (f.getAbsolutePath, cur, n, arm)
  } }

  /** The registered partition-statistics file for `snapshotId` (the
    * CURRENT snapshot when None) — None when absent, STALE (registered
    * for a different snapshot than the one being read), or deleted.
    * The exact-snapshot rule is what makes serving from it safe: an
    * entry describes exactly its snapshot's file set, so a pinned
    * time-travel read may serve from a matching entry too. */
  def freshPartitionStats(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None): Option[String] = {
    val root = readMetadata(spark, tableDir)
    val target = snapshotId.orElse(
      Option(root.get("current-snapshot-id"))
        .filter(_.canConvertToLong).map(_.asLong()))
      .getOrElse(return None)
    val arr = root.get("partition-statistics")
    if (arr == null || !arr.isArray) return None
    var out: Option[String] = None
    arr.forEach { nd =>
      val sid = nd.get("snapshot-id")
      val p = nd.get("statistics-path")
      if (sid != null && sid.canConvertToLong && sid.asLong() == target &&
          p != null && new java.io.File(p.asText()).exists())
        out = Some(p.asText())
    }
    out
  }

  /** Register a statistics file (e.g. a [[PuffinIO]] container) for a
    * snapshot in the metadata `statistics` array (spec "Table
    * statistics"): read-modify-write the current document — existing
    * statistics entries for OTHER snapshots survive, an entry for the
    * same snapshot is replaced — and bump the version. Returns the new
    * metadata version. */
  def attachStatistics(spark: SparkSession, tableDir: String,
      snapshotId: Long, statsFile: java.io.File,
      blobMeta: Seq[(String, Seq[Int], Map[String, String])]): Long =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val base = metaBase(spark, tableDir)
    val mapper = graft.Json.mapper
    val root = mapper.readTree(base.file).asInstanceOf[ObjectNode]
    val arr = mapper.createArrayNode()
    val orig = root.get("statistics")
    if (orig != null && orig.isArray) orig.forEach { n =>
      val sid = n.get("snapshot-id")
      if (sid == null || !sid.canConvertToLong || sid.asLong() != snapshotId)
        arr.add(n)
    }
    val entry = mapper.createObjectNode()
    entry.put("snapshot-id", snapshotId)
    entry.put("statistics-path", statsFile.getAbsolutePath)
    entry.put("file-size-in-bytes", statsFile.length())
    val blobs = mapper.createArrayNode()
    blobMeta.foreach { case (tpe, fields, props) =>
      val b = mapper.createObjectNode()
      b.put("type", tpe)
      val fs = mapper.createArrayNode(); fields.foreach(fs.add); b.set[ArrayNode]("fields", fs)
      b.put("snapshot-id", snapshotId)
      val p = mapper.createObjectNode()
      props.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
      b.set[ObjectNode]("properties", p)
      blobs.add(b)
    }
    entry.set[ArrayNode]("blob-metadata", blobs)
    arr.add(entry)
    root.set[ArrayNode]("statistics", arr)
    casWrite(tableDir, base, root, "table statistics")
  } }
}
