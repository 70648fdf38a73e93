package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.IcebergManifestSource.localPath

/** CDC (change-data-capture) STREAMING reads:
  * `spark.readStream.format("graft-iceberg").option("read-changes",
  * "true").load(tableDir)` emits CHANGE ROWS instead of table state —
  * every output row is the table schema plus `_change_type`
  * ("insert" | "delete") and `_commit_snapshot_id` (which commit
  * produced it). Per commit in the offset range:
  *
  *   - an added DATA file → its rows as inserts;
  *   - an added EQUALITY-delete file → its key tuples as deletes (key
  *     columns populated from the file, every other column null — the
  *     keys are resolved from the entry's spec `equality_ids`);
  *   - an added POSITION-delete file → the DELETED ROWS THEMSELVES,
  *     read back from the target data files at the tombstoned
  *     ordinals, as full-width deletes.
  *
  * The stream STARTS AT THE CURRENT HEAD (only commits after stream
  * start produce batches — Iceberg's stream-from-latest idiom); replay
  * a history through [[graft.sources.IcebergManifestSource.changesBetween]]
  * batch-side if the past matters. Commits that REMOVE data files
  * (rewrites, overwrites) refuse loudly: compaction is a physical
  * no-op a CDC consumer must not see, and distinguishing it from a
  * semantic overwrite needs commit-operation metadata this dialect
  * doesn't record — pause CDC across maintenance, as Iceberg's own
  * changelog reads require.
  *
  * At 100 TB the per-trigger bill is the CHANGE SET: planning is one
  * metadata diff per commit; each task reads one changed file (plus,
  * for position deletes, the tombstoned slices of its targets). */
private[v2] class GraftChangelogStream(dir: String, baseSchema: StructType)
    extends MicroBatchStream {

  private def spark = SparkSession.active

  private def currentSnapshot: Long =
    graft.sources.LayoutMaintenance.currentSnapshot(spark, dir)
      .getOrElse(0L)

  /** Stream-from-latest: the initial offset is the CURRENT head, so the
    * first batch is the first commit made after the stream started. */
  override def initialOffset(): Offset = GraftSnapOffset(currentSnapshot)

  override def latestOffset(): Offset = GraftSnapOffset(currentSnapshot)

  override def deserializeOffset(json: String): Offset =
    GraftSnapOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftSnapOffset].snapshotId
    val to = end.asInstanceOf[GraftSnapOffset].snapshotId
    if (to == from) return Array.empty
    val ids = graft.sources.LayoutMaintenance.snapshotIds(spark, dir)
      .filter(id => id > from && id <= to).sorted
    val steps = (from +: ids).zip(ids) // (prev, sid) commit steps
    steps.flatMap { case (prev, sid) =>
      partitionsForCommit(prev, sid)
    }.toArray
  }

  /** The change partitions of ONE commit: diff the file sets of `prev`
    * and `sid` (metadata-sized), route each added file by content. A
    * commit that adds BOTH data files and position tombstones (the MOR
    * UPDATE shape) routes through ONE pairing partition instead, which
    * joins old and new row versions on v3 row lineage and emits
    * `update_before`/`update_after` pairs (Iceberg's changelog UPDATE
    * rows); pre-lineage snapshots fall back to insert/delete inside
    * the reader (null row ids never pair). */
  private def partitionsForCommit(prev: Long,
      sid: Long): Seq[InputPartition] = {
    import org.apache.spark.sql.functions.col
    // (path → (content, equality_ids, sequence_number, first_row_id))
    def entries(id: Long)
        : Map[String, (Int, Seq[Int], Long, java.lang.Long)] =
      if (id == 0L) Map.empty
      else graft.sources.IcebergManifestSource
        .statsFromTableDir(spark, dir, "t", Nil, Some(id))
        .select(col("file_path"), col("content"), col("equality_ids"),
          col("sequence_number"), col("first_row_id"))
        .collect()
        .map(r => r.getString(0) -> ((r.getInt(1),
          Option(r.getAs[scala.collection.Seq[Int]](2))
            .map(_.toSeq).getOrElse(Seq.empty),
          r.getLong(3),
          if (r.isNullAt(4)) null else Long.box(r.getLong(4)))))
        .toMap
    val before = entries(prev)
    val after = entries(sid)
    val removedData = (before.keySet -- after.keySet)
      .filter(p => before(p)._1 == 0)
    require(removedData.isEmpty,
      s"graft-iceberg read-changes($dir): commit $sid removes data files " +
        s"(${removedData.take(3).mkString(", ")}…) — a rewrite/overwrite " +
        "is not expressible as CDC rows here. Pause the changelog stream " +
        "across maintenance commits.")
    // DELETE-FILE maintenance (rewrite_position_deletes consolidating
    // tombstones): the commit's logical content is unchanged, and its
    // ADDED delete files restate tombstones earlier commits already
    // emitted — re-reading them would duplicate every delete event. A
    // pure delete-file swap is a CDC no-op; one that also adds data
    // files is ambiguous and refuses like the data-removal case above.
    val removedDeletes = (before.keySet -- after.keySet)
      .filter(p => before(p)._1 != 0)
    if (removedDeletes.nonEmpty) {
      val addedData = (after.keySet -- before.keySet)
        .filter(p => after(p)._1 == 0)
      require(addedData.isEmpty,
        s"graft-iceberg read-changes($dir): commit $sid swaps delete " +
          "files while adding data files — not expressible as CDC rows. " +
          "Pause the changelog stream across maintenance commits.")
      return Seq.empty
    }
    val added = (after.keySet -- before.keySet).toSeq.sorted
    val addedData = added.filter(p => after(p)._1 == 0)
    val addedPos = added.filter(p => after(p)._1 == 1)
    val eqParts: Seq[InputPartition] =
      added.filter(p => after(p)._1 == 2).map { p =>
        val ids = after(p)._2
        val keys = ids.flatMap { id =>
          if (id >= 1 && id <= baseSchema.length)
            Some(baseSchema.fields(id - 1).name)
          else None
        }
        require(keys.nonEmpty && keys.length == ids.length,
          s"graft-iceberg read-changes($dir): equality-delete file $p " +
            "carries no resolvable equality_ids; its deletes cannot be " +
            "emitted as change rows.")
        ChangeEqDeletePartition(p, keys, sid): InputPartition
      }
    added.find(p => !Set(0, 1, 2)(after(p)._1)).foreach(p =>
      sys.error(s"unknown content ${after(p)._1} for $p"))
    if (addedData.nonEmpty && addedPos.nonEmpty) {
      // MOR UPDATE shape: one pairing partition joins the deleted and
      // inserted row versions on `_row_id`. Planning reads the commit's
      // tombstone files (delete-set-sized) to learn the target data
      // files, whose (first_row_id, seq) resolve the old rows' ids.
      val targets = addedPos.flatMap(p =>
        GraftPartitionReader.posMapOf(p).keySet).distinct.sorted
      val norm = after.map { case (p, v) =>
        localPath(p) -> v }
      val targetMeta: Seq[(String, java.lang.Long, Long)] =
        targets.flatMap { t =>
          norm.get(t).map(v => (t, v._4, v._3))
        }
      val dataMeta: Seq[(String, java.lang.Long, Long)] =
        addedData.map(p => (p, after(p)._4, after(p)._3))
      eqParts :+ (ChangeUpdatePairPartition(dataMeta, addedPos,
        targetMeta, sid): InputPartition)
    } else eqParts ++ added.flatMap { p =>
      after(p)._1 match {
        case 0 => Some(ChangeInsertPartition(p, sid): InputPartition)
        case 1 => Some(ChangePosDeletePartition(p, sid): InputPartition)
        case _ => None // eq handled above
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftChangelogReaderFactory(baseSchema)
}

private[v2] object GraftChangelogStream {
  val ChangeTypeColumn = "_change_type"
  val CommitSnapshotColumn = "_commit_snapshot_id"

  def cdcSchema(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      StructField(ChangeTypeColumn, StringType, nullable = false),
      StructField(CommitSnapshotColumn, LongType, nullable = false)))
}

/** The WHOLE history as change rows, batch-shaped — what
  * `SELECT * FROM cat.db.t.changes` serves: every commit from the first
  * snapshot to the head contributes its change partitions (the same
  * routing as the stream). One relation, ordered by
  * `_commit_snapshot_id` if the consumer sorts; planning is one
  * metadata diff per commit. */
private[v2] class GraftChangelogBatchScan(dir: String,
    baseSchema: StructType)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read.Batch

  override def readSchema(): StructType =
    GraftChangelogStream.cdcSchema(baseSchema)

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = new GraftChangelogStream(dir, baseSchema)

  override def description(): String =
    s"GraftChangelogScan(`$dir`) full-history change rows"

  override def planInputPartitions(): Array[InputPartition] = {
    val stream = new GraftChangelogStream(dir, baseSchema)
    val head = graft.sources.LayoutMaintenance
      .currentSnapshot(SparkSession.active, dir).getOrElse(0L)
    stream.planInputPartitions(GraftSnapOffset(0L), GraftSnapOffset(head))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftChangelogReaderFactory(baseSchema)
}

private[v2] case class ChangeInsertPartition(path: String, snapshotId: Long)
    extends InputPartition
private[v2] case class ChangeEqDeletePartition(path: String,
    keyCols: Seq[String], snapshotId: Long) extends InputPartition
private[v2] case class ChangePosDeletePartition(path: String,
    snapshotId: Long) extends InputPartition
/** One MOR-UPDATE-shaped commit's whole change set, paired on v3 row
  * lineage: `dataFiles` / `targetMeta` carry (path, first_row_id,
  * sequence_number) so the readers resolve each row's `_row_id`. */
private[v2] case class ChangeUpdatePairPartition(
    dataFiles: Seq[(String, java.lang.Long, Long)],
    posDeleteFiles: Seq[String],
    targetMeta: Seq[(String, java.lang.Long, Long)],
    snapshotId: Long) extends InputPartition

/** Emits (table columns…, _change_type, _commit_snapshot_id) rows. */
private[v2] class GraftChangelogReaderFactory(baseSchema: StructType)
    extends PartitionReaderFactory {

  private val width = baseSchema.length + 2

  private def internalize(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    // prim's BINARY/FIXED comparable — InternalRow wants the raw bytes
    case b: java.nio.ByteBuffer =>
      val d = b.duplicate()
      val out = new Array[Byte](d.remaining()); d.get(out); out
    case other => other
  }

  private def stamped(values: Array[Any], change: String,
      sid: Long): InternalRow = {
    val out = new Array[Any](width)
    System.arraycopy(values, 0, out, 0, baseSchema.length)
    out(width - 2) = UTF8String.fromString(change)
    out(width - 1) = sid
    new GenericInternalRow(out)
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = partition match {

    case ChangeInsertPartition(path, sid) =>
      new PartitionReader[InternalRow] {
        private val inner = new GraftPartitionReader(
          GraftFilePartition(path), baseSchema)
        override def next(): Boolean = inner.next()
        override def get(): InternalRow = {
          val r = inner.get()
          val vals = new Array[Any](baseSchema.length)
          var i = 0
          while (i < baseSchema.length) {
            vals(i) = r.get(i, baseSchema.fields(i).dataType); i += 1
          }
          stamped(vals, "insert", sid)
        }
        override def close(): Unit = inner.close()
      }

    case ChangeEqDeletePartition(path, keys, sid) =>
      new PartitionReader[InternalRow] {
        private val rows = GraftPartitionReader.readRows(path, keys)
        private var cur: org.apache.parquet.example.data.Group = _
        override def next(): Boolean = {
          if (!rows.hasNext) return false
          cur = rows.next(); true
        }
        override def get(): InternalRow = {
          val vals = new Array[Any](baseSchema.length)
          var i = 0
          while (i < baseSchema.length) {
            val name = baseSchema.fields(i).name
            vals(i) =
              if (keys.contains(name))
                internalize(GraftPartitionReader.prim(cur, name))
              else null
            i += 1
          }
          stamped(vals, "delete", sid)
        }
        override def close(): Unit = ()
      }

    case ChangeUpdatePairPartition(dataFiles, posFiles, targetMeta, sid) =>
      new PartitionReader[InternalRow] {
        // STREAMING pairing with O(tombstone-count) memory: a deleted
        // row pairs only when an inserted row carries the SAME
        // `_row_id`, and an insert can only carry an old id when its
        // file MATERIALIZES the lineage column (the update-written
        // delta files) — synthesized ids (first_row_id + pos) are
        // freshly allocated at this commit and never match. So the
        // pairable set = {deleted-row ids} ∩ {materialized insert ids},
        // both bounded by the commit's tombstone/update cardinality —
        // computed up front from the tombstones plus a lineage-COLUMN
        // projection of the added files (their payload pages are never
        // decoded), after which both sides STREAM, labeling per row.
        private val withId = StructType(baseSchema.fields :+
          StructField(GraftTable.RowIdMetadataColumn, LongType))
        private val idOnly = StructType(Seq(
          StructField(GraftTable.RowIdMetadataColumn, LongType)))

        private def readerOf(path: String, fri: java.lang.Long,
            seq: Long, required: StructType): PartitionReader[InternalRow] = {
          val part = GraftFilePartition(path,
            fileFormat = GraftFormatWriters.formatOf(path),
            dataSeq = seq, firstRowId = fri)
          if (part.fileFormat == "PARQUET")
            new GraftPartitionReader(part, required)
          else new GraftRowPartitionReader(part, required)
        }

        // target file → tombstoned ordinals (all this commit's
        // tombstone files folded; DV blobs decode the same way)
        private val deadByTarget: Seq[(String, Set[Long])] = posFiles
          .flatMap(p => GraftPartitionReader.posMapOf(p).toSeq)
          .groupBy(_._1).view
          .mapValues(_.flatMap(_._2).toSet).toSeq.sortBy(_._1)
        private val metaOf = targetMeta.map(t => t._1 -> ((t._2, t._3))).toMap

        /** Resolved `_row_id` per kept ordinal (null id = null), via a
          * lineage-column projection — payload columns never decoded,
          * and the ids STREAM (the caller filters before collecting). */
        private def idsOf(path: String, fri: java.lang.Long, seq: Long,
            keep: Long => Boolean): Iterator[java.lang.Long] = {
          val r = readerOf(path, fri, seq, idOnly)
          var idx = -1L
          new Iterator[java.lang.Long] {
            private var nextId: java.lang.Long = _
            private var open = true
            private def advance(): Unit = {
              while (open && r.next()) {
                idx += 1
                if (keep(idx)) {
                  nextId = if (r.get().isNullAt(0)) null
                    else Long.box(r.get().getLong(0))
                  return
                }
              }
              if (open) { r.close(); open = false }
              nextId = null
            }
            advance()
            override def hasNext: Boolean = open
            override def next(): java.lang.Long = {
              val out = nextId; advance(); out
            }
          }
        }

        /** Does the FILE physically materialize the lineage column?
          * Footer/header-grain probe, cached per path — files that
          * don't have fully SYNTHESIZED ids (first_row_id + pos),
          * computable from the manifest with no data read at all. */
        private val lineageCol = GraftTable.RowIdMetadataColumn
        private val matCache =
          scala.collection.mutable.HashMap.empty[String, Boolean]
        private def materializesLineage(path: String): Boolean =
          matCache.getOrElseUpdate(path, {
            import scala.jdk.CollectionConverters._
            GraftFormatWriters.formatOf(path) match {
              case "ORC" =>
                val r = org.apache.orc.OrcFile.createReader(
                  new org.apache.hadoop.fs.Path(path),
                  org.apache.orc.OrcFile.readerOptions(
                    new org.apache.hadoop.conf.Configuration()))
                try r.getSchema.getFieldNames.asScala.contains(lineageCol)
                finally r.close()
              case "AVRO" =>
                val r = new org.apache.avro.file.DataFileReader[
                  org.apache.avro.generic.GenericRecord](
                  new java.io.File(path),
                  new org.apache.avro.generic.GenericDatumReader[
                    org.apache.avro.generic.GenericRecord]())
                try r.getSchema.getField(lineageCol) != null
                finally r.close()
              case _ =>
                val in = org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromPath(new org.apache.hadoop.fs.Path(path),
                    new org.apache.hadoop.conf.Configuration())
                val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                try r.getFooter.getFileMetaData.getSchema
                  .containsField(lineageCol)
                finally r.close()
            }
          })

        private val updatedIds: Set[Long] = {
          val delIds: Set[Long] = deadByTarget.iterator.flatMap {
            case (t, dead) =>
              val (fri, seq) = metaOf.getOrElse(t, (null, 0L))
              if (materializesLineage(t))
                idsOf(t, fri, seq, dead.contains)
                  .filter(_ != null).map(_.longValue)
              else if (fri != null) dead.iterator.map(fri.longValue + _)
              else Iterator.empty
          }.toSet
          // only MATERIALIZING insert files can carry an old row's id —
          // synthesized ids are freshly allocated at this commit
          if (delIds.isEmpty) Set.empty
          else dataFiles.iterator.filter(f => materializesLineage(f._1))
            .flatMap { case (p, fri, seq) => idsOf(p, fri, seq, _ => true) }
            .filter(_ != null).map(_.longValue).filter(delIds).toSet
        }

        private def tag(row: InternalRow, paired: String, plain: String) =
          if (!row.isNullAt(baseSchema.length) &&
              updatedIds(row.getLong(baseSchema.length))) paired else plain

        private def project(row: InternalRow): Array[Any] = {
          val vals = new Array[Any](baseSchema.length)
          var i = 0
          while (i < baseSchema.length) {
            vals(i) = row.get(i, baseSchema.fields(i).dataType); i += 1
          }
          vals
        }

        // old rows stream target by target at the dead ordinals, then
        // insert rows stream file by file — nothing row-shaped buffers
        private val emitted: Iterator[InternalRow] =
          deadByTarget.iterator.flatMap { case (t, dead) =>
            val (fri, seq) = metaOf.getOrElse(t, (null, 0L))
            val r = readerOf(t, fri, seq, withId)
            var idx = -1L
            new Iterator[InternalRow] {
              private var nextRow: InternalRow = advance()
              private def advance(): InternalRow = {
                while (r.next()) {
                  idx += 1
                  if (dead.contains(idx)) {
                    val row = r.get()
                    return stamped(project(row),
                      tag(row, "update_before", "delete"), sid)
                  }
                }
                r.close(); null
              }
              override def hasNext: Boolean = nextRow != null
              override def next(): InternalRow = {
                val out = nextRow; nextRow = advance(); out
              }
            }
          } ++ dataFiles.iterator.flatMap { case (p, fri, seq) =>
            val r = readerOf(p, fri, seq, withId)
            new Iterator[InternalRow] {
              private var nextRow: InternalRow = advance()
              private def advance(): InternalRow =
                if (r.next()) {
                  val row = r.get()
                  stamped(project(row), tag(row, "update_after", "insert"),
                    sid)
                } else { r.close(); null }
              override def hasNext: Boolean = nextRow != null
              override def next(): InternalRow = {
                val out = nextRow; nextRow = advance(); out
              }
            }
          }

        private var row: InternalRow = _
        override def next(): Boolean = {
          if (!emitted.hasNext) return false
          row = emitted.next(); true
        }
        override def get(): InternalRow = row
        override def close(): Unit = ()
      }

    case ChangePosDeletePartition(path, sid) =>
      new PartitionReader[InternalRow] {
        // (target file → tombstoned ordinals), then walk each target
        // emitting exactly those rows; a deletion-vector commit (Puffin,
        // Iceberg-v3 shape) decodes to the same map, one blob per target
        private val byTarget: Seq[(String, Set[Long])] =
          (if (graft.sources.DeletionVectors.isDvPath(path))
            graft.sources.DeletionVectors.read(new java.io.File(path))
              .map { case (t, ps) =>
                (localPath(t), ps.toSet) }
          else
            GraftPartitionReader.readRows(path, Seq("file_path", "pos"))
              .map(g => (localPath(String.valueOf(
                  GraftPartitionReader.prim(g, "file_path"))),
                GraftPartitionReader.prim(g, "pos").asInstanceOf[Long]))
              .toSeq.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
              .toSeq).sortBy(_._1)
        private val targets = byTarget.iterator
        private var reader: GraftPartitionReader = _
        private var positions: Set[Long] = Set.empty
        private var idx: Long = -1L
        private var row: InternalRow = _

        override def next(): Boolean = {
          while (true) {
            if (reader == null) {
              if (!targets.hasNext) return false
              val (t, ps) = targets.next()
              reader = new GraftPartitionReader(
                GraftFilePartition(t), baseSchema)
              positions = ps; idx = -1L
            }
            while (reader.next()) {
              idx += 1
              if (positions.contains(idx)) {
                val r = reader.get()
                val vals = new Array[Any](baseSchema.length)
                var i = 0
                while (i < baseSchema.length) {
                  vals(i) = r.get(i, baseSchema.fields(i).dataType); i += 1
                }
                row = stamped(vals, "delete", sid)
                return true
              }
            }
            reader.close(); reader = null
          }
          false
        }
        override def get(): InternalRow = row
        override def close(): Unit = if (reader != null) reader.close()
      }
  }
}
