package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 batch: maintenance that RESPECTS the table's declared
  * physical format, and tombstone-shape maintenance —
  *
  *  - format-preserving maintenance (q277): every data-moving
  *    maintenance commit (bin-pack groups, full rewrites, COW/upsert
  *    outputs) emits the table's `write.format.default` instead of
  *    silently normalizing an ORC/AVRO-default table to parquet on its
  *    first compaction (reference: the spec's per-entry `file_format`
  *    manifest field iceberg-diag walks — `iceberg_diag/manager.py` —
  *    which q270 honors on INSERT and this round honors on REWRITE).
  *
  * Oracle-parity conventions as in [[Queries]]: identical aliases both
  * sides, integer aggregates, full ORDER BY tie-breaks.
  */
object Queries16 {

  private def t(dir: String, name: String)(implicit s: SparkSession): DataFrame =
    Rel.t(dir, name)

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- FORMAT-PRESERVING MAINTENANCE: an ORC-default MOR table
    // accretes 6 small ORC files via SQL; rewrite_small_files folds
    // them and the GROUP FILE IS ORC (pre-round-12 it silently flipped
    // to parquet); a MOR DELETE lands parquet tombstones OVER the ORC
    // group; rewrite_data_files folds the tombstones and the rewritten
    // table is STILL one ORC file. Pinned in-query at each step: the
    // live file_format set stays exactly {ORC} through both rewrites,
    // and the final snapshot holds one data file and zero tombstones.
    // The rollup recomputes in DuckDB from month arithmetic + the
    // delete predicate over the source table alone — a row lost or
    // doubled by either rewrite breaks the hash, not just the pins.
    "q277_format_preserving_compaction" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q277wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.fp")
      s.sql(s"DROP TABLE IF EXISTS $cat.fp.prof")
      t(dir, "orders").createOrReplaceTempView("q277_src")
      s.sql(s"""CREATE TABLE $cat.fp.prof (
               |  okey BIGINT, price BIGINT, mon BIGINT)
               |USING `graft-iceberg` TBLPROPERTIES (
               |  'write.format.default' = 'orc',
               |  'write.delete.mode' = 'merge-on-read')""".stripMargin)
      (1 to 6).foreach { m =>
        s.sql(s"""INSERT INTO $cat.fp.prof
                 |SELECT /*+ COALESCE(1) */ o_orderkey AS okey,
                 |  CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
                 |  CAST(month(o_orderdate) AS BIGINT) AS mon
                 |FROM q277_src WHERE year(o_orderdate) = 1995
                 |  AND month(o_orderdate) = $m""".stripMargin)
      }
      val tdir = s"${wh.getAbsolutePath}/fp/prof"
      def live(content: Int): Seq[(String, String)] =
        graft.sources.IcebergManifestSource
          .statsFromTableDir(s, tdir, "t", Nil)
          .filter(col("content") === content)
          .select("file_path", "file_format").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
      require(live(0).size == 6 && live(0).forall(_._2 == "ORC"),
        s"fixture: 6 ORC inserts expected, got ${live(0)}")
      // bin-pack: the group file must stay ORC (the round's point)
      val r1 = s.sql(
        s"CALL $cat.system.rewrite_small_files('fp.prof')").head
      require(r1.getInt(1) == 6 && r1.getInt(2) == 1,
        s"all 6 small files must fold into one group, got $r1")
      val afterPack = live(0)
      require(afterPack.size == 1 && afterPack.head._2 == "ORC" &&
        afterPack.head._1.endsWith(".orc"),
        s"bin-pack output must preserve ORC: $afterPack")
      // MOR delete over the ORC group: parquet tombstones, data carried
      s.sql(s"DELETE FROM $cat.fp.prof WHERE price >= 300000")
      require(live(0) == afterPack,
        "MOR delete must carry the ORC group verbatim")
      require(live(1).nonEmpty, "the DELETE must land position tombstones")
      // full rewrite folds the tombstones — STILL ORC
      val r2 = s.sql(s"CALL $cat.system.rewrite_data_files('fp.prof', " +
        "sort_by => 'okey')").head
      require(r2.getInt(3) == 1, s"expected one rewritten file, got $r2")
      val afterRw = live(0)
      require(afterRw.size == 1 && afterRw.head._2 == "ORC" &&
        afterRw.head._1.endsWith(".orc"),
        s"rewrite output must preserve ORC: $afterRw")
      require(live(1).isEmpty && live(2).isEmpty,
        "the rewrite must fold every tombstone")
      s.sql(s"""SELECT mon, count(*) AS n_orders,
               |  sum(price) AS sum_price, min(okey) AS min_okey
               |FROM $cat.fp.prof
               |GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- EQ→POS TOMBSTONE CONVERSION (convert_equality_deletes): the
    // q272 streaming-upsert dialect accretes one EQUALITY-delete file
    // per MERGE/DELETE, and every MOR read replays each as a key
    // anti-join; the ecosystem's steady-state cleanup converts them to
    // position tombstones against the CURRENT file set — a small-side
    // join, NO data rewrite (rewriteDataFiles, the only prior way to
    // clear them, rewrites the whole table). Pinned in-query: before
    // conversion $position_deletes is EMPTY and eq files have accreted;
    // after, the data files are carried VERBATIM (path+seq), eq entries
    // are gone, and $position_deletes holds exactly the converted
    // pairs. The read-back recomputes in DuckDB from the source alone,
    // so a pair lost (row resurrect) or over-matched (row vanish)
    // breaks the hash.
    "q278_convert_eq_deletes" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q278wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ec")
      s.sql(s"DROP TABLE IF EXISTS $cat.ec.agg")
      t(dir, "orders").createOrReplaceTempView("q278_src")
      s.sql(s"""CREATE TABLE $cat.ec.agg (
               |  mon BIGINT NOT NULL, prio STRING NOT NULL,
               |  total BIGINT, n BIGINT)
               |USING `graft-iceberg` TBLPROPERTIES (
               |  'write.merge.mode' = 'merge-on-read',
               |  'write.delete.mode' = 'merge-on-read',
               |  'write.delete.granularity' = 'equality',
               |  'identifier.columns' = 'mon,prio')""".stripMargin)
      def rollup(y: Int): String =
        s"""SELECT CAST(month(o_orderdate) AS BIGINT) AS mon,
           |       o_orderpriority AS prio,
           |       CAST(sum(FLOOR(o_totalprice)) AS BIGINT) AS total,
           |       count(*) AS n
           |FROM q278_src WHERE year(o_orderdate) = $y
           |GROUP BY 1, 2""".stripMargin
      s.sql(s"INSERT INTO $cat.ec.agg ${rollup(1995)}")
      def mergeYear(y: Int): Unit =
        s.sql(s"""MERGE INTO $cat.ec.agg tgt
                 |USING (${rollup(y)}) src
                 |ON tgt.mon = src.mon AND tgt.prio = src.prio
                 |WHEN MATCHED THEN UPDATE SET
                 |  total = tgt.total + src.total, n = tgt.n + src.n
                 |WHEN NOT MATCHED THEN INSERT (mon, prio, total, n)
                 |  VALUES (src.mon, src.prio, src.total, src.n)""".stripMargin)
      mergeYear(1996) // streaming-style upserts: one eq file per batch
      mergeYear(1997)
      s.sql(s"DELETE FROM $cat.ec.agg WHERE n % 7 = 0") // eq dialect too
      val tdir = s"${wh.getAbsolutePath}/ec/agg"
      def byContent(c: Int): Seq[(String, Long)] =
        graft.sources.IcebergManifestSource
          .statsFromTableDir(s, tdir, "t", Nil)
          .filter(col("content") === c)
          .select("file_path", "sequence_number").collect()
          .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      require(byContent(2).size >= 3,
        s"fixture: eq tombstones must accrete, got ${byContent(2)}")
      require(s.sql(s"SELECT count(*) FROM $cat.ec.agg.position_deletes")
        .head.getLong(0) == 0L,
        "the eq dialect must start with NO position deletes")
      val dataBefore = byContent(0)
      val r = s.sql(
        s"CALL $cat.system.convert_equality_deletes('ec.agg')").head
      require(r.getInt(1) >= 3 && r.getLong(2) > 0L,
        s"conversion must fold the eq files into live pairs, got $r")
      require(byContent(2).isEmpty, "eq entries must be gone")
      require(byContent(0) == dataBefore,
        "conversion must carry the data files verbatim (path + seq)")
      require(s.sql(s"SELECT count(*) FROM $cat.ec.agg.position_deletes")
        .head.getLong(0) == r.getLong(2),
        "$position_deletes must hold exactly the converted pairs")
      s.sql(s"""SELECT mon, prio, total, n FROM $cat.ec.agg
               |ORDER BY mon, prio""".stripMargin)
    },

    // ---- NESTED STRUCT COLUMNS IN ORC (q271's evolution shape under
    // write.format.default=orc): struct columns were parquet-only until
    // this round — the ORC/AVRO writers refused them. Now a STRUCT
    // table accretes ORC files via SQL, a leaf RENAME is metadata-only
    // (the pre-rename ORC file resolves through the recorded alias — a
    // nested generation fold with no parquet ids to lean on), a
    // post-rename generation lands under the new leaf name, and a MOR
    // DELETE tombstones rows across both ORC generations. Pinned
    // in-query: every data file is ORC, and the delete moved no data
    // (files carried verbatim). The rollup reads the renamed leaf
    // across both generations — DuckDB recomputes from month/price
    // arithmetic alone, so a leaf resolving to the wrong generation or
    // a null-filled pre-rename file breaks the hash.
    "q279_nested_struct_orc" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q279wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
      s.sql(s"DROP TABLE IF EXISTS $cat.ns.prof")
      t(dir, "orders").createOrReplaceTempView("q279_src")
      s.sql(s"""CREATE TABLE $cat.ns.prof (
               |  okey BIGINT, dims STRUCT<price: BIGINT, mon: BIGINT>)
               |USING `graft-iceberg` TBLPROPERTIES (
               |  'write.format.default' = 'orc',
               |  'write.delete.mode' = 'merge-on-read')""".stripMargin)
      s.sql(s"""INSERT INTO $cat.ns.prof
               |SELECT /*+ COALESCE(1) */ o_orderkey AS okey,
               |  named_struct(
               |    'price', CAST(FLOOR(o_totalprice) AS BIGINT),
               |    'mon', CAST(month(o_orderdate) AS BIGINT)) AS dims
               |FROM q279_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val tdir = s"${wh.getAbsolutePath}/ns/prof"
      def live(content: Int): Seq[(String, String)] =
        graft.sources.IcebergManifestSource
          .statsFromTableDir(s, tdir, "t", Nil)
          .filter(col("content") === content)
          .select("file_path", "file_format").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
      val dataBefore = live(0)
      require(dataBefore.size == 1 && dataBefore.forall(_._2 == "ORC"),
        s"the struct generation must be ORC: $dataBefore")
      // MOR delete over the nested ORC file — by a STRUCT LEAF predicate
      s.sql(s"DELETE FROM $cat.ns.prof WHERE dims.price >= 300000")
      require(live(0) == dataBefore,
        "the MOR delete must carry the nested ORC file verbatim")
      require(live(1).nonEmpty, "the DELETE must land position tombstones")
      // leaf RENAME is metadata-only; the second generation lands ORC
      // under the new leaf name, and the final read folds BOTH
      // generations (alias-resolved) with the tombstones still applied
      s.sql(s"ALTER TABLE $cat.ns.prof RENAME COLUMN dims.price TO amount")
      s.sql(s"""INSERT INTO $cat.ns.prof
               |SELECT /*+ COALESCE(1) */ o_orderkey AS okey,
               |  named_struct(
               |    'amount', CAST(FLOOR(o_totalprice) AS BIGINT),
               |    'mon', CAST(month(o_orderdate) AS BIGINT)) AS dims
               |FROM q279_src WHERE year(o_orderdate) = 1996""".stripMargin)
      require(live(0).size == 2 && live(0).forall(_._2 == "ORC"),
        s"both struct generations must be ORC: ${live(0)}")
      require(dataBefore.toSet.subsetOf(live(0).toSet),
        "the pre-rename ORC file must be carried verbatim")
      s.sql(s"""SELECT dims.mon AS mon, count(*) AS n_orders,
               |  sum(dims.amount) AS sum_amount, min(okey) AS min_okey
               |FROM $cat.ns.prof
               |GROUP BY dims.mon ORDER BY mon""".stripMargin)
    },

    // ---- PARTITION STATISTICS FILES (spec "Partition statistics"):
    // the per-partition rollup every $partitions read and per-partition
    // diagnosis recomputes from manifests, persisted ONCE as a KB-sized
    // file and registered in metadata — at 100 TB the 9-metric report
    // over thousands of tables reads these files, not manifests.
    // Pinned in-query: the fresh stats file is the rollup's ONLY input
    // (planning reads KBs), stats == manifests EXACTLY, a later INSERT
    // makes the stats stale and the read falls back (reflecting the new
    // commit — never a stale answer), and a recompute re-arms the fast
    // path. The final rollup reads month-partition record counts from
    // $partitions; DuckDB recomputes them from the source table, so a
    // partition lost or double-counted in either arm breaks the hash.
    "q280_partition_stats" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q280wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ps")
      s.sql(s"DROP TABLE IF EXISTS $cat.ps.prof")
      t(dir, "orders").createOrReplaceTempView("q280_src")
      s.sql(s"""CREATE TABLE $cat.ps.prof (okey BIGINT, mon BIGINT)
               |USING `graft-iceberg` PARTITIONED BY (mon)""".stripMargin)
      def insertYear(y: Int): Unit =
        s.sql(s"""INSERT INTO $cat.ps.prof
                 |SELECT /*+ COALESCE(1) */ o_orderkey AS okey,
                 |       CAST(month(o_orderdate) AS BIGINT) AS mon
                 |FROM q280_src WHERE year(o_orderdate) = $y""".stripMargin)
      insertYear(1995)
      val tdir = s"${wh.getAbsolutePath}/ps/prof"
      import graft.sources.IcebergManifestSource.localPath
      val fromManifests = graft.sources.MetadataTables
        .partitionsFromManifests(s, tdir).collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
      val r = s.sql(
        s"CALL $cat.system.compute_partition_stats('ps.prof')").head
      val statsPath = r.getString(0)
      require(r.getLong(2) == 12L,
        s"12 month partitions expected, got ${r.getLong(2)}")
      // fresh: the stats file is the rollup's ONLY input, values exact
      val served = graft.sources.MetadataTables.partitions(s, tdir)
      require(served.inputFiles.map(localPath).toSeq == Seq(statsPath),
        s"fresh stats must serve alone: ${served.inputFiles.toSeq}")
      require(served.collect().map(_.toSeq).sortBy(_.toString).toSeq
        == fromManifests, "stats arm must equal the manifest arm exactly")
      // staleness: one more commit, the stats must STOP serving
      insertYear(1996)
      require(graft.sources.LayoutMaintenance
        .freshPartitionStats(s, tdir).isEmpty,
        "advanced table must report stale stats")
      val fallback = graft.sources.MetadataTables.partitions(s, tdir)
      require(!fallback.inputFiles.map(localPath).contains(statsPath),
        "stale stats must never serve")
      // recompute re-arms the KB-read fast path over BOTH years
      s.sql(s"CALL $cat.system.compute_partition_stats('ps.prof')")
      val served2 = graft.sources.MetadataTables.partitions(s, tdir)
      require(served2.inputFiles.map(localPath).toSeq.forall(p =>
        p.contains("/metadata/") && p != statsPath),
        "recomputed stats must serve from the new file")
      s.sql(s"""SELECT CAST(get_json_object(partition, '$$.mon') AS BIGINT)
               |    AS mon,
               |  record_count AS n_orders, file_count AS n_files
               |FROM $cat.ps.prof.partitions
               |ORDER BY mon""".stripMargin)
    },

    // ---- METADATA-TABLE PARITY (the remaining Iceberg inspection
    // relations): $data_files / $delete_files (the file listing split
    // by role), $all_manifests (manifest-side reachability across
    // history), and $metadata_log_entries (the metadata VERSION log
    // with each version's snapshot pointer). Pinned in-query: the
    // data/delete splits partition $files exactly, every snapshot's
    // manifests appear under its reference_snapshot_id, and the
    // metadata log is strictly version-increasing with the LATEST entry
    // pointing at the current snapshot. The rollup folds the $data_files
    // record counts per insert-batch against DuckDB's recomputation
    // from the source — a file lost by either split breaks the hash.
    "q281_metadata_log" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q281wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ml")
      s.sql(s"DROP TABLE IF EXISTS $cat.ml.prof")
      t(dir, "orders").createOrReplaceTempView("q281_src")
      s.sql(s"""CREATE TABLE $cat.ml.prof (okey BIGINT, yr BIGINT)
               |USING `graft-iceberg` TBLPROPERTIES (
               |  'write.delete.mode' = 'merge-on-read')""".stripMargin)
      (1995 to 1997).foreach { y =>
        s.sql(s"""INSERT INTO $cat.ml.prof
                 |SELECT /*+ COALESCE(1) */ o_orderkey,
                 |  CAST(year(o_orderdate) AS BIGINT)
                 |FROM q281_src WHERE year(o_orderdate) = $y""".stripMargin)
      }
      s.sql(s"DELETE FROM $cat.ml.prof WHERE okey % 10 = 3")
      // the role split partitions $files exactly
      val nFiles = s.sql(s"SELECT count(*) FROM $cat.ml.prof.files")
        .head.getLong(0)
      val nData = s.sql(s"SELECT count(*) FROM $cat.ml.prof.data_files")
        .head.getLong(0)
      val nDel = s.sql(s"SELECT count(*) FROM $cat.ml.prof.delete_files")
        .head.getLong(0)
      require(nData == 3L && nDel >= 1L && nData + nDel == nFiles,
        s"role split must partition \\$$files: $nData + $nDel != $nFiles")
      // every snapshot's manifests appear under its reference id
      val refIds = s.sql(s"SELECT DISTINCT reference_snapshot_id " +
        s"FROM $cat.ml.prof.all_manifests").collect()
        .map(_.getLong(0)).sorted.toSeq
      require(refIds == Seq(1L, 2L, 3L, 4L),
        s"all_manifests must cover history: $refIds")
      // metadata log: strictly increasing versions, latest points at
      // the current snapshot
      val log = s.sql(s"SELECT version, latest_snapshot_id " +
        s"FROM $cat.ml.prof.metadata_log_entries ORDER BY version")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1)))
      val versions = log.map(_._1).toSeq
      require(versions == versions.sorted &&
        versions.distinct.length == versions.length,
        s"metadata log must be strictly version-increasing: ${log.toSeq}")
      require(log.last._2 == 4L,
        s"latest metadata version must point at snapshot 4: ${log.last}")
      s.sql(s"""SELECT yr, count(*) AS n_orders, min(okey) AS min_okey,
               |  sum(okey % 100) AS sum_mod
               |FROM $cat.ml.prof
               |GROUP BY yr ORDER BY yr""".stripMargin)
    },

    // ---- WRITE DISTRIBUTION MODES (Iceberg's write.distribution-mode,
    // expressed through Spark's RequiresDistributionAndOrdering SPI —
    // the TABLE declares the write layout and SPARK plans the exchange):
    // hash clusters each partition value into ONE task (one file per
    // month from a many-partition input — without it the write fans
    // tasks × values files), range distributes on the sort key so
    // output files carry DISJOINT ranges (the manifest-bound-skipping
    // layout). Pinned in-query: the hash table holds EXACTLY one file
    // per month; the range table's per-file key bounds are disjoint and
    // a point query plans fewer files than the table holds. The rollup
    // reads the hash table per month with its file count; DuckDB
    // recomputes counts from the source and the file count is the
    // mode's own guarantee.
    "q282_write_distribution" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q282wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dm")
      s.sql(s"DROP TABLE IF EXISTS $cat.dm.h")
      s.sql(s"DROP TABLE IF EXISTS $cat.dm.r")
      t(dir, "orders").createOrReplaceTempView("q282_src")
      // HASH: a repartitioned (16-way) input still lands ONE file/month
      s.sql(s"""CREATE TABLE $cat.dm.h (okey BIGINT, mon BIGINT)
               |USING `graft-iceberg` PARTITIONED BY (mon)
               |TBLPROPERTIES ('write.distribution-mode' = 'hash')""".stripMargin)
      s.sql(s"""INSERT INTO $cat.dm.h
               |SELECT /*+ REPARTITION(16) */ o_orderkey AS okey,
               |       CAST(month(o_orderdate) AS BIGINT) AS mon
               |FROM q282_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val hFiles = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, s"${wh.getAbsolutePath}/dm/h", "t", Nil)
        .filter(col("content") === 0)
        .select("partitionKey").collect().map(_.getString(0)).toSeq
      require(hFiles.size == 12 && hFiles.distinct.size == 12,
        s"hash mode must land exactly one file per month: $hFiles")
      // RANGE: disjoint per-file key ranges + point-query file pruning
      s.sql(s"""CREATE TABLE $cat.dm.r (okey BIGINT)
               |USING `graft-iceberg` TBLPROPERTIES (
               |  'write.distribution-mode' = 'range',
               |  'write.sort-order' = 'okey',
               |  'pushdown.fields' = 'okey:1:long',
               |  'write.target-file-size-bytes' = '2000')""".stripMargin)
      s.sql(s"""INSERT INTO $cat.dm.r
               |SELECT /*+ REPARTITION(16) */ o_orderkey AS okey
               |FROM q282_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val rdir = s"${wh.getAbsolutePath}/dm/r"
      val rStats = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, rdir, "t",
          Seq((1, "okey", org.apache.spark.sql.types.LongType)))
        .filter(col("content") === 0)
        .select("lo_okey", "hi_okey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      // at the GATED sf (0.01+) the write rolls several files; toy sf
      // may fit one file, where disjointness/pruning are vacuous
      require(rStats.nonEmpty, "range write must land data")
      if (rStats.size > 1) {
        rStats.sliding(2).foreach {
          case Seq((_, hi), (lo2, _)) => require(hi <= lo2,
            s"range mode must emit disjoint key ranges: $rStats")
          case _ => ()
        }
        val probe = s.table(s"$cat.dm.r")
        val planned = probe.filter(col("okey") === rStats.head._2)
          .rdd.getNumPartitions
        require(planned < rStats.size,
          s"bounds must prune the point query: $planned of ${rStats.size}")
      }
      s.sql(s"""SELECT mon, count(*) AS n_orders, min(okey) AS min_okey,
               |  CAST(1 AS BIGINT) AS n_files
               |FROM $cat.dm.h
               |GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- TEMPORAL + BINARY LAKE TYPES (spec date/timestamptz/binary
    // through the connector, all previously refused — every earlier
    // lake query CAST dates to BIGINT months up front): an orders table
    // keeps o_orderdate AS A DATE, is PARTITIONED BY month(odate) (the
    // date-sourced Iceberg transform), takes a DATE-predicate MOR
    // DELETE, and the rollup GROUPs BY a date function over the lake
    // column. Pinned in-query: the manifests cluster by the transform
    // value (one partition tuple per month) and the delete moved no
    // data. DuckDB recomputes from the same date arithmetic — an
    // epoch-day shifted by one anywhere in write/read breaks the hash.
    "q283_date_lake_types" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q283wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dt")
      s.sql(s"DROP TABLE IF EXISTS $cat.dt.ord")
      t(dir, "orders").createOrReplaceTempView("q283_src")
      s.sql(s"""CREATE TABLE $cat.dt.ord (
               |  okey BIGINT, odate DATE, prio STRING)
               |USING `graft-iceberg` PARTITIONED BY (month(odate))
               |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
      s.sql(s"""INSERT INTO $cat.dt.ord
               |SELECT /*+ COALESCE(1) */ o_orderkey AS okey,
               |  CAST(o_orderdate AS DATE) AS odate,
               |  o_orderpriority AS prio
               |FROM q283_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val tdir = s"${wh.getAbsolutePath}/dt/ord"
      def dataFiles(): Seq[(String, String)] =
        graft.sources.IcebergManifestSource
          .statsFromTableDir(s, tdir, "t", Nil)
          .filter(col("content") === 0)
          .select("file_path", "partitionKey").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
      val pre = dataFiles()
      // month(date) transform: 12 partition tuples, months 300..311
      // (months since epoch for 1995)
      require(pre.map(_._2).distinct.sorted ==
        (300 to 311).map(m => s"""{"odate_month":$m}"""),
        s"month(d) must cluster 1995 into 12 tuples: ${pre.map(_._2)}")
      // DATE-predicate MOR delete: tombstones, data carried verbatim
      s.sql(s"DELETE FROM $cat.dt.ord WHERE odate < DATE'1995-02-01' " +
        "AND okey % 3 = 0")
      require(dataFiles() == pre,
        "the MOR delete must carry the date-typed files verbatim")
      s.sql(s"""SELECT CAST(month(odate) AS BIGINT) AS mon,
               |  count(*) AS n_orders,
               |  min(CAST(odate AS STRING)) AS first_day,
               |  min(okey) AS min_okey
               |FROM $cat.dt.ord
               |GROUP BY month(odate) ORDER BY mon""".stripMargin)
    },

    // ---- DECIMAL MONEY IN THE LAKE (spec decimal(P,S), long-backed
    // P<=18): prices live as DECIMAL(12,2) lake columns — every earlier
    // money query stored floor-cents BIGINTs because the connector
    // refused decimals. Values are built from integer cents via exact
    // string construction (identical in both engines; FLOOR(x*100) is
    // the established cross-engine cents discipline), written in all
    // THREE formats in one table (format flipped between inserts), a
    // decimal-predicate MOR DELETE tombstones across the mix, and the
    // rollup SUMS the decimal exactly — rendered AS STRING so the hash
    // compares the money VALUE, not engine-specific result precisions.
    "q284_decimal_money" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q284wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dc")
      s.sql(s"DROP TABLE IF EXISTS $cat.dc.money")
      t(dir, "orders").createOrReplaceTempView("q284_src")
      s.sql(s"""CREATE TABLE $cat.dc.money (
               |  okey BIGINT, mon BIGINT, price DECIMAL(12,2))
               |USING `graft-iceberg` TBLPROPERTIES (
               |  'write.format.default' = 'parquet',
               |  'write.delete.mode' = 'merge-on-read')""".stripMargin)
      def insertYear(y: Int): Unit =
        s.sql(s"""INSERT INTO $cat.dc.money
                 |SELECT /*+ COALESCE(1) */ o_orderkey AS okey,
                 |  CAST(month(o_orderdate) AS BIGINT) AS mon,
                 |  CAST(CONCAT(CAST(cents DIV 100 AS STRING), '.',
                 |    LPAD(CAST(cents % 100 AS STRING), 2, '0'))
                 |    AS DECIMAL(12,2)) AS price
                 |FROM (SELECT *,
                 |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
                 |  FROM q284_src)
                 |WHERE year(o_orderdate) = $y""".stripMargin)
      insertYear(1995) // PARQUET decimals
      s.sql(s"ALTER TABLE $cat.dc.money " +
        "SET TBLPROPERTIES ('write.format.default' = 'orc')")
      insertYear(1996) // ORC decimals
      s.sql(s"ALTER TABLE $cat.dc.money " +
        "SET TBLPROPERTIES ('write.format.default' = 'avro')")
      insertYear(1997) // AVRO decimals
      val tdir = s"${wh.getAbsolutePath}/dc/money"
      val fmts = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tdir, "t", Nil)
        .filter(col("content") === 0)
        .select("file_format").distinct().collect()
        .map(_.getString(0)).toSet
      require(fmts == Set("PARQUET", "ORC", "AVRO"),
        s"decimals must ride all three formats: $fmts")
      // decimal-predicate MOR delete across the mixed formats
      s.sql(s"DELETE FROM $cat.dc.money " +
        "WHERE price >= CAST(300000 AS DECIMAL(12,2))")
      require(graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tdir, "t", Nil)
        .filter(col("content") === 1).count() > 0,
        "the decimal DELETE must land tombstones")
      s.sql(s"""SELECT mon, count(*) AS n_orders,
               |  CAST(sum(price) AS STRING) AS sum_price,
               |  CAST(min(price) AS STRING) AS min_price
               |FROM $cat.dc.money
               |GROUP BY mon ORDER BY mon""".stripMargin)
    })

  def oracles: Map[String, String] = Map(

    "q277_format_preserving_compaction" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) = 1995
        |    AND month(CAST(o_orderdate AS DATE)) <= 6)
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM src WHERE price < 300000
        |GROUP BY mon ORDER BY mon""".stripMargin,

    "q278_convert_eq_deletes" ->
      """WITH roll AS (
        |  SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
        |         o_orderpriority AS prio,
        |         CAST(sum(FLOOR(o_totalprice)) AS BIGINT) AS total,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996, 1997)
        |  GROUP BY 1, 2)
        |SELECT mon, prio, total, n FROM roll
        |WHERE n % 7 <> 0
        |ORDER BY mon, prio""".stripMargin,

    "q279_nested_struct_orc" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS amount,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
        |         year(CAST(o_orderdate AS DATE)) AS yr
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996))
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(amount) AS BIGINT) AS sum_amount,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM src WHERE yr = 1996 OR amount < 300000
        |GROUP BY mon ORDER BY mon""".stripMargin,

    "q280_partition_stats" ->
      """SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(2 AS BIGINT) AS n_files
        |FROM orders
        |WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
        |GROUP BY mon ORDER BY mon""".stripMargin,

    "q281_metadata_log" ->
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_okey,
        |  CAST(sum(o_orderkey % 100) AS BIGINT) AS sum_mod
        |FROM orders
        |WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996, 1997)
        |  AND o_orderkey % 10 <> 3
        |GROUP BY yr ORDER BY yr""".stripMargin,

    "q282_write_distribution" ->
      """SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_okey,
        |  CAST(1 AS BIGINT) AS n_files
        |FROM orders
        |WHERE year(CAST(o_orderdate AS DATE)) = 1995
        |GROUP BY mon ORDER BY mon""".stripMargin,

    "q283_date_lake_types" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey, CAST(o_orderdate AS DATE) AS odate
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995)
        |SELECT CAST(month(odate) AS BIGINT) AS mon,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(min(odate) AS STRING) AS first_day,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM src
        |WHERE NOT (odate < DATE '1995-02-01' AND okey % 3 = 0)
        |GROUP BY month(odate) ORDER BY mon""".stripMargin,

    "q284_decimal_money" ->
      """WITH src AS (
        |  SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
        |    CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) // 100
        |      || '.' ||
        |      LPAD(CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) % 100
        |        AS VARCHAR), 2, '0') AS DECIMAL(12,2)) AS price
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996, 1997))
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS VARCHAR) AS sum_price,
        |  CAST(min(price) AS VARCHAR) AS min_price
        |FROM src WHERE price < CAST(300000 AS DECIMAL(12,2))
        |GROUP BY mon ORDER BY mon""".stripMargin)
}
