package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import java.nio.file.{Files, Paths, Path, StandardCopyOption, StandardOpenOption}
import java.nio.channels.FileChannel
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import java.nio.ByteBuffer
import java.util.Base64
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.roaringbitmap.RoaringBitmap

/** Bucket-partitioned, manifest-committed table — Iceberg-style semantics
  * on plain parquet (this environment ships no Iceberg runtime; in
  * production these calls map 1:1 onto an Iceberg table with a
  * `bucket(N, key)` partition spec, MERGE INTO, and snapshot commits).
  *
  * Layout (with the optional second-level `bandCol`, used by the queue
  * for the score-banded file layout — the T3/T4 rowkey semantics,
  * reference hbase/__init__.py:129-196):
  * {{{
  * root/data/commit=V/<bucketCol>=K[/<bandCol>=B]/part-*.parquet
  * root/manifest/m<V>.json   — bucket -> leaf dirs, per-path row counts
  *                             and file lists, per-file deletes, per-bucket
  *                             last-touched version, counters
  * root/_CURRENT             — current manifest version (atomic rename)
  * }}}
  * The manifest's `deletes` key (written only when some file has deleted
  * rows) maps a path to its files' deleted positions: per file, one
  * portable RoaringBitmap (base64) and its cardinality. A path's live
  * rows are its row count less those cardinalities; a file whose rows
  * are all deleted leaves the manifest.
  *
  * Scale properties:
  *  - append = add files to touched buckets/bands only (no rewrite)
  *  - replacePaths = rewrite only the named leaf dirs; other paths stay
  *    referenced untouched
  *  - deletePositions = delete rows by position (the dequeue): the
  *    manifest alone records them, no data file is written
  *  - commit = write manifest, then atomically flip _CURRENT; a crashed
  *    epoch leaves the previous snapshot intact (resume-from-checkpoint);
  *    every commit merges the manifest in one place (`commitReplaced`).
  *    The manifest flip is the only commit: data files are written in
  *    place by one leaf writer (`BucketStore.LeafWriter`), with no
  *    `_temporary` dir, rename or `_SUCCESS` marker, since a file that no
  *    manifest lists is not part of the table. The writer creates its
  *    files through java.nio, so no write forks a process, and writes no
  *    `.crc` file: parquet's page checksums, verified by every read,
  *    stand for it
  *  - readVersioned carries each row's commit version (the commit=V dir
  *    level), so merge-on-read views resolve deltas without knowing the
  *    layout
  *  - per-path row counts ride in the manifest (counted by the writer)
  *    so a dequeue plans its band prefix without any read
  *  - per-path file names and lengths ride in the manifest too, and every
  *    read is planned from them: no directory is listed (an Iceberg scan
  *    plans from its manifests' file lists the same way)
  *  - one reader: every read (`read`, `readBuckets`, `readAt`,
  *    `readVersioned`, `readPaths`, and those of `rowCount` and
  *    `compact`) goes through `readFiles`, the one place that maps the
  *    manifest's file lists to Spark partitions, applies the deletes,
  *    fills typed nulls for added columns and lists a leaf dir only for
  *    a manifest written before file lists. `readLocal` reads the same
  *    files the same way on the driver, with no job (the small seen
  *    set). The parquet reader and the writer's set-up are built once
  *    per store, session and schema, so a read broadcasts no Hadoop
  *    configuration after the first
  *  - `sizeInBytes` is Spark's size estimate of a read, from the
  *    manifest's file lengths alone: deciding a join side plans no read
  *  - commits are serialized (JVM monitor + OS file lock) and clean up
  *    orphan commit dirs from crashed writers, so a crash between the
  *    data write and the _CURRENT flip never bricks the store
  */
final class BucketStore(val root: String, val bucketCol: String,
    val buckets: Int, val bandCol: Option[String] = None,
    /** long column whose per-path MAX the writer records in the
      * manifest (e.g. the queue's crawl_at — lets the dequeue prove a
      * scan all-visible without reading data) */
    val statCol: Option[String] = None) extends Serializable {

  private def currentPath = Paths.get(root, "_CURRENT")
  private def manifestPath(v: Long) = Paths.get(root, "manifest", s"m$v.json")

  def currentVersion: Long =
    if (Files.exists(currentPath)) Files.readString(currentPath).trim.toLong else -1L

  /** manifest = (epoch, bucket -> leaf dirs, per-path rows,
    * bucket -> last-touched version, counters, durable props).
    * `counters` are per-commit lineage; `props` carry FORWARD across
    * commits unless overwritten (Iceberg table-properties analog) — used
    * e.g. for the seed stream's last-applied-batch idempotence marker. */
  final case class Manifest(version: Long, epoch: Long,
      bucketPaths: Map[Int, List[String]], counters: Map[String, Long],
      pathRows: Map[String, Long] = Map.empty,
      bucketVersions: Map[Int, Long] = Map.empty,
      props: Map[String, String] = Map.empty,
      /** per-path max of statCol (absent = unknown, be conservative) */
      pathMax: Map[String, Long] = Map.empty,
      /** per-path `.parquet` file name -> byte length (absent = written
        * before file lists: a read lists that dir) */
      pathFiles: Map[String, Map[String, Long]] = Map.empty,
      /** per-path file name -> the positions of its deleted rows (a file
        * with no deleted row has no entry) */
      pathDeletes: Map[String, Map[String, BucketStore.Deletes]] = Map.empty) {
    /** rows of `path`'s files that a delete removed */
    def deletedRows(path: String): Long =
      pathDeletes.get(path).fold(0L)(_.valuesIterator.map(_.cardinality).sum)
    /** rows a read of `path` returns: its row count less its deletes
      * (absent = no recorded row count) */
    def liveRows(path: String): Option[Long] = pathRows.get(path).map(_ - deletedRows(path))
  }

  /** The manifest `_CURRENT` names. A committed version never changes,
    * so the last one parsed is kept and returned again while `_CURRENT`
    * still names it: a call reads `_CURRENT` and the manifest file's
    * size and time, and parses only a version it has not seen (a file
    * rewritten in place, by a repair or by damage, is parsed again). */
  def readManifest(): Manifest = {
    val v = currentVersion
    if (v < 0) return Manifest(-1, -1, Map.empty, Map.empty)
    val file = manifestPath(v)
    val attrs = Files.readAttributes(file, classOf[BasicFileAttributes])
    val stamp = (v, attrs.size, attrs.lastModifiedTime)
    val last = lastParsed
    if (last != null && last._1 == stamp) last._2
    else {
      val m = parseManifest(v, Files.readString(file), file.toString)
      lastParsed = (stamp, m)
      m
    }
  }
  @transient @volatile private var lastParsed: ((Long, Long, FileTime), Manifest) = null

  /** Manifest `v` from its JSON; a malformed document fails naming `file`,
    * and so does a delete of a file its path's file list does not hold.
    * Keys added after the first format (rows, bucketv, props, pathmax,
    * files, deletes) read as empty when absent. */
  private[spark] def parseManifest(v: Long, json: String, file: String): Manifest =
    try {
      val j = BucketStore.json.readTree(json)
      def fields(k: String): List[(String, JsonNode)] =
        Option(j.get(k)).toList.flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue))
      def longs(k: String): Map[String, Long] = fields(k).map { case (f, n) => f -> n.asLong() }.toMap
      val m = Manifest(v,
        j.required("epoch").asLong(),
        j.required("buckets").properties().asScala.map { e =>
          e.getKey.toInt -> e.getValue.asScala.map(_.asText()).toList
        }.toMap,
        j.required("counters").properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap,
        longs("rows"),
        longs("bucketv").map { case (k, n) => k.toInt -> n },
        fields("props").map { case (f, n) => f -> n.asText() }.toMap,
        longs("pathmax"),
        fields("files").map { case (p, n) =>
          p -> n.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
        }.toMap,
        fields("deletes").map { case (p, n) =>
          p -> n.properties().asScala.map { e =>
            e.getKey -> BucketStore.Deletes(e.getValue.required("cardinality").asLong(),
              e.getValue.required("bitmap").asText())
          }.toMap
        }.toMap)
      for ((p, ds) <- m.pathDeletes; listed <- m.pathFiles.get(p); name <- ds.keys)
        require(listed.contains(name), s"deletes name $p/$name, a file its path does not list")
      m
    } catch {
      case NonFatal(e) =>
        throw new IllegalStateException(s"unreadable manifest $file: ${e.getMessage}", e)
    }

  /** Band index of a leaf path (banded stores only); -1 marks a LEGACY
    * path written before the store was banded (no band= level) — the
    * caller must migrate it before band-pruned scans can trust it. */
  def bandOf(path: String): Int = bandCol match {
    case Some(bc) =>
      path.split('/').find(_.startsWith(s"$bc="))
        .map(_.stripPrefix(s"$bc=").toInt)
        .getOrElse(-1)
    case None => 0
  }

  /** The manifest document: keys in a fixed order, maps sorted by key;
    * `files` only when some path has a file list, `deletes` only when
    * some file has deleted rows. */
  private[spark] def manifestJson(m: Manifest): String = {
    def obj(kvs: Seq[(String, Any)]): java.util.Map[String, Any] = {
      val o = new java.util.LinkedHashMap[String, Any]
      kvs.foreach { case (k, v) => o.put(k, v) }
      o
    }
    def byKey(kvs: Map[String, _]) = obj(kvs.toSeq.sortBy(_._1))
    def byBucket(kvs: Map[Int, _]) =
      obj(kvs.toSeq.sortBy(_._1).map { case (k, v) => k.toString -> v })
    BucketStore.json.writeValueAsString(obj(Seq(
      "epoch" -> m.epoch,
      "buckets" -> byBucket(m.bucketPaths.map { case (k, ps) => k -> ps.asJava }),
      "counters" -> byKey(m.counters), "rows" -> byKey(m.pathRows),
      "bucketv" -> byBucket(m.bucketVersions), "props" -> byKey(m.props),
      "pathmax" -> byKey(m.pathMax)) ++
      (if (m.pathFiles.isEmpty) Nil
       else Seq("files" -> byKey(m.pathFiles.map { case (p, fs) => p -> byKey(fs) }))) ++
      (if (m.pathDeletes.isEmpty) Nil
       else Seq("deletes" -> byKey(m.pathDeletes.map { case (p, ds) =>
         p -> byKey(ds.map { case (f, d) =>
           f -> obj(Seq("cardinality" -> d.cardinality, "bitmap" -> d.bitmap)) })
       })))))
  }

  private def writeManifest(m: Manifest): Unit = {
    val json = manifestJson(m)
    Files.createDirectories(manifestPath(m.version).getParent)
    Files.writeString(manifestPath(m.version), json)
    val tmp = Paths.get(root, s"_CURRENT.tmp${m.version}")
    Files.writeString(tmp, m.version.toString)
    Files.move(tmp, currentPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read the whole table (bucket column reconstructed from dir layout). */
  def read(spark: SparkSession): DataFrame = readBuckets(spark, None)

  /** Read only the given buckets — partition pruning by construction. */
  def readBuckets(spark: SparkSession, only: Option[Set[Int]]): DataFrame =
    readAt(spark, readManifest(), only)

  /** `readBuckets` of the table at manifest `m`. */
  def readAt(spark: SparkSession, m: Manifest, only: Option[Set[Int]] = None): DataFrame =
    readFiles(spark, m, pathsOf(m, only))

  /** `readBuckets` plus the `commit` column: the version of the commit
    * that wrote each row (strictly monotonic — the Iceberg sequence-number
    * analog), which merge-on-read views resolve by. */
  def readVersioned(spark: SparkSession, only: Option[Set[Int]] = None): DataFrame = {
    val m = readManifest()
    readFiles(spark, m, pathsOf(m, only), versioned = true)
  }

  /** Spark's size estimate of a read of `cols` of the table at `m`: the
    * number Spark's broadcast decision compares for that read, taken
    * from the manifest's file lengths with no read planned. A read's
    * estimate is its files' bytes, and Spark's optimizer scales a
    * projection of it by the row size of the projected columns over
    * that of the read's output (never below 1 byte); so is this one. A
    * table with no path has size 0. */
  def sizeInBytes(m: Manifest, cols: Seq[String]): Long =
    if (m.bucketPaths.isEmpty) 0L
    else {
      import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils.getSizePerRow
      import org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes
      val output = toAttributes(BucketStore.FileReader.output(layout(versioned = false)))
      val bytes = filesOf(m, pathsOf(m, None), localFs).iterator.map(_._3).sum
      val scaled = BigInt(bytes) * getSizePerRow(output.filter(a => cols.contains(a.name))) /
        getSizePerRow(output)
      scaled.max(1).min(Long.MaxValue).toLong
    }

  private def pathsOf(m: Manifest, only: Option[Set[Int]]): Seq[String] =
    m.bucketPaths
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .values.flatten.toSeq.distinct

  /** Read only the given leaf dirs (band-pruned dequeue scans), clustered
    * by bucket: each bucket's files are read in one task — every file in
    * one task when `oneTask` (or no path is given) — and the relation
    * reports it to Spark (`KeyGroupedPartitioning` on `bucketCol`, or
    * `SinglePartition`). A window, an aggregate or a write keyed by the
    * bucket then needs no exchange: the rows are already where the
    * bucket's task is. The files come from the manifest's lists; a path
    * without one (a manifest written before file lists) is listed here.
    * Spark's size estimate is the files' bytes.
    * Each file is read whole, in order from row 0, so a row's position
    * in its file is its ordinal there; the positions the manifest marks
    * deleted are dropped. With `positions`, each row also carries its
    * file (`FileCol`, numbered as `deletePositions` takes it) and its
    * position (`PosCol`).
    * Reads are normalized to `schema` (the band= dir level is dropped);
    * fields the files predate are filled with typed nulls — additive
    * schema evolution, the Iceberg add-column semantics (a store written
    * before a column existed keeps reading after the upgrade). */
  def readPaths(spark: SparkSession, paths: Seq[String], oneTask: Boolean = false,
      positions: Boolean = false): DataFrame =
    readFiles(spark, readManifest(), paths, oneTask, positions)

  /** The files of `paths` at `m`, numbered: path by path, each path's
    * files by name. A leaf dir never changes, so any manifest that
    * references a path numbers its files the same way. */
  private def filesOf(m: Manifest, paths: Seq[String],
      fs: org.apache.hadoop.fs.FileSystem): IndexedSeq[(String, String, Long)] =
    paths.distinct.toIndexedSeq.flatMap { p =>
      m.pathFiles.get(p) match {
        case Some(listed) => listed.toSeq.sortBy(_._1).map { case (n, len) => (p, n, len) }
        case None => fs.listStatus(fs.makeQualified(new org.apache.hadoop.fs.Path(p))).toSeq
          .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
          .map(st => (p, st.getPath.getName, st.getLen))
      }
    }

  /** the local file system of a commit's manifest edits */
  private def localFs = new org.apache.hadoop.fs.Path(root).getFileSystem(BucketStore.hadoopConf())

  /** The schema's dir levels as a read returns them (the bucket, and the
    * band; then the commit version when `versioned`), and its other
    * columns: the read's partition and data schemas. */
  private def layout(versioned: Boolean): (StructType, StructType) = {
    val schema = emptySchema.getOrElse(sys.error(s"$root: schema not set"))
    val dirLevels = StructType((bucketCol +: bandCol.toSeq).filter(schema.fieldNames.contains)
      .map(schema(_)))
    (if (versioned) dirLevels.add(BucketStore.CommitCol, LongType) else dirLevels,
      StructType(schema.filterNot(f => dirLevels.fieldNames.contains(f.name))))
  }

  /** The parquet reader of `readFiles` for `spark`, plain or `versioned`.
    * Building one broadcasts its Hadoop configuration, so each is built
    * once per session and schema. The configuration is the reader's own
    * copy of the session's, with parquet's page-checksum verification on:
    * the leaf writer writes a checksum per page and no `.crc` file. A
    * change to the session's configuration after the store's first read
    * does not reach it. */
  private def readerFor(spark: SparkSession, versioned: Boolean): BucketStore.FileReader =
    readers.computeIfAbsent((spark, emptySchema, versioned), _ => {
      import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val (partSchema, dataSchema) = layout(versioned)
      val conf = classic.sessionState.newHadoopConfWithOptions(
        Map(org.apache.parquet.hadoop.ParquetInputFormat.PAGE_VERIFY_CHECKSUM_ENABLED -> "true"))
      // rows, not batches: the vectorized decoder still reads the pages.
      // No filter: every row of a file is read, so the ordinal is the position
      BucketStore.FileReader(new ParquetFileFormat().buildReaderWithPartitionValues(classic,
        dataSchema, partSchema, dataSchema, Nil, Map("returning_batch" -> "false"), conf),
        (partSchema, dataSchema), conf)
    })
  @transient private lazy val readers = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Option[StructType], Boolean), BucketStore.FileReader]()

  /** The files a read of `paths` at `m` reads, by number (see `filesOf`),
    * each with its bucket as Spark's file partition, whose values are its
    * dir levels'; and the read of one of them: the reader's rows, with
    * the manifest's deletes dropped and its row counts checked
    * (`BucketStore.positioned`), each followed by its file's number and
    * its position there. A read in a task and one on the driver read a
    * file the same way. */
  private def scan(spark: SparkSession, m: Manifest, paths: Seq[String], versioned: Boolean)
      : (IndexedSeq[(Int, PartitionedFile)], PartitionedFile => Iterator[InternalRow],
        BucketStore.FileReader) = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.spark.paths.SparkPath
    val reader = readerFor(spark, versioned)
    val fs = new HPath(root).getFileSystem(reader.conf)
    val bucketOf = m.bucketPaths.iterator.flatMap { case (b, ps) => ps.map(_ -> b) }.toMap
    def commitOf(p: String): Long =
      p.split('/').find(_.startsWith(s"${BucketStore.CommitCol}="))
        .map(_.stripPrefix(s"${BucketStore.CommitCol}=").toLong).getOrElse(-1L)
    val banded = reader.layout._1.fieldNames.contains(bandCol.getOrElse(""))
    val files = filesOf(m, paths, fs)
    val partitioned = files.map { case (p, name, len) =>
      val b = bucketOf(p)
      val values = InternalRow.fromSeq(b +: ((if (banded)
        Seq(bandOf(p)).map(band => if (band >= 0) band else null) else Nil) ++
        (if (versioned) Seq(commitOf(p)) else Nil)))
      b -> PartitionedFile(values, SparkPath.fromPath(new HPath(fs.makeQualified(new HPath(p)), name)),
        0L, len, Array.empty[String], 0L, len, Map.empty)
    }
    val numbers = partitioned.iterator.map(_._2.urlEncodedPath).zipWithIndex.toMap
    val deleted = files.indices.flatMap { i =>
      val (p, name, _) = files(i)
      m.pathDeletes.get(p).flatMap(_.get(name)).map(i -> _)
    }.toMap
    // each path with a row count: its files' numbers and that count, by
    // its last file's number
    val pathRows = files.indices.groupBy(i => files(i)._1).collect {
      case (p, ids) if m.pathRows.contains(p) => ids.max -> (ids, m.pathRows(p))
    }
    (partitioned, BucketStore.positioned(reader.read, numbers, deleted, pathRows), reader)
  }

  /** `readPaths` at `m`; `versioned` adds the `commit` column of
    * `readVersioned` (the commit=V dir level of each file). */
  private def readFiles(spark: SparkSession, m: Manifest, paths: Seq[String],
      oneTask: Boolean = false, positions: Boolean = false,
      versioned: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.FileSourceOptions
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.plans.physical.{KeyGroupedPartitioning, SinglePartition}
    import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD}
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val schema = emptySchema.getOrElse(sys.error(s"$root: schema not set"))
    val (files, read, reader) = scan(spark, m, paths, versioned)
    val byBucket = files.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, fs) => b -> fs.map(_._2) }
    val groups = if (oneTask || byBucket.isEmpty) Seq(files.map(_._2)) else byBucket.map(_._2)
    val rdd = new FileScanRDD(classic, read,
      groups.zipWithIndex.map { case (fs, i) => FilePartition(i, fs.toArray) },
      reader.output, Nil, Map.empty, new FileSourceOptions(Map.empty[String, String]))
    val output = reader.output.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val clustering =
      if (groups.size == 1) SinglePartition
      else KeyGroupedPartitioning(output.filter(_.name == bucketCol), byBucket.size,
        byBucket.map { case (b, _) => InternalRow(b) })
    val bytes = groups.iterator.flatten.map(_.fileSize).sum
    GraftColumnBridge.ofRows(spark, LogicalRDD(output, rdd, clustering)(classic,
        Some(Statistics(sizeInBytes = BigInt(bytes)))))
      .select((schema.fieldNames.toSeq ++
        (if (versioned) Seq(BucketStore.CommitCol) else Nil) ++
        (if (positions) Seq(BucketStore.FileCol, BucketStore.PosCol) else Nil)).map(col): _*)
  }

  /** The rows of `paths` at `m`, as `readPaths` reads them, read on the
    * driver with no Spark job: the same files, reader, deletes and
    * row-count checks as a read in tasks. Each row holds `cols`, copied.
    * A file that fails to read fails the call, naming the file. For the
    * few rows of a small table (a leaf never changes, so a caller may
    * keep what it read while a manifest lists the leaf). */
  private[spark] def readLocal(spark: SparkSession, m: Manifest, paths: Seq[String],
      cols: Seq[String]): Vector[InternalRow] = {
    val (files, read, reader) = scan(spark, m, paths, versioned = false)
    val fields = cols.map(c => reader.output.fieldIndex(c) -> reader.output(c).dataType)
    val out = Vector.newBuilder[InternalRow]
    for ((_, file) <- files) {
      var rows: Iterator[InternalRow] = Iterator.empty
      try {
        rows = read(file)
        rows.foreach(r => out += new GenericInternalRow(fields.map { case (i, t) =>
          InternalRow.copyValue(r.get(i, t)) }.toArray))
      } catch {
        case NonFatal(e) =>
          throw new IllegalStateException(s"read of ${file.urlEncodedPath} failed: ${e.getMessage}", e)
      } finally rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
    out.result()
  }

  /** Declared schema (also used for reads before the first commit). */
  @transient var emptySchema: Option[org.apache.spark.sql.types.StructType] = None

  /** List a directory's entries, materialized. `Files.list` holds an open
    * DirectoryStream (one fd) until closed — leaking it per directory per
    * commit exhausts the process fd limit over a long crawl. Always close
    * before returning. */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.toVector finally s.close()
  }

  /** Write `df`'s rows as version `commitV`'s leaves: one parquet file per
    * leaf, its stats taken by the writer (`BucketStore.LeafWriter`). Rows
    * the driver holds (every leaf of the plan a local relation) are
    * written on the driver with no job; other rows are clustered by leaf
    * and written by the tasks of one job, which return their leaves. No
    * commit protocol: a file that no manifest lists is not part of the
    * table, so the manifest flip is the commit. */
  private def writeEpochData(df: DataFrame, commitV: Long): Seq[BucketStore.LeafDir] = {
    // every commit writes a fresh immutable directory (keyed by manifest
    // version, which is strictly monotonic) — a rewrite can never clobber
    // files still referenced by the live manifest. A leftover dir from a
    // CRASHED commit (data written, _CURRENT never flipped) is
    // unreferenced by any manifest <= current, so it is safe to clear.
    val dir = Paths.get(root, "data", s"commit=$commitV")
    if (Files.exists(dir)) deleteRecursively(dir)
    // the partition columns go first: the writer reads a row's leaf from
    // them and writes the other columns, in their order
    val partCols = bucketCol +: bandCol.toSeq
    val rows = df.select((partCols ++ df.columns.filterNot(partCols.contains)).map(col): _*)
    val dataSchema = StructType(rows.schema.drop(partCols.size))
    // the max of `statCol` is kept when it is a long column
    val writer = new BucketStore.LeafWriter(s"$root/data/commit=$commitV", partCols, dataSchema,
      statCol.map(rows.schema.fieldIndex).filter(i => rows.schema(i).dataType == LongType),
      writeConf(rows.sparkSession, dataSchema))
    if (SparkFrontier.isLocal(df))
      writer.write(SparkFrontier.collectInternal(rows).sortBy(writer.leaf).iterator).toSeq
    else {
      val clustered = rows.repartition(partCols.map(col): _*)
        .sortWithinPartitions(partCols.map(col): _*)
      SQLExecution.withNewExecutionId(clustered.queryExecution, Some("leaf write"))(
        clustered.queryExecution.toRdd.mapPartitions(writer.write).collect().toSeq)
    }
  }

  /** The Hadoop configuration the leaf writer writes `dataSchema` with:
    * Spark's parquet write set-up (`ParquetFileFormat.prepareWrite`) for
    * `spark`, so the format and compression are those of a
    * `DataFrameWriter`. Built once per session and schema (the schema's
    * nullability is the file's). */
  private def writeConf(spark: SparkSession, dataSchema: StructType)
      : org.apache.spark.util.SerializableConfiguration =
    writeConfs.computeIfAbsent((spark, dataSchema), _ => {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val job = org.apache.hadoop.mapreduce.Job.getInstance(session.sessionState.newHadoopConf())
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
        .prepareWrite(session, job, Map.empty, dataSchema)
      new org.apache.spark.util.SerializableConfiguration(job.getConfiguration)
    })
  @transient private lazy val writeConfs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, StructType), org.apache.spark.util.SerializableConfiguration]()

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listDir(p).foreach(deleteRecursively)
    Files.delete(p)
  }

  /** Serialize commits: JVM monitor (same-process writers, e.g. a seed
    * stream next to the epoch loop) + OS file lock (cross-process).
    * Reentrant per thread (the monitor is; the OS lock is made so via a
    * held-roots ThreadLocal) so a read-modify-write section can wrap the
    * commit it ends with. */
  private def withCommitLock[T](body: => T): T =
    if (BucketStore.heldRoots.get.contains(root)) body
    else BucketStore.monitorFor(root).synchronized {
      Files.createDirectories(Paths.get(root))
      val ch = FileChannel.open(Paths.get(root, "_commit.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val lock = ch.lock()
      BucketStore.heldRoots.get += root
      try body finally {
        BucketStore.heldRoots.get -= root
        lock.release(); ch.close()
      }
    }

  /** Hold the store's commit lock across a whole read-merge-write
    * section: a manifest snapshot taken inside is guaranteed not to be
    * invalidated by a concurrent writer before the section's own commit
    * lands (e.g. a merge-on-read fold, or a bloom-sidecar update that
    * must stay consistent with its states commit). */
  def withTableLock[T](body: => T): T = withCommitLock(body)

  /** Append rows (must contain bucketCol and, when banded, bandCol).
    * Untouched buckets unchanged. */
  def append(df: DataFrame, epoch: Long, counters: Map[String, Long] = Map.empty,
      props: Map[String, String] = Map.empty, beforeFlip: () => Unit = () => ()): Unit =
    replacePaths(df, epoch, Set.empty, counters, props, beforeFlip)

  /** Replace only the named leaf dirs: the new manifest drops
    * `removePaths` and adds whatever `df` writes, leaving every other
    * path untouched. `beforeFlip` runs once the data is written, before
    * the manifest flips: if it throws, the commit does not happen and its
    * data dir is an orphan, which the next write clears. */
  def replacePaths(df: DataFrame, epoch: Long, removePaths: Set[String],
      counters: Map[String, Long] = Map.empty,
      props: Map[String, String] = Map.empty, beforeFlip: () => Unit = () => ()): Unit =
    withCommitLock {
      val m = readManifest()
      val v = m.version + 1
      val written = writeEpochData(df, v)
      beforeFlip()
      commitReplaced(m, v, epoch, written, removePaths, counters, props)
    }

  /** Delete rows that a `readPaths(paths, positions = true)` read
    * returned: `deletes` holds, per file number of that read, the rows'
    * positions and the rows the read returned from the file. One commit
    * records them in the manifest, merged with the file's earlier
    * deletes; no data file is written. A file whose rows are now all
    * deleted leaves the manifest, and so does a path with no file left.
    * Deletes in a path the manifest no longer references are dropped.
    * The buckets whose files lost rows get the new version as their
    * last-touched version. */
  def deletePositions(paths: Seq[String], deletes: Map[Int, BucketStore.FileDelete],
      epoch: Long, counters: Map[String, Long] = Map.empty,
      props: Map[String, String] = Map.empty): Unit =
    withCommitLock {
      val m = readManifest()
      val files = filesOf(m, paths, localFs)
      val bucketOf = m.bucketPaths.iterator.flatMap { case (b, ps) => ps.map(_ -> b) }.toMap
      var rows = m.pathRows
      var listed = m.pathFiles
      var dvs = m.pathDeletes
      val lost = deletes.toSeq.sortBy(_._1).collect {
        case (i, d) if !d.positions.isEmpty && bucketOf.contains(files(i)._1) =>
          val (p, name, _) = files(i)
          val pathDvs = dvs.getOrElse(p, Map.empty)
          val merged = RoaringBitmap.or(d.positions,
            pathDvs.get(name).fold(new RoaringBitmap)(_.positions))
          if (d.positions.getLongCardinality == d.readRows && listed.contains(p)) {
            // the file's last rows: it leaves, with its deletes
            rows = rows.updatedWith(p)(_.map(_ - merged.getLongCardinality))
            listed = listed.updated(p, listed(p) - name)
            val rest = pathDvs - name
            dvs = if (rest.isEmpty) dvs - p else dvs.updated(p, rest)
          } else dvs = dvs.updated(p, pathDvs.updated(name, BucketStore.Deletes.of(merged)))
          p
      }.toSet
      commitReplaced(m.copy(pathRows = rows, pathFiles = listed, pathDeletes = dvs),
        m.version + 1, epoch, Nil, lost.filter(p => listed.get(p).exists(_.isEmpty)),
        counters, props, changed = lost.map(bucketOf))
    }

  /** Rows of the table: per path its row count less its deletes, from
    * the manifest alone; a path without a recorded row count (a manifest
    * written before row counts) is counted by a read. */
  def rowCount(spark: SparkSession): Long = {
    val m = readManifest()
    val (known, unknown) = pathsOf(m, None).partition(m.pathRows.contains)
    known.flatMap(m.liveRows).sum +
      (if (unknown.isEmpty) 0L else readFiles(spark, m, unknown).count())
  }

  /** Commit version `v` over `m`: drop `removePaths`, add `written` —
    * the one manifest merge every commit goes through. Paths, row counts,
    * file lists, deletes and `statCol` maxima stay in step (one entry per
    * referenced path only), and exactly the buckets that gain or lose a
    * path, or whose rows `changed` in place, get `v` as their
    * last-touched version. */
  private def commitReplaced(m: Manifest, v: Long, epoch: Long, written: Seq[BucketStore.LeafDir],
      removePaths: Set[String], counters: Map[String, Long],
      props: Map[String, String], changed: Set[Int] = Set.empty): Unit = {
    val writtenByBucket = written.groupBy(_.bucket)
    val touched = writtenByBucket.keySet ++ changed ++
      m.bucketPaths.collect { case (k, ps) if ps.exists(removePaths) => k }
    val merged = (m.bucketPaths.keySet ++ writtenByBucket.keySet).flatMap { k =>
      val kept = m.bucketPaths.getOrElse(k, Nil).filterNot(removePaths)
      val added = writtenByBucket.getOrElse(k, Nil).map(_.path)
      val all = kept ++ added
      if (all.isEmpty) None else Some(k -> all)
    }.toMap
    val keptPaths = merged.values.flatten.toSet
    val rows = m.pathRows.view.filterKeys(keptPaths).toMap ++
      written.map(l => l.path -> l.rows)
    val pmax = m.pathMax.view.filterKeys(keptPaths).toMap ++
      written.flatMap(l => l.statMax.map(l.path -> _))
    val files = m.pathFiles.view.filterKeys(keptPaths).toMap ++
      written.map(l => l.path -> l.files)
    val bv = m.bucketVersions ++ touched.map(_ -> v)
    writeManifest(Manifest(v, epoch, merged, counters, rows, bv,
      m.props ++ props, pmax, files, m.pathDeletes.view.filterKeys(keptPaths).toMap))
  }

  /** Compact leaves whose file count exceeds `maxPathsPerLeaf`: appends
    * accumulate one dir per commit in bands the dequeue never rewrites
    * (cold score bands), so file counts there grow with epoch count. A
    * path with deletes counts once more (its deletes are merged at every
    * read, like a delete file); the rewrite drops the deleted rows. A
    * leaf whose deleted rows are at least its live rows is compacted
    * too, however few its files: its reads decode more deleted rows
    * than they return. Compaction is manifest-driven (no data read to
    * decide), rewrites only the offending leaves, and holds the commit
    * lock across the whole read+rewrite — a concurrent dequeue/append can
    * never commit between compaction's snapshot and its rewrite (which
    * would resurrect removed rows) — it is the Iceberg
    * `rewrite_data_files` analog. `decorate` maps the leaves' versioned
    * read (`readVersioned`'s columns) to the rows written back: it
    * re-adds write-path partition columns the read drops (the queue's
    * band, derived from score) or resolves a merge-on-read delta log by
    * `commit` (the fold is then also a dedup); a `commit` column it
    * leaves is dropped. Returns the buckets whose leaves were compacted. */
  def compact(spark: SparkSession, maxPathsPerLeaf: Int = 8,
      decorate: DataFrame => DataFrame = identity): Set[Int] = withCommitLock {
    val m = readManifest()
    // deleted rows at least the live rows, from the manifest's counts
    def drained(paths: List[String]): Boolean = {
      val deleted = paths.map(m.deletedRows).sum
      deleted > 0 && paths.forall(m.pathRows.contains) && deleted >= paths.flatMap(m.liveRows).sum
    }
    // group leaf paths by (bucket, band); collect the overgrown groups
    val overgrown = for {
      (b, ps) <- m.bucketPaths.toSeq
      paths <- ps.groupBy(bandOf).values
      if paths.size + paths.count(m.pathDeletes.contains) > maxPathsPerLeaf || drained(paths)
    } yield b -> paths
    if (overgrown.nonEmpty) {
      val paths = overgrown.flatMap(_._2)
      replacePaths(
        decorate(readFiles(spark, m, paths, versioned = true)).drop(BucketStore.CommitCol),
        m.epoch, paths.toSet, counters = Map("compacted_leaves" -> overgrown.size.toLong))
    }
    overgrown.map(_._1).toSet
  }

  /** Atomically append to this store as part of epoch bookkeeping only
    * (counters/props update without data change). */
  def commitCounters(epoch: Long, counters: Map[String, Long],
      props: Map[String, String] = Map.empty): Unit =
    withCommitLock {
      val m = readManifest()
      commitReplaced(m, m.version + 1, epoch, Nil, Set.empty, counters, props)
    }
}

object BucketStore {
  /** the column `readVersioned` adds: the version of a row's commit */
  val CommitCol = "commit"
  /** the columns `readPaths(positions = true)` adds: the row's file, as
    * the read numbers it, and the row's position in that file */
  val FileCol = "__file"
  val PosCol = "__pos"

  /** The deleted rows of one file: their positions as a portable
    * RoaringBitmap (base64 in the manifest) and its cardinality — the
    * Iceberg deletion-vector analog. */
  final case class Deletes(cardinality: Long, bitmap: String) {
    def positions: RoaringBitmap = {
      val r = new RoaringBitmap
      r.deserialize(ByteBuffer.wrap(Base64.getDecoder.decode(bitmap)))
      r
    }
  }
  object Deletes {
    def of(positions: RoaringBitmap): Deletes = {
      positions.runOptimize()
      val buf = ByteBuffer.allocate(positions.serializedSizeInBytes)
      positions.serialize(buf)
      Deletes(positions.getLongCardinality, Base64.getEncoder.encodeToString(buf.array))
    }
  }

  /** Rows to delete from one file of a `readPaths` read: their positions,
    * and the rows the read returned from the file (when the read returned
    * no other, the file leaves the manifest). */
  final case class FileDelete(positions: RoaringBitmap, readRows: Long)

  /** `read` with the positions in `deleted` (a file's number -> its
    * deletes) dropped, each row followed by its file's number (`numbers`,
    * by the file's URL-encoded path) and its position in the file. A
    * delete whose bitmap does not hold its recorded cardinality, or
    * names a position past the file's rows, fails the read naming the
    * file. `pathRows` holds, by the number of a path's last file, the
    * numbers of the path's files and the path's row count: once a task
    * has decoded them all, another count fails the read naming the file
    * (the parquet reader reads the row groups whose midpoint lies within
    * the recorded length, so a length shorter than the file's can drop
    * rows). */
  private def positioned(read: PartitionedFile => Iterator[InternalRow],
      numbers: Map[String, Int], deleted: Map[Int, Deletes],
      pathRows: Map[Int, (Seq[Int], Long)]): PartitionedFile => Iterator[InternalRow] = {
    // rows decoded per file number, by the task this function runs in
    val decoded = scala.collection.mutable.Map.empty[Int, Long]
    file => positionedFile(read, file, numbers(file.urlEncodedPath), deleted, pathRows, decoded)
  }

  private def positionedFile(read: PartitionedFile => Iterator[InternalRow],
      file: PartitionedFile, number: Int, deleted: Map[Int, Deletes],
      pathRows: Map[Int, (Seq[Int], Long)],
      decoded: scala.collection.mutable.Map[Int, Long]): Iterator[InternalRow] = {
    def hostile(what: String) =
      new IllegalStateException(s"deletes of ${file.urlEncodedPath}: $what")
    val skip = deleted.get(number).fold(new RoaringBitmap) { d =>
      val positions = d.positions
      if (positions.getLongCardinality != d.cardinality)
        throw hostile(s"the bitmap holds ${positions.getLongCardinality} positions, " +
          s"the manifest records ${d.cardinality}")
      positions
    }.getIntIterator
    val rows = read(file)
    val tag = new GenericInternalRow(2)
    tag.setInt(0, number)
    val joined = new JoinedRow
    new Iterator[InternalRow] with java.io.Closeable {
      private var pos = -1
      private var row: InternalRow = null
      def hasNext: Boolean = {
        while (row == null && rows.hasNext) {
          val r = rows.next()
          pos += 1
          if (skip.hasNext && skip.peekNext() == pos) skip.next() else row = r
        }
        if (row == null && skip.hasNext)
          throw hostile(s"position ${skip.peekNext()} is past the file's ${pos + 1} rows")
        if (row == null && !decoded.contains(number)) {
          decoded(number) = pos + 1L
          for ((ids, recorded) <- pathRows.get(number) if ids.forall(decoded.contains)) {
            val held = ids.map(decoded).sum
            if (held != recorded) throw new IllegalStateException(s"rows of ${file.urlEncodedPath}: " +
              s"its path's ${ids.size} file(s) hold $held rows, the manifest records $recorded")
          }
        }
        row != null
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        tag.setInt(1, pos)
        val out = joined(row, tag)
        row = null
        out
      }
      def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }
  /** manifest JSON (thread-safe once built); stores written before the
    * writer escaped control characters still read; content after the
    * document is an error, not ignored */
  private[spark] val json = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS).build()
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def monitorFor(root: String): Object =
    monitors.computeIfAbsent(root, _ => new Object)
  /** roots whose commit lock the current thread already holds (reentrancy
    * for the OS file lock, which would otherwise throw
    * OverlappingFileLockException on same-JVM re-acquisition) */
  private val heldRoots = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue() = scala.collection.mutable.Set.empty[String]
  }
  /** A Hadoop configuration for one commit's file access: a copy of the
    * default resources parsed once (parsing `core-default.xml` costs
    * milliseconds, a copy of the parsed properties a few hundredths). */
  private[spark] def hadoopConf(): org.apache.hadoop.conf.Configuration =
    new org.apache.hadoop.conf.Configuration(hadoopDefaults)
  private lazy val hadoopDefaults = {
    val c = new org.apache.hadoop.conf.Configuration()
    c.size() // parses the default resources: a copy clones them, parsing nothing
    c
  }
  /** A leaf a commit wrote: its bucket, its path, its rows, the max of
    * the store's `statCol` over them (absent when a row has none), and
    * its files' names and lengths. */
  private[spark] final case class LeafDir(bucket: Int, path: String, rows: Long,
      statMax: Option[Long], files: Map[String, Long])

  /** A store's parquet reader for one session (`readerFor`): Spark's
    * reader of one file, the read's partition and data schemas, and the
    * Hadoop configuration it reads with. */
  private final case class FileReader(read: PartitionedFile => Iterator[InternalRow],
      layout: (StructType, StructType), conf: org.apache.hadoop.conf.Configuration) {
    def output: StructType = FileReader.output(layout)
  }
  private object FileReader {
    /** the columns a read returns: the data, the dir levels, then each
      * row's file and position */
    def output(layout: (StructType, StructType)): StructType =
      StructType(layout._2 ++ layout._1 ++ Seq(
        StructField(FileCol, IntegerType, nullable = false),
        StructField(PosCol, IntegerType, nullable = false)))
  }

  /** The one leaf writer: writes rows grouped by leaf (the partition
    * columns first, then the data columns), one parquet file per leaf,
    * through Spark's parquet write support with the settings of Spark's
    * write set-up (`conf`), so the file format and compression are those
    * of a `DataFrameWriter`. The files are written through java.nio, as
    * the manifests are: Hadoop's local file system would fork a `chmod`
    * for every directory, file and `.crc` file it creates. Parquet's page
    * checksums, which the store's reader verifies, stand for the `.crc`
    * file. Each leaf's stats come from the rows written and the closed
    * file; no footer is read back. It runs on the driver or in a task
    * alike. */
  private[spark] final class LeafWriter(dir: String, partCols: Seq[String],
      dataSchema: StructType, stat: Option[Int],
      conf: org.apache.spark.util.SerializableConfiguration) extends Serializable {
    private def part(r: InternalRow, i: Int): Int =
      if (r.isNullAt(i)) throw new IllegalArgumentException(s"null ${partCols(i)}: no leaf")
      else r.getInt(i)
    /** a row's leaf: its bucket and band (0 with no band) */
    def leaf(r: InternalRow): (Int, Int) = (part(r, 0), if (partCols.size > 1) part(r, 1) else 0)

    /** Write `rows`, which hold each leaf's rows together, and return the
      * leaves written. A leaf is recorded only once its file is closed. */
    def write(rows: Iterator[InternalRow]): Iterator[LeafDir] = {
      import org.apache.parquet.hadoop.{ParquetOutputFormat => F, ParquetWriter}
      val c = conf.value
      val codec = F.getCompression(c)
      val k = partCols.size
      val data = org.apache.spark.sql.catalyst.ProjectingInternalRow(dataSchema, k until k + dataSchema.size)
      val done = Vector.newBuilder[LeafDir]
      var at: (Int, Int) = null
      var path: String = null
      var file: Path = null
      var out: ParquetWriter[InternalRow] = null
      var (n, max, nulls) = (0L, Long.MinValue, false)
      def finish(): Unit = if (out != null) {
        out.close()
        out = null
        done += LeafDir(at._1, path, n, if (stat.isEmpty || nulls) None else Some(max),
          Map(file.getFileName.toString -> Files.size(file)))
      }
      try {
        rows.foreach { r =>
          val l = leaf(r)
          if (l != at) {
            finish()
            at = l
            path = s"$dir/${partCols.head}=${l._1}" + partCols.drop(1).map(c => s"/$c=${l._2}").mkString
            file = Paths.get(path, s"part-${java.util.UUID.randomUUID}${codec.getExtension}.parquet")
            Files.createDirectories(file.getParent)
            // the properties Hadoop's parquet output format reads from `c`
            out = new RowWriterBuilder(new org.apache.parquet.io.LocalOutputFile(file)).withConf(c)
              .withCompressionCodec(codec).withRowGroupSize(F.getLongBlockSize(c))
              .withPageSize(F.getPageSize(c)).withDictionaryPageSize(F.getDictionaryPageSize(c))
              .withDictionaryEncoding(F.getEnableDictionary(c)).withWriterVersion(F.getWriterVersion(c))
              .withPageWriteChecksumEnabled(F.getPageWriteChecksumEnabled(c))
              .withValidation(F.getValidation(c)).build()
            n = 0L; max = Long.MinValue; nulls = false
          }
          data.project(r)
          out.write(data)
          n += 1
          stat.foreach(i => if (r.isNullAt(i)) nulls = true else max = math.max(max, r.getLong(i)))
        }
        finish()
      } catch {
        case NonFatal(e) =>
          // the partial file is an orphan that the version's next write clears
          if (out != null) try out.close() catch { case NonFatal(c) => e.addSuppressed(c) }
          throw e
      }
      done.result().iterator
    }
  }

  /** A parquet writer of Catalyst rows through Spark's write support,
    * which takes the rows' schema and Spark's format settings from the
    * writer's configuration. */
  private final class RowWriterBuilder(file: org.apache.parquet.io.OutputFile)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
  }
}
