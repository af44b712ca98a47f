package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.Exchange
import java.nio.file.{Files, Paths, Path, StandardCopyOption, StandardOpenOption}
import java.nio.channels.FileChannel
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper

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
  *                             and file lists, per-bucket last-touched
  *                             version, counters
  * root/_CURRENT             — current manifest version (atomic rename)
  * }}}
  *
  * Scale properties:
  *  - append = add files to touched buckets/bands only (no rewrite)
  *  - replacePaths = rewrite only the named leaf dirs (a dequeue touches
  *    only the best score bands); other paths stay referenced untouched
  *  - commit = write manifest, then atomically flip _CURRENT; a crashed
  *    epoch leaves the previous snapshot intact (resume-from-checkpoint);
  *    every commit merges the manifest in one place (`commitReplaced`)
  *  - readVersioned carries each row's commit version (the commit=V dir
  *    level), so merge-on-read views resolve deltas without knowing the
  *    layout
  *  - per-path row counts ride in the manifest (parquet footer stats at
  *    commit time) so a dequeue plans its band prefix without any read
  *  - per-path file names and lengths ride in the manifest too, and every
  *    read is planned from them: no directory is listed (an Iceberg scan
  *    plans from its manifests' file lists the same way)
  *  - commits are serialized (JVM monitor + OS file lock) and clean up
  *    orphan commit dirs from crashed writers, so a crash between the
  *    data write and the _CURRENT flip never bricks the store
  */
final class BucketStore(val root: String, val bucketCol: String,
    val buckets: Int, val bandCol: Option[String] = None,
    /** long column whose per-path MAX is tracked in the manifest from
      * the parquet footer stats (e.g. the queue's crawl_at — lets the
      * dequeue prove a scan all-visible without reading data) */
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
        * before file lists: Spark lists that dir) */
      pathFiles: Map[String, Map[String, Long]] = Map.empty)

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

  /** Manifest `v` from its JSON; a malformed document fails naming `file`.
    * Keys added after the first format (rows, bucketv, props, pathmax,
    * files) read as empty when absent. */
  private[spark] def parseManifest(v: Long, json: String, file: String): Manifest =
    try {
      val j = BucketStore.json.readTree(json)
      def fields(k: String): List[(String, JsonNode)] =
        Option(j.get(k)).toList.flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue))
      def longs(k: String): Map[String, Long] = fields(k).map { case (f, n) => f -> n.asLong() }.toMap
      Manifest(v,
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
        }.toMap)
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
    * `files` only when some path has a file list. */
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
       else Seq("files" -> byKey(m.pathFiles.map { case (p, fs) => p -> byKey(fs) })))))
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
    scan(spark, m, pathsOf(m, only), versioned = false)

  /** `readBuckets` plus the `commit` column: the version of the commit
    * that wrote each row (strictly monotonic — the Iceberg sequence-number
    * analog), which merge-on-read views resolve by. */
  def readVersioned(spark: SparkSession, only: Option[Set[Int]] = None): DataFrame = {
    val m = readManifest()
    scan(spark, m, pathsOf(m, only), versioned = true)
  }

  /** Spark's size estimate of `read`, a read of the table at `m` (the
    * optimized plan's `sizeInBytes`, the number its broadcast decision
    * compares). A table with no path has size 0: Spark's estimate of an
    * empty frame is its default size, not 0. */
  def sizeInBytes(m: Manifest, read: DataFrame): Long =
    if (m.bucketPaths.isEmpty) 0L
    else read.queryExecution.optimizedPlan.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong

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
    * Spark's size estimate is the files' bytes, as for `scan`.
    * Reads are normalized to `schema` (the band= dir level is dropped);
    * fields the files predate are filled with typed nulls — additive
    * schema evolution, the Iceberg add-column semantics (a store written
    * before a column existed keeps reading after the upgrade). */
  def readPaths(spark: SparkSession, paths: Seq[String], oneTask: Boolean = false): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.spark.paths.SparkPath
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.plans.physical.{KeyGroupedPartitioning, SinglePartition}
    import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD, PartitionedFile}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.StructType
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val schema = emptySchema.getOrElse(sys.error(s"$root: schema not set"))
    val m = readManifest()
    val hadoopConf = classic.sessionState.newHadoopConf()
    val fs = new HPath(root).getFileSystem(hadoopConf)
    val bucketOf = m.bucketPaths.iterator.flatMap { case (b, ps) => ps.map(_ -> b) }.toMap
    // the dir levels the schema declares: the bucket, and the band
    val partSchema = StructType((bucketCol +: bandCol.toSeq).filter(schema.fieldNames.contains)
      .map(schema(_)))
    val dataSchema = StructType(schema.filterNot(f => partSchema.fieldNames.contains(f.name)))
    // every file under `paths`, with its dir levels' values, by bucket
    val byBucket = paths.distinct.groupBy(bucketOf).toSeq.sortBy(_._1).map { case (b, ps) =>
      b -> ps.flatMap { p =>
        val dir = fs.makeQualified(new HPath(p))
        val values = InternalRow.fromSeq(b +: (if (partSchema.size > 1)
          Seq(bandOf(p)).map(band => if (band >= 0) band else null) else Nil))
        val files = m.pathFiles.get(p) match {
          case Some(listed) => listed.toSeq.sortBy(_._1).map { case (n, len) => (new HPath(dir, n), len) }
          case None => fs.listStatus(dir).toSeq
            .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
            .map(st => (st.getPath, st.getLen))
        }
        files.map { case (file, len) =>
          PartitionedFile(values, SparkPath.fromPath(file), 0L, len, Array.empty[String],
            0L, len, Map.empty)
        }
      }
    }
    val groups = if (oneTask || byBucket.isEmpty) Seq(byBucket.flatMap(_._2)) else byBucket.map(_._2)
    // rows, not batches: the vectorized decoder still reads the pages
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(classic, dataSchema,
      partSchema, dataSchema, Nil, Map("returning_batch" -> "false"), hadoopConf)
    val rdd = new FileScanRDD(classic, reader,
      groups.zipWithIndex.map { case (files, i) => FilePartition(i, files.toArray) },
      StructType(dataSchema ++ partSchema), Nil, Map.empty, new FileSourceOptions(Map.empty[String, String]))
    val output = (dataSchema ++ partSchema).map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val clustering =
      if (groups.size == 1) SinglePartition
      else KeyGroupedPartitioning(output.filter(_.name == bucketCol), byBucket.size,
        byBucket.map { case (b, _) => InternalRow(b) })
    val bytes = groups.iterator.flatten.map(_.fileSize).sum
    GraftColumnBridge.ofRows(spark, LogicalRDD(output, rdd, clustering)(classic,
        Some(Statistics(sizeInBytes = BigInt(bytes)))))
      .select(schema.fieldNames.map(col(_)): _*)
  }

  /** Every store read but `readPaths`: `paths` as a parquet relation
    * (Spark packs the files into tasks by size) whose files come
    * from `m`'s file lists (leaf dirs are immutable, so any manifest that
    * records a path records its files). Spark's file index asks its
    * status cache for each leaf dir before it lists one; the cache here
    * answers from the manifest, so planning lists nothing and runs no
    * job. A path without a file list (a manifest written before file
    * lists) misses, and Spark lists that dir. */
  private def scan(spark: SparkSession, m: Manifest, paths: Seq[String],
      versioned: Boolean): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.{LongType, StructType}
    val schema = emptySchema.getOrElse(sys.error(s"$root: schema not set"))
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (versioned) schema.add(BucketStore.CommitCol, LongType) else schema)
    else {
      val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val blockSize = fs.getDefaultBlockSize(new HPath(root))
      val dirs = paths.map(p => p -> fs.makeQualified(new HPath(p)))
      val recorded: Map[HPath, Array[FileStatus]] = dirs.flatMap { case (p, dir) =>
        m.pathFiles.get(p).map(files => dir -> files.toArray.sortBy(_._1).map {
          case (name, len) => new FileStatus(len, false, 1, blockSize, 0L, new HPath(dir, name))
        })
      }.toMap
      val manifestFiles = new FileStatusCache {
        override def getLeafFiles(dir: HPath): Option[Array[FileStatus]] = recorded.get(dir)
        def putLeafFiles(dir: HPath, files: Array[FileStatus]): Unit = ()
        def invalidateAll(): Unit = ()
      }
      // the declared schema types the partition values (bucket, band;
      // `commit` is inferred) and spares a schema-inference job; fields
      // absent from older files read as typed nulls
      val index = new InMemoryFileIndex(spark, dirs.map(_._2),
        Map("basePath" -> s"$root/data"), Some(schema), manifestFiles)
      val dataSchema = StructType(schema.filterNot(f =>
        index.partitionSchema.fieldNames.contains(f.name)))
      spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
          dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
        .select(schema.fieldNames.map(col(_)) ++
          (if (versioned) Seq(col(BucketStore.CommitCol).cast(LongType)) else Nil): _*)
    }
  }

  /** Declared schema (also used for reads before the first commit). */
  @transient var emptySchema: Option[org.apache.spark.sql.types.StructType] = None

  private final case class LeafDir(bucket: Int, path: String, rows: Long,
      statMax: Option[Long], files: Map[String, Long])

  /** List a directory's entries, materialized. `Files.list` holds an open
    * DirectoryStream (one fd) until closed — leaking it per leaf dir per
    * commit exhausts the process fd limit over a long crawl (buckets ×
    * bands fds per bulkSchedule). Always close before returning. */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.toVector finally s.close()
  }

  /** Walk the committed dir: bucket level, plus band level when banded;
    * row counts + statCol max from the parquet footers, and the files'
    * names and lengths (driver-side metadata only, no Spark job — the
    * Iceberg-manifest file-stats analog). */
  private def leafDirs(commitDir: Path): Seq[LeafDir] = {
    if (!Files.exists(commitDir)) return Nil
    def rel(p: Path): String =
      Paths.get(root).relativize(p).toString.replace(java.io.File.separatorChar, '/')
    val bucketDirs = listDir(commitDir)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$bucketCol="))
    val leafPaths: Seq[(Int, Path)] = bucketDirs.flatMap { bp =>
      val bucket = bp.getFileName.toString.stripPrefix(s"$bucketCol=").toInt
      val leaves = bandCol match {
        case Some(bc) =>
          listDir(bp)
            .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$bc="))
        case None => Seq(bp)
      }
      leaves.map(bucket -> _)
    }
    // footer walks are independent driver-side IO; done sequentially
    // their cost scales with leaf count (buckets × touched bands) and
    // was the dequeue commit's anti-scaling term at high partition
    // counts — run them on a bounded pool instead
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = BucketStore.footerEc
    Await.result(
      Future.traverse(leafPaths) { case (bucket, p) => Future {
        val (rows, mx, files) = footerStats(p)
        LeafDir(bucket, s"$root/${rel(p)}", rows, mx, files)
      }},
      Duration.Inf)
  }

  private def footerStats(dir: Path): (Long, Option[Long], Map[String, Long]) = {
    var rows = 0L
    var mx: Option[Long] = statCol.map(_ => Long.MinValue)
    val files = Map.newBuilder[String, Long]
    listDir(dir)
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .foreach { p =>
        val hpath = new org.apache.hadoop.fs.Path(p.toUri)
        val conf = new org.apache.hadoop.conf.Configuration()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hpath, conf)
        files += p.getFileName.toString -> in.getLength
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          rows += r.getRecordCount
          statCol.foreach { sc =>
            r.getFooter.getBlocks.forEach { block =>
              block.getColumns.forEach { cc =>
                if (cc.getPath.toDotString == sc) {
                  val st = cc.getStatistics
                  if (st == null || st.isEmpty || !st.hasNonNullValue) mx = None
                  else {
                    val v: Option[Long] = st.genericGetMax match {
                      case l: java.lang.Long => Some(l.longValue())
                      case i: java.lang.Integer => Some(i.longValue())
                      case _ => None // unknown physical type: no stat
                    }
                    mx = for (m <- mx; x <- v) yield math.max(m, x)
                  }
                }
              }
            }
          }
        } finally r.close()
      }
    (rows, mx.filter(_ != Long.MinValue), files.result())
  }

  private def writeEpochData(df: DataFrame, commitV: Long): Seq[LeafDir] = {
    // every commit writes a fresh immutable directory (keyed by manifest
    // version, which is strictly monotonic) — a rewrite can never clobber
    // files still referenced by the live manifest. A leftover dir from a
    // CRASHED commit (data written, _CURRENT never flipped) is
    // unreferenced by any manifest <= current, so it is safe to clear.
    val dir = Paths.get(root, "data", s"commit=$commitV")
    if (Files.exists(dir)) deleteRecursively(dir)
    // one file per leaf instead of (tasks × leaves) shards — file count
    // stays flat as parallelism grows: a frame whose plan has no exchange
    // and already keeps each bucket in one task (a `readPaths` read and
    // what derives from it) is written by those tasks; any other is
    // clustered by the partition dirs first (adaptive execution may
    // re-plan an exchange, never a plan without one). Only a frame over
    // RDD scans and caches can report that, so no other is planned twice
    // (planning a frame over local rows evaluates them on the driver).
    // The partition columns go first: stores whose partition columns have
    // the same types then share the generated classes of the shuffle, the
    // sort and the leaf path (the files keep the other columns, in their
    // order)
    val partCols = bucketCol +: bandCol.toSeq
    val ordered = df.select((partCols ++ df.columns.filterNot(partCols.contains)).map(col): _*)
    def clustered: Boolean = {
      val plan = ordered.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      plan.find(_.isInstanceOf[Exchange]).isEmpty && plan.outputPartitioning.satisfies(
        ClusteredDistribution(plan.output.filter(_.name == bucketCol)))
    }
    val overRdds = ordered.queryExecution.withCachedData.collectLeaves().forall {
      case _: LogicalRDD | _: InMemoryRelation => true
      case _ => false
    }
    (if (overRdds && clustered) ordered else ordered.repartition(partCols.map(col): _*))
      .write.mode("errorifexists").partitionBy(partCols: _*).parquet(dir.toString)
    leafDirs(dir)
  }

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
      props: Map[String, String] = Map.empty): Unit =
    replacePaths(df, epoch, Set.empty, counters, props)

  /** Replace only the named leaf dirs: the new manifest drops
    * `removePaths` and adds whatever `df` writes — the band-pruned
    * dequeue rewrite (reads N files, rewrites N files, leaves the other
    * O(queue/batch) files untouched). */
  def replacePaths(df: DataFrame, epoch: Long, removePaths: Set[String],
      counters: Map[String, Long] = Map.empty,
      props: Map[String, String] = Map.empty): Unit =
    withCommitLock {
      val m = readManifest()
      val v = m.version + 1
      commitReplaced(m, v, epoch, writeEpochData(df, v), removePaths, counters, props)
    }

  /** Rewrite leaf groups that may have lost rows: `df` holds every row
    * that remains in `groups` ((bucket, band) -> its current paths), and
    * no row grows a group. A group whose new leaf holds as many rows as
    * the manifest records for its paths lost nothing: the new leaf is
    * deleted and the paths stay referenced. Every other group (also one
    * with a path of unknown row count) is replaced by its new leaf, or
    * emptied. `meta` turns the rows each replaced group lost into the
    * commit's counters and props. Nothing is committed when no group
    * lost a row, and nothing is written when the groups hold no row.
    * Returns the rows lost per replaced group. */
  def rewriteLeaves(df: DataFrame, epoch: Long, groups: Map[(Int, Int), Seq[String]],
      meta: Map[(Int, Int), Long] => (Map[String, Long], Map[String, String]))
      : Map[(Int, Int), Long] =
    withCommitLock {
      val m = readManifest()
      if (groups.valuesIterator.flatten.forall(p => m.pathRows.get(p).contains(0L))) Map.empty
      else {
        val v = m.version + 1
        val written = writeEpochData(df, v)
        val newLeaf = written.map(l => (l.bucket, bandOf(l.path)) -> l).toMap
        val lost = groups.flatMap { case (g, paths) =>
          val old = paths.map(m.pathRows.get)
          val kept = newLeaf.get(g).fold(0L)(_.rows)
          if (old.forall(_.isDefined) && old.flatten.sum == kept) None
          else Some(g -> math.max(0L, old.flatten.sum - kept))
        }
        val dropped = newLeaf.collect { case (g, l) if groups.contains(g) && !lost.contains(g) => l }
        if (lost.isEmpty) deleteRecursively(Paths.get(root, "data", s"commit=$v"))
        else {
          dropped.foreach(l => deleteRecursively(Paths.get(l.path)))
          val (counters, props) = meta(lost)
          commitReplaced(m, v, epoch, written.filterNot(dropped.toSet),
            lost.keysIterator.flatMap(groups).toSet, counters, props)
        }
        lost
      }
    }

  /** Commit version `v` over `m`: drop `removePaths`, add `written` —
    * the one manifest merge every commit goes through. Paths, row counts,
    * file lists and `statCol` maxima stay in step (one entry per
    * referenced path only), and exactly the buckets that gain or lose a
    * path get `v` as their last-touched version. */
  private def commitReplaced(m: Manifest, v: Long, epoch: Long, written: Seq[LeafDir],
      removePaths: Set[String], counters: Map[String, Long],
      props: Map[String, String]): Unit = {
    val writtenByBucket = written.groupBy(_.bucket)
    val touched = writtenByBucket.keySet ++
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
      m.props ++ props, pmax, files))
  }

  /** Compact leaves whose file count exceeds `maxPathsPerLeaf`: appends
    * accumulate one dir per commit in bands the dequeue never rewrites
    * (cold score bands), so file counts there grow with epoch count.
    * Compaction is manifest-driven (no data read to decide), rewrites
    * only the offending leaves, and holds the commit lock across the
    * whole read+rewrite — a concurrent dequeue/append can never commit
    * between compaction's snapshot and its rewrite (which would
    * resurrect removed rows) — it is the Iceberg `rewrite_data_files`
    * analog. `decorate` maps the leaves' versioned read (`readVersioned`'s
    * columns) to the rows written back: it re-adds write-path partition
    * columns the read drops (the queue's band, derived from score) or
    * resolves a merge-on-read delta log by `commit` (the fold is then
    * also a dedup); a `commit` column it leaves is dropped. Returns the
    * buckets whose leaves were compacted. */
  def compact(spark: SparkSession, maxPathsPerLeaf: Int = 8,
      decorate: DataFrame => DataFrame = identity): Set[Int] = withCommitLock {
    val m = readManifest()
    // group leaf paths by (bucket, band); collect the overgrown groups
    val overgrown = for {
      (b, ps) <- m.bucketPaths.toSeq
      paths <- ps.groupBy(bandOf).values if paths.size > maxPathsPerLeaf
    } yield b -> paths
    if (overgrown.nonEmpty) {
      val paths = overgrown.flatMap(_._2)
      replacePaths(
        decorate(scan(spark, m, paths, versioned = true)).drop(BucketStore.CommitCol),
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
  /** bounded pool for the commit-time parquet footer walks (driver-side
    * metadata IO, independent per leaf) */
  private[spark] val footerEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(16,
        r => { val t = new Thread(r, "graft-footer"); t.setDaemon(true); t }))
}
