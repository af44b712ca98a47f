package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The one leaf writer (`BucketStore.LeafWriter`): rows the driver holds
  * are written with no job, rows in tasks by one job, to the same leaves
  * with the same stats; a write that fails partway leaves the store as it
  * was, and the next commit of the version clears what it wrote; an
  * epoch's commits start the jobs their placement implies. */
class LeafWriterSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  private val schema = StructType(Seq(StructField("fingerprint", StringType),
    StructField("crawl_at", LongType), StructField("bucket", IntegerType),
    StructField("band", IntegerType)))

  // 4 buckets x 3 bands; leaf (3, 1) holds the one null crawl_at
  private val rows = (0 until 60).map(i =>
    (s"fp-$i", if (i == 7) None else Some((i % 11).toLong), i % 4, i % 3))

  private def store(prefix: String): BucketStore = {
    val s = new BucketStore(tempDir(prefix).toString, "bucket", 4, bandCol = Some("band"),
      statCol = Some("crawl_at"))
    s.emptySchema = Some(schema)
    s
  }

  /** `rows` as a local relation of `s` (written on the driver) */
  private def localFrame(s: SparkSession, rs: Seq[(String, Option[Long], Int, Int)]): DataFrame = {
    import s.implicits._
    rs.toDF("fingerprint", "crawl_at", "bucket", "band")
  }

  /** `rows` read from parquet files by `s` (written by tasks) */
  private def fileFrame(s: SparkSession, rs: Seq[(String, Option[Long], Int, Int)]): DataFrame = {
    val dir = tempDir("graft-leaf-src").resolve("rows").toString
    localFrame(spark, rs).write.parquet(dir)
    val df = s.read.parquet(dir)
    assert(!SparkFrontier.isLocal(df), "fixture: a file source is not a local relation")
    df
  }

  /** the descriptions of the jobs `body` starts, in this thread or in the
    * threads it starts; a marker job ends the count, since the listener
    * bus delivers job starts in order */
  private def jobsOf(body: => Unit): List[String] = {
    val sc = spark.sparkContext
    val group = s"graft-leaf-${java.util.UUID.randomUUID}"
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "unlabeled")
      body
      sc.setJobGroup(group, "marker")
      sc.parallelize(Seq(1), 1).count()
      Iterator.continually(Option(started.poll(60, TimeUnit.SECONDS))
          .getOrElse(fail("the marker job's start never arrived")))
        .takeWhile(_ != "marker").toList
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def reads(s: BucketStore): Map[Row, Int] =
    s.read(spark).collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** per leaf path, relative to the store root: rows and `pathmax` */
  private def leafStats(s: BucketStore): Map[String, (Option[Long], Option[Long])] = {
    val m = s.readManifest()
    m.bucketPaths.valuesIterator.flatten.map(p =>
      p.stripPrefix(s"${s.root}/") -> (m.pathRows.get(p), m.pathMax.get(p))).toMap
  }

  private def filesUnder(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val w = Files.walk(dir)
      try w.iterator.asScala.filter(Files.isRegularFile(_)).toVector finally w.close()
    }

  test("a local frame is written on the driver with no job, and tasks write the same leaves") {
    val (onDriver, inTasks) = (store("graft-leaf-driver"), store("graft-leaf-tasks"))
    assert(jobsOf(onDriver.append(localFrame(spark, rows), 1)).isEmpty,
      "the driver write started a job")
    assert(jobsOf(inTasks.append(fileFrame(spark, rows), 1)).nonEmpty)

    assert(reads(onDriver) == reads(inTasks))
    assert(reads(onDriver).values.sum == rows.size)
    // per leaf: its rows, and the max crawl_at unless a row has none
    val expected = rows.groupBy { case (_, _, b, band) => (b, band) }.map { case ((b, band), rs) =>
      s"data/commit=0/bucket=$b/band=$band" -> (Some(rs.size.toLong),
        if (rs.exists(_._2.isEmpty)) None else Some(rs.flatMap(_._2).max))
    }
    assert(leafStats(onDriver) == expected)
    assert(leafStats(inTasks) == expected)
    assert(expected("data/commit=0/bucket=3/band=1")._2.isEmpty, "fixture: a leaf with a null")
    // each leaf holds one parquet file: the manifest's file, at its length
    for (s <- Seq(onDriver, inTasks)) {
      val m = s.readManifest()
      for (p <- m.bucketPaths.valuesIterator.flatten) {
        val onDisk = filesUnder(Paths.get(p)).filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => f.getFileName.toString -> Files.size(f)).toMap
        assert(onDisk.size == 1, p)
        assert(m.pathFiles(p) == onDisk, p)
      }
      assert(!filesUnder(Paths.get(s.root)).exists(_.getFileName.toString.contains("_SUCCESS")))
    }
  }

  for ((placement, frame) <- Seq[(String, (SparkSession, Seq[(String, Option[Long], Int, Int)]) => DataFrame)](
      "driver" -> localFrame, "tasks" -> fileFrame))
    test(s"a write that fails partway ($placement) moves nothing; the version's next append clears it and commits") {
      val (first, second) = rows.splitAt(20)
      val s = store(s"graft-leaf-crash-$placement")
      s.append(localFrame(spark, first), 0)
      val v = s.currentVersion
      val (manifest, before) = (s.manifestJson(s.readManifest()), reads(s))
      val input = frame(spark, second)

      // the JVM fails the creation of the write's second parquet file
      val e = FailingCreate.failingAt(2, s.root)(intercept[Exception](s.append(input, 1)))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("injected")), e)
      // a failed task's siblings may still be closing their files
      val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(60)
      while (spark.sparkContext.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
          System.nanoTime < deadline) Thread.sleep(20)

      val commitDir = Paths.get(s.root, "data", s"commit=${v + 1}")
      val partial = filesUnder(commitDir).filter(_.getFileName.toString.endsWith(".parquet"))
      assert(partial.nonEmpty, "fixture: the write failed partway, after a file was created")
      assert(s.currentVersion == v)
      assert(!Files.exists(Paths.get(s.root, "manifest", s"m${v + 1}.json")))
      assert(s.manifestJson(s.readManifest()) == manifest)
      assert(reads(s) == before)

      s.append(frame(spark, second), 1)
      assert(s.currentVersion == v + 1)
      assert(partial.forall(f => !Files.exists(f)), "the retry kept the failed write's files")
      val listed = s.readManifest().pathFiles.toSeq.flatMap { case (p, fs) => fs.keys.map(n => Paths.get(p, n)) }
      assert(filesUnder(commitDir).filter(_.getFileName.toString.endsWith(".parquet")).toSet ==
        listed.filter(_.startsWith(commitDir)).toSet)

      val uninterrupted = store(s"graft-leaf-clean-$placement")
      uninterrupted.append(localFrame(spark, first), 0)
      uninterrupted.append(frame(spark, second), 1)
      assert(reads(s) == reads(uninterrupted))
      assert(leafStats(s) == leafStats(uninterrupted))
    }

  test("an epoch's commits: driver writes start no job, task writes one each, no store holds _SUCCESS") {
    // the conformance settings
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    import s.implicits._
    val root = tempDir("graft-leaf-epoch").toString
    val f = new SparkFrontier(s, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    def u(i: Int) = s"http://leaf.example/$i"
    def pages(is: Int*) = is.map(i => (graft.core.Hashing.urlFingerprint(u(i)), u(i), 0, 0.0, i.toLong))
      .toDF("fingerprint", "url", "depth", "score", "created_at")
    // (parent created_at, link index, link target)
    def links(ls: (Long, Int, Int)*) = ls.map { case (created, idx, to) => (0.0, created, 0, idx, u(to)) }
      .toDF("parent_score", "parent_created", "parent_depth", "link_idx", "link_url")

    assert(jobsOf(f.addSeeds(Seq(u(0)))).isEmpty, "the seeds' queue append started a job")
    val scheduling = jobsOf(f.processCrawled(pages(0), links((0L, 0, 1), (0L, 1, 2)), 1))
    assert(scheduling.count(_ == "graft: queue append") == 1, scheduling)
    assert(scheduling.count(_ == "graft: states merge") == 1, scheduling)
    assert(!scheduling.contains("graft: metadata append"), scheduling)
    val idle = jobsOf(f.processCrawled(pages(1, 2), links(), 2))
    assert(!idle.exists(Set("graft: metadata append", "graft: states merge")), idle)
    assert(f.lastProcessedEpoch == 2L)
    assert(f.stateSnapshot() == (0 to 2).map(i =>
      graft.core.Hashing.urlFingerprint(u(i)) -> graft.local.States.Crawled).toMap)
    assert(f.metadata.read(s).count() == 3)
    assert(!filesUnder(Paths.get(root)).exists(p =>
      p.getFileName.toString.contains("_SUCCESS") || p.toString.contains("_temporary")))
  }
}

/** Fails the creation of a chosen parquet file in this JVM: the leaf
  * writer creates its files through java.nio, which asks the security
  * manager before it opens a file for writing. */
object FailingCreate {
  /** `body`, during which the JVM fails the creation of the `n`-th
    * parquet file under `root` it opens for writing; any other access is
    * allowed */
  def failingAt[T](n: Int, root: String)(body: => T): T = {
    val created = new AtomicInteger
    val manager = new SecurityManager {
      override def checkPermission(p: java.security.Permission): Unit = ()
      override def checkPermission(p: java.security.Permission, context: Any): Unit = ()
      override def checkWrite(file: String): Unit =
        if (file.startsWith(root) && file.endsWith(".parquet") && created.incrementAndGet() == n)
          throw new SecurityException(s"injected: create $file")
    }
    System.setSecurityManager(manager)
    try body finally System.setSecurityManager(null)
  }
}
