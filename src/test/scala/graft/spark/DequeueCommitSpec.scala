package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.local.QueueOrdering
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The dequeue's commit: the positions of the rows it took (and of the
  * blacklisted rows its scan found) become deletes of their files in the
  * queue manifest, for every ordering, cap and blacklist. No data file is
  * written; exactly the files that lost rows gain deletes, every other
  * path keeps its files, and the `dequeued` counters and flow-control
  * gauges match the batch. Also: the batch plan compiles to the same code
  * at every epoch, and a bucket is scanned and ranked in one task, with
  * no exchange. */
class DequeueCommitSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def frontier(s: SparkSession = spark, globalOrder: Boolean = false,
      blacklist: Set[String] = Set.empty, flowControl: Boolean = false,
      ordering: QueueOrdering = QueueOrdering.ScoreCreated, maxPerHost: Int = 0) =
    new SparkFrontier(s, tempDir("graft-dqc").toString,
      partitions = 4, stateBuckets = 4, strategy = ScoreStrategy.BFS,
      globalOrder = globalOrder, domainsBlacklist = blacklist,
      flowControl = flowControl, ordering = ordering, maxPerHost = maxPerHost)

  private object Aqe extends AdaptiveSparkPlanHelper
  /** the shuffles of `df`'s executed plan and of the cached plans it reads */
  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] = {
    def walk(p: SparkPlan): Seq[ShuffleExchangeExec] =
      Aqe.collect(p) { case x: ShuffleExchangeExec => x } ++
        Aqe.collect(p) { case i: InMemoryTableScanExec => i.relation.cachedPlan }.flatMap(walk)
    walk(df.queryExecution.executedPlan)
  }

  private def prefill(f: SparkFrontier, n: Int, hosts: Int): Unit =
    f.bulkSchedule(spark.range(n).select(
      concat(lit("http://h"), $"id" % hosts, lit(".example/p/"), $"id").as("url"),
      (($"id" % 10).cast("double") / 10.0).as("score"), lit(0).as("depth")))

  /** the live fingerprints of every path the queue references */
  private def liveByPath(f: SparkFrontier): Map[String, Set[String]] =
    f.queue.readManifest().bucketPaths.values.flatten.map { p =>
      p -> f.queue.readPaths(spark, Seq(p)).select($"fingerprint").as[String].collect().toSet
    }.toMap

  private def dataDirs(f: SparkFrontier): Set[String] = {
    val s = Files.list(java.nio.file.Paths.get(f.queue.root, "data"))
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  /** The queue's state before a dequeue: manifest, live rows per path,
    * data dirs. */
  private final case class Before(m: BucketStore#Manifest, live: Map[String, Set[String]],
      dirs: Set[String])
  private def before(f: SparkFrontier): Before =
    Before(f.queue.readManifest(), liveByPath(f), dataDirs(f))

  /** Checks that the dequeue after `b` committed deletes only: no data
    * directory is written; a path that lost no row keeps its files and
    * its deletes; a path that lost rows gains deletes of exactly as many
    * rows and keeps its files, or, having lost its last row, leaves the
    * manifest. Returns the rows lost per bucket. */
  private def deletesOnly(name: String, f: SparkFrontier, b: Before): Map[Int, Long] = {
    val m1 = f.queue.readManifest()
    assert(dataDirs(f) == b.dirs, s"$name: a dequeue writes no data directory")
    val after = liveByPath(f)
    assert(after.keySet.subsetOf(b.live.keySet), s"$name: a dequeue adds no path")
    val bucketOf = b.m.bucketPaths.toSeq.flatMap { case (k, ps) => ps.map(_ -> k) }.toMap
    b.live.toSeq.map { case (p, rows) =>
      val n = rows.size - after.getOrElse(p, Set.empty).size
      assert(after.get(p).forall(_.subsetOf(rows)), s"$name: $p gained rows")
      if (n == 0) {
        assert(m1.pathFiles.get(p) == b.m.pathFiles.get(p), s"$name: $p lost no row")
        assert(m1.pathDeletes.get(p) == b.m.pathDeletes.get(p), s"$name: $p lost no row")
      } else if (after.contains(p)) {
        assert(m1.pathFiles(p) == b.m.pathFiles(p), s"$name: $p keeps its files")
        assert(m1.deletedRows(p) - b.m.deletedRows(p) == n, s"$name: $p deletes its lost rows")
      }
      bucketOf(p) -> n.toLong
    }.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0)
  }

  private def perPartition(batch: DataFrame): Map[Int, Long] =
    batch.groupBy($"partition_id").count().as[(Int, Long)].collect().toMap

  private def dequeuedCounters(f: SparkFrontier): (Long, Map[Int, Long]) = {
    val c = f.queue.readManifest().counters
    (c.getOrElse("dequeued", -1L), c.collect {
      case (k, n) if k.startsWith("dequeued.p") && n > 0 => k.stripPrefix("dequeued.p").toInt -> n
    })
  }

  test("batch plan compiles to the same code at every epoch") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    def codeAt(epoch: Long): Seq[String] = {
      val f = frontier(s, globalOrder = true)
      f.addSeeds((0 until 6).map(i => s"http://s$i.example/"))
      val batch = f.nextBatch(2, atEpoch = epoch)
      // the batch is cached over the cached scan: walk both cached plans
      def cachedPlans(p: SparkPlan): Seq[SparkPlan] =
        p.collect { case i: InMemoryTableScanExec => i.relation.cachedPlan }
          .flatMap(c => c +: cachedPlans(c))
      val code = cachedPlans(batch.queryExecution.executedPlan)
        .flatMap(p => org.apache.spark.sql.execution.debug.codegenStringSeq(p).map(_._2))
      f.awaitQueueCommit()
      batch.unpersist()
      code
    }
    val (c1, c2) = (codeAt(1), codeAt(2))
    assert(c1.size >= 2, "fixture: the scan's code and the batch's code")
    assert(c1 == c2, "the epoch must not be a literal of the generated code")
  }

  test("no exchange between the queue scan, the batch and a per-bucket aggregate") {
    val cases = Seq(
      "default order" -> frontier(),
      "globalOrder" -> frontier(globalOrder = true),
      "maxPerHost" -> frontier(maxPerHost = 2),
      // a created_at ordering reads every band
      "FIFO" -> frontier(ordering = QueueOrdering.Fifo))
    cases.foreach { case (name, f) =>
      prefill(f, 400, hosts = 13)
      val batch = f.nextBatch(7)
      val perBucket = batch.groupBy($"partition_id", $"score").count()
      assert(shuffles(batch).isEmpty, s"$name: the batch and its cached scan")
      assert(shuffles(perBucket).isEmpty, s"$name: an aggregate keyed by the bucket")
      assert(perBucket.collect().map(_.getLong(2)).sum == batch.count())
      f.awaitQueueCommit()
    }
  }

  test("ip mode: a slot spans buckets, so Spark moves the scanned rows to its window") {
    // IpSlotSpec's fixture, with the co-hosted hostnames in two buckets
    val hosts = ('a' to 'z').map(c => s"$c.com")
    def inBucket(b: Int) = hosts.filter(h => graft.core.Hashing.crc32Partition(h, 2) == b)
    val Seq(a, c) = inBucket(0).take(2)
    val b = inBucket(1).head
    val resolver: String => String = h => if (h == a || h == b) "10.0.0.1" else "10.9.9.9"
    val f = new SparkFrontier(spark, tempDir("graft-dqc").toString,
      partitions = 2, stateBuckets = 2, strategy = ScoreStrategy.BFS,
      maxPerHost = 4, ipResolver = Some(resolver))
    f.bulkSchedule(spark.range(30).select(
      when($"id" < 10, concat(lit(s"http://$a/p/"), $"id"))
        .when($"id" < 20, concat(lit(s"http://$b/p/"), $"id"))
        .otherwise(concat(lit(s"http://$c/p/"), $"id")).as("url"),
      lit(0.5).as("score"), lit(0).as("depth")))
    val queued = f.queue.read(spark).as[DequeueModel.QRow].collect().toSeq
    val batch = f.nextBatch(100)
    assert(shuffles(batch).nonEmpty, "the slot window's exchange")
    val model = DequeueModel.batch(DequeueModel.Case(queued, 2, QueueOrdering.ScoreCreated,
      globalOrder = false, maxPerHost = 4, blacklist = Set.empty, budget = 100,
      now = f.epoch), r => resolver(r.host))
    assert(batch.as[DequeueModel.QRow].collect().toSeq.sortBy(_.url) == model.sortBy(_.url))
    assert(model.size == 8, "fixture: the co-hosted hostnames share one budget of 4")
    f.awaitQueueCommit()
    // the slot window moved rows between tasks: each file's deletes
    // still cover exactly its taken rows
    assert(f.queue.read(spark).as[DequeueModel.QRow].collect().toSeq.sortBy(_.url) ==
      queued.diff(model).sortBy(_.url))
  }

  test("a dequeue writes no data file: the files that lost rows gain deletes") {
    Seq("default order" -> frontier(), "globalOrder" -> frontier(globalOrder = true),
        "FIFO (several bands per bucket)" -> frontier(ordering = QueueOrdering.Fifo),
        "FIFO with a blacklist" -> frontier(ordering = QueueOrdering.Fifo,
          blacklist = Set("h3.example")))
      .foreach { case (name, f) =>
        prefill(f, 400, hosts = 13)
        val blacklisted = f.queue.read(spark).filter($"host" === "h3.example").count()
        // two batches: the second deletes from files the first left deletes in
        (1 to 2).foreach { round =>
          val b = before(f)
          val batch = f.nextBatch(7).cache()
          val n = batch.count()
          f.awaitQueueCommit()
          val lost = deletesOnly(s"$name, batch $round", f, b)
          // a FIFO scan reads every band, so it finds every blacklisted row
          val found = if (name.endsWith("blacklist") && round == 1) blacklisted else 0L
          assert(n > 0 && lost.values.sum == n + found, s"$name, batch $round")
          assert(f.queue.readManifest().pathDeletes.nonEmpty, s"$name: fixture: deletes")
          if (name.startsWith("FIFO") && round == 1)
            assert(b.live.keySet.count(p => f.queue.readManifest().deletedRows(p) > 0) > 1,
              s"$name: fixture: several files lost rows")
          batch.unpersist()
        }
      }
  }

  test("globalOrder over 4 buckets, batch from one bucket: other scanned bands stay referenced") {
    val f = frontier(globalOrder = true)
    // one host holds the 12 best scores; the rest of the queue is worse
    val best = (0 until 40).map(i => s"h$i.example")
      .find(h => graft.core.Hashing.crc32Partition(h, 4) == 2).get
    val bestRows = (0 until 12).map(i => (s"http://$best/b/$i", 0.01 * i))
    val rest = (0 until 400).map(i => (s"http://h${i % 40}.example/r/$i", 0.5 + (i % 5) / 10.0))
      .filterNot(_._1.contains(s"//$best/"))
    f.bulkSchedule((bestRows ++ rest).toDF("url", "score").withColumn("depth", lit(0)))
    val bucketOfBest = 2
    val m0 = f.queue.readManifest()
    assert(m0.bucketPaths.keySet == Set(0, 1, 2, 3), "fixture: rows in every bucket")

    val b0 = before(f)
    val batch = f.nextBatch(5)
    val urls = batch.select($"url").as[String].collect().toSet
    assert(urls == bestRows.take(5).map(_._1).toSet)
    // bucket 2 covers the budget with its 5 one-row best bands
    assert(f.lastScan.scannedPaths > 5,
      "fixture: the scan reads bands of the other buckets too")
    f.awaitQueueCommit()
    assert(deletesOnly("globalOrder", f, b0) == Map(bucketOfBest -> 5L))
    val m1 = f.queue.readManifest()
    (0 until 4).filter(_ != bucketOfBest).foreach { b =>
      assert(m1.bucketPaths(b) == m0.bucketPaths(b),
        s"bucket $b lost no row: its paths must stay referenced unchanged")
      assert(!m1.bucketPaths(b).exists(m1.pathDeletes.contains), s"bucket $b has no delete")
    }
    // the 5 one-row bands lost their only row: their paths leave
    assert(m0.bucketPaths(bucketOfBest).diff(m1.bucketPaths(bucketOfBest)).size == 5)
    assert(dequeuedCounters(f) == (5L, Map(bucketOfBest -> 5L)))
    assert(f.queueSize() == bestRows.size + rest.size - 5)
    batch.unpersist()
  }

  test("FIFO scans the whole queue: only the files that lost rows gain deletes") {
    val f = frontier(globalOrder = true, ordering = QueueOrdering.Fifo)
    prefill(f, 400, hosts = 13)
    val b0 = before(f)
    val batch = f.nextBatch(5)
    assert(batch.count() == 5)
    assert(f.lastScan.scannedPaths == f.lastScan.totalPaths,
      "fixture: a created_at ordering reads every band")
    f.awaitQueueCommit()
    assert(b0.live.size > 10, "fixture: many (bucket, band) paths")
    assert(deletesOnly("FIFO", f, b0).values.sum == 5L)
    val m1 = f.queue.readManifest()
    val withDeletes = m1.pathDeletes.keySet
    assert(withDeletes.nonEmpty && withDeletes.size <= 5)
    assert(withDeletes.toSeq.map(m1.deletedRows).sum == 5L)
    assert(m1.bucketPaths.values.flatten.toSet == b0.live.keySet,
      "every path keeps its files: none lost its last row")
    assert(dequeuedCounters(f)._1 == 5L)
    batch.unpersist()
  }

  test("a dequeue commit that fails before the manifest flip replays its batch") {
    val root = tempDir("graft-dqc").toString
    def open() = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, domainsBlacklist = Set("h3.example"))
    val f = open()
    prefill(f, 400, hosts = 13)
    val queue = f.queue.read(spark).as[DequeueModel.QRow].collect().toSeq
    // the commit's manifest file cannot be written: the commit thread
    // fails after it collected the positions, before `_CURRENT` flips
    val v = f.queue.currentVersion
    val blocked = java.nio.file.Paths.get(root, "queue", "manifest", s"m${v + 1}.json")
    Files.createDirectories(blocked)
    val batch = f.nextBatch(7).as[DequeueModel.QRow].collect().toSeq
    assert(batch.nonEmpty)
    intercept[java.io.IOException](f.awaitQueueCommit())
    Files.delete(blocked)
    assert(f.queue.currentVersion == v, "no commit")
    // no delete is visible: not through this store, nor to a new frontier
    assert(f.queue.read(spark).as[DequeueModel.QRow].collect().toSeq.sortBy(_.url) ==
      queue.sortBy(_.url))
    val resumed = open()
    assert(resumed.queueSize() == queue.size)
    assert(resumed.queue.read(spark).as[DequeueModel.QRow].collect().toSeq.sortBy(_.url) ==
      queue.sortBy(_.url))
    assert(resumed.nextBatch(7).as[DequeueModel.QRow].collect().toSeq.sortBy(_.url) ==
      batch.sortBy(_.url), "the replayed batch")
    resumed.awaitQueueCommit()
    // the replayed commit lands: the batch and scanned blacklisted rows go
    val left = resumed.queue.read(spark).as[DequeueModel.QRow].collect().toSeq
    assert(left.filter(_.host != "h3.example").sortBy(_.url) ==
      queue.diff(batch).filter(_.host != "h3.example").sortBy(_.url))
    assert(resumed.queueSize() == left.size)
  }

  test("dequeued counters equal the batch's per-partition counts on both commit paths") {
    // no blacklist, no caps: the manifest proves the scan all-visible
    val plain = frontier()
    prefill(plain, 400, hosts = 13)
    val b1 = plain.nextBatch(7).cache()
    val expected1 = perPartition(b1)
    plain.awaitQueueCommit()
    assert(dequeuedCounters(plain) == (expected1.values.sum, expected1))
    assert(plain.queueSize() == 400 - expected1.values.sum)

    // a blacklisted host's scanned rows are deleted but never counted as
    // dequeued
    val withBl = frontier(blacklist = Set("h3.example"))
    prefill(withBl, 400, hosts = 13)
    val b2 = withBl.nextBatch(7).cache()
    val expected2 = perPartition(b2)
    assert(!b2.select($"host").as[String].collect().contains("h3.example"))
    withBl.awaitQueueCommit()
    assert(dequeuedCounters(withBl) == (expected2.values.sum, expected2))
    b1.unpersist(); b2.unpersist()
  }

  test("flow control with a blacklist: in-flight gauges return to 0 after processCrawled") {
    val f = frontier(blacklist = Set("h5.example"), flowControl = true)
    prefill(f, 200, hosts = 11)
    val noLinks = Seq.empty[(Double, Long, Int, Int, String)]
      .toDF("parent_score", "parent_created", "parent_depth", "link_idx", "link_url")
    def gauges = f.queue.readManifest().props.collect {
      case (k, v) if k.startsWith("fc.p") => k -> v.toLong }
    (1 to 3).foreach { _ =>
      val b = f.nextBatch(5).cache()
      val n = perPartition(b)
      f.awaitQueueCommit()
      assert(gauges.filter(_._2 > 0) == n.map { case (p, c) => s"fc.p$p" -> c },
        "the dequeue raises each partition's gauge by its batch rows")
      f.processCrawled(b.select($"fingerprint", $"url", $"depth", $"score", $"created_at"),
        noLinks, f.lastProcessedEpoch + 1)
      assert(gauges.values.forall(_ == 0L), s"gauges after processCrawled: $gauges")
      b.unpersist()
    }
  }
}
