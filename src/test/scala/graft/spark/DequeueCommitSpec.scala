package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.local.QueueOrdering
import java.nio.file.Files

/** The dequeue's residue commit. A score-pruned prefix proven visible
  * finds the bands that lost rows from row counts alone (no Spark job);
  * any other scan (a created_at ordering, a blacklist, caps) takes one
  * grouped stats job. Both must commit what a stats-driven commit
  * would: untouched bands keep their paths, and the `dequeued` counters
  * and flow-control gauges match the batch. Also: the batch plan
  * compiles to the same code at every epoch; a bucket is scanned, ranked
  * and rewritten in one task, with no exchange, and its rewritten leaves
  * hold one file each. */
class DequeueCommitSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def frontier(s: SparkSession = spark, globalOrder: Boolean = false,
      blacklist: Set[String] = Set.empty, flowControl: Boolean = false,
      ordering: QueueOrdering = QueueOrdering.ScoreCreated, maxPerHost: Int = 0,
      hostSalts: Int = 1) =
    new SparkFrontier(s, Files.createTempDirectory("graft-dqc").toString,
      partitions = 4, stateBuckets = 4, strategy = ScoreStrategy.BFS,
      globalOrder = globalOrder, domainsBlacklist = blacklist,
      flowControl = flowControl, ordering = ordering, maxPerHost = maxPerHost,
      hostSalts = hostSalts)

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
      "maxPerHost over 2 salts" -> frontier(maxPerHost = 2, hostSalts = 2),
      // the stats job's groupBy(partition_id, band) reads the same cache
      "FIFO (stats job)" -> frontier(ordering = QueueOrdering.Fifo))
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
    val f = new SparkFrontier(spark, Files.createTempDirectory("graft-dqc").toString,
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
      globalOrder = false, maxPerHost = 4, hostSalts = 1, blacklist = Set.empty, budget = 100,
      now = f.epoch), r => resolver(r.host))
    assert(batch.as[DequeueModel.QRow].collect().toSeq.sortBy(_.url) == model.sortBy(_.url))
    assert(model.size == 8, "fixture: the co-hosted hostnames share one budget of 4")
    f.awaitQueueCommit()
  }

  test("a residue rewrite writes one file per leaf") {
    Seq("default order" -> frontier(), "globalOrder" -> frontier(globalOrder = true),
        "FIFO (stats job, several bands per bucket)" -> frontier(ordering = QueueOrdering.Fifo))
      .foreach { case (name, f) =>
        prefill(f, 400, hosts = 13)
        val before = f.queue.readManifest().bucketPaths.values.flatten.toSet
        f.nextBatch(7)
        f.awaitQueueCommit()
        val m = f.queue.readManifest()
        val written = m.bucketPaths.toSeq.flatMap { case (b, ps) => ps.filterNot(before).map(b -> _) }
        assert(written.nonEmpty, s"$name: fixture: the dequeue rewrote leaves")
        written.foreach { case (_, p) =>
          assert(m.pathFiles(p).size == 1, s"$name: $p holds ${m.pathFiles(p)}")
          val onDisk = Files.list(java.nio.file.Paths.get(p))
          try assert(onDisk.filter(_.toString.endsWith(".parquet")).count() == 1, s"$name: $p")
          finally onDisk.close()
        }
        if (name.startsWith("FIFO"))
          assert(written.groupBy(_._1).values.exists(_.size > 1),
            "fixture: a bucket with several rewritten bands")
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

    val batch = f.nextBatch(5)
    val urls = batch.select($"url").as[String].collect().toSet
    assert(urls == bestRows.take(5).map(_._1).toSet)
    // bucket 2 covers the budget with its 5 one-row best bands
    assert(f.lastScan.scannedPaths > 5,
      "fixture: the scan reads bands of the other buckets too")
    f.awaitQueueCommit()
    val m1 = f.queue.readManifest()
    (0 until 4).filter(_ != bucketOfBest).foreach { b =>
      assert(m1.bucketPaths(b) == m0.bucketPaths(b),
        s"bucket $b lost no row: its paths must stay referenced unchanged")
    }
    assert(m1.bucketPaths(bucketOfBest) != m0.bucketPaths(bucketOfBest))
    assert(dequeuedCounters(f) == (5L, Map(bucketOfBest -> 5L)))
    assert(f.queueSize() == bestRows.size + rest.size - 5)
    batch.unpersist()
  }

  test("FIFO scans the whole queue: only the bands that lost rows are rewritten (stats job)") {
    val f = frontier(globalOrder = true, ordering = QueueOrdering.Fifo)
    prefill(f, 400, hosts = 13)
    def groups(m: BucketStore#Manifest) = m.bucketPaths.toSeq.flatMap { case (b, ps) =>
      ps.groupBy(f.queue.bandOf).map { case (band, gps) => (b, band) -> gps.toSet } }.toMap
    def rows(m: BucketStore#Manifest, ps: Set[String]) = ps.toSeq.map(m.pathRows).sum
    val m0 = f.queue.readManifest()
    val batch = f.nextBatch(5)
    assert(batch.count() == 5)
    assert(f.lastScan.scannedPaths == f.lastScan.totalPaths,
      "fixture: a created_at ordering reads every band")
    f.awaitQueueCommit()
    val m1 = f.queue.readManifest()
    val (g0, g1) = (groups(m0), groups(m1))
    assert(g0.size > 10, "fixture: many (bucket, band) groups")
    val rewritten = g0.keySet.filter(g => !g1.get(g).contains(g0(g)))
    assert(rewritten.nonEmpty && rewritten.size <= 5)
    val lost = rewritten.toSeq.map(g => rows(m0, g0(g)) - g1.get(g).fold(0L)(rows(m1, _)))
    assert(lost.forall(_ > 0), "a band that lost no row keeps its paths")
    assert(lost.sum == 5L)
    assert(dequeuedCounters(f)._1 == 5L)
    batch.unpersist()
  }

  test("dequeued counters equal the batch's per-partition counts on both commit paths") {
    // no blacklist, no caps: the commit finds the touched bands from row counts
    val plain = frontier()
    prefill(plain, 400, hosts = 13)
    val b1 = plain.nextBatch(7).cache()
    val expected1 = perPartition(b1)
    plain.awaitQueueCommit()
    assert(dequeuedCounters(plain) == (expected1.values.sum, expected1))
    assert(plain.queueSize() == 400 - expected1.values.sum)

    // a blacklisted host forces the stats job; its rows are deleted but
    // never counted as dequeued
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
