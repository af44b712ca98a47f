package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import graft.local.QueueOrdering
import java.nio.file.Files

/** The dequeue's residue commit. A score-pruned prefix proven visible
  * finds the bands that lost rows from row counts alone (no Spark job);
  * any other scan (a created_at ordering, a blacklist, caps) takes one
  * grouped stats job. Both must commit what a stats-driven commit
  * would: untouched bands keep their paths, and the `dequeued` counters
  * and flow-control gauges match the batch. Also: the batch plan
  * compiles to the same code at every epoch. */
class DequeueCommitSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def frontier(s: SparkSession = spark, globalOrder: Boolean = false,
      blacklist: Set[String] = Set.empty, flowControl: Boolean = false,
      ordering: QueueOrdering = QueueOrdering.ScoreCreated) =
    new SparkFrontier(s, Files.createTempDirectory("graft-dqc").toString,
      partitions = 4, stateBuckets = 4, strategy = ScoreStrategy.BFS,
      globalOrder = globalOrder, domainsBlacklist = blacklist,
      flowControl = flowControl, ordering = ordering)

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
