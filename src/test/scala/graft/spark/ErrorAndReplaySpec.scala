package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.local.Graphs
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Request-error path (reference core/manager.py:572-580, ERROR=3 at
  * core/components.py:97-101), jid/epoch stale-event filtering
  * (worker/strategy.py:53-71), and commit-crash resilience. */
class ErrorAndReplaySpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("fetch error: ERROR=3 state, error metadata, never re-scheduled, no links") {
    val root = tempDir("graft-err").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    f.addSeeds(Graphs.site02.seeds)
    val dead = "http://bbb.com/11"
    val c = new SparkCrawler(f, GraphTables.webDF(spark, Graphs.site02), 100,
      fetchError = Some(col("url") === dead))
    val seq = c.run()

    // dequeued once, failed, never re-scheduled
    assert(seq.count(_ == dead) == 1)
    // its subtree is unreachable (no links extracted from a failed fetch)
    assert(!seq.exists(_.startsWith(dead + "1")),
      s"children of a failed fetch must not be crawled: $seq")
    // the aaa tree is fully crawled regardless
    assert(Graphs.site01.nodes.subsetOf(seq.toSet))

    // state snapshot: ERROR=3
    val fp = graft.core.Hashing.urlFingerprint(dead)
    assert(f.stateSnapshot().get(fp).contains(graft.local.States.Error))

    // metadata records the error string
    val errMeta = f.metadata.read(spark)
      .filter($"fingerprint" === fp).select($"status").as[String].collect()
    assert(errMeta.length == 1 && errMeta.head.startsWith("fetch failed"),
      errMeta.toList.toString)

    // later links to the errored URL are dropped by the states check:
    // replay an extracted link pointing at it in a later epoch
    val qBefore = f.queueSize()
    val links = Seq((0.5, 123L, 1, 0, dead))
      .toDF("parent_score", "parent_created", "parent_depth", "link_idx", "link_url")
    val pages = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("fingerprint", StringType),
        StructField("url", StringType), StructField("depth", IntegerType),
        StructField("score", DoubleType), StructField("created_at", LongType))))
    f.processCrawled(pages, links, f.lastProcessedEpoch + 1)
    assert(f.queueSize() == qBefore, "errored URL must not be re-scheduled")
  }

  test("jid filter: a replayed epoch batch is a no-op") {
    val root = tempDir("graft-jid").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    val pages = Seq(("fp-1", "http://a.com/1", 0, 0.0, 1L))
      .toDF("fingerprint", "url", "depth", "score", "created_at")
    val links = Seq((0.0, 1L, 0, 0, "http://a.com/2"), (0.0, 1L, 0, 1, "http://a.com/3"))
      .toDF("parent_score", "parent_created", "parent_depth", "link_idx", "link_url")

    f.processCrawled(pages, links, epochNo = 1)
    val q1 = f.queueSize()
    val s1 = f.stateSnapshot()
    val m1 = f.metadata.read(spark).count()
    assert(q1 == 2 && s1.size == 3)

    // replay the SAME epoch (duplicate bus events after a restart)
    f.processCrawled(pages, links, epochNo = 1)
    assert(f.queueSize() == q1, "replayed epoch must not append to the queue")
    assert(f.stateSnapshot() == s1)
    assert(f.metadata.read(spark).count() == m1)
    assert(f.lastProcessedEpoch == 1L)

    // a NEW epoch still applies
    val links2 = Seq((0.0, 1L, 0, 0, "http://a.com/4"))
      .toDF("parent_score", "parent_created", "parent_depth", "link_idx", "link_url")
    f.processCrawled(pages.limit(0), links2, epochNo = 2)
    assert(f.queueSize() == 3)
  }

  test("partial-crash replay heals: stores that missed the epoch apply, others skip") {
    // simulate a crash AFTER the epoch-3 queue append but BEFORE the
    // states merge and the jid marker: pre-stamp the queue manifest with
    // epoch 3, then replay the full epoch — the queue commit must skip
    // (no duplicate rows), the states/metadata commits must apply
    val root = tempDir("graft-heal").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    val pages = Seq(("fp-9", "http://h.com/9", 0, 0.0, 1L))
      .toDF("fingerprint", "url", "depth", "score", "created_at")
    val links = Seq((0.0, 1L, 0, 0, "http://h.com/10"))
      .toDF("parent_score", "parent_created", "parent_depth", "link_idx", "link_url")
    f.processCrawled(pages, links, epochNo = 1) // normal epoch
    val q1 = f.queueSize()

    // "crashed" epoch 3: only the queue commit happened (manifest epoch
    // advanced, jid marker NOT yet written)
    f.queue.commitCounters(3, Map.empty)
    assert(f.lastProcessedEpoch == 1L, "marker must lag the partial epoch")

    // bus replays epoch 3 in full
    val pages3 = Seq(("fp-11", "http://h.com/11", 1, 0.1, 5L))
      .toDF("fingerprint", "url", "depth", "score", "created_at")
    val noLinks = links.limit(0)
    val mBefore = f.metadata.read(spark).count()
    f.processCrawled(pages3, noLinks, epochNo = 3)
    assert(f.queueSize() == q1, "queue already at epoch 3: append must skip")
    assert(f.stateSnapshot().get("fp-11").contains(graft.local.States.Crawled),
      "states missed epoch 3 and must heal on replay")
    assert(f.metadata.read(spark).count() == mBefore + 1,
      "metadata missed epoch 3 and must heal on replay")
    assert(f.lastProcessedEpoch == 3L)

    // second replay of the now-complete epoch is a full no-op
    f.processCrawled(pages3, noLinks, epochNo = 3)
    assert(f.metadata.read(spark).count() == mBefore + 1)
  }

  /** Three epochs of a small crawl on `s`: each epoch's fetched pages,
    * their extracted links (new URLs, in-batch duplicates, links to pages
    * already crawled) and, in the last, a failed fetch. */
  private def crawl(s: SparkSession): Seq[(DataFrame, DataFrame, Option[DataFrame])] = {
    import s.implicits._
    def u(i: Int) = s"http://wave.example/$i"
    def pages(ps: (Int, Int, Long)*) = ps.map { case (i, depth, created) =>
      (graft.core.Hashing.urlFingerprint(u(i)), u(i), depth, 0.1 * depth, created)
    }.toDF("fingerprint", "url", "depth", "score", "created_at")
    // (parent depth, parent created_at, link index, link target)
    def links(ls: (Int, Long, Int, Int)*) = ls.map { case (depth, created, idx, to) =>
      (0.1 * depth, created, depth, idx, u(to))
    }.toDF("parent_score", "parent_created", "parent_depth", "link_idx", "link_url")
    val failed = Seq((graft.core.Hashing.urlFingerprint(u(8)), u(8), 2, 0.2, "fetch failed: 503"))
      .toDF("fingerprint", "url", "depth", "score", "error")
    Seq(
      (pages((1, 0, 1L)), links((0, 1L, 0, 2), (0, 1L, 1, 3)), None),
      (pages((2, 1, 10L), (3, 1, 11L)),
        links((1, 10L, 0, 1), (1, 10L, 1, 4), (1, 11L, 0, 4), (1, 11L, 1, 5), (1, 11L, 2, 2)), None),
      (pages((4, 2, 20L), (5, 2, 21L)), links((2, 20L, 0, 6), (2, 20L, 1, 3), (2, 21L, 0, 7)),
        Some(failed)))
  }

  private def waveFrontier(s: SparkSession, root: String,
      linkTransforms: Seq[DataFrame => DataFrame] = Nil) =
    new SparkFrontier(s, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true, linkTransforms = linkTransforms)

  private def applyEpochs(f: SparkFrontier, s: SparkSession, epochs: Range): Unit = {
    val c = crawl(s)
    for (e <- epochs) {
      val (pages, links, errors) = c(e - 1)
      f.processCrawled(pages, links, e, errors)
    }
  }

  /** the seen set, the metadata rows and the queue rows */
  private def outcome(f: SparkFrontier, s: SparkSession) =
    (f.stateSnapshot(), f.metadata.read(s).collect().map(_.toString).sorted.toSeq,
      f.queue.read(s).collect().map(_.toString).sorted.toSeq)

  private lazy val uninterrupted = SparkTestBase.sides.map { case (side, s) =>
    val f = waveFrontier(s, tempDir("graft-wave").toString)
    applyEpochs(f, s, 1 to 3)
    side -> outcome(f, s)
  }.toMap

  test("a failing metadata commit: the states manifest does not flip, and the replay heals") {
    for ((side, s) <- SparkTestBase.sides) {
      val root = tempDir("graft-wave-meta").toString
      val f = waveFrontier(s, root)
      applyEpochs(f, s, 1 to 1)
      val (sv, mv) = (f.states.currentVersion, f.metadata.currentVersion)
      val blocked = Paths.get(root, "metadata", "manifest", s"m${mv + 1}.json")
      Files.createDirectories(blocked)
      intercept[java.io.IOException](applyEpochs(f, s, 2 to 2))
      Files.delete(blocked)
      assert(f.metadata.currentVersion == mv)
      assert(f.states.currentVersion == sv, s"$side: the states manifest flipped")
      assert(f.lastProcessedEpoch == 1L)
      assert(f.queue.readManifest().epoch == 2L, "fixture: the queue append committed")
      val resumed = waveFrontier(s, root)
      applyEpochs(resumed, s, 2 to 3)
      assert(outcome(resumed, s) == uninterrupted(side), side)
    }
  }

  test("a failing states flip after the metadata flip: the replay skips metadata and applies states") {
    for ((side, s) <- SparkTestBase.sides) {
      val root = tempDir("graft-wave-states").toString
      val f = waveFrontier(s, root)
      applyEpochs(f, s, 1 to 1)
      val sv = f.states.currentVersion
      val blocked = Paths.get(root, "states", "manifest", s"m${sv + 1}.json")
      Files.createDirectories(blocked)
      intercept[java.io.IOException](applyEpochs(f, s, 2 to 2))
      Files.delete(blocked)
      assert(f.states.currentVersion == sv && f.lastProcessedEpoch == 1L, side)
      assert(f.metadata.readManifest().epoch == 2L, "fixture: the metadata append committed")
      val (mv, metaRows) = (f.metadata.currentVersion, f.metadata.read(s).count())
      val resumed = waveFrontier(s, root)
      applyEpochs(resumed, s, 2 to 2)
      assert(resumed.metadata.currentVersion == mv && resumed.metadata.read(s).count() == metaRows,
        s"$side: the replay must skip metadata")
      assert(resumed.lastProcessedEpoch == 2L)
      applyEpochs(resumed, s, 3 to 3)
      assert(outcome(resumed, s) == uninterrupted(side), side)
    }
  }

  test("a links pipeline that throws: the epoch's metadata commit is joined first, and the replay heals") {
    val root = tempDir("graft-wave-links").toString
    @volatile var failing = false
    val boom: DataFrame => DataFrame = df =>
      if (failing) throw new IllegalStateException("links pipeline fails") else df
    val f = waveFrontier(spark, root, Seq(boom))
    applyEpochs(f, spark, 1 to 1)
    failing = true
    val e = intercept[IllegalStateException](applyEpochs(f, spark, 2 to 2))
    assert(e.getMessage == "links pipeline fails")
    assert(f.metadata.readManifest().epoch == 2L,
      "the metadata commit started with the epoch ran to its end before the rethrow")
    val live = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-"))
    assert(live.isEmpty, live.map(_.getName))
    assert(f.lastProcessedEpoch == 1L)
    failing = false
    applyEpochs(waveFrontier(spark, root, Seq(boom)), spark, 2 to 3)
    assert(outcome(waveFrontier(spark, root), spark) == uninterrupted("exact"))
  }

  test("A7 flow control: busy partitions yield no batch until results are processed") {
    val root = tempDir("graft-fc").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = false,
      flowControl = true)
    f.bulkSchedule(spark.range(200).select(
      concat(lit("http://fc"), $"id" % 20, lit(".com/p/"), $"id").as("url"),
      ($"id".cast("double") / 1000.0).as("score"), lit(0).as("depth")))

    val b1 = f.nextBatch(5).cache()
    val n1 = b1.count()
    assert(n1 > 0)
    // nothing processed yet: every partition's lag >= budget -> all busy
    val b2 = f.nextBatch(5)
    assert(b2.count() == 0, "busy partitions must produce no batch")

    // processing the first batch releases the gauge
    val pages = b1.select($"fingerprint", $"url", $"depth", $"score", $"created_at")
    val noLinks = Seq.empty[(Double, Long, Int, Int, String)]
      .toDF("parent_score", "parent_created", "parent_depth", "link_idx", "link_url")
    f.processCrawled(pages, noLinks, f.lastProcessedEpoch + 1)
    val b3 = f.nextBatch(5)
    assert(b3.count() > 0, "processed partitions must be ready again")
    b1.unpersist()
  }

  test("A7 + DELAY_ON_EMPTY: an all-busy empty batch never arms the backoff") {
    // regression: the empty batch produced when EVERY bucket is
    // flow-control busy used to arm the delayOnEmptyEpochs backoff —
    // conflating "partitions busy" with "queue drained" — so dequeues
    // kept short-circuiting for the whole backoff window AFTER the lag
    // cleared. Busy-empty must not arm; genuinely-drained still must.
    val root = tempDir("graft-fcdelay").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = false,
      flowControl = true, delayOnEmptyEpochs = 100)
    f.bulkSchedule(spark.range(40).select(
      concat(lit("http://fcd"), $"id" % 8, lit(".com/p/"), $"id").as("url"),
      ($"id".cast("double") / 1000.0).as("score"), lit(0).as("depth")))

    val b1 = f.nextBatch(5).cache()
    assert(b1.count() > 0)
    // all partitions busy -> empty batch, but a real scan happened and
    // the backoff must NOT be armed
    val busy = f.nextBatch(5)
    assert(busy.count() == 0)
    assert(!f.lastScan.skippedOnEmpty, "busy-empty is a scan, not a skip")

    val pages = b1.select($"fingerprint", $"url", $"depth", $"score", $"created_at")
    val noLinks = Seq.empty[(Double, Long, Int, Int, String)]
      .toDF("parent_score", "parent_created", "parent_depth", "link_idx", "link_url")
    f.processCrawled(pages, noLinks, f.lastProcessedEpoch + 1)
    // lag cleared: the very next dequeue must produce rows immediately
    // (with the bug it short-circuited for the next 100 epochs)
    val b2 = f.nextBatch(5)
    assert(b2.count() > 0, "cleared lag must dequeue immediately")
    assert(!f.lastScan.skippedOnEmpty)
    b1.unpersist()

    // and a GENUINE drain still arms: drain everything, then observe the
    // short-circuit
    var guard = 0
    var drained = false
    while (!drained && guard < 50) {
      val b = f.nextBatch(1000).cache()
      val n = b.count()
      if (n == 0) drained = true
      else f.processCrawled(
        b.select($"fingerprint", $"url", $"depth", $"score", $"created_at"),
        noLinks, f.lastProcessedEpoch + 1)
      b.unpersist()
      guard += 1
    }
    assert(drained)
    val afterDrain = f.nextBatch(1000)
    assert(afterDrain.count() == 0)
    assert(f.lastScan.skippedOnEmpty,
      "drained frontier inside the backoff window must skip the scan")
  }

  test("orphan commit dir from a crashed writer does not brick the store") {
    val root = tempDir("graft-orphan").toString
    val store = new BucketStore(s"$root/t", "b", 4)
    store.emptySchema = Some(StructType(Seq(
      StructField("b", IntegerType), StructField("v", LongType))))
    store.append(Seq((0, 1L), (1, 2L)).toDF("b", "v"), epoch = 0)
    val v = store.currentVersion

    // simulate a crash AFTER the next commit's data write but BEFORE the
    // _CURRENT flip: an orphan commit dir (and even its manifest file)
    Files.createDirectories(Paths.get(s"$root/t/data/commit=${v + 1}/b=0"))
    Files.writeString(Paths.get(s"$root/t/data/commit=${v + 1}/b=0/junk.parquet"), "junk")
    Files.createDirectories(Paths.get(s"$root/t/manifest"))
    Files.writeString(Paths.get(s"$root/t/manifest/m${v + 1}.json"), "{corrupt")

    // the next commit must clear the orphan and succeed
    store.append(Seq((0, 3L)).toDF("b", "v"), epoch = 1)
    assert(store.currentVersion == v + 1)
    assert(store.read(spark).count() == 3)
  }
}
