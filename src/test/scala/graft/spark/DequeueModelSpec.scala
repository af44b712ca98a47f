package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.local.QueueOrdering
import java.nio.file.Files

/** The dequeue's rank rule in plain Scala, over a whole queue: per bucket
  * (or over every bucket under `globalOrder`) the visible rows in
  * `batchOrder` + url, each politeness slot capped, blacklisted
  * hosts dropped, the budget taken. */
object DequeueModel {
  final case class QRow(fingerprint: String, url: String, host: String, partition_id: Int,
      score: Double, created_at: Long, depth: Int, crawl_at: Long)

  final case class Case(rows: Seq[QRow], buckets: Int, ordering: QueueOrdering,
      globalOrder: Boolean, maxPerHost: Int, blacklist: Set[String],
      budget: Int, now: Long)

  def order(o: QueueOrdering): Ordering[QRow] = {
    val byUrl = Ordering.by[QRow, String](_.url)
    val created = Ordering.by[QRow, Long](_.created_at)
    val score = Ordering.by[QRow, Double](_.score)
    def andThen(a: Ordering[QRow], b: Ordering[QRow]): Ordering[QRow] =
      (x, y) => { val c = a.compare(x, y); if (c != 0) c else b.compare(x, y) }
    o match {
      case QueueOrdering.Fifo => andThen(created, byUrl)
      case QueueOrdering.Lifo => andThen(created.reverse, byUrl)
      case QueueOrdering.ScoreCreatedDesc => andThen(andThen(score.reverse, created), byUrl)
      case _ => andThen(andThen(score, created), byUrl)
    }
  }

  def blacklisted(c: Case)(r: QRow): Boolean =
    c.blacklist.map(_.toLowerCase).contains(r.host.toLowerCase)

  /** The batch of `c`; `slot` is the politeness key of a row. */
  def batch(c: Case, slot: QRow => String = _.host): Seq[QRow] = {
    val ord = order(c.ordering)
    val visible = c.rows.filter(r => !blacklisted(c)(r) && r.crawl_at <= c.now)
    val capped =
      if (c.maxPerHost == 0) visible
      else visible.groupBy(slot).values.flatMap(_.sorted(ord).take(c.maxPerHost)).toSeq
    val ranked = if (c.globalOrder) Seq(capped) else capped.groupBy(_.partition_id).values.toSeq
    ranked.flatMap(_.sorted(ord).take(c.budget))
  }

  def multiset[A](xs: Seq[A]): Map[A, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)

  val genCase: Gen[Case] = for {
    buckets <- Gen.oneOf(1, 4)
    hosts <- Gen.choose(1, 6)
    ordering <- Gen.oneOf(QueueOrdering.Score, QueueOrdering.ScoreCreated,
      QueueOrdering.ScoreCreatedDesc, QueueOrdering.Fifo, QueueOrdering.Lifo)
    globalOrder <- Gen.oneOf(false, true)
    maxPerHost <- Gen.oneOf(0, 0, 2, 4)
    blacklist <- Gen.oneOf(Set.empty[String], Set("H1.example"))
    budget <- Gen.choose(1, 8)
    n <- Gen.choose(0, 48)
    // few scores and stamps: ties in every ordering; crawl_at 5 is hidden at epoch 3
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, hosts - 1),
      Gen.oneOf(0.1, 0.25, 0.5, 0.55, 0.9, 1.0), Gen.choose(0L, 4L),
      Gen.frequency(4 -> 0L, 1 -> 5L)))
  } yield Case(rows.zipWithIndex.map { case ((h, score, created, crawlAt), i) =>
      val host = s"h$h.example"
      val url = s"http://$host/p/$i"
      QRow(graft.core.Hashing.urlFingerprint(url), url, host,
        graft.core.Hashing.crc32Partition(host, buckets), score, created, 0, crawlAt)
    }, buckets, ordering, globalOrder, maxPerHost, blacklist, budget, now = 3L)
}

/** `nextBatch` against `DequeueModel` over seeded random queues: three
  * batches in a row, each batch and the rows left in the queue as
  * multisets, the rows left read both by `queue.read` and by the next
  * dequeue's scan; then a rescore and a compaction of the queue the
  * deletes left. */
class DequeueModelSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._
  import DequeueModel._

  /** a frontier whose queue holds exactly `c.rows` */
  def frontierOf(c: Case, ipResolver: Option[String => String] = None): SparkFrontier = {
    val f = new SparkFrontier(spark, tempDir("graft-dqm").toString,
      partitions = c.buckets, stateBuckets = 2, strategy = ScoreStrategy.BFS,
      globalOrder = c.globalOrder, maxPerHost = c.maxPerHost,
      domainsBlacklist = c.blacklist, ordering = c.ordering, ipResolver = ipResolver)
    if (c.rows.nonEmpty)
      f.queue.append(c.rows.toDF().withColumn("band",
        least(greatest(floor($"score" * SparkFrontier.ScoreBands).cast("int"), lit(0)),
          lit(SparkFrontier.ScoreBands - 1))), 0L)
    f
  }

  test("nextBatch and its residue equal the model over seeded random queues") {
    val cases = (0 until 24).flatMap(i => genCase(Gen.Parameters.default, Seed(800L + i)))
    assert(cases.size == 24)
    assert(cases.exists(_.maxPerHost > 0) && cases.exists(_.globalOrder) &&
      cases.exists(_.buckets == 4) && cases.exists(_.blacklist.nonEmpty) &&
      cases.map(_.ordering).distinct.size == 5,
      "fixture: the seeds cover caps, a blacklist, both scopes and every ordering")
    cases.foreach { c =>
      val f = frontierOf(c)
      // the model's queue before each batch: the prefill, then the rows
      // `queue.read` returned after the last batch, which the next
      // batch's scan must read the same
      var queued = c.rows
      (1 to 3).foreach { round =>
        val got = f.nextBatch(c.budget, atEpoch = c.now).as[QRow].collect().toSeq
        f.awaitQueueCommit()
        val left = f.queue.read(spark).as[QRow].collect().toSeq
        val want = batch(c.copy(rows = queued))
        assert(multiset(got) == multiset(want), s"batch $round of $c")
        // rows neither taken nor blacklisted stay queued; a blacklisted row
        // may be deleted (when its band is scanned), never added
        val rest = multiset(queued.diff(want).filterNot(blacklisted(c)))
        assert(multiset(left.filterNot(blacklisted(c))) == rest, s"residue $round of $c")
        assert(multiset(left.filter(blacklisted(c))).forall { case (r, n) =>
          multiset(queued).getOrElse(r, 0) >= n }, s"residue $round of $c")
        assert(f.queueSize() == left.size, s"queueSize $round of $c")
        queued = left
      }
      // a rescore rewrites the rescored row's band; the rows the batches
      // deleted stay deleted
      queued.find(!blacklisted(c)(_)).foreach { r =>
        assert(f.updateScores(Seq((r.url, 0.3)).toDF("url", "score")) == 1L)
        queued = queued.map(q => if (q.url == r.url) q.copy(score = 0.3) else q)
        assert(multiset(f.queue.read(spark).as[QRow].collect().toSeq) == multiset(queued),
          s"rescored residue of $c")
      }
      // compaction folds every path with deletes: the same rows, no deletes
      f.compactQueue(1)
      val m = f.queue.readManifest()
      assert(m.pathDeletes.isEmpty && (m.version < 0 || !Files.readString(
        java.nio.file.Paths.get(f.queue.root, "manifest", s"m${m.version}.json")).contains("\"deletes\"")),
        s"compacted $c")
      assert(multiset(f.queue.read(spark).as[QRow].collect().toSeq) == multiset(queued),
        s"compacted residue of $c")
    }
  }
}
