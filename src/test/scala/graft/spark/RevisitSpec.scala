package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.local.Graphs

/** Revisit scheduling (reference tests/test_revisiting_backend.py:38-56:
  * with a short revisit interval, some URL reappears within a few
  * iterations) + the metadata sink (S7). */
class RevisitSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import org.apache.spark.sql.functions._

  test("crawled URLs reappear after the revisit interval; metadata logs every fetch") {
    for ((side, s) <- SparkTestBase.sides) withClue(s"$side: ") {
      val root = tempDir("graft-revisit").toString
      val graph = Graphs.site01
      val frontier = new SparkFrontier(s, root, partitions = 4,
        stateBuckets = 4, strategy = ScoreStrategy.BFS, globalOrder = true,
        revisitIntervalEpochs = Some(2))
      frontier.addSeeds(graph.seeds)
      val crawler = new SparkCrawler(frontier, GraphTables.webDF(s, graph), 100)
      val seq = crawler.runEpochs(8)
      val counts = seq.groupBy(identity).view.mapValues(_.size).toMap
      // every page crawled at least once, and revisits happened
      assert(counts.keySet == Graphs.site01.nodes)
      assert(counts.values.exists(_ >= 2), s"no URL was revisited: $counts")
      // a revisited URL must wait ≥ interval epochs between fetches
      val epochOf = crawler.sequence.toList.zipWithIndex.flatMap {
        case (batch, i) => batch.map(u => u -> i)
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      epochOf.values.foreach { es =>
        es.sliding(2).foreach {
          case List(a, b) => assert(b - a >= 2, s"revisit too early: $es")
          case _ =>
        }
      }
      // metadata sink: one record per fetch (crawls + revisits)
      val meta = frontier.metadata.read(s)
      assert(meta.count() == seq.length)
      assert(meta.select("status").distinct().collect().map(_.getString(0)).toSet == Set("200"))
      // per-document fetch history is queryable
      val perDoc = meta.groupBy("url").agg(count(lit(1)).as("n"))
      assert(perDoc.filter(col("n") >= 2).count() >= 1)
    }
  }

  test("DELAY_ON_EMPTY backoff: empty dequeues skip the scan until the " +
       "delay passes; future crawl_at rows still come back") {
    // reference contrib/scrapy/schedulers/frontier.py:141-152 — after an
    // empty get_next_requests the scheduler stops calling the frontier
    // for DELAY_ON_EMPTY; any non-empty batch resets the delay. Engine
    // analog: epoch-valued backoff, skipped dequeues do NO planning.
    import spark.implicits._
    val root = tempDir("graft-delayempty").toString
    val url = "http://solo.example/only"
    val web = Seq((url, Seq.empty[String])).toDF("url", "outlinks")
    val frontier = new SparkFrontier(spark, root, partitions = 2,
      stateBuckets = 2, strategy = ScoreStrategy.BFS, globalOrder = true,
      revisitIntervalEpochs = Some(4), delayOnEmptyEpochs = 3)
    frontier.addSeeds(Seq(url))
    val crawler = new SparkCrawler(frontier, web, 100)
    assert(crawler.crawlOnce(1), "epoch 1 crawls the seed")
    // epoch 2: the revisit row (crawl_at = 5) is invisible — a REAL scan
    // that comes back empty arms the backoff
    assert(!crawler.crawlOnce(2))
    assert(!frontier.lastScan.skippedOnEmpty, "epoch 2 is a real scan")
    assert(frontier.lastScan.totalPaths > 0)
    // epochs 3-4 are inside the backoff: no manifest walk, no Spark job
    for (e <- 3 to 4) {
      assert(!crawler.crawlOnce(e))
      assert(frontier.lastScan.skippedOnEmpty, s"epoch $e must be skipped")
      assert(frontier.lastScan.totalPaths == 0)
    }
    // epoch 5: backoff expired AND crawl_at visible — the revisit fires
    // (the skipped epochs lost nothing)
    assert(crawler.crawlOnce(5), "revisit must fire once the delay passes")
    assert(!frontier.lastScan.skippedOnEmpty)
    assert(crawler.sequence.toList.flatten == List(url, url))
  }
}
