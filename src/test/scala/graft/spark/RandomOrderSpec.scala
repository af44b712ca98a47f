package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite

/** Seeded random-order scheduling (reference consume_randomly,
  * discovery/__init__.py:65-75, used by _schedule_requests:431-455, and
  * the MAX_SITEMAPS random.sample:359-362): with
  * `DiscoveryConfig.randomSeed` set, the per-domain budget keeps a
  * uniform random SAMPLE of the candidate links (ranked by the
  * deterministic md5(seed|url) permutation) instead of first-N
  * extraction order. Same seed ⇒ bit-identical crawl; different seeds ⇒
  * different samples; no seed ⇒ the deterministic extraction order the
  * rest of the suite pins. */
class RandomOrderSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val home = "http://www.x.com/"
  private val links = (1 to 12).map(i => s"http://www.x.com/p$i")

  /** One discovery crawl over a single-domain site: home page linking 12
    * pages under a budget that binds. Returns the crawl sequence. */
  private def crawl(seed: Option[Long], budget: Int = 8): Seq[String] = {
    val root = tempDir("graft-rand").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.Basic, globalOrder = true,
      ordering = graft.local.QueueOrdering.ScoreCreatedDesc,
      discovery = Some(DiscoveryConfig(maxPagesPerDomain = budget,
        sameDomainOnly = true, justifyScores = true, randomSeed = seed)))
    val robotsBody = "User-agent: *\nDisallow:\n"
    val bodies = Seq(("http://www.x.com/robots.txt", robotsBody))
      .toDF("url", "body")
    val web = Seq((home, links)).toDF("url", "outlinks")
    f.addSeedsDiscovery(Seq(home))
    new SparkCrawler(f, web, 100, bodies = Some(bodies)).run(maxEpochs = 20)
  }

  private def keptPages(seq: Seq[String]): Set[String] =
    seq.filter(_.contains("/p")).toSet

  test("same seed => bit-identical crawl; budget binds") {
    val a = crawl(Some(42L))
    val b = crawl(Some(42L))
    assert(a == b, "same seed must reproduce the exact crawl sequence")
    val kept = keptPages(a)
    assert(kept.nonEmpty && kept.size < links.size,
      s"budget must bind: kept ${kept.size} of ${links.size}")
  }

  test("different seeds => different random samples, same sample size") {
    val a = crawl(Some(42L))
    val b = crawl(Some(7L))
    assert(keptPages(a).size == keptPages(b).size,
      "the budget keeps the same COUNT under any permutation")
    assert(keptPages(a) != keptPages(b),
      s"seeds 42 vs 7 must sample different link sets: ${keptPages(a)}")
  }

  test("no seed => deterministic first-N extraction order (unchanged)") {
    val a = crawl(None)
    val kept = keptPages(a)
    val expected = links.take(kept.size).toSet
    assert(kept == expected,
      s"without a seed the budget keeps the first-N extracted links: $kept")
  }
}
