package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.local.Graphs
import graft.core.{UrlUtil, Hashing}

/** Discovery-lite strategy (reference strategy/discovery/__init__.py):
  * per-domain max_pages budget over a persistent domain_metadata table,
  * same-domain link filter, home-page classification, host-hash score
  * justification. */
class DiscoverySpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("helpers: sld (PSL-lite), is_home_page_url, justify score parity") {
    assert(UrlUtil.sld("test.cloud.c.com") == "c.com")
    assert(UrlUtil.sld("www.a.com") == "a.com")
    assert(UrlUtil.sld("a.com") == "a.com")
    assert(UrlUtil.sld("www.example.co.uk") == "example.co.uk")
    assert(UrlUtil.sld("localhost") == "localhost")

    // reference is_home_page_url (discovery/__init__.py:32-36): query
    // blocks; path must be empty or literally in DEFAULT_HOME_PATHS
    // (the list holds 'index.html' WITHOUT a slash — '/index.html' is
    // NOT a home path; mirrored verbatim)
    assert(UrlUtil.isHomePage("http://a.com"))
    assert(UrlUtil.isHomePage("http://a.com/"))
    assert(!UrlUtil.isHomePage("http://a.com/x"))
    assert(!UrlUtil.isHomePage("http://a.com/?q=1"))
    assert(!UrlUtil.isHomePage("http://a.com/index.html"))

    // justify_request_score_by_hostname (discovery/__init__.py:47-50)
    val df = Seq(("www.a.com", 0.8), ("b.com", 0.5), ("test.cloud.c.com", 0.005))
      .toDF("host", "score")
      .select(FrontierExprs.justify_score($"host", $"score").as("j"),
        $"host", $"score")
    val got = df.as[(Double, String, Double)].collect()
    got.foreach { case (j, host, score) =>
      val crc = Hashing.signedCrc32(host)
      val expected = math.floor(math.abs(crc / 2147483647.0) * 10) / 10.0 +
        math.max(0.01, score - 0.01) / 10.0
      assert(math.abs(j - expected) < 1e-12, s"$host: $j vs $expected")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("per-domain max_pages budget stops each domain at the budget (SITE_09)") {
    for ((side, s) <- SparkTestBase.sides) withClue(s"$side: ") {
      val root = tempDir("graft-disc").toString
      val budget = 2
      val f = new SparkFrontier(s, root, partitions = 4, stateBuckets = 4,
        strategy = ScoreStrategy.Basic, globalOrder = true,
        discovery = Some(DiscoveryConfig(maxPagesPerDomain = budget,
          sameDomainOnly = false, justifyScores = true)))
      f.addSeeds(Graphs.site09.seeds)
      val c = new SparkCrawler(f, GraphTables.webDF(s, Graphs.site09), 100)
      val seq = c.run()

      // persistent counters: every domain stops at the budget
      val counters = f.readDomainMeta()
        .select($"domain", $"queued_pages").as[(String, Long)].collect().toMap
      assert(counters.nonEmpty)
      counters.foreach { case (d, n) =>
        assert(n <= budget, s"domain $d queued $n > budget $budget")
      }

      // crawled pages per domain <= budget (+1 for a seed, which the
      // reference injects outside the budget)
      val seedDomains = Graphs.site09.seeds.map(u => UrlUtil.sld(UrlUtil.slotKey(u)))
      seq.groupBy(u => UrlUtil.sld(UrlUtil.slotKey(u))).foreach { case (d, urls) =>
        val allowance = budget + seedDomains.count(_ == d)
        assert(urls.size <= allowance,
          s"domain $d crawled ${urls.size} > $allowance: $urls")
      }
      // budget actually binds: SITE_09's a.com alone has 7 links
      assert(seq.size < Graphs.site09.nodes.size)

      // the budget survives a restart (domain_metadata is persistent):
      // a fresh frontier over the same root schedules nothing new
      val f2 = new SparkFrontier(s, root, partitions = 4, stateBuckets = 4,
        strategy = ScoreStrategy.Basic, globalOrder = true,
        discovery = Some(DiscoveryConfig(maxPagesPerDomain = budget,
          sameDomainOnly = false)))
      val c2 = new SparkCrawler(f2, GraphTables.webDF(s, Graphs.site09), 100)
      c2.run()
      val counters2 = f2.readDomainMeta()
        .select($"domain", $"queued_pages").as[(String, Long)].collect().toMap
      counters2.foreach { case (d, n) => assert(n <= budget, s"$d: $n") }
    }
  }

  test("same-domain filter keeps the crawl inside the seeds' 2nd-level domains") {
    for ((side, s) <- SparkTestBase.sides) withClue(s"$side: ") {
      val root = tempDir("graft-samedom").toString
      val f = new SparkFrontier(s, root, partitions = 4, stateBuckets = 4,
        strategy = ScoreStrategy.Basic, globalOrder = true,
        discovery = Some(DiscoveryConfig(maxPagesPerDomain = 100,
          sameDomainOnly = true)))
      f.addSeeds(Graphs.site09.seeds)
      val c = new SparkCrawler(f, GraphTables.webDF(s, Graphs.site09), 100)
      val seq = c.run()
      val seedSlds = Graphs.site09.seeds.map(u => UrlUtil.sld(UrlUtil.slotKey(u))).toSet
      assert(seedSlds == Set("a.com", "b.com"))
      seq.foreach { u =>
        assert(seedSlds.contains(UrlUtil.sld(UrlUtil.slotKey(u))),
          s"crawl left the seed domains: $u")
      }
      // cross-domain targets exist in the graph and were NOT crawled
      assert(Graphs.site09.nodes.exists(u => !seedSlds.contains(UrlUtil.sld(UrlUtil.slotKey(u)))))
      // home pages outrank non-home links of the same domain: b.com's
      // self-link is a home page scored 0.8... under the min-queue LOWER
      // pops first, so home (0.8 class) pops after interest/other (0.5) —
      // verify the classifier wired by checking queue scores were written
      // in the 0.x justify form
      val meta = f.metadata.read(s).select($"score").as[Double].collect()
      assert(meta.forall(s => s >= 0.0 && s <= 1.01))
    }
  }
}
