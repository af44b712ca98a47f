package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite

/** Discovery bootstrap protocol (reference strategy/discovery):
  * seeds schedule a robots.txt PROBE at 0.9 (process_seeds, :191-213);
  * the robots response persists its body into domain_metadata, schedules
  * the `Sitemap:` directives at 0.9 and the home page at 0.8
  * (_process_robots_txt, :284-333); sitemap responses contribute their
  * `<loc>` URLs (parse_sitemap); ordinary links are then denied by the
  * STORED robots body. Dequeue is highest-score-first
  * (ScoreCreatedDesc) — the ordering discovery's scores are designed for. */
class DiscoveryBootstrapSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("robots probe -> sitemap + home -> links, robots deny from domain_metadata") {
    val root = tempDir("graft-boot").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.Basic, globalOrder = true,
      ordering = graft.local.QueueOrdering.ScoreCreatedDesc,
      discovery = Some(DiscoveryConfig(maxPagesPerDomain = 100,
        sameDomainOnly = true, justifyScores = true)))

    val robotsBody =
      """User-agent: *
        |Disallow: /private
        |Sitemap: http://www.x.com/sitemap.xml
        |""".stripMargin
    val sitemapBody =
      "<urlset><url><loc>http://www.x.com/c</loc></url>" +
        "<url><loc>http://www.x.com/d</loc></url></urlset>"
    val bodies = Seq(
      ("http://www.x.com/robots.txt", robotsBody),
      ("http://www.x.com/sitemap.xml", sitemapBody)).toDF("url", "body")
    val web = Seq(
      ("http://www.x.com/", Seq("http://www.x.com/a", "http://www.x.com/private/1",
        "http://www.x.com/b", "http://other.com/x"))).toDF("url", "outlinks")

    f.addSeedsDiscovery(Seq("http://www.x.com/somewhere"))
    val c = new SparkCrawler(f, web, 100, bodies = Some(bodies))
    val seq = c.run(maxEpochs = 20)

    // the crawl starts with the robots probe, not the seed page
    assert(seq.head == "http://www.x.com/robots.txt", seq.toString)
    assert(!seq.contains("http://www.x.com/somewhere"))

    // robots body persisted per 2nd-level domain; subdomain set captured
    val dm = f.readDomainMeta()
      .select($"domain", $"robots_body", $"subdomains")
      .as[(String, String, Seq[String])].collect()
      .map { case (k, b, s) => k -> ((b, s)) }.toMap
    assert(dm.contains("x.com"), dm.keys.toString)
    assert(dm("x.com")._1 != null && dm("x.com")._1.contains("Disallow: /private"))
    assert(dm("x.com")._2.contains("www.x.com"))

    // probe order: sitemap (0.9 class) before home (0.8) under desc order
    val posSitemap = seq.indexOf("http://www.x.com/sitemap.xml")
    val posHome = seq.indexOf("http://www.x.com/")
    assert(posSitemap > 0 && posHome > 0 && posSitemap < posHome,
      s"sitemap must outrank home: $seq")

    // sitemap <loc> URLs and home links crawled
    for (u <- Seq("http://www.x.com/a", "http://www.x.com/b",
        "http://www.x.com/c", "http://www.x.com/d"))
      assert(seq.contains(u), s"$u missing from $seq")

    // robots deny from the STORED body; same-domain filter
    assert(!seq.exists(_.startsWith("http://www.x.com/private")),
      s"robots-denied path crawled: $seq")
    assert(!seq.exists(_.contains("other.com")), s"same-domain filter leaked: $seq")
  }

  test("sitemap INDEX recurses: nested sitemaps probed at 0.9, their locs crawled") {
    val root = tempDir("graft-smidx").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.Basic, globalOrder = true,
      ordering = graft.local.QueueOrdering.ScoreCreatedDesc,
      discovery = Some(DiscoveryConfig(maxPagesPerDomain = 100,
        sameDomainOnly = true, justifyScores = false)))
    val bodies = Seq(
      ("http://y.com/robots.txt", "Sitemap: http://y.com/sitemap.xml\n"),
      // a <sitemapindex>: its <loc>s are sitemaps themselves
      ("http://y.com/sitemap.xml",
        "<sitemapindex><sitemap><loc>http://y.com/sitemap_a.xml</loc></sitemap></sitemapindex>"),
      ("http://y.com/sitemap_a.xml",
        "<urlset><url><loc>http://y.com/p1</loc></url></urlset>"))
      .toDF("url", "body")
    val web = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("url",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("outlinks",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))))
    f.addSeedsDiscovery(Seq("http://y.com/start"))
    val seq = new SparkCrawler(f, web, 100, bodies = Some(bodies)).run(maxEpochs = 20)
    assert(seq.contains("http://y.com/sitemap.xml"), seq.toString)
    assert(seq.contains("http://y.com/sitemap_a.xml"),
      s"nested sitemap must be scheduled as a probe: $seq")
    assert(seq.contains("http://y.com/p1"), s"nested sitemap's locs lost: $seq")
  }
}
