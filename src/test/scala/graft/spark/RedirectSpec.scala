package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** J3 canonical solver in the crawl loop (Corresponding2First,
  * contrib/canonicalsolvers/basic.py:37-49): the dequeued url keeps the
  * document identity, links come from the redirect landing page, and
  * every chain member is URL-seen so other links to it never re-crawl.
  * Plus the 2.11 middleware chain over extracted links. */
class RedirectSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("redirect chain: identity kept, landing links followed, chain members deduped") {
    val root = tempDir("graft-redir").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    // a1 -> {a2, a5}; a2 redirects to a3 (whose page links a4); a5 links
    // a3 directly — must be dropped (a3 already seen via the chain)
    val web = Seq(
      ("http://r.com/a1", Seq("http://r.com/a2", "http://r.com/a5")),
      ("http://r.com/a3", Seq("http://r.com/a4")),
      ("http://r.com/a5", Seq("http://r.com/a3"))).toDF("url", "outlinks")
    val redirects = Seq(
      ("http://r.com/a2", Seq("http://r.com/a3"))).toDF("url", "redirect_urls")
    f.addSeeds(Seq("http://r.com/a1"))
    val c = new SparkCrawler(f, web, 100, redirects = Some(redirects))
    val seq = c.run(maxEpochs = 20)

    assert(seq.contains("http://r.com/a2"), seq.toString) // identity = first url
    assert(!seq.contains("http://r.com/a3"), s"chain member re-crawled: $seq")
    assert(seq.contains("http://r.com/a4"), s"landing page's links lost: $seq")
    assert(seq.count(_ == "http://r.com/a4") == 1)

    val st = f.stateSnapshot()
    val fpA3 = graft.core.Hashing.urlFingerprint("http://r.com/a3")
    assert(st.get(fpA3).contains(graft.local.States.Crawled),
      "chain member must be CRAWLED in states")
    // the alias got no metadata row of its own
    val metaUrls = f.metadata.read(spark).select($"url").as[String].collect().toSet
    assert(!metaUrls.contains("http://r.com/a3"))
  }

  test("middleware chain filters and runs in declared order") {
    val root = tempDir("graft-mw").toString
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val dropSkip: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => { order += "drop"; df.filter(!$"link_url".contains("skip")) }
    val tagDepthCap: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => { order += "cap"; df.filter($"parent_depth" < 2) }
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true,
      linkTransforms = Seq(dropSkip, tagDepthCap))
    val web = Seq(
      ("http://m.com/1", Seq("http://m.com/ok", "http://m.com/skipme")),
      ("http://m.com/ok", Seq("http://m.com/deep")),
      ("http://m.com/deep", Seq("http://m.com/toodeep"))).toDF("url", "outlinks")
    f.addSeeds(Seq("http://m.com/1"))
    val seq = new SparkCrawler(f, web, 100).run(maxEpochs = 20)
    assert(order.take(2) == Seq("drop", "cap"), order.toString) // declared order
    assert(!seq.exists(_.contains("skipme")), seq.toString)
    assert(seq.contains("http://m.com/deep"))
    assert(!seq.contains("http://m.com/toodeep"), "depth-cap middleware must filter")
  }
}
