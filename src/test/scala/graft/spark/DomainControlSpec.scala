package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Domain-level crawl controls: fatal-error flags and operator bans in
  * domain_metadata (is_accessible_domain / is_domain_to_ignore,
  * reference discovery/__init__.py:39-44,267-276), the first-class
  * DOMAINS_BLACKLIST at batch generation
  * (worker/components/batch_generator.py:97-109), the dont_queue
  * score-update channel (core/manager.py:769-798), and the per-domain
  * redirect netloc sets (discovery/__init__.py:478-507). */
class DomainControlSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("fatal fetch error stops all further scheduling into the domain") {
    val root = tempDir("graft-fatal").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true,
      discovery = Some(DiscoveryConfig(maxPagesPerDomain = 100,
        sameDomainOnly = false, justifyScores = false,
        fatalErrorPattern = "fetch failed")))
    // e1: a/1 schedules a/2 + x/1. e2: a/2 schedules a/3; x/1 FAILS
    // (fatal) -> x.com marked inaccessible at end of e2. e3: a/3 links
    // x/2 -> must be dropped by is_domain_to_ignore; a/4 still schedules.
    val web = Seq(
      ("http://a.com/1", Seq("http://a.com/2", "http://x.com/1")),
      ("http://a.com/2", Seq("http://a.com/3")),
      ("http://a.com/3", Seq("http://x.com/2", "http://a.com/4")))
      .toDF("url", "outlinks")
    f.addSeeds(Seq("http://a.com/1"))
    val c = new SparkCrawler(f, web, 100,
      fetchError = Some(col("url") === "http://x.com/1"))
    val seq = c.run(maxEpochs = 20)

    assert(seq.contains("http://a.com/4"), seq.toString)
    assert(!seq.contains("http://x.com/2"),
      s"links into a fatal-errored domain must not schedule: $seq")
    val dm = f.readDomainMeta()
      .filter($"domain" === "x.com").select($"fatal_error").as[String].collect()
    assert(dm.length == 1 && dm.head != null && dm.head.startsWith("fetch failed"),
      s"domain_metadata must record the fatal error: ${dm.toList}")
  }

  test("banDomains: operator ban stops scheduling; flag is sticky in domain_metadata") {
    val root = tempDir("graft-ban").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true,
      discovery = Some(DiscoveryConfig(maxPagesPerDomain = 100,
        sameDomainOnly = false, justifyScores = false)))
    f.banDomains(Seq("b.com"))
    val web = Seq(
      ("http://a.com/1", Seq("http://b.com/1", "http://a.com/2")),
      ("http://a.com/2", Seq("http://b.com/2")))
      .toDF("url", "outlinks")
    f.addSeeds(Seq("http://a.com/1"))
    val seq = new SparkCrawler(f, web, 100).run(maxEpochs = 20)
    assert(seq.contains("http://a.com/2"))
    assert(!seq.exists(_.startsWith("http://b.com")),
      s"banned domain must never be scheduled: $seq")
    val dm = f.readDomainMeta()
      .filter($"domain" === "b.com").select($"banned").as[Boolean].collect()
    assert(dm.toList == List(true))
  }

  test("DOMAINS_BLACKLIST drops blacklisted hosts at dequeue and deletes them with the band") {
    val root = tempDir("graft-bl").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = false,
      domainsBlacklist = Set("BAD.com")) // case-insensitive match
    f.bulkSchedule(spark.range(40).select(
      when($"id" < 20, concat(lit("http://bad.com/p/"), $"id"))
        .otherwise(concat(lit("http://good"), $"id" % 5, lit(".com/p/"), $"id")).as("url"),
      lit(0.5).as("score"), lit(0).as("depth")))
    var got = Vector.empty[String]
    var continue = true
    while (continue) {
      val b = f.nextBatch(50).select($"url").as[String].collect()
      if (b.isEmpty) continue = false else got ++= b
    }
    assert(got.length == 20, s"only non-blacklisted urls dequeue: ${got.length}")
    assert(got.forall(_.startsWith("http://good")), got.toString)
    // the blacklisted rows were REMOVED with their touched band, exactly
    // the reference's drop-at-batch-generation semantics
    assert(f.queueSize() == 0,
      "blacklisted rows must be dropped from rewritten bands, not retained")
  }

  test("updateScores (dont_queue): rows move across bands, order follows, nothing duplicates") {
    val root = tempDir("graft-upsc").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    f.bulkSchedule(spark.range(100).select(
      concat(lit("http://u"), $"id" % 10, lit(".com/p/"), $"id").as("url"),
      lit(0.5).as("score"), lit(0).as("depth")))
    val m0 = f.queue.readManifest()
    val promote = (0 until 5).map(i => s"http://u$i.com/p/$i")
    val n = f.updateScores(promote.toDF("url").withColumn("score", lit(0.01)))
    assert(n == 5, s"rescored $n")
    assert(f.queueSize() == 100, "re-scoring must not add or drop rows")
    val m1 = f.queue.readManifest()
    assert(m0.bucketPaths.values.flatten.toSet
      .intersect(m1.bucketPaths.values.flatten.toSet).nonEmpty,
      "untouched band files must stay referenced")
    // dequeue follows the NEW scores: the 5 promoted urls come first
    val batch = f.nextBatch(5).select($"url", $"score").as[(String, Double)].collect()
    assert(batch.map(_._1).toSet == promote.toSet,
      s"promoted urls must dequeue first: ${batch.toList}")
    assert(batch.forall(_._2 == 0.01))
    // unmatched updates are ignored (dont_queue never inserts)
    assert(f.updateScores(Seq("http://nowhere.com/x").toDF("url")
      .withColumn("score", lit(0.9))) == 0L)
    assert(f.queueSize() == 95)
  }

  test("updateScores: duplicate updates for one URL apply last-wins, no queue fan-out") {
    val root = tempDir("graft-updup").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    f.bulkSchedule(spark.range(10).select(
      concat(lit("http://du.com/p/"), $"id").as("url"),
      lit(0.5).as("score"), lit(0).as("depth")))
    // the same URL three times in one batched update stream: the LAST
    // score wins; the queue row must neither duplicate nor triple-count
    val ups = Seq(
      ("http://du.com/p/3", 0.30), ("http://du.com/p/3", 0.20),
      ("http://du.com/p/3", 0.01)).toDF("url", "score")
    val n = f.updateScores(ups)
    assert(n == 1L, s"one queue row matched, counted once: $n")
    assert(f.queueSize() == 10, "a fanned-out join would append duplicates")
    val row = f.queue.read(spark).filter($"url" === "http://du.com/p/3")
      .select($"score").as[Double].collect()
    assert(row.toList == List(0.01), s"last update wins: ${row.toList}")
  }

  test("MAX_SITEMAPS: sub-sitemap probes per parent capped, ordinary links unaffected") {
    val root = tempDir("graft-maxsm").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true,
      discovery = Some(DiscoveryConfig(maxPagesPerDomain = 1000,
        sameDomainOnly = false, justifyScores = false,
        maxSitemapsPerParent = 100)))
    // a sitemap INDEX response that enumerates 150 sub-sitemaps + 5 pages
    val links = ((0 until 150).map(i => s"http://s.com/sitemap$i.xml") ++
      (0 until 5).map(i => s"http://s.com/p/$i")).zipWithIndex
      .map { case (u, i) => (0.9, 1L, 0, i, u, "http://s.com/sitemap.xml") }
      .toSeq.toDF("parent_score", "parent_created", "parent_depth",
        "link_idx", "link_url", "parent_url")
    val pages = Seq(("fp-sm", "http://s.com/sitemap.xml", 0, 0.9, 1L))
      .toDF("fingerprint", "url", "depth", "score", "created_at")
    f.processCrawled(pages, links, 1)
    val q = f.queue.read(spark).select($"url").as[String].collect()
    assert(q.count(_.contains("sitemap")) == 100,
      s"sub-sitemap probes must cap at 100: ${q.count(_.contains("sitemap"))}")
    // deterministic: the FIRST 100 in extraction order survive
    assert(q.contains("http://s.com/sitemap0.xml") &&
      !q.contains("http://s.com/sitemap149.xml"))
    assert(q.count(_.contains("/p/")) == 5, "ordinary links unaffected by the cap")
  }

  test("cross-domain probe/home redirects feed capped redirect_from/redirect_to sets") {
    val root = tempDir("graft-rdom").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    // home page of from.com 301s to to.com; a deep (non-home, non-probe)
    // url also redirects cross-domain — must NOT feed the domain sets
    val web = Seq(
      ("http://to.com/", Seq("http://to.com/page")),
      ("http://deep-b.com/x", Seq.empty[String]))
      .toDF("url", "outlinks")
    val redirects = Seq(
      ("http://from.com/", Seq("http://to.com/")),
      ("http://deep-a.com/y", Seq("http://deep-b.com/x")))
      .toDF("url", "redirect_urls")
    f.addSeeds(Seq("http://from.com/", "http://deep-a.com/y"))
    new SparkCrawler(f, web, 100, redirects = Some(redirects)).run(maxEpochs = 10)

    val dm = f.readDomainMeta()
      .select($"domain", $"redirect_from", $"redirect_to")
      .as[(String, Seq[String], Seq[String])].collect()
      .map(t => t._1 -> (Option(t._2).getOrElse(Nil), Option(t._3).getOrElse(Nil)))
      .toMap
    assert(dm.get("from.com").exists(_._2 == Seq("to.com")),
      s"origin domain must record redirect_to: $dm")
    assert(dm.get("to.com").exists(_._1 == Seq("from.com")),
      s"final domain must record redirect_from: $dm")
    assert(!dm.get("deep-a.com").exists(_._2.nonEmpty) &&
      !dm.get("deep-b.com").exists(_._1.nonEmpty),
      s"non-probe/home redirects must not feed the domain sets: $dm")
  }
}
