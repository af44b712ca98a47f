package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** LSM semantics of the domain_metadata store (the round-4 treatment —
  * same shape the states store got in round 3; reference anchor: the
  * domain cache is a write-batched KV, hbase/domaincache.py:65-312,
  * never a table rewrite): per-epoch contrib deltas are APPENDED in
  * O(contrib) rows/files, readers resolve with the commutative fold,
  * compaction folds the log back down, and the per-epoch robots read is
  * bucket-pruned to the batch's parent domains. */
class DomainMetaDeltaSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def emptyPages = Seq.empty[(String, String, Int, Double, Long)]
    .toDF("fingerprint", "url", "depth", "score", "created_at")
  private def emptyLinks = Seq.empty[(String, Double, Long, Int, Int, String)]
    .toDF("parent_url", "parent_score", "parent_created", "parent_depth",
      "link_idx", "link_url")

  test("merge APPENDS O(contrib) delta rows; existing delta files never rewritten") {
    val root = tempDir("graft-dmlsm").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    f.banDomains(Seq("a.com", "b.com"))
    val m1 = f.domainMeta.readManifest()
    assert(m1.pathRows.values.sum == 2,
      s"2 contribs must write exactly 2 delta rows: ${m1.pathRows}")
    f.banDomains(Seq("c.com"))
    val m2 = f.domainMeta.readManifest()
    assert(m2.pathRows.values.sum == 3,
      s"second merge appends exactly 1 more row: ${m2.pathRows}")
    assert(m1.bucketPaths.values.flatten.toSet.subsetOf(
      m2.bucketPaths.values.flatten.toSet),
      "append-only: the first merge's files must stay referenced untouched")
    val dm = f.readDomainMeta().select($"domain", $"banned")
      .as[(String, Boolean)].collect().toMap
    assert(dm == Map("a.com" -> true, "b.com" -> true, "c.com" -> true))
  }

  test("merge-on-read: counters sum across epochs, robots latest-wins by commit, flags sticky") {
    val root = tempDir("graft-dmread").toString
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.Basic, globalOrder = true,
      discovery = Some(DiscoveryConfig(maxPagesPerDomain = 100,
        sameDomainOnly = true, justifyScores = false)))
    f.banDomains(Seq("z.com"))
    // epoch 1: robots body v1 for x.com
    f.processCrawled(emptyPages, emptyLinks, 1,
      domainData = Some(Seq(("x.com", "User-agent: *\nDisallow: /v1\n"))
        .toDF("domain", "robots_body")))
    // epoch 2: a crawled x.com page schedules 2 links; robots body v2
    val pages2 = Seq(("fp1", "http://x.com/", 0, 0.5, 1L))
      .toDF("fingerprint", "url", "depth", "score", "created_at")
    val links2 = Seq(
      ("http://x.com/", 0.5, 1L, 0, 0, "http://x.com/a"),
      ("http://x.com/", 0.5, 1L, 0, 1, "http://x.com/b"))
      .toDF("parent_url", "parent_score", "parent_created", "parent_depth",
        "link_idx", "link_url")
    f.processCrawled(pages2, links2, 2,
      domainData = Some(Seq(("x.com", "User-agent: *\nDisallow: /v2\n"))
        .toDF("domain", "robots_body")))
    // epoch 3: one more x.com link (counter must ACCUMULATE over deltas)
    val pages3 = Seq(("fp2", "http://x.com/a", 1, 0.5, 2L))
      .toDF("fingerprint", "url", "depth", "score", "created_at")
    val links3 = Seq(("http://x.com/a", 0.5, 2L, 1, 0, "http://x.com/c"))
      .toDF("parent_url", "parent_score", "parent_created", "parent_depth",
        "link_idx", "link_url")
    f.processCrawled(pages3, links3, 3)

    val row = f.readDomainMeta().filter($"domain" === "x.com")
      .select($"queued_pages", $"robots_body", $"banned")
      .as[(Long, String, Boolean)].collect()
    assert(row.length == 1)
    assert(row.head._1 == 3L, s"2 + 1 scheduled links must sum: ${row.head}")
    assert(row.head._2.contains("/v2"), s"latest robots body wins: ${row.head}")
    assert(!row.head._3)
    val zrow = f.readDomainMeta().filter($"domain" === "z.com")
      .select($"banned").as[Boolean].collect()
    assert(zrow.toList == List(true), "ban flag sticky across later merges")
  }

  test("compactDomainMeta folds the delta log; resolved view unchanged") {
    val root = tempDir("graft-dmcomp").toString
    val f = new SparkFrontier(spark, root, partitions = 2, stateBuckets = 2,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    (0 until 10).foreach(i => f.banDomains(Seq(s"d$i.com")))
    val before = f.readDomainMeta()
      .select($"domain", $"queued_pages", $"banned")
      .as[(String, Long, Boolean)].collect().sortBy(_._1).toList
    val mBefore = f.domainMeta.readManifest()
    assert(mBefore.bucketPaths.values.map(_.size).max > 3)
    val folded = f.compactDomainMeta(maxFilesPerBucket = 3)
    assert(folded > 0)
    val mAfter = f.domainMeta.readManifest()
    assert(mAfter.bucketPaths.values.forall(_.size <= 3),
      s"folded buckets collapse to one base file: ${mAfter.bucketPaths}")
    val after = f.readDomainMeta()
      .select($"domain", $"queued_pages", $"banned")
      .as[(String, Long, Boolean)].collect().sortBy(_._1).toList
    assert(after == before, "compaction must not change the resolved view")
    // deltas keep summing on top of the folded base
    f.banDomains(Seq("d0.com")) // no-op flag, but appends a delta row
    assert(f.readDomainMeta().count() == 10)
  }

  test("per-epoch robots read is bucket-pruned to the batch's parent domains") {
    val root = tempDir("graft-dmprune").toString
    val f = new SparkFrontier(spark, root, partitions = 8, stateBuckets = 4,
      strategy = ScoreStrategy.Basic, globalOrder = true,
      discovery = Some(DiscoveryConfig(maxPagesPerDomain = 100,
        sameDomainOnly = true, justifyScores = false)))
    // robots bodies for 16 domains spread across the 8 domain buckets
    val bodies = (0 until 16).map(i =>
      (s"d$i.com", "User-agent: *\nDisallow: /private\n"))
    f.processCrawled(emptyPages, emptyLinks, 1,
      domainData = Some(bodies.toDF("domain", "robots_body")))
    // manifest BEFORE epoch 2 — the robots read happens before the
    // epoch's own delta append, so expectations come from this snapshot
    val m = f.domainMeta.readManifest()
    // epoch 2 crawls ONE domain: the robots join must read only that
    // domain's bucket, not the whole table
    val pages = Seq(("fpA", "http://d0.com/", 0, 0.5, 1L))
      .toDF("fingerprint", "url", "depth", "score", "created_at")
    val links = Seq(
      ("http://d0.com/", 0.5, 1L, 0, 0, "http://d0.com/ok"),
      ("http://d0.com/", 0.5, 1L, 0, 1, "http://d0.com/private/x"))
      .toDF("parent_url", "parent_score", "parent_created", "parent_depth",
        "link_idx", "link_url")
    f.processCrawled(pages, links, 2)
    val (scanned, total) = f.lastRobotsScan
    val d0Bucket = graft.core.Hashing.crc32Partition("d0.com", 8)
    val expected = m.bucketPaths.getOrElse(d0Bucket, Nil).size
    assert(total == m.bucketPaths.values.map(_.size).sum && total > 1,
      s"fixture must spread robots across buckets: $total")
    assert(scanned < total,
      s"robots read must not scan the whole domain table: $scanned/$total")
    assert(scanned == expected,
      s"robots read scans exactly the parent domain's bucket: $scanned vs $expected")
    // and the PRUNED read still enforces the deny: /private dropped
    val q = f.queue.read(spark).select($"url").as[String].collect().toSet
    assert(q.contains("http://d0.com/ok"), q.toString)
    assert(!q.exists(_.contains("/private")),
      s"pruned robots read must still deny: $q")
  }
}
