package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.local.Graphs
import java.nio.file.{Files, Paths}

/** LSM states store: per-epoch state merges APPEND O(update) delta files
  * (reference anchor: the HBase states store is a KV point-write log,
  * hbase/__init__.py:302-378 — never a table rewrite); reads resolve
  * last-state-wins by commit version; compaction folds deltas between
  * epochs. Plus the bloom-freshness regression: a states manifest with
  * data but no per-bucket versions (a pre-versioning build) must be
  * treated STALE, never vacuously fresh. Runs on the Bloom side, so the
  * sidecars are kept however small the table. */
class StatesDeltaSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.bloomSide
  import spark.implicits._

  private def frontier(root: String) =
    new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)

  private def pagesDF(rows: (String, String)*) =
    rows.map { case (fp, u) => (fp, u, 0, 0.0, 1L) }
      .toDF("fingerprint", "url", "depth", "score", "created_at")
  private def linksDF(urls: String*) =
    urls.zipWithIndex.map { case (u, i) => (0.0, 1L, 0, i, u) }
      .toDF("parent_score", "parent_created", "parent_depth", "link_idx", "link_url")

  test("states merge appends O(update) delta files; earlier files stay referenced") {
    val root = tempDir("lsm-append").toString
    val f = frontier(root)
    f.processCrawled(pagesDF("fp-a" -> "http://a.com/1"),
      linksDF("http://a.com/2", "http://a.com/3", "http://b.com/1"), 1)
    val m1 = f.states.readManifest()
    val paths1 = m1.bucketPaths.values.flatten.toSet
    assert(m1.pathRows.values.sum == 4) // 1 CRAWLED + 3 QUEUED

    // epoch 2: crawl one of the queued pages, discover one new link —
    // exactly 2 state updates (CRAWLED fp of a.com/2 + QUEUED new link)
    f.processCrawled(pagesDF(
      graft.core.Hashing.urlFingerprint("http://a.com/2") -> "http://a.com/2"),
      linksDF("http://c.com/9"), 2)
    val m2 = f.states.readManifest()
    val paths2 = m2.bucketPaths.values.flatten.toSet
    assert(paths1.subsetOf(paths2),
      "a state merge must never rewrite existing bucket files (O(update), not O(bucket))")
    val newRows = (paths2 -- paths1).toSeq.map(m2.pathRows).sum
    assert(newRows == 2, s"epoch 2 wrote $newRows rows; must write exactly its 2 updates")
  }

  test("merge-on-read last-wins: QUEUED deltas superseded by CRAWLED, raw log keeps both") {
    val root = tempDir("lsm-mor").toString
    val f = frontier(root)
    f.processCrawled(pagesDF("fp-a" -> "http://a.com/1"), linksDF("http://a.com/2"), 1)
    val fp2 = graft.core.Hashing.urlFingerprint("http://a.com/2")
    assert(f.stateSnapshot()(fp2) == graft.local.States.Queued)
    f.processCrawled(pagesDF(fp2 -> "http://a.com/2"), linksDF(), 2)
    // the raw delta log holds both rows for fp2; the resolved view one
    assert(f.states.read(spark).filter($"fingerprint" === fp2).count() == 2)
    assert(f.readStatesLatest().filter($"fingerprint" === fp2).count() == 1)
    assert(f.stateSnapshot()(fp2) == graft.local.States.Crawled)
  }

  test("compactStates folds deltas to one file per bucket; view and bloom freshness survive") {
    val root = tempDir("lsm-compact").toString
    val f = frontier(root)
    // 6 epochs: each crawls the url the previous epoch queued (its QUEUED
    // delta is superseded by a CRAWLED one) and queues the next
    (1 to 6).foreach { e =>
      val u = s"http://x.com/$e"
      f.processCrawled(pagesDF(graft.core.Hashing.urlFingerprint(u) -> u),
        linksDF(s"http://x.com/${e + 1}"), e)
    }
    val before = f.stateSnapshot()
    val rawBefore = f.states.read(spark).count()
    assert(rawBefore > before.size, "fixture must hold superseded delta rows")

    assert(f.compactStates(maxFilesPerBucket = 1) > 0)
    val m = f.states.readManifest()
    assert(m.bucketPaths.values.forall(_.size == 1),
      "every compacted bucket must collapse to one file")
    assert(f.states.read(spark).count() == before.size,
      "the fold must also dedup (resolved rows only)")
    assert(f.stateSnapshot() == before, "compaction must not change the resolved view")
    // sidecars re-stamped: every data-bearing bucket still fresh
    m.bucketPaths.filter(_._2.nonEmpty).keys.foreach { b =>
      val bv = m.bucketVersions(b)
      assert(f.bloomSeen.version(b).exists(_ >= bv),
        s"bucket $b sidecar must stay fresh across compaction")
    }
    // second run is a no-op; the crawl continues without re-crawling
    assert(f.compactStates(maxFilesPerBucket = 1) == 0)
    f.processCrawled(pagesDF("fp-7" -> "http://x.com/7"),
      linksDF("http://x.com/3", "http://x.com/99"), 7)
    val snap = f.stateSnapshot()
    assert(snap(graft.core.Hashing.urlFingerprint("http://x.com/3")) ==
      graft.local.States.Crawled, "already-CRAWLED url keeps its resolved state")
    assert(snap(graft.core.Hashing.urlFingerprint("http://x.com/99")) ==
      graft.local.States.Queued, "genuinely new url schedules after compaction")
    assert(f.queue.read(spark).filter($"url" === "http://x.com/3").count() == 1,
      "seen url must not re-schedule after compaction (bloom still exact)")
  }

  test("crawler auto-compaction is invisible to correctness and bounds file counts") {
    def crawlSite02(compactEvery: Int): (List[String], Map[String, Int], Int) = {
      val root = tempDir(s"lsm-auto$compactEvery").toString
      val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
        strategy = ScoreStrategy.DFS, globalOrder = true)
      f.addSeeds(Graphs.site02.seeds)
      val c = new SparkCrawler(f, GraphTables.webDF(spark, Graphs.site02), 2,
        compactEveryEpochs = compactEvery)
      c.run(maxEpochs = 50) // mnr=2 over 30 URLs -> ~15 delta epochs
      val maxStateFiles = f.states.readManifest()
        .bucketPaths.values.map(_.size).maxOption.getOrElse(0)
      (c.sequence.flatten.toList, f.stateSnapshot(), maxStateFiles)
    }
    val (seqA, statesA, filesA) = crawlSite02(compactEvery = 0)
    val (seqB, statesB, filesB) = crawlSite02(compactEvery = 3)
    assert(seqA == seqB, "compaction mid-crawl must not change the crawl order")
    assert(statesA == statesB, "compaction mid-crawl must not change the states")
    assert(filesB < filesA,
      s"auto-compaction must bound the states delta log: $filesB !< $filesA")
  }

  test("legacy manifest without bucket versions is STALE, not vacuously fresh") {
    // reproduce the ADVICE scenario: a states store with committed data
    // whose manifest predates `bucketv` AND whose sidecars are absent —
    // the probe must route through the exact anti-join (no re-crawl),
    // and the first merge must REBUILD the sidecars, not stamp
    // delta-only blooms as complete
    val root = tempDir("lsm-legacy").toString
    val f1 = frontier(root)
    f1.addSeeds(Graphs.site03.seeds)
    val c1 = new SparkCrawler(f1, GraphTables.webDF(spark, Graphs.site03), 5)
    c1.crawlOnce(1); c1.crawlOnce(2)

    // strip the bucketv field from the live manifest + delete all sidecars
    val mv = f1.states.currentVersion
    val mPath = Paths.get(s"$root/states/manifest/m$mv.json")
    val stripped = Files.readString(mPath)
      .replaceAll("\"bucketv\":\\{[^}]*\\}", "\"bucketv\":{}")
    Files.writeString(mPath, stripped)
    val bloomDir = Paths.get(s"$root/states/bloom")
    locally { val s = Files.list(bloomDir)
      try s.forEach(p => Files.delete(p)) finally s.close() }
    assert(f1.states.readManifest().bucketVersions.isEmpty, "fixture: no bucketv")

    val f2 = frontier(root)
    val c2 = new SparkCrawler(f2, GraphTables.webDF(spark, Graphs.site03), 5)
    c2.run(maxEpochs = 100)
    val all = c1.sequence.flatten ++ c2.sequence.flatten
    assert(all.distinct.size == all.size,
      s"legacy store re-crawled URLs: ${all.diff(all.distinct)}")
    // and the sidecars rebuilt along the way are COMPLETE: a fresh link
    // to an early-crawled URL must not reschedule
    val early = c1.sequence.flatten.head
    val qBefore = f2.queueSize()
    f2.processCrawled(pagesDF(), linksDF(early), f2.lastProcessedEpoch + 1)
    assert(f2.queueSize() == qBefore,
      "rebuilt sidecar + exact join must still drop links to seen URLs")
  }
}
