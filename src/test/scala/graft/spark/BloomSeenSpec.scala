package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.local.{Graphs, LocalFrontier, FrontierTester, DFSStrategy, QueueOrdering}

/** The Bloom prefilter must be invisible to correctness: crawl order and
  * URL-seen set identical with and without it; sidecars survive restart.
  * The frontier runs its Bloom side only for a states table above the
  * broadcast threshold, so the crawls that need it run in
  * `SparkTestBase.bloomSide`, where the threshold is off. */
class BloomSeenSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  test("bloom sidecar roundtrip (murmur128 seen-keys), version stamps") {
    import spark.implicits._
    import graft.core.Hashing.seenKey
    val root = tempDir("bloom-rt").toString
    val bs = new BloomSeen(root)
    val df = Seq((0, "fp-a"), (0, "fp-b"), (1, "fp-c"))
      .toDF("sbucket", "fingerprint")
    bs.rebuild(df, Set(0, 1), version = 7)
    val b0 = bs.load(0).get
    assert(b0.mightContainLong(seenKey("fp-a")) && b0.mightContainLong(seenKey("fp-b")))
    assert(bs.load(1).get.mightContainLong(seenKey("fp-c")))
    assert(bs.load(2).isEmpty)
    assert(bs.version(0).contains(7L) && bs.version(2).isEmpty)
    // definite negatives: none of 1000 random keys should all hit
    val hits = (0 until 1000).count(i => b0.mightContainLong(seenKey(s"nope-$i")))
    assert(hits <= 30, s"fpp too high: $hits/1000")
  }

  test("incremental mergeUpdates keeps old keys and adds new ones, bumps version") {
    import spark.implicits._
    import graft.core.Hashing.seenKey
    val root = tempDir("bloom-inc").toString
    val bs = new BloomSeen(root)
    bs.rebuild(Seq((0, "old-1"), (0, "old-2")).toDF("sbucket", "fingerprint"),
      Set(0), version = 3)
    bs.mergeUpdates(Seq((0, "new-1")).toDF("sbucket", "fingerprint"),
      Set(0), version = 4)
    val b0 = bs.load(0).get
    assert(b0.mightContainLong(seenKey("old-1")), "merge must keep the base keys")
    assert(b0.mightContainLong(seenKey("old-2")))
    assert(b0.mightContainLong(seenKey("new-1")), "merge must add the delta keys")
    assert(bs.version(0).contains(4L))
    // first-touch bucket: merge into an empty base
    bs.mergeUpdates(Seq((5, "solo")).toDF("sbucket", "fingerprint"),
      Set(5), version = 4)
    assert(bs.load(5).get.mightContainLong(seenKey("solo")))
  }

  test("stale sidecar never causes a re-crawl: bloom enabled on a bloomless store") {
    // run epochs in the default session (a tiny states table: no
    // sidecars), then continue the SAME store on the Bloom side: every
    // bucket's sidecar is absent ⇒ stale ⇒ rows route through the exact
    // anti-join; the crawl must not re-schedule seen URLs (ADVICE:
    // 'missing bloom != no seen keys')
    val root = tempDir("bloom-stale").toString
    val f1 = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.DFS, globalOrder = true)
    f1.addSeeds(Graphs.site03.seeds)
    val c1 = new SparkCrawler(f1, GraphTables.webDF(spark, Graphs.site03), 5)
    c1.crawlOnce(1); c1.crawlOnce(2) // partial crawl, states populated
    val seen1 = f1.stateSnapshot()
    assert((0 until 4).forall(b => f1.bloomSeen.version(b).isEmpty),
      "a table below the broadcast threshold must not build sidecars")

    val bs = SparkTestBase.bloomSide
    val f2 = new SparkFrontier(bs, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.DFS, globalOrder = true)
    val c2 = new SparkCrawler(f2, GraphTables.webDF(bs, Graphs.site03), 5)
    c2.run(maxEpochs = 100)
    val all = c1.sequence.flatten ++ c2.sequence.flatten
    assert(all.distinct.size == all.size,
      s"re-crawled URLs after enabling bloom on a bloomless store: " +
        all.diff(all.distinct).toString)
    assert(seen1.keySet.subsetOf(f2.stateSnapshot().keySet))
  }

  private def oracle(batch: Int): (List[String], Map[String, Int]) = {
    val lf = new LocalFrontier(new DFSStrategy, ordering = QueueOrdering.ScoreCreated)
    val t = new FrontierTester(lf, Graphs.site03, batch)
    t.run()
    (t.urlSequence, lf.states.snapshot)
  }

  test("bloom-prefiltered crawl == exact crawl == oracle (order + states)") {
    def sparkRun(s: org.apache.spark.sql.SparkSession): (List[String], Map[String, Int]) = {
      val root = tempDir("bloom-crawl").toString
      val f = new SparkFrontier(s, root, partitions = 4, stateBuckets = 4,
        strategy = ScoreStrategy.DFS, globalOrder = true)
      f.addSeeds(Graphs.site03.seeds)
      val c = new SparkCrawler(f, GraphTables.webDF(s, Graphs.site03), 5)
      (c.run(), f.stateSnapshot())
    }
    val (seqB, statesB) = sparkRun(SparkTestBase.bloomSide)
    val (seqE, statesE) = sparkRun(spark)
    val (seqO, statesO) = oracle(5)
    assert(seqB == seqO)
    assert(seqB == seqE)
    assert(statesB == statesE)
    assert(statesB == statesO)
  }

  test("a states table crossing the broadcast threshold mid-crawl == oracle") {
    val s = spark.newSession()
    val root = tempDir("bloom-cross").toString
    val f = new SparkFrontier(s, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.DFS, globalOrder = true)
    f.addSeeds(Graphs.site03.seeds)
    val c = new SparkCrawler(f, GraphTables.webDF(s, Graphs.site03), 2)
    def sidecars = (0 until 4).count(b => f.bloomSeen.version(b).isDefined)
    assert(c.crawlOnce(1))
    // the threshold is the states table's size after epoch 1: epoch 2
    // still runs the exact join alone, every later epoch the Bloom side
    val size = f.seenSetBytes(f.states.readManifest())
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", size.toString)
    assert(c.crawlOnce(2))
    assert(sidecars == 0, "below the threshold no sidecar is built")
    c.run(maxEpochs = 100)
    assert(sidecars > 0, "past the threshold the merges build sidecars")
    val (seqO, statesO) = oracle(2)
    assert(c.sequence.flatten.toList == seqO)
    assert(f.stateSnapshot() == statesO)
  }
}
