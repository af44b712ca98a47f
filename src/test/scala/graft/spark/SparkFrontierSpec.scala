package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.local.{Graphs, CrawlGraph, LocalFrontier, FrontierTester, BFSStrategy, DFSStrategy, QueueOrdering}

/** The Spark engine must reproduce the reference crawl ordering and
  * URL-seen set (north rule) — checked against the same published oracles
  * the local conformance engine pins, plus checkpoint-resume. */
class SparkFrontierSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  private def webDF(graph: CrawlGraph, s: SparkSession = spark) =
    GraphTables.webDF(s, graph)

  private def localRun(graph: CrawlGraph, strategy: graft.local.CrawlStrategy,
      mnr: Int): (List[String], Map[String, Int]) = {
    val f = new LocalFrontier(strategy, ordering = QueueOrdering.ScoreCreated)
    val t = new FrontierTester(f, graph, mnr)
    t.run()
    (t.urlSequence, f.states.snapshot)
  }

  private def sparkRun(graph: CrawlGraph, strategy: ScoreStrategy, mnr: Int,
      tag: String, s: SparkSession = spark): (List[String], Map[String, Int]) = {
    val root = tempDir(s"graft-$tag").toString
    val frontier = new SparkFrontier(s, root, partitions = 4,
      stateBuckets = 4, strategy = strategy, globalOrder = true)
    frontier.addSeeds(graph.seeds)
    val crawler = new SparkCrawler(frontier, webDF(graph, s), mnr)
    val seq = crawler.run()
    (seq, frontier.stateSnapshot())
  }

  private def fp(url: String): String = graft.core.Hashing.urlFingerprint(url)

  test("BFS SITE_01 mnr=1: crawl order + URL-seen set match the oracle") {
    val (localSeq, localStates) = localRun(Graphs.site01, new BFSStrategy, 1)
    for ((side, s) <- SparkTestBase.sides) {
      val (sparkSeq, sparkStates) = sparkRun(Graphs.site01, ScoreStrategy.BFS, 1, "b1", s)
      assert(sparkSeq == localSeq, side)
      assert(sparkStates == localStates, side)
    }
  }

  test("BFS SITE_02 mnr=100: crawl order matches the oracle") {
    val (localSeq, _) = localRun(Graphs.site02, new BFSStrategy, 100)
    val (sparkSeq, _) = sparkRun(Graphs.site02, ScoreStrategy.BFS, 100, "b100")
    assert(sparkSeq == localSeq)
  }

  test("DFS SITE_03 mnr=5: crawl order + URL-seen set match the oracle") {
    val (localSeq, localStates) = localRun(Graphs.site03, new DFSStrategy, 5)
    val (sparkSeq, sparkStates) = sparkRun(Graphs.site03, ScoreStrategy.DFS, 5, "d5")
    assert(sparkSeq == localSeq)
    assert(sparkStates == localStates)
  }

  test("DFS SITE_02 mnr=2: crawl order matches the oracle") {
    val (localSeq, _) = localRun(Graphs.site02, new DFSStrategy, 2)
    val (sparkSeq, _) = sparkRun(Graphs.site02, ScoreStrategy.DFS, 2, "d2")
    assert(sparkSeq == localSeq)
  }

  test("BFS three seeds, w1 links to the later seed w2: order + URL-seen set match the oracle") {
    // one batch holds all three seeds; w2.example/ has no state yet when
    // w1.example/'s links are processed, so the oracle schedules it again
    val graph = CrawlGraph(Vector(
      "http://w0.example/" -> Vector("http://w0.example/p1"),
      "http://w1.example/" -> Vector("http://w2.example/", "http://w1.example/p1"),
      "http://w2.example/" -> Vector("http://w2.example/p1"),
      "http://w0.example/p1" -> Vector("http://w1.example/")),
      Vector("http://w0.example/", "http://w1.example/", "http://w2.example/"))
    val (localSeq, localStates) = localRun(graph, new BFSStrategy, 4)
    assert(localSeq.count(_ == "http://w2.example/") == 2, localSeq.toString)
    for ((side, s) <- SparkTestBase.sides) {
      val (sparkSeq, sparkStates) = sparkRun(graph, ScoreStrategy.BFS, 4, "xseed", s)
      assert(sparkSeq == localSeq, side)
      assert(sparkStates == localStates, side)
    }
  }

  /** A local run of the same loop as `FrontierTester`, where the batch's
    * `failed` fetches report `request_error` before its pages are
    * crawled (the engine: errors are seen by every link of the batch). */
  private def localRunFailing(graph: CrawlGraph, strategy: graft.local.CrawlStrategy,
      ordering: QueueOrdering, mnr: Int, failed: Set[String]): (List[String], Map[String, Int]) = {
    val f = new LocalFrontier(strategy, ordering = ordering)
    f.addSeeds(graph.seeds)
    val seq = List.newBuilder[String]
    var batch = f.getNextRequests(mnr)
    while (batch.nonEmpty) {
      seq ++= batch.map(_.url)
      batch.filter(r => failed(r.url)).foreach(f.requestError(_, "fetch failed"))
      batch.filterNot(r => failed(r.url)).foreach { r =>
        f.pageCrawled(r)
        f.linksExtracted(r, graph.linksOf(r.url))
      }
      batch = f.getNextRequests(mnr)
    }
    (seq.result(), f.states.snapshot)
  }

  private def sparkRunFailing(graph: CrawlGraph, strategy: ScoreStrategy,
      ordering: QueueOrdering, mnr: Int, failed: Set[String], tag: String,
      s: SparkSession): (List[String], Map[String, Int]) = {
    val frontier = new SparkFrontier(s, tempDir(s"graft-$tag").toString,
      partitions = 4, stateBuckets = 4, strategy = strategy, globalOrder = true,
      ordering = ordering)
    frontier.addSeeds(graph.seeds)
    val crawler = new SparkCrawler(frontier, webDF(graph, s), mnr,
      fetchError = if (failed.isEmpty) None else Some(col("url").isin(failed.toSeq: _*)))
    (crawler.run(), frontier.stateSnapshot())
  }

  /** One batch holds the three seeds w0, w1, w2; `links` are their
    * outlinks. */
  private def threeSeeds(links: (Int, Int)*): CrawlGraph = {
    val seeds = Vector.tabulate(3)(i => s"http://w$i.example/")
    CrawlGraph(seeds.zipWithIndex.map { case (u, i) =>
      u -> (links.collect { case (from, to) if from == i => seeds(to) }.toVector :+ s"${u}p1")
    }, seeds)
  }

  test("FIFO: a link sees the batch pages before its parent, not those after it") {
    // FIFO batch order w0, w1, w2: w0 -> w2 schedules w2 again (later in
    // the batch), w2 -> w0 does not (earlier)
    val graph = threeSeeds(0 -> 2, 2 -> 0)
    val (localSeq, localStates) = localRunFailing(graph, new graft.local.BasicStrategy,
      QueueOrdering.Fifo, 4, Set.empty)
    assert(localSeq.count(_ == "http://w2.example/") == 2, localSeq.toString)
    assert(localSeq.count(_ == "http://w0.example/") == 1, localSeq.toString)
    for ((side, s) <- SparkTestBase.sides) {
      val (sparkSeq, sparkStates) = sparkRunFailing(graph, ScoreStrategy.Basic,
        QueueOrdering.Fifo, 4, Set.empty, "inbatch-fifo", s)
      assert(sparkSeq == localSeq, side)
      assert(sparkStates == localStates, side)
    }
  }

  test("LIFO: a link sees the batch pages before its parent, not those after it") {
    // LIFO batch order w2, w1, w0: w2 -> w0 schedules w0 again (later in
    // the batch), w0 -> w2 does not (earlier)
    val graph = threeSeeds(2 -> 0, 0 -> 2)
    val (localSeq, localStates) = localRunFailing(graph, new graft.local.BasicStrategy,
      QueueOrdering.Lifo, 4, Set.empty)
    assert(localSeq.count(_ == "http://w0.example/") == 2, localSeq.toString)
    assert(localSeq.count(_ == "http://w2.example/") == 1, localSeq.toString)
    for ((side, s) <- SparkTestBase.sides) {
      val (sparkSeq, sparkStates) = sparkRunFailing(graph, ScoreStrategy.Basic,
        QueueOrdering.Lifo, 4, Set.empty, "inbatch-lifo", s)
      assert(sparkSeq == localSeq, side)
      assert(sparkStates == localStates, side)
    }
  }

  test("a failed fetch in the batch is seen by every link of the batch") {
    // batch order w0, w1, w2 and w2 fails: w0 -> w2 would schedule w2
    // again were it a page, but a failed fetch is seen by every link
    val graph = threeSeeds(0 -> 2, 1 -> 0)
    val failed = Set("http://w2.example/")
    val (localSeq, localStates) = localRunFailing(graph, new BFSStrategy,
      QueueOrdering.ScoreCreated, 4, failed)
    assert(localSeq.count(_ == "http://w2.example/") == 1, localSeq.toString)
    assert(localStates(fp("http://w2.example/")) == graft.local.States.Error)
    for ((side, s) <- SparkTestBase.sides) {
      val (sparkSeq, sparkStates) = sparkRunFailing(graph, ScoreStrategy.BFS,
        QueueOrdering.ScoreCreated, 4, failed, "inbatch-err", s)
      assert(sparkSeq == localSeq, side)
      assert(sparkStates == localStates, side)
    }
  }

  private def localRunOrdered(graph: CrawlGraph, strategy: graft.local.CrawlStrategy,
      ordering: QueueOrdering, mnr: Int): List[String] = {
    val f = new LocalFrontier(strategy, ordering = ordering)
    val t = new FrontierTester(f, graph, mnr)
    t.run()
    t.urlSequence
  }

  private def sparkRunOrdered(graph: CrawlGraph, strategy: ScoreStrategy,
      ordering: QueueOrdering, mnr: Int, tag: String,
      s: SparkSession = spark): List[String] = {
    val root = tempDir(s"graft-$tag").toString
    val frontier = new SparkFrontier(s, root, partitions = 4,
      stateBuckets = 4, strategy = strategy, globalOrder = true,
      ordering = ordering)
    frontier.addSeeds(graph.seeds)
    new SparkCrawler(frontier, webDF(graph, s), mnr).run()
  }

  test("FIFO ordering (created ASC) SITE_02 matches the oracle at mnr=1 and 5") {
    for (mnr <- Seq(1, 5); (side, s) <- SparkTestBase.sides) {
      val local = localRunOrdered(Graphs.site02,
        new graft.local.BasicStrategy, QueueOrdering.Fifo, mnr)
      val spk = sparkRunOrdered(Graphs.site02, ScoreStrategy.Basic,
        QueueOrdering.Fifo, mnr, s"fifo$mnr", s)
      assert(spk == local, s"mnr=$mnr $side")
    }
  }

  test("LIFO ordering (created DESC) SITE_01 matches the oracle at mnr=1 and 2") {
    for (mnr <- Seq(1, 2); (side, s) <- SparkTestBase.sides) {
      val local = localRunOrdered(Graphs.site01,
        new graft.local.BasicStrategy, QueueOrdering.Lifo, mnr)
      val spk = sparkRunOrdered(Graphs.site01, ScoreStrategy.Basic,
        QueueOrdering.Lifo, mnr, s"lifo$mnr", s)
      assert(spk == local, s"mnr=$mnr $side")
    }
  }

  test("shipped BFS/DFS scores (strategy/depth.py:35-42) match the oracle") {
    val lb = localRunOrdered(Graphs.site02,
      new graft.local.ShippedBFSStrategy, QueueOrdering.ScoreCreated, 5)
    val sb = sparkRunOrdered(Graphs.site02, ScoreStrategy.ShippedBFS,
      QueueOrdering.ScoreCreated, 5, "shipb")
    assert(sb == lb)
    val ld = localRunOrdered(Graphs.site01,
      new graft.local.ShippedDFSStrategy, QueueOrdering.ScoreCreated, 2)
    val sd = sparkRunOrdered(Graphs.site01, ScoreStrategy.ShippedDFS,
      QueueOrdering.ScoreCreated, 2, "shipd")
    assert(sd == ld)
  }

  test("checkpoint-resume: killing the driver mid-crawl loses nothing") {
    val root = tempDir("graft-resume").toString
    val graph = Graphs.site03
    val f1 = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    f1.addSeeds(graph.seeds)
    val c1 = new SparkCrawler(f1, webDF(graph), 5)
    var e = f1.epoch
    (1 to 3).foreach { _ => if (c1.crawlOnce(e + 1)) e += 1 }
    val partial = c1.sequence.toList.flatten

    // brand-new objects over the same root — resume from the manifests
    val f2 = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    assert(f2.epoch == e)
    val c2 = new SparkCrawler(f2, webDF(graph), 5)
    val rest = c2.run()
    val full = partial ++ rest

    val (localSeq, localStates) = localRun(graph, new BFSStrategy, 5)
    assert(full == localSeq)
    assert(f2.stateSnapshot() == localStates)
  }

  test("politeness cap: no more than maxPerHost per host per epoch; " +
       "withheld URLs are deferred, not dropped") {
    val root = tempDir("graft-polite").toString
    val graph = Graphs.site09
    val frontier = new SparkFrontier(spark, root, partitions = 4,
      stateBuckets = 4, strategy = ScoreStrategy.DFS, maxPerHost = 1,
      globalOrder = true)
    frontier.addSeeds(graph.seeds)
    val crawler = new SparkCrawler(frontier, webDF(graph), 5)
    val seq = crawler.run()
    // every epoch: ≤1 request per host
    crawler.sequence.foreach { batch =>
      val hosts = batch.map(u => graft.core.UrlUtil.slotKey(u))
      assert(hosts.distinct.size == hosts.size,
        s"host repeated within an epoch: $batch")
    }
    // nothing lost: all reachable pages crawled exactly once
    assert(seq.toSet == graph.nodes)
    assert(seq.length == graph.nodes.size)
  }

  test("the crawler's driver-side batch sort == Spark's orderBy (nulls, NaN, -0.0, desc)") {
    import spark.implicits._
    val df = Seq[(Option[Double], Option[Long], String)](
      (Some(Double.NaN), Some(1L), "a"), (Some(-0.0), Some(2L), "b"),
      (Some(0.0), Some(1L), "c"), (None, Some(3L), "d"), (Some(1.5), None, "e"),
      (Some(-1.0), Some(1L), "f"), (Some(0.0), Some(1L), "\u00e9"),
      (Some(0.0), Some(1L), "\ud83d\ude00"), (Some(0.0), Some(1L), "\uffee"),
      (Some(Double.NegativeInfinity), Some(5L), "g"), (Some(Double.NaN), None, "h"),
      (Some(0.0), Some(1L), "c0"), (None, None, "i"))
      .toDF("score", "created_at", "url")
    for (order <- Seq(Seq("score" -> true, "created_at" -> true),
        Seq("score" -> false, "created_at" -> true), Seq("created_at" -> false))) {
      val keys = order :+ ("url" -> true)
      val bySpark = df.orderBy(keys.map { case (c, asc) =>
        if (asc) col(c).asc else col(c).desc }: _*).select($"url").as[String].collect().toList
      val sel = df.select(keys.map(k => col(k._1)): _*)
      val byDriver = SparkCrawler.sortRows(sel.collect().toSeq, sel.schema, keys)
        .map(_.getString(keys.length - 1)).toList
      assert(byDriver == bySpark, s"order $order")
    }
  }
}
