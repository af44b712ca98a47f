package graft.bus

import graft.TempDirs
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.codecs._
import graft.core.Hashing
import graft.local.Graphs
import graft.spark.{GraphTables, ScoreStrategy, SparkCrawler, SparkFrontier, SparkTestBase}

/** S10: the durable partitioned-log bus and the reference's deployment
  * topology over it — non-Spark spider processes on the feed side, the
  * Spark engine as the (collapsed) strategy+DB worker on the log side.
  * Conformance targets: per-partition total order and durable offsets
  * (kafka semantics), FingerprintPartitioner / Crc32NamePartitioner
  * routing (partitioners.py), the kafkabus lag rule + zeromq ready/busy
  * marks for feed availability, and crawl-result equality (URL-seen set
  * and states) with the in-engine crawler on the same graph. */
class BusTopologySpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(p: String) = tempDir(p).toString

  // ---------------- log-level semantics ----------------

  test("partition log: concurrent producers, total order, exactly-once read") {
    val dir = Paths.get(tmp("bus-log"), "p0")
    val log = new PartitionLog(dir)
    val n = 200
    val t1 = new Thread(() => (0 until n).foreach(i =>
      log.append(Seq(s"a$i".getBytes))))
    val t2 = new Thread(() => (0 until n).foreach(i =>
      log.append(Seq(s"b$i".getBytes))))
    t1.start(); t2.start(); t1.join(); t2.join()
    val (recs, bytes) = log.committed
    assert(recs == 2L * n)
    val (frames, nextPos) = log.read(0L, 10000)
    assert(frames.length == 2 * n && nextPos == bytes)
    val seen = frames.map(new String(_))
    // every frame exactly once; per-producer order preserved (appends of
    // one producer are mutually ordered by the file lock)
    assert(seen.toSet.size == 2 * n)
    assert(seen.filter(_.startsWith("a")) == (0 until n).map("a" + _))
    assert(seen.filter(_.startsWith("b")) == (0 until n).map("b" + _))
  }

  test("partition log: torn producer tail is invisible and heals") {
    val dir = Paths.get(tmp("bus-torn"), "p0")
    val log = new PartitionLog(dir)
    log.append(Seq("ok1".getBytes))
    // crashed producer: garbage past the committed length
    Files.write(dir.resolve("log"), Array[Byte](9, 9, 9, 9, 9),
      StandardOpenOption.APPEND)
    val (frames1, _) = log.read(0L, 100)
    assert(frames1.map(new String(_)) == Vector("ok1"))
    // next append overwrites the torn tail
    log.append(Seq("ok2".getBytes))
    val (frames2, _) = log.read(0L, 100)
    assert(frames2.map(new String(_)) == Vector("ok1", "ok2"))
  }

  test("consumer groups: offsets are durable; a reopened consumer resumes") {
    val root = tmp("bus-resume")
    val bus = new LogBus(root, spiderLogPartitions = 2)
    val prod = bus.spiderLog.producer()
    (0 until 10).foreach(i => prod.send(s"key$i", s"m$i".getBytes))
    prod.flush()
    val c1 = bus.spiderLog.consumer(-1, "db")
    val got1 = c1.getMessages(4).map(new String(_))
    assert(got1.length == 4)
    // same group, fresh consumer object (a restarted worker)
    val c2 = new LogBus(root, spiderLogPartitions = 2).spiderLog.consumer(-1, "db")
    val got2 = c2.getMessages(100).map(new String(_))
    assert(got2.length == 6)
    assert((got1 ++ got2).toSet == (0 until 10).map("m" + _).toSet)
    // an independent group sees everything from the start
    val sw = bus.spiderLog.consumer(0, "sw")
    val swGot = sw.getMessages(100)
    assert(swGot.nonEmpty && sw.getOffset(0) == swGot.length.toLong)
  }

  test("keyed sends route by the reference partitioners") {
    val root = tmp("bus-route")
    val bus = new LogBus(root, spiderLogPartitions = 4, spiderFeedPartitions = 4)
    val slProd = bus.spiderLog.producer()
    val keys = (0 until 20).map(i => Hashing.urlFingerprint(s"http://h$i.com/"))
    keys.foreach(k => slProd.send(k, k.getBytes))
    slProd.flush()
    keys.foreach { k =>
      val expect = Hashing.fingerprintPartition(k, 4)
      val c = bus.spiderLog.consumer(expect, s"probe-$k")
      assert(c.getMessages(100).map(new String(_)).contains(k))
    }
    val feedProd = bus.spiderFeed.producer()
    val hosts = (0 until 20).map(i => s"host$i.example")
    hosts.foreach(h => feedProd.send(h, h.getBytes))
    feedProd.flush()
    // the feed's consumer group is fixed ("spider"), so drain each
    // partition exactly once and check membership against the expected
    // routing — a second consumer on the same partition would correctly
    // resume past the committed offset and see nothing
    val byPartition = (0 until 4).map { p =>
      p -> new LogBus(root, spiderFeedPartitions = 4).spiderFeed
        .consumer(p).getMessages(100).map(new String(_)).toSet
    }.toMap
    hosts.foreach { h =>
      assert(byPartition(Hashing.crc32Partition(h, 4)).contains(h))
    }
  }

  test("spider feed availability: lag rule, ready/busy marks, offset report") {
    val root = tmp("bus-avail")
    val bus = new LogBus(root, spiderFeedPartitions = 2, maxNextRequests = 4)
    val prod = bus.spiderFeed.producer()
    assert(bus.spiderFeed.availablePartitions() == Set(0, 1))
    // push 8 frames at partition 0: lag 8 >= 4 -> unavailable (kafkabus)
    (0 until 8).foreach(i => prod.sendTo(0, s"r$i".getBytes))
    prod.flush()
    assert(bus.spiderFeed.lag(0) == 8L)
    assert(bus.spiderFeed.availablePartitions() == Set(1))
    // consuming commits offsets (kafka auto-commit) -> available again
    val cons = bus.spiderFeed.consumer(0)
    assert(cons.getMessages(8).length == 8)
    assert(bus.spiderFeed.lag(0) == 0L)
    assert(bus.spiderFeed.availablePartitions() == Set(0, 1))
    // zeromq explicit marks intersect the lag rule
    bus.spiderFeed.markBusy(1)
    assert(bus.spiderFeed.availablePartitions() == Set(0))
    bus.spiderFeed.markReady(1)
    assert(bus.spiderFeed.availablePartitions() == Set(0, 1))
    // the ZMQ-topology path: offsets arrive as reported messages, not
    // from the consumer's own commit file
    (8 until 14).foreach(i => prod.sendTo(0, s"r$i".getBytes))
    prod.flush()
    assert(bus.spiderFeed.availablePartitions() == Set(1))
    bus.spiderFeed.reportConsumerOffset(0, 14L)
    assert(bus.spiderFeed.lag(0) == 0L)
    assert(bus.spiderFeed.availablePartitions() == Set(0, 1))
  }

  test("kindOf peeks the envelope tag without a payload decode") {
    val pc = BusMessage.PageCrawled(WireResponse("http://a.com/", 200))
    val re = BusMessage.RequestError(WireRequest("http://a.com/"), "err")
    val of = BusMessage.Offset(2, 77)
    val le = BusMessage.LinksExtracted(WireRequest("http://a.com/"), Vector())
    for (c <- Seq[BusCodec](BusCodec.Json, BusCodec.Msgpack)) {
      assert(c.kindOf(c.encode(pc)) == "pc", s"$c pc")
      assert(c.kindOf(c.encode(re)) == "re", s"$c re")
      assert(c.kindOf(c.encode(of)) == "of", s"$c of")
      assert(c.kindOf(c.encode(le)) == "", s"$c le is not a drain-scan kind")
      // consistency: the full decode agrees with the peek
      assert(c.decode(c.encode(of)) == of)
    }
  }

  // ---------------- end-to-end topology conformance ----------------

  private def busCrawl(codec: BusCodec, spiders: Int): (Set[String],
      Map[Int, List[String]], Map[String, Int], Long, SparkBusWorker,
      LogBus) = {
    val graph = Graphs.benchGraph(hosts = 4, depth = 3, fanout = 3)
    val web: Map[String, Seq[String]] =
      graph.pages.map { case (u, ls) => u -> (ls: Seq[String]) }.toMap
    val bus = new LogBus(tmp("bus-e2e"), spiderLogPartitions = 2,
      spiderFeedPartitions = spiders, maxNextRequests = 64)
    // the topology is wired strictly through the transport seam — a
    // broker-backed MessageBus implementation is a drop-in here
    val seam: MessageBus = bus
    val frontier = new SparkFrontier(spark, tmp("bus-e2e-store"),
      partitions = 2, stateBuckets = 2, strategy = ScoreStrategy.BFS,
      globalOrder = true)
    frontier.addSeeds(graph.seeds)
    val spiderObjs = (0 until spiders).map(p =>
      new BusSpider(seam, p, web, codec, verifyPayload = true))
    val threads = spiderObjs.map(s => new Thread(s, s"bus-spider-${s.partitionId}"))
    threads.foreach(_.start())
    val worker = new SparkBusWorker(frontier, seam, codec, maxNextRequests = 16)
    try worker.run()
    finally {
      spiderObjs.foreach(_.stopping = true)
      threads.foreach(_.join(5000))
    }
    val perSpider = spiderObjs.map { s =>
      s.partitionId -> {
        val it = s.fetchedUrls.iterator()
        val b = List.newBuilder[String]
        while (it.hasNext) b += it.next()
        b.result()
      }
    }.toMap
    val states = frontier.stateSnapshot()
    (perSpider.values.flatten.toSet, perSpider, states,
      spiderObjs.map(_.payloadFailures).sum, worker, bus)
  }

  private def directCrawl(): (Set[String], Map[String, Int]) = {
    val graph = Graphs.benchGraph(hosts = 4, depth = 3, fanout = 3)
    val web = GraphTables.webDF(spark, graph)
    val frontier = new SparkFrontier(spark, tmp("bus-direct-store"),
      partitions = 2, stateBuckets = 2, strategy = ScoreStrategy.BFS,
      globalOrder = true)
    frontier.addSeeds(graph.seeds)
    val crawler = new SparkCrawler(frontier, web, 16)
    val order = crawler.run()
    (order.toSet, frontier.stateSnapshot())
  }

  test("bus topology crawls the same URL-seen set and states as the engine") {
    val (direct, directStates) = directCrawl()
    for (codec <- Seq[BusCodec](BusCodec.Msgpack, BusCodec.Json)) {
      val (busSet, perSpider, busStates, payloadFails, worker, bus) =
        busCrawl(codec, spiders = 2)
      assert(busSet == direct, s"codec $codec: crawled set differs")
      // exactly-once fetch: scheduling dedup + durable offsets
      assert(perSpider.values.flatten.size == busSet.size,
        s"codec $codec: a URL was fetched more than once")
      // each host fetched by exactly the spider the Crc32NamePartitioner
      // assigns (messagebus.py:166-172: "each host will be downloaded by
      // at most one spider")
      perSpider.foreach { case (pid, urls) =>
        urls.foreach { u =>
          val host = graft.core.UrlUtil.urlparse(u).hostname.getOrElse("")
          assert(Hashing.crc32Partition(host, 2) == pid,
            s"codec $codec: $u fetched by spider $pid")
        }
      }
      // states store converges to the same membership + state values
      assert(busStates == directStates, s"codec $codec: states differ")
      // the per-row input_hint invariant held at the fetcher
      assert(payloadFails == 0L)
      assert(worker.epochsRun > 1, "crawl should take multiple epochs")
      // the worker published its counters on the stats log (the
      // reference DB worker's stats channel) — the final message's
      // cumulative counts match the worker's own
      val statsDicts = bus.statsLog.consumer().getMessages(100000)
        .map(codec.decode).collect { case BusMessage.Stats(d) => d }
      assert(statsDicts.nonEmpty, s"codec $codec: no stats published")
      val last = statsDicts.last.items.collect {
        case (CValue.CStr(k), CValue.CLong(v)) => k -> v
      }.toMap
      assert(last("epochs_run") == worker.epochsRun)
      assert(last("urls_processed") == worker.urlsProcessed)
      assert(last("urls_scheduled_to_feed") == worker.urlsScheduledToFeed)
    }
  }

  test("scoring-log update_score(dont_queue) events re-rank the queue via the worker") {
    // the reference SW→DB scoring channel (worker/db.py consume loop →
    // update_score with schedule=False): an UpdateScore produced on the
    // scoring log must re-score an already-queued request without
    // re-queueing it — observable as fetch order under score ordering
    val busDir = tmp("bus-scoring")
    val bus = new LogBus(busDir, spiderLogPartitions = 1,
      spiderFeedPartitions = 1, maxNextRequests = 64)
    val frontier = new SparkFrontier(spark, tmp("bus-scoring-store"),
      partitions = 2, stateBuckets = 2, strategy = ScoreStrategy.Basic,
      globalOrder = true,
      ordering = graft.local.QueueOrdering.ScoreCreatedDesc)
    val urls = Seq("http://ha.com/x", "http://hb.com/x", "http://hc.com/x")
    frontier.addSeeds(urls)
    val codec: BusCodec = BusCodec.Msgpack
    // demote hb BEFORE the first dequeue: the worker drains the scoring
    // log at the top of every cycle
    val sp = bus.scoringLog.producer()
    sp.send(null, codec.encode(BusMessage.UpdateScore(
      WireRequest("http://hb.com/x"), 0.2, schedule = false)))
    sp.flush()
    val spider = new BusSpider(bus, 0, Map.empty, codec)
    val t = new Thread(spider, "bus-scoring-spider")
    t.start()
    val worker = new SparkBusWorker(frontier, bus, codec,
      maxNextRequests = 1) // one URL per batch: fetch order == queue order
    try worker.run()
    finally { spider.stopping = true; t.join(5000) }
    assert(worker.scoreUpdatesApplied == 1L)
    val order = {
      val it = spider.fetchedUrls.iterator()
      val b = List.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    assert(order.toSet == urls.toSet)
    assert(order.last == "http://hb.com/x",
      s"the demoted URL must dequeue last under score ordering: $order")
  }

  test("a restarted worker resumes from durable offsets and completes the crawl") {
    val graph = Graphs.benchGraph(hosts = 4, depth = 3, fanout = 3)
    val web: Map[String, Seq[String]] =
      graph.pages.map { case (u, ls) => u -> (ls: Seq[String]) }.toMap
    val busDir = tmp("bus-restart")
    val storeDir = tmp("bus-restart-store")
    def mkBus() = new LogBus(busDir, spiderLogPartitions = 2,
      spiderFeedPartitions = 2, maxNextRequests = 64)
    def mkFrontier() = new SparkFrontier(spark, storeDir,
      partitions = 2, stateBuckets = 2, strategy = ScoreStrategy.BFS,
      globalOrder = true)
    val bus1 = mkBus()
    val f1 = mkFrontier()
    f1.addSeeds(graph.seeds)
    val spiders = (0 until 2).map(p =>
      new BusSpider(bus1, p, web, BusCodec.Msgpack))
    val threads = spiders.map(s => new Thread(s, s"bus-rs-spider-${s.partitionId}"))
    threads.foreach(_.start())
    try {
      // worker 1 applies exactly 2 epochs mid-crawl, then stops cleanly
      val w1 = new SparkBusWorker(f1, bus1, BusCodec.Msgpack, maxNextRequests = 16)
      w1.run(maxEpochs = 2)
      w1.close()
      assert(w1.epochsRun == 2)
      assert(w1.urlsProcessed < graph.nodes.size,
        "the crawl must genuinely be mid-flight at the handover")
      // worker 2 is a RESTARTED process: fresh bus handles, a frontier
      // reopened over the same store — picks up the db consumer group's
      // committed offsets and the store's epoch marker, and drains
      val w2 = new SparkBusWorker(mkFrontier(), mkBus(), BusCodec.Msgpack,
        maxNextRequests = 16)
      w2.run(idleStop = 20)
      assert(w2.epochsRun > 0)
    } finally {
      spiders.foreach(_.stopping = true)
      threads.foreach(_.join(5000))
    }
    val fetched = spiders.flatMap { s =>
      val it = s.fetchedUrls.iterator()
      val b = List.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    val (direct, directStates) = directCrawl()
    assert(fetched.toSet == direct, "URL-seen set differs after the restart")
    assert(fetched.size == direct.size,
      "a URL was fetched twice across the worker handover")
    assert(mkFrontier().stateSnapshot() == directStates)
  }
}
