package graft.streaming

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.spark.SparkTestBase
import FetchGate.{GateEvent, Granted}
import scala.jdk.CollectionConverters._

/** Streaming token-bucket politeness (FetchGate): per-slot budgets hold
  * across micro-batches, backlog drains FIFO as tokens refill — even
  * after the slot's producer goes quiet (processing-time timeouts stand
  * in for the reference buffer's drain-on-every-poll) — and independent
  * slots never share a budget (OverusedBuffer semantics,
  * contrib/scrapy/overusedbuffer.py, at micro-batch granularity).
  *
  * NOTE: no `processAllAvailable()` here — the gate's timeout re-arming
  * keeps scheduling drain batches, so quiescence never latches; the
  * test polls the cumulative grant set instead. */
class FetchGateSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("per-slot token bucket: cap per batch, FIFO drain incl. idle slots, isolation") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[GateEvent]
    val gated = FetchGate(input.toDS(), capacity = 2.0, refillPerBatch = 2.0,
      drainIntervalMs = 50)
    val grants = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = gated.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Granted], id: Long) =>
        b.collect().foreach(g => grants.add((g.slot, g.seq, id)))
        ()
      }
      .start()
    def snapshot(): List[(String, Long, Long)] = grants.asScala.toList
    def awaitSeqs(expect: Set[(String, Long)], tag: String): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (snapshot().map(t => (t._1, t._2)).toSet != expect &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(snapshot().map(t => (t._1, t._2)).toSet == expect, tag)
    }
    try {
      // a.com floods 5 requests, b.com sends 1. Capacity 2 per slot, so
      // a.com's flood takes 3 refill rounds; the deferred requests drain
      // WITHOUT any further a.com input (timeout-driven batches).
      input.addData(
        GateEvent("a.com", "http://a.com/1", 1), GateEvent("a.com", "http://a.com/2", 2),
        GateEvent("a.com", "http://a.com/3", 3), GateEvent("a.com", "http://a.com/4", 4),
        GateEvent("a.com", "http://a.com/5", 5), GateEvent("b.com", "http://b.com/1", 6))
      awaitSeqs((1L to 6L).map {
        case 6 => ("b.com", 6L); case i => ("a.com", i) }.toSet,
        "all requests eventually granted (idle backlog drains via timeouts)")

      val g = snapshot()
      // exactly-once: no duplicate grants across batches
      assert(g.map(t => (t._1, t._2)).distinct.size == g.size, s"dupes: $g")
      // token cap: no (slot, batch) granted more than `capacity`
      g.groupBy(t => (t._1, t._3)).foreach { case (k, rows) =>
        assert(rows.size <= 2, s"slot/batch $k granted ${rows.size} > capacity")
      }
      // FIFO per slot: a.com's seqs granted in arrival order across batches
      val aSeqs = g.filter(_._1 == "a.com").sortBy(_._3).map(_._2)
      assert(aSeqs == aSeqs.sorted, s"FIFO violated: $aSeqs")
      // isolation: b.com's single request was NOT queued behind a.com's
      // flood — it passed in b's first active batch (= a's first batch)
      val bBatch = g.filter(_._1 == "b.com").map(_._3).min
      val aFirst = g.filter(_._1 == "a.com").map(_._3).min
      assert(bBatch == aFirst, s"b.com deferred by a.com's flood: $g")
      // the flood spread over >= 3 distinct batches (2 tokens per refill)
      assert(g.filter(_._1 == "a.com").map(_._3).distinct.size >= 3)

      // a late arrival after the backlog cleared passes promptly
      input.addData(GateEvent("a.com", "http://a.com/6", 7))
      awaitSeqs((1L to 7L).map {
        case 6 => ("b.com", 6L); case i => ("a.com", i) }.toSet, "late arrival")
    } finally q.stop()
  }

  test("maxPending caps only what must WAIT — available tokens always grant") {
    // regression: a burst larger than maxPending but within the token
    // budget must pass entirely in its batch; only the deferred
    // remainder is subject to the pending cap (newest-dropped)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[GateEvent]
    val gated = FetchGate(input.toDS(), capacity = 5.0, refillPerBatch = 5.0,
      maxPending = 2, drainIntervalMs = 50)
    val grants = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = gated.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Granted], _: Long) =>
        b.collect().foreach(g => grants.add(g.seq))
        ()
      }
      .start()
    def await(expect: Set[Long], tag: String): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (grants.asScala.toSet != expect && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(grants.asScala.toSet == expect, tag)
    }
    try {
      // 4 > maxPending arrivals, 5 tokens: ALL granted, nothing dropped
      input.addData((1L to 4L).map(i => GateEvent("c.com", s"http://c.com/$i", i)): _*)
      await((1L to 4L).toSet, "burst within the token budget passes whole")
      // 9 arrivals, 5 tokens: 5 grant now, deferred 6..9 capped to {6,7}
      // (newest dropped); those two drain on refill — 8,9 never granted
      input.addData((11L to 19L).map(i => GateEvent("c.com", s"http://c.com/$i", i)): _*)
      await((1L to 4L).toSet ++ (11L to 17L).toSet,
        "overflow drops only the newest beyond tokens+maxPending")
      Thread.sleep(500) // further drain batches must not resurrect 18,19
      assert(grants.asScala.toSet == (1L to 4L).toSet ++ (11L to 17L).toSet)
    } finally q.stop()
  }

  test("engine seam: a real dequeued epoch batch flows through the gate " +
       "with per-slot politeness held and nothing lost") {
    // the gate's input contract is the engine's dequeue output: slot =
    // the queue's politeness slot key (its `host` column — the same key
    // the banded dequeue windows by), seq = dequeue order. Pins that
    // nextBatch rows convert 1:1 into GateEvents and every politeness
    // invariant holds over REAL engine output, not synthetic events.
    import graft.spark.{SparkFrontier, ScoreStrategy}
    val root = tempDir("gate-seam").toString
    val frontier = new SparkFrontier(spark, root, partitions = 2,
      stateBuckets = 2, strategy = ScoreStrategy.BFS, globalOrder = true)
    val floodUrls = (1 to 6).map(i => s"http://flood.example/p/$i")
    val quietUrls = (1 to 2).map(i => s"http://quiet.example/p/$i")
    frontier.addSeeds(scala.util.Random.shuffle(floodUrls ++ quietUrls))
    val batch = frontier.nextBatch(100)
    val rows = batch.select($"url", $"host").as[(String, String)].collect()
    batch.unpersist()
    assert(rows.length == 8, "fixture: the whole frontier dequeues")
    assert(rows.map(_._2).toSet == Set("flood.example", "quiet.example"),
      "slot keys come from the queue's host column")
    val events = rows.zipWithIndex.map { case ((url, host), i) =>
      GateEvent(host, url, i + 1L) }

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[GateEvent]
    val gated = FetchGate(input.toDS(), capacity = 2.0, refillPerBatch = 2.0,
      drainIntervalMs = 50)
    val grants = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long, Long)]()
    val q = gated.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Granted], id: Long) =>
        b.collect().foreach(g => grants.add((g.slot, g.url, g.seq, id)))
        ()
      }
      .start()
    try {
      input.addData(events: _*)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (grants.size < events.length && System.nanoTime() < deadline)
        Thread.sleep(100)
      val g = grants.asScala.toList
      // nothing the engine dequeued is lost or duplicated by the gate
      assert(g.map(_._2).sorted == (floodUrls ++ quietUrls).sorted.toList)
      // politeness: no slot granted more than `capacity` in one batch
      g.groupBy(t => (t._1, t._4)).foreach { case (k, rs) =>
        assert(rs.size <= 2, s"slot/batch $k granted ${rs.size} > capacity") }
      // the flooded host spread over >= 3 refill rounds; the quiet host
      // cleared in its first active batch (slot isolation)
      assert(g.filter(_._1 == "flood.example").map(_._4).distinct.size >= 3)
      assert(g.filter(_._1 == "quiet.example").map(_._4).distinct.size == 1)
      // FIFO per slot in dequeue order
      val fSeqs = g.filter(_._1 == "flood.example").sortBy(_._4).map(_._3)
      assert(fSeqs == fSeqs.sorted, s"dequeue order violated: $fSeqs")
    } finally q.stop()
  }
}
