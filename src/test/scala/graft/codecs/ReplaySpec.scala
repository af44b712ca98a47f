package graft.codecs

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq
import graft.spark.{ScoreStrategy, SparkFrontier, SparkTestBase}
import CValue._
import BusMessage._

/** End-to-end bus-log replay (S6/S9): a captured reference spider log —
  * page_crawled + links_extracted + request_error messages — replays
  * into the engine as a normal epoch: states merge, URL-seen dedup,
  * link scheduling, and error metadata all apply. Both codecs feed the
  * same replay path. */
class ReplaySpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def mkFrontier(): SparkFrontier =
    new SparkFrontier(spark, tempDir("graft-replay").toString,
      partitions = 2, stateBuckets = 2, strategy = ScoreStrategy.BFS,
      globalOrder = true)

  private def meta(depth: Long): CDict =
    CDict(Vector(bytes("depth") -> CLong(depth)))

  /** The captured log: /1 crawled (links /2 /3 extracted, depth 0→1),
    * /err failed with a DNS error. */
  private def messages: Seq[BusMessage] = {
    val p1 = WireRequest("http://aaa.com/1", meta = meta(0))
    Seq(
      PageCrawled(WireResponse("http://aaa.com/1", 200, meta = meta(0))),
      LinksExtracted(p1, Vector(
        WireRequest("http://aaa.com/2", meta = meta(1)),
        WireRequest("http://aaa.com/3", meta = meta(1)))),
      RequestError(WireRequest("http://aaa.com/err", meta = meta(0)),
        "DNSLookupError: no host"),
      Offset(0, 99)) // bookkeeping only — must be skipped, not crash
  }

  private def assertReplayed(f: SparkFrontier): Unit = {
    import graft.local.States
    val states = f.stateSnapshot().map { case (fp, s) => fp -> s }
    def fp(u: String): String = graft.core.Hashing.urlFingerprint(u)
    assert(states(fp("http://aaa.com/1")) == States.Crawled)
    assert(states(fp("http://aaa.com/err")) == States.Error)
    assert(states(fp("http://aaa.com/2")) == States.Queued)
    assert(states(fp("http://aaa.com/3")) == States.Queued)
    // the two extracted links are scheduled and dequeueable
    val batch = f.nextBatch(10).select($"url").as[String].collect().toSet
    assert(batch == Set("http://aaa.com/2", "http://aaa.com/3"))
    // errored request never schedules (links to it would be deduped too)
    assert(!batch.contains("http://aaa.com/err"))
  }

  test("JSON spider log replays into the engine") {
    val f = mkFrontier()
    val log = messages.map(m => JsonCodec.encode(m, sendBody = false))
    val events = SpiderLogReplay.decodeJson(spark.createDataset(log))
    SpiderLogReplay.replay(f, events, epochNo = 1L)
    assertReplayed(f)
  }

  test("msgpack spider log replays into the engine") {
    val f = mkFrontier()
    val log = messages.map(m => MsgpackCodec.encode(m, sendBody = false))
    val events = SpiderLogReplay.decodeMsgpack(spark.createDataset(log))
    SpiderLogReplay.replay(f, events, epochNo = 1L)
    assertReplayed(f)
  }

  test("update_score dont_queue channel applies through the replay") {
    val f = mkFrontier()
    f.addSeeds(Seq("http://aaa.com/x", "http://aaa.com/y"))
    val log = Seq[BusMessage](
      UpdateScore(WireRequest("http://aaa.com/x"), 0.125, schedule = false))
      .map(m => JsonCodec.encode(m))
    val n = SpiderLogReplay.replay(f,
      SpiderLogReplay.decodeJson(spark.createDataset(log)), epochNo = 1L)
    assert(n == 1L)
    val scores = f.queue.read(spark).select($"url", $"score")
      .as[(String, Double)].collect().toMap
    assert(scores("http://aaa.com/x") == 0.125)
  }
}
