package graft.bus

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import graft.codecs._
import graft.core.{Hashing, UrlUtil}
import graft.spark.SparkFrontier

/** Codec selector for bus payloads — both S9 codecs produce/consume raw
  * frames for the log (`codecs/json.py` via UTF-8, `codecs/msgpack.py`
  * natively). */
sealed trait BusCodec {
  def encode(msg: BusMessage): Array[Byte]
  def decode(frame: Array[Byte]): BusMessage
  def encodeRequest(r: WireRequest): Array[Byte]
  def decodeRequest(frame: Array[Byte]): WireRequest
  /** Envelope kind without a payload decode — `"of"`, `"pc"`, `"re"`,
    * or `""` for everything else. The worker's driver-side drain scan
    * classifies 4096 frames/cycle with this; only Offset frames (a few
    * dozen bytes) decode on the driver, the rest decode DISTRIBUTED. */
  def kindOf(frame: Array[Byte]): String
}
object BusCodec {
  case object Json extends BusCodec {
    def encode(msg: BusMessage): Array[Byte] = JsonCodec.encode(msg).getBytes(UTF_8)
    def decode(frame: Array[Byte]): BusMessage = JsonCodec.decode(new String(frame, UTF_8))
    def encodeRequest(r: WireRequest): Array[Byte] = JsonCodec.encodeRequest(r).getBytes(UTF_8)
    def decodeRequest(frame: Array[Byte]): WireRequest = JsonCodec.decodeRequest(new String(frame, UTF_8))
    def kindOf(frame: Array[Byte]): String =
      // the ("type", tag) pair sits in the first ~60 bytes; decode only those
      JsonCodec.peekTag(
        new String(frame, 0, math.min(frame.length, 64), UTF_8)) match {
        case "offset" => "of"
        case "page_crawled" => "pc"
        case "request_error" => "re"
        case _ => ""
      }
  }
  case object Msgpack extends BusCodec {
    def encode(msg: BusMessage): Array[Byte] = MsgpackCodec.encode(msg)
    def decode(frame: Array[Byte]): BusMessage = MsgpackCodec.decode(frame)
    def encodeRequest(r: WireRequest): Array[Byte] = MsgpackCodec.encodeRequest(r)
    def decodeRequest(frame: Array[Byte]): WireRequest = MsgpackCodec.decodeRequest(frame)
    def kindOf(frame: Array[Byte]): String = MsgpackCodec.peekTag(frame) match {
      case "of" => "of"
      case "pc" => "pc"
      case "re" => "re"
      case _ => ""
    }
  }
}

/** A fetcher process on the bus — the scrapy/spider side of the
  * reference topology (`contrib/backends/remote/messagebus.py`,
  * `docs/source/topics/architecture.rst` "spiders" box). Deliberately
  * NOT Spark: it polls its spider-feed partition, "fetches" each request
  * against the synthetic web, and produces `page_crawled` /
  * `links_extracted` / `request_error` onto the spider log keyed by the
  * request fingerprint. Depth and score ride the request meta both ways,
  * so the Spark worker's strategy sees exactly what the reference's
  * would. Runs as a plain thread here; nothing in it shares memory with
  * the engine — the log directory is the only channel, so the same code
  * runs as a separate JVM/machine.
  *
  * When `verifyPayload` is set the spider also synthesizes + decodes the
  * deterministic image payload for every fetched URL and checks the
  * PSNR/caption invariant — the fetcher is where payload verification
  * lives in this deployment shape (input_hint per-row invariant). */
final class BusSpider(
    bus: MessageBus, val partitionId: Int, web: Map[String, Seq[String]],
    codec: BusCodec, failUrls: Set[String] = Set.empty,
    verifyPayload: Boolean = false, pollSize: Int = 64) extends Runnable {

  private val feed = bus.spiderFeed.consumer(partitionId)
  private val log = bus.spiderLog.producer()
  @volatile var stopping = false
  @volatile var fetched = 0L
  @volatile var payloadFailures = 0L
  /** A spider that dies must be visible to its supervisor. */
  @volatile var error: Throwable = null
  /** urls fetched by THIS spider, in consume order (conformance probe) */
  val fetchedUrls = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def meta(depth: Long, score: Double): CValue.CDict = CValue.CDict(Vector(
    (CValue.bytes("depth"), CValue.CLong(depth)),
    (CValue.bytes("score"), CValue.CDouble(score))))

  private def fetchOne(req: WireRequest): Unit = {
    val url = req.url
    val depth = req.meta.items.collectFirst {
      case (b: CValue.CBytes, CValue.CLong(v)) if CValue.bytesUtf8(b) == "depth" => v
    }.getOrElse(0L)
    val score = req.meta.items.collectFirst {
      case (b: CValue.CBytes, CValue.CDouble(v)) if CValue.bytesUtf8(b) == "score" => v
    }.getOrElse(1.0)
    val key = Hashing.urlFingerprint(url)
    fetchedUrls.add(url)
    fetched += 1
    if (verifyPayload) {
      val row = graft.images.ImageSynth.rowFor(url, depth.toInt, 64, 64)
      if (!graft.images.ImageSynth.verifyRow(url, depth.toInt, row))
        payloadFailures += 1
    }
    if (failUrls.contains(url)) {
      log.send(key, codec.encode(BusMessage.RequestError(
        WireRequest(url, meta = meta(depth, score)), s"fetch failed: $url")))
    } else {
      val links = web.getOrElse(url, Seq.empty)
        .map(u => WireRequest(u)).toVector
      log.send(key,
        codec.encode(BusMessage.PageCrawled(
          WireResponse(url, 200, meta = meta(depth, score)))),
        codec.encode(BusMessage.LinksExtracted(
          WireRequest(url, meta = meta(depth, score)), links)))
    }
  }

  def run(): Unit =
    try {
      while (!stopping) {
        val frames = feed.getMessages(pollSize)
        if (frames.isEmpty) Thread.sleep(5)
        else {
          frames.foreach(f => fetchOne(codec.decodeRequest(f)))
          log.flush()
          // announce the consumed feed offset on the spider log (the ZMQ
          // topology's flow-control signal; the kafka topology reads the
          // committed offset file directly — this bus supports both)
          log.send(partitionId.toString,
            codec.encode(BusMessage.Offset(partitionId, feed.getOffset(partitionId))))
          log.flush()
        }
      }
      log.close()
    } catch {
      case t: Throwable => error = t
    }
}

/** The Spark engine as the bus's strategy + DB worker (the reference's
  * SW and DB workers, collapsed by design — SURVEY §2.1/S6: inside one
  * engine the strategy runs inline in `processCrawled`, the shuffle is
  * the exchange). Per cycle it drains the spider log (decoding
  * DISTRIBUTED via [[SpiderLogReplay]]), applies the batch as one engine
  * epoch (states dedup, strategy scoring, budgets, metadata — the full
  * pipeline), then dequeues `get_next_requests` batches and produces
  * them onto the spider feed keyed by hostname (Crc32NamePartitioner:
  * each host to at most one spider). Scoring-log `update_score
  * (schedule=false)` events apply through the dont_queue channel
  * (reference `worker/db.py` consume loop).
  *
  * Flow control: requests for a feed partition that is unavailable
  * (ready/busy mark ∧ offset lag, `kafkabus.py:197-202`) are HELD in a
  * bounded per-partition pending buffer (a Kafka producer's partition
  * buffer); while the total pending exceeds the lag bound no new batch
  * is dequeued — backpressure reaches the queue without un-dequeueing
  * anything. */
final class SparkBusWorker(
    frontier: SparkFrontier, bus: MessageBus, codec: BusCodec,
    maxNextRequests: Int, drainPollSize: Int = 4096) {

  private val spark = frontier.spark
  import spark.implicits._

  private val dbConsumer = bus.spiderLog.consumer(-1, "db")
  private val scoringConsumer = bus.scoringLog.consumer()
  private val feedProducer = bus.spiderFeed.producer()
  private val statsProducer = bus.statsLog.producer()
  private val pending =
    scala.collection.mutable.Map[Int, Vector[Array[Byte]]]().withDefaultValue(Vector.empty)

  var epochsRun = 0L
  var urlsScheduledToFeed = 0L
  var urlsProcessed = 0L
  var scoreUpdatesApplied = 0L
  // Next epoch number to stamp on a replayed batch. Must be
  // monotonically increasing LOCALLY, not derived from frontier.epoch
  // per drain: an epoch whose commit was skipped as empty (e.g. a drain
  // of only Offset messages) advances the jid marker but not the
  // manifest epoch, and re-deriving would re-issue the same number —
  // which the F6 stale-replay filter then drops wholesale.
  private var nextEpoch =
    math.max(frontier.epoch, frontier.lastProcessedEpoch) + 1

  private def feedPartitionOf(url: String): Int =
    Hashing.crc32Partition(
      UrlUtil.urlparse(url).hostname.getOrElse(""), bus.spiderFeed.partitions)

  /** Decode one drained frame batch distributed and apply it as one
    * engine epoch. Offset messages are surfaced driver-side (they carry
    * no frontier state) and forwarded to the feed's flow control.
    * Returns false when the drain held only bus bookkeeping — no Spark
    * job, no epoch. */
  private def applySpiderLog(frames: Vector[Array[Byte]]): Boolean = {
    // driver-side envelope scan: forward Offset messages to the feed's
    // flow control and count fetch completions (pc/re) against the
    // scheduled count — the worker's drain condition. Only the TAG is
    // peeked per frame (kindOf — no payload parse); full driver-side
    // decode happens for the tiny Offset frames alone, so a
    // LinksExtracted payload is parsed exactly once, distributed.
    var stateful = 0
    frames.foreach { f =>
      codec.kindOf(f) match {
        case "of" =>
          codec.decode(f) match {
            case BusMessage.Offset(p, off) =>
              bus.spiderFeed.reportConsumerOffset(p.toInt, off)
            case _ => stateful += 1 // mis-peeked frame: let the replay see it
          }
        case "pc" | "re" => urlsProcessed += 1; stateful += 1
        case _ => stateful += 1
      }
    }
    if (stateful == 0) return false
    val ds = spark.createDataset(frames)(org.apache.spark.sql.Encoders.BINARY)
      .repartition(spark.sparkContext.defaultParallelism)
    val events = codec match {
      case BusCodec.Msgpack => SpiderLogReplay.decodeMsgpack(ds)
      case BusCodec.Json =>
        SpiderLogReplay.decodeJson(ds.map(b => new String(b, UTF_8)))
    }
    SpiderLogReplay.replay(frontier, events, nextEpoch)
    nextEpoch += 1
    epochsRun += 1
    true
  }

  private def applyScoringLog(): Unit = {
    val frames = scoringConsumer.getMessages(drainPollSize)
    if (frames.nonEmpty) {
      val us = frames.map(codec.decode).collect {
        case BusMessage.UpdateScore(r, score, false) => (r.url, score)
      }
      if (us.nonEmpty)
        scoreUpdatesApplied +=
          frontier.updateScores(us.toDF("url", "score"))
    }
  }

  /** Flush pending request frames to currently-available partitions,
    * then (if under the pending bound) dequeue a fresh batch and route
    * it. Returns rows newly dequeued. */
  private def scheduleToFeed(): Long = {
    val avail = bus.spiderFeed.availablePartitions()
    pending.keys.toSeq.foreach { p =>
      if (avail.contains(p) && pending(p).nonEmpty) {
        feedProducer.sendTo(p, pending(p): _*)
        pending(p) = Vector.empty
      }
    }
    val pendingTotal = pending.valuesIterator.map(_.length).sum
    if (pendingTotal >= maxNextRequests) { feedProducer.flush(); return 0L }
    val batch = frontier.nextBatch(maxNextRequests)
    // driver-side collect is BOUNDED-BY-CONTRACT: nextBatch returns at
    // most maxNextRequests rows (the reference DB worker materializes
    // the same batch in batch_generator.py before producing to the
    // feed). At a larger MAX_NEXT_REQUESTS move encode+send into
    // foreachPartition against per-partition producers.
    val rows = batch.select($"url", $"depth", $"score")
      .as[(String, Int, Double)].collect()
    batch.unpersist()
    rows.foreach { case (url, depth, score) =>
      val frame = codec.encodeRequest(WireRequest(url, meta = CValue.CDict(Vector(
        (CValue.bytes("depth"), CValue.CLong(depth.toLong)),
        (CValue.bytes("score"), CValue.CDouble(score))))))
      val p = feedPartitionOf(url)
      if (avail.contains(p)) feedProducer.sendTo(p, frame)
      else pending(p) = pending(p) :+ frame
    }
    feedProducer.flush()
    urlsScheduledToFeed += rows.length
    rows.length.toLong
  }

  /** The reference DB worker's periodic stats publication
    * (`worker/db.py` log counters → stats log, `messagebus.py:127-145`):
    * one `st` message with the worker's cumulative counters, emitted
    * after every applied epoch and once on drain. */
  private def publishStats(): Unit = {
    statsProducer.send(null, codec.encode(BusMessage.Stats(CValue.CDict(Vector(
      CValue.CStr("epochs_run") -> CValue.CLong(epochsRun),
      CValue.CStr("urls_processed") -> CValue.CLong(urlsProcessed),
      CValue.CStr("urls_scheduled_to_feed") -> CValue.CLong(urlsScheduledToFeed),
      CValue.CStr("score_updates_applied") -> CValue.CLong(scoreUpdatesApplied))))))
    statsProducer.flush()
  }

  /** Run the worker loop until the crawl drains: every URL scheduled to
    * the feed has a fetch completion back on the spider log, the feed is
    * fully consumed, no new messages, and an empty dequeue — observed
    * `idleStop` consecutive times. `maxEpochs` bounds the run (operator
    * maintenance windows, restart tests) — a stopped worker resumes
    * from the durable consumer-group offsets and the store's epoch
    * marker; call [[close]] for a graceful stop. */
  def run(idleStop: Int = 6, maxEpochs: Long = Long.MaxValue): Unit = {
    var idle = 0
    var tryDequeue = true // first pass: seeds are already in the queue
    while (idle < idleStop && epochsRun < maxEpochs) {
      val frames = dbConsumer.getMessages(drainPollSize)
      applyScoringLog()
      var progressed = false
      if (frames.nonEmpty && applySpiderLog(frames)) {
        progressed = true
        publishStats()
      }
      // dequeue only when something could have changed the queue (a
      // replayed epoch, pending rows to flush, or the idle drain check)
      // — nextBatch is a full Spark job, not a poll
      if (tryDequeue || progressed ||
          pending.valuesIterator.exists(_.nonEmpty)) {
        if (scheduleToFeed() > 0) progressed = true
        tryDequeue = false
      }
      val feedDrained =
        (0 until bus.spiderFeed.partitions).forall(bus.spiderFeed.lag(_) == 0L)
      val caughtUp = urlsProcessed >= urlsScheduledToFeed
      if (progressed || !feedDrained || !caughtUp) { idle = 0; Thread.sleep(2) }
      else { idle += 1; tryDequeue = true; Thread.sleep(10) }
    }
    publishStats() // final cumulative counters on drain
  }

  /** Graceful stop: drain the pending partition buffers to their feed
    * partitions regardless of availability (backpressure ends with the
    * producer — a Kafka producer flushes on close; an ABRUPT crash
    * instead loses only what sat in this in-memory buffer, the same
    * producer-buffer window the reference DB worker has) and publish
    * the final counters. The frontier's background dequeue commit is
    * joined first: a worker restarted over the same store must not read
    * the queue before it lands (it would dequeue those rows again, and
    * the late commit would put back rows the new worker had taken). */
  def close(): Unit = {
    frontier.awaitQueueCommit()
    pending.keys.toSeq.foreach { p =>
      if (pending(p).nonEmpty) {
        feedProducer.sendTo(p, pending(p): _*)
        pending(p) = Vector.empty
      }
    }
    feedProducer.flush()
    publishStats()
  }
}
