package graft.codecs

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.spark.{FrontierExprs, SparkFrontier}
import scala.jdk.CollectionConverters._

/** S6/S9 interop: replay a reference deployment's captured bus log into
  * the Spark engine. A frontera cluster's spider log is a stream of
  * `page_crawled` / `links_extracted` / `request_error` messages
  * (core/codec.py); decoding happens distributed (one pass per
  * partition, no driver loop) and each `replay*` call applies one batch
  * as one engine epoch through the normal `processCrawled` pipeline —
  * states dedup, robots/domain filters, budgets, and metadata all apply
  * exactly as if the engine had crawled the batch itself. This is the
  * "switch a reference deployment to this engine" path: point the
  * replay at the existing Kafka capture, keep the crawl going.
  *
  * Scoring-log messages: `update_score` with `schedule=false` (the
  * dont_queue channel) maps to `updateScores`; `schedule=true` is NOT
  * replayed into the queue — in this engine scores come from the
  * declared strategy at link-processing time, and injecting
  * foreign-scored requests would bypass the states dedup the reference
  * itself performs before scheduling. `offset`/`new_job_id`/`stats` are
  * bus bookkeeping with no frontier state to apply. */
object SpiderLogReplay {

  /** One decoded spider-log event, flattened for Dataset ergonomics. */
  final case class ReplayEvent(
      kind: String, url: String, status: Long, depth: Int, score: Double,
      error: String, schedule: Boolean, links: Seq[String])

  private def metaLong(d: CValue.CDict, key: String, default: Long): Long =
    d.items.collectFirst {
      case (b: CValue.CBytes, CValue.CLong(v)) if CValue.bytesUtf8(b) == key => v
    }.getOrElse(default)

  private def metaDouble(d: CValue.CDict, key: String, default: Double): Double =
    d.items.collectFirst {
      case (b: CValue.CBytes, CValue.CDouble(v)) if CValue.bytesUtf8(b) == key => v
      case (b: CValue.CBytes, CValue.CLong(v)) if CValue.bytesUtf8(b) == key => v.toDouble
    }.getOrElse(default)

  private def toEvent(msg: BusMessage): Option[ReplayEvent] = msg match {
    case BusMessage.PageCrawled(r) => Some(ReplayEvent(
      "pc", r.url, r.statusCode, metaLong(r.meta, "depth", 0L).toInt,
      metaDouble(r.meta, "score", 1.0), null, schedule = false, Nil))
    case BusMessage.LinksExtracted(r, links) => Some(ReplayEvent(
      "le", r.url, 0L, metaLong(r.meta, "depth", 0L).toInt,
      metaDouble(r.meta, "score", 1.0), null, schedule = false,
      links.map(_.url)))
    case BusMessage.RequestError(r, e) => Some(ReplayEvent(
      "re", r.url, 0L, metaLong(r.meta, "depth", 0L).toInt,
      metaDouble(r.meta, "score", 0.0), e, schedule = false, Nil))
    case BusMessage.UpdateScore(r, score, schedule) => Some(ReplayEvent(
      "us", r.url, 0L, 0, score, null, schedule, Nil))
    case _ => None // offset / new_job_id / stats: no frontier state
  }

  /** Decode a JSON message log (distributed). */
  def decodeJson(messages: Dataset[String]): Dataset[ReplayEvent] = {
    val spark = messages.sparkSession
    import spark.implicits._
    messages.mapPartitions(_.flatMap(m => toEvent(JsonCodec.decode(m))))
  }

  /** Decode a msgpack message log (distributed). */
  def decodeMsgpack(messages: Dataset[Array[Byte]]): Dataset[ReplayEvent] = {
    val spark = messages.sparkSession
    import spark.implicits._
    messages.mapPartitions(_.flatMap(m => toEvent(MsgpackCodec.decode(m))))
  }

  /** Apply one batch of decoded events as one engine epoch. Returns the
    * number of update_score rows applied via the dont_queue channel. */
  def replay(frontier: SparkFrontier, events: Dataset[ReplayEvent],
      epochNo: Long): Long = {
    val spark = frontier.spark
    import spark.implicits._
    val ev = events.toDF().cache()
    try {
      // the batch's fetches, pages and failed ones, in one small collect
      // (one epoch's worth): the engine reads them as local relations
      val fetched = ev.filter($"kind" === "pc" || $"kind" === "re").select($"kind",
        FrontierExprs.url_fingerprint($"url").as("fingerprint"), $"url", $"depth",
        $"score", lit(0L).as("created_at"), $"error")
      val rows = fetched.collect().toSeq
      def local(kind: String): DataFrame = spark.createDataFrame(
        rows.filter(_.getString(0) == kind).asJava, fetched.schema).drop("kind")
      val pages = local("pc").drop("error")
      val links = ev.filter($"kind" === "le")
        .select($"url".as("parent_url"), $"score".as("parent_score"),
          lit(0L).as("parent_created"), $"depth".as("parent_depth"),
          posexplode($"links"))
        .withColumnRenamed("pos", "link_idx")
        .withColumnRenamed("col", "link_url")
      val hasErrs = rows.exists(_.getString(0) == "re")
      frontier.processCrawled(pages, links, epochNo,
        errors = if (hasErrs) Some(local("re")) else None)
      val us = ev.filter($"kind" === "us" && !$"schedule")
        .select($"url", $"score")
      if (us.limit(1).count() > 0) frontier.updateScores(us) else 0L
    } finally ev.unpersist()
  }
}
