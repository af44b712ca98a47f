package graft.spark

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Epoch-loop crawl driver — the Spark analog of the reference
  * FrontierTester (frontera/utils/tester.py:13-95). The synthetic web is
  * a links table `(url string, outlinks array<string>)`; "fetching" a URL
  * is a join against it (and, when given, against the image payload
  * table keyed by image_id == url fingerprint — the input_hint shape). */
final class SparkCrawler(
    frontier: SparkFrontier,
    web: DataFrame, // url, outlinks
    maxNextRequests: Int,
    images: Option[DataFrame] = None,
    /** false: don't collect per-URL sequences to the driver (bench mode) */
    collectSequence: Boolean = true,
    /** bench mode: synthesize + decode + verify the image payload for
      * every fetched URL on the executors (the fetch+verify workload) */
    verifyPayloadOnFetch: Boolean = false,
    /** fetch-failure predicate over the batch row (url/host/depth/...):
      * matching rows take the request_error path — ERROR state + error
      * metadata, no links, never re-scheduled */
    fetchError: Option[org.apache.spark.sql.Column] = None,
    /** response bodies for robots.txt / sitemap URLs, (url, body) — the
      * discovery bootstrap (reference _process_robots_txt /
      * _process_sitemap): a fetched robots response yields the domain's
      * home-page link + its `Sitemap:` directives and persists the body
      * into domain_metadata; a fetched sitemap yields its `<loc>` URLs */
    bodies: Option[DataFrame] = None,
    /** redirect chains, (url, redirect_urls array) — fetching `url`
      * lands on the chain's LAST url. J3 canonical solver
      * (Corresponding2First, contrib/canonicalsolvers/basic.py:37-49):
      * the page keeps the dequeued url's identity, links come from the
      * landing page, and every chain member is marked CRAWLED so later
      * links to it never re-crawl */
    redirects: Option[DataFrame] = None,
    /** run store compaction (queue bands + states LSM fold + metadata)
      * every N epochs, between epochs — the operational hook a
      * long-running crawl needs so leaf counts stay bounded (Iceberg
      * rewrite_data_files cadence). 0 = off. */
    compactEveryEpochs: Int = 0) {

  private val spark: SparkSession = frontier.spark
  import spark.implicits._

  /** URL sequence per epoch, in dequeue order. */
  val sequence = scala.collection.mutable.ArrayBuffer.empty[List[String]]
  var epochsRun = 0
  var urlsCrawled = 0L
  var payloadFailures = 0L

  def crawlOnce(epochNo: Long): Boolean = {
    val dequeued = frontier.nextBatch(maxNextRequests, atEpoch = epochNo)
    // the batch the epoch reads (the collected rows when the sequence is
    // collected, else the dequeued frame) and its size
    val (batch, n) =
      if (collectSequence) {
        // within-batch order follows the queue ordering (a LIFO batch is
        // consumed most-recent-first, like the reference scheduler). The
        // whole batch is collected in one job and sorted on the driver
        // (no sort plan to compile and run each epoch), and the rest of
        // the epoch reads it as a local relation: no job reads it again
        val toRow = CatalystTypeConverters.createToScalaConverter(dequeued.schema)
        val rows = SparkCrawler.sortRows(
          frontier.labeled("batch")(SparkFrontier.collectInternal(dequeued))
            .map(toRow(_).asInstanceOf[Row]),
          dequeued.schema, frontier.batchOrder :+ ("url" -> true))
        val ordered = rows.map(_.getAs[String]("url")).toList
        if (ordered.nonEmpty) sequence.append(ordered)
        (spark.createDataFrame(rows.asJava, dequeued.schema), ordered.length.toLong)
      } else if (verifyPayloadOnFetch) {
        // one job: the "fetch" — synthesize the deterministic payload,
        // decode it, check the PSNR/caption invariant (executor-side) —
        // fused with the batch count; rebalanced across all cores (the
        // per-row codec work is the heavy part, not the row count)
        val (cnt, fails) = dequeued
          .repartition(spark.sparkContext.defaultParallelism)
          .select($"url", $"depth").as[(String, Int)]
          .map { case (url, depth) =>
            val row = graft.images.ImageSynth.rowFor(url, depth, 64, 64)
            (1L, if (graft.images.ImageSynth.verifyRow(url, depth, row)) 0L else 1L)
          }.toDF("c", "f")
          .agg(coalesce(sum($"c"), lit(0L)), coalesce(sum($"f"), lit(0L)))
          .as[(Long, Long)].first()
        payloadFailures += fails
        (dequeued, cnt)
      } else (dequeued, dequeued.count())
    if (n == 0) {
      // the crawl may end here: leave no commit running behind it
      frontier.awaitQueueCommit()
      return false
    }
    urlsCrawled += n

    // request_error path: failed fetches split off before page/link
    // processing (reference core/manager.py:572-580)
    val (ok, errs) = fetchError match {
      case Some(p) =>
        (batch.filter(!p),
          Some(batch.filter(p).withColumn("error",
            concat(lit("fetch failed: "), $"url"))))
      case None => (batch, None)
    }

    // fetch: join the batch against the web graph (and payload table)
    val fetched = images match {
      case Some(img) =>
        ok.join(img, ok("fingerprint") === img("image_id"), "left_outer")
      case None => ok
    }
    val pages = fetched.select($"fingerprint", $"url", $"depth", $"score", $"created_at")
    // redirect resolution: links come from the LANDING url's page; the
    // batch row keeps the dequeued url as its identity (J3)
    val (okContent, aliasSeen, redirectPairs) = redirects match {
      case Some(r) =>
        val withR = ok.join(r, Seq("url"), "left_outer")
        val content = withR.withColumn("__curl",
          coalesce(element_at($"redirect_urls", -1), $"url"))
        val alias = withR
          .select(explode(coalesce($"redirect_urls", array())).as("__aurl"))
          .select(FrontierExprs.url_fingerprint($"__aurl").as("fingerprint"))
        // per-domain redirect bookkeeping: only probe/home requests feed
        // the domain redirect sets (reference _get_domain_after_redirects
        // gates on robots/sitemap/home meta), and only cross-netloc hops
        def isProbeOrHome(u: org.apache.spark.sql.Column) =
          u.endsWith("/robots.txt") || u.rlike("sitemap[^/]*\\.xml$") ||
            FrontierExprs.is_home_page(u)
        val pairs = withR
          .filter($"redirect_urls".isNotNull && isProbeOrHome($"url"))
          .select(FrontierExprs.url_host($"url").as("from_host"),
            FrontierExprs.url_host(element_at($"redirect_urls", -1)).as("to_host"))
          .filter($"from_host" =!= $"to_host")
        (content, Some(alias), Some(pairs))
      case None => (ok.withColumn("__curl", $"url"), None, None)
    }
    // each page's links come from its content url's row of the web. The
    // pages are few and collected (no job while the batch is local), so
    // they ride into the web scan as a lookup bound into the plan,
    // content url -> the pages fetched from it: no join, no broadcast job
    val parentsOf = okContent.select($"__curl", $"url".as("parent_url"),
      $"score".as("parent_score"), $"created_at".as("parent_created"),
      $"depth".as("parent_depth"))
    val parentType = StructType(parentsOf.schema.tail)
    val contentParents = spark.sparkContext.broadcast[Map[UTF8String, Any]](
      SparkFrontier.collectInternal(parentsOf).filter(!_.isNullAt(0))
        .groupBy(_.getUTF8String(0)).map { case (u, rs) =>
          u -> new GenericArrayData(rs.map(r => InternalRow.fromSeq(
            parentType.fields.indices.map(i => r.get(i + 1, parentType(i).dataType)))))
        })
    val webLinks = web
      .select(explode(FrontierExprs.bound_lookup(contentParents, ArrayType(parentType, false),
        $"url")).as("__p"), $"outlinks")
      .select($"__p.*", posexplode_outer(coalesce($"outlinks", array())))
      .withColumnRenamed("pos", "link_idx")
      .withColumnRenamed("col", "link_url")
      .filter($"link_url".isNotNull)

    // discovery bootstrap: robots/sitemap responses produce strategy
    // links (home page at 0.8, sitemap probes at 0.9, <loc> URLs) and
    // the robots body for domain_metadata
    val (links, domainData) = bodies match {
      case None => (webLinks, None)
      case Some(bod) =>
        val withBody = ok.join(bod, Seq("url"), "left_outer")
        val isRobots = $"url".endsWith("/robots.txt") && $"body".isNotNull
        val isSitemap = $"url".rlike("sitemap[^/]*\\.xml$") && $"body".isNotNull
        def parentCols = Seq($"url".as("parent_url"),
          $"score".as("parent_score"), $"created_at".as("parent_created"),
          $"depth".as("parent_depth"))
        // Sitemap: directives are only trusted from a VALID robots body
        // (is_valid_robotstxt — reference _process_robots_txt parses and
        // on failure schedules the home page ONLY, discovery/__init__.py:
        // 284-310); the home link is scheduled either way
        val robotsLinks = withBody.filter(isRobots)
          .select(parentCols :+ posexplode(array_union(
            array(regexp_replace($"url", "/robots\\.txt$", "/")),
            when(FrontierExprs.robots_valid($"body"),
              regexp_extract_all($"body", lit("(?m)^Sitemap:\\s*(\\S+)"), lit(1)))
              .otherwise(array().cast("array<string>")))): _*)
          .withColumnRenamed("pos", "link_idx")
          .withColumnRenamed("col", "link_url")
        val sitemapLinks = withBody.filter(isSitemap)
          .select(parentCols :+ posexplode(
            regexp_extract_all($"body", lit("<loc>([^<]+)</loc>"), lit(1))): _*)
          .withColumnRenamed("pos", "link_idx")
          .withColumnRenamed("col", "link_url")
        val dd = withBody.filter(isRobots).select(
          FrontierExprs.sld(FrontierExprs.url_host($"url")).as("domain"),
          $"body".as("robots_body"))
        (webLinks.unionByName(robotsLinks).unionByName(sitemapLinks), Some(dd))
    }
    frontier.processCrawled(pages, links, epochNo, errors = errs,
      domainData = domainData, aliasSeen = aliasSeen,
      redirectPairs = redirectPairs)
    contentParents.destroy()
    if (compactEveryEpochs > 0 && epochNo % compactEveryEpochs == 0) {
      frontier.compactQueue()
      frontier.compactStates()
      frontier.compactMetadata()
      frontier.compactDomainMeta()
    }
    true
  }

  /** Run until the frontier drains (or maxEpochs). Returns crawl order. */
  def run(maxEpochs: Int = 10000): List[String] = {
    var e = frontier.epoch
    var continue = true
    while (continue && epochsRun < maxEpochs) {
      continue = crawlOnce(e + 1)
      if (continue) { e += 1; epochsRun += 1 }
    }
    sequence.toList.flatten
  }

  /** Run exactly n epochs, advancing the clock even when a batch is
    * empty (revisit mode: future crawl_at rows become visible later). */
  def runEpochs(n: Int): List[String] = {
    var e = frontier.epoch
    (0 until n).foreach { _ =>
      crawlOnce(e + 1)
      e += 1
      epochsRun += 1
    }
    sequence.toList.flatten
  }
}

object SparkCrawler {
  /** `rows` of `schema` sorted by Spark's own ordering on the `keys`
    * columns, each ascending (nulls first) when its flag is set, else
    * descending (nulls last) — what `orderBy(col.asc / col.desc)` gives. */
  private[spark] def sortRows(rows: Seq[Row], schema: StructType,
      keys: Seq[(String, Boolean)]): Seq[Row] = {
    val ordering = new InterpretedOrdering(keys.map { case (c, a) =>
      val i = schema.fieldIndex(c)
      val f = schema(i)
      SortOrder(BoundReference(i, f.dataType, f.nullable), if (a) Ascending else Descending)
    })
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    rows.map(r => (toInternal(r).asInstanceOf[InternalRow], r))
      .sortBy(_._1)(ordering).map(_._2)
  }
}
