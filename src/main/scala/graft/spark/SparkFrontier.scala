package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String
import graft.spark.FrontierExprs._
import scala.jdk.CollectionConverters._
import org.roaringbitmap.RoaringBitmap

/** Scoring strategy as Catalyst column expressions — the Spark-native form
  * of the reference's CrawlingStrategy score functions
  * (tests/backends.py:51-73, frontera/strategy/depth.py:19-42). */
sealed trait ScoreStrategy extends Serializable {
  def seedScore: Column
  def linkScore(parentDepth: Column): Column
}
object ScoreStrategy {
  /** Basic: everything at 1.0 (strategy/basic.py). */
  case object Basic extends ScoreStrategy {
    def seedScore: Column = lit(1.0)
    def linkScore(d: Column): Column = lit(1.0)
  }
  /** test-DFS: 1/(depth+1) — min-queue pops deepest first. */
  case object DFS extends ScoreStrategy {
    def seedScore: Column = lit(1.0)
    def linkScore(d: Column): Column = lit(1.0) / (d.cast(DoubleType) + 2.0)
  }
  /** test-BFS: depth/10 — min-queue pops shallowest first. */
  case object BFS extends ScoreStrategy {
    def seedScore: Column = lit(0.0)
    def linkScore(d: Column): Column = (d.cast(DoubleType) + 1.0) / 10.0
  }
  /** shipped BFS (strategy/depth.py:35-37): link score
    * `1 − depth/(depth+1)` = 1/(depth+1); seeds at the schedule default
    * 1.0 (strategy/__init__.py:114-122). Note: under the min-queue this
    * pops DEEPEST first — the semantics are the reference's, not a typo. */
  case object ShippedBFS extends ScoreStrategy {
    def seedScore: Column = lit(1.0)
    def linkScore(d: Column): Column = lit(1.0) / (d.cast(DoubleType) + 2.0)
  }
  /** shipped DFS (strategy/depth.py:40-42): link score depth/(depth+1). */
  case object ShippedDFS extends ScoreStrategy {
    def seedScore: Column = lit(1.0)
    def linkScore(d: Column): Column =
      (d.cast(DoubleType) + 1.0) / (d.cast(DoubleType) + 2.0)
  }
}

/** Discovery-lite strategy config (reference strategy/discovery/__init__.py —
  * the only production-grade shipped strategy): same-domain link filter
  * (:516-523), home/other link scoring (0.8/0.5, :374-401),
  * host-hash score justification (:47-50), and a per-domain max_pages
  * budget (:414-454, DISCOVERY_MAX_PAGES=100) backed by the persistent
  * `domain_metadata` table (core/components.py:137-181). */
final case class DiscoveryConfig(
    /** per-domain queued-pages budget across the whole crawl (0 = off) */
    maxPagesPerDomain: Int = 100,
    /** drop links leaving the parent's 2nd-level domain */
    sameDomainOnly: Boolean = true,
    /** spread per-domain scores into host-hash deciles */
    justifyScores: Boolean = true,
    /** fetch-error strings matching this regex mark the domain
      * `fatal_error` — no further scheduling into it (reference
      * request_error, discovery/__init__.py:267-276: DNSLookupError is
      * the shipped fatal class) */
    fatalErrorPattern: String = "DNSLookupError",
    /** cap on sub-sitemap probes scheduled per parent response
      * (MAX_SITEMAPS=100, discovery/__init__.py:21,359-362 — a sitemap
      * index can enumerate unbounded sub-sitemaps; the reference
      * random-samples, we keep the first N in extraction order for
      * determinism). 0 = uncapped. */
    maxSitemapsPerParent: Int = 100,
    /** seeded random-order scheduling — the reference's consume_randomly
      * (discovery/__init__.py:65-75, used by _schedule_requests:431-455)
      * and the MAX_SITEMAPS random.sample (:359-362). When set, links are
      * ordered by a deterministic uniform permutation (md5(seed|url)
      * rank) instead of extraction order, so budget/sitemap caps keep a
      * uniform random SAMPLE of each domain's candidates — the semantics
      * that matter at scale — while every run with the same seed is
      * bit-reproducible (what makes the conformance oracles possible;
      * the reference's nondeterministic `random` has no oracle at all).
      * Score-class precedence (probes > home > other) is
      * unchanged: the permutation only replaces the within-class
      * tiebreak, exactly like the reference randomizes within each
      * _schedule_requests call but not across score classes. None =
      * deterministic first-N extraction order. */
    randomSeed: Option[Long] = None)

/** One file of a dequeue scan: its bucket, its selected rows, and the
  * rows to delete from it (selected or blacklisted). */
private final case class ScannedFile(bucket: Int, selected: Long, delete: BucketStore.FileDelete)

/** Spark-native crawl frontier over bucketed snapshot tables.
  *
  * One epoch = one pass of the reference's distributed loop (SURVEY §3):
  * dequeue (batch generator, per-partition top-k with politeness caps) →
  * fetch → page_crawled + links_extracted (strategy worker batch) →
  * states merge + queue append (DB worker). The strategy-worker /
  * DB-worker / spider process split of the reference collapses into
  * stage boundaries of one Spark job; the message-bus topics are the
  * shuffle edges.
  *
  * Scale design (north rule):
  *  - queue bucketed by `partition_id = python_mod(signed_crc32(host), P)`
  *    — all of a host's URLs live in one bucket, politeness state is
  *    co-located, dequeue windows never shuffle across hosts
  *  - states bucketed by fingerprint hash — the URL-seen anti-join
  *    touches only buckets with candidate links; exact-set semantics
  *    (the reference's dedup is exact; a Bloom prefilter would sit in
  *    front of this join, never replace it)
  *  - per-host token-bucket politeness at dequeue (the OverusedBuffer
  *    semantics at epoch granularity: withheld rows stay queued)
  *  - every epoch commits atomically (manifest flip) ⇒ crash-resume
  */
final class SparkFrontier(
    val spark: SparkSession,
    val root: String,
    val partitions: Int = 8,
    val stateBuckets: Int = 8,
    val strategy: ScoreStrategy = ScoreStrategy.BFS,
    /** politeness: max requests per host per epoch (0 = unlimited) */
    val maxPerHost: Int = 0,
    /** politeness slot key (reference get_slot_key key_type,
      * core/__init__.py:10-25, feeding OverusedBuffer and the queue's
      * host-cap collection): None (default) budgets per hostname; a
      * resolver selects ip mode, budgeting per RESOLVED address so
      * co-hosted hostnames share one `maxPerHost` budget. Injected
      * because network lookups don't belong in a deterministic operator:
      * production wires a cached `InetAddress.getByName(_).getHostAddress`
      * (`graft.core.UrlUtil.fakeResolver` is the offline stub). A host the
      * resolver fails on keeps its hostname slot, like the reference's
      * fallthrough. Must be serializable (it ships to executors inside a
      * UDF). */
    val ipResolver: Option[String => String] = None,
    /** conformance mode: single global (score, created) order like the
      * single-partition reference; scale mode: per-partition top-k */
    val globalOrder: Boolean = false,
    /** dequeue ordering (reference sqlalchemy components.py:162-168):
      * ScoreCreated = score ASC, created ASC (default); Fifo = created
      * ASC; Lifo = created DESC. Fifo/Lifo scan all bands (the file
      * banding is a score order — pruning only applies to score mode). */
    val ordering: graft.local.QueueOrdering = graft.local.QueueOrdering.ScoreCreated,
    /** revisit scheduling (S5/2.10): crawled pages re-enter the queue
      * `interval` epochs later (crawl_at visibility at dequeue) */
    val revisitIntervalEpochs: Option[Long] = None,
    /** discovery-lite strategy (same-domain filter, class scoring with
      * host-hash justification, per-domain max_pages budget). When set,
      * link scores come from the discovery classifier, not `strategy`,
      * and `links` must carry a `parent_url` column. */
    val discovery: Option[DiscoveryConfig] = None,
    /** middleware chain (reference Middleware/components.py:224-236 —
      * the pipeline applies each in declared order to the extracted-link
      * frame after the identity columns, before the robots/states
      * filters; a transform that filters rows out drops them from the
      * chain, like a middleware returning None) */
    val linkTransforms: Seq[DataFrame => DataFrame] = Nil,
    /** first-class DOMAINS_BLACKLIST (reference
      * settings/default_settings.py:42, checked at batch generation —
      * worker/components/batch_generator.py:97-109): dequeued rows whose
      * lowercased hostname is in this set are DROPPED from the batch
      * (and from the queue whenever a dequeue scans them), exactly the
      * reference's "drop black-listed hostname" position in the
      * pipeline */
    val domainsBlacklist: Set[String] = Set.empty,
    /** A7 offset-lag flow control (reference incoming_consumer.py:99-114):
      * track per-partition in-flight rows (dequeued − processed, the
      * producer−consumer offset lag); a partition whose lag reaches the
      * batch budget is "busy" and skipped by the next dequeue until its
      * results are processed. Off by default (the synchronous epoch loop
      * is self-gating); enable for pipelined/async fetching. */
    val flowControl: Boolean = false,
    /** DELAY_ON_EMPTY analog (reference scrapy scheduler,
      * contrib/scrapy/schedulers/frontier.py:141-152: after an empty
      * get_next_requests the scheduler won't call the frontier again
      * until `_delay_next_call`; reset to 0 on any non-empty batch).
      * The engine clock is the epoch, so the backoff is epoch-valued:
      * after an empty dequeue at epoch e, `nextBatch` returns an empty
      * batch WITHOUT scanning (no manifest walk, no Spark job) until
      * nowEpoch >= e + delayOnEmptyEpochs — a drained-but-alive frontier
      * with future `crawl_at` rows is polled at the backoff cadence
      * instead of re-planning every call. 0 = off (conformance loops
      * stop on the first empty batch and never re-poll). */
    val delayOnEmptyEpochs: Int = 0) extends Serializable {

  import spark.implicits._

  /** Label the Spark jobs of a phase (guide: setJobDescription is
    * thread-local, so concurrent side commits keep distinct labels). */
  private[spark] def labeled[T](desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft: $desc")
    try body finally sc.setJobDescription(prev)
  }

  val queueSchema: StructType = StructType(Seq(
    StructField("fingerprint", StringType), StructField("url", StringType),
    StructField("host", StringType), StructField("partition_id", IntegerType),
    StructField("score", DoubleType), StructField("created_at", LongType),
    StructField("depth", IntegerType), StructField("crawl_at", LongType)))
  val statesSchema: StructType = StructType(Seq(
    StructField("fingerprint", StringType), StructField("state", IntegerType),
    StructField("sbucket", IntegerType)))
  /** write-mostly per-document record (S7; reference sqlalchemy
    * models.py:9-30 metadata table — column parity: `created_at` is the
    * request's schedule stamp (our epoch-sequenced counter stands in for
    * the wall-clock DateTime — the engine clock is the epoch),
    * `method` the HTTP verb (reference default GET), and `meta` the
    * binary escape hatch standing in for the reference's pickled
    * meta/headers/cookies columns. All three are additive: stores
    * written before they existed read them as typed nulls. */
  val metadataSchema: StructType = StructType(Seq(
    StructField("fingerprint", StringType), StructField("url", StringType),
    StructField("depth", IntegerType), StructField("score", DoubleType),
    StructField("fetched_epoch", LongType), StructField("status", StringType),
    StructField("partition_id", IntegerType),
    StructField("created_at", LongType), StructField("method", StringType),
    StructField("meta", MapType(BinaryType, BinaryType))))

  /** Queue files are secondarily partitioned by 0.01-score band — the
    * reference HBase rowkey interval (hbase/__init__.py:129-196) as a
    * file layout: the dequeue reads only the best bands until the budget
    * is met and deletes rows from those files only, so each epoch's queue
    * I/O is O(batch), not O(queue). */
  val queue = new BucketStore(s"$root/queue", "partition_id", partitions,
    bandCol = Some("band"), statCol = Some("crawl_at"))
  val states = new BucketStore(s"$root/states", "sbucket", stateBuckets)
  val metadata = new BucketStore(s"$root/metadata", "partition_id", partitions)
  /** per-domain KV (J2/A4; reference core/components.py:137-181,
    * hbase/domaincache.py): queued-pages budget counters, the domain's
    * robots.txt body (discovery stores the parser per 2nd-level domain,
    * discovery/__init__.py:53-60), and the capped subdomain set
    * (:252-254, MAX_SUBDOMAINS) — bucketed by the domain partitioner so
    * merges are co-located */
  val domainMetaSchema: StructType = StructType(Seq(
    StructField("domain", StringType), StructField("queued_pages", LongType),
    StructField("robots_body", StringType),
    StructField("subdomains", ArrayType(StringType)),
    /** ban flags (discovery/__init__.py:39-44): `banned` set by the
      * operator/strategy, `fatal_error` by the error path (DNS-class
      * failures, :276) — either makes is_domain_to_ignore true and stops
      * all scheduling into the domain */
    StructField("banned", BooleanType),
    StructField("fatal_error", StringType),
    /** per-domain redirect netloc sets (capped
      * MAX_DOMAINS_REDIRECTS_STORE=100, discovery/__init__.py:478-507),
      * fed by the J3 canonical-solver path for probe/home requests */
    StructField("redirect_from", ArrayType(StringType)),
    StructField("redirect_to", ArrayType(StringType)),
    StructField("dbucket", IntegerType)))
  val domainMeta = new BucketStore(s"$root/domain_metadata", "dbucket", partitions)
  val bloomSeen = new BloomSeen(s"$root/states")
  queue.emptySchema = Some(queueSchema)
  states.emptySchema = Some(statesSchema)
  metadata.emptySchema = Some(metadataSchema)
  domainMeta.emptySchema = Some(domainMetaSchema)

  /** Epoch clock: the queue manifest's epoch, or the last fully-processed
    * epoch when newer (an epoch that scheduled nothing skips its empty
    * queue commit, so the marker can run ahead of the queue manifest). */
  def epoch: Long = {
    awaitQueueCommit()
    math.max(math.max(queue.readManifest().epoch, lastProcessedEpoch), 0L)
  }

  private def sbucketCol(fp: Column): Column =
    pmod(xxhash64(fp), lit(stateBuckets)).cast(IntegerType)

  /** Score band at 1/ScoreBands resolution, clamped to
    * [0, ScoreBands-1] (score 1.0 joins the last band, like the
    * reference's right-inclusive last interval). The queue pops lowest
    * score first, so band 0 is the best band. */
  private def bandExpr: Column =
    least(greatest(floor($"score" * SparkFrontier.ScoreBands).cast(IntegerType), lit(0)),
      lit(SparkFrontier.ScoreBands - 1))
  private def withBand(df: DataFrame): DataFrame =
    df.withColumn("band", bandExpr)

  /** Within-batch order under `ordering`, as (batch column, ascending),
    * before the url tiebreak: the order a crawler consumes a batch in,
    * which the links pipeline reproduces to attribute links to pages. */
  private[spark] def batchOrder: Seq[(String, Boolean)] = ordering match {
    case graft.local.QueueOrdering.Fifo => Seq("created_at" -> true)
    case graft.local.QueueOrdering.Lifo => Seq("created_at" -> false)
    case graft.local.QueueOrdering.ScoreCreatedDesc => Seq("score" -> false, "created_at" -> true)
    case _ => Seq("score" -> true, "created_at" -> true)
  }
  /** the link-frame column carrying the parent page's batch column */
  private val parentCol = Map("score" -> "parent_score",
    "created_at" -> "parent_created", "url" -> "parent_url")

  /** Decorate a url column with the frontier identity columns. */
  private def identity(df: DataFrame, urlCol: String): DataFrame =
    df.withColumn("fingerprint", url_fingerprint(col(urlCol)))
      .withColumn("host", url_host(col(urlCol)))
      .withColumn("partition_id", host_partition(col("host"), partitions))

  /** Seed injection (reference add_seeds path, SURVEY §3.3): no states
    * check — seeds schedule unconditionally, like strategy.read_seeds. */
  def addSeeds(seedUrls: Seq[String]): Unit = {
    val df = identity(
      seedUrls.zipWithIndex.toDF("url", "seq"), "url")
      .withColumn("score", strategy.seedScore)
      .withColumn("created_at", $"seq".cast(LongType))
      .withColumn("depth", lit(0))
      .withColumn("crawl_at", lit(0L))
      .select(queueSchema.fieldNames.map(col): _*)
    queue.append(withBand(df), epoch, Map("seeds" -> seedUrls.length.toLong))
  }

  /** Discovery seed bootstrap (reference process_seeds,
    * discovery/__init__.py:191-213): schedule each seed's robots.txt
    * PROBE at score 0.9 instead of the seed itself — the home page is
    * scheduled at 0.8 once the robots response is processed (and the
    * robots body lands in domain_metadata for the link deny filter).
    * Scores are host-hash-justified like every discovery schedule. */
  def addSeedsDiscovery(seedUrls: Seq[String]): Unit = {
    val probes = seedUrls.map { u =>
      val p = graft.core.UrlUtil.urlparse(u)
      val scheme = if (p.scheme.isEmpty) "http" else p.scheme
      s"$scheme://${p.netloc}/robots.txt"
    }.distinct
    val justify = discovery.forall(_.justifyScores)
    val score: Column =
      if (justify) FrontierExprs.justify_score($"host", lit(0.9)) else lit(0.9)
    val df = identity(probes.zipWithIndex.toDF("url", "seq"), "url")
      .withColumn("score", score)
      .withColumn("created_at", $"seq".cast(LongType))
      .withColumn("depth", lit(0))
      .withColumn("crawl_at", lit(0L))
      .select(queueSchema.fieldNames.map(col): _*)
    queue.append(withBand(df), epoch, Map("robots_probes" -> probes.length.toLong))
  }

  /** Seed injection from a DataFrame with a `url` column (streaming /
    * bulk path). Unlike the conformance-mode `addSeeds`, this follows
    * the SHIPPED strategies' read_seeds (strategy/depth.py:8-16,
    * discovery:191-213): refresh states, schedule only NOT_CRAWLED
    * seeds, and mark them QUEUED — which also makes the streaming path
    * content-level exactly-once (a replayed or re-offered seed file
    * dedupes against the states table, while genuinely new URLs always
    * schedule). The identity columns are computed in Spark tasks, also
    * for a frame of rows the driver holds, as in `bulkSchedule`: a
    * projection over local rows would be evaluated on the driver. */
  def addSeedsDF(urls: DataFrame, props: Map[String, String] = Map.empty): Unit = {
    val df = identity(SparkFrontier.overTasks(urls.select(col("url"))), "url")
      .withColumn("score", strategy.seedScore)
      .withColumn("created_at", pmod(xxhash64(col("url")), lit(1L << 40)))
      .withColumn("depth", lit(0))
      .withColumn("crawl_at", lit(0L))
    val fresh = df
      .join(states.read(spark).select($"fingerprint"), Seq("fingerprint"), "left_anti")
      .select((queueSchema.fieldNames.map(col) :+ sbucketCol($"fingerprint").as("sbucket")): _*)
      .cache()
    queue.append(withBand(fresh.select(queueSchema.fieldNames.map(col): _*)),
      epoch, props = props)
    val updates = fresh
      .select($"fingerprint", lit(graft.local.States.Queued).as("state"), $"sbucket")
      .select(statesSchema.fieldNames.map(col): _*)
    val touched = SparkFrontier.countRows(updates.select($"sbucket")).keySet.map(_.getInt(0))
    // keep the states manifest's CURRENT epoch: seeds must not advance
    // the replay guard of an in-flight crawl epoch (a crash between that
    // epoch's queue append and its states merge must still heal)
    val sm = states.readManifest()
    mergeStateUpdates(updates, touched, sm.epoch, bloomPays(seenSetBytes(sm)), Map.empty)
    fresh.unpersist()
  }

  /** A bucket's Bloom sidecar is FRESH iff the bucket holds no committed
    * data at all (nothing to miss — an absent bloom correctly reports
    * every key definitely-unseen), or its sidecar stamp is at least as
    * new as the bucket's last states commit. A bucket with data but no
    * `bucketv` entry (a manifest written by a pre-versioning build) is
    * STALE — never vacuously fresh — so legacy stores route through the
    * exact anti-join and get their sidecars rebuilt on first merge
    * instead of silently dropping seen URLs. */
  private def bloomFresh(m: BucketStore#Manifest, b: Int): Boolean =
    m.bucketPaths.getOrElse(b, Nil).isEmpty ||
      m.bucketVersions.get(b).exists(v => bloomSeen.version(b).exists(_ >= v))

  /** The Bloom sidecars are probed, maintained and broadcast only when
    * the states table is too large to broadcast (`seenSetBytes`, the
    * size of its fingerprints, above the threshold): at or below
    * `spark.sql.autoBroadcastJoinThreshold` the exact anti-join is
    * already one in-memory hash probe, and the sidecars only add cost
    * each epoch (load, broadcast, a cached probe frame, the delta-keys
    * job, persisted sidecars). Crossing the size is safe: a bucket with
    * data but no fresh sidecar goes through the exact join, and its
    * sidecar is rebuilt at its next merge. */
  private def bloomPays(seenSetBytes: Long): Boolean =
    seenSetBytes > spark.sessionState.conf.autoBroadcastJoinThreshold

  /** Spark's size estimate of a read of the states' fingerprints at `m`
    * (the exact anti-join's build side) — the number Spark compares with
    * the same threshold when it plans that join, from the manifest's file
    * lengths alone; 0 while the table is empty. */
  private[spark] def seenSetBytes(m: states.Manifest): Long =
    states.sizeInBytes(m, Seq("fingerprint"))

  /** The states' fingerprints at `m` as the lookup of the exact seen check
    * at or below the broadcast size: the small side of the membership
    * test, a hash table held on the driver and probed, not rebuilt from a
    * scan each epoch. Each states leaf is read once, on the driver with
    * no Spark job (`BucketStore.readLocal`), and kept while a manifest
    * lists it with the same deletes (a leaf dir never changes): an epoch
    * reads only the leaves committed since the last call. A leaf that
    * leaves the manifest (a compaction) rebuilds the table from the
    * leaves kept. */
  private[spark] def seenKeys(m: states.Manifest): Map[UTF8String, Any] = seenLock.synchronized {
    val listed = m.bucketPaths.valuesIterator.flatten.map(p => p -> m.pathDeletes.get(p)).toMap
    val kept = seenLeaves.filter { case (p, (d, _)) => listed.get(p).contains(d) }
    val added = (listed -- kept.keySet).toSeq.sortBy(_._1).map { case (p, d) =>
      p -> (d, states.readLocal(spark, m, Seq(p), Seq("fingerprint")).collect {
        case r if !r.isNullAt(0) => r.getUTF8String(0) })
    }
    val base = if (kept.size == seenLeaves.size) seenTable
      else kept.valuesIterator.flatMap(_._2).map(f => f -> f).toMap
    seenTable = base ++ added.iterator.flatMap(_._2._2).map(f => f -> f)
    seenLeaves = kept ++ added
    seenTable
  }
  /** drop the driver-held seen set: the Bloom side has taken over */
  private def dropSeenKeys(): Unit = seenLock.synchronized {
    seenLeaves = Map.empty
    seenTable = Map.empty
  }
  @transient private lazy val seenLock = new Object
  /** per states leaf held: its deletes and its fingerprints */
  @transient private var seenLeaves =
    Map.empty[String, (Option[Map[String, BucketStore.Deletes]], Vector[UTF8String])]
  @transient private var seenTable = Map.empty[UTF8String, Any]

  /** Merge state rows (fingerprint, state, sbucket) into the states
    * store + refresh the touched buckets' Bloom sidecars incrementally
    * when `bloom` (the caller's `bloomPays`) holds (shared by the epoch
    * pipeline and the seed path).
    *
    * LSM write path (the scale-critical property — reference anchor: the
    * HBase states store is a KV point-write log, hbase/__init__.py:
    * 302-378, never a table rewrite): each epoch APPENDS one delta file
    * per touched bucket — O(update) bytes and files — and reads resolve
    * "last state wins" by commit version (`readStatesLatest`); the
    * URL-seen anti-joins need membership only, so they read the raw
    * delta log without resolution. `compactStates` folds deltas into
    * one base file per bucket between epochs.
    *
    * The whole section (manifest snapshot → append → sidecar update)
    * holds the states commit lock: a concurrent merger (seed stream next
    * to the epoch loop) can neither interleave its commit between our
    * snapshot and append, nor race the sidecar load-merge-persist. */
  private def mergeStateUpdates(updates: DataFrame, touched: Set[Int],
      epochNo: Long, bloom: Boolean, counters: Map[String, Long],
      props: Map[String, String] = Map.empty,
      /** runs once the delta is written, before the manifest flips: the
        * epoch loop joins its other commits here (one that failed keeps
        * the flip from happening) and returns the delta keys one of them
        * prebuilt from `updates` */
      beforeFlip: () => Option[Map[Int, Array[Long]]] = () => None)
      : Unit = {
    if (touched.isEmpty) return
    states.withTableLock {
      // sidecar base-freshness is judged against the PRE-append manifest:
      // a sidecar as new as the bucket's last commit already holds every
      // previously-committed key, so merging just this batch's keys keeps
      // it complete
      val pre = states.readManifest()
      var prebuiltDeltas: Option[Map[Int, Array[Long]]] = None
      states.append(updates, epochNo, counters, props,
        beforeFlip = () => prebuiltDeltas = beforeFlip())
      if (bloom) {
        val newV = states.currentVersion
        // incremental merge of the update keys into fresh sidecars —
        // cost O(update); only buckets with an absent/stale sidecar pay
        // a full rebuild. A prebuilt delta map may cover MORE buckets
        // than freshB (built for all touched) — only freshB are merged
        val freshB = touched.filter(b => bloomFresh(pre, b))
        val staleB = touched -- freshB
        bloomSeen.mergeUpdates(
          updates.filter($"sbucket".isInCollection(freshB)), freshB, newV,
          prebuilt = prebuiltDeltas)
        if (staleB.nonEmpty)
          bloomSeen.rebuild(states.readBuckets(spark, Some(staleB)), staleB, newV)
      }
    }
  }

  /** Merge-on-read states view: last state wins per fingerprint, ordered
    * by commit version, tie-broken by the state's lifecycle rank. This is
    * the resolved view the LSM write path defers; the URL-seen anti-joins
    * skip it (membership is monotone — any row means seen). */
  def readStatesLatest(only: Option[Set[Int]] = None): DataFrame =
    lastStates(states.readVersioned(spark, only))

  /** Last state per fingerprint of a versioned states read. */
  private def lastStates(versioned: DataFrame): DataFrame = {
    val w = Window.partitionBy($"fingerprint")
      .orderBy(col(BucketStore.CommitCol).desc, $"state".desc)
    versioned.withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1)
      .select(statesSchema.fieldNames.map(col): _*)
  }

  /** Fold states delta files into one base per overgrown bucket (the
    * LSM compaction; run between epochs like compactQueue). Resolves
    * last-wins so the fold is also a dedup; sidecars of folded buckets
    * are re-stamped (membership unchanged) when they were fresh. */
  def compactStates(maxFilesPerBucket: Int = 8): Int = states.withTableLock {
    val m = states.readManifest()
    val folded = states.compact(spark, maxFilesPerBucket, lastStates)
    val freshBefore = folded.filter(b => bloomFresh(m, b))
    if (freshBefore.nonEmpty && bloomPays(seenSetBytes(m)))
      // the fold changed no membership — carry the stamp forward so the
      // rewrite doesn't demote fresh sidecars to stale
      bloomSeen.mergeUpdates(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          statesSchema), freshBefore, states.currentVersion)
    folded.size
  }

  /** Canonical domain-metadata contribution shape: any subset of the
    * columns in, full contrib row (typed nulls / neutral elements) out. */
  private val contribCols = Seq("domain", "qp", "robots_body", "subdomains",
    "banned", "fatal_error", "redirect_from", "redirect_to")
  private def asContrib(df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    df.select(contribCols.map {
      case c if have(c) => col(c)
      case "qp" => lit(0L).as("qp")
      case "banned" => lit(null).cast(BooleanType).as("banned")
      case c @ ("subdomains" | "redirect_from" | "redirect_to") =>
        lit(null).cast(ArrayType(StringType)).as(c)
      case c => lit(null).cast(StringType).as(c)
    }: _*)
  }

  /** The commutative per-domain fold shared by the LSM write
    * (pre-aggregating one epoch's contribs), the merge-on-read resolve,
    * and compaction: counters sum, robots bodies keep the max `ordCol`
    * (commit version at read time; within one epoch ≤ 1 non-null body
    * per domain), set columns take the capped union (first-10/100 of
    * the sorted distinct union — a min-k selection, so folding folds:
    * cap(A ∪ B) == cap(cap(A) ∪ cap(B))), ban/fatal flags are sticky
    * maxes (discovery never clears them). */
  private def foldDomainRows(rows: DataFrame, qpCol: String,
      ordCol: Column): DataFrame =
    rows.groupBy($"domain").agg(
      sum(col(qpCol)).as("queued_pages"),
      max(when($"robots_body".isNotNull, struct(ordCol.as("__o"), $"robots_body")))
        .getField("robots_body").as("robots_body"),
      slice(array_sort(array_distinct(flatten(collect_list($"subdomains")))),
        1, 10).as("subdomains"),
      coalesce(max($"banned"), lit(false)).as("banned"),
      max($"fatal_error").as("fatal_error"),
      slice(array_sort(array_distinct(flatten(collect_list($"redirect_from")))),
        1, 100).as("redirect_from"),
      slice(array_sort(array_distinct(flatten(collect_list($"redirect_to")))),
        1, 100).as("redirect_to"))
      .withColumn("dbucket", host_partition($"domain", partitions))
      .select(domainMetaSchema.fieldNames.map(col): _*)

  /** LSM write path for domain_metadata (the round-3 states treatment;
    * reference anchor: the domain cache is a write-batched KV,
    * hbase/domaincache.py:65-312 — never a table rewrite): one
    * pre-aggregated delta row per touched domain is APPENDED — O(epoch
    * contribs) rows and files, no read of the existing buckets (the
    * previous MERGE INTO read and REWROTE every touched bucket, an
    * O(table)-per-epoch rewrite once domains hash across all buckets).
    * Readers resolve with the same commutative fold (`readDomainMeta`);
    * `compactDomainMeta` folds the delta log back down between epochs.
    * Append-only ⇒ no table lock needed beyond the commit lock itself:
    * concurrent writers (banDomains next to an epoch) serialize their
    * appends and the fold is order-independent. */
  private def mergeDomainContribs(contribs: DataFrame, epochNo: Long): Unit =
    domainMeta.append(foldDomainRows(contribs, "qp", lit(0L)), epochNo)

  /** Merge-on-read domain_metadata view: resolve the delta log with the
    * commutative fold; robots bodies keep the latest non-null by commit
    * version. */
  def readDomainMeta(only: Option[Set[Int]] = None): DataFrame =
    foldDomainVersions(domainMeta.readVersioned(spark, only))

  private def foldDomainVersions(versioned: DataFrame): DataFrame =
    foldDomainRows(versioned, "queued_pages", col(BucketStore.CommitCol))

  /** (paths read, paths in domain_metadata) of the last per-epoch robots
    * read — the bucket-pruning evidence for the plan-quality specs. */
  @volatile var lastRobotsScan: (Int, Int) = (0, 0)

  /** Latest robots body per domain (the F3 deny filter's read), pruned
    * to `only` domain buckets when given — at 10^8 domains the robots
    * bodies are the biggest per-epoch read, and an epoch's links touch
    * a few buckets. */
  private def readDomainRobots(only: Option[Set[Int]]): DataFrame = {
    val m = domainMeta.readManifest()
    val total = m.bucketPaths.valuesIterator.map(_.size).sum
    val scanned = only match {
      case Some(s) =>
        m.bucketPaths.iterator.collect {
          case (b, ps) if s.contains(b) => ps.size }.sum
      case None => total
    }
    lastRobotsScan = (scanned, total)
    val w = Window.partitionBy($"domain").orderBy(col(BucketStore.CommitCol).desc)
    domainMeta.readVersioned(spark, only).filter($"robots_body".isNotNull)
      .withColumn("__rn", row_number().over(w)).filter($"__rn" === 1)
      .select($"domain", $"robots_body")
  }

  /** Fold domain-metadata delta files into one base per overgrown
    * bucket (LSM compaction, like compactStates; run between epochs).
    * The fold IS the resolve, so folded rows carry totals — later
    * deltas keep summing on top. */
  def compactDomainMeta(maxFilesPerBucket: Int = 8): Int =
    domainMeta.compact(spark, maxFilesPerBucket, foldDomainVersions).size

  /** Operator/strategy ban switch (the reference's `'banned' in domain`
    * check, discovery/__init__.py:43-44): marks 2nd-level domains banned
    * in domain_metadata; scheduling skips them from the next epoch on. */
  def banDomains(domains: Seq[String]): Unit = {
    if (domains.isEmpty) return
    val dd = asContrib(domains.toDF("domain").withColumn("banned", lit(true)))
    mergeDomainContribs(dd, domainMeta.readManifest().epoch)
  }

  /** Score-update-only schedule — the reference's
    * `schedule(request, score, dont_queue=True)` channel
    * (strategy/__init__.py:114-122 → core/manager.py:769-798, the
    * update_score path): re-score ALREADY-QUEUED requests without
    * re-queueing. `updates` carries (url, score); matching queue rows
    * get the new score — moving across score bands, so dequeue order
    * follows — and only the bands holding a matched row are rewritten.
    * A URL appearing more than once in `updates` (a batched score-event
    * stream) applies its LAST occurrence only, matching the reference's
    * sequential per-request update order. URLs not currently queued are
    * ignored (no new row; the reference likewise only updates existing
    * state). Reads are bucket-pruned to the updates' host partitions
    * — but within those buckets every band is read, because a queued
    * row's CURRENT band (hence file) is unknown until its fingerprint
    * matches. That read is O(touched host-partitions), accepted for
    * this rare admin/strategy channel; if profiling ever shows it hot,
    * a fingerprint→band hint in the manifest would prune it. The
    * rewrite side is band-pruned regardless. Returns the number of
    * rows re-scored. */
  def updateScores(updates: DataFrame): Long = {
    // join the pending dequeue commit BEFORE taking the table lock:
    // the commit thread needs that lock, so awaiting inside it deadlocks
    awaitQueueCommit()
    updateScoresLocked(updates)
  }

  private def updateScoresLocked(updates: DataFrame): Long = queue.withTableLock {
    val up0 = identity(updates.select(col("url"), col("score")), "url")
      .select($"fingerprint".as("__fp"), $"partition_id".as("__pid"),
        $"score".as("__newscore"))
    // last-wins per fingerprint (input order; a local/parallelized
    // relation enumerates monotonically_increasing_id in row order)
    val lastW = Window.partitionBy($"__fp")
      .orderBy(monotonically_increasing_id().desc)
    val up = up0.withColumn("__rn", row_number().over(lastW))
      .filter($"__rn" === 1).drop("__rn")
    // the dequeue's one-time legacy migration must run here too: on a
    // legacy band-less store bandOf = -1 never matches the computed band
    // (rewritten rows would duplicate their never-removed source file)
    val m = ensureBandLayout()
    val buckets = up.select($"__pid").distinct().as[Int].collect().toSet
      .intersect(m.bucketPaths.keySet)
    if (buckets.isEmpty) 0L
    else {
      val rows = queue.readBuckets(spark, Some(buckets))
        .withColumn("__band", bandExpr).cache()
      // one job: touched (bucket, band) groups + per-group matched counts
      val matched = rows
        .join(up.select($"__fp"), rows("fingerprint") === $"__fp", "left_semi")
        .groupBy($"partition_id", $"__band").count()
        .as[(Int, Int, Long)].collect()
      val n = matched.map(_._3).sum
      if (matched.isEmpty) { rows.unpersist(); 0L }
      else {
        val touchedKeys = matched.map { case (b, band, _) => s"${b}_$band" }.toSet
        val removePaths = matched.flatMap { case (b, band, _) =>
          m.bucketPaths.getOrElse(b, Nil).filter(p => queue.bandOf(p) == band)
        }.toSet
        val groupKey = concat_ws("_", $"partition_id", $"__band")
        val rescored = rows.filter(groupKey.isInCollection(touchedKeys))
          .join(up, rows("fingerprint") === $"__fp", "left_outer")
          .withColumn("score", coalesce($"__newscore", $"score"))
          .select(queueSchema.fieldNames.map(col): _*)
        queue.replacePaths(withBand(rescored), m.epoch, removePaths,
          counters = Map("rescored" -> n))
        rows.unpersist()
        n
      }
    }
  }

  /** Bulk-schedule a frontier (bench/prefill path): df must carry
    * (url, score, depth); identity columns and partitioning are computed
    * here, created_at from a hash (arbitrary-but-deterministic order).
    * The identity (each url canonicalized and hashed, its host, bucket,
    * created_at and band) runs in the write's map-stage tasks, also for
    * a frame of rows the driver holds (`SparkFrontier.overTasks`): a
    * projection over local rows would be evaluated on the driver, one
    * row at a time, while Spark plans the write. */
  def bulkSchedule(df: DataFrame): Unit = {
    awaitQueueCommit()
    val rows = identity(SparkFrontier.overTasks(df), "url")
      .withColumn("created_at", pmod(xxhash64(col("url")), lit(1L << 40)))
      .withColumn("crawl_at", lit(0L))
      .select(queueSchema.fieldNames.map(col): _*)
    queue.append(withBand(rows), epoch)
  }

  /** One-time band-layout migration, shared by every queue
    * read-modify-write entry point (nextBatch, updateScores). Legacy
    * (pre-banded) queue paths have no band= level and can't be
    * band-pruned or band-rewritten — migrate them into the banded
    * layout once (a store written by an older build resumes losslessly).
    * Returns a manifest whose paths are all banded. */
  private def ensureBandLayout(): queue.Manifest = {
    var m = queue.readManifest()
    val legacyPaths = m.bucketPaths.valuesIterator.flatten.filter(queue.bandOf(_) < 0).toSet
    if (legacyPaths.nonEmpty) {
      queue.replacePaths(withBand(queue.readPaths(spark, legacyPaths.toSeq)),
        m.epoch, legacyPaths,
        counters = Map("migrated_legacy_paths" -> legacyPaths.size.toLong))
      m = queue.readManifest()
    }
    m
  }

  /** Dequeue scan statistics of the last nextBatch (for tests and
    * lineage): files read vs files in the queue and deepening tries.
    * Written once per call, before `nextBatch` returns. */
  final case class ScanStats(scannedPaths: Int, totalPaths: Int, tries: Int,
      /** true when the dequeue was short-circuited by the
        * delayOnEmptyEpochs backoff (no scan happened at all) */
      skippedOnEmpty: Boolean = false)
  @volatile var lastScan: ScanStats = ScanStats(0, 0, 0)
  /** first epoch at which dequeues resume after an empty batch
    * (delayOnEmptyEpochs backoff); MinValue = no backoff armed */
  @volatile private var emptyBackoffUntil: Long = Long.MinValue

  /** A store commit on its own short-lived daemon thread (the dequeue's,
    * `graft-queue-commit`, and an epoch's, `graft-epoch-commit`);
    * `failure` holds what it threw. */
  private final class CommitThread(name: String, body: () => Unit) extends Thread(name) {
    @volatile var failure: Throwable = null
    setDaemon(true)
    override def run(): Unit = try body() catch { case t: Throwable => failure = t }
  }
  /** In-flight background dequeue commit. */
  @transient @volatile private var pendingCommit: CommitThread = null
  /** The last dequeue's scan cache: its batch is derived from it, so it is
    * dropped only at the next dequeue, when that batch has been consumed. */
  @transient private var lastTagged: DataFrame = null
  /** Monitor pairing pendingCommit's handoff (start) with its join —
    * without it, two threads racing through entry points could both see
    * the field mid-transition and one would proceed against the
    * pre-commit manifest (double-serving the just-dequeued rows). */
  @transient private lazy val commitGate = new Object
  /** Join the in-flight dequeue commit. Every queue-store entry point of
    * this class calls it first, so store state is always consistent at
    * the API surface; callers that read `queue` directly after a
    * `nextBatch` call it themselves. A failed background commit
    * resurfaces here (to the FIRST joining thread; later threads see a
    * cleanly-absent commit). A concurrent joiner blocks until the first
    * one's join returns — atomic check-then-act, so no thread can slip
    * past a still-running commit. */
  def awaitQueueCommit(): Unit = commitGate.synchronized {
    val p = pendingCommit
    if (p != null) {
      try {
        p.join()
        if (p.failure != null) throw p.failure
      } finally pendingCommit = null
    }
  }

  /** Dequeue one batch: the reference get_next_requests hot path
    * (SURVEY §3.1). Returns the batch and removes it from the queue.
    *
    * Band-pruned scan: per bucket, read score bands best-first until the
    * read rows cover the budget (manifest row counts — no data read to
    * plan). Bands partition the score axis, so the top-k over a prefix
    * of whole bands equals the top-k over the full queue whenever the
    * prefix holds ≥ k visible rows; when it doesn't (crawl_at-invisible
    * rows, host caps), the scan DEEPENS — the reference's
    * min_requests/min_hosts retry loop (A3, hbase/__init__.py:219-266,
    * limit ×5.5 per try) — until exactness is restored or all bands are
    * read. Planning counts live rows: the manifest's row counts less its
    * deletes.
    *
    * `minHosts` > 0 additionally deepens (≤3 retries, reference
    * GET_RETRIES) while a bucket's batch has fewer distinct hosts.
    *
    * The batch is returned as soon as it is planned; its commit runs on a
    * background thread, overlapping the caller's fetch (how a cluster
    * hides commit latency behind fetch I/O): one small job collects the
    * positions of the taken rows (and of the blacklisted rows the scan
    * found), and the manifest records them as per-file deletes
    * (`BucketStore.deletePositions`) — no data file is written, whatever
    * the ordering, cap or blacklist. Crash semantics are those of one
    * atomic manifest flip: a crash before it replays the batch. */
  def nextBatch(maxNextRequests: Int, atEpoch: Long = -1L,
      minHosts: Int = 0): DataFrame = {
    awaitQueueCommit()
    if (lastTagged != null) { lastTagged.unpersist(); lastTagged = null }
    // crawl_at visibility (delayed revisit): invisible rows stay queued
    val nowEpoch = if (atEpoch >= 0) atEpoch else epoch
    // DELAY_ON_EMPTY backoff: a recent empty dequeue means the frontier
    // is drained-but-alive — skip the plan/scan entirely until the
    // backoff epoch passes (reference frontier.py:141-152)
    if (delayOnEmptyEpochs > 0 && nowEpoch < emptyBackoffUntil) {
      lastScan = ScanStats(0, 0, 0, skippedOnEmpty = true)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], queueSchema)
    }
    val m = ensureBandLayout()
    // A7: busy partitions (in-flight lag >= budget) produce no batch
    // until their results are processed — the reference's ready/busy
    // feed-partition gate
    def inflight(b: Int): Long =
      m.props.get(s"fc.p$b").map(_.toLong).getOrElse(0L)
    // a batch that is empty only because every bucket is flow-control
    // busy must NOT arm the DELAY_ON_EMPTY backoff below: the queue
    // isn't drained, and the backoff would keep short-circuiting for N
    // epochs after the in-flight lag clears. This is a deliberate,
    // tested DEVIATION from the reference (its scrapy scheduler arms
    // _delay_next_call on ANY empty poll, frontier.py:151, including
    // ones emptied by busy keys) — here the two mechanisms are kept
    // apart on purpose so a flow-control-starved frontier resumes the
    // instant its lag clears (ErrorAndReplaySpec pins both sides).
    val fcExcludedBuckets = flowControl &&
      m.bucketPaths.exists { case (b, _) => inflight(b) >= maxNextRequests }
    // per bucket: bands sorted best-first with their live rows (the
    // manifest's row counts less its deletes)
    val bandsByBucket: Map[Int, Vector[(Int, Vector[String], Long)]] =
      m.bucketPaths
        .filter { case (b, _) => !flowControl || inflight(b) < maxNextRequests }
        .map { case (b, ps) =>
          b -> ps.groupBy(queue.bandOf).toVector.sortBy(_._1)
            .map { case (band, paths) =>
              (band, paths.toVector,
                paths.map(p => m.liveRows(p).getOrElse(Long.MaxValue / 1024)).sum)
            }
        }
    // total over ACTIVE buckets (busy partitions are out of this dequeue)
    val totalPaths = bandsByBucket.valuesIterator.map(_.iterator.map(_._2.size).sum).sum

    // band pruning applies only to the score orderings (bands partition
    // the score axis — scanned ascending for the min-first default,
    // DESCENDING for ScoreCreatedDesc, the HBase highest-first rowkey
    // scan); Fifo/Lifo (created_at orderings) scan all bands — the
    // reference SQL queue has no score layout for them either
    import graft.local.QueueOrdering
    val scorePruned = ordering == QueueOrdering.ScoreCreated ||
      ordering == QueueOrdering.Score ||
      ordering == QueueOrdering.ScoreCreatedDesc
    val bandSign = if (ordering == QueueOrdering.ScoreCreatedDesc) -1 else 1

    // band prefix covering `limit` rows per bucket (whole bands only)
    def prefixFor(limit: Double): Map[Int, Vector[(Int, Vector[String])]] =
      bandsByBucket.map { case (b, bands0) =>
        val bands = bands0.sortBy(t => bandSign * t._1)
        if (!scorePruned) b -> bands.map(t => (t._1, t._2))
        else {
          var acc = 0L
          val sel = Vector.newBuilder[(Int, Vector[String])]
          var i = 0
          while (i < bands.length && acc < limit) {
            acc += bands(i)._3
            sel += ((bands(i)._1, bands(i)._2))
            i += 1
          }
          b -> sel.result()
        }
      }

    val orderCols = (batchOrder :+ ("url" -> true)).map { case (c, asc) =>
      if (asc) col(c).asc else col(c).desc }
    // one pass over the scanned bands: per-host politeness rank first,
    // then batch rank over the CAPPED rows only — the reference's
    // collection loop (hbase/__init__.py:239-256) skips over-cap rows and
    // keeps filling the batch from deeper in the scan, so a flooded host
    // never starves the batch. Batch, shortfall stats, and the commit's
    // positions all come from this pass. Over-cap and invisible rows get
    // __rank = MaxValue (never selected, they stay queued).
    // politeness slot keys: the hostname, or (ip mode) its resolved
    // address — co-hosted hostnames then collapse into ONE window group
    // sharing one budget (reference OverusedBuffer key_type='ip'). A
    // hostname lies in one bucket, so keying it by its bucket too changes
    // no group and lets the bucket's own scan task rank it; an address
    // spans buckets, and Spark moves its rows together. The resolver UDF
    // runs only in ip mode; the default host path stays in whole-stage
    // codegen.
    val slotKeys: Seq[Column] = ipResolver match {
      case Some(resolve) =>
        Seq(udf { (h: String) =>
          try {
            val ip = resolve(h)
            if (ip != null && ip.nonEmpty) ip else h
          } catch { case _: Exception => h }
        }.apply($"host"))
      case None => Seq($"partition_id", $"host")
    }
    // F4: DOMAINS_BLACKLIST at batch-generation position (reference
    // batch_generator._is_domain_blacklisted): blacklisted hosts are
    // never selected AND deleted from the queue lazily, whenever a
    // dequeue scans them
    val blCond: Column =
      if (domainsBlacklist.isEmpty) lit(false)
      else lower($"host").isInCollection(domainsBlacklist.map(_.toLowerCase))
    // Ranking must see only visible rows. ONE pass: instead of
    // filter-visible → rank → union-back (whose two union branches each
    // re-evaluated the banded file scan — every dequeue read its files
    // twice, and the host-cap path's capped/overflow split doubled the
    // window subtree again), visibility (and the host-cap verdict) are
    // extra window PARTITION KEYS: row_number within (…, __vis=true)
    // over the full frame equals row_number over the visible-only frame
    // under the same ordering, row by row. Invisible/blacklisted/
    // over-cap rows rank inside their own partition and are masked to
    // MaxValue — never selected, they stay queued, identical to the
    // former union's tags.
    def tagVisibilityAware(scanned0: DataFrame): DataFrame = {
      val scanned = scanned0.withColumn("__bl", blCond)
        .withColumn("__vis", !$"__bl" && $"crawl_at" <= bound_long(nowEpoch))
      def visKeyed(keys: Column*): WindowSpec =
        Window.partitionBy(keys: _*).orderBy(orderCols: _*)
      if (maxPerHost > 0) {
        val hw = visKeyed(slotKeys :+ $"__vis": _*)
        val rankVisW =
          if (globalOrder) visKeyed($"__capped")
          else visKeyed($"partition_id", $"__capped")
        scanned
          .withColumn("__hrank",
            when($"__vis", row_number().over(hw)).otherwise(lit(Int.MaxValue)))
          .withColumn("__capped", $"__vis" && $"__hrank" <= maxPerHost)
          .withColumn("__rank",
            when($"__capped", row_number().over(rankVisW))
              .otherwise(lit(Int.MaxValue)))
          .withColumn("__sel", $"__capped" && $"__rank" <= maxNextRequests)
          .drop("__capped")
      } else {
        val rankVisW =
          if (globalOrder) visKeyed($"__vis")
          else visKeyed($"partition_id", $"__vis")
        scanned
          .withColumn("__rank",
            when($"__vis", row_number().over(rankVisW))
              .otherwise(lit(Int.MaxValue)))
          .withColumn("__sel", $"__vis" && $"__rank" <= maxNextRequests)
      }
    }

    // per bucket of a scan: capped visible rows and the selected hosts
    // (one job)
    def scanStats(t: DataFrame): Map[Int, (Long, Seq[String])] =
      t.groupBy($"partition_id").agg(
          sum(when($"__rank" < Int.MaxValue, 1L).otherwise(0L)),
          collect_set(when($"__sel", $"host")))
        .as[(Int, Long, Seq[String])].collect()
        .map { case (b, capped, hosts) => b -> (capped, hosts) }.toMap

    var tries = 0
    var limit = math.max(1, maxNextRequests).toDouble
    var prefix = prefixFor(limit)
    var paths: Seq[String] = Nil
    var tagged: DataFrame = null
    var done = false
    def nPaths(p: Map[Int, Vector[(Int, Vector[String])]]) =
      p.valuesIterator.map(_.iterator.map(_._2.size).sum).sum
    while (!done) {
      paths = prefix.valuesIterator.flatMap(_.flatMap(_._2)).toSeq
      if (tagged != null) tagged.unpersist()
      // each bucket is read, ranked and cached in one task (all buckets
      // in one under globalOrder, whose rank spans them): no exchange
      // between the scan, the batch and the commit's positions. Each row
      // keeps its file and position there, for the commit
      tagged = tagVisibilityAware(
        queue.readPaths(spark, paths, oneTask = globalOrder, positions = true)).cache()
      // plan the cache now. Under adaptive execution a frame read from a
      // cache learns the cache's clustering only once the cache is built,
      // so this builds it (one job, a task per bucket); the batch, the
      // stats and the commit's positions are then planned with no
      // exchange. Without adaptive execution the cache reports its
      // clustering already, and this runs nothing
      tagged.queryExecution.toRdd
      // a prefix is provably sufficient WITHOUT a stats job when it
      // covers the whole queue, or when (no politeness caps and) the
      // manifest's per-path crawl_at maxima prove every scanned row
      // visible — prefixFor already guarantees >= budget live rows per
      // bucket
      val provablyVisible = maxPerHost == 0 && minHosts <= 0 &&
        domainsBlacklist.isEmpty &&
        prefix.valuesIterator.flatMap(_.iterator.flatMap(_._2)).forall(p =>
          m.pathMax.get(p).exists(_ <= nowEpoch))
      if (nPaths(prefix) == totalPaths || provablyVisible) done = true
      else {
        val stats = scanStats(tagged)
        val needMore = bandsByBucket.exists { case (b, bands) =>
          val unread = bands.length > prefix.getOrElse(b, Vector.empty).length
          if (!unread) false
          else {
            val (capped, hosts) = stats.getOrElse(b, (0L, Nil))
            // exactness: the prefix must hold >= budget capped visible
            // rows (else deeper bands could hold batch rows we'd miss) —
            // also the reference's `count < min_requests -> retry`
            capped < maxNextRequests ||
              // reference min_hosts diversity retry (<= 3 tries)
              (minHosts > 0 && hosts.length < minHosts && tries < 3)
          }
        }
        if (!needMore) done = true
        else {
          // reference: limit ×5.5 per retry — but always make progress
          // (the current prefix might already satisfy the row limit)
          tries += 1
          var next = prefixFor({ limit *= 5.5; limit })
          while (nPaths(next) == nPaths(prefix) && nPaths(next) < totalPaths) {
            limit *= 5.5
            next = prefixFor(limit)
          }
          prefix = next
        }
      }
    }
    // a filter of the scan cache, read by the caller once or twice: no
    // cache of its own
    val batch = tagged.filter($"__sel")
      .select(queueSchema.fieldNames.map(col): _*)
    val scannedPaths = paths

    val scannedN =
      prefix.valuesIterator.map(_.iterator.map(_._2.size).sum).sum
    lastScan = ScanStats(scannedN, totalPaths, tries)
    // the commit epoch must be read BEFORE handing off to the background
    // thread (epoch() itself joins pending commits)
    val commitEpoch = epoch
    val taggedRef = tagged
    val doCommit: () => Unit = () => labeled("dequeue commit") {
      // The whole chain runs on the commit thread, so the caller's fetch
      // overlaps the scan+rank compute itself (the tagged cache is
      // shared — whichever job reaches a partition first computes it).
      // One job over the cache: per scanned file, the positions of its
      // selected rows and of the blacklisted rows the scan surfaced
      // (deleted from the queue: the reference drops them at batch
      // generation), with its selected and scanned rows. A scan of no
      // file (an empty queue) runs none
      val files =
        if (scannedPaths.isEmpty) Map.empty[Int, ScannedFile]
        else SparkFrontier.deletions(taggedRef).filter { case (_, d) => !d.delete.positions.isEmpty }
      // rows dequeued per partition that lost a row (a partition whose
      // only deleted rows are blacklisted ones dequeued 0)
      val taken = files.values.groupMapReduce(_.bucket)(_.selected)(_ + _)
      if (taken.nonEmpty) {
        // A7: bump the in-flight gauge of every partition this batch drew from
        val fcProps =
          if (!flowControl) Map.empty[String, String]
          else taken.map { case (b, n) => s"fc.p$b" -> (inflight(b) + n).toString }
        queue.deletePositions(scannedPaths, files.map { case (i, d) => i -> d.delete },
          commitEpoch, Map("dequeued" -> taken.values.sum) ++
            taken.map { case (p, n) => s"dequeued.p$p" -> n }, fcProps)
      }
      // arm/clear the DELAY_ON_EMPTY backoff (reference: delay set on an
      // empty poll, reset to 0 by any non-empty one). An empty batch with
      // flow-control-excluded buckets is "busy", not "drained" — never
      // arms (see fcExcludedBuckets above).
      val empty = taken.values.sum == 0L
      if (delayOnEmptyEpochs > 0)
        emptyBackoffUntil =
          if (empty && !fcExcludedBuckets) nowEpoch + delayOnEmptyEpochs
          else Long.MinValue
      // an empty batch needs no scan cache; otherwise it stays until the
      // next dequeue, so the caller's batch always reads it
      if (empty) taggedRef.unpersist()
    }
    // every queue-store entry point joins it via awaitQueueCommit() (the
    // commitGate makes the handoff atomic with those joins)
    commitGate.synchronized {
      val c = new CommitThread("graft-queue-commit", doCommit)
      c.start()
      pendingCommit = c
    }
    lastTagged = taggedRef
    batch
  }

  /** Last processed-epoch marker (jid analog, worker/strategy.py:53-71):
    * replayed event batches are dropped. The marker rides in the STATES
    * manifest flip — which waits for every other commit of the epoch —
    * so "marker set" implies "every store committed" with zero extra
    * manifest flips (stores written by older builds carried it in the
    * queue manifest; both are read). */
  private val jidKey = "jid.lastProcessed"
  def lastProcessedEpoch: Long = {
    awaitQueueCommit()
    math.max(
      states.readManifest().props.get(jidKey).map(_.toLong).getOrElse(-1L),
      queue.readManifest().props.get(jidKey).map(_.toLong).getOrElse(-1L))
  }

  /** Process crawl results: `pages` = the fetched batch (must carry
    * fingerprint/url/depth/score/created_at), `links` = extracted links
    * as (parent row ++ link_url, link_idx), `errors` = failed fetches
    * (fingerprint/url/depth/score + an `error` string column).
    *
    * Pipeline (reference links_extracted, SURVEY §3.2): identity columns →
    * in-batch first-occurrence dedup → URL-seen anti-join (states ∪ this
    * batch's pages at or before the link's parent) → strategy score →
    * queue append + states merge.
    *
    * Errors (reference request_error, core/manager.py:572-580): the
    * failed request's state becomes ERROR=3 and its metadata records the
    * error string — it is NOT re-scheduled (and, being in states, later
    * links to it are dropped by the URL-seen join).
    *
    * jid/epoch filter (F6, worker/strategy.py:53-71): a replayed event
    * batch (epochNo <= the last processed epoch committed in the queue
    * manifest) is dropped wholesale — replays of already-applied bus
    * events are idempotent. */
  def processCrawled(pages: DataFrame, links: DataFrame, epochNo: Long,
      errors: Option[DataFrame] = None,
      /** discovery: robots bodies fetched this epoch, (domain, robots_body) —
        * merged into domain_metadata (reference _process_robots_txt,
        * discovery/__init__.py:284-333) */
      domainData: Option[DataFrame] = None,
      /** canonical-solver aliases (J3, contrib/canonicalsolvers/basic.py
        * Corresponding2First): fingerprints of redirect-chain members —
        * the document keeps the FIRST url's identity, but every chain
        * member becomes CRAWLED so later links to it are deduped; no
        * metadata row of its own */
      aliasSeen: Option[DataFrame] = None,
      /** cross-domain redirects of probe/home fetches this epoch,
        * (from_host, to_host) — feeds both domains' capped
        * redirect_from/redirect_to sets in domain_metadata (reference
        * _get_domain_after_redirects, discovery/__init__.py:478-507) */
      redirectPairs: Option[DataFrame] = None): Unit = {
    // the commit threads the epoch starts: whatever fails, none outlives
    // the call
    val commits = scala.collection.mutable.ArrayBuffer.empty[CommitThread]
    try processEpoch(pages, links, epochNo, errors, domainData, aliasSeen, redirectPairs, commits)
    finally commits.foreach(_.join())
  }

  /** `processCrawled`'s epoch; every commit thread it starts is added to `commits`. */
  private def processEpoch(pages: DataFrame, links: DataFrame, epochNo: Long,
      errors: Option[DataFrame], domainData: Option[DataFrame], aliasSeen: Option[DataFrame],
      redirectPairs: Option[DataFrame],
      commits: scala.collection.mutable.ArrayBuffer[CommitThread]): Unit = {
    if (epochNo <= lastProcessedEpoch) return // stale replay (jid filter)
    // The batch's pages and failed fetches, collected once: at most the
    // dequeue budget of rows, which the crawler (and the log replay)
    // hands over as local relations, collected with no job. They give
    // the parent domains, the in-batch seen check and the fetches' own
    // state updates.
    val pageCols = Seq("fingerprint", "url", "score", "created_at")
    val pageRows = SparkFrontier.collectInternal(pages.select(pageCols.map(col): _*))
    val errorRows = errors.toSeq.flatMap(e =>
      SparkFrontier.collectInternal(e.select($"fingerprint", $"url")))
    def fingerprints(rows: Seq[InternalRow]): Seq[UTF8String] =
      rows.map(r => if (r.isNullAt(0)) null else r.getUTF8String(0))
    val (pageFps, errorFps) = (fingerprints(pageRows), fingerprints(errorRows))
    val aliasFps = aliasSeen.toSeq.flatMap(a =>
      fingerprints(SparkFrontier.collectInternal(a.select($"fingerprint"))))

    // metadata sink (S7): one record per fetched document per epoch;
    // failed fetches record the error string as their status
    // (reference sqlalchemy models.py:28 `error` column). Its rows are
    // the fetches alone, so its append starts now, beside the links
    // pipeline (the reference's DB worker writes metadata from the spider
    // log while the strategy worker works on the links, SURVEY §3.2)
    def commitMetadata(): Unit =
      if ((pageRows.nonEmpty || errorRows.nonEmpty) &&
          metadata.readManifest().epoch < epochNo) {
        val okMeta = pages
          .select($"fingerprint", $"url", $"depth", $"score", $"created_at")
          .withColumn("fetched_epoch", bound_long(epochNo))
          .withColumn("status", lit("200"))
        val allMeta = errors match {
          case Some(err) =>
            val errCreated =
              if (err.columns.contains("created_at")) col("created_at")
              else lit(null).cast(LongType)
            okMeta.unionByName(
              err.select($"fingerprint", $"url", $"depth", $"score",
                errCreated.as("created_at"),
                coalesce($"error", lit("error")).as("status"))
                .withColumn("fetched_epoch", bound_long(epochNo)))
          case None => okMeta
        }
        metadata.append(
          allMeta
            .withColumn("partition_id", host_partition(url_host($"url"), partitions))
            .withColumn("method", lit("GET"))
            .withColumn("meta",
              lit(null).cast(MapType(BinaryType, BinaryType)))
            .select(metadataSchema.fieldNames.map(col): _*),
          epochNo)
      }

    // The epoch's store commits: one concurrent wave, each commit on its
    // own thread; only the states manifest flip, which joins them all,
    // comes after them (see the states merge below)
    def startCommit(desc: String)(body: => Unit): Unit = {
      val c = new CommitThread("graft-epoch-commit", () => labeled(desc)(body))
      commits += c
      c.start()
    }
    def joinCommits(): Unit = {
      commits.foreach(_.join())
      commits.map(_.failure).find(_ != null).foreach(t => throw t)
    }
    startCommit("metadata append")(commitMetadata())
    def isProbeUrl(u: Column): Column =
      u.endsWith("/robots.txt") || u.rlike("sitemap[^/]*\\.xml$")
    // strategy-issued probe links: the PARENT page is itself a probe
    // (robots.txt directives, sitemap <loc>s). The reference schedules
    // these itself, outside filter_extracted_links, so only they bypass
    // the robots deny — an ordinary page linking to a sitemap-named URL
    // gets no special treatment (no deny bypass, no 0.9 priority)
    def parentIsProbe: Column = isProbeUrl($"parent_url")
    // Home-page fallback on probe failures (reference request_error,
    // discovery/__init__.py:267-281 → _process_robots_txt_error :330-333
    // and the sitemap-error home schedule :280-281): a robots/sitemap
    // probe failing NON-fatally still schedules its domain's home page —
    // synthesized here as a strategy link (parent = the failed probe),
    // so it rides the normal pipeline: states-deduped, budget-counted,
    // scored 0.8 as a home page, and dropped if the domain is already
    // banned/fatal. A fatal (DNS-class) error matches fatalErrorPattern
    // instead — excluded here AND recorded as the domain's fatal_error
    // by commitDomainMeta, the same-event accessibility check the
    // reference does by setting fatal_error before its error handler.
    val linksAll = (discovery, errors) match {
      case (Some(d), Some(err)) =>
        val createdCol =
          if (err.columns.contains("created_at")) col("created_at")
          else lit(0L)
        val fallback = err
          .filter(isProbeUrl(col("url")) &&
            !coalesce(col("error"), lit("")).rlike(d.fatalErrorPattern))
          .select(col("url").as("parent_url"),
            col("score").as("parent_score"),
            createdCol.as("parent_created"),
            col("depth").as("parent_depth"),
            lit(0).as("link_idx"),
            concat(lit("http://"), url_host(col("url")), lit("/"))
              .as("link_url"))
        links.unionByName(fallback, allowMissingColumns = true)
      case _ => links
    }
    // middleware chain in declared order (2.11) over the identified links
    val l1 = linkTransforms.foldLeft(identity(linksAll, "link_url"))((df, t) => t(df))
    // F5: same-domain filter FIRST (discovery _is_from_same_domain,
    // discovery/__init__.py:516-523 — part of filter_extracted_links,
    // before the states fetch). Row-local, so it commutes with the
    // robots deny below (both select on per-row predicates; the
    // surviving set is their intersection either way) — and running it
    // first means every link reaching the robots join shares its
    // PARENT's 2nd-level domain, which is what lets that join prune its
    // domain_metadata read to the parent domains' buckets.
    val l1d = discovery match {
      case Some(d) if d.sameDomainOnly =>
        l1.filter(FrontierExprs.sld($"host") ===
          FrontierExprs.sld(url_host($"parent_url")))
      case _ => l1
    }
    val sameD = discovery.exists(_.sameDomainOnly)
    // Under sameDomainOnly every schedulable link shares its parent's
    // 2nd-level domain, so the domain buckets (host_partition of sld) of
    // the parents' hosts prune BOTH per-epoch domain_metadata reads (the
    // F3 robots deny and the A4 budget join), computed on the driver from
    // the collected rows. ERRORED fetches are parents too — the home-page
    // fallback above synthesizes links whose parent is the failed probe,
    // and pruning domain_metadata to page domains only would hide the
    // failed domain's banned/fatal/budget row from the very checks that
    // must drop its fallback link. Without sameDomainOnly the link
    // domains are unbounded — fall back to unpruned reads.
    val parentDB: Option[Set[Int]] =
      if (!sameD) None
      else Some((pageRows ++ errorRows).collect { case r if !r.isNullAt(1) =>
        graft.core.Hashing.crc32Partition(graft.core.UrlUtil.sld(
          graft.core.UrlUtil.slotKey(r.getUTF8String(1).toString)), partitions)
      }.toSet)
    // F2/F3: filter_extracted_links — robots deny before the states
    // lookup (saves the KV fetch, exactly the reference's motivation).
    // Under discovery the robots bodies are those persisted in
    // domain_metadata (keyed by 2nd-level domain, like the reference's
    // domain dict), read bucket-pruned to this epoch's parent domains.
    val l0raw = discovery match {
      case Some(_) =>
        val dmRobots = readDomainRobots(parentDB)
          .select($"domain".as("__rdom"), $"robots_body")
        l1d.join(dmRobots, FrontierExprs.sld($"host") === $"__rdom", "left_outer")
          .filter(FrontierExprs.robots_can_fetch($"link_url",
            coalesce($"robots_body", lit(""))) || parentIsProbe)
          .drop("__rdom", "robots_body")
      case None => l1d
    }
    // discovery consumes the filtered links TWICE (dedup/anti-join chain
    // + the subdomain-set aggregation) — cache so each epoch makes one
    // pass over the link-filter pipeline, not two
    val l0 = if (discovery.isDefined) l0raw.cache() else l0raw
    // first occurrence wins: order links by the dequeue order of their
    // parent (which follows the queue ordering), then extraction order —
    // reproduces the sequential schedule order of the reference manager
    // loop under every ordering (score/FIFO/LIFO). Under a discovery
    // randomSeed the extraction-order tiebreak becomes the seeded
    // permutation (consume_randomly: links schedule in random order, so
    // caps keep a random sample; md5(seed|url) rank = the deterministic
    // uniform shuffle)
    val linkTiebreak: Seq[Column] = discovery.flatMap(_.randomSeed) match {
      case Some(seed) =>
        Seq(md5(concat_ws("|", lit(seed.toString), $"link_url")).asc,
          $"link_url".asc)
      case None => Seq($"link_idx".asc, $"link_url".asc)
    }
    val parentOrder = batchOrder.map { case (c, asc) =>
      if (asc) col(parentCol(c)).asc else col(parentCol(c)).desc } ++ linkTiebreak
    val firstW = Window.partitionBy($"fingerprint").orderBy(parentOrder: _*)
    val deduped = l0.withColumn("__occ", row_number().over(firstW))
      .filter($"__occ" === 1).drop("__occ")

    // URL-seen: partitioned-Bloom prefilter (only past the broadcast
    // size, see bloomPays), then the exact anti-join against the states
    // store. Bloom-negative links are definitely
    // unseen and skip the join (at 10^10 rows that's most of the probe
    // side); positives go through the exact join — pruned to the buckets
    // that actually hold candidates — so the seen SET stays exact.
    // Sidecar freshness (per-bucket states version vs bloom stamp) gates
    // the shortcut: a bucket whose sidecar is absent or older than its
    // last states commit routes through the exact join instead of being
    // declared definitely-unseen (a crash between the states commit and
    // the sidecar write can therefore never drop a seen URL).
    // Links to pages crawled in THIS batch can be seen too — they're not
    // in the persisted bloom yet, so that check is a separate filter
    // against the (small) batch (below).
    var probeCache: Option[DataFrame] = None
    // the epoch's broadcast variables, destroyed once its commits are done
    val broadcasts = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.broadcast.Broadcast[_]]
    // domain buckets present among this epoch's links, for the A4
    // budget join's domain_metadata pruning (at 10^10 URLs the table
    // spans every bucket; an epoch's links touch a few). With the
    // same-domain filter on, the parent-derived set already covers the
    // link domains; otherwise the set is collected in the same job as
    // the Bloom maybe-buckets below
    var budgetDBuckets: Option[Set[Int]] = parentDB
    val wantDB = discovery.exists(_.maxPagesPerDomain > 0) && parentDB.isEmpty
    val statesManifest = states.readManifest()
    val bloomOn = bloomPays(seenSetBytes(statesManifest))
    if (bloomOn) dropSeenKeys()
    val notSeenPersisted =
      if (statesManifest.bucketPaths.isEmpty)
        // states empty (first epochs): nothing is seen — skip the probe
        // job and the anti-join entirely (per-epoch fixed cost)
        deduped
      else if (bloomOn) {
        val sm = statesManifest
        val fresh = (0 until stateBuckets).filter(b => bloomFresh(sm, b)).toSet
        val bc = bloomSeen.broadcastFor(spark, fresh)
        broadcasts += bc
        val withB = deduped.withColumn("__sb", sbucketCol($"fingerprint"))
        // native expression — the probe stays in whole-stage codegen,
        // evaluated once per row (no UDF ser/de, no double pass)
        val probe = FrontierExprs.bloom_seen_probe(bc, $"__sb",
          FrontierExprs.seen_key($"fingerprint"))
        val maybeCond =
          if (fresh.size < stateBuckets) !$"__sb".isInCollection(fresh) || probe
          else probe
        val probed = withB.withColumn("__maybe", maybeCond).cache()
        probeCache = Some(probed)
        val maybeBuckets =
          if (wantDB) {
            val (mb, db) = probed.agg(
              collect_set(when($"__maybe", $"__sb")),
              collect_set(host_partition(FrontierExprs.sld($"host"), partitions)))
              .as[(Seq[Int], Seq[Int])].first()
            budgetDBuckets = Some(db.toSet)
            mb.toSet
          } else if (stateBuckets <= spark.sparkContext.defaultParallelism * 2)
            // small store: every bucket holds candidates most epochs, so
            // the bucket-pruning collect saves no read — skip the
            // planning job (per-epoch fixed cost); the bloom probe still
            // prunes the join's ROWS, which is where the win is. At
            // 1024-bucket scale the collect prunes ~all buckets and pays
            // for itself
            (0 until stateBuckets).toSet
          else
            probed.filter($"__maybe").select($"__sb")
              .distinct().as[Int].collect().toSet
        val definiteNew = probed.filter(!$"__maybe").drop("__sb", "__maybe")
        val maybeSeen = probed.filter($"__maybe").drop("__sb", "__maybe")
        definiteNew.unionByName(
          maybeSeen.join(
            states.readBuckets(spark, Some(maybeBuckets)).select($"fingerprint"),
            Seq("fingerprint"), "left_anti"))
      } else {
        // at or below the broadcast size the states' fingerprints — the
        // rows a broadcast join would ship — are a lookup the driver holds
        // (`seenKeys`, no Spark job), bound into the plan: no broadcast
        // exchange, whose job's tasks compile their stage anew every epoch
        val seen = spark.sparkContext.broadcast(seenKeys(statesManifest))
        broadcasts += seen
        deduped.filter(bound_lookup(seen, StringType, $"fingerprint").isNull)
      }
    // A batch page is seen by a link only once page_crawled has run for
    // it: the reference manager processes the batch in order, each
    // page's page_crawled then its links_extracted, so a link sees the
    // pages at or before its parent in the batch order — a link to a
    // seed dequeued LATER in the same batch (no persisted state yet)
    // schedules it again. Errors and redirect aliases are seen by every
    // link of the batch (errored fetches are part of this epoch's seen
    // set: their ERROR state is merged below). Keys: (page column, link's
    // parent column, ascending) of the batch order.
    val batchOrderKeys: Seq[(String, String, Boolean)] = (batchOrder ++
      (if (notSeenPersisted.columns.contains("parent_url")) Seq("url" -> true) else Nil))
      .map { case (c, asc) => (c, parentCol(c), asc) }
    // The check is a lookup bound into the plan, built on the driver from
    // the collected rows; links compare their parent's key in the type
    // of the page's
    val keyTypes = batchOrderKeys.map { case (pc, _, _) => pages.schema(pc).dataType }
    val batchPages = spark.sparkContext.broadcast(new BatchPages(keyTypes,
      batchOrderKeys.map(_._3),
      (pageFps.zip(pageRows).collect { case (f, r) if f != null =>
          f -> (new GenericInternalRow(batchOrderKeys.zip(keyTypes).map { case ((pc, _, _), t) =>
            r.get(pageCols.indexOf(pc), t) }.toArray): InternalRow) } ++
        (aliasFps ++ errorFps).filter(_ != null).map(_ -> (null: InternalRow)))
        .groupMap(_._1)(_._2)))
    broadcasts += batchPages
    val fresh0 = notSeenPersisted.filter(!in_batch_seen(batchPages, $"fingerprint",
      batchOrderKeys.zip(keyTypes).map { case ((_, lc, _), t) => col(lc).cast(t) }))
    // MAX_SITEMAPS guard (discovery/__init__.py:21,359-362): a sitemap
    // index can enumerate unbounded sub-sitemaps — cap probe links per
    // parent response (first N by extraction order; with a randomSeed,
    // the N kept are the seeded permutation's best — random.sample
    // parity, discovery/__init__.py:359-362)
    val fresh = discovery match {
      case Some(d) if d.maxSitemapsPerParent > 0 =>
        // one pass: rank probe and non-probe links in separate window
        // groups and cap only the probe group — splitting into two
        // filtered frames and unioning would execute the whole upstream
        // dedup/anti-join chain twice per discovery epoch
        val isProbeLink = parentIsProbe && isProbeUrl($"link_url")
        val w = Window.partitionBy($"parent_url", isProbeLink)
          .orderBy(linkTiebreak: _*)
        fresh0.withColumn("__sm", row_number().over(w))
          .filter(!isProbeLink || $"__sm" <= d.maxSitemapsPerParent)
          .drop("__sm")
      case _ => fresh0
    }

    // deterministic created_at = schedule order. Conformance mode uses a
    // global dense rank (single-partition window — fine for oracle runs);
    // scale mode ranks within each host-partition and interleaves
    // (rank*P + pid): parallel, unique, deterministic.
    val epochBase = (epochNo + 1) << 40
    val seqCol =
      if (globalOrder) {
        val w = Window.orderBy(parentOrder: _*)
        row_number().over(w).cast(LongType)
      } else {
        val w = Window.partitionBy($"partition_id").orderBy(parentOrder: _*)
        row_number().over(w).cast(LongType) * partitions + $"partition_id"
      }
    // F7: link scoring — discovery classifies home(0.8)/other(0.5) and
    // justifies by host hash (discovery/__init__.py:374-401, 47-50);
    // otherwise the strategy's score expression
    val scoreCol = discovery match {
      case Some(d) =>
        // probes (robots/sitemap fetches issued by the strategy) 0.9 >
        // home 0.8 > other 0.5 — dequeued highest-first under
        // ScoreCreatedDesc
        val classScore = when(parentIsProbe && isProbeUrl($"link_url"), lit(0.9))
          .otherwise(when(FrontierExprs.is_home_page($"link_url"), lit(0.8))
            .otherwise(lit(0.5)))
        if (d.justifyScores) FrontierExprs.justify_score($"host", classScore)
        else classScore
      case None => strategy.linkScore($"parent_depth")
    }
    val scheduled0 = fresh
      .withColumn("depth", $"parent_depth" + 1)
      .withColumn("score", scoreCol)
      .withColumn("created_at", bound_long(epochBase) + seqCol)
      .withColumn("crawl_at", lit(0L))
      .select(col("link_url").as("url"), $"fingerprint", $"host",
        $"partition_id", $"score", $"created_at", $"depth", $"crawl_at")
    // A4: per-domain max_pages budget (discovery/__init__.py:414-454) —
    // the persistent queued_pages counter plus this epoch's per-domain
    // rank must stay within budget; over-budget links are dropped (the
    // reference's LIMIT REACHED path)
    val scheduled = (discovery match {
      case Some(d) if d.maxPagesPerDomain > 0 =>
        // bucket-pruned resolved view: only the domain buckets this
        // epoch links into (the parent-derived set under sameDomainOnly,
        // else collected alongside the bloom probe); full read only in
        // the no-bloom non-same-domain fallback
        val dm = readDomainMeta(budgetDBuckets)
          .select($"domain".as("__domain"), $"queued_pages".as("__qp0"),
            $"banned".as("__banned"), $"fatal_error".as("__fatal"))
        // budget keeps the BEST-ranked links under the active dequeue
        // ordering (under ScoreCreatedDesc, discovery's home/probe links
        // must win the budget, not lose it). With a randomSeed the
        // within-score tiebreak is the seeded permutation, so the budget
        // keeps a uniform random sample per score class (consume_randomly
        // under the queued_pages LIMIT, discovery/__init__.py:431-455)
        val budgetTiebreak: Seq[Column] = d.randomSeed match {
          case Some(seed) =>
            Seq(md5(concat_ws("|", lit(seed.toString), $"url")).asc, $"url".asc)
          case None => Seq($"created_at".asc, $"url".asc)
        }
        val budgetOrder = ordering match {
          case graft.local.QueueOrdering.ScoreCreatedDesc =>
            $"score".desc +: budgetTiebreak
          case _ => $"score".asc +: budgetTiebreak
        }
        // two-phase rank: phase 1 caps each (domain, salt) group at the
        // budget, phase 2 ranks the ≤ salts×budget survivors per domain.
        // Same surviving set (each salt keeps its best `budget` rows, and
        // the global best `budget − qp0` all sit inside those), but a
        // domain flooded with 10^8 candidate links sorts in 16 parallel
        // window groups instead of one straggler task
        val salt = pmod(xxhash64($"fingerprint"), lit(16))
        val w1 = Window.partitionBy($"__domain", salt).orderBy(budgetOrder: _*)
        val w = Window.partitionBy($"__domain").orderBy(budgetOrder: _*)
        scheduled0.withColumn("__domain", FrontierExprs.sld($"host"))
          .withColumn("__rn1", row_number().over(w1))
          .filter($"__rn1" <= d.maxPagesPerDomain)
          .join(dm, Seq("__domain"), "left_outer")
          // is_domain_to_ignore (discovery/__init__.py:43-44): banned or
          // fatal-errored domains schedule nothing, then the budget
          .filter(!coalesce($"__banned", lit(false)) && $"__fatal".isNull)
          .withColumn("__rn", row_number().over(w))
          .filter(coalesce($"__qp0", lit(0L)) + $"__rn" <= d.maxPagesPerDomain)
      case _ => scheduled0
    }).select(queueSchema.fieldNames.map(col): _*).cache()

    // the fetches' own states, from the rows collected above: pages and
    // redirect aliases CRAWLED, failed fetches ERROR, one row per
    // fingerprint each
    def stateRows(fps: Seq[UTF8String], state: Int): Seq[org.apache.spark.sql.Row] =
      fps.distinct.map(f => org.apache.spark.sql.Row(Option(f).map(_.toString).orNull, state))
    val fetchStates = spark.createDataFrame(
      (stateRows(pageFps ++ aliasFps, graft.local.States.Crawled) ++
        stateRows(errorFps, graft.local.States.Error)).asJava,
      StructType(statesSchema.filter(_.name != "sbucket")))
    // states updates (crawled CRAWLED + errored ERROR + scheduled QUEUED)
    // built up front: ONE job yields both the scheduled count and the
    // touched state buckets (epoch fixed cost matters — SURVEY §6's
    // per-epoch overhead is per-job latency × job count). It materializes
    // `scheduled`; `updates` itself is a projection of that cache and the
    // driver's rows, so it has no cache of its own
    def withSbucket(rows: DataFrame): DataFrame = rows
      .withColumn("sbucket", sbucketCol($"fingerprint"))
      .select(statesSchema.fieldNames.map(col): _*)
    val updates = withSbucket(fetchStates
      .union(scheduled.select($"fingerprint")
        .withColumn("state", lit(graft.local.States.Queued))))
    val updStats = labeled("links pipeline + state-update stats")(
      SparkFrontier.countRows(updates.select($"sbucket", $"state")))
      .map { case (r, n) => (r.getInt(0), r.getInt(1)) -> n }
    val touched = updStats.keySet.map(_._1)
    def nInState(state: Int): Long = updStats.collect { case ((_, s), n) if s == state => n }.sum
    val nScheduled = nInState(graft.local.States.Queued)
    probeCache.foreach(_.unpersist())
    // the states delta: with nothing scheduled, the fetches' own states
    // alone, rows the driver holds, which the store writes with no job
    val delta = if (nScheduled == 0) withSbucket(fetchStates) else updates

    // revisit: crawled pages re-enter the queue, visible `interval`
    // epochs from now (reference crawl_at, hbase/__init__.py:124)
    val toAppend = revisitIntervalEpochs match {
      case Some(interval) =>
        val revisits = pages
          .withColumn("host", url_host($"url"))
          .withColumn("partition_id", host_partition($"host", partitions))
          .withColumn("crawl_at", bound_long(epochNo + interval))
          .select(queueSchema.fieldNames.map(col): _*)
        scheduled.union(revisits)
      case None => scheduled
    }
    // Per-table replay guards: each store skips commits for epochs it
    // has already applied (its manifest epoch is monotone), so a replay
    // after a crash BETWEEN the epoch's commits heals the stores that
    // missed out without duplicating the ones that didn't. Provably-empty
    // commits are skipped entirely (per-epoch fixed cost = manifest
    // flips × write jobs). The queue and domain_metadata appends (separate
    // stores, separate locks, all replay-guarded) join the metadata
    // append started above, and the states delta is written beside them.
    def commitQueue(): Unit =
      if ((nScheduled > 0 || revisitIntervalEpochs.isDefined) &&
          queue.readManifest().epoch < epochNo)
        queue.append(withBand(toAppend), epochNo, Map("scheduled" -> nScheduled))

    // domain_metadata delta (A4/J2/§2.7): per-domain queued_pages bump,
    // robots bodies fetched this epoch, capped subdomain set, fatal
    // errors, and redirect netloc sets — ONE pre-aggregated APPEND per
    // epoch (O(contribs), no bucket read/rewrite); readers resolve
    def commitDomainMeta(): Unit =
      if ((discovery.isDefined || domainData.isDefined || redirectPairs.isDefined) &&
          domainMeta.readManifest().epoch < epochNo) {
      val counts = asContrib(scheduled
        .groupBy(FrontierExprs.sld($"host").as("domain"))
        .agg(count(lit(1)).as("qp")))
      // chosen links' hostnames feed the domain's subdomain set
      // (discovery/__init__.py:252-254; capped like MAX_SUBDOMAINS)
      val subs =
        if (discovery.isDefined)
          Some(asContrib(
            l0.select(FrontierExprs.sld($"host").as("domain"), $"host").distinct()
              .groupBy($"domain").agg(collect_set($"host").as("subdomains"))))
        else None
      val robotsRows = domainData.map(dd =>
        asContrib(dd.select($"domain", $"robots_body")))
      // fatal fetch errors mark the whole domain inaccessible — no
      // further scheduling into it (request_error,
      // discovery/__init__.py:267-276; is_accessible_domain :39-40)
      val fatals = for (err <- errors; d <- discovery) yield asContrib(
        err.filter($"error".rlike(d.fatalErrorPattern))
          .select(FrontierExprs.sld(url_host($"url")).as("domain"),
            $"error".as("fatal_error")).distinct())
      // cross-domain redirects of probe/home fetches feed BOTH domains'
      // capped redirect netloc sets (_get_domain_after_redirects,
      // discovery/__init__.py:478-507)
      val redirs = redirectPairs.map { rp =>
        val to = asContrib(rp.select(FrontierExprs.sld($"from_host").as("domain"),
          array($"to_host").as("redirect_to")))
        val from = asContrib(rp.select(FrontierExprs.sld($"to_host").as("domain"),
          array($"from_host").as("redirect_from")))
        to.unionByName(from)
      }
      mergeDomainContribs(
        (Seq(counts) ++ subs ++ robotsRows ++ fatals ++ redirs)
          .reduce(_.unionByName(_)),
        epochNo)
    }

    val willMergeStates = touched.nonEmpty && states.readManifest().epoch < epochNo
    // the bloom delta BUILD (a Spark job over the cached updates, no
    // commit) also runs in the wave; only the persist follows the flip
    @volatile var prebuiltDeltas: Option[Map[Int, Array[Long]]] = None
    startCommit("queue append")(commitQueue())
    startCommit("domain-metadata append")(commitDomainMeta())
    if (bloomOn && willMergeStates)
      startCommit("bloom delta keys") { prebuiltDeltas = Some(bloomSeen.buildDeltas(delta)) }

    // states merge commit (replay-guarded like the other stores): its
    // delta is written beside the commits above, and its manifest flip
    // waits for them all and happens only if they all succeeded. So the
    // jid marker rides in it for free: "marker set" implies "epoch fully
    // applied" with no extra manifest flip, and a failure anywhere leaves
    // it unset
    if (willMergeStates) labeled("states merge") {
      mergeStateUpdates(delta, touched, epochNo, bloomOn,
        Map("crawled" -> pageRows.length.toLong, "queued" -> nScheduled),
        props = Map(jidKey -> epochNo.toString),
        beforeFlip = () => { joinCommits(); prebuiltDeltas })
    } else joinCommits()

    // A7 only: release the in-flight gauge in one final queue-manifest
    // flip (the gauge lives in the queue manifest, where the dequeue
    // reads it). Without flow control the epoch ends with the states
    // commit above — no extra flip.
    if (flowControl) {
      val pp = pages.select(host_partition(url_host($"url"), partitions).as("p"))
      val all = errors.fold(pp)(e => pp.unionByName(
        e.select(host_partition(url_host($"url"), partitions).as("p"))))
      val cur = queue.readManifest().props
      val fcProps = all.groupBy($"p").count().as[(Int, Long)].collect()
        .map { case (b, n) =>
          s"fc.p$b" -> math.max(0L,
            cur.getOrElse(s"fc.p$b", "0").toLong - n).toString
        }.toMap
      queue.commitCounters(epochNo, Map("scheduled" -> nScheduled),
        props = fcProps)
    }

    scheduled.unpersist()
    if (discovery.isDefined) l0.unpersist()
    broadcasts.foreach(_.destroy())
  }

  /** Compact queue bands whose file count grew past the threshold
    * (appends add one dir per commit; cold bands the dequeue never
    * empties accumulate them — run between epochs, like Iceberg's
    * rewrite_data_files), a band's deletes counted as one file each.
    * Returns the number of buckets compacted. */
  def compactQueue(maxFilesPerBand: Int = 8): Int = {
    awaitQueueCommit()
    queue.compact(spark, maxFilesPerBand, withBand).size
  }

  /** Compact the append-only metadata table's buckets. */
  def compactMetadata(maxFilesPerBucket: Int = 16): Int =
    metadata.compact(spark, maxFilesPerBucket).size

  /** URL-seen membership snapshot (conformance checks) — the resolved
    * merge-on-read view (last state wins over the LSM delta log). */
  def stateSnapshot(): Map[String, Int] =
    readStatesLatest().select($"fingerprint", $"state").as[(String, Int)]
      .collect().toMap

  /** Rows in the queue, from its manifest (no Spark job). */
  def queueSize(): Long = {
    awaitQueueCommit()
    queue.rowCount(spark)
  }
}

object SparkFrontier {
  /** Score bands per unit score in the queue's file layout: the
    * reference's 0.01 rowkey interval (hbase/__init__.py:129-196). */
  val ScoreBands = 100

  /** `df` with its rows read by Spark tasks. When every leaf of its plan
    * is a local relation (rows the driver holds, e.g. a `Seq.toDF`),
    * Spark's optimizer folds a projection over it into a new local
    * relation: it evaluates the projection row by row on the driver
    * while it plans the query. Over an RDD of the same rows the
    * projection runs in the tasks of the query's first stage instead.
    * A frame with any other leaf is returned as it is, so Spark can
    * still push projections into its source. */
  private[spark] def overTasks(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.execution.LogicalRDD
    val qe = df.queryExecution
    if (!isLocal(df)) df
    else GraftColumnBridge.ofRows(df.sparkSession, LogicalRDD(qe.analyzed.output, qe.toRdd)(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Some(qe.optimizedPlan.stats)))
  }

  /** Whether the driver holds `df`'s rows: every leaf of its plan is a
    * local relation (e.g. a `Seq.toDF`). */
  private[spark] def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  /** `df`'s rows as Catalyst rows, collected without Dataset's generated
    * deserializer: the collects of an epoch's few driver-side rows then
    * add no class per schema to Spark's code cache. A local relation is
    * collected with no job. */
  private[spark] def collectInternal(df: DataFrame): Seq[InternalRow] =
    df.queryExecution.executedPlan.executeCollect().toSeq

  /** Per file of a dequeue's scan cache (`nextBatch`'s tagged frame:
    * `readPaths` positions plus the `__sel` and `__bl` verdicts), in one
    * job: its bucket, its selected rows, and the positions of its
    * selected and blacklisted rows with the rows the scan read. Each task
    * reports the files of its rows; the driver merges a file that more
    * than one task holds (ip mode moves rows to their slot's task). */
  private[spark] def deletions(tagged: DataFrame): Map[Int, ScannedFile] =
    tagged.select(Seq(BucketStore.FileCol, BucketStore.PosCol, "partition_id", "__sel", "__bl")
        .map(col): _*)
      .queryExecution.toRdd.mapPartitions { rows =>
        val files = scala.collection.mutable.HashMap.empty[Int, (Int, Array[Long], RoaringBitmap)]
        rows.foreach { r =>
          val (_, n, positions) = files.getOrElseUpdate(r.getInt(0),
            (r.getInt(2), new Array[Long](2), new RoaringBitmap))
          n(0) += 1
          val selected = !r.isNullAt(3) && r.getBoolean(3)
          if (selected) n(1) += 1
          if (selected || (!r.isNullAt(4) && r.getBoolean(4))) positions.add(r.getInt(1))
        }
        files.iterator.map { case (f, (b, n, positions)) =>
          f -> ScannedFile(b, n(1), BucketStore.FileDelete(positions, n(0))) }
      }.collect().groupMapReduce(_._1)(_._2) { (x, y) =>
        ScannedFile(x.bucket, x.selected + y.selected, BucketStore.FileDelete(
          RoaringBitmap.or(x.delete.positions, y.delete.positions),
          x.delete.readRows + y.delete.readRows))
      }

  /** The distinct rows of `df` with their counts, in one job: each task
    * counts its partition's rows and the driver adds the counts up. For
    * frames with few distinct rows; a generated aggregate would add a
    * shuffle and its classes to every epoch. */
  private[spark] def countRows(df: DataFrame): Map[InternalRow, Long] =
    df.queryExecution.toRdd.mapPartitions { rows =>
      val counts = scala.collection.mutable.HashMap.empty[InternalRow, Long]
      rows.foreach { r =>
        // the iterator reuses its row: a new key keeps a copy
        val n = counts.getOrElse(r, 0L)
        if (n == 0L) counts(r.copy()) = 1L else counts(r) = n + 1
      }
      Iterator.single(counts.toMap)
    }.collect().foldLeft(Map.empty[InternalRow, Long]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (r, n)) => a.updated(r, a.getOrElse(r, 0L) + n) }
    }
}
