package perfbench

import graft.images.ImageSynth
import graft.local.{BFSStrategy, CrawlGraph, FrontierTester, LocalFrontier, QueueOrdering}
import graft.spark.{GraphTables, ScoreStrategy, SparkCrawler, SparkFrontier}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** What a workload hands back after its timed window. `e2e` holds the
  * end-to-end figures, `layers` the per-layer figures that need no
  * listener, and `exact` the counts that must repeat exactly at a seed. */
final case class Report(attempted: Long, failed: Long, e2e: Map[String, Double],
    layers: Map[String, Double], exact: Seq[(String, Long)], notes: Seq[String])

/** One workload: `build` makes the inputs (set-up time), `warm` runs the
  * same calls once on a small input so the JIT and the generated-code
  * cache are warm before the window, and `round` is one unit of timed
  * work. `warm` returns figures of its own, "failed" among them. */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val work: Path, val tr: Tracer) {

  def build(): Unit
  def warm(): Map[String, Double]
  def round(): Unit
  def report(rounds: Int): Report
  def close(): Unit = ()

  protected def freshDir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    Files.createTempDirectory(p, "r")
  }

  protected def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Workload {
  val names = Seq("queue_drain", "epoch_floor", "curation_suite")

  /** Session settings per workload (the session is always local[4]). */
  def conf(name: String): Seq[(String, String)] = name match {
    // the conformance-crawl settings: 4 shuffle partitions, AQE off
    case "epoch_floor" => Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false")
    case "curation_suite" => Seq("spark.sql.shuffle.partitions" -> "12",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    case _ => Seq("spark.sql.shuffle.partitions" -> "12")
  }

  def apply(name: String, spark: SparkSession, seed: Long, work: Path,
      tr: Tracer): Workload = name match {
    case "queue_drain" => new QueueDrain(spark, seed, work, tr)
    case "epoch_floor" => new EpochFloor(spark, seed, work, tr)
    case "curation_suite" => new CurationSuite(spark, seed, work, tr)
  }
}

/** Store figures from outside: commits from `currentVersion` deltas, and
  * files and bytes from a walk of the frontier root. */
object StoreWalk {
  val stores = Seq("queue", "states", "metadata", "domain_metadata")

  def commits(f: SparkFrontier): Map[String, Long] = Map(
    "queue" -> f.queue.currentVersion, "states" -> f.states.currentVersion,
    "metadata" -> f.metadata.currentVersion,
    "domain_metadata" -> f.domainMeta.currentVersion)

  private def walk(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }

  /** (files, bytes) per store, the Bloom sidecars counted apart. */
  def sizes(root: Path): Map[String, (Long, Long)] = {
    val bloom = walk(root.resolve("states").resolve("bloom"))
    stores.map { s =>
      val (n, b) = walk(root.resolve(s))
      s -> (if (s == "states") (n - bloom._1, b - bloom._2) else (n, b))
    }.toMap + ("bloom" -> bloom)
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally s.close()
  }
}

/** A queue prefilled by `bulkSchedule` is drained by `nextBatch` until it is
  * empty, each batch about an eighth of the queue, and each batch is consumed
  * by one grouped count: no fetch, no links pipeline, no states store, no
  * payload kernel. */
final class QueueDrain(spark: SparkSession, seed: Long, work: Path, tr: Tracer)
    extends Workload(spark, seed, work, tr) {
  import spark.implicits._

  private val rowsN = 64000
  private val hosts = 320
  private val bands = 8
  private val partitions = 4
  private val root = work.resolve("queue_drain").resolve("root")
  private val pristine = work.resolve("queue_drain").resolve("pristine")
  private var input: Inputs.QueueInput = _
  /** per-bucket batch budget: the largest bucket drains in eight batches */
  private var perBucket = 0
  /** count, sum of crc32(url) and sum of scores of the prefill */
  private var expected: (Long, Long, Double) = _
  private var storeSize: (Long, Long) = _

  private val latencies = mutable.ArrayBuffer.empty[Double]
  private var drainS = 0.0
  private var drained = 0L
  private var failed = 0L
  private var commits = 0L


  private def drainOnce(f: SparkFrontier, budget: Int, timed: Boolean): Unit = {
    var total = 0L
    var hashSum = 0L
    var scoreSum = 0.0
    val lastMax = mutable.HashMap.empty[Int, Double]
    var more = true
    while (more) {
      val t0 = System.nanoTime()
      val batch = tr.span("frontier.next_batch")(f.nextBatch(budget))
      val parts = tr.span("bench.consume")(batch.groupBy($"partition_id")
        .agg(count(lit(1)), min($"score"), max($"score"), sum(crc32($"url")), sum($"score"))
        .as[(Int, Long, Double, Double, Long, Double)].collect())
      batch.unpersist()
      val dt = (System.nanoTime() - t0) / 1e9
      more = parts.nonEmpty
      if (timed) {
        drainS += dt
        if (more) latencies += dt
        // within a bucket, no row of this batch may rank above a row of
        // an earlier batch
        parts.foreach { case (p, n, lo, hi, _, _) =>
          if (lastMax.get(p).exists(_ > lo)) failed += n
          lastMax(p) = hi
        }
      }
      parts.foreach { case (_, n, _, _, h, sc) => total += n; hashSum += h; scoreSum += sc }
    }
    if (timed) {
      drained += total
      // the drained rows equal the prefill as a multiset
      if (total != expected._1 || hashSum != expected._2 ||
          math.abs(scoreSum - expected._3) > 1e-6 * expected._3)
        failed += math.max(1L, math.abs(expected._1 - total))
    }
  }

  def build(): Unit = {
    input = Inputs.queue(seed, rowsN, hosts, bands)
    perBucket = input.bucketSizes(partitions).max / 8 + 1
    expected = (input.rows.size.toLong, input.rows.map { case (u, _, _) =>
      val c = new java.util.zip.CRC32
      c.update(u.getBytes("UTF-8"))
      c.getValue
    }.sum, input.rows.map(_._2).sum)
    StoreWalk.delete(root)
    val f = new SparkFrontier(spark, root.toString, partitions = partitions)
    val prefill = input.rows.toDF("url", "score", "depth")
    tr.span("frontier.bulk_schedule")(f.bulkSchedule(prefill))
    storeSize = StoreWalk.sizes(root)("queue")
    StoreWalk.delete(pristine)
    StoreWalk.copy(root, pristine)
  }

  /** the same calls on a small queue of other URLs, drained in two
    * batches per bucket, so the first leaves bands partly read and the
    * residue rewrite runs before the window too */
  def warm(): Map[String, Double] = {
    val small = Inputs.QueueInput(input.rows.take(300).map { case (u, s, d) => (u + "/w", s, d) })
    val f = new SparkFrontier(spark, freshDir("warm").toString, partitions = partitions)
    f.bulkSchedule(small.rows.toDF("url", "score", "depth"))
    drainOnce(f, small.bucketSizes(partitions).max / 2 + 1, timed = false)
    Map.empty
  }

  def round(): Unit = {
    // every round drains the same prefilled store; manifests hold absolute
    // paths, so the copy goes back to the same place
    StoreWalk.delete(root)
    StoreWalk.copy(pristine, root)
    val f = new SparkFrontier(spark, root.toString, partitions = partitions)
    val v0 = f.queue.currentVersion
    drainOnce(f, perBucket, timed = true)
    commits += f.queue.currentVersion - v0
  }

  def report(rounds: Int): Report = {
    val batches = latencies.size / rounds
    Report(drained, failed,
      Map("urls_per_s" -> drained / drainS, "epoch_p50_s" -> median(latencies.toSeq)),
      Map("store.queue.files" -> storeSize._1.toDouble,
        "store.queue.bytes" -> storeSize._2.toDouble,
        "store.queue.commits" -> commits.toDouble / rounds,
        "store.bytes_per_url" -> storeSize._2.toDouble / rowsN,
        "frontier.next_batch.rows" -> drained.toDouble / rounds),
      Seq("rows_per_round" -> drained / rounds, "batches_per_round" -> batches.toLong,
        "queue_commits_per_round" -> commits / rounds, "queue_files" -> storeSize._1),
      Seq(f"input: $rowsN%d URLs on $hosts%d hosts in $bands%d score bands, " +
        f"top-host share ${input.topHostShare}%.3f, " +
        f"queue-to-batch ratio ${rowsN.toDouble / (perBucket * partitions)}%.1f, " +
        s"$batches epochs per drain"))
  }
}

/** A small graph crawled to the end at a small batch in the conformance
  * settings (4 shuffle partitions, AQE off, 4-bucket store, global order),
  * so the run is many epochs of a few rows each: the fixed cost per epoch.
  * The sequence and the seen set are checked against the local frontier
  * run through `FrontierTester` on the same graph and batch size. */
final class EpochFloor(spark: SparkSession, seed: Long, work: Path, tr: Tracer)
    extends Workload(spark, seed, work, tr) {

  private val pages = 20
  private val hosts = 3
  private val batch = 4
  private var graph: CrawlGraph = _
  private var stats: Inputs.GraphStats = _
  private var web: DataFrame = _
  private var expectedSeq: List[String] = Nil
  private var expectedStates: Map[String, Int] = Map.empty

  private val latencies = mutable.ArrayBuffer.empty[Double]
  private var crawlS = 0.0
  private var crawled = 0L
  private var failed = 0L
  private var layerFigures: Map[String, Double] = Map.empty

  private def crawl(g: CrawlGraph, w: DataFrame, timed: Boolean): Unit = {
    val root = freshDir("crawl")
    val f = new SparkFrontier(spark, root.toString, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    val before = StoreWalk.commits(f)
    val t0 = System.nanoTime()
    tr.span("frontier.add_seeds")(f.addSeeds(g.seeds))
    val c = new SparkCrawler(f, w, batch)
    var e = f.epoch
    var more = true
    while (more) {
      val t = System.nanoTime()
      more = tr.span("crawler.crawl_once")(c.crawlOnce(e + 1))
      if (more) {
        e += 1
        if (timed) latencies += (System.nanoTime() - t) / 1e9
      }
    }
    if (timed) {
      crawlS += (System.nanoTime() - t0) / 1e9
      crawled += c.urlsCrawled
      val seq = c.sequence.toList.flatten
      val states = f.stateSnapshot()
      // URLs out of place in the sequence, plus URLs whose state differs
      val wrong = seq.zipAll(expectedSeq, "", "").count { case (a, b) => a != b } +
        (states.keySet ++ expectedStates.keySet).count(k => states.get(k) != expectedStates.get(k))
      if (wrong > 0) {
        System.err.println(s"[perfbench] epoch_floor mismatch, engine:  ${c.sequence.mkString(" | ")}")
        System.err.println(s"[perfbench] epoch_floor mismatch, oracle:  ${expectedSeq.mkString(" ")}")
        System.err.println(s"[perfbench] epoch_floor graph: ${g.pages.map { case (u, ls) =>
          s"$u -> ${ls.mkString(",")}" }.mkString("; ")}")
      }
      failed += wrong
      val after = StoreWalk.commits(f)
      val size = StoreWalk.sizes(root)
      layerFigures = (StoreWalk.stores.flatMap { s =>
        Seq(s"store.$s.commits" -> (after(s) - before(s)).toDouble,
          s"store.$s.files" -> size(s)._1.toDouble, s"store.$s.bytes" -> size(s)._2.toDouble)
      } ++ Seq("bloom.bytes" -> size("bloom")._2.toDouble,
        "store.bytes_per_url" -> size.values.map(_._2).sum.toDouble / c.urlsCrawled)).toMap
    }
    StoreWalk.delete(root)
  }

  def build(): Unit = {
    graph = Inputs.web(seed, pages, hosts, 3)
    stats = Inputs.stats(graph)
    val lf = new LocalFrontier(new BFSStrategy, ordering = QueueOrdering.ScoreCreated)
    val t = new FrontierTester(lf, graph, batch)
    t.run()
    expectedSeq = t.urlSequence
    expectedStates = lf.states.snapshot
    web = GraphTables.webDF(spark, graph).cache()
    web.count()
  }

  /** a one-page crawl of another host, then the payload kernel alone on
    * the driver (the crawl itself runs without it), for its cost per URL */
  def warm(): Map[String, Double] = {
    val small = Inputs.web(seed ^ 0x5eed, 1, 1, 4)
    val w = GraphTables.webDF(spark, small).cache()
    crawl(small, w, timed = false)
    w.unpersist()
    val urls = (0 until 200).map(i => s"http://w${i % hosts}.example/p$i")
    val t0 = System.nanoTime()
    val bad = tr.span("images.verify")(urls.count { u =>
      !ImageSynth.verifyRow(u, 1, ImageSynth.rowFor(u, 1, 64, 64)) })
    Map("images.verify_ms_per_url" -> (System.nanoTime() - t0) / 1e6 / urls.size,
      "failed" -> bad.toDouble)
  }

  def round(): Unit = crawl(graph, web, timed = true)

  override def close(): Unit = web.unpersist()

  def report(rounds: Int): Report = {
    val epochs = latencies.size / rounds
    Report(crawled, failed,
      Map("urls_per_s" -> crawled / crawlS, "epoch_p50_s" -> median(latencies.toSeq)),
      layerFigures,
      Seq("urls_per_round" -> crawled / rounds, "epochs_per_round" -> epochs.toLong) ++
        StoreWalk.stores.flatMap(s => Seq("commits", "files").map(k =>
          s"${s}_$k" -> layerFigures(s"store.$s.$k").toLong)),
      Seq(s"input: ${stats.reachable.size} URLs on $hosts hosts, batch $batch, " +
        f"top-host share ${stats.topHostShare}%.3f, repeated-link share ${stats.repeatShare}%.3f, " +
        s"$epochs epochs per crawl"))
  }
}

/** Curation queries of `PipelineOps`, each written to the `noop` sink: the
  * ANN top-k family, which an open ops item targets, two frontier
  * operators, a text and a multimodal operator. The warm-up pass writes each result as parquet for
  * the DuckDB check. */
final class CurationSuite(spark: SparkSession, seed: Long, work: Path, tr: Tracer)
    extends Workload(spark, seed, work, tr) {

  private val picked = Seq("q_ann_batch_topk", "q_ann_ivf", "q_ann_cosine_topk",
    "q_f1_seen_antijoin", "q_a2_host_cap", "q_text_quality", "q_multimodal_meta")
  private val queries = picked.map(n => n -> graft.ops.PipelineOps.queries(n))
  private val dataDir = work.resolve("curation").resolve("data")
  private val outDir = work.resolve("curation").resolve("out")
  private val passTimes = mutable.ArrayBuffer.empty[Double]
  private val queryTimes = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var failed = 0L
  private var input: Inputs.Curation = _

  private def table[T <: Product : scala.reflect.runtime.universe.TypeTag](
      name: String, rows: Seq[T]): Unit =
    spark.createDataFrame(rows).coalesce(1).write
      .parquet(dataDir.resolve(s"$name.parquet").toString)

  def build(): Unit = {
    input = Inputs.curation(seed, nEvents = 10000, nDocs = 500, nVecs = 500, users = 150)
    StoreWalk.delete(dataDir)
    table("events", input.events)
    table("documents", input.documents)
    table("embeddings", input.embeddings)
  }

  /** the cold first pass; a query that fails here fails in every pass */
  def warm(): Map[String, Double] = {
    StoreWalk.delete(outDir)
    val errors = queries.count { case (name, q) =>
      try {
        tr.span(s"ops.$name")(q(spark, dataDir.toString).coalesce(1).write
          .parquet(outDir.resolve(name).toString))
        false
      } catch { case e: Exception => System.err.println(s"[perfbench] $name: $e"); true }
    }
    Files.writeString(outDir.resolve("oracle_sql.json"),
      Json.obj(picked.map(n => n -> graft.ops.PipelineOps.oracleSql(n))))
    Map("failed" -> errors.toDouble)
  }

  /** three passes: the suite is short, so one pass is mostly noise */
  def round(): Unit = (1 to 3).foreach { _ =>
    val t0 = System.nanoTime()
    queries.foreach { case (name, q) =>
      val t = System.nanoTime()
      try tr.span(s"ops.$name")(q(spark, dataDir.toString).write.format("noop")
        .mode("overwrite").save())
      catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] $name: $e") }
      queryTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e9
    }
    passTimes += (System.nanoTime() - t0) / 1e9
  }

  def report(rounds: Int): Report = {
    val suite = median(passTimes.toSeq)
    Report(passTimes.size.toLong * queries.size, failed,
      Map("urls_per_s" -> input.events.size / suite,
        "epoch_p50_s" -> median(queryTimes.values.flatten.toSeq)),
      queryTimes.map { case (n, ts) => s"ops.$n.s" -> median(ts.toSeq) }.toMap +
        ("ops.suite_s" -> suite),
      Seq("queries" -> queries.size.toLong, "passes" -> passTimes.size.toLong),
      Seq(s"input: ${input.events.size} events (one URL each), ${input.documents.size} " +
        s"documents, ${input.embeddings.size} embeddings; ${queries.size} queries",
        f"suite_s $suite%.3f (median of ${passTimes.size}%d passes): " +
          queryTimes.toSeq.sortBy(_._1).map { case (n, ts) => f"$n ${median(ts.toSeq)}%.3f" }
            .mkString(", ")))
  }
}
