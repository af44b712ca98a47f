package perfbench

import graft.local.CrawlGraph
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. The same seed gives the same inputs on every
  * machine: all randomness comes from `SplittableRandom(seed)`. */
object Inputs {

  /** Zipf(s) sampler over `n` items: item 0 is the most likely. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
    /** `total` items split by the law, each item at least `min`: the
      * same sizes for every seed, so seeds vary the inputs, not their
      * shape */
    def sizes(total: Int, min: Int): Array[Int] = {
      val out = Array.tabulate(n)(i => min + ((cdf(i) - (if (i == 0) 0.0 else cdf(i - 1))) *
        (total - n * min)).toInt)
      var i = 0
      while (out.sum < total) { out(i % n) += 1; i += 1 }
      out
    }
  }

  /** `sizes(i)` copies of each i, in a seeded order */
  private def shuffled(sizes: Array[Int], r: SplittableRandom): Array[Int] = {
    val a = sizes.indices.flatMap(i => Array.fill(sizes(i))(i)).toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** Queue prefill rows (url, score, depth): host sizes follow a Zipf law,
    * scores are uniform in [0, bands / 100), so they fill `bands` of the
    * queue's 0.01-wide score bands. */
  final case class QueueInput(rows: Vector[(String, Double, Int)]) {
    private def host(url: String) = graft.core.UrlUtil.urlparse(url).netloc
    def topHostShare: Double =
      rows.groupBy(r => host(r._1)).values.map(_.size).max.toDouble / rows.size
    /** rows per queue bucket, by the engine's host partitioner */
    def bucketSizes(buckets: Int): Seq[Int] =
      rows.groupBy(r => graft.core.Hashing.crc32Partition(host(r._1), buckets))
        .values.map(_.size).toSeq
  }

  def queue(seed: Long, n: Int, hosts: Int, bands: Int): QueueInput = {
    val r = new SplittableRandom(seed)
    val host = shuffled(new Zipf(hosts, 1.0).sizes(n, 1), r)
    QueueInput(Vector.tabulate(n) { i =>
      (s"http://q${host(i)}.example/p/$i", r.nextDouble() * bands / 100, r.nextInt(4))
    })
  }

  /** A web graph with Zipf-skewed host sizes. Each host's pages form a
    * `fanout`-ary tree under its home page, and the home pages are the
    * seeds, so every page is reachable. On top of the tree links each
    * page gets 0 to 2 extra links to random pages of the graph (half on
    * its own host); those point mostly at pages already discovered. */
  def web(seed: Long, pages: Int, hosts: Int, fanout: Int): CrawlGraph = {
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(hosts, 1.0)
    val perHost = zipf.sizes(pages, 1)
    def url(h: Int, i: Int) = if (i == 0) s"http://w$h.example/" else s"http://w$h.example/p$i"
    val all = for (h <- 0 until hosts; i <- 0 until perHost(h)) yield (h, i)
    val out = all.map { case (h, i) =>
      val tree = (1 to fanout).map(c => i * fanout + c).filter(_ < perHost(h)).map(url(h, _))
      val extra = Vector.fill(r.nextInt(3)) {
        val h2 = if (r.nextBoolean()) h else zipf.sample(r)
        url(h2, r.nextInt(perHost(h2)))
      }
      url(h, i) -> (tree ++ extra).filter(_ != url(h, i)).distinct.toVector
    }
    CrawlGraph(out.toVector, (0 until hosts).map(url(_, 0)).toVector)
  }

  /** Input properties of a graph crawled breadth first from its seeds:
    * reachable pages, and the share of extracted links whose target was
    * already discovered when the link was extracted. */
  final case class GraphStats(reachable: Vector[String], links: Long,
      repeatedLinks: Long, topHostShare: Double) {
    def repeatShare: Double = repeatedLinks.toDouble / math.max(1L, links)
  }

  def stats(g: CrawlGraph): GraphStats = {
    val seen = mutable.LinkedHashSet.empty[String]
    g.seeds.foreach(seen += _)
    var level = g.seeds.toList
    var links = 0L
    var repeated = 0L
    while (level.nonEmpty) {
      val next = mutable.ArrayBuffer.empty[String]
      level.foreach { u =>
        g.linksOf(u).foreach { l =>
          links += 1
          if (seen.contains(l)) repeated += 1 else { seen += l; next += l }
        }
      }
      level = next.toList
    }
    val reachable = seen.toVector
    val top = reachable.groupBy(u => graft.core.UrlUtil.urlparse(u).netloc)
      .values.map(_.size).max.toDouble / reachable.size
    GraphStats(reachable, links, repeated, top)
  }

  // -- curation tables ------------------------------------------------

  private val words = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val eventTypes = Vector("click", "view", "purchase", "signup", "error")
  private val langs = Vector("en", "en", "en", "zh", "de", "es", "fr")

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  /** The three tables the curation queries read, in the shape of the
    * repository's test tables: events with uniform users and
    * exponential values, word-salad documents of which about 5% repeat an
    * earlier document plus " dup", and unit-norm 64-d embeddings. */
  final case class Curation(events: Vector[Event], documents: Vector[Document],
      embeddings: Vector[Embedding])

  def curation(seed: Long, nEvents: Int, nDocs: Int, nVecs: Int, users: Int): Curation = {
    val r = new SplittableRandom(seed)
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    var ts = t0
    val events = Vector.tabulate(nEvents) { i =>
      ts += 1L + r.nextLong(2L * 30 * 24 * 3600 * 1000000L / nEvents)
      val stamp = new java.sql.Timestamp(ts / 1000L)
      stamp.setNanos(((ts % 1000000L) * 1000L).toInt)
      val value = math.max(0.01, math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0)
      Event(i, stamp, r.nextInt(users), eventTypes(r.nextInt(eventTypes.size)),
        value, s"""{"k": ${r.nextInt(100)}}""")
    }
    val texts = mutable.ArrayBuffer.empty[String]
    val documents = Vector.tabulate(nDocs) { i =>
      val text =
        if (i > 0 && r.nextInt(20) == 0)
          texts(r.nextInt(texts.size)) + " dup" * (1 + r.nextInt(3))
        else Vector.fill(10 + r.nextInt(90))(words(r.nextInt(words.size))).mkString(" ")
      texts += text
      Document(i, text, langs(r.nextInt(langs.size)), s"src${i % 20}", text.length)
    }
    val embeddings = Vector.tabulate(nVecs) { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
    Curation(events, documents, embeddings)
  }
}
