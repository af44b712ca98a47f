package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Score-banded queue layout (T3/T4 rowkey semantics as a file layout):
  * the dequeue must read a strict subset of the queue's files — the best
  * score bands only — and delete rows only from the files that lost
  * them, while returning exactly the same batch a full scan would.
  * A3 (reference hbase/__init__.py:219-266): a host-capped short batch
  * deepens the scan (limit ×5.5, ≤3 tries) until min_hosts distinct
  * hosts are present. */
class BandedDequeueSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def freshFrontier(maxPerHost: Int = 0): SparkFrontier = {
    val root = tempDir("graft-band").toString
    new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, maxPerHost = maxPerHost,
      globalOrder = false)
  }

  test("dequeue reads a strict subset of files and deletes only from touched bands") {
    val f = freshFrontier()
    // 2000 URLs over 40 hosts, scores spread over [0,1) → ~100 bands
    f.bulkSchedule(spark.range(2000).select(
      concat(lit("http://h"), $"id" % 40, lit(".com/p/"), $"id").as("url"),
      (($"id" % 100).cast("double") / 100.0).as("score"),
      lit(0).as("depth")))
    val m0 = f.queue.readManifest()
    val totalPaths = m0.bucketPaths.valuesIterator.map(_.size).sum
    assert(totalPaths > 40, s"expected a banded multi-file layout, got $totalPaths")

    def dataDirs = {
      val s = Files.list(java.nio.file.Paths.get(f.queue.root, "data"))
      try s.count() finally s.close()
    }
    val dirs0 = dataDirs
    // budget 5/partition → only the best band(s) should be scanned
    val batch = f.nextBatch(5)
    val got = batch.select($"url", $"score").as[(String, Double)].collect()
    assert(got.length == 20) // 4 partitions × 5
    assert(f.lastScan.scannedPaths < totalPaths,
      s"scan must prune: read ${f.lastScan.scannedPaths} of $totalPaths files")
    assert(f.lastScan.scannedPaths <= totalPaths / 4,
      s"scan should read a small fraction: ${f.lastScan.scannedPaths}/$totalPaths")

    // exactness: per partition, no remaining row may beat a selected row
    f.awaitQueueCommit()
    val full = f.queue.read(spark) // the queue after the batch's deletes
    assert(full.count() == 2000 - 20)
    val selByPart = batch.groupBy($"partition_id").agg(max($"score").as("ws"))
      .as[(Int, Double)].collect().toMap
    val remByPart = full.groupBy($"partition_id").agg(min($"score").as("bs"))
      .as[(Int, Double)].collect().toMap
    selByPart.foreach { case (p, ws) =>
      remByPart.get(p).foreach(bs =>
        assert(ws <= bs + 1e-9, s"partition $p: selected worst $ws > remaining best $bs"))
    }

    // delete granularity: no data file is written; the 20 rows are
    // deleted from the scanned bands' files only (a file that lost its
    // last row leaves), and every other file stays referenced unchanged
    val m1 = f.queue.readManifest()
    assert(dataDirs == dirs0, "a dequeue writes no data directory")
    val paths0 = m0.bucketPaths.values.flatten.toSet
    val paths1 = m1.bucketPaths.values.flatten.toSet
    assert(paths1.subsetOf(paths0))
    val touched = (paths0 -- paths1) ++ m1.pathDeletes.keySet
    assert(touched.nonEmpty && touched.size <= f.lastScan.scannedPaths)
    assert((paths0 -- paths1).toSeq.map(m0.pathRows).sum +
      m1.pathDeletes.keySet.toSeq.map(m1.deletedRows).sum == 20L)
    (paths1 -- touched).foreach(p => assert(m1.pathFiles(p) == m0.pathFiles(p), p))
    assert(paths1.size > paths0.size / 2,
      "untouched band files stay referenced; the queue is not rewritten")
  }

  test("successive dequeues drain the queue exactly, best band first") {
    val f = freshFrontier()
    f.bulkSchedule(spark.range(300).select(
      concat(lit("http://d"), $"id" % 10, lit(".com/x/"), $"id").as("url"),
      (($"id" % 10).cast("double") / 10.0).as("score"),
      lit(0).as("depth")))
    var seen = Vector.empty[(Double, String)]
    var n = 0L
    var continue = true
    while (continue) {
      val b = f.nextBatch(7).select($"score", $"url").as[(Double, String)].collect()
      if (b.isEmpty) continue = false
      else { seen ++= b; n += b.length }
    }
    assert(n == 300, s"drained $n of 300")
    assert(seen.map(_._2).distinct.size == 300, "no duplicates, no losses")
    assert(f.queueSize() == 0)
  }

  test("compaction: overgrown cold bands collapse to one file each, content intact") {
    val f = freshFrontier()
    // 12 appends into the same bands -> 12 files per (bucket, band) leaf
    (0 until 12).foreach { i =>
      f.bulkSchedule(spark.range(i * 20, i * 20 + 20).select(
        concat(lit("http://c"), $"id" % 5, lit(".com/p/"), $"id").as("url"),
        lit(0.5).as("score"), lit(0).as("depth")))
    }
    val before = f.queue.readManifest()
    val maxLeafFiles = before.bucketPaths.values
      .flatMap(_.groupBy(f.queue.bandOf).values.map(_.size)).max
    assert(maxLeafFiles == 12)

    val compacted = f.compactQueue(maxFilesPerBand = 8)
    assert(compacted > 0)
    val after = f.queue.readManifest()
    val maxAfter = after.bucketPaths.values
      .flatMap(_.groupBy(f.queue.bandOf).values.map(_.size)).max
    assert(maxAfter == 1, s"leaves should collapse to one dir, got $maxAfter")
    assert(f.queueSize() == 240, "compaction must not lose or duplicate rows")
    // second run is a no-op
    assert(f.compactQueue(maxFilesPerBand = 8) == 0)
    // and the queue still dequeues exactly (all c*.com hosts happen to
    // hash to one bucket, so one partition's budget applies)
    assert(f.nextBatch(3).count() == 3)
  }

  test("compaction folds a one-file band whose deleted rows reach its live rows") {
    val f = new SparkFrontier(spark, tempDir("graft-fold").toString,
      partitions = 1, stateBuckets = 1, strategy = ScoreStrategy.BFS, globalOrder = true)
    // 10 URLs of one host at one score: one bucket, one band, one file
    f.bulkSchedule(spark.range(10).select(concat(lit("http://fold.com/p/"), $"id").as("url"),
      lit(0.5).as("score"), lit(0).as("depth")))
    val Seq(p) = f.queue.readManifest().bucketPaths.values.flatten.toSeq
    assert(f.queue.readManifest().pathFiles(p).size == 1, "fixture: one file")
    def drain(n: Int): BucketStore#Manifest = {
      assert(f.nextBatch(n).count() == n)
      f.awaitQueueCommit()
      f.queue.readManifest()
    }
    // drained past half: 6 rows deleted, 4 live
    val drained = drain(6)
    assert(drained.deletedRows(p) == 6 && drained.liveRows(p).contains(4L))
    val live = f.queue.read(spark).collect().toSet
    assert(f.compactQueue() == 1, "1 path + 1 deletes is under the file bound")
    val folded = f.queue.readManifest()
    val Seq(q) = folded.bucketPaths.values.flatten.toSeq
    assert(q != p && folded.pathDeletes.isEmpty && folded.pathRows(q) == 4)
    assert(!Files.readString(java.nio.file.Paths.get(f.queue.root, "manifest",
      s"m${folded.version}.json")).contains("\"deletes\""))
    assert(f.queue.read(spark).collect().toSet == live && f.queueSize() == 4)
    // 1 deleted of 3 live stays; 2 deleted of 2 live folds
    drain(1)
    assert(f.compactQueue() == 0)
    assert(drain(1).deletedRows(q) == 2)
    assert(f.compactQueue() == 1 && f.queue.readManifest().pathDeletes.isEmpty)
    assert(f.queueSize() == 2 && f.queue.read(spark).count() == 2)
  }

  test("legacy band-less queue layout migrates on first dequeue, loses nothing") {
    val root = tempDir("graft-legacy").toString
    // simulate a store written by a pre-banded build: same root, same
    // manifest format, but no band= level in the data paths
    val f0 = freshFrontier() // only for the schema/exprs
    val legacyStore = new BucketStore(s"$root/queue", "partition_id", 4)
    legacyStore.emptySchema = Some(f0.queueSchema)
    val rows = spark.range(50).select(
        concat(lit("http://lg"), $"id" % 6, lit(".com/p/"), $"id").as("url"))
      .withColumn("fingerprint", FrontierExprs.url_fingerprint($"url"))
      .withColumn("host", FrontierExprs.url_host($"url"))
      .withColumn("partition_id", FrontierExprs.host_partition($"host", 4))
      .withColumn("score", ($"url".substr(10, 1).cast("int") % 10).cast("double") / 10.0)
      .withColumn("created_at", regexp_extract($"url", "/p/(\\d+)$", 1).cast("long"))
      .withColumn("depth", lit(0))
      .withColumn("crawl_at", lit(0L))
      .select(f0.queueSchema.fieldNames.map(col): _*)
    legacyStore.append(rows.na.fill(0L, Seq("created_at")), epoch = 2)
    // bandlessness is judged by the BANDED store's bandOf (legacyStore has
    // no bandCol, so its own bandOf would vacuously return 0)
    assert(legacyStore.readManifest().bucketPaths.valuesIterator.flatten
      .exists(p => f0.queue.bandOf(p) < 0), "fixture must be band-less")

    // a new (banded) frontier over the same root resumes and migrates
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.BFS, globalOrder = false)
    assert(f.epoch == 2, "manifest epoch must survive the upgrade")
    var drained = 0L
    var continue = true
    while (continue) {
      val n = f.nextBatch(20).count()
      drained += n
      continue = n > 0
    }
    assert(drained == 50, s"migration must not lose or duplicate rows: $drained")
    f.awaitQueueCommit()
    val m = f.queue.readManifest()
    assert(m.bucketPaths.valuesIterator.flatten.forall(p => f.queue.bandOf(p) >= 0),
      "all paths banded after migration")
  }

  test("A3 deepening: capped hot host does not starve the batch (min_hosts diversity)") {
    val f = freshFrontier(maxPerHost = 2)
    // band 0: 60 rows, ALL on one hot host (cap 2) — a shallow scan sees
    // only 2 eligible rows; bands 10..39: 30 cold hosts, one row each.
    // Reference semantics (hbase/__init__.py:239-266): the collection
    // loop skips over-cap rows and keeps filling from deeper in the
    // scan, retrying with limit ×5.5 — the batch must come back full and
    // host-diverse, not short.
    val hot = spark.range(60).select(
      concat(lit("http://hot.com/p/"), $"id").as("url"),
      lit(0.001).as("score"), lit(0).as("depth"))
    val cold = spark.range(30).select(
      concat(lit("http://cold"), $"id", lit(".com/")).as("url"),
      (lit(0.10) + ($"id".cast("double") / 100.0)).as("score"),
      lit(0).as("depth"))
    f.bulkSchedule(hot.union(cold))

    val b = f.nextBatch(10, minHosts = 5)
    val rows = b.select(FrontierExprs.url_host($"url").as("h"), $"url")
      .as[(String, String)].collect()
    assert(f.lastScan.tries > 0,
      "capped band-0 shortfall must deepen the scan into colder bands")
    // the hot host is capped at 2...
    assert(rows.count(_._1 == "hot.com") == 2)
    // ...and the batch still reaches min_hosts diversity from deeper bands
    val hosts = rows.map(_._1).distinct
    assert(hosts.length >= 5,
      s"batch must fill with cold hosts from deeper bands, got ${hosts.toList}")
    // politeness cap holds globally per host
    rows.groupBy(_._1).foreach { case (h, rs) =>
      assert(rs.length <= 2, s"$h exceeded cap: ${rs.length}")
    }
  }
}
