package graft.streaming

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.spark.{SparkFrontier, SparkCrawler, ScoreStrategy, GraphTables, SparkTestBase}
import graft.local.Graphs
import java.nio.file.{Files, Paths}

/** Streaming seed ingestion: files land in a directory, a Structured
  * Streaming query schedules them; the stream checkpoint makes ingestion
  * exactly-once across restarts. */
class SeedStreamSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  test("seed files ingest exactly once across stream restarts, then crawl") {
    val root = tempDir("graft-seedstream").toString
    val seedsDir = tempDir("graft-seeds").toString
    val frontier = new SparkFrontier(spark, root, partitions = 4,
      stateBuckets = 4, strategy = ScoreStrategy.BFS, globalOrder = true)
    val stream = new SeedStream(frontier, seedsDir)

    Files.writeString(Paths.get(seedsDir, "batch1.txt"),
      "http://aaa.com/1\n# a comment line\n\n")
    stream.ingestAvailable()
    assert(frontier.queueSize() == 1)

    // restart over the same checkpoint: batch1 must NOT re-ingest
    new SeedStream(frontier, seedsDir).ingestAvailable()
    assert(frontier.queueSize() == 1)

    // a new file arrives; only it is picked up
    Files.writeString(Paths.get(seedsDir, "batch2.txt"), "http://bbb.com/1\n")
    new SeedStream(frontier, seedsDir).ingestAvailable()
    assert(frontier.queueSize() == 2)

    // the streamed seeds drive a normal crawl to completion
    val crawler = new SparkCrawler(frontier,
      GraphTables.webDF(spark, Graphs.site02), 100)
    val seq = crawler.run()
    assert(seq.toSet == Graphs.site02.nodes)
  }

  test("replayed micro-batch is idempotent; new files after a checkpoint reset still ingest") {
    // foreachBatch is at-least-once: simulate a replay by WIPING the
    // stream checkpoint after a successful ingest — the source re-offers
    // the old files (with RESTARTED batch ids); the states-based seed
    // dedup must reject them WITHOUT dropping genuinely new files
    val root = tempDir("graft-seedreplay").toString
    val seedsDir = tempDir("graft-seeds2").toString
    val frontier = new SparkFrontier(spark, root, partitions = 4,
      stateBuckets = 4, strategy = ScoreStrategy.BFS, globalOrder = true)
    Files.writeString(Paths.get(seedsDir, "s.txt"), "http://aaa.com/1\n")
    new SeedStream(frontier, seedsDir).ingestAvailable()
    assert(frontier.queueSize() == 1)
    // seeds are QUEUED in states (shipped read_seeds semantics)
    val fp = graft.core.Hashing.urlFingerprint("http://aaa.com/1")
    assert(frontier.stateSnapshot().get(fp).contains(graft.local.States.Queued))

    // wipe the checkpoint AND land a new file: the replayed old seeds
    // must dedupe, the new seeds must still schedule (a batchId
    // high-water mark would drop them — batch ids restart at 0)
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec); f.delete()
    }
    deleteRec(new java.io.File(s"$root/seedstream-ckpt"))
    Files.writeString(Paths.get(seedsDir, "t.txt"), "http://bbb.com/1\n")
    new SeedStream(frontier, seedsDir).ingestAvailable()
    assert(frontier.queueSize() == 2,
      "old seeds must dedupe, new seeds must ingest after a checkpoint reset")
  }
}
