package graft.spark

import graft.TempDirs
import graft.local.Graphs
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** An epoch's fixed store cost: no store write forks a process, a steady
  * epoch builds no new parquet reader (so broadcasts no Hadoop
  * configuration), the seen set below the broadcast size is read on the
  * driver by leaf and stays equal to the states table, a damaged data
  * page fails every read that meets it, and the seen set's size comes
  * from the manifest as Spark would estimate it. */
class StoreFixedCostSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  /** a conformance frontier over a fresh root, its crawler over site03 */
  private def crawl(root: String, batch: Int = 2): (SparkFrontier, SparkCrawler) = {
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.DFS, globalOrder = true)
    (f, new SparkCrawler(f, GraphTables.webDF(spark, Graphs.site03), batch))
  }

  /** the messages of `e` and of its causes */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("addSeeds, a crawl epoch that schedules links and bulkSchedule fork no process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import spark.implicits._
    val root = tempDir("graft-nofork").toString
    val (f, c) = crawl(root)
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    try {
      f.addSeeds(Graphs.site03.seeds)
      // a dequeue deletes rows in place; only an append adds leaves
      def leaves = f.queue.readManifest().bucketPaths.valuesIterator.flatten.toSet
      val before = leaves
      assert(c.crawlOnce(1))
      assert((leaves -- before).nonEmpty, "fixture: the epoch scheduled links")
      f.bulkSchedule((0 until 64).map(i => (s"http://h${i % 8}.example/p$i", (i % 10) / 10.0, 0))
        .toDF("url", "score", "depth"))
    } finally recording.stop()
    val file = tempDir("graft-nofork-jfr").resolve("process-start.jfr")
    recording.dump(file)
    recording.close()
    val forks = RecordingFile.readAllEvents(file).asScala.filter { e =>
      e.getEventType.getName == "jdk.ProcessStart" && Option(e.getStackTrace).exists(
        _.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("graft.")))
    }
    assert(forks.isEmpty, s"${forks.size} forked process(es), e.g. " +
      forks.take(3).map(e => e.getString("command")).mkString("; "))
  }

  test("a steady epoch broadcasts no Hadoop configuration") {
    val (f, c) = crawl(tempDir("graft-nobc").toString)
    f.addSeeds(Graphs.site03.seeds)
    assert(c.crawlOnce(1) && c.crawlOnce(2))
    assert(f.states.readManifest().bucketPaths.nonEmpty, "fixture: the seen set has leaves")
    val sc = spark.sparkContext
    val from = sc.broadcast(0)
    assert(c.crawlOnce(3))
    val until = sc.broadcast(0)
    val confs = org.apache.spark.GraftBroadcasts.held(sc).collect {
      case (id, v: org.apache.spark.util.SerializableConfiguration) if id > from.id && id < until.id => id
    }
    Seq(from, until).foreach(_.destroy())
    assert(confs.isEmpty, s"the epoch broadcast Hadoop configurations ${confs.toSeq.sorted}")
  }

  test("the driver-held seen set equals the states' fingerprints after compactStates and addSeedsDF") {
    import spark.implicits._
    val (f, c) = crawl(tempDir("graft-seenset").toString)
    f.addSeeds(Graphs.site03.seeds)
    def seen = f.seenKeys(f.states.readManifest()).keySet.map(_.toString)
    def latest = f.readStatesLatest().select($"fingerprint").as[String].collect().toSet
    assert(c.crawlOnce(1) && c.crawlOnce(2))
    assert(seen == latest && latest.nonEmpty)
    assert(f.compactStates(maxFilesPerBucket = 1) > 0, "fixture: the fold rewrote leaves")
    assert(seen == latest)
    f.addSeedsDF(Seq("http://seen-set.example/a", "http://seen-set.example/b").toDF("url"))
    assert(seen == latest && latest.size > 2)
    c.run(maxEpochs = 100)
    assert(seen == latest && latest == f.stateSnapshot().keySet)
  }

  test("a flipped byte in a states data page fails the read in tasks and on the driver, naming the file") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val root = tempDir("graft-pagecrc").toString
    val (f, c) = crawl(root)
    f.addSeeds(Graphs.site03.seeds)
    assert(c.crawlOnce(1) && c.crawlOnce(2))
    // the last byte of a file's first column chunk lies in its last page
    val m = f.states.readManifest()
    val (p, name) = m.pathFiles.toSeq.sortBy(_._1).flatMap { case (p, fs) => fs.keys.map(p -> _) }.head
    val file: Path = Paths.get(p, name)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), new org.apache.hadoop.conf.Configuration()))
    val chunk = try reader.getFooter.getBlocks.get(0).getColumns.get(0) finally reader.close()
    val bytes = Files.readAllBytes(file)
    val at = (chunk.getStartingPos + chunk.getTotalSize - 1).toInt
    bytes(at) = (bytes(at) ^ 0xff).toByte
    Files.write(file, bytes)

    val inTasks = intercept[Exception](f.states.read(spark).collect())
    assert(messages(inTasks).contains(name), messages(inTasks))
    // a new frontier's first epoch reads every states leaf for its seen set
    val (again, crawler) = crawl(root)
    val seenRead = intercept[Exception](crawler.crawlOnce(3))
    assert(messages(seenRead).contains(name), messages(seenRead))
    assert(again.lastProcessedEpoch == 2L)
  }

  test("the seen set's size is Spark's estimate of the fingerprints' read, with no read planned") {
    val (f, c) = crawl(tempDir("graft-seenbytes").toString)
    assert(f.seenSetBytes(f.states.readManifest()) == 0L)
    f.addSeeds(Graphs.site03.seeds)
    for (epoch <- 1 to 3) {
      assert(c.crawlOnce(epoch))
      for ((store, cols) <- Seq(f.states -> Seq("fingerprint"), f.queue -> Seq("url", "score"))) {
        val m = store.readManifest()
        val planned = store.readAt(spark, m).select(cols.map(org.apache.spark.sql.functions.col): _*)
          .queryExecution.optimizedPlan.stats.sizeInBytes
        assert(store.sizeInBytes(m, cols) == planned, s"${store.root}, epoch $epoch")
      }
    }
  }
}
