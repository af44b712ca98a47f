package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** `bulkSchedule` and `addSeedsDF` over a frame of rows the driver
  * holds: the identity columns are computed in Spark tasks (no
  * projection folded into a local relation on the driver), and the
  * queue (and states) written are the ones a distributed source of the
  * same rows gives. */
class BulkScheduleSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // 40 hosts over 4 buckets, scores over the first 10 bands, two depths
  private val rows = (0 until 800).map(i =>
    (s"http://h${i % 40}.example/p/$i", (i % 97) / 970.0, i % 2))

  private def frontier(s: SparkSession = spark) =
    new SparkFrontier(s, tempDir("graft-bulk").toString,
      partitions = 4, stateBuckets = 4)

  /** the queue's rows with their band (the leaf dir level), by count */
  private def queueRows(f: SparkFrontier): Map[Row, Int] = {
    val paths = f.queue.readManifest().bucketPaths.valuesIterator.flatten.toSeq
    spark.read.option("basePath", s"${f.queue.root}/data").parquet(paths: _*)
      .select((f.queueSchema.fieldNames :+ "band").map(col): _*)
      .collect().groupBy(identity).map { case (r, rs) => r -> rs.length }
  }

  /** per (bucket, band): the manifest's row count and `pathmax` */
  private def manifestCounts(f: SparkFrontier): Map[(Int, Int), (Option[Long], Option[Long])] = {
    val m = f.queue.readManifest()
    m.bucketPaths.toSeq.flatMap { case (b, ps) =>
      ps.map(p => (b, f.queue.bandOf(p)) -> (m.pathRows.get(p), m.pathMax.get(p)))
    }.toMap
  }

  /** a batch of at most 60 rows per bucket, by url */
  private def batch(f: SparkFrontier): Seq[Row] =
    f.nextBatch(60).select(f.queueSchema.fieldNames.map(col): _*)
      .collect().toSeq.sortBy(_.getAs[String]("url"))

  test("a local frame and a distributed source of the same rows schedule the same queue") {
    val local = frontier()
    local.bulkSchedule(rows.toDF("url", "score", "depth"))
    val dir = tempDir("graft-bulk-src").resolve("rows").toString
    rows.toDF("url", "score", "depth").write.parquet(dir)
    val distributed = frontier()
    val source = spark.read.parquet(dir)
    assert(!source.queryExecution.analyzed.collectLeaves().exists(_.isInstanceOf[LocalRelation]))
    distributed.bulkSchedule(source)

    val q = queueRows(local)
    assert(q.valuesIterator.sum == rows.size)
    assert(q.keySet.map(_.getAs[Int]("band")).size > 1, "fixture: several bands")
    assert(q == queueRows(distributed))
    val counts = manifestCounts(local)
    assert(counts.valuesIterator.forall { case (n, max) => n.isDefined && max.isDefined })
    assert(counts == manifestCounts(distributed))
    for (i <- 1 to 2) {
      val (b, d) = (batch(local), batch(distributed))
      assert(b.nonEmpty && b.size < rows.size, s"batch $i: ${b.size} rows")
      assert(b == d, s"batch $i: only local ${b.diff(d)}, only distributed ${d.diff(b)}")
    }
  }

  test("addSeedsDF schedules a local frame as it does a distributed source, and marks every seed queued") {
    val urls = rows.map(_._1)
    val dir = tempDir("graft-seeds-src").resolve("urls").toString
    urls.toDF("url").write.parquet(dir)
    val fs = Seq(frontier(), frontier())
    fs(0).addSeedsDF(urls.toDF("url"))
    fs(1).addSeedsDF(spark.read.parquet(dir))
    def states(f: SparkFrontier): Set[Row] = f.states.read(spark).collect().toSet
    assert(queueRows(fs(0)).valuesIterator.sum == urls.size)
    assert(queueRows(fs(0)) == queueRows(fs(1)))
    assert(states(fs(0)).size == urls.size)
    assert(states(fs(0)).map(_.getAs[Int]("state")) == Set(graft.local.States.Queued))
    assert(states(fs(0)) == states(fs(1)))
    // every touched states bucket was merged: the same seeds again schedule nothing
    fs(0).addSeedsDF(urls.toDF("url"))
    assert(fs(0).queueSize() == urls.size)
  }

  test("bulkSchedule writes a local frame from tasks, with no local relation of its rows") {
    val s = spark.newSession()
    import s.implicits._
    val writes = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "leaf write") writes.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      val f = frontier(s)
      f.bulkSchedule(rows.toDF("url", "score", "depth"))
      val qe = Option(writes.poll(60, TimeUnit.SECONDS))
        .getOrElse(fail("the queue write's query execution never arrived"))
      val plan = qe.optimizedPlan
      val local = plan.collect { case l: LocalRelation if l.data.nonEmpty => l }
      assert(local.isEmpty, s"the write reads ${local.map(_.data.size).mkString(", ")} local rows:\n$plan")
      assert(f.queueSize() == rows.size)
    } finally s.listenerManager.unregister(listener)
  }
}
