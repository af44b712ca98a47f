package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The dequeue's residue-rewrite commit runs on a background thread and
  * overlaps the caller's consumption of the batch. Every other queue
  * entry point joins the pending commit, so the overlap must be
  * OBSERVATIONALLY IDENTICAL to joining the commit before consuming —
  * same per-epoch batches, same final store state — including when
  * writes interleave with the drain. */
class AsyncCommitSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def prefill(f: SparkFrontier, n: Int, hosts: Int = 13,
      path: String = "p"): Unit =
    f.bulkSchedule(spark.range(n).select(
      concat(lit("http://h"), $"id" % hosts, lit(s".example/$path/"), $"id").as("url"),
      (($"id" % 10).cast("double") / 10.0).as("score"),
      lit(0).as("depth")))

  private def mk(): SparkFrontier =
    new SparkFrontier(spark,
      tempDir("graft-async").toString,
      partitions = 4, stateBuckets = 4, strategy = ScoreStrategy.BFS,
      globalOrder = false)

  /** `joinFirst`: wait for each batch's commit before consuming it,
    * instead of consuming while it runs */
  private def drain(f: SparkFrontier, budget: Int,
      joinFirst: Boolean = false): Seq[Set[String]] = {
    val out = Seq.newBuilder[Set[String]]
    var continue = true
    while (continue) {
      val b = f.nextBatch(budget)
      if (joinFirst) f.awaitQueueCommit()
      val urls = b.select($"url").as[String].collect().toSet
      b.unpersist()
      if (urls.nonEmpty) out += urls
      continue = urls.nonEmpty
    }
    out.result()
  }

  test("overlapped drain == joined drain (same epoch batches, same final state)") {
    val joined = mk()
    val overlapped = mk()
    prefill(joined, 500)
    prefill(overlapped, 500)
    val bj = drain(joined, 40, joinFirst = true)
    val bo = drain(overlapped, 40)
    assert(bo == bj, "per-epoch batch sets must match the joined drain")
    assert(overlapped.queueSize() == 0L && joined.queueSize() == 0L)
  }

  test("joined commits leave no commit thread behind") {
    def commitThreads = Thread.getAllStackTraces.keySet.toArray
      .map(_.asInstanceOf[Thread])
      .filter(t => t.getName == "graft-queue-commit" && t.isAlive).toSet
    // commits of frontiers other suites never joined are not this test's
    val before = commitThreads
    (0 until 3).foreach { _ =>
      val f = mk()
      prefill(f, 60)
      val b = f.nextBatch(5)
      b.count()
      b.unpersist()
      f.awaitQueueCommit()
    }
    val left = commitThreads -- before
    assert(left.isEmpty, s"${left.size} commit thread(s) alive after every frontier joined")
  }

  test("updateScores right behind an in-flight commit: no deadlock, consistent") {
    val f = mk()
    prefill(f, 300)
    val b = f.nextBatch(20)
    val dequeued = b.count(); b.unpersist()
    // updateScores takes the queue table lock — it must join the pending
    // background commit BEFORE acquiring it (regression: await inside the
    // lock deadlocks against the commit thread needing the same lock)
    val n = f.updateScores(
      Seq(("http://h1.example/p/27", 0.99)).toDF("url", "score"))
    assert(n <= 1)
    assert(f.queueSize() == 300 - dequeued)
  }

  test("append interleaved with an in-flight commit is not lost") {
    val f = mk()
    prefill(f, 300)
    val b1 = f.nextBatch(30)
    val n1 = b1.count(); b1.unpersist()
    // while (possibly) still committing the residue, append more work —
    // bulkSchedule must join the pending commit, not race it (disjoint
    // URL space: the queue is not a set, identical rows would collide)
    prefill(f, 100, hosts = 7, path = "q")
    val rest = drain(f, 1000)
    assert(n1 + rest.map(_.size).sum == 400L,
      s"no row lost or duplicated across the async boundary: $n1 + ${rest.map(_.size).sum}")
    assert(f.queueSize() == 0L)
  }
}
