package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** ip-mode politeness slots (reference get_slot_key key_type='ip',
  * core/__init__.py:10-25, used by OverusedBuffer and the HBase queue's
  * host-cap collection): co-hosted hostnames resolve to one slot key
  * and share ONE per-slot budget. The resolver is injected (production:
  * a cached DNS lookup; here: the deterministic stub). */
class IpSlotSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("ip mode: two hosts on one resolved IP share one maxPerHost budget") {
    val root = tempDir("graft-ipslot").toString
    // resolver maps both a.com and b.com to one address, c.com elsewhere
    val resolver: String => String = {
      case "a.com" | "b.com" => "10.0.0.1"
      case _ => "10.9.9.9"
    }
    val f = new SparkFrontier(spark, root, partitions = 2, stateBuckets = 2,
      strategy = ScoreStrategy.BFS, globalOrder = true,
      maxPerHost = 4, ipResolver = Some(resolver))
    f.bulkSchedule(spark.range(30).select(
      when($"id" < 10, concat(lit("http://a.com/p/"), $"id"))
        .when($"id" < 20, concat(lit("http://b.com/p/"), $"id"))
        .otherwise(concat(lit("http://c.com/p/"), $"id")).as("url"),
      lit(0.5).as("score"), lit(0).as("depth")))
    val batch = f.nextBatch(100)
      .select($"url").as[String].collect()
    val aB = batch.count(_.startsWith("http://a.com"))
    val bB = batch.count(_.startsWith("http://b.com"))
    val cB = batch.count(_.startsWith("http://c.com"))
    assert(aB + bB == 4,
      s"co-hosted a.com+b.com must share ONE 4-request budget: a=$aB b=$bB")
    assert(cB == 4, s"c.com has its own slot: $cB")
    // withheld rows stay queued (politeness, not deletion)
    assert(f.queueSize() == 30 - 8)
  }

  test("host mode (default) unchanged: per-hostname budgets") {
    val root = tempDir("graft-hostslot").toString
    val f = new SparkFrontier(spark, root, partitions = 2, stateBuckets = 2,
      strategy = ScoreStrategy.BFS, globalOrder = true,
      maxPerHost = 4)
    f.bulkSchedule(spark.range(20).select(
      when($"id" < 10, concat(lit("http://a.com/p/"), $"id"))
        .otherwise(concat(lit("http://b.com/p/"), $"id")).as("url"),
      lit(0.5).as("score"), lit(0).as("depth")))
    val batch = f.nextBatch(100).select($"url").as[String].collect()
    assert(batch.count(_.startsWith("http://a.com")) == 4)
    assert(batch.count(_.startsWith("http://b.com")) == 4)
  }
}
