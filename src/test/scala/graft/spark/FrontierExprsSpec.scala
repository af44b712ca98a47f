package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.spark.FrontierExprs._

class FrontierExprsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("expressions compute golden vectors inside codegen") {
    import spark.implicits._
    val df = Seq(
      "https://news.yandex.ru/yandsearch?cl4url=top.rbc.ru/politics/14/07/2015/55a50b509a79473f583e104c&lang=ru&lr=54#fragment",
      "http://test.com/someurl",
      "http://www.scrapy.org").toDF("url")
      .select(
        url_fingerprint($"url").as("fp"),
        hostname_local_fingerprint($"url").as("hlf"),
        url_host($"url").as("host"),
        signed_crc32(url_host($"url")).as("crc"),
        host_partition(url_host($"url"), 2).as("part"),
        seen_key($"url").as("seen"))
    val rows = df.collect()
    assert(rows(1).getAs[String]("fp") == "955ac04f1b1a96de60a5139ad90c80be87822159")
    assert(rows(0).getAs[String]("hlf") == "1be68ff5587d241e22865288133b37d63ab49e13")
    assert(rows(2).getAs[String]("host") == "www.scrapy.org")
    assert(rows(2).getAs[Int]("part") == 0)
    // seen_key deterministic + matches the core function
    assert(rows(1).getAs[Long]("seen") ==
      graft.core.Hashing.seenKey("http://test.com/someurl"))
    // plan stays in whole-stage codegen (no UDF / eval fallback) — use a
    // non-foldable source so constant folding can't shortcut the check
    val gen = spark.range(100)
      .select(concat(lit("http://h"), $"id", lit(".com/p")).as("url"))
      .select(url_fingerprint($"url"), seen_key($"url"), url_host($"url"))
    val plan = gen.queryExecution.executedPlan.toString
    // "*(n)" marks a WholeStageCodegen stage in the plan's simpleString
    assert(plan.startsWith("*("), plan)
    assert(gen.collect().length == 100)
  }

  test("bloom probe runs as a native expression inside whole-stage codegen") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bloom-cg").toString
    val bs = new BloomSeen(root)
    bs.rebuild(Seq((0, "fp-1"), (0, "fp-2")).toDF("sbucket", "fingerprint"),
      Set(0), version = 1)
    val bc = bs.broadcastFor(spark, Set(0))
    val df = spark.range(100)
      .select(concat(lit("fp-"), $"id").as("fingerprint"))
      .withColumn("sb", lit(0))
      .withColumn("seen", bloom_seen_probe(bc, $"sb", seen_key($"fingerprint")))
    val seen = df.filter($"seen").select($"fingerprint").as[String].collect().toSet
    assert(Set("fp-1", "fp-2").subsetOf(seen))
    assert(seen.size <= 4, s"fpp too high: $seen") // a couple of FPs ok
    // the probe (and the whole link-filter shape) stays in codegen — the
    // round-1 UDF version broke the hottest stage out of codegen
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.startsWith("*("), plan)
    val probeLine = plan.linesIterator.find(_.toLowerCase.contains("bloomseenprobe"))
    assert(probeLine.isDefined, plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("bound_long: same value interpreted and compiled, never folded to a literal") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{InterpretedUnsafeProjection, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    for (v <- Seq(0L, 40L, -3L, Long.MaxValue, Long.MinValue)) {
      val e = Seq(BoundLong(v))
      assert(GenerateUnsafeProjection.generate(e)(InternalRow.empty).getLong(0) == v)
      assert(InterpretedUnsafeProjection.createProjection(e)(InternalRow.empty).getLong(0) == v)
    }
    val df = spark.range(3).select((bound_long(40L) + 2).as("x"))
    assert(df.as[Long].collect().toSeq == Seq(42L, 42L, 42L))
    val exprs = df.queryExecution.optimizedPlan.expressions
    assert(exprs.exists(_.exists(_.isInstanceOf[BoundLong])), exprs.toString)
    assert(!exprs.exists(_.exists {
      case l: Literal => l.value == 42L || l.value == 40L
      case _ => false
    }), exprs.toString)
  }

  test("null propagates") {
    import spark.implicits._
    val df = Seq(Some("http://a.com/x"), None).toDF("url")
      .select(url_fingerprint($"url").as("fp"))
    assert(df.collect().map(r => Option(r.getAs[String]("fp"))).count(_.isEmpty) == 1)
  }
}
