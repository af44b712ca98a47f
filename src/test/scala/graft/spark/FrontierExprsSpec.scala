package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.spark.FrontierExprs._

class FrontierExprsSpec extends AnyFunSuite with TempDirs {
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
    val root = tempDir("bloom-cg").toString
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

  /** The generated Java of `df`'s whole-stage codegen stages. */
  private def stageCode(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.doCodeGen()._2.body
    }

  test("in_batch_seen: same result interpreted and compiled, never folded, one class text for every batch") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    def u(s: String) = UTF8String.fromString(s)
    // batch order (score ascending, created_at descending); a failed
    // fetch "err" is seen by every link
    def batch(pages: (String, Option[Double], Long)*) = spark.sparkContext.broadcast(
      new BatchPages(Seq(DoubleType, LongType), Seq(true, false),
        (pages.map { case (f, sc, c) => u(f) -> InternalRow(sc.orNull, c) } :+
          (u("err") -> (null: InternalRow))).groupMap(_._1)(_._2)))
    val pages = batch(("a", Some(0.5), 10L), ("n", None, 10L), ("d", Some(0.9), 0L),
      ("d", Some(0.1), 0L))
    // (link fingerprint, parent score, parent created_at) -> seen
    val cases: Seq[((String, Option[Double], Long), Boolean)] = Seq(
      ("a", Some(0.5), 10L) -> true, // the page itself
      ("a", Some(0.4), 10L) -> false, // page after its parent
      ("a", Some(0.6), 0L) -> true,
      ("a", Some(0.5), 20L) -> false, // created_at descending: 10 comes after 20
      ("a", Some(0.5), 5L) -> true,
      ("a", None, 10L) -> true, // an unknown key counts as seen
      ("n", Some(0.0), 0L) -> true,
      ("d", Some(0.2), 0L) -> true, // the second row of "d" is before it
      ("d", Some(0.05), 0L) -> false,
      ("err", Some(0.0), 0L) -> true,
      ("zzz", Some(0.5), 10L) -> false,
      ((null: String), Some(0.5), 10L) -> false)
    val e = InBatchSeen(pages, Seq(BoundReference(0, StringType, true),
      BoundReference(1, DoubleType, true), BoundReference(2, LongType, false)))
    val compiled = GenerateUnsafeProjection.generate(Seq(e))
    val interpreted = InterpretedUnsafeProjection.createProjection(Seq(e))
    for (((f, sc, c), want) <- cases) {
      val row = InternalRow(if (f == null) null else u(f), sc.orNull, c)
      assert(compiled(row).getBoolean(0) == want, s"compiled ($f, $sc, $c)")
      assert(interpreted(row).getBoolean(0) == want, s"interpreted ($f, $sc, $c)")
    }
    // inside a whole-stage codegen plan too
    val links = cases.map(_._1).toDF("fp", "score", "created")
      .select(in_batch_seen(pages, $"fp", Seq($"score", $"created")))
    assert(links.as[Boolean].collect().toSeq == cases.map(_._2))
    // literal children stay an InBatchSeen: folding would inline the batch
    val folded = spark.range(1).select(in_batch_seen(pages, lit("a"), Seq(lit(0.5), lit(10L))))
    assert(folded.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[InBatchSeen])))
    assert(!folded.queryExecution.optimizedPlan.expressions.exists(_.exists {
      case l: Literal => l.dataType == BooleanType
      case _ => false
    }))
    assert(folded.as[Boolean].collect().toSeq == Seq(true))
    // batches of 1 and 5 pages: the same generated code
    def plan(b: org.apache.spark.broadcast.Broadcast[BatchPages]) = spark.range(8)
      .select(concat(lit("p"), $"id").as("fp"), ($"id" / 10.0).as("score"), $"id".as("created"))
      .select(in_batch_seen(b, $"fp", Seq($"score", $"created")).as("seen"))
    val one = batch(("p1", Some(0.1), 1L))
    val five = batch((1 to 5).map(i => (s"p$i", Option(i / 10.0), 9L)): _*)
    assert(stageCode(plan(one)).nonEmpty)
    assert(stageCode(plan(one)) == stageCode(plan(five)))
    assert(plan(one).as[Boolean].collect().count(identity) == 1)
    assert(plan(five).as[Boolean].collect().count(identity) == 5)
  }

  test("bound_lookup: same value interpreted and compiled, never folded, one class text for every table") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    def table(keys: String*) = spark.sparkContext.broadcast[Map[UTF8String, Any]](
      keys.map(k => UTF8String.fromString(k) -> UTF8String.fromString(k.toUpperCase)).toMap)
    val t = table("a", "b")
    val e = BoundLookup(t, StringType, BoundReference(0, StringType, true))
    val compiled = GenerateUnsafeProjection.generate(Seq(e))
    val interpreted = InterpretedUnsafeProjection.createProjection(Seq(e))
    for ((k, want) <- Seq("a" -> "A", "b" -> "B", "c" -> null, (null: String) -> null)) {
      val row = InternalRow(if (k == null) null else UTF8String.fromString(k))
      for (p <- Seq(compiled, interpreted)) {
        val r = p(row)
        assert((if (r.isNullAt(0)) null else r.getUTF8String(0).toString) == want, s"$k")
      }
    }
    val folded = spark.range(1).select(bound_lookup(t, StringType, lit("a")))
    assert(folded.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[BoundLookup])))
    assert(folded.as[String].collect().toSeq == Seq("A"))
    def plan(tb: org.apache.spark.broadcast.Broadcast[Map[UTF8String, Any]]) = spark.range(8)
      .select(bound_lookup(tb, StringType, concat(lit("p"), $"id")).as("v"))
    val (one, five) = (table("p1"), table((1 to 5).map(i => s"p$i"): _*))
    assert(stageCode(plan(one)).nonEmpty)
    assert(stageCode(plan(one)) == stageCode(plan(five)))
    assert(plan(five).as[String].collect().count(_ != null) == 5)
  }

  test("null propagates") {
    import spark.implicits._
    val df = Seq(Some("http://a.com/x"), None).toDF("url")
      .select(url_fingerprint($"url").as("fp"))
    assert(df.collect().map(r => Option(r.getAs[String]("fp"))).count(_.isEmpty) == 1)
  }
}
