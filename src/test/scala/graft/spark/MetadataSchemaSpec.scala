package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Metadata-table column parity with the reference's document store
  * (sqlalchemy/models.py:19-30: url, fingerprint, depth, created_at,
  * status_code, score, error, meta, headers, cookies, method) and the
  * additive-evolution guarantee: a store written before the new columns
  * existed keeps reading after the upgrade (typed nulls). */
class MetadataSchemaSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("metadata rows carry created_at, method, and the meta escape hatch") {
    val root = tempDir("graft-metacols").toString
    val f = new SparkFrontier(spark, root, partitions = 2, stateBuckets = 2,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    val web = Seq(("http://m.com/1", Seq("http://m.com/2")))
      .toDF("url", "outlinks")
    f.addSeeds(Seq("http://m.com/1"))
    new SparkCrawler(f, web, 10).run(maxEpochs = 5)
    val md = f.metadata.read(spark)
    val byName = md.schema.fields.map(sf => sf.name -> sf.dataType).toMap
    assert(byName("created_at") == LongType)
    assert(byName("method") == StringType)
    assert(byName("meta") == MapType(BinaryType, BinaryType))
    val rows = md.select($"url", $"method", $"created_at")
      .as[(String, String, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toList ==
      List("http://m.com/1", "http://m.com/2"))
    assert(rows.forall(_._2 == "GET"), "default method is GET")
    // created_at mirrors the queue row's schedule stamp (non-zero for
    // scheduled links; the seed's seq-stamp may be 0)
    assert(rows.last._3 > 0L)
  }

  test("additive evolution: a pre-upgrade metadata store reads with typed nulls") {
    val root = tempDir("graft-metaevo").toString
    // simulate a store written by the previous build: no created_at /
    // method / meta columns
    val oldSchema = StructType(Seq(
      StructField("fingerprint", StringType), StructField("url", StringType),
      StructField("depth", IntegerType), StructField("score", DoubleType),
      StructField("fetched_epoch", LongType), StructField("status", StringType),
      StructField("partition_id", IntegerType)))
    val old = new BucketStore(s"$root/metadata", "partition_id", 2)
    old.emptySchema = Some(oldSchema)
    val oldRows = Seq(("fp-old", "http://old.com/x", 0, 0.5, 1L, "200", 0))
      .toDF(oldSchema.fieldNames: _*)
    // epoch 0: the resumed engine's clock derives from queue/states, so
    // a coherent pre-upgrade store sits at/behind it (an epoch AHEAD of
    // the clock would rightly trip the per-store replay guard)
    old.append(oldRows, 0)

    val f = new SparkFrontier(spark, root, partitions = 2, stateBuckets = 2,
      strategy = ScoreStrategy.BFS, globalOrder = true)
    val got = f.metadata.read(spark)
      .select($"url", $"status", $"method", $"created_at")
      .collect()
    assert(got.length == 1)
    assert(got.head.getString(0) == "http://old.com/x")
    assert(got.head.getString(1) == "200")
    assert(got.head.isNullAt(2) && got.head.isNullAt(3),
      "pre-upgrade rows read the new columns as typed nulls")

    // and new epochs keep appending to the same store with the new shape
    val web = Seq(("http://old.com/y", Seq.empty[String])).toDF("url", "outlinks")
    f.addSeeds(Seq("http://old.com/y"))
    new SparkCrawler(f, web, 10).run(maxEpochs = 3)
    val all = f.metadata.read(spark).select($"url", $"method")
      .as[(String, String)].collect().toMap
    assert(all.keySet == Set("http://old.com/x", "http://old.com/y"))
    assert(all("http://old.com/y") == "GET")
  }
}
