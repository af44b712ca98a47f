package graft.images

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.local.Graphs
import graft.spark.{GraphTables, SparkTestBase, SparkFrontier, SparkCrawler, ScoreStrategy}

class ImageSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  test("png row round-trips exactly; jpeg row clears 40dB PSNR; captions match") {
    // find one host of each parity so both formats are covered
    val pngUrl = "http://aaa.com/1"   // fmt by signed_crc32(host) parity
    val jpgUrl = "http://bbb.com/1"
    val rows = Seq(pngUrl, jpgUrl).map(u => ImageSynth.rowFor(u, 0))
    val fmts = rows.map(_.fmt).toSet
    assert(fmts == Set("png", "jpeg"), s"expected both formats, got $fmts")
    Seq(pngUrl, jpgUrl).zip(rows).foreach { case (u, r) =>
      assert(ImageSynth.verifyRow(u, 0, r), s"payload invariant failed for $u")
      assert(!ImageSynth.verifyRow(u, 1, r), "caption must bind the depth")
    }
    // phash is stable and format-independent (computed pre-encode)
    assert(ImageSynth.rowFor(pngUrl, 0).phash == rows.head.phash)
  }

  test("fetch-join delivers verifiable payloads for a full crawl (distributed)") {
    import spark.implicits._
    val graph = Graphs.site02
    val images = GraphTables.imagesDS(spark, graph).cache()
    assert(images.count() == graph.nodes.size)

    val root = tempDir("graft-img").toString
    val frontier = new SparkFrontier(spark, root, partitions = 4,
      stateBuckets = 4, strategy = ScoreStrategy.BFS, globalOrder = true)
    frontier.addSeeds(graph.seeds)
    val crawler = new SparkCrawler(frontier, GraphTables.webDF(spark, graph),
      100, images = Some(images.toDF()))
    val seq = crawler.run()
    assert(seq.toSet == graph.nodes)

    // every crawled URL joins to its payload row; invariant holds per row
    val depths = GraphTables.depths(graph)
    val crawled = spark.createDataset(seq.map(u => (u, depths(u))))
      .toDF("url", "depth")
      .withColumn("image_id_expect", graft.spark.FrontierExprs.url_fingerprint($"url"))
    val joined = crawled.join(images, $"image_id_expect" === $"image_id")
    assert(joined.count() == graph.nodes.size, "fetch-join must hit every row")
    val failures = GraphTables.verifyPayload(
      joined.select($"url", $"depth",
        org.apache.spark.sql.functions.struct(
          $"image_id", $"bytes", $"w", $"h", $"fmt", $"caption", $"phash"))
        .as[(String, Int, ImageSynth.ImageRow)])
    assert(failures == 0)
  }

  test("ImageOps: distributed resize + feature extract (real decode, deterministic)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = (0 until 24).map { i =>
      ImageSynth.rowFor(s"http://h${i % 5}.com/p/$i", i % 4, 64, 64)
    }
    val df = spark.createDataset(rows).toDF()

    // thumbnail: every payload decodes, resizes to 32x32, re-encodes —
    // on the executors; dims verified by a real re-decode per row
    val thumbs = graft.images.ImageOps.withThumbnail(df, 32, 32).cache()
    val badDims = thumbs.select($"image_id", $"bytes").as[(String, Array[Byte])]
      .map { case (_, b) =>
        val img = ImageSynth.decode(b)
        if (img.getWidth == 32 && img.getHeight == 32) 0 else 1
      }.reduce(_ + _)
    assert(badDims == 0, "every thumbnail must decode at 32x32")
    assert(thumbs.select($"w", $"h").distinct().as[(Int, Int)].collect()
      .toSeq == Seq((32, 32)))

    // determinism: resizing the same payload twice is byte-identical
    val one = rows.head
    assert(java.util.Arrays.equals(
      graft.images.ImageOps.resize(one.bytes, 32, 32, one.fmt),
      graft.images.ImageOps.resize(one.bytes, 32, 32, one.fmt)))

    // content preserved through the downscale: the thumbnail upscaled
    // back correlates with the original scene (PSNR well above noise;
    // bilinear down+up of a smooth field loses detail but not identity)
    val down = graft.images.ImageOps.resize(one.bytes, 32, 32, one.fmt)
    val backUp = graft.images.ImageOps.resize(down, 64, 64, one.fmt)
    val p = graft.images.ImageOps.payloadPsnr(one.bytes, backUp)
    assert(p >= 20.0, s"round-trip PSNR too low: $p dB")

    // feature extract: mean RGB is a real decode fold, stable per row
    val feats = graft.images.ImageOps.withMeanRgb(df)
      .select($"image_id", $"mean_rgb").as[(String, Seq[Double])].collect()
    assert(feats.length == rows.length)
    feats.foreach { case (id, v) =>
      assert(v.length == 3 && v.forall(c => c >= 0.0 && c <= 255.0), s"$id: $v")
    }
    // distinct images yield distinct features (the synth varies per url)
    assert(feats.map(_._2).distinct.length > 1)
    thumbs.unpersist()
  }
}
