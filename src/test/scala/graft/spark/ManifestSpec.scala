package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The BucketStore manifest document: the on-disk format stays readable,
  * the writer reproduces it byte for byte, and a damaged manifest fails
  * with an error that names the file. */
class ManifestSpec extends AnyFunSuite {

  private def store() =
    new BucketStore(Files.createTempDirectory("graft-manifest").toString,
      "partition_id", 4, bandCol = Some("band"))

  test("a manifest in the existing format parses to the same Manifest and writes back identically") {
    val s = store()
    val json = """{"epoch":7,"buckets":{"0":["/r/data/commit=3/partition_id=0/band=1"],""" +
      """"2":["/r/data/commit=1/partition_id=2/band=0","/r/data/commit=3/partition_id=2/band=4"]},""" +
      """"counters":{"dequeued":5,"dequeued.p2":3},""" +
      """"rows":{"/r/data/commit=1/partition_id=2/band=0":9007199254740993},""" +
      """"bucketv":{"0":3,"2":3},""" +
      """"props":{"jid.lastProcessed":"6","q\"uote":"back\\slash","queue.scoreBands":"100"},""" +
      """"pathmax":{"/r/data/commit=3/partition_id=0/band=1":0}}"""
    val expected = s.Manifest(4, 7,
      Map(0 -> List("/r/data/commit=3/partition_id=0/band=1"),
        2 -> List("/r/data/commit=1/partition_id=2/band=0",
          "/r/data/commit=3/partition_id=2/band=4")),
      Map("dequeued" -> 5L, "dequeued.p2" -> 3L),
      Map("/r/data/commit=1/partition_id=2/band=0" -> 9007199254740993L),
      Map(0 -> 3L, 2 -> 3L),
      Map("jid.lastProcessed" -> "6", "queue.scoreBands" -> "100", "q\"uote" -> "back\\slash"),
      Map("/r/data/commit=3/partition_id=0/band=1" -> 0L))
    assert(s.parseManifest(4, json, "m4.json") == expected)
    assert(s.manifestJson(expected) == json)
    // the first format carried only epoch, buckets and counters
    val first = """{"epoch":2,"buckets":{"1":["/r/a"]},"counters":{"seeds":3}}"""
    assert(s.parseManifest(1, first, "m1.json") ==
      s.Manifest(1, 2, Map(1 -> List("/r/a")), Map("seeds" -> 3L)))
  }

  test("a truncated manifest fails naming the file") {
    val s = store()
    s.commitCounters(1, Map("seeds" -> 3L), Map("k" -> "v"))
    val file = Paths.get(s.root, "manifest", s"m${s.currentVersion}.json")
    val json = Files.readString(file)
    Files.writeString(file, json.take(json.length / 2))
    val e = intercept[IllegalStateException](s.readManifest())
    assert(e.getMessage.contains(file.toString), e.getMessage)
    // an empty document too
    Files.writeString(file, "")
    val e2 = intercept[IllegalStateException](s.readManifest())
    assert(e2.getMessage.contains(file.toString), e2.getMessage)
  }
}
