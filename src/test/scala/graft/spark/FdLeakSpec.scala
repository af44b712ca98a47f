package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Regression for the round-4 bench crash: every `Files.list` in
  * BucketStore used to leak one directory fd (the stream's backing
  * DirectoryStream was never closed). One commit's directory walk then
  * opened buckets + leaves + per-leaf file listings, so a bulkSchedule over
  * 32 buckets × ~100 score bands leaked thousands of fds in a single
  * commit; ~16 sequential bench sessions then blew the process limit
  * ("Too many open files" inside BypassMergeSortShuffleWriter, 32 min
  * into BENCH_r04). This spec drives ~50 banded commits + a crashed-dir
  * cleanup + a compaction through one store and asserts the process fd
  * count does not grow with commit count. */
class FdLeakSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def openFds(): Int = {
    val dir = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(dir), "/proc/self/fd not available on this OS")
    val s = Files.list(dir)
    try s.count().toInt finally s.close()
  }

  test("50 banded commits + crashed-commit cleanup + compact leak no fds") {
    val root = tempDir("fdleak").toString
    val store = new BucketStore(root, "bucket", 4, bandCol = Some("band"),
      statCol = Some("created_at"))
    store.emptySchema = Some(StructType(Seq(
      StructField("fingerprint", StringType),
      StructField("created_at", LongType),
      StructField("bucket", IntegerType),
      StructField("band", IntegerType))))

    def epochDf(epoch: Int) =
      (0 until 16).map { i =>
        (s"fp-$epoch-$i", epoch.toLong, i % 4, i % 2)
      }.toDF("fingerprint", "created_at", "bucket", "band")

    // warmup: first commit pays lazy one-time fds (classloading, codec
    // pools, parquet footer reader) that are NOT per-commit leaks
    store.append(epochDf(0), 0)
    store.readBuckets(spark, Some(Set(0, 1))).count()
    val before = openFds()

    (1 to 50).foreach { e =>
      if (e == 25) {
        // simulate a crashed writer: data dir for the next version exists
        // but _CURRENT was never flipped — append must clear it
        // (deleteRecursively path) without leaking the walk
        val v = store.readManifest().version + 1
        val orphan = Paths.get(root, "data", s"commit=$v", "bucket=0", "band=0")
        Files.createDirectories(orphan)
        Files.writeString(orphan.resolve("junk.parquet.tmp"), "torn")
      }
      store.append(epochDf(e), e.toLong)
    }
    // band-pruned rewrite (replacePaths) + compaction both write leaves
    val m = store.readManifest()
    val somePaths = m.bucketPaths(0).take(4)
    store.replacePaths(store.readPaths(spark, somePaths), m.epoch, somePaths.toSet)
    store.compact(spark, maxPathsPerLeaf = 4)

    // a leak at any of the four old sites grows fds by O(commits × leaves)
    // (here ≥ 50 commits × 8 leaves); tolerate small unrelated jitter
    val after = openFds()
    assert(after - before <= 16,
      s"fd count grew from $before to $after across 50 commits — directory " +
        "streams are leaking again (BucketStore.listDir must close)")
  }
}
