package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The BucketStore manifest document: the on-disk format stays readable,
  * the writer reproduces it byte for byte, a damaged manifest fails
  * with an error that names the file, every commit keeps it in step
  * with the leaves it references, and reads are planned from it without
  * listing a directory. */
class ManifestSpec extends AnyFunSuite with TempDirs {

  private def store() =
    new BucketStore(tempDir("graft-manifest").toString,
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
    // deletes: per path, per file, a cardinality and a portable bitmap
    val dv = BucketStore.Deletes.of(org.roaringbitmap.RoaringBitmap.bitmapOf(0, 2, 3))
    assert(dv.cardinality == 3 && dv.positions == org.roaringbitmap.RoaringBitmap.bitmapOf(0, 2, 3))
    val withDeletes = expected.copy(
      pathFiles = Map("/r/data/commit=1/partition_id=2/band=0" -> Map("part-0.parquet" -> 812L)),
      pathDeletes = Map("/r/data/commit=1/partition_id=2/band=0" -> Map("part-0.parquet" -> dv)))
    val deletesJson = json.stripSuffix("}") +
      ""","files":{"/r/data/commit=1/partition_id=2/band=0":{"part-0.parquet":812}}""" +
      ""","deletes":{"/r/data/commit=1/partition_id=2/band=0":{"part-0.parquet":""" +
      s"""{"cardinality":3,"bitmap":"${dv.bitmap}"}}}}"""
    assert(s.manifestJson(withDeletes) == deletesJson)
    assert(s.parseManifest(4, deletesJson, "m4.json") == withDeletes)
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
    // and a second document after the first
    Files.writeString(file, json + json)
    val e3 = intercept[IllegalStateException](s.readManifest())
    assert(e3.getMessage.contains(file.toString), e3.getMessage)
  }

  test("a manifest version is parsed once; a commit through another store on the root is seen") {
    val s = store()
    s.commitCounters(1, Map("seeds" -> 3L), Map("k" -> "v"))
    val m = s.readManifest()
    assert(s.readManifest() eq m)
    // a second store on the same root commits the next version
    val other = new BucketStore(s.root, "partition_id", 4, bandCol = Some("band"))
    other.commitCounters(2, Map("seeds" -> 4L), Map("k" -> "w"))
    val m2 = s.readManifest()
    assert(m2.version == m.version + 1 && m2.epoch == 2 && m2.props("k") == "w")
    assert(s.readManifest() eq m2)
    assert(other.readManifest() == m2)
  }

  test("a frontier leaves the session conf alone, and planning a store read starts no job") {
    val s = SparkTestBase.spark.newSession()
    import s.implicits._
    val listingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert(s.conf.get(listingThreshold) == "32", "fixture: Spark's default listing threshold")
    val before = s.conf.getAll
    val f = new SparkFrontier(s, tempDir("graft-nolist").toString, partitions = 4)
    assert(s.conf.getAll == before)
    // 16 hosts over 4 buckets, 20 score bands: more leaves than the threshold
    val rows = for (h <- 0 until 16; b <- 0 until 20)
      yield (s"http://h$h.example/p$b", (b + 0.5) / 100, 0)
    f.bulkSchedule(rows.toDF("url", "score", "depth"))
    assert(f.queue.readManifest().bucketPaths.valuesIterator.flatten.size > 32)
    f.states.append(rows.zipWithIndex.map { case ((u, _, _), i) => (u, 1, i % 4) }
      .toDF("fingerprint", "state", "sbucket"), 1)
    assert(f.states.readManifest().bucketPaths.size == 4)
    assert(s.conf.getAll == before)

    // jobs of this thread's group; a marker job ends the count, since the
    // listener bus delivers job starts in order
    val sc = s.sparkContext
    val group = "graft-manifest-plan"
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "plan")
      Seq(f.queue.read(s), f.queue.readVersioned(s), f.queue.readBuckets(s, Some(Set(0, 1))),
        f.states.readAt(s, f.states.readManifest())).foreach(_.queryExecution.optimizedPlan)
      sc.setJobGroup(group, "marker")
      sc.parallelize(Seq(1), 1).count()
      val jobs = Iterator.continually(Option(started.poll(60, java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(fail("the marker job's start never arrived")))
        .takeWhile(_ != "marker").toList
      assert(jobs.isEmpty, s"planning started ${jobs.size} job(s)")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(f.queueSize() == rows.size)
  }

  test("a read planned from a manifest with file lists lists no directory") {
    val s = SparkTestBase.spark.newSession()
    import s.implicits._
    // the reads' Hadoop file system counts its listings
    s.conf.set("fs.file.impl", classOf[ListCountingFileSystem].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    val f = new SparkFrontier(s, tempDir("graft-nolist").toString,
      partitions = 4, stateBuckets = 4)
    f.bulkSchedule((0 until 200).map(i => (s"http://h${i % 8}.example/p$i", (i % 20) / 100.0, 0))
      .toDF("url", "score", "depth"))
    f.states.append((0 until 50).map(i => (s"fp-$i", 1, i % 4))
      .toDF("fingerprint", "state", "sbucket"), 1)
    // the listings of a read's planning and execution
    def listings(read: => DataFrame): Int = {
      val before = ListCountingFileSystem.calls.get
      read.count()
      ListCountingFileSystem.calls.get - before
    }
    val reads: Seq[() => DataFrame] = Seq(() => f.queue.read(s), () => f.queue.readVersioned(s),
      () => f.queue.readBuckets(s, Some(Set(0, 1))),
      () => f.states.readAt(s, f.states.readManifest()))
    reads.foreach(r => assert(listings(r()) == 0))
    // without file lists, as written before them, the same reads list
    // their leaves
    Seq(f.queue, f.states).foreach { store =>
      val file = Paths.get(store.root, "manifest", s"m${store.currentVersion}.json")
      Files.writeString(file, store.manifestJson(store.readManifest().copy(pathFiles = Map.empty)))
    }
    reads.foreach(r => assert(listings(r()) > 0))
  }

  /** a store of one path holding one file of `n` rows: the store, the
    * path and the file's name */
  private def onePath(n: Int): (BucketStore, String, String) = {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val s = new BucketStore(tempDir("graft-hostile").toString, "bucket", 1)
    s.emptySchema = Some(StructType(Seq(StructField("fingerprint", StringType),
      StructField("bucket", IntegerType))))
    s.append((0 until n).map(i => (s"fp-$i", 0)).toDF("fingerprint", "bucket"), 1)
    val Seq((p, files)) = s.readManifest().pathFiles.toSeq
    val Seq(name) = files.keys.toSeq
    (s, p, name)
  }

  /** `s` reopened after `edit` rewrote its current manifest */
  private def edited(s: BucketStore)(edit: s.Manifest => s.Manifest): BucketStore = {
    val file = Paths.get(s.root, "manifest", s"m${s.currentVersion}.json")
    Files.writeString(file, s.manifestJson(edit(s.readManifest())))
    val reopened = new BucketStore(s.root, s.bucketCol, s.buckets)
    reopened.emptySchema = s.emptySchema
    reopened
  }

  /** `s` reopened after its current manifest's deletes became `deletes` */
  private def withDeletes(s: BucketStore,
      deletes: Map[String, Map[String, BucketStore.Deletes]]): BucketStore =
    edited(s)(_.copy(pathDeletes = deletes))

  /** The reads of a store's whole table: in Spark tasks, and on the
    * driver with no job (`readLocal`, the seen set's read); a hostile
    * manifest must fail both the same way. */
  private def reads(s: BucketStore): Seq[(String, () => Seq[Row])] = {
    val spark = SparkTestBase.spark
    val schema = s.emptySchema.get
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(schema)
    Seq("tasks" -> (() => s.read(spark).collect().toSeq),
      "driver" -> { () =>
        val m = s.readManifest()
        s.readLocal(spark, m, m.bucketPaths.valuesIterator.flatten.toSeq, schema.fieldNames.toSeq)
          .map(r => toRow(r).asInstanceOf[Row])
      })
  }

  /** the messages of `e` and of its causes */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("a delete of a file its path does not list fails the manifest parse, naming both") {
    val (s, p, name) = onePath(4)
    val dv = BucketStore.Deletes.of(org.roaringbitmap.RoaringBitmap.bitmapOf(1))
    assert(withDeletes(s, Map(p -> Map(name -> dv))).readManifest().deletedRows(p) == 1)
    val e = intercept[IllegalStateException](
      withDeletes(s, Map(p -> Map("part-gone.parquet" -> dv))).readManifest())
    assert(e.getMessage.contains(s"m${s.currentVersion}.json") &&
      e.getMessage.contains(s"$p/part-gone.parquet"), e.getMessage)
  }

  test("a delete position past its file's rows fails the read, naming the file") {
    val spark = SparkTestBase.spark
    val (s, p, name) = onePath(4)
    def deleting(pos: Int) = withDeletes(s,
      Map(p -> Map(name -> BucketStore.Deletes.of(org.roaringbitmap.RoaringBitmap.bitmapOf(pos)))))
    assert(deleting(3).read(spark).count() == 3, "the last row's position deletes it")
    for ((side, read) <- reads(deleting(3))) assert(read().size == 3, side)
    for ((side, read) <- reads(deleting(4))) {
      val e = intercept[Exception](read())
      assert(messages(e).contains(name) && messages(e).contains("position 4"), s"$side: ${messages(e)}")
    }
  }

  test("a delete whose bitmap differs from its recorded cardinality fails the read, naming the file") {
    val spark = SparkTestBase.spark
    val (s, p, name) = onePath(4)
    val dv = BucketStore.Deletes.of(org.roaringbitmap.RoaringBitmap.bitmapOf(0, 2))
    val hostile = withDeletes(s, Map(p -> Map(name -> dv.copy(cardinality = 3))))
    assert(hostile.readManifest().liveRows(p).contains(1L), "fixture: the manifest counts 1 live row")
    for ((side, read) <- reads(hostile)) {
      val e = intercept[Exception](read())
      assert(messages(e).contains(name) && messages(e).contains("records 3"), s"$side: ${messages(e)}")
    }
  }

  test("a file length or row count in the manifest that differs from the file's fails the read or reads the file whole") {
    val spark = SparkTestBase.spark
    val (s, p, name) = onePath(4)
    val len = s.readManifest().pathFiles(p)(name)
    assert(Files.size(Paths.get(p, name)) == len, "fixture: the manifest records the file's length")
    val rows = s.read(spark).collect().toSeq
    // the parquet reader finds the footer at the file's own length and
    // reads the row groups whose midpoint lies within the recorded one
    for (wrong <- Seq(0L, 1L, len / 4, len / 2, len - 1, len + 1, 2 * len);
         (side, read) <- reads(edited(s)(m => m.copy(pathFiles = Map(p -> Map(name -> wrong)))))) {
      scala.util.Try(read()) match {
        case scala.util.Success(got) => assert(got == rows, s"$side, length $wrong")
        case scala.util.Failure(e) =>
          assert(messages(e).contains(name) && messages(e).contains("the manifest records 4"),
            s"$side, length $wrong: ${messages(e)}")
      }
    }
    for ((side, read) <- reads(edited(s)(m => m.copy(pathFiles = Map(p -> Map(name -> 0L)))))) {
      val e = intercept[Exception](read())
      assert(messages(e).contains(s"$name: its path's 1 file(s) hold 0 rows"), s"$side: ${messages(e)}")
    }
    for ((side, read) <- reads(edited(s)(m =>
        m.copy(pathFiles = Map(p -> Map(name -> len)), pathRows = Map(p -> 5L))))) {
      val e2 = intercept[Exception](read())
      assert(messages(e2).contains(s"$name: its path's 1 file(s) hold 4 rows, the manifest records 5"),
        s"$side: ${messages(e2)}")
    }
  }

  test("deletes name referenced files through append, dequeue, replacePaths, compact and a full drain") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val f = new SparkFrontier(spark, tempDir("graft-deletes").toString,
      partitions = 4, stateBuckets = 4)
    val s = f.queue
    def commitOf(p: String): Long =
      p.split('/').find(_.startsWith("commit=")).get.stripPrefix("commit=").toLong
    // every delete names a file the manifest references and holds at
    // most its rows; live rows equal a read of each path and add up to
    // queueSize; a versioned read holds the live rows, each with the
    // commit of its path; the document writes back byte for byte
    def check(what: String): Unit = {
      f.awaitQueueCommit()
      val m = s.readManifest()
      val referenced = m.bucketPaths.values.flatten.toSet
      assert(m.pathDeletes.keySet.subsetOf(referenced), what)
      m.pathDeletes.foreach { case (p, ds) =>
        ds.foreach { case (name, d) =>
          assert(m.pathFiles(p).contains(name), s"$what: $p/$name")
          assert(d.cardinality > 0 && d.cardinality <= spark.read.parquet(s"$p/$name").count(),
            s"$what: $p/$name")
        }
      }
      referenced.foreach(p =>
        assert(m.liveRows(p).contains(s.readPaths(spark, Seq(p)).count()), s"$what: $p"))
      assert(f.queueSize() == s.read(spark).count(), what)
      val versioned = s.readVersioned(spark).collect().toSeq
        .map(r => (Row.fromSeq(r.toSeq.init), r.getAs[Long](BucketStore.CommitCol)))
      assert(versioned.size == f.queueSize(), what)
      val byPath = referenced.toSeq.flatMap(p =>
        s.readPaths(spark, Seq(p)).collect().map(_ -> commitOf(p)))
      assert(DequeueModel.multiset(versioned) == DequeueModel.multiset(byPath), what)
      val json = Files.readString(Paths.get(s.root, "manifest", s"m${m.version}.json"))
      assert(s.manifestJson(s.parseManifest(m.version, json, "m.json")) == json, what)
      assert(json.contains("\"deletes\"") == m.pathDeletes.nonEmpty, what)
    }
    f.bulkSchedule(spark.range(400).select(
      concat(lit("http://h"), $"id" % 13, lit(".example/p/"), $"id").as("url"),
      (($"id" % 10).cast("double") / 10.0).as("score"), lit(0).as("depth")))
    check("append")
    f.nextBatch(7).count()
    check("dequeue")
    assert(s.readManifest().pathDeletes.nonEmpty, "fixture: the dequeue deleted rows")
    // a path with deletes rewritten as it reads: it leaves with its deletes
    val m = s.readManifest()
    val p = m.pathDeletes.keys.min
    s.replacePaths(s.readPaths(spark, Seq(p)).withColumn("band", lit(s.bandOf(p))),
      m.epoch, Set(p))
    check("replacePaths")
    assert(!s.readManifest().pathDeletes.contains(p))
    f.nextBatch(7).count()
    check("second dequeue")
    val rows = s.read(spark).collect().toSet
    f.compactQueue(1)
    check("compact")
    assert(s.readManifest().pathDeletes.isEmpty && s.read(spark).collect().toSet == rows)
    while (f.nextBatch(50).count() > 0) check("drain")
    check("drained")
    // every file lost its last row and left, and so did every path
    assert(f.queueSize() == 0 && s.readManifest().bucketPaths.isEmpty)
  }

  test("append, replacePaths, deletePositions and compact keep paths, row counts and bucket versions in step") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    for (banded <- Seq(true, false)) {
      val s = new BucketStore(tempDir("graft-merge").toString,
        "bucket", 4, bandCol = if (banded) Some("band") else None)
      s.emptySchema = Some(StructType(Seq(StructField("fingerprint", StringType),
        StructField("bucket", IntegerType)) ++
        (if (banded) Seq(StructField("band", IntegerType)) else Nil)))
      def rows(ids: Range, bucket: Int => Int): DataFrame = {
        val df = ids.map(i => (s"fp-$i", bucket(i), i % 2)).toDF("fingerprint", "bucket", "band")
        if (banded) df else df.drop("band")
      }
      // a versioned read carries each row's commit version, typed even empty
      def versions(buckets: Set[Int]): Set[Long] =
        s.readVersioned(spark).filter($"bucket".isInCollection(buckets))
          .select(BucketStore.CommitCol).as[Long].collect().toSet
      assert(s.readVersioned(spark).schema(BucketStore.CommitCol).dataType == LongType)
      var prev = s.readManifest()
      // after each commit: one row count per referenced path, equal to the
      // leaf's parquet rows, one file list per referenced path, equal to
      // the leaf's parquet files and lengths, deletes only of listed
      // files, each at most the file's rows, live rows equal to a read of
      // the path, and a new version for exactly `touched`
      def committed(what: String, touched: Set[Int]): Unit = {
        val m = s.readManifest()
        val ctx = s"${if (banded) "banded" else "unbanded"} $what"
        assert(m.version == prev.version + 1, ctx)
        val referenced = m.bucketPaths.values.flatten.toSet
        assert(m.pathRows.keySet == referenced, ctx)
        referenced.foreach(p => assert(m.pathRows(p) == spark.read.parquet(p).count(), s"$ctx: $p"))
        assert(m.pathFiles.keySet == referenced, ctx)
        referenced.foreach { p =>
          val onDisk = Files.list(Paths.get(p))
          val files = try onDisk.iterator.asScala.map(_.toFile)
            .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
          finally onDisk.close()
          assert(m.pathFiles(p) == files, s"$ctx: $p")
          assert(m.liveRows(p).contains(s.readPaths(spark, Seq(p)).count()), s"$ctx: $p")
        }
        m.pathDeletes.foreach { case (p, ds) =>
          assert(ds.nonEmpty && ds.keySet.subsetOf(m.pathFiles(p).keySet), s"$ctx: $p")
          ds.foreach { case (name, d) =>
            assert(d.cardinality == d.positions.getLongCardinality, s"$ctx: $p/$name")
            assert(d.cardinality <= spark.read.parquet(s"$p/$name").count(), s"$ctx: $p/$name")
          }
        }
        val bumped = m.bucketVersions.collect {
          case (b, v) if !prev.bucketVersions.get(b).contains(v) => b }.toSet
        assert(bumped == touched, ctx)
        assert(touched.forall(b => m.bucketVersions(b) == m.version), ctx)
        prev = m
      }
      s.append(rows(0 until 40, _ % 3), 1)
      committed("append", Set(0, 1, 2))
      assert(versions(Set(0, 1, 2)) == Set(s.currentVersion))
      s.append(rows(40 until 80, _ % 2), 2)
      committed("second append", Set(0, 1))

      // bucket 2 keeps one row (fp-20); bucket 3 gains its first
      val b2 = s.readManifest().bucketPaths(2)
      s.replacePaths(s.readPaths(spark, b2).filter($"fingerprint".endsWith("0"))
        .unionByName(rows(80 until 81, _ => 3)), 3, b2.toSet)
      committed("replacePaths", Set(2, 3))

      // buckets 0 and 1 read; only bucket 0 loses a row (fp-0), and no
      // data file is written
      val read01 = s.readManifest().bucketPaths.filter(_._1 < 2).values.flatten.toSeq
      val positions = s.readPaths(spark, read01, positions = true)
        .select($"fingerprint", col(BucketStore.FileCol), col(BucketStore.PosCol))
        .as[(String, Int, Int)].collect()
      val deletes = positions.groupBy(_._2).collect { case (file, rs) if rs.exists(_._1 == "fp-0") =>
        file -> BucketStore.FileDelete(
          org.roaringbitmap.RoaringBitmap.bitmapOf(rs.filter(_._1 == "fp-0").map(_._3): _*), rs.length)
      }
      val dataDirs = Files.list(Paths.get(s.root, "data"))
      val dirsBefore = try dataDirs.count() finally dataDirs.close()
      s.deletePositions(read01, deletes, 4, Map("lost" -> 1L))
      committed("deletePositions", Set(0))
      val dataDirsAfter = Files.list(Paths.get(s.root, "data"))
      assert(try dataDirsAfter.count() == dirsBefore finally dataDirsAfter.close())
      assert(s.readManifest().pathDeletes.values.flatMap(_.values).map(_.cardinality).sum == 1L)
      assert(s.read(spark).filter($"fingerprint" === "fp-0").isEmpty)

      val rowsBefore = s.read(spark).count()
      // a path with deletes counts one more file
      val mc = s.readManifest()
      val overgrown = mc.bucketPaths.collect {
        case (b, ps) if ps.groupBy(s.bandOf).values
          .exists(g => g.size + g.count(mc.pathDeletes.contains) > 1) => b }.toSet
      assert(overgrown.contains(0) && overgrown.contains(1))
      assert(s.compact(spark, maxPathsPerLeaf = 1) == overgrown)
      committed("compact", overgrown)
      assert(s.readManifest().pathDeletes.isEmpty, "compaction drops the deleted rows")
      assert(versions(overgrown).max == s.currentVersion)
      assert(s.read(spark).count() == rowsBefore)

      s.commitCounters(6, Map("epochs" -> 6L))
      committed("commitCounters", Set.empty)

      // a manifest without file lists, as written before them: Spark
      // lists the leaves, and the read holds the same rows
      val rowsNow = s.read(spark).collect().toSet
      val file = Paths.get(s.root, "manifest", s"m${s.currentVersion}.json")
      Files.writeString(file, s.manifestJson(s.readManifest().copy(pathFiles = Map.empty)))
      assert(!Files.readString(file).contains("\"files\""))
      assert(s.readManifest().pathFiles.isEmpty)
      assert(s.read(spark).collect().toSet == rowsNow)
    }
  }
}

/** The local file system, counting the `listStatus` calls of every
  * instance. */
class ListCountingFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    ListCountingFileSystem.calls.incrementAndGet()
    super.listStatus(p)
  }
}
object ListCountingFileSystem {
  val calls = new java.util.concurrent.atomic.AtomicInteger
}
