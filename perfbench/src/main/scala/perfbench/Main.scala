package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: runs one workload against the engine's
  * public API and prints one JSON line for `run.py`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up (fresh session and input build) runs `setups` times, each in a
  * new session, and the last one is kept for the timed window; setup_s is
  * their median. The warm-up pass runs once, after the first set-up, so
  * the JIT and the generated-code cache are warm for the window; its time
  * is reported on its own as bench.warm_up_s.
  * The window runs whole rounds of the workload until `--seconds` have
  * passed: a closed loop, one caller, each call waiting for the last. */
object Main {
  private val setups = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    require(Workload.names.contains(name), s"unknown workload $name")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val work = Paths.get(opt("work")).toAbsolutePath
    val tr = new Tracer(opt("trace") == "1")
    val fds = new FdWatch

    fds.check("start")
    var warmS = 0.0
    var warmFigures = Map.empty[String, Double]
    val setupTimes = (1 to setups).map { i =>
      val t0 = System.nanoTime()
      val spark = session(name, work)
      tr.attach(spark.sparkContext)
      val wl = Workload(name, spark, seed, work, tr)
      tr.span("bench.build")(wl.build())
      val dt = (System.nanoTime() - t0) / 1e9
      if (i == 1) {
        val w0 = System.nanoTime()
        warmFigures = tr.span("bench.warm_up")(wl.warm())
        warmS = (System.nanoTime() - w0) / 1e9
        System.err.println(f"[perfbench] $name warm-up: $warmS%.2f s")
      }
      if (i < setups) { wl.close(); spark.stop() }
      fds.check(s"setup $i")
      System.err.println(f"[perfbench] $name set-up $i: $dt%.2f s")
      (dt, if (i == setups) Some((spark, wl)) else None)
    }
    val (spark, wl) = setupTimes.last._2.get
    val setupS = setupTimes.map(_._1).sorted.apply(setups / 2)

    tr.phase = "window"
    val gc0 = gcSeconds
    val cg0 = org.apache.spark.PerfbenchBridge.codegenCompiles
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || System.nanoTime() - t0 < seconds * 1e9) {
      val r0 = System.nanoTime()
      tr.span("bench.round")(wl.round())
      rounds += 1
      System.err.println(f"[perfbench] $name round $rounds: ${(System.nanoTime() - r0) / 1e9}%.2f s")
      fds.check(s"round $rounds")
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val gcS = gcSeconds - gc0
    val compiles = org.apache.spark.PerfbenchBridge.codegenCompiles - cg0
    val rep = {
      val r = wl.report(rounds)
      r.copy(failed = r.failed + warmFigures.getOrElse("failed", 0.0).toLong,
        layers = r.layers ++ (warmFigures - "failed"))
    }

    val layerRows = tr.layers("window")
    val setupRows = tr.layers("setup")
    val traced = layerMetrics(layerRows, setupRows, rounds, rep.layers)
    if (tr.enabled) {
      printTable(s"per-layer self time, timed window ($rounds rounds, totals per round)",
        layerRows, rounds)
      printTable("per-layer self time, last set-up", setupRows, 1)
      val dir = work.getParent.resolve("trace")
      Files.createDirectories(dir)
      val file = dir.resolve(s"$name-seed$seed.jsonl")
      Files.write(file, tr.jsonLines().asJava)
      println(s"spans: $file")
    }
    wl.close()
    spark.stop()
    fds.check("end")

    val e2e = rep.e2e ++ Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb)
    val layers = rep.layers ++ traced ++ Map(
      "jvm.gc_s" -> gcS, "spark.codegen_compiles" -> compiles.toDouble,
      "jvm.peak_rss_mb" -> peakRssMb, "fd.growth" -> fds.growth.toDouble,
      "bench.warm_up_s" -> warmS)
    val exact = rep.exact ++ traced.toSeq.sortBy(_._1).collect {
      case (k, v) if exactKey(k) => k -> v.round
    }
    rep.notes.foreach(n => println(s"$name: $n"))
    println(f"$name: setup_s samples ${setupTimes.map(t => f"${t._1}%.3f").mkString(" ")}; " +
      f"$rounds%d rounds in $windowS%.2f s; fds ${fds.summary}")
    println(s"$name: exact counts " + exact.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(Json.obj(Seq(
      "workload" -> name, "seed" -> seed, "rounds" -> rounds,
      "attempted" -> rep.attempted, "failed" -> rep.failed,
      "e2e" -> e2e, "layers" -> layers, "exact" -> exact.toMap)))
  }

  /** Counts that must repeat exactly at a seed: no times, no sizes that
    * depend on timing. */
  private def exactKey(k: String): Boolean =
    Seq(".calls", ".jobs", ".tasks", ".records_read").exists(k.endsWith)

  private[perfbench] def session(name: String, work: Path): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val b = SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    Workload.conf(name).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** VmHWM: the resident-set high-water mark of this JVM. */
  private def peakRssMb: Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status"))(
      _.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)).getOrElse(0.0)

  /** The layers the benchmark calls into, measured from its own spans. */
  private val layerSpans = Seq("frontier.next_batch", "frontier.bulk_schedule",
    "crawler.crawl_once", "ops", Tracer.Unattributed)

  private def layerMetrics(window: Seq[LayerRow], setup: Seq[LayerRow],
      rounds: Int, reported: Map[String, Double]): Map[String, Double] = {
    // all ops.<query> spans make up the `ops` layer
    def merged(rows: Seq[LayerRow], layer: String): Option[LayerRow] = {
      val rs = rows.filter(r => r.name == layer || (layer == "ops" && r.name.startsWith("ops.")))
      if (rs.isEmpty) None
      else {
        val w = new Work
        rs.foreach(r => w.add(r.work))
        Some(LayerRow(layer, rs.map(_.calls).sum, rs.map(_.s).sum, rs.map(_.selfS).sum,
          rs.map(_.driverS).sum, w))
      }
    }
    val perLayer = layerSpans.flatMap { layer =>
      // bulk_schedule only runs in set-up; the others per timed round
      merged(window, layer).map(_ -> rounds.toDouble)
        .orElse(merged(setup, layer).map(_ -> 1.0))
        .toSeq.flatMap { case (r, n) =>
          val w = r.work
          Seq("s" -> r.s, "calls" -> r.calls.toDouble, "jobs" -> w.jobs.toDouble,
            "tasks" -> w.tasks.toDouble, "task_s" -> w.taskMs / 1e3, "cpu_s" -> w.cpuNs / 1e9,
            "records_read" -> w.recordsRead.toDouble, "bytes_read" -> w.bytesRead.toDouble,
            "bytes_written" -> w.bytesWritten.toDouble,
            "shuffle_bytes" -> w.shuffleBytes.toDouble, "driver_s" -> r.driverS)
            .map { case (k, v) => s"${r.name}.$k" -> v / n }
        }
    }.toMap
    val ratios = Seq(
      "frontier.next_batch.read_per_row" -> ("frontier.next_batch.records_read", "frontier.next_batch.rows"),
      "crawler.crawl_once.jobs_per_epoch" -> ("crawler.crawl_once.jobs", "crawler.crawl_once.calls"))
    perLayer ++ ratios.flatMap { case (k, (num, den)) =>
      for (a <- perLayer.get(num); b <- perLayer.get(den).orElse(reported.get(den)) if b > 0)
        yield k -> a / b
    }
  }

  private def printTable(title: String, rows: Seq[LayerRow], per: Int): Unit = {
    println(s"== $title")
    println(f"${"layer"}%-34s ${"calls"}%7s ${"total_s"}%9s ${"self_s"}%9s ${"driver_s"}%9s " +
      f"${"jobs"}%7s ${"tasks"}%8s ${"task_s"}%9s ${"cpu_s"}%9s ${"rec_read"}%10s " +
      f"${"MB_read"}%8s ${"MB_wr"}%8s ${"MB_shuf"}%8s")
    rows.foreach { r =>
      val w = r.work
      println(f"${r.name}%-34s ${r.calls.toDouble / per}%7.1f ${r.s / per}%9.3f " +
        f"${r.selfS / per}%9.3f ${r.driverS / per}%9.3f ${w.jobs.toDouble / per}%7.1f " +
        f"${w.tasks.toDouble / per}%8.1f ${w.taskMs / 1e3 / per}%9.3f ${w.cpuNs / 1e9 / per}%9.3f " +
        f"${w.recordsRead.toDouble / per}%10.0f ${w.bytesRead / 1e6 / per}%8.2f " +
        f"${w.bytesWritten / 1e6 / per}%8.2f ${w.shuffleBytes / 1e6 / per}%8.2f")
    }
  }
}

/** Open file descriptors at each workload boundary. A count past half the
  * process limit, or more than 100 fds still open once the last session
  * has stopped, fails the run here rather than with "Too many open files"
  * in a later run. */
final class FdWatch {
  private val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
  private val limit: Long =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/limits"))(
      _.getLines().find(_.startsWith("Max open files"))
        .map(_.drop("Max open files".length).trim.split("\\s+")(0).toLong)
        .getOrElse(-1L)).getOrElse(-1L)

  private def open(): Int = {
    val d = Paths.get("/proc/self/fd")
    if (!Files.isDirectory(d)) -1
    else { val s = Files.list(d); try s.count().toInt finally s.close() }
  }

  def check(label: String): Unit = {
    val n = open()
    seen += label -> n
    if (n >= 0 && limit > 0 && n > limit / 2)
      throw new IllegalStateException(s"fd leak: $n open fds at $label (limit $limit)")
    if (label == "end" && growth > 100)
      throw new IllegalStateException(
        s"fd leak: $growth more open fds after the last session stopped than after the first set-up")
  }

  /** Open fds once the last session has stopped minus after the first
    * set-up: a session's own fds are gone by then, a leak's are not. */
  def growth: Int = {
    def at(label: String) = seen.find(_._1 == label).map(_._2).getOrElse(0)
    at("end") - at("setup 1")
  }

  def summary: String = seen.map { case (l, n) => s"$l=$n" }.mkString(", ")
}
