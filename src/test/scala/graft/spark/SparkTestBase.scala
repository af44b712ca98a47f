package graft.spark

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (forked by sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // the deploy-time `--conf spark.sql.extensions=graft.spark
      // .GraftExtensions` path, wired here so every suite runs with the
      // SQL-registered frontier functions
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A child session in which no table is small enough to broadcast, so
    * every frontier runs its Bloom side (sidecars probed, maintained and
    * broadcast) however small its states table is. */
  lazy val bloomSide: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** Both sides of the URL-seen step, for specs that must hold on each:
    * the default session (a small states table takes the exact anti-join
    * alone) and `bloomSide`. */
  lazy val sides: Seq[(String, SparkSession)] = Seq("exact" -> spark, "bloom" -> bloomSide)
}
