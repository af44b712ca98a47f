package perfbench

import java.nio.file.Paths

/** Runs each workload's set-up and warm-up once, at seed 0, traced, so
  * that one JVM loads every class a run of any workload loads. `run.py`
  * runs it once per build with `-XX:ArchiveClassesAtExit`, and each run's
  * JVM then maps those classes from the archive instead of loading them.
  *
  * {{{
  * Prepare <work dir>
  * }}}
  */
object Prepare {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val tr = new Tracer(true)
    Workload.names.foreach { name =>
      val spark = Main.session(name, work)
      tr.attach(spark.sparkContext)
      val wl = Workload(name, spark, 0L, work, tr)
      wl.build()
      wl.warm()
      wl.close()
      spark.stop()
    }
  }
}
