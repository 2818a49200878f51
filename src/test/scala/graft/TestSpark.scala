package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // the production session shape (Verify/Bench/SparkEntry docs all
      // pin the extensions class): the SQL-registered native kernels
      // (graft_char_counts & co.) must resolve in tests exactly as
      // they do in the graded sessions
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // tables and layouts the tests write go to a per-run temp dir
      // deleted at JVM exit, not into the working directory
      .config("spark.sql.warehouse.dir", JvmScratch.warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Scheduler counters of the jobs `body` runs: (jobs, completed
    * stages, finished tasks, shuffle records written + read). The
    * listener bus is drained before and after, so events of earlier
    * work are not counted and none of `body`'s are missed. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int,
      shuffleRecords: Long)

  def counting[T](body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    var jobs = 0; var stages = 0; var tasks = 0; var records = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        synchronized { stages += 1 }
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        synchronized {
          tasks += 1
          val m = e.taskMetrics
          if (m != null) records += m.shuffleWriteMetrics.recordsWritten +
            m.shuffleReadMetrics.recordsRead
        }
    }
    org.apache.spark.sql.GraftShims.waitListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.GraftShims.waitListenerBus(sc)
      (out, listener.synchronized(Counts(jobs, stages, tasks, records)))
    } finally sc.removeSparkListener(listener)
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
