package graft

import org.apache.spark.sql.{GraftShims, SparkSession}

/** One shared local SparkSession for the whole test run: the
  * production session shape (extensions, UTC, per-JVM warehouse) at a
  * fixed 4 cores and 4 shuffle partitions (`GraftSession.Test`). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(GraftSession.Test)

  /** Scheduler counters of the jobs `body` runs on the shared session;
    * see `GraftShims.counting`. */
  type Counts = GraftShims.Counts
  val Counts = GraftShims.Counts

  def counting[T](body: => T): (T, Counts) =
    GraftShims.counting(spark.sparkContext)(body)

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
