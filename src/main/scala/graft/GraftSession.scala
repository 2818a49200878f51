package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine builds a `SparkSession`. The reference has
  * one entry main per subsystem, each building one execution
  * environment (`MatrixMultiply.main`, `KMeansOriginal.main`,
  * `collectives/Program.main`, `DAMDSProgram.main`); every main here,
  * the bench harness and the shared test session open theirs through
  * this object, so they cannot drift apart in cores or confs.
  *
  * Cores are `SPARK_GRAFT_CPUS`, else the JVM's available processors.
  * `SPARK_MASTER`, a deployment setting, overrides the local master of
  * every role but [[Test]].
  */
object GraftSession {
  sealed trait Role
  /** The reference mains, Verify and PlanAudit: the shared confs. */
  case object Main extends Role
  /** Bench and BenchIsolate: the shared confs plus the long-sweep
    * retention pins. */
  case object Sweep extends Role
  /** The shared test session: 4 cores whatever the host, so no pinned
    * partition, task or job count moves with it. */
  case object Test extends Role

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  private def coresOf(role: Role): Int = if (role == Test) 4 else cores

  private def master(role: Role): String =
    if (role == Test) "local[4]"
    else sys.env.getOrElse("SPARK_MASTER", s"local[$cores]")

  /** Status-listener retention for a 600+-execution sweep. Even with
    * the UI off, the AppStatusListener and SQLAppStatusListener retain
    * up to 1000 jobs/stages/executions and 100k tasks by default:
    * hundreds of multi-thousand-node plan graphs plus per-task metric
    * rows that clearCache()/gc() cannot free. Over a 262-query sweep
    * that old-gen ballast grew until late-sweep queries (s17, the
    * probes) ran 3-9x slow with growing back-to-back samples, a GC
    * signature rather than a plan regression (BENCH_NOTES.md). The
    * state-store maintenance tick unloads terminated streams' providers
    * every 10 s instead of 60 s: a sweep section that starts ~50
    * streams in a minute would otherwise hold every final state map on
    * heap at once. A long-lived production driver would pin these the
    * same way. */
  private val retentionPins: Map[String, String] = Map(
    "spark.sql.ui.retainedExecutions" -> "8",
    "spark.ui.retainedJobs" -> "64",
    "spark.ui.retainedStages" -> "128",
    "spark.ui.retainedTasks" -> "2000",
    "spark.sql.streaming.numRecentProgressUpdates" -> "10",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "10s")

  /** The confs a `role` session over `cores` cores carries. */
  def confs(role: Role, cores: Int): Map[String, String] = {
    val shared = Map(
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.warehouse.dir" -> JvmScratch.warehouse,
      "spark.ui.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> cores.toString)
    role match {
      case Main => shared
      case Sweep => shared ++ retentionPins
      case Test => shared + ("spark.app.name" -> "graft-test")
    }
  }

  /** A session of `role`, logging at WARN. Returns the running session
    * if there is one, like any `getOrCreate`. */
  def apply(role: Role = Main): SparkSession = {
    val spark = confs(role, coresOf(role))
      .foldLeft(SparkSession.builder().master(master(role))) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` on the JVM's default session when there is one (an
    * in-JVM caller's, such as a test's, used as it is), else on a new
    * [[Main]] session that is stopped afterwards. */
  def using[T](body: SparkSession => T): T =
    SparkSession.getDefaultSession match {
      case Some(spark) => body(spark)
      case None =>
        val spark = apply(Main)
        try body(spark) finally spark.stop()
    }
}
