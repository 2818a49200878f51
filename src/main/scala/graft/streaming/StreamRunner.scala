package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one place engine streams start.
  *
  * `start` sets three confs for the duration of a stream's start and
  * restores them after:
  *  - the checkpoint file manager (`LocalCheckpointFileManager`,
  *    fork-free on `file:` paths);
  *  - artifact isolation off, so the stream's tasks reuse the classes
  *    the JVM already compiled (see `isolationConf`);
  *  - when given, the shuffle partitions.
  * The stream's cloned session, its offset and commit logs and its
  * state-store providers all read their conf at start, so the settings
  * hold for the query's whole life while batch plans in the same
  * session keep theirs.
  */
object StreamRunner {

  /** Spark's key for the checkpoint file manager class; the stream's
    * Hadoop conf carries it to `CheckpointFileManager.create`. */
  val managerConf = "spark.sql.streaming.checkpointFileManagerClass"
  val managerClass: String = classOf[LocalCheckpointFileManager].getName

  /** Spark's per-session artifact isolation. Not a tuning knob: every
    * stream runs in a cloned session with a fresh session UUID, and
    * with isolation on, the executor gives that UUID a new classloader
    * and makes it the task threads' context loader. `CodeGenerator`
    * caches compiled classes per (context loader, source), so each
    * stream start compiled all of its task-side classes again, byte
    * for byte the same as the last start's. Isolation only separates
    * jars and classes added to a session, and the engine adds none
    * (no `addArtifact`/`addJar` anywhere), so turning it off changes
    * no visibility. */
  val isolationConf = "spark.sql.artifact.isolation.enabled"

  private val sinkId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Start a stream with the engine's checkpoint file manager and no
    * artifact isolation. `shufflePartitions` sizes the state: a
    * stateful operator keeps one state store per shuffle partition,
    * and the count is fixed in the checkpoint at the first start. */
  def start(s: SparkSession, shufflePartitions: Option[Int] = None)
      (startQuery: => StreamingQuery): StreamingQuery =
    graft.Tables.withConfs(s,
      Seq(managerConf -> managerClass, isolationConf -> "false") ++
        shufflePartitions.map("spark.sql.shuffle.partitions" -> _.toString))(
      startQuery)

  /** Run `writer` over everything its sources hold now
    * (`Trigger.AvailableNow`) and wait for the query to finish. */
  def runToEnd(s: SparkSession, writer: DataStreamWriter[_],
      shufflePartitions: Option[Int] = None): Unit =
    start(s, shufflePartitions)(
      writer.trigger(Trigger.AvailableNow()).start()).awaitTermination()

  /** Run the streaming `out` to the end into a fresh memory sink in
    * output `mode` and return the sink table. */
  def memorySink(out: Dataset[_], mode: String,
      shufflePartitions: Option[Int] = None): DataFrame = {
    val s = out.sparkSession
    val name = s"graft_stream_sink_${sinkId.incrementAndGet()}"
    runToEnd(s, out.writeStream.format("memory").queryName(name)
      .outputMode(mode), shufflePartitions)
    s.table(name)
  }

  /** A file-stream source over the one parquet file `file` in `dir`.
    * The source lists the directory and the glob filter picks out the
    * file; `maxFilesPerTrigger` is pinned high so everything the source
    * admits lands in one micro-batch (the single-batch contract in
    * `StreamingQueries.runStream`). */
  def parquetFile(s: SparkSession, dir: String, file: String,
      schema: StructType): DataFrame =
    s.readStream.schema(schema)
      .option("pathGlobFilter", file)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(dir)
}
