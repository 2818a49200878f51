package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one place engine streams start.
  *
  * `start` sets two confs for the duration of a stream's start and
  * restores them after: the checkpoint file manager
  * (`LocalCheckpointFileManager`, fork-free on `file:` paths) and,
  * when given, the shuffle partitions. The stream's cloned session,
  * its offset and commit logs and its state-store providers all read
  * their conf at start, so both settings hold for the query's whole
  * life while batch plans in the same session keep theirs.
  */
object StreamRunner {

  /** Spark's key for the checkpoint file manager class; the stream's
    * Hadoop conf carries it to `CheckpointFileManager.create`. */
  val managerConf = "spark.sql.streaming.checkpointFileManagerClass"
  val managerClass: String = classOf[LocalCheckpointFileManager].getName

  private val sinkId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Start a stream with the engine's checkpoint file manager.
    * `shufflePartitions` sizes the state: a stateful operator keeps one
    * state store per shuffle partition, and the count is fixed in the
    * checkpoint at the first start. */
  def start(s: SparkSession, shufflePartitions: Option[Int] = None)
      (startQuery: => StreamingQuery): StreamingQuery =
    graft.Tables.withConfs(s, (managerConf -> managerClass) +:
        shufflePartitions.map("spark.sql.shuffle.partitions" -> _.toString).toSeq)(
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
}
