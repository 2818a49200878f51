package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Loaders for the driver-provided parquet fixtures (see TESTDATA.md)
  * and the one parquet reader of the engine.
  *
  * All tables are plain parquet files under a scale-factor directory; at
  * cluster scale these would be partitioned/bucketed datasets, so every
  * query built on top must keep filters/projection pushdown-friendly
  * (verified via `.explain("formatted")` → `PushedFilters`/`ReadSchema`).
  *
  * Every parquet read in main code goes through [[parquet]]: a bare
  * `spark.read.parquet(path)` runs Spark's footer-inference job
  * (`SchemaMergeUtils.mergeSchemasInParallel`, one job) on every call,
  * so each query build re-read footers that set-up had already read.
  * `GraftSessionSpec` fails on a parquet read anywhere else in
  * `src/main`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** The parquet file or directory at `path`, read with its
    * [[parquetSchema]]: the read lists the files but runs no job once
    * the schema is known. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The schema Spark infers for the parquet at `path`, inferred once
    * per (session, path, file identity, inference confs).
    *
    * - File identity is the name, length and modification time of every
    *   file under `path`, listed through Hadoop's `FileSystem`, so a
    *   rewritten or appended path is inferred again.
    * - Inference confs are the session's `spark.sql.parquet.*` and
    *   `spark.sql.legacy.parquet.*` values, so a read inside
    *   [[withNanosAsLong]] keys apart from a plain one.
    *
    * A missing path has no files and no memo entry: the inference
    * raises Spark's own error, and a failed inference is not kept. */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.")
    }
    schemas.getOrBuild(spark, SchemaKey(path, files(spark, path), confs))(
      spark.read.parquet(path).schema)
  }

  private final case class SchemaKey(path: String,
      files: Seq[(String, Long, Long)], confs: Map[String, String])

  private val schemas =
    new operators.SessionCache[SchemaKey, StructType](_ => ())

  private def files(spark: SparkSession, path: String)
      : Seq[(String, Long, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Vector.newBuilder[(String, Long, Long)]
    try {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => () }
    out.result().sorted
  }

  /** `events.parquet` has shipped `ts` in two physical forms across
    * fixture generations: parquet TIMESTAMP(NANOS) — which Spark 4
    * rejects (PARQUET_TYPE_ILLEGAL) unless read as a raw long — and
    * plain TIMESTAMP(MICROS). We resolve with nanos-as-long set and
    * branch on what the footer actually declares ([[eventsTs]]), so
    * either fixture generation yields the same logical `ts` and oracle
    * SQL keeps using `ts` natively.
    *
    * The nanosAsLong flag is a session conf (no per-read DataFrameReader
    * option exists), but it is only consulted while the read resolves
    * its schema, so it is scoped here: set, resolve, then restored to
    * its prior value — a later read of some OTHER nanos-timestamp
    * parquet is not silently affected by this one.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    withNanosAsLong(spark) {
      eventsTs(parquet(spark, s"$dir/events.parquet"))
    }

  /** The logical `ts` of an events frame (batch or stream) resolved
    * under [[withNanosAsLong]]: a long column is the nanos generation
    * and becomes a micros timestamp (truncating, matching DuckDB's
    * `epoch_us`/timestamp-cast semantics on the same file); a
    * micros-generation column resolves as TIMESTAMP_NTZ and is cast to
    * the session-TZ timestamp (the session TZ is pinned UTC, so the
    * value is unchanged). Every downstream query and oracle sees one ts
    * type either way. */
  def eventsTs(raw: DataFrame): DataFrame =
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast(TimestampType))

  /** Run `body` (which must plan/execute eagerly — conf scope ends at
    * return) with the given session confs set, restoring priors after.
    * The one save/set/restore implementation every scoped-conf query
    * shares: the Some/None restore branch is easy to get subtly wrong
    * per copy, and a wrong branch leaks conf state across queries in
    * the shared session. */
  def withConfs[A](spark: SparkSession, pairs: Seq[(String, String)])
      (body: => A): A = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` (which must do its schema resolution eagerly) with the
    * nanosAsLong flag set, restoring the prior value after. */
  def withNanosAsLong[A](spark: SparkSession)(body: => A): A =
    withConfs(spark, Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true"))(body)
}
