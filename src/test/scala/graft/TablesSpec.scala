package graft

import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet` infers each parquet source's schema once per
  * session: a repeat query build runs no Spark job, a rewritten path is
  * inferred again, and the parquet confs in force key reads apart. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a second construction of d06, d86, v04 and v09 at sf0.01 runs no job") {
    val names = Seq("d06_minhash_lsh", "d86_bpe_encode",
      "v04_cosine_dup_lsh", "v09_knn_ivfpq")
    names.foreach(q => SparkEntry.queries(q)(spark, TestSpark.sf001))
    val jobs = names.map { q =>
      q -> TestSpark.counting(
        SparkEntry.queries(q)(spark, TestSpark.sf001))._2.jobs
    }
    assert(jobs.forall(_._2 == 0), jobs)
  }

  test("a path overwritten with a different schema reads the new schema") {
    val path = JvmScratch.dir("tables_spec_").resolve("t.parquet").toString
    spark.range(3).toDF("a").write.parquet(path)
    assert(Tables.parquet(spark, path).schema.fieldNames.toSeq == Seq("a"))
    val (_, again) = TestSpark.counting(Tables.parquet(spark, path).schema)
    assert(again.jobs == 0, again)
    spark.range(5).selectExpr("id AS b", "'x' AS c")
      .write.mode("overwrite").parquet(path)
    val df = Tables.parquet(spark, path)
    assert(df.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(df.count() == 5)
  }

  test("an events read inside withNanosAsLong and a plain read keep their own schemas") {
    // the nanos generation of events.parquet: ts as TIMESTAMP(NANOS),
    // which Spark reads only as a raw long under the nanosAsLong conf
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val dir = JvmScratch.dir("tables_nanos_").toString
    val path = s"$dir/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L)
      .append("user_id", 7L).append("event_type", Binary.fromString("view"))
      .append("value", 1.5).append("props", Binary.fromString("{}")))
    finally w.close()

    def tsType() = Tables.parquet(spark, path).schema("ts").dataType
    assert(Tables.withNanosAsLong(spark)(tsType()) == LongType)
    // the plain read is not served the scoped read's schema
    val e = intercept[Exception](tsType())
    assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
    assert(Tables.withNanosAsLong(spark)(tsType()) == LongType)

    val events = Tables.events(spark, dir)
    assert(events.schema("ts").dataType == TimestampType)
    assert(events.selectExpr("unix_micros(ts)").head().getLong(0) ==
      1700000000123456L)
  }
}
