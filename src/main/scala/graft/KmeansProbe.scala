package graft

import org.apache.spark.sql.SparkSession

/** Isolated A/B harness for the K-Means baseline-shape probe (the
  * DamdsProbe pattern): the EXACT construction Bench's
  * kmeans_baseline_shape leg runs (1M pts × k=1000 × d=2 × 10 iters,
  * BASELINE.md's headline row) in a fresh session, min-of-N after one
  * untimed warmup step. Prints the final centroid checksum so kernel
  * changes can be bit-compared across code versions.
  *
  * Usage: runMain graft.KmeansProbe [runs]
  */
object KmeansProbe {
  def main(args: Array[String]): Unit = {
    val runs = args.headOption.flatMap(_.toIntOption).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", JvmScratch.warehouse)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import org.apache.spark.sql.functions._
      val nPts = 1000000L; val k = 1000; val d = 2; val iters = 10
      val pts = spark.range(nPts).select(
        array((0 until d).map(j =>
          (pmod(xxhash64(col("id"), lit(j)), lit(1000000L)) / 1e6)): _*)
          .as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pts.count()
      val init = pts.limit(k).collect()
        .map(_.getAs[scala.collection.Seq[Double]]("v").toArray)
      graft.ml.KMeans.stepBlock(pts, init) // warmup (JIT + codegen)
      def run(): Array[Array[Double]] = {
        var c = init
        for (_ <- 1 to iters) c = graft.ml.KMeans.stepBlock(pts, c)
        c
      }
      val timed = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val c = run()
        ((System.nanoTime() - t0) / 1e9, c)
      }
      val checksum = timed.head._2.flatten.sum
      println(s"""{"probe":"kmeans_baseline_shape","runs":[${
        timed.map(t => Bench.fmt("%.3f", t._1)).mkString(",")}],""" +
        s""""min":${Bench.fmt("%.3f", timed.map(_._1).min)},""" +
        s""""checksum":${Bench.fmt("%.10e", checksum)}}""")
    } finally spark.stop()
  }
}
