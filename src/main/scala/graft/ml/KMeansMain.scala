package graft.ml

import graft.GraftSession
import graft.sources.PointSources
import org.apache.spark.sql.functions._

/** Reference-compatible K-Means CLI (kmeans/KMeansOriginal.java:62-147):
  *
  * {{{
  * runMain graft.ml.KMeansMain --points <file> --centroids <file> \
  *   --iterations 10 --output <dir>
  * }}}
  *
  * Same inputs (space-separated point lines; "id v0 v1 ..." centroid
  * lines with ids from 1), same loop count semantics (default 10), and
  * the same output shape (final centroid lines). The Flink bulk
  * iteration becomes the driver loop over a cached DataFrame.
  */
object KMeansMain {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val pointsFile = a("points")
    val centroidsFile = a("centroids")
    val iterations = a.getOrElse("iterations", "10").toInt
    val output = a.get("output")

    GraftSession.using { spark =>
      // dimensionality is inferred from the centroid file, like the
      // reference's split-length parse
      val d = PointSources.textLines(spark, centroidsFile).head()
        .trim.split("\\s+").length - 1
      val cents = PointSources.centroids(spark, centroidsFile, d)
      val init = cents.orderBy(col("cid")).collect()
        .map(_.getAs[scala.collection.Seq[Double]]("v").toArray)
      require(init.nonEmpty, s"no centroids parsed from $centroidsFile")
      val pts = PointSources.points(spark, pointsFile, d)
      val model = KMeans.fit(pts, init, maxIter = iterations)
      val lines = model.centroids.zipWithIndex.map { case (c, i) =>
        s"${i + 1} ${c.mkString(" ")}"
      }
      output match {
        case Some(dir) =>
          import spark.implicits._
          PointSources.writeText(lines.toSeq.toDF("value"), dir,
            singleFile = true)
        case None => lines.foreach(println)
      }
    }
  }
}
