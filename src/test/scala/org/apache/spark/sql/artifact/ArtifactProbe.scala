package org.apache.spark.sql.artifact

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Test-side view of a session's added artifacts, which Spark keeps
  * package-private: the jars the session lists and the class files
  * under its class directory. */
object ArtifactProbe {
  def added(s: org.apache.spark.sql.SparkSession): Seq[String] = {
    val am = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .artifactManager
    val classes =
      if (!Files.isDirectory(am.classDir)) Nil
      else {
        val walk = Files.walk(am.classDir)
        try walk.iterator.asScala.filter(Files.isRegularFile(_))
          .map(_.toString).toList
        finally walk.close()
      }
    am.getAddedJars.map(_.toString) ++ classes
  }
}
