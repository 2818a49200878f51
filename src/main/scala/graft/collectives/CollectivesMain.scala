package graft.collectives

import graft.GraftSession

/** Reference-compatible collectives micro-benchmark CLI
  * (collectives/Program.java:7-29): same flags (--size payload ints,
  * --itr iterations, --col 0=Reduce 1=AllReduce), timing each
  * iteration's collective over `parallelism` payloads and printing the
  * per-iteration latencies the reference logs to its out file.
  */
object CollectivesMain {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val size = a.getOrElse("size", "1000").toInt
    val itr = a.getOrElse("itr", "10").toInt
    val col = a.getOrElse("col", "0").toInt

    GraftSession.using { spark =>
      import spark.implicits._
      val p = spark.sparkContext.defaultParallelism
      val payloads = spark.range(p)
        .map(i => Array.tabulate(size)(j => (i + j).toDouble))
        .persist()
      payloads.count()
      val name = if (col == 0) "Reduce" else "AllReduce"
      println(s"******************** $name ********************")
      // reference latency harness parity (collectives/Reduce.java:22-70,
      // CollectiveData.java:6-13): each payload is stamped with its send
      // time INSIDE the task, the merge keeps the earliest stamp, and
      // the recorded latency is create→reduction-complete — the
      // collective's true end-to-end hop time, not just driver wall
      // time. Wall-clock millis like the reference (nanoTime origins
      // are arbitrary per JVM, so they cannot cross the executor/driver
      // boundary); cross-machine clock skew is inherent to the
      // reference's metric too.
      val results = (1 to itr).map { _ =>
        val t0 = System.nanoTime()
        val stamped = payloads.map(v => (v, System.currentTimeMillis()))
        def merge(a: (Array[Double], Long), b: (Array[Double], Long)) =
          (Collectives.vectorSum(a._1, b._1), math.min(a._2, b._2))
        val sendMillis =
          if (col == 0) Collectives.reduce(stamped, merge)._2
          else {
            val bc = Collectives.allReduce(spark, stamped, merge)
            // touch the broadcast on every executor (the reference's
            // second map over the broadcast variable)
            payloads.map(v => bc.value._1.length + v.length).reduce(_ + _)
            val s = bc.value._2
            bc.destroy()
            s
          }
        val done = System.currentTimeMillis()
        ((done - sendMillis).toDouble, (System.nanoTime() - t0) / 1e6)
      }
      payloads.unpersist()
      println(s"size $size itr $itr parallelism $p")
      println(results.map(t => f"${t._1}%.2f")
        .mkString("collective_latency_ms ", " ", ""))
      println(results.map(t => f"${t._2}%.2f").mkString("latencies_ms ", " ", ""))
    }
  }
}
