package graft.collectives

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}

/** MPI-style collectives re-expressed on Spark (reference C1–C3:
  * collectives/Reduce.java:22-70, collectives/AllReduce.java:20-84,
  * the withBroadcastSet pattern everywhere).
  *
  * The reference funnels the reduction through one task
  * (groupBy(0).reduceGroup); here each core folds its local partitions
  * and a log-depth tree merges the per-core partials, so no single
  * task sees all p payloads — the shape that survives p=1000
  * executors.
  */
object Collectives {

  /** C1 Reduce: associative merge of all elements to the driver.
    *
    * `coalesce` to the cluster's core count first: a narrow dependency,
    * so each task folds the partitions local to it with no shuffle,
    * and the tree below sees at most one partial per core instead of
    * one per partition. At 4 cores a 32-partition reduce is one stage
    * of 4 tasks where a bare `treeReduce` ran 37 tasks in two stages
    * and shuffled every partial through the second. On a large
    * cluster the tree still bounds the driver's fan-in. */
  def reduce[T: ClassTag](ds: Dataset[T], op: (T, T) => T,
      depth: Int = 2): T =
    ds.rdd.coalesce(ds.sparkSession.sparkContext.defaultParallelism)
      .treeReduce(op, depth)

  /** C2 AllReduce: reduce to the driver, re-broadcast to every
    * executor — Spark's natural allreduce (reduce + broadcast is one
    * round-trip; the reference does the same via withBroadcastSet).
    * Returns the broadcast handle; callers `.value` it inside tasks.
    *
    * Coalesce-then-tree (`reduce`) rather than `orderedAggregate`: its
    * payloads are 100k-double vectors, and `orderedAggregate` fetches
    * one per partition to the driver. Here the driver's fan-in is
    * bounded by the core count, not the partition count. The merge
    * order is still `treeReduce`'s: fixed folds inside each task, then
    * the driver folds the partials as their tasks finish. So exact
    * sums (integer-valued payloads, as in the reference's benchmark)
    * repeat bit for bit, and inexact ones repeat no less than under a
    * bare `treeReduce`.
    */
  def allReduce[T: ClassTag](spark: SparkSession, ds: Dataset[T],
      op: (T, T) => T, depth: Int = 2): Broadcast[T] =
    spark.sparkContext.broadcast(reduce(ds, op, depth))

  /** Ordered reduction: `partial` folds each non-empty partition to one
    * value on its executor, one single-stage `collect()` fetches the
    * partials, and `merge` folds them on the driver left to right in
    * partition-index order (empty partitions are skipped). The merge
    * order is fixed by the data layout, not by task completion order,
    * so floating-point results repeat bit for bit from run to run; and
    * unlike `treeReduce` there is no second stage. Meant for small
    * partials (scalars, k-row accumulators): the driver holds one per
    * partition. None when every partition is empty.
    */
  def orderedAggregate[T, P: ClassTag](rdd: RDD[T])(partial: Iterator[T] => P)(
      merge: (P, P) => P): Option[P] = {
    val parts = rdd.mapPartitions { it =>
      if (it.hasNext) Iterator.single(partial(it)) else Iterator.empty
    }.collect()
    if (parts.isEmpty) None else Some(parts.reduceLeft(merge))
  }

  /** `orderedAggregate` with one associative `op` for both the
    * per-partition and the driver fold — the drop-in for
    * `treeReduce(op)` over scalar partials. Fails on an empty RDD, as
    * `treeReduce` does. */
  def orderedReduce[T: ClassTag](rdd: RDD[T])(op: (T, T) => T): T =
    orderedAggregate(rdd)(_.reduceLeft(op))(op).getOrElse(
      throw new UnsupportedOperationException("empty collection"))

  /** Elementwise vector sum — the reference's CollectiveData payload
    * merge (collectives/Collective.java), N12 add with the intended
    * accumulate semantics (Point2.add's overwrite bug not replicated;
    * SURVEY §7.4 risk 4).
    */
  def vectorSum(a: Array[Double], b: Array[Double]): Array[Double] = {
    require(a.length == b.length)
    val out = new Array[Double](a.length)
    var i = 0
    while (i < a.length) { out(i) = a(i) + b(i); i += 1 }
    out
  }

  /** Elementwise scale by 1/s — the divide half of the reference's
    * add/divide averaging (N12, Point2.divide), used after a sum
    * reduction to turn totals into means. */
  def vectorDivide(a: Array[Double], s: Double): Array[Double] = {
    val out = new Array[Double](a.length)
    var i = 0
    while (i < a.length) { out(i) = a(i) / s; i += 1 }
    out
  }
}
