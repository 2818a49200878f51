package graft.collectives

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class CollectivesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("reduce merges all partitions (C1)") {
    import spark.implicits._
    val ds = spark.range(1, 1001).map(_.toLong).repartition(8)
    assert(Collectives.reduce[Long](ds, _ + _) == 500500L)
  }

  test("allReduce result is visible inside every task (C2)") {
    import spark.implicits._
    val ds = spark.createDataset(Seq.fill(16)(Array(1.0, 2.0))).repartition(4)
    val bc = Collectives.allReduce[Array[Double]](spark, ds, Collectives.vectorSum)
    assert(bc.value.toSeq == Seq(16.0, 32.0))
    // every task reads the broadcast value
    val seen = spark.range(0, 8).mapPartitions { it =>
      it.map(_ => bc.value.sum)
    }.collect()
    assert(seen.forall(_ == 48.0))
  }

  test("allReduce folds per core: one job, no shuffle below the tree's fan-in rule (C2)") {
    import spark.implicits._
    val parts = 32
    val len = 1000
    def cell(i: Long, j: Int): Double = ((i * 31 + j) % 97).toDouble
    val ds = spark.range(0L, parts.toLong, 1L, parts)
      .map(i => Array.tabulate(len)(j => cell(i, j)))
    val (bc, counts) = TestSpark.counting(
      Collectives.allReduce[Array[Double]](spark, ds, Collectives.vectorSum))
    // integer-valued cells: the sum is exact in any merge order
    val want = Array.tabulate(len)(j => (0L until parts).map(cell(_, j)).sum)
    assert(java.util.Arrays.equals(bc.value, want))
    bc.destroy()
    // one partial per core (coalesce is narrow), then treeAggregate's
    // depth-2 rule: while the partial count p exceeds
    // scale + ceil(p / scale), one more shuffle level of p / scale
    // tasks, which writes and reads one record per partial. At 4 cores
    // that is no level: 1 stage of 4 tasks, 0 shuffle records
    val partials = math.min(parts, spark.sparkContext.defaultParallelism)
    val scale = math.max(math.ceil(math.sqrt(partials.toDouble)).toInt, 2)
    var p = partials
    var stages = 1; var tasks = partials; var records = 0L
    while (p > scale + math.ceil(p.toDouble / scale)) {
      records += 2L * p; p /= scale; stages += 1; tasks += p
    }
    assert(counts == TestSpark.Counts(jobs = 1, stages = stages,
      tasks = tasks, shuffleRecords = records), counts)
  }

  test("vectorSum accumulates (not the reference Point2.add overwrite bug)") {
    val s = Collectives.vectorSum(Array(1.0, 2.0), Array(3.0, 4.0))
    assert(s.toSeq == Seq(4.0, 6.0))
  }

  test("vectorDivide scales elementwise (N12 divide)") {
    val d = Collectives.vectorDivide(Array(4.0, -6.0, 0.0), 4.0)
    assert(d.toSeq == Seq(1.0, -1.5, 0.0))
  }
}
