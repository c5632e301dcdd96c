package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.plans.SmallSortSinglePartition

/** `SmallSortSinglePartition` (registered by `GraftExtensions` in the
  * shared session): a global sort over one small materialized shuffle
  * stage gathers it through a `SinglePartition` exchange, so no
  * RangePartitioner sample job runs; every other sort keeps its range
  * exchange.
  */
class SmallSortSpec extends SparkSpec with JobCount with PropertyCheck with AdaptiveSparkPlanHelper {
  import org.scalacheck.Gen
  import spark.implicits._

  private type Rec = (Option[Int], Option[String], Long)

  /** The shuffle exchanges of the plan `df` ran (its final adaptive plan). */
  private def exchanges(df: Dataset[_]): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  private def ranged(df: Dataset[_]): Boolean =
    exchanges(df).exists(_.outputPartitioning.isInstanceOf[RangePartitioning])

  /** Grouped over four input partitions, so the aggregate needs its exchange. */
  private def grouped(rows: Seq[Rec]): DataFrame =
    spark.sparkContext.parallelize(rows, 4).toDF("k", "s", "w").groupBy($"k", $"s").agg(sum($"w").as("w"), count(lit(1)).as("n"))

  private def withAdvisory[T](bytes: String)(f: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // NULL ordering per direction, both ways, on both key columns
  private val orders: Seq[(String, Column => Column)] = Seq(
    "asc nulls first" -> (_.asc_nulls_first), "asc nulls last" -> (_.asc_nulls_last),
    "desc nulls first" -> (_.desc_nulls_first), "desc nulls last" -> (_.desc_nulls_last))

  /** The same order on the driver: `None` placed per `nullsFirst`. */
  private def driverOrd[A](asc: Boolean, nullsFirst: Boolean)(implicit o: Ordering[A]): Ordering[Option[A]] =
    (x: Option[A], y: Option[A]) => (x, y) match {
      case (None, None) => 0
      case (None, _) => if (nullsFirst) -1 else 1
      case (_, None) => if (nullsFirst) 1 else -1
      case (Some(a), Some(b)) => if (asc) o.compare(a, b) else o.compare(b, a)
    }

  private def spec(name: String) = (name.startsWith("asc"), name.endsWith("first"))

  test("small grouped sorts run no sample job and equal a driver-side sort (ties, nulls, ASC/DESC, NULLS FIRST/LAST)") {
    val rec: Gen[Rec] = for {
      k <- Gen.frequency(5 -> Gen.choose(0, 6).map(Option(_)), 1 -> Gen.const(None))
      s <- Gen.frequency(5 -> Gen.oneOf("a", "b", "c").map(Option(_)), 1 -> Gen.const(None))
      w <- Gen.choose(-5L, 5L)
    } yield (k, s, w)
    val gen = for {
      rows <- Gen.choose(1, 60).flatMap(Gen.listOfN(_, rec))
      o1 <- Gen.oneOf(orders)
      o2 <- Gen.oneOf(orders)
    } yield (rows, o1, o2)
    forAll(gen) { case (rows, (n1, f1), (n2, f2)) =>
      // sorted on k alone (ties across s), then on (k, s)
      val byK = grouped(rows).orderBy(f1($"k")).as[(Option[Int], Option[String], Long, Long)]
      val (got1, jobs1) = jobsOf(byK.collect())
      assert(jobs1.size == 3, s"$n1:\n${jobs1.mkString("\n")}")
      assert(!ranged(byK) && exchanges(byK).exists(_.outputPartitioning == SinglePartition),
        byK.queryExecution.executedPlan.toString)
      val groups = rows.groupBy(r => (r._1, r._2)).map { case ((k, s), rs) =>
        (k, s, rs.map(_._3).sum, rs.size.toLong) }.toSeq
      val (a1, nf1) = spec(n1)
      assert(got1.map(_._1).toSeq == groups.map(_._1).sorted(driverOrd[Int](a1, nf1)), n1)
      assert(got1.toSeq.sortBy(_.toString) == groups.sortBy(_.toString))
      val byKs = grouped(rows).orderBy(f1($"k"), f2($"s")).as[(Option[Int], Option[String], Long, Long)]
      val got2 = byKs.collect().toSeq
      val (a2, nf2) = spec(n2)
      val ord = Ordering.Tuple2(driverOrd[Int](a1, nf1), driverOrd[String](a2, nf2))
      assert(got2.map(r => (r._1, r._2)) == groups.map(r => (r._1, r._2)).sorted(ord), s"$n1, $n2")
      assert(!ranged(byKs))
    }
  }

  test("input above the advisory partition size keeps the range exchange and its sample job") {
    val rows = (0 until 50).map(i => (Option(i % 7), Option("abc".take(i % 3 + 1)), i.toLong))
    val small = grouped(rows).orderBy($"k".desc, $"s")
    val (want, jobsSmall) = jobsOf(small.collect())
    assert(!ranged(small))
    withAdvisory("16") {
      val big = grouped(rows).orderBy($"k".desc, $"s")
      val (got, jobs) = jobsOf(big.collect())
      assert(ranged(big), big.queryExecution.executedPlan.toString)
      assert(jobs.size == jobsSmall.size + 1, s"${jobsSmall.mkString("\n")}\nvs\n${jobs.mkString("\n")}")
      assert(got.toSeq == want.toSeq)
    }
  }

  test("a Generate or a join between the stage and the sort keeps the range exchange") {
    val rows = (0 until 40).map(i => (Option(i % 5), Option("x"), i.toLong))
    val exploded = grouped(rows).select($"k", explode(array(lit(1), lit(2), lit(3))).as("e"))
      .orderBy($"k", $"e").as[(Int, Int)]
    val got = exploded.collect().toSeq
    assert(ranged(exploded), exploded.queryExecution.executedPlan.toString)
    assert(got == (0 until 5).flatMap(k => Seq(1, 2, 3).map(e => (k, e))))
    val dim = (0 until 5).map(k => (k, s"d$k")).toDF("k", "d")
    val joined = grouped(rows).join(broadcast(dim), "k").select($"k", $"d", $"n").orderBy($"k".desc)
      .as[(Int, String, Long)]
    assert(joined.collect().map(_._1).toSeq == (4 to 0 by -1))
    assert(ranged(joined), joined.queryExecution.executedPlan.toString)
  }

  test("an unmaterialized child keeps the range exchange: initial plans and sorts over scans") {
    val rows = (0 until 40).map(i => (Option(i % 5), Option("x"), i.toLong))
    val df = grouped(rows).orderBy($"k")
    // before execution the adaptive plan is its initial plan, prepared
    // (EnsureRequirements, then the rule) over stages that have not run
    val initial = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    assert(SmallSortSinglePartition(initial) fastEquals initial)
    def rangeIn(p: SparkPlan) = p.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      .exists(_.isInstanceOf[RangePartitioning])
    assert(rangeIn(initial), initial.toString)
    // no shuffle stage below the sort at all: the sample job stays
    val scan = spark.range(0, 1000, 1, 4).orderBy($"id".desc).as[Long]
    val (got, jobs) = jobsOf(scan.collect())
    assert(got.toSeq == (999L to 0L by -1))
    assert(ranged(scan) && jobs.size == 3, jobs.mkString("\n"))
  }
}
