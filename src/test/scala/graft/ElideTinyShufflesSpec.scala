package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ShuffleExchangeLike, ValidateRequirements}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{ElideTinyShuffles, GraftExtensions}
import graft.queries.{Monitoring, Relational}

/** ElideTinyShuffles under a session with GraftExtensions, built on the
  * shared context, against the plain shared session: fewer jobs where
  * the rule fires, and the same rows (in the same order) everywhere. */
class ElideTinyShufflesSpec extends SparkSpec {

  /** A new session on the shared context (which `create()` reuses once
    * `spark` has started it). */
  private lazy val graft: SparkSession = {
    spark.sparkContext
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .create()
  }

  /** Collect `df`, then return its rows and every node of its final
    * adaptive plan, query stages opened. */
  private def run(df: DataFrame): (Seq[Row], Seq[SparkPlan]) = {
    val rows = df.collect().toSeq
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p.children.flatMap(nodes)
    })
    (rows, nodes(df.queryExecution.executedPlan))
  }

  private def shuffles(plan: Seq[SparkPlan]): Seq[ShuffleExchangeLike] =
    plan.collect { case e: ShuffleExchangeLike => e }

  private def rangeShuffles(plan: Seq[SparkPlan]): Int =
    shuffles(plan).count(_.outputPartitioning.isInstanceOf[RangePartitioning])

  test("q01 loses its range exchange and launches 2 jobs instead of 4") {
    val q01 = Relational.queries("q01_agg_summary")
    val (plainDf, graftDf) = (q01(spark, sfDir), q01(graft, sfDir))
    var plain, elided = (Seq.empty[Row], Seq.empty[SparkPlan])
    assert(jobsDuring { plain = run(plainDf) } == 4)
    assert(jobsDuring { elided = run(graftDf) } == 2)
    assert(rangeShuffles(plain._2) == 1)
    assert(rangeShuffles(elided._2) == 0)
    assert(elided._2.exists(_.isInstanceOf[CoalesceExec]))
    assert(elided._1 == plain._1)
  }

  test("a window over a small aggregate runs without its hash shuffle") {
    def q(s: SparkSession) = s.range(0, 1000)
      .groupBy((col("id") % 7).as("g"), (col("id") % 3).as("h")).agg(count(lit(1)).as("n"))
      .withColumn("r", rank().over(Window.partitionBy("h").orderBy(col("n").desc, col("g"))))
      .orderBy("h", "r", "g")
    val (plainRows, _) = run(q(spark))
    val (rows, plan) = run(q(graft))
    assert(rows == plainRows)
    // only the aggregate's own shuffle is left
    assert(shuffles(plan).size == 1, plan.head)
  }

  test("repartition(n) keeps n partitions, also when folded into an aggregate's exchange") {
    val base = graft.range(0, 1000)
      .groupBy((col("id") % 50).as("a")).agg(count(lit(1)).as("n"))
      .groupBy((col("a") % 5).as("b")).agg(sum("n").as("n"))
    assert(base.repartition(7).queryExecution.toRdd.getNumPartitions == 7)
    // the user repartition(4, b) is satisfied by the hash(b, 4)
    // exchange EnsureRequirements keeps for the second aggregate
    val byKey = base.repartition(4, col("b"))
    assert(byKey.queryExecution.toRdd.getNumPartitions == 4)
    assert(byKey.collect().map(_.getLong(1)).sum == 1000)
  }

  test("an input above the one-partition size keeps its exchange") {
    val limit = ElideTinyShuffles(graft).onePartitionBytes.get
    val df = graft.range(0, 400000)
      .select((col("id") * 7919 % 400009).as("k"), xxhash64(col("id")).as("v"))
      .groupBy("k").agg(max("v").as("v"))
      .orderBy("v")
    val (rows, plan) = run(df)
    assert(rows.size == 400000)
    assert(rows.map(_.getLong(1)).sliding(2).forall { case Seq(a, b) => a <= b })
    val aggBytes = plan.collect {
      case s: ShuffleQueryStageExec if !s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning] =>
        s.mapStats.get.bytesByPartitionId.sum
    }
    assert(aggBytes.nonEmpty && aggBytes.forall(_ > limit), s"$aggBytes vs $limit")
    assert(rangeShuffles(plan) == 1, plan.head)
  }

  test("shuffled joins over aggregated inputs stay co-partitioned and exact") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    graft.conf.set(key, "-1")
    spark.conf.set(key, "-1")
    try {
      // grouped by g, joined on k: its join shuffle runs over a
      // materialized, small stage
      def other(s: SparkSession) = s.range(0, 3000)
        .groupBy((col("id") % 60).as("g")).agg(sum("id").as("s"))
        .select((col("g") % 45).as("k"), col("s"))
      // the other input keeps its aggregate's hash partitioning, over
      // more than one partition
      def oneSided(s: SparkSession) = s.range(0, 400000)
        .groupBy((col("id") % 200000).as("k")).agg(max(xxhash64(col("id"))).as("c"))
        .join(other(s), "k").orderBy("k", "s")
      // both join inputs need a shuffle over a small stage
      def twoSided(s: SparkSession) = other(s)
        .join(s.range(0, 2000).groupBy((col("id") % 40).as("g")).agg(count(lit(1)).as("c"))
          .select((col("g") % 9).as("k"), col("c")), "k")
        .orderBy("k", "s", "c")
      // a join input's shuffle is never elided alone: the other input
      // would no longer be co-partitioned with it
      Seq(oneSided _, twoSided _).foreach { q =>
        val (plainRows, _) = run(q(spark))
        val (rows, plan) = run(q(graft))
        assert(rows == plainRows)
        val joins = plan.collect { case j: SortMergeJoinExec => j }
        assert(joins.nonEmpty, plan.head)
        assert(joins.forall(ValidateRequirements.validate), plan.head)
        assert(!plan.exists(_.isInstanceOf[CoalesceExec]), plan.head)
      }
    } finally {
      graft.conf.unset(key)
      spark.conf.unset(key)
    }
  }

  test("a global aggregate and a sort over an empty stage match the plain session") {
    def empty(s: SparkSession) = s.range(0, 100).filter(col("id") < 0)
      .groupBy((col("id") % 3).as("k")).agg(count(lit(1)).as("c"))
    def global(s: SparkSession) = empty(s).agg(sum("c").as("s"), count(lit(1)).as("n"))
    def sorted(s: SparkSession) = empty(s).orderBy("k")
    Seq(global _, sorted _).foreach { q =>
      assert(run(q(graft))._1 == run(q(spark))._1)
    }
    assert(run(global(graft))._1 == Seq(Row(null, 0L)))
  }

  test("every Relational and Monitoring report returns the plain session's rows in order") {
    (Relational.queries ++ Monitoring.queries).toSeq.sortBy(_._1).foreach { case (name, q) =>
      val plain = q(spark, sfDir).collect().toSeq
      try assert(q(graft, sfDir).collect().toSeq == plain, name)
      finally CacheScope.drain()
    }
  }
}
