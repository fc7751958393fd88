package graft

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.api.Table
import graft.functions.Registry
import graft.sql.SmallSortOneTask

/** [[graft.sql.SmallSortOneTask]]: a global sort over an input below
  * AQE's minimum partition size runs in one task with no range exchange;
  * above it, under a limit and in streaming plans nothing changes, and
  * the rows and their order are the same either way.
  */
class SmallSortOneTaskSpec extends GraftSuite with AdaptiveSparkPlanHelper {

  private val home = sys.props("user.home")
  private val minSizeKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** The 11 single-table SELECT queries of the `select` benchmark workload. */
  private val selectQueries = Seq(
    "q01_scan_project", "q08_agg_multikey", "q15_datetime", "q22_datetime_unit",
    "q29_date_fns", "q36_array_hof", "q43_values", "q50_star_rename", "q57_from_first",
    "q64_sample_clause", "q71_comprehension_map")

  /** A session with the graft rules and `minPartitionSize` of `minSize`. */
  private def session(minSize: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set(minSizeKey, minSize)
    Registry.registerAll(s)
    s
  }

  private def orders(s: SparkSession): Table =
    Table.fromParquet(s, s"$home/testdata/sf0.001/orders.parquet")

  private val orderBy =
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey"

  private def rangeExchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.size

  /** Ordered rows with doubles as their bits. */
  private def ordered(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    })

  test("ORDER BY over a small input runs in one job with no range exchange") {
    val df = orders(spark).sql(orderBy).toDF
    assert(jobsDuring(df.collect()) == 1)
    assert(rangeExchanges(df) == 0, df.queryExecution.executedPlan.toString)
    assert(df.queryExecution.optimizedPlan.exists {
      case Sort(_, true, Repartition(1, false, _), _) => true
      case _ => false
    })
  }

  test("minPartitionSize of 1 byte brings the range exchange back, with the same rows in the same order") {
    val big = session("1b")
    assert(rangeExchanges(orders(big).sql(orderBy).toDF.tap(_.collect())) == 1)
    val sf = s"$home/testdata/sf0.01"
    val counts = for (q <- selectQueries) yield {
      val oneTask = SparkEntry.queries(q)(spark, sf)
      val ranged = SparkEntry.queries(q)(big, sf)
      assert(ordered(ranged) == ordered(oneTask), q)
      val (o, r) = (rangeExchanges(oneTask), rangeExchanges(ranged))
      // every query ends in a global ORDER BY; a sort whose child is
      // estimated above the threshold (a join's product estimate, say)
      // keeps its exchange
      assert(r >= 1 && o <= r, s"$q: $o range exchanges with the rule's plan, $r without")
      o
    }
    assert(counts.count(_ == 0) > counts.size / 2, counts)
  }

  test("ORDER BY … LIMIT keeps Spark's top-k plan") {
    val bare = spark.newSession()
    for (sql <- Seq(s"$orderBy LIMIT 5", s"$orderBy LIMIT 5 OFFSET 2",
        "SELECT o_orderkey + 1 AS k FROM orders ORDER BY o_totalprice LIMIT 5")) {
      orders(bare).toDF.createOrReplaceTempView("orders")
      val plan = bare.sql(sql).queryExecution.optimizedPlan
      assert(SmallSortOneTask(plan) == plan, sql)
      val df = orders(spark).sql(sql).toDF
      assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"), sql)
    }
  }

  test("streaming plans are unchanged") {
    val s = session("1tb")
    val dir = s"$home/testdata/sf0.001/orders.parquet"
    val schema = orders(s).schema
    val src = java.nio.file.Files.createTempDirectory("smallsort_stream_")
    java.nio.file.Files.createSymbolicLink(src.resolve("orders.parquet"),
      java.nio.file.Paths.get(dir))
    val stream = s.readStream.schema(schema).parquet(src.toString)
      .groupBy("o_orderstatus").count().orderBy("o_orderstatus")
    val batch = orders(s).toDF.groupBy("o_orderstatus").count().orderBy("o_orderstatus")
    SparkSession.setActiveSession(s)
    try {
      val plan = stream.queryExecution.analyzed
      assert(plan.isStreaming)
      assert(SmallSortOneTask(plan) == plan)
      // the same shape over the batch read is rewritten
      val batchPlan = batch.queryExecution.analyzed
      assert(SmallSortOneTask(batchPlan) != batchPlan)
    } finally SparkSession.setActiveSession(spark)
  }
}
