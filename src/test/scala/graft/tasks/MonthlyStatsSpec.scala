package graft.tasks

import graft.SparkSpec
import graft.core.{JobSpec, MapReduceJob, TaskRegistry}
import graft.functions.TypedAggregators
import java.nio.file.Files
import org.apache.spark.sql.execution.MapPartitionsExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.jdk.CollectionConverters._

class MonthlyStatsSpec extends SparkSpec {
  import spark.implicits._

  private val lines = Seq(
    "2001-03-01 10.0",
    "2001-03-15 20.0",
    "2001-04-01 7.5",
    "garbage line",
    "2001-04-02 not-a-number",
    "2001-04-30 2.5"
  )

  test("map parses month keys, drops malformed records") {
    assert(MonthlyStats.map("2001-03-01 10.0").iterator.toList == List(("2001-03", "10.0")))
    assert(MonthlyStats.map("garbage line").iterator.isEmpty)
    assert(MonthlyStats.map("2001-04-02 not-a-number").iterator.isEmpty)
  }

  test("end-to-end mean/max per month through the MapReduce runtime") {
    val in = Files.createTempDirectory("ms-in")
    val out = Files.createTempDirectory("ms-out")
    Files.writeString(in.resolve("temps.txt"), lines.mkString("\n"))
    TaskRegistry.register("monthly", MonthlyStats)
    MapReduceJob.run(
      spark,
      JobSpec(1, Seq("x"), Seq(in.resolve("temps.txt").toString), out.toString, 2, 500, "monthly")
    )
    val got = (0 until 2)
      .flatMap(r => Files.readAllLines(out.resolve(s"monthly_result_$r")).asScala)
      .map { l => val p = l.split(" "); p(0) -> (p(1), p(2), p(3)) }
      .toMap
    assert(got == Map(
      "2001-03" -> (("15.0000", "20.00", "2")),
      "2001-04" -> (("5.0000", "7.50", "2"))
    ))
  }

  test("a mean is not re-reducible: the executed plan has no map-side combine") {
    assert(!MonthlyStats.combinable)
    val reduced = MapReduceJob.reduceSorted(
      MapReduceJob.mapPhase(spark.createDataset(lines), MonthlyStats), MonthlyStats, 2)
    val plan = reduced.queryExecution.executedPlan
    val funcs = new AdaptiveSparkPlanHelper {}.collect(plan) { case m: MapPartitionsExec => m.func }
    assert(funcs.size == 2, plan) // the flatMap'd map UDF and the sorted reduce
    assert(!funcs.exists(_.isInstanceOf[MapReduceJob.MapSideCombine]), plan)
    assert(reduced.collect().toMap == Map(
      "2001-03" -> "15.0000 20.00 2",
      "2001-04" -> "5.0000 7.50 2"
    ))
  }

  test("registry dispatches multiple tasks by user_id") {
    TaskRegistry.register("monthly", MonthlyStats)
    TaskRegistry.register("cs6210", WordCount)
    assert(TaskRegistry("monthly") eq MonthlyStats)
    assert(TaskRegistry("cs6210") eq WordCount)
    assert(TaskRegistry.lookup("missing").isEmpty)
  }

  test("MeanMax Aggregator agrees with the reduce-UDF on the same data") {
    val parsed = lines.flatMap(MonthlyStats.map(_))
    val ds = spark.createDataset(parsed).map { case (m, v) => (m, v.toDouble) }
    val typed = ds.groupByKey(_._1).mapValues(_._2)
      .agg(TypedAggregators.MeanMax.toColumn.name("stats"))
      .collect()
      .map { case (m, s) => m -> ((f"${s.mean}%.4f", s.max.toString, s.n.toString)) }
      .toMap
    assert(typed == Map(
      "2001-03" -> (("15.0000", "20.0", "2")),
      "2001-04" -> (("5.0000", "7.5", "2"))
    ))
  }

  test("MeanMax Aggregator plan uses partial aggregation") {
    val ds = spark.createDataset(Seq(("a", 1.0), ("a", 2.0)))
    val typed = ds.groupByKey(_._1).mapValues(_._2)
      .agg(TypedAggregators.MeanMax.toColumn)
    val plan = typed.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate") || plan.contains("ObjectHashAggregate"), plan)
  }
}
