package graft

import graft.operators.Fixpoint
import org.apache.spark.sql.functions._

class FixpointSpec extends SparkSpec {

  test("a cut keeps the state's hash partitioning: 3 keyed rounds run as one job") {
    val init = spark.range(0, 1000).select((col("id") % 10).as("k"), col("id").as("v"))
    val (got, jobs) = jobsStarted {
      val out = Fixpoint.rounds(init, 3) { (state, _) =>
        state.groupBy("k").agg(sum(col("v")).as("v"))
      }
      // rounds 2 and 3 group the cut state on its own partitioning key:
      // no exchange is left in the plan the caller runs
      assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
        out.queryExecution.executedPlan.toString)
      out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == (0L until 1000L).groupBy(_ % 10).view.mapValues(_.sum).toMap)
    assert(jobs == 1, s"$jobs jobs") // round 1's shuffle runs in the caller's job
  }

  test("one round is the step itself, uncut") {
    val init = spark.range(0, 5).toDF("v")
    val out = Fixpoint.rounds(init, 1)((s, r) => s.select((col("v") + r).as("v")))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (1L to 5L))
    assert(!out.queryExecution.analyzed.toString.contains("LogicalRDD"))
  }
}
