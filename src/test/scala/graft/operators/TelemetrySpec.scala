package graft.operators

import graft.{SparkSpec, Telemetry}
import org.apache.spark.sql.functions.col

class TelemetrySpec extends SparkSpec {

  private def rddJob(): Long = spark.sparkContext.parallelize(1 to 10, 2).count()

  test("a scope counts exactly the jobs of its body and restores the job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("outer", "outer")
    try {
      rddJob()
      val (n, w) = Telemetry.scope("body") { rddJob(); rddJob() }
      rddJob()
      assert(n == 10)
      assert(w.jobs.size == 2, w.jobs.toString)
      assert(w.tasks == 4)
      assert(w.jobs.forall(_.site.startsWith("count at")), w.jobs.toString)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "outer")
    } finally sc.clearJobGroup()
  }

  test("back-to-back scopes do not bleed into each other") {
    val (_, a) = Telemetry.scope("a") { rddJob(); rddJob(); rddJob() }
    val (_, b) = Telemetry.scope("b")(rddJob())
    assert(a.jobs.size == 3 && b.jobs.size == 1)
    assert(a.tasks == 6 && b.tasks == 2)
    assert(a.jobs.map(_.id).max < b.jobs.head.id)
  }

  test("jobs that parLadder's pool threads submit count toward the scope") {
    val (counts, w) = Telemetry.scope("ladder") {
      Relational.parLadder(Seq(1, 2, 3))(_ => rddJob())
    }
    assert(counts == Seq(10L, 10L, 10L))
    assert(w.jobs.size == 3, w.jobs.toString)
  }

  test("the plans include the pre-checkpoint plan of a localCheckpoint") {
    val (_, w) = Telemetry.scope("checkpoint") {
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
        .localCheckpoint()
    }
    val pre = w.plans.filter(_.description.startsWith("localCheckpoint at"))
    assert(pre.nonEmpty, w.plans.map(_.description).toString)
    assert(pre.exists(p => p.plan.contains("Exchange (") && p.plan.contains("hashpartitioning(")),
      pre.map(_.plan))
    // every job of the checkpoint ran under one of the recorded executions
    assert(w.jobs.nonEmpty && w.jobs.forall(j => w.plans.exists(_.executionId == j.executionId)))
  }
}
