package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The cluster-grade fault-tolerance affordance for the iterative loops
  * (round-7 directive): every fixpoint loop truncates lineage through
  * [[Relational.loopCheckpoint]], which is `localCheckpoint()` by default
  * (fast; blocks pinned to executors — fine on local[*]) and switches to
  * reliable `checkpoint()` under `spark.graft.reliableCheckpoint=true`
  * (RDD written to `spark.graft.checkpointDir`; an executor loss on a
  * real cluster recomputes from storage instead of killing the job).
  *
  * The pin here is SEMANTIC EQUALITY: the same loop run under both
  * settings must produce identical output — the conf changes durability,
  * never results. One multi-round CC loop (star contraction — two
  * checkpoints per round) and one budgeted loop (PageRank) cover the
  * fixpoint and fixed-iteration families. A [[Derived]] pin goes through
  * the same switch.
  */
class ReliableCheckpointSpec extends SparkSpec {

  // One dir for the whole suite: the SparkContext checkpoint dir is
  // JVM-global and the first reliable checkpoint pins it, so every case
  // must configure the same location.
  private lazy val ckptDir = Files.createTempDirectory("graft-reliable-ckpt").toFile

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(ckptDir)
    finally super.afterAll()

  private def withReliable[A](dir: String)(body: => A): A = {
    val old = spark.conf.getOption("spark.graft.reliableCheckpoint")
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    spark.conf.set("spark.graft.checkpointDir", dir)
    try body finally {
      old match {
        case Some(v) => spark.conf.set("spark.graft.reliableCheckpoint", v)
        case None => spark.conf.unset("spark.graft.reliableCheckpoint")
      }
      spark.conf.unset("spark.graft.checkpointDir")
    }
  }

  test("reliable checkpoints change durability, not results (CC star + PageRank)") {
    import spark.implicits._
    // a shuffled-id path (worst case for label locality) plus a clique
    // and isolated pairs — several rounds of star contraction
    val path = (0 until 40).map(i => ((i * 17) % 41L, ((i + 1) * 17) % 41L))
    val clique = for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (a, b)
    val edges = (path ++ clique ++ Seq((200L, 201L), (300L, 301L)))
      .toDF("a", "b")
    val directed = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))

    val ccLocal = Relational.connectedComponentsStar(edges)
      .orderBy("node").collect().toSeq
    val prLocal = Relational.pageRank(directed, iters = 5)
      .orderBy("node").collect().toSeq

    val (ccRel, prRel) = withReliable(ckptDir.getPath) {
      (Relational.connectedComponentsStar(edges)
         .orderBy("node").collect().toSeq,
       Relational.pageRank(directed, iters = 5)
         .orderBy("node").collect().toSeq)
    }
    assert(ccRel == ccLocal)
    assert(prRel == prLocal)
    // the reliable path really did write RDD checkpoints to the dir
    val wrote = ckptDir.listFiles()
    assert(wrote != null && wrote.nonEmpty,
      "expected RDD checkpoint data under the configured dir")
  }

  test("a Derived pin under reliableCheckpoint=true is checkpointed into the configured dir") {
    import spark.implicits._
    val df = (1L to 50L).toDF("x").withColumn("y", col("x") * 3)
    val pinned = withReliable(ckptDir.getPath) {
      Derived.pinned(spark, s"reliable-spec#${java.util.UUID.randomUUID()}")(df)
    }
    val files = pinned.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.getCheckpointFile
    }.flatten
    val root = ckptDir.getCanonicalPath + "/"
    assert(files.nonEmpty && files.forall(f =>
      new org.apache.hadoop.fs.Path(f).toUri.getPath.startsWith(root)), files)
    assert(pinned.orderBy("x").collect().toSeq == df.orderBy("x").collect().toSeq)
  }
}
