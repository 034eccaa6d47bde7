package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

/** Graph-centrality operators: fixed-iteration integer PageRank and
  * bounded min-label propagation. Values are hand-computed from the exact
  * BIGINT recurrence (SCALE = 10^9, base = 150e6, damping 85/100 with
  * truncating division), so these pin the arithmetic bit-for-bit — any
  * drift (float sneaking in, floor-vs-truncate, iteration off-by-one)
  * fails loudly.
  */
class GraphSpec extends SparkSpec {

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    Relational.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
  }

  test("pageRank: star graph concentrates rank at the hub, exact values") {
    // 0–1, 0–2, 0–3 symmetrized. outdeg(0)=3, outdeg(leaf)=1, S=1e9.
    // r1(0)    = 150e6 + (85·3·1e9) div 100            = 2_700_000_000
    // r1(leaf) = 150e6 + (85·(1e9 div 3)) div 100      =   433_333_333
    // r2(0)    = 150e6 + (85·3·433_333_333) div 100    = 1_254_999_999
    // r2(leaf) = 150e6 + (85·(2_700_000_000 div 3)) div 100 = 915_000_000
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val sym = e ++ e.map(p => (p._2, p._1))
    val r1 = ranks(sym, 1)
    assert(r1(0L) == 2700000000L && r1(1L) == 433333333L, r1.toString)
    val r2 = ranks(sym, 2)
    assert(r2 == Map(0L -> 1254999999L, 1L -> 915000000L,
      2L -> 915000000L, 3L -> 915000000L), r2.toString)
  }

  test("pageRank: regular graphs are stationary at SCALE") {
    // Triangle, symmetrized: every node has degree 2 and receives
    // 2·(S div 2) back — the uniform vector is a fixpoint of the exact
    // integer recurrence (150e6 + 850e6 = S), for ANY iteration count.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val sym = e ++ e.map(p => (p._2, p._1))
    val r = ranks(sym, 3)
    assert(r == Map(1L -> 1000000000L, 2L -> 1000000000L, 3L -> 1000000000L),
      r.toString)
  }

  test("labelPropagation: k rounds reach exactly the k-hop minimum") {
    import spark.implicits._
    // Chain 60–50–40–30–20–10 (ids descend so labels must travel against
    // id order). After 2 rounds each node holds the min id within 2 hops:
    // NOT yet converged — the bounded budget is the contract, and the
    // partial labels are exactly predictable.
    val edges = Seq((60L, 50L), (50L, 40L), (40L, 30L), (30L, 20L), (20L, 10L))
      .toDF("a", "b")
    val got = Relational.labelPropagation(edges, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(60L -> 40L, 50L -> 30L, 40L -> 20L,
      30L -> 10L, 20L -> 10L, 10L -> 10L), got.toString)
  }

  test("triangleCounts: K4, square, and pendant edges") {
    import spark.implicits._
    // K4 on {1,2,3,4}: 4 triangles, every node in exactly 3 of them.
    // Square {10,11,12,13} (no diagonal): zero triangles — absent from
    // output. Pendant edge 4–99: participates in nothing.
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val square = Seq((10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L))
    val edges = (k4 ++ square ++ Seq((4L, 99L))).toDF("a", "b")
    val got = Relational.triangleCounts(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
  }

  test("triangleCounts: counts are orientation-invariant at a hub") {
    import spark.implicits._
    // Hub 1 connected to 2..7, plus rim edges (2,3) and (6,7): exactly 2
    // triangles; hub id is SMALLEST but its degree is highest, so the
    // degree-first orientation must point edges INTO the hub and wedge
    // enumeration happens at the rim — the count must still be exact.
    val edges = ((2L to 7L).map(v => (1L, v)) ++ Seq((2L, 3L), (6L, 7L)))
      .toDF("a", "b")
    val got = Relational.triangleCounts(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 6L -> 1L, 7L -> 1L),
      got.toString)
  }

  test("kCore: peels chains and pendants, keeps the dense core") {
    import spark.implicits._
    // Triangle {1,2,3} with a pendant chain 3–4–5, plus an isolated edge
    // 8–9. 2-core: round 1 drops 5 and 9 (degree 1, and 8 with it);
    // round 2 drops 4 (its degree fell to 1). The triangle survives with
    // every degree = 2.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (8L, 9L)).toDF("a", "b")
    val got = Relational.kCore(edges, 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), got.toString)
  }

  test("kCore: budget bounds the peel — deep chains survive partially") {
    import spark.implicits._
    // Pure chain of 8 nodes: each round removes only the two endpoints
    // (degree 1). After 2 rounds, nodes 3..6 remain as a shorter chain —
    // the bounded budget is the contract, identical to the unrolled
    // oracle recurrence.
    val edges = (1L to 7L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Relational.kCore(edges, 2, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(3L -> 1L, 4L -> 2L, 5L -> 2L, 6L -> 1L), got.toString)
  }

  test("labelPropagation: small-diameter clusters are exact within budget") {
    import spark.implicits._
    // Triangle {20,21,22} + pair {30,31}: diameter ≤ 2, so a 2-round
    // budget already equals connected components' answer.
    val edges = Seq((20L, 21L), (21L, 22L), (20L, 22L), (31L, 30L))
      .toDF("a", "b")
    val got = Relational.labelPropagation(edges, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L), got.toString)
  }

  test("multiSourceDistances: per-seed distances on a chain, budget-bounded") {
    import spark.implicits._
    // Chain 1-2-3-4 symmetrized, seeds {1, 4}, 2 rounds. Unlike
    // bfsDistances (min over the seed SET), each seed keeps its own
    // field: node 3 is at 2 from seed 1 and at 1 from seed 4.
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (e0 ++ e0.map(p => (p._2, p._1))).toDF("src", "dst")
    val seeds = Seq(1L, 4L).toDF("seed")
    val got = Relational.multiSourceDistances(edges, seeds, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (1L, 1L) -> 0L, (1L, 2L) -> 1L, (1L, 3L) -> 2L,
      (4L, 4L) -> 0L, (4L, 3L) -> 1L, (4L, 2L) -> 2L), got.toString)
    // the harmonic rollup over these distances is 2520-exact:
    // h(1) = 2520/1 + 2520/2 = 3780 (nodes 2 and 3 within budget)
    val h = Relational.multiSourceDistances(edges, seeds, 2)
      .filter($"dist" > 0).groupBy($"seed")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr("2520 div dist")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == Map(1L -> 3780L, 4L -> 3780L), h.toString)
  }

  // transitiveClosure: exact (seed, node, step) rows, plus the job sites of
  // the jobs the call starts (no job may test a frontier for emptiness).
  private def closureRows(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxSteps: Int = 100, dedupPerStep: Boolean = false)
      : (Seq[(Long, Long, Int)], Seq[String]) = {
    import spark.implicits._
    graft.SparkSpec.jobSites {
      Relational.transitiveClosure(edges.toDF("id", "parent"),
        seeds.toDF("seed"), maxSteps, dedupPerStep)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSeq.sorted
    }
  }

  private def assertNoEmptinessJobs(sites: Seq[String]): Unit = {
    assert(sites.nonEmpty, "expected the call's jobs to be recorded")
    assert(!sites.exists(_.startsWith("isEmpty at")), sites.mkString(", "))
  }

  test("transitiveClosure: depth-5 chain, two seeds, each walks to the root") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val (rows, sites) = closureRows(chain, Seq(1L, 4L))
    assert(rows == Seq((1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 2), (1L, 4L, 3),
      (1L, 5L, 4), (1L, 6L, 5), (4L, 4L, 0), (4L, 5L, 1), (4L, 6L, 2)),
      rows.toString)
    assertNoEmptinessJobs(sites)
  }

  test("transitiveClosure: diamond DAG with dedupPerStep keeps one row per (seed, node, step)") {
    // 1 -> {2, 3} -> 4 -> 5: both paths reach 4 at step 2; without the
    // per-step dedup 4 and 5 would appear twice.
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val (rows, sites) = closureRows(diamond, Seq(1L), dedupPerStep = true)
    assert(rows == Seq((1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 2),
      (1L, 5L, 3)), rows.toString)
    assertNoEmptinessJobs(sites)
  }

  test("transitiveClosure: a 3-cycle walks exactly maxSteps steps") {
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val (rows, sites) = closureRows(cycle, Seq(1L), maxSteps = 7)
    assert(rows == (0 to 7).map(k => (1L, (k % 3 + 1).toLong, k)).sorted,
      rows.toString)
    assertNoEmptinessJobs(sites)
  }

  test("transitiveClosure: no seeds, or seeds without parents, end the walk at once") {
    val chain = Seq((1L, 2L))
    assert(closureRows(chain, Nil)._1.isEmpty)
    assert(closureRows(chain, Seq(7L))._1 == Seq((7L, 7L, 0)))
  }

  /** The step-per-round loop the executor walk replaced, kept as the
    * oracle: one join per step, all seeds advancing together. */
  private def loopClosure(edges: DataFrame, seeds: DataFrame, maxSteps: Int,
      dedupPerStep: Boolean): DataFrame = {
    val e = edges.persist()
    var frontier = seeds.select(col("seed"), col("seed").as("node"), lit(0).as("step"))
    var acc = frontier
    var step = 0
    var done = false
    while (step < maxSteps && !done) {
      var next = frontier.join(e, frontier("node") === e("id"))
        .select(frontier("seed"), e("parent").as("node"),
          (frontier("step") + 1).as("step"))
      if (dedupPerStep) next = next.dropDuplicates("seed", "node")
      frontier = next.localCheckpoint()
      if (frontier.isEmpty) done = true
      else { acc = acc.unionAll(frontier); step += 1 }
    }
    e.unpersist()
    acc
  }

  /** Disjoint random components of 3-9 nodes: each node has 0, 1 or 2
    * parents drawn with replacement inside its component (so cycles,
    * self-loops and repeated edges), about one parent in twelve is null,
    * plus one edge with a null source. Seeds repeat, and include a null
    * and a node outside the graph. */
  private def randomGraph(rnd: scala.util.Random)
      : (Seq[(Option[Long], Option[Long])], Seq[Option[Long]]) = {
    val nodes = (0 until 6).flatMap { c =>
      (0 until 3 + rnd.nextInt(7)).map(v => (c * 100L + v, c * 100L))
    }
    val size = nodes.groupBy(_._2).view.mapValues(_.size).toMap
    val edges = nodes.flatMap { case (v, base) =>
      Seq.fill(Seq(0, 1, 1, 1, 2)(rnd.nextInt(5))) {
        Some(v) -> (if (rnd.nextInt(12) == 0) None
                    else Some(base + rnd.nextInt(size(base))))
      }
    } :+ (None -> Some(0L))
    val seeds = Seq.fill(12)(Some(nodes(rnd.nextInt(nodes.size))._1))
    (edges, seeds ++ seeds.take(3) ++ Seq(None, Some(9999L)))
  }

  test("transitiveClosure equals the step loop on random multi-parent cyclic graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261019)
    for ((dedup, maxSteps, strings) <- Seq((true, 12, false), (false, 12, false),
        (true, 3, true), (false, 5, true))) {
      val (edgeRows, seedRows) = randomGraph(rnd)
      val (edges, seeds) =
        if (!strings) (edgeRows.toDF("id", "parent"), seedRows.toDF("seed"))
        else (edgeRows.map { case (a, b) => (a.map("n" + _), b.map("n" + _)) }
            .toDF("id", "parent"), seedRows.map(_.map("n" + _)).toDF("seed"))
      val want = loopClosure(edges, seeds, maxSteps, dedup)
      val got = Relational.transitiveClosure(edges, seeds, maxSteps, dedup)
      def bag(df: DataFrame) = df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
      val label = s"dedupPerStep=$dedup maxSteps=$maxSteps strings=$strings"
      assert(got.schema == want.schema, label)
      val (g, w) = (bag(got), bag(want))
      assert(w.keys.exists(_.getInt(2) == maxSteps), s"$label: the walk must reach the cap")
      assert(g == w, s"$label: missing ${w.keySet.diff(g.keySet).take(5)}, " +
        s"extra ${g.keySet.diff(w.keySet).take(5)}, " +
        s"counts ${w.filter { case (k, n) => g.get(k).exists(_ != n) }.take(5)}")
    }
  }

  test("transitiveClosure: a 3-cycle walked 7 or 100 steps starts the same jobs") {
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val (rows7, sites7) = closureRows(cycle, Seq(1L), maxSteps = 7)
    val (rows100, sites100) = closureRows(cycle, Seq(1L), maxSteps = 100)
    assert(rows7.size == 8 && rows100.size == 101)
    assert(sites7.size == sites100.size,
      s"7 steps: ${sites7.mkString(", ")}; 100 steps: ${sites100.mkString(", ")}")
  }
}
