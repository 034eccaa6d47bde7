package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}

import graft.Tables

/** Relational operator inventory from SURVEY.md §2.C, re-expressed
  * Spark-first over the driver's star schema.
  *
  * Each reference operator (geo-db post-processing SQL, cited per query as
  * `/root/reference/<file>:<lines>`) is mapped onto the TPC-H-ish testdata so
  * the driver's DuckDB oracle can verify it at sf0.01.
  *
  * Numeric-exactness convention shared by every query here: aggregates over
  * floating-point columns are computed in DECIMAL space (exact, addition is
  * associative so partial/map-side aggregation is safe AND the result is
  * independent of Spark's partitioning) and cast to double only at the very
  * end. That keeps results bit-identical to the DuckDB oracle while leaving
  * Catalyst free to pick any physical plan.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  // ---------------------------------------------------------------------
  // q01: aggregation with pushdown filter (C15 counts + partial aggregation;
  // TPC-H Q1 shape). Reference: src/post/mod.rs:126,143 (COUNT), and the
  // general GROUP BY usage in src/post/city_countries.sql:12-16.
  // ---------------------------------------------------------------------
  def q01PricingAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
  }

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      | COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // q02: per-group argmin via window (C2 — pick MIN(priority) country per
  // city, src/post/city_countries.sql:10-23). Here: cheapest order per
  // customer, deterministic tiebreak on o_orderkey.
  // ---------------------------------------------------------------------
  def q02ArgminPerGroup(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    o.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("best_order"),
        col("o_totalprice").as("best_price"))
  }

  val q02Oracle: String =
    """SELECT o_custkey, o_orderkey AS best_order, o_totalprice AS best_price FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
      | FROM orders) t WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // q03: anti join (C1 — NOT EXISTS delete, src/post/city_countries.sql:2-7).
  // Customers with no orders.
  // ---------------------------------------------------------------------
  def q03AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  val q03Oracle: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  // ---------------------------------------------------------------------
  // q04: semi join (C18 — FK-existence filter, src/post/cleanup/07.sql:1-6).
  // Customers with at least one order above 100k.
  // ---------------------------------------------------------------------
  def q04SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders").filter(col("o_totalprice") > 100000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_acctbal"))
  }

  val q04Oracle: String =
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)""".stripMargin

  // ---------------------------------------------------------------------
  // q05: UPDATE ... FROM as left join + coalesce (C3 — join-update, used in
  // every post stage, e.g. src/post/city_countries.sql:10-23). Unmatched
  // rows keep the old value, exactly like SQL UPDATE.
  // ---------------------------------------------------------------------
  def q05UpdateJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val seg = Tables(s, dir, "customer").filter(col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    o.join(seg, o("o_custkey") === seg("c_custkey"), "left")
      .select(o("o_orderkey"),
        coalesce(seg("c_mktsegment"), o("o_orderpriority")).as("priority2"))
  }

  val q05Oracle: String =
    """SELECT o_orderkey, COALESCE(c_mktsegment, o_orderpriority) AS priority2
      |FROM orders LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 0) seg
      |ON o_custkey = c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q06: bounded transitive closure (C4 — recursive CTE over the admin
  // hierarchy, src/post/find_subdivision.sql:12-22). Synthetic hierarchy:
  // customer -> nation -> region -> world. Set-based for ALL seeds at once
  // (the reference loops per row, src/post/mod.rs:96-107 — see SURVEY C16).
  // ---------------------------------------------------------------------

  // once-per-JVM latch for pin's reliable-mode config warnings
  private val reliableWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The one eager materialization in `src/main`, applied as
    * `.transform(pin)`: loop-carried tables in the fixpoint operators,
    * the [[Derived]] memos (`Derived.pinned`), and every one-off pin that
    * cuts lineage or freezes rows a later step re-reads (a streaming
    * batch, a table about to be overwritten). MaterializationSpec fails
    * on any other `localCheckpoint`/`checkpoint` call.
    *
    *  - default: `localCheckpoint()` — fast, but pins blocks to
    *    executors, so on a real cluster ONE executor loss kills the
    *    lineage-free RDD and the whole job. Correct on local[*] and the
    *    right default there.
    *  - `spark.graft.reliableCheckpoint=true`: `checkpoint()` — the RDD
    *    is written to the fault-tolerant checkpoint dir
    *    (`spark.graft.checkpointDir`, or the SparkContext's if already
    *    set), so a lost executor recomputes from storage instead of
    *    failing the job. This is the production setting on a
    *    1000-executor cluster, at the price of a write+read per pin —
    *    set the dir to HDFS/S3, not local disk.
    *
    * Both variants are eager and semantically identical (ReliableCheckpointSpec
    * runs loops, a memo, a one-off pin and `wikidata.Post` under both and
    * proves equal output). */
  private[graft] def pin[T](df: Dataset[T]): Dataset[T] = {
    val s = df.sparkSession
    val reliable = s.conf.getOption("spark.graft.reliableCheckpoint")
      .exists(_.trim.equalsIgnoreCase("true"))
    if (!reliable) df.localCheckpoint()
    else {
      // One-time loud diagnostics for the two silent-config traps: (a) the
      // SparkContext checkpoint dir is JVM-global — the first caller pins
      // it, and a later session conf pointing elsewhere is IGNORED by
      // Spark; (b) reliable checkpoint files accumulate one
      // materialization per round unless the context was CREATED with
      // spark.cleaner.referenceTracking.cleanCheckpoints=true.
      if (reliableWarned.compareAndSet(false, true)) {
        val set = s.sparkContext.getCheckpointDir
        val want = s.conf.getOption("spark.graft.checkpointDir")
        // setCheckpointDir stores <dir>/<UUID>, so compare by prefix —
        // exact equality would false-positive on a dir pre-set to the
        // SAME configured location (round-8 advice). The prefix must end
        // at a path separator, or a SIBLING dir sharing the string prefix
        // (want=/tmp/ck, set=/tmp/ck2/<uuid>) false-suppresses the
        // warning (round-9 advice).
        val wantDir = want.map(_.stripSuffix("/"))
        if (set.nonEmpty && want.nonEmpty && !set.exists(d =>
            d == wantDir.get || d.startsWith(wantDir.get + "/")))
          System.err.println(
            s"[graft] WARNING: spark.graft.checkpointDir=${want.get} is " +
              s"IGNORED — the SparkContext checkpoint dir was already set " +
              s"to ${set.get} (it is JVM-global; the first setter wins)")
        if (!s.sparkContext.getConf.getBoolean(
            "spark.cleaner.referenceTracking.cleanCheckpoints", false))
          System.err.println(
            "[graft] WARNING: reliableCheckpoint=true without " +
              "spark.cleaner.referenceTracking.cleanCheckpoints=true (a " +
              "context-creation conf): checkpoint files accumulate one " +
              "materialization per loop round until the app exits")
      }
      if (s.sparkContext.getCheckpointDir.isEmpty) {
        val dir = s.conf.getOption("spark.graft.checkpointDir")
        // A node-local tmpdir is only acceptable on a single-JVM master:
        // on a real cluster each executor would write its partitions to
        // its OWN /tmp and the next round's tasks on other nodes could
        // not read them — fail fast with the fix instead of corrupting
        // the loop at round 2.
        if (dir.isEmpty && !s.sparkContext.isLocal)
          throw new IllegalStateException(
            "spark.graft.reliableCheckpoint=true on a cluster requires " +
              "spark.graft.checkpointDir on a SHARED filesystem (HDFS/S3) " +
              "or a pre-set SparkContext checkpoint dir")
        s.sparkContext.setCheckpointDir(dir.getOrElse(
          sys.props("java.io.tmpdir") + "/graft-checkpoints"))
      }
      // NOTE: reliable checkpoint files accumulate one materialization
      // per round; Spark deletes them only under
      // spark.cleaner.referenceTracking.cleanCheckpoints=true (a
      // context-creation conf) — set it in production, see README's
      // deployment notes.
      df.checkpoint()
    }
  }

  /** Run a ladder's independent rungs from a small thread pool so each
    * rung's jobs back-fill the executor slots the previous rung's stage
    * tail leaves idle (guide §2.6: actions are only sequential because
    * the driver calls them sequentially). Result order is the input
    * order — execution overlap never reorders the returned Seq — and
    * each rung's lineage is its own (the artifact builds the rungs share
    * are [[Derived]] keys, so a racing first touch waits instead of
    * double-building). Pool is per-call and bounded:
    * 2-3 in-flight jobs fill a stage tail; more just contend. */
  private[operators] def parLadder[A, B](xs: Seq[A], par: Int = 3)(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(par, xs.size))
      try {
        val futs = xs.map { x =>
          pool.submit(new java.util.concurrent.Callable[B] {
            override def call(): B = f(x)
          })
        }
        futs.map { fut =>
          try fut.get()
          catch { // surface the rung's own failure, not the wrapper
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  /** Bounded frontier expansion, the Spark shape of WITH RECURSIVE.
    * `edges` has columns (id, parent) of one type; `seeds` a single column
    * `seed`. Returns (seed, node, step): step 0 is the seed itself, and
    * step k has one row per walk of k edges from the seed (bag semantics),
    * or, with `dedupPerStep`, one row per (seed, node, step), for
    * k = 1..maxSteps. These are the rows of one join per step.
    *
    * The walk costs one Spark action, however deep it goes:
    *  - step 1 is a join of the seeds with `edges`, grouped per seed;
    *  - every later frontier node is the parent of some edge, so only the
    *    edges whose source is itself a parent (the TE→TE sub-graph of the
    *    admin hierarchy, not the city→TE edges) are collected and
    *    broadcast as an adjacency map;
    *  - each task walks its seeds on that map until the frontier is empty
    *    or `maxSteps` is reached: it counts the walks reaching each node,
    *    or, with `dedupPerStep`, keeps one node set per step;
    *  - the rows are materialized once through [[pin]].
    *
    * The sub-graph must fit in driver and executor memory. On DumpGen's
    * 520k-entity world it is at most 20,800 edges, one per plain TE (40
    * per 1,000 entities); the edges of cities and of city+TE entities,
    * which are nobody's parent, stay in the step-1 join. A null seed keeps
    * its step-0 row only; a null parent yields its row and ends that walk.
    */
  def transitiveClosure(edges: DataFrame, seeds: DataFrame, maxSteps: Int = 100,
      dedupPerStep: Boolean = false): DataFrame = {
    val e = edges.select(col("id"), col("parent"))
    val s = seeds.select(col("seed"))
    val adjacency: Map[Any, Array[Any]] = e
      .join(e.select(col("parent").as("target")),
        col("id") === col("target"), "left_semi")
      .collect().groupBy(_.get(0)).map { case (id, rs) => id -> rs.map(_.get(1)) }
    val adj = s.sparkSession.sparkContext.broadcast(adjacency)
    val walkSchema = StructType(Seq(s.schema("seed"),
      e.schema("parent").copy(name = "node"),
      StructField("step", IntegerType, nullable = false)))
    val walked = s.join(e, col("seed") === col("id"))
      .groupBy(col("seed"))
      .agg(collect_list(struct(col("parent"))).as("firsts")) // keeps null parents
      .mapPartitions { seedRows =>
        val graph = adj.value
        seedRows.flatMap { r =>
          walk(r.getSeq[Row](1).map(_.get(0)), graph, maxSteps, dedupPerStep)
            .map { case (node, step) => Row(r.get(0), node, step) }
        }
      }(Encoders.row(walkSchema))
    val out = s.select(col("seed"), col("seed").as("node"), lit(0).as("step"))
      .unionAll(walked).transform(pin)
    adj.unpersist()
    out
  }

  /** One seed's (node, step) rows for steps 1..maxSteps, from its step-1
    * nodes (one entry per step-1 edge): each frontier maps a node to the
    * number of walks reaching it, or to 1 with `dedup`. */
  private def walk(firsts: Seq[Any], graph: Map[Any, Array[Any]],
      maxSteps: Int, dedup: Boolean): Iterator[(Any, Int)] = {
    def add(f: mutable.LinkedHashMap[Any, Long], node: Any, walks: Long): Unit =
      f(node) = if (dedup) 1L else f.getOrElse(node, 0L) + walks
    val first = mutable.LinkedHashMap.empty[Any, Long]
    firsts.foreach(add(first, _, 1L))
    Iterator.iterate(first) { f =>
      val next = mutable.LinkedHashMap.empty[Any, Long]
      for ((node, walks) <- f; parent <- graph.getOrElse(node, Array.empty[Any]))
        add(next, parent, walks)
      next
    }.take(maxSteps).zipWithIndex.takeWhile(_._1.nonEmpty).flatMap {
      case (f, i) => f.iterator.flatMap { case (node, walks) =>
        Iterator.fill(walks.toInt)((node, i + 1)) }
    }
  }

  /** Skew-salted inner equi-join: replicates the (small-ish) right side
    * `salt` ways and scatters left rows across the replicas, so one hot key
    * spreads over `salt` reducers instead of stalling a single task. Use
    * when AQE's skew-join split isn't available (e.g. the skewed side feeds
    * a non-shuffle op). Left salt is derived deterministically from the
    * row's key hash + a per-row counter; results equal the plain join. */
  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, salt: Int): DataFrame = {
    val l = left.withColumn("__salt",
      pmod(hash(col(leftKey), monotonically_increasing_id()), lit(salt)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    l.join(r, l(leftKey) === r(rightKey) && l("__salt") === r("__salt"))
      .drop("__salt")
  }

  /** The fixpoint loops' convergence aggregate: the exact sum of column
    * `c` (0 on an empty table). Summed as decimal(38,0): a Long sum could
    * wrap-overflow to the previous value on ~10^9 nodes × 10^12-scale ids
    * and falsely converge; the decimal sum is exact and just as cheap
    * (one partial-aggregated pass). */
  private def decSum(df: DataFrame, c: String): java.math.BigDecimal =
    df.agg(coalesce(sum(col(c).cast("decimal(38,0)")),
      lit(java.math.BigDecimal.ZERO))).head.getDecimal(0)

  /** Connected components by min-label propagation: every node starts as
    * its own label; each round takes the min over direct neighbors; stop at
    * fixpoint. Rounds needed = graph diameter (dup clusters are tiny;
    * for web-scale graphs swap in large-star/small-star, same dataflow).
    * Each round is one shuffle-join + keyed min aggregate;
    * localCheckpoint() truncates lineage per round. `edges` columns (a, b),
    * treated as undirected. Returns (node, component = min node id in the
    * component). */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct().persist()
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")).transform(pin)
    // Labels only ever DECREASE under min-propagation, so the label sum
    // strictly decreases iff any label changed — one aggregate per round
    // replaces an old-vs-new join as the convergence check ([[decSum]]).
    var prevSum = decSum(labels, "label")
    var converged = false
    while (!converged) {
      // Round body: propagate neighbor minima (one shuffle join + keyed min),
      // then merge onto the label table. The merge join's probe side is the
      // small aggregated nbrMin, which AQE turns into a broadcast — measured
      // faster than the union+groupBy formulation, which re-shuffles the
      // full label table every round.
      val nbrMin = sym.join(labels, sym("b") === labels("node"))
        .groupBy(sym("a").as("n2")).agg(min(col("label")).as("nl"))
      val merged = labels.join(nbrMin, labels("node") === nbrMin("n2"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .transform(pin)
      val s = decSum(merged, "label")
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = merged
    }
    sym.unpersist()
    labels.select(col("node"), col("label").as("component"))
  }

  /** Connected components by alternating large-star/small-star edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the WEB-SCALE path the min-label propagation
    * above points at: rounds needed are O(log diameter) instead of
    * O(diameter), because every round rewires whole neighborhoods at
    * their minimum rather than moving labels one hop.
    *
    *  - large-star at u: every strictly-larger neighbor is re-pointed at
    *    min(N(u) ∪ u) — one keyed min + one equi-join per round.
    *  - small-star at u (edges held at their larger endpoint): u and its
    *    ≤-neighbors all re-point at the neighborhood min.
    *
    * Both phases are groupBy+join dataflows on the edge list itself — no
    * per-node state table — so each round shuffles only edges, and the
    * edge count never grows beyond the input (rewrites replace, duplicates
    * collapse via distinct). Fixpoint = the edge list stops changing
    * (count equality + except-empty; edges are a set here). Returns the
    * same (node, component = min id) contract as
    * [[connectedComponents]] — cc01/cc02 share one oracle.
    *
    * `onRound` observes each completed round (spec hook for the
    * O(log d) claim). */
  def connectedComponentsStar(edges: DataFrame,
      onRound: Int => Unit = _ => ()): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a"), col("b"))
        .unionAll(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy(col("a").as("u"))
        .agg(min(col("b")).as("mb"))
        .select(col("u"), least(col("u"), col("mb")).as("m"))
      sym.join(mins, sym("a") === mins("u"))
        .where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .where(col("a") =!= col("b"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // hold each edge at its larger endpoint
      val dir = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val mins = dir.groupBy(col("a").as("u"))
        .agg(min(col("b")).as("m"))
      dir.join(mins, dir("a") === mins("u"))
        .select(col("b").as("a"), col("m").as("b"))
        .unionAll(mins.select(col("u").as("a"), col("m").as("b")))
        .where(col("a") =!= col("b"))
        .distinct()
    }
    val nodes = edges.select(col("a")).unionAll(edges.select(col("b")))
      .distinct().transform(pin)
    var e = edges.select(col("a"), col("b")).where(col("a") =!= col("b"))
      .distinct().transform(pin)
    var round = 0
    // carry the round's edge count forward: re-counting the previous
    // checkpoint every round was one extra (tiny) job per round
    var eCount = e.count()
    var done = eCount == 0L
    while (!done) {
      val next = smallStar(largeStar(e)).transform(pin)
      round += 1
      onRound(round)
      val nextCount = next.count()
      done = nextCount == eCount && next.except(e).isEmpty
      e = next
      eCount = nextCount
    }
    // After convergence every edge is (node, root); roots appear only on
    // the right — re-attach them (and any self-component node) from the
    // original node set. Qualified aliases: when the loop never runs
    // (empty graph) both sides still share the input's lineage.
    nodes.as("n").join(e.as("e"), col("n.a") === col("e.a"), "left")
      .select(col("n.a").as("node"),
        coalesce(col("e.b"), col("n.a")).as("component"))
  }

  /** [[connectedComponents]] with label-table SHORTCUTTING: each round
    * takes the neighbor min (one hop, as above) and then replaces every
    * label by its label's label, at the cost of one extra self-join of
    * the label table per round.
    *
    * HONEST LIMIT (measured, round 6): the shortcut compounds only on
    * id-monotone stretches. On a shuffled-id chain, label(label) hops
    * across ID space — to whatever local minimum a region has settled on
    * — not along the path, so the global min's wave still advances ~one
    * hop per round and convergence is LINEAR in diameter, same as the
    * plain variant (39 rounds on a 1000-node shuffled path, vs ~10 if
    * doubling were real). It helps when ids correlate with locality
    * (geo07's Z-ordered cell graph: grid cell ids are spatially monotone,
    * where it measures fewer rounds than plain min-label). For a
    * worst-case graph use [[connectedComponentsStar]] — star contraction
    * restructures the edges themselves and is provably O(log n). */
  def connectedComponentsJump(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct().persist()
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")).transform(pin)
    var prevSum = decSum(labels, "label")
    var converged = false
    while (!converged) {
      val nbrMin = sym.join(labels, sym("b") === labels("node"))
        .groupBy(sym("a").as("n2")).agg(min(col("label")).as("nl"))
      val stepped = labels.join(nbrMin, labels("node") === nbrMin("n2"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // pointer jump: label ← label(label). Every label IS a node of the
      // table, so the lookup join is total; left + coalesce keeps the row
      // through any planner quirk.
      val ck = stepped.as("x")
        .join(stepped.select(col("node").as("ln"), col("label").as("ll")).as("y"),
          col("x.label") === col("y.ln"), "left")
        .select(col("x.node").as("node"),
          least(col("x.label"), coalesce(col("ll"), col("x.label"))).as("label"))
        .transform(pin)
      // Break the STATS chain, not just the lineage: localCheckpoint's
      // LogicalRDD inherits the replaced plan's sizeInBytes estimate, and
      // this round's self-join SQUARES it — so the estimate grows doubly
      // exponentially across rounds, and by round ~20 every checkpoint
      // spends its wall-clock multiplying million-digit BigIntegers in
      // SizeInBytesOnlyStatsPlanVisitor (driver pegged, executors idle;
      // observed 0.5 s → 34 s per round at sf0.1). Rebuilding from the
      // checkpointed RDD resets the leaf estimate to a constant. The
      // single-join loops (min-label CC, PageRank, BFS) only MULTIPLY the
      // estimate by a constant factor per round — linear digit growth —
      // so they don't need this.
      val jumped = ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
      val s = decSum(jumped, "label")
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = jumped
    }
    sym.unpersist()
    labels.select(col("node"), col("label").as("component"))
  }

  /** STRONGLY connected components over a DIRECTED edge list `(src, dst)`
    * — the cycle-structure decomposition [[connectedComponents]] cannot
    * see (a→b alone does not place a and b together; a→b plus b⇝a does).
    * Coloring + backward-certify + peel (the FW-BW/coloring family:
    * Orzan 2004; Slota et al. 2014), re-expressed as three dataflow
    * loops:
    *
    *  1. COLOR: propagate the minimum id FORWARD to fixpoint, so
    *     color(v) = min(ancestors(v) ∪ v). Within any SCC every member
    *     shares one color: for root r (color(r) = r) and member v,
    *     every ancestor of v is also an ancestor of r (w ⇝ v ⇝ r), so a
    *     smaller ancestor at v would contradict r's rootness.
    *  2. CERTIFY: from each root, walk edges BACKWARD restricted to the
    *     root's own color class. A node u so reached has u ⇝ r, and
    *     color(u) = r already gives r ⇝ u — so the certified set IS
    *     SCC(r), exactly (the same mutual-reachability argument as
    *     FW∩BW pivoting, with the color class standing in for FW).
    *  3. PEEL the certified SCCs (≥ 1 root per color class in use, so
    *     every round removes at least each class's root SCC) and repeat
    *     on the remainder.
    *
    * Scale shape: every step is an equi-join + keyed aggregate over the
    * (shrinking) edge list — no transitive-closure materialization, no
    * per-node adjacency state. Round counts: the color loop runs
    * O(remaining diameter) min-propagation rounds (decimal-sum
    * convergence, the [[connectedComponents]] idiom), the certify loop
    * O(SCC diameter), and the outer peel runs once per layer of the
    * condensation DAG reachable from minimal ids — the graphs this
    * engine meets (transition graphs, dup graphs) have one dominant SCC
    * plus shallow fringe, peeling in a handful of rounds. Nodes are the
    * edge endpoints (callers attach isolated nodes as their own SCCs if
    * they need them). Returns (node, scc_id = min member id). */
  def stronglyConnectedComponents(edges: DataFrame): DataFrame = {
    var rem = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct().transform(pin)
    var nodes = rem.select(col("src").as("node"))
      .unionAll(rem.select(col("dst").as("node"))).distinct().transform(pin)
    var out: Option[DataFrame] = None
    while (!nodes.isEmpty) {
      // 1. forward min coloring to fixpoint
      var colors = nodes.withColumn("color", col("node")).transform(pin)
      var prev = decSum(colors, "color")
      var stable = false
      while (!stable) {
        val prop = rem.join(colors, rem("src") === colors("node"))
          .select(col("dst").as("node"), col("color"))
        val merged = colors.unionAll(prop)
          .groupBy(col("node")).agg(min(col("color")).as("color"))
          .transform(pin)
        val s = decSum(merged, "color")
        stable = s.compareTo(prev) == 0
        prev = s
        colors = merged
      }
      // 2. same-color edges once per peel round; backward reach from roots
      val ce = rem
        .join(colors.select(col("node").as("src"), col("color").as("cs")), Seq("src"))
        .join(colors.select(col("node").as("dst"), col("color").as("cd")), Seq("dst"))
        .where(col("cs") === col("cd"))
        .select(col("src"), col("dst"), col("cs").as("color"))
        .transform(pin)
      var member = colors.where(col("color") === col("node"))
        .select(col("node"), col("color")).transform(pin)
      var mCount = member.count()
      var done = false
      while (!done) {
        val prop = ce.join(member,
            ce("dst") === member("node") && ce("color") === member("color"))
          .select(ce("src").as("node"), ce("color").as("color"))
        val grown = member.unionAll(prop).distinct().transform(pin)
        val c = grown.count()
        done = c == mCount
        mCount = c
        member = grown
      }
      val scc = member.select(col("node"), col("color").as("scc_id"))
      out = Some(out.map(_.unionAll(scc)).getOrElse(scc))
      // 3. peel certified nodes and their edges
      nodes = nodes.join(member.select(col("node")), Seq("node"), "left_anti")
        .transform(pin)
      rem = rem
        .join(member.select(col("node").as("src")), Seq("src"), "left_anti")
        .join(member.select(col("node").as("dst")), Seq("dst"), "left_anti")
        .transform(pin)
    }
    out.getOrElse(
      edges.select(col("src").as("node"), col("dst").as("scc_id")).limit(0))
  }

  /** Fixed-iteration PageRank over a directed edge list `(src, dst)` with
    * NO dangling nodes (callers symmetrize or otherwise guarantee every
    * node has out-edges — a dangling node would silently leak rank mass).
    *
    * All arithmetic is non-negative BIGINT so the result is hash-exact
    * against any engine whose integer division truncates-or-floors
    * (identical on non-negatives): ranks start at SCALE per node and each
    * iteration computes
    *   r'(v) = (15·SCALE)/100 + (85 · Σ_{u→v} r(u) div outdeg(u)) div 100
    * — the standard damping-0.85 update with the 1/N normalization folded
    * into SCALE. A fixed `iters` (not convergence-stopping) keeps the
    * answer a finite deterministic recurrence; ranking quality needs only
    * a handful of iterations (Page et al., 1999, report ordering stabilizes
    * long before value convergence).
    *
    * Scale shape: `edges` is degree-annotated, hash-partitioned on src and
    * PERSISTED once (persist, not checkpoint: a localCheckpoint's
    * LogicalRDD reports UnknownPartitioning, so every iteration would
    * re-shuffle the E-row edge table — the cached plan keeps
    * HashPartitioning(src) visible and each iteration's join moves only
    * the N-row rank table); each iteration is that join plus one keyed
    * sum (map-side partials), with the rank lineage cut per round. The
    * final rank table is materialized before `ed` is unpersisted, so no
    * cache entry outlives the call. Rank overflow headroom: Σ
    * contributions ≤ total mass ≈ N·SCALE — at 10^9 nodes × 10^9 SCALE
    * that is 10^18, within BIGINT; larger graphs drop SCALE. Returns
    * (node, pr). */
  def pageRank(edges: DataFrame, iters: Int,
      scale: Long = 1000000000L): DataFrame = {
    val base = scale * 15L / 100L
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val ed = edges.join(deg, Seq("src"))
      .repartition(col("src")).persist()
    var ranks = edges.select(col("src").as("node")).distinct()
      .withColumn("pr", lit(scale)).transform(pin)
    // Per-round lineage cut is LOAD-BEARING here, not just a barrier
    // (round 15, measured): the checkpointed rank table has a known
    // (small) size, so the planner broadcasts it against the cached
    // E-row edge layout; a lazy round's aggregate subtree loses that
    // sizing and the join degrades to re-shuffling the edge table.
    // Every-2nd-round fusion was tried and REVERTED (cc05 6.2→7.7 s).
    for (_ <- 1 to iters) {
      ranks = ed.join(ranks, ed("src") === ranks("node"))
        .select(col("dst"), expr("pr div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg((lit(base) + expr("(85 * sum(c)) div 100")).as("pr"))
        .select(col("dst").as("node"), col("pr"))
        .transform(pin) // eager: materialized before ed goes away
    }
    ed.unpersist()
    ranks
  }

  /** PERSONALIZED PageRank (random walk with restart) — [[pageRank]]'s
    * restart mass redirected to a SEED set instead of spread uniformly:
    * the "importance relative to these nodes" primitive behind
    * related-item recommendation and local graph clustering (Andersen,
    * Chung & Lang, FOCS'06). Identical integer scheme to pageRank
    * (damping 85/100, truncating div, non-negative BIGINT throughout)
    * with two changes: ranks START at the seeds only, and each round
    * re-injects 15%·SCALE at the seeds via an explicit union-aggregate
    * (a seed with no ranked in-neighbor must still hold its restart
    * mass — folding the base into the contribution GROUP BY would drop
    * it). The rank table is SPARSE: only nodes the walk has reached
    * carry rows, so iteration cost is O(ball around seeds), not O(N) —
    * the property that makes PPR usable on web-scale graphs where a
    * global pageRank pass is a full-corpus job. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      scale: Long = 1000000000L): DataFrame = {
    val base = scale * 15L / 100L
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val ed = edges.join(deg, Seq("src"))
      .repartition(col("src")).persist()
    val restart = seeds.select(col("node")).withColumn("pr", lit(base))
      .transform(pin)
    var ranks = seeds.select(col("node")).withColumn("pr", lit(scale))
      .transform(pin)
    // per-round cut kept deliberately — see pageRank's fusion note
    for (_ <- 1 to iters) {
      ranks = restart
        .unionByName(ed.join(ranks, ed("src") === ranks("node"))
          .select(col("dst"), expr("pr div outdeg").as("c"))
          .groupBy(col("dst"))
          .agg(expr("(85 * sum(c)) div 100").as("pr"))
          .select(col("dst").as("node"), col("pr")))
        .groupBy(col("node")).agg(sum(col("pr")).as("pr"))
        .transform(pin) // eager: materialized before ed goes away
    }
    ed.unpersist()
    ranks
  }

  /** K-SOURCE STRESS CENTRALITY (Shimbel 1953) within a bounded horizon —
    * the INTEGER-EXACT member of the betweenness family: stress(v) counts
    * the shortest s→t paths passing THROUGH v (betweenness sums the
    * fractional σ_st(v)/σ_st, whose ratios no cross-engine hash check can
    * carry exactly; the path COUNT needs only BIGINTs). Runs Brandes'
    * (2001) two-phase structure from each seed:
    *   1. forward level-synchronous BFS accumulating σ_s(v) = number of
    *      shortest s→v paths (σ of a frontier node = Σ σ of its
    *      predecessors — one keyed sum per level);
    *   2. backward sweep over the shortest-path DAG computing the SUFFIX
    *      COUNT C_s(v) = Σ_{w ∈ succ(v)} (C_s(w) + 1) — the number of
    *      (path, endpoint) continuations below v;
    * then stress_S(v) = Σ_s σ_s(v)·C_s(v) over v ≠ s: every s→t shortest
    * path through v decomposes uniquely into one of σ prefixes × one of C
    * suffixes. The `horizon` bounds both sweeps (cc09's fixed-budget
    * contract — paths longer than the horizon don't count, identically on
    * both engines); levels past exhaustion are no-ops. σ and C stay exact
    * path counts, which can explode on dense graphs — a loud overflow
    * fence fails the job before a silent wrap mis-ranks. */
  def stressCentrality(edges: DataFrame, seeds: DataFrame, horizon: Int): DataFrame = {
    // NOT repartition(src).persist() (tried round 15, measured WORSE,
    // 9.3→12.1 s at sf0.1): the per-round frontier is seed-ball-sized and
    // BROADCASTS against the checkpointed edge table, so e is never
    // exchanged in the loop — pre-hashing it only added an upfront full
    // exchange and cache pressure. The pageRank/sssp persist discipline
    // applies when the evolving side is corpus-sized, not here.
    val e = edges.transform(pin)
    var st = seeds.select(col("node").as("seed"), col("node"),
      lit(0).as("dist"), lit(1L).as("sigma")).transform(pin)
    var n = st.count()
    var d = 0
    var exhausted = false
    // rounds past exhaustion are no-ops (the oracle still unrolls them —
    // an empty frontier stays empty), so stop paying for them here
    while (d < horizon && !exhausted) {
      val next = st.filter(col("dist") === d).as("f")
        .join(e, col("f.node") === col("src"))
        .select(col("f.seed").as("seed"), col("dst").as("node"), col("f.sigma").as("sigma"))
        .join(st.select(col("seed").as("s2"), col("node").as("n2")),
          col("seed") === col("s2") && col("node") === col("n2"), "left_anti")
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("seed"), col("node"), lit(d + 1).as("dist"), col("sigma"))
      st = st.unionByName(next).transform(pin)
      val n2 = st.count()
      exhausted = n2 == n
      n = n2
      d += 1
    }
    val dag = st.as("u").join(e, col("u.node") === col("src"))
      .join(st.as("v"),
        col("v.seed") === col("u.seed") && col("v.node") === col("dst") &&
          col("v.dist") === col("u.dist") + 1)
      .select(col("u.seed").as("seed"), col("u.node").as("u"),
        col("v.node").as("v"), col("u.dist").as("du"))
      .transform(pin)
    var c = st.select(col("seed"), col("node"), col("dist"), lit(0L).as("c"))
      .transform(pin)
    // deepest populated level: backward rounds above it would be no-ops
    val maxDist = st.agg(max(col("dist"))).head().getInt(0)
    // Round fusion (round 15, the hop-fusion discipline): the backward
    // sweep has no per-round convergence check, so cutting lineage every
    // SECOND level halves its job barriers; a skipped level's frame is
    // referenced twice by the next level (ReuseExchange shares the
    // shuffle, the cheap tail re-evaluates once). Final level is always
    // materialized. The recurrence is unchanged.
    val dStart = math.min(horizon - 1, maxDist - 1)
    for (d <- dStart to 0 by -1) {
      val upd = dag.filter(col("du") === d)
        .join(c.select(col("seed").as("s2"), col("node").as("n2"), col("c").as("cv")),
          col("seed") === col("s2") && col("v") === col("n2"))
        .groupBy(col("seed"), col("u"))
        .agg(sum(col("cv") + 1L).as("x"))
        .select(col("seed").as("s3"), col("u").as("n3"), col("x"))
      val next = c.join(upd,
          col("seed") === col("s3") && col("node") === col("n3"), "left")
        .select(col("seed"), col("node"), col("dist"),
          when(col("dist") === d, coalesce(col("x"), lit(0L)))
            .otherwise(col("c")).as("c"))
      c = if ((dStart - d) % 2 == 1 || d == 0) pin(next) else next
    }
    val joined = st.join(c, Seq("seed", "node", "dist"))
      .filter(col("node") =!= col("seed"))
    val guard = joined.agg(greatest(max(col("sigma")), max(col("c"))).as("__mx"))
    // Fence covers the per-node SUM across seeds, not just each product:
    // stress(v) = Σ_seeds σ·c, so the wrap-free condition is
    // mx·mx·numSeeds < 2^63 (each term ≤ mx², at most one term per seed).
    // The threshold is derived from the actual seed count so the scale
    // limit is explicit rather than resting on ANSI mode turning a wrap
    // into an error.
    val numSeeds = math.max(seeds.count(), 1L)
    val fenceMax = math.sqrt(Long.MaxValue.toDouble / numSeeds).toLong - 1
    joined.crossJoin(broadcast(guard))
      .select(col("node"),
        when(col("__mx") < fenceMax, col("sigma") * col("c"))
          .otherwise(raise_error(lit(
            s"stressCentrality: path counts >= $fenceMax over $numSeeds seeds " +
              "would overflow the per-node sum of products"))).as("p"))
      .groupBy(col("node")).agg(sum(col("p")).as("stress"))
      .filter(col("stress") > 0)
  }

  /** BOUNDED min-label propagation — the label-propagation community pass
    * as its own operator: `rounds` synchronous rounds of
    *   l'(v) = min(l(v), min_{u~v} l(u)),   l₀(v) = v
    * over undirected `(a, b)` edges, WITHOUT running to fixpoint. This is
    * what a web-scale graph job actually schedules when full-diameter
    * convergence (connectedComponents above) is unaffordable: labels after
    * k rounds identify every cluster whose members sit within k hops of
    * the cluster's minimum id — dup clusters (tiny diameter) are exact
    * long before a long path graph is. Deterministic for any fixed
    * `rounds`, so it oracles as an unrolled k-step recurrence. Same
    * per-round dataflow as the fixpoint version: one shuffle join + keyed
    * min, lineage cut per round. Returns (node, label). */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct().repartition(col("a")).transform(pin)
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")).transform(pin)
    // per-round cut kept deliberately — see pageRank's fusion note
    for (_ <- 1 to rounds) {
      val nbrMin = sym.join(labels, sym("a") === labels("node"))
        .groupBy(sym("b").as("n2")).agg(min(col("label")).as("nl"))
      labels = labels.join(nbrMin, labels("node") === nbrMin("n2"))
        .select(col("node"), least(col("label"), col("nl")).as("label"))
        .transform(pin)
    }
    labels
  }

  /** BOUNDED multi-source BFS: `rounds` synchronous relaxations of
    *   d'(v) = min(d(v), min_{u→v} d(u) + 1),   d₀ = 0 on `seeds`
    * over directed (src, dst) edges — the k-hop reach query ("everything
    * within 3 hops of these nodes") that backs influence radii, trust
    * propagation from seed domains, and contamination-neighborhood
    * expansion on a dup graph. The FIXED round budget is the same
    * contract as [[labelPropagation]]: distances ≤ rounds are exact,
    * nothing farther is emitted, and the answer is deterministic for any
    * budget — so it oracles as the unrolled recurrence. Per round: one
    * shuffle join against the static hash-partitioned edge table + a
    * keyed min; the frontier table (not the edges) is the only thing
    * re-shuffled, lineage cut per round. Returns (node, dist) for nodes
    * reached within `rounds` hops, seeds at 0. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    ssspDistances(edges.select(col("src"), col("dst"))
      .withColumn("wt", lit(1L)), seeds, rounds)

  /** BOUNDED single/multi-source shortest paths — `rounds` synchronous
    * Bellman–Ford relaxations of
    *   d'(v) = min(d(v), min_{u→v} d(u) + wt(u,v)),   d₀ = 0 on `seeds`
    * over weighted (src, dst, wt) edges; [[bfsDistances]] is the wt=1
    * special case. Distances exact for every shortest path using ≤
    * `rounds` edges (the Bellman–Ford invariant) — the fixed budget is
    * the same 100 TB contract as the other iterative operators here.
    * Non-negative integer weights keep min/+ exact for the oracle. */
  def ssspDistances(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("wt"))
      .repartition(col("src")).persist()
    var d = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).transform(pin)
    // per-round cut kept deliberately — see pageRank's fusion note (the
    // checkpointed distance table broadcasts against the cached edges)
    for (_ <- 1 to rounds) {
      val prop = e.join(d, e("src") === d("node"))
        .select(col("dst").as("node"), (col("dist") + col("wt")).as("dist"))
      d = d.unionAll(prop).groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .transform(pin)
    }
    e.unpersist()
    d
  }

  /** PER-SEED bounded BFS — [[bfsDistances]] keyed by origin: the frontier
    * carries (seed, node) pairs so every seed gets its OWN distance field
    * instead of the min-over-seeds fusion. This is the core behind
    * per-node centrality measures (harmonic/closeness need d(seed, ·),
    * not d(seedset, ·)); state is O(|seeds| · reach), so callers bound
    * the seed cohort — the round budget bounds reach exactly as in
    * [[ssspDistances]], and the per-round shape is identical: the
    * keyed frontier alone re-shuffles against the statically partitioned
    * edges, keyed min, lineage cut. */
  def multiSourceDistances(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).persist()
    var all = seeds.select(col("seed")).distinct()
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
      .transform(pin)
    // Unit weights ⇒ first-touch IS the shortest distance, so only the
    // FRONTIER (pairs first reached last round) propagates — re-relaxing
    // settled pairs (the Bellman–Ford shape ssspDistances needs for
    // general weights) would re-derive every settled distance per round,
    // and on a dense graph the settled set dwarfs the frontier.
    var frontier = all
    for (r <- 1 to rounds) {
      val prop = e.join(frontier, e("src") === frontier("node"))
        .select(col("seed"), col("dst").as("node"))
        .distinct()
      val fresh = prop.join(all, Seq("seed", "node"), "left_anti")
        .withColumn("dist", lit(r.toLong))
        .transform(pin)
      // fresh is checkpointed, so the union's lineage stays flat — no
      // need to re-materialize the growing `all` every round.
      all = all.unionAll(fresh)
      frontier = fresh
    }
    e.unpersist()
    all
  }

  /** BOUNDED k-core peel: `rounds` synchronous rounds of "drop every node
    * with degree < k (and its edges)" over undirected (a, b) edges — the
    * cohesion filter that separates structurally-dense subgraphs from
    * chains and pendants (Seidman 1983; on a dup graph, a 2-core keeps
    * clusters where every member has ≥2 independent matches and sheds
    * transitive-drift chains). Like [[labelPropagation]], the FIXED round
    * budget is the contract a web-scale job schedules: peeling converges
    * in ≤ rounds on shallow structures (the overwhelming case), and the
    * answer is deterministic for any budget, so the oracle is the same
    * recurrence unrolled. Each round = one degree aggregate + two
    * semi-joins, lineage cut per round. Returns (node, deg) of the
    * surviving subgraph. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct().transform(pin)
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("a")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("a").as("n"))
      e = e.join(keep, e("a") === keep("n"), "left_semi")
        .join(keep, e("b") === keep("n"), "left_semi")
        .transform(pin)
    }
    // e is symmetric, so per-node out-degree IS the degree
    e.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** K-TRUSS decomposition by iterative support peeling (Cohen 2008;
    * Wang & Cheng, VLDB'12): repeatedly drop every edge in fewer than
    * k-2 triangles of the CURRENT subgraph until fixpoint. Where
    * [[kCore]] certifies node cohesion (degree), the truss certifies
    * EDGE cohesion (shared neighbors) — the community-core extractor
    * that a dup-graph or co-occurrence pipeline uses to keep only
    * relationships corroborated by k-2 witnesses.
    *
    * Each round re-enumerates triangles with [[triangleCounts]]'s
    * degree-ordered wedge scheme — orientation by (deg, id) gives every
    * triangle exactly ONE out-degree-2 apex, so each is found once; the
    * closing-edge probe and the survivor filter are left-semi hash
    * joins. Peeling cascades (an edge's death can starve its
    * neighbors), so unlike the fixed-budget kCore this runs TO FIXPOINT
    * with `maxRounds` as a loud-failure fence, lineage cut per round;
    * most of the work is in the first rounds — the edge set typically
    * collapses geometrically (115k→93k→67k→…→5k at sf0.01, k=10).
    * Each peel round is a fixed set of jobs, so Bench's `work` line for
    * cc20 tells the cases apart: the same jobs/tasks/shuffle records with
    * inflated wall is host contention, extra jobs are extra rounds.
    * Returns the surviving undirected (a, b) edges, a < b. */
  def trussEdges(edges: DataFrame, k: Int, maxRounds: Int = 40): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val minSup = k - 2
    var e = edges.select(col("a"), col("b")).transform(pin)
    var n = e.count()
    // Orientation is computed ONCE from the INITIAL degrees — any fixed
    // total order keeps the one-apex-per-triangle property on every
    // surviving subgraph (acyclicity is order-theoretic, not
    // degree-dependent), so later rounds reuse it with a semi-join
    // instead of re-aggregating degrees and re-joining them twice. The
    // initial degrees are also the best fanout bound available: peeling
    // only removes edges, so oriented out-degrees only shrink.
    val deg0 = e.select(col("a").as("n1")).unionAll(e.select(col("b").as("n1")))
      .groupBy(col("n1")).agg(count(lit(1)).as("d"))
    // same dimension-vs-data switch as triangleCounts
    val deg = if (n < 5000000L) broadcast(deg0) else deg0
    val or0 = e
      .join(deg.select(col("n1").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n1").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a"), col("b"),
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("w")))
          .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("p"))
      .select(col("a"), col("b"), col("p.u").as("u"), col("p.w").as("w"))
      // one hash layout on u, shared by BOTH sides of every round's
      // wedge self-join (triangleCounts' zero-exchange trick)
      .repartition(col("u")).persist()
    or0.count()
    var round = 0
    var result: DataFrame = null
    // The bloom screen over the edge keys is built ONCE and reused across
    // peel rounds: e only SHRINKS, so an older bloom stays a SUPERSET
    // screen — correctness is unchanged (every wedge it passes is still
    // confirmed by the real closing-edge semi-join below), it just grows
    // gradually less selective. Rebuild only when the edge set collapses
    // ≥4× below the build size: that caps the driver-side aggregate (a
    // full pass over e, collected to the driver) at O(log n) builds
    // instead of one per round — the round-5 scale hazard. The filter
    // travels as a BROADCAST handle, not a binary literal (round 14): the
    // sf1 scaling decade measured round 1 at 73× for 10× data, and the
    // dominant cost was the ~14 MB literal Catalyst re-hashed on every
    // analysis/canonicalization pass of the round's plan (the
    // BloomMightContainBC note's +2-3 s at 3.5 MB, compounding with plan
    // size) — the broadcast form ships only the handle in the plan.
    var bloomBc: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter] = null
    var bloomBuiltAt = 0L
    while (round < maxRounds && result == null) {
      // round 1 peels the ORIGINAL edge set — or0 IS its orientation
      val orE = if (round == 0) or0 else or0.join(e, Seq("a", "b"), "left_semi")
      val wedges0 = orE.as("x").join(orE.as("y"),
          col("x.u") === col("y.u") && col("x.w") < col("y.w"))
        .select(col("x.u").as("u"), col("x.w").as("w1"), col("y.w").as("w2"))
      // The screen is ALWAYS on: even a stale bloom prunes the vast
      // majority of wedges (most closing pairs are non-edges of even the
      // ORIGINAL graph), and it's map-side — cheaper than shuffling the
      // unscreened wedge stream into the closing semi-join at any n. The
      // 4× rebuild schedule keeps builds at O(log n) total, each build
      // geometrically cheaper than the last.
      // (n == 0 skips the screen entirely: Spark's bloomFilter aggregate
      // has no buffer for zero rows, and an empty graph is at fixpoint)
      val wedges = if (n == 0) wedges0 else {
        if (bloomBc == null || n * 4 <= bloomBuiltAt) {
          val retired = bloomBc
          bloomBc = e.sparkSession.sparkContext.broadcast(
            e.select(xxhash64(col("a"), col("b")).as("h"))
              .stat.bloomFilter("h", math.max(n, 1000L), 0.01))
          // prior rounds' jobs are fully materialized (count per round),
          // so the replaced handle has no live consumers
          if (retired != null) retired.unpersist(false)
          bloomBuiltAt = n
        }
        wedges0.filter(org.apache.spark.sql.graft.ColumnShim.column(
          graft.functions.BloomMightContainBC(
            org.apache.spark.sql.graft.ColumnShim.expression(
              xxhash64(col("w1"), col("w2"))), bloomBc)))
      }
      // closing edge is undirected; e stores it as (min, max) = (w1, w2)
      val tri = wedges.join(e.select(col("a").as("w1"), col("b").as("w2")),
        Seq("w1", "w2"), "left_semi")
      // ONE pass over the triangle stream: explode each triangle into its
      // three edges, then count. The previous 3-way unionAll of `tri`
      // planned the whole wedge+closure subtree three times — at sf0.1
      // exchange reuse papered over it, but the sf1 scaling decade showed
      // the duplicated subtrees re-running (round 1 at 73× for 10× data);
      // the explode shape (triangleCounts' discipline) makes single
      // execution structural rather than an optimizer favor.
      // Every exploded triangle edge IS an edge of the current e — (u,w1)
      // and (u,w2) come from orE (or0 semi-joined to e), and (w1,w2) was
      // just confirmed by the closing semi-join — and e is distinct, so
      // the support aggregate's kept KEY SET already equals the surviving
      // edge set: the old `e JOIN sup left_semi` re-derived it through an
      // extra exchange of e + a join per round (round 15, guide §2.4
      // "remove shuffles outright"). Same rows, same schema, one fewer
      // exchange and join every peel round.
      val e2 = tri
        .select(explode(array(
          struct(least(col("u"), col("w1")).as("a"),
            greatest(col("u"), col("w1")).as("b")),
          struct(least(col("u"), col("w2")).as("a"),
            greatest(col("u"), col("w2")).as("b")),
          struct(col("w1").as("a"), col("w2").as("b")))).as("t"))
        .select(col("t.a").as("a"), col("t.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= minSup)
        .select(col("a"), col("b"))
        .transform(pin)
      val n2 = e2.count()
      round += 1
      if (n2 == n) result = e2
      e = e2
      n = n2
    }
    or0.unpersist()
    if (result == null) throw new IllegalStateException(
      s"trussEdges(k=$k): no fixpoint within $maxRounds peel rounds")
    result
  }

  /** Per-node triangle counts by DEGREE-ORDERED wedge enumeration (Cohen
    * 2009; Suri & Vassilvitskii, WWW'11). `edges` are undirected, stored
    * once as (a, b) with a < b, distinct. Each edge is oriented from its
    * lower (degree, id) endpoint to the higher; every triangle then has
    * exactly ONE vertex with two out-edges into it (the minimum in that
    * total order), so the wedge self-join generates each triangle once —
    * and the join's fan-out at any vertex is its ORIENTED out-degree,
    * which is O(√E) on any graph, where naive a<b<c enumeration pays
    * C(deg, 2) at every hub (a 10^6-degree node → 5·10^11 wedges).
    *
    * Even oriented, most wedges do NOT close (closure probability on a
    * sparse graph is E/~V², well under 1%), so shuffling every wedge into
    * the closing-edge join moves ~100× more rows than survive it. A
    * Bloom filter over the xxhash64-packed edge keys (dd12's prefilter
    * pattern — megabytes for 10^8 edges) screens wedges
    * MAP-SIDE in the stage that generates them; only might-close wedges
    * (true closures + the fpp tail) reach the shuffle, and the real join
    * still confirms every survivor, so results are identical — measured
    * 21 s → 5 s at sf0.1 (the remainder is edge derivation + wedge
    * generation, not shuffle). Returns (node, n_tri) for nodes in ≥1
    * triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("a"), col("b")).transform(pin)
    val nEdges = e0.count()
    // The filter travels as a BROADCAST handle, not a binary literal
    // (round 15, the trussEdges round-14 lesson): a megabyte-scale
    // literal is re-hashed by Catalyst on every analysis /
    // canonicalization pass of every plan that carries it and rides
    // every stage's task binary, and the cost compounds with edge count
    // — the sf1 decade measured it as the dominant term in cc20's round
    // 1. The broadcast form ships only the handle; the test still runs
    // inside whole-stage codegen (graft.functions.BloomMightContainBC),
    // one virtual call per wedge.
    val bloomBc = e0.sparkSession.sparkContext.broadcast(
      e0.select(xxhash64(col("a"), col("b")).as("k"))
        .stat.bloomFilter("k", math.max(nEdges, 1000L), 0.01))
    def mightClose(k: Column): Column =
      org.apache.spark.sql.graft.ColumnShim.column(
        graft.functions.BloomMightContainBC(
          org.apache.spark.sql.graft.ColumnShim.expression(k), bloomBc))
    val deg0 = e0.select(col("a").as("n")).unionAll(e0.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // The degree table has ≤2E rows of two longs; checkpointed inputs hide
    // stats from the planner, so pick the join side explicitly: broadcast
    // while it plausibly fits an executor (the common case), shuffle-join
    // beyond that (a 10^9-node web graph's degree table is data, not a
    // dimension).
    val deg = if (nEdges < 5000000L) broadcast(deg0) else deg0
    // orient low (deg, id) → high; ties fall back to id order (a < b here)
    val or = e0
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          array(col("a"), col("b"))).otherwise(array(col("b"), col("a"))).as("p"))
      .select(col("p").getItem(0).as("u"), col("p").getItem(1).as("w"))
      // one hash layout on u, kept visible through persist (a checkpoint
      // would report UnknownPartitioning): BOTH sides of the wedge
      // self-join read the same cached layout — zero exchanges there
      .repartition(col("u")).persist()
    val wedges = or.as("e1").join(or.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.u").as("u"), col("e1.w").as("w1"), col("e2.w").as("w2"))
      .filter(mightClose(xxhash64(col("w1"), col("w2"))))
    // closing edge is undirected; e0 stores it as (min, max) = (w1, w2)
    val tri = wedges.join(e0,
      col("w1") === col("a") && col("w2") === col("b"))
    val counts = tri
      .select(explode(array(col("u"), col("w1"), col("w2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .transform(pin) // eager: materialized before `or` goes away
    or.unpersist()
    bloomBc.unpersist(false) // counts are materialized; no live consumers
    counts
  }

  private def hierarchyEdges(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    val cN = c.select(concat(lit("C"), col("c_custkey").cast("string")).as("id"),
      concat(lit("N"), col("c_nationkey").cast("string")).as("parent"))
    val nR = n.select(concat(lit("N"), col("n_nationkey").cast("string")).as("id"),
      concat(lit("R"), col("n_regionkey").cast("string")).as("parent"))
    val rW = r.select(concat(lit("R"), col("r_regionkey").cast("string")).as("id"),
      lit("W").as("parent"))
    cN.unionAll(nR).unionAll(rW)
  }

  private val hierarchyEdgesSql: String =
    """edges AS (
      | SELECT 'C' || CAST(c_custkey AS VARCHAR) AS id, 'N' || CAST(c_nationkey AS VARCHAR) AS parent FROM customer
      | UNION ALL
      | SELECT 'N' || CAST(n_nationkey AS VARCHAR), 'R' || CAST(n_regionkey AS VARCHAR) FROM nation
      | UNION ALL
      | SELECT 'R' || CAST(r_regionkey AS VARCHAR), 'W' FROM region),
      |seeds AS (SELECT 'C' || CAST(c_custkey AS VARCHAR) AS seed FROM customer),
      |closure(seed, node, step) AS (
      | SELECT seed, seed, 0 FROM seeds
      | UNION ALL
      | SELECT c.seed, e.parent, c.step + 1 FROM closure c JOIN edges e ON e.id = c.node WHERE c.step < 100)""".stripMargin

  def q06Closure(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables(s, dir, "customer")
      .select(concat(lit("C"), col("c_custkey").cast("string")).as("seed"))
    transitiveClosure(hierarchyEdges(s, dir), seeds)
  }

  val q06Oracle: String =
    s"""WITH RECURSIVE $hierarchyEdgesSql
       |SELECT seed, node, step FROM closure""".stripMargin

  // ---------------------------------------------------------------------
  // q45: the SAME bounded closure through Spark 4's native WITH RECURSIVE
  // — the SQL surface a user migrating recursive queries writes verbatim.
  // q06 is the driver-iterated set-based form (explicit checkpointing,
  // the 100 TB shape); q45 hands the identical text to spark.sql and the
  // oracle runs it in DuckDB — three engines' answers for one recursion,
  // all hash-equal.
  // ---------------------------------------------------------------------
  // q06Oracle's CAST(... AS VARCHAR) is a DuckDB-ism (Spark's VARCHAR
  // needs a length); STRING is accepted by BOTH engines, so this text is
  // the portable form both run verbatim.
  private val q45Sql: String =
    s"""WITH RECURSIVE ${hierarchyEdgesSql.replace("AS VARCHAR", "AS STRING")}
       |SELECT seed, node, step FROM closure""".stripMargin

  def q45RecursiveCte(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "nation", "region").foreach { n =>
      Tables(s, dir, n).createOrReplaceTempView(n)
    }
    s.sql(q45Sql)
  }

  // ---------------------------------------------------------------------
  // q48: correlated LATERAL join — the per-row dependent subquery surface
  // ("top 3 orders FOR EACH customer" written as a subquery that reads the
  // outer row). One portable text, run verbatim by BOTH engines: DuckDB
  // executes the lateral directly; Spark's Catalyst DECORRELATES it
  // (DecorrelateInnerQuery + RewriteLateralSubquery turn the per-row
  // ORDER BY ... LIMIT 3 into a partitioned window over one equi-join) —
  // so the naive nested-loop the syntax implies never executes; the plan
  // is the same shuffle-join + window top-k q10 writes by hand. That
  // rewrite IS the 100 TB story: lateral syntax scales exactly as far as
  // the optimizer's decorrelation, which .explain confirms here (no
  // CartesianProduct / no per-row subquery re-execution). Ties broken by
  // o_orderkey so the LIMIT is deterministic.
  // ---------------------------------------------------------------------
  private val q48Sql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
      |         WHERE o.o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t""".stripMargin

  def q48Lateral(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders").foreach { n =>
      Tables(s, dir, n).createOrReplaceTempView(n)
    }
    s.sql(q48Sql)
  }

  // ---------------------------------------------------------------------
  // q51: MERGE INTO semantics (ANSI upsert) — WHEN MATCHED THEN UPDATE,
  // WHEN NOT MATCHED THEN INSERT, the warehouse ingest verb that
  // subsumes q05's UPDATE…FROM. The delta here is deterministic:
  // balance adjustments for custkey % 17 == 0 (matched branch) plus
  // brand-new accounts cloned above the key space (not-matched branch).
  // Spark-first shape: the matched branch is a LEFT join of the target
  // against the (small, broadcast) delta with coalesce-based column
  // merge — the 100 TB side is scanned once and never shuffled; the
  // not-matched branch is a broadcast anti-join of the delta against
  // the target keys; union of the two IS the merged table. The single
  // float op (bal + 100.0) is one correctly-rounded IEEE add on both
  // engines, so the result hash-matches.
  // ---------------------------------------------------------------------
  def q51MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
    val delta = cust.filter(col("c_custkey") % 17 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + lit(100.0)).as("new_bal"))
      .unionByName(
        cust.filter(col("c_custkey") % 100 === 0)
          .select((col("c_custkey") + lit(1000000L)).as("c_custkey"),
            lit(0.0).as("new_bal")))
    val updated = cust.join(broadcast(delta), Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        coalesce(col("new_bal"), col("c_acctbal")).as("c_acctbal"),
        col("c_mktsegment"))
    val inserted = delta.join(cust.select(col("c_custkey")), Seq("c_custkey"),
        "left_anti")
      .select(col("c_custkey"), lit("new account").as("c_name"),
        lit(-1).cast("int").as("c_nationkey"), col("new_bal").as("c_acctbal"),
        lit("NEW").as("c_mktsegment"))
    updated.unionByName(inserted)
  }

  val q51Oracle: String =
    """WITH delta AS (
      | SELECT c_custkey, c_acctbal + 100.0 AS new_bal FROM customer
      | WHERE c_custkey % 17 = 0
      | UNION ALL
      | SELECT c_custkey + 1000000, 0.0 FROM customer WHERE c_custkey % 100 = 0)
      |SELECT c.c_custkey, c.c_name, c.c_nationkey,
      | COALESCE(d.new_bal, c.c_acctbal) AS c_acctbal, c.c_mktsegment
      |FROM customer c LEFT JOIN delta d USING (c_custkey)
      |UNION ALL
      |SELECT d.c_custkey, 'new account', CAST(-1 AS INT), d.new_bal, 'NEW'
      |FROM delta d ANTI JOIN customer c USING (c_custkey)""".stripMargin

  // ---------------------------------------------------------------------
  // q50: per-group skyline (pareto front) — the dominance filter of
  // Börzsönyi/Kossmann/Stocker's SKYLINE OF operator (ICDE 2001): a
  // (n_chars, n_tokens) point survives iff no other document in its
  // language is ≥ in both dimensions and > in one. The naive formulation
  // is a NOT EXISTS theta self-join — quadratic and cartesian-shaped; the
  // engine runs the 2D SWEEP instead: distinct points sorted
  // (n_chars DESC, n_tokens DESC) within each language are on the front
  // exactly when their n_tokens strictly exceeds the running max over all
  // earlier points (an earlier point has more chars, or equal chars and
  // more tokens — either way it dominates iff its tokens are ≥). One
  // hash-partitioned window per language over DISTINCT points (bounded by
  // the value-domain, not the corpus), zero self-joins. The oracle runs
  // the identical sweep; integers end-to-end so it hash-matches.
  // ---------------------------------------------------------------------
  def q50Skyline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val pts = docs.select(col("lang"), col("n_chars"),
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long")
          .as("n_tokens"))
      .groupBy(col("lang"), col("n_chars"), col("n_tokens"))
      .agg(count(lit(1)).as("n_docs"))
    val sweep = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("n_tokens").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("prev_max", max(col("n_tokens")).over(sweep))
      .filter(col("prev_max").isNull || col("prev_max") < col("n_tokens"))
      .select(col("lang"), col("n_chars"), col("n_tokens"), col("n_docs"))
  }

  val q50Oracle: String =
    """WITH pts AS (
      | SELECT lang, n_chars,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs
      | FROM documents
      | GROUP BY lang, n_chars, 3),
      |sw AS (
      | SELECT pts.*, MAX(n_tokens) OVER (PARTITION BY lang
      |   ORDER BY n_chars DESC, n_tokens DESC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      | FROM pts)
      |SELECT lang, n_chars, n_tokens, n_docs FROM sw
      |WHERE prev_max IS NULL OR prev_max < n_tokens""".stripMargin

  // ---------------------------------------------------------------------
  // q54: MEDIAN + deterministic MODE per group, both served from ONE
  // bounded value-histogram — the scale shape for order statistics over a
  // low-cardinality measure (quantity ∈ [1,50]): the corpus shuffles once
  // into (group, value) partial counts (map-side combine ⇒ O(groups·values)
  // rows cross the wire, not O(corpus)), and every statistic derives from
  // that tiny table — never a full-corpus sort or a percentile aggregate
  // that buffers raw values per group. Median: cumulative counts locate
  // the rows covering positions ⌈(n+1)/2⌉ and ⌊n/2⌋+1; their value
  // midpoint is exactly quantile_cont(0.5) for integer values (sums ≤ 100
  // are IEEE-exact, which is why the oracle can cross-check with DuckDB's
  // NATIVE quantile_cont instead of mirroring the histogram). Mode: dd13's
  // packed-BIGINT min — (10^9 - cnt)·1024 + value — picks the largest
  // count with the smallest-value tiebreak in one codegen'd agg, no
  // row_number window.
  // ---------------------------------------------------------------------
  def q54MedianMode(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
    val counts = li.groupBy(col("l_returnflag"), col("q"))
      .agg(count(lit(1)).as("cnt"))
    val modes = counts.groupBy(col("l_returnflag"))
      .agg(min((lit(1000000000L) - col("cnt")) * 1024L + col("q")).as("p"))
      .select(col("l_returnflag"), (col("p") % 1024L).as("mode_q"),
        (lit(1000000000L) - expr("p div 1024")).as("mode_n"))
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("q"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    val cum = counts
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("p1", expr("(n + 1) div 2"))
      .withColumn("p2", expr("n div 2 + 1"))
    val med = cum.groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= col("p1") &&
          col("cum") - col("cnt") < col("p1"), col("q"))).as("v1"),
        min(when(col("cum") >= col("p2") &&
          col("cum") - col("cnt") < col("p2"), col("q"))).as("v2"))
      .select(col("l_returnflag"), col("n"),
        ((col("v1") + col("v2")).cast("double") / 2.0).as("median_q"))
    med.join(modes, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"), col("median_q"),
        col("mode_q"), col("mode_n"))
  }

  val q54Oracle: String =
    """WITH c AS (
      | SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS cnt
      | FROM lineitem GROUP BY 1, 2),
      |m AS (
      | SELECT l_returnflag,
      |  MIN((1000000000 - cnt) * 1024 + q) AS p,
      |  CAST(SUM(cnt) AS BIGINT) AS n
      | FROM c GROUP BY 1)
      |SELECT m.l_returnflag, m.n,
      | (SELECT quantile_cont(l_quantity, 0.5) FROM lineitem li
      |  WHERE li.l_returnflag = m.l_returnflag) AS median_q,
      | CAST(p % 1024 AS BIGINT) AS mode_q,
      | CAST(1000000000 - p // 1024 AS BIGINT) AS mode_n
      |FROM m""".stripMargin

  // ---------------------------------------------------------------------
  // q63: ROBUST outlier report — median + MAD (median absolute
  // deviation) per group and the count beyond the 3·MAD fence, the
  // outlier detector that survives the outliers it hunts (mean/stddev
  // z-scores are dragged by the very tail they're fencing; Hampel's
  // identifier is the standard robust form). Same scale shape as q54:
  // the corpus crosses the wire ONCE as (group, value) partial counts;
  // the median, the distance histogram, the MAD and the fence count all
  // derive from that O(groups·values) table — three tiny-histogram
  // passes, never a corpus sort. Exactness: medians ride in HALF-units
  // (m2 = v1+v2) and MAD in QUARTER-units (u1+u2 of half-unit
  // distances), so every comparison — including the 3·MAD fence
  // 2·d2 > 3·(u1+u2) — is integer; the served median/MAD doubles are
  // dyadic rationals, bit-equal to DuckDB's native quantile_cont.
  // ---------------------------------------------------------------------
  def q63RobustOutliers(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
    val counts = li.groupBy(col("l_returnflag"), col("q"))
      .agg(count(lit(1)).as("cnt"))
      .transform(pin) // feeds the median pass, the distance histogram, and the fence count
    def histMedian2(h: DataFrame, valCol: String): DataFrame = {
      // (group, 2·median) from a (group, value, cnt) histogram — q54's
      // cumulative positions p1/p2, summed instead of averaged.
      val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col(valCol))
      val wAll = Window.partitionBy(col("l_returnflag"))
      h.withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .withColumn("p1", expr("(n + 1) div 2"))
        .withColumn("p2", expr("n div 2 + 1"))
        .groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("n"),
          (min(when(col("cum") >= col("p1") &&
            col("cum") - col("cnt") < col("p1"), col(valCol))) +
            min(when(col("cum") >= col("p2") &&
              col("cum") - col("cnt") < col("p2"), col(valCol)))).as("m2"))
    }
    val med = histMedian2(counts, "q")
    val dist = counts.join(med, Seq("l_returnflag"))
      .select(col("l_returnflag"),
        abs(lit(2L) * col("q") - col("m2")).as("d2"), col("cnt"))
      .groupBy(col("l_returnflag"), col("d2"))
      .agg(sum(col("cnt")).as("cnt"))
      .transform(pin) // feeds the MAD pass and the fence count
    val mad = histMedian2(dist, "d2")
      .select(col("l_returnflag"), col("m2").as("mad4"))
    val fence = dist.join(mad, Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(lit(2L) * col("d2") > lit(3L) * col("mad4"), col("cnt"))
        .otherwise(lit(0L))).as("n_outliers"))
    med.join(mad, Seq("l_returnflag")).join(fence, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"),
        (col("m2").cast("double") / 2.0).as("median_q"),
        (col("mad4").cast("double") / 4.0).as("mad_q"),
        col("n_outliers"))
  }

  val q63Oracle: String =
    """WITH li AS (
      | SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem),
      |med AS (
      | SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  quantile_cont(q, 0.5) AS median_q
      | FROM li GROUP BY 1),
      |d AS (
      | SELECT li.l_returnflag, abs(q - median_q) AS dv
      | FROM li JOIN med USING (l_returnflag)),
      |mad AS (
      | SELECT l_returnflag, quantile_cont(dv, 0.5) AS mad_q
      | FROM d GROUP BY 1),
      |fence AS (
      | SELECT d.l_returnflag,
      |  CAST(SUM(CASE WHEN dv > 3 * mad_q THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      | FROM d JOIN mad USING (l_returnflag) GROUP BY 1)
      |SELECT l_returnflag, n, median_q, mad_q, n_outliers
      |FROM med JOIN mad USING (l_returnflag) JOIN fence USING (l_returnflag)""".stripMargin

  // ---------------------------------------------------------------------
  // q07: deepest matching ancestor (C5 — ordered scalar subquery picking the
  // max-step is_2nd ancestor, src/post/find_subdivision.sql:9-32 and note †
  // in SURVEY §2). "is_2nd" here = nation/region nodes; window + row_number
  // with the deterministic (step DESC, node ASC) tiebreak SURVEY mandates.
  // ---------------------------------------------------------------------
  def q07DeepestAncestor(s: SparkSession, dir: String): DataFrame = {
    val closure = q06Closure(s, dir)
    val anc = closure.filter(col("node").startsWith("N") || col("node").startsWith("R"))
    val w = Window.partitionBy(col("seed")).orderBy(col("step").desc, col("node").asc)
    anc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("seed"), col("node").as("anc_node"), col("step").as("anc_step"))
  }

  val q07Oracle: String =
    s"""WITH RECURSIVE $hierarchyEdgesSql
       |SELECT seed, node AS anc_node, step AS anc_step FROM (
       | SELECT seed, node, step,
       |  ROW_NUMBER() OVER (PARTITION BY seed ORDER BY step DESC, node ASC) AS rn
       | FROM closure WHERE node LIKE 'N%' OR node LIKE 'R%') t WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // q08: language-prefix theta join (C7 — label.lang = code OR label.lang
  // LIKE primary || '-%', src/post/per_city.sql:31-36). Kept hash-joinable:
  // equi-join on the primary subtag plus the residual OR-predicate, instead
  // of a nested-loop theta join — this is the 100 TB-safe shape.
  // ---------------------------------------------------------------------
  def q08PrefixLangJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val labels = docs.select(col("doc_id"),
      concat(col("lang"),
        when(col("doc_id") % 3 === 1, "-x")
          .when(col("doc_id") % 3 === 2, "-y").otherwise("")).as("label_lang"))
    val dim = docs.select(col("lang").as("code")).distinct()
    labels.withColumn("primary", split(col("label_lang"), "-").getItem(0))
      .join(broadcast(dim), col("primary") === col("code") &&
        (col("label_lang") === col("code") ||
          col("label_lang").startsWith(concat(col("code"), lit("-")))))
      .select(col("doc_id"), col("label_lang"), col("code"))
  }

  val q08Oracle: String =
    """WITH labels AS (
      | SELECT doc_id, lang || CASE WHEN doc_id % 3 = 1 THEN '-x' WHEN doc_id % 3 = 2 THEN '-y' ELSE '' END AS label_lang
      | FROM documents),
      |dim AS (SELECT DISTINCT lang AS code FROM documents)
      |SELECT doc_id, label_lang, code FROM labels JOIN dim
      |ON label_lang = code OR label_lang LIKE code || '-%'""".stripMargin

  // ---------------------------------------------------------------------
  // q09: ordered DISTINCT group concat (C8 — GROUP_CONCAT(label, " / ") over
  // SELECT DISTINCT, src/post/city_labels.sql:8-23). collect_list order is
  // nondeterministic under shuffle (SURVEY §7.4 #2) so we sort inside the
  // aggregate: array_sort(array_distinct(...)).
  // ---------------------------------------------------------------------
  def q09GroupConcat(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.select(col("l_orderkey"),
        concat(col("l_returnflag"), col("l_linestatus")).as("tag"))
      .groupBy(col("l_orderkey"))
      .agg(concat_ws(" / ", array_sort(array_distinct(collect_list(col("tag"))))).as("tags"))
  }

  val q09Oracle: String =
    """SELECT l_orderkey, string_agg(DISTINCT tag, ' / ' ORDER BY tag) AS tags
      |FROM (SELECT l_orderkey, l_returnflag || l_linestatus AS tag FROM lineitem) t
      |GROUP BY l_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q10: top-k per group (C9 — GROUP BY ... ORDER BY ... LIMIT 2,
  // src/post/per_city.sql:38-40). Top-2 lineitems per order by price.
  // ---------------------------------------------------------------------
  def q10TopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_linenumber").asc)
    li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("rn"))
  }

  val q10Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
      | SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
      | FROM lineitem) t WHERE rn <= 2""".stripMargin

  // ---------------------------------------------------------------------
  // q11: conditional label merge (C10 — nested iif null-handling + equality
  // collapse + " / " concat, src/post/city_labels_by_country.sql:6-18).
  // ---------------------------------------------------------------------
  def q11LabelMerge(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val a = when(col("c_acctbal") > 5000, col("c_name"))
    val b = when(col("c_custkey") % 3 === 0, col("c_mktsegment"))
    c.select(col("c_custkey"),
      when(a.isNull, b).when(b.isNull, a).when(a === b, a)
        .otherwise(concat(a, lit(" / "), b)).as("merged"))
  }

  val q11Oracle: String =
    """SELECT c_custkey,
      | CASE WHEN a IS NULL THEN b WHEN b IS NULL THEN a WHEN a = b THEN a
      |      ELSE a || ' / ' || b END AS merged
      |FROM (SELECT c_custkey,
      |  CASE WHEN c_acctbal > 5000 THEN c_name END AS a,
      |  CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment END AS b
      | FROM customer) t""".stripMargin

  // ---------------------------------------------------------------------
  // q12: multi-way join pipeline (C6/C11 — the 6-way mixed join of
  // src/post/city_labels_by_country.sql:20-59). TPC-H Q5 shape: revenue by
  // region; dims broadcast (nation/region are tiny — SURVEY C21).
  // ---------------------------------------------------------------------
  def q12RevenueByRegion(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val c = Tables(s, dir, "customer")
    val sup = Tables(s, dir, "supplier")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey") && c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q12Oracle: String =
    """SELECT r_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY r_name""".stripMargin

  // ---------------------------------------------------------------------
  // q13: DISTINCT projection (C12 — src/post/city_labels.sql:12-14).
  // ---------------------------------------------------------------------
  def q13Distinct(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("lang"), col("source")).distinct()

  val q13Oracle: String = "SELECT DISTINCT lang, source FROM documents"

  // ---------------------------------------------------------------------
  // q14: IN-list filter + preference sort + LIMIT 1 per group (C13 —
  // ORDER BY lang = 'eo' DESC LIMIT 1, src/post/esperanto_city_labels.sql:
  // 10-18; deterministic tiebreak added per SURVEY §7.4 #1).
  // ---------------------------------------------------------------------
  def q14PreferencePick(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val w = Window.partitionBy(col("source"))
      .orderBy((col("lang") === "de").desc, col("lang").asc, col("doc_id").asc)
    docs.filter(col("lang").isin("de", "en", "es", "fr"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("source"), col("doc_id"), col("lang"))
  }

  val q14Oracle: String =
    """SELECT source, doc_id, lang FROM (
      | SELECT source, doc_id, lang,
      |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY (lang = 'de') DESC, lang ASC, doc_id ASC) AS rn
      | FROM documents WHERE lang IN ('de','en','es','fr')) t WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // q15: NULL-remainder cascade (C14 — 4-tier label cascade where each stage
  // fills only rows the previous left NULL, src/post/mod.rs:114-155).
  // Expressed as sequential coalesce passes, the functional form of
  // UPDATE ... WHERE x IS NULL.
  // ---------------------------------------------------------------------
  def q15NullCascade(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val t1 = c.withColumn("label", when(col("c_acctbal") > 7500, col("c_name")))
    val t2 = t1.withColumn("label",
      coalesce(col("label"), when(col("c_custkey") % 2 === 0, upper(col("c_mktsegment")))))
    val t3 = t2.withColumn("label", coalesce(col("label"), lit("UNKNOWN")))
    t3.select(col("c_custkey"), col("label"))
  }

  val q15Oracle: String =
    """SELECT c_custkey,
      | COALESCE(CASE WHEN c_acctbal > 7500 THEN c_name END,
      |          CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment) END,
      |          'UNKNOWN') AS label
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------------
  // q16: COUNT / COUNT(DISTINCT) (C15 — src/post/mod.rs:126,143).
  // ---------------------------------------------------------------------
  def q16Counts(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.agg(count(lit(1)).as("n_rows"),
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"))
  }

  val q16Oracle: String =
    """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_partkey) AS n_parts,
      | COUNT(DISTINCT l_suppkey) AS n_supps FROM lineitem""".stripMargin

  // ---------------------------------------------------------------------
  // q17: keyed dedup (A13/C17 — INSERT OR IGNORE first-wins dedup,
  // src/database.rs:99-110 and src/post/cleanup/02.sql:1-18). The
  // reference's "first" is scan-order (unspecified); we use deterministic
  // min(event_id), which SURVEY A13 notes is semantics-equivalent.
  // ---------------------------------------------------------------------
  def q17DedupFirstWins(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    ev.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("event_id"))
  }

  val q17Oracle: String =
    """SELECT user_id, event_type, MIN(event_id) AS event_id
      |FROM events GROUP BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q18: FK-existence cascade (C18 — delete rows with no surviving parent,
  // src/post/cleanup/05.sql:1-6, 07.sql, 08.sql). Semi-join chain.
  // ---------------------------------------------------------------------
  def q18FkCascade(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    val li = Tables(s, dir, "lineitem")
    o.join(c, o("o_custkey") === c("c_custkey"), "left_semi")
      .join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  val q18Oracle: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
      |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin

  // ---------------------------------------------------------------------
  // q19: FK repoint / dimension inlining (C19 — cities.country Q-id → ISO
  // via join, src/post/cleanup/05.sql:8-16). Broadcast the dim.
  // ---------------------------------------------------------------------
  def q19FkRepoint(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val n = Tables(s, dir, "nation")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .select(col("c_custkey"), col("n_name").as("nation"))
  }

  val q19Oracle: String =
    """SELECT c_custkey, n_name AS nation
      |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""".stripMargin

  // ---------------------------------------------------------------------
  // q27: hierarchical ROLLUP aggregate — subtotals + grand total in one
  // pass (Expand keeps it a single shuffle; counts stay exact integers).
  // ---------------------------------------------------------------------
  def q27Rollup(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
  }

  val q27Oracle: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  // ---------------------------------------------------------------------
  // q28: set operators — INTERSECT / EXCEPT between customer key sets
  // (both plan as hash-aggregated semi/anti joins).
  // ---------------------------------------------------------------------
  def q28SetOps(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val big = c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    val building = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    big.intersect(building).withColumn("src", lit("both"))
      .unionAll(big.except(building).withColumn("src", lit("rich_only")))
  }

  val q28Oracle: String =
    """WITH big AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
      |building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |SELECT c_custkey, 'both' AS src FROM (SELECT * FROM big INTERSECT SELECT * FROM building) t
      |UNION ALL
      |SELECT c_custkey, 'rich_only' FROM (SELECT * FROM big EXCEPT SELECT * FROM building) t""".stripMargin

  // ---------------------------------------------------------------------
  // q55: MULTISET set operations — EXCEPT ALL / INTERSECT ALL, the
  // bag-semantics complement of q28's DISTINCT set ops: multiplicities
  // carry through (a part returned 5 times and accepted twice keeps 3
  // r_surplus rows), which is what reconciliation/inventory-delta queries
  // need and what EXCEPT/INTERSECT silently destroy. Spark plans both as
  // count-annotated aggregates + generate — one shuffle per side, no
  // join explosion on duplicate-heavy keys.
  // ---------------------------------------------------------------------
  def q55MultisetOps(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val r = li.filter(col("l_returnflag") === "R").select(col("l_partkey"))
    val a = li.filter(col("l_returnflag") === "A").select(col("l_partkey"))
    r.exceptAll(a).withColumn("src", lit("r_surplus"))
      .unionAll(r.intersectAll(a).withColumn("src", lit("common")))
  }

  val q55Oracle: String =
    """SELECT l_partkey, 'r_surplus' AS src FROM (
      | SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
      | EXCEPT ALL
      | SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A') t
      |UNION ALL
      |SELECT l_partkey, 'common' FROM (
      | SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
      | INTERSECT ALL
      | SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A') t""".stripMargin

  // ---------------------------------------------------------------------
  // q56: bitwise / boolean aggregate verbs — BIT_AND/BIT_OR/BIT_XOR and
  // BOOL_AND/BOOL_OR per group: flag-mask folding (which capability bits
  // are common to / present in a group) and predicate rollups
  // ("every line shipped multi-unit", "any line deeply discounted").
  // All associative+commutative ⇒ map-side partials; integer/boolean
  // results hash exactly.
  // ---------------------------------------------------------------------
  def q56BitBoolAggs(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(col("l_returnflag"),
      col("l_quantity").cast("long").as("q"), col("l_discount"))
    li.groupBy(col("l_returnflag"))
      .agg(expr("bit_and(q)").as("q_and"),
        expr("bit_or(q)").as("q_or"),
        expr("bit_xor(q)").as("q_xor"),
        expr("bool_and(q > 1)").as("all_multi"),
        expr("bool_or(l_discount > 0.09)").as("any_big_disc"))
  }

  val q56Oracle: String =
    """SELECT l_returnflag,
      | CAST(BIT_AND(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q_and,
      | CAST(BIT_OR(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q_or,
      | CAST(BIT_XOR(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q_xor,
      | BOOL_AND(CAST(l_quantity AS BIGINT) > 1) AS all_multi,
      | BOOL_OR(l_discount > 0.09) AS any_big_disc
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // q29: sketch aggregates — HyperLogLog++ distinct counts and quantile
  // sketches, the constant-memory path for 100 TB cardinality/percentile
  // questions (rows-only driver check: approximations have no exact
  // oracle; SketchAccuracySpec bounds them against exact answers, and
  // q29_sketch_exact below serves THE SAME STATISTICS exactly with a
  // full oracle — so the approximate sketches are the only unverified
  // surface left in the suite).
  // ---------------------------------------------------------------------
  def q29Sketches(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("nd_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("p50_price"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(1000))
          .as("p99_price"))
  }

  // ---------------------------------------------------------------------
  // q29_sketch_exact: the EXACT twin of q29's statistics — true COUNT
  // DISTINCT and true order-statistic p50/p99 (smallest value whose rank
  // reaches ⌈p·n⌉ — the inverse-CDF / quantile_disc definition, pure
  // integer rank arithmetic, no interpolation) served from q54's bounded
  // value-histogram shape: the corpus shuffles once into (group, price)
  // partial counts, cumulative sums locate the rank brackets, and no
  // full-corpus sort or per-group value buffer exists anywhere. This is
  // what a pipeline runs when the answer must be exact (release
  // reporting); q29's sketches are the constant-memory path when it
  // needn't be — and this query is the oracle-checked yardstick the
  // sketch spec measures against.
  // ---------------------------------------------------------------------
  def q29SketchExact(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_partkey"),
        dec(col("l_extendedprice")).as("price"))
    val nd = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("nd_parts"))
    val counts = li.groupBy(col("l_returnflag"), col("price"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("price"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    val cum = counts
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("r50", expr("(n + 1) div 2"))          // = ceil(0.50·n)
      .withColumn("r99", expr("(99 * n + 99) div 100"))  // = ceil(0.99·n)
    val qs = cum.groupBy(col("l_returnflag"))
      .agg(min(when(col("cum") >= col("r50") &&
          col("cum") - col("cnt") < col("r50"), col("price"))).as("p50"),
        min(when(col("cum") >= col("r99") &&
          col("cum") - col("cnt") < col("r99"), col("price"))).as("p99"))
    nd.join(qs, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("nd_parts"),
        col("p50").cast("double").as("p50_price"),
        col("p99").cast("double").as("p99_price"))
  }

  val q29ExactOracle: String =
    """WITH c AS (
      | SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
      |  CAST(COUNT(*) AS BIGINT) AS cnt
      | FROM lineitem GROUP BY 1, 2),
      |w AS (
      | SELECT l_returnflag, price, cnt,
      |  SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY price) AS cum,
      |  SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      | FROM c),
      |q AS (
      | SELECT l_returnflag,
      |  MIN(CASE WHEN cum >= (n + 1) // 2
      |           AND cum - cnt < (n + 1) // 2 THEN price END) AS p50,
      |  MIN(CASE WHEN cum >= (99 * n + 99) // 100
      |           AND cum - cnt < (99 * n + 99) // 100 THEN price END) AS p99
      | FROM w GROUP BY 1),
      |nd AS (
      | SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_parts
      | FROM lineitem GROUP BY 1)
      |SELECT nd.l_returnflag, nd.nd_parts,
      | CAST(q.p50 AS DOUBLE) AS p50_price, CAST(q.p99 AS DOUBLE) AS p99_price
      |FROM nd JOIN q USING (l_returnflag)""".stripMargin

  // ---------------------------------------------------------------------
  // q31: skew-salted join, driver-checked — revenue per market segment
  // computed through saltedJoin (orders scattered over 8 salt replicas of
  // customer). The oracle is the PLAIN join: salting must be invisible in
  // the results, only in the shuffle layout. C21's index dissolution story:
  // when a hot key would stall one reducer and AQE's skew split can't
  // apply, this is the manual tool.
  // ---------------------------------------------------------------------
  def q31SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val customer = Tables(s, dir, "customer")
    saltedJoin(orders, customer, "o_custkey", "c_custkey", 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
  }

  val q31Oracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // q35: FULL OUTER join — reconcile two sparse aggregates where either
  // side may be missing a key (high-balance customers vs high-balance
  // suppliers per nation). Both inputs pre-aggregate before the join, so
  // the outer join runs on |nations|-sized sides regardless of fact-table
  // scale; coalesce recovers the key from whichever side survived.
  // ---------------------------------------------------------------------
  def q35FullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer").filter(col("c_acctbal") > 9900)
      .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
    val su = Tables(s, dir, "supplier").filter(col("s_acctbal") > 9900)
      .groupBy(col("s_nationkey").as("nk2")).agg(count(lit(1)).as("n_supp"))
    c.join(su, c("nk") === su("nk2"), "full_outer")
      .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
        col("n_cust"), col("n_supp"))
  }

  val q35Oracle: String =
    """WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer
      |  WHERE c_acctbal > 9900 GROUP BY 1),
      |s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier
      |  WHERE s_acctbal > 9900 GROUP BY 1)
      |SELECT COALESCE(c.nk, s.nk) AS nationkey, c.n_cust, s.n_supp
      |FROM c FULL OUTER JOIN s ON c.nk = s.nk""".stripMargin

  // ---------------------------------------------------------------------
  // q36: CUBE — all 2^k grouping-set combinations in ONE pass (Spark
  // expands the sets inside a single Expand + hash aggregate; k separate
  // GROUP BYs would be k scans of a 100 TB input). Null grouping markers
  // are safe here because lang/source are non-nullable in the data; a
  // nullable-dimension cube would add grouping_id() to disambiguate.
  // ---------------------------------------------------------------------
  def q36Cube(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
  }

  val q36Oracle: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY CUBE (lang, source)""".stripMargin

  // ---------------------------------------------------------------------
  // q39: explicit GROUPING SETS — the report shapes ROLLUP/CUBE can't
  // express: per-language totals, per-source totals, and the grand total
  // (but NOT the (lang, source) cross) in ONE Expand pass over one scan —
  // three separate aggregations' worth of answers for a single corpus
  // read at 100 TB.
  // ---------------------------------------------------------------------
  def q39GroupingSets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.groupingSets(
        Seq(Seq(col("lang")), Seq(col("source")), Seq()),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
  }

  val q39Oracle: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY GROUPING SETS ((lang), (source), ())""".stripMargin

  // ---------------------------------------------------------------------
  // q42: NTILE quartiles within groups — "bucket customers into account-
  // balance quartiles per market segment" (cohort assignment, A/B strata,
  // spend tiers). NTILE is rank arithmetic over the per-segment order;
  // segments are few and independent, so the per-partition sort runs
  // parallel across segments. c_acctbal DOUBLEs only ORDER — never
  // aggregate — so cross-engine hashing is safe; ties break on c_custkey.
  // ---------------------------------------------------------------------
  def q42Ntile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables(s, dir, "customer")
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    c.select(col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(w).as("quartile"))
      .groupBy(col("c_mktsegment"), col("quartile"))
      .agg(count(lit(1)).as("n"),
        min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
  }

  val q42Oracle: String =
    """SELECT c_mktsegment, quartile, COUNT(*) AS n,
      | MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
      |FROM (
      | SELECT c_custkey, c_mktsegment,
      |  CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
      |    ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS quartile
      | FROM customer) t
      |GROUP BY c_mktsegment, quartile""".stripMargin

  // ---------------------------------------------------------------------
  // q47: distribution-rank window functions — PERCENT_RANK, CUME_DIST and
  // NTH_VALUE per market segment. The ranks are exact rational arithmetic
  // ((rank-1)/(n-1), rows≤/n) over a UNIQUE order (acctbal, custkey), so
  // the doubles are single IEEE divisions of exact integers — identical
  // across engines, no rounding fence needed. NTH_VALUE carries an
  // EXPLICIT running ROWS frame in both engines so default-frame
  // differences can never bite.
  // ---------------------------------------------------------------------
  def q47DistRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables(s, dir, "customer")
    val ord = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    val running = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c.select(col("c_custkey"), col("c_mktsegment"),
      percent_rank().over(ord).as("pct_rank"),
      cume_dist().over(ord).as("cum_dist"),
      nth_value(col("c_custkey"), 3).over(running).as("third_key"))
  }

  val q47Oracle: String =
    """SELECT c_custkey, c_mktsegment,
      | PERCENT_RANK() OVER w AS pct_rank,
      | CUME_DIST() OVER w AS cum_dist,
      | NTH_VALUE(c_custkey, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_key
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)""".stripMargin

  // ---------------------------------------------------------------------
  // q43: correlated subqueries through Catalyst's decorrelation — the SQL
  // surface users actually write (scalar subquery + correlated EXISTS),
  // handed to spark.sql so RewriteCorrelatedScalarSubquery turns the
  // per-row "nation average" into ONE aggregate + join (never N
  // re-executions) and the EXISTS into a left-semi hash join. The oracle
  // is the same text in DuckDB — both engines must agree that
  // decorrelation preserves semantics.
  // ---------------------------------------------------------------------
  private val q43Sql: String =
    """SELECT c.c_custkey, c.c_nationkey
      |FROM customer c
      |WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
      |                     WHERE c2.c_nationkey = c.c_nationkey)
      |  AND EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)""".stripMargin

  def q43Correlated(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders").foreach { n =>
      Tables(s, dir, n).createOrReplaceTempView(n)
    }
    s.sql(q43Sql)
  }

  val q43Oracle: String = q43Sql

  // ---------------------------------------------------------------------
  // q61: RELATIONAL DIVISION ("for all") — customers active in EVERY
  // order-year in the data, the universal-quantifier query relational
  // algebra can't write with joins alone. The scalable form is
  // division-by-count: collapse to distinct (customer, year) — one
  // hash-shuffle aggregate — then a per-customer count compared against
  // the (broadcast, 1-row) universe size; the naive form (anti-join
  // against customer × years missing combos) materializes a cross
  // product the counting form never builds. All-integer, hash-exact.
  // ---------------------------------------------------------------------
  def q61RelationalDivision(s: SparkSession, dir: String): DataFrame = {
    val oy = Tables(s, dir, "orders")
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr")).distinct()
    val ny = oy.select(col("yr")).distinct().agg(count(lit(1)).as("n_years"))
    oy.groupBy(col("o_custkey")).agg(count(lit(1)).as("n_cust_years"))
      .crossJoin(broadcast(ny))
      .filter(col("n_cust_years") === col("n_years"))
      .select(col("o_custkey"), col("n_cust_years"))
  }

  val q61Oracle: String =
    """WITH oy AS (SELECT DISTINCT o_custkey, year(o_orderdate) AS yr FROM orders),
      |ny AS (SELECT COUNT(DISTINCT yr) AS n_years FROM oy)
      |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_cust_years
      |FROM oy, ny GROUP BY o_custkey, ny.n_years
      |HAVING COUNT(*) = ny.n_years""".stripMargin

  // ---------------------------------------------------------------------
  // q66: EQUI-DEPTH histogram boundaries — the quartile fences (b25, b50,
  // b75) every cost-based optimizer and data-profiling report keeps per
  // column. Same one-histogram-pass scale shape as q54/q63: the corpus
  // crosses the wire once as (group, value) partial counts; boundaries
  // come from the cumulative-crossing idiom on the tiny histogram. The
  // quantile rule is pinned to INTEGER arithmetic on both sides — b_p =
  // MIN v with cum ≥ ⌈p·n⌉, targets (n+3) div 4, (n+1) div 2,
  // (3n+3) div 4 — rather than trusting two engines' quantile_disc
  // interpolation conventions to coincide.
  // ---------------------------------------------------------------------
  def q66EquidepthHist(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
    val counts = li.groupBy(col("l_returnflag"), col("q"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("q"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    def crossing(t: Column): Column =
      min(when(col("cum") >= t && col("cum") - col("cnt") < t, col("q")))
    counts
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("t25", expr("(n + 3) div 4"))
      .withColumn("t50", expr("(n + 1) div 2"))
      .withColumn("t75", expr("(3 * n + 3) div 4"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n"), crossing(col("t25")).as("b25"),
        crossing(col("t50")).as("b50"), crossing(col("t75")).as("b75"))
  }

  val q66Oracle: String =
    """WITH c AS (
      | SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
      |  CAST(COUNT(*) AS BIGINT) AS cnt
      | FROM lineitem GROUP BY 1, 2),
      |w AS (
      | SELECT l_returnflag, q, cnt,
      |  SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY q) AS cum,
      |  SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      | FROM c)
      |SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
      | MIN(CASE WHEN cum >= (n + 3) // 4 AND cum - cnt < (n + 3) // 4 THEN q END) AS b25,
      | MIN(CASE WHEN cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2 THEN q END) AS b50,
      | MIN(CASE WHEN cum >= (3 * n + 3) // 4 AND cum - cnt < (3 * n + 3) // 4 THEN q END) AS b75
      |FROM w GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q74: ASSOCIATION RULES, 2-itemset stage (Agrawal & Srikant's Apriori,
  // VLDB'94) — market-basket mining over orders-as-baskets: for every
  // part pair co-purchased in ≥ 3 orders, support, both directional
  // confidences, and lift. The support threshold IS Apriori's pruning:
  // applied on the pair-count aggregate before any metric math, it
  // bounds the rule table by the data's co-occurrence structure rather
  // than |parts|². Confidence/lift are served from integer counts with
  // one double division each (lift = s_ab·N / (s_a·s_b), > 1 ⟺
  // positively associated). Plan: one distinct-(order, part) pass feeds
  // the item counts AND the self-join pair counts; item counts join
  // back broadcast.
  // ---------------------------------------------------------------------
  def q74AssocRules(s: SparkSession, dir: String): DataFrame = {
    val items = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
      .distinct().transform(pin)
    val nRow = items.select(col("ok")).distinct().agg(count(lit(1)).as("n"))
    val ic = items.groupBy(col("item")).agg(count(lit(1)).as("s"))
    val pairs = items.as("x").join(items.as("y"),
        col("x.ok") === col("y.ok") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("item_a"), col("y.item").as("item_b"))
      .agg(count(lit(1)).as("s_ab"))
      .filter(col("s_ab") >= 3)
    pairs
      .join(broadcast(ic.select(col("item").as("item_a"), col("s").as("s_a"))), Seq("item_a"))
      .join(broadcast(ic.select(col("item").as("item_b"), col("s").as("s_b"))), Seq("item_b"))
      .crossJoin(broadcast(nRow))
      .select(col("item_a"), col("item_b"), col("s_ab"), col("s_a"), col("s_b"), col("n"),
        (col("s_ab").cast("double") / col("s_a")).as("conf_ab"),
        (col("s_ab").cast("double") / col("s_b")).as("conf_ba"),
        ((col("s_ab") * col("n")).cast("double") / (col("s_a") * col("s_b"))).as("lift"))
  }

  val q74Oracle: String =
    """WITH items AS (
      | SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
      |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM items),
      |ic AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS s FROM items GROUP BY 1),
      |p AS (
      | SELECT x.item AS item_a, y.item AS item_b, CAST(COUNT(*) AS BIGINT) AS s_ab
      | FROM items x JOIN items y ON x.ok = y.ok AND x.item < y.item
      | GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT p.item_a, p.item_b, p.s_ab, a.s AS s_a, b.s AS s_b, n.n,
      | CAST(p.s_ab AS DOUBLE) / a.s AS conf_ab,
      | CAST(p.s_ab AS DOUBLE) / b.s AS conf_ba,
      | CAST(p.s_ab * n.n AS DOUBLE) / (a.s * b.s) AS lift
      |FROM p JOIN ic a ON a.item = p.item_a
      | JOIN ic b ON b.item = p.item_b CROSS JOIN n""".stripMargin

  // ---------------------------------------------------------------------
  // q75: HIERARCHICAL SHARE-OF-PARENT — each nation's revenue share of
  // its region and each region's share of the world: the ratio-to-
  // report rollup every BI drill-down renders. Revenue is carried in
  // integer CENTS (floor(price·100) — explicit floor because DuckDB's
  // double→BIGINT cast rounds where Spark's truncates), so
  // the three rollup levels stay bit-exact and only the two final
  // share divisions are doubles. One fact-table pass; nation/region
  // dims broadcast; the parent totals re-join broadcast (dictionary-
  // sized) — the fact table crosses the wire once.
  // ---------------------------------------------------------------------
  def q75ShareOfParent(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_regionkey"),
        expr("cast(floor(l_extendedprice * 100) as bigint)").as("cents"))
    val byNation = rev.groupBy(col("n_name"), col("n_regionkey"))
      .agg(sum(col("cents")).as("n_cents"))
    val byRegion = byNation.groupBy(col("n_regionkey"))
      .agg(sum(col("n_cents")).as("r_cents"))
    val total = byRegion.agg(sum(col("r_cents")).as("t_cents"))
    byNation
      .join(broadcast(byRegion), Seq("n_regionkey"))
      .crossJoin(broadcast(total))
      .join(broadcast(Tables(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), col("n_cents"), col("r_cents"),
        col("t_cents"),
        (col("n_cents").cast("double") / col("r_cents")).as("share_of_region"),
        (col("r_cents").cast("double") / col("t_cents")).as("region_share_of_total"))
  }

  val q75Oracle: String =
    """WITH rev AS (
      | SELECT n.n_name, n.n_regionkey,
      |  CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS cents
      | FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
      |bn AS (
      | SELECT n_name, n_regionkey, CAST(SUM(cents) AS BIGINT) AS n_cents
      | FROM rev GROUP BY 1, 2),
      |br AS (
      | SELECT n_regionkey, CAST(SUM(n_cents) AS BIGINT) AS r_cents
      | FROM bn GROUP BY 1),
      |t AS (SELECT CAST(SUM(r_cents) AS BIGINT) AS t_cents FROM br)
      |SELECT r.r_name, bn.n_name, bn.n_cents, br.r_cents, t.t_cents,
      | CAST(bn.n_cents AS DOUBLE) / br.r_cents AS share_of_region,
      | CAST(br.r_cents AS DOUBLE) / t.t_cents AS region_share_of_total
      |FROM bn JOIN br USING (n_regionkey)
      | JOIN region r ON r.r_regionkey = bn.n_regionkey CROSS JOIN t""".stripMargin

  // ---------------------------------------------------------------------
  // q76: GINI COEFFICIENT of customer spend — the inequality metric a
  // marketplace health report leads with ("do 1% of buyers drive 99% of
  // revenue?"). Exact rational form over integer cents:
  //   G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx),  x sorted ascending, i = rank.
  // Ties contribute identically under any tie order (equal x makes the
  // rank-weighted block sum order-invariant), so the (cents, custkey)
  // rank is deterministic AND tie-robust. Zero-spend customers are
  // included via left join — dropping them understates inequality.
  // The rank window runs over the per-customer AGGREGATE (one row per
  // customer); at a scale where even that table can't single-sort, the
  // rank becomes ds13's range-partition + partition-offset two-phase
  // form — the formula is unchanged.
  // ---------------------------------------------------------------------
  /** Per-customer lifetime spend in integer CENTS, zero-spend customers
    * included (floor(price·100) — explicit floor because DuckDB's
    * double→BIGINT cast rounds where Spark's truncates). Shared by the
    * q76 Gini and q80 Pareto concentration reports. */
  private def customerSpendCents(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").select(col("c_custkey"))
      .join(
        Tables(s, dir, "lineitem")
          .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(expr("cast(floor(l_extendedprice * 100) as bigint)")).as("cents")),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), coalesce(col("cents"), lit(0L)).as("cents"))

  private val spendCentsSql: String =
    """spend AS (
      | SELECT c.c_custkey, COALESCE(t.cents, 0) AS cents
      | FROM customer c LEFT JOIN (
      |  SELECT o.o_custkey,
      |   CAST(SUM(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1) t ON t.o_custkey = c.c_custkey)""".stripMargin

  def q76Gini(s: SparkSession, dir: String): DataFrame = {
    val spend = customerSpendCents(s, dir)
    val w = Window.orderBy(col("cents"), col("c_custkey"))
    spend.withColumn("i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(col("i") * col("cents")).as("sxi"))
      .select(col("n"), col("s"),
        (lit(2L) * col("sxi") - (col("n") + 1L) * col("s")).as("num"),
        (col("n") * col("s")).as("den"))
      .withColumn("gini", col("num").cast("double") / col("den"))
  }

  val q76Oracle: String =
    s"""WITH $spendCentsSql,
      |r AS (
      | SELECT cents,
      |  CAST(ROW_NUMBER() OVER (ORDER BY cents, c_custkey) AS BIGINT) AS i
      | FROM spend),
      |a AS (
      | SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s,
      |  CAST(SUM(i * cents) AS BIGINT) AS sxi
      | FROM r)
      |SELECT n, s, 2 * sxi - (n + 1) * s AS num, n * s AS den,
      | CAST(2 * sxi - (n + 1) * s AS DOUBLE) / (n * s) AS gini
      |FROM a""".stripMargin

  // ---------------------------------------------------------------------
  // q78: BENFORD first-digit audit — the forensic-accounting screen
  // (Nigrini's fraud test): natural multi-scale amounts follow
  // P(d) = log10(1 + 1/d); fabricated ones usually don't. Expected
  // frequencies enter as INTEGER PER-MILLE CONSTANTS (301, 176, …) —
  // never runtime logarithms two libms might disagree on — and the
  // deviation per digit is the exact integer 1000·observed − expected·n
  // (positive = digit over-represented), with one double division for
  // the readable share. One pass over order totals; leading digit via
  // string head of the integer cents (cents ≥ 1 ⇒ no leading zero).
  // ---------------------------------------------------------------------
  private val benfordPerMille: Seq[(Int, Long)] =
    Seq(1 -> 301L, 2 -> 176L, 3 -> 125L, 4 -> 97L, 5 -> 79L,
      6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L)

  def q78Benford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exp = benfordPerMille.toDF("digit", "expected_pm")
    val digits = Tables(s, dir, "orders")
      .select(expr("cast(floor(o_totalprice * 100) as bigint)").as("cents"))
      .filter(col("cents") >= 1)
      .select(expr("cast(substring(cast(cents as string), 1, 1) as int)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
    val n = digits.agg(sum(col("obs")).as("n"))
    digits.join(broadcast(exp), Seq("digit"))
      .crossJoin(broadcast(n))
      .select(col("digit"), col("obs"), col("n"), col("expected_pm"),
        (lit(1000L) * col("obs") - col("expected_pm") * col("n")).as("dev_x1k"))
      .withColumn("obs_share", col("obs").cast("double") / col("n"))
  }

  val q78Oracle: String = {
    val values = benfordPerMille.map { case (d, p) => s"($d, $p)" }.mkString(", ")
    s"""WITH exp(digit, expected_pm) AS (VALUES $values),
       |d AS (
       | SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
       | FROM (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
       |   FROM orders) t WHERE cents >= 1),
       |o AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS obs FROM d GROUP BY 1),
       |n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o)
       |SELECT o.digit, o.obs, n.n, CAST(e.expected_pm AS BIGINT) AS expected_pm,
       | 1000 * o.obs - e.expected_pm * n.n AS dev_x1k,
       | CAST(o.obs AS DOUBLE) / n.n AS obs_share
       |FROM o JOIN exp e ON e.digit = o.digit CROSS JOIN n""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q80: PARETO / LORENZ points — "what share of revenue do the top 1%,
  // 5%, 10%, 20% of customers carry": the concentration curve behind
  // q76's single-number Gini, served at the four fixed percentiles a
  // dashboard plots. Same ranked-spend scan as q76 (descending this
  // time); the top-k cutoff is the integer ⌈p·n⌉ and each share is an
  // exact (cents, total) pair + one double. Zero-spend customers count
  // in n — excluding them would flatter the concentration.
  // ---------------------------------------------------------------------
  def q80Pareto(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spend = customerSpendCents(s, dir)
    val w = Window.orderBy(col("cents").desc, col("c_custkey"))
    val ranked = spend
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("cents")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .transform(pin) // four percentile probes + the totals read it
    val tot = ranked.agg(max(col("i")).as("n"), sum(col("cents")).as("total"))
    val pcts = Seq(10L, 50L, 100L, 200L).toDF("pct_x1k") // 1%, 5%, 10%, 20%
    pcts.crossJoin(broadcast(tot))
      .withColumn("k", expr("(n * pct_x1k + 999) div 1000"))
      .join(ranked.select(col("i").as("k"), col("cum")), Seq("k"))
      .select(col("pct_x1k"), col("k"), col("n"), col("cum").as("top_cents"),
        col("total"))
      .withColumn("share", col("top_cents").cast("double") / col("total"))
  }

  val q80Oracle: String =
    s"""WITH $spendCentsSql,
      |r AS (
      | SELECT cents,
      |  CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, c_custkey) AS BIGINT) AS i,
      |  CAST(SUM(cents) OVER (ORDER BY cents DESC, c_custkey
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      | FROM spend),
      |tot AS (SELECT MAX(i) AS n, CAST(SUM(cents) AS BIGINT) AS total FROM r),
      |p(pct_x1k) AS (VALUES (10), (50), (100), (200))
      |SELECT CAST(p.pct_x1k AS BIGINT) AS pct_x1k,
      | (tot.n * p.pct_x1k + 999) // 1000 AS k, tot.n, r.cum AS top_cents,
      | tot.total,
      | CAST(r.cum AS DOUBLE) / tot.total AS share
      |FROM p CROSS JOIN tot
      | JOIN r ON r.i = (tot.n * p.pct_x1k + 999) // 1000""".stripMargin

  val queries: Map[String, Q] = Map(
    "q80_pareto" -> (q80Pareto _),
    "q78_benford" -> (q78Benford _),
    "q76_gini" -> (q76Gini _),
    "q75_share_of_parent" -> (q75ShareOfParent _),
    "q74_assoc_rules" -> (q74AssocRules _),
    "q66_equidepth_hist" -> (q66EquidepthHist _),
    "q61_relational_division" -> (q61RelationalDivision _),
    "q36_cube" -> (q36Cube _),
    "q39_grouping_sets" -> (q39GroupingSets _),
    "q42_ntile" -> (q42Ntile _),
    "q43_correlated" -> (q43Correlated _),
    "q45_recursive_cte" -> (q45RecursiveCte _),
    "q47_dist_rank" -> (q47DistRank _),
    "q48_lateral" -> (q48Lateral _),
    "q50_skyline" -> (q50Skyline _),
    "q51_merge_upsert" -> (q51MergeUpsert _),
    "q54_median_mode" -> (q54MedianMode _),
    "q63_robust_outliers" -> (q63RobustOutliers _),
    "q55_multiset_ops" -> (q55MultisetOps _),
    "q56_bit_bool_aggs" -> (q56BitBoolAggs _),
    "q35_full_outer" -> (q35FullOuter _),
    "q31_salted_join" -> (q31SaltedJoin _),
    "q27_rollup" -> (q27Rollup _),
    "q28_setops" -> (q28SetOps _),
    "q29_sketches" -> (q29Sketches _),
    "q29_sketch_exact" -> (q29SketchExact _),
    "q01_pricing_agg" -> (q01PricingAgg _),
    "q02_argmin_per_group" -> (q02ArgminPerGroup _),
    "q03_anti_join" -> (q03AntiJoin _),
    "q04_semi_join" -> (q04SemiJoin _),
    "q05_update_join" -> (q05UpdateJoin _),
    "q06_closure" -> (q06Closure _),
    "q07_deepest_ancestor" -> (q07DeepestAncestor _),
    "q08_prefix_lang_join" -> (q08PrefixLangJoin _),
    "q09_group_concat" -> (q09GroupConcat _),
    "q10_topk_per_group" -> (q10TopkPerGroup _),
    "q11_label_merge" -> (q11LabelMerge _),
    "q12_revenue_by_region" -> (q12RevenueByRegion _),
    "q13_distinct" -> (q13Distinct _),
    "q14_preference_pick" -> (q14PreferencePick _),
    "q15_null_cascade" -> (q15NullCascade _),
    "q16_counts" -> (q16Counts _),
    "q17_dedup_first_wins" -> (q17DedupFirstWins _),
    "q18_fk_cascade" -> (q18FkCascade _),
    "q19_fk_repoint" -> (q19FkRepoint _))

  val oracles: Map[String, String] = Map(
    "q80_pareto" -> q80Oracle,
    "q78_benford" -> q78Oracle,
    "q76_gini" -> q76Oracle,
    "q75_share_of_parent" -> q75Oracle,
    "q74_assoc_rules" -> q74Oracle,
    "q66_equidepth_hist" -> q66Oracle,
    "q61_relational_division" -> q61Oracle,
    "q35_full_outer" -> q35Oracle,
    "q36_cube" -> q36Oracle,
    "q39_grouping_sets" -> q39Oracle,
    "q42_ntile" -> q42Oracle,
    "q43_correlated" -> q43Oracle,
    "q45_recursive_cte" -> q45Sql,
    "q47_dist_rank" -> q47Oracle,
    "q48_lateral" -> q48Sql,
    "q50_skyline" -> q50Oracle,
    "q51_merge_upsert" -> q51Oracle,
    "q54_median_mode" -> q54Oracle,
    "q63_robust_outliers" -> q63Oracle,
    "q55_multiset_ops" -> q55Oracle,
    "q56_bit_bool_aggs" -> q56Oracle,
    "q31_salted_join" -> q31Oracle,
    "q29_sketch_exact" -> q29ExactOracle,
    "q27_rollup" -> q27Oracle,
    "q28_setops" -> q28Oracle,
    "q01_pricing_agg" -> q01Oracle,
    "q02_argmin_per_group" -> q02Oracle,
    "q03_anti_join" -> q03Oracle,
    "q04_semi_join" -> q04Oracle,
    "q05_update_join" -> q05Oracle,
    "q06_closure" -> q06Oracle,
    "q07_deepest_ancestor" -> q07Oracle,
    "q08_prefix_lang_join" -> q08Oracle,
    "q09_group_concat" -> q09Oracle,
    "q10_topk_per_group" -> q10Oracle,
    "q11_label_merge" -> q11Oracle,
    "q12_revenue_by_region" -> q12Oracle,
    "q13_distinct" -> q13Oracle,
    "q14_preference_pick" -> q14Oracle,
    "q15_null_cascade" -> q15Oracle,
    "q16_counts" -> q16Oracle,
    "q17_dedup_first_wins" -> q17Oracle,
    "q18_fk_cascade" -> q18Oracle,
    "q19_fk_repoint" -> q19Oracle)
}
