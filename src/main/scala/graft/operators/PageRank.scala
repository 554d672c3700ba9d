package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Distributed PageRank (Brin & Page 1998) over an edge list — the
  * second member of the iterative-graph family next to
  * [[Dedup.clusters]]' label propagation: where clusters answers "which
  * near-dup group", PageRank answers "which nodes matter", the classic
  * authority score for link-graph-weighted corpus sampling.
  *
  * Dataflow per iteration: ranks equi-join the (degree-weighted) edge
  * list on src, contributions groupBy dst (partial-aggregated sum), and
  * a left join back onto the node set applies teleport + dangling
  * default. Everything is key-partitioned joins and aggregates — no
  * driver-side graph, no collect; the edge list with degrees is computed
  * once and cached (it is loop-invariant). Per-round materialization
  * truncates the lineage exactly like Dedup.clusters: localCheckpoint
  * for single-JVM runs, reliable checkpoint() under `checkpointDir` on
  * a real cluster where losing an executor mid-iteration is an expected
  * event.
  *
  * Contract: every node must appear as a src (out-degree >= 1) — build
  * bidirectional edges or pre-resolve dangling nodes. Fixed iteration
  * count (no convergence action) keeps the job graph static and the
  * result engine-portable.
  */
object PageRank {

  /** (v, r) rows after `iterations` rounds, Σr = 1.
    *
    * The rank frame is exactly one row per node. While the node set
    * fits [[MaxDriverNodes]] rows and the driver budget
    * ([[DriverKernel]]), the iteration runs the SMALL-GRAPH FAST PATH:
    * the rank vector lives on the driver between rounds, so a round costs
    * at most ONE distributed job (see [[ranksDriverResident]]). This
    * holds no data on the driver that the distributed form didn't: a
    * small rank frame already round-trips through the driver on EVERY
    * round to build its broadcast; the fast path only deletes the
    * redundant re-distribution and per-round checkpoint jobs around that
    * round-trip (measured 2.3x on the sf0.1 trade graph, 16k nodes /
    * 1.1M edges). The one bounded collect that decides the path is the
    * node set it runs on.
    *
    * Past the bounds (a genuinely large graph) every join stays
    * key-partitioned and per-round materialization truncates lineage —
    * localCheckpoint locally, reliable checkpoint() under
    * `checkpointDir` on a real cluster — the same adaptive-switch idiom
    * as `Dedup.jaccardPairs`.
    */
  def ranks(
      edges: DataFrame, iterations: Int = 10, alpha: Double = 0.85,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def materialize(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // the caller's edge DERIVATION (often a join+distinct prelude) is
    // consumed by several separate actions below (node collect, packed/
    // weighted materialization) — cache it so it executes exactly once
    // per invocation rather than being re-planned/re-JITed per action
    // (q87's in-sweep-vs-solo drift came from exactly this). Released
    // before return on both paths: the fast path's output is a
    // LocalRelation and the distributed path's rank frame is
    // checkpointed, so neither retains lineage into the cache.
    val cachedEdges = edges.cache()
    try {
      // loop-invariant: out-degree-weighted edges. The distributed path
      // caches them across all rounds (cache-release contract: see
      // Dedup.jaccardPairs); the fast path scans them exactly once to
      // build its packed partitions, so it skips the DataFrame cache.
      val deg = cachedEdges.groupBy(col("src")).agg(count(lit(1)).as("__d"))
      val weighted = cachedEdges.join(deg, Seq("src"))
      // cached before the collect, so the distributed path's count reads
      // what the collect computed before it passed a bound
      val nodes = cachedEdges.select(col("src").as("v")).distinct().cache()
      DriverKernel.collectRows(nodes, "pagerank.nodes", MaxDriverNodes) match {
        case Right(rows) =>
          nodes.unpersist()
          require(rows.nonEmpty, "PageRank over an empty edge list")
          ranksDriverResident(weighted, nodes.schema, rows.map(_.get(0)), iterations, alpha)
        case Left(_) =>
          val n = nodes.count()
          val teleport = (1.0 - alpha) / n
          val cached = weighted.cache()
          var r = materialize(nodes.withColumn("r", lit(1.0 / n)))
          for (_ <- 1 to iterations) {
            val contrib = cached.join(r, cached("src") === r("v"))
              .select(col("dst"), (col("r") / col("__d")).as("c"))
              .groupBy(col("dst")).agg(sum(col("c")).as("in_r"))
            // materialize every round: deferring it makes the next round
            // re-execute the whole unmaterialized chain
            r = materialize(nodes
              .join(contrib, nodes("v") === contrib("dst"), "left")
              .select(col("v"),
                (lit(teleport) + lit(alpha) * coalesce(col("in_r"), lit(0.0))).as("r")))
          }
          r
      }
    } finally cachedEdges.unpersist()
  }

  /** Node-count bound of the fast path: its per-task scratch is one
    * 8 B x n dense accumulator, 8 MB here. */
  val MaxDriverNodes: Int = 1000000

  /** Fast path for node sets within the driver bounds — the
    * broadcast-parameters / aggregate-gradients shape every distributed
    * iterative solver on Spark uses (MLlib's linear models do exactly
    * this): the rank VECTOR is broadcast each round, the EDGE LIST stays
    * distributed as packed primitive-array partitions, and one
    * `mapPartitions` + `treeReduce` job per round produces the dense
    * contribution vector. No join machinery, no shuffle, no per-round
    * plan/codegen — measured ~5x per round vs the broadcast-join
    * spelling of the identical arithmetic.
    *
    * When the packed edges themselves fit the driver budget at 16 B per
    * edge (two int indices and a double degree: 4M edges = 64 MiB), the
    * job that packs them brings them to the driver and the whole
    * iteration runs as plain Scala — ZERO jobs inside the loop, so the
    * per-round action boundary (scheduler + codegen + GC latency x
    * iterations, the source of q87's in-sweep drift) disappears entirely.
    *
    * Arithmetic matches the distributed form: each edge contributes
    * r(src) / degree (the same double division), contributions to a dst
    * that never appears as src are dropped (the nodes-frame left join
    * dropped them too), and the driver applies teleport + alpha * in_r
    * with the dangling default.
    */
  private def ranksDriverResident(
      weighted: DataFrame, nodeSchema: StructType, nodeVals: Array[Any],
      iterations: Int, alpha: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val spark = weighted.sparkSession
    val sc = spark.sparkContext
    val n = nodeVals.length
    val teleport = (1.0 - alpha) / n
    val schema = StructType(Seq(
      nodeSchema.fields.head.copy(name = "v"), StructField("r", DoubleType, nullable = false)))
    val bIndex = sc.broadcast(nodeVals.zipWithIndex.toMap)
    // one pass packs each partition's edges into primitive arrays:
    // (srcIdx, dstIdx, degree) — boxed rows are never touched again.
    // Lazy, so the stages that build it run inside the collect's
    // description
    lazy val packed = weighted.select(col("src"), col("dst"), col("__d")).rdd
      .mapPartitions { it =>
        val idx = bIndex.value
        val ss = new scala.collection.mutable.ArrayBuilder.ofInt
        val dd = new scala.collection.mutable.ArrayBuilder.ofInt
        val gg = new scala.collection.mutable.ArrayBuilder.ofDouble
        it.foreach { row =>
          idx.get(row.get(1)).foreach { d =>
            ss += idx(row.get(0)); dd += d; gg += row.getLong(2).toDouble
          }
        }
        Iterator.single((ss.result(), dd.result(), gg.result()))
      }.cache()
    def applyContrib(contrib: Array[Double]): Array[Double] = {
      val next = new Array[Double](contrib.length)
      var i = 0
      while (i < next.length) { next(i) = teleport + alpha * contrib(i); i += 1 }
      next
    }
    var ranks: Array[Double] = Array.fill(n)(1.0 / n)
    // one job materializes the cache AND, within the budget, brings the
    // packed edges to the driver; one element per partition, so only the
    // byte bound applies
    DriverKernel.collect(packed, "pagerank.edges", maxRows = Long.MaxValue)(identity)(
      16L * _._1.length) match {
      case Right(parts) =>
        for (_ <- 1 to iterations) {
          val acc = new Array[Double](ranks.length)
          parts.foreach { case (ss, dd, gg) =>
            var i = 0
            while (i < ss.length) { acc(dd(i)) += ranks(ss(i)) / gg(i); i += 1 }
          }
          ranks = applyContrib(acc)
        }
      case Left(_) =>
        for (_ <- 1 to iterations) {
          val bR = sc.broadcast(ranks)
          val contrib = packed.mapPartitions { it =>
            val r = bR.value
            val acc = new Array[Double](r.length)
            it.foreach { case (ss, dd, gg) =>
              var i = 0
              while (i < ss.length) { acc(dd(i)) += r(ss(i)) / gg(i); i += 1 }
            }
            Iterator.single(acc)
          }.treeReduce { (a, b) =>
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          }
          bR.unpersist()
          ranks = applyContrib(contrib)
        }
    }
    packed.unpersist()
    bIndex.unpersist()
    spark.createDataFrame(
      nodeVals.indices.map(i => Row(nodeVals(i), ranks(i))).asJava, schema)
  }
}
