package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed connected components by min-label propagation, the cluster
  * step of a near-dup pipeline: pair detection (simhash/minhash/Jaccard)
  * yields edges, this collapses them into per-document cluster labels so
  * dedup keeps one canonical representative per cluster.
  *
  * Scale design, above the driver-size rule (last paragraph): each round
  * pushes every node's label to its neighbors and unions in the own-label
  * rows so one min aggregation both propagates and detects change, then compresses paths by re-pointing each node at
  * its label's label (pointer doubling, so
  * chain-shaped components converge in O(log diameter) rounds instead of
  * O(diameter); near-dup graphs are mostly dense, but the
  * synthetic-corpus near-dup graph showed exactly the chain-y tail that
  * needs it) — three exchanges per round. Every round ends in an EAGER
  * checkpoint: an iterative frame that merely caches keeps its whole
  * logical plan, and since each round references the previous frame
  * several times the plan tree grows geometrically — 15 rounds of that
  * OOMed an 8 GB driver on a 50-document corpus before any executor did
  * real work. (A persist-instead-of-checkpoint variant with a 3-round
  * checkpoint window benched consistently SLOWER at sf0.1 — 5.2 s vs
  * 3.2 s — so the per-round checkpoint stays.) The
  * checkpoint truncates lineage to the materialized blocks, making plan
  * size (and driver memory) constant per round. Every checkpoint is a
  * [[graft.Pins]] pin: each round's pin is released as soon as the next
  * one is materialized, the edge pin as soon as the partitioned edge pin
  * holds its rows, that one at the end of the loop, and the last round's
  * pin (the result) by the caller's release. The loop opens no
  * [[graft.Pins.scope]]: the result pin escapes to its caller. On a
  * multi-node cluster where executor loss
  * mid-algorithm must be survivable, set spark.graft.reliableCheckpoint=true
  * in the caller's session (plus a SparkContext.setCheckpointDir) and every
  * pin checkpoints to the reliable store instead of executor-local blocks;
  * the algorithm and its result are unchanged, but such pins keep no
  * partitioning, so the rounds' exchanges run at the session width.
  *
  * The loop runs in the caller's session, under the caller's SQL conf
  * (ANSI mode, time zone, adaptive execution), and changes none of it. Its
  * shuffle width is not the session's: the partitioned edge pin and the
  * one explicit repartition per round set it, and local pins keep the
  * partitioning they were computed with, so every later exchange follows
  * them.
  *
  * Convergence detection rides the propagation step only: when no node saw
  * a smaller neighbor label, every edge's endpoints already carry equal
  * labels (the condition is symmetric), so each component is
  * constant-labeled and compression is a no-op — stopping there is exact.
  *
  * The loop runs only for graphs the driver should not hold. A graph whose
  * edges fit the rule of [[driverRows]] (the size Spark itself would
  * broadcast to every executor) is collected once and labelled by
  * union-find on the driver. That is exact, not an approximation: the
  * loop's converged label is the min node id of the component, which is
  * what union-find keeping the smaller root yields. On such graphs each
  * loop round costs seconds of job scheduling and code generation for
  * milliseconds of compute.
  */
object Components {

  /** The most rows of `df`'s columns an iterative operator may collect and
    * solve on the driver: the rows whose estimated size (Spark's per-row
    * estimate for the columns' types, as for a relation without
    * statistics) stays within the session's
    * `spark.sql.autoBroadcastJoinThreshold`, the size at which Spark
    * itself ships a join side to every executor. A threshold ≤ 0 turns
    * broadcasts off and gives -1: nothing is solved on the driver. */
  private[graft] def driverRows(df: DataFrame): Long = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold <= 0) -1L
    else threshold / EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output).toLong
  }

  /** Union-find over `edges`, keeping the smaller root: every node of an
    * edge → the min node id of its component. */
  private def unionFind(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x // path compression
      while (y != r) { val p = parent(y); parent(y) = r; y = p }
      r
    }
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v))
  }

  /** Edges (undirected, any orientation, self-loops/dups tolerated) →
    * one row per distinct node: (node, cluster_id = min node id of its
    * component). Nodes absent from `edges` are absent from the result —
    * callers left-join and coalesce to self for singletons. */
  def assign(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    // pin the directed edges first: the bidirectional union reads them
    // twice, and when the caller's `edges` is itself a join pipeline
    // (simhash band collisions, LSH candidates) an unpinned union would
    // re-run that pipeline once per direction
    val spark = edges.sparkSession
    val tB = System.nanoTime()
    val e = graft.Pins.checkpoint(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")), "components.edges")
    val m = e.count() // over checkpointed blocks: metadata-cheap
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      println(f"[cc] epin=${(System.nanoTime()-tB)/1e9}%.3f")
    // a graph the driver may hold is labelled there, from one collect of
    // the pin; the result is a local frame in the caller's session
    if (e.schema.forall(_.dataType == LongType) && m <= driverRows(e)) {
      val rows = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      graft.Pins.release(e)
      import spark.implicits._
      return unionFind(rows).toDF("node", "cluster_id")
    }
    // pinned hash partitioning on src, checkpointed ONCE: the edge list is
    // the largest frame in the algorithm and every round joins it on src.
    // The pin keeps its partitioning (graft.Pins), so the round's join
    // moves only the (shrinking) label frame, and moves it to the pin's
    // width: every exchange of a round runs at `parts`, not at the
    // session width, which is sized for corpus-wide work. A 32-wide stage
    // per exchange per round on a graph of a few thousand edges is pure
    // task-scheduling overhead. The width is sized to the graph (~2M
    // edges ≈ 32 MB per partition), capped at the session's configured
    // shuffle width: a near-dup graph of tens of thousands of edges runs
    // its rounds on two partitions, while a trillion-edge graph uses
    // everything the cluster is configured for. At least 2: a width of 1
    // plans a single partition, which the other side of a join cannot be
    // shuffled to match, so every join would fall back to the session
    // width. Some managed runtimes set shuffle.partitions to a
    // non-numeric value (e.g. "auto"); the sizing then starts from
    // defaultParallelism instead of crashing before any work.
    val confParts = scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val parts = math.min(confParts.toLong,
      math.max(2L, (2 * m + 1999999) / 2000000)).toInt
    val bidir = graft.Pins.checkpoint(e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("src")), "components.bidir")
    // the eager checkpoint holds the edges' rows now
    graft.Pins.release(e)
    // the seed aggregation is NOT separately checkpointed: round 0's pin
    // materializes seed + first propagation in one job (one less
    // checkpoint per run). It reads bidir's pinned partitioning, so it
    // plans no exchange, and its output, hash(node, parts), matches
    // bidir's, so the round-0 join adds none either.
    var comp = bidir.groupBy(col("src"))
      .agg(min(col("dst")).as("__nbr"))
      .select(col("src").as("node"),
        least(col("__nbr"), col("src")).as("cluster_id"))
    var pinned: Option[DataFrame] = None
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      // propagate: every node's label flows to its neighbors; the
      // neighbor-label rows and each node's own-label row union into ONE
      // min aggregation. The own row carries the previous label in __old
      // (each node has exactly one, so max() recovers it), which makes
      // change detection a per-row comparison instead of a join-back —
      // the round runs 3 exchanges (comp→edge partitioning, the node agg,
      // the compress probe) where the join+agg+join form ran 6.
      // Every bidir node appears as src (the union is symmetric), so comp
      // covers all of cand's nodes and the union loses nobody. A union
      // has no partitioning, so the aggregation's exchange is the one the
      // pins cannot set: it is an explicit repartition to `parts`.
      val cand = comp.join(bidir, col("node") === col("src"))
        .select(col("dst").as("node"), col("cluster_id"),
          lit(null).cast("long").as("__old"))
      val own = comp.select(col("node"), col("cluster_id"),
        col("cluster_id").as("__old"))
      val stepped = cand.union(own)
        .repartition(parts, col("node"))
        .groupBy(col("node"))
        .agg(min(col("cluster_id")).as("cluster_id"), max(col("__old")).as("__old"))
        .select(col("node"), col("cluster_id"),
          (col("cluster_id") < col("__old")).as("__changed"))
      // compress: node → label(label(node)); labels only shrink and always
      // name a node of the same component, so this is safe and halves the
      // remaining chain depth. The probe side keeps stepped's partitioning,
      // so the other side is shuffled to `parts` as well.
      val flat = stepped.as("x")
        .join(stepped.select(col("node").as("__ln"),
          col("cluster_id").as("__lc")).as("y"),
          col("x.cluster_id") === col("y.__ln"), "left_outer")
        .select(col("x.node").as("node"),
          coalesce(col("__lc"), col("x.cluster_id")).as("cluster_id"),
          col("x.__changed").as("__changed"))
      // change detection rides the SAME job that materializes the round,
      // counting changed nodes as the rows stream past
      val t0 = System.nanoTime()
      val (next, nChanged) =
        graft.Pins.checkpointCounting(flat, "__changed", "components.round")
      // the previous round's rows live on only in `next`
      pinned.foreach(graft.Pins.release)
      pinned = Some(next)
      converged = nChanged == 0L
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"[cc] round=$iters%d pin=${(System.nanoTime() - t0) / 1e9}%.3f changed=$nChanged%d parts=$parts%d edges=$m%d")
      comp = next.drop("__changed")
      iters += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds")
    graft.Pins.release(bidir)
    comp
  }
}
