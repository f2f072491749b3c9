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
  * rows so one map-side-combined min aggregation both propagates and
  * detects change, then compresses paths by re-pointing each node at
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
  * the algorithm is unchanged.
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

  /** Loop sessions, one per (parent session, shuffle width, reliable
    * checkpoints), reused across assign() calls: a session is cheap to
    * create but registers an execution-listener bus on the shared
    * SparkContext bus FOREVER, so a clone per call would accumulate
    * listeners (every query event fans out to all of them — measured as a
    * progressive ~20% drag on the CC family after a few dozen calls).
    * Reused sessions are IMMUTABLE after creation (the width and the
    * checkpoint mode are baked in), so nothing mutates shared state
    * mid-query. Created under the lock, so no racing caller builds a
    * session that is then dropped with its listener still registered.
    * Single parent slot, same discipline as Tables.memo: a new parent
    * session swaps the map wholesale. */
  private var loopParent: org.apache.spark.sql.SparkSession = null
  private val loopSessions =
    scala.collection.mutable.Map.empty[(Int, Boolean), org.apache.spark.sql.SparkSession]

  private def loopSessionFor(parent: org.apache.spark.sql.SparkSession,
      parts: Int): org.apache.spark.sql.SparkSession = synchronized {
    if (!(loopParent eq parent)) { loopSessions.clear(); loopParent = parent }
    // the clone sees only SparkConf-level settings, not the caller's
    // spark.conf.set values, so the checkpoint mode is carried over
    val reliable = graft.Pins.reliable(parent)
    loopSessions.getOrElseUpdate((parts, reliable), {
      val sess = parent.newSession()
      sess.conf.set("spark.sql.shuffle.partitions", parts.toString)
      if (reliable) sess.conf.set(graft.Pins.ReliableCheckpoint, "true")
      sess
    })
  }

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
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // The WHOLE loop plans at the graph-derived width, but inside a
    // CLONED session instead of by mutating the caller session's
    // spark.sql.shuffle.partitions: session conf is shared across
    // threads, so a concurrent query planned during a CC loop would
    // silently plan at the graph's width. newSession() shares the
    // SparkContext, the cache manager and the global-temp-view catalog,
    // but has its own SQLConf — the width set below is invisible outside
    // the loop, and the loop's plans are those of a mutated caller
    // conf, byte for byte. The alternative (pinning only the join side
    // with an explicit repartition and leaving the aggregation/self-join
    // exchanges at the session width) was measured 2.0x SLOWER per round
    // at the sf1.0-class fixture (17.9 s vs 8.9 s for dd_cluster_assign —
    // a 32-wide AQE stage per exchange per round on a 1-partition graph
    // is pure orchestration overhead), and an explicit repartition below
    // each groupBy would forfeit map-side partial aggregation. Frames
    // cross sessions via a global temp view (Dataset analysis is eager,
    // so the registration is dropped as soon as the other side's Dataset
    // exists).
    def rebind(df: DataFrame, to: org.apache.spark.sql.SparkSession): DataFrame = {
      val name = s"graft_cc_xfer_$runId"
      df.createOrReplaceGlobalTempView(name)
      val out = to.table(s"global_temp.$name")
      df.sparkSession.catalog.dropGlobalTempView(name)
      out
    }
    // pin the directed edges first (eager checkpoint in the CALLER
    // session, at the corpus width — the candidate pipeline is
    // corpus-sized work and the loop width isn't known yet): the
    // bidirectional union reads them twice, and when the caller's `edges`
    // is itself a join pipeline (simhash band collisions, LSH candidates)
    // an unpinned union would re-run that pipeline once per direction.
    // A checkpoint rather than a cache because the loop session reads
    // these rows THROUGH the view rebinding, and cross-session
    // cached-plan substitution does not fire (measured: the candidate
    // pipeline silently re-ran inside round 0, +1-3 s per CC query at
    // the sf1.0 fixture) — checkpointed blocks need no substitution.
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
      val spark = edges.sparkSession
      import spark.implicits._
      return unionFind(rows).toDF("node", "cluster_id")
    }
    // pinned hash partitioning on src, checkpointed ONCE: the edge list is
    // the largest frame in the algorithm and every round joins it on src —
    // a pin of the unpartitioned union would still re-exchange it per
    // round, while the explicit repartition makes the pinned blocks satisfy
    // the join's distribution so only the (shrinking) label frame moves
    // each round. The width is
    // sized to the graph (~2M edges ≈ 32 MB per partition), capped at the
    // session's configured shuffle width: a near-dup graph of tens of
    // thousands of edges runs its rounds on a couple of partitions (each
    // round's cost is task-scheduling latency, not compute), while a
    // trillion-edge graph uses everything the cluster is configured for.
    // some managed runtimes set shuffle.partitions to a non-numeric value
    // (e.g. "auto"); the sizing heuristic degrades to defaultParallelism
    // there instead of crashing before any work
    val confParts = scala.util.Try(
      edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(edges.sparkSession.sparkContext.defaultParallelism)
    val parts = math.max(1L,
      math.min(confParts.toLong, (2 * m + 1999999) / 2000000)).toInt
    val loopSess = loopSessionFor(edges.sparkSession, parts)
    val eLoop = rebind(e, loopSess)
    val bidir = graft.Pins.checkpoint(eLoop
      .union(eLoop.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("src")), "components.bidir")
    // the eager checkpoint holds the edges' rows now
    graft.Pins.release(e)
    // the seed aggregation is NOT separately checkpointed — round
    // 0's pin materializes seed + first propagation in one job (one less
    // checkpoint per run; the seed subtree appears twice in round 0's
    // plan but ends in an exchange, which ReusedExchange dedupes). Its
    // output partitioning, hash(src, parts), matches bidir's, so the
    // round-0 join adds no exchange either.
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
      // covers all of cand's nodes and the union loses nobody.
      val cand = comp.join(bidir, col("node") === col("src"))
        .select(col("dst").as("node"), col("cluster_id"),
          lit(null).cast("long").as("__old"))
      val own = comp.select(col("node"), col("cluster_id"),
        col("cluster_id").as("__old"))
      val stepped = cand.union(own)
        .groupBy(col("node"))
        .agg(min(col("cluster_id")).as("cluster_id"), max(col("__old")).as("__old"))
        .select(col("node"), col("cluster_id"),
          (col("cluster_id") < col("__old")).as("__changed"))
      // compress: node → label(label(node)); labels only shrink and always
      // name a node of the same component, so this is safe and halves the
      // remaining chain depth
      val flat = stepped.as("x")
        .join(stepped.select(col("node").as("__ln"),
          col("cluster_id").as("__lc")).as("y"),
          col("x.cluster_id") === col("y.__ln"), "left_outer")
        .select(col("x.node").as("node"),
          coalesce(col("__lc"), col("x.cluster_id")).as("cluster_id"),
          col("x.__changed").as("__changed"))
      // change detection rides the SAME job that materializes the round:
      // an Observation on the checkpoint action counts changed nodes as
      // the rows stream past, replacing the separate filter/limit probe
      // job each round used to pay (observe is exact for batch actions)
      val t0 = System.nanoTime()
      val obs = new org.apache.spark.sql.Observation(s"cc-changed-$iters")
      val next = graft.Pins.checkpoint(flat.observe(obs,
        sum(when(col("__changed"), 1L).otherwise(0L)).as("n_changed")),
        "components.round")
      // the previous round's rows live on only in `next`
      pinned.foreach(graft.Pins.release)
      pinned = Some(next)
      val nChanged = obs.get("n_changed") match {
        case null => 0L  // empty frame: no rows, no changes
        case v    => v.asInstanceOf[Long]
      }
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
    // re-anchor the (checkpoint-backed) result to the caller's session so
    // downstream plans use the caller's width and conf
    rebind(comp, edges.sparkSession)
  }
}
