package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.{Components, MergeEngine}
import graft.records.IdentifierAlias

/** Property test for the connected-components operator against a
  * driver-side union-find reference: on random graphs (including dense
  * blobs, chains, and isolated pairs), every node's distributed label must
  * equal the min node id of its union-find component, and exactly the
  * nodes present in edges are labeled. Random exploration is bounded
  * (small graphs, few trials) because every trial runs real Spark jobs;
  * the point is graph-shape coverage, not volume.
  *
  * Both iterative operators solve graphs within the broadcast threshold on
  * the driver and run their Spark loop above it, so each property runs in
  * the shared session (driver path) and in `noBroadcast`, a child session
  * whose threshold of -1 sends every graph to the loop. */
class ComponentsPropSpec extends AnyFunSuite with SparkSpec {

  private lazy val noBroadcast: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** Both sessions, named, the driver path's first. */
  private def paths: Seq[(String, SparkSession)] =
    Seq("driver" -> spark, "loop" -> noBroadcast)

  /** Whether `df` is a driver-built local frame rather than the loop's
    * checkpointed rows. */
  private def driverBuilt(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case l: LocalRelation => l }.nonEmpty

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).filter(_ => true).distinct
    nodes.map(v => v -> find(v)).toMap
  }

  test("distributed labels equal union-find min-id components on random graphs") {
    import spark.implicits._
    val genEdges: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(2, 25)
      m <- Gen.choose(1, 40)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong)
      } yield (a, b))
    } yield edges.filter { case (a, b) => a != b }.distinct

    // a chain is the adversarial diameter shape — always include one
    val chain = (0L until 12L).map(i => (i + 1, i))

    for ((path, sess) <- paths) {
      import sess.implicits._
      val prop = Prop.forAll(genEdges) { edges0 =>
        val edges = if (edges0.isEmpty) chain else edges0
        val out = Components.assign(edges.toDF("src", "dst"))
        val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = unionFind(0, edges)
        Prop(got == want) :| s"$path labels" &&
          Prop(driverBuilt(out) == (path == "driver")) :| s"$path path taken" &&
          Prop(out.sparkSession eq sess) :| s"$path result in the caller's session"
      }
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(12).withWorkers(1), prop)
      assert(res.passed, s"$path: union-find property failed: ${res.status}")

      // and the explicit chain once, deterministically
      val gotChain = Components.assign(chain.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotChain == (0L to 12L).map(_ -> 0L).toMap, path)
    }
    // one result contract: the loop's column names and types
    val schemas = paths.map { case (_, sess) =>
      import sess.implicits._
      Components.assign(chain.toDF("src", "dst")).schema.map(f => f.name -> f.dataType)
    }
    assert(schemas.distinct.size == 1, s"$schemas")
  }

  /** The alias fixpoint's rows as a multiset, nulls kept. */
  private def aliasRows(df: DataFrame): Map[(String, String), Int] =
    df.collect().toSeq.map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).map { case (k, v) => k -> v.size }

  test("the alias fixpoint's driver replay returns the loop's multiset of " +
    "rows on random alias graphs (duplicate keys, self-loops, 2-cycles, " +
    "null keys and targets, a round cap that cuts chains short)") {
    // a functional graph (chains, self-loops, cycles that pointer doubling
    // never settles) plus optional extra rows that repeat keys; a repeated
    // key multiplies rows each round in both paths, so those graphs get a
    // round cap of at most 3
    val genAliases: Gen[(Seq[(String, String)], Int)] = for {
      n <- Gen.choose(2, 10)
      targets <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.choose(0, n).map(i => s"k$i"), 1 -> Gen.const(null: String)))
      keep <- Gen.listOfN(n, Gen.prob(0.8))
      extra <- Gen.someOf(Seq(("k0", "k0"), ("k1", "k2"), ("k2", "k1"),
        ("k1", "k2"), (null, "k1"), ("k3", null)))
      rows = targets.zip(keep).zipWithIndex
        .collect { case ((t, true), i) => (s"k$i", t) } ++ extra
      repeated = rows.map(_._1).filter(_ != null).distinct.size <
        rows.count(_._1 != null)
      maxIters <- if (repeated) Gen.oneOf(1, 2, 3) else Gen.oneOf(1, 2, 20)
    } yield (rows, maxIters)
    val prop = Prop.forAll(genAliases) { case (rows, maxIters) =>
      val Seq(driver, loop) = paths.map { case (_, sess) =>
        import sess.implicits._
        val out = MergeEngine.resolveAliases(
          rows.map { case (k, t) => IdentifierAlias(k, t) }.toDS(), maxIters)
        assert(out.sparkSession eq sess)
        out
      }
      Prop(driverBuilt(driver) && !driverBuilt(loop)) :| "driver replay vs Spark loop" &&
        Prop(driver.schema == loop.schema) :| s"${driver.schema} vs ${loop.schema}" &&
        Prop(aliasRows(driver) == aliasRows(loop)) :|
          s"rows ${aliasRows(driver)} vs ${aliasRows(loop)}"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12).withWorkers(1), prop)
    assert(res.passed, s"alias replay property failed: ${res.status}")
  }

  test("the driver-size rule: a graph one row over the session's broadcast " +
    "threshold runs the loop, and the same graph at the threshold does not") {
    val tight = spark.newSession()
    import tight.implicits._
    val chain = (0L until 12L).map(i => (i + 1, i))
    val edges = chain.toDF("src", "dst")
    val aliases = chain.map { case (k, t) => IdentifierAlias(s"$k", s"$t") }.toDS()
    for ((df, run) <- Seq[(DataFrame, DataFrame => DataFrame)](
        edges -> (Components.assign(_)),
        aliases.toDF() -> (a => MergeEngine.resolveAliases(a.as[IdentifierAlias])))) {
      val perRow = EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output).toLong
      val bytes = perRow * chain.size
      tight.conf.set("spark.sql.autoBroadcastJoinThreshold", bytes.toString)
      val atCap = run(df)
      tight.conf.set("spark.sql.autoBroadcastJoinThreshold", (bytes - 1).toString)
      val over = run(df)
      assert(driverBuilt(atCap) && !driverBuilt(over), s"$perRow B a row")
      assert(atCap.collect().toSet == over.collect().toSet)
    }
  }

  test("compact keeps exactly one doc per component and conserves token " +
    "mass on random graphs (property vs union-find)") {
    val genCase = for {
      n <- Gen.choose(3, 20)
      m <- Gen.choose(0, 25)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (a, b))
    } yield (n, edges.filter { case (a, b) => a != b }.distinct)
    for ((path, sess) <- paths) {
      import sess.implicits._
      val prop = Prop.forAll(genCase) { case (n, edges) =>
        val docs = (0L until n.toLong).map(i =>
          (i, if (i % 2 == 0) "sA" else "sB", 10L + i % 7))
        val uf = unionFind(n, edges)
        val nComponents = // labeled components + untouched singletons
          uf.values.toSet.size + (docs.map(_._1).toSet -- uf.keySet).size
        val out = graft.catalog.DedupCatalog.compact(
          docs.toDF("doc_id", "source", "n_tokens"),
          edges.toDF("src", "dst")).collect()
        val keptTotal = out.map(_.getLong(2)).sum
        val tokTotal = out.map(_.getLong(3)).sum
        Prop(keptTotal == nComponents) :| s"one keep per component: $keptTotal vs $nComponents" &&
          Prop(tokTotal == docs.map(_._3).sum) :| "token mass conserved" &&
          Prop(out.map(_.getLong(1)).sum == n.toLong) :| "every doc accounted"
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
      assert(res.passed, s"$path: ${res.status}")
    }
  }

  test("the reliable-checkpoint flag produces identical labels (cluster " +
    "fault-tolerance path, Components.scala scaladoc)") {
    val chain = (0L until 12L).map(i => (i + 1, i)) ++ Seq((20L, 21L), (21L, 22L))
    val aliasRows = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"),
      ("p", "q"), ("q", "p"))
      .map { case (k, t) => graft.records.IdentifierAlias(k, t) }
    // the driver path pins only the CC edges; the loop path reaches every
    // kind of checkpoint pin: the CC edge and round pins, the alias
    // fixpoint's round pins. A catalog query's pin rides along in the
    // shared session.
    def manifest() =
      SparkEntry.queries("pl_train_manifest")(spark, "/root/testdata/sf0.001")
        .collect().toSeq
    for ((path, sess) <- paths) {
      import sess.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      def run() = {
        val cc = Components.assign(chain.toDF("src", "dst"))
        val roots = MergeEngine.resolveAliases(aliasRows.toDS())
        ((cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
          roots.collect().map(r => r.getString(0) -> r.getString(1)).toMap,
          manifest()), Seq(cc, roots))
      }
      val (local, _) = run()
      graft.catalog.Catalog.unpersistAll(sess)
      try {
        spark.sparkContext.setCheckpointDir(dir)
        sess.conf.set(Pins.ReliableCheckpoint, "true")
        val (got, frames) = run()
        val want = (0L to 12L).map(_ -> 0L).toMap ++
          Seq(20L, 21L, 22L).map(_ -> 20L).toMap
        assert(got._1 == want, path)
        assert(got == local, s"$path: reliable pins must not change any result")
        val ckRoot = new java.io.File(new java.net.URI(spark.sparkContext.getCheckpointDir.get))
        assert(ckRoot.list().exists(_.startsWith("graft-pin-")),
          s"$path: reliable pins are parquet directories under the checkpoint dir")
        if (path == "loop")
          assert(frames.forall(f => f.inputFiles.nonEmpty &&
            f.inputFiles.forall(_.contains("/graft-pin-"))),
            "the CC and alias results are their last round's reliable pins")
        graft.catalog.Catalog.unpersistAll(sess)
        assert(!ckRoot.list().exists(_.startsWith("graft-pin-")),
          s"$path: release-all deletes every pin directory: ${ckRoot.list().mkString(", ")}")
      } finally {
        sess.conf.set(Pins.ReliableCheckpoint, "false")
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    }
  }

  test("assign never mutates the caller session's conf: the loop's " +
    "graph-derived shuffle width lives in a private cloned session (r17; " +
    "the r16 form set-and-restored the shared conf, racing concurrent " +
    "planners)") {
    for ((path, sess) <- paths) {
      import sess.implicits._
      val before = sess.conf.get("spark.sql.shuffle.partitions")
      val edges = (0L until 2000L).map(i => (i, i / 2)).toDF("src", "dst")
      val out = Components.assign(edges)
      // the conf is already restored DURING the loop in the new form, but a
      // concurrent observer can't poll reliably here — what is pinned is
      // that the result is correct AND the caller conf is untouched after,
      // and (structurally) that no conf.set targets the caller session.
      assert(sess.conf.get("spark.sql.shuffle.partitions") == before, path)
      assert(out.sparkSession eq sess,
        s"$path: the result frame must be re-anchored to the caller's session")
      assert(out.filter("cluster_id <> 0").count() == 0L,
        s"$path: halving chain collapses to one component rooted at 0")
    }
  }

  /** `body`'s result and the executed plans of the local checkpoints it
    * ran in `sess` (the loops' edge and round pins), seen by a listener on
    * `sess`: a query run in another session is not seen. */
  private def checkpointPlans[T](sess: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sess.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.graftprobe.ListenerProbe.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, plans.asScala.toSeq)
    } finally sess.listenerManager.unregister(listener)
  }

  test("every shuffle of the loop's rounds runs at the graph's width, in " +
    "the caller's session, whose shuffle width is 32") {
    val wide = spark.newSession()
    wide.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    wide.conf.set("spark.sql.shuffle.partitions", "32")
    import wide.implicits._
    val tree = (1L until 600L).map(i => (i, i / 2)).toDF("src", "dst")
    val (labels, plans) = checkpointPlans(wide)(
      Components.assign(tree).select("cluster_id").distinct().as[Long].collect().toSeq)
    assert(labels == Seq(0L))
    // the edge pin, the partitioned edge pin and at least two rounds
    assert(plans.size >= 4, s"${plans.size} checkpoints seen in the caller's session")
    val widths = plans.flatMap(shuffles).map(_.outputPartitioning.numPartitions)
    assert(widths.nonEmpty && !widths.contains(32), s"shuffle widths $widths")
  }

  test("the loops run under the caller's runtime SQL conf (ANSI off, a " +
    "non-UTC time zone, no partition coalescing) and return the driver " +
    "path's labels") {
    def session(threshold: Option[String]): SparkSession = {
      val s = spark.newSession()
      s.conf.set("spark.sql.ansi.enabled", "false")
      s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      threshold.foreach(s.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      s
    }
    val sessions = Seq(session(None), session(Some("-1")))
    val chain = (0L until 40L).map(i => (i + 1, i / 3)) ++ Seq((100L, 101L), (101L, 102L))
    val aliasRows = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("p", "q"), ("q", "p"))
    val Seq((driverCC, driverAlias, _), (loopCC, loopAlias, loopPlans)) = sessions.map { sess =>
      import sess.implicits._
      val ((cc, roots), plans) = checkpointPlans(sess) {
        // ids pass through conf-dependent expressions: a non-numeric
        // string casts to null without ANSI (the row is dropped as a
        // self-loop would be), and a local timestamp reads in the
        // session's zone
        val edges = (chain.map { case (a, b) => (a.toString, b.toString) } :+ (("bad", "1")))
          .toDF("a", "b")
          .selectExpr(
            "cast(a as long) + unix_timestamp(timestamp'2024-01-01 00:00:00') - " +
              "unix_timestamp(timestamp'2024-01-01 00:00:00') as src",
            "cast(b as long) as dst")
        val cc = Components.assign(edges)
        val roots = MergeEngine.resolveAliases(aliasRows.map { case (k, t) =>
          IdentifierAlias(k, t) }.toDS())
        (cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
          roots.collect().map(r => r.getString(0) -> r.getString(1)).toSet)
      }
      assert(sess.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles")
      (cc, roots, plans)
    }
    assert(loopCC == driverCC && driverCC.size == 44, s"$loopCC vs $driverCC")
    assert(loopAlias == driverAlias, s"$loopAlias vs $driverAlias")
    assert(loopPlans.nonEmpty, "the loops' pins ran in the caller's session")
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    val coalesced = loopPlans.flatMap(planNodes)
      .collect { case r: AQEShuffleReadExec if r.hasCoalescedPartition => r }
    assert(coalesced.isEmpty, s"coalesced reads under a caller that turned them off: $coalesced")
  }
}
