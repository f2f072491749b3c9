package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.Components

/** Property test for the connected-components operator against a
  * driver-side union-find reference: on random graphs (including dense
  * blobs, chains, and isolated pairs), every node's distributed label must
  * equal the min node id of its union-find component, and exactly the
  * nodes present in edges are labeled. Random exploration is bounded
  * (small graphs, few trials) because every trial runs real Spark jobs;
  * the point is graph-shape coverage, not volume. */
class ComponentsPropSpec extends AnyFunSuite with SparkSpec {

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

    val prop = Prop.forAll(genEdges) { edges0 =>
      val edges = if (edges0.isEmpty) chain else edges0
      val got = Components.assign(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(0, edges)
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12).withWorkers(1), prop)
    assert(res.passed, s"union-find property failed: ${res.status}")

    // and the explicit chain once, deterministically
    val gotChain = Components.assign(chain.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotChain == (0L to 12L).map(_ -> 0L).toMap)
  }

  test("compact keeps exactly one doc per component and conserves token " +
    "mass on random graphs (property vs union-find)") {
    import spark.implicits._
    val genCase = for {
      n <- Gen.choose(3, 20)
      m <- Gen.choose(0, 25)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (a, b))
    } yield (n, edges.filter { case (a, b) => a != b }.distinct)
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
    assert(res.passed, res.status.toString)
  }

  test("the reliable-checkpoint flag produces identical labels (cluster " +
    "fault-tolerance path, Components.scala scaladoc)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val chain = (0L until 12L).map(i => (i + 1, i)) ++ Seq((20L, 21L), (21L, 22L))
    val aliases = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"),
      ("p", "q"), ("q", "p"))
      .map { case (k, t) => graft.records.IdentifierAlias(k, t) }.toDS()
    // one run over every kind of checkpoint pin: the CC edge and round
    // pins, the alias fixpoint's round pins, a catalog query's pin
    def run() = (
      Components.assign(chain.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      graft.operators.MergeEngine.resolveAliases(aliases)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap,
      SparkEntry.queries("pl_train_manifest")(spark, "/root/testdata/sf0.001")
        .collect().toSeq)
    val local = run()
    graft.catalog.Catalog.unpersistAll(spark)
    try {
      spark.sparkContext.setCheckpointDir(dir)
      spark.conf.set(Pins.ReliableCheckpoint, "true")
      val got = run()
      val want = (0L to 12L).map(_ -> 0L).toMap ++
        Seq(20L, 21L, 22L).map(_ -> 20L).toMap
      assert(got._1 == want)
      assert(got == local, "reliable pins must not change any result")
      val ckRoot = new java.io.File(new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      assert(ckRoot.list().exists(_.startsWith("graft-pin-")),
        "reliable pins are parquet directories under the checkpoint dir")
      graft.catalog.Catalog.unpersistAll(spark)
      assert(!ckRoot.list().exists(_.startsWith("graft-pin-")),
        s"release-all deletes every pin directory: ${ckRoot.list().mkString(", ")}")
    } finally {
      spark.conf.set(Pins.ReliableCheckpoint, "false")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("assign never mutates the caller session's conf: the loop's " +
    "graph-derived shuffle width lives in a private cloned session (r17; " +
    "the r16 form set-and-restored the shared conf, racing concurrent " +
    "planners)") {
    import spark.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val edges = (0L until 2000L).map(i => (i, i / 2)).toDF("src", "dst")
    val out = Components.assign(edges)
    // the conf is already restored DURING the loop in the new form, but a
    // concurrent observer can't poll reliably here — what is pinned is
    // that the result is correct AND the caller conf is untouched after,
    // and (structurally) that no conf.set targets the caller session.
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    assert(out.sparkSession eq spark,
      "the result frame must be re-anchored to the caller's session")
    assert(out.filter("cluster_id <> 0").count() == 0L,
      "halving chain collapses to one component rooted at 0")
  }
}
