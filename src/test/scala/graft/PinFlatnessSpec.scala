package graft

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.catalog.Catalog
import graft.operators.{Packing, Sitemap}

/** A long-lived driver must hold flat resources. Cycling the operators
  * that pin state (connected components, the alias fixpoint, the sitemap
  * ordinal, the packing prefix sum) in one session, with
  * `Catalog.unpersistAll` after each cycle, must leave no persistent RDD
  * and no RDD block in the block manager behind. No GC is forced: a
  * released pin frees its blocks itself instead of waiting for the context
  * cleaner. (Broadcast blocks of the queries' broadcast joins are not
  * pins; only the cleaner frees them, after a GC, so they are not
  * counted.) The cycles run in the shared session, where the small CC and
  * alias graphs are solved on the driver, and again in a child session
  * whose broadcast threshold of -1 sends them through their loops' round
  * pins. */
class PinFlatnessSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def persistentRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddBlocks: Map[String, Long] =
    org.apache.spark.graftprobe.BlockProbe.rddBlocks()

  test("five cycles of every pinning operator leave no persistent RDD and " +
    "no RDD block after each Catalog.unpersistAll") {
    val noBroadcast = spark.newSession()
    noBroadcast.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for (sess <- Seq(spark, noBroadcast)) {
      import sess.implicits._
      val path = if (sess eq spark) "driver" else "loop"
      Catalog.unpersistAll(sess)
      // suites that ran earlier in this JVM may hold RDDs of their own
      val before = persistentRdds
      val baseBlocks = rddBlocks.keySet
      val records = (1L to 300L).map(i => (i, s"b$i")).toDF("id", "bibcode")
      val docs = (1L to 300L).map(i => (s"l${i % 3}", i, 10L + i % 17))
        .toDF("lang", "doc_id", "n_tokens")
      for (cycle <- 1 to 5) {
        SparkEntry.queries("dd_cluster_assign")(sess, sf).count()
        SparkEntry.queries("j7_alias_fixpoint")(sess, sf).count()
        Sitemap.assignFilenames(records, maxPerFile = 16).count()
        Packing.packByBudget(docs, "lang", "doc_id", "n_tokens", budget = 500L).count()
        assert((persistentRdds -- before).nonEmpty, s"$path cycle $cycle pinned nothing")
        Catalog.unpersistAll(sess)
        val left = persistentRdds -- before
        assert(left.isEmpty, s"$path cycle $cycle left persistent RDDs $left")
        eventually(timeout(Span(10, Seconds))) {
          val blocks = rddBlocks -- baseBlocks
          assert(blocks.isEmpty,
            s"$path cycle $cycle left ${blocks.values.sum} bytes in RDD blocks $blocks")
        }
      }
    }
  }

  private def mainSources: Seq[java.io.File] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    files(new java.io.File("src/main/scala"))
  }

  private def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("Pins is the only src/main code that checkpoints or keeps pins") {
    val owners = for {
      f <- mainSources if f.getName != "Pins.scala"
      marker <- Seq("localCheckpoint(", "ConcurrentLinkedQueue[DataFrame]",
        "releasePinned", "clearMemos", "componentsCache", ".cache()", ".persist(",
        ".unpersist(", "Pins.release(Sitemap.OrdinalPins)")
      if text(f).contains(marker)
    } yield s"${f.getPath}: $marker"
    assert(mainSources.exists(_.getName == "Pins.scala"))
    assert(owners.isEmpty, owners.mkString("\n"))
  }

  test("src/main clones no session and moves no frame through a global " +
    "temp view, and only the forced-reindex report observes through an " +
    "Observation") {
    val found = for {
      f <- mainSources
      marker <- Seq("newSession(", "GlobalTempView") ++
        (if (f.getName == "Pipeline.scala") Nil else Seq("Observation"))
      if text(f).contains(marker)
    } yield s"${f.getPath}: $marker"
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("each consumer mechanism has one body in src/main: the streaming " +
    "queries, the post-batch vacuum and the feed-cursor steps") {
    // where each marker may occur, as (file, owner): the owner is the
    // nearest `def` or Cli verb (`a.contains("…")`) before the occurrence
    val allowed = Map(
      ".writeStream" -> Set("Pipeline.scala" -> "runStream", "Cli.scala" -> "consume"),
      // the queue body's maintenance, and the --vacuum verb's sweep
      ".vacuum(" -> Set("Pipeline.scala" -> "queueBatch", "Cli.scala" -> "sweep"),
      "Watermark.advanceGen(" -> Set("Pipeline.scala" -> "advance"),
      ".registerConsumerCursor(" -> Set("Pipeline.scala" -> "advance"))
    val owner = raw"""def (\w+)|a\.contains\("([\w-]+)"\)""".r
    val sites = for {
      f <- mainSources
      src = text(f)
      marker <- allowed.keys
      at <- Iterator.iterate(src.indexOf(marker))(i => src.indexOf(marker, i + 1))
        .takeWhile(_ >= 0)
    } yield marker -> (f.getName -> owner.findAllMatchIn(src.substring(0, at)).toSeq
      .lastOption.map(m => Option(m.group(1)).getOrElse(m.group(2))).getOrElse(""))
    val bySite = sites.groupBy(_._1).map { case (m, ss) => m -> ss.map(_._2) }
    for ((marker, want) <- allowed)
      assert(bySite.getOrElse(marker, Nil).sorted == want.toSeq.sorted,
        s"$marker occurs at ${bySite.getOrElse(marker, Nil)}; only at $want")
  }

  test("src/main reads only allow-listed environment variables: the " +
    "SPARK_GRAFT_* harness knobs in Cli, Bench and Verify, and GRAFT_CC_DEBUG " +
    "in Components") {
    def allowed(file: String, name: String): Boolean =
      (Set("Cli.scala", "Bench.scala", "Verify.scala")(file) &&
        name.startsWith("SPARK_GRAFT_")) ||
        (file == "Components.scala" && name == "GRAFT_CC_DEBUG")
    // every env access must name its variable, so an unnamed read fails too
    val access = raw"sys\.env|System\.getenv".r
    val namedRead =
      raw"""(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\("(\w+)"""".r
    val found = for {
      f <- mainSources
      src = text(f)
      m <- access.findAllMatchIn(src).toSeq
      name = namedRead.findPrefixMatchOf(src.substring(m.start)).map(_.group(1))
      if !name.exists(allowed(f.getName, _))
    } yield s"${f.getName}: ${src.substring(m.start).takeWhile(_ != '\n')}"
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("src/main has no entry points besides Cli, Bench and Verify") {
    val mains = mainSources.filter(f => text(f).contains("def main(")).map(_.getName).toSet
    assert(mains == Set("Cli.scala", "Bench.scala", "Verify.scala"), mains)
  }

  test("four Components.assign loops in one session leave the shared " +
    "listener bus as the first one left it") {
    import org.apache.spark.graftprobe.ListenerProbe.listeners
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import sess.implicits._
    // with no broadcast threshold nothing is solved on the driver: each
    // call runs the loop over this 200-node chain
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    val left = for (call <- 1 to 4) yield {
      val labels = graft.operators.Components.assign(edges)
      assert(labels.select("cluster_id").distinct().as[Long].collect().toSeq == Seq(1L),
        s"call $call")
      Catalog.unpersistAll(sess)
      listeners(spark.sparkContext)
    }
    // compared by identity, not by count: the context cleaner unregisters
    // the listeners of sessions that earlier suites dropped whenever a GC
    // finds them, so the count may fall during the calls. A leak is a
    // listener the first call did not leave.
    val added = left.map(_.filterNot(l => left.head.exists(_ eq l)))
    assert(added.forall(_.isEmpty), s"listeners added after the first call: $added")
  }

  test("two parent sessions taking turns through the CC loop, the alias " +
    "loop and a cache leave the shared listener bus as the second cycle " +
    "left it") {
    import org.apache.spark.graftprobe.ListenerProbe.listeners
    import graft.operators.{Components, MergeEngine}
    import graft.records.IdentifierAlias
    val parents = Seq.fill(2) {
      val s = spark.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s
    }
    val left = for (cycle <- 1 to 6) yield {
      val sess = parents(cycle % 2)
      import sess.implicits._
      val edges = (1L until 120L).map(i => (i, i + 1)).toDF("src", "dst")
      val labels = Components.assign(edges)
      assert(labels.select("cluster_id").distinct().as[Long].collect().toSeq == Seq(1L),
        s"cycle $cycle")
      val roots = MergeEngine.resolveAliases(
        Seq(IdentifierAlias("a", "b"), IdentifierAlias("b", "c")).toDS())
      assert(roots.collect().map(_.getString(1)).toSet == Set("c"), s"cycle $cycle")
      val cached = Pins.cache(edges.filter("src % 2 = 0"), "pin-flatness.cache")
      assert(cached.count() == 59L)
      Pins.release(cached)
      Catalog.unpersistAll(sess)
      listeners(spark.sparkContext)
    }
    // compared by identity, as in the case above; the first cycle builds
    // each parent's own listener bus
    val base = left(1)
    val added = left.drop(1).map(_.filterNot(l => base.exists(_ eq l)))
    assert(added.forall(_.isEmpty), s"listeners added after the second cycle: $added")
  }
}
