package perfbench

import java.util.concurrent.atomic.LongAdder

import graft.sources.Sinks

/** Counting sink transports. Local mode runs executors in the driver JVM
  * and an `object` deserializes back to the singleton, so the counters see
  * every delivery. The bulk transport carries both the metrics and the
  * links payloads; links payloads are the ones with `data_links_rows`. */
object Delivered {
  val solrDocs = new LongAdder
  val solrBytes = new LongAdder
  val metricsDocs = new LongAdder
  val linksDocs = new LongAdder

  final case class Snapshot(solr: Long, solrBytes: Long, metrics: Long, links: Long) {
    def -(o: Snapshot): Snapshot =
      Snapshot(solr - o.solr, solrBytes - o.solrBytes, metrics - o.metrics, links - o.links)
    def bulk: Long = metrics + links
  }
  def snapshot(): Snapshot =
    Snapshot(solrDocs.sum, solrBytes.sum, metricsDocs.sum, linksDocs.sum)
}

object CountingSolr extends Sinks.Transport {
  def send(p: Seq[String]): Unit = {
    Delivered.solrDocs.add(p.size)
    Delivered.solrBytes.add(p.iterator.map(_.length.toLong).sum)
  }
}

object CountingBulk extends Sinks.Transport {
  def send(p: Seq[String]): Unit = {
    val links = p.count(_.contains("data_links_rows"))
    Delivered.linksDocs.add(links)
    Delivered.metricsDocs.add(p.size - links)
  }
}
