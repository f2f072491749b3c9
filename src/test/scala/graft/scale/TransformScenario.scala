package graft.scale

import org.apache.spark.sql.functions._

import graft.Fixtures
import graft.records.MasterRecord
import graft.scale.Scale.timed
import graft.transform.{SolrColumnar, SolrTransform}

/** T1 transform cost: the typed per-row json4s fold (`SolrTransform`, the
  * fidelity reference) against its columnar Catalyst twin
  * (`SolrColumnar`), over full 8-slot masters (`Fixtures.fullMaster`)
  * written to parquet first so every leg pays the same scan:
  *
  *  1. typed_full: `Dataset.map(transform + canonical render)`, the index
  *     job's hot loop;
  *  2. columnar_strict / columnar_full: the whole document as JSON, with
  *     and without the per-payload well-formedness probes;
  *  3. columnar_pruned: one field (citation_count), where Catalyst prunes
  *     the from_json schema to the accessed field, which a per-row AST
  *     parse cannot do (the typed_pruned leg pays the full parse for the
  *     same answer). */
object TransformScenario {

  def run(r: Scale.Run): Seq[Scale.Record] = {
    val (spark, n) = (r.spark, r.rows)
    import spark.implicits._
    val dir = s"${r.dir}/master-$n"
    Fixtures.fullMaster(spark, n).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    df.count() // warm the file cache, untimed

    val (typedRes, typedSec) = timed(df.as[MasterRecord]
      .map(r => SolrTransform.render(SolrTransform.transform(r))._2)
      .agg(count(lit(1)), max(col("value"))).head())
    // strict: per-payload well-formedness probes, exact typed equivalence
    // even on garbage payloads
    val (colStrictRes, colStrictSec) = timed(SolrColumnar.withDoc(df)
      .select(to_json(col("doc")).as("j"))
      .agg(count(lit(1)), max(crc32(col("j")))).head())
    // validated: the ingest-quarantine contract (payloads parseable by
    // construction), no probes
    val (colRes, colSec) = timed(SolrColumnar.withDoc(df, validated = true)
      .select(to_json(col("doc")).as("j"))
      .agg(count(lit(1)), max(crc32(col("j")))).head())
    require(colRes.getLong(1) == colStrictRes.getLong(1),
      "strict and validated modes must render identically on clean payloads")
    val (prunedRes, prunedSec) = timed(SolrColumnar.withDoc(df, validated = true)
      .select(col("doc.citation_count").as("c"))
      .agg(count(lit(1)), sum(col("c"))).head())
    val (typedPruned, typedPrunedSec) = timed(df.as[MasterRecord]
      .map { r =>
        SolrTransform.transform(r).obj.toMap.get("citation_count").collect {
          case org.json4s.JInt(i) => i.toLong
          case org.json4s.JLong(l) => l
        }.getOrElse(0L)
      }
      .agg(count(lit(1)), sum(col("value"))).head())

    require(typedRes.getLong(0) == n && colRes.getLong(0) == n &&
      prunedRes.getLong(0) == n && typedPruned.getLong(0) == n)
    require(prunedRes.getLong(1) == typedPruned.getLong(1),
      s"pruned sums diverge: ${prunedRes.getLong(1)} vs ${typedPruned.getLong(1)}")

    def rate(s: Double): Long = math.round(n / s)
    Seq(Scale.record("metric" -> "transform_docs_per_sec", "rows" -> n,
      "typed_full_sec" -> typedSec, "typed_full_docs_per_sec" -> rate(typedSec),
      "columnar_strict_sec" -> colStrictSec,
      "columnar_strict_docs_per_sec" -> rate(colStrictSec),
      "columnar_full_sec" -> colSec, "columnar_full_docs_per_sec" -> rate(colSec),
      "columnar_pruned_sec" -> prunedSec, "columnar_pruned_docs_per_sec" -> rate(prunedSec),
      "typed_pruned_sec" -> typedPrunedSec,
      "typed_pruned_docs_per_sec" -> rate(typedPrunedSec),
      "full_speedup" -> typedSec / colSec,
      "pruned_speedup" -> typedPrunedSec / prunedSec))
  }
}
