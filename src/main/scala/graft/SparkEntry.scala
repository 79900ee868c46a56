package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (plus the north-star dedup /
  * similarity / multimodal / text-analysis extensions) is registered here
  * as a pure `(SparkSession, sfDir) => DataFrame` with a DuckDB-runnable
  * oracle. QUERIES.md maps §2 operator IDs → query keys.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * RAG corpus census: non-empty filter → per-language census (SURVEY §7.2 M0). */
  def entry(spark: SparkSession): DataFrame =
    CatalogOps.queries("m0_corpus_census")(spark, "/root/testdata/sf0.001")

  private val modules: Seq[OpModule] = Seq(
    Module(CatalogOps.queries, CatalogOps.oracles),
    Module(EventOps.queries, EventOps.oracles),
    Module(TpchOps.queries, TpchOps.oracles),
    Module(TranscriptOps.queries, TranscriptOps.oracles),
    Module(PipelineOps.queries, PipelineOps.oracles),
    Module(DedupOps.queries, DedupOps.oracles),
    Module(RetrievalOps.queries, RetrievalOps.oracles),
    Module(LexicalOps.queries, LexicalOps.oracles),
    Module(TextAnalysisOps.queries, TextAnalysisOps.oracles),
    Module(CleanOps.queries, CleanOps.oracles),
    Module(CurationOps.queries, CurationOps.oracles),
    Module(PrepOps.queries, PrepOps.oracles),
    Module(MultimodalOps.queries, MultimodalOps.oracles),
    Module(GraphOps.queries, GraphOps.oracles),
    Module(LayoutOps.queries, LayoutOps.oracles),
    Module(RelationalExtOps.queries, RelationalExtOps.oracles),
    Module(StatSketchOps.queries, StatSketchOps.oracles),
    Module(TimeSeriesOps.queries, TimeSeriesOps.oracles),
    Module(QualityOps.queries, QualityOps.oracles),
    Module(GeoOps.queries, GeoOps.oracles),
    Module(LinkageOps.queries, LinkageOps.oracles),
    Module(graft.streaming.StreamingOps.queries, graft.streaming.StreamingOps.oracles),
    // file-format sources/sinks: oracle-checked via DuckDB's file readers
    // over the same fixture tree (ORC via round-trip ≡ identity on the
    // source parquet — DuckDB has no ORC reader)
    Module(graft.sources.FileSources.queries, graft.sources.FileSources.oracles)
  )

  private case class Module(
      qs: Map[String, (SparkSession, String) => DataFrame],
      os: Map[String, String])
  private type OpModule = Module

  /** Each module's query keys, in registration order: `queries` keeps
    * only the last of two modules registering one key, so the registry
    * contract spec checks these for overlaps. */
  private[graft] def moduleKeys: Seq[Set[String]] = modules.map(_.qs.keySet)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.qs).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit only for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.os).toMap
}
