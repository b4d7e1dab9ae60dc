package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries._

/** The query mix that closes each analyst round of `dashboard_session`:
  * one pass, in a seeded order, over twenty queries, one from each module
  * of `graft.queries` except JdbcQueries. Each is the module's cheapest
  * r19 entry to run for the first time that is not one-shot (Graph and
  * Geo have no cheaper entry than the ones listed), so the pass measures
  * every module's plan build, code generation and execution as a session
  * meets them, at a cost a benchmark run can hold. */
object QueryMix {
  val names: Seq[String] = Seq(
    "q12_urgent_share", "q135_label_centroids", "q62_dash_truck_payment_pivot",
    "q68_deterministic_split", "q154_corr_guard", "q80_user_erasure",
    "q115_session_window", "q139_triangle_count", "q123_typed_agg_stats",
    "q158_string_battery", "q153_sql_not_in_null_trap", "q145_grid_spatial_pairs",
    "q156_schema_evolution_read", "q181_chunk_dedup", "q98_weighted_sample",
    "q194_epoch_shards", "q200_token_budget_plan", "q211_k_anonymity",
    "q202_streaming_suppression_guard", "q246_dsv2_partitioned_read")

  /** DuckDB's SQL for each query of the mix. */
  def oracleSql: Map[String, String] = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
}

/** One pass of the mix. The timed action collects the result; the rows
  * go to the raw record as JSON, with their column types, for the DuckDB
  * oracle check. */
final class QueryMix(spark: SparkSession, sfDir: String, seed: Long, rec: Recorder) {
  import QueryMix._

  private val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.defs, "Similarity" -> Similarity.defs,
    "DashboardQueries" -> DashboardQueries.defs, "LlmPipeline" -> LlmPipeline.defs,
    "Quality" -> Quality.defs, "Lifecycle" -> Lifecycle.defs, "Temporal" -> Temporal.defs,
    "Graph" -> Graph.defs, "TypedOps" -> TypedOps.defs, "Extended" -> Extended.defs,
    "SqlQueries" -> SqlQueries.defs, "Geo" -> Geo.defs,
    "IncrementalQueries" -> IncrementalQueries.defs, "CurationOps" -> CurationOps.defs,
    "TextCorpus" -> TextCorpus.defs, "CorpusModels" -> CorpusModels.defs,
    "PipelineOps" -> PipelineOps.defs, "AuditOps" -> AuditOps.defs,
    "StreamingQueries" -> StreamingQueries.defs, "LakeIndexOps" -> LakeIndexOps.defs)

  private val moduleOf: Map[String, String] = names.map { n =>
    n -> modules.collectFirst { case (m, defs) if defs.exists(_.name == n) => m }
      .getOrElse(throw new IllegalStateException(s"no module defines $n"))
  }.toMap

  private val order = new scala.util.Random(seed).shuffle(names)
  private val fns = SparkEntry.queries
  private val results = mutable.LinkedHashMap.empty[String, Map[String, Any]]

  /** Drop what one query leaves behind, as the suite harness does:
    * cached relations, memory-sink views and stray checkpoint blocks. */
  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.streams.active.foreach(_.stop())
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.contains("_sink_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** One pass; every query is an operation of kind `q:<name>`. */
  def pass(): Unit = order.foreach { n =>
    val res = rec.op(spark, s"q:$n") {
      rec.span(s"queries.${moduleOf(n)}") {
        val df = rec.span("queries.build")(fns(n)(spark, sfDir))
        (df.schema, rec.span("queries.exec")(df.collect()))
      }
    }
    res.foreach { case (schema, got) =>
      results(n) = Map("columns" -> schema.fieldNames.toSeq,
        "types" -> schema.fields.toSeq.map(_.dataType.typeName), "rows" -> got.toSeq.map(_.json))
    }
    cleanup()
  }

  def output(): Map[String, Any] = Map(
    "order" -> order,
    "modules" -> moduleOf,
    "results" -> results)
}
