package perfbench

import org.apache.spark.sql.SparkSession

import graft.queries.{PipelineQueries, WarehouseQueries}

/** The benchmark's workloads: which catalog cells one round runs, and
  * which untimed `*Setup` functions stage their fixtures first.
  * perfbench/README.md says why each workload was chosen.
  */
object Workloads {
  type SetupFn = (SparkSession, String) => Any

  /** The setup function each cell needs, by name. */
  val setups: Map[String, (String, SetupFn)] = Map(
    "etl04_incremental_merge" -> ("etl04Setup" -> WarehouseQueries.etl04Setup _),
    "io02_bucketed_join" -> ("io02Setup" -> PipelineQueries.io02Setup _),
    "io09_repack_policy" -> ("io09Setup" -> PipelineQueries.io09Setup _),
    "p06_incremental_refresh" -> ("p06Setup" -> PipelineQueries.p06Setup _),
    "e12_drift_republish" -> ("e12Setup" -> PipelineQueries.e12Setup _),
    "e13_index_compact" -> ("e13Setup" -> PipelineQueries.e13Setup _),
    "s10_stream_curate" -> ("s10Setup" -> PipelineQueries.s10Setup _),
    "s13_stream_ann_drift" -> ("s13Setup" -> PipelineQueries.s13Setup _),
  )

  val warehouseLoad: Seq[String] = Seq(
    "etl01_dim_date", "etl02_dim_client", "etl03_fact_orders",
    "etl04_incremental_merge", "etl05_constraint_report", "etl06_surrogate_scale",
    "u01_upsert_merge", "u02_insert_if_absent",
    "io01_pgcopy_roundtrip", "io02_bucketed_join", "io04_jdbc_extract",
    "w01_partitioned_io",
    // two of store_maintenance's composed cells: the shard-store repack
    // (Pack) and a streaming ingest (IngestAnnDrift)
    "io09_repack_policy", "s13_stream_ann_drift")

  val storeMaintenance: Seq[String] = Seq(
    "io09_repack_policy", "p06_incremental_refresh", "e12_drift_republish",
    "e13_index_compact", "s10_stream_curate", "s13_stream_ann_drift")

  /** The cells of `workload`, sorted by name; `catalog` is every cell name. */
  def cells(workload: String, catalog: Set[String]): Seq[String] = (workload match {
    case "dashboard" =>
      catalog.filter(n => n.length > 1 && n(0) == 'q' && n(1).isDigit).toSeq :+ "v01_sql_views"
    case "warehouse_load" => warehouseLoad
    case "store_maintenance" => storeMaintenance
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }).sorted
}
