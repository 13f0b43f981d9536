package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of every operator module's inventory; each entry is
  * paired with equivalent DuckDB SQL in `oracleSql` (same column names, total
  * ORDER BY) so the driver's hash compare is deterministic. Modules:
  *
  *  - [[graft.operators.Aggregates]]  — grouped/scalar aggregation (SURVEY §2.4)
  *  - [[graft.operators.Joins]]       — join shapes (SURVEY §2.3)
  *  - [[graft.operators.Relational]]  — filter/project/sort/set-op/string fns
  *  - [[graft.operators.Events]]      — event-stream analytics (SURVEY §2.10)
  *  - [[graft.operators.Views]]       — the reference's view/MV layer (SURVEY §2.9)
  *  - [[graft.operators.Gates]]       — warehouse, BCDR, streaming and MV gates
  *  - [[graft.operators.TextOps]]     — LLM-pipeline text analysis + dedup
  *  - [[graft.operators.Similarity]]  — embedding similarity / ANN
  *  - [[graft.operators.Multimodal]]  — opaque-binary media columns with
  *    real JDK codec decode (PNG/BMP/GIF via imageio, WAV via javax.sound)
  *  - [[graft.operators.Curation]]    — corpus curation: repetition signals,
  *    decontamination, PII redaction, stratified sampling, context packing,
  *    domain mixture weights
  *  - [[graft.operators.Temporal]]    — as-of join (union+window) and
  *    keyless range join (bucket-prejoin)
  *  - [[graft.operators.Stats]]       — distributed exact percentiles
  *    (rank arithmetic, no per-group collection) and single-pass ROLLUP
  *  - [[graft.operators.Reshape]]     — single-pass CUBE, unpivot (stack),
  *    INTERSECT/EXCEPT cohorts, calendar-spine time-series gap-fill
  */
object SparkEntry {

  // a def, not a val: AnnIndex renders its oracle's read_parquet paths
  // from the root its queries actually built at (set at query run time),
  // so the oracle map must be materialized AFTER the queries ran
  private def modules: Seq[(Map[String, Q.QFn], Map[String, String])] = Seq(
    (AnnIndex.queries, AnnIndex.oracle),
    (Aggregates.queries, Aggregates.oracle),
    (Joins.queries, Joins.oracle),
    (Relational.queries, Relational.oracle),
    (Events.queries, Events.oracle),
    (Views.queries, Views.oracle),
    (Gates.queries, Gates.oracle),
    (Windows.queries, Windows.oracle),
    (Sources.queries, Sources.oracle),
    (TextOps.queries, TextOps.oracle),
    (Similarity.queries, Similarity.oracle),
    (Multimodal.queries, Multimodal.oracle),
    (AdFunnel.queries, AdFunnel.oracle),
    (Curation.queries, Curation.oracle),
    (Temporal.queries, Temporal.oracle),
    (Stats.queries, Stats.oracle),
    (Reshape.queries, Reshape.oracle))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Views.queries("q27_funnel_mv")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)
}
