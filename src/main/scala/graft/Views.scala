package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.Schemas
import graft.ops.{DetectorCounts, Topology}
import graft.parse.TransisXml

/** The SQL-first surface: every canonical table and derived frame the
  * engine produces, registered as temp views so a pure-SQL user reaches
  * the whole engine through `spark.sql(...)` alone — the reference's
  * entire batch surface is "fetch me a table I can query"
  * (reference `transis_consumer.py:157-225`); this is that surface on
  * Spark, views instead of fetched copies.
  *
  * Three layers, composable per deployment:
  *  - [[register]]: the parquet base tables of a testdata/warehouse dir;
  *  - [[registerCanonical]]: the document pipeline's canonical frames
  *    (detector records/counts, topology unnests, error docs) over any
  *    raw payload frame;
  *  - [[registerLake]]: the partitioned history lake, through the
  *    swap-tolerant [[graft.sources.History.readSnapshot]] so SQL reads
  *    racing a compaction never see an absent partition.
  *
  * All views are lazy logical plans — registration reads footers once
  * (via [[Tables]]' relation cache) and scans nothing; Catalyst pushdown
  * through a view is identical to the DataFrame path
  * (`SqlSurfaceSpec` asserts hash-identical results on representative
  * gates from every query family).
  */
object Views {

  /** Register the base parquet tables of `dir` as temp views under their
    * table names, plus the engine's SQL functions. */
  def register(spark: SparkSession, dir: String): Unit = {
    registerSqlFunctions(spark)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(n => Tables.table(spark, dir, n).createOrReplaceTempView(n))
    // events goes through Tables.events so the nanos-as-long flag is set
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }

  /** Register the canonical document-layer views over raw payloads:
    *
    *  - `detector_records` — one row per DetectorCountMessage (T1–T4)
    *  - `detector_counts`  — per-detector flat view (map exploded)
    *  - `error_docs`       — the P4 error side-channel
    *  - `topology_sites` / `topology_arms` / `topology_detectors` /
    *    `topology_streets` / `topology_sgs` / `topology_phases` — the
    *    current-topology scan and its X1–X6 unnests
    *
    * @param raw      push-stream payloads, column `value` (NUL-framed)
    * @param topology topology documents, column `fragment` */
  def registerCanonical(spark: SparkSession, raw: DataFrame,
                        topology: DataFrame): Unit = {
    registerSqlFunctions(spark)
    val parsed = TransisXml.parse(TransisXml.frame(raw),
      Schemas.transisResponse)
    val records = DetectorCounts.toRecords(
      TransisXml.detectorCountDocs(parsed))
    records.createOrReplaceTempView("detector_records")
    DetectorCounts.explodedCounts(records)
      .createOrReplaceTempView("detector_counts")
    TransisXml.errorDocs(parsed).createOrReplaceTempView("error_docs")
    val sites = Topology.sites(
      TransisXml.parse(topology, Schemas.topologyResponse))
    sites.createOrReplaceTempView("topology_sites")
    Topology.arms(sites).createOrReplaceTempView("topology_arms")
    Topology.detectors(sites).createOrReplaceTempView("topology_detectors")
    Topology.streets(sites).createOrReplaceTempView("topology_streets")
    Topology.sgs(sites).createOrReplaceTempView("topology_sgs")
    Topology.phases(sites).createOrReplaceTempView("topology_phases")
  }

  /** Register the partitioned history lake as a view, read through the
    * pinned-snapshot resolvers: on a manifest-mode lake
    * ([[graft.sources.History.enableManifests]]) the view plans the
    * manifest's exact file set, which stays physically intact across
    * later compaction/expiry commits until a vacuum grace passes — so a
    * stale view keeps answering correctly (re-register to see newer
    * data). On a legacy lake this is the directory-pinned
    * [[graft.sources.History.readSnapshot]] (old-or-new during a
    * compaction swap, never an absent partition) — there, re-register
    * after a compaction or queries against the stale view fail on the
    * moved files. */
  def registerLake(spark: SparkSession, lakePath: String,
                   name: String = "history"): Unit =
    graft.sources.History.readPinned(spark, lakePath)
      .createOrReplaceTempView(name)

  /** Make the engine's custom Catalyst expressions SQL-callable on an
    * existing session — the same function set [[GraftExtensions]]
    * injects at builder time (both iterate
    * [[graft.functions.GraftFunctions.all]]), for sessions not built
    * with `withExtensions` (idempotent; temp-function scope). */
  def registerSqlFunctions(spark: SparkSession): Unit =
    graft.functions.GraftFunctions.all.foreach {
      case (name, _, builder) =>
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          name, builder, "built-in")
    }
}
