package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.ReferenceFixtures._
import graft.sources.TypedHistory

/** S5–S8 typed history surface as gate queries: embedded typed fixture
  * documents are parsed by the real XML pipeline, landed in the
  * partitioned lake layout once per session, and read back through the
  * named typed readers — so the gate exercises parse → layout →
  * partition-pruned read end-to-end. Fixtures are constants, so the
  * oracles are literal VALUES tables (same pattern as x01–x06).
  */
object HistoryQueries {

  /** Build the typed lake once per session (parse + partitioned write),
    * memoized so h01–h04 share it within a gate run. */
  private val lakeCache = lakeMemo[Unit]()

  private def lake(s: SparkSession): String =
    lakeCache(s, ()) {
      val dir = java.nio.file.Files.createTempDirectory("graft-history").toString
      val monitors = TypedHistory.monitorTypes.map {
        case t @ "StrategicMonitor" =>
          TypedHistory.monitorRecords(s, Seq(strategicMonitorDoc), t)
        case t @ "Motorway" =>
          TypedHistory.monitorRecords(s, Seq(motorwayDoc), t)
        case t => TypedHistory.monitorRecords(s, Seq(siteAlarmDoc), t)
      }.reduce(_.unionAll(_))
      TypedHistory.writeMonitors(monitors, dir)
      TypedHistory.writeTirf(TypedHistory.tirfRecords(s, Seq(tirfDoc)), dir)
      TypedHistory.writeVms(TypedHistory.vmsRecords(s, Seq(vmsDoc)), dir)
      TypedHistory.writeTopologyChanges(
        TypedHistory.topologyChangeRecords(s, Seq(topologyChangesDoc)), dir)
      dir
    }

  private val TS = "collectionendtimestamp_plus_3_mins"

  /** A manifest-mode detector lake for h06: two committed batches land
    * as separate files with disjoint [min,max] of the event-time column
    * (15:43 vs 15:48), manifests enabled, stats refreshed — so the
    * range read exercises enableManifests → publish → refreshStats →
    * footer-pruned planning end-to-end, and the VALUES oracle pins the
    * exact rows a correct prune must still return. */
  private val manifestLakeCache = lakeMemo[Unit]()

  private def manifestLake(s: SparkSession): String =
    manifestLakeCache(s, ()) {
      import s.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("graft-manifest-lake").toString + "/lake"
      def recordsOf(payload: String) =
        graft.stream.Pipeline.payloadToRecords(Seq(payload).toDF("value"))
      graft.sources.History.writePartitioned(
        recordsOf(singleSiteDoc), dir)
      graft.sources.History.writePartitioned(
        recordsOf(multiSiteDoc), dir, mode = "append")
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.refreshStats(s, dir, TS): Unit
      dir
    }

  /** A single-level (lang-partitioned) manifest lake of the documents
    * table with a keyed copy-on-write delete already applied: h07 reads
    * the post-delete pinned state, so the gate exercises bootstrap
    * (enableManifests over an arbitrary partition layout) → match scan
    * → file-granular rewrite → atomic manifest flip end-to-end, against
    * a DuckDB anti-predicate oracle on the same parquet. Keyed by
    * (session, sfDir): the corpus differs per scale factor. */
  private val deleteLakeCache = lakeMemo[String]()

  private def deleteLake(s: SparkSession, sfDir: String): String =
    deleteLakeCache(s, sfDir) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-cow-delete").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .repartition(col("lang"))
        .write.partitionBy("lang").parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.deleteWhere(s, dir,
        col("source") === "src3" || col("doc_id") % 11 === 0): Unit
      dir
    }

  /** A lang-partitioned manifest lake of the documents table with a
    * keyed copy-on-write MERGE already applied: every src1 doc's
    * n_chars is corrected (+1000) in place and every src2 doc is
    * re-keyed (+10_000_000) and inserted — so h08 exercises the
    * key-semi-join match scan → file-granular rewrite-with-upsert →
    * atomic flip end-to-end against a CASE/UNION oracle on the same
    * parquet. Keyed by (session, sfDir). */
  private val mergeLakeCache = lakeMemo[String]()

  private def mergeLake(s: SparkSession, sfDir: String): String =
    mergeLakeCache(s, sfDir) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-cow-merge").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
      docs.repartition(col("lang")).write.partitionBy("lang").parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      val corrections = docs.filter(col("source") === "src1")
        .withColumn("n_chars", col("n_chars") + 1000L)
      val inserts = docs.filter(col("source") === "src2")
        .withColumn("doc_id", col("doc_id") + 10000000L)
      graft.sources.History.mergeInto(
        s, dir, corrections.unionByName(inserts), Seq("doc_id")): Unit
      dir
    }

  /** An unpartitioned manifest lake of the documents table, landed as
    * key-scattered files then cluster-rewritten on doc_id: h09 range-
    * reads the clustered lake through the stats-pruned planner, so the
    * gate exercises scatter → clusterBy (range repartition + in-file
    * sort + flip + stats refresh) → footer-pruned range read end-to-end
    * against a BETWEEN oracle. Keyed by (session, sfDir). */
  private val clusterLakeCache = lakeMemo[String]()

  private def clusterLake(s: SparkSession, sfDir: String): String =
    clusterLakeCache(s, sfDir) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-clustered").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .repartition(8) // round-robin: every file spans the id range
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.clusterBy(s, dir, "doc_id", 8): Unit
      dir
    }

  /** An unpartitioned manifest lake of the documents table,
    * Z-order-clustered on (doc_id, n_chars): h10 box-reads it through
    * the multi-dimension stats-pruned planner, so the gate exercises
    * scatter → clusterByZ (bit-interleaved key + range repartition +
    * stats refresh on BOTH columns) → per-dimension-intersected
    * footer-pruned read end-to-end against a two-predicate BETWEEN
    * oracle. Keyed by (session, sfDir). */
  private val zLakeCache = lakeMemo[String]()

  private def zLake(s: SparkSession, sfDir: String): String =
    zLakeCache(s, sfDir) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-zorder").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.clusterByZ(
        s, dir, Seq("doc_id", "n_chars"), 8): Unit
      dir
    }

  /** A lang-partitioned documents lake on SHARDED manifests with a
    * one-partition copy-on-write delete already applied: h11 reads two
    * of the five partitions back through [[History.readPinnedPartitions]],
    * so the gate exercises flat bootstrap → sharded conversion →
    * shard-reusing commit (only lang=en's shard is rewritten) →
    * shard-pruned driver-side planning end-to-end against a DuckDB
    * lang-subset anti-predicate oracle. Keyed by (session, sfDir). */
  private val shardedLakeCache = lakeMemo[String]()

  private def shardedLake(s: SparkSession, sfDir: String): String =
    shardedLakeCache(s, sfDir) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sharded-lake").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .repartition(col("lang"))
        .write.partitionBy("lang").parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.enableShardedManifests(s, dir): Unit
      graft.sources.History.deleteWhere(s, dir,
        col("lang") === "en" && col("doc_id") % 7 === 0): Unit
      dir
    }

  /** An UNCLUSTERED (round-robin-scattered) documents lake with the
    * per-file bloom key index built on doc_id: h13 point-looks-up a
    * fixed key list through [[History.readPinnedKeyed]], so the gate
    * exercises scatter → enableManifests → refreshKeyIndex (native
    * bloom_build per file, one distributed job) → content-pruned
    * planning end-to-end against a DuckDB IN-list oracle — the layout
    * where range stats CANNOT prune (every file spans the whole id
    * range) and only content pruning helps. Keyed by (session, sfDir). */
  private val bloomLakeCache = lakeMemo[String]()

  private def bloomLake(s: SparkSession, sfDir: String): String =
    bloomLakeCache(s, sfDir) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-bloom-lake").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        // a derived STRING business key alongside the numeric id: h14's
        // takedown-list shape (URL/UUID-like), indexed independently
        .withColumn("doc_key", concat(lit("doc-"), col("doc_id")))
        .repartition(8) // round-robin: every file spans the id range
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.refreshKeyIndex(s, dir, "doc_id"): Unit
      graft.sources.History.refreshKeyIndex(s, dir, "doc_key"): Unit
      dir
    }

  /** An unclustered manifest lake that took two MERGE-ON-READ deletes
    * ([[graft.sources.History.deleteKeysDV]] — bloom-pruned keyed
    * takedown — then [[graft.sources.History.deleteWhereDV]] — a
    * predicate sweep): both land as per-file deletion-vector sidecars
    * + one manifest commit each, ZERO data files rewritten
    * (`DeletionVectorSpec` asserts the no-rewrite property; these
    * gates assert the ROW SET at SF scale). h20 reads the latest
    * pinned image — every reader applies the vectors inline; h21 reads
    * the row-level change feed across the takedown window — the
    * positional O(changed-vectors) delta path. Keyed by (session,
    * sfDir). */
  private val dvLakeCache = lakeMemo[String]()

  private def dvLake(s: SparkSession, sfDir: String): String =
    dvLakeCache(s, sfDir) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-dv-lake").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .repartition(8) // round-robin: every file spans the id range
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.enableShardedManifests(s, dir): Unit
      graft.sources.History.refreshKeyIndex(s, dir, "doc_id"): Unit
      graft.sources.History.deleteKeysDV(s, dir, "doc_id",
        Seq(3L, 41L, 404L)): Unit
      graft.sources.History.deleteWhereDV(s, dir,
        col("doc_id") % 17 === 5): Unit
      dir
    }

  /** A lang-partitioned lake landed as MANY SMALL FILES per partition
    * (the streaming-archive debt shape), with one merge-on-read delete
    * applied, then bin-packed: [[graft.sources.History.binPack]]
    * rewrites only the small-file dirs, folding the deletion vector
    * through. h22 reads the packed image — a pack that lost, doubled,
    * or resurrected a row fails the hash. Keyed by (session, sfDir). */
  private val binPackLakeCache = lakeMemo[String]()

  private def binPackLake(s: SparkSession, sfDir: String): String =
    binPackLakeCache(s, sfDir) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-binpack-lake").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .repartition(12) // 12 small files per lang dir
        .write.partitionBy("lang").parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.enableShardedManifests(s, dir): Unit
      graft.sources.History.deleteWhereDV(s, dir,
        col("doc_id") % 19 === 11): Unit
      graft.sources.History.binPack(s, dir,
        targetBytes = 256L * 1024 * 1024, minFiles = 2): Unit
      dir
    }

  /** A lang-partitioned manifest lake with ONE partition restated by
    * [[graft.sources.History.overwritePartitions]] — the backfill
    * shape: every 'de' row replaced by a corrected image (n_chars +
    * 5000) in one atomic dynamic-partition-overwrite commit, the other
    * partitions untouched. h24 reads the post-backfill image. Keyed by
    * (session, sfDir). */
  private val backfillLakeCache = lakeMemo[String]()

  private def backfillLake(s: SparkSession, sfDir: String): String =
    backfillLakeCache(s, sfDir) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-backfill-lake").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
      docs.repartition(col("lang"))
        .write.partitionBy("lang").parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.enableShardedManifests(s, dir): Unit
      graft.sources.History.overwritePartitions(s, dir,
        docs.filter(col("lang") === "de")
          .withColumn("n_chars", col("n_chars") + 5000L),
        Seq("lang")): Unit
      dir
    }

  /** A manifest lake carrying declared CHECK constraints
    * ([[graft.sources.Constraints]]): after `n_chars >= 0` and a
    * known-lang set are committed, a batch violating the lang
    * constraint is REJECTED WHOLE at the append edge (no file lands,
    * no version flips) and a clean batch lands normally. h25 reads the
    * final image — if enforcement ever silently admitted the bad batch
    * (or bounced the good one) the per-lang counts shift and the hash
    * fails. Keyed by (session, sfDir). */
  private val constraintsLakeCache = lakeMemo[String]()

  private def constraintsLake(s: SparkSession, sfDir: String): String =
    constraintsLakeCache(s, sfDir) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-constraints-lake").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
      docs.write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.Constraints.add(s, dir, "chars_nonneg",
        "n_chars >= 0"): Unit
      graft.sources.Constraints.add(s, dir, "known_lang",
        "lang IN ('en', 'zh', 'de', 'es', 'fr')"): Unit
      val bad = docs.filter(col("doc_id") % 10 === 1)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("lang", lit("xx"))
      val rejected =
        try { graft.sources.History.append(s, dir, bad, key = "bad"); false }
        catch { case _: IllegalArgumentException => true }
      require(rejected, "constraint enforcement must reject the xx batch")
      graft.sources.History.append(s, dir,
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L),
        key = "good"): Unit
      dir
    }

  /** A lang-partitioned manifest lake of the documents table built in
    * two schema ERAS: era 1 (even doc_ids) lands with n_chars as INT32
    * and no quality column; the schema is then DECLARED and EVOLVED
    * (n_chars widened to LONG, nullable quality DOUBLE added —
    * [[graft.sources.SchemaLog]]); era 2 (odd doc_ids) appends through
    * the validated exactly-once path with quality populated. h15 reads
    * the whole lake back through the declared schema — era-1 files
    * reader-promoted and null-backfilled, era-2 files verbatim — so the
    * gate exercises declare → evolve → validated append → projected
    * pinned read end-to-end against a DuckDB UNION oracle. Footer-merge
    * inference would FAIL this lake outright (INT32 vs INT64 footers).
    * Keyed by (session, sfDir). */
  private val evolvedLakeCache = lakeMemo[String]()

  private def evolvedLake(s: SparkSession, sfDir: String): String =
    evolvedLakeCache(s, sfDir) {
      import org.apache.spark.sql.types._
      val dir = java.nio.file.Files
        .createTempDirectory("graft-evolved-lake").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("int").as("n_chars"), col("lang"))
        .repartition(col("lang")).write.partitionBy("lang").parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.enableShardedManifests(s, dir): Unit
      graft.sources.History.declareSchema(s, dir): Unit
      val declared = graft.sources.History.declaredSchema(s, dir).get
      val evolved = StructType(declared.fields.map {
        case f if f.name == "n_chars" => f.copy(dataType = LongType)
        case f => f
      } :+ StructField("quality", DoubleType))
      graft.sources.History.evolveSchema(s, dir, evolved): Unit
      graft.sources.History.append(s, dir,
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("lang"),
            (col("n_chars").cast("double") / 100.0).as("quality")),
        key = "era2", partitionCols = Seq("lang")): Unit
      dir
    }

  /** A manifest lake of the documents table with a SNAPSHOT TAG pinned
    * before a delete, then aggressively vacuumed (grace 0): every
    * untagged superseded file and version is reclaimed on the spot, so
    * ONLY the tag's retention pin keeps the pre-delete snapshot
    * readable. h16 reads the tag back — the exact full-corpus multiset
    * against the plain documents oracle — so the gate exercises
    * tag → copy-on-write delete → vacuum-respects-pin → read-by-name
    * end-to-end. The training-provenance contract: the corpus snapshot
    * a model trained on stays reproducible for the model's lifetime,
    * while untagged history ages out. Keyed by (session, sfDir). */
  private val taggedLakeCache = lakeMemo[String]()

  private def taggedLake(s: SparkSession, sfDir: String): String =
    taggedLakeCache(s, sfDir) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-tagged-lake").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .repartition(col("lang"))
        .write.partitionBy("lang").parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.tag(s, dir, "training-v1"): Unit
      graft.sources.History.deleteWhere(s, dir,
        col("source") === "src2" || col("doc_id") % 5 === 0): Unit
      graft.sources.History.vacuum(s, dir, graceMs = 0L): Unit
      dir
    }

  /** A manifest lake of the documents table that took a WRONG delete
    * (all of src1), was ROLLED BACK metadata-only
    * ([[graft.sources.History.restore]] — the bad commit's files
    * retire, the original files resurrect, nothing is rewritten), and
    * then took the INTENDED delete. h17 reads the latest image: every
    * src1 row must be back (a restore that lost a resurrected file
    * loses rows) and only the second delete's victims gone (a restore
    * that leaked the undone delete's effect keeps too few rows) — the
    * undo/redo lifecycle end-to-end against an anti-predicate oracle.
    * Keyed by (session, sfDir). */
  private val restoredLakeCache = lakeMemo[String]()

  private def restoredLake(s: SparkSession, sfDir: String): String =
    restoredLakeCache(s, sfDir) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-restored-lake").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .repartition(col("lang"))
        .write.partitionBy("lang").parquet(dir)
      val v1 = graft.sources.History.enableManifests(s, dir)
      graft.sources.History.deleteWhere(s, dir,
        col("source") === "src1"): Unit // the wrong delete
      graft.sources.History.restore(s, dir, v1): Unit // the undo
      graft.sources.History.deleteWhere(s, dir,
        col("doc_id") % 13 === 3): Unit // the intended delete
      dir
    }

  /** A fixture-lake memo, released at session teardown by deleting the
    * lake's `graft-*` temp dir (or the lake dir itself when it does not
    * sit directly under one). */
  private def lakeMemo[K](): SessionMemo[K, String] =
    new SessionMemo[K, String](perIteration = false)((_, _, dir) => rmLake(dir))

  private def rmLake(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(dir).getParentFile match {
      case p if p != null && p.getName.startsWith("graft-") => p
      case _ => new java.io.File(dir)
    })
  }

  /** h26's MAINTAINED JOIN VIEW ([[graft.ext.JoinView]]): facts
    * (orders) ⋈ dims (customer) materialized as a lake, then BOTH
    * sides evolve — a dim takedown (custkey % 13 = 7), an in-place
    * dim correction (custkey % 17 = 3 renamed via delete + append),
    * and an appended fact batch (custkey % 19 = 0, orderkeys rekeyed
    * +100,000,000) — and ONE tick mirrors the window by recomputing
    * only the touched keys (bloom-pruned reads on all three lakes).
    * Keyed by (session, sfDir). */
  private val joinViewCache = lakeMemo[String]()

  private def joinViewRoot(s: SparkSession, sfDir: String): String =
    joinViewCache(s, sfDir) {
      val base = java.nio.file.Files
        .createTempDirectory("graft-jv").toString
      val a = s"$base/facts"
      val b = s"$base/dims"
      val view = s"$base/view"
      val orders = graft.Tables.orders(s, sfDir)
        .select(col("o_custkey").as("custkey"), col("o_orderkey"))
      orders.repartition(4).write.parquet(a)
      graft.sources.History.enableManifests(s, a): Unit
      val cust = graft.Tables.customer(s, sfDir)
        .select(col("c_custkey").as("custkey"), col("c_name"))
      cust.repartition(4).write.parquet(b)
      graft.sources.History.enableManifests(s, b): Unit
      graft.ext.JoinView.bootstrap(s, a, b, view, "custkey"): Unit
      graft.sources.History.deleteWhereDV(s, b,
        col("custkey") % 13 === 7): Unit
      graft.sources.History.deleteWhereDV(s, b,
        col("custkey") % 17 === 3): Unit
      graft.sources.History.append(s, b,
        cust.filter(col("custkey") % 17 === 3 &&
            col("custkey") % 13 =!= 7)
          .withColumn("c_name", concat(col("c_name"), lit("-upd"))),
        key = "h26-upd"): Unit
      graft.sources.History.append(s, a,
        orders.filter(col("custkey") % 19 === 0)
          .select(col("custkey"),
            (col("o_orderkey") + 100000000L).as("o_orderkey")),
        key = "h26-batch"): Unit
      graft.ext.JoinView.tick(s, a, b, view, "custkey"): Unit
      view
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S5: the three typed getFromDate shortcuts, date-bounded — each is a
    // (doc_type, dt) partition-pruned read; union'd into one gated result.
    "h01_monitor_from" -> ((s, _) => {
      val d = lake(s)
      TypedHistory.strategicMonitorFrom(s, d, "2019-10-20")
        .unionAll(TypedHistory.motorwayFrom(s, d, "2019-10-20"))
        .unionAll(TypedHistory.siteAlarmFrom(s, d, "2019-10-20"))
    }),

    // getWithinDates: both bounds prune partitions — picks exactly the
    // 2019-10-20..21 records across types.
    "h05_monitor_within" -> ((s, _) => {
      val d = lake(s)
      TypedHistory.monitorWithin(s, d, "Motorway", "2019-10-20", "2019-10-21")
        .unionAll(TypedHistory.monitorWithin(s, d, "StrategicMonitor",
          "2019-10-20", "2019-10-21"))
    }),

    // S6: open snapshot + closed-since-date, marked by query source.
    "h02_tirf_open_closed" -> ((s, _) => {
      val d = lake(s)
      TypedHistory.openTirf(s, d).withColumn("qsrc", lit("open"))
        .unionAll(TypedHistory.closedTirfFrom(s, d, "2019-10-20")
          .withColumn("qsrc", lit("closed_since")))
    }),

    // S7: current VMS state — latest update per sign over landed snapshots.
    "h03_vms_current" -> ((s, _) => TypedHistory.allVms(s, lake(s))),

    // S8: append-only topology-change deltas since date.
    "h04_topology_changes" -> ((s, _) =>
      TypedHistory.topologyChangesFrom(s, lake(s), "2019-10-20"))
        ,

    // Manifest lake + per-file stats, end-to-end: the 15:48 window must
    // plan only the second batch's files (the 15:43 file's footer range
    // excludes it) and still return exactly the committed 15:48 rows —
    // a wrong prune loses a row and fails the hash; a missing prune
    // still passes (stats are an optimization), so the plan property is
    // additionally asserted in PinnedLakeSpec.
    "h06_pinned_range" -> ((s, _) => {
      val d = manifestLake(s)
      graft.sources.History.readPinnedRange(s, d, TS, epoch1548, epoch1548)
        .select(col("region"), col("siteId"), col(TS).as("ts"))
    }),

    // Copy-on-write delete (takedown / right-to-be-forgotten): the lake
    // holds the documents corpus; a keyed predicate delete rewrites only
    // the files holding matches, and the pinned read must return exactly
    // the anti-predicate rows — a lost survivor or surviving victim
    // fails the hash.
    "h07_cow_delete" -> ((s, d) =>
      graft.sources.History.readPinned(s, deleteLake(s, d))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // Copy-on-write keyed merge (correction/late-data upsert): the lake
    // holds the documents corpus; a key-matched batch replaces the src1
    // rows with corrected ones and inserts re-keyed src2 rows. The
    // pinned read must return exactly the CASE/UNION image — a
    // double-applied update, lost survivor, or dropped insert fails
    // the hash.
    "h08_merge_upsert" -> ((s, d) =>
      graft.sources.History.readPinned(s, mergeLake(s, d))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // Clustered range read: after clusterBy(doc_id) each file holds a
    // tight id range, so the stats-pruned planner reads a file subset —
    // and must still return exactly the BETWEEN image (pruning may only
    // save work, never drop rows).
    "h09_clustered_range" -> ((s, d) =>
      graft.sources.History
        .readPinnedRange(s, clusterLake(s, d), "doc_id", 100L, 299L)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // Z-order box read: after clusterByZ(doc_id, n_chars) BOTH columns'
    // per-file spans are tight, so a two-predicate box plans a file
    // subset via intersected footer prunes — and must return exactly
    // the conjunctive BETWEEN image.
    "h10_zorder_box" -> ((s, d) =>
      graft.sources.History.readPinnedBox(s, zLake(s, d),
          Seq(("doc_id", 100L, 299L), ("n_chars", 100L, 400L)))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // Sharded-manifest pruned read: the driver plans two of five lang
    // partitions by parsing only their shards (O(touched partitions)
    // manifest I/O), after a shard-reusing copy-on-write delete on one
    // of them — and must return exactly the lang-subset anti-predicate
    // image (a lost survivor, surviving victim, or leaked third
    // partition fails the hash).
    "h11_sharded_pruned" -> ((s, d) =>
      graft.sources.History.readPinnedPartitions(s, shardedLake(s, d),
          dir => dir == "lang=en" || dir == "lang=de")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // Change feed across the merge commit: the row-level diff between
    // the pre-merge and post-merge manifest versions, computed from
    // ONLY the files the merge rewrote (survivor copies cancel in the
    // multiset difference). Every src1 row appears twice — old image
    // deleted, corrected image inserted — and every re-keyed src2 row
    // once as an insert; a survivor leaking into the feed or a lost
    // image fails the hash.
    "h12_change_feed" -> ((s, d) => {
      val lakeDir = mergeLake(s, d)
      val vs = graft.sources.History.versions(s, lakeDir)
      graft.sources.History.changesBetween(s, lakeDir, vs.head, vs.last)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("_change"))
    }),

    // Bloom-key-index point lookup on an UNCLUSTERED lake: the planner
    // keeps only the files whose per-file filter might hold one of the
    // five keys (content pruning — range stats are useless here, every
    // scattered file spans the whole id range), and the exact IN
    // filter on top must return precisely the oracle's rows. A filter
    // that dropped a real key's file loses rows and fails the hash;
    // false positives only cost planned files, never rows.
    "h13_keyed_lookup" -> ((s, d) =>
      graft.sources.History.readPinnedKeyed(s, bloomLake(s, d), "doc_id",
          Seq(3L, 17L, 29L, 41L, 404L))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // STRING-keyed point lookup through the same bloom machinery: real
    // takedown lists are URLs/UUIDs/content hashes, so the index and
    // probe must agree on StringType hashing (a probe hashed as the
    // wrong type is a bloom false negative — silently dropped rows,
    // which the oracle hash would catch here).
    "h14_keyed_lookup_str" -> ((s, d) =>
      graft.sources.History.readPinnedKeyed(s, bloomLake(s, d), "doc_key",
          Seq("doc-3", "doc-17", "doc-29", "doc-41", "doc-404",
            "doc-no-such-key"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // Declared-schema evolution: the lake holds two file eras — era 1
    // written with n_chars as INT32 and no quality column, era 2
    // appended post-evolution with n_chars LONG and quality populated.
    // The pinned read plans EVERY file against the committed table
    // schema (era-1 values reader-promoted to LONG, quality
    // null-backfilled), so a projection bug in either direction —
    // dropped column, unwidened type, missed null backfill — fails the
    // hash. Footer-merge inference cannot express this lake at all
    // (INT32 vs INT64 footers refuse to merge).
    "h15_schema_evolution" -> ((s, d) =>
      graft.sources.History.readPinned(s, evolvedLake(s, d))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("quality"))),

    // Snapshot-tag retention pin: the lake was tagged, then a keyed
    // delete rewrote files and a grace-0 vacuum reclaimed every
    // untagged superseded file and version — only the tag's pin keeps
    // the pre-delete snapshot whole. Reading the tag must return the
    // EXACT original corpus multiset; a vacuum that clipped one pinned
    // file loses rows and fails the hash (and the post-delete latest
    // image is separately covered by h07's anti-predicate shape).
    "h16_tagged_snapshot" -> ((s, d) =>
      graft.sources.History.readTag(s, taggedLake(s, d), "training-v1")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // Metadata-only rollback: a wrong delete (all of src1) was undone
    // by restore — resurrecting its files in the manifest, rewriting
    // nothing — and the intended delete then applied. The latest image
    // must hold every src1 row and lack exactly the second delete's
    // victims: a restore that dropped a resurrected file, leaked the
    // undone delete, or double-applied anything fails the hash.
    "h17_restored_lake" -> ((s, d) =>
      graft.sources.History.readPinned(s, restoredLake(s, d))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // SQL catalog surface: the post-delete lake queried through
    // `lake.`<path>`` — the DSv2 TableCatalog resolves the pinned
    // manifest, partition-prunes on lang, pushes the aggregate's scan
    // through the stock parquet stack, and must aggregate exactly the
    // anti-predicate rows (h07's lake). A catalog that planned stale,
    // retired, or uncommitted files shifts a count and fails the hash.
    "h18_sql_catalog" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = deleteLake(s, d)
      s.sql(s"""SELECT lang, COUNT(*) AS n_docs,
                       SUM(n_chars) AS total_chars
                FROM lake.`$dir`
                WHERE lang IN ('en', 'de') GROUP BY lang""")
    }),

    // Incrementally-maintained materialized rollup: bootstrap a per-lang
    // (count, sum) table at the merge lake's FIRST version (full scan
    // happens once, against the pre-merge corpus), then tick it to the
    // latest version by applying only the merge commit's row-level
    // change feed — the O(rewritten-files) path; the oracle aggregates
    // the post-merge corpus directly, so a delta mis-applied in either
    // direction (missed retraction, double-counted insert) fails the
    // hash. This is the capability that keeps 100 TB dashboards at
    // change-rate cost instead of rescan cost.
    "h19_incremental_rollup" -> ((s, d) => {
      val lakeDir = mergeLake(s, d)
      val rollupDir = rollupCache(s, lakeDir)(java.nio.file.Files
        .createTempDirectory("graft-rollup").toString + "/rollup")
      val vs = graft.sources.History.versions(s, lakeDir)
      graft.sources.IncrementalRollup.bootstrap(s, lakeDir, rollupDir,
        Seq("lang"), "n_chars", atVersion = Some(vs.head)): Unit
      graft.sources.IncrementalRollup.tick(s, lakeDir, rollupDir,
        Seq("lang"), "n_chars"): Unit
      graft.sources.IncrementalRollup.read(s, rollupDir)
        .select(col("lang"), col("n_rows").as("n_docs"),
          col("sum_n_chars").as("total_chars"))
    }),

    // Merge-on-read takedown: two DV deletes (keyed + predicate) landed
    // as position sidecars — no data file rewritten — and the pinned
    // read must answer the exact post-delete multiset by filtering each
    // file's vector inline. A reader that missed a vector resurrects
    // rows; one that over-applied positions loses rows; either fails
    // the hash. This is the 100 TB takedown shape: k victim rows cost
    // k positions + one commit, not a rewrite job.
    "h20_dv_takedown" -> ((s, d) =>
      graft.sources.History.readPinned(s, dvLake(s, d))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // Change feed across the DV window: no file membership changed, so
    // the whole delta is POSITIONAL — each changed vector's file is
    // read once, selecting exactly the newly-deleted positions. The
    // feed must emit precisely the takedown victims as deletes (what
    // downstream rollups/indexes retract); a feed keyed on file
    // membership alone would emit NOTHING here and fail on row count.
    "h21_dv_change_feed" -> ((s, d) => {
      val dir = dvLake(s, d)
      val vs = graft.sources.History.versions(s, dir)
      graft.sources.History.changesBetween(s, dir, vs.head, vs.last)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("_change"))
    }),

    // Snapshot EXPORT: the DV-bearing lake cloned (distributed copy of
    // files + vector sidecars + a fresh v1 manifest) into an
    // independent location; reading the clone must answer exactly the
    // source's pinned image — a copy that dropped a file, a sidecar,
    // or the schema declaration shifts rows and fails the hash. The
    // ship-this-exact-training-corpus operation, gated at SF scale.
    "h23_exported_snapshot" -> ((s, d) => {
      val src = dvLake(s, d)
      val dst = exportCache(s, src) {
        val out = java.nio.file.Files
          .createTempDirectory("graft-export-lake").toString + "/lake"
        graft.sources.History.exportSnapshot(s, src, out): Unit
        out
      }
      graft.sources.History.readPinned(s, dst)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // Dynamic partition overwrite (the backfill): one lang partition
    // atomically restated with corrected rows, the rest untouched. A
    // restatement that leaked an old 'de' file, dropped another
    // partition's rows, or tore mid-replace fails the hash.
    "h24_partition_backfill" -> ((s, d) =>
      graft.sources.History.readPinned(s, backfillLake(s, d))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))),

    // Small-file compaction (OPTIMIZE) composed with merge-on-read:
    // twelve tiny files per lang dir were bin-packed into ~one, with a
    // deletion vector folded through the rewrite. The packed image
    // must be exactly the corpus minus the takedown — a pack that
    // dropped a survivor, double-wrote a file's rows, or resurrected a
    // vectored row fails the hash; the layout win itself is
    // spec-asserted (BinPackSpec counts files and identities).
    "h22_binpacked" -> ((s, d) =>
      graft.sources.History.readPinned(s, binPackLake(s, d))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // Declared CHECK constraints at the write edge: the final image is
    // corpus + the clean batch, and NOTHING from the rejected batch —
    // aggregated per lang so an admitted 'xx' row or a bounced clean
    // row breaks the hash.
    "h25_constrained_lake" -> ((s, d) =>
      graft.sources.History.readPinned(s, constraintsLake(s, d))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("sum_chars"))),

    // Maintained JOIN view (IVM): after both sides evolved, one tick
    // recomputed only the touched keys — the oracle joins the two
    // final images fresh, so a leaked row for a deleted dim, a stale
    // pre-correction name, or a missed fact batch fails the hash.
    "h26_maintained_join" -> ((s, d) =>
      graft.ext.JoinView.read(s, joinViewRoot(s, d))
        .select(col("custkey"), col("o_orderkey"), col("c_name"))),

    // The SQL surface over a MERGE-ON-READ snapshot: h20's DV-bearing
    // lake queried through `lake.`<path>`` — the catalog routes to the
    // engine's pinned-read plan (PinnedLakeTable), so the takedown
    // victims never surface in SQL results and the pushed predicate
    // still prunes inside the inner plan. A catalog that served the
    // raw parquet files would resurrect every vectored row and fail
    // the hash on row count.
    "h27_sql_dv_read" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = dvLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // The SQL WRITE path: INSERT INTO routes through the staged,
    // validated, exactly-once append — the lake's declared CHECK
    // constraints bounce a violating SQL batch whole (enforced on
    // staged bytes inside the memo), and the clean batch lands as one
    // manifest commit. The final per-lang aggregate equals evens (the
    // engine-landed base) + odds (the SQL-landed batch) and nothing
    // from the bounced 'xx' batch.
    "h28_sql_insert" -> ((s, d) => {
      val dir = sqlInsertLake(s, d)
      s.sql(s"""SELECT lang, COUNT(*) AS n_docs,
                       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
                FROM lake.`$dir` GROUP BY lang""")
    }),

    // Metadata-only COUNT(*) through SQL: with the row-count sidecar
    // fresh, the whole aggregate collapses to History.fastCount's
    // answer (footer counts minus live DV cardinalities) as a
    // LocalTableScan — zero file scans, the plan property asserted in
    // LakeCatalogSpec — and must equal the scan-derived oracle count
    // exactly. A drifted sidecar entry or an unnetted vector shifts
    // the count and fails the hash.
    "h29_sql_fast_count" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = dvLake(s, d)
      graft.sources.History.refreshRowCounts(s, dir): Unit
      s.sql(s"SELECT COUNT(*) AS n_rows FROM lake.`$dir`")
    }),

    // Metadata-only MIN/MAX (+ COUNT) in ONE pushed aggregate: the
    // clustered lake's per-file footer extrema (stats sidecar, fresh
    // for every current file, zero live DVs) answer the whole
    // SELECT as a LocalTableScan — zero file scans (plan asserted in
    // LakeCatalogSpec). A drifted footer entry, a missed file, or a
    // sidecar consulted for the wrong column shifts an extremum and
    // fails the hash.
    "h30_sql_fast_minmax" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = clusterLake(s, d)
      graft.sources.History.refreshRowCounts(s, dir): Unit
      s.sql(s"""SELECT MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
                       COUNT(*) AS n_rows
                FROM lake.`$dir`""")
    }),

    // Partition-FILTERED metadata aggregates: each scalar subquery's
    // predicate is decided per file from its lang=... dir
    // (PartitionPredicate), so every count/extremum here is a sum over
    // the SELECTED files' sidecar entries — the `count(*) WHERE dt=…`
    // dashboard query at metadata cost, zero file scans
    // (LakeCatalogSpec asserts the plan; this gate pins the VALUES on
    // the post-delete sharded lake, where a wrong file selection or a
    // sidecar entry consulted across partitions shifts a number).
    "h31_sql_partition_count" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = shardedLake(s, d)
      graft.sources.History.refreshRowCounts(s, dir): Unit
      graft.sources.History.refreshStats(s, dir, "doc_id"): Unit
      s.sql(s"""SELECT
          (SELECT COUNT(*) FROM lake.`$dir`
           WHERE lang IN ('en', 'de')) AS n_en_de,
          (SELECT COUNT(*) FROM lake.`$dir`
           WHERE lang != 'en') AS n_not_en,
          (SELECT MIN(doc_id) FROM lake.`$dir`
           WHERE lang = 'de') AS mn_de,
          (SELECT MAX(doc_id) FROM lake.`$dir`
           WHERE lang = 'de') AS mx_de""")
    }),

    // GROUP BY a partition column from metadata: every lang group's
    // count is the sum of ITS dirs' sidecar entries — the per-day /
    // per-source dashboard breakdown at metadata cost, one
    // LocalTableScan row per partition (plan asserted in
    // LakeCatalogSpec). A file grouped under the wrong dir value or a
    // count bled across partitions shifts a row and fails the hash.
    "h32_sql_groupby_meta" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = shardedLake(s, d)
      graft.sources.History.refreshRowCounts(s, dir): Unit
      s.sql(s"""SELECT lang, COUNT(*) AS n_docs
                FROM lake.`$dir` GROUP BY lang""")
    }),

    // CDC through SQL: the row-level change feed across the DV
    // takedown window as a `#changes@from..to` table — h21's positional
    // O(changed-vectors) delta path, consumable by a SQL-only
    // downstream (the rollup/index-maintenance input). A feed that
    // missed a vector's positions, emitted a survivor, or dropped the
    // _change marker fails the hash.
    "h33_sql_change_feed" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = dvLake(s, d)
      val vs = graft.sources.History.versions(s, dir)
      s.sql(s"""SELECT doc_id, lang, source, n_chars, _change
                FROM lake.`$dir#changes@${vs.head}..${vs.last}`""")
    }),

    // SQL row-level DELETE: two `DELETE FROM lake.\`…\` WHERE …`
    // statements route through the engine's merge-on-read takedown
    // (per-file deletion vectors + one OCC commit each, zero data
    // files rewritten) — the first through the stock bridge table
    // (DV-free at resolution), the second through the pinned-read
    // table (DVs now present), so BOTH SQL table classes carry the
    // delete surface. The read-back is the corpus minus exactly both
    // victim sets: a delete that missed a row, took a survivor, or
    // resurrected a vectored row on the second statement fails the
    // hash.
    "h34_sql_delete" -> ((s, d) => {
      val dir = sqlDeleteLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // SQL row-level UPDATE: `UPDATE lake.\`…\` SET … WHERE …` routes
    // through the engine's copy-on-write file-granular rewrite
    // (History.updateWhere via the GraftExtensions post-hoc rule) —
    // one update against the DV-free lake, a DV delete to flip the
    // table onto the pinned route, then a second update whose
    // condition (`doc_id % 13 = 4`) has no source-filter image at all:
    // the rule re-anchors whole Catalyst expressions by name, so the
    // DML verbs carry full expression power where the capability
    // path's filter-exact contract refuses. The read-back is the
    // corpus with
    // exactly both CASE images applied minus the DV'd rows — an update
    // that touched a non-matching row, skipped a matching one, or
    // resurrected a deleted row fails the hash.
    "h35_sql_update" -> ((s, d) => {
      val dir = sqlUpdateLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // SQL MERGE INTO (classic upsert): corrections for every
    // doc_id % 7 = 3 row plus a brand-new key block land through
    // `MERGE INTO lake.\`…\` USING src ON … WHEN MATCHED THEN UPDATE
    // SET * WHEN NOT MATCHED THEN INSERT *`, routed to the engine's
    // keyed copy-on-write merge (file-granular rewrite of exactly the
    // files holding matched keys, one OCC flip). The read-back is the
    // corpus anti-joined on the source keys ∪ the source image — a
    // matched row that kept its old image, an unmatched row that got
    // replaced, or a lost/duplicated insert fails the hash.
    "h36_sql_merge" -> ((s, d) => {
      val dir = sqlMergeLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // SQL UPDATE assigning a PARTITION column at SF scale: rows whose
    // lang matches (or whose id hits the modular slice) move to a new
    // directory-encoded partition value through the normal partitioned
    // rewrite — the moved rows must land in their new directory (the
    // partition-pruned predicate below reads them back), the untouched
    // partitions must not rewrite, and the image equals the CASE
    // oracle exactly.
    "h37_sql_update_move" -> ((s, d) => {
      val dir = sqlMoveLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // The change feed of an UPDATE: the window covering h35's second
    // update must present EXACTLY the changed rows — each as its
    // pre-image delete and post-image insert — never the rewritten
    // files' unchanged neighbours (the hash-projected diff at SF
    // scale). A resurrection, a lost retraction, or an unchanged row
    // leaking into the window fails the hash.
    "h38_update_cdc" -> ((s, d) => {
      val dir = sqlUpdateLake(s, d)
      val vs = graft.sources.History.versions(s, dir)
      val (from, to) = (vs(vs.length - 2), vs.last)
      s.sql(s"""SELECT doc_id, lang, source, n_chars, _change
                FROM lake.`$dir#changes@$from..$to`""")
    }),

    // SQL INSERT OVERWRITE: the whole-lake restatement lands as ONE
    // manifest flip (History.overwriteAll — never a visible
    // delete+insert in-between state). The corpus is replaced by a
    // filtered, transformed SELECT; the read-back must be exactly the
    // restated image — any pre-restatement row surviving, or a
    // restated row lost, fails the hash.
    "h39_sql_overwrite" -> ((s, d) => {
      val dir = sqlOverwriteLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // SQL STATIC-PARTITION INSERT OVERWRITE (the canonical backfill:
    // restate one day/source/lang while the rest of the lake is
    // untouched metadata): `PARTITION (lang = 'en')` routes to
    // History.overwriteWhere — retire exactly the files whose lang=en
    // dirs satisfy the filter, land the batch in their place, ONE
    // CAS'd manifest flip. Untouched partitions' files survive
    // byte-identical and pre-overwrite time travel still answers
    // (both spec-locked in LakeCatalogSpec). The read-back is the
    // corpus outside en plus the restated en image — a row leaking
    // into or out of the named partition fails the hash.
    "h40_sql_overwrite_partition" -> ((s, d) => {
      val dir = sqlPartOvwLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // SQL MERGE `WHEN MATCHED THEN DELETE` — the CDC takedown-apply
    // shape: a key feed (existing keys + absent ones) deletes exactly
    // its matched rows as deletion vectors (zero data files rewritten;
    // MergeCdcSpec asserts the no-rewrite property), absent keys no-op
    // per standard MERGE. The read-back is the corpus minus exactly
    // the matched key set — a survivor, an over-delete, or an absent
    // key inventing a row fails the hash.
    "h41_sql_merge_delete" -> ((s, d) => {
      val dir = sqlMergeDelLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // The full CDC-apply batch through ONE SQL MERGE: op='D' rows
    // delete their matched keys (DV), op='U' rows update theirs
    // (file-granular COW), unmatched non-'D' rows insert, and
    // unmatched 'D' rows do NOTHING (matched-ness is pinned at
    // statement start — MergeCdcSpec pins the resurrection guard).
    // The read-back is the corpus with all four arm semantics applied
    // exactly — a deleted row surviving, a tombstone inserted, or an
    // update leaking to the wrong arm fails the hash.
    "h42_sql_merge_cdc" -> ((s, d) => {
      val dir = sqlMergeCdcLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // SQL DDL — the lake lifecycle with ZERO Scala: CTAS provisions a
    // sharded manifest lake (declared schema + declared partitioning +
    // property-carried CHECK constraint) and populates it through the
    // staged validated append in one statement; a second INSERT lands
    // the other half; the declared partitioning governs both layouts
    // (no files existed to derive a scheme from). The read-back is the
    // transformed-evens ∪ odds image — a lost half, a misdeclared
    // schema, or an INSERT landing unpartitioned (and thus unreadable
    // under the declared projection) fails the hash.
    "h43_sql_create_table" -> ((s, d) => {
      val dir = sqlDdlLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // IN-subquery DML: the "act on everything the quality query
    // flagged" statements — a bare uncorrelated `key IN (SELECT …)`
    // condition materializes to a key list at command time and rides
    // the bloom key index (DELETE → deletion vectors, UPDATE → keyed
    // COW), so the canonical two-step (flag, then take down) is one
    // SQL statement. The read-back is the corpus minus the flagged
    // short docs, with the flagged zh docs' source prefixed — a key
    // the subquery flagged surviving, or an unflagged row touched,
    // fails the hash.
    "h44_sql_in_subquery" -> ((s, d) => {
      val dir = sqlInSubqueryLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // Metadata-only extrema BEYOND BIGINT: DATE and STRING MIN/MAX
    // answer from per-file footer stats (DATE as its physical
    // days-since-epoch INT32; STRING under UTF-8-byte order — the one
    // ordering parquet's comparator, Spark's UTF8String, and DuckDB's
    // binary collation all share), the whole SELECT planning a
    // LocalTableScan with zero file reads (plan spec-locked in
    // LakeCatalogSpec; this gate pins the VALUES). A sidecar entry
    // consulted for the wrong column, a narrowed date, or a
    // string-order divergence shifts an extremum and fails the hash.
    "h45_sql_meta_extrema" -> ((s, d) => {
      val dir = sqlMetaExtremaLake(s, d)
      s.sql(s"""SELECT MIN(dt) AS mn_dt, MAX(dt) AS mx_dt,
                       MIN(source) AS mn_src, MAX(source) AS mx_src,
                       COUNT(*) AS n_rows
                FROM lake.`$dir`""")
    }),

    // FULL-SYNC MERGE (`WHEN NOT MATCHED BY SOURCE THEN DELETE`
    // beside the upsert pair — the "make the table BE this query"
    // statement a dimension sync runs): matched keys update, new keys
    // insert, and every target row the source no longer carries
    // deletes as DVs through one anti-join. After the statement the
    // lake IS the source image — any straggler surviving the sync arm,
    // or a synced row lost, fails the hash.
    "h46_sql_merge_sync" -> ((s, d) => {
      val dir = sqlMergeSyncLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // SQL schema EVOLUTION lifecycle: CTAS, then `ALTER TABLE ADD
    // COLUMNS` (metadata-only — SchemaLog.evolve, zero files
    // rewritten), then an INSERT carrying the new column. Pre-ALTER
    // rows read back NULL in the added column, post-ALTER rows carry
    // their values, and the whole lifecycle is SQL-only. A rewritten
    // old file, a misprojected era, or a lost new-column value fails
    // the hash.
    "h47_sql_alter_table" -> ((s, d) => {
      val dir = sqlAlterLake(s, d)
      s.sql(s"""SELECT doc_id, lang, n_chars, quality FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // PARTITION-COLUMN extrema from the directory names: MIN/MAX of
    // the partition column need zero footer stats — each current
    // file's value IS its lang=... dir, guarded by fresh nonzero row
    // counts so an empty file could never vote. The whole SELECT
    // plans a LocalTableScan (plan spec-locked in LakeCatalogSpec);
    // this gate pins the VALUES against the corpus at SF scale.
    "h48_sql_partition_extrema" -> ((s, d) => {
      val dir = sqlPartExtremaLake(s, d)
      s.sql(s"""SELECT MIN(lang) AS mn_lang, MAX(lang) AS mx_lang,
                       COUNT(*) AS n_rows
                FROM lake.`$dir`""")
    }),

    // Metadata-only COUNT(col) — the NON-NULL count, the completeness
    // dashboard's other half: per-file footer rows minus footer null
    // counts (the nulls entry rides the same refresh as the column's
    // extrema, zero extra I/O), the whole SELECT planning a
    // LocalTableScan (plan spec-locked in LakeCatalogSpec; this gate
    // pins the VALUES at SF scale). A nulls entry consulted for the
    // wrong column or a miscounted block shifts the count and fails
    // the hash.
    "h49_sql_count_col" -> ((s, d) => {
      val dir = sqlCountColLake(s, d)
      s.sql(s"""SELECT COUNT(lang_opt) AS n_lang, COUNT(*) AS n_rows,
                       MIN(doc_id) AS mn_id
                FROM lake.`$dir`""")
    }),

    // PARTIAL-SET / conditional-UPDATE-arm MERGE — the highest-
    // frequency real-world CDC shape (a Debezium-style feed carrying
    // only the CHANGED columns): two conditional UPDATE arms with
    // DIFFERENT partial SET lists (first-match-wins, expression
    // values), plus a partial-column INSERT arm whose unassigned
    // column fills NULL. Unassigned target columns must survive
    // byte-identical through the keyed target-image join
    // (MergeCdcSpec locks the mechanics; this gate pins the VALUES at
    // SF scale). A leaked arm, a clobbered unassigned column, or a
    // NULL-fill going wrong fails the hash.
    "h50_sql_merge_partial" -> ((s, d) => {
      val dir = sqlMergePartialLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // DYNAMIC-mode INSERT OVERWRITE ("replace exactly the partitions
    // this query produced" — the multi-day backfill): with
    // partitionOverwriteMode=dynamic, one statement restates the en
    // and zh partitions to a transformed image derived from the query
    // itself, while every partition the query produced NO rows for
    // survives byte-identical (spec-locked in LakeCatalogSpec; this
    // gate pins the VALUES at SF scale). A row leaking into an
    // unproduced partition, or an untouched partition lost, fails the
    // hash.
    "h51_sql_overwrite_dynamic" -> ((s, d) => {
      val dir = sqlDynOvwLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // METADATA-ONLY RENAME COLUMN (declared-schema aliasing): era 1
    // holds the column under its old physical name, a SQL ALTER
    // renames it (zero files rewritten), era 2 writes the new name,
    // and a DV DELETE whose predicate references the RENAMED column
    // lands on top — one scan serves both eras through the alias
    // projection (mechanics spec-locked in LakeDdlSpec; this gate
    // pins the VALUES at SF scale). A pre-rename file reading back
    // NULL, a misrouted era, or the filter missing one era fails the
    // hash.
    "h52_sql_rename_column" -> ((s, d) => {
      val dir = sqlRenameLake(s, d)
      s.sql(s"""SELECT doc_id, lang, origin, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // DOUBLE metadata extrema: MIN/MAX of a DOUBLE column answer from
    // per-file footer stats (NaN/±0.0-touching bounds refused at stat
    // time — parquet writer conventions are unreliable exactly there),
    // the whole SELECT planning a LocalTableScan with zero file reads
    // (plan spec-locked in LakeCatalogSpec; this gate pins the VALUES
    // at SF scale). A dropped file bound or a float-fold divergence
    // shifts an extremum and fails the hash.
    "h53_sql_double_extrema" -> ((s, d) => {
      val dir = sqlDblExtremaLake(s, d)
      s.sql(s"""SELECT MIN(score) AS mn_s, MAX(score) AS mx_s,
                       COUNT(*) AS n_rows
                FROM lake.`$dir`""")
    }),

    // DECIMAL metadata extrema: MIN/MAX of an INT64-backed DECIMAL
    // column answer from footer stats as UNSCALED bounds reassembled
    // at the declared (precision, scale) — recorded under a DISTINCT
    // sidecar type so plain-long consumers (range pruning, BIGINT
    // extrema) can never misread an unscaled value as a logical one.
    // Whole SELECT plans a LocalTableScan (plan spec-locked; this
    // gate pins the VALUES at SF scale). The money-column dashboard
    // at metadata cost.
    "h55_sql_decimal_extrema" -> ((s, d) => {
      val dir = sqlDecExtremaLake(s, d)
      s.sql(s"""SELECT CAST(MIN(amount) AS DOUBLE) AS mn_a,
                       CAST(MAX(amount) AS DOUBLE) AS mx_a,
                       COUNT(*) AS n_rows
                FROM lake.`$dir`""")
    }),

    // METADATA-ONLY DROP COLUMN (projection + permanent name
    // tombstone): era 1 holds the column physically, a SQL ALTER drops
    // it (zero files rewritten), era 2 inserts WITHOUT it, and the
    // read never shows it again — while the tombstone keeps the name
    // from ever resurrecting old files' stale values (refusals
    // spec-locked in LakeDdlSpec; this gate pins the VALUES at SF
    // scale). A dropped column leaking back, or a lost row in either
    // era, fails the hash.
    "h54_sql_drop_column" -> ((s, d) => {
      val dir = sqlDropColLake(s, d)
      s.sql(s"""SELECT doc_id, lang, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // CORRELATED-SUBQUERY DELETE: `WHERE EXISTS (SELECT … WHERE f.k =
    // t.k AND <f-only>) AND <target cond>` decorrelates onto ONE
    // distributed key-frame semi-join riding deletion vectors (the
    // frame never passes through the driver — unlike the capped
    // uncorrelated-IN materialization), and `WHERE NOT EXISTS (…)`
    // onto the anti-join — the two highest-frequency DML shapes that
    // previously refused. A mis-joined key, a leaked residual
    // conjunct, or an anti/semi mixup fails the hash.
    "h56_sql_delete_exists" -> ((s, d) => {
      val dir = sqlDelExistsLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // CORRELATED-IN UPDATE: `WHERE t.lang IN (SELECT p.lang FROM p
    // WHERE p.doc_id = t.doc_id)` is exactly the (doc_id, lang)
    // pair-frame semi-join — one copy-on-write pass over only the
    // files holding matches (History.updateMatched). The pair table
    // here derives each row's expectation from the NEXT document
    // (doc_id-1 shift), so a self-trivial translation cannot pass.
    "h57_sql_update_corr_in" -> ((s, d) => {
      val dir = sqlUpdCorrInLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // MERGE `WHEN NOT MATCHED BY SOURCE THEN UPDATE` (the fourth
    // standard arm — full-sync MARKING instead of deletion): ordered
    // by-source arms, first-match-wins, target-side conditions and
    // values, all update arms folded into ONE copy-on-write anti-join
    // pass whose per-column CASE chain encodes arm order (two
    // sequential passes would leak the first arm's writes into the
    // second arm's condition). An arm leak, a matched row marked, or
    // an insert row caught by the sync arms fails the hash.
    "h58_sql_merge_sync_update" -> ((s, d) => {
      val dir = sqlMergeSyncUpdLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // STREAMING LAKE LOOP, SQL/Python-reachable end to end:
    // readStream.format("graft-lake") tails a source lake from its v1
    // bootstrap snapshot (inclusive startingVersion), a transform runs
    // in the micro-batch, and writeStream.format("graft-lake") lands
    // each batch in a destination lake through the ledger-keyed
    // exactly-once append (batch-tagged publish + manifest flip +
    // high-water ledger). The gate reads the DESTINATION back — a
    // dropped bootstrap row, a duplicated batch, or a transform
    // evaluated twice fails the hash.
    "h59_sql_stream_lake_loop" -> ((s, d) => {
      val dir = streamLoopLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // PARTITION-LAYOUT EVOLUTION (CALL lake.repartition_lake): a
    // lang-partitioned corpus re-grains to source-partitioning in one
    // whole-lake restatement + CAS flip (declared layout updated,
    // schema pinned so the moved column's int64 type survives dir
    // encoding, pre-change snapshots intact — spec-locked in
    // LakeProceduresSpec), then an era-2 append lands under the NEW
    // scheme and one read spans both eras. A lost row across the
    // restatement, a type drift through the partition position, or an
    // era-2 row landing mis-laid-out fails the hash.
    "h60_sql_repartition_lake" -> ((s, d) => {
      val dir = repartitionLakeDir(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // SNAPSHOT-ERA SCHEMA TIME TRAVEL: every manifest commit stamps the
    // declared-schema version current at that commit, and `VERSION AS
    // OF` resolves the declaration AS OF the pin — so after a DROP
    // COLUMN, a pre-drop pin still SHOWS the dropped column with its
    // values (history stops lying about shape; recover an accidental
    // drop via the pin or a pinned export). The gate pins the
    // pre-drop version: a read that projects to the present
    // declaration loses the `source` column and fails the schema
    // match; stale era resolution (wrong stamp) fails the hash.
    "h61_sql_schema_asof" -> ((s, d) => {
      val (dir, vPre) = sqlSchemaAsofLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars
                FROM lake.`$dir` VERSION AS OF $vPre
                WHERE doc_id >= 0""")
    }),

    // SCALAR-SUBQUERY SET: one UNCORRELATED set (a corpus-wide max
    // materialized to one literal) and one CORRELATED set (per-lang
    // max over a SUBSET — langs absent from the subset take the
    // aggregate's over-empty-group NULL, the decorrelation "count
    // bug" class the keyed value-frame must get right). A stale/
    // swapped frame value, a leaked WHERE, or a wrong empty-group
    // default fails the hash.
    "h62_sql_update_scalar_set" -> ((s, d) => {
      val dir = sqlScalarSetLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // CORRELATED NOT IN (non-null-proven): DELETE every row whose
    // n_chars appears in NO subset row of its language — exact under
    // three-valued logic because the subquery filter proves the inner
    // value non-null; rows of langs ABSENT from the subset delete too
    // (NOT IN over an empty set is TRUE). The two disjoint anti-join
    // arms (null/non-null probe) mis-composed fails the hash.
    "h63_sql_delete_not_in" -> ((s, d) => {
      val dir = sqlNotInLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // COMPOUND EXISTS conjuncts: `EXISTS(a) AND NOT EXISTS(b)` folds
    // into ONE decorrelated key frame (a's keys minus b's) and rides
    // the single semi-join DV delete. A dropped arm, a union/except
    // mixup, or residual leakage fails the hash.
    "h64_sql_delete_exists_pair" -> ((s, d) => {
      val dir = sqlExistsPairLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // UNDROP COLUMN (CALL lake.undrop_column): the explicit,
    // tombstone-releasing undo of a metadata-only drop — exact because
    // the tombstone guaranteed the name was never recycled. Era-1 rows
    // resurrect their original `source` values, rows inserted DURING
    // the dropped window read NULL (no bytes — an added column's
    // backfill), era-3 rows written after the undrop carry values
    // again. A stale tombstone, a lost value, or a mis-typed
    // redeclaration fails the hash.
    "h65_sql_undrop_column" -> ((s, d) => {
      val dir = sqlUndropLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // MIXED compound arms: `doc_id IN (subquery) AND NOT EXISTS
    // (correlated subquery)` — the IN arm keys on its probed column,
    // the NOT EXISTS on its correlation column, SAME key set, so both
    // fold into one Except frame and the delete stays a single
    // distributed semi join. A dropped arm or a set-algebra mixup
    // fails the hash.
    "h66_sql_delete_mixed_in" -> ((s, d) => {
      val dir = sqlMixedInLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    }),

    // RUNTIME non-null proof for correlated NOT IN: the inner value is
    // nullable-TYPED (a CASE with no ELSE) but null-FREE on the data —
    // the static proof fails, the pre-commit probe of the materialized
    // pair frame passes, and the two disjoint anti-join arms run
    // exactly. Over-deleting NULL-probed rows or refusing outright
    // fails the gate.
    "h67_sql_delete_not_in_runtime" -> ((s, d) => {
      val dir = sqlNotInRuntimeLake(s, d)
      s.sql(s"""SELECT doc_id, lang, source, n_chars FROM lake.`$dir`
                WHERE doc_id >= 0""")
    })
  )

  /** h28's lake: evens land through the engine write path, a
    * constraint is declared, a violating SQL INSERT ('xx' lang) must
    * bounce WHOLE at the staged-append edge, then the odd half lands
    * via SQL INSERT. Keyed by (session, sfDir). */
  private val sqlInsertLakeCache = lakeMemo[String]()

  private def sqlInsertLake(s: SparkSession, sfDir: String): String =
    sqlInsertLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-insert").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.Constraints.add(s, dir, "known_lang",
        "lang IN ('en', 'zh', 'de', 'es', 'fr')"): Unit
      docs.filter(col("doc_id") % 2 === 1)
        .createOrReplaceTempView("h28_src")
      val rejected =
        try {
          s.sql(s"""INSERT INTO lake.`$dir`
                    SELECT doc_id + 50000000, 'xx', source, n_chars
                    FROM h28_src"""): Unit
          false
        } catch { case _: Exception => true }
      require(rejected, "constrained SQL INSERT must bounce whole")
      s.sql(s"""INSERT INTO lake.`$dir`
                SELECT doc_id, lang, source, n_chars FROM h28_src"""): Unit
      dir
    }

  /** h34's lake: the corpus lands through the engine write path, then
    * two SQL DELETE statements take rows down — the first resolves the
    * DV-free lake (stock bridge table route), the second resolves the
    * now-DV-bearing lake (pinned-table route). Both land as deletion
    * vectors (`DeletionVectorSpec`/`LakeCatalogSpec` assert the
    * no-rewrite property; this gate asserts the ROW SET at SF scale).
    * Keyed by (session, sfDir). */
  private val sqlDeleteLakeCache = lakeMemo[String]()

  private def sqlDeleteLake(s: SparkSession, sfDir: String): String =
    sqlDeleteLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-delete").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(8) // round-robin: every file spans the id range
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      s.sql(s"DELETE FROM lake.`$dir` WHERE doc_id IN (7, 99, 1234)"): Unit
      s.sql(s"""DELETE FROM lake.`$dir`
                WHERE lang = 'en' AND doc_id <= 500"""): Unit
      dir
    }

  /** h35's lake: corpus through the engine write path, then UPDATE →
    * DV DELETE → UPDATE through SQL — the first update resolves the
    * DV-free stock bridge table, the second the DV-bearing pinned
    * table, and the second's condition is deliberately
    * filter-inexpressible (modulo) to pin the by-name expression
    * re-anchoring. Keyed by (session, sfDir). */
  private val sqlUpdateLakeCache = lakeMemo[String]()

  private def sqlUpdateLake(s: SparkSession, sfDir: String): String =
    sqlUpdateLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-update").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(8) // round-robin: every file spans the id range
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      s.sql(s"""UPDATE lake.`$dir` SET n_chars = n_chars * 2
                WHERE lang = 'en' AND doc_id < 300"""): Unit
      s.sql(s"DELETE FROM lake.`$dir` WHERE doc_id IN (11, 22)"): Unit
      s.sql(s"""UPDATE lake.`$dir` SET source = concat('r:', source)
                WHERE doc_id % 13 = 4"""): Unit
      dir
    }

  /** h36's lake: corpus through the engine write path, then one SQL
    * MERGE whose source mixes corrections (existing keys, new images)
    * with inserts (offset keys) — derived from the same documents
    * table so the DuckDB oracle can rebuild the exact image. */
  private val sqlMergeLakeCache = lakeMemo[String]()

  private def sqlMergeLake(s: SparkSession, sfDir: String): String =
    sqlMergeLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-merge").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      docs.filter(col("doc_id") % 7 === 3)
        .withColumn("source", lit("merged"))
        .withColumn("n_chars", col("n_chars") + 1000L)
        .unionByName(docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("source", lit("new")))
        .createOrReplaceTempView("h36_merge_src")
      s.sql(s"""MERGE INTO lake.`$dir` t USING h36_merge_src s
                ON t.doc_id = s.doc_id
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *"""): Unit
      dir
    }

  /** h37's lake: documents PARTITIONED BY lang through the engine
    * write path, then one SQL UPDATE that moves a whole language plus
    * a modular id-slice into a fresh partition value. Keyed by
    * (session, sfDir). */
  private val sqlMoveLakeCache = lakeMemo[String]()

  private def sqlMoveLake(s: SparkSession, sfDir: String): String =
    sqlMoveLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-move").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(col("lang"))
        .write.partitionBy("lang").parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      s.sql(s"""UPDATE lake.`$dir` SET lang = 'yy'
                WHERE lang = 'fr' OR doc_id % 31 = 7"""): Unit
      dir
    }

  /** h39's lake: the full corpus lands through the engine write path,
    * then one SQL INSERT OVERWRITE restates it to the filtered,
    * transformed image in one atomic flip. */
  private val sqlOverwriteLakeCache = lakeMemo[String]()

  private def sqlOverwriteLake(s: SparkSession, sfDir: String): String =
    sqlOverwriteLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-ovw").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(8)
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      s.sql(s"""INSERT OVERWRITE lake.`$dir`
                SELECT doc_id, lang, source, n_chars * 2 AS n_chars
                FROM parquet.`$sfDir/documents.parquet`
                WHERE lang = 'en'"""): Unit
      dir
    }

  /** h40's lake: documents PARTITIONED BY lang through the engine
    * write path, then one SQL static-partition INSERT OVERWRITE
    * restates lang=en to its filtered, transformed image — every
    * other partition untouched. */
  private val sqlPartOvwLakeCache = lakeMemo[String]()

  private def sqlPartOvwLake(s: SparkSession, sfDir: String): String =
    sqlPartOvwLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-povw").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(col("lang"))
        .write.partitionBy("lang").parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      // table column order: data cols then the partition col, so the
      // static-partition SELECT provides (doc_id, source, n_chars)
      s.sql(s"""INSERT OVERWRITE lake.`$dir` PARTITION (lang = 'en')
                SELECT doc_id, source, n_chars * 3 AS n_chars
                FROM parquet.`$sfDir/documents.parquet`
                WHERE lang = 'en' AND doc_id % 2 = 0"""): Unit
      dir
    }

  /** h51's lake: documents PARTITIONED BY lang through the engine
    * write path, then one DYNAMIC-mode SQL INSERT OVERWRITE whose
    * query produces rows for en and zh only — exactly those two
    * partitions restate, the rest survive untouched. */
  private val sqlDynOvwLakeCache = lakeMemo[String]()

  private def sqlDynOvwLake(s: SparkSession, sfDir: String): String =
    sqlDynOvwLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-dynovw").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
        .repartition(col("lang"))
        .write.partitionBy("lang").parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try
        s.sql(s"""INSERT OVERWRITE lake.`$dir`
                  SELECT doc_id, source, n_chars * 5 AS n_chars, lang
                  FROM parquet.`$sfDir/documents.parquet`
                  WHERE lang IN ('en', 'zh') AND doc_id % 3 = 0"""): Unit
      finally prev match {
        case Some(v) =>
          s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None =>
          s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      dir
    }

  /** h52's lake: corpus through the engine write path (physical
    * column `source`), declared, then SQL RENAME COLUMN source→origin
    * (metadata-only), an era-2 INSERT under the new name, and a DV
    * DELETE filtering on the renamed column. */
  private val sqlRenameLakeCache = lakeMemo[String]()

  private def sqlRenameLake(s: SparkSession, sfDir: String): String =
    sqlRenameLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-rename").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(8)
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.SchemaLog.declare(s, dir): Unit
      s.sql(s"ALTER TABLE lake.`$dir` RENAME COLUMN source TO origin"): Unit
      s.sql(s"""INSERT INTO lake.`$dir`
                SELECT doc_id + 70000000, lang, 'era2' AS origin, n_chars
                FROM parquet.`$sfDir/documents.parquet`
                WHERE doc_id < 45"""): Unit
      s.sql(s"""DELETE FROM lake.`$dir`
                WHERE origin = 'era2' AND doc_id % 2 = 0"""): Unit
      dir
    }

  /** h41's lake: corpus through the engine write path, then one SQL
    * `MERGE … WHEN MATCHED THEN DELETE` applies a key feed mixing
    * existing keys (doc_id % 9 = 2) with absent ones (offset block). */
  private val sqlMergeDelLakeCache = lakeMemo[String]()

  private def sqlMergeDelLake(s: SparkSession, sfDir: String): String =
    sqlMergeDelLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-mgdel").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      docs.filter(col("doc_id") % 9 === 2).select(col("doc_id"))
        .unionByName(docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 50000000L).as("doc_id")))
        .createOrReplaceTempView("h41_del_src")
      s.sql(s"""MERGE INTO lake.`$dir` t USING h41_del_src s
                ON t.doc_id = s.doc_id
                WHEN MATCHED THEN DELETE"""): Unit
      dir
    }

  /** h42's lake: corpus through the engine write path, then ONE SQL
    * MERGE replays a four-arm CDC batch (matched deletes, matched
    * updates, unmatched inserts, unmatched tombstones) — all derived
    * from the documents table so the DuckDB oracle rebuilds the exact
    * image. */
  private val sqlMergeCdcLakeCache = lakeMemo[String]()

  private def sqlMergeCdcLake(s: SparkSession, sfDir: String): String =
    sqlMergeCdcLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-mgcdc").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      // arms are key-disjoint by construction (modular classes and
      // offset blocks), as standard MERGE requires
      docs.filter(col("doc_id") % 7 === 0)
        .withColumn("op", lit("D"))
        .unionByName(docs.filter(col("doc_id") % 7 === 3)
          .withColumn("source", lit("cdc"))
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("op", lit("U")))
        .unionByName(docs.filter(col("doc_id") < 40)
          .withColumn("doc_id", col("doc_id") + 20000000L)
          .withColumn("source", lit("new"))
          .withColumn("op", lit("I")))
        .unionByName(docs
          .filter(col("doc_id") >= 40 && col("doc_id") < 60)
          .withColumn("doc_id", col("doc_id") + 30000000L)
          .withColumn("op", lit("D")))
        .createOrReplaceTempView("h42_cdc_src")
      s.sql(s"""MERGE INTO lake.`$dir` t USING h42_cdc_src s
                ON t.doc_id = s.doc_id
                WHEN MATCHED AND s.op = 'D' THEN DELETE
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED AND s.op != 'D' THEN INSERT *"""): Unit
      dir
    }

  /** h50's lake: corpus through the engine write path, then ONE SQL
    * MERGE replays a column-subset CDC batch — op='N' rows reset only
    * n_chars (expression value), op='S' rows reset only source
    * (expression value), an offset block inserts through a partial
    * column list (lang unassigned → NULL). Arms are key-disjoint
    * (modular classes), feeds derived from documents so the DuckDB
    * oracle rebuilds the exact image. */
  private val sqlMergePartialLakeCache = lakeMemo[String]()

  private def sqlMergePartialLake(s: SparkSession, sfDir: String): String =
    sqlMergePartialLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-mgpart").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      // the feed's columns deliberately do NOT mirror the target
      // image (n2/src2/op) — partial SET lists take expressions over
      // whatever the feed carries
      docs.filter(col("doc_id") % 11 === 5)
        .select(col("doc_id"), (col("n_chars") * 2).as("n2"),
          col("source").as("src2"), lit("N").as("op"))
        .unionByName(docs.filter(col("doc_id") % 11 === 7)
          .select(col("doc_id"), col("n_chars").as("n2"),
            col("source").as("src2"), lit("S").as("op")))
        .unionByName(docs.filter(col("doc_id") < 35)
          .select((col("doc_id") + 60000000L).as("doc_id"),
            col("n_chars").as("n2"), col("source").as("src2"),
            lit("N").as("op")))
        .createOrReplaceTempView("h50_cdc_src")
      s.sql(s"""MERGE INTO lake.`$dir` t USING h50_cdc_src s
                ON t.doc_id = s.doc_id
                WHEN MATCHED AND s.op = 'N'
                  THEN UPDATE SET n_chars = s.n2 + 5
                WHEN MATCHED AND s.op = 'S'
                  THEN UPDATE SET source = concat('p:', s.src2)
                WHEN NOT MATCHED THEN INSERT (doc_id, source, n_chars)
                  VALUES (s.doc_id, 'ins', s.n2)"""): Unit
      dir
    }

  /** h43's lake: built with ZERO Scala — CTAS (partitioned, CHECK
    * constraint via TBLPROPERTIES) over the evens with a transform,
    * then a plain INSERT lands the odds. */
  private val sqlDdlLakeCache = lakeMemo[String]()

  private def sqlDdlLake(s: SparkSession, sfDir: String): String =
    sqlDdlLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-ddl").toString + "/lake"
      s.sql(s"""CREATE TABLE lake.`$dir` USING parquet
                PARTITIONED BY (lang)
                TBLPROPERTIES (
                  'graft.constraint.chars_pos' = 'n_chars >= 0')
                AS SELECT doc_id, source, n_chars + 7 AS n_chars, lang
                FROM parquet.`$sfDir/documents.parquet`
                WHERE doc_id % 2 = 0"""): Unit
      s.sql(s"""INSERT INTO lake.`$dir`
                SELECT doc_id, source, n_chars, lang
                FROM parquet.`$sfDir/documents.parquet`
                WHERE doc_id % 2 = 1"""): Unit
      dir
    }

  /** h44's lake: corpus through the engine write path, then one
    * IN-subquery DELETE (quality-flagged short docs) and one
    * IN-subquery UPDATE (zh docs' source prefixed) — both
    * materialized to keyed routes. */
  private val sqlInSubqueryLakeCache = lakeMemo[String]()

  private def sqlInSubqueryLake(s: SparkSession, sfDir: String): String =
    sqlInSubqueryLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-insub").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
        .repartition(8)
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      s.sql(s"""DELETE FROM lake.`$dir`
                WHERE doc_id IN (
                  SELECT doc_id
                  FROM parquet.`$sfDir/documents.parquet`
                  WHERE n_chars < 120)"""): Unit
      s.sql(s"""UPDATE lake.`$dir`
                SET source = concat('q:', source)
                WHERE doc_id IN (
                  SELECT doc_id
                  FROM parquet.`$sfDir/documents.parquet`
                  WHERE lang = 'zh')"""): Unit
      dir
    }

  /** h45's lake: documents with a derived DATE column, stats
    * refreshed for the date and string columns plus row counts — the
    * typed metadata-extrema serve state. */
  private val sqlMetaExtremaLakeCache = lakeMemo[String]()

  private def sqlMetaExtremaLake(s: SparkSession, sfDir: String): String =
    sqlMetaExtremaLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-extrema").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("source"),
          date_add(lit("2020-01-01").cast("date"),
            (col("doc_id") % 365).cast("int")).as("dt"))
        .repartition(4)
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.refreshStats(s, dir, "dt"): Unit
      graft.sources.History.refreshStats(s, dir, "source"): Unit
      graft.sources.History.refreshRowCounts(s, dir): Unit
      dir
    }

  /** h53's lake: a DOUBLE score column (strictly positive, exact
    * binary fractions so Spark and DuckDB agree bit-for-bit) with
    * refreshed footer stats — the DOUBLE metadata-extrema surface. */
  private val sqlDblExtremaLakeCache = lakeMemo[String]()

  private def sqlDblExtremaLake(s: SparkSession, sfDir: String): String =
    sqlDblExtremaLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-dblext").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"),
          (lit(1000.25) + col("doc_id") * lit(0.5)).as("score"))
        .repartition(4)
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.refreshStats(s, dir, "score"): Unit
      graft.sources.History.refreshRowCounts(s, dir): Unit
      dir
    }

  /** h55's lake: an INT64-backed DECIMAL(12,2) amount column (exact
    * quarter offsets, so Spark and DuckDB agree bit-for-bit through
    * the DOUBLE bridge) with refreshed footer stats. */
  private val sqlDecExtremaLakeCache = lakeMemo[String]()

  private def sqlDecExtremaLake(s: SparkSession, sfDir: String): String =
    sqlDecExtremaLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-decext").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"),
          (col("doc_id").cast("decimal(12,2)") + lit(0.25))
            .cast("decimal(12,2)").as("amount"))
        .repartition(4)
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.refreshStats(s, dir, "amount"): Unit
      graft.sources.History.refreshRowCounts(s, dir): Unit
      dir
    }

  /** h54's lake: corpus with `source` physically present, declared,
    * then SQL DROP COLUMN source (metadata-only tombstoned drop) and
    * an era-2 INSERT without the column. */
  private val sqlDropColLakeCache = lakeMemo[String]()

  private def sqlDropColLake(s: SparkSession, sfDir: String): String =
    sqlDropColLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-dropcol").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(8)
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.SchemaLog.declare(s, dir): Unit
      s.sql(s"ALTER TABLE lake.`$dir` DROP COLUMN source"): Unit
      s.sql(s"""INSERT INTO lake.`$dir`
                SELECT doc_id + 80000000, lang, n_chars
                FROM parquet.`$sfDir/documents.parquet`
                WHERE doc_id < 25"""): Unit
      dir
    }

  /** h61's lake: corpus with `source` declared, an era-1 INSERT
    * committed UNDER that declaration (the pre-drop manifest the gate
    * pins — its schema stamp is what era resolution reads), then SQL
    * DROP COLUMN source and an era-2 INSERT without it. Returns
    * (dir, pre-drop manifest version). */
  private val sqlSchemaAsofLakeCache =
    new SessionMemo[String, (String, Long)](perIteration = false)(
      (_, _, lake) => rmLake(lake._1))

  private def sqlSchemaAsofLake(s: SparkSession,
                                sfDir: String): (String, Long) =
    sqlSchemaAsofLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-asof").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
        .repartition(8)
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.SchemaLog.declare(s, dir): Unit
      s.sql(s"""INSERT INTO lake.`$dir`
                SELECT doc_id + 83000000, lang, source, n_chars
                FROM parquet.`$sfDir/documents.parquet`
                WHERE doc_id < 20"""): Unit
      val vPre = graft.sources.History.versions(s, dir).last
      s.sql(s"ALTER TABLE lake.`$dir` DROP COLUMN source"): Unit
      s.sql(s"""INSERT INTO lake.`$dir`
                SELECT doc_id + 84000000, lang, n_chars
                FROM parquet.`$sfDir/documents.parquet`
                WHERE doc_id < 10"""): Unit
      (dir, vPre)
    }

  /** h46's lake: corpus through the engine write path, then one
    * full-sync SQL MERGE (upsert pair + NOT MATCHED BY SOURCE DELETE)
    * whose source is a transformed corpus subset — the lake must end
    * exactly as the source image. */
  private val sqlMergeSyncLakeCache = lakeMemo[String]()

  private def sqlMergeSyncLake(s: SparkSession, sfDir: String): String =
    sqlMergeSyncLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-sync").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      docs.filter(col("doc_id") % 3 === 0)
        .withColumn("n_chars", col("n_chars") + 50L)
        .unionByName(docs.filter(col("doc_id") < 25)
          .withColumn("doc_id", col("doc_id") + 40000000L)
          .withColumn("source", lit("sync")))
        .createOrReplaceTempView("h46_sync_src")
      s.sql(s"""MERGE INTO lake.`$dir` t USING h46_sync_src s
                ON t.doc_id = s.doc_id
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *
                WHEN NOT MATCHED BY SOURCE THEN DELETE"""): Unit
      dir
    }

  /** h56's lake: corpus through the engine write path, then one
    * correlated-EXISTS SQL DELETE (decorrelated onto the keyed-frame
    * DV route, with a subquery-side conjunct AND a residual
    * target-side conjunct) followed by one NOT EXISTS DELETE (the
    * anti-join). */
  private val sqlDelExistsLakeCache = lakeMemo[String]()

  private def sqlDelExistsLake(s: SparkSession, sfDir: String): String =
    sqlDelExistsLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-dexists").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("n_chars") % 5).as("sev"))
        .createOrReplaceTempView("h56_flags")
      s.sql(s"""DELETE FROM lake.`$dir` t
                WHERE EXISTS (SELECT 1 FROM h56_flags f
                              WHERE f.doc_id = t.doc_id AND f.sev >= 2)
                  AND t.n_chars >= 100""")
      docs.filter(col("doc_id") % 11 =!= 7).select(col("doc_id"))
        .createOrReplaceTempView("h56_keep")
      s.sql(s"""DELETE FROM lake.`$dir` t
                WHERE NOT EXISTS (SELECT 1 FROM h56_keep k
                                  WHERE k.doc_id = t.doc_id)""")
      dir
    }

  /** h62's lake: corpus, then one UNCORRELATED scalar-subquery SET
    * (corpus-subset max as one literal) and one CORRELATED
    * scalar-subquery SET (per-lang max over a subset that EXCLUDES
    * 'de' — de rows probe an empty group and take the aggregate's
    * NULL). */
  private val sqlScalarSetLakeCache = lakeMemo[String]()

  private def sqlScalarSetLake(s: SparkSession, sfDir: String): String =
    sqlScalarSetLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-scalarset").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      docs.filter(col("doc_id") % 4 === 0)
        .createOrReplaceTempView("h62_sub_all")
      docs.filter(col("doc_id") % 4 === 0 && col("lang") =!= "de")
        .createOrReplaceTempView("h62_sub_lang")
      s.sql(s"""UPDATE lake.`$dir` t
                SET n_chars = (SELECT MAX(n_chars) FROM h62_sub_all)
                WHERE t.doc_id % 9 = 2"""): Unit
      s.sql(s"""UPDATE lake.`$dir` t
                SET n_chars = (SELECT MAX(o.n_chars + 5)
                               FROM h62_sub_lang o
                               WHERE o.lang = t.lang)
                WHERE t.doc_id % 9 = 5"""): Unit
      dir
    }

  /** h63's lake: corpus, then one correlated NOT IN DELETE — the
    * subquery's own IS NOT NULL filter is the non-null proof the
    * translation requires; 'de' is excluded from the subset so its
    * rows exercise the empty-group (NOT IN = TRUE) arm. */
  private val sqlNotInLakeCache = lakeMemo[String]()

  private def sqlNotInLake(s: SparkSession, sfDir: String): String =
    sqlNotInLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-notin").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      docs.filter(col("doc_id") % 3 === 0 && col("lang") =!= "de")
        .createOrReplaceTempView("h63_sub")
      s.sql(s"""DELETE FROM lake.`$dir` t
                WHERE t.n_chars NOT IN (SELECT o.n_chars FROM h63_sub o
                                        WHERE o.lang = t.lang
                                          AND o.n_chars IS NOT NULL)
                  AND t.doc_id % 2 = 0"""): Unit
      dir
    }

  /** h64's lake: corpus, then one compound-conjunct DELETE —
    * `EXISTS(a) AND NOT EXISTS(b)` folded into one decorrelated key
    * frame (a's keys minus b's). */
  private val sqlExistsPairLakeCache = lakeMemo[String]()

  private def sqlExistsPairLake(s: SparkSession, sfDir: String): String =
    sqlExistsPairLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-exipair").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      docs.filter(col("doc_id") % 2 === 0)
        .createOrReplaceTempView("h64_a")
      docs.filter(col("doc_id") % 5 === 0)
        .createOrReplaceTempView("h64_b")
      s.sql(s"""DELETE FROM lake.`$dir` t
                WHERE EXISTS (SELECT 1 FROM h64_a a
                              WHERE a.doc_id = t.doc_id
                                AND a.n_chars >= 100)
                  AND NOT EXISTS (SELECT 1 FROM h64_b b
                                  WHERE b.doc_id = t.doc_id
                                    AND b.lang = 'en')"""): Unit
      dir
    }

  /** h66's lake: corpus, then one MIXED-ARM compound DELETE —
    * `doc_id IN (a) AND NOT EXISTS (b correlated on doc_id)`, both
    * arms keyed on doc_id, folded into one Except frame. */
  private val sqlMixedInLakeCache = lakeMemo[String]()

  private def sqlMixedInLake(s: SparkSession, sfDir: String): String =
    sqlMixedInLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-mixin").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      docs.filter(col("n_chars") >= 120)
        .createOrReplaceTempView("h66_a")
      docs.filter(col("lang") === "en")
        .createOrReplaceTempView("h66_b")
      s.sql(s"""DELETE FROM lake.`$dir` t
                WHERE t.doc_id IN (SELECT a.doc_id FROM h66_a a)
                  AND NOT EXISTS (SELECT 1 FROM h66_b b
                                  WHERE b.doc_id = t.doc_id)"""): Unit
      dir
    }

  /** h67's lake: corpus, then one correlated NOT IN DELETE whose inner
    * value is nullable-TYPED (CASE with no ELSE) but null-FREE — the
    * static proof fails, the runtime pre-commit probe passes. */
  private val sqlNotInRuntimeLakeCache = lakeMemo[String]()

  private def sqlNotInRuntimeLake(s: SparkSession, sfDir: String): String =
    sqlNotInRuntimeLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-notinrt").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      docs.filter(col("doc_id") % 3 === 0 && col("lang") =!= "de")
        .select(col("lang"),
          when(col("n_chars") >= -1, col("n_chars")).as("w"))
        .createOrReplaceTempView("h67_sub")
      s.sql(s"""DELETE FROM lake.`$dir` t
                WHERE t.n_chars NOT IN (SELECT o.w FROM h67_sub o
                                        WHERE o.lang = t.lang)
                  AND t.doc_id % 2 = 1"""): Unit
      dir
    }

  /** h65's lake: corpus with `source` declared, SQL DROP COLUMN
    * source, an era-2 INSERT without it, CALL lake.undrop_column, and
    * an era-3 INSERT with it again. */
  private val sqlUndropLakeCache = lakeMemo[String]()

  private def sqlUndropLake(s: SparkSession, sfDir: String): String =
    sqlUndropLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-undrop").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
        .repartition(8)
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.SchemaLog.declare(s, dir): Unit
      s.sql(s"ALTER TABLE lake.`$dir` DROP COLUMN source"): Unit
      s.sql(s"""INSERT INTO lake.`$dir`
                SELECT doc_id + 86000000, lang, n_chars
                FROM parquet.`$sfDir/documents.parquet`
                WHERE doc_id < 15"""): Unit
      s.sql(s"CALL lake.undrop_column('$dir', 'source')").collect(): Unit
      // the undropped field re-declares at the END (ADD COLUMN
      // position semantics) — the positional INSERT follows it
      s.sql(s"""INSERT INTO lake.`$dir`
                SELECT doc_id + 87000000, lang, n_chars, source
                FROM parquet.`$sfDir/documents.parquet`
                WHERE doc_id < 10"""): Unit
      dir
    }

  /** h57's lake: corpus, then one correlated-IN SQL UPDATE whose pair
    * table carries each row's expected lang from the NEXT document
    * (doc_id − 1 shift) — matched rows get +10000 n_chars. */
  private val sqlUpdCorrInLakeCache = lakeMemo[String]()

  private def sqlUpdCorrInLake(s: SparkSession, sfDir: String): String =
    sqlUpdCorrInLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-ucorr").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") - 1L).as("doc_id"), col("lang"))
        .createOrReplaceTempView("h57_pairs")
      s.sql(s"""UPDATE lake.`$dir` t SET n_chars = n_chars + 10000
                WHERE t.lang IN (SELECT p.lang FROM h57_pairs p
                                 WHERE p.doc_id = t.doc_id)""")
      dir
    }

  /** h58's lake: corpus, then one full-sync MERGE whose by-source arms
    * UPDATE instead of delete — odd-n_chars unmatched rows mark
    * source='stale', the rest zero their n_chars (ordered arms,
    * first-match-wins); matched rows take a +50 update, new keys
    * insert. */
  private val sqlMergeSyncUpdLakeCache = lakeMemo[String]()

  private def sqlMergeSyncUpdLake(s: SparkSession, sfDir: String): String =
    sqlMergeSyncUpdLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-syncupd").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartition(8).write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      docs.filter(col("doc_id") % 3 === 0)
        .withColumn("n_chars", col("n_chars") + 50L)
        .unionByName(docs.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + 90000000L)
          .withColumn("source", lit("new")))
        .createOrReplaceTempView("h58_sync_src")
      s.sql(s"""MERGE INTO lake.`$dir` t USING h58_sync_src s
                ON t.doc_id = s.doc_id
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *
                WHEN NOT MATCHED BY SOURCE AND t.n_chars % 2 = 1
                  THEN UPDATE SET source = 'stale'
                WHEN NOT MATCHED BY SOURCE
                  THEN UPDATE SET n_chars = 0"""): Unit
      dir
    }

  /** h60's lake: corpus partitioned by lang, re-grained to source via
    * CALL repartition_lake, then an era-2 slice appended under the new
    * scheme. */
  private val repartitionLakeDirCache = lakeMemo[String]()

  private def repartitionLakeDir(s: SparkSession, sfDir: String): String =
    repartitionLakeDirCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-regrain").toString + "/lake"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("n_chars"), col("lang"),
          col("source"))
      docs.repartition(col("lang"))
        .write.partitionBy("lang").parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      s.sql(s"CALL lake.repartition_lake('$dir', 'source')"): Unit
      graft.sources.History.append(s, dir,
        docs.filter(col("doc_id") < 35)
          .withColumn("doc_id", col("doc_id") + 95000000L),
        key = "h60-era2"): Unit
      dir
    }

  /** h59's DESTINATION lake: source lake built from the corpus, then
    * one AvailableNow readStream("graft-lake") → transform →
    * writeStream("graft-lake") run lands the v1 bootstrap snapshot
    * (plus a follow-up append committed before the run) exactly once
    * in a CREATE TABLE'd destination. */
  private val streamLoopLakeCache = lakeMemo[String]()

  private def streamLoopLake(s: SparkSession, sfDir: String): String =
    streamLoopLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-sql-sloop").toString
      val src = s"$tmp/src"
      val dst = s"$tmp/dst"
      val docs = graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0).repartition(8)
        .write.parquet(src)
      graft.sources.History.enableManifests(s, src): Unit
      // a second source commit before the stream runs: the one
      // AvailableNow window must carry bootstrap + follow-up
      graft.sources.History.append(s, src,
        docs.filter(col("doc_id") % 2 === 1), key = "h59-odds"): Unit
      s.sql(s"""CREATE TABLE lake.`$dst`
                (doc_id BIGINT, lang STRING, source STRING,
                 n_chars BIGINT) USING parquet"""): Unit
      val writer = s.readStream.format("graft-lake")
        .option("startingVersion", "1").load(src)
        .filter(col("_change") === "insert")
        .withColumn("n_chars", col("n_chars") + 7L)
        .select("doc_id", "lang", "source", "n_chars")
        .writeStream.format("graft-lake")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      graft.stream.LocalCheckpointFileManager.start(s)(writer.start(dst))
        .awaitTermination(120000L): Unit
      dst
    }

  /** h47's lake: SQL-only CTAS (evens) → ALTER TABLE ADD COLUMNS
    * (quality DOUBLE, metadata-only) → INSERT (odds with values). */
  private val sqlAlterLakeCache = lakeMemo[String]()

  private def sqlAlterLake(s: SparkSession, sfDir: String): String =
    sqlAlterLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-alter").toString + "/lake"
      s.sql(s"""CREATE TABLE lake.`$dir` USING parquet
                AS SELECT doc_id, lang, n_chars
                FROM parquet.`$sfDir/documents.parquet`
                WHERE doc_id % 2 = 0"""): Unit
      s.sql(s"ALTER TABLE lake.`$dir` ADD COLUMNS (quality DOUBLE)"): Unit
      s.sql(s"""INSERT INTO lake.`$dir`
                SELECT doc_id, lang, n_chars,
                       CAST(n_chars AS DOUBLE) / 100.0 AS quality
                FROM parquet.`$sfDir/documents.parquet`
                WHERE doc_id % 2 = 1"""): Unit
      dir
    }

  /** h48's lake: lang-partitioned corpus with fresh row counts — the
    * partition-column-extrema serve state. */
  private val sqlPartExtremaLakeCache = lakeMemo[String]()

  private def sqlPartExtremaLake(s: SparkSession, sfDir: String): String =
    sqlPartExtremaLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-pext").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
        .repartition(col("lang"))
        .write.partitionBy("lang").parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.refreshRowCounts(s, dir): Unit
      dir
    }

  /** h49's lake: documents with a derived NULLABLE column, stats (and
    * their piggybacked null counts) refreshed — the COUNT(col) serve
    * state. */
  private val sqlCountColLakeCache = lakeMemo[String]()

  private def sqlCountColLake(s: SparkSession, sfDir: String): String =
    sqlCountColLakeCache(s, sfDir) {
      s.conf.set("spark.sql.catalog.lake",
        classOf[graft.sources.LakeCatalog].getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sql-cntcol").toString + "/lake"
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, lit(null))
            .otherwise(col("lang")).as("lang_opt"))
        .repartition(4)
        .write.parquet(dir)
      graft.sources.History.enableManifests(s, dir): Unit
      graft.sources.History.refreshRowCounts(s, dir): Unit
      graft.sources.History.refreshStats(s, dir, "lang_opt"): Unit
      graft.sources.History.refreshStats(s, dir, "doc_id"): Unit
      dir
    }

  private val rollupCache = lakeMemo[String]()

  private val exportCache = lakeMemo[String]()

  def oracleSql: Map[String, String] = Map(
    "h01_monitor_from" ->
      """SELECT * FROM (VALUES
           ('StrategicMonitor', 'SM-2', '2019-10-21T09:30:00.000+11:00', 'SYD', '52'),
           ('Motorway',         'MW-2', '2019-10-20T16:45:00.000+11:00', 'SYD', '95'),
           ('SiteAlarm',        'SA-2', '2019-10-22T03:10:00.000+11:00', 'ROZ', 'HIGH')
         ) AS t(doc_type, id, date, reg, value)""",
    "h05_monitor_within" ->
      """SELECT * FROM (VALUES
           ('Motorway', 'MW-2', '2019-10-20T16:45:00.000+11:00', 'SYD', '95'),
           ('StrategicMonitor', 'SM-2', '2019-10-21T09:30:00.000+11:00', 'SYD', '52')
         ) AS t(doc_type, id, date, reg, value)""",
    "h02_tirf_open_closed" ->
      """SELECT * FROM (VALUES
           ('T-1', 'OPEN',   '2087', '2019-10-18T07:00:00.000+11:00', CAST(NULL AS VARCHAR), 'open'),
           ('T-2', 'OPEN',   '8',    '2019-10-21T10:00:00.000+11:00', CAST(NULL AS VARCHAR), 'open'),
           ('T-4', 'CLOSED', '200',  '2019-10-16T07:00:00.000+11:00', '2019-10-21T11:00:00.000+11:00', 'closed_since')
         ) AS t(tirfId, status, siteId, openedDate, closedDate, qsrc)""",
    "h03_vms_current" ->
      """SELECT * FROM (VALUES
           ('V-1', 'M4 East',  'CRASH NEAR EXIT 5', '2019-10-21T07:15:00.000+11:00'),
           ('V-2', 'M1 North', '40 KM ZONE',        '2019-10-20T05:00:00.000+11:00')
         ) AS t(vmsId, location, message, updatedDate)""",
    "h04_topology_changes" ->
      """SELECT * FROM (VALUES
           ('200', 'ADD',    '2019-10-20T09:00:00.000+11:00'),
           ('8',   'REMOVE', '2019-10-21T14:00:00.000+11:00')
         ) AS t(sId, op, date)""",
    "h06_pinned_range" ->
      """SELECT * FROM (VALUES
           ('ROZ', '2087', CAST(1570081680 AS BIGINT)),
           ('SYD', '8',    CAST(1570081680 AS BIGINT))
         ) AS t(region, siteId, ts)""",
    "h07_cow_delete" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE NOT (source = 'src3' OR doc_id % 11 = 0)""",
    "h08_merge_upsert" ->
      """SELECT doc_id, lang, source,
                CASE WHEN source = 'src1' THEN n_chars + 1000
                     ELSE n_chars END AS n_chars
         FROM documents
         UNION ALL
         SELECT doc_id + 10000000, lang, source, n_chars
         FROM documents WHERE source = 'src2'""",
    "h09_clustered_range" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id BETWEEN 100 AND 299""",
    "h10_zorder_box" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id BETWEEN 100 AND 299
           AND n_chars BETWEEN 100 AND 400""",
    "h11_sharded_pruned" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE lang IN ('en', 'de')
           AND NOT (lang = 'en' AND doc_id % 7 = 0)""",
    "h12_change_feed" ->
      """SELECT doc_id, lang, source, n_chars + 1000 AS n_chars,
                'insert' AS _change
         FROM documents WHERE source = 'src1'
         UNION ALL
         SELECT doc_id + 10000000, lang, source, n_chars, 'insert'
         FROM documents WHERE source = 'src2'
         UNION ALL
         SELECT doc_id, lang, source, n_chars, 'delete'
         FROM documents WHERE source = 'src1'""",
    "h13_keyed_lookup" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id IN (3, 17, 29, 41, 404)""",
    "h14_keyed_lookup_str" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE 'doc-' || CAST(doc_id AS VARCHAR)
           IN ('doc-3', 'doc-17', 'doc-29', 'doc-41', 'doc-404',
               'doc-no-such-key')""",
    "h15_schema_evolution" ->
      """SELECT doc_id, lang, source, n_chars,
                CAST(NULL AS DOUBLE) AS quality
         FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, lang, source, n_chars,
                CAST(n_chars AS DOUBLE) / 100.0 AS quality
         FROM documents WHERE doc_id % 2 = 1""",
    "h16_tagged_snapshot" ->
      """SELECT doc_id, lang, source, n_chars FROM documents""",
    "h17_restored_lake" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE NOT (doc_id % 13 = 3)""",
    "h18_sql_catalog" ->
      """SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM documents
         WHERE lang IN ('en', 'de')
           AND NOT (source = 'src3' OR doc_id % 11 = 0)
         GROUP BY lang""",
    "h19_incremental_rollup" ->
      """WITH fin AS (
           SELECT doc_id, lang, n_chars FROM documents
           WHERE source != 'src1'
           UNION ALL
           SELECT doc_id, lang, n_chars + 1000 FROM documents
           WHERE source = 'src1'
           UNION ALL
           SELECT doc_id + 10000000, lang, n_chars FROM documents
           WHERE source = 'src2'
         )
         SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM fin GROUP BY lang""",
    "h20_dv_takedown" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE NOT (doc_id IN (3, 41, 404) OR doc_id % 17 = 5)""",
    "h21_dv_change_feed" ->
      """SELECT doc_id, lang, source, n_chars, 'delete' AS _change
         FROM documents
         WHERE doc_id IN (3, 41, 404) OR doc_id % 17 = 5""",
    "h22_binpacked" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id % 19 != 11""",
    "h23_exported_snapshot" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE NOT (doc_id IN (3, 41, 404) OR doc_id % 17 = 5)""",
    "h24_partition_backfill" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE lang != 'de'
         UNION ALL
         SELECT doc_id, lang, source, n_chars + 5000 AS n_chars
         FROM documents WHERE lang = 'de'""",
    "h25_constrained_lake" ->
      """WITH all_rows AS (
           SELECT lang, n_chars FROM documents
           UNION ALL
           SELECT lang, n_chars FROM documents WHERE doc_id % 10 = 0
         )
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM all_rows GROUP BY lang""",
    "h26_maintained_join" ->
      """WITH a AS (
           SELECT o_custkey AS custkey, o_orderkey FROM orders
           UNION ALL
           SELECT o_custkey, o_orderkey + 100000000 FROM orders
           WHERE o_custkey % 19 = 0
         ), b AS (
           SELECT c_custkey AS custkey,
             CASE WHEN c_custkey % 17 = 3 THEN c_name || '-upd'
                  ELSE c_name END AS c_name
           FROM customer WHERE c_custkey % 13 != 7
         )
         SELECT custkey, CAST(o_orderkey AS BIGINT) AS o_orderkey, c_name
         FROM a JOIN b USING (custkey)""",
    "h27_sql_dv_read" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id >= 0
           AND NOT (doc_id IN (3, 41, 404) OR doc_id % 17 = 5)""",
    "h28_sql_insert" ->
      """SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang""",
    "h29_sql_fast_count" ->
      """SELECT COUNT(*) AS n_rows FROM documents
         WHERE NOT (doc_id IN (3, 41, 404) OR doc_id % 17 = 5)""",
    "h30_sql_fast_minmax" ->
      """SELECT MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
                COUNT(*) AS n_rows
         FROM documents""",
    "h31_sql_partition_count" ->
      """WITH live AS (
           SELECT * FROM documents
           WHERE NOT (lang = 'en' AND doc_id % 7 = 0)
         )
         SELECT
           (SELECT COUNT(*) FROM live
            WHERE lang IN ('en', 'de')) AS n_en_de,
           (SELECT COUNT(*) FROM live WHERE lang != 'en') AS n_not_en,
           (SELECT MIN(doc_id) FROM live WHERE lang = 'de') AS mn_de,
           (SELECT MAX(doc_id) FROM live WHERE lang = 'de') AS mx_de""",
    "h32_sql_groupby_meta" ->
      """SELECT lang, COUNT(*) AS n_docs FROM documents
         WHERE NOT (lang = 'en' AND doc_id % 7 = 0)
         GROUP BY lang""",
    "h33_sql_change_feed" ->
      """SELECT doc_id, lang, source, n_chars, 'delete' AS _change
         FROM documents
         WHERE doc_id IN (3, 41, 404) OR doc_id % 17 = 5""",
    "h34_sql_delete" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id >= 0
           AND NOT (doc_id IN (7, 99, 1234))
           AND NOT (lang = 'en' AND doc_id <= 500)""",
    "h35_sql_update" ->
      """SELECT doc_id, lang,
           CASE WHEN doc_id % 13 = 4 THEN 'r:' || source
                ELSE source END AS source,
           CASE WHEN lang = 'en' AND doc_id < 300 THEN n_chars * 2
                ELSE n_chars END AS n_chars
         FROM documents
         WHERE doc_id >= 0 AND doc_id NOT IN (11, 22)""",
    "h37_sql_update_move" ->
      """SELECT doc_id,
           CASE WHEN lang = 'fr' OR doc_id % 31 = 7 THEN 'yy'
                ELSE lang END AS lang,
           source, n_chars
         FROM documents WHERE doc_id >= 0""",
    "h38_update_cdc" ->
      """WITH base AS (
           SELECT doc_id, lang, source,
             CASE WHEN lang = 'en' AND doc_id < 300 THEN n_chars * 2
                  ELSE n_chars END AS n_chars
           FROM documents WHERE doc_id NOT IN (11, 22)),
         ch AS (SELECT * FROM base WHERE doc_id % 13 = 4)
         SELECT doc_id, lang, source, n_chars, 'delete' AS _change
         FROM ch
         UNION ALL
         SELECT doc_id, lang, 'r:' || source AS source, n_chars,
           'insert' AS _change
         FROM ch""",
    "h39_sql_overwrite" ->
      """SELECT doc_id, lang, source, n_chars * 2 AS n_chars
         FROM documents WHERE lang = 'en' AND doc_id >= 0""",
    "h40_sql_overwrite_partition" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE lang != 'en'
         UNION ALL
         SELECT doc_id, 'en' AS lang, source, n_chars * 3 AS n_chars
         FROM documents WHERE lang = 'en' AND doc_id % 2 = 0""",
    "h41_sql_merge_delete" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id % 9 != 2""",
    "h43_sql_create_table" ->
      """SELECT doc_id, lang, source,
                CASE WHEN doc_id % 2 = 0 THEN n_chars + 7
                     ELSE n_chars END AS n_chars
         FROM documents""",
    "h44_sql_in_subquery" ->
      """SELECT doc_id, lang,
                CASE WHEN lang = 'zh' THEN concat('q:', source)
                     ELSE source END AS source,
                n_chars
         FROM documents WHERE n_chars >= 120""",
    "h45_sql_meta_extrema" ->
      """SELECT MIN(DATE '2020-01-01' + CAST(doc_id % 365 AS INT)) AS mn_dt,
                MAX(DATE '2020-01-01' + CAST(doc_id % 365 AS INT)) AS mx_dt,
                MIN(source) AS mn_src, MAX(source) AS mx_src,
                COUNT(*) AS n_rows
         FROM documents""",
    "h46_sql_merge_sync" ->
      """SELECT doc_id, lang, source, n_chars + 50 AS n_chars
         FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT doc_id + 40000000 AS doc_id, lang, 'sync' AS source,
                n_chars
         FROM documents WHERE doc_id < 25""",
    "h47_sql_alter_table" ->
      """SELECT doc_id, lang, n_chars, CAST(NULL AS DOUBLE) AS quality
         FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, lang, n_chars,
                CAST(n_chars AS DOUBLE) / 100.0 AS quality
         FROM documents WHERE doc_id % 2 = 1""",
    "h48_sql_partition_extrema" ->
      """SELECT MIN(lang) AS mn_lang, MAX(lang) AS mx_lang,
                COUNT(*) AS n_rows
         FROM documents""",
    "h49_sql_count_col" ->
      """SELECT COUNT(CASE WHEN doc_id % 7 = 0 THEN NULL
                           ELSE lang END) AS n_lang,
                COUNT(*) AS n_rows, MIN(doc_id) AS mn_id
         FROM documents""",
    "h42_sql_merge_cdc" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id % 7 != 0 AND doc_id % 7 != 3
         UNION ALL
         SELECT doc_id, lang, 'cdc' AS source, n_chars + 1000 AS n_chars
         FROM documents WHERE doc_id % 7 = 3
         UNION ALL
         SELECT doc_id + 20000000 AS doc_id, lang, 'new' AS source, n_chars
         FROM documents WHERE doc_id < 40""",
    "h55_sql_decimal_extrema" ->
      """SELECT CAST(MIN(CAST(doc_id AS DECIMAL(12,2)) + 0.25)
                  AS DOUBLE) AS mn_a,
                CAST(MAX(CAST(doc_id AS DECIMAL(12,2)) + 0.25)
                  AS DOUBLE) AS mx_a,
                COUNT(*) AS n_rows
         FROM documents""",
    "h54_sql_drop_column" ->
      """SELECT doc_id, lang, n_chars FROM documents
         UNION ALL
         SELECT doc_id + 80000000 AS doc_id, lang, n_chars
         FROM documents WHERE doc_id < 25""",
    "h61_sql_schema_asof" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         UNION ALL
         SELECT doc_id + 83000000 AS doc_id, lang, source, n_chars
         FROM documents WHERE doc_id < 20""",
    "h65_sql_undrop_column" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         UNION ALL
         SELECT doc_id + 86000000 AS doc_id, lang,
                CAST(NULL AS VARCHAR) AS source, n_chars
         FROM documents WHERE doc_id < 15
         UNION ALL
         SELECT doc_id + 87000000 AS doc_id, lang, source, n_chars
         FROM documents WHERE doc_id < 10""",
    "h62_sql_update_scalar_set" ->
      """SELECT d.doc_id, d.lang, d.source,
                CASE WHEN d.doc_id % 9 = 2 THEN
                       (SELECT MAX(n_chars) FROM documents
                        WHERE doc_id % 4 = 0)
                     WHEN d.doc_id % 9 = 5 THEN
                       (SELECT MAX(o.n_chars + 5) FROM documents o
                        WHERE o.doc_id % 4 = 0 AND o.lang <> 'de'
                          AND o.lang = d.lang)
                     ELSE d.n_chars
                END AS n_chars
         FROM documents d""",
    "h66_sql_delete_mixed_in" ->
      """SELECT doc_id, lang, source, n_chars FROM documents t
         WHERE NOT (t.doc_id IN (SELECT a.doc_id FROM documents a
                                 WHERE a.n_chars >= 120)
                    AND NOT EXISTS (SELECT 1 FROM documents b
                                    WHERE b.lang = 'en'
                                      AND b.doc_id = t.doc_id))""",
    "h67_sql_delete_not_in_runtime" ->
      """SELECT doc_id, lang, source, n_chars FROM documents t
         WHERE (t.doc_id % 2 = 1 AND t.n_chars NOT IN
                 (SELECT CASE WHEN o.n_chars >= -1 THEN o.n_chars END
                  FROM documents o
                  WHERE o.doc_id % 3 = 0 AND o.lang <> 'de'
                    AND o.lang = t.lang))
               IS NOT TRUE""",
    "h63_sql_delete_not_in" ->
      """SELECT doc_id, lang, source, n_chars FROM documents t
         WHERE (t.doc_id % 2 = 0 AND t.n_chars NOT IN
                 (SELECT o.n_chars FROM documents o
                  WHERE o.doc_id % 3 = 0 AND o.lang <> 'de'
                    AND o.lang = t.lang AND o.n_chars IS NOT NULL))
               IS NOT TRUE""",
    "h64_sql_delete_exists_pair" ->
      """SELECT doc_id, lang, source, n_chars FROM documents t
         WHERE NOT (EXISTS (SELECT 1 FROM documents a
                            WHERE a.doc_id % 2 = 0
                              AND a.doc_id = t.doc_id
                              AND a.n_chars >= 100)
                    AND NOT EXISTS (SELECT 1 FROM documents b
                                    WHERE b.doc_id % 5 = 0
                                      AND b.doc_id = t.doc_id
                                      AND b.lang = 'en'))""",
    "h59_sql_stream_lake_loop" ->
      """SELECT doc_id, lang, source, n_chars + 7 AS n_chars
         FROM documents""",
    "h60_sql_repartition_lake" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         UNION ALL
         SELECT doc_id + 95000000 AS doc_id, lang, source, n_chars
         FROM documents WHERE doc_id < 35""",
    "h56_sql_delete_exists" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE NOT (doc_id % 3 = 0 AND n_chars % 5 >= 2
                    AND n_chars >= 100)
           AND doc_id % 11 <> 7""",
    "h57_sql_update_corr_in" ->
      """SELECT d.doc_id, d.lang, d.source,
                CASE WHEN EXISTS (SELECT 1 FROM documents o
                                  WHERE o.doc_id % 5 = 0
                                    AND o.doc_id - 1 = d.doc_id
                                    AND o.lang = d.lang)
                     THEN d.n_chars + 10000 ELSE d.n_chars
                END AS n_chars
         FROM documents d""",
    "h58_sql_merge_sync_update" ->
      """SELECT doc_id, lang, source, n_chars + 50 AS n_chars
         FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT doc_id + 90000000 AS doc_id, lang, 'new' AS source,
                n_chars
         FROM documents WHERE doc_id < 30
         UNION ALL
         SELECT doc_id, lang, 'stale' AS source, n_chars
         FROM documents WHERE doc_id % 3 <> 0 AND n_chars % 2 = 1
         UNION ALL
         SELECT doc_id, lang, source, CAST(0 AS BIGINT) AS n_chars
         FROM documents WHERE doc_id % 3 <> 0 AND n_chars % 2 = 0""",
    "h53_sql_double_extrema" ->
      """SELECT MIN(1000.25 + doc_id * 0.5) AS mn_s,
                MAX(1000.25 + doc_id * 0.5) AS mx_s,
                COUNT(*) AS n_rows
         FROM documents""",
    "h52_sql_rename_column" ->
      """SELECT doc_id, lang, source AS origin, n_chars FROM documents
         UNION ALL
         SELECT doc_id + 70000000 AS doc_id, lang, 'era2' AS origin,
                n_chars
         FROM documents WHERE doc_id < 45 AND doc_id % 2 = 1""",
    "h51_sql_overwrite_dynamic" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE lang NOT IN ('en', 'zh')
         UNION ALL
         SELECT doc_id, lang, source, n_chars * 5 AS n_chars
         FROM documents
         WHERE lang IN ('en', 'zh') AND doc_id % 3 = 0""",
    "h50_sql_merge_partial" ->
      """SELECT doc_id, lang,
                CASE WHEN doc_id % 11 = 7 THEN 'p:' || source
                     ELSE source END AS source,
                CASE WHEN doc_id % 11 = 5 THEN n_chars * 2 + 5
                     ELSE n_chars END AS n_chars
         FROM documents
         UNION ALL
         SELECT doc_id + 60000000 AS doc_id, CAST(NULL AS VARCHAR) AS lang,
                'ins' AS source, n_chars
         FROM documents WHERE doc_id < 35""",
    "h36_sql_merge" ->
      """WITH src AS (
           SELECT doc_id, lang, 'merged' AS source,
                  n_chars + 1000 AS n_chars
           FROM documents WHERE doc_id % 7 = 3
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, lang, 'new' AS source,
                  n_chars
           FROM documents WHERE doc_id < 50)
         SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM src)
         UNION ALL
         SELECT doc_id, lang, source, n_chars FROM src"""
  )
}
