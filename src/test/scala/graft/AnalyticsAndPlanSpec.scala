package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.fixtures.ReferenceFixtures._
import graft.sources.History
import graft.stream.{Pipeline, WindowedAnalytics}

/** Streaming windowed analytics, partition pruning, SQL extension
  * registration, and physical-plan quality checks (pushdown / broadcast). */
class AnalyticsAndPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("§2.9: watermarked 5-min region volumes over a record stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val agg = WindowedAnalytics.regionVolumes(
      Pipeline.payloadToRecords(input.toDF()))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("region_volumes").start()
    try {
      input.addData(streamPayload)
      q.processAllAvailable()
      val rows = spark.table("region_volumes")
        .orderBy("region", "w_start")
        .collect().map(r => (r.getAs[String]("region"),
          r.getAs[Long]("total_count"), r.getAs[Long]("n_detectors")))
      // ROZ 15:40 window: 24 (doc1); ROZ 15:45: 3 (doc2); SYD 15:45: 7
      assert(rows.toSeq === Seq(("ROZ", 24L, 4L), ("ROZ", 3L, 2L),
        ("SYD", 7L, 1L)))
    } finally q.stop()
  }

  test("§2.9: watermarked stream-stream join pairs counts with recent alarms") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val counts = MemoryStream[String]
    val alarms = MemoryStream[(String, String, String, String)]
    val joined = graft.stream.StreamJoins.countsWithRecentAlarms(
      Pipeline.payloadToRecords(counts.toDF()),
      alarms.toDS().toDF("id", "date", "reg", "value"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("counts_alarms").start()
    try {
      val et = epoch1543 - 180 // the record's event time
      def iso(epoch: Long): String =
        java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME.format(
          java.time.Instant.ofEpochSecond(epoch)
            .atZone(java.time.ZoneOffset.ofHours(11)))
      counts.addData(singleSiteDoc)
      alarms.addData(
        ("SA-in", iso(et - 300), "ROZ", "HIGH"), // 5 min before → joins
        ("SA-old", iso(et - 7200), "ROZ", "LOW"), // 2 h before → outside horizon
        ("SA-other", iso(et - 300), "SYD", "LOW")) // wrong region
      q.processAllAvailable()
      val rows = spark.table("counts_alarms").collect()
      assert(rows.map(_.getAs[String]("alarm_id")).toSeq === Seq("SA-in"),
        rows.mkString(";"))
      assert(rows.head.getAs[String]("alarm_value") === "HIGH")
    } finally q.stop()
  }

  test("§2.9: left-outer stream-stream join emits alarm-free records after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val counts = MemoryStream[String]
    val alarms = MemoryStream[(String, String, String, String)]
    val joined = graft.stream.StreamJoins.countsWithRecentAlarms(
      Pipeline.payloadToRecords(counts.toDF()),
      alarms.toDS().toDF("id", "date", "reg", "value"),
      joinType = "left_outer")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("counts_alarms_outer").start()
    try {
      def docAt(date: String): String =
        singleSiteDoc.replace("2019-10-03T15:43:00+10:00", date)
      counts.addData(singleSiteDoc) // ROZ, no alarm anywhere
      alarms.addData(("SA-x", "2019-10-01T00:00:00+10:00", "SYD", "LOW"))
      q.processAllAvailable()
      // outer row can't emit yet: a matching alarm could still arrive
      assert(spark.table("counts_alarms_outer").count() === 0)
      // a count two hours later pushes BOTH watermarks past the first
      // record's horizon → the unmatched row emits with null alarm
      counts.addData(docAt("2019-10-03T17:43:00+10:00"))
      alarms.addData(("SA-y", "2019-10-03T17:40:00+10:00", "SYD", "LOW"))
      q.processAllAvailable()
      q.processAllAvailable() // one more cycle for the state-eviction batch
      val rows = spark.table("counts_alarms_outer").collect()
      assert(rows.exists(r => r.getAs[String]("alarm_id") == null &&
        r.getAs[String]("region") == "ROZ"), rows.mkString(";"))
    } finally q.stop()
  }

  test("§2.9: stream-static broadcast join enriches streaming counts with topology") {
    // The reference decorates each record from the (static at job start)
    // topology; under Structured Streaming that is a stream-static join —
    // the static side is read once and broadcast per micro-batch, no
    // state store involved. Same enrichWithTopology used by batch x05.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val sites = graft.ops.Topology.sites(graft.parse.TransisXml.parse(
      Seq(topologyDoc).toDF("fragment"),
      graft.model.Schemas.topologyResponse))
    val totals = graft.ops.DetectorCounts.siteTotals(
      Pipeline.payloadToRecords(input.toDF()))
    val enriched = graft.ops.DetectorCounts.enrichWithTopology(totals, sites)
    val q = enriched.writeStream.outputMode("complete")
      .format("memory").queryName("stream_enriched").start()
    try {
      input.addData(streamPayload)
      q.processAllAvailable()
      val rows = spark.table("stream_enriched")
        .select("siteId", "total_count", "topo_region").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      // regions come from the broadcast static side (x05's oracle image)
      assert(rows === Set(("2087", 24L, "TR-A"), ("2087", 3L, "TR-A"),
        ("8", 7L, "TR-B")), rows.mkString(";"))
    } finally q.stop()
  }

  test("event time = date - 180s (3-min delivery lag, SURVEY §1.2)") {
    import spark.implicits._
    val records = Pipeline.payloadToRecords(Seq(singleSiteDoc).toDF("value"))
    val et = WindowedAnalytics.withEventTime(records)
      .select(unix_timestamp(col("eventTime"))).as[Long].head()
    assert(et === epoch1543 - 180)
  }

  test("S4-S8: partitioned history supports partition pruning") {
    import spark.implicits._
    val records = Pipeline.payloadToRecords(Seq(streamPayload).toDF("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft-hist").toString
    History.writePartitioned(records, dir)
    val pruned = History.readRegionFrom(spark, dir, "ROZ", "2019-10-03")
    assert(pruned.count() === 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    // region+dt are partition directories, not data columns to filter late
    assert(!plan.contains("PushedFilters: [IsNotNull(region)"))
  }

  test("compactLatest keeps the newest record per key and only rewrites touched partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // streamPayload: site 2087 at 15:40+15:45 (same region/dt) + site 8;
    // a second doc a day later lands in its own dt partition
    val laterDoc = singleSiteDoc.replace("2019-10-03T15:43:00+10:00",
      "2019-10-04T15:43:00+10:00")
    History.writePartitioned(
      Pipeline.payloadToRecords(Seq(streamPayload + laterDoc + NUL)
        .toDF("value")), dir)
    def files(sub: String): Set[String] = {
      val d = new java.io.File(s"$dir/$sub")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName + ":" + f.lastModified()).toSet
    }
    val day2Before = files("region=ROZ/dt=2019-10-04")
    History.compactLatest(spark, dir, Seq("siteId"),
      "collectionendtimestamp_plus_3_mins", col("dt") === "2019-10-03")
    // latest-wins inside the compacted day: 2087 keeps ONLY the 15:45
    // record; site 8 untouched in count
    val day1 = spark.read.parquet(dir).filter(col("dt") === "2019-10-03")
    val by = day1.select("siteId", "collectionendtimestamp_plus_3_mins")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(by === Set(("2087", epoch1548), ("8", epoch1548)),
      by.mkString(";"))
    // the untouched dt=2019-10-04 partition kept its exact files
    assert(files("region=ROZ/dt=2019-10-04") === day2Before)
    // a row-level predicate is REJECTED: it would overwrite whole
    // partitions with a row subset (silent data loss)
    val ex = intercept[IllegalArgumentException] {
      History.compactLatest(spark, dir, Seq("siteId"),
        "collectionendtimestamp_plus_3_mins", col("siteId") === "8")
    }
    assert(ex.getMessage.contains("partition columns"), ex.getMessage)
  }

  test("streaming archive appends micro-batches to the lake exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("graft-lake").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lake-ck").toString
    val ledger = new Pipeline.InMemoryBatchLedger
    val input = MemoryStream[String]
    val q = Pipeline.archive(Pipeline.payloadToRecords(input.toDF()),
      lake, ckpt, Some(ledger))
    try {
      input.addData(singleSiteDoc + NUL)
      q.processAllAvailable()
      input.addData(multiSiteDoc + NUL)
      q.processAllAvailable()
      // both micro-batches landed, partitioned by (region, dt)
      val rows = spark.read.parquet(lake)
      assert(rows.count() === 3) // 1 + 2 site records
      assert(rows.select("region").distinct().count() === 2) // ROZ + SYD
      // a crash-replay of batch 0 is a no-op: the ledger already has it
      Pipeline.archiveBatch(
        Pipeline.payloadToRecords(Seq(singleSiteDoc).toDF("value")),
        0L, lake, Some(ledger))
      assert(spark.read.parquet(lake).count() === 3) // nothing re-appended
      assert(ledger.lastCommitted === 1L)
    } finally q.stop()
  }

  test("dot_product is SQL-callable once registered (GraftExtensions path)") {
    // getOrCreate reuses the JVM-wide session, so exercise the same
    // registration GraftExtensions injects, on a fresh child session.
    val s2 = spark.newSession()
    s2.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product",
      exprs => graft.functions.DotProduct(exprs(0), exprs(1)),
      "built-in")
    val r = s2.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0)
    assert(r === 11.0)
    // and the extensions class itself is constructible + applicable
    assert(new GraftExtensions().isInstanceOf[
      org.apache.spark.sql.SparkSessionExtensions => Unit])
  }

  test("plan quality: q02 filters + projection reach the parquet scan") {
    val df = SparkEntry.queries("q02_filter_project")(spark,
      "/root/testdata/sf0.001")
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    // predicates pushed to the parquet reader
    assert(scan.metadata("PushedFilters").contains("IsNotNull(l_shipdate)"),
      scan.metadata("PushedFilters"))
    assert(scan.dataFilters.exists(_.toString.contains("l_quantity")))
    // pruned read schema — no unused columns materialized
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(!readCols.contains("l_tax") && !readCols.contains("l_partkey"),
      readCols.mkString(","))
  }

  test("plan quality: dimension joins broadcast (q04)") {
    val df = SparkEntry.queries("q04_region_enrich")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("plan quality: q50 broadcasts every dim; one fact-fact shuffle join") {
    val df = SparkEntry.queries("q50_profit_by_nation")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // part/supplier/nation ride broadcast; only lineitem ⋈ orders may
    // shuffle (a cartesian or a 4-way shuffle chain would be a
    // scale-killer at 100 TB)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("plan quality: q52's global max joins back as a broadcast row") {
    val df = SparkEntry.queries("q52_top_supplier")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // no single-partition global window; the max is a broadcast single
    // row and the supplier name join is a broadcast too
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 1 ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("plan quality: s01 corpus side never shuffles (broadcast NLJ)") {
    val df = SparkEntry.queries("s01_cosine_topk")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("plan quality: d08 semantic pairs — broadcast centroids, no cartesian product") {
    // the GATE's returned frame is rooted at the CC checkpoint (the join
    // work already ran), so inspect the pair-stage plan itself
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, d)
    val cents = emb.filter(col("vec_id") % 97 === 1)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    // cell assignment scores against BROADCAST centroids — since the
    // r20 materialize-once guard, the assignment subtree executes into
    // the guard's checkpoint, so assert its plan directly
    val assigned = graft.ext.Similarity.assignCells(emb,
      "vec_id", "embedding", cents)
    val aplan = assigned.queryExecution.executedPlan.toString
    assert(aplan.contains("BroadcastNestedLoopJoin") ||
      aplan.contains("BroadcastHashJoin"), aplan.take(800))
    val pairs = graft.ext.Dedup.semanticPairs(emb, cents,
      "vec_id", "embedding", minCos = 0.2)
    val plan = pairs.queryExecution.executedPlan.toString
    // the pair stage reads the ONE materialized assignment (the guard's
    // checkpoint — assignment dot products run once, not once per
    // guard pass) and is an equi-join on the cell key — a
    // cartesian/BNLJ pair stage would be the quadratic shape the cells
    // exist to prevent
    assert(plan.contains("Scan ExistingRDD"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("plan quality: a04 KMV pipeline shuffles sketch rows, never a cartesian") {
    val df = SparkEntry.queries("a04_kmv_jaccard")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // the group-pair seed join is broadcast (G rows), the sketch joins are
    // hash equi-joins on (source, h)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("plan quality: a06 verify pass broadcasts the candidate set") {
    val df = SparkEntry.queries("a06_heavy_hitters")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the exact recount must probe a BROADCAST candidate set — a
    // shuffled join here would re-shuffle the full token stream on the
    // item key, the exact thing the sketch pass exists to avoid. r21:
    // the candidate rows carry n_total, so ONE inner BroadcastHashJoin
    // replaces the former left_semi + broadcast-NLJ totals crossjoin
    // (candidate keys are distinct — no row multiplies) and no NLJ
    // remains in the gate at all.
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    // the token stream must reach that join unshuffled: exactly ONE
    // word-keyed exchange exists — the post-join aggregate's, which
    // carries only candidate-matching partials (a second one would be
    // a pre-join shuffle of the full token stream)
    assert("Exchange hashpartitioning\\(word".r
      .findAllIn(plan).size == 1, plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // r21: the sketch pass aggregates the token ARRAYS directly — no
    // Generate/explode materializes the corpus tokens as rows under the
    // bounded summary; the only explodes left are the verify pass's
    // token rows (which the exact recount genuinely needs) and the
    // ≤ k candidate array
    assert(PlanNodes.explodes(df.queryExecution.executedPlan) == 2,
      plan.take(2000))
  }

  test("plan quality: e10 grid generation never shuffles event rows twice") {
    val df = SparkEntry.queries("e10_gap_fill")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the bounds row is broadcast into the series×sequence explode; the
    // fill is ONE window over the series key
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("Window"), plan.take(800))
  }

  test("plan quality: PQ assignment scores against broadcast sub-centroids") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, d)
    val pq = graft.ext.Similarity.trainProductQuantizer(emb,
      "vec_id", "embedding", dim = 64, m = 4, kSub = 4, iters = 1)
    val asn = graft.ext.Similarity.pqAssignments(emb,
      "vec_id", "embedding", pq, dim = 64, m = 4)
    val plan = asn.queryExecution.executedPlan.toString
    // the sub-centroid table joins in via broadcast (m·kSub rows); the
    // argmax must be a hash aggregate (partial max_by), never a window
    // sort of the N·(m·kSub) scored rows
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
    // ADC search: LUT broadcast onto the code table, no cartesian
    val adc = graft.ext.Similarity.adcTopK(asn,
      emb.filter(col("vec_id") % 50 === 0), pq,
      "vec_id", "embedding", dim = 64, m = 4, k = 5)
    val adcPlan = adc.queryExecution.executedPlan.toString
    assert(adcPlan.contains("BroadcastHashJoin"), adcPlan.take(1200))
    assert(!adcPlan.contains("CartesianProduct"), adcPlan.take(1500))
  }

  test("plan quality: t18's bloom probe runs BELOW the distinct exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.FilterExec
    val df = SparkEntry.queries("t18_bloom_decontaminate")(spark,
      "/root/testdata/sf0.001")
    df.count(): Unit // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan
    // the whole point of t18: corpus grams that cannot be in the
    // benchmark are dropped BEFORE the distinct's shuffle — so the
    // bloom probe Filter must appear somewhere strictly below every
    // ShuffleExchange on its path (i.e. at least one probe filter has
    // no exchange beneath it)
    def adaptive(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
    }
    val roots = plan +: adaptive(plan)
    // the probe lands either as a Filter or fused into the broadcast
    // join's condition; either way its CORPUS-SIDE input subtree (the
    // streamed left child) must be shuffle-free — scan → explode →
    // probe, nothing exchanged before the prune
    val probeInputs = roots.flatMap(_.collect {
      case f: FilterExec
          if f.condition.find(
            _.isInstanceOf[graft.functions.BloomMightContain]).nonEmpty =>
        f.child
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
          if j.condition.exists(_.find(
            _.isInstanceOf[graft.functions.BloomMightContain]).nonEmpty) =>
        j.left
    })
    assert(probeInputs.nonEmpty, s"no bloom probe in:\n$plan")
    assert(probeInputs.exists(c =>
      c.collect { case e: ShuffleExchangeExec => e }.isEmpty),
      s"the bloom probe's corpus input is already shuffled — pruning " +
        s"happens too late:\n$plan")
  }

  test("plan quality: admission probe plans no Exchange above the bucketed band table") {
    // incrementalKeep's scale claim: with the corpus band table bucketed
    // at rest on (band, bkey) (ensureBandTable/writeBucketedBands +
    // bucket-tagged publishes), the admission semi-join shuffles ONLY
    // the incoming batch — the corpus side plans no Exchange. Broadcast
    // and AQE are disabled so the static shuffle-join shape is asserted.
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.ext.{Dedup, TextAnalysis}
    import org.apache.spark.sql.functions.{col, explode}
    val savedB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bands-plan").toString + "/bands"
    def bandsOf(docs: org.apache.spark.sql.DataFrame) =
      Dedup.lshBands(Dedup.minhashSignatures(
        docs.select(col("doc_id"),
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("shingle")),
        "doc_id", 8), "doc_id", 8, 2)
    try {
      val corpusDocs = Seq(
        (1L, "the quick brown fox jumps over the lazy dog near the river"),
        (2L, "completely different content about distributed query engines"))
        .toDF("doc_id", "text")
      val table = Dedup.writeBucketedBands(bandsOf(corpusDocs), dir, 4)
      val corpus = spark.table(table)
      val incoming = bandsOf(Seq(
        (10L, "the quick brown fox jumps over the lazy dog near the river"),
        (11L, "a fresh document on parquet row group statistics"))
        .toDF("doc_id", "text"))
      def bucketScans(p: SparkPlan) = p.collect {
        case s: FileSourceScanExec if s.relation.bucketSpec.nonEmpty => s
      }
      for (excludeSelf <- Seq(false, true)) {
        val hits = Dedup.admissionHits(incoming, corpus, "doc_id",
          excludeSelf)
        val plan = hits.queryExecution.executedPlan
        assert(bucketScans(plan).nonEmpty, plan.toString.take(1500))
        // the corpus SIDE of the probe join is Exchange-free (the
        // post-join distinct still shuffles doc_ids — that's above the
        // join and batch-sized, not a corpus shuffle)
        val join = plan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        }.head
        val corpusSide =
          if (bucketScans(join.right).nonEmpty) join.right else join.left
        assert(bucketScans(corpusSide).nonEmpty)
        assert(corpusSide.collect {
          case e: ShuffleExchangeExec => e }.isEmpty,
          s"excludeSelf=$excludeSelf:\n" + corpusSide.toString.take(2000))
        // ... while the incoming side DOES shuffle (to the corpus's
        // bucket partitioning), so the join really is the shuffled kind
        val inSide = if (corpusSide eq join.right) join.left else join.right
        assert(inSide.collect { case e: ShuffleExchangeExec => e }.nonEmpty)
        // and the probe is semantically right: 10 collides, 11 doesn't
        assert(hits.collect().map(_.getLong(0)).toSet === Set(10L))
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedB)
      spark.conf.set("spark.sql.adaptive.enabled", savedA)
      spark.sql(s"DROP TABLE IF EXISTS `${Dedup.bandTableName(dir)}`"): Unit
    }
  }

  test("plan quality: PQ re-rank fetch plans no Exchange above the bucketed corpus") {
    // pqSearch's scale claim: with the corpus id-bucketed at rest
    // (writeBucketedCorpus), the candidate fetch shuffles only the
    // Q·shortlist rows to the corpus's buckets — the corpus side of the
    // join must plan NO Exchange. Broadcast and AQE are disabled so the
    // static shuffle-join shape is what gets asserted.
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val savedB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      spark.sql("DROP TABLE IF EXISTS plan_corpus_bucketed")
      graft.ext.Similarity.writeBucketedCorpus(emb, "vec_id",
        "plan_corpus_bucketed", buckets = 8)
      val corpus = spark.table("plan_corpus_bucketed")
      val ids = emb.select("vec_id").limit(3).collect().map(_.getLong(0))
      val cand = ids.toSeq.map(i => (0L, i)).toDF("query_id", "b_id")
      val fetched = graft.ext.Similarity.fetchCorpus(cand, corpus,
        "vec_id", "embedding")
      val plan = fetched.queryExecution.executedPlan
      def bucketScans(p: SparkPlan) = p.collect {
        case s: FileSourceScanExec if s.relation.bucketSpec.nonEmpty => s
      }
      assert(bucketScans(plan).nonEmpty, plan.toString.take(1500))
      val join = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }.head
      val corpusSide =
        if (bucketScans(join.right).nonEmpty) join.right else join.left
      assert(bucketScans(corpusSide).nonEmpty)
      assert(corpusSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        corpusSide.toString.take(1500))
      // the candidate side is the one that adapts: it shuffles to the
      // corpus's bucket partitioning
      val candSide =
        if (corpusSide eq join.right) join.left else join.right
      assert(candSide.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
        candSide.toString.take(1500))
      assert(fetched.count() === 3)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedB)
      spark.conf.set("spark.sql.adaptive.enabled", savedA)
    }
  }

  test("plan quality: runtime bloom filter prunes the fact side of a selective join") {
    // At 100 TB a selective dim/filter side should row-prune the fact
    // scan BEFORE the shuffle — Spark's runtime bloom filter does this
    // when the join shuffles (broadcast joins get it implicitly). Prove
    // the engine config path injects it on our fact-fact shape.
    import org.apache.spark.sql.functions.{col, count, lit}
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val d = "/root/testdata/sf0.001"
    val o = s2.read.parquet(s"$d/orders.parquet")
      .filter(col("o_totalprice") > 450000)
    val l = s2.read.parquet(s"$d/lineitem.parquet")
    val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_filter_agg") && plan.contains("partial_bloom_filter_agg"),
      plan.take(1500))
  }

  test("plan quality: from_xml is evaluated exactly once per row (parse barrier)") {
    // Without the Generate barrier in TransisXml.parse, CollapseProject +
    // filter pushdown inline the parse into every Post-Scan Filter: the
    // topology path evaluated from_xml 3-4x per row. At 100 TB the XML
    // parse IS the scan cost, so count occurrences in the executed plan.
    // Built directly from the fixtures (the same construction the
    // x-family's shared-input memo runs once per session — the gates
    // themselves now serve the downstream plans from that cached input).
    import spark.implicits._
    def countParses(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.executedPlan.toString
      "from_xml".r.findAllMatchIn(plan).length
    }
    val sites = graft.ops.Topology.sites(graft.parse.TransisXml.parse(
      Seq(topologyDoc).toDF("fragment"),
      graft.model.Schemas.topologyResponse))
    val arms = graft.ops.Topology.arms(sites)
    assert(countParses(arms) === 1,
      arms.queryExecution.executedPlan.toString.take(2000))
    val records = graft.ops.DetectorCounts.toRecords(
      graft.parse.TransisXml.detectorCountDocs(graft.parse.TransisXml.parse(
        graft.parse.TransisXml.frame(Seq(streamPayload).toDF("value")),
        graft.model.Schemas.transisResponse)))
    val counts = graft.ops.DetectorCounts.explodedCounts(records)
    assert(countParses(counts) === 1,
      counts.queryExecution.executedPlan.toString.take(2000))
    val phases = graft.ops.Topology.phases(sites)
    assert(countParses(phases) === 1,
      phases.queryExecution.executedPlan.toString.take(2000))
  }

  test("plan quality: t16 posting heads ride the native aggregate (no encoder round-trip)") {
    // The typed TopKAggregator path plans SerializeFromObject /
    // DeserializeToObject around a groupByKey — the encoder round-trip
    // the builder measured at ~4x the native TypedImperativeAggregate.
    // t16 must aggregate df + head in ONE HashAggregate pass.
    val df = SparkEntry.queries("t16_inverted_index")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject"), plan.take(1500))
    assert(!plan.contains("DeserializeToObject"), plan.take(1500))
    assert(plan.contains("partial_topkscoredagg"), plan.take(1500))
    // df and the posting head come from the same aggregation — no
    // vocabulary-sized self-join of two separate agg passes
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("plan quality: IVF cell assignment is an aggregate, not a window sort") {
    // assignCells must reduce the N·K scored rows with a partial-agg
    // max_by (shuffle carries N rows); a Window.partitionBy(id) argmax
    // would sort all N·K rows through one shuffle — at 10⁹×256 vectors
    // that shuffle is the whole job.
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cells = Similarity.assignCells(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") % 97 === 1)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb")))
    val plan = cells.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1200))
    assert(plan.contains("max_by") || plan.contains("HashAggregate"),
      plan.take(1200))
    // and the aggregate runs with a partial (map-side) phase
    assert(plan.contains("partial_"), plan.take(1200))
  }

  test("plan quality: q49's per-part total reaggregates partials, not the fact") {
    // the per-part total derives from the (supp, part) partial
    // aggregate, so its shuffle input is the PARTIALS' exchange reused
    // — one fact scan feeding one shuffle; a second lineitem scan (or
    // a second full-width exchange of fact rows) would double the I/O
    // of the dominant stage at 100 TB.
    val df = SparkEntry.queries("q49_excess_share_suppliers")(spark,
      "/root/testdata/sf0.001")
    df.collect(): Unit // finalize THIS df's adaptive plan (count() would
                       // finalize a derived one, leaving this one initial)
    val plan = df.queryExecution.executedPlan
    def finalized(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }
    val roots = plan +: finalized(plan)
    val lineitemScans = roots.map(_.toString)
      .map(s => "lineitem".r.findAllIn(s).length).max
    val reused = roots.exists(_.toString.contains("ReusedExchange")) ||
      roots.exists(_.toString.contains("TableCacheQueryStage")) ||
      roots.exists(_.toString.contains("ReusedQueryStage"))
    assert(reused || lineitemScans <= 1,
      s"q49 re-scans the fact instead of reusing the partials' " +
        s"exchange:\n${plan.toString.take(1500)}")
  }

  test("plan quality: q54's threshold side reuses the per-part stage") {
    // the per-nation total/count re-aggregate the (nation, part)
    // partial aggregate — the broadcast threshold side must come from
    // the SAME fact stage (ReusedQueryStage under AQE), never a second
    // lineitem scan: at 100 TB a re-scan doubles the dominant I/O.
    val df = SparkEntry.queries("q54_important_parts")(spark,
      "/root/testdata/sf0.001")
    df.collect(): Unit
    val plan = df.queryExecution.executedPlan
    def finalized(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }
    val roots = plan +: finalized(plan)
    val reusedOneScan = roots.map(_.toString).exists { s =>
      (s.contains("ReusedExchange") || s.contains("ReusedQueryStage")) &&
        "lineitem".r.findAllIn(s).length <= 1
    }
    assert(reusedOneScan,
      s"q54 re-scans the fact instead of reusing the per-part stage:\n" +
        plan.toString.take(1500))
  }

  test("plan quality: t25 reads the corpus text exactly once") {
    // the bigram stream aggregates ONCE to per-(doc, w1, w2) counts;
    // the model, context, vocabulary, and scoring stages all derive
    // from that aggregate through reused exchanges — a second (or
    // third) corpus explode re-runs the most expensive stage of the
    // query (the round-13 shape ran it ~3x: 10.5x its oracle).
    val df = SparkEntry.queries("t25_bigram_lm")(spark,
      "/root/testdata/sf0.001")
    df.collect(): Unit
    val plan = df.queryExecution.executedPlan
    def finalized(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }
    val roots = plan +: finalized(plan)
    val oneScan = roots.map(_.toString).exists { s =>
      (s.contains("ReusedExchange") || s.contains("ReusedQueryStage")) &&
        "documents\\.parquet".r.findAllIn(s).length <= 1
    }
    assert(oneScan,
      s"t25 re-derives the corpus bigram stream instead of reusing " +
        s"the per-doc aggregate:\n${plan.toString.take(1500)}")
  }

  test("plan quality: t28 scans the corpus once; one corpus-wide exchange") {
    // the exploded (source, shingle) stream shuffles by the join key
    // ONCE; the distinct aggregates in place on that partitioning and
    // the self-join's second side AND the per-source size aggregate
    // both reuse the same exchange — the round-13 shape planned three
    // corpus-wide shuffles over two scans for the same answer (the
    // explicit isnotnull guards keep all three consumer subtrees
    // canonically identical; dropping them splits the exchange).
    val df = SparkEntry.queries("t28_source_overlap")(spark,
      "/root/testdata/sf0.001")
    df.collect(): Unit
    val plan = df.queryExecution.executedPlan
    def finalized(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }
    val roots = plan +: finalized(plan)
    val oneScan = roots.map(_.toString).exists { s =>
      s.contains("ReusedExchange") &&
        "documents\\.parquet".r.findAllIn(s).length <= 1
    }
    assert(oneScan,
      s"t28 re-scans the corpus instead of reusing the shingle " +
        s"exchange:\n${plan.toString.take(1500)}")
  }

  test("plan quality: t22 scans the corpus once; one span-hash exchange") {
    // the hashed span stream shuffles by the join key once; the
    // per-(doc, span) aggregate runs in place, the df branch reuses
    // the same exchange (vacuous cnt/len_sum anchors keep the two
    // subtrees canonically identical against column pruning), and the
    // df join broadcasts — the prior shape ran two corpus scans.
    val df = SparkEntry.queries("t22_boilerplate_spans")(spark,
      "/root/testdata/sf0.001")
    df.collect(): Unit
    val plan = df.queryExecution.executedPlan
    def finalized(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }
    val roots = plan +: finalized(plan)
    val oneScan = roots.map(_.toString).exists { s =>
      s.contains("ReusedExchange") &&
        "documents\\.parquet".r.findAllIn(s).length <= 1
    }
    assert(oneScan,
      s"t22 re-scans the corpus instead of reusing the span-hash " +
        s"exchange:\n${plan.toString.take(1500)}")
  }

  test("plan quality: t29 scans the corpus once; two hash exchanges") {
    // positions ride ONE corpus-sized exchange keyed by the gram hash;
    // the corpus frequency is an aggregate on that partitioning joined
    // back in place — the count branch reads the SAME exchange
    // (ReusedExchange), so the corpus is scanned once and a hot
    // stop-word gram streams through the aggregate instead of
    // materializing in a window buffer (ADVICE r17). The doc-keyed
    // island window shuffles only the filtered duplicate positions,
    // and both island aggregations run in place on the doc_id
    // partitioning.
    val df = SparkEntry.queries("t29_dup_span_islands")(spark,
      "/root/testdata/sf0.001")
    df.collect(): Unit
    val plan = df.queryExecution.executedPlan
    def finalized(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }
    val roots = (plan +: finalized(plan)).map(
      _.toString.split("== Initial Plan ==").head)
    val scans = roots.map(s =>
      "documents\\.parquet".r.findAllIn(s).length).max
    assert(scans <= 1,
      s"t29 must scan the corpus once:\n${plan.toString.take(1500)}")
    // count Exchange OPERATORS only — a ReusedExchange line repeats the
    // reused exchange's own description text, which is a read, not a
    // second shuffle write
    val hashExchanges = roots.map(_.linesIterator
      .filterNot(_.contains("ReusedExchange"))
      .count(_.contains("Exchange hashpartitioning"))).max
    assert(hashExchanges <= 2,
      s"t29 must plan exactly the gram-hash and doc_id exchanges:\n" +
        plan.toString.take(1500))
    assert(roots.exists(_.contains("ReusedExchange")),
      s"t29's frequency branch must reuse the gram exchange, not " +
        s"re-scan:\n${plan.toString.take(1500)}")
  }

  test("plan quality: d04's stop-gram cap is a broadcast anti-join " +
      "BELOW the pair-join exchange, never a window or a count-join") {
    // three generations of this guard: a gram-keyed count WINDOW
    // buffers a boilerplate gram's whole partition in one task (r17);
    // a count AGGREGATE joined back on the gram exchange streams, but
    // the mega-gram's rows still SHIP through the exchange before the
    // cap filter drops them (r19); the pre-exchange shape
    // (Dedup.dropOversizedKeys) counts map-side-combined on the
    // unpartitioned stream, broadcasts only the over-cap keys, and
    // anti-joins in the SCAN stage — at 100 TB the ubiquitous gram's
    // rows never reach the pair join's shuffle at all. The trade is a
    // second corpus pass for the count, which ships one row per
    // distinct gram per map partition instead of the gram stream.
    // the over-cap key set is snapshot-collected: when it's EMPTY (no
    // skew — d04 at gate scale) the guard returns the input untouched
    // and the probe join doesn't exist AT ALL, the optimal no-skew
    // plan; d04's plan is asserted join-free and window-free, and the
    // anti-join SHAPE is asserted on a synthetic corpus that actually
    // trips the cap
    val d04Plan = {
      val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try SparkEntry.queries("d04_ngram_jaccard")(spark,
        "/root/testdata/sf0.001").queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    assert(!d04Plan.toString.linesIterator.exists(l =>
        l.contains("Window") && l.contains("g#")),
      s"d04 gram df must not be a gram-keyed window:\n" +
        d04Plan.toString.take(1500))
    // synthetic mega-key corpus: the cap anti-join must be BROADCAST
    // (the collected over-cap snapshot is a local relation) and must
    // sit BELOW a shuffle exchange — i.e. some exchange's subtree
    // contains it, so the filter runs before the pair join's shuffle
    // ships anything
    val bands = spark.range(400).select(
      col("id"), lit(0).as("band"),
      when(col("id") < 200, lit("MEGA"))
        .otherwise(concat(lit("b"),
          floor(col("id") / 4).cast("string")))
        .as("bkey"))
    // auto-broadcast off: at 400 rows Spark would broadcast the pair
    // join too and plan the whole query shuffle-free — the shape under
    // test is the at-scale one where the pair join shuffles; the cap
    // anti-join keeps its EXPLICIT broadcast hint either way
    val plan = {
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try graft.ext.Dedup.lshCandidatePairs(bands, "id", maxBucket = 64)
        .queryExecution.executedPlan
      finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      }
    }
    val nodes = plan.collect { case n => n }
    def isAnti(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p match {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          b.joinType.toString == "LeftAnti"
        case _ => false
      }
    assert(nodes.exists(isAnti),
      s"the tripped cap must be a broadcast anti-join:\n" +
        plan.toString.take(1500))
    assert(nodes.exists {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.child.collect { case n if isAnti(n) => n }.nonEmpty
        case _ => false
      }, s"the cap anti-join must sit below the pair-join " +
        s"exchange (pre-exchange filtering):\n${plan.toString.take(1500)}")
    // and the guard actually dropped the mega-bucket: its members
    // (ids 0..199) sit ONLY in the over-cap bucket, so they must
    // appear in no candidate pair at all
    val pairs = graft.ext.Dedup.lshCandidatePairs(bands, "id",
      maxBucket = 64).collect()
    assert(pairs.nonEmpty)
    assert(!pairs.exists(r => r.getLong(0) < 200 || r.getLong(1) < 200),
      "mega-bucket members must not survive the cap")
  }

  test("OPT-IN shuffle-bytes probe: pre-exchange guard cap vs " +
      "post-exchange cap on a boilerplate mega-bucket corpus " +
      "(SPARK_GRAFT_SHUFFLE_PROBE=1)") {
    assume(sys.env.get("SPARK_GRAFT_SHUFFLE_PROBE").contains("1"))
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerStageCompleted}
    // synthetic LSH band table: half the corpus hashes into ONE
    // boilerplate bucket (the shape a shared site template produces);
    // the other half spreads over small genuine-duplicate buckets
    val n = 200000L
    val bands = spark.range(n).select(
      col("id"),
      lit(0).as("band"),
      when(col("id") < n / 2, lit("BOILERPLATE"))
        .otherwise(concat(lit("b"), (col("id") / 4).cast("string")))
        .as("bkey"))
      .localCheckpoint(true) // isolate the probe from range-scan cost
    val cap = 64
    def measure(pairs: => org.apache.spark.sql.DataFrame): (Long, Long) = {
      val bytes = new java.util.concurrent.atomic.AtomicLong()
      val recs = new java.util.concurrent.atomic.AtomicLong()
      val l = new SparkListener {
        override def onStageCompleted(
            e: SparkListenerStageCompleted): Unit = {
          bytes.addAndGet(
            e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
          recs.addAndGet(
            e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten): Unit
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        pairs.count(): Unit
        org.apache.spark.graftbridge.ListenerBridge
          .drain(spark.sparkContext, 5000L)
      } finally spark.sparkContext.removeSparkListener(l)
      (bytes.get(), recs.get())
    }
    // current shape: count on the UNpartitioned input (map-side
    // combined), broadcast the over-cap keys, anti-join in the scan
    // stage — mega-bucket rows never reach the pair join's exchange
    val (preB, preR) = measure(
      graft.ext.Dedup.lshCandidatePairs(bands, "id", maxBucket = cap))
    // round-19 shape (reconstructed): cap AFTER the exchange — size
    // aggregate + join-back on the bucket partitioning; the mega-
    // bucket's rows all transit the shuffle before the filter drops
    // them
    val (postB, postR) = measure {
      val parted = bands.repartition(col("band"), col("bkey"))
      val sizes = parted.groupBy("band", "bkey")
        .agg(count(lit(1)).as("_n"))
      val bounded = parted.join(sizes, Seq("band", "bkey"))
        .filter(col("_n") <= cap).drop("_n")
      val a = bounded.select(col("id").as("a_id"), col("band"),
        col("bkey"))
      val b = bounded.select(col("id").as("b_id"), col("band"),
        col("bkey"))
      a.join(b, Seq("band", "bkey")).filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_bands"))
    }
    info(f"pre-exchange guard: ${preB / 1024.0}%.0f KiB / $preR%d rows " +
      f"shuffled; post-exchange cap: ${postB / 1024.0}%.0f KiB / " +
      f"$postR%d rows; bytes ratio ${postB.toDouble / preB}%.2f")
    // the mega-bucket is half the corpus: the post-exchange shape must
    // ship materially more than the pre-exchange shape
    assert(postB > preB,
      s"post-exchange cap shuffled $postB bytes <= pre-exchange $preB")
    assert(postR > preR,
      s"post-exchange cap shuffled $postR rows <= pre-exchange $preR")
  }

  test("plan quality: the de-skewed guard counts (d03 bucket, d08 " +
      "cell, t06 df) are aggregates on reused exchanges, not windows") {
    def roots(gate: String): Seq[String] = {
      val df = SparkEntry.queries(gate)(spark, "/root/testdata/sf0.001")
      df.collect(): Unit
      val plan = df.queryExecution.executedPlan
      val fin = plan.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }
      (plan +: fin).map(_.toString.split("== Initial Plan ==").head)
    }
    // d03: the ONLY window was the bucket occupancy — now gone
    // entirely; the occupancy branch reuses the simhash exchange
    val d03 = roots("d03_simhash")
    assert(!d03.exists(_.linesIterator.exists(_.contains("Window"))),
      "d03 must have no window operator")
    assert(d03.exists(_.contains("ReusedExchange")),
      "d03 occupancy branch must reuse the simhash exchange")
    // d08: no window keyed by the cell id (the maxCell guard is an
    // aggregate joined back)
    val d08 = roots("d08_semantic_dedup")
    assert(!d08.exists(_.linesIterator.exists(l =>
        l.contains("Window") && l.contains("cell#"))),
      "d08 cell-size guard must not be a cell-keyed window")
    // t06: exactly one window remains (the per-doc rank); the df
    // branch reuses the word exchange
    val t06 = roots("t06_tfidf_terms")
    val winLines = t06.map(_.linesIterator.count(l =>
      l.contains("Window") && !l.contains("WindowGroupLimit"))).max
    assert(winLines <= 1,
      s"t06 must keep only the per-doc rank window, found $winLines")
    assert(t06.exists(_.contains("ReusedExchange")),
      "t06 df branch must reuse the word exchange")
  }

  test("plan quality: q44 scans lineitem once; window rides the join shuffle") {
    // the double-EXISTS decorrelation computes per-order cardinalities
    // as WINDOW aggregates over the join output instead of a second
    // aggregation joined back — so the fact is scanned once and the
    // only hash exchanges are the join's own (+ the final small s_name
    // aggregation). The previous shape paid two full lineitem⋈orders
    // scans and two extra orderkey shuffles — 2× the dominant-stage
    // I/O at 100 TB.
    val df = SparkEntry.queries("q44_waiting_suppliers")(spark,
      "/root/testdata/sf0.001")
    df.collect(): Unit // finalize THIS df's adaptive plan
    val plan = df.queryExecution.executedPlan
    def finalized(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }
    // an AQE plan's toString appends "== Initial Plan ==" — count only
    // the FINAL section or every node double-counts
    val roots = (plan +: finalized(plan)).map(
      _.toString.split("== Initial Plan ==").head)
    val lineitemScans = roots
      .map(s => "lineitem".r.findAllIn(s).length).max
    assert(lineitemScans <= 1,
      s"q44 must scan lineitem once:\n${plan.toString.take(1500)}")
    val hashExchanges = roots
      .map(s => "Exchange hashpartitioning".r.findAllIn(s).length).max
    assert(hashExchanges <= 3,
      s"q44 window must ride the join's orderkey shuffle " +
        s"($hashExchanges hash exchanges):\n${plan.toString.take(1500)}")
  }

  test("plan quality: q46 min-cost rides a window, not a self-join") {
    // the per-part minimum is a window over the cost rows (q44's
    // decorrelation pattern): one fact scan, and only the cost
    // aggregation's exchange + the window's partkey exchange — the
    // previous min-aggregate-joined-back shape paid two more
    // exchanges of the cost table
    val df = SparkEntry.queries("q46_min_cost_supplier")(spark,
      "/root/testdata/sf0.001")
    df.collect(): Unit
    val plan = df.queryExecution.executedPlan
    def finalized(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }
    val roots = (plan +: finalized(plan)).map(
      _.toString.split("== Initial Plan ==").head)
    assert(roots.map(s => "lineitem".r.findAllIn(s).length).max <= 1,
      s"q46 must scan lineitem once:\n${plan.toString.take(1500)}")
    assert(roots.map(s =>
      "Exchange hashpartitioning".r.findAllIn(s).length).max <= 2,
      s"q46 must not re-shuffle the cost table for a min join:\n" +
        plan.toString.take(1500))
  }

  test("plan quality: s12 hybrid fusion never forms a corpus-sized pair join") {
    // both retrieval arms meet the corpus through a BROADCAST of the
    // bounded query set (the dense arm's theta-join and the lexical
    // arm's posting-list term join); an un-broadcast join on either
    // side would shuffle the corpus per query — the shape that dies at
    // 100 TB. CartesianProduct must not appear at all: the only
    // cross-shaped join (dense query×corpus) is broadcast-nested-loop
    // by construction.
    val df = SparkEntry.queries("s12_hybrid_rrf")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(1500))
    // and the fused result is exactly k rows per query with ranks 1..k
    val rows = df.collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getInt(2)).sorted.toSeq === (1 to rs.length))
      assert(rs.length <= 10)
    }
  }
}
