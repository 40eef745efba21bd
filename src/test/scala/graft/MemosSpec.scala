package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{ExtQueries, Memos}

/** Session lifecycle of the cross-query memo caches: building a memoized
  * query persists DataFrames (and the typed-history lake pins a temp
  * dir); `Memos.evictAll` — wired to application end by
  * `Memos.install`, which every memo builder calls — must release all
  * of it, so no persisted RDDs or temp dirs outlive the session. */
class MemosSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("every gate query has a DuckDB oracle (full rows+schema+hash gate)") {
    // 100% oracle coverage is a round-3 invariant: a queries entry
    // without oracleSql silently degrades to a rows-only check
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("evictAll unpersists memoized frames and deletes the fixture lake") {
    val sf = "/root/testdata/sf0.001"
    // other suites may legitimately leave storage around — assert on the
    // DELTA this test creates, not the global set
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // build the pair/cluster memos (d02 + d06 share them) and the lake
    assert(ExtQueries.queries("d02_minhash_lsh")(spark, sf).count() >= 0)
    assert(ExtQueries.queries("d06_neardup_clusters")(spark, sf).count() >= 0)
    val lakeDir = {
      val q = graft.queries.HistoryQueries.queries("h01_monitor_from")
      assert(q(spark, sf).count() > 0)
      // the lake writes monitor/tirf/vms/topology_changes under one tmp dir
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      tmp.listFiles().filter(_.getName.startsWith("graft-history"))
        .maxBy(_.lastModified)
    }
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.nonEmpty,
      "memo build should have persisted the pair/cluster frames")
    assert(lakeDir.exists)

    Memos.evictAll(spark)

    assert(leaked.isEmpty, s"persisted RDDs survived eviction: $leaked")
    assert(!lakeDir.exists, s"lake dir survived eviction: $lakeDir")
    // memoized queries rebuild cleanly after eviction
    assert(ExtQueries.queries("d06_neardup_clusters")(spark, sf).count() >= 0)
    Memos.evictAll(spark)
    assert(leaked.isEmpty, s"persisted RDDs survived re-eviction: $leaked")
  }

  test("pq training releases its storage on publish; artifacts die at teardown") {
    // the PQ model is an at-rest ARTIFACT now: training publishes the
    // codebook/codes and releases its own checkpoints immediately, so
    // nothing persisted survives the build; the artifact dirs live for
    // the session (serve-path reads) and evictAll removes them
    val sf = "/root/testdata/sf0.001"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def allArtifactDirs: Seq[java.io.File] = {
      val wh = new java.io.File(new org.apache.hadoop.fs.Path(
        spark.sessionState.conf.warehousePath).toUri.getPath)
      Option(wh.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("graft_artifacts_")).toSeq
    }
    // evictAll only tracks dirs published by THIS session — a crashed
    // predecessor JVM's orphans are vacuum-able garbage, not this
    // test's concern; assert on the delta like the sibling test.
    // Evict first: an earlier suite in the shared session may already
    // have published these artifacts, and the artifact root is a
    // deterministic path — without the evict the rebuild lands inside a
    // "preexisting" dir and the publish delta is invisibly empty
    // (order-dependent flake seen in the full-suite run).
    Memos.evictAll(spark)
    // ...and artifacts published through a SIBLING session
    // (spark.newSession() in other suites) share the same warehouse
    // root but are tracked under that session's key, so evictAll(spark)
    // cannot see them either — clear leftovers at the filesystem level
    // (suites run sequentially in the one forked test JVM, and any
    // stale sibling-keyed memo entries are orphaned: newSession() keys
    // are never reused).
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete(): Unit
    }
    allArtifactDirs.foreach(rmTree)
    val preexisting = allArtifactDirs.toSet
    assert(ExtQueries.queries("s09_pq_codes")(spark, sf).count() > 0)
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"training storage must be released once the artifact is published: $leaked")
    def annDirs: Seq[java.io.File] =
      allArtifactDirs.filterNot(preexisting)
    assert(annDirs.nonEmpty, "publish should land index artifacts at rest")
    Memos.evictAll(spark)
    assert(annDirs.isEmpty, s"artifact dirs survived teardown: $annDirs")
    // and the model rebuilds + republishes cleanly after teardown
    assert(ExtQueries.queries("s09_pq_codes")(spark, sf).count() > 0)
    assert(annDirs.nonEmpty)
    Memos.evictAll(spark)
    assert(annDirs.isEmpty)
  }

  private val sf = "/root/testdata/sf0.001"

  private def graftTempDirs: Set[java.io.File] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("graft-")).toSet

  /** The artifact root the d/s/t gates publish under for `sf`. */
  private def artifactRoot: java.io.File =
    new java.io.File(new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath).toUri.getPath,
      "graft_artifacts_" + Hashes.md5Hex(sf, 12))

  private def run(gate: String): Long = {
    val q = ExtQueries.queries.get(gate)
      .orElse(graft.queries.HistoryQueries.queries.get(gate))
      .orElse(graft.queries.XmlQueries.queries.get(gate))
      .getOrElse(fail(s"no gate $gate"))
    q(spark, sf).count()
  }

  test("teardown deletes every temp lake, the SQL lakes included") {
    // start from a session with no memos, so each gate builds its lake
    Memos.evictAll(spark)
    val before = graftTempDirs
    Seq("h43_sql_create_table", "h59_sql_stream_lake_loop",
      "h60_sql_repartition_lake").foreach(g => assert(run(g) > 0, g))
    val created = graftTempDirs -- before
    assert(created.size >= 3, s"each gate should build its lake: $created")
    Memos.evictAll(spark)
    val left = created.filter(_.exists)
    assert(left.isEmpty, s"temp lakes survived teardown: $left")
  }

  test("an artifact memo never serves a deleted directory") {
    // t32's merges and s09's codes share one artifact root; teardown
    // deletes the root, so it must also drop the merges memo
    val first = run("t32_bpe_token_count")
    assert(run("s09_pq_codes") > 0)
    Memos.evictAll(spark)
    assert(run("t32_bpe_token_count") === first)
    Memos.evictAll(spark)
  }

  test("per-iteration eviction releases query frames and keeps artifacts and inputs") {
    Memos.evictAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def persisted = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(run("x01_detector_counts") > 0)
    val inputs = persisted
    assert(inputs.nonEmpty, "x01 should persist its input relation")
    assert(run("d02_minhash_lsh") >= 0)
    assert(run("d06_neardup_clusters") >= 0)
    assert(run("s09_pq_codes") > 0)
    val frames = persisted -- inputs
    assert(frames.nonEmpty, "d02/d06 should persist pairs, signatures, clusters")
    assert(artifactRoot.exists, "s09 should publish its artifacts")

    Memos.evictQueryMemos(spark)

    assert((persisted & frames).isEmpty,
      s"query frames survived per-iteration eviction: ${persisted & frames}")
    assert(inputs.subsetOf(persisted), "the x-family input memo was evicted")
    assert(new java.io.File(artifactRoot, "codes").exists,
      s"per-iteration eviction deleted s09's artifacts under $artifactRoot")
    Memos.evictAll(spark)
    assert(persisted.isEmpty)
  }
}
