package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.ext.{Dedup, FrequentItems, HybridRetrieval, KMV, Multimodal, Similarity, TextAnalysis}

/** LLM-training-data pipeline operators (SURVEY.md §7.4) as gate queries:
  * dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard / embedding
  * cosine), similarity search (brute-force + LSH-bucketed ANN), text
  * analysis (lang-ID, quality, tokens, fingerprint), multimodal columns.
  */
object ExtQueries {

  /** A persisted query frame (pairs, signatures, clusters), released
    * between bench iterations too, so min-of-N times the pipeline and
    * not a cache read. The clusters memo is rooted on a checkpoint RDD
    * (resolveClusters), so the release frees its blocks and checkpoint
    * files as well. */
  private def queryFrameMemo(): SessionMemo[String, DataFrame] =
    new SessionMemo[String, DataFrame](perIteration = true)(
      (_, _, df) => releaseFrame(df))

  /** d02 and d06 share the shingle → MinHash → LSH candidate-pair
    * pipeline; this memo persists the pair set once per (session, dir)
    * so a gate run pays the shingling/hashing cost once and d06 adds
    * only the clustering rounds. The pair set is tiny relative to the
    * corpus (near-dup pairs only), so MEMORY_AND_DISK is safe. */
  private val pairsCache = queryFrameMemo()

  /** The signatures intermediate is persisted alongside the pairs memo
    * (r20 optimization): the guard cap's count pass and the pair join's
    * probe pass are separate actions over the band stream, so a lazy
    * plan re-runs the md5 shingle→minhash pipeline once per pass; the
    * cached signatures are one narrow row per doc (8 longs), so the
    * count pass materializes them and the probe pass reads columnar
    * cache instead of re-hashing the corpus. Tracked here so it is
    * released with the pairs memo. */
  private val sigsCache = queryFrameMemo()

  private def candidatePairs(s: SparkSession, d: String): DataFrame =
    pairsCache(s, d) {
      // the doc table is a single small parquet split; spread the
      // md5-heavy shingling across all cores (at 100 TB the scan itself
      // provides the parallelism and this repartition disappears)
      val docs = documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val shingled = docs.select(col("doc_id"),
        explode(TextAnalysis.wordShingles(col("text"), 3)).as("shingle"))
      val sigs = sigsCache(s, d)(Dedup.minhashSignatures(shingled, "doc_id", 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      Dedup.lshCandidatePairs(Dedup.lshBands(sigs, "doc_id", 8, 2), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** d06/d07 both need the resolved clusters; the CC rounds are driver-
    * synchronized (one fixpoint check per round), so run them once per
    * (session, dir) and persist the tiny (id, cluster) result. */
  private val clustersCache = queryFrameMemo()

  private def neardupClusters(s: SparkSession, d: String): DataFrame =
    clustersCache(s, d)(Dedup.resolveClusters(candidatePairs(s, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Root directory for the session's AT-REST artifacts (trained
    * coarse quantizer, PQ codebook, corpus codes, the corpus LSH band
    * table) — a deployment trains/indexes on a schedule and every
    * search/admission job SERVES from the published artifact, so the
    * gates that exercise the serve path (s07/s08/s10/s11, d08, d09)
    * read these instead of re-deriving the index per measured
    * iteration. Index-build correctness stays gated: the artifacts are
    * written by the same deterministic pipelines the oracles
    * re-derive, once per (session, dir). */
  private def artifactRoot(s: SparkSession, d: String): String =
    s"${s.sessionState.conf.warehousePath}/graft_artifacts_" +
      graft.Hashes.md5Hex(d, 12)

  /** An at-rest artifact memo, released at session teardown only (a
    * deployment trains once and serves many searches, so a bench
    * iteration measures the serve path) by deleting the artifact root.
    * Every artifact memo of a dir deletes the same root, so none is
    * left pointing at a deleted directory. */
  private def artifactMemo[V](): SessionMemo[String, V] =
    new SessionMemo[String, V](perIteration = false)(
      (s, d, _) => deleteArtifacts(s, d))

  private def deleteArtifacts(s: SparkSession, d: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(artifactRoot(s, d))
    root.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(root, true): Unit
  }

  private def dropTable(s: SparkSession, table: String): Unit =
    s.sql(s"DROP TABLE IF EXISTS `$table`"): Unit

  /** Release a frame's cached/checkpointed backing: a query memo at
    * eviction, or a training pipeline once its result has been
    * published at rest (the artifact supersedes it — without this the
    * Lloyd checkpoints live for the JVM's life). */
  private def releaseFrame(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    org.apache.spark.sql.graftbridge.DatasetBridge.backingRdds(df)
      .foreach(org.apache.spark.sql.graftbridge.DatasetBridge.releaseRdd(_))
  }

  /** s07/s08/d08 share the trained quantizer. Train once per
    * (session, dir), PUBLISH via [[Similarity.saveCentroids]] (versioned
    * dir + atomic `current` pointer), release the training checkpoints,
    * and serve every later call from the at-rest index — the steady
    * state an ANN deployment runs. An artifact, not a query memo:
    * dropped at session teardown, never between bench iterations. */
  private val centroidsCache = artifactMemo[DataFrame]()

  private def trainedCentroids(s: SparkSession, d: String): DataFrame =
    centroidsCache(s, d) {
      val root = s"${artifactRoot(s, d)}/ivf"
      val cent = Similarity.trainCentroids(embeddings(s, d),
        "vec_id", "embedding", 8, 2)
      Similarity.saveCentroids(cent, root)
      releaseFrame(cent)
      Similarity.loadCentroids(s, root)
    }

  /** s14's MAINTAINED IVF index ([[graft.ext.VectorIndex]]): an
    * embeddings manifest lake bootstrapped into cell-partitioned
    * inverted lists, then EVOLVED — a merge-on-read takedown
    * (vec_id % 13 = 7) and an appended copy batch (vec_id % 41 = 0,
    * re-keyed +1,000,000) land as corpus commits, and one tick mirrors
    * them into the postings from the row-level change feed (feed
    * deletes → postings deletion vectors, feed inserts → one
    * exactly-once cell-assigned append). The centroid set is the same
    * deterministic subset as s03, frozen at bootstrap. Built once per
    * (session, dir) under the artifact root; the gate then SEARCHES
    * the maintained lists. */
  /** t32/t33's trained-merges ARTIFACT: the demo vocab published once
    * per (session, sfDir) through the versioned-pointer protocol —
    * the gates then LOAD it back, so the serve path (pointer resolve →
    * table → plan literals) is what the oracle checks. */
  private val bpeMergesCache = artifactMemo[String]()

  private def bpeMergesDir(s: SparkSession, d: String): String =
    bpeMergesCache(s, d) {
      val dir = s"${artifactRoot(s, d)}/bpe-merges"
      graft.ext.Bpe.saveMerges(s, graft.ext.Bpe.demoMerges, dir)
      dir
    }

  private val bpeByteMergesCache = artifactMemo[String]()

  private def bpeByteMergesDir(s: SparkSession, d: String): String =
    bpeByteMergesCache(s, d) {
      val dir = s"${artifactRoot(s, d)}/bpe-byte-merges"
      graft.ext.Bpe.saveMerges(s, graft.ext.Bpe.demoByteMerges, dir)
      dir
    }

  private val vecIndexCache = artifactMemo[(String, String)]()

  private def maintainedIndex(s: SparkSession, d: String): (String, String) =
    vecIndexCache(s, d) {
      val base = s"${artifactRoot(s, d)}/vecindex"
      val corpus = s"$base/corpus"
      val index = s"$base/index"
      val emb = embeddings(s, d)
      emb.repartition(8).write.mode("overwrite").parquet(corpus)
      graft.sources.History.enableManifests(s, corpus): Unit
      graft.sources.History.enableShardedManifests(s, corpus): Unit
      val cent = s14Centroids(s, d)
      graft.ext.VectorIndex.bootstrap(s, corpus, index,
        "vec_id", "embedding", cent): Unit
      graft.sources.History.deleteWhereDV(s, corpus,
        col("vec_id") % 13 === 7): Unit
      graft.sources.History.append(s, corpus,
        emb.filter(col("vec_id") % 41 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding")),
        key = "s14-copies"): Unit
      graft.ext.VectorIndex.tick(s, corpus, index,
        "vec_id", "embedding", cent): Unit
      (corpus, index)
    }

  private def s14Centroids(s: SparkSession, d: String) =
    embeddings(s, d).filter(col("vec_id") % 97 === 1)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))

  /** s15's MAINTAINED BM25 index ([[graft.ext.LexicalIndex]]): the
    * documents table becomes a manifest corpus lake, the postings /
    * doclens lakes + df/stats rollups are bootstrapped, then the
    * corpus EVOLVES (merge-on-read takedown of doc_id % 13 = 7, a
    * +10,000,000-rekeyed copy append of doc_id % 41 = 0) and ONE tick
    * mirrors the window — postings deletion vectors retracting df
    * exactly through the rollups. Built once per (session, dir) under
    * the artifact root. */
  private val lexIndexCache = artifactMemo[(String, String)]()

  /** Shared evolved-corpus recipe for the maintained TEXT indexes
    * (s15 lexical, d11 bands): write the doc slice as a manifest lake,
    * bootstrap the index, evolve it — DV takedown (doc_id % 13 = 7)
    * and a +10,000,000-rekeyed copy append (doc_id % 41 = 0) — then
    * ONE tick mirrors the window. One definition so the two gates
    * exercise the SAME corpus history (a drifted copy would leave them
    * looking symmetric while testing different evolutions). */
  private def evolvedTextIndex(s: SparkSession, d: String, subdir: String,
      appendKey: String, slice: org.apache.spark.sql.Column,
      bootstrap: (String, String) => Unit,
      tick: (String, String) => Unit): (String, String) = {
    val base = s"${artifactRoot(s, d)}/$subdir"
    val corpus = s"$base/corpus"
    val index = s"$base/index"
    val docs = documents(s, d).select(col("doc_id"), col("text"))
      .filter(slice)
    docs.repartition(8).write.mode("overwrite").parquet(corpus)
    graft.sources.History.enableManifests(s, corpus): Unit
    graft.sources.History.enableShardedManifests(s, corpus): Unit
    bootstrap(corpus, index)
    graft.sources.History.deleteWhereDV(s, corpus,
      col("doc_id") % 13 === 7): Unit
    graft.sources.History.append(s, corpus,
      docs.filter(col("doc_id") % 41 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")),
      key = appendKey): Unit
    tick(corpus, index)
    (corpus, index)
  }

  private def maintainedLexIndex(s: SparkSession,
                                 d: String): (String, String) =
    lexIndexCache(s, d)(evolvedTextIndex(s, d, "lexindex", "s15-copies",
      lit(true),
      (c, i) => graft.ext.LexicalIndex.bootstrap(s, c, i): Unit,
      (c, i) => graft.ext.LexicalIndex.tick(s, c, i): Unit))

  /** A documents-corpus lake whose BIGRAM count table (the t25 LM's
    * model side) is MAINTAINED through the change feed: bootstrap,
    * then a DV takedown and an exactly-once append, then one
    * [[graft.ext.LmRollup.tickBigrams]] — the tick retracts the
    * deleted documents' grams and adds the appended ones', never
    * rescanning the corpus. s16 reads the maintained table; the
    * oracle recomputes bigram counts over the FINAL image, so a
    * missed retraction, a double-applied insert, or a drifted count
    * anywhere in the vocabulary fails the hash. */
  private val lmLakeCache = artifactMemo[(String, String)]()

  private def maintainedLm(s: SparkSession, d: String): (String, String) =
    lmLakeCache(s, d) {
      val base = s"${artifactRoot(s, d)}/lmrollup"
      val corpus = s"$base/corpus"
      val rollup = s"$base/counts"
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      docs.repartition(8).write.mode("overwrite").parquet(corpus)
      graft.sources.History.enableManifests(s, corpus): Unit
      graft.ext.LmRollup.bootstrapBigrams(s, corpus, rollup,
        "text"): Unit
      graft.ext.LmRollup.bootstrapUnigrams(s, corpus, s"$base/uni",
        "text"): Unit
      graft.sources.History.deleteWhereDV(s, corpus,
        col("doc_id") % 13 === 4): Unit
      graft.sources.History.append(s, corpus,
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")),
        key = "s16-copies"): Unit
      graft.ext.LmRollup.tickBigrams(s, corpus, rollup, "text"): Unit
      graft.ext.LmRollup.tickUnigrams(s, corpus, s"$base/uni",
        "text"): Unit
      (corpus, base)
    }

  /** s09/s10/s11 share the trained product quantizer and the corpus
    * code assignments — published like the coarse quantizer: codebook
    * through the versioned index root, codes as a small at-rest parquet
    * table (the compressed-domain corpus an ADC deployment scans). */
  private val pqCache = artifactMemo[(DataFrame, DataFrame)]()

  private def pqModel(s: SparkSession, d: String): (DataFrame, DataFrame) =
    pqCache(s, d) {
      val root = artifactRoot(s, d)
      val pq = Similarity.trainProductQuantizer(embeddings(s, d),
        "vec_id", "embedding", dim = 64, m = 4, kSub = 8, iters = 1)
      Similarity.saveCentroids(pq, s"$root/pq")
      releaseFrame(pq)
      val pqLoaded = Similarity.loadCentroids(s, s"$root/pq")
      val asn = Similarity.pqAssignments(embeddings(s, d),
        "vec_id", "embedding", pqLoaded, dim = 64, m = 4)
      asn.coalesce(4).write.mode("overwrite").parquet(s"$root/codes")
      releaseFrame(asn)
      (pqLoaded, s.read.parquet(s"$root/codes"))
    }

  /** s18's published scalar-quantization artifacts: per-dimension
    * bounds through the versioned index root ([[Similarity.saveSqBounds]]
    * — the saveCentroids publish protocol), corpus codes as an at-rest
    * parquet table (the compressed-domain corpus an int8 search
    * scans). Train-once-serve-many: searches quantize only their
    * bounded query set. */
  private val sqCache =
    artifactMemo[((Seq[Double], Seq[Double]), DataFrame)]()

  private def sqModel(s: SparkSession,
                      d: String): ((Seq[Double], Seq[Double]), DataFrame) =
    sqCache(s, d) {
      val root = artifactRoot(s, d)
      val (mins, scales) = Similarity.sqTrain(embeddings(s, d), "embedding")
      Similarity.saveSqBounds(s, s"$root/sq", mins, scales)
      val loaded = Similarity.loadSqBounds(s, s"$root/sq")
      Similarity.sqCodes(embeddings(s, d), "vec_id", "embedding",
        loaded._1, loaded._2)
        .coalesce(4).write.mode("overwrite").parquet(s"$root/sqcodes")
      (loaded, s.read.parquet(s"$root/sqcodes"))
    }

  /** Shingle→MinHash→LSH band pipeline shared by the d09 gate's two
    * sides (and the corpus band artifact below) — the d02 signature
    * family, so band keys are comparable across all dedup gates. One
    * canonical definition, owned by the maintained index. */
  private def docBands(docs: DataFrame): DataFrame =
    graft.ext.BandIndex.deriveBands(docs)

  /** d11's MAINTAINED band index ([[graft.ext.BandIndex]]): the
    * non-batch corpus slice (doc_id % 10 != 0) becomes a manifest
    * lake, its bands lake is bootstrapped, then the corpus EVOLVES —
    * a merge-on-read takedown (doc_id % 13 = 7) and a
    * +10,000,000-rekeyed copy append (doc_id % 41 = 0) — and ONE tick
    * mirrors the window into the bands from the row-level change feed
    * (feed deletes → band deletion vectors, feed inserts → one
    * exactly-once band-partitioned append; the surviving corpus text
    * is never re-shingled). Built once per (session, dir) under the
    * artifact root; the gate then ADMITS the batch slice against the
    * maintained lake. */
  private val bandIndexCache = artifactMemo[(String, String)]()

  private def maintainedBandIndex(s: SparkSession,
                                  d: String): (String, String) =
    bandIndexCache(s, d)(evolvedTextIndex(s, d, "bandindex",
      "d11-copies", col("doc_id") % 10 =!= 0,
      (c, i) => graft.ext.BandIndex.bootstrap(s, c, i): Unit,
      (c, i) => graft.ext.BandIndex.tick(s, c, i): Unit))

  /** d09's corpus band table as a BUCKETED AT-REST artifact
    * ([[graft.ext.Dedup.writeBucketedBands]] — the layout the
    * incremental-admission probe needs to be shuffle-free on the corpus
    * side): built once per (session, dir) from the corpus slice, then
    * every admission serves against the catalog table. This is the
    * steady-state admission shape — the corpus is indexed once at
    * ingest; only the incoming batch ever derives bands from text. */
  private val bandArtifactCache =
    new SessionMemo[String, DataFrame](perIteration = false)((s, d, _) => {
      dropTable(s, Dedup.bandTableName(s"${artifactRoot(s, d)}/bands"))
      deleteArtifacts(s, d)
    })

  private def corpusBandTable(s: SparkSession, d: String): DataFrame =
    bandArtifactCache(s, d) {
      val docs = documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val tbl = Dedup.writeBucketedBands(
        docBands(docs.filter(col("doc_id") % 10 =!= 0)),
        s"${artifactRoot(s, d)}/bands", buckets = 8)
      s.table(tbl)
    }

  /** s11's id-bucketed corpus table (the at-rest layout for the
    * shuffle-free re-rank fetch) — written once per (session, dir) like
    * the other trained artifacts: a deployment buckets its corpus once
    * and serves many searches against it. */
  private val bucketedCache =
    new SessionMemo[String, DataFrame](perIteration = false)(
      (s, d, _) => dropTable(s, bucketedTable(d)))

  private def bucketedTable(d: String): String =
    "s11_corpus_b" + math.abs(d.hashCode).toString

  private def bucketedCorpus(s: SparkSession, d: String): DataFrame =
    bucketedCache(s, d) {
      val table = bucketedTable(d)
      Similarity.writeBucketedCorpus(embeddings(s, d), "vec_id",
        table, buckets = 8)
      s.table(table)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup over a corpus with duplicates (docs ∪ docs): one
    // hash-shuffle on the 32-byte content key.
    "d01_exact_dedup" -> ((s, d) => {
      val docs = documents(s, d)
      Dedup.exactGroups(docs.unionAll(docs), "doc_id", "text")
    }),

    // MinHash(8 seeds) + LSH(4 bands × 2 rows) candidate pairs over word
    // 3-gram shingles — the linear-scalable near-dup shape.
    "d02_minhash_lsh" -> ((s, d) => candidatePairs(s, d)),

    // Two-stage near-dup VERIFICATION (the production recall/precision
    // split): MinHash-LSH candidate pairs supply lexical RECALL (d02's
    // banded pipeline, shared memo — never all-pairs), then each
    // candidate is verified by embedding cosine ≥ 0.1 for semantic
    // PRECISION — the standard "cheap sketch proposes, dense vector
    // disposes" pipeline run before collapsing near-dup clusters.
    // Scale shape: the pair stream is near-dup-sized (LSH bands bound
    // it), and the verify step is two id-keyed equi-joins against the
    // normed embedding table — a pair-stream-sized shuffle, never a
    // corpus×corpus product; at 100 TB both joins co-locate on the id
    // the pair stream already carries.
    "d12_lsh_cosine_verified" -> ((s, d) => {
      val n = Similarity.withNorm(embeddings(s, d), "vec_id", "embedding")
      val ea = n.select(col("vec_id").as("a_id"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      val eb = n.select(col("vec_id").as("b_id"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
      candidatePairs(s, d)
        .join(ea, "a_id").join(eb, "b_id")
        .select(col("a_id"), col("b_id"), col("n_bands"),
          Similarity.cosine(col("emb_a"), col("emb_b"),
            col("nrm_a"), col("nrm_b")).as("cos_r"))
        .filter(col("cos_r") >= 0.1)
    }),

    // 16-bit SimHash fingerprints + bucket occupancy.
    "d03_simhash" -> ((s, d) => {
      val words = documents(s, d).select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      // bucket occupancy via the shared de-skewed count
      // (Dedup.keyedCount), not a count window: a hot bucket IS the
      // near-dup mass this query exists to surface, and a window
      // would buffer all of it in one task (the d04/t29 de-skew)
      val sh = Dedup.simhash(words, "doc_id", "word")
      Dedup.keyedCount(sh, Seq("simhash"), "n_bucket", Seq("doc_id"))
        .select(col("doc_id"), col("simhash"), col("n_bucket"))
    }),

    // Word-bigram Jaccard similarity across a bounded pair set, with the
    // hot-gram guard (grams in >20 of the 40 docs are stop-grams and are
    // dropped before the pair join — the same cap that keeps this linear
    // at corpus scale).
    "d04_ngram_jaccard" -> ((s, d) => {
      val grams = documents(s, d).filter(col("doc_id") < 40)
        .select(col("doc_id"),
          explode(TextAnalysis.wordShingles(col("text"), 2)).as("g"))
        .distinct()
      Dedup.ngramJaccardPairs(grams, "doc_id", "g",
        maxDocFreq = 20, minJaccard = 0.1)
    }),

    // SEMANTIC dedup (SemDeDup): trained k-means cells bound the pairwise
    // cosine to within-cell work, pairs >= 0.2 resolve to clusters — the
    // embedding-space analog of d06's lexical near-dup clusters. Shares
    // the trained quantizer memo with s07/s08 (train once, serve many).
    // The oracle replicates semanticPairs' maxCell=4096 degenerate-cell
    // drop, so parity holds by construction even on data where a cell
    // overflows the cap (not just at gate scale where none does).
    "d08_semantic_dedup" -> ((s, d) => {
      val pairs = Dedup.semanticPairs(embeddings(s, d),
        trainedCentroids(s, d), "vec_id", "embedding", minCos = 0.2)
      Dedup.resolveClusters(pairs)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"))
    }),

    // INCREMENTAL dedup admission: every 10th doc arrives as the new
    // batch (scale-invariant batch ≪ corpus split) and is admitted
    // against the existing corpus's PERSISTED band table — any shared
    // band drops the newcomer, survivors dedup among themselves. The
    // corpus side is the bucketed at-rest artifact (indexed once at
    // ingest; its text is never re-read), so the probe's semi-join
    // shuffles only the incoming batch — the steady-state admission
    // shape, and the plan AnalyticsAndPlanSpec asserts.
    "d09_incremental_dedup" -> ((s, d) => {
      // spread the md5-heavy shingling across all cores (same rationale
      // as the d02 pair memo — the doc table is a single small split)
      val docs = documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      Dedup.incrementalKeep(
        docBands(docs.filter(col("doc_id") % 10 === 0)),
        corpusBandTable(s, d), "doc_id")
    }),

    // Admission against the MAINTAINED band index — d09's steady-state
    // shape with the corpus side kept fresh by the change feed instead
    // of rebuilt: after a takedown and a copy append landed on the
    // corpus lake, one tick mirrored them into the bands lake (deletes
    // as deletion vectors, inserts as one band-partitioned append), and
    // the batch admits against that evolved artifact. The oracle
    // recomputes bands one-shot over the corpus' FINAL image, so a
    // leaked band row from a deleted doc, a missed insert, or a drifted
    // bkey anywhere fails the admission hash.
    "d11_maintained_dedup" -> ((s, d) => {
      val (_, index) = maintainedBandIndex(s, d)
      val batch = documents(s, d)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 10 === 0)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      Dedup.incrementalKeep(docBands(batch),
        graft.ext.BandIndex.read(s, index), "doc_id")
    }),

    // Near-dup cluster resolution: connected components (iterative
    // min-label propagation) over the shared MinHash-LSH candidate pairs.
    "d06_neardup_clusters" -> ((s, d) => {
      neardupClusters(s, d)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // End-to-end dedup output: the keep-list. Non-keeper members of every
    // near-dup cluster are anti-joined away — what a training pipeline
    // actually feeds downstream.
    "d07_dedup_keep" -> ((s, d) => {
      val drop = neardupClusters(s, d)
        .filter(col("cluster") =!= col("id"))
        .select(col("id"))
      val docs = documents(s, d)
      docs.join(drop, docs("doc_id") === drop("id"), "left_anti")
        .select(col("doc_id"))
    }),

    // Quality-aware dedup: each near-dup cluster keeps its LONGEST
    // member (tie → smallest id), not an arbitrary representative —
    // the "keep the best copy" variant real pipelines run (d07 keeps
    // by id). One argmax aggregate over the memoized cluster labels:
    // max(struct(n_chars, -id)) is the bounded per-group state; no
    // sort, no second scan.
    "d10_dedup_longest" -> ((s, d) => {
      val cl = neardupClusters(s, d)
      val docs = documents(s, d)
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), col("n_chars"))
      docs.join(cl, docs("doc_id") === cl("id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("cluster"), col("doc_id")).as("cl"))
        .groupBy(col("cl"))
        .agg(max(struct(col("n_chars"),
          (-col("doc_id")).as("neg_id"))).as("best"))
        .select((-col("best.neg_id")).as("doc_id"),
          col("best.n_chars").as("n_chars"))
    }),

    // Embedding near-dup: label-blocked pairwise cosine, global top-20.
    "d05_embedding_neardup" -> ((s, d) => {
      Similarity.blockedPairs(embeddings(s, d), "vec_id", "embedding", "label")
        .orderBy(col("cos_r").desc, col("a_id").asc, col("b_id").asc)
        .limit(20)
    }),

    // Brute-force cosine top-5 for a sampled query set (ANN baseline).
    "s01_cosine_topk" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 5)
    }),

    // Sign-bit LSH (8 bits) bucketed ANN top-3 — the scale path.
    "s02_lsh_topk" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.lshTopK(emb,
        emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 8, 3)
    }),

    // IVF-bucketed ANN top-3 (nprobe=1): deterministic centroid subset,
    // inner-product coarse quantizer, per-cell inverted-list search.
    "s03_ivf_topk" -> ((s, d) => {
      val emb = embeddings(s, d)
      val centroids = emb.filter(col("vec_id") % 97 === 1)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 50 === 0),
        centroids, "vec_id", "embedding", 3)
    }),

    // IVF with multiprobe (nprobe=2): queries search their two nearest
    // cells — the recall-recovery lever when the coarse quantizer splits
    // a query's true neighbors across a cell boundary. The probed cell
    // assignment rides the bounded TopK Aggregator (shuffle carries
    // nprobe rows per vector).
    "s06_ivf_nprobe2" -> ((s, d) => {
      val emb = embeddings(s, d)
      val centroids = emb.filter(col("vec_id") % 97 === 1)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Similarity.ivfTopKProbed(emb, emb.filter(col("vec_id") % 50 === 0),
        centroids, "vec_id", "embedding", 3, 2)
    }),

    // IVF with TRAINED centroids: the k-means training stage (md5-seeded,
    // 2 Lloyd iterations, 6-dp-rounded recompute — fully deterministic)
    // feeding the same inverted-list search as s03. Gates the one stage
    // a real ANN pipeline must run before any IVF query can exist.
    "s07_ivf_trained" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 50 === 0),
        trainedCentroids(s, d), "vec_id", "embedding", 3)
    }),

    // Trained centroids COMPOSED with multiprobe: the full production
    // ANN pipeline — train the quantizer, index the corpus into single
    // cells, probe each query's top-2 trained cells. Same machinery as
    // s06 with s07's centroids; oracle chains both unrolled stages.
    "s08_ivf_trained_probed" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.ivfTopKProbed(emb, emb.filter(col("vec_id") % 50 === 0),
        trainedCentroids(s, d), "vec_id", "embedding", 3, 2)
    }),

    // Per-query top-5 via the typed bounded TopK Aggregator — identical
    // result to s01's Window form, but the shuffle carries k rows per
    // group (bounded partial buffers) instead of sorting every scored
    // pair per query: the heap path for per-group top-k at scale.
    "s04_topk_agg" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val c = Similarity.withNorm(emb, "vec_id", "embedding")
        .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
          col("nrm").as("b_nrm"))
      val q = Similarity.withNorm(
        emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding")
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))
      val scored = c.join(broadcast(q), col("query_id") =!= col("b_id"))
        .select(col("query_id"),
          col("b_id"),
          Similarity.cosine(col("q_emb"), col("b_emb"),
            col("q_nrm"), col("b_nrm")).as("cos_r"))
        .as[(Long, Long, Double)]
      scored.groupByKey(_._1)
        .mapValues(t => graft.ext.TopKAggregator.Scored(t._2, t._3))
        .agg(new graft.ext.TopKAggregator.TopK(5).toColumn.name("top"))
        .toDF("query_id", "top")
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"),
          col("col.id").as("b_id"),
          (col("pos") + 1).cast("int").as("rank"),
          col("col.score").as("cos_r"))
    }),

    // ANN quality as a gated invariant: recall@3 of the two approximate
    // paths (sign-bit LSH, IVF) against the brute-force ground truth,
    // as one exact integer-ratio per method (total hits / total truth —
    // a single IEEE division, bit-stable against the oracle).
    "s05_ann_recall" -> ((s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val truth = Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", 3)
        .select(col("query_id"), col("b_id"))
      val lsh = Similarity.lshTopK(
        emb, queries, "vec_id", "embedding", 8, 3)
        .select(col("query_id"), col("b_id"))
      val centroids = emb.filter(col("vec_id") % 97 === 1)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val ivf = Similarity.ivfTopK(
        emb, queries, centroids, "vec_id", "embedding", 3)
        .select(col("query_id"), col("b_id"))
      // ONE pass over every pipeline AND one exchange for the
      // intersection: the three (query, candidate) sets union with
      // per-method flag columns and fold in a single groupBy —
      // max(flag) per pair gives exactly the distinct+left-join
      // semantics the previous shape used (duplicate pairs, which the
      // top-k contract says don't exist anyway, collapse to one
      // flagged row), but as ONE shuffle instead of two flag joins
      // plus two distinct exchanges (round-16 ledger: s05 was purely
      // stage-count-bound, 14 stages at the per-action floor).
      val tagged = truth.select(col("query_id"), col("b_id"),
          lit(1).as("t"), lit(0).as("l"), lit(0).as("i"))
        .unionAll(lsh.select(col("query_id"), col("b_id"),
          lit(0).as("t"), lit(1).as("l"), lit(0).as("i")))
        .unionAll(ivf.select(col("query_id"), col("b_id"),
          lit(0).as("t"), lit(0).as("l"), lit(1).as("i")))
      val flagged = tagged
        .groupBy(col("query_id"), col("b_id"))
        .agg(max(col("t")).as("t"), max(col("l")).as("l"),
          max(col("i")).as("i"))
        .agg(sum(col("t")).cast("bigint").as("truth_n"),
          sum(col("t") * col("l")).as("lsh_hits"),
          sum(col("t") * col("i")).as("ivf_hits"))
      def methodStruct(method: String, hits: org.apache.spark.sql.Column) =
        struct(lit(method).as("method"),
          hits.cast("bigint").as("hits"),
          col("truth_n").cast("bigint").as("truth_n"),
          (hits.cast("double") / col("truth_n").cast("double"))
            .as("recall"))
      flagged.select(explode(array(
          methodStruct("lsh", col("lsh_hits")),
          methodStruct("ivf", col("ivf_hits")))).as("r"))
        .select(col("r.method"), col("r.hits"), col("r.truth_n"),
          col("r.recall"))
    }),

    // Language-ID heuristic confusion matrix.
    "t01_lang_id" -> ((s, d) => {
      documents(s, d)
        .select(col("lang"),
          TextAnalysis.predictedLang(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Quality scoring per document.
    "t02_quality_score" -> ((s, d) => {
      documents(s, d).select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("n_tok"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    }),

    // Token counting: whitespace + BPE-ish regex.
    "t03_token_counts" -> ((s, d) => {
      documents(s, d).select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
    }),

    // Rolling-hash document fingerprint (min-sampled word-5-gram md5).
    "t04_fingerprint" -> ((s, d) => {
      documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    }),

    // Within-document repetition ratio (duplicate word-bigram fraction) —
    // gram array projected once, then measured (no expression-level CSE).
    "t05_repetition" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.wordShingles(col("text"), 2).as("grams"))
        .select(col("doc_id"),
          TextAnalysis.repetitionRatio(col("grams")).as("rep_ratio"))
    }),

    // TF-IDF top-3 terms per document: term frequency × ln(N/df); df and
    // N computed distributively (one shuffle on word, broadcast N).
    "t06_tfidf_terms" -> ((s, d) => {
      val docs = documents(s, d)
      val words = docs.select(col("doc_id"),
        explode(TextAnalysis.wsTokens(col("text"))).as("word"))
      val tf = words.groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      // document frequency via the shared de-skewed count
      // (Dedup.keyedCount) on one reused word exchange — never
      // count().over(Window.partitionBy(word)): a stop word's
      // partition holds one row per CONTAINING DOC, so the window
      // buffers ~corpus-size rows in one task, while the aggregate
      // partial-combines map-side (the d04/t29 de-skew; same shuffle
      // count as the window had)
      val scored = Dedup.keyedCount(tf, Seq("word"), "df",
          Seq("doc_id", "tf"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"),
          round(col("tf") *
            log(col("n_docs").cast("double") / col("df").cast("double")), 6)
            .as("tfidf"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("word").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("word"), col("rank"), col("tfidf"))
    }),

    // Multimodal columns: binary payload + typed metadata, metadata-only
    // projection (payload column pruned at the parquet scan in real use).
    "m01_multimodal_meta" -> ((s, d) => {
      val media = Multimodal.asMediaTable(documents(s, d), "doc_id", "text",
        "source")
      media.select(col("media_id"), col("meta.mime").as("mime"),
        octet_length(col("payload")).as("byte_len"),
        md5(col("payload")).as("checksum"))
    }),

    // Media CONTENT dedup — the blob-store shape of d01: the same assets
    // land twice under distinct ids (re-ingest), duplicates resolve by
    // payload checksum WITHIN mime type (cross-type hash collisions never
    // merge), and the report is what storage dedup actually bills —
    // keeper id, copy count, bytes reclaimed. One hash-groupBy over
    // (mime, md5(payload)); at 100 TB the payload bytes stream through
    // the hash and only 16-byte digests shuffle.
    "m06_media_dedup" -> ((s, d) => {
      val media0 = Multimodal.asMediaTable(documents(s, d), "doc_id",
        "text", "source")
      val media = media0.unionAll(media0.select(
        (col("media_id") + 1000000L).as("media_id"),
        col("payload"), col("meta")))
      media
        .groupBy(col("meta.mime").as("mime"),
          md5(col("payload")).as("checksum"))
        .agg(min(col("media_id")).as("keep_id"),
          count(lit(1)).as("n_copies"),
          (sum(octet_length(col("payload"))) -
            max(octet_length(col("payload")))).cast("bigint")
            .as("bytes_reclaimed"))
        .filter(col("n_copies") > 1)
    }),

    // HLL sketch (custom TypedImperativeAggregate): the estimate itself is
    // approximate, so the gate checks the exact count plus the in-query
    // accuracy envelope (deterministic: fixed hash seed).
    "a01_hll_sketch" -> ((s, d) => {
      import graft.functions.HyperLogLog.hll_distinct
      documents(s, d)
        .agg(countDistinct(col("text")).as("exact"),
          hll_distinct(col("text")).as("est"))
        .select(col("exact"),
          (abs(col("est") - col("exact")) / col("exact") < 0.05)
            .as("within_5pct"))
    }),

    // Grouped HLL — the shape that matters at scale: per-group sketches
    // built from map-side partials and MERGED across partitions (the
    // TypedImperativeAggregate merge path), never a re-scan per group.
    // Gated a01-style: exact cardinality + within-tolerance boolean.
    "a03_hll_grouped" -> ((s, d) => {
      import graft.functions.HyperLogLog.hll_distinct
      events(s, d).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact"),
          hll_distinct(col("user_id").cast("string")).as("est"))
        .select(col("event_type"), col("exact"),
          (abs(col("est") - col("exact")) / col("exact") < 0.05)
            .as("within_5pct"))
    }),

    // KMV bottom-k sketches — the MERGEABLE set-operation sketch HLL
    // can't provide: per-source vocabulary sketches merge pairwise and
    // estimate cross-source Jaccard overlap (the cheap pre-pass before
    // committing to a full cross-source dedup). Fully deterministic
    // (48-bit md5 order), so the estimates are hash-gated EXACTLY, not
    // within a tolerance.
    // r21: the corpus feeds the sketch one row per DOC (split array
    // folded inside the bounded aggregate) — the explode that
    // materialized every token as a row before the aggregate is gone;
    // at corpus scale the sketch pass's row count drops by ~avg doc
    // length (guide §4/§2).
    "a04_kmv_jaccard" -> ((s, d) => {
      val toks = documents(s, d).select(col("source"),
        split(col("text"), " ").as("words"))
      KMV.pairwiseJaccard(
        KMV.sketchTokens(toks, "source", col("words"), 64), "source", 64)
    }),

    // KMV distinct-count estimates per source from the same sketch shape
    // ((k−1)·2^48/θ_k; exact count when the group holds < k values).
    "a05_kmv_distinct" -> ((s, d) => {
      val toks = documents(s, d).select(col("source"),
        split(col("text"), " ").as("words"))
      KMV.estimateDistinct(
        KMV.sketchTokens(toks, "source", col("words"), 64), "source", 64)
    }),

    // Heavy hitters (Misra-Gries candidates → exact verify): all words
    // with frequency ≥ 2% of the corpus, exact counts — without a full
    // vocabulary shuffle. The sketch pass carries ≤ k counters per
    // partial buffer; only candidate-matching rows reach the counting
    // shuffle. Hash-gated EXACTLY against a plain GROUP BY oracle (the
    // two-pass contract: sketch error never reaches the answer).
    "a06_heavy_hitters" -> ((s, d) => {
      // tokens stay an ARRAY into the sketch pass (r21, the a04/a05
      // lesson): the bounded Misra-Gries aggregate folds each doc's
      // token array directly, so no Generate/explode materializes
      // every token as a row under it — only the exact verify pass
      // (which counts token rows) explodes. Same population:
      // array_remove(split, "") ≡ the exploded stream's length>0 (only
      // the empty string has length 0), and unlike the filter() HOF it
      // stays whole-stage-codegen (HigherOrderFunction is
      // CodegenFallback — guide §4: built-ins on the hot path)
      val words = documents(s, d)
        .filter(col("text").isNotNull)
        .select(array_remove(split(col("text"), " "), "").as("words"))
      FrequentItems.heavyHittersTokens(words, "word", k = 256, phi = 0.02)
    }),

    // Per-GROUP heavy hitters (a06 per language): Misra-Gries summary
    // PER GROUP merged under one group-keyed exchange + exact verify
    // over the broadcast (group, candidate) set — the per-language /
    // per-domain vocabulary profile, never shuffling the full
    // per-(group, item) count table.
    "a10_heavy_hitters_grouped" -> ((s, d) => {
      // array-input sketch pass per group (the a06 shape): one row per
      // doc reaches the lang-keyed exchange's map side
      val words = documents(s, d)
        .filter(col("text").isNotNull && col("lang").isNotNull)
        .select(col("lang"),
          array_remove(split(col("text"), " "), "").as("words"))
      FrequentItems.groupedHeavyHittersTokens(words, "lang", "words",
        "word", k = 256, phi = 0.025)
    }),

    // Quantile sketch (the second sketch-family op beside a01's HLL):
    // percentile_approx vs the exact interpolated percentile, gated as
    // exact values + within-tolerance booleans (the a01 pattern — the
    // sketch's guarantee, not its internals, is the oracle contract).
    "a02_quantile_sketch" -> ((s, d) => {
      lineitem(s, d)
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50_exact"),
          expr("percentile(l_quantity, 0.9)").as("p90_exact"),
          expr("percentile_approx(l_quantity, 0.5, 10000)").as("p50_est"),
          expr("percentile_approx(l_quantity, 0.9, 10000)").as("p90_est"))
        .select(col("p50_exact"), col("p90_exact"),
          (abs(col("p50_est") - col("p50_exact")) <= 1.0).as("p50_ok"),
          (abs(col("p90_est") - col("p90_exact")) <= 1.0).as("p90_ok"))
    }),

    // Product quantization, encoding stage: per-subspace cell occupancy
    // of the corpus codes (m=4 subspaces × kSub=8, one deterministic
    // Lloyd round each — the s07 rules per subspace, so the code table
    // is hash-exact against 4 unrolled k-means chains in SQL). The gate
    // pins the entire train+encode pipeline: seed draw, per-subspace
    // assignment argmax, and code assembly.
    "s09_pq_codes" -> ((s, d) => {
      val (_, asn) = pqModel(s, d)
      asn.groupBy(col("sub"), col("cell"))
        .agg(count(lit(1)).as("n_vecs"))
    }),

    // PQ asymmetric-distance search (ADC): every 50th vector queries the
    // CODE table — scoring touches only (id, sub, cell) rows plus a
    // broadcast per-query lookup table, never the original vectors (the
    // memory-compression point of PQ at corpus scale). Exact-decimal
    // lookup sums make the approximate scores themselves hash-exact.
    "s10_pq_adc" -> ((s, d) => {
      val (pq, asn) = pqModel(s, d)
      val emb = embeddings(s, d)
      Similarity.adcTopK(asn, emb.filter(col("vec_id") % 50 === 0),
        pq, "vec_id", "embedding", dim = 64, m = 4, k = 5)
    }),

    // PQ two-stage search over an ID-BUCKETED corpus at rest: ADC
    // shortlist (compressed domain, codes only) → exact re-rank fetching
    // ONLY the shortlisted vectors. The corpus table is bucketed by
    // vec_id (writeBucketedCorpus), so the fetch join shuffles the
    // Q·shortlist candidate rows to the corpus's buckets — never the
    // corpus itself (plan property asserted in AnalyticsAndPlanSpec; at
    // 10⁹ vectors the corpus-side shuffle would BE the job).
    "s11_pq_bucketed_rerank" -> ((s, d) => {
      val (pq, asn) = pqModel(s, d)
      Similarity.pqSearch(asn,
        embeddings(s, d).filter(col("vec_id") % 50 === 0),
        pq, bucketedCorpus(s, d), "vec_id", "embedding",
        dim = 64, m = 4, k = 5, shortlist = 20)
    }),

    // Scalar (int8) quantization search — the third compression lane
    // beside IVF and PQ: per-dimension min/max bounds and the corpus
    // code table are AT-REST artifacts (trained/derived once per
    // corpus, published via the versioned-pointer protocol), so the
    // measured path is the SERVE path: quantize the bounded query set,
    // scan the 64-byte code table (4x less I/O than the floats), rank
    // by the EXACT integer dot of codes (bit-deterministic, no
    // float-sum bridge).
    "s18_sq_topk" -> ((s, d) => {
      val ((mins, scales), codes) = sqModel(s, d)
      Similarity.sqTopKServed(codes,
        embeddings(s, d).filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", mins, scales, k = 5)
    }),

    // FILTERED vector search (the "where lang = 'en'" of retrieval):
    // the metadata predicate restricts the CORPUS side before any
    // scoring — pre-filtering, the exact-recall strategy — so the
    // filter reaches the parquet scan and the pair count shrinks by
    // the filter's selectivity instead of post-filtering a top-k that
    // may then run dry. Same bounded-broadcast shape as s01.
    "s13_filtered_ann" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.bruteForceTopK(emb.filter(col("label").isin(1, 2)),
        emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 5)
    }),

    // MAINTAINED IVF index serving a LIVE corpus: the inverted lists
    // were bootstrapped once, then a merge-on-read takedown and an
    // append evolved the corpus and ONE change-feed tick mirrored them
    // into the postings (deletes as postings deletion vectors, inserts
    // as one cell-assigned exactly-once append) — the search here reads
    // only the probed cells' partitions of the maintained artifact,
    // never the corpus. The oracle recomputes one-shot IVF over the
    // corpus' final image, so a tick that missed a retraction, double-
    // applied an insert, or mis-assigned a cell fails the hash.
    "s14_maintained_ivf" -> ((s, d) => {
      val (corpus, index) = maintainedIndex(s, d)
      val queries = graft.sources.History.readPinned(s, corpus)
        .filter(col("vec_id") % 50 === 0)
      graft.ext.VectorIndex.searchTopK(s, index, queries,
        "vec_id", "embedding", s14Centroids(s, d), k = 3)
    }),

    // MAINTAINED BM25 index serving a LIVE corpus — the lexical
    // counterpart of s14: postings/doclens lakes + exact df/stats
    // rollups advanced by one change-feed tick after a DV takedown and
    // an append; the search reads the query docs' postings
    // (bloom-pruned), the rollups, and only the query terms' bucket
    // partitions. The oracle recomputes one-shot BM25 over the final
    // corpus image, so a missed df retraction, a stale avgdl, or a
    // leaked posting fails the hash.
    "s15_maintained_bm25" -> ((s, d) => {
      val (corpus, index) = maintainedLexIndex(s, d)
      val qIds = graft.sources.History.readPinned(s, corpus)
        .filter(col("doc_id") % 50 === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      // dfCapInv = 1: the synthetic corpus has a ~31-word vocabulary
      // where all but one term sit at df ≈ 0.75·N — the production cap
      // (4) would empty the vocabulary and make the gate vacuous, so
      // the gate ranks over the FULL vocabulary instead, which also
      // stresses every maintained df row; the cap's bounding behavior
      // itself is covered by LexicalIndexSpec
      graft.ext.LexicalIndex.searchTopK(s, index, qIds, k = 10,
          dfCapInv = 1)
        .select(col("query_id"), col("b_id"), col("rank"),
          col("score").cast("double").as("score"))
    }),

    // MAINTAINED LM model table serving a LIVE corpus — the model side
    // of t25's bigram quality filter kept exact under corpus change:
    // after a merge-on-read takedown and an append, ONE change-feed
    // tick retracted the deleted docs' grams and added the new docs'
    // (cost = the changed documents; the corpus is never rescanned).
    // The oracle recomputes the counts one-shot over the final image —
    // any drifted cell in the vocabulary-sized table fails the hash.
    "s16_maintained_lm" -> ((s, d) => {
      val (_, base) = maintainedLm(s, d)
      graft.ext.LmRollup.read(s, s"$base/counts")
        .select(col("w1"), col("w2"), col("n_rows"))
    }),

    // LM quality scoring SERVED from the maintained model (the t25
    // filter in production): query docs from the live corpus score
    // against the ticked bigram/unigram tables — c12 joins, context
    // counts one vocabulary-sized aggregation, vocab the unigram row
    // count. The oracle recomputes model + scores one-shot over the
    // final image, so a stale model cell or a drifted smoothing term
    // anywhere fails the per-doc hash.
    "s17_lm_score_served" -> ((s, d) => {
      val (corpus, base) = maintainedLm(s, d)
      val q = graft.sources.History.readPinned(s, corpus)
        .filter(col("doc_id") % 50 === 0)
      graft.ext.LmRollup.scoreDocs(s, s"$base/counts", s"$base/uni",
        q, "doc_id", "text")
    }),

    // Hybrid retrieval (the RAG first stage): a doc-as-query BM25 arm
    // over the documents table and a brute-force cosine arm over the
    // aligned embeddings table, each ranked top-20 per query, fused by
    // reciprocal-rank fusion (1/(60+rank), no score calibration), final
    // top-10. Both arms broadcast the bounded query set against the
    // corpus; the lexical candidates come from a df-capped posting-list
    // join (stopword lists never join); fusion touches ≤ 40 rows per
    // query. Exercises the two retrieval subsystems COMPOSED the way a
    // retrieval stack actually runs them.
    "s12_hybrid_rrf" -> ((s, d) => {
      val emb = embeddings(s, d)
      val lex = HybridRetrieval.docQueryBm25TopK(
        documents(s, d), col("doc_id") % 50 === 0, 20)
      val dense = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 20)
      HybridRetrieval.rrfFuse(lex, dense, 10)
    }),

    // Grouped quantile sketches — a02's sketch with per-group partials
    // MERGED across partitions (the a03 pattern for quantiles): exact
    // interpolated percentiles per group + the sketch's within-tolerance
    // booleans. At scale each partial buffer is one bounded sketch per
    // group; the shuffle never carries value rows.
    "a07_quantile_grouped" -> ((s, d) => {
      events(s, d).groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50_exact"),
          round(expr("percentile(value, 0.9)"), 6).as("p90_exact"),
          expr("percentile_approx(value, 0.5, 10000)").as("p50_est"),
          expr("percentile_approx(value, 0.9, 10000)").as("p90_est"))
        .select(col("event_type"), col("p50_exact"), col("p90_exact"),
          // approx returns a DATA value (no interpolation): on a small
          // group the nearest value sits a local-gap away from the
          // interpolated exact, so the tolerance scales with the value
          // (2%) with an absolute floor for near-zero percentiles
          (abs(col("p50_est") - col("p50_exact")) <=
            greatest(lit(1.0), abs(col("p50_exact")) * 0.02)).as("p50_ok"),
          (abs(col("p90_est") - col("p90_exact")) <=
            greatest(lit(1.0), abs(col("p90_exact")) * 0.02)).as("p90_ok"))
    }),

    // BM25 retrieval over the corpus (Robertson–Spärck Jones; the
    // ranking a data pipeline runs to select training documents against
    // a query/topic): per-(doc, term) scores assemble from one token
    // scan — tf via a (doc, term)-bounded aggregate, df/N/avgdl as
    // broadcast scalars — and the top-k lands via sort+limit
    // (TakeOrderedAndProject: per-partition heads, never a global
    // sort at scale). Determinism: each term score rounds to 6 dp then
    // bridges to DECIMAL(18,6), so the per-doc sum is EXACT and
    // order-independent — the one place BM25 could drift between
    // engines (float sum order) is removed, and the result hash-gates.
    "t19_bm25" -> ((s, d) => {
      val terms = Seq("join", "vector", "stream")
      val docs = documents(s, d)
      val words = docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(TextAnalysis.wsTokens(col("text"))).as("word"))
      // dl = tokens per doc = size of the token ARRAY (r21): the former
      // explode + groupBy(doc_id) materialized every token as a row and
      // shuffled the count back together — one full corpus explode +
      // exchange for a number the un-exploded row already carries.
      // count(1)-over-explode ≡ size(array) exactly (explode drops
      // nothing, split of a non-null string is never empty).
      val dl = docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("total_dl"))
      val tf = words.filter(col("word").isin(terms: _*))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val avgdl = col("total_dl").cast("double") / col("n_docs").cast("double")
      val idf = log((col("n_docs").cast("double") - col("df") + 0.5) /
        (col("df").cast("double") + 0.5) + 1.0)
      val perTerm = tf.join(broadcast(dfreq), "word")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .select(col("doc_id"),
          round(idf * (col("tf").cast("double") * 2.2) /
            (col("tf").cast("double") +
              lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double")
                / avgdl)), 6)
            .cast("decimal(18,6)").as("ts"))
      val scored = perTerm.groupBy(col("doc_id"))
        .agg(sum(col("ts")).cast("double").as("score"))
      val top = scored.orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("int"))
        .select(col("doc_id"), col("rank"), col("score"))
    }),

    // Count-Min-pruned exact frequency (the t18 recipe on the FREQUENCY
    // axis): one fixed-size CMS (depth×width counter matrix, linear-
    // sketch merge) built over the token stream broadcasts as a single
    // row; the probe filters BEFORE the counting shuffle, so only
    // tokens the sketch estimates at ≥ the threshold ever reach the
    // GROUP BY — and the estimate NEVER underestimates, so no truly-
    // frequent token is pruned. The exact recount after the prune
    // decides, removing the sketch's overestimates — composed result is
    // EXACT (oracle needs no sketch). vs a06: Misra–Gries carries a
    // k-bounded candidate BUFFER through the aggregation; CMS carries a
    // frequency MATRIX probe-able per row before any shuffle — at
    // 100 TB the prune confines the vocabulary shuffle to the frequent
    // slice (~1/threshold keys) plus the sketch's N·e/width noise tail.
    // Two jobs by design — the sketch is a SCALAR ARTIFACT: job 1
    // builds it (fixed-size aggregate), then the probe job carries the
    // bytes as a LITERAL, so generated code references one constant
    // array. (A broadcast-join column here is a trap: codegen's
    // UnsafeRow.getBinary COPIES the binary out of the joined row for
    // EVERY probe row — at 320 KB × the token stream that memcpy IS
    // the query; measured 16 s → 1 s on the sf0.1 gate.)
    "a08_cms_frequency" -> ((s, d) => {
      val words = documents(s, d)
        .filter(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
      val sk = words.agg(
        graft.functions.CountMin.cms_build(xxhash64(col("word")), 5, 8192)
          .as("cms"),
        count(lit(1)).as("n_total")).head
      val cms = lit(sk.getAs[Array[Byte]]("cms"))
      val threshold = sk.getAs[Long]("n_total") * 0.01
      words
        .filter(graft.functions.CountMin.cms_estimate(cms,
          xxhash64(col("word"))) >= threshold)
        .groupBy(col("word"))
        .agg(count(lit(1)).cast("bigint").as("cnt"))
        .filter(col("cnt") >= threshold)
        .select(col("word"), col("cnt"))
    }),

    // CMS LINEARITY through the merge surface: per-source shard
    // sketches (the map-side pre-sketch a 100 TB pipeline materializes
    // per partition/day/source) roll up via cms_merge into ONE sketch
    // whose estimates equal a global build's — then a08's prune +
    // exact-recount recipe runs off the MERGED sketch, so the gate is
    // composed-exact: a merge that lost counts would underestimate,
    // drop a frequent token, and hash-fail against the plain GROUP BY
    // oracle.
    "a09_cms_merge_prune" -> ((s, d) => {
      val words = documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
      val shards = words.groupBy(col("source"))
        .agg(graft.functions.CountMin.cms_build(
          xxhash64(col("word")), 5, 8192).as("cms"),
          count(lit(1)).as("n"))
      val sk = shards.agg(
        graft.functions.CountMin.cms_merge(col("cms")).as("cms"),
        sum(col("n")).as("n_total")).head
      val cms = lit(sk.getAs[Array[Byte]]("cms"))
      val threshold = sk.getAs[Long]("n_total") * 0.015
      words
        .filter(graft.functions.CountMin.cms_estimate(cms,
          xxhash64(col("word"))) >= threshold)
        .groupBy(col("word"))
        .agg(count(lit(1)).cast("bigint").as("cnt"))
        .filter(col("cnt") >= threshold)
        .select(col("word"), col("cnt"))
    }),

    // mapPartitions decode plumbing (deterministic stub codec): the
    // decode-stage outputs that ARE SQL-expressible (mime/byte_len/
    // checksum) — oracle-gated, proving the mapPartitions path computes
    // the same values as a relational formulation.
    "m02_media_features" -> ((s, d) => {
      val media = Multimodal.asMediaTable(documents(s, d), "doc_id", "text",
        "source")
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("mime"), col("byte_len"),
          col("checksum"))
    }),

    // The feature vector itself, exploded to scalar lanes: the stub's
    // per-lane byte sums are exact integers in float32, so the whole
    // mapPartitions decode output is oracle-checkable (round 2 left this
    // rows-only; an exactly-reproducible fake is strictly better).
    "m03_media_feature_vec" -> ((s, d) => {
      val media = Multimodal.asMediaTable(documents(s, d), "doc_id", "text",
        "source")
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), posexplode(col("feature")))
        .select(col("media_id"), col("pos").cast("int").as("lane"),
          col("col").cast("bigint").as("lane_sum"))
    }),

    // PII redaction. The synthetic corpus is PII-free, so deterministic
    // PII is injected identically on both sides — the gate then verifies
    // the redaction's regex-replacement semantics byte-for-byte (via
    // md5 of the redacted text) across engines.
    "t10_redact_pii" -> ((s, d) => {
      val noisy = documents(s, d).select(col("doc_id"),
        concat(lit("contact user"), col("doc_id"),
          lit("@example.com ref 9"), col("doc_id"), lit("00123 "),
          col("text")).as("text"))
      noisy.select(col("doc_id"),
        md5(TextAnalysis.redactPii(col("text"))).as("redacted_md5"),
        size(regexp_extract_all(col("text"),
          lit(TextAnalysis.emailPattern), lit(0))).cast("int")
          .as("n_emails"),
        size(regexp_extract_all(col("text"),
          lit(TextAnalysis.longNumPattern), lit(0))).cast("int")
          .as("n_nums"))
    }),

    // Benchmark decontamination: flag corpus documents sharing any word
    // 3-gram with a held-out "benchmark" subset. The benchmark's
    // distinct gram set is small → broadcast semi-join; the corpus side
    // is one scan + narrow explode — the shape that survives a 100 TB
    // corpus (never corpus×corpus, no shuffle of corpus grams).
    "t11_decontaminate" -> ((s, d) => {
      val docs = documents(s, d)
      val bench = docs.filter(col("doc_id") % 100 === 7)
        .select(explode(TextAnalysis.wordShingles(col("text"), 3)).as("g"))
        .distinct()
      docs.filter(col("doc_id") % 100 =!= 7)
        .select(col("doc_id"),
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("g"))
        .distinct()
        .join(broadcast(bench), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_shared"))
    }),

    // Bloom-pruned decontamination — t11's contract behind the native
    // bloom_build / bloom_might_contain surface: the benchmark grams
    // build ONE fixed-size filter (bounded partials, word-wise-OR
    // merge), broadcast as a single row; the corpus side probes BEFORE
    // its distinct shuffle, so grams that cannot be in the benchmark
    // never leave their input partition — at 100 TB that prunes the
    // dominant shuffle to the benchmark-overlap slice. The exact
    // broadcast verify join after the probe removes bloom false
    // positives, so the composed result is EXACT (oracle needs no bloom).
    // The filter is a SCALAR ARTIFACT carried as a LITERAL into the
    // probe (a08's pattern): a broadcast-join column would memcpy the
    // ~24 KB filter bytes out of the joined row per probed gram
    // (UnsafeRow.getBinary copies) — the literal is one constant array
    // in generated code.
    "t18_bloom_decontaminate" -> ((s, d) => {
      val docs = documents(s, d)
      val bench = docs.filter(col("doc_id") % 100 === 13)
        .select(explode(TextAnalysis.wordShingles(col("text"), 3)).as("g"))
        .distinct()
      val bf = lit(bench.agg(graft.functions.Bloom.bloom_build(
        xxhash64(col("g")), 20000L, 0.01).as("bf"))
        .head.getAs[Array[Byte]]("bf"))
      docs.filter(col("doc_id") % 100 =!= 13)
        .select(col("doc_id"),
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("g"))
        .filter(graft.functions.Bloom.bloom_might_contain(
          bf, xxhash64(col("g"))))
        .select(col("doc_id"), col("g"))
        .distinct()
        .join(broadcast(bench), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_shared"))
    }),

    // Cross-document boilerplate removal (the C4/RefinedWeb line-dedup
    // step, over fixed 3-word spans since the synthetic corpus has no
    // newlines): a span occurring in ≥ 5 DISTINCT documents is
    // boilerplate (headers, footers, nav chrome in real crawls) and is
    // dropped corpus-wide; the gate scores each doc's span/keep
    // accounting. Distinct-per-span rides ONE (span, doc) shuffle with
    // map-side partials; the df table joins back on span — at 100 TB a
    // df cap per shard plus the broadcast of the (tiny) boilerplate
    // set is the production shape, and t05 covers the WITHIN-doc
    // repetition axis this deliberately does not.
    "t22_boilerplate_spans" -> ((s, d) => {
      // doc_id null-guard keeps df semantics identical to the oracle's
      // COUNT(DISTINCT doc_id), which ignores NULLs
      val spans = documents(s, d)
        .filter(col("text").isNotNull && col("doc_id").isNotNull)
        .select(col("doc_id"),
          explode(TextAnalysis.tokenChunks(col("text"), 3, 0)).as("span"))
        .withColumn("span_len",
          TextAnalysis.wsTokenCount(col("span")).cast("long"))
      // ONE evaluation of the chunk+explode subtree: reduce to
      // (doc, span) occurrence stats first, then BOTH the df table and
      // the probe side derive from that aggregate (its exchange is
      // reused) — the naive distinct-then-join-back shape explodes the
      // corpus twice and shuffles raw span strings twice
      // spans shuffle as 64-bit hashes, never strings (C4 hashes its
      // lines the same way; collision odds are ~n²/2⁶⁴ — vanishing at
      // gate scale, and at 100 TB a collision merely merges two spans'
      // df, the standard accepted trade of hashed line-dedup)
      // ONE corpus-wide exchange (the t28 shape): the hashed span
      // stream shuffles by the join key `h` once — h-hash co-locates
      // every (doc_id, h) duplicate so the per-doc aggregate runs in
      // place, the df aggregate runs in place on the preserved
      // partitioning, and the df join needs no exchange on either side
      // the vacuously-true isnotnull guard keeps both join branches'
      // subtrees canonically identical (t25/t28's exchange-reuse
      // lesson: the join infers it on one side only otherwise)
      val perDocSpan = spans
        .select(col("doc_id"), xxhash64(col("span")).as("h"),
          col("span_len"))
        .filter(col("h").isNotNull)
        .repartition(col("h"))
        .groupBy(col("doc_id"), col("h"))
        .agg(count(lit(1)).as("cnt"), sum(col("span_len")).as("len_sum"))
      // the vacuous cnt/len_sum references anchor the df branch to the
      // SAME (doc_id, h) aggregate the probe side plans — without
      // them, column pruning drops span_len below the df branch's
      // exchange and the two subtrees stop canonicalizing equal (a
      // second corpus scan instead of a ReusedExchange)
      val dfreq = perDocSpan
        .filter(col("cnt") >= 1L && col("len_sum") >= 0L)
        .groupBy(col("h"))
        .agg(count(lit(1)).as("ndocs"))
      perDocSpan.join(dfreq, "h")
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_spans"),
          sum(when(col("ndocs") >= 5, col("cnt")).otherwise(0L))
            .as("n_boiler"),
          sum(when(col("ndocs") >= 5, 0L).otherwise(col("len_sum")))
            .as("kept_words"))
    }),

    // Sequence packing (concat-then-chunk): documents concatenate into
    // per-(lang, shard) token streams in ascending id order and every
    // doc reports the 512-token training sequences it lands in — the
    // deterministic window-cumsum shape that parallelizes by shard
    // (each of the 8 streams packs independently; a 100 TB stratum
    // shards to thousands of bounded sorts). A drifted start offset or
    // bin boundary anywhere in the stream fails the hash.
    // doc_id null-guard on both sides (the t22 precedent: a NULL id
    // would make the stream's tie-order engine-dependent) and pmod for
    // the shard so a negative id lands identically on both engines
    "t23_seq_packing" -> ((s, d) =>
      graft.ext.Packing.packBins(
          documents(s, d).filter(col("doc_id").isNotNull),
          "doc_id", "text",
          "lang", pmod(col("doc_id"), lit(8L)), seqLen = 512L)
        .filter(col("doc_id") % 7 === 0)), // bounded gate slice

    // Token-budget selection: per (lang, shard) stream, keep docs in
    // id order until 300 tokens — the boundary-crossing doc included
    // (soft budget). The eval-set / per-domain-quota draw that rate
    // sampling (t15) and fixed-n sampling (t21) can't express.
    "t24_token_budget" -> ((s, d) =>
      graft.ext.Packing.tokenBudget(
        documents(s, d).filter(col("doc_id").isNotNull),
        "doc_id", "text",
        "lang", pmod(col("doc_id"), lit(8L)), budget = 300L)),

    // CLOSED-LOOP mixture rebalancing: per-language keep rates derive
    // from the corpus' own token masses (downsample every language to
    // the smallest language's mass — the balanced-mixture draw), then
    // the deterministic md5-bucket predicate thins at those rates.
    // Unlike t15's static rates, the rate table here is DATA (one
    // 5-row broadcast), so the gate closes the loop: mass → rate →
    // sample → achieved mass, all hash-exact (integer outputs; the
    // rate boundary compares identical doubles on both engines).
    "t27_mixture_rebalance" -> ((s, d) => {
      val toks = documents(s, d)
        .filter(col("doc_id").isNotNull && col("lang").isNotNull)
        .select(col("doc_id"), col("lang"),
          when(col("text").isNull, lit(0))
            .otherwise(TextAnalysis.wsTokenCount(col("text")))
            .cast("bigint").as("n_tok"))
      val mass = toks.groupBy(col("lang")).agg(sum(col("n_tok")).as("m"))
      val floorMass = mass.agg(min(col("m")).as("mn_m"))
      val rates = mass.crossJoin(broadcast(floorMass)) // single row
        .select(col("lang"),
          (col("mn_m").cast("double") / col("m").cast("double"))
            .as("rate"))
      toks.join(broadcast(rates), Seq("lang"))
        .filter(TextAnalysis.md5Bucket(col("doc_id")) <
          col("rate") * 4294967296.0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tok")).cast("bigint").as("kept_tokens"))
    }),

    // Cross-source contamination matrix: pairwise Jaccard between the
    // sources' distinct word-3-gram sets — the "how much does corpus A
    // overlap corpus B" diagnostic run before mixing sources into a
    // training blend (t11/t18 gate a train corpus against a TEST set;
    // this profiles the sources against EACH OTHER). One distinct per
    // (source, gram), one gram-keyed self-join whose fan-out is
    // bounded by the source count squared (sources are tens, not
    // corpus-sized), two broadcast-sized size tables.
    "t28_source_overlap" -> ((s, d) => {
      // ONE corpus-wide exchange: the exploded (source, shingle)
      // stream shuffles by the JOIN key `g` once — g-hash co-locates
      // every (source, g) duplicate, so the distinct aggregates in
      // place on that partitioning, and both self-join sides reuse
      // the same exchange. The former distinct-on-(source,g)-then-
      // join-on-g shape planned three corpus-wide shuffles for the
      // same answer.
      // explicit (vacuously true) null guards: the self-join INFERS
      // isnotnull(g) on its two branches but the sizes branch never
      // does, and branches with different inferred filter sets
      // canonicalize differently — breaking the exchange reuse that
      // keeps this a one-scan query (t25's lesson). Stating both up
      // front makes every consumer's subtree identical.
      val fp = documents(s, d)
        .select(col("source"),
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("g"))
        .filter(col("g").isNotNull && col("source").isNotNull)
        .repartition(col("g"))
        .distinct()
      val sizes = fp.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = fp.as("a").join(fp.as("b"), Seq("g"))
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
      inter
        .join(sizes.select(col("source").as("src_a"), col("n").as("na")),
          Seq("src_a"))
        .join(sizes.select(col("source").as("src_b"), col("n").as("nb")),
          Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_shared"),
          round(col("n_shared") / (col("na") + col("nb") - col("n_shared")),
            4).as("jaccard"))
    }),

    // Exact-substring duplicate SPANS (Lee et al. 2021, "Deduplicating
    // Training Data Makes Language Models Better" — the ExactSubstr
    // dedup, adapted to word 4-grams): a gram occurring ≥ 2 times
    // CORPUS-WIDE (same-doc repeats count — the true ExactSubstr
    // criterion, vs t22's distinct-doc df) marks the 4 tokens it
    // covers as duplicated; overlapping/adjacent duplicated grams
    // merge into maximal islands (gaps-and-islands over positions) and
    // each doc reports its island count, covered-token total, and
    // longest island — the per-doc accounting a span-removal pass
    // would act on. Scale shape: positions ride ONE corpus-sized
    // exchange keyed by the 64-bit gram hash (frequency attaches as a
    // WINDOW on that partitioning — no join, no second corpus scan);
    // the doc-keyed island window then shuffles only the FILTERED
    // duplicate positions (a small fraction of the corpus), and both
    // aggregations run in place on the doc_id partitioning (grouping
    // keys are supersets). Grams shuffle as xxhash64, never strings
    // (t22's accepted hashed-line-dedup trade: a 2⁻⁶⁴-scale collision
    // merely merges two grams' counts). At 100 TB the window's
    // per-partition sort is by the same single long the exchange
    // hashes — the sort-free alternative (groupBy + exchange-reused
    // join, the t22 anchor pattern) trades it for a join; either
    // stays one corpus scan.
    "t29_dup_span_islands" -> ((s, d) =>
      Dedup.dupSpanIslands(documents(s, d), "doc_id", "text",
          n = 4, minCount = 2L)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("en") - col("st") + 1).as("dup_tokens"),
          max(col("en") - col("st") + 1).cast("bigint").as("max_island"))),

    // Exact-substring span EXCISION — the removal half of the same
    // ExactSubstr pipeline (Lee et al. remove every occurrence of a
    // duplicated span): every token a t29 island covers is cut, and
    // each doc reports its kept-token count plus an md5 of the cleaned
    // text, so a single drifted cut anywhere in the corpus fails the
    // hash. Docs whose every token is excised drop out (no cleaned
    // row), like fully-deduplicated docs drop from a cleaned corpus.
    // Scale shape: the island table is dup-sized, its per-token
    // explode is bounded by total duplicated tokens, and the excision
    // is one doc_id+position anti-join against the corpus word stream
    // — co-located on the doc id both sides already carry, never a
    // corpus×corpus product; the cleaned-text rebuild is an in-place
    // doc-keyed aggregation (array_sort over (pos, word) structs, the
    // deterministic order-restoring rebuild).
    "t30_dup_span_excision" -> ((s, d) => {
      val covered = Dedup.dupSpanIslands(documents(s, d), "doc_id", "text",
          n = 4, minCount = 2L)
        .select(col("doc_id"),
          explode(sequence(col("st"), col("en"))).as("p"))
      val words = documents(s, d)
        .filter(col("text").isNotNull && col("doc_id").isNotNull)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("w"))
      words.join(covered, Seq("doc_id", "p"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("p"), col("w")))),
            x => x.getField("w")), " ")).as("kept_hash"))
    }),

    // SURGICAL decontamination — span-level eval-overlap excision:
    // where t11/t18 DROP a training doc that shares grams with the
    // benchmark slice, this cuts exactly the overlapping SPANS and
    // keeps the rest of the doc (the Lee-et-al answer to "don't throw
    // away a 5k-token doc for one quoted benchmark sentence").
    // Positional train-side 4-grams flag on MEMBERSHIP in the eval
    // slice's distinct gram set, then the same gaps-and-islands merge
    // as t29/t30 (shared Dedup.spanIslands) yields the per-doc cut
    // accounting. Scale shape: benchmarks are MB-scale → the distinct
    // eval-gram table BROADCASTS into the probe (the train stream
    // never shuffles for it — same admission geometry as t18's bloom);
    // the only corpus-fraction exchange is the doc-keyed island window
    // over FLAGGED positions.
    "t31_surgical_decontaminate" -> ((s, d) => {
      val n = 4
      val docs = documents(s, d)
        .filter(col("text").isNotNull && col("doc_id").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("l"))
        .filter(size(col("l")) >= n)
      def grams(df: DataFrame) = df
        .select(col("doc_id"),
          posexplode(TextAnalysis.positionalShingles(col("l"), n)))
        .filter(col("col").isNotNull)
        .select(col("doc_id"), (col("pos") + 1).as("p"),
          xxhash64(col("col")).as("h"))
      val evalGrams = grams(docs.filter(col("doc_id") % 100 === 17))
        .select(col("h")).distinct()
      val flagged = grams(docs.filter(col("doc_id") % 100 =!= 17))
        .join(broadcast(evalGrams), Seq("h"), "left_semi")
        .select(col("doc_id"), col("p"))
      Dedup.spanIslands(flagged, "doc_id", n)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("en") - col("st") + 1).as("cut_tokens"),
          max(col("en") - col("st") + 1).cast("bigint").as("max_island"))
    }),

    // REAL BPE tokenization from an at-rest merges artifact: the gate
    // publishes the trained vocab (Bpe.demoMerges — Bpe.train output
    // over this corpus) through the versioned-pointer protocol, loads
    // it back, and counts subword tokens via the exact chained-replace
    // segmentation (no UDF — see Bpe). The oracle replays the
    // IDENTICAL merge chain, generated from the same constants, so a
    // drifted merge order, a separator-consumption bug, or a
    // normalization mismatch fails the hash on the first document.
    "t32_bpe_token_count" -> ((s, d) => {
      val merges = graft.ext.Bpe.loadMerges(s, bpeMergesDir(s, d))
      documents(s, d)
        .filter(col("doc_id").isNotNull && col("doc_id") % 5 === 1)
        .select(col("doc_id"),
          graft.ext.Bpe.tokenCount(col("text"), merges).as("n_bpe"))
    }),

    // Sequence packing RE-DENOMINATED in real BPE tokens (t23's
    // concat-then-chunk stream with the model's actual token counts —
    // whitespace-denominated bins mis-size every training sequence):
    // same deterministic per-(lang, shard) window, bin geometry now in
    // subword tokens from the published merges artifact.
    "t33_bpe_packing" -> ((s, d) => {
      val merges = graft.ext.Bpe.loadMerges(s, bpeMergesDir(s, d))
      graft.ext.Packing.packBins(
          documents(s, d).filter(col("doc_id").isNotNull),
          "doc_id", "text",
          "lang", pmod(col("doc_id"), lit(8L)), seqLen = 512L,
          countTokens = t => graft.ext.Bpe.tokenCount(t, merges))
        .filter(col("doc_id") % 7 === 0)
    }),

    // ExactSubstr at the PAPER's granularity (Lee et al. operate on
    // character/byte-level matches with a minimum match length, not
    // word 4-grams): t29's island pipeline in charGrams mode — grams
    // are 20-char substrings, island bounds are character positions —
    // with the min-island-length knob dropping sub-threshold matches.
    "t34_dup_span_chars" -> ((s, d) =>
      Dedup.dupSpanIslands(documents(s, d), "doc_id", "text",
          n = 20, minCount = 2L, minIslandLen = 30, charGrams = true)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("en") - col("st") + 1).as("dup_chars"),
          max(col("en") - col("st") + 1).cast("bigint").as("max_island"))),

    // BYTE-LEVEL BPE token counting (VERDICT r19 #1): the letter path
    // (t32) normalizes to [a-z ] and silently erases every non-ASCII
    // character; production tokenizers are byte-level with no lossy
    // normalization. The corpus is DERIVED non-ASCII (vowels swapped
    // to 2-byte UTF-8 accented forms — both engines apply identical
    // replaces, so the derivation cannot drift), the merges are the
    // published byte-level artifact (trained with
    // `Bpe.train(byteLevel = true)` over this derived corpus), and
    // the oracle replays the identical hex-pair chain in DuckDB.
    "t35_bpe_bytes" -> ((s, d) => {
      val merges = graft.ext.Bpe.loadMerges(s, bpeByteMergesDir(s, d))
      val accented = call_function("replace",
        call_function("replace",
          call_function("replace", col("text"), lit("a"), lit("á")),
          lit("e"), lit("ë")),
        lit("o"), lit("ø"))
      documents(s, d)
        .filter(col("doc_id").isNotNull && col("doc_id") % 5 === 2)
        .select(col("doc_id"),
          graft.ext.Bpe.byteTokenCount(accented, merges).as("n_bpe"))
    }),

    // The SQL surface of the same expression (VERDICT r19 #6):
    // bpe_token_count registered through the canonical
    // GraftFunctions list, rules passed as the inline foldable spec —
    // a SQL-first user reaches the identical codegen expression the
    // DataFrame path plans, and the count hash-matches t32's oracle
    // chain on its own document slice.
    "t36_bpe_sql_count" -> ((s, d) => {
      graft.Views.registerSqlFunctions(s)
      documents(s, d).createOrReplaceTempView("bpe_sql_docs")
      val spec = graft.ext.Bpe.demoMerges
        .map { case (l, r) => s"$l $r" }.mkString(";")
      s.sql(s"""SELECT doc_id,
                  COALESCE(bpe_token_count(text, '$spec'), 0) AS n_bpe
                FROM bpe_sql_docs
                WHERE doc_id IS NOT NULL AND doc_id % 5 = 3""")
    }),

    // Bigram-LM quality scoring (the CCNet/KenLM-style perplexity
    // filter): train an add-one-smoothed bigram model ON the corpus
    // (c12/c1 counts + vocabulary size), then score every document by
    // its mean negative log-likelihood — low = fluent/typical, high =
    // atypical/garbled, the classic LM quality gate before training.
    // Scale shape: the corpus bigram stream is aggregated ONCE, to
    // per-(doc_id, w1, w2) counts — every later stage (the model, the
    // context counts, the vocabulary, the scoring join) is bigram- or
    // vocabulary-sized, and the scan→explode→partial subtree is shared
    // through one reused exchange, so `documents` text is read exactly
    // once (plan spec-locked). The model tables grow ~log-like, not
    // with the corpus; scoring joins shuffle-keyed on (w1,w2)/(w1) —
    // never all-pairs, never driver-side. The per-bigram log term
    // bridges to DECIMAL(18,4) and multiplies by its EXACT integer
    // count, so the per-doc sum is order-exact, and the final mean
    // divides two identical numbers on both engines.
    "t25_bigram_lm" -> ((s, d) => {
      val ws = documents(s, d)
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("doc_id"), split(col("text"), " ").as("l"))
        .filter(size(col("l")) >= 2)
      val bg = ws.select(col("doc_id"),
          explode(zip_with(
            slice(col("l"), lit(1), size(col("l")) - 1),
            slice(col("l"), lit(2), size(col("l")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        // explicit (vacuously true — split() never yields nulls): the
        // scoring joins INFER per-branch isnotnull filters on their
        // join keys, and branches inferring different filter sets
        // canonicalize differently, which breaks the exchange reuse
        // that keeps this a one-scan query. Stating both up front
        // makes every consumer's subtree identical.
        .filter(col("w1").isNotNull && col("w2").isNotNull)
      // the ONE corpus-sized exchange: the raw bigram stream shuffles
      // by the DOWNSTREAM join key (w1, w2) once — that partitioning
      // satisfies the per-doc aggregate (equal (doc,w1,w2) ⇒ equal
      // (w1,w2)), the model aggregate, and the scoring join's big
      // side, so dbg, bc, and the join all compute IN-STAGE on reused
      // exchange bytes with zero further corpus-sized shuffles. (The
      // former groupBy-first shape shuffled the corpus twice: once to
      // (doc,w1,w2), once more re-keying dbg to (w1,w2) — per-doc
      // bigram multiplicity is ~1, so the map-side combine it bought
      // saved almost nothing.) The exchange output is re-read by each
      // consumer (ReusedExchange) — shuffle reads, never a re-scan of
      // the text explode, which stays exactly once (plan spec).
      val bgP = bg.repartition(col("w1"), col("w2"))
      val dbg = bgP.groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("k"))
      val bc = dbg.groupBy(col("w1"), col("w2"))
        .agg(sum(col("k")).as("c12"))
      // context counts in PLACE via a window over the model (sum of
      // c12 per w1 — identical values to the former groupBy+join,
      // minus one model-sized exchange and the join stage)
      val cc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w1"))
      // vocabulary from the model too: positions 1..n-1 land in w1 and
      // 2..n in w2, so over every kept doc the union of the model's
      // two columns IS the corpus vocabulary — no third corpus explode.
      // "Kept doc" is LOAD-BEARING: vocabulary here is defined over
      // multi-token documents, exactly the ws-level size(l) >= 2
      // filter above (which the oracle mirrors with len(split) >= 2).
      // Dropping that explicit filter would NOT change this query's
      // rows (single-token docs produce no bigrams anyway) but would
      // silently desynchronize the vocabulary definition from the
      // oracle's — keep the two filters paired.
      // The vacuous c12 >= 1 anchors the count: countDistinct is
      // duplicate-agnostic, so without a reference to c12 the
      // redundant-aggregate rewrite collapses these arms straight onto
      // the raw bigram stream — a fresh corpus scan instead of the
      // shared, reused dbg/bc stages.
      val vocab = bc.filter(col("c12") >= 1).select(col("w1").as("w"))
        .union(bc.filter(col("c12") >= 1).select(col("w2").as("w")))
        .agg(countDistinct(col("w")).as("vocab"))
      // score the MODEL rows (vocabulary-sized: one log per distinct
      // bigram, not per corpus position), then join the per-doc counts
      // against the finished lp table — the big side carries one keyed
      // join + the final aggregate, nothing else. No forced broadcast:
      // the model grows with distinct bigrams, so AQE decides (at
      // sf-scale it broadcasts; at 100 TB it shuffle-joins on (w1,w2)).
      val model = bc.withColumn("c1", sum(col("c12")).over(cc))
        .crossJoin(broadcast(vocab)) // single row by construction
        .select(col("w1"), col("w2"),
          // 4-dp term bridge: at 6 dp a 1-ULP ln() divergence between
          // engines flips the last digit when the true value sits
          // within ~1e-16 of a rounding boundary — at corpus scale a
          // handful of the millions of terms WILL land there (observed
          // at sf0.1). 4 dp widens the margin 100x; the per-doc sum
          // stays order-exact (exact decimal × exact integer count).
          round(log((col("c12") + lit(1)).cast("double") /
            (col("c1") + col("vocab")).cast("double")), 4)
            .cast("decimal(18,4)").as("lp"))
      dbg.join(model, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(sum(col("k")).cast("bigint").as("n_bigrams"),
          round((-sum(col("lp") * col("k"))).cast("double") /
            sum(col("k")), 6).as("avg_nll"))
    }),

    // Collocation extraction (pointwise mutual information over the
    // same bigram stream): the corpus-analysis step that surfaces
    // multiword expressions worth protecting from tokenization. PMI
    // compares exact integer counts through identical double
    // conversions on both engines; the global top-20 rides
    // TakeOrderedAndProject over the vocabulary-sized model table (a
    // bounded per-partition heap + driver merge of 20-row heads — no
    // corpus-wide sort), with (w1, w2) completing a total order so the
    // cut is deterministic.
    "t26_pmi_collocations" -> ((s, d) => {
      val ws = documents(s, d)
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(split(col("text"), " ").as("l"))
        .filter(size(col("l")) >= 2)
      val bg = ws.select(
          explode(zip_with(
            slice(col("l"), lit(1), size(col("l")) - 1),
            slice(col("l"), lit(2), size(col("l")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val bc = bg.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val c2 = bg.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
      val n = bg.agg(count(lit(1)).as("nb"))
      bc.filter(col("c12") >= 5)
        .join(c1, Seq("w1")).join(c2, Seq("w2"))
        .crossJoin(broadcast(n)) // single row by construction
        .select(col("w1"), col("w2"), col("c12"),
          round(log((col("c12").cast("double") * col("nb").cast("double"))
            / (col("c1").cast("double") * col("c2").cast("double"))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Fixed-size deterministic per-stratum sample: each lang keeps its
    // 20 docs with the smallest 48-bit md5 rank — a uniform sample
    // without replacement that is retry-stable and engine-portable
    // (t15's rate-based keep can't hit an exact size; eval sets and
    // human-review draws need exactly-n). The per-stratum head rides
    // the native bounded top-k aggregate (partial buffers cap at n, the
    // shuffle carries ≤ n ids per stratum per partition — never a sort
    // of the corpus), then the bounded winner set broadcast-joins back
    // for payload columns.
    "t21_fixed_sample" -> ((s, d) => {
      val docs = documents(s, d)
      val n = 20
      val h = graft.functions.Md5Prefix
        .md5_prefix(col("doc_id").cast("string"), 12).cast("double")
      val winners = docs
        .select(col("lang"), col("doc_id"), h.as("h"))
        .groupBy(col("lang"))
        .agg(graft.functions.TopKScored.top_k_scored(
          col("doc_id"), -col("h"), n).as("top"))
        .select(col("lang").as("w_lang"),
          explode(expr("transform(top, x -> x.id)")).as("w_doc_id"))
      // null-SAFE stratum match: a NULL lang is a legal stratum the
      // grouping (and the oracle's PARTITION BY) keeps — an equi-join
      // would silently drop its winners
      docs.join(broadcast(winners),
          col("lang") <=> col("w_lang") && col("doc_id") === col("w_doc_id"))
        .select(col("lang"), col("doc_id"), col("n_chars"))
    }),

    // Bloom LINEARITY through the merge surface (t18's recipe over
    // SHARD filters): the benchmark slice builds one filter PER SOURCE
    // SHARD — the shape a 100 TB pipeline materializes, since each
    // ingest partition can sketch its own slice without coordination —
    // and bloom_merge ORs them into the union filter (same build
    // params → same bit geometry). Probe + exact verify as t18, so a
    // merge that dropped bits would prune a TRUE overlap and hash-fail
    // the sketch-free oracle. Slice 17 keeps the output disjoint from
    // t11/t18.
    "t20_bloom_shard_merge" -> ((s, d) => {
      val docs = documents(s, d)
      val bench = docs.filter(col("doc_id") % 100 === 17)
        .select(col("source"),
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("g"))
        .distinct()
      val shardFilters = bench.groupBy(col("source"))
        .agg(graft.functions.Bloom.bloom_build(
          xxhash64(col("g")), 20000L, 0.01).as("bf"))
      val bf = lit(shardFilters
        .agg(graft.functions.Bloom.bloom_merge(col("bf")).as("bf"))
        .head.getAs[Array[Byte]]("bf"))
      val benchGrams = bench.select(col("g")).distinct()
      docs.filter(col("doc_id") % 100 =!= 17)
        .select(col("doc_id"),
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("g"))
        .filter(graft.functions.Bloom.bloom_might_contain(
          bf, xxhash64(col("g"))))
        .select(col("doc_id"), col("g"))
        .distinct()
        .join(broadcast(benchGrams), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_shared"))
    }),

    // Corpus profiling: per-source shape stats a pipeline reads before
    // deciding how to process a new snapshot. One hash aggregate; the
    // mean rides an integer sum so the division is bit-stable.
    "t12_corpus_profile" -> ((s, d) => {
      documents(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("text").isNull, 1L).otherwise(0L)).cast("bigint")
            .as("n_null_text"),
          countDistinct(col("lang")).cast("bigint").as("n_langs"),
          (sum(TextAnalysis.wsTokenCount(col("text")).cast("bigint"))
            .cast("double") / count(lit(1))).as("avg_tokens"),
          min(length(col("text"))).cast("int").as("min_len"),
          max(length(col("text"))).cast("int").as("max_len"))
    }),

    // Deterministic train/val/test splitting: every document lands in
    // the same split on every engine and every run — the split key is
    // an md5 bucket of the doc id (NOT rand(): resampling on stage
    // retry, and not Spark's hash(): engine-specific). Narrow, zero
    // shuffle before the per-split rollup.
    "t13_split" -> ((s, d) => {
      val bucket = TextAnalysis.md5Bucket(col("doc_id")) % 10
      documents(s, d)
        .withColumn("split",
          when(bucket < 8, "train").when(bucket === 8, "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).cast("bigint").as("n_langs"),
          sum(TextAnalysis.wsTokenCount(col("text")).cast("bigint"))
            .cast("bigint").as("total_tokens"))
    }),

    // Word-distribution entropy — the low-diversity/spam signal real
    // cleaning pipelines threshold on (boilerplate and keyword-stuffed
    // docs sit far below natural text). H = ln n − Σ c·ln c ⁄ n over the
    // per-doc word counts: ONE shuffle on (doc_id, word) with map-side
    // partials, then a per-doc agg; the identity avoids a counts⋈totals
    // self-join. Rounded to 6 dp (float sum order differs per engine).
    "t14_word_entropy" -> ((s, d) => {
      documents(s, d)
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(round(log(sum(col("c"))) -
          sum(col("c") * log(col("c"))) / sum(col("c")), 6).as("entropy"))
    }),

    // Deterministic stratified sampling — the data-mixing stage: hold
    // each language at its target keep rate via the md5-bucket predicate
    // (engine-portable, retry-stable, shuffle-free). Gated on the per-
    // stratum kept counts and token mass.
    "t15_stratified_sample" -> ((s, d) => {
      val rates = Map("en" -> 1.0, "zh" -> 0.75, "de" -> 0.5,
        "es" -> 0.5, "fr" -> 0.25)
      documents(s, d)
        .filter(TextAnalysis.stratifiedKeep(col("doc_id"), col("lang"), rates))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(TextAnalysis.wsTokenCount(col("text")).cast("bigint"))
            .cast("bigint").as("kept_tokens"))
    }),

    // Inverted index (posting lists): word → document frequency + the
    // first 20 doc ids — the search-index build step over a corpus. The
    // posting head is the BOUNDED native top-k aggregate (score =
    // -doc_id, so best-first = smallest ids), not a collect_list: a
    // stop word's full posting list is corpus-sized at 100 TB, so
    // partial buffers must cap at the head size. The distinct pass
    // guarantees one row per (word, doc) pair, so the aggregate's
    // set-dedup semantics are exact here. ONE aggregation computes both
    // df and the head — no vocabulary-sized join.
    "t16_inverted_index" -> ((s, d) => {
      val pairs = documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .select(col("word"), col("doc_id")).distinct()
      pairs.groupBy(col("word"))
        .agg(count(lit(1)).as("df"),
          graft.functions.TopKScored.top_k_scored(
            col("doc_id"), -col("doc_id").cast("double"), 20).as("top"))
        .select(col("word"), col("df"),
          array_join(expr("transform(top, x -> CAST(x.id AS STRING))"), ",")
            .as("postings_head"))
    }),

    // Temperature-based mixture weights — the data-mixing planner: each
    // source's sampling weight ∝ (token mass)^(1/2) normalized over the
    // corpus (the standard temperature re-weighting that up-samples
    // small high-quality sources). Exact-decimal normalizer so the
    // double ratios are bit-stable cross-engine. One tiny aggregation;
    // the normalizer is a broadcast single row.
    "t17_mixture_weights" -> ((s, d) => {
      val stats = documents(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokenCount(col("text")).cast("bigint"))
            .cast("bigint").as("n_tokens"))
        .withColumn("w_raw",
          round(sqrt(col("n_tokens").cast("double")), 6)
            .cast("decimal(28,6)"))
      val tot = stats.agg(sum(col("w_raw")).as("w_tot"))
      stats.crossJoin(broadcast(tot)) // single row by construction
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("w_raw").cast("double") / col("w_tot").cast("double"), 6)
            .as("weight"))
    }),

    // Composed corpus-cleaning gate: the t01/t02/t05 signals as one
    // filter — language agreement, quality floor, repetition ceiling —
    // summarized per language (the training-data cleaning pipeline).
    "t09_clean_corpus" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.predictedLang(col("text")).as("pred_lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.wordShingles(col("text"), 2).as("grams"))
        .withColumn("rep_ratio", TextAnalysis.repetitionRatio(col("grams")))
        .filter(col("pred_lang") === col("lang") &&
          col("quality") >= 0.65 && col("rep_ratio") <= 0.05)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"))
    }),

    // Context-window chunking: 8-token windows with 2-token overlap —
    // the fixed-size chunker feeding a training pipeline. Zero shuffle;
    // one row explodes to its chunk rows.
    "t07_chunking" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokenChunks(col("text"), 8, 2))
            .as(Seq("chunk_no", "chunk")))
    }),

    // Token-budget sharding: contiguous docs packed into ~2000-token
    // shards per source (running pre-sum over a deterministic order —
    // the sort-based packing shape; partition by source keeps the
    // ordering window bounded at scale).
    "t08_token_shards" -> ((s, d) => {
      TextAnalysis.tokenShards(
        documents(s, d).select(col("source"), col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_tok")),
        "source", "doc_id", "n_tok", budget = 2000.0)
    }),

    // Frame-sampling plumbing (one input row → n frame rows inside
    // mapPartitions): frame boundaries are pure arithmetic on the payload
    // length, so the per-frame byte lengths ARE oracle-expressible —
    // gating the row fan-out and span math end-to-end.
    "m04_frame_sample" -> ((s, d) => {
      val media = Multimodal.asMediaTable(documents(s, d), "doc_id", "text",
        "source")
      Multimodal.sampleFrames(media, 4).toDF()
        .select(col("media_id"), col("frame_no"),
          octet_length(col("frame")).as("frame_len"))
    }),

    // Resize stub, oracle-gated byte-for-byte at probe positions: the
    // stride-sampling arithmetic ((j·len)/out floor division) must agree
    // with the relational formulation exactly; bytes are compared via
    // hex-dump extraction, the same trick as m03.
    "m05_resize" -> ((s, d) => {
      val media = Multimodal.asMediaTable(documents(s, d), "doc_id", "text",
        "source")
      def byteAt(k: Int) =
        conv(substring(hex(col("payload_resized")), 2 * k + 1, 2), 16, 10)
          .cast("int").as(s"b$k")
      Multimodal.resizeAll(media, 12, 12)
        .select(col("media_id"),
          octet_length(col("payload_resized")).as("r_len"),
          byteAt(0), byteAt(71), byteAt(143))
    })
  )

  private val dotExpr =
    "list_sum(list_transform(range(1,65), i -> CAST(%s.embedding[i] AS DOUBLE) * CAST(%s.embedding[i] AS DOUBLE)))"

  /** Unrolled deterministic k-means (md5-ordered seed + `iters` Lloyd
    * rounds) as a DuckDB WITH-chain mirroring
    * [[graft.ext.Similarity.trainCentroids]] step for step. Returns the
    * CTE text and the name of the final centroid CTE (`c_id, c_emb`
    * with DOUBLE[] coordinates rounded to 6 dp). */
  /** @param dim embedding width the chain operates on
    * @param src  relation holding (vec_id, embedding[dim]) — a CTE name
    *             for subspace slices, `embeddings` for the full space
    * @param sfx  CTE-name suffix so several chains coexist in one WITH
    *             (the PQ oracle runs one chain per subspace) */
  private def kmeansCtes(k: Int, iters: Int, dim: Int = 64,
                         src: String = "embeddings",
                         sfx: String = ""): (String, String) = {
    val dotAC =
      s"list_sum(list_transform(range(1,${dim + 1}), i -> CAST(a.embedding[i] AS DOUBLE) * ct.c_emb[i]))"
    val sb = new StringBuilder(
      s"""c${sfx}0 AS (
         SELECT vec_id AS c_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb
         FROM $src ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         LIMIT $k)""")
    for (t <- 0 until iters) {
      sb.append(s""",
        asn$sfx$t AS (
          SELECT a.vec_id, ct.c_id,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id
              ORDER BY $dotAC DESC, ct.c_id ASC) AS rn
          FROM $src a CROSS JOIN c$sfx$t ct),
        mem$sfx$t AS (SELECT vec_id, c_id AS cell FROM asn$sfx$t WHERE rn = 1),
        c$sfx${t + 1} AS (
          SELECT cell AS c_id, list(m ORDER BY i) AS c_emb FROM (
            SELECT mem.cell, dims.i,
              round(SUM(CAST(e.embedding[dims.i] AS DOUBLE)) / COUNT(*), 6) AS m
            FROM $src e
            JOIN mem$sfx$t mem ON e.vec_id = mem.vec_id
            CROSS JOIN (SELECT unnest(range(1,${dim + 1})) AS i) dims
            GROUP BY mem.cell, dims.i) x
          GROUP BY cell)""")
    }
    (sb.toString, s"c$sfx$iters")
  }

  /** PQ oracle plumbing: per-subspace slice CTE + k-means chain + final
    * assignment, for m subspaces of `dim/m` dims. Returns the combined
    * CTE text plus the per-subspace final-assignment (`cells`) and
    * final-centroid CTE names. */
  private def pqCtes(m: Int, kSub: Int, iters: Int,
                     dim: Int): (String, Seq[String], Seq[String]) = {
    val subDim = dim / m
    val parts = (0 until m).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      val slice =
        s"""sub$s AS (
           SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings)"""
      val (chain, cent) = kmeansCtes(kSub, iters, subDim, s"sub$s", s"p$s")
      val dotAC =
        s"list_sum(list_transform(range(1,${subDim + 1}), i -> CAST(a.embedding[i] AS DOUBLE) * ct.c_emb[i]))"
      val asnF =
        s"""asnFp$s AS (
           SELECT a.vec_id, ct.c_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY $dotAC DESC, ct.c_id ASC) AS rn
           FROM sub$s a CROSS JOIN $cent ct),
           cellsp$s AS (SELECT vec_id, c_id AS cell FROM asnFp$s WHERE rn = 1)"""
      (s"$slice, $chain, $asnF", s"cellsp$s", cent)
    }
    (parts.map(_._1).mkString(",\n"), parts.map(_._2), parts.map(_._3))
  }

  /** Shared DuckDB CTE chain: shingle → minhash → LSH bands — the
    * oracle-side mirror of the candidatePairs pipeline, used by the
    * d06/d07/d09/d10 oracles from ONE copy (a drifted band recipe in a
    * stray copy would silently unmoor that oracle from the Spark side
    * it gates — the kmeansCtes discipline, applied to LSH). */
  /** The shingle→md5→minhash→band CTE chain over `src` (doc_id, text)
    * — ONE definition feeding every dedup oracle (d02/d06/d07/d09/d10
    * over `documents`, d11 over its evolved-corpus CTE), so a future
    * seed/band change can never unmoor one oracle from the Spark side
    * it gates. */
  private def lshBandsChain(src: String): String = s"""w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM $src
         ), sh AS (
           SELECT s.doc_id, unnest(CASE WHEN len(ws) >= 3
             THEN list_transform(range(1, len(ws)-1),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
             ELSE [s.text] END) AS shingle
           FROM w JOIN $src s USING (doc_id)
         ), hh AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h32
           FROM sh
         ), mh AS (
           SELECT doc_id, seed,
             min(((2*seed+1) * h32 + (seed*12345+7)) % 4294967291) AS mh
           FROM hh CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
           GROUP BY doc_id, seed
         ), bands AS (
           SELECT doc_id, seed // 2 AS band,
             string_agg(lpad(CAST(mh AS VARCHAR), 10, '0'), '' ORDER BY seed) AS bkey
           FROM mh GROUP BY doc_id, seed // 2
         )"""

  private val lshBandsCtes: String =
    s"WITH RECURSIVE ${lshBandsChain("documents")}"

  def oracleSql: Map[String, String] = Map(
    "d01_exact_dedup" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper,
         COUNT(*) AS n_copies
         FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents) u
         GROUP BY 1""",
    "d02_minhash_lsh" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         ), sh AS (
           SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
             THEN list_transform(range(1, len(ws)-1),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
             ELSE [text] END) AS shingle
           FROM w JOIN documents USING (doc_id)
         ), hh AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h32
           FROM sh
         ), mh AS (
           SELECT doc_id, seed,
             min(((2*seed+1) * h32 + (seed*12345+7)) % 4294967291) AS mh
           FROM hh CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
           GROUP BY doc_id, seed
         ), bands AS (
           SELECT doc_id, seed // 2 AS band,
             string_agg(lpad(CAST(mh AS VARCHAR), 10, '0'), '' ORDER BY seed) AS bkey
           FROM mh GROUP BY doc_id, seed // 2
         )
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_bands
         FROM bands a
         JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
           AND a.doc_id < b.doc_id
         GROUP BY 1, 2""",
    // d02's banded-LSH CTEs propose; the embedding join disposes —
    // the WHERE repeats the ROUNDED cosine so the boundary compares
    // identical doubles on both engines (the d04 discipline)
    "d12_lsh_cosine_verified" ->
      s"""$lshBandsCtes, cand AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_bands
           FROM bands a
           JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2
         ), n AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(range(1,65),
               i -> CAST(embedding[i] AS DOUBLE)
                    * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings
         )
         SELECT a_id, b_id, n_bands,
           round(list_sum(list_transform(range(1,65),
             i -> CAST(ea.embedding[i] AS DOUBLE)
                  * CAST(eb.embedding[i] AS DOUBLE)))
             / (ea.nrm * eb.nrm), 6) AS cos_r
         FROM cand
         JOIN n ea ON ea.vec_id = a_id
         JOIN n eb ON eb.vec_id = b_id
         WHERE round(list_sum(list_transform(range(1,65),
             i -> CAST(ea.embedding[i] AS DOUBLE)
                  * CAST(eb.embedding[i] AS DOUBLE)))
             / (ea.nrm * eb.nrm), 6) >= 0.1""",
    "d03_simhash" -> {
      val sums = (0 until 16).map(p =>
        s"SUM(CASE WHEN substr(hx,${p + 1},1) >= '8' THEN 1 ELSE -1 END) AS s$p")
        .mkString(", ")
      val bits = (0 until 16).map(p =>
        s"(CASE WHEN s$p > 0 THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH w AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
          ), h AS (SELECT doc_id, md5(word) AS hx FROM w),
          s AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
          f AS (SELECT doc_id, $bits AS simhash FROM s)
          SELECT doc_id, simhash,
            COUNT(*) OVER (PARTITION BY simhash) AS n_bucket
          FROM f"""
    },
    "d04_ngram_jaccard" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents
           WHERE doc_id < 40
         ), g0 AS (
           SELECT DISTINCT doc_id, unnest(CASE WHEN len(ws) >= 2
             THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
             ELSE [text] END) AS g
           FROM w JOIN documents USING (doc_id)
         ), g AS (
           SELECT doc_id, g FROM (
             SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM g0) t
           WHERE df <= 20
         ), sizes AS (
           SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id
         ), inter AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
           FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2
         )
         SELECT a_id, b_id,
           round(inter / (na.n + nb.n - inter), 4) AS jaccard
         FROM inter
         JOIN sizes na ON na.doc_id = a_id
         JOIN sizes nb ON nb.doc_id = b_id
         WHERE round(inter / (na.n + nb.n - inter), 4) >= 0.1""",
    "d06_neardup_clusters" ->
      s"""$lshBandsCtes, cand AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM bands a
           JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2
         ), edges AS (
           SELECT a_id AS a, b_id AS b FROM cand
           UNION ALL SELECT b_id, a_id FROM cand
         ), nodes AS (SELECT DISTINCT a AS id FROM edges),
         reach(id, lab) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.id
         )
         SELECT cluster, COUNT(*) AS n_docs FROM (
           SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id) t
         GROUP BY cluster""",
    "d08_semantic_dedup" -> {
      val (ctes, cent) = kmeansCtes(8, 2)
      val dotAC =
        "list_sum(list_transform(range(1,65), i -> CAST(a.embedding[i] AS DOUBLE) * ct.c_emb[i]))"
      s"""WITH RECURSIVE $ctes,
          asnF AS (
            SELECT a.vec_id, ct.c_id,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id
                ORDER BY $dotAC DESC, ct.c_id ASC) AS rn
            FROM embeddings a CROSS JOIN $cent ct
          ), cells AS (SELECT vec_id, c_id AS cell FROM asnF WHERE rn = 1),
          csz AS (SELECT cell, COUNT(*) AS cn FROM cells GROUP BY cell),
          n AS (
            SELECT e.vec_id, e.embedding, cl.cell,
              sqrt(list_sum(list_transform(range(1,65),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS nrm
            FROM embeddings e JOIN cells cl USING (vec_id)
            JOIN csz ON csz.cell = cl.cell AND csz.cn <= 4096
          ), cand AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id
            FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round(list_sum(list_transform(range(1,65),
                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                / (a.nrm * b.nrm), 6) >= 0.2
          ), edges AS (
            SELECT a_id AS a, b_id AS b FROM cand
            UNION ALL SELECT b_id, a_id FROM cand
          ), nodes AS (SELECT DISTINCT a AS id FROM edges),
          reach(id, lab) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.id
          )
          SELECT cluster, COUNT(*) AS n_members FROM (
            SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id) t
          GROUP BY cluster"""
    },
    "d09_incremental_dedup" ->
      s"""$lshBandsCtes, inc AS (
           SELECT * FROM bands WHERE doc_id % 10 = 0
         ), cor AS (
           SELECT band, bkey FROM bands WHERE doc_id % 10 != 0
         ), hit AS (
           SELECT DISTINCT i.doc_id FROM inc i
           JOIN cor c ON i.band = c.band AND i.bkey = c.bkey
         ), surv AS (
           SELECT * FROM inc
           WHERE doc_id NOT IN (SELECT doc_id FROM hit)
         ), cand AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM surv a JOIN surv b ON a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2
         ), edges AS (
           SELECT a_id AS a, b_id AS b FROM cand
           UNION ALL SELECT b_id, a_id FROM cand
         ), nodes AS (SELECT DISTINCT a AS id FROM edges),
         reach(id, lab) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.id
         ), dropped AS (
           SELECT id FROM (
             SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id) t
           WHERE cluster != id
         )
         SELECT DISTINCT doc_id FROM surv
         WHERE doc_id NOT IN (SELECT id FROM dropped)""",
    "d11_maintained_dedup" ->
      s"""WITH RECURSIVE src AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id % 10 != 0 AND doc_id % 13 != 7
           UNION ALL
           SELECT doc_id + 10000000, text FROM documents
           WHERE doc_id % 10 != 0 AND doc_id % 41 = 0
           UNION ALL
           SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
         ), ${lshBandsChain("src")}, inc AS (
           SELECT * FROM bands WHERE doc_id % 10 = 0
         ), cor AS (
           SELECT band, bkey FROM bands WHERE doc_id % 10 != 0
         ), hit AS (
           SELECT DISTINCT i.doc_id FROM inc i
           JOIN cor c ON i.band = c.band AND i.bkey = c.bkey
         ), surv AS (
           SELECT * FROM inc
           WHERE doc_id NOT IN (SELECT doc_id FROM hit)
         ), cand AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM surv a JOIN surv b ON a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2
         ), edges AS (
           SELECT a_id AS a, b_id AS b FROM cand
           UNION ALL SELECT b_id, a_id FROM cand
         ), nodes AS (SELECT DISTINCT a AS id FROM edges),
         reach(id, lab) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.id
         ), dropped AS (
           SELECT id FROM (
             SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id) t
           WHERE cluster != id
         )
         SELECT DISTINCT doc_id FROM surv
         WHERE doc_id NOT IN (SELECT id FROM dropped)""",
    "d07_dedup_keep" ->
      s"""$lshBandsCtes, cand AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM bands a
           JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2
         ), edges AS (
           SELECT a_id AS a, b_id AS b FROM cand
           UNION ALL SELECT b_id, a_id FROM cand
         ), nodes AS (SELECT DISTINCT a AS id FROM edges),
         reach(id, lab) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.id
         )
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (
           SELECT id FROM (
             SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id) t
           WHERE cluster != id)""",
    "d10_dedup_longest" ->
      s"""$lshBandsCtes, cand AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM bands a
           JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2
         ), edges AS (
           SELECT a_id AS a, b_id AS b FROM cand
           UNION ALL SELECT b_id, a_id FROM cand
         ), nodes AS (SELECT DISTINCT a AS id FROM edges),
         reach(id, lab) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.id
         )
         , lab AS (
           SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id
         ), all_docs AS (
           SELECT d.doc_id, d.n_chars,
             COALESCE(l.cluster, d.doc_id) AS cl
           FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
           WHERE d.doc_id IS NOT NULL
         ), best AS (
           SELECT cl, doc_id, n_chars, ROW_NUMBER() OVER (
             PARTITION BY cl ORDER BY n_chars DESC, doc_id) AS rn
           FROM all_docs
         )
         SELECT doc_id, n_chars FROM best WHERE rn = 1""",
    "d05_embedding_neardup" -> {
      val dotAB = dotExpr.format("a", "b")
      val dotAA = dotExpr.format("a", "a")
      val dotBB = dotExpr.format("b", "b")
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            round($dotAB / (sqrt($dotAA) * sqrt($dotBB)), 6) AS cos_r
          FROM embeddings a
          JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
          ORDER BY cos_r DESC, a_id ASC, b_id ASC LIMIT 20"""
    },
    "s01_cosine_topk" ->
      """WITH n AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(range(1,65),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings
         ), q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
         s AS (
           SELECT q.vec_id AS query_id, c.vec_id AS b_id,
             round(list_sum(list_transform(range(1,65),
               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
               / (q.nrm * c.nrm), 6) AS cos_r
           FROM q JOIN n c ON q.vec_id != c.vec_id
         )
         SELECT query_id, b_id, CAST(rank AS INTEGER) AS rank, cos_r
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_r DESC, b_id ASC) AS rank FROM s) t
         WHERE rank <= 5""",
    "s02_lsh_topk" -> {
      val bucket = (1 to 8).map(i =>
        s"(CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      s"""WITH n AS (
            SELECT vec_id, embedding, $bucket AS bucket,
              sqrt(list_sum(list_transform(range(1,65),
                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
            FROM embeddings
          ), q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
          s AS (
            SELECT q.vec_id AS query_id, c.vec_id AS b_id,
              round(list_sum(list_transform(range(1,65),
                i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                / (q.nrm * c.nrm), 6) AS cos_r
            FROM q JOIN n c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
          )
          SELECT query_id, b_id, CAST(rank AS INTEGER) AS rank, cos_r
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_r DESC, b_id ASC) AS rank FROM s) t
          WHERE rank <= 3"""
    },
    "s03_ivf_topk" -> {
      val dotAC =
        "list_sum(list_transform(range(1,65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(ct.c_emb[i] AS DOUBLE)))"
      s"""WITH cent AS (
            SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
            WHERE vec_id % 97 = 1
          ), asn AS (
            SELECT a.vec_id, ct.c_id,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id
                ORDER BY $dotAC DESC, ct.c_id ASC) AS rn
            FROM embeddings a CROSS JOIN cent ct
          ), cells AS (SELECT vec_id, c_id AS cell FROM asn WHERE rn = 1),
          n AS (
            SELECT e.vec_id, e.embedding, cl.cell,
              sqrt(list_sum(list_transform(range(1,65),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS nrm
            FROM embeddings e JOIN cells cl USING (vec_id)
          ), q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
          s AS (
            SELECT q.vec_id AS query_id, c.vec_id AS b_id,
              round(list_sum(list_transform(range(1,65),
                i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                / (q.nrm * c.nrm), 6) AS cos_r
            FROM q JOIN n c ON q.cell = c.cell AND q.vec_id != c.vec_id
          )
          SELECT query_id, b_id, CAST(rank AS INTEGER) AS rank, cos_r
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_r DESC, b_id ASC) AS rank FROM s) t
          WHERE rank <= 3"""
    },
    "s07_ivf_trained" -> {
      val (ctes, cent) = kmeansCtes(8, 2)
      val dotAC =
        "list_sum(list_transform(range(1,65), i -> CAST(a.embedding[i] AS DOUBLE) * ct.c_emb[i]))"
      s"""WITH $ctes,
          asnF AS (
            SELECT a.vec_id, ct.c_id,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id
                ORDER BY $dotAC DESC, ct.c_id ASC) AS rn
            FROM embeddings a CROSS JOIN $cent ct
          ), cells AS (SELECT vec_id, c_id AS cell FROM asnF WHERE rn = 1),
          n AS (
            SELECT e.vec_id, e.embedding, cl.cell,
              sqrt(list_sum(list_transform(range(1,65),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS nrm
            FROM embeddings e JOIN cells cl USING (vec_id)
          ), q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
          s AS (
            SELECT q.vec_id AS query_id, c.vec_id AS b_id,
              round(list_sum(list_transform(range(1,65),
                i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                / (q.nrm * c.nrm), 6) AS cos_r
            FROM q JOIN n c ON q.cell = c.cell AND q.vec_id != c.vec_id
          )
          SELECT query_id, b_id, CAST(rank AS INTEGER) AS rank, cos_r
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_r DESC, b_id ASC) AS rank FROM s) t
          WHERE rank <= 3""".stripMargin
    },
    "s08_ivf_trained_probed" -> {
      val (ctes, cent) = kmeansCtes(8, 2)
      val dotAC =
        "list_sum(list_transform(range(1,65), i -> CAST(a.embedding[i] AS DOUBLE) * ct.c_emb[i]))"
      s"""WITH $ctes,
          asnT AS (
            SELECT a.vec_id, ct.c_id,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id
                ORDER BY $dotAC DESC, ct.c_id ASC) AS rn
            FROM embeddings a CROSS JOIN $cent ct
          ), cells AS (SELECT vec_id, c_id AS cell FROM asnT WHERE rn = 1),
          qcells AS (SELECT vec_id, c_id AS cell FROM asnT WHERE rn <= 2),
          n AS (
            SELECT e.vec_id, e.embedding,
              sqrt(list_sum(list_transform(range(1,65),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS nrm
            FROM embeddings e
          ), q AS (
            SELECT n.vec_id, n.embedding, n.nrm, qc.cell
            FROM n JOIN qcells qc USING (vec_id) WHERE n.vec_id % 50 = 0
          ), s AS (
            SELECT q.vec_id AS query_id, c.vec_id AS b_id,
              round(list_sum(list_transform(range(1,65),
                i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                / (q.nrm * c.nrm), 6) AS cos_r
            FROM q
            JOIN cells cb ON cb.cell = q.cell
            JOIN n c ON c.vec_id = cb.vec_id AND q.vec_id != c.vec_id
          )
          SELECT query_id, b_id, CAST(rank AS INTEGER) AS rank, cos_r
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_r DESC, b_id ASC) AS rank FROM s) t
          WHERE rank <= 3""".stripMargin
    },
    "s06_ivf_nprobe2" -> {
      val dotAC =
        "list_sum(list_transform(range(1,65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(ct.c_emb[i] AS DOUBLE)))"
      s"""WITH cent AS (
            SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
            WHERE vec_id % 97 = 1
          ), asn AS (
            SELECT a.vec_id, ct.c_id,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id
                ORDER BY $dotAC DESC, ct.c_id ASC) AS rn
            FROM embeddings a CROSS JOIN cent ct
          ), cells AS (SELECT vec_id, c_id AS cell FROM asn WHERE rn = 1),
          qcells AS (SELECT vec_id, c_id AS cell FROM asn WHERE rn <= 2),
          n AS (
            SELECT e.vec_id, e.embedding,
              sqrt(list_sum(list_transform(range(1,65),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS nrm
            FROM embeddings e
          ), q AS (
            SELECT n.vec_id, n.embedding, n.nrm, qc.cell
            FROM n JOIN qcells qc USING (vec_id) WHERE n.vec_id % 50 = 0
          ), s AS (
            SELECT q.vec_id AS query_id, c.vec_id AS b_id,
              round(list_sum(list_transform(range(1,65),
                i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                / (q.nrm * c.nrm), 6) AS cos_r
            FROM q
            JOIN cells cb ON cb.cell = q.cell
            JOIN n c ON c.vec_id = cb.vec_id AND q.vec_id != c.vec_id
          )
          SELECT query_id, b_id, CAST(rank AS INTEGER) AS rank, cos_r
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_r DESC, b_id ASC) AS rank FROM s) t
          WHERE rank <= 3"""
    },
    // s04 computes exactly s01's result through the typed Aggregator, so
    // its oracle is s01's SQL verbatim.
    "s04_topk_agg" ->
      """WITH n AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(range(1,65),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings
         ), q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
         s AS (
           SELECT q.vec_id AS query_id, c.vec_id AS b_id,
             round(list_sum(list_transform(range(1,65),
               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
               / (q.nrm * c.nrm), 6) AS cos_r
           FROM q JOIN n c ON q.vec_id != c.vec_id
         )
         SELECT query_id, b_id, CAST(rank AS INTEGER) AS rank, cos_r
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_r DESC, b_id ASC) AS rank FROM s) t
         WHERE rank <= 5""",
    "s05_ann_recall" -> {
      val bucket = (1 to 8).map(i =>
        s"(CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      val dotAC =
        "list_sum(list_transform(range(1,65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(ct.c_emb[i] AS DOUBLE)))"
      s"""WITH n AS (
            SELECT vec_id, embedding, $bucket AS bucket,
              sqrt(list_sum(list_transform(range(1,65),
                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
            FROM embeddings
          ), q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
          scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS b_id,
              round(list_sum(list_transform(range(1,65),
                i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                / (q.nrm * c.nrm), 6) AS cos_r,
              q.bucket AS q_bucket, c.bucket AS c_bucket
            FROM q JOIN n c ON q.vec_id != c.vec_id
          ),
          truth AS (
            SELECT query_id, b_id FROM (
              SELECT query_id, b_id, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos_r DESC, b_id ASC) AS rk FROM scored) t
            WHERE rk <= 3),
          lsh AS (
            SELECT query_id, b_id FROM (
              SELECT query_id, b_id, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos_r DESC, b_id ASC) AS rk FROM scored
              WHERE q_bucket = c_bucket) t
            WHERE rk <= 3),
          cent AS (
            SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
            WHERE vec_id % 97 = 1),
          asn AS (
            SELECT a.vec_id, ct.c_id,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id
                ORDER BY $dotAC DESC, ct.c_id ASC) AS rn
            FROM embeddings a CROSS JOIN cent ct),
          cells AS (SELECT vec_id, c_id AS cell FROM asn WHERE rn = 1),
          ivf AS (
            SELECT query_id, b_id FROM (
              SELECT sc.query_id, sc.b_id,
                ROW_NUMBER() OVER (PARTITION BY sc.query_id
                  ORDER BY sc.cos_r DESC, sc.b_id ASC) AS rk
              FROM scored sc
              JOIN cells cq ON cq.vec_id = sc.query_id
              JOIN cells cb ON cb.vec_id = sc.b_id AND cq.cell = cb.cell) t
            WHERE rk <= 3),
          tn AS (SELECT CAST(count(*) AS BIGINT) AS truth_n FROM truth),
          lh AS (SELECT CAST(count(*) AS BIGINT) AS hits
                 FROM truth JOIN lsh USING (query_id, b_id)),
          ih AS (SELECT CAST(count(*) AS BIGINT) AS hits
                 FROM truth JOIN ivf USING (query_id, b_id))
          SELECT 'lsh' AS method, lh.hits AS hits, tn.truth_n AS truth_n,
            CAST(lh.hits AS DOUBLE) / CAST(tn.truth_n AS DOUBLE) AS recall
          FROM lh, tn
          UNION ALL
          SELECT 'ivf' AS method, ih.hits AS hits, tn.truth_n AS truth_n,
            CAST(ih.hits AS DOUBLE) / CAST(tn.truth_n AS DOUBLE) AS recall
          FROM ih, tn"""
    },
    "t01_lang_id" -> {
      val markers = TextAnalysis.langMarkers
      val counts = markers.map { case (lang, m) =>
        val esc = m.replace("'", "''")
        s"CAST((length(text) - length(replace(text, '$esc', ''))) / ${m.length} AS INT) AS cnt_$lang"
      }.mkString(", ")
      val gr = "greatest(" + markers.map(m => s"cnt_${m._1}").mkString(", ") + ")"
      val cases = markers.map { case (lang, _) =>
        s"WHEN cnt_$lang = g AND g > 0 THEN '$lang'"
      }.mkString(" ")
      s"""WITH c AS (SELECT doc_id, lang, $counts FROM documents),
          p AS (SELECT doc_id, lang, $gr AS g, * FROM c),
          r AS (SELECT lang, CASE $cases ELSE 'und' END AS pred_lang FROM p)
          SELECT lang, pred_lang, COUNT(*) AS n_docs
          FROM r GROUP BY 1, 2"""
    },
    "t02_quality_score" ->
      """WITH c AS (
           SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
             CAST(
               CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS INT)
               + CAST((length(text) - length(replace(text, ' a ', ''))) / 3 AS INT)
               + CAST((length(text) - length(replace(text, ' of ', ''))) / 4 AS INT)
               AS DOUBLE) AS stop_hits,
             CAST(
               CAST((length(text) - length(replace(text, '.', ''))) / 1 AS INT)
               + CAST((length(text) - length(replace(text, ',', ''))) / 1 AS INT)
               AS DOUBLE) AS punct
           FROM documents)
         SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tok,
           round(
             0.4 * least(1.0, stop_hits / n_tok * 10.0) +
             0.3 * least(1.0, n_tok / 100.0) +
             0.3 * (1.0 - least(1.0, punct / n_tok * 5.0)), 4) AS quality
         FROM c""",
    "t03_token_counts" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_tokens
         FROM documents""",
    "t05_repetition" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         ), g AS (
           SELECT doc_id, CASE WHEN len(ws) >= 2
             THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
             ELSE [text] END AS grams
           FROM w JOIN documents USING (doc_id)
         )
         SELECT doc_id,
           round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
             / CAST(len(grams) AS DOUBLE), 4) AS rep_ratio
         FROM g""",
    "t06_tfidf_terms" ->
      """WITH words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents
         ), tf AS (
           SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2
         ), dfreq AS (
           SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
         ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, word,
             round(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
               AS tfidf
           FROM tf JOIN dfreq USING (word) CROSS JOIN n
         ), r AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, word ASC) AS rank
           FROM scored
         )
         SELECT doc_id, word, CAST(rank AS INTEGER) AS rank, tfidf
         FROM r WHERE rank <= 3""",
    "t09_clean_corpus" -> {
      val markers = TextAnalysis.langMarkers
      val counts = markers.map { case (lang, m) =>
        val esc = m.replace("'", "''")
        s"CAST((length(text) - length(replace(text, '$esc', ''))) / ${m.length} AS INT) AS cnt_$lang"
      }.mkString(", ")
      val gr = "greatest(" + markers.map(m => s"cnt_${m._1}").mkString(", ") + ")"
      val cases = markers.map { case (lang, _) =>
        s"WHEN cnt_$lang = g AND g > 0 THEN '$lang'"
      }.mkString(" ")
      s"""WITH c AS (SELECT doc_id, lang, text, $counts FROM documents),
          p AS (SELECT doc_id, lang, $gr AS g, * FROM c),
          pl AS (SELECT doc_id, lang,
            CASE $cases ELSE 'und' END AS pred_lang FROM p),
          qc AS (
            SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
              CAST(
                CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS INT)
                + CAST((length(text) - length(replace(text, ' a ', ''))) / 3 AS INT)
                + CAST((length(text) - length(replace(text, ' of ', ''))) / 4 AS INT)
                AS DOUBLE) AS stop_hits,
              CAST(
                CAST((length(text) - length(replace(text, '.', ''))) / 1 AS INT)
                + CAST((length(text) - length(replace(text, ',', ''))) / 1 AS INT)
                AS DOUBLE) AS punct
            FROM documents),
          qq AS (
            SELECT doc_id, round(
              0.4 * least(1.0, stop_hits / n_tok * 10.0) +
              0.3 * least(1.0, n_tok / 100.0) +
              0.3 * (1.0 - least(1.0, punct / n_tok * 5.0)), 4) AS quality
            FROM qc),
          gw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          gg AS (
            SELECT doc_id, CASE WHEN len(ws) >= 2
              THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
              ELSE [text] END AS grams
            FROM gw JOIN documents USING (doc_id)),
          rr AS (
            SELECT doc_id,
              round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                / CAST(len(grams) AS DOUBLE), 4) AS rep_ratio
            FROM gg)
          SELECT lang, COUNT(*) AS n_kept
          FROM pl JOIN qq USING (doc_id) JOIN rr USING (doc_id)
          WHERE pred_lang = lang AND quality >= 0.65 AND rep_ratio <= 0.05
          GROUP BY lang"""
    },
    "t07_chunking" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         ), s AS (
           SELECT doc_id, ws, unnest(range(0, len(ws), 6)) AS st FROM w
         )
         SELECT doc_id, CAST(st // 6 AS INTEGER) AS chunk_no,
           array_to_string(
             ws[CAST(st + 1 AS INTEGER) :
                CAST(least(st + 8, len(ws)) AS INTEGER)], ' ') AS chunk
         FROM s""",
    "t08_token_shards" ->
      """WITH t AS (
           SELECT source, doc_id,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
               AS INTEGER) AS n_tok
           FROM documents
         )
         SELECT source, doc_id, n_tok,
           CAST(floor(CAST(SUM(n_tok) OVER (PARTITION BY source
             ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok AS DOUBLE)
             / 2000.0) AS INTEGER) AS shard
         FROM t""",
    "t04_fingerprint" ->
      """SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) >= 5
           THEN list_aggregate(list_transform(
             range(1, len(string_split(text, ' ')) - 3),
             i -> md5(string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2] || ' ' ||
                      string_split(text, ' ')[i+3] || ' ' ||
                      string_split(text, ' ')[i+4])), 'min')
           ELSE md5(text) END AS fp
         FROM documents""",
    "t10_redact_pii" ->
      """WITH noisy AS (
           SELECT doc_id,
             'contact user' || doc_id || '@example.com ref 9' || doc_id
               || '00123 ' || text AS text
           FROM documents
         )
         SELECT doc_id,
           md5(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             'g'), '\d{6,}', '<NUM>', 'g')) AS redacted_md5,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '\d{6,}')) AS INTEGER)
             AS n_nums
         FROM noisy""",
    "t11_decontaminate" ->
      """WITH grams AS (
           SELECT doc_id, unnest(
             CASE WHEN len(string_split(text, ' ')) >= 3
               THEN list_transform(
                 range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2])
               ELSE [text] END) AS g
           FROM documents
         ), dg AS (SELECT DISTINCT doc_id, g FROM grams),
         bench AS (SELECT DISTINCT g FROM dg WHERE doc_id % 100 = 7)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
         FROM dg JOIN bench USING (g)
         WHERE doc_id % 100 != 7
         GROUP BY doc_id""",
    // exact by construction: the bloom stage only PRUNES candidates and
    // the verify join removes false positives, so the oracle is the
    // same exact overlap count (benchmark slice 13)
    "t18_bloom_decontaminate" ->
      """WITH grams AS (
           SELECT doc_id, unnest(
             CASE WHEN len(string_split(text, ' ')) >= 3
               THEN list_transform(
                 range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2])
               ELSE [text] END) AS g
           FROM documents
         ), dg AS (SELECT DISTINCT doc_id, g FROM grams),
         bench AS (SELECT DISTINCT g FROM dg WHERE doc_id % 100 = 13)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
         FROM dg JOIN bench USING (g)
         WHERE doc_id % 100 != 13
         GROUP BY doc_id""",
    "t23_seq_packing" ->
      """WITH toks AS (
           SELECT doc_id, lang, (doc_id % 8 + 8) % 8 AS shard,
             CAST(CASE WHEN text IS NULL THEN 0
                  ELSE len(string_split(text, ' ')) END AS BIGINT)
               AS n_tokens
           FROM documents WHERE doc_id IS NOT NULL
         ), st AS (
           SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start
           FROM toks
         )
         SELECT doc_id, lang, shard, n_tokens, start,
           CAST(start // 512 AS BIGINT) AS bin_first,
           CAST(CASE WHEN n_tokens = 0 THEN start // 512
                ELSE (start + n_tokens - 1) // 512 END AS BIGINT)
             AS bin_last,
           CAST(CASE WHEN n_tokens = 0 THEN start // 512
                ELSE (start + n_tokens - 1) // 512 END
             - start // 512 + 1 AS BIGINT) AS n_bins
         FROM st WHERE doc_id % 7 = 0""",
    "t24_token_budget" ->
      """WITH toks AS (
           SELECT doc_id, lang, (doc_id % 8 + 8) % 8 AS shard,
             CAST(CASE WHEN text IS NULL THEN 0
                  ELSE len(string_split(text, ' ')) END AS BIGINT)
               AS n_tokens
           FROM documents WHERE doc_id IS NOT NULL
         ), st AS (
           SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start
           FROM toks
         )
         SELECT doc_id, lang, shard, n_tokens, start
         FROM st WHERE start < 300""",
    "t28_source_overlap" ->
      """WITH w AS (
           SELECT doc_id, source, string_split(text, ' ') AS ws
           FROM documents
         ), g0 AS (
           SELECT DISTINCT w.source, unnest(CASE WHEN len(ws) >= 3
             THEN list_transform(range(1, len(ws)-1),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
             ELSE [documents.text] END) AS g
           FROM w JOIN documents USING (doc_id)
         ), sizes AS (
           SELECT source, COUNT(*) AS n FROM g0 GROUP BY 1
         ), inter AS (
           SELECT a.source AS src_a, b.source AS src_b,
             COUNT(*) AS n_shared
           FROM g0 a JOIN g0 b ON a.g = b.g AND a.source < b.source
           GROUP BY 1, 2
         )
         SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
           round(n_shared / (sa.n + sb.n - n_shared), 4) AS jaccard
         FROM inter
         JOIN sizes sa ON sa.source = src_a
         JOIN sizes sb ON sb.source = src_b""",
    "t27_mixture_rebalance" ->
      """WITH toks AS (
           SELECT doc_id, lang,
             CAST(CASE WHEN text IS NULL THEN 0
                  ELSE len(string_split(text, ' ')) END AS BIGINT)
               AS n_tok
           FROM documents
           WHERE doc_id IS NOT NULL AND lang IS NOT NULL
         ), mass AS (
           SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS m
           FROM toks GROUP BY 1
         ), mn AS (SELECT MIN(m) AS mn_m FROM mass),
         rates AS (
           SELECT lang, CAST(mn_m AS DOUBLE) / CAST(m AS DOUBLE) AS rate
           FROM mass, mn
         ), kept AS (
           SELECT t.lang, n_tok FROM toks t JOIN rates USING (lang)
           WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             < rate * 4294967296.0
         )
         SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(n_tok) AS BIGINT) AS kept_tokens
         FROM kept GROUP BY lang""",
    "t25_bigram_lm" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS l
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0
             AND len(string_split(text, ' ')) >= 2
         ), b AS (
           SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM w
         ), bg AS (
           SELECT doc_id, l[CAST(i AS INTEGER)] AS w1,
             l[CAST(i + 1 AS INTEGER)] AS w2 FROM b
         ), bc AS (
           SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2
         ), cc AS (
           SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1
         ), v AS (
           SELECT COUNT(DISTINCT t.w) AS vocab
           FROM (SELECT unnest(l) AS w FROM w) t
         ), scored AS (
           SELECT bg.doc_id,
             CAST(round(ln(CAST(c12 + 1 AS DOUBLE) /
               CAST(c1 + vocab AS DOUBLE)), 4) AS DECIMAL(18,4)) AS lp
           FROM bg JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v
         )
         SELECT doc_id, COUNT(*) AS n_bigrams,
           round(CAST(-SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_nll
         FROM scored GROUP BY doc_id""",
    "t26_pmi_collocations" ->
      """WITH w AS (
           SELECT string_split(text, ' ') AS l
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0
             AND len(string_split(text, ' ')) >= 2
         ), b AS (
           SELECT l, unnest(range(1, len(l))) AS i FROM w
         ), bg AS (
           SELECT l[CAST(i AS INTEGER)] AS w1,
             l[CAST(i + 1 AS INTEGER)] AS w2 FROM b
         ), bc AS (
           SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2
         ), u1 AS (
           SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1
         ), u2 AS (
           SELECT w2, COUNT(*) AS c2 FROM bg GROUP BY 1
         ), n AS (SELECT COUNT(*) AS nb FROM bg)
         SELECT w1, w2, c12,
           round(ln((CAST(c12 AS DOUBLE) * CAST(nb AS DOUBLE)) /
             (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi
         FROM bc JOIN u1 USING (w1) JOIN u2 USING (w2) CROSS JOIN n
         WHERE c12 >= 5
         ORDER BY pmi DESC, w1, w2 LIMIT 20""",
    "t22_boilerplate_spans" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents
           WHERE text IS NOT NULL AND doc_id IS NOT NULL
         ), st AS (
           SELECT doc_id, ws, unnest(range(0, len(ws), 3)) AS st FROM w
         ), sp AS (
           SELECT doc_id,
             array_to_string(ws[CAST(st + 1 AS INTEGER) :
               CAST(least(st + 3, len(ws)) AS INTEGER)], ' ') AS span,
             CAST(least(st + 3, len(ws)) - st AS BIGINT) AS span_len
           FROM st
         ), df AS (
           SELECT span, COUNT(DISTINCT doc_id) AS ndocs FROM sp GROUP BY 1
         )
         SELECT doc_id, COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN ndocs >= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           CAST(SUM(CASE WHEN ndocs >= 5 THEN 0 ELSE span_len END) AS BIGINT)
             AS kept_words
         FROM sp JOIN df USING (span)
         GROUP BY doc_id""",
    // gram-frequency threshold is corpus-wide occurrence count (≥2,
    // same-doc repeats included), then classic gaps-and-islands over
    // the 1-based gram start positions with merge distance n=4
    "t29_dup_span_islands" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
         ), pos AS (
           SELECT doc_id, unnest(range(1, len(ws) - 2)) AS p, ws
           FROM w WHERE len(ws) >= 4
         ), g AS (
           SELECT doc_id, p,
             array_to_string(
               ws[CAST(p AS INTEGER) : CAST(p + 3 AS INTEGER)], ' ') AS gram
           FROM pos
         ), f AS (
           SELECT doc_id, p, COUNT(*) OVER (PARTITION BY gram) AS cnt FROM g
         ), dup AS (
           SELECT doc_id, p FROM f WHERE cnt >= 2
         ), lg AS (
           SELECT doc_id, p,
             CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p) > 4
               THEN 1 ELSE 0 END AS brk
           FROM dup
         ), isl AS (
           SELECT doc_id, p,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
           FROM lg
         ), spans AS (
           SELECT doc_id, isl_id, MIN(p) AS st, MAX(p) + 3 AS en
           FROM isl GROUP BY doc_id, isl_id
         )
         SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(en - st + 1) AS BIGINT) AS dup_tokens,
           CAST(MAX(en - st + 1) AS BIGINT) AS max_island
         FROM spans GROUP BY doc_id""",
    // t29's island chain + per-token coverage explode + anti-join
    // excision; the cleaned text rebuilds position-ordered on both
    // engines (string_agg ORDER BY p ≡ Spark's array_sort rebuild)
    "t30_dup_span_excision" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
         ), pos AS (
           SELECT doc_id, unnest(range(1, len(ws) - 2)) AS p, ws
           FROM w WHERE len(ws) >= 4
         ), g AS (
           SELECT doc_id, p,
             array_to_string(
               ws[CAST(p AS INTEGER) : CAST(p + 3 AS INTEGER)], ' ') AS gram
           FROM pos
         ), f AS (
           SELECT doc_id, p, COUNT(*) OVER (PARTITION BY gram) AS cnt FROM g
         ), dup AS (
           SELECT doc_id, p FROM f WHERE cnt >= 2
         ), lg AS (
           SELECT doc_id, p,
             CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p) > 4
               THEN 1 ELSE 0 END AS brk
           FROM dup
         ), isl AS (
           SELECT doc_id, p,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
           FROM lg
         ), spans AS (
           SELECT doc_id, isl_id, MIN(p) AS st, MAX(p) + 3 AS en
           FROM isl GROUP BY doc_id, isl_id
         ), cov AS (
           SELECT doc_id, unnest(generate_series(st, en)) AS p FROM spans
         ), wp AS (
           SELECT doc_id, unnest(range(1, len(ws) + 1)) AS p, ws FROM w
         ), words AS (
           SELECT doc_id, p, ws[CAST(p AS INTEGER)] AS wd FROM wp
         ), kept AS (
           SELECT words.doc_id, words.p, words.wd
           FROM words ANTI JOIN cov USING (doc_id, p)
         )
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           md5(string_agg(wd, ' ' ORDER BY p)) AS kept_hash
         FROM kept GROUP BY doc_id""",
    // train-side grams flag on MEMBERSHIP in the eval slice's distinct
    // gram set (t29's island chain with the criterion swapped)
    "t31_surgical_decontaminate" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
         ), pos AS (
           SELECT doc_id, unnest(range(1, len(ws) - 2)) AS p, ws
           FROM w WHERE len(ws) >= 4
         ), g AS (
           SELECT doc_id, p,
             array_to_string(
               ws[CAST(p AS INTEGER) : CAST(p + 3 AS INTEGER)], ' ') AS gram
           FROM pos
         ), ev AS (
           SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 17
         ), fl AS (
           SELECT doc_id, p FROM g JOIN ev USING (gram)
           WHERE doc_id % 100 != 17
         ), lg AS (
           SELECT doc_id, p,
             CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p) > 4
               THEN 1 ELSE 0 END AS brk
           FROM fl
         ), isl AS (
           SELECT doc_id, p,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
           FROM lg
         ), spans AS (
           SELECT doc_id, isl_id, MIN(p) AS st, MAX(p) + 3 AS en
           FROM isl GROUP BY doc_id, isl_id
         )
         SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(en - st + 1) AS BIGINT) AS cut_tokens,
           CAST(MAX(en - st + 1) AS BIGINT) AS max_island
         FROM spans GROUP BY doc_id""",
    // the IDENTICAL merge chain, generated from the same demoMerges
    // constants the Spark side publishes and loads — the two engines
    // cannot drift on merge order or separator handling
    "t32_bpe_token_count" ->
      s"""SELECT doc_id,
            ${graft.ext.Bpe.oracleTokenCountSql("text",
              graft.ext.Bpe.demoMerges)} AS n_bpe
          FROM documents
          WHERE doc_id IS NOT NULL AND doc_id % 5 = 1""",
    // t23's packing window with the token denomination swapped to the
    // replayed BPE chain
    "t33_bpe_packing" ->
      s"""WITH toks AS (
            SELECT doc_id, lang, (doc_id % 8 + 8) % 8 AS shard,
              ${graft.ext.Bpe.oracleTokenCountSql("text",
                graft.ext.Bpe.demoMerges)} AS n_tokens
            FROM documents WHERE doc_id IS NOT NULL
          ), st AS (
            SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
                PARTITION BY lang, shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start
            FROM toks
          )
          SELECT doc_id, lang, shard, n_tokens, start,
            CAST(start // 512 AS BIGINT) AS bin_first,
            CAST(CASE WHEN n_tokens = 0 THEN start // 512
                 ELSE (start + n_tokens - 1) // 512 END AS BIGINT)
              AS bin_last,
            CAST(CASE WHEN n_tokens = 0 THEN start // 512
                 ELSE (start + n_tokens - 1) // 512 END
              - start // 512 + 1 AS BIGINT) AS n_bins
          FROM st WHERE doc_id % 7 = 0""",
    // t29's island chain at character granularity (substr grams) with
    // the minimum-island-length threshold
    "t34_dup_span_chars" ->
      """WITH pos AS (
           SELECT doc_id, text, unnest(range(1, len(text) - 18)) AS p
           FROM documents
           WHERE text IS NOT NULL AND doc_id IS NOT NULL
             AND len(text) >= 20
         ), g AS (
           SELECT doc_id, p,
             substr(text, CAST(p AS INTEGER), 20) AS gram FROM pos
         ), f AS (
           SELECT doc_id, p, COUNT(*) OVER (PARTITION BY gram) AS cnt
           FROM g
         ), dup AS (
           SELECT doc_id, p FROM f WHERE cnt >= 2
         ), lg AS (
           SELECT doc_id, p,
             CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
                    > 20
               THEN 1 ELSE 0 END AS brk
           FROM dup
         ), isl AS (
           SELECT doc_id, p,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
           FROM lg
         ), spans AS (
           SELECT doc_id, isl_id, MIN(p) AS st, MAX(p) + 19 AS en
           FROM isl GROUP BY doc_id, isl_id
         ), keep AS (
           SELECT * FROM spans WHERE en - st + 1 >= 30
         )
         SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(en - st + 1) AS BIGINT) AS dup_chars,
           CAST(MAX(en - st + 1) AS BIGINT) AS max_island
         FROM keep GROUP BY doc_id""",
    // byte-level replay: identical vowel→accent derivation, identical
    // hex-pair unitization (encode/hex spell bytes the same way in
    // both engines), identical replace chain from the SAME merges
    "t35_bpe_bytes" ->
      s"""SELECT doc_id,
            ${graft.ext.Bpe.oracleByteTokenCountSql(
              "replace(replace(replace(text, 'a', 'á'), 'e', 'ë'), " +
                "'o', 'ø')",
              graft.ext.Bpe.demoByteMerges)} AS n_bpe
          FROM documents
          WHERE doc_id IS NOT NULL AND doc_id % 5 = 2""",
    // the SQL-surface count replays t32's letter chain on its slice
    "t36_bpe_sql_count" ->
      s"""SELECT doc_id,
            ${graft.ext.Bpe.oracleTokenCountSql("text",
              graft.ext.Bpe.demoMerges)} AS n_bpe
          FROM documents
          WHERE doc_id IS NOT NULL AND doc_id % 5 = 3""",
    "t21_fixed_sample" ->
      """WITH h AS (
           SELECT lang, doc_id, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS hv
           FROM documents
         ), r AS (
           SELECT lang, doc_id, n_chars, ROW_NUMBER() OVER (
             PARTITION BY lang ORDER BY hv ASC, doc_id ASC) AS rn
           FROM h
         )
         SELECT lang, doc_id, n_chars FROM r WHERE rn <= 20""",
    // shard filters merge into the union filter (same build geometry);
    // the probe only prunes and the verify join removes false
    // positives, so the oracle is the same exact overlap (slice 17)
    "t20_bloom_shard_merge" ->
      """WITH grams AS (
           SELECT doc_id, unnest(
             CASE WHEN len(string_split(text, ' ')) >= 3
               THEN list_transform(
                 range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2])
               ELSE [text] END) AS g
           FROM documents
         ), dg AS (SELECT DISTINCT doc_id, g FROM grams),
         bench AS (SELECT DISTINCT g FROM dg WHERE doc_id % 100 = 17)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
         FROM dg JOIN bench USING (g)
         WHERE doc_id % 100 != 17
         GROUP BY doc_id""",
    "t13_split" ->
      """WITH s AS (
           SELECT *,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 10 AS bucket
           FROM documents
         )
         SELECT CASE WHEN bucket < 8 THEN 'train'
                     WHEN bucket = 8 THEN 'val'
                     ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
             AS BIGINT) AS total_tokens
         FROM s GROUP BY 1""",
    "t15_stratified_sample" ->
      """WITH s AS (
           SELECT *,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS bucket,
             CASE lang WHEN 'en' THEN 1.0 WHEN 'zh' THEN 0.75
               WHEN 'de' THEN 0.5 WHEN 'es' THEN 0.5 WHEN 'fr' THEN 0.25
               ELSE 0.0 END AS rate
           FROM documents
         )
         SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
             AS BIGINT) AS kept_tokens
         FROM s WHERE bucket < rate * 4294967296.0
         GROUP BY lang""",
    "t16_inverted_index" ->
      """WITH p AS (
           SELECT DISTINCT word, doc_id FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM documents WHERE text IS NOT NULL) x
           WHERE length(word) > 0
         )
         SELECT word, COUNT(*) AS df,
           array_to_string(list_sort(list(doc_id))[1:20], ',')
             AS postings_head
         FROM p GROUP BY word""",
    "t17_mixture_weights" ->
      """WITH s AS (
           SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source
         ), w AS (
           SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6)
             AS DECIMAL(28,6)) AS w_raw FROM s
         ), t AS (SELECT SUM(w_raw) AS w_tot FROM w)
         SELECT source, n_docs, n_tokens,
           round(CAST(w_raw AS DOUBLE) / CAST(w_tot AS DOUBLE), 6)
             AS weight
         FROM w, t""",
    "t14_word_entropy" ->
      """WITH w AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0
         ), wc AS (
           SELECT doc_id, w, COUNT(*) AS c FROM w
           WHERE length(w) > 0 GROUP BY doc_id, w
         )
         SELECT doc_id,
           round(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS entropy
         FROM wc GROUP BY doc_id""",
    "t12_corpus_profile" ->
      """SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_text,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS DOUBLE)
           / COUNT(*) AS avg_tokens,
         CAST(MIN(length(text)) AS INTEGER) AS min_len,
         CAST(MAX(length(text)) AS INTEGER) AS max_len
         FROM documents GROUP BY source""",
    "a01_hll_sketch" ->
      """SELECT COUNT(DISTINCT text) AS exact, TRUE AS within_5pct
         FROM documents""",
    // KMV sketches are fully deterministic (48-bit md5 order), so unlike
    // a01/a02 the ESTIMATES themselves are hash-gated exactly
    "a04_kmv_jaccard" ->
      """WITH w AS (
           SELECT source, unnest(string_split(text, ' ')) AS word
           FROM documents
         ), toks AS (
           SELECT DISTINCT source,
             CAST(('0x' || substr(md5(word), 1, 12)) AS BIGINT) AS h
           FROM w
         ), sk AS (
           SELECT source, h FROM (
             SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
             FROM toks) r WHERE rn <= 64
         ), gp AS (
           SELECT a.source AS a_src, b.source AS b_src
           FROM (SELECT DISTINCT source FROM sk) a
           JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source
         ), uni AS (
           SELECT gp.a_src, gp.b_src, s.h
           FROM gp JOIN sk s ON s.source = gp.a_src
           UNION
           SELECT gp.a_src, gp.b_src, s.h
           FROM gp JOIN sk s ON s.source = gp.b_src
         ), merged AS (
           SELECT a_src, b_src, h FROM (
             SELECT a_src, b_src, h,
               ROW_NUMBER() OVER (PARTITION BY a_src, b_src ORDER BY h) AS mrn
             FROM uni) r WHERE mrn <= 64
         ), mk AS (
           SELECT a_src, b_src, COUNT(*) AS mk FROM merged GROUP BY 1, 2
         ), both_ AS (
           SELECT m.a_src, m.b_src, COUNT(*) AS m
           FROM merged m
           WHERE EXISTS (SELECT 1 FROM sk s
                         WHERE s.source = m.a_src AND s.h = m.h)
             AND EXISTS (SELECT 1 FROM sk s
                         WHERE s.source = m.b_src AND s.h = m.h)
           GROUP BY 1, 2
         )
         SELECT mk.a_src, mk.b_src,
           CAST(COALESCE(both_.m, 0) AS DOUBLE) / CAST(mk.mk AS DOUBLE)
             AS kmv_jaccard
         FROM mk LEFT JOIN both_ USING (a_src, b_src)""",
    "a05_kmv_distinct" ->
      """WITH w AS (
           SELECT source, unnest(string_split(text, ' ')) AS word
           FROM documents
         ), toks AS (
           SELECT DISTINCT source,
             CAST(('0x' || substr(md5(word), 1, 12)) AS BIGINT) AS h
           FROM w
         ), sk AS (
           SELECT source, h, rn FROM (
             SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
             FROM toks) r WHERE rn <= 64
         ), agg AS (
           SELECT source, MAX(rn) AS n,
             MAX(CASE WHEN rn = 64 THEN h END) AS theta
           FROM sk GROUP BY source
         )
         SELECT source,
           CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                ELSE round(63 * 281474976710656.0 / CAST(theta AS DOUBLE), 6)
           END AS est_distinct
         FROM agg""",
    "a03_hll_grouped" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact,
         TRUE AS within_5pct
         FROM events GROUP BY event_type""",
    // two-pass heavy hitters return EXACT counts, so the oracle is the
    // plain GROUP BY the sketch pass exists to avoid at scale
    "a06_heavy_hitters" ->
      """WITH w AS (
           SELECT unnest(string_split(text, ' ')) AS word
           FROM documents WHERE text IS NOT NULL
         ), f AS (
           SELECT word, COUNT(*) AS cnt FROM w
           WHERE length(word) > 0 GROUP BY word
         ), t AS (SELECT SUM(cnt) AS n_total FROM f)
         SELECT word, cnt FROM f, t WHERE cnt >= 0.02 * n_total""",
    "a10_heavy_hitters_grouped" ->
      """WITH w AS (
           SELECT lang, unnest(string_split(text, ' ')) AS word
           FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
         ), f AS (
           SELECT lang, word, COUNT(*) AS cnt FROM w
           WHERE length(word) > 0 GROUP BY lang, word
         ), t AS (
           SELECT lang, SUM(cnt) AS n_total FROM f GROUP BY lang
         )
         SELECT f.lang, word, cnt FROM f JOIN t USING (lang)
         WHERE cnt >= 0.025 * n_total""",
    // BM25 is oracle-exact because per-term scores bridge to
    // DECIMAL(18,6) before the per-doc sum (order-independent exact
    // addition); ln/round/divide run in identical literal order on
    // both engines
    "t19_bm25" ->
      """WITH words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents WHERE text IS NOT NULL
         ), dl AS (
           SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY 1
         ), stats AS (
           SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl
         ), tf AS (
           SELECT doc_id, word, COUNT(*) AS tf FROM words
           WHERE word IN ('join', 'vector', 'stream') GROUP BY 1, 2
         ), dfreq AS (
           SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
         ), per_term AS (
           SELECT doc_id,
             CAST(round(
               ln((CAST(n_docs AS DOUBLE) - df + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * 2.2)
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                    / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))),
               6) AS DECIMAL(18,6)) AS ts
           FROM tf JOIN dfreq USING (word) JOIN dl USING (doc_id), stats
         ), scored AS (
           SELECT doc_id, CAST(SUM(ts) AS DOUBLE) AS score
           FROM per_term GROUP BY 1
         )
         SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id)
             AS INTEGER) AS rank,
           score
         FROM scored ORDER BY score DESC, doc_id LIMIT 20""",
    // exact by construction: the CMS stage only PRUNES candidates (the
    // estimate never underestimates, so every token at/above the
    // threshold survives the prune) and the exact recount decides —
    // the oracle is the plain frequency GROUP BY the sketch pass
    // exists to confine at scale
    "a08_cms_frequency" ->
      """WITH w AS (
           SELECT unnest(string_split(text, ' ')) AS word
           FROM documents WHERE text IS NOT NULL
         ), f AS (
           SELECT word, COUNT(*) AS cnt FROM w
           WHERE length(word) > 0 GROUP BY word
         ), t AS (SELECT SUM(cnt) AS n_total FROM f)
         SELECT word, cnt FROM f, t WHERE cnt >= 0.01 * n_total""",
    // merged-shard sketches only PRUNE (linearity: merged ≡ global
    // build, never an underestimate); the exact recount decides, so
    // the oracle is sketch-free
    "a09_cms_merge_prune" ->
      """WITH w AS (
           SELECT unnest(string_split(text, ' ')) AS word
           FROM documents WHERE text IS NOT NULL
         ), f AS (
           SELECT word, COUNT(*) AS cnt FROM w
           WHERE length(word) > 0 GROUP BY word
         ), t AS (SELECT SUM(cnt) AS n_total FROM f)
         SELECT word, cnt FROM f, t WHERE cnt >= 0.015 * n_total""",
    // exact interpolated percentiles (quantile_cont ≡ Spark percentile);
    // the approx side is asserted via tolerance booleans, a01-style
    "a02_quantile_sketch" ->
      """SELECT quantile_cont(l_quantity, 0.5) AS p50_exact,
         quantile_cont(l_quantity, 0.9) AS p90_exact,
         TRUE AS p50_ok, TRUE AS p90_ok
         FROM lineitem""",
    "s09_pq_codes" -> {
      val (ctes, cells, _) = pqCtes(m = 4, kSub = 8, iters = 1, dim = 64)
      val unions = cells.zipWithIndex.map { case (c, s) =>
        s"""SELECT CAST($s AS INTEGER) AS sub, cell, COUNT(*) AS n_vecs
            FROM $c GROUP BY cell"""
      }.mkString("\nUNION ALL\n")
      s"WITH RECURSIVE $ctes\n$unions"
    },
    "s10_pq_adc" -> {
      val (ctes, cells, cents) = pqCtes(m = 4, kSub = 8, iters = 1, dim = 64)
      val subDim = 16
      val luts = cents.zipWithIndex.map { case (cent, s) =>
        val lo = s * subDim + 1
        val dotQC =
          s"list_sum(list_transform(range(1,${subDim + 1}), i -> CAST(q.embedding[$lo - 1 + i] AS DOUBLE) * ct.c_emb[i]))"
        s"""SELECT q.vec_id AS query_id, $s AS sub, ct.c_id AS cell,
            CAST(round($dotQC, 6) AS DECIMAL(18,6)) AS part
            FROM (SELECT * FROM embeddings WHERE vec_id % 50 = 0) q
            CROSS JOIN $cent ct"""
      }.mkString("\nUNION ALL\n")
      val codes = cells.zipWithIndex.map { case (c, s) =>
        s"SELECT vec_id, $s AS sub, cell FROM $c"
      }.mkString("\nUNION ALL\n")
      s"""WITH RECURSIVE $ctes,
          lut AS ($luts),
          codes AS ($codes),
          scored AS (
            SELECT l.query_id, c.vec_id AS b_id,
              CAST(SUM(l.part) AS DOUBLE) AS adc
            FROM codes c JOIN lut l ON l.sub = c.sub AND l.cell = c.cell
            WHERE l.query_id != c.vec_id
            GROUP BY l.query_id, c.vec_id),
          ranked AS (
            SELECT query_id, b_id, adc,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY adc DESC, b_id ASC) AS rn
            FROM scored)
          SELECT query_id, b_id, CAST(rn AS INTEGER) AS rank,
            round(adc, 6) AS adc_score
          FROM ranked WHERE rn <= 5"""
    },
    "s11_pq_bucketed_rerank" -> {
      val (ctes, cells, cents) = pqCtes(m = 4, kSub = 8, iters = 1, dim = 64)
      val subDim = 16
      val luts = cents.zipWithIndex.map { case (cent, s) =>
        val lo = s * subDim + 1
        val dotQC =
          s"list_sum(list_transform(range(1,${subDim + 1}), i -> CAST(q.embedding[$lo - 1 + i] AS DOUBLE) * ct.c_emb[i]))"
        s"""SELECT q.vec_id AS query_id, $s AS sub, ct.c_id AS cell,
            CAST(round($dotQC, 6) AS DECIMAL(18,6)) AS part
            FROM (SELECT * FROM embeddings WHERE vec_id % 50 = 0) q
            CROSS JOIN $cent ct"""
      }.mkString("\nUNION ALL\n")
      val codes = cells.zipWithIndex.map { case (c, s) =>
        s"SELECT vec_id, $s AS sub, cell FROM $c"
      }.mkString("\nUNION ALL\n")
      val dotQB = "list_sum(list_transform(range(1,65), i -> " +
        "CAST(q.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
      s"""WITH RECURSIVE $ctes,
          lut AS ($luts),
          codes AS ($codes),
          scored AS (
            SELECT l.query_id, c.vec_id AS b_id,
              CAST(SUM(l.part) AS DOUBLE) AS adc
            FROM codes c JOIN lut l ON l.sub = c.sub AND l.cell = c.cell
            WHERE l.query_id != c.vec_id
            GROUP BY l.query_id, c.vec_id),
          shortlist AS (
            SELECT query_id, b_id FROM (
              SELECT query_id, b_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY adc DESC, b_id ASC) AS rn
              FROM scored) t WHERE rn <= 20),
          rerank AS (
            SELECT sl.query_id, sl.b_id, round($dotQB, 6) AS score
            FROM shortlist sl
            JOIN embeddings b ON b.vec_id = sl.b_id
            JOIN embeddings q ON q.vec_id = sl.query_id)
          SELECT query_id, b_id, CAST(rn AS INTEGER) AS rank, score
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC, b_id ASC) AS rn FROM rerank) f
          WHERE rn <= 5"""
    },
    "s13_filtered_ann" ->
      """WITH n AS (
           SELECT vec_id, embedding, label,
             sqrt(list_sum(list_transform(range(1,65),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings
         ), q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
         c AS (SELECT * FROM n WHERE label IN (1, 2)),
         s AS (
           SELECT q.vec_id AS query_id, c.vec_id AS b_id,
             round(list_sum(list_transform(range(1,65),
               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
               / (q.nrm * c.nrm), 6) AS cos_r
           FROM q JOIN c ON q.vec_id != c.vec_id
         )
         SELECT query_id, b_id, CAST(rank AS INTEGER) AS rank, cos_r
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_r DESC, b_id ASC) AS rank FROM s) t
         WHERE rank <= 5""",
    "s14_maintained_ivf" -> {
      val dotAC =
        "list_sum(list_transform(range(1,65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(ct.c_emb[i] AS DOUBLE)))"
      s"""WITH corpus2 AS (
            SELECT vec_id, embedding FROM embeddings WHERE vec_id % 13 != 7
            UNION ALL
            SELECT vec_id + 1000000, embedding FROM embeddings
            WHERE vec_id % 41 = 0
          ), cent AS (
            SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
            WHERE vec_id % 97 = 1
          ), asn AS (
            SELECT a.vec_id, ct.c_id,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id
                ORDER BY $dotAC DESC, ct.c_id ASC) AS rn
            FROM corpus2 a CROSS JOIN cent ct
          ), cells AS (SELECT vec_id, c_id AS cell FROM asn WHERE rn = 1),
          n AS (
            SELECT e.vec_id, e.embedding, cl.cell,
              sqrt(list_sum(list_transform(range(1,65),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS nrm
            FROM corpus2 e JOIN cells cl USING (vec_id)
          ), q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
          s AS (
            SELECT q.vec_id AS query_id, c.vec_id AS b_id,
              round(list_sum(list_transform(range(1,65),
                i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                / (q.nrm * c.nrm), 6) AS cos_r
            FROM q JOIN n c ON q.cell = c.cell AND q.vec_id != c.vec_id
          )
          SELECT query_id, b_id, CAST(rank AS INTEGER) AS rank, cos_r
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_r DESC, b_id ASC) AS rank FROM s) t
          WHERE rank <= 3"""
    },
    "s17_lm_score_served" ->
      """WITH corpus2 AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id IS NULL OR doc_id % 13 != 4
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents
           WHERE doc_id % 10 = 0
         ), w AS (
           SELECT doc_id, string_split(text, ' ') AS l FROM corpus2
           WHERE text IS NOT NULL AND length(trim(text)) > 0
             AND len(string_split(text, ' ')) >= 2
         ), b AS (
           SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM w
         ), bg AS (
           SELECT doc_id, l[CAST(i AS INTEGER)] AS w1,
             l[CAST(i + 1 AS INTEGER)] AS w2 FROM b
         ), bc AS (
           SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2
         ), cc AS (
           SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1
         ), v AS (
           SELECT COUNT(DISTINCT t.w) AS vocab
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM corpus2
                 WHERE text IS NOT NULL AND length(trim(text)) > 0) t
         ), scored AS (
           SELECT bg.doc_id,
             CAST(round(ln(CAST(c12 + 1 AS DOUBLE) /
               CAST(c1 + vocab AS DOUBLE)), 4) AS DECIMAL(18,4)) AS lp
           FROM bg JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v
           WHERE bg.doc_id % 50 = 0
         )
         SELECT doc_id, COUNT(*) AS n_bigrams,
           round(CAST(-SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_nll
         FROM scored GROUP BY doc_id""",
    "s18_sq_topk" ->
      """WITH ex AS (
           SELECT vec_id, unnest(embedding) AS v,
             unnest(range(1, len(embedding) + 1)) AS i
           FROM embeddings
         ), dims AS (
           SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY i
         ), codes AS (
           SELECT vec_id, ex.i,
             GREATEST(0, LEAST(255,
               CAST(round((CAST(v AS DOUBLE) - CAST(mn AS DOUBLE)) /
                 (CASE WHEN mx = mn THEN 1.0
                       ELSE (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))
                            / 255.0 END)) AS BIGINT))) AS q
           FROM ex JOIN dims USING (i)
         ), qd AS (
           SELECT vec_id AS query_id, i, q FROM codes
           WHERE vec_id % 50 = 0
         ), scores AS (
           SELECT query_id, c.vec_id AS b_id,
             CAST(SUM(qd.q * c.q) AS BIGINT) AS idot
           FROM qd JOIN codes c USING (i)
           WHERE c.vec_id != query_id
           GROUP BY 1, 2
         ), r AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY idot DESC, b_id) AS rank FROM scores
         )
         SELECT query_id, b_id, CAST(rank AS INTEGER) AS rank, idot
         FROM r WHERE rank <= 5""",
    "s16_maintained_lm" ->
      """WITH corpus2 AS (
           SELECT text FROM documents
           WHERE doc_id IS NULL OR doc_id % 13 != 4
           UNION ALL
           SELECT text FROM documents WHERE doc_id % 10 = 0
         ), w AS (
           SELECT string_split(text, ' ') AS l FROM corpus2
           WHERE text IS NOT NULL AND length(trim(text)) > 0
             AND len(string_split(text, ' ')) >= 2
         ), b AS (
           SELECT l, unnest(range(1, len(l))) AS i FROM w
         ), bg AS (
           SELECT l[CAST(i AS INTEGER)] AS w1,
             l[CAST(i + 1 AS INTEGER)] AS w2 FROM b
         )
         SELECT w1, w2, COUNT(*) AS n_rows FROM bg GROUP BY 1, 2""",
    "s15_maintained_bm25" ->
      """WITH corpus2 AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 13 != 7
           UNION ALL
           SELECT doc_id + 10000000, text FROM documents
           WHERE doc_id % 41 = 0
         ), words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM corpus2 WHERE text IS NOT NULL
         ), dl AS (
           SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY 1
         ), stats AS (
           SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl
         ), tf AS (
           SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2
         ), dfreq AS (
           SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
         ), vocab AS (
           SELECT word, df FROM dfreq, stats
           WHERE df * 1 <= n_docs AND length(word) > 0
         ), qterms AS (
           SELECT DISTINCT w.doc_id AS query_id, w.word, v.df
           FROM words w JOIN vocab v USING (word)
           WHERE w.doc_id % 50 = 0
         ), per_term AS (
           SELECT qt.query_id, tf.doc_id AS b_id,
             CAST(round(
               ln((CAST(n_docs AS DOUBLE) - qt.df + 0.5)
                  / (CAST(qt.df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * 2.2)
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                    / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))),
               6) AS DECIMAL(18,6)) AS ts
           FROM tf JOIN qterms qt USING (word) JOIN dl USING (doc_id), stats
           WHERE tf.doc_id != qt.query_id
         ), lex_scored AS (
           SELECT query_id, b_id, SUM(ts) AS score
           FROM per_term GROUP BY 1, 2
         )
         SELECT query_id, b_id, CAST(rank AS INTEGER) AS rank,
                CAST(score AS DOUBLE) AS score
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, b_id ASC) AS rank
               FROM lex_scored) t
         WHERE rank <= 10""",
    "s12_hybrid_rrf" ->
      """WITH words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents WHERE text IS NOT NULL
         ), dl AS (
           SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY 1
         ), stats AS (
           SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl
         ), tf AS (
           SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2
         ), dfreq AS (
           SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
         ), vocab AS (
           SELECT word, df FROM dfreq, stats
           WHERE df * 4 <= n_docs AND length(word) > 0
         ), qterms AS (
           SELECT DISTINCT w.doc_id AS query_id, w.word, v.df
           FROM words w JOIN vocab v USING (word)
           WHERE w.doc_id % 50 = 0
         ), per_term AS (
           SELECT qt.query_id, tf.doc_id AS b_id,
             CAST(round(
               ln((CAST(n_docs AS DOUBLE) - qt.df + 0.5)
                  / (CAST(qt.df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * 2.2)
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                    / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))),
               6) AS DECIMAL(18,6)) AS ts
           FROM tf JOIN qterms qt USING (word) JOIN dl USING (doc_id), stats
           WHERE tf.doc_id != qt.query_id
         ), lex_scored AS (
           SELECT query_id, b_id, SUM(ts) AS score
           FROM per_term GROUP BY 1, 2
         ), lex AS (
           SELECT query_id, b_id, r FROM (
             SELECT query_id, b_id, ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score DESC, b_id ASC) AS r
             FROM lex_scored) t WHERE r <= 20
         ), n AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(range(1,65),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings
         ), q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
         ds AS (
           SELECT q.vec_id AS query_id, c.vec_id AS b_id,
             round(list_sum(list_transform(range(1,65),
               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
               / (q.nrm * c.nrm), 6) AS cos_r
           FROM q JOIN n c ON q.vec_id != c.vec_id
         ), dense AS (
           SELECT query_id, b_id, r FROM (
             SELECT query_id, b_id, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos_r DESC, b_id ASC) AS r FROM ds) t
           WHERE r <= 20
         ), fused AS (
           SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.b_id, d.b_id) AS b_id,
             round(COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.r), 0)
                 + COALESCE(CAST(1.0 AS DOUBLE) / (60 + d.r), 0), 6) AS rrf
           FROM lex l FULL OUTER JOIN dense d
             ON l.query_id = d.query_id AND l.b_id = d.b_id
         )
         SELECT query_id, b_id, CAST(rank AS INTEGER) AS rank, rrf
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY rrf DESC, b_id ASC) AS rank FROM fused) t
         WHERE rank <= 10""",
    "a07_quantile_grouped" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.5), 6) AS p50_exact,
         round(quantile_cont(value, 0.9), 6) AS p90_exact,
         TRUE AS p50_ok, TRUE AS p90_ok
         FROM events GROUP BY event_type""",
    "m05_resize" ->
      """WITH b AS (
           SELECT CAST(doc_id AS BIGINT) AS media_id,
             hex(encode(text)) AS h,
             octet_length(encode(text)) AS len
           FROM documents
         )
         SELECT media_id, CAST(144 AS INTEGER) AS r_len,
           CAST(CASE WHEN len = 0 THEN 0 ELSE
             ('0x' || substr(h, 2 * ((0 * len) // 144) + 1, 2))::INT
             END AS INTEGER) AS b0,
           CAST(CASE WHEN len = 0 THEN 0 ELSE
             ('0x' || substr(h, 2 * ((71 * len) // 144) + 1, 2))::INT
             END AS INTEGER) AS b71,
           CAST(CASE WHEN len = 0 THEN 0 ELSE
             ('0x' || substr(h, 2 * ((143 * len) // 144) + 1, 2))::INT
             END AS INTEGER) AS b143
         FROM b""",
    "m06_media_dedup" ->
      """WITH m AS (
           SELECT CAST(doc_id AS BIGINT) AS media_id,
             'text/plain;src=' || source AS mime, text
           FROM documents
           UNION ALL
           SELECT CAST(doc_id AS BIGINT) + 1000000,
             'text/plain;src=' || source, text
           FROM documents
         )
         SELECT mime, md5(text) AS checksum,
           MIN(media_id) AS keep_id, COUNT(*) AS n_copies,
           CAST(SUM(octet_length(encode(text)))
             - MAX(octet_length(encode(text))) AS BIGINT)
             AS bytes_reclaimed
         FROM m GROUP BY 1, 2 HAVING COUNT(*) > 1""",
    "m01_multimodal_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
         'text/plain;src=' || source AS mime,
         CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
         md5(text) AS checksum
         FROM documents""",
    "m02_media_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
         'text/plain;src=' || source AS mime,
         CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
         md5(text) AS checksum
         FROM documents""",
    "m04_frame_sample" ->
      """WITH m AS (
           SELECT CAST(doc_id AS BIGINT) AS media_id,
             octet_length(encode(text)) AS len
           FROM documents
         ), k AS (SELECT unnest(range(4)) AS frame_no)
         SELECT media_id, CAST(frame_no AS INTEGER) AS frame_no,
           CAST(least((frame_no + 1) * greatest(1, len // 4), len)
              - least(frame_no * greatest(1, len // 4), len) AS INTEGER)
             AS frame_len
         FROM m CROSS JOIN k""",
    // per-lane byte sums of the UTF-8 payload: byte i (0-based) of the
    // blob via its hex dump, summed over positions ≡ lane (mod 8)
    "m03_media_feature_vec" ->
      """WITH b AS (
           SELECT CAST(doc_id AS BIGINT) AS media_id,
             hex(encode(text)) AS h,
             octet_length(encode(text)) AS len
           FROM documents
         )
         SELECT media_id, CAST(lane AS INTEGER) AS lane,
           CAST(coalesce(list_sum(list_transform(range(lane, len, 8),
             i -> ('0x' || substr(h, 2*i + 1, 2))::BIGINT)), 0) AS BIGINT)
             AS lane_sum
         FROM b CROSS JOIN (SELECT unnest(range(8)) AS lane) l"""
  )
}
