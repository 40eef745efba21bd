package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector similarity search over `ArrayType(FloatType)` embedding columns
  * (SURVEY.md §7.4): brute-force cosine top-k as the correctness baseline,
  * sign-bit LSH bucketing as the scale path.
  *
  * 100 TB design notes:
  *  - norms are precomputed once per vector BEFORE any join, so the
  *    pairwise stage only evaluates the dot product;
  *  - brute-force is query-side-broadcast (small query set × full corpus),
  *    never corpus × corpus;
  *  - the LSH/IVF variant shuffles both sides on a coarse bucket key and
  *    joins within buckets — corpus × corpus work drops by the bucket
  *    fan-out (here 2⁸); recall is tunable via bucket bits / multiprobe.
  *  - arithmetic is double-cast and left-folded in index order, which the
  *    DuckDB oracle replicates exactly (bitwise-stable cosine scores).
  */
object Similarity {

  /** Elementwise double-cast dot product, folded left in index order —
    * native codegen expression (graft.functions.DotProduct). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity rounded to 6 dp (absorbs any last-ULP drift while
    * keeping ordering deterministic). */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    round(dot(a, b) / (normA * normB), 6)

  /** Precompute the vector norm once per row (keeps all other columns). */
  def withNorm(vecs: DataFrame, idCol: String, embCol: String): DataFrame =
    vecs.withColumn("nrm", norm(col(embCol)))

  /** Brute-force cosine top-k: each query row against the whole corpus.
    * `queries` must be small (it is broadcast). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     embCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, idCol, embCol)
      .select(col(idCol).as("b_id"), col(embCol).as("b_emb"),
        col("nrm").as("b_nrm"))
    val q = withNorm(queries, idCol, embCol)
      .select(col(idCol).as("query_id"), col(embCol).as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("b_id"))
      .select(col("query_id"), col("b_id"),
        cosine(col("q_emb"), col("b_emb"), col("q_nrm"), col("b_nrm"))
          .as("cos_r"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_r").desc, col("b_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "b_id", "rank", "cos_r")
  }

  /** SCALAR (int8) QUANTIZATION — the third compression lane beside
    * IVF (coarse cells) and PQ (subspace codebooks): each dimension
    * maps linearly onto 0..255 against its corpus-wide min/max, an
    * embedding becomes 64 bytes instead of 256, and search ranks by
    * the INTEGER dot product of codes — exact int64 arithmetic, so
    * the ranking is bit-deterministic across engines (no float-sum
    * order to pin). Train is one bounded aggregation: per-dimension
    * min/max, `dim` rows of metadata collected to the driver (the
    * centroid-table pattern — never row data). */
  def sqTrain(corpus: DataFrame, embCol: String): (Seq[Double], Seq[Double]) = {
    // element-type-agnostic (float or double embeddings): cast to
    // double BEFORE the min/max — a float's double image is exact, so
    // the trained bounds are identical either way
    val dims = corpus
      .select(posexplode(col(embCol)).as(Seq("i", "v")))
      .select(col("i"), col("v").cast("double").as("v"))
      .groupBy(col("i")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy(col("i")).collect() // bounded: one row per dimension
    val mins = dims.map(_.getAs[Double]("mn")).toSeq
    val scales = dims.map { r =>
      val mn = r.getAs[Double]("mn")
      val mx = r.getAs[Double]("mx")
      if (mx == mn) 1.0 else (mx - mn) / 255.0
    }.toSeq
    (mins, scales)
  }

  /** Quantize an embedding column against trained per-dimension
    * (mins, scales): `round((v - min_i) / scale_i)` per element — pure
    * codegen array expressions against broadcast-literal arrays, zero
    * shuffle, one pass. */
  def sqCodes(df: DataFrame, idCol: String, embCol: String,
              mins: Seq[Double], scales: Seq[Double],
              outCol: String = "codes"): DataFrame = {
    val mnLit = array(mins.map(lit): _*)
    val scLit = array(scales.map(lit): _*)
    df.select(col(idCol),
      transform(col(embCol), (v, i) =>
        // clamp to the byte range: a query vector OUTSIDE the trained
        // bounds (the API accepts frames that are not corpus subsets)
        // must quantize to a saturated int8 code, not an arbitrary
        // int64 that skews the dot beyond what any int8 index stores
        greatest(lit(0L), least(lit(255L),
          round((v.cast("double") - element_at(mnLit, i + 1)) /
            element_at(scLit, i + 1)).cast("long")))).as(outCol))
  }

  /** One-shot top-k in the quantized domain: trains bounds and derives
    * corpus codes inline — the EXPLORATION shape (ad-hoc notebook run
    * over a frame that has no published index yet). A deployment
    * serves searches from AT-REST artifacts instead: train once
    * ([[sqTrain]]), publish bounds ([[saveSqBounds]]) and the code
    * table (one parquet write of [[sqCodes]]), then answer every query
    * via [[sqTopKServed]] — the s07/s11 train-once-serve-many
    * discipline; re-deriving corpus codes per search would re-scan the
    * full float table, the exact cost the codes exist to avoid. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             embCol: String, k: Int): DataFrame = {
    val (mins, scales) = sqTrain(corpus, embCol)
    sqTopKServed(sqCodes(corpus, idCol, embCol, mins, scales),
      queries, idCol, embCol, mins, scales, k)
  }

  /** Serve-path top-k: the corpus side is an at-rest CODE table
    * (`(idCol, codes)` — [[sqCodes]] persisted at ingest), so a search
    * scans 64-byte int8 codes instead of 256-byte floats (4× the scan
    * I/O cut before any pruning) and never touches the original
    * embeddings. Only the bounded query set quantizes per call
    * (against the published bounds). Scores are the exact int64 dot of
    * codes — bit-deterministic, no DECIMAL bridge. */
  def sqTopKServed(codes: DataFrame, queries: DataFrame, idCol: String,
                   embCol: String, mins: Seq[Double], scales: Seq[Double],
                   k: Int): DataFrame = {
    val c = codes.select(col(idCol).as("b_id"), col("codes").as("b_codes"))
    val q = sqCodes(queries, idCol, embCol, mins, scales)
      .select(col(idCol).as("query_id"), col("codes").as("q_codes"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("b_id"))
      .select(col("query_id"), col("b_id"),
        aggregate(zip_with(col("q_codes"), col("b_codes"),
          (a, b) => a * b), lit(0L), (acc, x) => acc + x).as("idot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("idot").desc, col("b_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "b_id", "rank", "idot")
  }

  /** Publish trained SQ bounds through the SAME versioned-dir +
    * atomic-`current`-pointer protocol as [[saveCentroids]] (a reader
    * always resolves a complete bounds table; a trainer crash leaves
    * the previous publish intact) — encoded as one centroid-shaped row
    * per dimension: `(c_id = dim index, c_emb = [min, scale])`. */
  def saveSqBounds(spark: org.apache.spark.sql.SparkSession, path: String,
                   mins: Seq[Double], scales: Seq[Double]): Unit = {
    import spark.implicits._
    saveCentroids(
      mins.indices.map(i => (i.toLong, Seq(mins(i), scales(i))))
        .toDF("c_id", "c_emb"),
      path)
  }

  /** Load published SQ bounds — `dim` rows of metadata, the
    * centroid-table pattern (never row data). */
  def loadSqBounds(spark: org.apache.spark.sql.SparkSession,
                   path: String): (Seq[Double], Seq[Double]) = {
    val rows = loadCentroids(spark, path)
      .orderBy(col("c_id")).collect() // bounded: one row per dimension
    val embs = rows.map(_.getSeq[Double](1))
    (embs.map(_(0)).toSeq, embs.map(_(1)).toSeq)
  }

  /** Sign-bit LSH bucket over the first `bits` dimensions — the IVF-style
    * coarse quantizer for the scale path. */
  def signBucket(emb: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(emb, i) > 0f, "1").otherwise("0")): _*)

  /** Bucketed ANN top-k: join query and corpus on the coarse bucket, rank
    * within bucket. Trades recall for a 2^bits reduction in pair count. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, bits: Int, k: Int): DataFrame = {
    val c = withNorm(corpus, idCol, embCol)
      .select(col(idCol).as("b_id"), col(embCol).as("b_emb"),
        col("nrm").as("b_nrm"), signBucket(col(embCol), bits).as("bucket"))
    val q = withNorm(queries, idCol, embCol)
      .select(col(idCol).as("query_id"), col(embCol).as("q_emb"),
        col("nrm").as("q_nrm"), signBucket(col(embCol), bits).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("b_id"))
      .select(col("query_id"), col("b_id"),
        cosine(col("q_emb"), col("b_emb"), col("q_nrm"), col("b_nrm"))
          .as("cos_r"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_r").desc, col("b_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "b_id", "rank", "cos_r")
  }

  /** IVF coarse quantization: assign every vector to its nearest centroid
    * by inner-product argmax over a broadcast centroid set (deterministic
    * tie-break on smallest centroid id). The broadcast crossJoin scores
    * N·K rows map-side, then the argmax is a hash aggregate with
    * map-side partial `max_by` — the shuffle carries N rows (one partial
    * per id per partition), never the N·K scored rows. (Round-2 version
    * used row_number over Window.partitionBy(id): a full shuffle+sort of
    * all N·K scored rows before discarding K−1 of K — at 10⁹×256 that
    * shuffle IS the job.) */
  def assignCells(vecs: DataFrame, idCol: String, embCol: String,
                  centroids: DataFrame): DataFrame = {
    val scored = vecs.select(col(idCol), col(embCol))
      .crossJoin(broadcast(centroids))
      .select(col(idCol), col(embCol), col("c_id"),
        dot(col(embCol), col("c_emb")).as("c_score"))
    // ordering key (c_score, -c_id) is unique per (id, centroid), so the
    // argmax is deterministic: best score, ties to the smallest c_id
    scored.groupBy(col(idCol))
      .agg(first(col(embCol)).as(embCol),
        max_by(col("c_id"), struct(col("c_score"), -col("c_id"))).as("cell"))
      .select(col(idCol), col(embCol), col("cell"))
  }

  /** IVF-bucketed ANN top-k (nprobe = 1): corpus and queries are assigned
    * to coarse cells, then each query searches only its own inverted
    * list — an equi-join on the cell id, K× less pair work than brute
    * force. Raise recall by enlarging the centroid set's spread or
    * probing neighbor cells; `lshTopK` is the data-independent
    * alternative when no centroid set exists. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              idCol: String, embCol: String, k: Int): DataFrame = {
    val c = withNorm(assignCells(corpus, idCol, embCol, centroids),
      idCol, embCol)
      .select(col(idCol).as("b_id"), col(embCol).as("b_emb"),
        col("nrm").as("b_nrm"), col("cell"))
    val q = withNorm(assignCells(queries, idCol, embCol, centroids),
      idCol, embCol)
      .select(col(idCol).as("query_id"), col(embCol).as("q_emb"),
        col("nrm").as("q_nrm"), col("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("b_id"))
      .select(col("query_id"), col("b_id"),
        cosine(col("q_emb"), col("b_emb"), col("q_nrm"), col("b_nrm"))
          .as("cos_r"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_r").desc, col("b_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "b_id", "rank", "cos_r")
  }

  /** Deterministic k-means training for the IVF coarse quantizer — the
    * stage that PRODUCES the centroid set `ivfTopK` consumes (a real
    * 100 TB ANN pipeline can't assume centroids exist).
    *
    * Shape, per Lloyd iteration:
    *  1. assign: [[assignCells]] — broadcast centroids, map-side scored,
    *     shuffle carries N rows (the argmax partials), never N·K;
    *  2. recompute: per-dimension means via `posexplode` + partial-agg
    *     sum/count — the explode is pipelined (never materialized) and
    *     map-side partial aggregation collapses each partition to at most
    *     K·D partial rows, so the shuffle carries P·K·D rows, not N·D.
    *     The K·D means re-assemble into centroid arrays per cell.
    *
    * Determinism (what makes this oracle-able): seeds are the `k` vectors
    * first in md5(id) order (a fixed pseudo-random draw — the k-means‖
    * sampling stand-in; no RNG state), assignment ties break to the
    * smallest centroid id, and every recomputed coordinate is a
    * sum/count rounded to 6 dp — so engines that sum in different orders
    * (Spark partitions vs DuckDB's scan) land on identical centroids.
    * A cell that captures no vectors drops out (standard k-means empty-
    * cluster shrinkage; both engines drop it identically via GROUP BY).
    *
    * Returns `(c_id, c_emb: array<double>)` — exactly what
    * [[ivfTopK]] / [[ivfTopKProbed]] take. */
  def trainCentroids(vecs: DataFrame, idCol: String, embCol: String,
                     k: Int, iters: Int): DataFrame = {
    val spark = vecs.sparkSession
    // Iterative-ML hygiene (same shape as Dedup.resolveClusters): the
    // training loop reads its input 2·iters times (assign + recompute per
    // round), so project the (id, emb) working set ONCE and persist it —
    // without this every pass re-plans from the raw input, which at
    // 100 TB is a full lake re-scan per Lloyd iteration. Each round's
    // centroid set (K rows) is materialized through an RDD-level local
    // checkpoint so iteration lineage never nests (round r's plan would
    // otherwise embed rounds 1..r−1 and re-run them wherever the
    // centroids fan out), with superseded rounds released immediately.
    val work = vecs.select(col(idCol), col(embCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def ckpt(df: DataFrame): (DataFrame,
        org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
      val rdd = df.queryExecution.toRdd.map(_.copy())
      rdd.localCheckpoint()
      rdd.count(): Unit // eager: triggers the checkpoint
      (org.apache.spark.sql.graftbridge.DatasetBridge
        .internalDf(spark, rdd, df.schema), rdd)
    }
    var (cent, centRdd) = ckpt(work
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .limit(k)
      .select(col(idCol).cast("long").as("c_id"),
        transform(col(embCol), x => x.cast("double")).as("c_emb")))
    // try/finally: a failed assign/ckpt job mid-loop must still release
    // the persisted working set and the CURRENT round's checkpoint —
    // without it the handles leak executor/disk storage for the JVM's
    // life (the memo eviction only ever sees the successfully returned
    // final round). On success only `work` is released; the final
    // round's checkpoint backs the returned frame (callers evict it via
    // DatasetBridge.backingRdds).
    var finished = false
    try {
      for (_ <- 1 to iters) {
        val assigned = assignCells(work, idCol, embCol, cent)
        val dimMeans = assigned
          .select(col("cell"), posexplode(col(embCol)))
          .groupBy(col("cell"), col("pos"))
          .agg(round(sum(col("col").cast("double")) / count(lit(1)), 6).as("m"))
        val (next, nextRdd) = ckpt(dimMeans
          .groupBy(col("cell"))
          .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("ds"))
          .select(col("cell").as("c_id"),
            transform(col("ds"), d => d.getField("m")).as("c_emb")))
        org.apache.spark.sql.graftbridge.DatasetBridge.releaseRdd(centRdd)
        cent = next
        centRdd = nextRdd
      }
      finished = true
      cent
    } finally {
      work.unpersist(blocking = false)
      if (!finished && centRdd != null)
        org.apache.spark.sql.graftbridge.DatasetBridge.releaseRdd(centRdd)
    }
  }

  /** Persist a trained quantizer (the tiny `(c_id, c_emb)` frame) so
    * "train once, serve many" survives the session: an ANN deployment
    * trains on a schedule and every search job loads the published
    * index instead of re-running Lloyd rounds.
    *
    * `path` is an index ROOT directory: each publish writes a
    * uniquely-named version dir, then atomically flips a `current`
    * pointer file onto it ([[graft.sources.SidecarIO.replace]], an
    * atomic single-file swap).
    * A reader therefore always resolves a COMPLETE index — old or new,
    * never absent, never partial — and a trainer crash at any point
    * leaves the previous publish intact (the pointer still names it).
    * Concurrent trainers write distinct versions; last pointer flip
    * wins. Superseded versions other than the immediately-previous one
    * are pruned best-effort (the previous survives one cycle so a
    * reader that resolved the pointer just before a flip can still open
    * its files). */
  def saveCentroids(centroids: DataFrame, path: String): Unit = {
    val spark = centroids.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = s"quantizer-${java.util.UUID.randomUUID().toString}"
    val prev = currentVersion(fs, root)
    // a product quantizer carries its subspace tag; a coarse quantizer
    // is just (c_id, c_emb) — persist whichever shape arrived
    val cols = (if (centroids.columns.contains("sub"))
        Seq(col("sub").cast("int")) else Seq.empty) ++
      Seq(col("c_id").cast("long"), col("c_emb").cast("array<double>"))
    centroids.select(cols: _*)
      .coalesce(1).write.mode("errorifexists")
      .parquet(new org.apache.hadoop.fs.Path(root, version).toString)
    // flip the pointer atomically; the version as token names the temp
    // `.current.<version>.tmp`, which the orphan prune below relies on
    graft.sources.SidecarIO.replace(fs,
      new org.apache.hadoop.fs.Path(root, "current"),
      version.getBytes(java.nio.charset.StandardCharsets.UTF_8), version)
    // Prune superseded versions and orphaned pointer tmps (crashed
    // publishes), keeping the new version, its predecessor, and —
    // crucially — anything NEWER than the predecessor: a concurrent
    // trainer's freshly-written dir that hasn't flipped the pointer yet
    // is newer, so age-gating on the predecessor's mtime means a racing
    // publish is never deleted out from under its flip (it then wins
    // last-pointer-wins and survives its own cycle).
    val ageGate: Option[Long] = prev match {
      case Some(prevName) =>
        // age-gate superseded dirs AND orphaned pointer tmps on the
        // predecessor's mtime: a racing trainer's unflipped dir/tmp is
        // newer and survives until it either wins the pointer or is
        // superseded itself
        try Some(fs.getFileStatus(
          new org.apache.hadoop.fs.Path(root, prevName)).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      case None =>
        // first publish: version DIRS older than ours may belong to a
        // concurrent first trainer that hasn't flipped yet, so they are
        // left alone (the second publish cleans them); pointer TMPs are
        // additionally guarded below by their embedded version dir —
        // only a tmp whose dir is already gone (a true crash leftover)
        // is ever prunable, so a live racer's just-written tmp survives
        // even on filesystems with 1 s mtime granularity
        Some(try fs.getFileStatus(
          new org.apache.hadoop.fs.Path(root, version)).getModificationTime
        catch { case _: java.io.FileNotFoundException => return })
    }
    ageGate.foreach { gate =>
      val keep = Set(Some(version), prev).flatten
      Option(fs.listStatus(root)).getOrElse(Array.empty)
        .filter { s =>
          val n = s.getPath.getName
          val dirPrunable = prev.isDefined && s.isDirectory &&
            n.startsWith("quantizer-") && !keep(n)
          // a pointer tmp embeds its version name: while that version
          // dir still exists the tmp may be a LIVE racer mid-flip
          // (mtime granularity is 1 s on some filesystems, so an
          // age-gate alone can tie with a just-written tmp) — leave it;
          // once its dir is pruned the orphan tmp goes on the next pass
          val tmpPrunable = s.isFile &&
            n.startsWith(".current.") && n.endsWith(".tmp") &&
            !fs.exists(new org.apache.hadoop.fs.Path(root,
              n.stripPrefix(".current.").stripSuffix(".tmp")))
          (dirPrunable || tmpPrunable) && s.getModificationTime < gate
        }
        .foreach(s => fs.delete(s.getPath, true): Unit)
    }
  }

  private def currentVersion(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path): Option[String] = {
    val ptr = new org.apache.hadoop.fs.Path(root, "current")
    if (!fs.exists(ptr)) None
    else Some(graft.sources.SidecarIO.readString(fs, ptr).trim)
  }

  /** Load the quantizer the `current` pointer names — coarse
    * `(c_id, c_emb)` for [[assignCells]] / [[ivfTopK]] /
    * [[ivfTopKProbed]], or `(sub, c_id, c_emb)` for the PQ operators
    * when the published index was a product quantizer. */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = currentVersion(fs, root).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no published quantizer under $path (missing `current` pointer)"))
    val df = spark.read
      .parquet(new org.apache.hadoop.fs.Path(root, version).toString)
    val cols = (if (df.columns.contains("sub")) Seq(col("sub"))
      else Seq.empty) ++ Seq(col("c_id"), col("c_emb"))
    df.select(cols: _*)
  }

  // ---- Product quantization (PQ): the memory-compression rung of the
  // ANN ladder (Jégou et al., "Product Quantization for Nearest
  // Neighbor Search", TPAMI 2011). The D-dim space splits into `m`
  // subspaces trained independently; a vector's code is its m nearest
  // sub-centroid ids (m smallints instead of D floats — the 100 TB
  // point: the scored scan reads the CODES table, D/m-fold smaller,
  // and asymmetric-distance (ADC) scoring is m table lookups per
  // vector against a per-query lookup table). All arithmetic follows
  // the s07 determinism rules (md5 seed draw, 6-dp rounds, exact
  // decimal sums), so PQ codes and ADC scores are oracle-exact. ----

  /** Train the product quantizer: an independent deterministic k-means
    * per `dim/m`-wide subspace, FUSED so all m subspaces train in the
    * same jobs — the working set is one row per (vector, subspace) and
    * a Lloyd round is ONE assignment shuffle + ONE recompute shuffle
    * for the whole quantizer (a per-subspace [[trainCentroids]] loop
    * pays m× the driver-synced job count and, at 100 TB, m full corpus
    * scans per round; measured 3× the whole gate locally). Semantics
    * are exactly trainCentroids-per-slice: same md5-order seed ids for
    * every subspace, argmax ties to the smallest c_id, 6-dp recomputed
    * coordinates — so the per-subspace oracle chains match hash-exactly.
    * Returns `(sub, c_id, c_emb)`. */
  def trainProductQuantizer(vecs: DataFrame, idCol: String, embCol: String,
                            dim: Int, m: Int, kSub: Int,
                            iters: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val spark = vecs.sparkSession
    val subDim = dim / m
    val work = vecs.select(col(idCol),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("sub"),
            slice(col(embCol), s * subDim + 1, subDim).as("emb"))): _*))
          .as("se"))
      .select(col(idCol), col("se.sub").as("sub"), col("se.emb").as(embCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def ckpt(df: DataFrame): (DataFrame,
        org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
      val rdd = df.queryExecution.toRdd.map(_.copy())
      rdd.localCheckpoint()
      rdd.count(): Unit // eager: triggers the checkpoint
      (org.apache.spark.sql.graftbridge.DatasetBridge
        .internalDf(spark, rdd, df.schema), rdd)
    }
    // seeds drawn from the PERSISTED working set (sub-0 rows carry every
    // id once) — drawing from raw `vecs` would re-plan and re-scan the
    // full input, the exact extra pass the fused design avoids
    val seedIds = work.filter(col("sub") === 0)
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .limit(kSub).select(col(idCol))
    // the seed/initial-centroid jobs run INSIDE the guard: a failure
    // there must still release the persisted working set (the largest
    // frame in the function)
    var cent: DataFrame = null
    var centRdd: org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow] = null
    var finished = false
    try {
      val seeded = ckpt(
        work.join(broadcast(seedIds), Seq(idCol))
          .select(col("sub"), col(idCol).cast("long").as("c_id"),
            transform(col(embCol), x => x.cast("double")).as("c_emb")))
      cent = seeded._1
      centRdd = seeded._2
      for (_ <- 1 to iters) {
        val assigned = work.join(broadcast(cent), Seq("sub"))
          .select(col(idCol), col("sub"), col(embCol),
            col("c_id"), dot(col(embCol), col("c_emb")).as("c_score"))
          .groupBy(col(idCol), col("sub"))
          .agg(first(col(embCol)).as(embCol),
            max_by(col("c_id"), struct(col("c_score"), -col("c_id")))
              .as("cell"))
        val dimMeans = assigned
          .select(col("sub"), col("cell"), posexplode(col(embCol)))
          .groupBy(col("sub"), col("cell"), col("pos"))
          .agg(round(sum(col("col").cast("double")) / count(lit(1)), 6)
            .as("m"))
        val (next, nextRdd) = ckpt(dimMeans
          .groupBy(col("sub"), col("cell"))
          .agg(sort_array(collect_list(struct(col("pos"), col("m"))))
            .as("ds"))
          .select(col("sub"), col("cell").as("c_id"),
            transform(col("ds"), d => d.getField("m")).as("c_emb")))
        org.apache.spark.sql.graftbridge.DatasetBridge.releaseRdd(centRdd)
        cent = next
        centRdd = nextRdd
      }
      finished = true
      cent
    } finally {
      work.unpersist(blocking = false)
      if (!finished)
        org.apache.spark.sql.graftbridge.DatasetBridge.releaseRdd(centRdd)
    }
  }

  /** Per-subspace cell assignment — the PQ encoding step, one row per
    * (vector, subspace): nearest sub-centroid by inner-product argmax
    * (ties to the smallest c_id, the [[assignCells]] rule). ONE pass:
    * the broadcast sub-centroid table scores N·(m·kSub) rows map-side
    * against the matching slice, and the argmax is a partial-agg
    * `max_by` — the shuffle carries N·m rows, never the scored rows. */
  def pqAssignments(vecs: DataFrame, idCol: String, embCol: String,
                    pq: DataFrame, dim: Int, m: Int): DataFrame = {
    val subDim = dim / m
    vecs.select(col(idCol), col(embCol))
      .crossJoin(broadcast(pq))
      .select(col(idCol), col("sub"), col("c_id"),
        dot(slice(col(embCol), col("sub") * subDim + 1, lit(subDim)),
          col("c_emb")).as("score"))
      .groupBy(col(idCol), col("sub"))
      .agg(max_by(col("c_id"), struct(col("score"), -col("c_id")))
        .as("cell"))
  }

  /** Assemble assignments into one compact code row per vector:
    * `(id, code: array[m])` ordered by subspace. */
  def pqEncode(vecs: DataFrame, idCol: String, embCol: String,
               pq: DataFrame, dim: Int, m: Int): DataFrame =
    pqAssignments(vecs, idCol, embCol, pq, dim, m)
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("cell")))),
        x => x.getField("cell")).as("code"))

  /** Asymmetric-distance (ADC) top-k: per query, a lookup table of
    * rounded per-subspace inner products against every sub-centroid
    * (m·kSub decimals — KB-scale, broadcast), then each corpus CODE row
    * scores as the EXACT decimal sum of its m lookups; top-k per query
    * by (score desc, id asc) through the bounded [[TopKAggregator]].
    * The corpus side touches only (id, sub, cell) rows — never the
    * original vectors; at 100 TB that is the whole point. Scores are
    * deterministic cross-engine: each lookup is rounded to 6 dp and
    * cast to DECIMAL(18,6) BEFORE the sum, so addition order cannot
    * drift the total. */
  def adcTopK(codes: DataFrame, queries: DataFrame, pq: DataFrame,
              idCol: String, embCol: String, dim: Int, m: Int,
              k: Int): DataFrame = {
    val subDim = dim / m
    val lut = queries.select(col(idCol).as("query_id"), col(embCol))
      .crossJoin(broadcast(pq))
      .select(col("query_id"), col("sub"), col("c_id").as("cell"),
        round(dot(slice(col(embCol), col("sub") * subDim + 1, lit(subDim)),
          col("c_emb")), 6).cast("decimal(18,6)").as("part"))
    codes // (id, sub, cell) assignment rows
      .join(broadcast(lut), Seq("sub", "cell"))
      .filter(col("query_id") =!= col(idCol))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("part")).as("adc")) // exact decimal sum of m parts
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKScored.top_k_scored(
        col(idCol).cast("long"), col("adc").cast("double"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("b_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("col.score"), 6).as("adc_score"))
  }

  /** Write `corpus` bucketed by `idCol` (sorted within buckets) into the
    * session catalog — the at-rest layout that makes [[pqSearch]]'s
    * candidate fetch shuffle-free on the corpus side: the bucketed scan
    * reports `HashPartitioning(idCol, buckets)`, so the re-rank join
    * shuffles only the Q·shortlist candidate rows to the corpus's
    * buckets, never the corpus itself (at 10⁹+ vectors the corpus-side
    * shuffle would BE the job — `AnalyticsAndPlanSpec` asserts the plan
    * has no Exchange above the bucketed scan). `saveAsTable` because
    * Spark persists the bucket spec only through the catalog; pass
    * `path` to pin the table to an external location. */
  def writeBucketedCorpus(corpus: DataFrame, idCol: String, table: String,
                          buckets: Int, path: Option[String] = None): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = corpus.sparkSession
    // idempotent across JVMs: an in-memory catalog forgets the table at
    // restart while its warehouse dir persists, and saveAsTable refuses
    // a location it does not know about — drop both the entry and any
    // stale location before (re)writing
    spark.sql(s"DROP TABLE IF EXISTS `$table`"): Unit
    val loc = path.map(p => new org.apache.hadoop.fs.Path(p)).getOrElse(
      new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(table))))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(loc, true): Unit
    val w = corpus.write.mode("overwrite")
      .bucketBy(buckets, idCol).sortBy(idCol).format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Candidate fetch for the re-rank stage: shortlist (query_id, b_id)
    * pairs joined to the id-keyed corpus for their full vectors. Reads
    * the corpus through whatever partitioning it has at rest — on a
    * [[writeBucketedCorpus]] table the join plans no Exchange on the
    * corpus side. */
  def fetchCorpus(cand: DataFrame, corpus: DataFrame, idCol: String,
                  embCol: String): DataFrame =
    cand.join(corpus.select(col(idCol).as("b_id"), col(embCol).as("b_emb")),
      Seq("b_id"))

  /** Complete PQ search: ADC over the code table produces a `shortlist`
    * of candidates per query (compressed-domain scan — the cheap pass),
    * then ONLY those candidates' full vectors are fetched and re-ranked
    * by exact inner product (the standard two-stage PQ pipeline; the
    * approximation error of ADC confines itself to shortlist membership,
    * not final ordering). At corpus scale the re-rank join touches
    * Q·shortlist rows against the id-keyed corpus — pass a
    * [[writeBucketedCorpus]] table as `corpus` and the fetch is
    * shuffle-free on the corpus side (s11 gates the bucketed pipeline;
    * the plan property is spec-asserted). */
  def pqSearch(codes: DataFrame, queries: DataFrame, pq: DataFrame,
               corpus: DataFrame, idCol: String, embCol: String,
               dim: Int, m: Int, k: Int, shortlist: Int): DataFrame = {
    val cand = adcTopK(codes, queries, pq, idCol, embCol, dim, m, shortlist)
      .select(col("query_id"), col("b_id"))
    val q = queries.select(col(idCol).as("query_id"),
      col(embCol).as("q_emb"))
    fetchCorpus(cand, corpus, idCol, embCol)
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("b_id"),
        round(dot(col("q_emb"), col("b_emb")), 6).as("score"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKScored.top_k_scored(
        col("b_id").cast("long"), col("score").cast("double"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("b_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("score"))
  }

  /** Multiprobe cell assignment: the top-`nprobe` centroids per vector.
    * Uses the bounded NATIVE [[graft.functions.TopKScoredAgg]] (same
    * ranking contract as the typed [[TopKAggregator]], minus the
    * encoder round-trip per scored row) so the per-id reduction keeps
    * at most `nprobe` candidates in every partial buffer — the shuffle
    * carries nprobe rows per id, never the N·K scored rows (a
    * `collect_list`-then-sort would drag all K scores per id through
    * the shuffle, re-creating the window-argmax problem at scale). */
  def assignCellsProbed(vecs: DataFrame, idCol: String, embCol: String,
                        centroids: DataFrame, nprobe: Int): DataFrame =
    vecs.select(col(idCol), col(embCol))
      .crossJoin(broadcast(centroids))
      .select(col(idCol), col("c_id"),
        dot(col(embCol), col("c_emb")).as("c_score"))
      .groupBy(col(idCol))
      .agg(graft.functions.TopKScored.top_k_scored(
        col("c_id").cast("long"), col("c_score").cast("double"), nprobe)
        .as("cells"))
      .select(col(idCol), explode(col("cells")).as("c"))
      .select(col(idCol), col("c.id").as("cell"))

  /** IVF ANN with multiprobe: the corpus keeps its single nearest cell
    * (one inverted list per vector), each query searches its `nprobe`
    * nearest cells — the standard recall-recovery lever when the coarse
    * quantizer splits a query's true neighbors across cell boundaries.
    * Pair work grows by ×nprobe, still K/nprobe× less than brute force.
    * A corpus vector lives in exactly one cell, so the probed join
    * produces no duplicate (query, candidate) pairs. */
  def ivfTopKProbed(corpus: DataFrame, queries: DataFrame,
                    centroids: DataFrame, idCol: String, embCol: String,
                    k: Int, nprobe: Int): DataFrame = {
    val c = withNorm(assignCells(corpus, idCol, embCol, centroids),
      idCol, embCol)
      .select(col(idCol).as("b_id"), col(embCol).as("b_emb"),
        col("nrm").as("b_nrm"), col("cell"))
    val qcells = assignCellsProbed(queries, idCol, embCol, centroids, nprobe)
      .select(col(idCol).as("query_id"), col("cell"))
    val q = withNorm(queries, idCol, embCol)
      .select(col(idCol).as("query_id"), col(embCol).as("q_emb"),
        col("nrm").as("q_nrm"))
      .join(qcells, Seq("query_id"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("b_id"))
      .select(col("query_id"), col("b_id"),
        cosine(col("q_emb"), col("b_emb"), col("q_nrm"), col("b_nrm"))
          .as("cos_r"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_r").desc, col("b_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "b_id", "rank", "cos_r")
  }

  /** Blocked near-dup pairs: pairwise only within a blocking key (here a
    * label/cluster column), ranked globally.
    *
    * This is the SMALL-BLOCK tool: within-block work is O(block²), so one
    * runaway block would dominate the job. `maxBlock` drops blocks above
    * the cap (same guard as `Dedup.lshCandidatePairs`; the count rides
    * the block-key partitioning the join needs anyway) — route corpora
    * whose blocks can exceed it through `lshTopK`, the linear scale
    * path. */
  def blockedPairs(vecs: DataFrame, idCol: String, embCol: String,
                   blockCol: String, maxBlock: Int = 1024): DataFrame = {
    // the block-size guard is the pre-exchange de-skew
    // ([[Dedup.dropOversizedKeys]]): a count window would buffer the
    // RUNAWAY block's rows (vectors included) in one task before
    // dropping them, and a count-join cap would still ship them
    // through the block exchange first — here they die in the scan
    // stage and never reach the pair join's shuffle
    val bounded = Dedup.dropOversizedKeys(
        vecs.select(col(idCol), col(embCol), col(blockCol)),
        Seq(blockCol), maxBlock)
    val v = withNorm(bounded, idCol, embCol)
      .select(col(idCol), col(embCol), col("nrm"), col(blockCol))
    val a = v.select(col(blockCol).as("blk"), col(idCol).as("a_id"),
      col(embCol).as("a_emb"), col("nrm").as("a_nrm"))
    val b = v.select(col(blockCol).as("blk"), col(idCol).as("b_id"),
      col(embCol).as("b_emb"), col("nrm").as("b_nrm"))
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        cosine(col("a_emb"), col("b_emb"), col("a_nrm"), col("b_nrm"))
          .as("cos_r"))
  }
}
