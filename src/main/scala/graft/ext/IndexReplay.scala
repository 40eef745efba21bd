package graft.ext

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.sources.{FileManifest, SidecarIO}

/** Crash-replay INTENT records for the maintained indexes' ticks.
  *
  * A tick's takedown commits are merge-on-read deletes on the index's
  * own lakes — durable the moment they land. The change feed, however,
  * is an IMAGE diff: an id deleted in the crashed attempt's window and
  * identically re-inserted before the retry NETS TO NOTHING in the
  * replay's feed, so the replay would neither re-insert it nor know
  * the crashed takedown happened — the id would stay deleted in the
  * index forever while live in the corpus.
  *
  * The intent file closes that hole: BEFORE applying any takedown, a
  * tick records the ids it is about to touch under
  * `_state/intent-<from>-<nonce>.ids`. A replay from the same baseline
  * unions the pending intents into its own touched set and, for
  * intent ids the net feed no longer mentions, resets them and
  * re-inserts their image AT the target version — whatever partial
  * state any crashed attempt left, the result is the corpus' truth.
  * Intents clear once the tick's marker commits. Ids serialize as
  * strings; probe paths TRY-cast back to the key column's type (the
  * bloom machinery's standard literal discipline).
  */
private[ext] object IndexReplay {

  private def dir(stateDir: String) = new Path(stateDir)

  // ------------------------------------------------------------------
  // Shared index STATE machinery (used identically by VectorIndex and
  // LexicalIndex — one definition of "which corpus version does this
  // index reflect" and "undo a crashed attempt's appends"):
  // ------------------------------------------------------------------

  /** The corpus version the index currently reflects: marker files
    * (`v<corpusVersion>.done`, atomic no-overwrite — crash-safe and
    * replay-idempotent), current = max. */
  def indexedVersion(fs: FileSystem, stateDir: String): Option[Long] = {
    val d = dir(stateDir)
    if (!fs.exists(d)) None
    else {
      val vs = fs.listStatus(d).iterator.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("v") && n.endsWith(".done"))
          n.stripPrefix("v").stripSuffix(".done").toLongOption
        else None
      }.toSeq
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Commit the marker for `corpusVersion` (idempotent), pruning to a
    * bounded marker tail. `reset` drops EVERY prior marker first — a
    * (re-)bootstrap invalidates them: a stale higher marker from a
    * previous incarnation of the index at this path (e.g. a
    * warehouse-persistent dir surviving a JVM restart while the corpus
    * lake was rebuilt and its version numbering restarted) would make
    * every later tick silently no-op on an unapplied window. */
  def markIndexed(fs: FileSystem, stateDir: String, corpusVersion: Long,
                  reset: Boolean = false): Unit = {
    val d = dir(stateDir)
    if (reset && fs.exists(d))
      fs.listStatus(d).map(_.getPath)
        .filter(_.getName.endsWith(".done"))
        .foreach(p => fs.delete(p, false): Unit)
    val dest = new Path(d, f"v$corpusVersion%012d.done")
    if (!fs.exists(dest)) // replayed tick: marker already present
      SidecarIO.create(fs, dest, s"$corpusVersion\n".getBytes(UTF_8))
    val all = fs.listStatus(d)
      .map(_.getPath).filter(_.getName.endsWith(".done")).sortBy(_.getName)
    all.dropRight(20).foreach(p => fs.delete(p, false): Unit)
  }

  /** Retire, wholesale, every CURRENT file of `lake` that a crashed
    * (unmarked) tick attempt from the same baseline landed — their
    * batch-tagged names (`b<keyPrefix>…`) make them exactly
    * enumerable, and only unmarked attempts can still carry the
    * baseline's prefix (a successful tick advances the baseline). The
    * first half of the undo-then-apply replay discipline. */
  def undoCrashedAppends(fs: FileSystem, lake: String,
                         keyPrefix: String): Unit = {
    val m = FileManifest.latest(fs, lake).getOrElse(
      throw new IllegalStateException(
        s"index tick before bootstrap: $lake has no manifest"))
    val tag = graft.sources.LakeCommit.fileTag(keyPrefix)
    val prior = m.cur.filter(rel =>
      rel.substring(rel.lastIndexOf('/') + 1).startsWith(tag))
    if (prior.nonEmpty)
      FileManifest.commitDelta(fs, lake, Nil, prior,
        dvSeen = prior.map(r => r -> m.dvs.get(r)).toMap): Unit
  }

  def record(fs: FileSystem, stateDir: String, from: Long,
             ids: Seq[Any]): Unit = {
    if (ids.isEmpty) return
    // one id per line — an id whose string form embeds a line break
    // would silently split into two bogus intents; fail loudly (no
    // sane vector/document key contains one)
    require(ids.forall { id =>
      val s = id.toString; !s.contains('\n') && !s.contains('\r')
    }, "index keys must not contain line breaks (intent records are " +
      "line-delimited)")
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    SidecarIO.create(fs,
      new Path(dir(stateDir), f"intent-$from%012d-$nonce.ids"),
      ids.map(_.toString).mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Union of all pending intents recorded from baseline `from`. */
  def pending(fs: FileSystem, stateDir: String, from: Long): Seq[String] = {
    val d = dir(stateDir)
    if (!fs.exists(d)) return Nil
    val prefix = f"intent-$from%012d-"
    fs.listStatus(d).iterator
      .filter(s => s.isFile && s.getPath.getName.startsWith(prefix) &&
        s.getPath.getName.endsWith(".ids"))
      .flatMap(s => graft.sources.SidecarIO.readLines(fs, s.getPath))
      .filter(_.nonEmpty).toSeq.distinct.sorted
  }

  /** Drop every intent at or below `from` — the tick they guarded has
    * its marker committed (and older baselines can never replay). */
  def clear(fs: FileSystem, stateDir: String, from: Long): Unit = {
    val d = dir(stateDir)
    if (!fs.exists(d)) return
    fs.listStatus(d).iterator
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && n.startsWith("intent-") && n.endsWith(".ids") &&
          n.stripPrefix("intent-").take(12).toLongOption.exists(_ <= from)
      }
      .foreach(s => fs.delete(s.getPath, false): Unit)
  }

  /** Collect a feed's distinct touched keys under a hard cap — the
    * mass-change guard shared by every maintained artifact's tick (the
    * derived-limit escape-hatch bug lived in three copies of this
    * once; it lives here now). Throws when the window touches more
    * than `max` keys: replaying a mass change key-by-key is the wrong
    * tool — re-bootstrap instead.
    *
    * COUNT-FIRST: deciding "over cap" must never materialize the key
    * set on the driver — at a multi-million cap that is GBs of heap
    * allocated just to print the re-bootstrap error. The limited count
    * stays executor-side and short-circuits; only an under-cap set is
    * ever collected. */
  def cappedKeys(df: org.apache.spark.sql.DataFrame, keyCol: String,
                 max: Long, what: String): Seq[Any] = {
    import org.apache.spark.sql.functions.col
    val lim =
      if (max >= Int.MaxValue.toLong) Int.MaxValue
      else (max + 1).toInt
    // persisted across the guard count and the collect — two actions
    // over the same distinct would otherwise run the feed's most
    // expensive stage twice on every tick
    val dk = df.select(col(keyCol)).distinct().limit(lim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (max < Int.MaxValue.toLong && dk.count() > max)
        throw new IllegalArgumentException(
          s"requirement failed: tick window touches > $what=$max keys — " +
            "re-bootstrap instead of replaying a mass change")
      dk.collect().map(_.get(0)).toSeq
    } finally dk.unpersist(blocking = false): Unit
  }

  /** THE shared tick driver — the whole undo-then-apply replay
    * discipline in one place, so the crash-safety subtleties (crashed
    * batch-tagged appends retired wholesale, the intent record closing
    * the delete-then-identical-reinsert image-diff hole, attempt-unique
    * append keys) exist once and every maintained index (vector,
    * lexical, bands) inherits fixes together.
    *
    * Resolves the window (from = indexed marker, to = corpus latest;
    * no-op when equal), undoes crashed appends on every derived lake in
    * `lakes`, computes the net feed, records intents, takes touched ids
    * down from every lake (merge-on-read), assembles the insert image
    * (feed inserts + crashed-intent resets re-read at `to`), then hands
    * the caller `(inserts, nIns, appendKey)` to apply its index-specific
    * writes/refreshes — called ALWAYS (even with zero inserts: key-index
    * and rollup refreshes must still advance) — and finally commits the
    * marker and clears intents. Returns (to, distinct ids deleted,
    * distinct ids inserted). */
  def tickWindow(spark: org.apache.spark.sql.SparkSession,
      corpusLake: String, indexDir: String, stateDirPath: String,
      lakes: Seq[String], keyPrefix: String, idCol: String,
      valueCols: Seq[String], maxDeletes: Long, indexName: String,
      // the derived lakes' key column — tokenizing indexes normalize
      // the corpus id to "doc_id" regardless of idCol's name
      lakeKeyCol: String = null)
      (apply: (org.apache.spark.sql.DataFrame, Long, String) => Unit)
      : (Long, Long, Long) = {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    def fsOf(p: String) = new Path(p).getFileSystem(conf)
    val to = FileManifest.latestVersion(fsOf(corpusLake), corpusLake)
      .getOrElse(throw new IllegalStateException(
        s"$indexName needs a manifest-mode corpus lake: $corpusLake"))
    val from = indexedVersion(fsOf(indexDir), stateDirPath).getOrElse(
      throw new IllegalStateException(
        s"$indexName.tick before bootstrap at $indexDir"))
    if (from == to) return (to, 0L, 0L)
    lakes.foreach(l => undoCrashedAppends(fsOf(l), l, s"$keyPrefix-$from"))
    val feed = graft.sources.History
      .changesBetween(spark, corpusLake, from, to)
      .select((idCol +: valueCols).map(col) :+ col("_change"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = cappedKeys(feed, idCol, maxDeletes, "maxDeletes")
      val ifs = fsOf(indexDir)
      val touchedStr = touched.map(_.toString).toSet
      val extras = pending(ifs, stateDirPath, from).filterNot(touchedStr)
      record(ifs, stateDirPath, from, touched)
      val nDel = feed.filter(col("_change") === "delete")
        .select(col(idCol)).distinct().count()
      val allTouched = touched ++ extras
      val keyCol = Option(lakeKeyCol).getOrElse(idCol)
      if (allTouched.nonEmpty)
        lakes.foreach(l => graft.sources.History
          .deleteKeysDV(spark, l, keyCol, allTouched): Unit)
      val feedInserts = feed.filter(col("_change") === "insert")
        .select(idCol, valueCols: _*)
      val inserts =
        if (extras.isEmpty) feedInserts
        else feedInserts.unionByName(
          graft.sources.History.readPinned(spark, corpusLake, to)
            .filter(col(idCol).cast("string").isin(extras: _*))
            .select(idCol, valueCols: _*))
      val nIns = inserts.select(col(idCol)).distinct().count()
      apply(inserts, nIns,
        s"$keyPrefix-$from-$to-" +
          java.util.UUID.randomUUID().toString.take(8))
      markIndexed(ifs, stateDirPath, to)
      clear(ifs, stateDirPath, from)
      (to, nDel, nIns)
    } finally feed.unpersist(): Unit
  }
}
