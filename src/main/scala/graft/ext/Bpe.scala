package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REAL byte-pair-encoding tokenization as an AT-REST ARTIFACT — the
  * missing denomination for training-data budgeting: a pipeline that
  * packs and samples by whitespace counts mis-sizes every sequence the
  * model actually sees, because models consume SUBWORD tokens (Sennrich
  * et al. 2016, "Neural Machine Translation of Rare Words with Subword
  * Units" — the BPE merge-table algorithm this implements).
  *
  * '''Segmentation without a UDF — the exact chained-replace.''' A
  * document's token state is ONE STRING: units separated by DOUBLE
  * spaces, the whole stream wrapped in double spaces
  * (`"␣␣h␣␣e␣␣l␣␣l␣␣o␣␣</w>␣␣"`). Applying one merge rule `(l, r)` is
  * one builtin `replace(stream, "␣l␣␣r␣", "␣lr␣")` — and with this
  * representation the plain left-to-right non-overlapping `replace`
  * is EXACTLY the greedy left-to-right single-rule BPE pass:
  *
  *  - '''unit-boundary safe''': the pattern carries one space of each
  *    surrounding gap, and unit text never contains spaces, so a
  *    pattern cannot match inside a longer unit (`"at ha"` never
  *    matches rule `(t, h)` — with single-space separators it would);
  *  - '''adjacency-exact''': each match consumes only ONE space of
  *    each double gap, so back-to-back matches (`l r l r`) and
  *    same-symbol runs (`a a a a` under rule `(a, a)` → `aa aa`) merge
  *    exactly as the greedy pass does — the classic failure of
  *    single-space replace, where the consumed separator makes the
  *    scanner skip every second occurrence;
  *  - '''single pass = exhaustion''': a merge's output symbol `lr`
  *    can never re-form the pair `(l, r)` with a neighbor, so one
  *    replace per rule IS that rule applied to exhaustion.
  *
  * A merges table of k rules folds into k nested `replace` calls —
  * pure codegen string ops, no per-row UDF, and the DuckDB oracle
  * replays the identical chain (`replace` has the same left-to-right
  * non-overlapping semantics there), so token counts hash-match by
  * construction.
  *
  * '''Normalization''' (fixed, shared with the oracle): lowercase,
  * strip everything outside `[a-z ]`, whitespace-split, per word
  * char-units + a `</w>` end-of-word marker (the Sennrich convention —
  * merges cannot cross word boundaries because the marker unit and the
  * double-space gaps intervene).
  *
  * '''At-rest artifact''': [[saveMerges]]/[[loadMerges]] publish the
  * ordered merges table through the same versioned-dir +
  * atomic-`current`-pointer protocol as the ANN quantizer
  * ([[Similarity.saveCentroids]]) — train once (offline, on a corpus
  * sample; [[train]] is the reference trainer), serve every
  * budgeting/packing job from the published table. A merges table is
  * vocabulary-sized (KB–MB), so it rides into the plan as LITERALS —
  * the broadcast-as-constants shape the sketch functions use.
  *
  * Scale: tokenization is map-side only (zero shuffle until the caller
  * aggregates); cost is k string scans per row — bound k (real vocabs
  * run thousands of merges; budget-denomination fidelity saturates far
  * earlier, and a full-fidelity tokenizer would be a custom Expression
  * walking the table once per row, the documented upgrade path). */
object Bpe {

  /** The unit-stream representation of `text` under zero merges:
    * double-space-separated character units with `</w>` word markers,
    * wrapped in double spaces. Empty/letterless text yields a blank
    * stream (zero tokens). */
  def unitStream(text: Column): Column = {
    val norm = regexp_replace(lower(text), "[^a-z ]", "")
    val words = filter(split(norm, " "), w => length(w) > 0)
    val units = transform(words, w =>
      concat(array_join(split(w, ""), "  "), lit("  </w>")))
    concat(lit("  "), array_join(units, "  "), lit("  "))
  }

  /** BYTE-LEVEL unit stream — the production-tokenizer alphabet
    * (VERDICT r19 #1): real LLM corpora are multilingual UTF-8, and
    * the `[a-z ]` normalization above silently erases every non-ASCII
    * character before counting. Here NOTHING is erased: each word's
    * UTF-8 bytes become 2-char lowercase-hex symbols (256 base
    * symbols — `"café"` → `"63  61  66  c3  a9  </w>"`), so any
    * script, emoji, or binary-ish junk round-trips exactly and merges
    * learn across the full byte alphabet, the byte-level-BPE
    * convention (GPT-2's tokenizer; Radford et al. 2019).
    *
    * The PRE-TOKENIZER is an explicit literal class `[ \t\n\r]` —
    * word splits happen only there, and merges never cross a split
    * (the `</w>` marker + double-space gaps intervene, exactly the
    * word-boundary invariant of the letter path). The class is
    * spelled identically in Spark, DuckDB ([[oracleByteTokenCountSql]])
    * and the native expression ([[graft.functions.BpeTable]]), and
    * deliberately ASCII-only: Java and RE2 disagree on what `\s`
    * means, so `\s` would desync the engines. Hex symbols are
    * collision-free with the marker (`<`, `/`, `w`, `>` are not hex
    * digits) and contain no spaces, so every exactness argument of
    * the letter-level stream carries over unchanged. */
  def byteUnitStream(text: Column): Column = {
    val words = filter(split(text, "[ \t\n\r]+"), w => length(w) > 0)
    val units = transform(words, w =>
      concat(regexp_replace(lower(hex(encode(w, "UTF-8"))),
        "(..)", "$1  "), lit("</w>")))
    concat(lit("  "), array_join(units, "  "), lit("  "))
  }

  /** The stream after applying `merges` in order — k nested builtin
    * replaces (see the object doc for why this is exact). */
  def applyMerges(text: Column, merges: Seq[(String, String)]): Column =
    chainReplaces(unitStream(text), merges)

  /** [[applyMerges]] on the byte-level stream. */
  def applyByteMerges(text: Column, merges: Seq[(String, String)]): Column =
    chainReplaces(byteUnitStream(text), merges)

  private def chainReplaces(stream: Column,
                            merges: Seq[(String, String)]): Column =
    merges.foldLeft(stream) { case (acc, (l, r)) =>
      call_function("replace", acc, lit(s" $l  $r "), lit(s" $l$r "))
    }

  /** Above this many merges, [[tokens]]/[[tokenCount]] leave the
    * k-replace chain (k string scans per row — fine at gate vocab,
    * quadratic pain at a production 30k-merge table) for the
    * single-pass [[graft.functions.BpeTokens]] expression, whose cost
    * is vocabulary-size independent. Session knob so specs can force
    * either path; both are exact and fuzz-locked equivalent. */
  def chainMaxMerges: Int = {
    val raw = SparkSession.active.conf
      .get("spark.graft.bpe.chainMaxMerges", "64")
    // fail loudly on a malformed conf: a silent fallback to 64 would
    // flip which execution path runs and mask a misconfigured
    // spec/bench that meant to force one (ADVICE r19) — both paths
    // are equivalence-locked, so the risk is to measurement, not
    // results, but a bad knob should never pass unnoticed
    try raw.trim.toInt
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"spark.graft.bpe.chainMaxMerges must be an integer, got '$raw'")
    }
  }

  /** The segmented token array — chained replaces at gate-sized
    * vocabularies (oracle-replayable builtins), the single-pass table
    * walk past [[chainMaxMerges]]. */
  def tokens(text: Column, merges: Seq[(String, String)]): Column =
    if (merges.size <= chainMaxMerges)
      filter(split(trim(applyMerges(text, merges)), " +"),
        t => length(t) > 0)
    else {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      ColumnBridge.column(graft.functions.BpeTokens(
        ColumnBridge.expression(text), merges))
    }

  /** Subword token count under the trained merges — the training-data
    * budgeting denomination. NULL text counts zero. Past
    * [[chainMaxMerges]] this is the count-only expression
    * ([[graft.functions.BpeTokenCount]]) — no per-row token array just
    * to take its size. */
  def tokenCount(text: Column, merges: Seq[(String, String)]): Column =
    if (merges.size <= chainMaxMerges)
      when(text.isNull, lit(0L))
        .otherwise(size(tokens(text, merges)).cast("long"))
    else {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      when(text.isNull, lit(0L)).otherwise(
        ColumnBridge.column(graft.functions.BpeTokenCount(
          ColumnBridge.expression(text), merges)))
    }

  /** Byte-level segmented token array — chained replaces at gate
    * vocabularies, the single-pass byte-mode table walk past
    * [[chainMaxMerges]]. Token symbols are lowercase-hex byte spellings
    * (`"c3a9"` = é); callers wanting bytes back decode with
    * `unhex`. */
  def byteTokens(text: Column, merges: Seq[(String, String)]): Column =
    if (merges.size <= chainMaxMerges)
      filter(split(trim(applyByteMerges(text, merges)), " +"),
        t => length(t) > 0)
    else {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      ColumnBridge.column(graft.functions.BpeTokens(
        ColumnBridge.expression(text), merges, byteLevel = true))
    }

  /** Byte-level subword token count — [[tokenCount]] with nothing
    * normalized away: non-ASCII text counts its real merged-byte
    * tokens instead of silently counting zero. NULL text counts
    * zero. */
  def byteTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    if (merges.size <= chainMaxMerges)
      when(text.isNull, lit(0L))
        .otherwise(size(byteTokens(text, merges)).cast("long"))
    else {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      when(text.isNull, lit(0L)).otherwise(
        ColumnBridge.column(graft.functions.BpeTokenCount(
          ColumnBridge.expression(text), merges, byteLevel = true)))
    }

  /** The DuckDB expression replaying [[byteTokenCount]] — hex-pair
    * unitization via `encode`/`hex` (both engines spell a byte the
    * same two lowercase hex digits) and the identical replace chain.
    * The pre-tokenizer class is the same ASCII literal as
    * [[byteUnitStream]]'s. */
  def oracleByteTokenCountSql(col: String,
                              merges: Seq[(String, String)]): String = {
    // COALESCE: DuckDB's array_to_string returns NULL on an empty
    // list (a whitespace-only document), where Spark's array_join
    // returns '' — without it the whole chain nulls out and the
    // CASE's ELSE yields NULL instead of 0
    val base = "'  ' || COALESCE(array_to_string(list_transform(" +
      s"list_filter(regexp_split_to_array($col, '[ \\t\\n\\r]+'), " +
      "w -> len(w) > 0), w -> regexp_replace(lower(hex(encode(w))), " +
      "'(..)', '\\1  ', 'g') || '</w>'), '  '), '') || '  '"
    val chained = merges.foldLeft(base) { case (acc, (l, r)) =>
      s"replace($acc, ' $l  $r ', ' $l$r ')"
    }
    s"CAST(CASE WHEN $col IS NULL THEN 0 ELSE len(list_filter(" +
      s"regexp_split_to_array(trim($chained), ' +'), x -> len(x) > 0))" +
      " END AS BIGINT)"
  }

  /** The DuckDB expression replaying [[tokenCount]] for a column name —
    * the oracle side of the same chain, generated from the SAME merges
    * so the two engines cannot drift. */
  def oracleTokenCountSql(col: String,
                          merges: Seq[(String, String)]): String = {
    // COALESCE mirrors the byte oracle: DuckDB's array_to_string is
    // NULL on an empty list (letterless text), Spark's array_join ''
    val base = "'  ' || COALESCE(array_to_string(list_transform(" +
      s"list_filter(" +
      s"string_split(regexp_replace(lower($col), '[^a-z ]', '', 'g')," +
      " ' '), w -> len(w) > 0), w -> array_to_string(string_split(w," +
      " ''), '  ') || '  </w>'), '  '), '') || '  '"
    val chained = merges.foldLeft(base) { case (acc, (l, r)) =>
      s"replace($acc, ' $l  $r ', ' $l$r ')"
    }
    s"CAST(CASE WHEN $col IS NULL THEN 0 ELSE len(list_filter(" +
      s"regexp_split_to_array(trim($chained), ' +'), x -> len(x) > 0))" +
      " END AS BIGINT)"
  }

  /** REFERENCE TRAINER (Sennrich learn-BPE): `numMerges` rounds of
    * "count adjacent unit pairs corpus-wide, merge the most frequent"
    * over the current segmentation. Deterministic: ties break on
    * (count desc, left asc, right asc). Each round re-derives the
    * stream from raw text with the merges so far (k passes of k
    * replaces — fine for the vocabulary sizes this trains; a
    * production trainer checkpoints the stream between rounds).
    * Returns the ordered merges. `byteLevel` trains over the
    * byte-alphabet stream ([[byteUnitStream]]) instead of the
    * letter-level one — same algorithm, same exclusions. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            byteLevel: Boolean = false): Seq[(String, String)] = {
    val tokFn: (Column, Seq[(String, String)]) => Column =
      if (byteLevel) byteTokens else tokens
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (_ <- 0 until numMerges) {
      val units = docs
        .filter(col(textCol).isNotNull)
        .select(tokFn(col(textCol), acc.toSeq).as("u"))
        .filter(size(col("u")) >= 2)
      // merges must never cross a word boundary (the Sennrich
      // convention): the </w> marker unit intervenes between words,
      // so crossing candidates are exactly pairs whose LEFT unit is
      // the bare marker or ENDS with it (a word-final merged symbol
      // like `t</w>` followed by the next word's first unit) —
      // excluded from training (pairCounts), and
      // [[graft.functions.BpeTable]] refuses them at apply time, which
      // is what makes per-word segmentation equivalent to the
      // whole-stream replace chain
      val pairs = pairCounts(units)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (pairs.isEmpty) return acc.toSeq
      acc += ((pairs(0).getString(0), pairs(0).getString(1)))
    }
    acc.toSeq
  }

  /** Adjacent-pair counts of a unit-array column — the trainer's one
    * aggregation, shared by [[train]] and [[trainFast]]. Excludes
    * word-crossing candidates (left unit is or ends with `</w>`). */
  private def pairCounts(units: DataFrame): DataFrame =
    units.select(explode(zip_with(
        slice(col("u"), lit(1), size(col("u")) - 1),
        slice(col("u"), lit(2), size(col("u")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .filter(col("p.l") =!= "</w>" && !col("p.l").endsWith("</w>"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("cnt"))

  /** PRODUCTION TRAINER: the same merges as [[train]] (equivalence is
    * spec-locked, letter and byte modes, incl. randomized fuzz), via
    * the WORD-FREQUENCY + DELTA-PAIR-COUNT formulation (the shape of
    * Sennrich's reference `learn_bpe.py` and every production trainer):
    *
    *  1. '''One corpus-scale job ever''': collapse the corpus to a
    *     distinct-word frequency table (`groupBy(word).count`). Merges
    *     never cross word boundaries, so corpus-wide pair counts equal
    *     frequency-weighted per-word pair counts — and the trainer's
    *     working set drops from corpus-sized to vocabulary-sized.
    *  2. '''Delta counting''' (VERDICT r19 #2): the pair-count table is
    *     MAINTAINED, not recounted. A merge of `(l, r)` only changes
    *     counts of pairs inside words that contain the adjacency, so
    *     each round (a) filters the word table to affected words — a
    *     map-side `contains` scan, no shuffle, no explosion — and
    *     (b) advances the maintained table in ONE aggregation: old
    *     counts ∪ (+pairs of the rewritten words) ∪ (−pairs of their
    *     previous spellings), summed. Per-round shuffle volume is
    *     proportional to the pair-type table plus the affected-word set
    *     (which shrinks as training converges), never a corpus recount.
    *  3. '''Exact batching''' per round via [[exactBatchPrefix]]: the
    *     longest ranked prefix provably equal to merging one at a time
    *     (pairwise unit-disjoint; no touching pair at-or-above a
    *     candidate's count, since every pair a merge creates consumes a
    *     touching occurrence; strictly above the collected floor unless
    *     the collection saw every pair). Any violation stops the batch —
    *     correctness never depends on batching width.
    *
    * Fully-merged words (single unit) leave the working set — they can
    * never contribute a pair again. State is `localCheckpoint`ed between
    * rounds; on restart the caller re-derives from raw text (local
    * checkpoints are process-lifetime, the documented trainer
    * contract). */
  def trainFast(docs: DataFrame, textCol: String, numMerges: Int,
                maxBatch: Int = 16, topK: Int = 4096,
                byteLevel: Boolean = false)
      : Seq[(String, String)] = {
    require(maxBatch >= 1 && topK >= 2, "trainFast needs sane bounds")
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // the one corpus-scale job: distinct words + frequencies, then each
    // word becomes its own unit stream (identical spelling to
    // unitStream/byteUnitStream on a one-word document, so the replace
    // patterns match exactly the same adjacencies)
    val rawWords = docs.filter(col(textCol).isNotNull).select(
      explode(filter(
        if (byteLevel) split(col(textCol), "[ \t\n\r]+")
        else split(regexp_replace(lower(col(textCol)), "[^a-z ]", ""), " "),
        w => length(w) > 0)).as("w"))
    val toStream: Column =
      if (byteLevel)
        concat(lit("  "), regexp_replace(lower(hex(encode(col("w"), "UTF-8"))),
          "(..)", "$1  "), lit("</w>  "))
      else
        concat(lit("  "), array_join(split(col("w"), ""), "  "),
          lit("  </w>  "))
    var words = rawWords.groupBy("w").agg(count(lit(1)).as("f"))
      .select(toStream.as("s"), col("f"))
      .coalesce(8)
      .localCheckpoint(true)
    var pc = words.select(explode(pairArr(col("s"), col("f"))).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"), col("p.cnt").as("cnt"))
      .groupBy("l", "r").agg(sum(col("cnt")).as("cnt"))
      .coalesce(4)
      .localCheckpoint(true)
    // the loop runs hundreds of TINY fixed-shape queries; AQE's
    // per-shuffle re-optimization is pure per-round latency here
    val sess = docs.sparkSession
    // getOption + unset, not get-with-fallback: a session that never
    // configured these keys must leave with them UNSET, not with this
    // loop's guess written in as an explicit value
    val aqeWas = sess.conf.getOption("spark.sql.adaptive.enabled")
    val shufWas = sess.conf.getOption("spark.sql.shuffle.partitions")
    def restore(key: String, was: Option[String]): Unit =
      was.fold(sess.conf.unset(key))(v => sess.conf.set(key, v))
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    sess.conf.set("spark.sql.shuffle.partitions", "8")
    var wordsCp = words    // last CHECKPOINTED word table
    var sinceCp = 0        // rounds since, lineage stays shallow
    lastTrainRounds = Vector.empty // never leave a PRIOR run's trace
    try {
      val roundLog = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Double)]
      while (acc.size < numMerges) {
        val tr0 = System.nanoTime()
        val before = acc.size
        val top = pc.orderBy(col("cnt").desc, col("l").asc, col("r").asc)
          .limit(topK).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        if (top.isEmpty) { // pair exhaustion: vocabulary saturated
          lastTrainRounds = roundLog.toVector
          return acc.toSeq
        }
        val batch = exactBatchPrefix(top.toSeq,
          math.min(maxBatch, numMerges - acc.size),
          sawAll = top.length < topK)
        acc ++= batch
        // a word is affected iff it contains a batched adjacency; the
        // batch's pairs are unit-disjoint, so unaffected words' pairs
        // are invariant and the delta needs only the affected set
        val touched = batch.map { case (l, r) =>
          col("s").contains(s" $l  $r ") }.reduce(_ || _)
        val affected = words.filter(touched)
        // the maintained table advances in ONE aggregation per round:
        // old counts ∪ (+pairs of each rewritten word ++ −pairs of its
        // previous spelling, ONE scan), summed — shuffle input is the
        // pair-type table plus the affected words' pairs, never a
        // corpus recount
        val deltaTerms = affected.select(explode(concat(
            pairArr(chainReplaces(col("s"), batch), col("f")),
            pairArr(col("s"), -col("f")))).as("p"))
          .select(col("p.l").as("l"), col("p.r").as("r"),
            col("p.cnt").as("cnt"))
        val nextPc = pc
          .unionAll(deltaTerms)
          .groupBy("l", "r").agg(sum(col("cnt")).as("cnt"))
          .filter(col("cnt") > 0L)
          .coalesce(4)
        val nextPcC = nextPc.localCheckpoint(true)
        // map-side scan: rewrite affected words, pass the rest
        // through, retire fully-merged words (no pair can involve them
        // again); checkpoint every few rounds — the in-between lineage
        // is a handful of stacked map-only projections over the last
        // checkpoint, cheap to recompute and shallow enough to analyze
        val rewritten = words
          .select(when(touched, chainReplaces(col("s"), batch))
            .otherwise(col("s")).as("s"), col("f"))
          .filter(size(split(trim(col("s")), " +")) >= 2)
        if (sinceCp >= 3) {
          val cp = rewritten.localCheckpoint(true)
          wordsCp.unpersist(blocking = false): Unit
          wordsCp = cp
          sinceCp = 0
          words = cp
        } else {
          sinceCp += 1
          words = rewritten
        }
        pc.unpersist(blocking = false): Unit
        pc = nextPcC
        roundLog += ((acc.size - before, (System.nanoTime() - tr0) / 1e9))
      }
      lastTrainRounds = roundLog.toVector
      acc.toSeq
    } finally {
      restore("spark.sql.adaptive.enabled", aqeWas)
      restore("spark.sql.shuffle.partitions", shufWas)
      pc.unpersist(blocking = false): Unit
      wordsCp.unpersist(blocking = false): Unit
    }
  }

  /** Diagnostic trace of the most recent [[trainFast]] run: one entry
    * per round, `(merges learned this round, round wall seconds)`.
    * Cleared at run start and written on completion OR pair exhaustion
    * (a run that THROWS leaves it empty — never a stale prior trace);
    * one shared slot, so concurrent trainers clobber each other's
    * trace. For probes/specs measuring
    * per-round cost — NOT part of the trainer contract. */
  @volatile private[graft] var lastTrainRounds: Vector[(Int, Double)] =
    Vector.empty

  /** The signed adjacent-pair terms of ONE word stream as an array of
    * `struct<l, r, cnt>` — the delta trainer's pre-aggregation rows
    * (`weight` `+f` adds a spelling's pairs, `−f` retracts it).
    * Word-crossing exclusion is structural here (the `</w>` marker is
    * always a word stream's LAST unit, so it can never be a pair's
    * left); the filter stays as defense in depth, mirroring
    * [[pairCounts]]. */
  private def pairArr(sCol: Column, weight: Column): Column = {
    val u = filter(split(trim(sCol), " +"), t => length(t) > 0)
    filter(zip_with(
        slice(u, lit(1), greatest(size(u) - 1, lit(0))),
        slice(u, lit(2), greatest(size(u) - 1, lit(0))),
        (a, b) => struct(a.as("l"), b.as("r"),
          weight.cast("long").as("cnt"))),
      p => p.getField("l") =!= "</w>" &&
        !p.getField("l").endsWith("</w>"))
  }

  /** The longest exactly-sequential prefix of one round's ranked pair
    * counts — see [[trainFast]] for the invariants each step checks. */
  private[graft] def exactBatchPrefix(top: Seq[(String, String, Long)],
      maxM: Int, sawAll: Boolean): Seq[(String, String)] = {
    val floor = top.last._3
    val batch = scala.collection.mutable.ArrayBuffer(
      (top.head._1, top.head._2))
    val units = scala.collection.mutable.Set(top.head._1, top.head._2)
    var i = 1
    var stopped = false
    while (!stopped && i < top.length && batch.size < maxM) {
      val (l, r, c) = top(i)
      val disjoint = !units(l) && !units(r)
      val covered = sawAll || c > floor
      // any collected pair BELOW the candidate that touches a batched
      // unit with the candidate's count could feed a new pair into a
      // tie the lex order would resolve differently — stop there
      lazy val hazard = top.drop(i + 1).exists { case (ql, qr, qc) =>
        qc >= c && (units(ql) || units(qr)) }
      if (disjoint && covered && !hazard) {
        batch += ((l, r)); units += l; units += r; i += 1
      } else stopped = true
    }
    batch.toSeq
  }

  /** Persist an ordered merges table — versioned dir + atomic
    * `current` pointer, the [[Similarity.saveCentroids]] protocol:
    * readers always resolve a complete table, a trainer crash leaves
    * the previous publish intact. */
  def saveMerges(spark: SparkSession, merges: Seq[(String, String)],
                 path: String): Unit = {
    import spark.implicits._
    val df = merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = s"merges-${java.util.UUID.randomUUID().toString}"
    df.coalesce(1).write.mode("errorifexists")
      .parquet(new org.apache.hadoop.fs.Path(root, version).toString)
    graft.sources.SidecarIO.replace(fs,
      new org.apache.hadoop.fs.Path(root, "current"),
      version.getBytes(java.nio.charset.StandardCharsets.UTF_8), version)
  }

  /** Load the current published merges, rank order. The table is
    * vocabulary-sized by construction — it returns to the driver to
    * become plan literals, exactly like a broadcast dimension. */
  def loadMerges(spark: SparkSession, path: String): Seq[(String, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val in = fs.open(new org.apache.hadoop.fs.Path(root, "current"))
    val cur = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8).trim
    finally in.close()
    graft.sources.History.readParquetFooterSchema(spark,
        new org.apache.hadoop.fs.Path(root, cur).toString)
      .orderBy(col("rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** Byte-level sibling of [[demoMerges]]: produced by
    * `train(byteLevel = true)` over the synthetic corpus with vowels
    * swapped to accented forms (the gate's derived non-ASCII corpus —
    * see t35), pasted so the DuckDB oracle replays the identical
    * chain. It learned the 2-byte UTF-8 spellings first ((c3,a1)=á,
    * (c3,ab)=ë, (c3,b8)=ø) and then whole accented subwords
    * (66696c74+c3ab72</w> = "filtër"), which is exactly what a
    * byte-level trainer should do. */
  val demoByteMerges: Seq[(String, String)] = Seq(
    ("c3", "a1"), ("c3", "ab"), ("c3", "b8"), ("c3ab", "72"),
    ("c3ab", "</w>"), ("c3ab72", "</w>"), ("6e", "</w>"), ("73", "74"),
    ("c3b8", "72"), ("77", "</w>"), ("c3b8", "77</w>"), ("68", "</w>"),
    ("c3a1", "74"), ("6c", "75"), ("79", "</w>"), ("c3a1", "</w>"),
    ("67", "</w>"), ("69", "6e"), ("74", "</w>"), ("70", "c3a1"),
    ("70c3a1", "72"), ("66", "69"), ("6669", "6c"), ("66696c", "74"),
    ("66696c74", "c3ab72</w>"), ("62", "c3a174"), ("62c3a174", "63"),
    ("62c3a17463", "68</w>"), ("63", "c3a1"), ("63c3a1", "6e</w>"),
    ("73", "63c3a16e</w>"), ("68", "c3a1"))

  /** A small trained vocabulary for the correctness gates — produced
    * by [[train]] over the synthetic corpus (offline, pasted so the
    * DuckDB oracle can replay the identical chain as literals), which
    * is what "trained" means for a gate whose oracle must be static.
    * Real deployments train their own table and publish it with
    * [[saveMerges]]. */
  val demoMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
    ("h", "</w>"), ("a", "t"), ("l", "u"), ("i", "n"),
    ("a", "</w>"), ("g", "</w>"), ("y", "</w>"), ("a", "r"),
    ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
    ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"), ("h", "ash</w>"))
}
