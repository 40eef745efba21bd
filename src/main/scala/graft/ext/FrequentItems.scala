package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Frequent-items (heavy-hitter) detection at corpus scale: the two-pass
  * sketch-candidates → exact-verify pattern.
  *
  * Pass 1 runs a Misra–Gries summary (Misra & Gries 1982; mergeability per
  * Agarwal et al., "Mergeable Summaries", PODS 2012) as the NATIVE
  * aggregate [[graft.functions.MisraGriesAgg]] (mutable bounded buffer,
  * no per-row encoder round-trip): every map-side partial buffer holds at
  * most `k` counters, partials merge pairwise (combine counts, subtract
  * the (k+1)-th largest, keep positives), and the merged summary is
  * guaranteed to contain EVERY item whose true frequency exceeds N/k.
  * Pass 2 broadcast-semi-joins the ≤ k candidates back onto the stream
  * and counts them exactly, so the final answer `count(item) ≥ φ·N` is
  * EXACT (hash-gated against a plain GROUP BY oracle) while no shuffle
  * ever carries per-item rows for the full vocabulary — the classic
  * candidate-generation/verification shape a 100 TB vocabulary scan
  * needs (a plain groupBy over raw tokens shuffles the whole token
  * stream; here the big shuffle carries only tokens matching ≤ k
  * candidates).
  *
  * Correctness requirement (callers pick `k`): φ > 1/k, so no true heavy
  * hitter can be evicted from the sketch (`FrequentItemsSpec` exercises
  * the eviction path on seeded Zipf data with a tiny k).
  */
object FrequentItems {

  /** Misra–Gries bounded-counter summary as a typed `Aggregator` — kept
    * for the PER-KEY STREAMING STATE path
    * ([[graft.stream.StreamingFrequentItems]]), where the summary lives
    * in a `ValueState` slot and per-batch volume is bounded by the key;
    * the batch hot path uses the native
    * [[graft.functions.MisraGriesAgg]] instead. The buffer is an
    * immutable map capped at `k` entries; `reduce` runs the classic
    * decrement-all step on overflow, `merge` the summary-merge (sum,
    * subtract (k+1)-th largest, keep positives). Output: the surviving
    * candidate items (counts are estimates and deliberately NOT exposed
    * — the verify pass recounts exactly). */
  class MisraGries(k: Int)
      extends Aggregator[String, Map[String, Long], Seq[String]] {
    require(k > 0, "Misra-Gries needs at least one counter slot")

    override def zero: Map[String, Long] = Map.empty

    override def reduce(b: Map[String, Long], item: String): Map[String, Long] =
      b.get(item) match {
        case Some(c) => b.updated(item, c + 1)
        case None if b.size < k => b.updated(item, 1L)
        case None =>
          // full and item absent: decrement every counter, drop zeros
          // (the new item's implicit +1 and −1 cancel)
          b.collect { case (i, c) if c > 1 => i -> (c - 1) }
      }

    override def merge(x: Map[String, Long],
                       y: Map[String, Long]): Map[String, Long] = {
      val combined = y.foldLeft(x) { case (acc, (i, c)) =>
        acc.updated(i, acc.getOrElse(i, 0L) + c)
      }
      if (combined.size <= k) combined
      else {
        // subtract the (k+1)-th largest count from all, keep positives:
        // keeps ≤ k entries and preserves the ≤ N/k error bound
        val cut = combined.valuesIterator.toArray.sorted(
          Ordering[Long].reverse).apply(k)
        combined.collect { case (i, c) if c > cut => i -> (c - cut) }
      }
    }

    override def finish(b: Map[String, Long]): Seq[String] =
      b.keys.toSeq.sorted

    override def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Seq[String]] =
      ExpressionEncoder[Seq[String]]()
  }

  /** All items whose exact count is ≥ `phi` · N, with their exact counts
    * — computed without ever shuffling the full per-item count table.
    *
    * The items column is normalized ONCE — cast to string, nulls dropped
    * — and that same frame feeds the sketch, the exact total, and the
    * verify join, so N counts exactly the emittable population (a null
    * can never be a candidate, and a non-string column gets string
    * equality semantics everywhere, not an implicit-coercion join).
    * Requires φ > 1/k (else an eviction could lose a true heavy hitter
    * and the exact contract breaks — enforced here). Plan shape (r21):
    * ONE scan builds the ≤ k candidate summary AND the exact total —
    * they were two separate corpus scans, but both are bounded
    * aggregates over the same normalized stream, so they share one
    * pass — then one scan counts ONLY rows matching the broadcast
    * candidate set. Two corpus passes total, the algorithm's floor. */
  def heavyHitters(items: DataFrame, k: Int, phi: Double): DataFrame = {
    require(phi > 1.0 / k,
      s"phi=$phi must exceed 1/k=${1.0 / k}: the Misra-Gries summary only " +
        "guarantees items above N/k survive")
    val colName = items.columns.head
    val norm = items.select(col(colName).cast("string").as(colName))
      .filter(col(colName).isNotNull)
    // candidates: one row holding ≤ k survivors + the exact total;
    // exploded to a frame the optimizer broadcasts (k is a constant,
    // never data-sized), n_total riding every candidate row so the
    // verify pass needs no second broadcast
    val candidates = norm
      .agg(graft.functions.MisraGriesFn.misra_gries(col(colName), k)
          .as("cands"),
        count(lit(1)).as("n_total"))
      .select(explode(col("cands")).as(colName), col("n_total"))
    // inner join ≡ the former left_semi (candidates are distinct keys,
    // so no row multiplies) while carrying n_total through
    norm.join(broadcast(candidates), Seq(colName))
      .groupBy(col(colName))
      .agg(count(lit(1)).as("cnt"), max(col("n_total")).as("n_total"))
      .filter(col("cnt") >= lit(phi) * col("n_total"))
      .select(col(colName), col("cnt"))
  }

  /** [[heavyHitters]] with the item stream pre-grouped as one token
    * ARRAY per row (r21, mirroring the KMV/BottomK array path): the
    * sketch+total pass consumes the arrays DIRECTLY — no
    * Generate/explode materializes every token as a row under the
    * bounded aggregate, so the candidate pass's row count drops by
    * ~avg tokens/row at corpus scale — while the exact verify pass
    * (which genuinely needs token rows to count them) explodes as
    * before. Output is identical to `heavyHitters` over the exploded
    * arrays: the summary's update sequence is the same token order,
    * n_total = Σ size(array) = the exploded row count, and the verify
    * recount is exact either way. Null ARRAYS are excluded like null
    * items; null ELEMENTS (possible only when the array type admits
    * them) are stripped once up front so the sketch, the total and the
    * verify explode all see the same null-free stream — the exploded
    * path's isNotNull filter, applied pre-explode. That strip is the
    * `filter()` higher-order function, which has no generated code: an
    * array type with `containsNull = true` takes the plan out of
    * whole-stage codegen, so callers that can build a null-free array
    * (`array_remove(split(…), "")`, as a06 does) should.
    *
    * `tokenArrays` must have exactly one column, the token array. */
  def heavyHittersTokens(tokenArrays: DataFrame, itemCol: String,
                         k: Int, phi: Double): DataFrame = {
    require(phi > 1.0 / k,
      s"phi=$phi must exceed 1/k=${1.0 / k}: the Misra-Gries summary only " +
        "guarantees items above N/k survive")
    require(tokenArrays.columns.length == 1,
      "heavyHittersTokens needs exactly one (array<string>) column, got " +
        tokenArrays.columns.mkString("[", ", ", "]"))
    val arrCol = tokenArrays.columns.head
    val at = tokenArrays.schema.head.dataType match {
      case a: org.apache.spark.sql.types.ArrayType
          if a.elementType == org.apache.spark.sql.types.StringType => a
      case other => throw new IllegalArgumentException(
        "heavyHittersTokens needs an array<string> column, got " +
          other.catalogString)
    }
    val cleaned =
      if (at.containsNull) filter(col(arrCol), x => x.isNotNull)
      else col(arrCol)
    val arrs = tokenArrays.filter(col(arrCol).isNotNull)
      .select(cleaned.as(arrCol))
    val candidates = arrs
      .agg(graft.functions.MisraGriesFn.misra_gries(col(arrCol), k)
          .as("cands"),
        sum(size(col(arrCol))).as("n_total"))
      .select(explode(col("cands")).as(itemCol), col("n_total"))
    // inner join ≡ left_semi + totals (candidate keys distinct), as in
    // [[heavyHitters]]
    arrs.select(explode(col(arrCol)).as(itemCol))
      .join(broadcast(candidates), Seq(itemCol))
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("cnt"), max(col("n_total")).as("n_total"))
      .filter(col("cnt") >= lit(phi) * col("n_total"))
      .select(col(itemCol), col("cnt"))
  }

  /** Per-GROUP heavy hitters: items whose exact count within their
    * group is ≥ `phi` · (group size), with exact counts — the
    * per-language / per-domain vocabulary-profile shape. Same
    * two-phase contract as [[heavyHitters]], per group: ONE scan (r21 —
    * formerly two) builds a ≤ k Misra-Gries summary per group (bounded
    * map-side state per group, merged under the group-keyed exchange)
    * TOGETHER with the exact group sizes, then one scan counts only
    * (group, candidate) survivors. The candidate table is
    * ≤ k · |groups| rows — broadcast by construction for any real k,
    * each row carrying its group's total; the full per-(group, item)
    * count table is never shuffled. */
  def groupedHeavyHitters(items: DataFrame, groupCol: String,
                          itemCol: String, k: Int,
                          phi: Double): DataFrame = {
    require(phi > 1.0 / k,
      s"phi=$phi must exceed 1/k=${1.0 / k}: the Misra-Gries summary only " +
        "guarantees items above N/k survive")
    // NULL groups are EXCLUDED up front (documented contract): the
    // per-group joins below are null-unsafe equality, so a NULL group
    // would silently vanish between its summary and its verify pass —
    // dropping it here makes the exclusion explicit and total
    val norm = items
      .select(col(groupCol), col(itemCol).cast("string").as(itemCol))
      .filter(col(itemCol).isNotNull && col(groupCol).isNotNull)
    val candidates = norm.groupBy(col(groupCol))
      .agg(graft.functions.MisraGriesFn.misra_gries(col(itemCol), k)
          .as("cands"),
        count(lit(1)).as("n_total"))
      .select(col(groupCol), explode(col("cands")).as(itemCol),
        col("n_total"))
    // inner join ≡ the former left_semi + totals join ((group, item)
    // is unique on the candidate side, so no row multiplies)
    norm.join(broadcast(candidates), Seq(groupCol, itemCol))
      .groupBy(col(groupCol), col(itemCol))
      .agg(count(lit(1)).as("cnt"), max(col("n_total")).as("n_total"))
      .filter(col("cnt") >= lit(phi) * col("n_total"))
      .select(col(groupCol), col(itemCol), col("cnt"))
  }

  /** [[groupedHeavyHitters]] over pre-tokenized arrays — the
    * [[heavyHittersTokens]] shape per group: the per-group summary and
    * exact group size aggregate the arrays directly (one row per doc
    * reaches the group-keyed exchange's map side), only the verify
    * pass explodes. Null groups and null arrays are excluded up front
    * (the [[groupedHeavyHitters]] contract); null elements are
    * stripped once so every consumer sees the same stream. */
  def groupedHeavyHittersTokens(tokenArrays: DataFrame, groupCol: String,
                                arrCol: String, itemCol: String, k: Int,
                                phi: Double): DataFrame = {
    require(phi > 1.0 / k,
      s"phi=$phi must exceed 1/k=${1.0 / k}: the Misra-Gries summary only " +
        "guarantees items above N/k survive")
    val at = tokenArrays.schema(arrCol).dataType match {
      case a: org.apache.spark.sql.types.ArrayType
          if a.elementType == org.apache.spark.sql.types.StringType => a
      case other => throw new IllegalArgumentException(
        "groupedHeavyHittersTokens needs an array<string> column, got " +
          other.catalogString)
    }
    val cleaned =
      if (at.containsNull) filter(col(arrCol), x => x.isNotNull)
      else col(arrCol)
    val arrs = tokenArrays
      .filter(col(arrCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol), cleaned.as(arrCol))
    val candidates = arrs.groupBy(col(groupCol))
      .agg(graft.functions.MisraGriesFn.misra_gries(col(arrCol), k)
          .as("cands"),
        sum(size(col(arrCol))).as("n_total"))
      .select(col(groupCol), explode(col("cands")).as(itemCol),
        col("n_total"))
    arrs.select(col(groupCol), explode(col(arrCol)).as(itemCol))
      .join(broadcast(candidates), Seq(groupCol, itemCol))
      .groupBy(col(groupCol), col(itemCol))
      .agg(count(lit(1)).as("cnt"), max(col("n_total")).as("n_total"))
      .filter(col("cnt") >= lit(phi) * col("n_total"))
      .select(col(groupCol), col(itemCol), col("cnt"))
  }
}
