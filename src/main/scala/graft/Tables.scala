package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Parquet table readers over the driver testdata layout
  * (`/root/testdata/sf0.01/<name>.parquet` etc., see TESTDATA.md).
  *
  * All readers are plain `spark.read.parquet` scans so Catalyst predicate
  * pushdown / column pruning reach the parquet reader (verify via
  * `.explain("formatted")` → `PushedFilters` / `ReadSchema`).
  */
object Tables {
  /** Memoized analyzed DataFrames per (session, path). `spark.read.parquet`
    * lists files and reads parquet footers on every call; a 70-query gate
    * run re-pays that per query. The DataFrame (an immutable logical plan)
    * is safely shareable across queries in one session, so cache it.
    * Entries are evicted by [[graft.queries.Memos]] when the session stops.
    * The cached plan pins the file listing made at first read; callers
    * that rewrite a data dir mid-session must `evict(spark)` first.
    */
  private val relationCache =
    new graft.queries.SessionMemo[String, DataFrame](perIteration = false)(
      (_, _, _) => ())

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    relationCache(spark, s"$dir/$name.parquet")(
      spark.read.parquet(s"$dir/$name.parquet"))

  /** Drop cached relations belonging to `spark` (session teardown). */
  def evict(spark: SparkSession): Unit = relationCache.evict(spark)

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Query code treats `events.ts` as an epoch-NANOS long — normalize
    * whatever physical type the driver generated to that contract here,
    * at the read edge, so every downstream operator and oracle stays
    * schema-stable across testdata regenerations:
    *   - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it;
    *     the documented legacy flag (SPARK-40819) reads it as a
    *     nanosecond LongType directly.
    *   - parquet TIMESTAMP(MICROS) without tz (reads as TIMESTAMP_NTZ)
    *     or adjusted-to-UTC (reads as TIMESTAMP): interpret the wall
    *     clock as UTC — exactly what DuckDB's `epoch(ts)` does on the
    *     same file — and scale micros to nanos. The NTZ branch diffs
    *     against an NTZ epoch literal (`timestampdiff` over two NTZ
    *     values never consults the session timezone), so the value is
    *     identical in ANY session tz — `to_utc_timestamp(ntz, 'UTC')`
    *     would not be: its implicit NTZ→TIMESTAMP cast applies the
    *     SESSION zone first. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          expr("timestampdiff(MICROSECOND, " +
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000L"))
      case org.apache.spark.sql.types.TimestampType =>
        df.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case other =>
        throw new IllegalStateException(
          s"unsupported events.ts physical type: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
