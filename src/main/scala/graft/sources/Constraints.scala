package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TABLE CONSTRAINTS — declared row-level CHECK invariants a manifest
  * lake enforces at WRITE time, the data-quality contract of a
  * training corpus ("n_chars >= 0", "lang IN (...)", "doc_id IS NOT
  * NULL"). Once a constraint is committed, no data-adding write can
  * land a violating row: [[History.append]],
  * [[History.overwritePartitions]], and the streaming archive path all
  * validate the batch BEFORE any file lands, and a violation fails
  * loudly with the constraint name and a sample row — the batch is
  * rejected whole, the lake image unchanged (the same
  * validate-then-commit discipline as [[SchemaLog.validateWrite]]).
  *
  * Semantics (ANSI CHECK, the Delta-Lake-compatible reading):
  *  - a row VIOLATES a constraint only when the expression evaluates
  *    to FALSE; TRUE and NULL both pass (so `lang IN (...)` admits a
  *    NULL lang — express non-nullness explicitly as `IS NOT NULL`);
  *  - a batch NARROWER than the declared schema (an old writer
  *    mid-evolution) is evaluated as its READ image: missing columns
  *    null-extend before the check, exactly how the landed rows will
  *    answer queries;
  *  - [[add]] validates the EXISTING lake image first — a constraint
  *    the current data violates is rejected, never committed (it
  *    could not be trusted by readers).
  *
  * Storage: one immutable `constraints-v%06d.json`-style text file per
  * version under `_schema/` (name TAB expression per line), published
  * with the same atomic no-overwrite rename as schema versions —
  * concurrent add/drop races surface as a loud commit failure, not a
  * lost constraint. The active set is the highest version.
  *
  * Scale: enforcement is ONE extra validating job over the batch
  * (all constraints folded into a single conjunction, one scan,
  * `limit 1` on violations — the scan short-circuits at the first
  * violating row per partition and ships at most one row to the
  * driver). The constraint set itself is O(declared constraints) —
  * metadata, never data.
  */
object Constraints {

  private def versionPath(lakePath: String, v: Long): Path =
    new Path(SchemaLog.schemaDir(lakePath), f"constraints-v$v%06d.txt")

  private def parseVersion(name: String): Option[Long] =
    if (name.startsWith("constraints-v") && name.endsWith(".txt"))
      scala.util.Try(name.stripPrefix("constraints-v")
        .stripSuffix(".txt").toLong).toOption
    else None

  def latestVersion(fs: FileSystem, lakePath: String): Option[Long] = {
    val dir = new Path(SchemaLog.schemaDir(lakePath))
    if (!fs.exists(dir)) None
    else {
      val vs = fs.listStatus(dir).iterator
        .flatMap(s => parseVersion(s.getPath.getName))
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** The active constraint set (name → boolean SQL expression),
    * insertion-ordered; empty when the lake never declared any. */
  def current(fs: FileSystem, lakePath: String): Seq[(String, String)] =
    latestVersion(fs, lakePath).map(at(fs, lakePath, _)).getOrElse(Nil)

  def at(fs: FileSystem, lakePath: String, v: Long): Seq[(String, String)] =
    SidecarIO.readLines(fs, versionPath(lakePath, v)).map { l =>
      l.split('\t') match {
        case Array(name, e) => (name, e)
        case _ => throw new java.io.IOException(
          s"corrupt constraint line in v$v: $l")
      }
    }

  private def publish(fs: FileSystem, lakePath: String, v: Long,
                      cs: Seq[(String, String)]): Unit =
    SidecarIO.create(fs, versionPath(lakePath, v),
      cs.map { case (n, e) => s"$n\t$e" }.mkString("", "\n",
        if (cs.isEmpty) "" else "\n").getBytes(UTF_8))

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commit a named CHECK constraint. Fails loudly — committing
    * nothing — when the name is taken, the expression does not parse
    * as a boolean over the lake schema, or ANY current row violates it
    * (validated with one distributed `limit 1` probe over the pinned
    * image). Returns the new constraint-set version. */
  def add(spark: SparkSession, path: String, name: String,
          exprSql: String): Long = {
    val fs = fsOf(spark, path)
    require(FileManifest.enabled(fs, path),
      s"constraints need a manifest-mode lake (enableManifests): $path")
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"bad constraint name '$name'")
    require(!exprSql.exists(c => c == '\t' || c == '\n'),
      "constraint expression must be a single line (no tab/newline)")
    // resolve the base version ONCE and derive both the current set
    // and the publish target from it: separate reads would let a racer
    // publish in between, making this add build v(N+1) from a stale
    // set and silently drop the racer's constraint — the atomic rename
    // arbitrates only when both racers target the SAME version
    val baseV = latestVersion(fs, path)
    val cur = baseV.map(at(fs, path, _)).getOrElse(Nil)
    require(!cur.exists(_._1 == name),
      s"constraint '$name' already declared on $path")
    val image = History.readPinned(spark, path)
    val parsed = expr(exprSql)
    // resolve the TYPE before committing anything: a silent cast would
    // accept "n_chars" (numeric) as shorthand for != 0 and commit the
    // typo instead of catching it (analysis errors surface here too)
    val dt = image.select(parsed).schema.head.dataType
    require(dt == org.apache.spark.sql.types.BooleanType,
      s"constraint '$name' expression '$exprSql' resolves to $dt, " +
        "not BOOLEAN")
    val violating = image.filter(parsed === lit(false))
      .limit(1).collect()
    if (violating.nonEmpty)
      throw new IllegalArgumentException(
        s"constraint '$name' ($exprSql) is violated by existing data " +
          s"in $path — sample row: ${violating.head}")
    val v = baseV.getOrElse(0L) + 1L
    publish(fs, path, v, cur :+ (name -> exprSql))
    v
  }

  /** Drop a constraint by name; returns the new version. Dropping an
    * undeclared name fails loudly (a takedown that silently no-ops
    * would mask a typo forever). */
  def drop(spark: SparkSession, path: String, name: String): Long = {
    val fs = fsOf(spark, path)
    val baseV = latestVersion(fs, path) // one read — see add
    val cur = baseV.map(at(fs, path, _)).getOrElse(Nil)
    require(cur.exists(_._1 == name),
      s"constraint '$name' not declared on $path")
    val v = baseV.getOrElse(0L) + 1L
    publish(fs, path, v, cur.filterNot(_._1 == name))
    v
  }

  /** Carry the source lake's active constraint set to a fresh export
    * destination as its v1 (no-op when the source declares none; fails
    * if the destination already declared — the export path guarantees
    * a clean destination). */
  private[sources] def exportTo(srcFs: FileSystem, srcPath: String,
                                destFs: FileSystem,
                                destPath: String): Unit = {
    val cs = current(srcFs, srcPath)
    if (cs.isEmpty) return
    require(latestVersion(destFs, destPath).isEmpty,
      s"exportTo on a lake with existing constraints: $destPath")
    publish(destFs, destPath, 1L, cs)
  }

  /** Enforce the active set against STAGED bytes (the append /
    * partition-overwrite discipline): no-ops without constructing the
    * read when the lake declares nothing, otherwise validates exactly
    * the parquet rows that would publish — immune to non-deterministic
    * batch plans, because the staged files ARE the batch. */
  def enforceStaged(spark: SparkSession, path: String,
                    stageDir: String): Unit = {
    if (current(fsOf(spark, path), path).isEmpty) return
    // an EMPTY stage is trivially valid: a zero-row batch written with
    // partitionBy stages NO parquet files, and constructing the read
    // over a fileless directory throws 'Unable to infer schema' —
    // turning a legal no-op append into a crash. Walk the stage first;
    // zero data files ⇒ zero rows ⇒ nothing to validate.
    val sfs = fsOf(spark, stageDir)
    val stage = new org.apache.hadoop.fs.Path(stageDir)
    def hasDataFile: Boolean = {
      val it = sfs.listFiles(stage, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) return true
      }
      false
    }
    if (!sfs.exists(stage) || !hasDataFile) return
    enforce(spark, path,
      spark.read.option("basePath", stageDir).parquet(stageDir))
  }

  /** Enforce the active set against a batch about to land: evaluates
    * every constraint over the batch's READ image (missing declared
    * columns null-extended) in ONE validating job and throws — before
    * any file lands — naming the violated constraint(s) and a sample
    * row. No-op on a lake with no declared constraints.
    *
    * CALLER CONTRACT: `batch` must be deterministic (this validating
    * job is a separate evaluation from the caller's write — a rand()
    * column could pass here and land different values). The staged
    * write paths ([[History.append]], [[History.overwritePartitions]])
    * validate staged bytes via [[enforceStaged]] and are immune;
    * mergeInto and the archive path already require deterministic
    * inputs for their own multi-pass plans. */
  def enforce(spark: SparkSession, path: String, batch: DataFrame): Unit = {
    val fs = fsOf(spark, path)
    val cs = current(fs, path)
    if (cs.isEmpty) return
    val extended = SchemaLog.latest(fs, path) match {
      case Some(d) => d.fields
        .filterNot(f => batch.columns.contains(f.name))
        .foldLeft(batch)((b, f) =>
          b.withColumn(f.name, lit(null).cast(f.dataType)))
      case None => batch
    }
    // one conjunction scan, short-circuiting at the first violation;
    // the flags array names which constraint(s) the sample row broke
    val flags = array(cs.map { case (n, e) =>
      when(expr(e).cast("boolean") === lit(false), lit(n))
    }: _*)
    val bad = extended
      .withColumn("_violated", filter(flags, f => f.isNotNull))
      .filter(size(col("_violated")) > 0)
      .limit(1).collect()
    if (bad.nonEmpty) {
      val row = bad.head
      val names = row.getSeq[String](row.fieldIndex("_violated"))
      throw new IllegalArgumentException(
        s"write to $path rejected: constraint(s) ${names.mkString(", ")} " +
          s"violated — sample row: $row (no file landed; fix the batch " +
          "or drop the constraint)")
    }
  }
}
