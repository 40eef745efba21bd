package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Committed, versioned TABLE SCHEMA for a manifest lake — the metadata
  * half of schema evolution.
  *
  * Why a declared schema instead of parquet footer merging: a 100 TB
  * lake accretes files over years, and the record shape drifts — new
  * columns appear, counters outgrow INT32. Footer-merge
  * (`mergeSchema=true`) handles the ADD case but (a) pays a
  * footer-read per file per plan, (b) FAILS outright on a widened
  * type (`Failed to merge fields: IntegerType and LongType`), and
  * (c) gives writers nothing to validate against, so one misshapen
  * batch poisons every later read. Committing the schema as lake
  * metadata fixes all three:
  *
  *  - '''Reads are projection, not inference.''' Every pinned read
  *    plans with the declared schema (`spark.read.schema(...)`):
  *    files written before an added column return null for it, and
  *    files written before a widening are promoted by the vectorized
  *    parquet reader (Spark 4 reads INT32 file columns as LONG, FLOAT
  *    as DOUBLE — no per-row cast node in the plan, no footer-merge
  *    job, one schema for every file regardless of age.
  *  - '''Evolution is validated, atomic, and versioned.''' [[evolve]]
  *    admits exactly the changes old files can satisfy: ADD a nullable
  *    column, WIDEN byte→short→int→long / float→double, RELAX
  *    nullability. Drops, renames, narrowings, and required adds are
  *    rejected — each would make some existing file unreadable or
  *    silently lossy. The new schema commits by the same
  *    write-tmp-then-atomic-rename as a manifest version.
  *  - '''Writes are validated against the contract.''' A batch whose
  *    columns are unknown, or wider than declared, fails loudly at
  *    submit time ([[validateWrite]]) instead of corrupting the lake;
  *    batches narrower than declared (old writers not yet updated to
  *    a widened/added column) stay legal — the read edge reconciles.
  *
  * Versioning is intentionally INDEPENDENT of manifest versions: a
  * schema change is a metadata-only commit (no data rewrite). The two
  * logs correlate through the manifest's SCHEMA STAMP — every manifest
  * commit records the declared-schema version current at that commit
  * ([[FileManifest.Manifest.schemaV]]) — so a LATEST read projects to
  * the current declaration (an evolve applies immediately, no data
  * commit needed), while a TIME-TRAVEL read resolves the declaration
  * AS OF the pinned commit: a pre-drop pin still shows the dropped
  * column, a pre-rename pin the old name — history keeps its shape.
  *
  * Scale: the log is one tiny JSON file per schema version; reads are
  * one `listStatus` + an LRU-cached parse per plan — never
  * file-count- or row-proportional. Copy-on-write rewrites
  * (delete/merge/cluster) read through the declared schema, so every
  * rewritten file converges to the widest shape as a side effect of
  * normal maintenance.
  */
object SchemaLog {

  def schemaDir(lakePath: String): String = s"$lakePath/_schema"

  private def versionPath(lakePath: String, v: Long): Path =
    new Path(schemaDir(lakePath), f"v$v%06d.schema.json")

  private def parseVersion(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".schema.json"))
      scala.util.Try(
        name.stripPrefix("v").stripSuffix(".schema.json").toLong).toOption
    else None

  def latestVersion(fs: FileSystem, lakePath: String): Option[Long] = {
    val dir = new Path(schemaDir(lakePath))
    if (!fs.exists(dir)) None
    else {
      val vs = fs.listStatus(dir).iterator
        .flatMap(s => parseVersion(s.getPath.getName))
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Parsed-schema cache. Published schema files never change in place,
    * but a lake can be wiped and rebuilt at the same path, so the key
    * carries (mtime, length) like the manifest cache. Schemas are tiny;
    * a count cap suffices. */
  private val cacheCap = 64
  private val cache = new java.util.LinkedHashMap[
    (String, Long, Long, Long), StructType](16, 0.75f, true)
  /** Physical schema-file reads — spec hook (cache behavior). */
  private[graft] val schemaFileReads =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Read one committed schema version. */
  def at(fs: FileSystem, lakePath: String, v: Long): StructType = {
    val p = versionPath(lakePath, v)
    val st = fs.getFileStatus(p)
    val key = (fs.makeQualified(new Path(lakePath)).toString, v,
      st.getModificationTime, st.getLen)
    cache.synchronized(Option(cache.get(key))).getOrElse {
      schemaFileReads.incrementAndGet(): Unit
      val json = SidecarIO.readString(fs, p)
      val s = DataType.fromJson(json).asInstanceOf[StructType]
      cache.synchronized {
        cache.put(key, s): Unit
        val it = cache.entrySet().iterator()
        while (cache.size() > cacheCap && it.hasNext) {
          it.next(); it.remove()
        }
      }
      s
    }
  }

  /** The current declared table schema, or None when this lake has
    * never declared one (footer-inference reads apply). */
  def latest(fs: FileSystem, lakePath: String): Option[StructType] =
    latestVersion(fs, lakePath).map(v => at(fs, lakePath, v))

  /** SCHEMA MEMORY — the last-resort record of an UNDECLARED lake's
    * read shape, the schema-flavored twin of `History.lakeLayout`'s
    * retired-file fallback. An undeclared lake infers its schema from
    * data-file footers; once the current set is empty AND vacuum has
    * reclaimed every retired byte, there is nothing left to infer
    * from, and a pinned read would degrade to a ZERO-COLUMN frame —
    * every downstream `select("id", …)` then dies with an unresolved-
    * column error (deep-fuzz find, round 17: delete-all + grace-0
    * vacuum + any later read). [[graft.sources.History.vacuum]] writes
    * this snapshot BEFORE destroying the last donor; the pinned
    * planner reads it only on the no-files/no-declaration/no-donor
    * path. NOT a declaration: the lake stays in adopt-and-merge mode
    * (writes keep their loose undeclared semantics), and a later
    * declaration always wins. */
  private def memoryPath(lakePath: String): Path =
    new Path(schemaDir(lakePath), "memory.json")

  /** Last-writer-wins, published by atomic overwrite
    * ([[SidecarIO.replace]]) — not the manifests' no-overwrite commit:
    * every vacuum refreshes the memory, so a collision here is two
    * snapshots of the same lake racing — either is a valid memory. The
    * replace (vs. writing the destination in place) makes each
    * published file ALL-OR-NOTHING: a crash mid-write can no longer
    * destroy the previously valid memory — the exact last-resort
    * artifact the fallback depends on (ADVICE r17). */
  def writeMemory(fs: FileSystem, lakePath: String,
                  schema: StructType): Unit =
    SidecarIO.replace(fs, memoryPath(lakePath), schema.json.getBytes(UTF_8))

  def readMemory(fs: FileSystem, lakePath: String): Option[StructType] = {
    val p = memoryPath(lakePath)
    if (!scala.util.Try(fs.exists(p)).getOrElse(false)) None
    else scala.util.Try(DataType.fromJson(SidecarIO.readString(fs, p))
      .asInstanceOf[StructType]).toOption
  }

  /** Every committed schema version (ascending) — the evolution
    * history. */
  def versions(fs: FileSystem, lakePath: String): Seq[Long] = {
    val dir = new Path(schemaDir(lakePath))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator
      .flatMap(s => parseVersion(s.getPath.getName)).toSeq.sorted
  }

  /** Declare the lake's CURRENT read schema as schema version 1 — the
    * entry point into declared-schema mode. Idempotent: a lake that
    * already declared keeps its log (returns the current version).
    * All fields are declared nullable: parquet files written by Spark
    * are nullable throughout, and a required column would reject every
    * historical file. */
  def declare(spark: SparkSession, lakePath: String): Long = {
    val fs = new Path(lakePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // declared-schema reads are wired through the MANIFEST planner
    // (planManifest); on a legacy directory-mode lake the declaration
    // would commit but never apply — fail loudly instead of confusing
    require(FileManifest.enabled(fs, lakePath),
      s"declare needs a manifest-mode lake (History.enableManifests): " +
        lakePath)
    latestVersion(fs, lakePath) match {
      case Some(v) => v
      case None =>
        val snapshot = StructType(
          History.readPinned(spark, lakePath).schema
            .fields.map(_.copy(nullable = true)))
        publish(fs, lakePath, 1L, snapshot)
        commitDdlVersion(fs, lakePath)
        1L
    }
  }

  /** Commit `next` as the new declared schema after validating it is a
    * legal evolution of the current one (see [[validateEvolution]]).
    * Metadata-only: no data file is touched; every reader of every
    * retained snapshot sees `next` from this commit on. Returns the
    * new schema version. */
  def evolve(spark: SparkSession, lakePath: String,
             next: StructType): Long = {
    val fs = new Path(lakePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = latestVersion(fs, lakePath).getOrElse(
      throw new IllegalStateException(
        s"evolve needs a declared schema — call declare first: $lakePath"))
    val old = at(fs, lakePath, v)
    validateEvolution(old, next)
    // a retired physical name (renamed away or dropped) cannot come
    // back as a new column: old files still hold it — a rename alias
    // would duplicate the read schema; a dropped name would resurrect
    // stale values into the new column
    val retired = retiredNames(fs, lakePath)
    next.fields.filterNot(f => old.fieldNames.contains(f.name)).foreach {
      f =>
        if (retired.exists(_.equalsIgnoreCase(f.name)))
          throw new IllegalArgumentException(
            s"added column '${f.name}' is a retired physical name of a " +
              "renamed column — old files still hold it under that " +
              "name; pick a different name")
    }
    // evolution must not lose rename lineage: a caller-constructed
    // `next` without the alias metadata would silently orphan every
    // pre-rename file's column — carry it over by name
    val oldByName = old.fields.map(f => f.name -> f).toMap
    val carried = StructType(next.fields.map { f =>
      oldByName.get(f.name) match {
        case Some(of) if aliasesOf(of).nonEmpty && aliasesOf(f).isEmpty =>
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putStringArray(RenamedFromKey, aliasesOf(of).toArray).build())
        case _ => f
      }
    })
    publish(fs, lakePath, v + 1, carried)
    commitDdlVersion(fs, lakePath)
    v + 1
  }

  private def publish(fs: FileSystem, lakePath: String, v: Long,
                      schema: StructType): Unit =
    SidecarIO.create(fs, versionPath(lakePath, v), schema.json.getBytes(UTF_8))

  /** DDL-AS-COMMIT: publish a DATA-IDENTICAL manifest version right
    * after a metadata-only schema change (declare / evolve / rename /
    * drop / undrop), so the new declaration is PIN-visible immediately
    * — a tag or `VERSION AS OF` taken between the DDL and the next
    * data commit resolves the post-DDL schema, not the declaration as
    * of the last data commit (the round-18 closing-sweep stamp-
    * granularity lag, seed 10024; Delta/Iceberg users expect DDL to be
    * a version). [[FileManifest.publish]] stamps the fresh schema
    * version on the new root; content is byte-identical (same cur /
    * retired / dvs), so the change feed diffs empty and vacuum sees
    * the same references. No-op on lakes without manifests (the
    * stamp-less fallback contract covers them). Crash between the
    * schema publish and this commit degrades to the old documented
    * lag — converges at the next commit, never wrong twice. A RACING
    * writer's version collision degrades the same way (ADVICE r19):
    * the schema version is already durably written by the time this
    * publish runs, so failing the DDL here would report failure for
    * a rename/evolve that actually committed — and a naive retry of
    * e.g. renameColumn would then bounce on 'no such column'. The
    * racer's own commit (or the next one) stamps the new schema. */
  private def commitDdlVersion(fs: FileSystem, lakePath: String): Unit =
    FileManifest.latest(fs, lakePath).foreach { m =>
      try FileManifest.publish(fs, lakePath, m.copy(version = m.version + 1))
      catch { case _: VersionCollisionException => () }
    }

  /** Declare an EXPLICIT schema as a fresh lake's v1 — the snapshot-
    * export path carrying the source lake's declaration to the copy
    * (re-inferring at the destination would lose the projection a
    * mixed-era source relies on). Fails if the destination already
    * declared one. */
  private[sources] def declareAs(fs: FileSystem, lakePath: String,
                                 schema: StructType): Long = {
    require(latestVersion(fs, lakePath).isEmpty,
      s"declareAs on a lake with an existing declared schema: $lakePath")
    publish(fs, lakePath, 1L, schema)
    // DDL-as-commit here too: the CREATE TABLE path declares AFTER its
    // manifests exist, and without a stamped version a tag taken right
    // after CREATE would pin a stamp-less manifest that resolves the
    // PRESENT declaration under later renames — the exact lag
    // commitDdlVersion closes for declare(). Snapshot export declares
    // BEFORE the destination's first manifest publish, where this
    // no-ops and the subsequent publish stamps the declaration itself.
    commitDdlVersion(fs, lakePath)
    1L
  }

  /** Field-metadata key carrying a renamed column's PRIOR physical
    * names (oldest first): files written before the rename hold the
    * column under one of these names, and the read edge reconciles —
    * see [[physicalReadSchema]] / [[applyAliases]]. */
  val RenamedFromKey = "graft.renamedFrom"

  /** The prior physical names of a declared field (empty for never-
    * renamed columns). */
  def aliasesOf(f: StructField): Seq[String] =
    if (f.metadata.contains(RenamedFromKey))
      scala.util.Try(
        f.metadata.getStringArray(RenamedFromKey).toSeq).getOrElse(Nil)
    else Nil

  /** Does any declared field carry retired physical names? (Decides
    * whether reads need the alias projection / the engine read path.) */
  def hasAliases(s: StructType): Boolean =
    s.fields.exists(f => aliasesOf(f).nonEmpty)

  /** The PHYSICAL read schema for a declared table schema: every
    * declared field plus one nullable column per retired physical name
    * (at the field's declared — widened — type, so the reader promotes
    * old files' narrower physicals exactly as it does for the live
    * name). One parquet scan over mixed-era files then fills, for each
    * renamed column, exactly one of {new name, aliases} per file — no
    * file holds two of them (writes validate against the declared
    * schema, which only ever carries the live name). */
  def physicalReadSchema(s: StructType): StructType =
    if (!hasAliases(s)) s
    else StructType(s.fields.flatMap { f =>
      f +: aliasesOf(f).map(a =>
        StructField(a, f.dataType, nullable = true))
    })

  /** Fold a [[physicalReadSchema]] scan back to the DECLARED shape:
    * renamed columns coalesce(new name, aliases newest-first) — per
    * file exactly one is non-absent, so this is selection, not
    * arithmetic. No-op (and no extra Project) for alias-free schemas. */
  def applyAliases(df: org.apache.spark.sql.DataFrame,
                   s: StructType): org.apache.spark.sql.DataFrame =
    if (!hasAliases(s)) df
    else {
      import org.apache.spark.sql.functions.{coalesce, col}
      def q(n: String) = col(s"`$n`")
      df.select(s.fields.map { f =>
        val as = aliasesOf(f)
        if (as.isEmpty) q(f.name)
        else coalesce((f.name +: as.reverse).map(q): _*).as(f.name)
      }.toIndexedSeq: _*)
    }

  /** Tombstone sidecar: physical names of DROPPED columns (plus their
    * own rename lineage). Old files still hold these columns, so a
    * later ADD/RENAME-to of the same name would RESURRECT their stale
    * values into the new column — the classic name-based-schema
    * hazard field-id formats exist to avoid; the tombstone list is
    * the name-based answer (append-only, KB-scale). */
  private def retiredPath(lakePath: String): Path =
    new Path(schemaDir(lakePath), "retired.tsv")

  /** Every physical name no NEW column may take: rename aliases from
    * the current declaration plus dropped-column tombstones (base64 of
    * the UTF-8 name, one per line — the stats sidecar's encoding, so
    * any legal column name round-trips exactly). */
  def retiredNames(fs: FileSystem, lakePath: String): Seq[String] = {
    val fromAliases = latest(fs, lakePath).toSeq
      .flatMap(_.fields.flatMap(aliasesOf))
    val fromDrops =
      if (!fs.exists(retiredPath(lakePath))) Seq.empty
      else SidecarIO.readLines(fs, retiredPath(lakePath))
        .flatMap(l => scala.util.Try(new String(
          java.util.Base64.getDecoder.decode(l),
          java.nio.charset.StandardCharsets.UTF_8)).toOption)
    (fromAliases ++ fromDrops).distinct
  }

  /** Carry the source lake's retired-name set to a snapshot-export
    * destination: the export copies RAW file bytes, so dropped
    * columns' values travel with them — the destination needs the
    * same re-add protection or it could resurrect them. */
  private[sources] def carryRetired(srcFs: FileSystem, srcPath: String,
      destFs: FileSystem, destPath: String): Unit = {
    val names = retiredNames(srcFs, srcPath)
    if (names.nonEmpty) appendRetired(destFs, destPath, names)
  }

  private def appendRetired(fs: FileSystem, lakePath: String,
                            names: Seq[String]): Unit = {
    val existing =
      if (!fs.exists(retiredPath(lakePath))) Seq.empty
      else SidecarIO.readLines(fs, retiredPath(lakePath))
    val lines = (existing ++ names.map(n =>
      java.util.Base64.getEncoder.encodeToString(
        n.getBytes(java.nio.charset.StandardCharsets.UTF_8)))).distinct
    replaceRetired(fs, lakePath, lines)
  }

  /** Publish a REPLACEMENT retired list by atomic overwrite —
    * all-or-nothing like [[writeMemory]], and deliberately NOT the
    * manifests' no-overwrite commit: the tombstone file is re-written
    * by every later drop (and shrunk by [[undropColumn]]), and DDL
    * runs from the lake's single-writer sequence, so last-writer-wins
    * over a whole-file image is the correct arbitration (the
    * no-overwrite primitive would make the SECOND drop on a lake
    * collide with the first's file — a one-drop-per-lake bug). */
  private def replaceRetired(fs: FileSystem, lakePath: String,
                             lines: Seq[String]): Unit =
    SidecarIO.replace(fs, retiredPath(lakePath),
      lines.mkString("\n").getBytes(UTF_8))

  /** METADATA-ONLY column drop: commits a new declared-schema version
    * WITHOUT the field — zero data files rewritten; old files keep the
    * bytes (projection simply stops reading them) and copy-on-write
    * maintenance sheds the column from rewritten files as a side
    * effect. The dropped name (and its rename lineage) is TOMBSTONED:
    * re-adding it would resurrect old files' stale values into the
    * new column, so it refuses forever. LATEST reads stop showing the
    * column from this commit on; TIME-TRAVEL reads of pre-drop
    * versions still show it (the snapshot-era schema stamp — see
    * [[graft.sources.History.readPinned(spark:*,path:*,version:*)*]]),
    * so an accidental drop recovers via `VERSION AS OF` or a pinned
    * export within the vacuum grace. Refuses partition columns (the k=v dirs
    * are the lake's layout), the last remaining column, and drops
    * while a CHECK constraint references the column. */
  def dropColumn(spark: SparkSession, lakePath: String,
                 name: String): Long = {
    val fs = new Path(lakePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = latestVersion(fs, lakePath).getOrElse(
      throw new IllegalStateException(
        s"DROP COLUMN needs a declared schema — declare first: " +
          lakePath))
    val old = at(fs, lakePath, v)
    val field = old.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"DROP COLUMN $name: no such column " +
          s"(have: ${old.fieldNames.mkString(", ")})"))
    if (old.fields.length == 1)
      throw new UnsupportedOperationException(
        s"DROP COLUMN ${field.name}: it is the table's only column")
    // LAYOUT MEMORY, same rule as every write path (History.lakeLayout):
    // a truncated lake's scheme survives in its RETIRED files, so the
    // guard must see it — deriving from current files only would let a
    // partition column be dropped during an empty-current-set window,
    // after which the next INSERT partitions by a column the declared
    // schema no longer carries
    val partCols = FileManifest.latest(fs, lakePath)
      .map(m => History.lakeLayout(fs, lakePath, m))
      .getOrElse(
        FileManifest.declaredPartitioning(fs, lakePath).getOrElse(Seq.empty))
    if (partCols.exists(_.equalsIgnoreCase(field.name)))
      throw new UnsupportedOperationException(
        s"DROP COLUMN ${field.name}: it is a partition column — the " +
          "k=v directory layout depends on it (expire/restate the " +
          "partitions instead)")
    val referencing = Constraints.current(fs, lakePath).collect {
      case (n, expr) if scala.util.Try(
          spark.sessionState.sqlParser.parseExpression(expr).collect {
            case u: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => u.name
          }.exists(_.equalsIgnoreCase(field.name))).getOrElse(true) =>
        n
    }
    if (referencing.nonEmpty)
      throw new UnsupportedOperationException(
        s"DROP COLUMN ${field.name}: CHECK constraint(s) " +
          s"${referencing.mkString(", ")} reference it — drop them " +
          "first")
    // tombstone BEFORE publish: a crash between the two leaves the
    // column present but its name reserved — safe (re-dropping
    // converges); the reverse order could let a racing ADD slip in
    appendRetired(fs, lakePath, field.name +: aliasesOf(field))
    publish(fs, lakePath, v + 1,
      StructType(old.fields.filterNot(_.name == field.name)))
    commitDdlVersion(fs, lakePath)
    v + 1
  }

  /** EXPLICIT UNDO of a metadata-only [[dropColumn]] — `UNDROP`:
    * re-declares the dropped field EXACTLY as its last declaration
    * (same type, same rename lineage) and releases its tombstone.
    *
    * Safe precisely BECAUSE the tombstone existed: re-adding a dropped
    * name is refused forever since old files' bytes would resurrect
    * into a semantically NEW column — but undrop's intent is the
    * opposite: bring back the OLD column, whose values in old files
    * are its own. The tombstone guarantees the name was never recycled
    * in between, so the resurrection is exact:
    *
    *  - rows written BEFORE the drop read their original values back;
    *  - rows written DURING the dropped window read NULL (they carry
    *    no bytes for it — exactly an added column's backfill);
    *  - the rename lineage returns with the field, so pre-rename-era
    *    files keep resolving through the alias projection.
    *
    * Metadata-only (schema version +1, tombstone list rewritten);
    * deliberately NOT wired to SQL `ADD COLUMN` — silently turning an
    * ADD into a resurrection is the exact hazard the tombstone blocks;
    * the explicit surface is this API and `CALL lake.undrop_column`.
    * Era reads stay honest: pins inside the dropped window still
    * resolve era declarations without the column. Refuses when the
    * name is live, was never declared in a retained schema version,
    * or is retired only as a RENAME alias — of a live column (which
    * already owns those files) or of a later-dropped one (undrop the
    * drop-time FINAL name instead; resurrecting the pre-rename
    * declaration would orphan the lineage and let a second undrop
    * declare two live columns over the same bytes). Undrop un-drops;
    * it does not un-rename. */
  def undropColumn(spark: SparkSession, lakePath: String,
                   name: String): Long = {
    val fs = new Path(lakePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = latestVersion(fs, lakePath).getOrElse(
      throw new IllegalStateException(
        s"UNDROP COLUMN needs a declared schema: $lakePath"))
    val cur = at(fs, lakePath, v)
    if (cur.fields.exists(_.name.equalsIgnoreCase(name)))
      throw new IllegalArgumentException(
        s"UNDROP COLUMN $name: the column is live")
    // a name retired as a live column's RENAME alias is not a drop —
    // the bytes belong to the renamed column
    val aliasOwner = cur.fields.find(f =>
      aliasesOf(f).exists(_.equalsIgnoreCase(name)))
    aliasOwner.foreach { f =>
      throw new IllegalArgumentException(
        s"UNDROP COLUMN $name: it is a retired physical name of live " +
          s"column '${f.name}' (renamed, not dropped)")
    }
    val dropLines =
      if (!fs.exists(retiredPath(lakePath))) Seq.empty[String]
      else SidecarIO.readLines(fs, retiredPath(lakePath))
    def decoded(l: String): Option[String] =
      scala.util.Try(new String(java.util.Base64.getDecoder.decode(l),
        java.nio.charset.StandardCharsets.UTF_8)).toOption
    if (!dropLines.flatMap(decoded(_)).exists(_.equalsIgnoreCase(name)))
      throw new IllegalArgumentException(
        s"UNDROP COLUMN $name: not a dropped column (tombstones: " +
          s"${retiredNames(fs, lakePath).mkString(", ")})")
    // the field comes back EXACTLY as last declared — newest retained
    // schema version that carried it donates type + rename lineage.
    // The name must be the dropped field's FINAL name: a name retired
    // only as rename LINEAGE of a later-dropped column (rename a→b,
    // then drop b) must not resurrect its pre-rename declaration —
    // that would revive 'a' without b's lineage, and a later UNDROP b
    // would then declare TWO live columns resolving the same physical
    // bytes (ADVICE r18). Newest-first, the first retained schema
    // touching the name adjudicates: a field NAMED `name` donates; a
    // field merely carrying `name` as an alias refuses, naming the
    // final name to undrop instead.
    val donor = versions(fs, lakePath).sorted.reverse.iterator
      .map(at(fs, lakePath, _))
      .flatMap(_.fields.find(f => f.name.equalsIgnoreCase(name) ||
        aliasesOf(f).exists(_.equalsIgnoreCase(name))))
      .nextOption()
      .getOrElse(throw new IllegalArgumentException(
        s"UNDROP COLUMN $name: no retained schema version declares it"))
    if (!donor.name.equalsIgnoreCase(name))
      throw new IllegalArgumentException(
        s"UNDROP COLUMN $name: it is retired rename lineage of " +
          s"dropped column '${donor.name}' — UNDROP COLUMN " +
          s"${donor.name} brings the field back (lineage included); " +
          "undrop does not un-rename")
    // defense in depth: the donor returns with its whole lineage, and
    // none of those names may collide with a live column's name or
    // alias (unreachable under the lineage refusal above, but the
    // duplicate-free one-scan read schema is cheap to assert here)
    val liveNames = cur.fields.flatMap(f => f.name +: aliasesOf(f))
      .map(_.toLowerCase).toSet
    val clash = (donor.name +: aliasesOf(donor))
      .map(_.toLowerCase).filter(liveNames)
    if (clash.nonEmpty)
      throw new IllegalArgumentException(
        s"UNDROP COLUMN $name: its lineage (${clash.mkString(", ")}) " +
          "collides with a live column's name or alias")
    // release the tombstone for the field AND its rename lineage (the
    // lineage returns as field metadata, where retiredNames re-covers
    // it as a live alias — never double-listed, never lost)
    val release = (donor.name +: aliasesOf(donor)).map(_.toLowerCase).toSet
    val kept = dropLines.filterNot(l =>
      decoded(l).exists(d => release(d.toLowerCase)))
    replaceRetired(fs, lakePath, kept)
    publish(fs, lakePath, v + 1,
      StructType(cur.fields :+ donor.copy(nullable = true)))
    commitDdlVersion(fs, lakePath)
    v + 1
  }

  /** METADATA-ONLY column rename: commits a new declared-schema
    * version where `oldName`'s field is re-declared as `newName`
    * carrying `oldName` (and any earlier names) as retired physical
    * aliases — zero data files rewritten; every file era reads back
    * under the new name through the [[applyAliases]] projection, and
    * copy-on-write maintenance converges files to the new physical
    * name as a side effect. Refuses:
    *  - partition columns (their `k=v` DIRECTORY names are physical —
    *    a metadata rename cannot move directories);
    *  - a target name colliding with a declared column or any retired
    *    physical name (the one-scan read schema must stay
    *    duplicate-free);
    *  - renames while a CHECK constraint references the old name (the
    *    constraint would stop resolving — drop and re-add it against
    *    the new name first, an explicit governed step). */
  def renameColumn(spark: SparkSession, lakePath: String,
                   oldName: String, newName: String): Long = {
    val fs = new Path(lakePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = latestVersion(fs, lakePath).getOrElse(
      throw new IllegalStateException(
        s"RENAME COLUMN needs a declared schema — declare first: " +
          lakePath))
    val old = at(fs, lakePath, v)
    val field = old.fields.find(_.name.equalsIgnoreCase(oldName))
      .getOrElse(throw new IllegalArgumentException(
        s"RENAME COLUMN $oldName: no such column " +
          s"(have: ${old.fieldNames.mkString(", ")})"))
    if (old.fields.exists(_.name.equalsIgnoreCase(newName)))
      throw new IllegalArgumentException(
        s"RENAME COLUMN to $newName: the column already exists")
    if (retiredNames(fs, lakePath).exists(_.equalsIgnoreCase(newName)))
      throw new IllegalArgumentException(
        s"RENAME COLUMN to $newName: that name is a retired physical " +
          "name (renamed away or dropped) — old files still hold it, " +
          "so reusing it would resurrect stale values or make the " +
          "read ambiguous")
    // LAYOUT MEMORY, same rule as every write path (History.lakeLayout):
    // the guard must also see a truncated lake's scheme (retired files)
    // — see the DROP COLUMN guard's note
    val partCols = FileManifest.latest(fs, lakePath)
      .map(m => History.lakeLayout(fs, lakePath, m))
      .getOrElse(
        FileManifest.declaredPartitioning(fs, lakePath).getOrElse(Seq.empty))
    if (partCols.exists(_.equalsIgnoreCase(field.name)))
      throw new UnsupportedOperationException(
        s"RENAME COLUMN ${field.name}: it is a partition column — the " +
          "k=v directory names are physical and a metadata-only " +
          "rename cannot move directories")
    // a CHECK constraint referencing the old name would silently stop
    // resolving; renaming under it is refused, not repaired (the
    // constraint's meaning is the owner's to restate)
    val referencing = Constraints.current(fs, lakePath).collect {
      case (name, expr) if scala.util.Try(
          spark.sessionState.sqlParser.parseExpression(expr).collect {
            case u: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => u.name
          }.exists(_.equalsIgnoreCase(field.name))).getOrElse(true) =>
        name
    }
    if (referencing.nonEmpty)
      throw new UnsupportedOperationException(
        s"RENAME COLUMN ${field.name}: CHECK constraint(s) " +
          s"${referencing.mkString(", ")} reference it — drop and " +
          s"re-add them against '$newName' first")
    val next = StructType(old.fields.map { f =>
      if (f.name == field.name) {
        val md = new MetadataBuilder().withMetadata(f.metadata)
          .putStringArray(RenamedFromKey,
            (aliasesOf(f) :+ f.name).toArray)
          .build()
        StructField(newName, f.dataType, f.nullable, md)
      } else f
    })
    publish(fs, lakePath, v + 1, next)
    commitDdlVersion(fs, lakePath)
    v + 1
  }

  /** Does the parquet read edge promote `from`-typed file columns into
    * a `to`-typed schema slot? Exactly Spark 4's vectorized-reader
    * widening set (integral up-casts and float→double) plus identity
    * (nullability-insensitive). Everything else — narrowing, string
    * re-typing, decimal changes, nested edits — is rejected: it would
    * need a per-row cast that can fail, which a declared schema must
    * never smuggle into a scan. */
  private[graft] def widensTo(from: DataType, to: DataType): Boolean =
    if (from.sql == to.sql) true // nullability-insensitive equality
    else (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }

  /** A legal evolution keeps every existing column readable from every
    * existing file: no drop, no rename, no narrowing, no tightened
    * nullability, and added columns must be nullable (old files have
    * no value to supply). Throws with the first violation. */
  def validateEvolution(old: StructType, next: StructType): Unit = {
    val nextByName = next.fields.map(f => f.name -> f).toMap
    old.fields.foreach { of =>
      val nf = nextByName.getOrElse(of.name,
        throw new IllegalArgumentException(
          s"schema evolution cannot drop or rename column '${of.name}' " +
            "(old files would become unreadable); add columns instead"))
      if (!widensTo(of.dataType, nf.dataType))
        throw new IllegalArgumentException(
          s"illegal type change for column '${of.name}': " +
            s"${of.dataType.simpleString} -> ${nf.dataType.simpleString} " +
            "(only byte/short/int->long and float->double widen losslessly)")
      if (of.nullable && !nf.nullable)
        throw new IllegalArgumentException(
          s"cannot tighten column '${of.name}' from nullable to required " +
            "(existing files may hold nulls)")
    }
    val oldNames = old.fieldNames.toSet
    next.fields.filterNot(f => oldNames(f.name)).foreach { f =>
      if (!f.nullable)
        throw new IllegalArgumentException(
          s"added column '${f.name}' must be nullable " +
            "(files written before the evolution have no value for it)")
    }
  }

  /** Validate a batch about to be written against the declared schema:
    * every written column must exist in the declaration with an equal
    * or NARROWER type (the read edge widens; nothing narrows), and no
    * declared non-nullable column may be missing. Batches narrower
    * than declared are legal — old writers keep working across an
    * evolution, and reads backfill nulls. Throws with the first
    * violation. */
  def validateWrite(declared: StructType, writing: StructType): Unit = {
    val declByName = declared.fields.map(f => f.name -> f).toMap
    writing.fields.foreach { wf =>
      val df = declByName.getOrElse(wf.name,
        throw new IllegalArgumentException(
          s"write column '${wf.name}' is not in the declared table " +
            "schema — evolve the schema before writing it"))
      if (!widensTo(wf.dataType, df.dataType))
        throw new IllegalArgumentException(
          s"write column '${wf.name}' has type " +
            s"${wf.dataType.simpleString}, incompatible with declared " +
            s"${df.dataType.simpleString} (writes may be equal or narrower)")
    }
    val writingNames = writing.fieldNames.toSet
    declared.fields
      .filterNot(f => f.nullable || writingNames(f.name))
      .foreach { f =>
        throw new IllegalArgumentException(
          s"write is missing declared non-nullable column '${f.name}'")
      }
  }
}
