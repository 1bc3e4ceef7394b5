package graft.fs

import java.util.Properties

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Write disposition for [[FeatureStore.writeTable]] — the reference's
  * `compute_and_write(..., mode=...)` accepts "overwrite" and "merge"
  * (Feature_Store_Telco_Churn_Flight_School.py:104-108, :230-231, :435).
  */
sealed trait WriteMode
object WriteMode {
  case object Overwrite extends WriteMode
  case object Merge extends WriteMode
  def parse(s: String): WriteMode = s.toLowerCase match {
    case "overwrite" => Overwrite
    case "merge"     => Merge
    case other       => throw new IllegalArgumentException(s"unknown write mode: $other")
  }
}

/** Offline feature store over versioned parquet directories.
  *
  * Re-implements the capability surface of the closed-source
  * `databricks.feature_store.FeatureStoreClient` that the reference
  * drives (SURVEY.md §2.1 K4-K7, S5): create/read/write/delete feature
  * tables keyed for lookups, key-based upsert ("merge") with add-column
  * schema evolution, and online publish. No Delta jars ship on this
  * image, so the transactional layer is a minimal versioned-directory
  * scheme: `root/<table>/v<N>/` holds parquet data, `root/<table>/
  * spec.properties` holds metadata + the current version pointer, and
  * every write lands in a fresh `v<N+1>` directory followed by an atomic
  * pointer move — readers never observe partial data, and readers of
  * the current or previous version survive one subsequent write (older
  * versions are pruned; a long-lived lazy DataFrame pinned to v<N-2>
  * will fail at action time). Writers are single-process: a concurrent
  * write racing the same base version is detected and rejected rather
  * than silently lost. At 100 TB this maps 1:1 onto a real table format
  * (Delta/Iceberg): the pointer file is the transaction log, versioned
  * dirs are snapshots, and the version check is the commit-time CAS.
  *
  * All I/O goes through Hadoop `FileSystem`/`FileContext`, so `root`
  * may be any Hadoop URI — `/local/dir`, `file:///...`, `hdfs://...`,
  * `s3a://...`. The version-claim rename prefers `FileContext.rename`
  * with `Options.Rename.NONE`: atomic on HDFS, and it FAILS when the
  * destination exists instead of moving the source inside it (the
  * plain `FileSystem.rename` dir-into-dir semantics would silently
  * defeat the racing-writer check). Schemes that ship only a
  * `FileSystem` binding (s3a/gs by default) fall back to
  * exists-check + rename — not atomic across writers, which is the
  * same place a real table format plugs in a log-store/DynamoDB
  * commit. Local roots keep a java.nio ATOMIC_MOVE for the spec
  * pointer swap (no delete-then-rename visibility window, no checksum
  * sidecar litter).
  *
  * Scale notes (SURVEY.md §7.7):
  *   - merge is a single shuffle (the anti-join on the key); AQE handles
  *     skewed keys at runtime;
  *   - feature tables may be written partitioned (`spec.partitionBy`)
  *     so training-set joins at scale can prune partitions;
  *   - nothing here ever collects a data-sized result to the driver;
  *     the publish-time key manifest reads one footer per snapshot FILE
  *     (i.e. bounded by `numPartitions`), and an online point lookup
  *     decodes on the driver only its manifest-pruned, row-group-pruned
  *     range files and keeps only the requested rows.
  */
final class FeatureStore(private[fs] val spark: SparkSession,
    val root: String, val retainVersions: Int = 2)
    extends FeatureStoreOnline {

  require(retainVersions >= 1,
    s"FeatureStore: retainVersions must be >= 1, got $retainVersions")

  private[fs] val hconf = spark.sessionState.newHadoopConf()
  private[fs] val rootPath = new Path(root)
  private[fs] val fs: FileSystem = rootPath.getFileSystem(hconf)
  // FileContext gives the no-overwrite/overwrite rename semantics the
  // commit needs, but some schemes ship only a FileSystem binding
  // (fs.AbstractFileSystem.<scheme>.impl unset for s3a/gs by default)
  private val fcOpt: Option[FileContext] =
    try Some(FileContext.getFileContext(fs.getUri, hconf))
    catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None }

  private def isLocalFs: Boolean = fs.getUri.getScheme == "file"

  private def localNio(p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  fs.mkdirs(rootPath)

  private def tableDir(name: String) = new Path(rootPath, name)
  private def specFile(name: String) = new Path(tableDir(name), "spec.properties")
  private def dataDir(name: String, version: Int) = new Path(tableDir(name), s"v$version")

  // ---------------------------------------------------------------- catalog

  def tableExists(name: String): Boolean =
    fs.exists(specFile(name)) || fs.exists(backupOf(specFile(name)))

  def listTables(): Seq[String] =
    fs.listStatus(rootPath).toSeq
      .filter(st => st.isDirectory && fs.exists(new Path(st.getPath, "spec.properties")))
      .map(_.getPath.getName).sorted

  /** K4 — register a feature table: validate keys against the schema,
    * persist metadata. The table starts empty at version 0 (the
    * reference registers schema first, writes data separately,
    * FS:207-231).
    */
  def createTable(spec: FeatureTableSpec): Unit = {
    spec.validate()
    require(!tableExists(spec.name), s"feature table ${spec.name} already exists")
    fs.mkdirs(tableDir(spec.name))
    saveSpec(spec, version = 0)
  }

  def getSpec(name: String): FeatureTableSpec = loadSpec(name)._1

  def currentVersion(name: String): Int = loadSpec(name)._2

  /** K6 — drop metadata + all data versions (and, for bucketed tables,
    * the per-version catalog entries readBucketed declared).
    */
  def deleteTable(name: String): Unit = {
    require(tableExists(name), s"feature table $name does not exist")
    val (spec, version) = loadSpec(name)
    // version + 1: defensive headroom (rollbackTable now drops its own
    // discarded entry, but a crash between its delete and drop could
    // still leave one entry past the pointer)
    if (spec.buckets > 0)
      (1 to version + 1).foreach { v =>
        spark.sql(s"DROP TABLE IF EXISTS `${bucketedCatalogName(name, v)}`")
      }
    fs.delete(tableDir(name), true)
    ()
  }

  // ---------------------------------------------------------------- data

  /** S5 — read the current snapshot. Version 0 (registered, never
    * written) is an empty DataFrame with the registered schema.
    */
  def readTable(name: String): DataFrame = {
    val (spec, version) = loadSpec(name)
    if (version == 0)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], spec.schema)
    else if (spec.buckets > 0)
      readBucketed(spec, version, spec.schema)
    else
      spark.read.schema(spec.schema).parquet(dataDir(name, version).toString)
  }

  /** Read a bucketed snapshot THROUGH the catalog: plain
    * spark.read.parquet has no channel for bucket metadata, so the
    * store declares (once per (root, table, version) — snapshots are
    * immutable) an external bucketed table over the version directory
    * and reads that. The declared CLUSTERED/SORTED BY must match what
    * the write path produced; bucket ids are parsed from the file
    * names the commit rename preserved. This is what lets the J3
    * lookup join plan with NO Exchange (and no Sort) on the feature
    * side — the 100 TB repeated-training-set-join layout (SURVEY
    * §7.7), proven by BucketedFeatureTableSpec.
    */
  private def readBucketed(spec: FeatureTableSpec, version: Int,
      schema: StructType): DataFrame = {
    val cat = bucketedCatalogName(spec.name, version)
    if (!spark.catalog.tableExists(cat)) {
      val keyList = spec.keys.map(k => s"`$k`").mkString(", ")
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS `$cat` (${schema.toDDL})
           |USING PARQUET
           |CLUSTERED BY ($keyList) SORTED BY ($keyList)
           |INTO ${spec.buckets} BUCKETS
           |LOCATION '${dataDir(spec.name, version)}'""".stripMargin)
      ()
    }
    spark.table(cat)
  }

  /** Session-catalog name for a bucketed snapshot: sanitized table
    * name + a digest of (root, RAW name) + the version. The digest
    * covers the raw name because sanitization alone can collide
    * ("of-b" and "of_b" both sanitize to of_b — two tables would
    * silently share one catalog identifier, r12 review); two stores
    * sharing a session are disambiguated by the root half. Entries are
    * dropped by [[deleteTable]]; entries for pruned versions go stale
    * harmlessly (their reads already fail on the missing directory).
    *
    * Digest-scheme note (r13 ADVICE): the (root, name) separator
    * changed from a space to NUL ("\\u0000") in r13, which RENAMED every derived
    * catalog entry. Acceptable because these entries are session-scoped
    * (the in-memory catalog dies with the session — no external
    * metastore is configured here); a deployment pointing this at a
    * durable metastore must either keep the separator fixed or drop
    * both old- and new-named entries in [[deleteTable]] for one
    * transition release.
    */
  private def bucketedCatalogName(name: String, version: Int): String = {
    val digest = org.apache.commons.codec.digest.DigestUtils
      .md5Hex(root + "\u0000" + name).substring(0, 8)
    s"graft_fs_${name.toLowerCase.replaceAll("[^a-z0-9_]", "_")}_${digest}_v$version"
  }

  /** Time-travel read within the retention window (the commit path
    * keeps the last `retainVersions` snapshots — default 2, current +
    * previous; older versions are pruned). The historical snapshot
    * keeps its OWN parquet schema — the registered spec describes only
    * the current version.
    */
  def readTableVersion(name: String, version: Int): DataFrame = {
    val current = currentVersion(name)
    require(version > 0 && version <= current,
      s"readTableVersion($name): version $version does not exist (current: $current)")
    require(fs.exists(dataDir(name, version)),
      s"readTableVersion($name): version $version was pruned by retention " +
        s"(kept: ${math.max(1, current - retainVersions + 1)}..$current)")
    val spec = loadSpec(name)._1
    if (spec.buckets > 0)
      readBucketed(spec, version,
        spark.read.parquet(dataDir(name, version).toString).schema)
    else
      spark.read.parquet(dataDir(name, version).toString)
  }

  /** Reclaim history on demand: drop all but the newest `keep`
    * snapshots of `name` (default: the store's retention window). The
    * write path already prunes to `retainVersions` on every commit, so
    * vacuum matters for stores configured with a wide window — the
    * OPTIMIZE/VACUUM split of a real table format. Never touches the
    * current version; `keep >= 2` preserves rollback.
    */
  def vacuumTable(name: String, keep: Int = retainVersions): Unit = {
    require(keep >= 1, s"vacuumTable($name): keep must be >= 1, got $keep")
    val current = currentVersion(name)
    (1 to current - keep).foreach { v =>
      val d = dataDir(name, v)
      if (fs.exists(d)) fs.delete(d, true)
    }
  }

  /** Roll the table back one version: the current snapshot is
    * DISCARDED (its directory removed — the next write reclaims the
    * version number) and the pointer returns to the previous snapshot,
    * whose parquet schema becomes the registered schema again. One
    * level only, matching retention.
    */
  def rollbackTable(name: String): Unit = {
    val (spec, version) = loadSpec(name)
    require(version >= 2, s"rollbackTable($name): no previous version to roll back to")
    val prevDir = dataDir(name, version - 1)
    require(fs.exists(prevDir),
      s"rollbackTable($name): previous version ${version - 1} was pruned")
    val prevSchema = spark.read.parquet(prevDir.toString).schema
    saveSpec(spec.copy(schema = prevSchema), version - 1)
    fs.delete(dataDir(name, version), true)
    // Drop the discarded version's bucketed catalog entry HERE: repeated
    // rollbacks would otherwise strand declared entries above version+1,
    // beyond deleteTable's cleanup bound (r12 fresh-eyes audit).
    if (spec.buckets > 0)
      spark.sql(s"DROP TABLE IF EXISTS `${bucketedCatalogName(name, version)}`")
    ()
  }

  /** K5/K3 — write a snapshot.
    *
    * Overwrite: replace data, adopt the new DataFrame's schema.
    *
    * Merge: key-based upsert with add-column schema evolution, replaying
    * the reference's `mode="merge"` semantics (first write FS:230-231,
    * then FS:411-435 merges a DataFrame carrying two NEW columns into
    * the existing table — existing keys are updated, new keys inserted,
    * and the table schema gains the new columns with NULL for rows only
    * present in the old snapshot). Without Delta's MERGE INTO the plan
    * is: `old ANTI-JOIN new ON keys` (rows to carry forward) UNION-BY-
    * NAME `new` (rows that win), allowMissingColumns covering evolution
    * in both directions. One shuffle on the keys; broadcast if `new` is
    * small (Catalyst/AQE decides).
    */
  /** The merge computation shared by writeTable(Merge) and
    * [[applyChanges]]: full-outer coalesce of `df` onto `old` by the
    * keys, with schema-evolution add-column and a named type-conflict
    * error.
    */
  private def mergeInto(old: DataFrame, df: DataFrame, keys: Seq[String],
      name: String): DataFrame = {
    // schema evolution adds columns; it never retypes them — catch
    // type conflicts here with a named error instead of a positional
    // cast failure deep in the plan. Nullability flags are NOT a
    // conflict: parquet round trips and aggregate outputs disagree
    // on nullable/containsNull for identical value types.
    val conflicts = df.schema.flatMap { f =>
      old.schema.find(_.name == f.name)
        .filterNot(o => org.apache.spark.sql.graftbridge.Bridge
          .sameTypeIgnoringNullability(o.dataType, f.dataType))
        .map(o => s"${f.name}: table has ${o.dataType.simpleString}, write has ${f.dataType.simpleString}")
    }
    require(conflicts.isEmpty,
      s"merge into $name: column type conflict(s) — ${conflicts.mkString("; ")}")
    // Full-outer coalesce, not anti-join ∪ new: for columns the
    // incoming DataFrame CARRIES, the new row wins on matched keys
    // (including explicit NULLs); columns it OMITS keep their
    // existing values — a partial-column refresh must not NULL out
    // untouched features. Still one shuffle on the keys.
    // Value columns are RENAMED per side before the join (name-based
    // disambiguation): Dataset-column references (`old(c)`/`newDf(c)`)
    // trip DetectAmbiguousSelfJoin when both frames share lineage —
    // exactly what an applyChanges batch does, where deletes and
    // upserts split from ONE changes frame.
    val marker = "_graft_merge_new"
    val oldVals = old.columns.filterNot(keys.contains)
    val newVals = df.columns.filterNot(keys.contains)
    val renamedOld = old.select(
      keys.map(col) ++ oldVals.map(c => col(c).as(s"_graft_old_$c")): _*)
    val renamedNew = df.select(
      keys.map(col) ++ newVals.map(c => col(c).as(s"_graft_new_$c"))
        :+ lit(1).as(marker): _*)
    val joined = renamedOld.join(renamedNew, keys, "full_outer")
    val matched = col(marker).isNotNull
    val valueCols = (oldVals ++ newVals.filterNot(oldVals.contains)).map { c =>
      if (oldVals.contains(c) && newVals.contains(c))
        when(matched, col(s"_graft_new_$c")).otherwise(col(s"_graft_old_$c")).as(c)
      else if (oldVals.contains(c)) col(s"_graft_old_$c").as(c) // omitted → preserved
      else col(s"_graft_new_$c").as(c)   // new column → NULL for old rows
    }
    joined.select(keys.map(col) ++ valueCols: _*)
  }

  def writeTable(name: String, df: DataFrame, mode: WriteMode): Unit =
    writeTableFrom(name, df, mode, expectedParent = None)

  /** writeTable with an optional optimistic-concurrency pin: when
    * `expectedParent` is set and another writer has already advanced
    * the table past it, the write aborts BEFORE computing anything —
    * the caller's read-modify-write (e.g. [[applyChanges]]) would
    * otherwise silently overwrite the racer's commit. The residual
    * window between this check and the version claim is closed by the
    * claim + post-claim re-check below, same as every write.
    */
  private def writeTableFrom(name: String, df: DataFrame, mode: WriteMode,
      expectedParent: Option[Long]): Unit = {
    val (spec, version) = loadSpec(name)
    expectedParent.filter(_ != version).foreach { p =>
      throw new java.util.ConcurrentModificationException(
        s"feature table $name: version moved $p -> $version before write; retry")
    }
    val missingKeys = spec.keys.filterNot(df.columns.contains)
    require(missingKeys.isEmpty,
      s"write to $name: key column(s) ${missingKeys.mkString(", ")} missing from DataFrame")

    val result: DataFrame = mode match {
      case WriteMode.Overwrite => df
      case WriteMode.Merge if version == 0 => df
      case WriteMode.Merge => mergeInto(readTable(name), df, spec.keys, name)
    }

    val newVersion = version + 1
    val target = dataDir(name, newVersion)
    // write into a writer-private temp dir, then claim v<N+1> by atomic
    // no-overwrite rename — racing writers can't clobber each other's
    // files; the loser's rename fails and it aborts before touching the
    // pointer (a merge computed against a stale base must not commit)
    val tmp = new Path(tableDir(name), s"v$newVersion.tmp-${java.util.UUID.randomUUID()}")
    if (spec.buckets > 0) {
      // Bucketed layout can only be produced through saveAsTable (the
      // writer needs a catalog entry to record bucket metadata), so:
      // write an EXTERNAL table whose path is the writer-private temp
      // dir, then drop the throwaway catalog entry (external → files
      // stay) and let the normal claim-rename commit the directory.
      // Bucket ids live in the FILE NAMES, which the rename preserves;
      // readers re-declare the bucket spec over the committed dir
      // (readBucketed).
      val tmpTable = s"graft_fs_tmp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      result.write.mode("overwrite").format("parquet")
        .bucketBy(spec.buckets, spec.keys.head, spec.keys.tail: _*)
        .sortBy(spec.keys.head, spec.keys.tail: _*)
        .option("path", tmp.toString)
        .saveAsTable(tmpTable)
      spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
      // a rollback DISCARDS a version whose number the next write
      // reclaims — drop any lingering catalog declaration for the
      // reclaimed number, or readBucketed would serve the discarded
      // snapshot's (possibly stale) schema over the new files
      spark.sql(s"DROP TABLE IF EXISTS `${bucketedCatalogName(name, newVersion)}`")
      ()
    } else {
      val writer = result.write.mode("overwrite")
      val partitioned =
        if (spec.partitionBy.nonEmpty) writer.partitionBy(spec.partitionBy: _*) else writer
      partitioned.parquet(tmp.toString)
    }
    claimVersionDir(name, tmp, target)
    val nowVersion = loadSpec(name)._2
    if (nowVersion != version) {
      fs.delete(target, true)
      throw new java.util.ConcurrentModificationException(
        s"feature table $name: version moved $version -> $nowVersion during write; retry")
    }
    saveSpec(spec.copy(schema = structTypeOf(result)), newVersion)
    // Old versions are kept for time travel; prune to the store's
    // retention window (vacuumTable reclaims more on demand).
    (1 to newVersion - retainVersions).foreach { v =>
      val d = dataDir(name, v)
      if (fs.exists(d)) fs.delete(d, true)
    }
  }

  def writeTable(name: String, df: DataFrame, mode: String): Unit =
    writeTable(name, df, WriteMode.parse(mode))

  /** Current committed version of a feature table (0 = created, no
    * data yet).
    */
  def tableVersion(name: String): Int = loadSpec(name)._2

  /** CDC apply — the Delta MERGE `WHEN MATCHED DELETE` shape the
    * reference's `mode='merge'` sits beside (FS:435): one changes
    * frame carrying the key columns, an op column ('upsert' |
    * 'delete'), and the value columns for upserts; applied as ONE
    * atomic version bump. Deletes drop matched keys via a LEFT ANTI
    * join on the keys (one shuffle, broadcast when the delete set is
    * small — AQE's call); upserts then merge through the same
    * full-outer coalesce as writeTable(Merge), so partial-column
    * refresh semantics and schema evolution hold for CDC feeds too.
    *
    * Multiple change events per key: with no `seqCol`, duplicate keys
    * in the batch are an ERROR (Delta's multiple-source-match
    * semantics — silently picking one would corrupt, and the
    * delete-then-upsert split would otherwise resurrect deleted keys).
    * Pass `seqCol` (a monotone event-order column) to resolve each key
    * to its LAST event instead — the standard CDC compaction.
    *
    * The read-modify-write is pinned to the version read here: a racer
    * committing in between makes this apply abort with
    * ConcurrentModificationException instead of silently reverting the
    * racer's rows (the optimistic-concurrency contract). The batch is
    * cached for the duration — validation, the key split, and the
    * merge read it once, not three times.
    */
  def applyChanges(name: String, changes: DataFrame,
      opCol: String = "_op", seqCol: Option[String] = None): Unit = {
    val (spec, version) = loadSpec(name)
    require(version >= 1, s"applyChanges: $name has no data version to apply onto")
    require(changes.columns.contains(opCol),
      s"applyChanges: changes frame is missing op column '$opCol'")
    seqCol.foreach(c => require(changes.columns.contains(c),
      s"applyChanges: changes frame is missing seq column '$c'"))
    val cached = changes.persist()
    try {
      val badOps = cached.select(col(opCol)).distinct().collect()
        .map(_.getString(0)).filterNot(Set("upsert", "delete"))
      require(badOps.isEmpty,
        s"applyChanges: unknown op(s) ${badOps.mkString(", ")} (want upsert | delete)")
      val perKey: DataFrame = seqCol match {
        case Some(sc) =>
          // last event per key wins — rank by seq desc, ties broken
          // arbitrarily-but-deterministically by op so replays agree
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(spec.keys.map(col): _*)
            .orderBy(col(sc).desc, col(opCol))
          cached.withColumn("_graft_cdc_rn", row_number().over(w))
            .filter(col("_graft_cdc_rn") === 1)
            .drop("_graft_cdc_rn", sc)
        case None =>
          val dups = cached.groupBy(spec.keys.map(col): _*)
            .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
            .select(spec.keys.map(col): _*).limit(5).collect()
          require(dups.isEmpty,
            s"applyChanges: multiple change events for key(s) " +
              s"${dups.mkString(", ")} — pass seqCol to resolve to the " +
              "last event per key, or pre-compact the batch")
          cached
      }
      val deletes = perKey.filter(col(opCol) === "delete")
        .select(spec.keys.map(col): _*)
      val upserts = perKey.filter(col(opCol) === "upsert").drop(opCol)
      val kept = readTable(name).join(deletes, spec.keys, "left_anti")
      writeTableFrom(name, mergeInto(kept, upserts, spec.keys, name),
        WriteMode.Overwrite, expectedParent = Some(version))
    } finally {
      cached.unpersist()
      ()
    }
  }


  // ---------------------------------------------------------------- impl

  /** Claim `target` with `tmp`'s content, exactly once across racing
    * writers: an existing target (or a rename that reports it) is the
    * losing side of the race and aborts with
    * ConcurrentModificationException; any OTHER I/O failure (safe
    * mode, lease, disk full, ...) propagates as itself so retry loops
    * keyed on the race exception don't spin on a persistent fault.
    */
  private def claimVersionDir(name: String, tmp: Path, target: Path): Unit = {
    def lostRace(cause: Throwable): Nothing = {
      fs.delete(tmp, true)
      throw new java.util.ConcurrentModificationException(
        s"feature table $name: another writer committed ${target.getName} first; retry", cause)
    }
    if (fs.exists(target)) lostRace(null)
    fcOpt match {
      case Some(fc) =>
        try fc.rename(tmp, target, Options.Rename.NONE)
        catch { case e: org.apache.hadoop.fs.FileAlreadyExistsException => lostRace(e) }
      case None =>
        // FileSystem-only scheme: exists-check above + rename result;
        // rename returning false with target present = lost race
        if (!fs.rename(tmp, target)) {
          if (fs.exists(target)) lostRace(null)
          throw new java.io.IOException(
            s"feature table $name: rename $tmp -> $target failed")
        }
    }
  }

  private def structTypeOf(df: DataFrame): StructType = df.schema

  private def saveSpec(spec: FeatureTableSpec, version: Int): Unit = {
    val p = new Properties()
    p.setProperty("name", spec.name)
    p.setProperty("keys", spec.keys.mkString(","))
    p.setProperty("description", spec.description)
    p.setProperty("schemaDdl", spec.schema.toDDL)
    p.setProperty("partitionBy", spec.partitionBy.mkString(","))
    p.setProperty("buckets", spec.buckets.toString)
    p.setProperty("version", version.toString)
    replaceFile(specFile(spec.name))(p.store(_, "graft feature table spec"))
  }

  /** Replace `target` with what `write` produces, so that a reader sees
    * the old file or the new one, never a partial file. Local roots use
    * a pure NIO write + ATOMIC_MOVE: no delete-then-rename visibility
    * window, no ChecksumFileSystem .crc sidecars. Elsewhere the file is
    * written beside the target and moved in by FileContext's atomic
    * overwrite rename.
    */
  private[fs] def replaceFile(target: Path)(write: java.io.OutputStream => Unit): Unit = {
    val tmpName = s"${target.getName}.tmp${System.nanoTime()}"
    if (isLocalFs) {
      val tmp = localNio(target.getParent).resolve(tmpName)
      val out = java.nio.file.Files.newOutputStream(tmp)
      try write(out) finally out.close()
      java.nio.file.Files.move(tmp, localNio(target),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val tmp = new Path(target.getParent, tmpName)
      val out = fs.create(tmp, true)
      try write(out) finally out.close()
      fcOpt match {
        case Some(fc) => fc.rename(tmp, target, Options.Rename.OVERWRITE)
        case None =>
          // No atomic-overwrite rename on this scheme, so the swap is
          // two renames: park the live file at its backup name, then
          // move the new one in. A concurrent reader that misses the
          // target in the between-renames window finds the backup
          // (openReplaced) instead of concluding the file vanished.
          val bak = backupOf(target)
          fs.delete(bak, false)
          if (fs.exists(target) && !fs.rename(target, bak))
            throw new java.io.IOException(s"$target: backup rename failed")
          if (!fs.rename(tmp, target))
            throw new java.io.IOException(s"$target: pointer swap failed")
      }
    }
  }

  private def backupOf(p: Path) = new Path(p.getParent, s"${p.getName}.bak")

  /** Open a file that [[replaceFile]] swaps, falling back to the backup
    * the FileSystem-fallback swap parks it at. Throws
    * FileNotFoundException when neither exists.
    */
  private[fs] def openReplaced(p: Path): java.io.InputStream =
    try fs.open(p)
    catch { case _: java.io.FileNotFoundException => fs.open(backupOf(p)) }

  private[fs] def loadSpec(name: String): (FeatureTableSpec, Int) = {
    require(tableExists(name), s"feature table $name does not exist")
    val p = new Properties()
    val in = openReplaced(specFile(name))
    try p.load(in) finally in.close()
    def list(k: String) =
      p.getProperty(k, "").split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val spec = FeatureTableSpec(
      name = p.getProperty("name"),
      keys = list("keys"),
      schema = StructType.fromDDL(p.getProperty("schemaDdl")),
      description = p.getProperty("description", ""),
      partitionBy = list("partitionBy"),
      buckets = p.getProperty("buckets", "0").toInt)
    (spec, p.getProperty("version", "0").toInt)
  }
}

object FeatureStore {
  /** A store rooted in a fresh temp directory — used by tests and by
    * self-contained `SparkEntry.queries` entries that exercise the
    * write path end-to-end.
    */
  def temp(spark: SparkSession, retainVersions: Int = 2): FeatureStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft-fs-").toString
    new FeatureStore(spark, dir, retainVersions)
  }

  /** Options for the JDBC publish sink, exposed so tests can assert
    * the exact sink configuration without a live database. Caller
    * `props` (user/password/driver/...) are merged last and win.
    */
  def jdbcPublishOptions(url: String, table: String,
      props: Properties = new Properties()): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Map(
      "url" -> url,
      "dbtable" -> table,
      "batchsize" -> "10000",
      "isolationLevel" -> "READ_COMMITTED",
      "truncate" -> "true") ++
      props.asScala.map { case (k, v) => k.toString -> v.toString }
  }
}
