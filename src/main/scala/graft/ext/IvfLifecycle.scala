package graft.ext

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{DataFrame, functions => F}

import graft.fs.ParquetFooters

/** [extension] Versioned lifecycle for materialized IVF indexes — the
  * missing limb between [[Similarity.ivfIndexStaleness]] (the re-fit
  * TRIGGER) and acting on it: a re-fit must rewrite the whole
  * partitioned layout AND move the centroid geometry, and doing that
  * in place would let a concurrent probe read new centroids against
  * old cell directories (or a half-written `data/`). This applies the
  * FeatureStore commit discipline ([[graft.fs.FeatureStore]],
  * versioned dirs + atomic pointer) to the index directory:
  *
  *   root/CURRENT        — pointer file, contains the live version N
  *   root/v<N>/data      — cell-partitioned corpus (immutable once live)
  *   root/v<N>/centroids — frozen quantizer sidecar
  *   root/v<N>/stats     — fit-time assignment baseline
  *
  * Every rebuild writes a COMPLETE new `v<N+1>` (data + centroids +
  * stats, internally consistent) before the pointer moves, so a probe
  * resolves the pointer once and reads one immutable snapshot —
  * old-or-new, never mixed. The previous version is retained through
  * one rebuild (like the feature store's `retainVersions = 2`), so a
  * probe that resolved just before the swap still completes against
  * the old snapshot.
  *
  * The pointer swap prefers `FileContext.rename(OVERWRITE)` (atomic on
  * HDFS) and a java.nio `ATOMIC_MOVE` on local roots; schemes with
  * only a `FileSystem` binding fall back to delete+rename — the same
  * non-atomic window (and the same log-store plug-in point) the
  * feature store documents.
  *
  * Flat (un-versioned) index dirs written by
  * [[Similarity.ivfIndexWrite]] keep working everywhere: resolution is
  * "follow `CURRENT` if present, else use the dir as-is".
  *
  * Concurrency contract: one writer at a time (create/rebuild/append
  * are not mutually concurrent — stop
  * [[graft.streaming.StreamingFeatures.maintainIvfIndex]] ingestion
  * before a rebuild, exactly as its doc prescribes; vectors appended
  * after the rebuild's corpus scan would be silently absent from the
  * new version). Probes may run concurrently with anything.
  */
object IvfIndex {

  private val PointerName = "CURRENT"

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def pointerPath(root: Path) = new Path(root, PointerName)

  /** The live version of a versioned index root, None for a flat
    * [[Similarity.ivfIndexWrite]] dir (or a root not yet created).
    */
  def currentVersion(spark: SparkSession, root: String): Option[Int] = {
    val (fs, rootPath) = fsFor(spark, root)
    val ptr = pointerPath(rootPath)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try {
        val raw = new String(
          org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim
        Some(raw.toInt)
      } finally in.close()
    }
  }

  /** The directory a probe/append/staleness call should read: the live
    * `v<N>` snapshot of a versioned root, or the dir itself when flat.
    * Resolution happens ONCE per call — the snapshot a reader resolves
    * is immutable, which is what makes concurrent rebuilds safe.
    */
  def resolveDir(spark: SparkSession, dir: String): String =
    currentVersion(spark, dir).map(v => s"$dir/v$v").getOrElse(dir)

  /** Create a versioned index root: fit + write `v1`, then commit the
    * pointer. Fails if the root is already a versioned index.
    */
  def create(corpus: DataFrame, root: String, nlist: Int = 16,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxFitPoints: Int = 4096): Unit = {
    val spark = corpus.sparkSession
    require(currentVersion(spark, root).isEmpty,
      s"IvfIndex.create: $root is already a versioned index (use rebuild)")
    Similarity.ivfIndexWrite(corpus, s"$root/v1", nlist, idCol, embCol, maxFitPoints)
    commitPointer(spark, root, 1)
  }

  /** Act on the staleness trigger: re-fit the quantizer on the FULL
    * current corpus (base + everything appended since the last fit),
    * rewrite the partitioned layout under the new geometry into
    * `v<N+1>`, atomically swap the pointer, and prune versions older
    * than the previous one. Returns the new live version.
    *
    * Equivalence contract (IvfLifecycleSpec): the new snapshot is
    * byte-identical in content to a fresh [[Similarity.ivfIndexWrite]]
    * of the combined corpus — same deterministic fit, same layout —
    * and [[Similarity.ivfIndexStaleness]] on the swapped root returns
    * drift ≈ 0 again.
    *
    * Crash recovery (r12 audit): a crash BETWEEN the `v<N+1>` write
    * and the pointer swap leaves an orphan, possibly half-written,
    * `v<N+1>` directory that no reader ever resolves (the pointer
    * still names `v<N>`). The NEXT rebuild reclaims it by
    * construction: it computes the same `next = N+1` from the
    * still-old pointer and `ivfIndexWrite`'s mode("overwrite")
    * truncates each of data/centroids/stats before writing — no
    * manual cleanup, no version skipped. IvfLifecycleSpec pins this
    * with a simulated pre-swap crash.
    */
  def rebuild(spark: SparkSession, root: String, nlist: Int = 16,
      maxFitPoints: Int = 4096, retainVersions: Int = 2): Int = {
    require(retainVersions >= 1,
      s"IvfIndex.rebuild: retainVersions must be >= 1, got $retainVersions")
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"IvfIndex.rebuild: $root is not a versioned index root — " +
          "create() it first (flat ivfIndexWrite dirs re-fit by rewriting in place)"))
    // The old snapshot is immutable, so this scan-and-rewrite reads a
    // consistent corpus no matter how long the write takes.
    val corpus = ParquetFooters.read(spark, s"$root/v$cur/data")
    val next = cur + 1
    Similarity.ivfIndexWrite(corpus, s"$root/v$next", nlist,
      idCol = "neighbor_id", embCol = "c_emb", maxFitPoints = maxFitPoints)
    commitPointer(spark, root, next)
    prune(spark, root, next, retainVersions)
    next
  }

  /** Close the staleness loop: measure drift on the live snapshot and
    * [[rebuild]] only when any cell's drift exceeds `maxDrift` —
    * the scheduled maintenance entry point (`ivfIndexStaleness`
    * produces the trigger, this acts on it). Returns Some(newVersion)
    * when a rebuild ran, None when the index is still fresh. The
    * staleness scan costs one partition-parallel pass of the index;
    * the ingestion stream must be stopped before calling (the
    * [[rebuild]] concurrency contract).
    */
  def rebuildIfStale(spark: SparkSession, root: String, maxDrift: Double,
      nlist: Int = 16, maxFitPoints: Int = 4096,
      retainVersions: Int = 2): Option[Int] = {
    require(maxDrift >= 0.0,
      s"IvfIndex.rebuildIfStale: maxDrift must be >= 0, got $maxDrift")
    val stale = Similarity.ivfIndexStaleness(spark, root)
      .filter(F.col("drift") > maxDrift)
      .limit(1).count() > 0
    if (stale) Some(rebuild(spark, root, nlist, maxFitPoints, retainVersions))
    else None
  }

  /** Measured macro-average recall@k of the live snapshot: probe the
    * index with `queries` (a held-out truth sample — serving-batch
    * sized, the [[Similarity.ivfIndexedTopK]] maxBatch contract) at
    * the SERVING nprobe, compute the exact brute-force top-k over the
    * index's own corpus as ground truth, and average
    * [[RetrievalMetrics.recallAtK]] per query. Cost: one pruned probe
    * plus one full corpus scan × |queries| — the price of truth, paid
    * only at maintenance cadence, never per serving call.
    */
  def recallProbe(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, nprobe: Int): Double = {
    val dir = resolveDir(spark, root)
    val corpus = ParquetFooters.read(spark, s"$dir/data")
      .select(F.col("neighbor_id").as("vec_id"),
        F.col("c_emb").as("embedding"))
    val approx = Similarity.ivfIndexedTopK(spark, root, queries, k, nprobe)
      .select(F.col("query_id"), F.col("neighbor_id"))
    val exact = Similarity.bruteForceTopK(corpus, queries, k)
      .select(F.col("query_id"), F.col("neighbor_id"))
    val row = RetrievalMetrics.recallAtK(exact = exact, approx = approx,
        queryCol = "query_id", idCol = "neighbor_id")
      .agg(F.avg(F.col("recall")).as("r")).collect()(0)
    if (row.isNullAt(0)) 1.0 else row.getDouble(0) // no queries → nothing stale
  }

  /** Close the RECALL loop (r13 verdict ask #6 — [[rebuildIfStale]]
    * re-fits on centroid drift, but the measured failure mode of a
    * grown corpus is recall decay without dramatic drift: appended
    * vectors land between frozen centroids, their true neighbor sets
    * straddle cell boundaries, and a fixed-nprobe probe stops seeing
    * them): measure [[recallProbe]] on the live snapshot and rebuild —
    * re-fit at the caller's (typically finer) `nlist` over the full
    * current corpus — only when measured recall falls below `floor`.
    *
    * Returns (measured recall before, Some(newVersion) if a rebuild
    * ran else None). The ingestion stream must be stopped first (the
    * [[rebuild]] concurrency contract); callers verify restoration
    * with a second [[recallProbe]] — IvfLifecycleSpec pins the full
    * degrade → trigger → restore cycle.
    */
  def rebuildIfRecallBelow(spark: SparkSession, root: String,
      queries: DataFrame, k: Int, nprobe: Int, floor: Double,
      nlist: Int = 16, maxFitPoints: Int = 4096,
      retainVersions: Int = 2): (Double, Option[Int]) = {
    require(floor >= 0.0 && floor <= 1.0,
      s"IvfIndex.rebuildIfRecallBelow: floor must be in [0,1], got $floor")
    val measured = recallProbe(spark, root, queries, k, nprobe)
    if (measured < floor)
      (measured, Some(rebuild(spark, root, nlist, maxFitPoints, retainVersions)))
    else (measured, None)
  }

  /** Versions present on disk, ascending — current-or-older snapshots
    * only survive per `retainVersions`.
    */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val (fs, rootPath) = fsFor(spark, root)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.drop(1).forall(_.isDigit) =>
        s.drop(1).toInt }
      .sorted
  }

  /** Atomic pointer commit: write `CURRENT.tmp.<uuid>`, fsync-close,
    * then move over `CURRENT`. Local roots use java.nio ATOMIC_MOVE;
    * Hadoop schemes with a FileContext binding use
    * rename(OVERWRITE) (atomic on HDFS); bare-FileSystem schemes fall
    * back to delete+rename (non-atomic — the log-store plug-in point).
    */
  private def commitPointer(spark: SparkSession, root: String, version: Int): Unit = {
    val (fs, rootPath) = fsFor(spark, root)
    fs.mkdirs(rootPath)
    val ptr = pointerPath(rootPath)
    val tmp = new Path(rootPath, s"$PointerName.tmp.${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(s"$version\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.getUri.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(ptr.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // drop the .crc sidecar RawLocalFileSystem wrote for the tmp name;
      // a stale checksum under the pointer name would fail later reads
      val crc = new Path(rootPath, s".${tmp.getName}.crc")
      if (fs.exists(crc)) { fs.delete(crc, false); () }
      val ptrCrc = new Path(rootPath, s".$PointerName.crc")
      if (fs.exists(ptrCrc)) { fs.delete(ptrCrc, false); () }
    } else {
      val fcOpt =
        try Some(FileContext.getFileContext(fs.getUri, spark.sessionState.newHadoopConf()))
        catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None }
      fcOpt match {
        case Some(fc) => fc.rename(tmp, ptr, Options.Rename.OVERWRITE)
        case None =>
          if (fs.exists(ptr)) fs.delete(ptr, false)
          require(fs.rename(tmp, ptr),
            s"IvfIndex: pointer rename failed for $root -> v$version")
      }
    }
  }

  private def prune(spark: SparkSession, root: String, current: Int,
      retainVersions: Int): Unit = {
    val (fs, rootPath) = fsFor(spark, root)
    versions(spark, root)
      .filter(_ <= current - retainVersions)
      .foreach { v => fs.delete(new Path(rootPath, s"v$v"), true); () }
  }
}
