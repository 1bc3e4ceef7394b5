package graft.fs

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.io.api.Binary
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The online-serving half of [[FeatureStore]] (K7): range-partitioned
  * key-sorted publish (parquet snapshot or JDBC), the publish-time
  * snapshot manifest, manifest-pruned point lookups decoded on the
  * driver, and snapshot compaction. Split out of FeatureStore.scala in
  * r12 (the >700-line file discipline) — same instance, same commit
  * machinery; the seam is offline transactions vs online serving.
  *
  * Layout: each publish writes a fresh snapshot directory
  * `<root>/_online/<name>/s<millis>-<id>/` and then swaps
  * `<root>/_online/<name>/_manifest` (the snapshot pointer: directory,
  * schema, leading key, and per-file size and key min/max) in one
  * atomic rename. Readers resolve through the manifest only, so a
  * reader sees one whole snapshot; the previous snapshot is kept and
  * older ones deleted, so a read in flight survives one republish — the
  * contract offline readers have. Publishers of one table are single-
  * writer, as offline writers are.
  */
private[fs] trait FeatureStoreOnline { this: FeatureStore =>

  /** K7 — publish the offline table to an "online" store for point
    * lookups (SO:374-387 publishes to MySQL over JDBC). With zero egress
    * the stand-in is a key-range-partitioned, per-file key-sorted
    * parquet snapshot under `<root>/_online/<name>` — the shape a KV
    * bulk-load consumes (each range file is one ingest unit; sorted
    * runs build the KV index without re-sorting). `numPartitions`
    * controls write parallelism and file count; the default follows the
    * session's parallelism so a 1000-executor cluster writes 1000-way,
    * never through one task. A key-clustered version already has that
    * shape: when it holds `numPartitions` files, its files are copied
    * (hard-linked on a local root) into the snapshot and its manifest
    * reused, with no Spark job; any other version is range-partitioned
    * and sorted by [[publishFrame]]. A real deployment swaps the
    * parquet sink for JDBC — [[publishTableJdbc]] builds exactly that
    * plan. Returns the new snapshot directory.
    */
  def publishTable(name: String,
      numPartitions: Int = spark.sparkContext.defaultParallelism): String = {
    require(numPartitions > 0, s"publishTable($name): numPartitions must be > 0")
    val (spec, version) = loadSpec(name)
    val online = onlinePath(name)
    val snapshot = f"s${System.currentTimeMillis()}%013d-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = new Path(online, snapshot)
    val clustered =
      if (version == 0) None
      else versionManifest(name, version).filter(_.files.size == numPartitions)
    val manifest = clustered match {
      case Some(vm) =>
        fs.mkdirs(dir)
        vm.files.foreach(f => copyFile(new Path(dataDir(name, version), f.name), new Path(dir, f.name)))
        val schema = onlineSchema(readTable(name))
        OnlineManifest(snapshot, schema, schema.fieldIndex(spec.keys.head), vm.files)
      case None =>
        val frame = publishFrame(name, numPartitions)
        frame.write.parquet(dir.toString)
        val schema = onlineSchema(frame)
        val keyIndex = schema.fieldIndex(spec.keys.head)
        OnlineManifest(snapshot, schema, keyIndex, footerKeyStats(dir, schema(keyIndex)))
    }
    val previous =
      try Some(onlineManifest(name).snapshot)
      catch { case _: IllegalArgumentException => None } // first publish
    replaceFile(manifestFile(name))(_.write(manifest.render.getBytes(UTF_8)))
    previous.foreach { prev =>
      fs.listStatus(online)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("s") &&
          st.getPath.getName < prev)
        .foreach(st => fs.delete(st.getPath, true))
    }
    dir.toString
  }

  /** The schema a parquet read of `df`'s written files gives back. */
  private def onlineSchema(df: DataFrame): StructType =
    OnlineManifest.asNullable(df.schema).asInstanceOf[StructType]

  /** Copy an immutable file: a hard link on a local root (no bytes move;
    * the link outlives the version directory's pruning), else a byte copy.
    */
  private def copyFile(src: Path, dst: Path): Unit =
    if (isLocalFs)
      try { java.nio.file.Files.createLink(localNio(dst), localNio(src)); () }
      catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          java.nio.file.Files.copy(localNio(src), localNio(dst)); ()
      }
    else {
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, hconf)
      ()
    }

  /** K7 over JDBC — the reference's actual online sink
    * (Feature_Store_Telco_Churn_Sean_Original.py:374-387 publishes to
    * MySQL over JDBC): the same range-partitioned key-sorted publish
    * plan written through Spark's JDBC relation (`numPartitions`
    * concurrent INSERT streams, truncate-not-drop overwrite so the
    * serving store keeps its indexes). FeatureStoreSpec executes the
    * full round trip against embedded Derby (write → read-back →
    * lookupOnline parity → truncate republish) in addition to
    * asserting the sink options.
    */
  def publishTableJdbc(name: String, url: String, table: String,
      props: Properties = new Properties(),
      numPartitions: Int = spark.sparkContext.defaultParallelism): Unit =
    publishFrame(name, numPartitions)
      .write.format("jdbc").mode("overwrite")
      .options(FeatureStore.jdbcPublishOptions(url, table, props))
      .save()

  /** The publish plan shared by every online sink: range-partition by
    * key (contiguous key ranges → point-lookup locality + bounded
    * per-task memory) and sort within each partition.
    */
  private[fs] def publishFrame(name: String, numPartitions: Int): DataFrame = {
    require(numPartitions > 0, s"publishTable($name): numPartitions must be > 0")
    val (spec, _) = loadSpec(name)
    readTable(name)
      .repartitionByRange(numPartitions, spec.keys.map(col): _*)
      .sortWithinPartitions(spec.keys.map(col): _*)
  }

  private def onlinePath(name: String) = new Path(new Path(rootPath, "_online"), name)
  private def manifestFile(name: String) = new Path(onlinePath(name), "_manifest")
  private def snapshotFile(name: String, m: OnlineManifest, f: OnlineFile) =
    new Path(new Path(onlinePath(name), m.snapshot), f.name)

  /** The current snapshot's manifest, read in one open: a table never
    * published is a named IllegalArgumentException.
    */
  private[fs] def onlineManifest(name: String): OnlineManifest = {
    val in =
      try openReplaced(manifestFile(name))
      catch { case _: FileNotFoundException =>
        throw new IllegalArgumentException(
          s"online table $name is not published — call publishTable first")
      }
    try OnlineManifest.parse(new String(in.readAllBytes(), UTF_8)) finally in.close()
  }

  def readOnlineTable(name: String): DataFrame = {
    val m = onlineManifest(name)
    if (m.files.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), m.schema)
    else spark.read.schema(m.schema).parquet(m.files.map(snapshotFile(name, m, _).toString): _*)
  }

  /** Online point lookup over the published snapshot — the serving-side
    * read the reference delegates to its online store (the MySQL table
    * publish_table feeds, Sean_Original.py:374-387). Runs no Spark job
    * for integral and string leading keys: the manifest's per-file key
    * range prunes the read to the range files that can hold a requested
    * key, and those files stream through the driver in Spark's own
    * parquet decoder, built once per published snapshot. Only rows
    * whose leading key was asked for are kept; the answer is a local
    * relation in the published schema, so a point lookup decodes O(1)
    * range files and keeps O(requested) rows on the driver regardless
    * of snapshot size — the bulk-loaded-KV access pattern, without a
    * database in the container. Tables with a composite key prune and
    * filter on the LEADING key (the range-partitioning major order);
    * callers needing full-tuple lookups filter the result. Other leading
    * key types get a pushed-down filtered scan of the whole snapshot.
    */
  def lookupOnline(name: String, keys: Seq[Any]): DataFrame = {
    require(keys.nonEmpty, s"lookupOnline($name): need at least one key")
    val m = onlineManifest(name)
    if (m.keyKind == OnlineManifest.NoStats)
      readOnlineTable(name).filter(col(m.keyCol).isin(keys: _*))
    else
      spark.createDataFrame(lookupRows(name, m, keys).asJava, m.schema)
  }

  /** The parquet decoder of each table's current snapshot, built once
    * per published snapshot: building one broadcasts the session's whole
    * Hadoop configuration, which would otherwise cost every lookup a
    * broadcast. It takes no pushed filter, since the filter would be
    * fixed at build time; rows are filtered on the requested keys
    * instead.
    */
  private val snapshotReaders =
    new java.util.concurrent.ConcurrentHashMap[String, (String, PartitionedFile => Iterator[InternalRow])]()

  private def snapshotReader(name: String, m: OnlineManifest): PartitionedFile => Iterator[InternalRow] =
    snapshotReaders.compute(name, (_, cached) =>
      if (cached != null && cached._1 == m.snapshot) cached
      else m.snapshot -> new ParquetFileFormat().buildReaderWithPartitionValues(spark, m.schema,
        new StructType(), m.schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        // the reader mutates the conf it is given
        new Configuration(hconf)))._2

  /** Decode the pruned range files on the driver through the decoder a
    * scan task uses (every Spark type decodes identically), keeping the
    * rows whose leading key is in `keys`.
    */
  private def lookupRows(name: String, m: OnlineManifest, keys: Seq[Any]): Seq[Row] = {
    val files = m.prune(keys)
    if (files.isEmpty) return Nil
    val wanted = m.wanted(keys)
    val i = m.keyIndex
    val keyOf: InternalRow => Any = m.schema(i).dataType match {
      case ByteType => _.getByte(i).toLong
      case ShortType => _.getShort(i).toLong
      case IntegerType => _.getInt(i).toLong
      case LongType => _.getLong(i)
      case _ => _.getUTF8String(i)
    }
    val read = snapshotReader(name, m)
    val toRow = CatalystTypeConverters.createToScalaConverter(m.schema)
    files.flatMap { f =>
      val rows = read(PartitionedFile(InternalRow.empty,
        SparkPath.fromPath(snapshotFile(name, m, f)), 0L, f.size, Array.empty[String], 0L, f.size))
      // the decoder reuses its row: convert each kept row before advancing
      try rows.filter(r => !r.isNullAt(i) && wanted(keyOf(r)))
        .map(r => toRow(r).asInstanceOf[Row]).toVector
      finally rows match { case c: java.io.Closeable => c.close(); case _ => () }
    }
  }

  /** Per-file key min/max from the footers of the files just written
    * in `dir`: one footer read per file, so bounded by the publish's
    * `numPartitions`, never by row count, and no Spark job. Min/max are
    * taken across row groups in Catalyst order (parquet orders UTF-8
    * binaries unsigned byte-wise, as UTF8String does). A row group whose
    * keys are all null adds nothing; a file with a row group that has
    * no usable stats, or with string stats that hold the manifest's
    * separators, gets an entry with no stats, which is never pruned.
    */
  private[fs] def footerKeyStats(dir: Path, key: StructField): Seq[OnlineFile] = {
    val kind = OnlineManifest.kindOf(key.dataType)
    def stats(st: FileStatus): (Option[Any], Option[Any]) = {
      if (kind == OnlineManifest.NoStats) return (None, None)
      val path = ColumnPath.get(key.name)
      def catalyst(v: Any): Any = v match {
        case b: Binary => UTF8String.fromBytes(b.getBytes)
        case n: Number => n.longValue
      }
      // per row group: None for all-null keys, which add nothing to the
      // range, else its stats, if they hold a min/max
      val groups = footer(st).getBlocks.asScala.toSeq.flatMap { b =>
        b.getColumns.asScala.find(_.getPath == path).map(_.getStatistics) match {
          case Some(s) if !s.hasNonNullValue && s.isNumNullsSet && s.getNumNulls == b.getRowCount => None
          case s => Some(s.filter(_.hasNonNullValue))
        }
      }
      if (groups.isEmpty || groups.contains(None)) return (None, None)
      val lo = groups.flatten.map(s => catalyst(s.genericGetMin)).min(OnlineManifest.order)
      val hi = groups.flatten.map(s => catalyst(s.genericGetMax)).max(OnlineManifest.order)
      if (Seq(lo, hi).exists(b => b.toString.exists(c => c == '\t' || c == '\n'))) (None, None)
      else (Some(lo), Some(hi))
    }
    dataFiles(dir).map { st =>
      val (lo, hi) = stats(st)
      OnlineFile(st.getPath.getName, st.getLen, lo, hi)
    }
  }

  /** The data files directly inside `dir`, by name. */
  private def dataFiles(dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)

  private def footer(st: FileStatus) =
    ParquetFooters.footer(st, hconf, ParquetMetadataConverter.NO_FILTER)

  /** The top-level columns that every data file in `dir` holds in every
    * row group with no dictionary page, by the footers' encoding stats:
    * one footer read per file, no Spark job. A chunk without encoding
    * stats, or a directory with no data file or with a file that holds
    * no row group, counts as having one.
    */
  private[fs] def footerPlainColumns(dir: Path): Set[String] = {
    val perFile = dataFiles(dir).map { st =>
      val groups = footer(st).getBlocks.asScala.toSeq.map(_.getColumns.asScala.collect {
        case c if c.getPath.size == 1 &&
            Option(c.getEncodingStats).exists(!_.hasDictionaryPages) => c.getPath.toDotString
      }.toSet)
      groups.reduceOption(_ intersect _).getOrElse(Set.empty[String])
    }
    perFile.reduceOption(_ intersect _).getOrElse(Set.empty)
  }

  /** Compact the current snapshot into `targetPartitions` files (repeated
    * merges leave one file per shuffle partition per write — at 100 TB
    * the equivalent is OPTIMIZE/bin-packing; here: read → cluster into
    * `targetPartitions` key ranges, or hash-partition on the keys for a
    * bucketed or partitioned table → rewrite as a new version through
    * the same commit path).
    */
  def compact(name: String, targetPartitions: Int = 1): Unit = {
    val (spec, version) = loadSpec(name)
    require(version > 0, s"compact($name): table has no data yet")
    val current = readTable(name)
    writeClustered(name, spec, version,
      if (isPlain(spec)) current.repartitionByRange(targetPartitions, col(spec.keys.head))
      else current.repartition(targetPartitions, spec.keys.map(col): _*))
  }

  /** OPTIMIZE … ZORDER BY analog (r12) — the other half of the Delta
    * maintenance pair next to [[compact]]: rewrite the current
    * snapshot laid out along the space-filling curve over `zorderBy`
    * (`graft.operators.ZOrder.layout` — range partition + sort on the
    * fused Morton value), THROUGH the same versioned commit, so
    * readers swap atomically, time travel keeps the pre-optimize
    * snapshot, and rollback undoes the rewrite. Content-identical by
    * construction — only the file layout changes, which is what makes
    * parquet min/max footer stats prune on EVERY zorder dimension for
    * the range-scan queries a feature table serves (the q59/ZOrderSpec
    * geometry, now reachable as table maintenance). Bucketed tables
    * refuse: their physical layout IS the bucket spec.
    */
  def optimizeTable(name: String, zorderBy: Seq[String],
      targetPartitions: Int = spark.sparkContext.defaultParallelism): Unit = {
    require(zorderBy.nonEmpty, s"optimizeTable($name): need zorderBy columns")
    val (spec, version) = loadSpec(name)
    require(version > 0, s"optimizeTable($name): table has no data yet")
    require(spec.buckets == 0,
      s"optimizeTable($name): bucketed tables fix their own layout " +
        "(CLUSTERED BY keys); compact by rewriting at the same bucket spec")
    val bad = zorderBy.filterNot(spec.schema.fieldNames.contains)
    require(bad.isEmpty,
      s"optimizeTable($name): zorderBy column(s) ${bad.mkString(", ")} not in schema")
    val laidOut = graft.operators.ZOrder
      .layout(readTable(name), zorderBy, numFiles = targetPartitions)
    writeVersion(name, spec, version, laidOut, clustered = false)
  }
}

/** One published range file: its name in the snapshot directory, its
  * byte size, and the min/max of the leading key in Catalyst form
  * (`Long` for integral keys, `UTF8String` for string keys); `None`
  * when the footer gave no usable stats.
  */
private[fs] final case class OnlineFile(name: String, size: Long,
    kmin: Option[Any], kmax: Option[Any])

/** The pointer to one table's current online snapshot: the snapshot
  * directory, its schema, the leading key's index in it, and every
  * data file. Serialized as text: a header line `snapshot \t keyIndex`,
  * the schema's JSON, then one `file \t size \t min \t max` line per
  * file.
  */
private[fs] final case class OnlineManifest(snapshot: String, schema: StructType,
    keyIndex: Int, files: Seq[OnlineFile]) {
  import OnlineManifest._

  def keyCol: String = schema(keyIndex).name
  def keyKind: String = kindOf(schema(keyIndex).dataType)

  /** The caller's keys in the Catalyst form the stats compare in: the
    * stats were computed under UTF8String order, which disagrees with
    * Java String order when supplementary chars (>= U+10000) mix with
    * [U+E000, U+FFFF], so string keys must compare as UTF8String or a
    * containing file gets wrongly pruned. Integral keys widen to Long;
    * a caller key that does not parse as one matches nothing.
    */
  def wanted(keys: Seq[Any]): Set[Any] = keys.filter(_ != null).flatMap { k =>
    if (keyKind == Str) Some(UTF8String.fromString(k.toString))
    else k.toString.toLongOption
  }.toSet

  /** The files whose key range can hold one of `keys`; a file with no
    * stats (all-null keys, or none recorded) is never pruned.
    */
  def prune(keys: Seq[Any]): Seq[OnlineFile] = {
    val w = wanted(keys)
    files.filter { f =>
      (f.kmin, f.kmax) match {
        case (Some(lo), Some(hi)) => w.exists(k => order.lteq(lo, k) && order.lteq(k, hi))
        case _ => true
      }
    }
  }

  def render: String =
    (s"$snapshot\t$keyIndex" +: schema.json +: files.map { f =>
      s"${f.name}\t${f.size}\t${f.kmin.getOrElse("")}\t${f.kmax.getOrElse("")}"
    }).mkString("\n")
}

private[fs] object OnlineManifest {
  val Integral = "integral"
  val Str = "string"
  val NoStats = "none"

  /** Key stats are kept for integral and (binary-collated) string keys. */
  def kindOf(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => Integral
    case StringType => Str
    case _ => NoStats
  }

  /** Every field nullable, recursively: the schema a parquet read of
    * written files gives back.
    */
  def asNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  val order: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: UTF8String, y: UTF8String) => x.compareTo(y)
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    }
  }

  def parse(text: String): OnlineManifest = {
    val lines = text.split("\n", -1).toSeq
    val Array(snapshot, keyIndex) = lines.head.split("\t", -1)
    val schema = DataType.fromJson(lines(1)).asInstanceOf[StructType]
    val kind = kindOf(schema(keyIndex.toInt).dataType)
    def bound(s: String): Option[Any] =
      Some(s).filter(_.nonEmpty).map(v => if (kind == Str) UTF8String.fromString(v) else v.toLong)
    val files = lines.drop(2).filter(_.nonEmpty).map { l =>
      val Array(name, size, lo, hi) = l.split("\t", -1)
      OnlineFile(name, size.toLong, bound(lo), bound(hi))
    }
    OnlineManifest(snapshot, schema, keyIndex.toInt, files)
  }
}
