package graft.io

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, LinkOption, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import java.util.{Locale, UUID}
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.{ColumnPath, CompressionCodecName}
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile, OutputFile}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Snapshot-table I/O: Iceberg-semantics emulation over partitioned Parquet
  * plus JSON manifests (no Iceberg runtime jar ships in this environment —
  * SURVEY.md §7; the API is format-agnostic so a real Iceberg catalog is a
  * config swap).
  *
  * Layout under `root/` (a local path; every file here is read and written
  * through java.nio):
  *   data/snapshot=<id>/part-*.parquet      immutable snapshot data
  *     (resumable: data/snapshot=<id>/doc_bucket=<b>/part-*.parquet)
  *   _manifests/<id>.json                   committed manifest (atomic rename)
  *   _manifests/CURRENT                     name of the live snapshot
  *   _manifests/buckets-<id>/bucket-<b>.done  resumable: bucket b is final
  *   _manifests/buckets-<id>/run.json         resumable: the run's inputs
  *
  * Commit protocol of both snapshot writers: each task writes its rows into
  * hidden (`.`-prefixed) staging files named for its task attempt and
  * returns (file, rows, bytes); as each task ends, the driver renames its
  * files to `part-*` names. It deletes whatever else the directories it
  * writes hold (staging files of failed or speculative attempts, data of a
  * crashed earlier attempt) and commits. The manifest plus the atomic swap
  * of CURRENT is the only commit: no Hadoop `FileSystem`, output committer,
  * `_SUCCESS` or `.crc` file is involved. Snapshot files take the session's
  * Parquet compression codec and TableIO's fixed write options; the
  * session's Hadoop `parquet.*` settings do not apply to them.
  *
  * Guarantees:
  *   - readers never observe a half-written snapshot: `readSnapshot`
  *     reads only committed ids (a failed run's `part-*` files stay until
  *     the id's next run), and staging files are hidden from Parquet readers
  *   - idempotent re-run: an existing committed snapshot id is a no-op
  *     (resume-safe per the north_rule's "resumable from checkpoint")
  *   - resume (`writeSnapshotResumable`): each bucket is marked done as the
  *     task that wrote it ends, so a re-run after a run that died mid-job
  *     keeps the finished buckets' files untouched and writes only the rest;
  *     a re-run from other inputs or buckets fails instead of returning or
  *     mixing in the earlier run's rows
  *   - lineage: the manifest records input paths, row count, app id and
  *     per-snapshot metrics
  */
object TableIO {

  final case class Manifest(
      snapshotId: String,
      rowCount: Long,
      files: Seq[String],
      inputs: Seq[String],
      appId: String,
      committedAtMs: Long,
      metrics: Map[String, Long])

  private def manifestDir(root: String) = Paths.get(root, "_manifests")
  private def dataDir(root: String, id: String) = Paths.get(root, "data", s"snapshot=$id")

  def isCommitted(root: String, snapshotId: String): Boolean =
    Files.exists(manifestDir(root).resolve(s"$snapshotId.json"))

  def currentSnapshot(root: String): Option[String] = {
    val cur = manifestDir(root).resolve("CURRENT")
    if (Files.exists(cur)) Some(new String(Files.readAllBytes(cur), StandardCharsets.UTF_8).trim)
    else None
  }

  /** Manifests are flat JSON: strings, integers, string arrays and one
    * object of integer metrics, written and parsed with Jackson. The
    * dump mains quote their JSON strings with this mapper too. */
  private[graft] val Json = new ObjectMapper

  private def renderManifest(m: Manifest): Array[Byte] = {
    val o = Json.createObjectNode()
    o.put("snapshot_id", m.snapshotId).put("row_count", m.rowCount)
    val files = o.putArray("files")
    m.files.foreach(files.add(_))
    val inputs = o.putArray("inputs")
    m.inputs.foreach(inputs.add(_))
    o.put("app_id", m.appId).put("committed_at_ms", m.committedAtMs)
    val met = o.putObject("metrics")
    m.metrics.foreach { case (k, v) => met.put(k, v) }
    Json.writeValueAsBytes(o)
  }

  /** Write `df` as snapshot `snapshotId`, committing atomically. Returns the
    * manifest; a committed id short-circuits (idempotent resume). The
    * manifest's metrics carry `extraMetrics` plus `data_files` and
    * `data_bytes`, summed from what the tasks wrote. */
  def writeSnapshot(
      df: DataFrame,
      root: String,
      snapshotId: String,
      inputs: Seq[String] = Nil,
      extraMetrics: Map[String, Long] = Map.empty): Manifest = {
    if (isCommitted(root, snapshotId)) return readManifest(root, snapshotId)

    val spark = df.sparkSession
    val target = dataDir(root, snapshotId)
    Files.createDirectories(target)
    val writer = SnapshotFileWriter(spark, df.schema, target.toString)
    val placed = writeFiles(df, s"writeSnapshot $snapshotId", writer, writer.writeTask)
    // an empty input still commits one zero-row file: it carries the schema
    val written = if (placed.nonEmpty) placed else Seq(writer.place(writer.stage(0, -1L, Iterator.empty)))
    val files = written.map(_.path)
    prune(target, files.toSet)
    commit(spark, root, snapshotId, files, written.map(_.rows).sum, inputs,
      extraMetrics ++ Map("data_files" -> files.length.toLong, "data_bytes" -> written.map(_.bytes).sum))
  }

  /** Runs `df`'s plan as one SQL execution, as a Spark write would (AQE, the
    * UI and the plan's SQL metrics see the job), with `task` staging each
    * partition's rows. As each task ends, the job's result handler renames
    * its staged files to `part-*` names and hands them to `done`. Returns
    * the placed files in partition order. The handler holds up the
    * scheduler's event loop, so `done` only writes small files. */
  private def writeFiles(df: DataFrame, description: String, writer: SnapshotFileWriter,
      task: (TaskContext, Iterator[InternalRow]) => Seq[Staged],
      done: Seq[Staged] => Unit = _ => ()): Seq[Staged] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(description)) {
      val rdd = qe.toRdd
      val placed = Array.fill(rdd.getNumPartitions)(Seq.empty[Staged])
      df.sparkSession.sparkContext.runJob(rdd, task, rdd.partitions.indices,
        (p: Int, staged: Seq[Staged]) => { placed(p) = staged.map(writer.place); done(placed(p)) })
      placed.toSeq.flatten
    }
  }

  /** Every path under `dir` down to `maxDepth` (1: its own entries), `dir`
    * itself excluded. The stream is closed: an unclosed `Files.list`/
    * `Files.walk` keeps its directory descriptor open for the life of the
    * driver. */
  private def listPaths(dir: java.nio.file.Path, maxDepth: Int): Vector[String] = {
    val s = Files.walk(dir, maxDepth)
    try s.iterator.asScala.filter(_ != dir).map(_.toString).toVector
    finally s.close()
  }

  /** Deletes every entry of `dir` not in `keep`: failed attempts' staging files and data. */
  private def prune(dir: java.nio.file.Path, keep: Set[String]): Unit =
    listPaths(dir, maxDepth = 1).filterNot(keep).foreach(p => deleteTree(Paths.get(p)))

  /** Deletes `p` and, for a directory (not a link to one), its contents. */
  private def deleteTree(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) listPaths(p, maxDepth = 1).foreach(c => deleteTree(Paths.get(c)))
    Files.deleteIfExists(p)
  }

  /** Span texts are near-unique, so Parquet would build a dictionary for
    * the contract's text leaf and then abandon it (measured ≈19% of
    * executor samples); the leaf is written PLAIN either way. */
  private val NoDictionaryColumn = "spans.list.element.text"

  /** One task's staged snapshot file. */
  private final case class Staged(partition: Int, path: String, rows: Long, bytes: Long)

  /** The task side of both writers: writes `InternalRow`s with Spark's own
    * `ParquetWriteSupport` through parquet-java's java.nio `LocalOutputFile`.
    * It carries only the keys Spark's Parquet write support reads (schema,
    * legacy format, timestamp type, field ids, variant annotation), never
    * the session's Hadoop configuration, so a task deserializes a few
    * strings instead of a whole `Configuration`. */
  private final case class SnapshotFileWriter(dir: String, writeId: String, codec: CompressionCodecName,
      writeSupportConf: Map[String, String]) {

    /** A partition with no rows writes no file. */
    def writeTask(ctx: TaskContext, rows: Iterator[InternalRow]): Seq[Staged] =
      if (rows.hasNext) Seq(stage(ctx.partitionId(), ctx.taskAttemptId(), rows)) else Nil

    /** For rows sorted by an int bucket column after the `data` columns: one
      * file of the data columns per run of equal bucket `b`, staged into
      * `doc_bucket=<b>/` (as in Spark's layout, the directory holds `b`). */
    def writeBuckets(data: StructType)(ctx: TaskContext, rows: Iterator[InternalRow]): Seq[Staged] = {
      val in = rows.buffered
      val row = ProjectingInternalRow(data, data.indices)
      val out = Seq.newBuilder[Staged]
      while (in.hasNext) {
        val b = in.head.getInt(data.length)
        val run = new Iterator[InternalRow] {
          def hasNext: Boolean = in.hasNext && in.head.getInt(data.length) == b
          def next(): InternalRow = { row.project(in.next()); row }
        }
        Files.createDirectories(Paths.get(dir, bucketDir(b)))
        out += stage(ctx.partitionId(), ctx.taskAttemptId(), run, bucketDir(b))
      }
      out.result()
    }

    /** Writes `rows` into a hidden staging file unique to the attempt, in
      * `dir` or its subdirectory `sub`. A failed write deletes its file. */
    def stage(partition: Int, attempt: Long, rows: Iterator[InternalRow], sub: String = ""): Staged = {
      val file = Paths.get(dir, sub, f".part-$partition%05d-$writeId-$attempt.staging")
      val conf = new Configuration(false)
      writeSupportConf.foreach { case (k, v) => conf.set(k, v) }
      var n = 0L
      try {
        val writer = new RowWriterBuilder(new LocalOutputFile(file)).withConf(conf)
          .withCompressionCodec(codec).withDictionaryEncoding(NoDictionaryColumn, false).build()
        try rows.foreach { r => writer.write(r); n += 1 }
        finally writer.close()
      } catch {
        case t: Throwable => Files.deleteIfExists(file); throw t
      }
      Staged(partition, file.toString, n, Files.size(file))
    }

    /** Renames a staged file to its `part-*` name in the same directory. */
    def place(s: Staged): Staged = {
      val part = Paths.get(s.path).resolveSibling(f"part-${s.partition}%05d-$writeId${codec.getExtension}.parquet")
      s.copy(path = Files.move(Paths.get(s.path), part, StandardCopyOption.ATOMIC_MOVE).toString)
    }
  }

  private object SnapshotFileWriter {
    def apply(spark: SparkSession, schema: StructType, dir: String): SnapshotFileWriter = {
      val keys = Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT, SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
        SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED, SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).map(_.key)
      val codec = ParquetOptions.getParquetCompressionCodecName(
        spark.conf.get(SQLConf.PARQUET_COMPRESSION.key).toLowerCase(Locale.ROOT))
      SnapshotFileWriter(dir, UUID.randomUUID.toString, CompressionCodecName.valueOf(codec),
        keys.map(k => k -> spark.conf.get(k)).toMap + (ParquetWriteSupport.SPARK_ROW_SCHEMA -> schema.json))
    }
  }

  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Commit `files` (holding `rowCount` rows) as snapshot `snapshotId`: the
    * manifest is written to a temporary name and renamed into place, then
    * CURRENT is swapped atomically. This is the whole commit; the files are
    * already in place under their final names. The caller passes the row
    * count: `writeSnapshot` sums its tasks' counts, `writeSnapshotResumable`
    * reads the footers. Every path is a local java.nio path. */
  private def commit(spark: SparkSession, root: String, snapshotId: String, files: Seq[String],
      rowCount: Long, inputs: Seq[String], metrics: Map[String, Long]): Manifest = {
    val manifest = Manifest(snapshotId, rowCount, files, inputs,
      spark.sparkContext.applicationId, System.currentTimeMillis(), metrics)

    Files.createDirectories(manifestDir(root))
    val tmp = manifestDir(root).resolve(s".$snapshotId.json.tmp")
    Files.write(tmp, renderManifest(manifest))
    Files.move(tmp, manifestDir(root).resolve(s"$snapshotId.json"), StandardCopyOption.ATOMIC_MOVE)

    val curTmp = manifestDir(root).resolve(".CURRENT.tmp")
    Files.write(curTmp, snapshotId.getBytes(StandardCharsets.UTF_8))
    Files.move(curTmp, manifestDir(root).resolve("CURRENT"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    manifest
  }

  // ---------------------------------------------------------------------
  // Bucket-level resume: the snapshot is written as doc_bucket=<b>/ dirs
  // through writeSnapshot's staging and commit. Before the job, all but the
  // marked buckets' directories is deleted; one task writes each bucket
  // whole and marks it as the task ends. A re-run writes ONLY the unmarked
  // buckets, so it resumes idempotently after a run that died mid-job
  // (north_rule).
  // ---------------------------------------------------------------------

  private def bucketMarkerDir(root: String, id: String) = manifestDir(root).resolve(s"buckets-$id")
  private def bucketDir(b: Int) = s"doc_bucket=$b"

  private[graft] val Buckets = 64

  /** The bucket of a row whose doc_id is `docId`, among `buckets`. */
  private[graft] def bucket(docId: Column, buckets: Int): Column =
    pmod(xxhash64(docId), lit(buckets)).cast("int")

  /** A resumable run's identity: its inputs and bucket count, as JSON. */
  private def runOf(inputs: Seq[String], buckets: Int) = Json.writeValueAsString((inputs :+ s"buckets=$buckets").toArray)

  /** The buckets of `snapshotId` whose files are final: every bucket of a
    * committed snapshot, else the marked ones. */
  def committedBuckets(root: String, snapshotId: String): Set[Int] = {
    val dir = bucketMarkerDir(root, snapshotId)
    if (isCommitted(root, snapshotId))
      (0 until readManifest(root, snapshotId).metrics.getOrElse("buckets", 0L).toInt).toSet
    else if (!Files.exists(dir)) Set.empty
    else listPaths(dir, maxDepth = 1)
      .flatMap(p => "bucket-(\\d+)\\.done$".r.findFirstMatchIn(p).map(_.group(1).toInt)).toSet
  }

  /** Write `df` (must carry doc_id) as snapshot partitions bucketed by
    * xxhash64(doc_id) % buckets; re-runs skip marked buckets and rewrite
    * only the others. Commit the snapshot manifest once all buckets are in.
    * A committed or marked id made from other `inputs` or `buckets` throws. */
  def writeSnapshotResumable(
      df: DataFrame,
      root: String,
      snapshotId: String,
      buckets: Int = Buckets,
      inputs: Seq[String] = Nil): Manifest = {
    val run = runOf(inputs, buckets)
    def check(earlier: String): Unit = if (earlier != run) throw new IllegalStateException(
      s"snapshot $snapshotId under $root was made from $earlier, not $run: write this run under another id or root")
    if (isCommitted(root, snapshotId)) {
      val m = readManifest(root, snapshotId)
      check(runOf(m.inputs, m.metrics.getOrElse("buckets", -1L).toInt))
      return m
    }
    val spark = df.sparkSession
    val marked = committedBuckets(root, snapshotId)
    val markers = Files.createDirectories(bucketMarkerDir(root, snapshotId))
    val runFile = markers.resolve("run.json")
    // the run file is written before any marker; markers without one predate run files
    if (marked.nonEmpty && Files.exists(runFile)) check(Files.readString(runFile))
    else Files.writeString(runFile, run)
    val missing = (0 until buckets).filterNot(marked)
    val target = dataDir(root, snapshotId)
    Files.createDirectories(target)
    // only the marked buckets are final: what earlier runs left elsewhere goes
    prune(target, marked.map(b => target.resolve(bucketDir(b)).toString))
    val writer = SnapshotFileWriter(spark, df.schema, target.toString)
    if (missing.nonEmpty) {
      val bucketed = df
        .withColumn("doc_bucket", bucket(col("doc_id"), buckets))
        .filter(col("doc_bucket").isin(missing: _*))
        .repartition(col("doc_bucket"))
        .sortWithinPartitions("doc_bucket")
      writeFiles(bucketed, s"writeSnapshotResumable $snapshotId", writer, writer.writeBuckets(df.schema),
        done = _.foreach { f =>
          val b = Paths.get(f.path).getParent.getFileName.toString.stripPrefix("doc_bucket=")
          Files.write(markers.resolve(s"bucket-$b.done"), Array.empty[Byte])
        })
    }
    // failed attempts' staging files go, except from the marked buckets
    val all = listPaths(target, maxDepth = Int.MaxValue)
    val markedDirs = marked.map(b => target.resolve(bucketDir(b)))
    all.filter(p => p.endsWith(".staging") && !markedDirs(Paths.get(p).getParent)).foreach(p => Files.delete(Paths.get(p)))
    val found = all.filter(_.endsWith(".parquet")).sorted
    // no bucket file at all: one zero-row file carries the schema (never
    // beside doc_bucket= dirs, where a root file breaks partition discovery)
    val files = if (found.nonEmpty) found else Seq(writer.place(writer.stage(0, -1L, Iterator.empty)).path)
    commit(spark, root, snapshotId, files, footerRows(spark, files), inputs,
      Map("buckets" -> buckets.toLong, "resumed_buckets" -> (buckets - missing.length).toLong))
  }

  /** Rows in `files`, from their Parquet footers (the row-group counts
    * `count()` would read): no Spark job, and earlier attempts' buckets count. */
  private def footerRows(spark: SparkSession, files: Seq[String]): Long =
    footers(spark, files.map(Paths.get(_)))(_.getRecordCount).sum

  /** `read` over each file's opened Parquet footer, lazily, in file order.
    *
    * The footers share one read-options object built from the session's
    * Hadoop configuration. The one-argument `ParquetFileReader.open` builds
    * its options over a new `Configuration`, which parses the XML defaults
    * from the classpath jars again for every file (~10 ms each). */
  private def footers[T](spark: SparkSession, files: Seq[java.nio.file.Path])(read: ParquetFileReader => T): Iterator[T] = {
    val options = HadoopReadOptions.builder(spark.sparkContext.hadoopConfiguration).build()
    files.iterator.map { f =>
      val reader = ParquetFileReader.open(new LocalInputFile(f), options)
      try read(reader) finally reader.close()
    }
  }

  /** Whether the footers of `files` (URIs, as `FileIndex.inputFiles` names
    * them) prove that every value of the plain INT32 leaf `leaf` (its
    * Parquet column path) is at most `bound`: every file is local and every
    * row group's statistics hold a max no larger. A non-local file, a row
    * group lacking the leaf, its statistics or a non-null value, or a leaf
    * of another type proves nothing. */
  private[graft] def int32AtMost(spark: SparkSession, files: Seq[String], leaf: Seq[String], bound: Long): Boolean = {
    // the URI's escapes (%20 for a space) decoded before the local-path rule
    val local = files.map(f => localPath(new org.apache.hadoop.fs.Path(java.net.URI.create(f)).toString))
    val column = ColumnPath.get(leaf: _*)
    local.forall(_.isDefined) && footers(spark, local.flatten)(_.getFooter.getBlocks.asScala.forall { group =>
      group.getColumns.asScala.find(_.getPath == column).exists { c =>
        val (t, s) = (c.getPrimitiveType, c.getStatistics)
        t.getPrimitiveTypeName == PrimitiveTypeName.INT32 && t.getLogicalTypeAnnotation == null &&
          s != null && s.hasNonNullValue && s.genericGetMax.asInstanceOf[Integer].longValue <= bound
      }
    }).forall(identity)
  }

  def readManifest(root: String, snapshotId: String): Manifest = {
    val j = Json.readTree(manifestDir(root).resolve(s"$snapshotId.json").toFile)
    def strs(k: String) = j.path(k).elements.asScala.map(_.asText).toVector
    Manifest(j.path("snapshot_id").asText, j.path("row_count").asLong, strs("files"), strs("inputs"),
      j.path("app_id").asText, j.path("committed_at_ms").asLong,
      j.path("metrics").properties.asScala.map(e => e.getKey -> e.getValue.asLong).toMap)
  }

  /** Write the contract input table WITH a `n_spans` stats column, range-
    * clustered by document size so giant docs land in their own files/row
    * groups. When no doc is a giant, `Extract.extractContract` reads the
    * `n_spans` max from the footers and plans one scan. When some are, this
    * is what makes the giant leg's scan cheap at 100 TB: its predicate
    * (`n_spans > threshold`) is an ordinary pushable column filter, so
    * parquet row-group min/max stats skip every non-giant row group instead
    * of decoding the whole corpus twice (the raw (doc_id, spans) input has
    * nothing pushable — size(spans) cannot reach the scan).
    *
    * Bucket count trades pruning granularity against read parallelism: a
    * parquet file's row group is the effective read unit, so too few
    * buckets serializes the scan (measured 3x wall at 8 buckets/160k docs).
    * `blockBytes` (parquet row-group size) is the same lever at sub-file
    * granularity: size-clustering compresses so well that a SMALL corpus at
    * the 8 MB default yields too few row groups for one task wave — pass
    * ~totalBytes/512 for benchmark-sized corpora (readers cannot split
    * inside a row group, so row groups bound scan parallelism). */
  def writeContractInput(df: DataFrame, path: String, sizeBuckets: Int = 128,
      blockBytes: Long = 8L * 1024 * 1024): Unit =
    df.select(col("doc_id"), col("spans"),
        coalesce(size(col("spans")), lit(0)).as("n_spans"))
      // doc_id tiebreak: n_spans is low-cardinality (doc sizes cluster), and
      // range partitioning cannot split equal keys — without the tiebreak
      // the most common size lands whole in one partition (measured 3-4x
      // wall from the resulting file skew)
      .repartitionByRange(sizeBuckets, col("n_spans"), col("doc_id"))
      .sortWithinPartitions("n_spans", "doc_id")
      // small row groups: range buckets hold equal ROW counts, but giant
      // docs dominate BYTES — with the 128 MB default a handful of
      // giant-heavy files become one row group each, and the row group is
      // the read unit (measured: 7 tasks carrying 94% of the corpus bytes).
      // 8 MB groups restore scan parallelism AND give finer stats pruning.
      .write.mode("overwrite").option("parquet.block.size", blockBytes)
      // fine-grained flush checks: the writer samples row-group size on a
      // ROW-COUNT stride estimated from earlier rows (bounded by the page
      // row-check knobs, which also throttle the block check in
      // InternalParquetRecordWriter) — after a run of small docs it strides
      // right past blockBytes when the giants arrive (measured: a 3.7 MB
      // giants-only group at blockBytes=1 MB). Size-clustered writes hit
      // this by construction.
      .option("parquet.page.size.row.check.min", "2")
      .option("parquet.page.size.row.check.max", "2")
      .parquet(path)

  /** Byte-budgeted columnar batch size (VERDICT r03 #3: one config must meet
    * BOTH the peak-throughput and the N→4N efficiency gate): choose
    * `spark.sql.parquet.columnarReaderBatchSize` so one decoded batch of the
    * LARGEST rows in this corpus stays within `targetBatchBytes`, instead of
    * hardcoding a row count. Span-array rows make batch MEMORY scale with
    * rowBytes × batchSize, and the skewed giants dominate rowBytes — so the
    * budget keys on the max row, not the average (a batch that lands in a
    * giant-heavy region must still fit).
    *
    * Row size is estimated from the table's own data: max spans/doc (the
    * `n_spans` stats column when present, else `size(spans)`) × bytes/span
    * from a bounded sample. Two tiny setup scans, untimed; a warehouse
    * deployment reads the same two numbers from table stats. Clamped to
    * [16, 4096] (the vectorized-reader sane range). */
  def autoBatchSize(input: DataFrame, targetBatchBytes: Long = 24L << 20): Int = {
    val nCol =
      if (input.columns.contains("n_spans")) col("n_spans")
      else coalesce(size(col("spans")), lit(0))
    val mxRow = input.select(max(nCol).cast("long").as("mx")).collect()(0)
    val maxSpans = if (mxRow.isNullAt(0)) 1L else math.max(mxRow.getLong(0), 1L)
    val sampleRow = input.select(explode(col("spans")).as("s")).limit(20000)
      .select(avg(coalesce(octet_length(col("s.text")), lit(0)) +
        coalesce(octet_length(col("s.media_ref")), lit(0)) + lit(24)).as("b"))
      .collect()(0)
    val bytesPerSpan = if (sampleRow.isNullAt(0)) 64.0 else math.max(sampleRow.getDouble(0), 16.0)
    val rowBytes = math.max(maxSpans * bytesPerSpan, 1.0)
    math.max(16L, math.min(4096L, (targetBatchBytes / rowBytes).toLong)).toInt
  }

  /** Choose `spark.sql.files.maxPartitionBytes` for a corpus directory so
    * the narrow extraction scan makes ~`waves` task waves per core — enough
    * tasks to amortize stragglers and co-tenant jitter, few enough that
    * per-task overhead stays negligible. At warehouse scale the file count
    * provides this naturally; a small benchmark corpus read with the 128 MB
    * default collapses to a single straggler-bound wave (measured 2-3×
    * wall). Clamped to [1 MB, 128 MB]. */
  def autoSplitBytes(path: String, cores: Int, waves: Int = 4): Long = {
    // local filesystem paths only: for a non-local URI (hdfs://, s3a://...)
    // java.nio cannot stat the tree — returning the 1 MB clamp on a "0-byte"
    // corpus would be pathological, so keep Spark's 128 MB default instead
    // (a real deployment reads the size from the table's file index/stats)
    val p = localPath(path) match { case Some(p) => p; case None => return 128L << 20 }
    val total =
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.filter(f => java.nio.file.Files.isRegularFile(f))
          .mapToLong(f => java.nio.file.Files.size(f)).sum
        finally s.close()
      } else 0L
    math.max(1L << 20, math.min(128L << 20, total / math.max(1, cores * waves)))
  }

  /** `path` as a java.nio path when it is local: no scheme or `file:`. The
    * scheme must be >= 2 chars: a single letter before ':' is a Windows
    * drive (C:\data), which is a local path, not a remote URI (ADVICE r05). */
  private def localPath(path: String): Option[java.nio.file.Path] = {
    val scheme = "^([a-zA-Z][a-zA-Z0-9+.-]+):".r.findFirstMatchIn(path).map(_.group(1))
    if (scheme.exists(_ != "file")) None else Some(Paths.get(path.stripPrefix("file:")))
  }

  /** Bucketed table write: pre-hash-partition + sort by the join key so
    * doc-keyed joins between co-bucketed tables plan WITHOUT a shuffle
    * (SortMergeJoin over bucket-aligned scans — the 100 TB pattern for
    * repeated joins on doc_id, e.g. spans x metadata x quality scores;
    * the Exchange that a plain parquet join needs on BOTH corpus-sized
    * sides disappears). Uses the session catalog's managed-table bucketing
    * (swap for Iceberg bucket partition transforms on a real catalog). */
  def writeBucketed(df: DataFrame, tableName: String, bucketCol: String, buckets: Int): Unit =
    df.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(tableName)

  /** Read the current committed snapshot (or a named one, which must be committed). */
  def readSnapshot(spark: SparkSession, root: String, snapshotId: Option[String] = None): DataFrame = {
    val id = snapshotId.orElse(currentSnapshot(root))
      .getOrElse(throw new IllegalStateException(s"no committed snapshot under $root"))
    if (!isCommitted(root, id)) throw new IllegalStateException(s"snapshot $id under $root is not committed")
    spark.read.parquet(dataDir(root, id).toString)
  }
}
