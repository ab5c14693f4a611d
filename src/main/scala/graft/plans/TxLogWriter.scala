package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one write path for TxLog commit data, in the shape of Delta's
  * `TransactionalWrite`: Spark's own `FileFormatWriter` writes the
  * parquet files (codec mapping, hive path rendering, the sorted
  * one-writer-at-a-time partitioned writer, the schema-only file of an
  * empty write are all Spark's), with two pieces plugged in:
  *
  *  - [[TxLogWriter.NoRenameCommitProtocol]]: every task file is written
  *    straight to its final path under a name unique per task ATTEMPT,
  *    so a retried or speculative attempt never collides with an earlier
  *    one. There is no `_temporary` staging and no rename pass — the
  *    TxLog manifest entry is the real commit (a file is invisible until
  *    its name publishes), so job commit only reports the file names.
  *    Aborts delete through the Hadoop `FileSystem`: a failed attempt
  *    removes its own files, a failed job removes the commit directory.
  *  - [[TxLogWriter.ZoneMapTracker]]: each write task builds its files'
  *    zone maps from the rows it writes, so the driver never opens a
  *    data-file footer on the commit path.
  *
  * Zone-map parity with the footer harvest ([[TxLog.fileStats]]):
  * integral columns → kind "long", float/double → "double" (float
  * endpoints rendered via Float.toString exactly like parquet's typed
  * footer statistics), string → "string" through the same
  * [[TxLog.boundString]] prefix bounding; every other type carries no
  * stats; all-null columns drop out (footer `hasNonNullValue`); a
  * float/double column containing NaN drops its stats (parquet-format
  * tells writers not to trust NaN orderings — absent stats only ever
  * mean "always scan"). String order is unsigned UTF-8 bytes, the order
  * parquet and [[TxLog.statLt]] use. */
private[plans] object TxLogWriter {

  /** Write `df` as parquet under `outDir`, hive-partitioned by
    * `partitionBy`, and return every committed file as (outDir-relative
    * path, zone maps + row count), sorted by path. Partition columns
    * leave the data files; their values ride in the `col=value/` path
    * segments, so the returned maps cover the data columns only. */
  def write(df: DataFrame, outDir: String, partitionBy: Seq[String])
      : Seq[(String, Map[String, TxLog.ColStats])] = {
    val qe = df.queryExecution
    val spark = qe.sparkSession
    val committer = new NoRenameCommitProtocol(
      java.util.UUID.randomUUID().toString, outDir, partitionBy)
    val tracker = new ZoneMapTracker(StructType(
      df.schema.filterNot(f => partitionBy.exists(_.equalsIgnoreCase(f.name)))), outDir)
    SQLExecution.withNewExecutionId(qe, Some("graft commit write")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(
        sparkSession = spark,
        plan = plan,
        fileFormat = new ParquetFileFormat(),
        committer = committer,
        outputSpec = FileFormatWriter.OutputSpec(outDir, Map.empty, plan.output),
        hadoopConf = spark.sessionState.newHadoopConf(),
        partitionColumns = partitionBy.map(c => plan.output.find(a => a.name.equalsIgnoreCase(c))
          .getOrElse(throw new IllegalArgumentException(s"partition column $c not in the frame"))),
        bucketSpec = None,
        statsTrackers = Seq(tracker),
        options = Map.empty)
    }
    val stats = tracker.fileStats
    committer.committedFiles.sorted.map(rel => rel -> stats.getOrElse(rel,
      throw new IllegalStateException(s"write task reported no zone maps for $rel")))
  }

  /** Writes task files directly at `path/<partition dir>/<name>` with
    * `name` = `part-<split>-<jobId>-a<attempt>-c<n>.<codec>.parquet`.
    * Task commit reports the attempt's files; job commit collects them
    * on the driver. A speculative attempt that loses the race to commit
    * leaves its files unreferenced (vacuum reclaims them), never in the
    * log: only the result the scheduler accepts reaches [[commitJob]].
    *
    * Job commit refuses NULL partition values (Spark writes them under
    * `__HIVE_DEFAULT_PARTITION__`), so the write aborts and its files are
    * removed: a graft partition value must be non-null. */
  final class NoRenameCommitProtocol(jobId: String, path: String, partitionBy: Seq[String])
      extends FileCommitProtocol with Serializable {
    @transient private var taskFiles: Vector[String] = Vector.empty
    @transient private var committed: Seq[String] = Nil

    /** outDir-relative paths of every committed file (driver side). */
    def committedFiles: Seq[String] = committed

    override def setupJob(job: JobContext): Unit = ()

    override def setupTask(ctx: TaskAttemptContext): Unit = taskFiles = Vector.empty

    override def newTaskTempFile(
        ctx: TaskAttemptContext, dir: Option[String], spec: FileNameSpec): String = {
      // attempt numbers count speculative copies too, so the name is
      // unique per attempt of this job's task `split`
      val attempt = TaskContext.get().attemptNumber()
      val split = ctx.getTaskAttemptID.getTaskID.getId
      val name = f"${spec.prefix}part-$split%05d-$jobId-a$attempt${spec.suffix}"
      val rel = dir.fold(name)(d => s"$d/$name")
      taskFiles :+= rel
      s"$path/$rel"
    }

    override def newTaskTempFile(
        ctx: TaskAttemptContext, dir: Option[String], ext: String): String =
      newTaskTempFile(ctx, dir, FileNameSpec("", ext))

    override def newTaskTempFileAbsPath(
        ctx: TaskAttemptContext, absoluteDir: String, ext: String): String =
      throw new UnsupportedOperationException("TxLog commits write under the commit directory only")

    override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage =
      new TaskCommitMessage(taskFiles)

    override def abortTask(ctx: TaskAttemptContext): Unit = {
      val fs = new Path(path).getFileSystem(ctx.getConfiguration)
      taskFiles.foreach(rel => fs.delete(new Path(s"$path/$rel"), false))
    }

    override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit = {
      val files = msgs.flatMap(_.obj.asInstanceOf[Seq[String]])
      require(!files.exists(_.contains(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)),
        s"partition column(s) ${partitionBy.mkString(", ")} carry NULL values — " +
          "a graft partition value must be non-null")
      committed = files
    }

    override def abortJob(job: JobContext): Unit = {
      val p = new Path(path)
      p.getFileSystem(job.getConfiguration).delete(p, true): Unit
    }
  }

  /** One task's zone maps, keyed by outDir-relative file path. */
  final case class TaskZoneMaps(files: Map[String, Map[String, TxLog.ColStats]])
      extends WriteTaskStats

  /** Job-side half of the in-task zone-map build: hands each write task
    * a [[ZoneMapTaskTracker]] over the data columns and merges the
    * tasks' results on the driver. */
  final class ZoneMapTracker(dataSchema: StructType, outDir: String)
      extends WriteJobStatsTracker {
    @transient private var merged: Map[String, Map[String, TxLog.ColStats]] = Map.empty

    def fileStats: Map[String, Map[String, TxLog.ColStats]] = merged

    override def newTaskInstance(): WriteTaskStatsTracker = new ZoneMapTaskTracker(dataSchema, s"$outDir/")

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      merged = stats.flatMap(_.asInstanceOf[TaskZoneMaps].files).toMap
  }

  /** Per-file collectors of one write task. FileFormatWriter passes the
    * data row (partition columns already projected out) to `newRow`.
    * Spark's default sorted writer sends rows file by file, so the
    * current collector is cached by path identity; rows of interleaved
    * files (a session that enables concurrent writers) still find theirs. */
  final class ZoneMapTaskTracker(dataSchema: StructType, dirPrefix: String)
      extends WriteTaskStatsTracker {
    private val files = scala.collection.mutable.HashMap.empty[String, StatsCollector]
    private var curPath: String = _
    private var cur: StatsCollector = _

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      cur = new StatsCollector(dataSchema)
      curPath = filePath
      files.update(filePath, cur)
    }

    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath ne curPath) { cur = files(filePath); curPath = filePath }
      cur.update(row)
    }

    // the protocol hands out `<outDir>/<rel>` paths; results key by rel
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskZoneMaps(files.iterator.map { case (p, c) =>
        p.stripPrefix(dirPrefix) -> c.result() }.toMap)
  }

  /** Per-column min/max/row-count tracker with [[TxLog.fileStats]]
    * parity (see object doc). */
  final class StatsCollector(schema: StructType) {
    private val n = schema.length
    private val kinds: Array[Int] = schema.fields.map(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => 1 // long
      case FloatType  => 2
      case DoubleType => 3
      case StringType => 4
      case _ => 0 // no stats (the footer harvest skips these types too)
    })
    private val dts = schema.fields.map(_.dataType)
    private val seen = new Array[Boolean](n)
    private val nan = new Array[Boolean](n)
    private val minL = new Array[Long](n); private val maxL = new Array[Long](n)
    private val minD = new Array[Double](n); private val maxD = new Array[Double](n)
    private val minF = new Array[Float](n); private val maxF = new Array[Float](n)
    private val minS = new Array[UTF8String](n); private val maxS = new Array[UTF8String](n)
    private var rows = 0L

    def update(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < n) {
        if (kinds(i) != 0 && !row.isNullAt(i)) {
          kinds(i) match {
            case 1 =>
              val v: Long = dts(i) match {
                case ByteType => row.getByte(i).toLong
                case ShortType => row.getShort(i).toLong
                case IntegerType => row.getInt(i).toLong
                case _ => row.getLong(i)
              }
              if (!seen(i)) { minL(i) = v; maxL(i) = v }
              else {
                if (v < minL(i)) minL(i) = v
                if (v > maxL(i)) maxL(i) = v
              }
            case 2 =>
              // a single NaN poisons the column's stats (dropped in
              // result()), so no min/max tracking is needed past it
              val v = row.getFloat(i)
              if (java.lang.Float.isNaN(v)) nan(i) = true
              else if (!nan(i)) {
                if (!seen(i)) { minF(i) = v; maxF(i) = v }
                else {
                  if (v < minF(i)) minF(i) = v
                  if (v > maxF(i)) maxF(i) = v
                }
              }
            case 3 =>
              val v = row.getDouble(i)
              if (java.lang.Double.isNaN(v)) nan(i) = true
              else if (!nan(i)) {
                if (!seen(i)) { minD(i) = v; maxD(i) = v }
                else {
                  if (v < minD(i)) minD(i) = v
                  if (v > maxD(i)) maxD(i) = v
                }
              }
            case 4 =>
              // clone: the writer reuses the row buffer between rows
              val v = row.getUTF8String(i)
              if (!seen(i)) { minS(i) = v.clone(); maxS(i) = v.clone() }
              else {
                if (v.binaryCompare(minS(i)) < 0) minS(i) = v.clone()
                if (v.binaryCompare(maxS(i)) > 0) maxS(i) = v.clone()
              }
          }
          seen(i) = true
        }
        i += 1
      }
    }

    def result(): Map[String, TxLog.ColStats] = {
      val b = Map.newBuilder[String, TxLog.ColStats]
      var i = 0
      while (i < n) {
        if (seen(i)) kinds(i) match {
          case 1 => b += schema(i).name ->
            TxLog.ColStats("long", minL(i).toString, maxL(i).toString)
          case 2 => if (!nan(i)) b += schema(i).name ->
            TxLog.ColStats("double", minF(i).toString, maxF(i).toString)
          case 3 => if (!nan(i)) b += schema(i).name ->
            TxLog.ColStats("double", minD(i).toString, maxD(i).toString)
          case 4 => TxLog.boundString(minS(i).toString, maxS(i).toString)
            .foreach(cs => b += schema(i).name -> cs)
          case _ => ()
        }
        i += 1
      }
      // a user column named like the reserved key loses its zone map,
      // exactly as in the footer harvest
      b.result() + (TxLog.RowCountKey -> TxLog.ColStats("rows", rows.toString, rows.toString))
    }
  }
}
