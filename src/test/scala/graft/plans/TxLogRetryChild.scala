package graft.plans

import graft.GraftSession
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, udf}

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Failure injection for [[TxLogRetryChild]]: the first attempt of every
  * write task with partition id 0 fails when it closes a data file, after
  * the file was created and filled — the shape of a disk or executor
  * fault mid-write. Installed as the `file:` filesystem of the child's
  * session only. */
class FlakyLocalFileSystem extends LocalFileSystem {
  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val inner = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    val tc = TaskContext.get()
    if (!TxLogRetryChild.failCloses || tc == null || tc.partitionId() != 0 ||
        tc.attemptNumber() != 0 || !f.getName.startsWith("part-")) inner
    else new FSDataOutputStream(new java.io.FilterOutputStream(inner) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit = inner.write(b, off, len)
      override def close(): Unit = {
        inner.close()
        TxLogRetryChild.injected.incrementAndGet()
        throw new java.io.IOException(s"injected close failure on first attempt: $f")
      }
    }, null)
  }
}

/** Runs TxLog commits on a `local[4,3]` session — task retries enabled,
  * which the shared `local[N]` test session cannot have (it allows one
  * attempt per task) — and checks each commit. Failures come from two
  * places: [[flaky]], a deterministic UDF in the committed frame that
  * throws on the first attempt of the task reading key 5, and
  * [[FlakyLocalFileSystem]] in the write stages themselves.
  *
  * Args: a scratch directory. Prints one `CASE <name> OK` or
  * `CASE <name> FAIL <reason>` line per case; [[TxLogRetrySpec]] parses
  * them. */
object TxLogRetryChild {
  @volatile var failCloses = true
  val injected = new AtomicInteger()

  /** Identity on k, except that the first attempt of a task reading
    * key 5 throws. */
  val flaky = udf { (k: Long) =>
    if (k == 5L && TaskContext.get().attemptNumber() == 0) {
      injected.incrementAndGet()
      throw new IllegalStateException("injected first-attempt failure")
    }
    k
  }

  /** Always throws on key 5, after the task's other rows went out. */
  val broken = udf { (k: Long) =>
    if (k == 5L) {
      Thread.sleep(300)
      throw new IllegalStateException("injected permanent failure")
    }
    k
  }

  def main(args: Array[String]): Unit = {
    val root = args(0)
    val spark = GraftSession.builder("4,3", "4")
      .appName("txlog-retry")
      .config("spark.hadoop.fs.file.impl", classOf[FlakyLocalFileSystem].getName)
      .getOrCreate()
    val cases = Seq[(String, () => Unit)](
      "append" -> (() => retryAppend(spark, s"$root/append", Nil)),
      "partitioned-append" -> (() => retryAppend(spark, s"$root/part", Seq("p"))),
      "merge" -> (() => retryMerge(spark, s"$root/merge")),
      "delete" -> (() => retryDelete(spark, s"$root/delete")),
      "compact" -> (() => retryCompact(spark, s"$root/compact")),
      "cleanup" -> (() => failedWrite(spark, s"$root/cleanup", Nil)),
      "partitioned-cleanup" -> (() => failedWrite(spark, s"$root/cleanup-part", Seq("p"))))
    cases.foreach { case (name, run) =>
      failCloses = true
      val result =
        try { run(); "OK" }
        catch { case t: Throwable =>
          s"FAIL ${t.getClass.getName}: ${String.valueOf(t.getMessage).linesIterator.take(3).mkString(" | ")}"
        }
      println(s"CASE $name $result")
    }
    spark.stop()
  }

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new AssertionError(what)

  /** 400 rows (k, v = 2k, p = k % 3) in 4 tasks, key 5 in task 0. */
  private def rows(spark: SparkSession, k: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame =
    spark.range(0, 400, 1, 4).select(k(col("id")).as("k"), (col("id") * 2).as("v"),
      (col("id") % 3).as("p"))

  private def seed(spark: SparkSession, table: String): Unit = {
    failCloses = false
    try TxLog.append(rows(spark, identity), table)
    finally failCloses = true
  }

  private def table(spark: SparkSession, t: String): Set[(Long, Long, Long)] =
    TxLog.snapshot(spark, t).select("k", "v", "p").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def filesUnder(dir: java.nio.file.Path): Set[java.nio.file.Path] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toSet
      finally s.close()
    }

  /** The newest commit after a run with injected failures: the run did
    * retry, every live file exists, and the commit's directories hold
    * exactly the files it references — a failed attempt's files are
    * deleted, so none of them can be live. */
  private def checkCommit(t: String, before: Int): Unit = {
    check(injected.get() > before, "no failure was injected")
    val snap = TxLog.replay(t, None)
    TxLog.requireLiveFilesExist(t, snap)
    val c = TxLog.history(t).last
    val base = Paths.get(t)
    val dirs = (c.add ++ c.cdf).map(_.split("/").take(2).mkString("/")).distinct
    val onDisk = dirs.flatMap(d => filesUnder(base.resolve(d)))
      .map(p => base.relativize(p).toString)
      .filterNot(_.contains("__graft_class=delete")).toSet
    check(onDisk == (c.add ++ c.cdf).toSet,
      s"commit dirs hold ${(onDisk -- c.add -- c.cdf).take(3)} beyond the commit")
    check(c.add.forall(snap.files.contains), "commit adds are not live")
  }

  private def retryAppend(spark: SparkSession, t: String, parts: Seq[String]): Unit = {
    val before = injected.get()
    TxLog.append(rows(spark, flaky(_)), t, parts)
    check(table(spark, t) == (0L until 400L).map(k => (k, 2 * k, k % 3)).toSet,
      "table rows differ")
    checkCommit(t, before)
  }

  private def retryMerge(spark: SparkSession, t: String): Unit = {
    seed(spark, t)
    // keys 0..19 update rows of the first file, 400..409 insert
    val updates = spark.range(0, 20, 1, 2).union(spark.range(400, 410, 1, 2))
      .select(flaky(col("id")).as("k"), lit(-1L).as("v"), (col("id") % 3).as("p"))
    val before = injected.get()
    TxLog.merge(spark, t, updates, "k")
    val want = (0L until 410L).map(k => (k, if (k < 20 || k >= 400) -1L else 2 * k, k % 3)).toSet
    check(table(spark, t) == want, "table rows differ")
    check(TxLog.history(t).last.cdf.nonEmpty, "merge wrote no change data")
    checkCommit(t, before)
  }

  private def retryDelete(spark: SparkSession, t: String): Unit = {
    seed(spark, t)
    val before = injected.get()
    TxLog.delete(spark, t, flaky(col("k")) < 50L)
    check(table(spark, t) == (50L until 400L).map(k => (k, 2 * k, k % 3)).toSet,
      "table rows differ")
    checkCommit(t, before)
  }

  private def retryCompact(spark: SparkSession, t: String): Unit = {
    seed(spark, t)
    val before = injected.get()
    TxLog.compact(spark, t, 2)
    check(TxLog.replay(t, None).files.size == 2, "compaction did not land 2 files")
    check(table(spark, t) == (0L until 400L).map(k => (k, 2 * k, k % 3)).toSet,
      "table rows differ")
    checkCommit(t, before)
  }

  /** A write job whose task fails on every attempt leaves no data file. */
  private def failedWrite(spark: SparkSession, t: String, parts: Seq[String]): Unit = {
    failCloses = false
    val failed =
      try { TxLog.append(rows(spark, broken(_)), t, parts); false }
      catch { case _: Exception => true }
    check(failed, "the write did not fail")
    check(TxLog.latestVersion(t) == 0, "a failed write committed")
    val left = filesUnder(Paths.get(t, "data"))
    check(left.isEmpty, s"${left.size} file(s) left under data/, e.g. ${left.take(2)}")
  }
}
