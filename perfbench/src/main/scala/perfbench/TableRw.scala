package perfbench

import graft.plans.TxLog
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One orders row, with the five columns the repo's table queries commit
  * (`TableQueries.ordersAll`). */
final case class Order(key: Long, cust: Long, status: String, price: Double, dateMicros: Long)

/** A landing file of orders with consecutive keys, committed as `files`
  * data files. */
final case class Batch(path: String, rows: IndexedSeq[Order], files: Int) {
  def bytes: Long = new File(path).length
}

/** Seeded orders-shaped landing files for `table_rw`. The value ranges
  * are those of the sf0.01 `orders` table; the sizes and files per commit
  * are those of `TableQueries` at sf0.01 (see `TableRw`). */
object TableInputs {
  val Schema: MessageType = MessageTypeParser.parseMessageType(
    """message orders {
      |  required int64 o_orderkey; required int64 o_custkey;
      |  required binary o_orderstatus (UTF8); required double o_totalprice;
      |  required int64 o_orderdate (TIMESTAMP(MICROS,true));
      |}""".stripMargin)
  private val Customers = 1500
  private val Statuses = IndexedSeq("F", "O", "P")
  private val PriceCents: (Int, Int) = (100000, 50000000)
  /** 1995-01-01 to 2001-08-01, in days since the epoch. */
  private val Days: (Int, Int) = (9131, 11535)
  private val DayMicros = 86400L * 1000000L

  /** The initial table, then one block's appends in key order. */
  def generate(dir: File, seed: Long): (Batch, Seq[Batch]) = {
    val rng = new Random(seed)
    dir.mkdirs()
    val sizes = TableRw.InitialRows +:
      Stats.stratified(rng, TableRw.AppendFiles.size, TableRw.AppendRows._1, TableRw.AppendRows._2)
    var next = 0L
    val batches = sizes.zip(TableRw.InitialFiles +: TableRw.AppendFiles).zipWithIndex.map {
      case ((n, files), i) =>
        val rows = (0 until n).map { j =>
          Order(next + j, rng.nextInt(Customers), Statuses(rng.nextInt(Statuses.size)),
            (PriceCents._1 + rng.nextInt(PriceCents._2 - PriceCents._1)) / 100.0,
            (Days._1 + rng.nextInt(Days._2 - Days._1)) * DayMicros)
        }
        next += n
        Batch(write(new File(dir, f"orders$i%02d.parquet"), rows), rows, files)
    }
    (batches.head, batches.tail)
  }

  def write(file: File, rows: Seq[Order]): String = {
    IngestInputs.writeGroups(file, Schema)(rows.iterator.map { o =>
      val g = new SimpleGroup(Schema)
      g.add("o_orderkey", o.key)
      g.add("o_custkey", o.cust)
      g.add("o_orderstatus", o.status)
      g.add("o_totalprice", o.price)
      g.add("o_orderdate", o.dateMicros)
      g
    })
    file.getPath
  }
}

/** `table_rw`: a seeded stream of writes and range reads against one
  * growing `TxLog` table, checked against an in-memory model.
  *
  * The traffic is the one `TableQueries` commits, at the sf0.01 scale
  * the registry is verified at. Every commit reads its rows from parquet:
  *  - the initial table is one orders table (15,000 rows) committed as 8
  *    range-disjoint, key-sorted files (`rangeLayoutOrders`);
  *  - an append is a third of it (about 5,000 rows, `ordersSlice`) as 2
  *    files (`repartition(2)`), or as 8 or 64 files once a block
  *    (`table_optimize_sql`, `table_cluster_prune_3d`), those two right
  *    before a compaction; keys rise;
  *  - a merge is `table_merge_cow`'s upsert: over a band of 10% of the
  *    key span, the keys `% 7 == 3` get status `U` and 100 more on the
  *    price; the band sits near the newest keys, and the updates are
  *    written to a parquet file before the merge starts;
  *  - a delete drops the oldest keys, about as many rows per block as the
  *    appends add, so the table stays between one and two orders tables
  *    while its log grows through checkpoints;
  *  - a compaction rewrites the table as 8 files clustered on
  *    (`o_custkey`, `o_orderkey`) (`table_cluster_prune`);
  *  - a read is `table_stats_prune`'s `snapshotRange` over a key band of
  *    5-15% of the span, with a count.
  *
  * A pass is one `Block`. The order of kinds is fixed, so that each seed
  * reads the table at the same points of its compaction cycle; the seed
  * draws the rows, the sizes and every band. The appends cycle through
  * one block's landing files, each cycle shifting the keys up by the
  * keys they span. */
final class TableRw(spark: SparkSession, work: File, seed: Long, checks: Checks) extends Workload {
  import TableRw._

  private val table = new File(work, "table").getPath
  private val rng = new Random(~seed)
  private var initial: Batch = _
  private var landing: Seq[Batch] = Nil
  private var appends = 0
  private var merges = 0
  /** key -> row: what the table must hold. */
  private val model = new java.util.TreeMap[java.lang.Long, Order]()
  private var userBytes = 0L
  private val rowsByKind = collection.mutable.LinkedHashMap.empty[String, Long]
  private val reads = collection.mutable.ArrayBuffer.empty[(Int, Int)]

  def setup(): collection.Map[String, Any] = {
    // generate three times: the median is the generation time, and the
    // copies must be byte-identical
    val gens = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val (init, batches) = TableInputs.generate(new File(work, s"inputs$i"), seed)
      ((System.nanoTime() - t0) / 1e9, init +: batches)
    }
    initial = gens.head._2.head
    landing = gens.head._2.tail
    gens.tail.foreach { case (_, copy) =>
      gens.head._2.zip(copy).foreach { case (a, b) =>
        checks.check(java.util.Arrays.equals(Files.readAllBytes(new File(a.path).toPath),
          Files.readAllBytes(new File(b.path).toPath)), s"input ${a.path} differs between generations")
      }
    }
    val genS = Stats.median(gens.map(_._1))
    val t1 = System.nanoTime()
    val off = new Tracer(spark.sparkContext, enabled = false)
    val load = Load(initial)
    execute(load, off).foreach(applyToModel(load, _))
    runOps(Block.take(Block.size / 2), off) // warm pass: half a block, every kind
    val warmS = (System.nanoTime() - t1) / 1e9
    Out.obj("generate_s" -> genS, "warm_s" -> warmS, "setup_s" -> (genS + warmS),
      "inputs" -> Out.obj(
        "initial" -> Out.obj("rows" -> initial.rows.size, "files" -> initial.files,
          "bytes" -> initial.bytes),
        "appends" -> landing.map(b => Out.obj("rows" -> b.rows.size, "files" -> b.files,
          "bytes" -> b.bytes))),
      "block_ops" -> Block.size)
  }

  def pass(t: Tracer): Seq[OpTime] = runOps(Block, t)

  private def runOps(kinds: Seq[String], t: Tracer): Seq[OpTime] = {
    def draw(kind: String, range: (Int, Int)) =
      Stats.stratified(rng, kinds.count(_ == kind), range._1, range._2).iterator
    val deletes = draw("delete", DeleteRows)
    val widths = draw("read", ReadPermille)
    kinds.flatMap { kind =>
      val op: Op = kind match {
        case "append" => appendOp()
        case "merge" => mergeOp()
        case "delete" => deleteOp(deletes.next())
        case "read" => readOp(widths.next())
        case "compact" => Compact
      }
      val t0 = System.nanoTime()
      val done = t.op(s"table.$kind")(execute(op, t))
      val ms = (System.nanoTime() - t0) / 1e6
      done.map(r => OpTime(kind, ms, applyToModel(op, r)))
    }
  }

  /** The next landing file, with its keys shifted past every earlier
    * cycle through the landing set. */
  private def appendOp(): Append = {
    val b = landing(appends % landing.size)
    val shift = (appends / landing.size) * landing.map(_.rows.size.toLong).sum
    appends += 1
    Append(b, shift)
  }

  /** A 10% band of the key span, its top an exponential draw below the
    * newest key; the updated rows go to a landing file. */
  private def mergeOp(): Merge = {
    val (first, last) = (model.firstKey.longValue, model.lastKey.longValue)
    val width = (last - first) / 10
    val below = math.min(last - first - width, (-math.log(1 - rng.nextDouble()) * (last - first) / 8).toLong)
    val (lo, hi) = (last - below - width, last - below)
    val rows = model.subMap(lo, true, hi, true).values().asScala.filter(_.key % 7 == 3)
      .map(o => o.copy(status = "U", price = o.price + 100.0)).toSeq
    merges += 1
    Merge(TableInputs.write(new File(work, s"updates/merge$merges.parquet"), rows), rows)
  }

  private def deleteOp(n: Int): Delete = {
    val keys = model.navigableKeySet().iterator().asScala
    Delete(keys.drop(math.min(n, model.size - 1)).next().longValue)
  }

  private def readOp(permille: Int): Read = {
    val (first, last) = (model.firstKey.longValue, model.lastKey.longValue)
    val width = (last - first) * permille / 1000
    val start = first + (rng.nextDouble() * (last - first - width)).toLong
    Read(start, start + width)
  }

  /** Runs one operation through `TxLog`; None if it threw. A range scan
    * returns its count with the planned and total file counts. */
  private def execute(op: Op, t: Tracer): Option[Any] = {
    import t.span
    val key = col("o_orderkey")
    op match {
      case Load(b) =>
        checks.attempt("initial load")(TxLog.append(spark.read.parquet(b.path)
          .repartitionByRange(b.files, key).sortWithinPartitions(key), table))
      case Append(b, shift) =>
        checks.attempt("append")(span("plans.txlog.append")(TxLog.append(
          spark.read.parquet(b.path).withColumn("o_orderkey", key + shift).repartition(b.files),
          table)))
      case Merge(path, _) =>
        checks.attempt("merge")(span("plans.txlog.merge")(
          TxLog.merge(spark, table, spark.read.parquet(path), "o_orderkey")))
      case Delete(below) =>
        checks.attempt("delete")(span("plans.txlog.delete")(TxLog.delete(spark, table, key < below)))
      case Compact =>
        checks.attempt("compact")(span("plans.txlog.compact")(
          TxLog.compact(spark, table, CompactFiles, clusterBy = Seq("o_custkey", "o_orderkey"))))
      case Read(lo, hi) =>
        checks.attempt("range scan") {
          span("plans.txlog.range_scan") {
            val (df, planned, total) = TxLog.snapshotRange(spark, table, "o_orderkey", lo.toString, hi.toString)
            (df.count(), planned, total)
          }
        }
    }
  }

  /** Applies a completed operation to the model and checks the table
    * against it; returns the rows the operation wrote or read. */
  private def applyToModel(op: Op, result: Any): Long = {
    val rows = (op, result) match {
      case (Load(b), _) => record("load", b.rows)
      case (Append(b, shift), _) => record("append", b.rows.map(o => o.copy(key = o.key + shift)))
      case (Merge(_, rows), _) => record("merge", rows)
      case (Delete(below), _) =>
        val gone = model.headMap(below).size
        model.headMap(below).clear()
        rowsByKind("delete") = rowsByKind.getOrElse("delete", 0L) + gone
        gone.toLong
      case (Compact, _) => 0L
      case (Read(lo, hi), (n: Long, planned: Int, total: Int)) =>
        reads += planned -> total
        val expected = model.subMap(lo, true, hi, true).size
        checks.check(n == expected, s"range [$lo, $hi] counted $n rows, model holds $expected")
        n
      case other => throw new IllegalStateException(s"unexpected result $other")
    }
    if (!op.isInstanceOf[Read])
      checks.check(TxLog.metadataCount(table).contains(model.size.toLong),
        s"after ${op.getClass.getSimpleName} the log counts ${TxLog.metadataCount(table)} rows, " +
          s"model holds ${model.size}")
    rows
  }

  private def record(kind: String, rows: Seq[Order]): Long = {
    rows.foreach(o => model.put(o.key, o))
    rowsByKind(kind) = rowsByKind.getOrElse(kind, 0L) + rows.size
    if (kind != "load") userBytes += rows.map(o => 32L + o.status.length).sum
    rows.size.toLong
  }

  /** The final snapshot holds exactly the model's rows. */
  def finish(): Unit = {
    val h = pmod(col("o_orderkey") * lit(1000003L) + col("o_custkey") * lit(7919L) +
      crc32(col("o_orderstatus").cast("binary")) + round(col("o_totalprice") * 100).cast("long") +
      unix_micros(col("o_orderdate")), lit(Modulus))
    checks.attempt("final snapshot") {
      TxLog.snapshot(spark, table).agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    }.foreach { r =>
      val expected = model.values().asScala.iterator.map { o =>
        val crc = new java.util.zip.CRC32(); crc.update(o.status.getBytes("UTF-8"))
        Math.floorMod(o.key * 1000003L + o.cust * 7919L + crc.getValue + Math.round(o.price * 100) +
          o.dateMicros, Modulus)
      }.sum
      checks.check(r.getLong(0) == model.size && r.getLong(1) == expected,
        s"final snapshot: ${r.getLong(0)} rows checksum ${r.getLong(1)}, " +
          s"model ${model.size} rows checksum $expected")
    }
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles()).fold(0L)(_.map(dirBytes).sum)

  private def storage: (Long, Long) = {
    val all = dirBytes(new File(table))
    val log = dirBytes(new File(table, "_graft_log"))
    (all - log, log)
  }

  def details(untraced: Seq[Seq[OpTime]]): collection.Map[String, Any] = {
    val ops = untraced.flatten
    val commits = ops.filterNot(_.kind == "read").map(_.ms)
    val scans = ops.filter(_.kind == "read").map(_.ms)
    val (data, log) = storage
    Out.obj(
      "table_commit_p50_ms" -> Workload.pctJson(commits, 50, "ms"),
      "table_commit_p90_ms" -> Workload.pctJson(commits, 90, "ms"),
      "table_read_p50_ms" -> Workload.pctJson(scans, 50, "ms"),
      "table_read_p90_ms" -> Workload.pctJson(scans, 90, "ms"),
      "table_bytes_per_user_byte" -> Stats.bytesPerUserByte(data + log, userBytes),
      "rows_by_op" -> rowsByKind,
      "final_rows" -> model.size.toLong,
      "log_versions" -> TxLog.latestVersion(table))
  }

  def perLayer(r: TraceReport, traced: Seq[Seq[OpTime]]): Map[String, Double] = {
    def med(span: String) = {
      val xs = r.spansNamed(span).map(_.duration)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val commits = r.roots.filterNot(_.name == "table.read")
    val (data, log) = storage
    val history = TxLog.history(table).filter(c => Set("append", "merge", "delete", "compact")(c.op))
    val scans = r.spansNamed("plans.txlog.range_scan").map(_.duration)
    Map(
      "plans.txlog.append_ms" -> med("plans.txlog.append"),
      "plans.txlog.merge_ms" -> med("plans.txlog.merge"),
      "plans.txlog.delete_ms" -> med("plans.txlog.delete"),
      "plans.txlog.compact_ms" -> med("plans.txlog.compact"),
      "plans.txlog.range_scan_ms" -> med("plans.txlog.range_scan"),
      "plans.txlog.range_scan_p90_ms" -> (if (scans.isEmpty) 0.0 else Stats.percentile(scans, 90).value),
      "plans.txlog.jobs_per_commit" -> Stats.mean(commits.map(c => r.jobsUnder(c).size.toDouble)),
      "plans.txlog.driver_gap_ms" -> Stats.mean(commits.map(r.driverGap)),
      "plans.txlog.files_per_commit" -> Stats.mean(history.map(_.add.size.toDouble)),
      "plans.txlog.pruned_file_frac" -> Stats.mean(reads.toSeq.map { case (p, t) => 1 - p.toDouble / t }),
      "plans.txlog.live_files" -> Stats.mean(reads.toSeq.map(_._2.toDouble)),
      "plans.txlog.data_bytes_written" -> data.toDouble,
      "plans.txlog.log_bytes" -> log.toDouble,
      "plans.txlog.bytes_per_user_byte" -> Stats.bytesPerUserByte(data + log, userBytes))
  }
}

object TableRw {
  sealed trait Op
  final case class Load(batch: Batch) extends Op
  final case class Append(batch: Batch, keyShift: Long) extends Op
  final case class Merge(path: String, rows: Seq[Order]) extends Op
  final case class Delete(below: Long) extends Op
  final case class Read(lo: Long, hi: Long) extends Op
  case object Compact extends Op

  /** The sf0.01 orders table, committed as 8 range files. */
  val InitialRows = 15000
  val InitialFiles = 8
  /** Half a block: 3 appends, 2 merges, 2 deletes, 4 range scans, and a
    * compaction to close it. */
  private val HalfBlock = Seq("append", "read", "merge", "read", "append", "delete", "read",
    "merge", "delete", "read", "append", "compact")
  val Block: Seq[String] = HalfBlock ++ HalfBlock
  /** Files per append, in landing order: 2, except that the last append
    * before a compaction writes 8 files in one half block and 64 in the
    * other. */
  val AppendFiles: Seq[Int] = Seq(2, 2, 8, 2, 2, 64)
  /** A third of the orders table, give or take a fifth. */
  val AppendRows: (Int, Int) = (4000, 6000)
  /** Two deletes a half block remove what its three appends add. */
  val DeleteRows: (Int, Int) = (6000, 9000)
  val ReadPermille: (Int, Int) = (50, 150)
  val CompactFiles = 8
  val Modulus = 2147483647L
}
