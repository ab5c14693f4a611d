package graft.plans

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import scala.jdk.CollectionConverters._

/** Pins TxLog's one commit writer against `df.write.parquet` and the
  * footer harvest: identical rows after read-back, identical zone-map
  * stats (same kinds, same rendered endpoints, same bounding/drop rules)
  * for every column type, the same file set and hive layout, the same
  * parquet codec, and the NULL-partition refusal. */
class TxLogWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("txlogwriter").toString

  private def parquetFiles(root: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  private def dirs(root: String): Set[String] = {
    val base = java.nio.file.Paths.get(root)
    val s = java.nio.file.Files.walk(base)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) && p != base)
      .map(p => base.relativize(p).toString).toSet
    finally s.close()
  }

  /** Every written file's tracker stats equal its footer harvest. */
  private def assertFooterParity(
      dir: String, out: Seq[(String, Map[String, TxLog.ColStats])]): Unit =
    out.foreach { case (rel, st) =>
      assert(st == TxLog.fileStats(java.nio.file.Paths.get(dir, rel)),
        s"stats diverge for $rel")
    }

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("round-trips every supported type and matches footer-harvested stats") {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("sh", ShortType), StructField("by", ByteType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("s", StringType), StructField("b", BooleanType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("tsn", TimestampNTZType)))
    val rows = Seq(
      Row(1L, 2, 3.toShort, 4.toByte, 1.5d, 0.1f, "alpha", true,
        java.sql.Date.valueOf("2024-01-02"),
        java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"),
        java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5)),
      Row(-9L, -8, (-7).toShort, (-6).toByte, -2.25d, -0.5f, "Ω-beta", false,
        java.sql.Date.valueOf("1999-12-31"),
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59.0"),
        java.time.LocalDateTime.of(1999, 12, 31, 23, 59, 59)),
      Row(null, null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)

    val dir = tmp()
    val out = TxLogWriter.write(df, dir, Nil)
    assert(out.size == 2, "one file per task")
    // read-back: rows identical (null row included), schema equal
    val back = spark.read.parquet(dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.count() == 3)
    assert(sameRows(back, df))
    // in-task stats == footer harvest of the same files
    assertFooterParity(dir, out)
    // kinds and skip rules: integral → long, float/double → double,
    // string → string; boolean/date/timestamp carry no stats
    val nonEmpty = out.filter(_._2(TxLog.RowCountKey).min != "0")
    assert(nonEmpty.nonEmpty)
    nonEmpty.foreach { case (_, st) =>
      Seq("l", "i", "sh", "by").foreach(c =>
        assert(st.get(c).forall(_.kind == "long")))
      Seq("d", "f").foreach(c => assert(st.get(c).forall(_.kind == "double")))
      assert(st.get("s").forall(_.kind == "string"))
      Seq("b", "dt", "ts", "tsn").foreach(c => assert(!st.contains(c)))
    }
    // float endpoints render exactly as the footer's Float.toString
    val withF = nonEmpty.flatMap(_._2.get("f"))
    assert(withF.nonEmpty && withF.forall(cs =>
      Set(cs.min, cs.max).subsetOf(Set(0.1f.toString, (-0.5f).toString))))
  }

  test("NaN poisons a double column's stats; all-null columns drop out") {
    val df = Seq(
      (1L, Double.NaN, Option.empty[String]),
      (2L, 3.5d, Option.empty[String])).toDF("k", "v", "s").coalesce(1)
    val dir = tmp()
    val out = TxLogWriter.write(df, dir, Nil)
    val st = out.head._2
    assert(!st.contains("v"), "NaN column must not publish stats")
    assert(!st.contains("s"), "all-null column must not publish stats")
    assert(st("k") == TxLog.ColStats("long", "1", "2"))
    assertFooterParity(dir, out)
  }

  test("long strings bound to the shared prefix rule (same as footers)") {
    val long = "x" * (TxLog.StringStatPrefix + 10)
    val df = Seq(("a" * 3), long).toDF("s").coalesce(1)
    val dir = tmp()
    val out = TxLogWriter.write(df, dir, Nil)
    val expected = TxLog.boundString("aaa", long).get
    assert(out.head._2("s") == expected && !expected.exact)
    assertFooterParity(dir, out)
  }

  test("decimal, binary, array and struct columns match the footer harvest") {
    val df = Seq(
      (1L, BigDecimal("1.23"), Array[Byte](1, 2), Seq(1, 2), ("a", 1.5d)),
      (7L, BigDecimal("-4.50"), Array[Byte](9), Seq.empty[Int], ("b", -2.0d)))
      .toDF("k", "dec", "bin", "arr", "st").repartition(2)
    val dir = tmp()
    val out = TxLogWriter.write(df, dir, Nil)
    assert(out.nonEmpty)
    assertFooterParity(dir, out)
    // only the integral column carries a zone map; nested and logical
    // types never prune
    out.filter(_._2(TxLog.RowCountKey).min != "0").foreach { case (_, st) =>
      assert(st.keySet == Set("k", TxLog.RowCountKey))
    }
    assert(sameRows(spark.read.parquet(dir), df))
  }

  test("partitioned write matches the classic hive layout and round-trips") {
    val df = Seq(
      (1L, "O", 10.5, "a b"), (2L, "F", 20.0, "x=y"), (3L, "O", 7.25, "p%q"),
      (4L, "P", 1.0, "plain")).toDF("k", "status", "price", "tag")
      .repartition(2)
    val a = tmp(); val b = tmp()
    df.write.partitionBy("status", "tag").parquet(s"$a/d")
    val out = TxLogWriter.write(df, s"$b/d", Seq("status", "tag"))
    // identical directory structure (same escaped segments), same files
    assert(dirs(s"$a/d") == dirs(s"$b/d"))
    assert(parquetFiles(s"$a/d").size == out.size)
    // identical rows and schema after read-back
    val ra = spark.read.parquet(s"$a/d").select("k", "status", "price", "tag")
    val rb = spark.read.parquet(s"$b/d").select("k", "status", "price", "tag")
    assert(ra.schema == rb.schema && sameRows(ra, rb))
    // data files carry only the data columns' stats (+ rowcount)
    out.foreach { case (_, st) =>
      assert(!st.contains("status") && !st.contains("tag"))
      assert(st.contains(TxLog.RowCountKey))
    }
    assertFooterParity(s"$b/d", out)
  }

  test("date-partitioned write matches the classic hive layout") {
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-01-02")),
      (2L, java.sql.Date.valueOf("1999-12-31")),
      (3L, java.sql.Date.valueOf("2024-01-02"))).toDF("k", "day").repartition(2)
    val a = tmp(); val b = tmp()
    df.write.partitionBy("day").parquet(s"$a/d")
    val out = TxLogWriter.write(df, s"$b/d", Seq("day"))
    assert(dirs(s"$a/d") == dirs(s"$b/d"))
    assert(dirs(s"$b/d") == Set("day=1999-12-31", "day=2024-01-02"))
    assert(parquetFiles(s"$a/d").size == out.size)
    val ra = spark.read.parquet(s"$a/d").select("k", "day")
    val rb = spark.read.parquet(s"$b/d").select("k", "day")
    assert(rb.schema("day").dataType == DateType && sameRows(ra, rb))
    // and through a TxLog table: the path value round-trips to the date
    val t = tmp()
    TxLog.append(df, t, Seq("day"))
    assert(sameRows(TxLog.snapshot(spark, t).select("k", "day"), df))
  }

  test("partitioned commit refuses NULL partition values loudly") {
    val df = Seq((1L, Option("O")), (2L, Option.empty[String]))
      .toDF("k", "status").coalesce(1)
    val t = tmp()
    val e = intercept[IllegalArgumentException] {
      TxLog.append(df, t, Seq("status"))
    }
    assert(e.getMessage.contains("must be non-null"))
    assert(TxLog.latestVersion(t) == 0)
    assert(parquetFiles(t).isEmpty, "the refused commit's files are removed")
  }

  test("a 300-value partition column commits in one pass") {
    val df = spark.range(0, 600).selectExpr("id AS k", "CAST(id % 300 AS STRING) AS p")
      .repartition(4)
    val t = tmp()
    TxLog.append(df, t, Seq("p"))
    val snap = TxLog.replay(t, None)
    assert(snap.files.map(f => f.split("/")(2)).toSet.size == 300)
    // every file on disk is live and comes from the same write job: no
    // aborted first pass left files behind or wrote the data twice
    assert(parquetFiles(t).map(p => java.nio.file.Paths.get(t).relativize(p).toString)
      .toSet == snap.files.toSet)
    val jobIds = snap.files.map(f => f.split("/").last.split("-a").head.drop("part-00000-".length))
    assert(jobIds.toSet.size == 1, jobIds.distinct.take(3))
    assert(TxLog.snapshot(spark, t).count() == 600)
  }

  test("sparse and empty frames commit as many files as df.write.parquet") {
    // 8 tasks, one holding the only row (no shuffle, so nothing coalesces)
    val sparse = spark.range(0, 80, 1, 8).selectExpr("id AS k").filter(col("k") === 33L)
    val empty = Seq((1L, "a")).toDF("k", "s").filter(col("k") < 0L).repartition(2)
    Seq(sparse, empty).foreach { df =>
      val a = tmp(); val b = tmp()
      df.write.parquet(s"$a/d")
      val out = TxLogWriter.write(df, s"$b/d", Nil)
      assert(out.size == parquetFiles(s"$a/d").size)
      assert(spark.read.parquet(s"$b/d").schema.fieldNames.toSeq == df.columns.toSeq)
      assert(sameRows(spark.read.parquet(s"$b/d"), df))
      assertFooterParity(s"$b/d", out)
    }
    val (a, t) = (tmp(), tmp())
    sparse.write.parquet(s"$a/d")
    TxLog.append(sparse, t)
    assert(TxLog.replay(t, None).files.size == parquetFiles(s"$a/d").size)
    assert(TxLog.replay(t, None).files.size < 8)
  }

  test("each committed footer's codec equals df.write.parquet's") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def codecs(root: String): Set[String] = parquetFiles(root).map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
      finally r.close()
    }.toSet.flatten
    val key = "spark.sql.parquet.compression.codec"
    val prev = spark.conf.getOption(key)
    val df = spark.range(0, 100).selectExpr("id AS k", "CAST(id AS STRING) AS s").repartition(2)
    try Seq("zstd", "gzip", "lz4", "none").foreach { codec =>
      spark.conf.set(key, codec)
      val a = tmp(); val t = tmp()
      df.write.parquet(s"$a/d")
      TxLog.append(df, t)
      val want = codecs(s"$a/d")
      assert(want.size == 1)
      assert(codecs(t) == want, s"codec $codec")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
