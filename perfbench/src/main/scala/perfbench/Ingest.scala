package perfbench

import graft.Graft
import graft.functions.CrsTransform
import graft.plans.{GeoTransform, IngestPipeline, ParquetSink}
import graft.sources.{FileType, FileTypeDetector, SchemaHeuristics}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File
import java.math.BigDecimal
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.util.Random

/** One landing-set format: how the generator writes it and what the
  * pipeline must report for it. `wkt` names the landed geometry column
  * and `refLon`/`refLat` the columns that carry each point's source
  * lon/lat through the pipeline unchanged. */
final case class Format(
    name: String, ext: String, fileType: FileType, crs: Option[String], largeRows: Int,
    wkt: Option[String], refLon: String = "ref_lon", refLat: String = "ref_lat")

final case class InputFile(path: String, format: Format, rows: Int, bytes: Long)

/** Seeded landing set. Every format gets `SmallPerFormat` small files
  * (stratified sizes in `SmallRows`) and one large file, so most files
  * are small while a few carry most of the rows; the seed shuffles the
  * order and draws every value. */
object IngestInputs {
  val Formats: Seq[Format] = Seq(
    Format("parquet_wkb_27700", "parquet", FileType.Parquet, Some("27700"), 50000, Some("geom_wkt")),
    Format("parquet_wkt_3857", "parquet", FileType.Parquet, Some("3857"), 50000, Some("geom_wkt")),
    Format("csv_lonlat", "csv", FileType.Csv, Some("4326"), 40000,
      Some("geom_from_longitude_latitude_wkt"), "longitude", "latitude"),
    Format("geojson_points", "geojson", FileType.Geojson, Some("4326"), 15000, Some("geometry_wkt")),
    Format("csv_plain", "csv", FileType.Csv, None, 40000, None))
  val SmallPerFormat = 2
  val SmallRows: (Int, Int) = (500, 8000)

  def generate(dir: File, seed: Long): Seq[InputFile] = {
    val rng = new Random(seed)
    dir.mkdirs()
    val plan = Formats.flatMap { f =>
      val large = (f.largeRows * (0.95 + 0.1 * rng.nextDouble())).toInt
      (Stats.stratified(rng, SmallPerFormat, SmallRows._1, SmallRows._2) :+ large).map(f -> _)
    }
    rng.shuffle(plan).zipWithIndex.map { case ((f, rows), i) =>
      val file = new File(dir, f"f$i%03d_${f.name}.${f.ext}")
      write(f, file, rows, new Random(rng.nextLong()))
      InputFile(file.getPath, f, rows, file.length)
    }
  }

  /** Plain decimal text of a double: exact round trip, no exponent. */
  private def num(d: Double): String = BigDecimal.valueOf(d).toPlainString

  private def name(rng: Random): String =
    new String(Array.fill(8)(('a' + rng.nextInt(26)).toChar))

  private def uniform(rng: Random, lo: Double, hi: Double) = lo + (hi - lo) * rng.nextDouble()

  private def write(f: Format, file: File, rows: Int, rng: Random): Unit = {
    val firstId = rng.nextInt(1000000).toLong
    f.name match {
      case "parquet_wkb_27700" =>
        // inside Great Britain, where the British National Grid is defined
        writeParquet(file, rows, rng, firstId, (-5.5, 1.5), (50.3, 58.0), geomText = false) {
          (lon, lat) =>
            val (e, n) = CrsTransform.lonLatToOsgb(lon, lat)
            val b = java.nio.ByteBuffer.allocate(21).order(java.nio.ByteOrder.LITTLE_ENDIAN)
            Binary.fromConstantByteArray(b.put(1.toByte).putInt(1).putDouble(e).putDouble(n).array())
        }
      case "parquet_wkt_3857" =>
        writeParquet(file, rows, rng, firstId, (-170.0, 170.0), (-70.0, 70.0), geomText = true) {
          (lon, lat) =>
            // closed-form spherical Mercator on the WGS84 semi-major axis
            val r = 6378137.0
            val x = r * math.toRadians(lon)
            val y = r * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2))
            Binary.fromString(s"POINT (${num(x)} ${num(y)})")
        }
      case "csv_lonlat" =>
        writeText(file, "id,name,longitude,latitude,amount", rows) { i =>
          s"${firstId + i},${name(rng)},${num(uniform(rng, -179, 179))}," +
            s"${num(uniform(rng, -85, 85))},${rng.nextInt(100000) / 100.0}"
        }
      case "csv_plain" =>
        writeText(file, "id,name,category,amount,units", rows) { i =>
          s"${firstId + i},${name(rng)},c${rng.nextInt(20)},${rng.nextInt(100000) / 100.0}," +
            s"${rng.nextInt(1000)}"
        }
      case "geojson_points" =>
        writeText(file, """{"type":"FeatureCollection","features":[""", rows, "]}") { i =>
          val lon = num(uniform(rng, -179, 179)); val lat = num(uniform(rng, -85, 85))
          (if (i == 0) "" else ",") +
            s"""{"type":"Feature","properties":{"id":${firstId + i},"name":"${name(rng)}",""" +
            s""""ref_lon":$lon,"ref_lat":$lat},"geometry":{"type":"Point","coordinates":[$lon,$lat]}}"""
        }
    }
  }

  private def writeText(file: File, header: String, rows: Int, footer: String = "")(
      line: Int => String): Unit = {
    val w = Files.newBufferedWriter(file.toPath, StandardCharsets.UTF_8)
    try {
      w.write(header); w.write('\n')
      (0 until rows).foreach { i => w.write(line(i)); w.write('\n') }
      if (footer.nonEmpty) { w.write(footer); w.write('\n') }
    } finally w.close()
  }

  /** A point file. A text geometry column is not
    * geometry to the schema heuristics (they follow the reference and
    * skip VARCHAR), so the WKT file declares it the way a Spark-written
    * graft table does: the `graft.geometry` field tag inside Spark's
    * schema footer. */
  private def writeParquet(
      file: File, rows: Int, rng: Random, firstId: Long,
      lonRange: (Double, Double), latRange: (Double, Double), geomText: Boolean)(
      geom: (Double, Double) => Binary): Unit = {
    val geomType = if (geomText) "binary geom (UTF8)" else "binary geom"
    val schema = MessageTypeParser.parseMessageType(
      s"""message point {
         |  required int64 id; required binary name (UTF8);
         |  required double ref_lon; required double ref_lat; required $geomType;
         |}""".stripMargin)
    val extra = new java.util.HashMap[String, String]()
    if (geomText) {
      import org.apache.spark.sql.types._
      val tag = new MetadataBuilder().putBoolean(SchemaHeuristics.GeometryTag, true).build()
      extra.put("org.apache.spark.sql.parquet.row.metadata", StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("ref_lon", DoubleType), StructField("ref_lat", DoubleType),
        StructField("geom", StringType, nullable = true, tag))).json)
    }
    writeGroups(file, schema, extra)((0 until rows).iterator.map { i =>
      val lon = uniform(rng, lonRange._1, lonRange._2)
      val lat = uniform(rng, latRange._1, latRange._2)
      val g = new SimpleGroup(schema)
      g.add("id", firstId + i)
      g.add("name", name(rng))
      g.add("ref_lon", lon)
      g.add("ref_lat", lat)
      g.add("geom", geom(lon, lat))
      g
    })
  }

  /** One parquet file written with parquet-hadoop directly: no Spark
    * job, byte-identical for the same rows. */
  def writeGroups(file: File, schema: MessageType, extra: java.util.Map[String, String] =
      java.util.Collections.emptyMap())(rows: Iterator[Group]): Unit = {
    val writer = ExampleParquetWriter.builder(new Path(file.getPath))
      .withConf(new org.apache.hadoop.conf.Configuration())
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withExtraMetaData(extra)
      .build()
    try rows.foreach(writer.write)
    finally writer.close()
    new File(file.getParentFile, s".${file.getName}.crc").delete()
  }
}

/** `ingest`: `Graft.processFileToParquet` once per landing-set file, one
  * pass over the set after another. */
final class Ingest(spark: SparkSession, work: File, seed: Long, checks: Checks) extends Workload {
  import IngestInputs.Formats

  private var inputs: Seq[InputFile] = Nil
  private var passOutputs = 0
  /** The output directory of each timed pass, and whether it was traced.
    * `finish` checks them all at once, so the checks stay out of the
    * loop and its time budget. */
  private val outputs = collection.mutable.ArrayBuffer.empty[(File, Boolean)]
  /** For each timed pass, as `finish` counted its output: whether it was
    * traced, the rows it landed, and the landed rows with a geometry over
    * the formats not already in the target CRS. */
  private var landed: Seq[(Boolean, Long, Long)] = Nil

  def setup(): collection.Map[String, Any] = {
    // generate three times: the median is the generation time, and the
    // copies must be byte-identical
    val gens = (0 until 3).map { i =>
      val dir = new File(work, s"inputs$i")
      val t0 = System.nanoTime()
      val files = IngestInputs.generate(dir, seed)
      ((System.nanoTime() - t0) / 1e9, files)
    }
    inputs = gens.head._2
    gens.tail.foreach { case (_, copy) =>
      inputs.zip(copy).foreach { case (a, b) =>
        checks.check(java.util.Arrays.equals(Files.readAllBytes(new File(a.path).toPath),
          Files.readAllBytes(new File(b.path).toPath)), s"input ${a.path} differs between generations")
      }
    }
    val genS = Stats.median(gens.map(_._1))
    val t0 = System.nanoTime()
    deleteTree(runFiles(inputs, new Tracer(spark.sparkContext, enabled = false))._1) // warm pass
    val warmS = (System.nanoTime() - t0) / 1e9
    Out.obj(
      "generate_s" -> genS,
      "warm_s" -> warmS,
      "setup_s" -> (genS + warmS),
      "inputs" -> Formats.map { f =>
        val fs = inputs.filter(_.format == f)
        f.name -> Out.obj("files" -> fs.size, "rows" -> fs.map(_.rows.toLong).sum,
          "bytes" -> fs.map(_.bytes).sum)
      }.to(collection.mutable.LinkedHashMap))
  }

  def pass(t: Tracer): Seq[OpTime] = {
    val (out, times) = runFiles(inputs, t)
    outputs += out -> t.enabled
    times
  }

  /** Lands every file under a new output directory; returns it with the
    * time of each file. */
  private def runFiles(files: Seq[InputFile], t: Tracer): (File, Seq[OpTime]) = {
    val out = new File(work, s"out$passOutputs"); passOutputs += 1
    val times = files.flatMap { in =>
      val table = new File(in.path).getName.takeWhile(_ != '.')
      val t0 = System.nanoTime()
      checks.attempt(s"ingest ${in.path}") {
        if (t.enabled) t.op("ingest.file")(runTraced(t, in.path, table, out.getPath))
        else Graft.processFileToParquet(spark, in.path, table, out.getPath)
      }.map { r =>
        val ms = (System.nanoTime() - t0) / 1e6
        checks.check(r.fileType == in.format.fileType && r.crs == in.format.crs,
          s"${in.path}: detected ${r.fileType.displayName} crs ${r.crs}, " +
            s"expected ${in.format.fileType.displayName} crs ${in.format.crs}")
        OpTime(in.format.name, ms, 0L)
      }
    }
    (out, times)
  }

  /** The phases of `IngestPipeline.run`, each called as its own public
    * function inside its own span. */
  private def runTraced(t: Tracer, path: String, table: String, root: String): IngestPipeline.Result = {
    val fileType = t.span("sources.detect")(FileTypeDetector.detect(path))
      .fold(e => throw new IllegalArgumentException(e), identity)
    val tableName = FileTypeDetector.cleanTableName(table)
    val df = t.span("sources.read")(IngestPipeline.read(spark, path, fileType))
    val geometry = t.span("sources.geometry_discovery")(
      SchemaHeuristics.findGeometryColumns(df.schema, fileType))
    val (crs, out) =
      if (geometry.names.isEmpty) (None, df)
      else {
        val crs = t.span("plans.crs_probe")(IngestPipeline.currentCrs(df, fileType, geometry, path))
        require(crs.toIntOption.exists(CrsTransform.SupportedEpsg.contains), s"unsupported CRS $crs")
        (Some(crs), t.span("plans.transform_plan")(
          GeoTransform(df, fileType, geometry, crs, IngestPipeline.TargetCrs)))
      }
    t.span("plans.sink_write") {
      val sink = new ParquetSink(root)
      sink.createSchema("public")
      sink.dropTable("public", tableName)
      if (geometry.names.isEmpty) sink.write(out, "public", tableName)
      else sink.writeGeo(out, "public", tableName, geometry.names)
    }
    IngestPipeline.Result(fileType, tableName, geometry, crs, out)
  }

  /** In the output of every timed pass, landed row counts match the
    * generator, and every landed point is within 1e-6 degrees of its
    * source lon/lat. One Spark job per format reads every landed table of
    * that format. Returns, per pass, the rows landed and the rows landed
    * with a geometry over the formats that had to be reprojected. */
  private def verify(files: Seq[InputFile], outs: Seq[File]): Seq[(Long, Long)] = {
    val point = "^POINT ?\\(([^ ]+) ([^ )]+)\\)$"
    val perFormat = files.groupBy(_.format).toSeq.map { case (f, fs) =>
      val dirs = for (out <- outs; in <- fs) yield (out, in, new File(out,
        s"public/${FileTypeDetector.cleanTableName(new File(in.path).getName.takeWhile(_ != '.'))}"))
      val landed = dirs.map(_._3).filter(_.isDirectory)
      val found: Map[(String, String), (Long, Long, Long)] =
        if (landed.isEmpty) Map.empty
        else {
          val path = col("_metadata.file_path")
          val df = spark.read.parquet(landed.map(_.getPath): _*)
            .withColumn("_out", regexp_extract(path, "/([^/]+)/public/[^/]+/[^/]+$", 1))
            .withColumn("_table", regexp_extract(path, "/([^/]+)/[^/]+$", 1))
          val bad = f.wkt.fold(lit(0L)) { w =>
            val x = regexp_extract(col(w), point, 1).cast("double")
            val y = regexp_extract(col(w), point, 2).cast("double")
            when(x.isNull || y.isNull || abs(x - col(f.refLon)) > 1e-6 ||
              abs(y - col(f.refLat)) > 1e-6, 1L).otherwise(0L)
          }
          val geoRows = f.wkt.fold(lit(0L))(w => count(col(w)))
          df.groupBy("_out", "_table").agg(count(lit(1)), sum(bad), geoRows).collect()
            .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
        }
      val reprojects = f.crs.exists(_ != IngestPipeline.TargetCrs)
      outs.map { out =>
        dirs.filter(_._1 == out).map { case (_, in, dir) =>
          val (rows, bad, geo) = found.getOrElse(out.getName -> dir.getName, (0L, 0L, 0L))
          checks.check(rows == in.rows && bad == 0,
            s"${dir.getPath}: landed $rows rows ($bad points off by more than 1e-6 deg), expected ${in.rows}")
          (rows, if (reprojects) geo else 0L)
        }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      }
    }
    outs.indices.map(i => (perFormat.map(_(i)._1).sum, perFormat.map(_(i)._2).sum))
  }

  def finish(): Unit = {
    checks.attempt("output check")(verify(inputs, outputs.map(_._1).toSeq)).foreach { counts =>
      landed = outputs.map(_._2).zip(counts).map { case (traced, (rows, geo)) => (traced, rows, geo) }.toSeq
    }
    outputs.foreach(o => deleteTree(o._1))
  }

  /** The rows the untraced passes landed, as counted in their output. */
  override def rows(untraced: Seq[Seq[OpTime]]): Long = landed.filterNot(_._1).map(_._2).sum

  def details(untraced: Seq[Seq[OpTime]]): collection.Map[String, Any] = {
    val ops = untraced.flatten
    Out.obj(
      "ingest_rows_per_s" -> Out.obj("value" -> rows(untraced) / (ops.map(_.ms).sum / 1000),
        "unit" -> "1/s", "samples" -> untraced.size),
      "ingest_file_p50_s" -> Workload.pctJson(ops.map(_.ms / 1000), 50, "s"))
  }

  def perLayer(r: TraceReport, traced: Seq[Seq[OpTime]]): Map[String, Double] = {
    val files = r.roots
    val n = files.size.toDouble
    def perFile(span: String) = r.spansNamed(span).map(_.duration).sum / n
    val jobs = files.map(r.jobsUnder)
    val byFormat = Formats.map { f =>
      s"ingest_file_ms.${f.name}" -> Stats.median(traced.flatten.filter(_.kind == f.name).map(_.ms))
    }
    Map(
      "sources.detect_ms" -> perFile("sources.detect"),
      "sources.read_ms" -> perFile("sources.read"),
      "sources.geometry_discovery_ms" -> perFile("sources.geometry_discovery"),
      "plans.crs_probe_ms" -> perFile("plans.crs_probe"),
      "plans.transform_plan_ms" -> perFile("plans.transform_plan"),
      "plans.sink_write_ms" -> perFile("plans.sink_write"),
      "functions.reprojected_rows" -> Stats.mean(landed.filter(_._1).map(_._3.toDouble)),
      "spark.jobs_per_file" -> jobs.map(_.size).sum / n,
      "spark.tasks_per_file" -> jobs.flatten.map(_.tasks).sum / n,
      "ingest.driver_gap_ms" -> files.map(r.driverGap).sum / n) ++ byFormat
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
