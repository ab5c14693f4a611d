package perfbench

import graft.Registry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import java.io.File
import scala.util.Random

/** `curate`: the registry's bench function for a fixed set of LLM-data
  * operators over a fixed read-only corpus. Each query has three phases:
  * closure (until `run` returns the DataFrame, including any eager jobs
  * it runs), plan (`queryExecution.executedPlan`) and exec (the full
  * output through Spark's `noop` sink). The seed only permutes the
  * order. */
final class Curate(spark: SparkSession, sfDir: String, seed: Long, checks: Checks) extends Workload {
  import Curate._

  private val order = new Random(seed).shuffle(Queries)
  private val specs = order.map(q => q -> Registry.byName(q)).toMap
  private val expected: Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromResource("perfbench/curate_expected.tsv")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t"))
      .map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap
    finally src.close()
  }
  private val digests = collection.mutable.LinkedHashMap.empty[String, collection.Map[String, Any]]
  /** The DataFrames the latest pass materialised, checked by `finish`. */
  private val lastFrames = collection.mutable.LinkedHashMap.empty[String, DataFrame]

  def setup(): collection.Map[String, Any] = {
    require(new File(sfDir).isDirectory, s"corpus directory $sfDir not found")
    specs.values.foreach(q => require(!q.cacheAssisted, s"${q.name} times a cache hit"))
    val t0 = System.nanoTime()
    pass(new Tracer(spark.sparkContext, enabled = false)) // warm pass
    val warmS = (System.nanoTime() - t0) / 1e9
    Out.obj("generate_s" -> 0.0, "warm_s" -> warmS, "setup_s" -> warmS, "sf_dir" -> sfDir,
      "order" -> order)
  }

  private def build(q: String): DataFrame = {
    val spec = specs(q)
    spec.bench.getOrElse(spec.run)(spark, sfDir)
  }

  private def run(q: String, t: Tracer): DataFrame = {
    val df = t.span(s"operators.$q.closure")(build(q))
    t.span(s"operators.$q.plan")(df.queryExecution.executedPlan)
    t.span(s"operators.$q.exec")(df.write.format("noop").mode("overwrite").save())
    df
  }

  def pass(t: Tracer): Seq[OpTime] = order.flatMap { q =>
    val t0 = System.nanoTime()
    checks.attempt(q)(t.op(s"curate.$q")(run(q, t))).map { df =>
      val op = OpTime(q, (System.nanoTime() - t0) / 1e6, 0L)
      lastFrames(q) = df
      op
    }
  }

  /** Each query's output in the last pass matches the row count and hash
    * recorded for this corpus. The frames are dropped afterwards, so the
    * retained heap is the program's, not the benchmark's. */
  def finish(): Unit = {
    order.foreach { q =>
      checks.attempt(s"$q check")(digest(lastFrames(q))).foreach { case d @ (rows, hash) =>
        digests(q) = Out.obj("rows" -> rows, "hash" -> hash)
        checks.check(expected.get(q).contains(d), s"$q: $rows rows hash $hash, recorded ${expected.get(q)}")
      }
    }
    lastFrames.clear()
  }

  /** The output rows of a pass, as the digests of the last one counted
    * them, times the number of passes. */
  override def rows(untraced: Seq[Seq[OpTime]]): Long =
    untraced.size * digests.values.map(_("rows").asInstanceOf[Long]).sum

  def details(untraced: Seq[Seq[OpTime]]): collection.Map[String, Any] = {
    val passes = untraced.map(_.map(_.ms / 1000).sum)
    Out.obj(
      "outputs" -> digests,
      "curate_pass_s" -> Out.obj("value" -> Stats.median(passes), "unit" -> "s",
        "samples" -> passes.size),
      "query_ms" -> Queries.map(q => q -> Stats.median(untraced.flatten.filter(_.kind == q).map(_.ms)))
        .to(collection.mutable.LinkedHashMap))
  }

  def perLayer(r: TraceReport, traced: Seq[Seq[OpTime]]): Map[String, Double] = {
    val n = traced.size.toDouble
    def total(span: String) = r.spansNamed(span).map(_.duration).sum / n
    def jobs(span: String) = r.spansNamed(span).map(s => r.jobsOf.getOrElse(s.id, Nil).size).sum / n
    val perQuery = Queries.flatMap { q =>
      Seq(
        s"operators.$q.closure_ms" -> total(s"operators.$q.closure"),
        s"operators.$q.plan_ms" -> total(s"operators.$q.plan"),
        s"operators.$q.exec_ms" -> total(s"operators.$q.exec"),
        s"operators.$q.closure_jobs" -> jobs(s"operators.$q.closure"))
    }.toMap
    perQuery ++ Map(
      "curate.closure_ms" -> Queries.map(q => perQuery(s"operators.$q.closure_ms")).sum,
      "curate.exec_ms" -> Queries.map(q => perQuery(s"operators.$q.exec_ms")).sum,
      "curate.closure_jobs" -> Queries.map(q => perQuery(s"operators.$q.closure_jobs")).sum)
  }
}

object Curate {
  /** The read-only sf0.01 corpus (TESTDATA.md); `PERFBENCH_SF_DIR` overrides. */
  val DefaultSfDir = s"${sys.props("user.home")}/testdata/sf0.01"

  val Queries: Seq[String] = Seq(
    "dedup_components", "dedup_prefix_join", "dedup_ngram_jaccard", "dedup_editdistance",
    "topk_similarity_ivfpq", "embedding_kmeans_quality", "text_nb_prf", "text_nb_confusion",
    "text_lm_kneser_ney")

  /** Row count and an order-insensitive hash of a query's output:
    * the sum of per-row 64-bit hashes reduced modulo a prime. Floating
    * columns are rounded to 6 decimals first so the hash does not depend
    * on the order partial sums were added in. */
  def digest(df: DataFrame): (Long, Long) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case _ => col(f.name)
      }
    }
    val h = pmod(xxhash64(cols.toIndexedSeq: _*), lit(2147483647L))
    val r = renamed.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
