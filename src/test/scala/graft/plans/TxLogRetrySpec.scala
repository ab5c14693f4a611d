package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

/** The commit path under task retries, which the shared `local[N]` test
  * session never performs: [[TxLogRetryChild]] runs every commit kind in
  * its own JVM on a `local[4,3]` session with first-attempt failures
  * injected in the committed frame and in the write stages. Each commit
  * must land exactly its expected rows from the retried attempts' files
  * alone, and a write job that fails for good must leave no files under
  * its commit directory. */
class TxLogRetrySpec extends AnyFunSuite {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** case name → "OK" or the failure, from one child run. */
  private lazy val results: Map[String, String] = {
    val root = Files.createTempDirectory("graftretry").toString
    val out = Files.createTempFile("retry_child", ".log").toFile
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.plans.TxLogRetryChild", root)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(out).start()
    assert(p.waitFor(600, TimeUnit.SECONDS), "retry child timed out")
    val log = Files.readString(out.toPath)
    val cases = log.linesIterator.collect {
      case l if l.startsWith("CASE ") =>
        val Array(_, name, rest) = l.split(" ", 3)
        name -> rest
    }.toMap
    assert(p.exitValue() == 0 && cases.nonEmpty,
      s"retry child failed (exit ${p.exitValue()}); tail:\n" +
        log.linesIterator.toSeq.takeRight(25).mkString("\n"))
    cases
  }

  private def passes(name: String): Unit =
    assert(results.get(name).contains("OK"), s"$name: ${results.getOrElse(name, "did not run")}")

  test("task retry: unpartitioned append commits only the retried attempt's files") {
    passes("append")
  }
  test("task retry: partitioned append commits only the retried attempt's files") {
    passes("partitioned-append")
  }
  test("task retry: merge survivor and change-data writes") {
    passes("merge")
  }
  test("task retry: copy-on-write delete survives retried attempts") {
    passes("delete")
  }
  test("task retry: compaction survives retried attempts") {
    passes("compact")
  }
  test("a failed unpartitioned write job leaves no files under data/<commitId>/") {
    passes("cleanup")
  }
  test("a failed partitioned write job leaves no files under data/<commitId>/") {
    passes("partitioned-cleanup")
  }
}
