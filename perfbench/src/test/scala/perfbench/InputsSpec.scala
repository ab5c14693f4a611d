package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

class InputsSpec extends AnyFunSuite {

  private def generated(seed: Long): Seq[(String, Array[Byte])] = {
    val dir = Files.createTempDirectory("perfbench-inputs").toFile
    try IngestInputs.generate(dir, seed).map(f =>
      new File(f.path).getName -> Files.readAllBytes(new File(f.path).toPath))
    finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    val a = generated(11)
    val b = generated(11)
    val c = generated(12)
    assert(a.map(_._1) == b.map(_._1))
    a.zip(b).foreach { case ((n, x), (_, y)) => assert(java.util.Arrays.equals(x, y), n) }
    assert(a.zip(c).exists { case ((_, x), (_, y)) => !java.util.Arrays.equals(x, y) })
  }

  test("table_rw: the same seed gives byte-identical landing files, another seed different ones") {
    def tableInputs(seed: Long): Seq[Array[Byte]] = {
      val dir = Files.createTempDirectory("perfbench-table").toFile
      try {
        val (init, appends) = TableInputs.generate(dir, seed)
        assert(init.rows.size == TableRw.InitialRows)
        assert(appends.map(_.files) == TableRw.AppendFiles)
        // keys run on from one file to the next
        val keys = (init +: appends).flatMap(_.rows.map(_.key))
        assert(keys == keys.indices.map(_.toLong))
        (init +: appends).map(b => Files.readAllBytes(new File(b.path).toPath))
      } finally {
        Option(dir.listFiles()).foreach(_.foreach(_.delete()))
        dir.delete()
      }
    }
    val a = tableInputs(5)
    val b = tableInputs(5)
    val c = tableInputs(6)
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
    assert(a.zip(c).exists { case (x, y) => !java.util.Arrays.equals(x, y) })
  }

  test("most files are small and the large ones carry most of the rows") {
    val dir = Files.createTempDirectory("perfbench-inputs").toFile
    try {
      val files = IngestInputs.generate(dir, 3)
      val (small, large) = files.partition(_.rows <= IngestInputs.SmallRows._2)
      assert(small.size > large.size)
      assert(large.map(_.rows).sum > small.map(_.rows).sum)
      assert(files.map(_.format).distinct.size == IngestInputs.Formats.size)
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
  }
}
