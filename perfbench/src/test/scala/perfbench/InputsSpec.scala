package perfbench

import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private def withDir[T](body: Path => T): T = {
    val d = Files.createTempDirectory("perfbench_inputs_")
    try body(d) finally Workload.deleteTree(d)
  }

  /** relative path -> bytes of every file under `dir`. */
  private def tree(dir: Path): Map[String, Seq[Byte]] =
    scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap)

  test("the seq CSV is byte-identical for a seed and differs across seeds") {
    withDir { d =>
      val p = d.resolve("seq.csv.gz")
      val a = Inputs.writeSeqCsv(p, 5000, 7L)
      val first = Files.readAllBytes(p).toSeq
      val b = Inputs.writeSeqCsv(p, 5000, 7L)
      assert(Files.readAllBytes(p).toSeq == first && a == b)
      Inputs.writeSeqCsv(p, 5000, 8L)
      assert(Files.readAllBytes(p).toSeq != first)
    }
  }

  test("the seq CSV follows FIXTURES.md A4 and its recorded count") {
    withDir { d =>
      val csv = Inputs.writeSeqCsv(d.resolve("seq.csv.gz"), 20000, 3L)
      val lines = scala.io.Source.fromInputStream(
        new GZIPInputStream(Files.newInputStream(csv.path))).getLines().toVector
      assert(lines.head == "id,name")
      val rows = lines.tail.map(_.split(',').map(_.toInt))
      assert(rows.map(_(0)) == (1 to 20000))
      assert(rows.forall(r => r(1) >= 0 && r(1) <= 100000))
      assert(rows.count(_(1) > 3000) == csv.over3000)
    }
  }

  test("the version history is byte-identical for a seed and differs across seeds") {
    withDir { d =>
      val a = Inputs.writeManyVersions(d.resolve("a"), "db", 12, 5L)
      val b = Inputs.writeManyVersions(d.resolve("b"), "db", 12, 5L)
      val c = Inputs.writeManyVersions(d.resolve("c"), "db", 12, 6L)
      assert(tree(d.resolve("a")) == tree(d.resolve("b")) && a == b)
      assert(tree(d.resolve("a")) != tree(d.resolve("c")))
      assert(tree(d.resolve("a")).size == 12 && a.rows == 11)
    }
  }

  test("the paper's migration set is byte-identical for the same inputs") {
    withDir { d =>
      val csv = d.resolve("seq.csv.gz")
      Inputs.writeSeqMigrations(d.resolve("m"), "db", csv)
      val first = tree(d.resolve("m"))
      Workload.deleteTree(d.resolve("m"))
      Inputs.writeSeqMigrations(d.resolve("m"), "db", csv)
      assert(tree(d.resolve("m")) == first)
      assert(first.keySet == Set("V1__create_sample.sql", "V2__load_sample.sql", "V3__sequential_dmls.json"))
    }
  }
}
