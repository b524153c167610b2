package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class WorkloadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work: Path = Files.createTempDirectory("perfbench_spec_")
  private lazy val spark: SparkSession = Main.session(work)

  override def afterAll(): Unit = {
    spark.stop()
    Workload.deleteTree(work)
  }

  private def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  test("every metric name the benchmark prints is declared in BENCHMARK.json") {
    val spec = new ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def declared(key: String) =
      spec.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(declared("end_to_end") == Metrics.EndToEnd)
    assert(declared("per_layer") == Metrics.PerLayer)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq == Workload.Names)
  }

  test("the catalog fixture holds the same rows for a seed and other rows for another seed") {
    def digest(d: Path): Map[String, (Long, java.math.BigDecimal)] =
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings").map { t =>
        val df = spark.read.parquet(d.resolve(s"$t.parquet").toString)
        val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.toIndexedSeq.map(df.col): _*)
          .cast("decimal(38,0)"))).head()
        t -> (r.getLong(0), r.getDecimal(1))
      }.toMap
    Inputs.writeCatalog(spark, dir("cat_a"), 0.0005, 11L)
    Inputs.writeCatalog(spark, dir("cat_b"), 0.0005, 11L)
    Inputs.writeCatalog(spark, dir("cat_c"), 0.0005, 12L)
    val a = digest(work.resolve("cat_a"))
    assert(a == digest(work.resolve("cat_b")))
    val c = digest(work.resolve("cat_c"))
    assert(Seq("customer", "orders", "lineitem", "events", "documents", "embeddings").forall(t => a(t) != c(t)))
    assert(a("lineitem")._1 == Inputs.CatalogSizes(0.0005).lineitem)
  }

  test("seq_dml applies the paper's migrations and passes its invariant checks") {
    val wl = new SeqDml(3L, rows = 3000)
    val rec = new Recorder
    wl.setUp(spark, dir("seq"))
    wl.warmUp(spark, rec, None)
    wl.iterate(spark, 0, rec, None)
    wl.iterate(spark, 1, rec, Some(tracerOn(spark)))
    assert(rec.failureList.isEmpty)
    assert(rec.samplesOf("migrate").size == 1 && rec.samplesOf("traced.migrate").size == 1)
    val names = wl.figures(rec).map(_.name).toSet
    assert(names == Set("migrate_apply_s", "read_after_migrate_s", "migrate_noop_s", "stored_bytes_per_row"))
  }

  test("an injected failure is counted as failed rather than timed") {
    val wl = new ManyVersions(5L, versions = 4)
    val rec = new Recorder
    val d = dir("mv")
    wl.setUp(spark, d)
    wl.warmUp(spark, rec, None)
    wl.iterate(spark, 0, rec, None)
    assert(rec.failed == 0 && rec.samplesOf("migrate_noop").size == 1)
    // editing an applied migration trips Reconcile's tampered assertion
    val v2 = Files.list(d.resolve("inputs/versions")).iterator().asScala
      .find(_.getFileName.toString.startsWith("V2__")).get
    Files.writeString(v2, Files.readString(v2) + " ")
    wl.iterate(spark, 1, rec, None)
    assert(rec.failed == 1 && rec.samplesOf("migrate_noop").size == 1)
    assert(rec.failureList.head._1 == "migrate_noop")
    assert(rec.failureList.head._2.contains(graft.migrator.Reconcile.TamperedMsg))
    wl.tearDown(spark)
  }

  test("catalog_mix reproduces its warm-up results on every pass") {
    val wl = new CatalogMix(2L, sf = 0.0005)
    val rec = new Recorder
    wl.setUp(spark, dir("cat"))
    wl.warmUp(spark, rec, None)
    wl.iterate(spark, 0, rec, None)
    assert(rec.failureList.isEmpty)
    assert(rec.samplesOf("pass").size == 1)
    assert(rec.attempted == (CatalogMix.WarmUpPasses + 1) * CatalogMix.Queries.size)
  }

  private def tracerOn(s: SparkSession): Tracer = {
    val t = new Tracer
    t.attach(s)
    t
  }
}
