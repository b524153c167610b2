package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.migrator.{Apply, Ledger, Migration, MigrationScan, Reconcile, Statements}

/** The traced twin of `Migrator.migrate`: the same composition
  * `Migrator.migrate` and `Apply.applyMigrations` use, calling the public
  * layer functions directly with a span around each call. If the program's
  * composition changes, the traced total drifts from the untraced one,
  * which the traced run reports as its overhead. */
object Replay {

  /** Statement kinds named after the ClickHouse statement they translate. */
  def kind(statement: String): String = {
    val s = statement.trim.toUpperCase.replaceAll("\\s+", " ")
    if (s.startsWith("CREATE TABLE")) "create_table"
    else if (s.startsWith("INSERT") && s.contains(" FROM INFILE ")) "insert_infile"
    else if (s.startsWith("INSERT") && s.contains(" FORMAT VALUES")) "insert_values"
    else if (s.startsWith("ALTER TABLE") && s.contains(" ADD COLUMN ")) "add_column"
    else if (s.startsWith("ALTER TABLE") && s.contains(" UPDATE ")) "update"
    else "other"
  }

  /** Files written by statements: paths under `dbDir` that each statement
    * made appear. */
  final class FileCount(dbDir: Path) {
    var written = 0L
    private def files(): Set[Path] =
      if (!Files.exists(dbDir)) Set.empty
      else scala.util.Using.resource(Files.walk(dbDir))(
        _.iterator().asScala.filter(Files.isRegularFile(_)).toSet)
    def around[T](body: => T): T = {
      val before = files()
      try body finally written += (files() -- before).size
    }
  }

  def migrate(spark: SparkSession, t: Tracer, db: String, home: String, ledgerPath: String,
      files: Option[FileCount] = None, span: String = "migrate"): Unit = t.span(span) {
    t.span("migrator.create_db")(spark.sql(s"CREATE DATABASE IF NOT EXISTS $db"))
    val ledger = new Ledger(spark, ledgerPath)
    t.span("migrator.ledger.init")(ledger.init())
    val incoming = t.span("migrator.scan")(MigrationScan.scan(spark, home).toDF())
    // the pending set is lazy; Apply materialises it, so that work is
    // reconciliation and belongs to its span
    val ordered = t.span("migrator.reconcile") {
      val pending = Reconcile.migrationsToApply(ledger.committed(), incoming)
      if (pending.isEmpty) Seq.empty[Migration]
      else pending.orderBy("version").collect().toSeq.map(r => Migration(
        r.getAs[Any]("version").toString.toInt, r.getAs[String]("script"), r.getAs[String]("md5")))
    }
    ordered.foreach { m =>
      val statements = t.span("migrator.apply.read")(Apply.readStatements(m.script))
      statements.foreach { s =>
        // the file walk stays outside the statement's span
        def execute(): Unit = t.span(s"migrator.statements.${kind(s)}")(Statements.execute(spark, s))
        files.fold(execute())(_.around(execute()))
      }
      t.span("migrator.ledger.append")(ledger.append(m))
    }
  }
}
