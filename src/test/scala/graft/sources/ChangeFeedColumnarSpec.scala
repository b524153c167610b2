package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The change-feed stream's COLUMNAR insert path, driven at the
  * MicroBatchStream level (the classes are package-private — this
  * spec lives beside them): an insert-only micro-batch serves
  * vectorized batches whose two bookkeeping columns ride as CONSTANT
  * column vectors; a delete partition anywhere in the batch flips
  * every partition to rows (BatchScanExec's uniformity rule). Row
  * content is asserted against the table, so the constant-vector
  * wrapping is verified value-for-value, not just shape-for-shape. */
class ChangeFeedColumnarSpec extends graft.SparkSpec {

  test("insert-only CDF batches serve columnar with constant label/version vectors; deletes flip to rows") {
    val t = Files.createTempDirectory("graft_cfcol_").toString + "/t"
    SnapshotLog.commit(spark, t, spark.range(500).select(
      col("id").as("k"), (col("id") * 7).as("v")))
    SnapshotLog.commitAppend(spark, t, spark.range(500, 600).select(
      col("id").as("k"), (col("id") * 7).as("v")))
    val exposed = StructType(
      SnapshotLog.read(spark, t).schema.fields ++ Seq(
        StructField(ChangeFeed.ChangeTypeCol, StringType, nullable = false),
        StructField(ChangeFeed.CommitVersionCol, LongType, nullable = false)))
    val ms = new SnapshotLogMicroBatchStream(t, exposed,
      startVersion = 0L, ignoreChanges = false, changeFeed = true)
    // (−1, 1]: two append versions, insert-only — every partition
    // answers columnar
    val parts = ms.planInputPartitions(new VersionOffset(-1), new VersionOffset(1))
    val factory = ms.createReaderFactory()
    assert(parts.nonEmpty && parts.forall(factory.supportColumnarReads),
      "an insert-only batch must serve columnar")
    // read the batches and verify content incl. the constant columns
    val rows = parts.flatMap { p =>
      val r = factory.createColumnarReader(p)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
      while (r.next()) {
        out ++= r.get().rowIterator().asScala.map(row =>
          (row.getLong(0), row.getLong(1),
            row.getUTF8String(2).toString, row.getLong(3)))
      }
      out
    }
    assert(rows.length == 600)
    assert(rows.forall(_._3 == "insert"))
    assert(rows.filter(_._4 == 0L).map(_._1).sorted.toSeq == (0L until 500L))
    assert(rows.filter(_._4 == 1L).map(_._1).sorted.toSeq == (500L until 600L))
    assert(rows.forall(r => r._2 == r._1 * 7))
    // a MOR delete in the window: the batch now carries a delete
    // partition — EVERY partition must answer row-based
    SnapshotLog.deleteWhereInMOR(spark, t, "k", Seq(5L))
    val mixed = ms.planInputPartitions(new VersionOffset(-1), new VersionOffset(2))
    assert(mixed.exists(_.isInstanceOf[ChangeDeletePartition]))
    assert(mixed.forall(p => !factory.supportColumnarReads(p)),
      "a delete anywhere in the batch must flip all partitions to rows")
    // and the row path over the same mixed batch carries the feed
    val mixedRows = mixed.flatMap { p =>
      val r = factory.createReader(p)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      while (r.next()) {
        val row = r.get()
        out += ((row.getLong(0), row.getUTF8String(2).toString))
      }
      out
    }
    assert(mixedRows.count(_._2 == "delete") == 1 &&
      mixedRows.count(_._2 == "insert") == 600)
  }
}
