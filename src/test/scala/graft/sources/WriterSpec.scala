package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class WriterSpec extends SparkTestBase {

  private def parquetFiles(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq

  private def tmp(name: String): String = tempDir(name).resolve("out").toString

  test("writePartitioned: one file per partition, pruned reads, file-size caps") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSeq

    // default: repartition-by-key collapses each partition to ONE file
    val p1 = tmp("writer_one")
    Writer.writePartitioned(docs, p1, partitionBy = Seq("lang"),
      sortWithin = Seq("doc_id"))
    langs.foreach { l =>
      assert(parquetFiles(s"$p1/lang=$l").size == 1, s"expected 1 file for $l")
    }

    // read-back prunes partitions: only the matching directory is scanned
    val back = spark.read.parquet(p1).filter(col("lang") === "en")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
    assert(back.count() == docs.filter(col("lang") === "en").count())
    // round-trip content is identical
    assert(spark.read.parquet(p1).count() == docs.count())

    // maxRecordsPerFile caps rows per file
    val p2 = tmp("writer_cap")
    Writer.writePartitioned(docs, p2, partitionBy = Seq("lang"),
      maxRecordsPerFile = 50L)
    val enRows = docs.filter(col("lang") === "en").count()
    val enFiles = parquetFiles(s"$p2/lang=en").size
    assert(enFiles >= (enRows / 50).toInt && enFiles >= 2,
      s"expected ~${enRows / 50 + 1} files, got $enFiles")

    // hotBuckets spreads a hot partition across several writer tasks
    val p3 = tmp("writer_hot")
    Writer.writePartitioned(docs.repartition(8), p3, partitionBy = Seq("lang"),
      hotBuckets = 4)
    val hotFiles = parquetFiles(s"$p3/lang=en").size
    assert(hotFiles > 1 && hotFiles <= 4, s"expected 2..4 files, got $hotFiles")
    assert(spark.read.parquet(p3).count() == docs.count())
  }

  test("jsonl export: sharded file count and lossless round-trip") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = tmp("writer_jsonl")
    Writer.jsonl(docs, p, shards = 3)
    val parts = Files.list(Paths.get(p)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq
    assert(parts.size == 3, s"expected 3 shards, got ${parts.size}")
    // round-trip: every column and row identical to the source, including
    // multi-line text (JSON-escaped on the line) and explicit nulls
    val back = Ingest.jsonl(spark, p)
      .selectExpr("doc_id", "text", "lang", "source", "n_chars")
    val orig = docs.selectExpr("doc_id", "text", "lang", "source", "n_chars")
    assert(back.count() == orig.count())
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
  }

  test("manifest: one row per file, totals add up, z-layout ranges are disjoint") {
    val pts = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    val p = tmp("writer_manifest")
    Layout.clusterByZ(pts, Seq("x", "y"), bits = 6, partitions = 8)
      .withColumn("z", Layout.zValue(Seq(col("x"), col("y")), 6))
      .write.parquet(p)
    val m = Writer.manifest(spark, p, Seq("z", "x"))
      .orderBy("z_min").collect()
    assert(m.length == 8)
    assert(m.map(_.getLong(1)).sum == 4096L)
    // per-file z ranges must not overlap — the clustered layout
    // survived the write and the manifest proves it from file stats
    val ranges = m.map(r => (r.getLong(2), r.getLong(3)))
    assert(ranges.sliding(2).forall {
      case Array((_, hi1), (lo2, _)) => hi1 <= lo2
      case _ => true
    }, ranges.toSeq.toString)
  }

  test("targetedDelete rewrites only the range-bracketing files") {
    import org.apache.spark.sql.Row
    val data = df("id BIGINT, v STRING",
      (1L to 300L).map(i => Row(i, s"v$i")))
    val in = tmp("td_in")
    // key-clustered layout: 3 files with disjoint id ranges
    data.repartitionByRange(3, col("id")).sortWithinPartitions("id")
      .write.parquet(in)
    assert(parquetFiles(in).size == 3)

    val out = tmp("td_out")
    val subjects = df("id BIGINT", Seq(Row(5L), Row(7L), Row(7L)))
    val (n, nRewritten, nDeleted) =
      Writer.targetedDelete(spark, in, out, "id", subjects)
    assert(n == 3L && nRewritten == 1L && nDeleted == 2L)
    val res = spark.read.parquet(out)
    assert(res.count() == 298L)
    assert(res.where(col("id").isin(5L, 7L)).count() == 0L)
    assert(res.agg(sum(col("id"))).head().getLong(0) ==
      (1L to 300L).sum - 12L)

    // subjects outside every file's range: zero rewrites, pure carry
    val out2 = tmp("td_none")
    val ghost = df("id BIGINT", Seq(Row(9999L)))
    val (n2, r2, d2) = Writer.targetedDelete(spark, in, out2, "id", ghost)
    assert(n2 == 3L && r2 == 0L && d2 == 0L)
    assert(spark.read.parquet(out2).count() == 300L)
  }

  test("compact repacks many small files and preserves content (and layout)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pIn = tmp("compact_in")
    docs.repartition(40).write.parquet(pIn) // 40 tiny files
    assert(parquetFiles(pIn).size == 40)

    val pOut = tmp("compact_out")
    // target ≈ total size → everything packs into very few files
    val n = Writer.compact(spark, pIn, pOut, targetFileBytes = 64L << 20)
    assert(n == 1 && parquetFiles(pOut).size == 1)
    val back = spark.read.parquet(pOut)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)

    // clustered repack: ranges on the sort key are disjoint across files
    val pOut2 = tmp("compact_sorted")
    val bytes = Files.list(Paths.get(pIn)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(f => Files.size(f)).sum
    Writer.compact(spark, pIn, pOut2, targetFileBytes = bytes / 3,
      sortWithin = Seq("doc_id"))
    val m = Writer.manifest(spark, pOut2, Seq("doc_id"))
      .orderBy("doc_id_min").collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(m.length >= 2)
    assert(m.sliding(2).forall {
      case Array((_, hi1), (lo2, _)) => hi1 < lo2
      case _ => true
    }, m.toSeq.toString)
  }
}
