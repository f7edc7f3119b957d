package graft

import java.nio.file.Files
import graft.sources.Sources

/** Round-trip the sources: table() ingestion + parquet/csv/json IO. */
class SourcesSpec extends SparkSpec {

  test("table() builds a relation from in-memory rows (reference parity)") {
    val t = Sources.table(spark, Seq(
      Map("name" -> "Bob", "balance" -> -300),
      Map("name" -> "Alice", "balance" -> 400)))
    assert(t.count() == 2)
    assert(t.columns.sorted.toSeq == Seq("balance", "name"))
  }

  test("parquet round-trip preserves schema and rows, csv/json round-trip rows") {
    val dir = Files.createTempDirectory("graft_sources").toString
    val src = Tables.nation(spark, sf)
    Sources.writeParquet(src, s"$dir/p", partitionBy = Seq("n_regionkey"))
    val p = Sources.readParquet(spark, s"$dir/p")
    assert(p.count() == src.count())
    assert(p.columns.toSet == src.columns.toSet)
    Sources.writeCsv(src, s"$dir/c")
    assert(Sources.readCsv(spark, s"$dir/c").count() == src.count())
    Sources.writeJson(src, s"$dir/j")
    assert(Sources.readJson(spark, s"$dir/j").count() == src.count())
  }

  test("orc round-trip preserves rows and pushes filters to the scan") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val src = Tables.nation(spark, sf)
    Sources.writeOrc(src, s"$dir/o")
    val o = Sources.readOrc(spark, s"$dir/o")
    assert(o.count() == src.count())
    assert(o.columns.toSet == src.columns.toSet)
    val plan = graft.plans.PlanShape.of(
      o.where(org.apache.spark.sql.functions.col("n_nationkey") > 5))
    assert(plan.scans.map(_.pushed) ==
      Seq(Seq("GreaterThan(n_nationkey,5)", "IsNotNull(n_nationkey)")),
      s"ORC scan did not receive pushed filters:\n${plan.json}")
  }

  test("partitioned parquet write enables partition pruning") {
    val dir = Files.createTempDirectory("graft_part").toString
    Sources.writeParquet(Tables.nation(spark, sf), s"$dir/p",
      partitionBy = Seq("n_regionkey"))
    val pruned = Sources.readParquet(spark, s"$dir/p")
      .where(org.apache.spark.sql.functions.col("n_regionkey") === 1)
    val plan = graft.plans.PlanShape.of(pruned)
    assert(plan.scans.map(_.partitionFilters) ==
      Seq(Seq("(n_regionkey = 1)", "(n_regionkey IS NOT NULL)")),
      s"no partition pruning:\n${plan.json}")
  }

  test("size-targeted write picks a data-proportional file count") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_sized").toString
    val docs = Tables.documents(spark, sf)
    def parts(p: String): Array[java.io.File] =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
    // tiny target → many files, one per ~target chunk
    val nSmall = Sources.writeParquetSized(docs, s"$dir/small",
      targetBytes = 8L << 10)
    assert(nSmall > 1, "tiny target produced a single file")
    assert(parts(s"$dir/small").length == nSmall,
      "file count does not match the decision")
    // huge target → exactly one file, but never a serialized-write
    // coalesce: the decision is an explicit repartition
    val nBig = Sources.writeParquetSized(docs, s"$dir/big",
      targetBytes = 1L << 40)
    assert(nBig == 1 && parts(s"$dir/big").length == 1)
    // rows survive both shapes
    assert(Sources.readParquet(spark, s"$dir/small").count() == docs.count())
    assert(Sources.readParquet(spark, s"$dir/big").count() == docs.count())
    // sortBy clusters: each file's doc_id range is disjoint
    Sources.writeParquetSized(docs, s"$dir/sorted",
      targetBytes = 8L << 10, sortBy = Seq("doc_id"))
    val ranges = parts(s"$dir/sorted").map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(org.apache.spark.sql.functions.min(col("doc_id")),
             org.apache.spark.sql.functions.max(col("doc_id")))
        .head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.zip(ranges.tail).forall { case ((_, hi), (lo, _)) => hi < lo },
      s"sorted write produced overlapping file ranges: ${ranges.toSeq}")
    // hive-partitioned + tiny target: file count stays ~nFiles (range
    // clustering on the partition column), NOT tasks × partitions
    val nHp = Sources.writeParquetSized(docs, s"$dir/hp",
      targetBytes = 8L << 10, partitionBy = Seq("lang"))
    val hpFiles = new java.io.File(s"$dir/hp").listFiles()
      .filter(_.getName.startsWith("lang="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    val nLangs = docs.select("lang").distinct().count().toInt
    assert(hpFiles.length <= nHp + nLangs,
      s"partitioned write explodeed to ${hpFiles.length} files " +
        s"(nFiles=$nHp, langs=$nLangs)")
    assert(Sources.readParquet(spark, s"$dir/hp").count() == docs.count())
  }
}
