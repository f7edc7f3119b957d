package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.{LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated test tables (TESTDATA.md).
  *
  * The reference engine only supports in-memory relations built from Python
  * mappings (/root/reference/stupidb/api.py:104 `table()`); graft reads real
  * columnar sources. Parquet scans in Spark get predicate pushdown + column
  * pruning for free, which is the 100 TB posture: a filter+projection query
  * reads only the needed row groups and columns.
  *
  * Every read goes through [[load]], which memoizes the inferred schema.
  * `spark.read.parquet` infers a schema by running a Spark job over the
  * file footers (`ParquetFileFormat.mergeSchemasInParallel`, one job even
  * for a single file) on every call, and a query reads several tables,
  * some of them twice; that fixed cost recurred on every query build.
  * With a memoized schema the read is `spark.read.schema(s).parquet(path)`,
  * which launches no job; listing, scan, pruning and pushdown are
  * unchanged, and so are the plan and the result.
  *
  * The memo is keyed on the qualified path and the session's parquet
  * schema-inference settings (every set `spark.sql.parquet.*`,
  * `spark.sql.legacy.parquet.*` and `spark.sql.variant.*` conf, and
  * `spark.sql.caseSensitive`; `events` flips
  * `spark.sql.legacy.parquet.nanosAsLong`). An entry is valid only while
  * the path's leaf files — each file under a directory, e.g. the part
  * files of a Spark-written `x.parquet/` — keep their names, lengths and
  * modification times; any rewrite, added or removed file re-infers. A
  * path that cannot be listed is read without the memo, so Spark reports
  * its own error.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    versionOf(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((key, files)) =>
        Option(schemas.get(key)) match {
          case Some((`files`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            // listed before inferring: a rewrite in between leaves an
            // entry whose file list no longer matches, never a stale hit
            val df = spark.read.parquet(path)
            schemas.put(key, (files, df.schema))
            df
        }
    }
  }

  private type FileVersion = (String, Long, Long)
  /** (qualified path, inference settings) -> (leaf files, schema). One
    * entry per path and settings: a rewrite replaces its entry. */
  private val schemas =
    new ConcurrentHashMap[(String, Seq[(String, String)]), (Seq[FileVersion], StructType)]()

  private val inferenceConfs = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.",
    "spark.sql.variant.", "spark.sql.caseSensitive")

  /** The memo key and sorted leaf-file versions of `path`, or None when
    * it cannot be listed. */
  private def versionOf(spark: SparkSession, path: String)
      : Option[((String, Seq[(String, String)]), Seq[FileVersion])] = Try {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it: RemoteIterator[LocatedFileStatus] = fs.listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted
    val settings = spark.conf.getAll.toSeq
      .filter { case (k, _) => inferenceConfs.exists(k.startsWith) }.sorted
    ((fs.makeQualified(p).toString, settings), files)
  }.toOption

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped as two physical types across testdata
    * generations: INT64 TIMESTAMP(NANOS) (Spark 4 refuses to read it
    * natively — read nanos as long and truncate to microseconds with
    * integer division, matching DuckDB's ns→µs cast) and plain
    * TIMESTAMP(MICROS) without UTC adjustment (Spark reads it as
    * TIMESTAMP_NTZ). Normalize both to TimestampType so every
    * downstream window/range/stream sees one type; all entrypoints run
    * with spark.sql.session.timeZone=UTC, so the NTZ→TZ cast preserves
    * the wall-clock values DuckDB reads from the same file. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
