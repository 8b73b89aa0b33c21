package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.datasources.{DataSource, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType

/** Parquet-backed table catalog.
  *
  * The reference engine loads CSV tables enumerated by a metadata file
  * (ref:public-surface — the `/root/reference` checkout is empty, see
  * SURVEY.md §1; capability reconstructed from the public repo surface).
  * The Spark-native equivalent is a columnar parquet scan per table: Catalyst
  * gets predicate pushdown, column pruning and partition pruning for free,
  * which is the scan behavior we want at 100 TB.
  *
  * Each table's relation (schema and file listing) is resolved once per
  * file stamp, the way a metastore serves it: every read goes through
  * [[Tables.scan]], so after the first read of a table (e.g. in
  * [[graft.Engine.register]]) building a query runs no schema-inference
  * job and lists no file. See [[Tables.scan]] for what is keyed, when a
  * relation is resolved again, and what is never cached.
  */
final case class Tables(spark: SparkSession, dir: String,
                        overrides: Map[String, DataFrame] = Map.empty) {
  /** Resolve a table: an injected override wins, else the parquet scan.
    * Overrides let callers (and tests) substitute any source that yields the
    * same schema — the operators only see DataFrames. */
  def table(name: String): DataFrame =
    overrides.getOrElse(name, Tables.scan(spark, s"$dir/$name.parquet"))

  /** A copy of this catalog with one table substituted. */
  def withTable(name: String, df: DataFrame): Tables =
    copy(overrides = overrides + (name -> df))

  /** Resolve a table through its typed accessor (so per-table handling like
    * the events nanos conversion applies) — use this, not [[table]], when
    * resolving by name generically. */
  def resolved(name: String): DataFrame = name match {
    case "events" => events
    case n => table(n)
  }

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")
  /** The events parquet stores `ts` as TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects. Read it as raw nanos (legacy conf) and
    * convert to a proper TimestampType (µs) with integer division — double
    * division would lose precision above 2^53.
    *
    * Note: the nanosAsLong conf is session-level and must stay set while the
    * returned plan is alive (the scan re-reads it at execution), so it is
    * NOT restored here. Other nanos-timestamp parquet reads in the same
    * session will also see longs — acceptable for this engine's sessions,
    * surprising if the catalog is mixed into a foreign session. */
  def events: DataFrame = {
    if (!overrides.contains("events"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table("events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** All table names this catalog serves (mirrors the reference's metadata
    * file listing). */
  def names: Seq[String] = Tables.names
}

object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The quick-check stamp of a path: its qualified form plus the
    * (path, length, mtime) triple of every file under it — rsync's
    * quick-check. Regenerated data at the same path changes the stamp. */
  final case class Stamp(root: String, files: Seq[(String, Long, Long)])

  /** List `path` (a file or a directory tree) with the Hadoop FileSystem
    * API, so any scheme works; None when it cannot be listed (e.g. it does
    * not exist). `listStatus`, not `listFiles`: a `LocatedFileStatus` copies
    * each file's permissions, which the local file system without native
    * IO reads by forking `ls -ld` once per file. */
  def stamp(spark: SparkSession, path: String): Option[Stamp] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = Vector.newBuilder[(String, Long, Long)]
      def walk(f: FileStatus): Unit =
        if (f.isDirectory) fs.listStatus(f.getPath).foreach(walk)
        else files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      fs.listStatus(p).foreach(walk) // a file lists as itself
      Some(Stamp(fs.makeQualified(p).toString, files.result().sortBy(_._1)))
    } catch { case _: java.io.IOException => None }

  /** The SQLConfs that shape the resolved relation: the schema
    * converter's settings, which footers are merged, and how partition
    * directory values are typed. */
  private val relationConfs: Seq[String] = Seq(
    SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
    SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
    SQLConf.VARIANT_ALLOW_READING_SHREDDED, SQLConf.PARQUET_SCHEMA_MERGING_ENABLED,
    SQLConf.PARQUET_SCHEMA_RESPECT_SUMMARIES, SQLConf.PARTITION_COLUMN_TYPE_INFERENCE,
    SQLConf.SESSION_LOCAL_TIMEZONE).map(_.key)

  private val relations =
    new ConcurrentHashMap[(String, Seq[String]), (Stamp, HadoopFsRelation)]()

  /** An option-less parquet read of one path, with its relation resolved
    * once per file stamp.
    *
    * Keyed on the qualified path plus those SQLConfs (so `events` under
    * `nanosAsLong` on and off are two entries); the value is the [[Stamp]]
    * and the `HadoopFsRelation` that `spark.read.parquet` would resolve:
    * its schema and file listing. A hit needs an equal stamp and a
    * relation bound to `spark`; it wraps the relation in a fresh
    * `LogicalRelation`, whose output attributes get new exprIds (so
    * self-joins resolve), and runs no job and lists no file. Anything else
    * resolves again and replaces the entry: one entry per path and conf
    * set, so rewriting a table in place does not grow the map in a
    * long-lived JVM, and at most one other session is kept alive per
    * entry. Only metadata is held — never rows or a DataFrame. A path that
    * cannot be listed falls through to the plain read, which raises
    * Spark's own `AnalysisException` for a missing path. */
  def scan(spark: SparkSession, path: String): DataFrame =
    stamp(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val key = (st.root, relationConfs.map(k => spark.conf.getOption(k).orNull))
        val relation = Option(relations.get(key))
          .collect { case (s, r) if s == st && (r.sparkSession eq spark) => r }
          .getOrElse {
            // what `spark.read.parquet(path)` resolves for one path
            val r = DataSource(spark.asInstanceOf[ClassicSparkSession], "parquet",
              options = Map("path" -> path)).resolveRelation()
              .asInstanceOf[HadoopFsRelation]
            relations.put(key, (st, r))
            r
          }
        DatasetBridge.ofRows(spark, LogicalRelation(relation))
    }
}
