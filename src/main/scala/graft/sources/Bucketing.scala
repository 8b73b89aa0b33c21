package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.datasources.{DataSource, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.StructType

/** Bucketed-table layout: pre-shuffle a table ONCE into hash buckets on its
  * join key so every subsequent join/aggregation on that key runs with zero
  * exchange — the classic amortization for fact tables that are joined
  * constantly (lineitem⋈orders on orderkey at 100 TB).
  *
  * Bucket metadata lives in the session catalog (`saveAsTable`); both sides
  * of a join must agree on key and bucket count for the exchange-free plan.
  * [[saveBucketed]] and [[registerBucketed]] are the one write and the one
  * re-registration every persisted store goes through; [[readBucketed]]
  * reads several such tables as one.
  */
object Bucketing {

  /** Write `df` as a bucketed (and in-bucket sorted) catalog table at
    * `path`. The input is repartitioned on the key to exactly `buckets`
    * partitions first: without it every input task writes its own file per
    * bucket (tasks × buckets small files), and Spark only trusts the
    * in-bucket sort — letting sort-merge joins skip their Sort — when each
    * bucket is a single file. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit =
    saveBucketed(df.repartition(buckets, df.col(key)), table, Seq(key),
      buckets, Some(path), SaveMode.Overwrite)

  /** The bucketed table write: `df` as catalog table `table`, bucketed and
    * sorted by `keys`, at `path` (None: the table's own location, for an
    * append). The caller picks the partitioning, which sets the file
    * count: one file per (write task, bucket) pair. */
  private[graft] def saveBucketed(df: DataFrame, table: String,
                                  keys: Seq[String], buckets: Int,
                                  path: Option[String], mode: SaveMode): Unit = {
    val w = df.write.mode(mode)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
    path.fold(w)(w.option("path", _)).saveAsTable(table)
  }

  /** Register the bucketed parquet table `table` over files already at
    * `location` — how a fresh session attaches a store whose catalog died
    * with the session that wrote it. No-op when the catalog has the
    * table; `ddl` (the column list) is evaluated only when it registers. */
  private[graft] def registerBucketed(spark: SparkSession, table: String,
                                      ddl: => String, keys: Seq[String],
                                      buckets: Int, location: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val k = keys.mkString(", ")
      spark.sql(
        s"""CREATE TABLE $table ($ddl) USING PARQUET
           |CLUSTERED BY ($k) SORTED BY ($k) INTO $buckets BUCKETS
           |LOCATION '$location'""".stripMargin)
    }

  /** Several bucketed parquet directories of one layout (the same
    * columns, each written by [[saveBucketed]] with `buckets` buckets on
    * `keys`) read as ONE bucketed relation: Spark's bucketed scan puts
    * bucket i of every directory into task i and reports
    * `HashPartitioning(keys, buckets)`, so an aggregate or window clustered
    * on the keys above it needs no exchange, however many directories
    * there are. A row's directory is in `_metadata.file_path`. The schema
    * is the caller's, so no footer is read to infer it. */
  private[graft] def readBucketed(spark: SparkSession, paths: Seq[String],
                                  schema: StructType, keys: Seq[String],
                                  buckets: Int): DataFrame = {
    val relation = DataSource(spark.asInstanceOf[ClassicSparkSession],
      "parquet", paths = paths, userSpecifiedSchema = Some(schema),
      bucketSpec = Some(BucketSpec(buckets, keys, keys))).resolveRelation()
      .asInstanceOf[HadoopFsRelation]
    DatasetBridge.ofRows(spark, LogicalRelation(relation))
  }

  /** Run `f` with bucketed scans forced on. The planner's
    * `DisableUnnecessaryBucketedScan` rule turns a bucketed read off when
    * no join or aggregation on the bucket key sits above it — which is a
    * bare filter-and-collect probe, and a scan that only rewrites a
    * table — and with it go bucket pruning and the one-file-per-bucket
    * read a store's layout exists for. */
  private[graft] def withBucketedScan[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, prev)
  }
}
