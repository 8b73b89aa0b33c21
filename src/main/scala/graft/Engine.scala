package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** The user-facing engine, mirroring the reference's API surface: load a
  * table directory, then run SQL text against it (ref:public-surface — the
  * reference parses SQL itself; Spark-first, we delegate parsing/optimization
  * /execution to Catalyst + Tungsten, which is the whole point of the
  * rebuild). `spark.sql` over registered temp views covers the reference's
  * entire query grammar (projection, DISTINCT, WHERE with AND/OR, aggregates,
  * GROUP BY, ORDER BY, multi-table equality joins) and far beyond it.
  */
final class Engine(val spark: SparkSession, val tables: Tables) {

  /** Register every catalog table as a temp view and the engine's custom
    * SQL functions (idempotent).
    *
    * Tables whose backing files are absent are SKIPPED with a one-line
    * warning instead of failing the whole engine: a relational-only data
    * directory (no documents/embeddings) still serves every query that
    * doesn't touch the missing tables — the reference engine likewise only
    * loads what its metadata file lists.
    *
    * Registration resolves each table's relation once per file stamp
    * ([[sources.Tables.scan]]): the first registration of a directory in a
    * session pays one inference job and one listing per table, later reads
    * of the same files under the same parquet confs run no job and list no
    * file. The cache key is the qualified path plus those confs; a table
    * rewritten in place (any file's path, length or mtime changes) is
    * resolved again. Only relations (schema and file listing) are cached,
    * never DataFrames, rows or results.
    *
    * Side effect note: resolving `events` sets the session-level
    * `spark.sql.legacy.parquet.nanosAsLong` conf (the scan re-reads it at
    * execution, so it cannot be scoped narrower) — see [[sources.Tables]]. */
  def register(): this.type = {
    // resolved(), not table(): the typed accessors carry per-table handling
    // (e.g. the events TIMESTAMP(NANOS) conversion)
    tables.names.foreach { n =>
      try tables.resolved(n).createOrReplaceTempView(n)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          // ALSO drop any same-named view left by a previous Engine on this
          // session — skipping must not silently serve another directory's
          // data for this catalog's table name
          spark.catalog.dropTempView(n)
          System.err.println(
            s"[graft] skipping table '$n' (not readable from ${tables.dir}): " +
              e.getMessage.linesIterator.next())
      }
    }
    GraftExtensions.registerTemp(spark)
    this
  }

  /** Run a SQL query against the registered tables. */
  def sql(query: String): DataFrame = spark.sql(query)
}

object Engine {
  /** Open a data directory as an engine (parquet catalog). */
  def apply(spark: SparkSession, dir: String): Engine =
    new Engine(spark, Tables(spark, dir)).register()
}
