package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{LongType, StringType, TimestampNTZType, TimestampType}
import graft.sources.Tables

/** The catalog resolves each table's relation once per file stamp: a
  * repeat read runs no inference job and lists no file, a rewritten table
  * is resolved again, the parquet confs and the session are part of the
  * key, self-joins of a cached relation resolve, and a missing table still
  * fails the way [[Engine.register]] expects. */
class TablesSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Jobs launched from this thread while `f` runs. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val (r, record) = QueryRecord.of(spark)(f)
    (r, record.jobs)
  }

  private def freshDir(): Path = Files.createTempDirectory("graft_tables_")

  private def copyTable(dir: Path, name: String): Unit =
    Files.copy(Paths.get(s"$sfDir/$name.parquet"), dir.resolve(s"$name.parquet"))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("a repeat table read in a session launches no job") {
    val dir = freshDir()
    copyTable(dir, "lineitem")
    val (first, coldJobs) = jobsDuring(Tables(spark, dir.toString).lineitem)
    assert(coldJobs >= 1, "the first read infers the schema")
    val (second, warmJobs) = jobsDuring(Tables(spark, dir.toString).lineitem)
    assert(warmJobs == 0)
    assert(second.schema == first.schema)
    assert(sameRows(second, first))
  }

  test("a table rewritten at the same path is read with its new schema and rows") {
    import spark.implicits._
    val dir = freshDir()
    val path = dir.resolve("t.parquet").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "tag").write.parquet(path)
    val before = Tables(spark, dir.toString).table("t")
    assert(before.schema.map(_.dataType) == Seq(LongType, StringType))
    Seq(("x", 10L, 1.5), ("y", 20L, 2.5), ("z", 30L, 3.5)).toDF("key", "n", "w")
      .write.mode("overwrite").parquet(path)
    val after = Tables(spark, dir.toString).table("t")
    assert(after.columns.toSeq == Seq("key", "n", "w"))
    assert(after.orderBy("key").as[(String, Long, Double)].collect().toSeq ==
      Seq(("x", 10L, 1.5), ("y", 20L, 2.5), ("z", 30L, 3.5)))

    // a single-file table replaced in place: same file name, new contents
    Files.copy(Paths.get(s"$sfDir/lineitem.parquet"), dir.resolve("one.parquet"))
    assert(Tables(spark, dir.toString).table("one").columns.contains("l_orderkey"))
    Files.copy(Paths.get(s"$sfDir/nation.parquet"), dir.resolve("one.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val replaced = Tables(spark, dir.toString).table("one")
    assert(replaced.columns.contains("n_nationkey"))
    assert(!replaced.columns.contains("l_orderkey"))
    assert(replaced.count() == 25)
  }

  test("events under nanosAsLong on and off are two entries with the right ts type") {
    // its own session: the conf flips must not leak into other suites
    val s = spark.newSession()
    val dir = freshDir()
    copyTable(dir, "events")
    val path = dir.resolve("events.parquet").toString
    val t = Tables(s, dir.toString)
    def read(on: Boolean): (DataFrame, Int) = jobsDuring {
      s.conf.set(NanosAsLong, on.toString)
      if (on) t.events else t.table("events")
    }
    val (on1, onCold) = read(on = true)
    val (off1, offCold) = read(on = false)
    assert(onCold >= 1 && offCold >= 1, "each conf value is its own entry")
    val (on2, onWarm) = read(on = true)
    val (off2, offWarm) = read(on = false)
    assert(onWarm == 0 && offWarm == 0, "both entries are kept")
    // the shipped events store ts as TIMESTAMP(MICROS, not UTC-adjusted)
    for (df <- Seq(on1, off1, on2, off2))
      assert(df.schema("ts").dataType == TimestampNTZType)
    assert(sameRows(on2, off2) && sameRows(on1, on2))
    assert(Tables.scan(s, path).schema == off2.schema)

    // a TIMESTAMP(NANOS) file reads as longs only under the conf: the
    // long schema cached with it on is never served with it off
    val nanosDir = freshDir()
    val nanos = nanosDir.resolve("events.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(nanos))
      .withType(schema).withConf(new Configuration()).build()
    val g = new SimpleGroupFactory(schema)
    val base = 1700000000123456789L
    (0 until 4).foreach(i =>
      w.write(g.newGroup().append("event_id", i.toLong).append("ts", base + i * 1000L)))
    w.close()
    val nt = Tables(s, nanosDir.toString)
    s.conf.set(NanosAsLong, "true")
    assert(Tables.scan(s, nanos).schema("ts").dataType == LongType)
    val converted = nt.events
    assert(converted.schema("ts").dataType == TimestampType)
    s.conf.set(NanosAsLong, "false")
    val e = intercept[AnalysisException](Tables.scan(s, nanos))
    assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"))
    val (again, nanosWarm) = jobsDuring(nt.events)
    assert(nanosWarm == 0)
    assert(again.schema("ts").dataType == TimestampType)
    assert(sameRows(again, converted))
    assert(again.selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).sorted.toSeq ==
      (0 until 4).map(i => (base + i * 1000L) / 1000))
  }

  test("a missing table still throws AnalysisException") {
    val dir = freshDir()
    intercept[AnalysisException](Tables(spark, dir.toString).lineitem)
    intercept[AnalysisException](Tables.scan(spark, dir.resolve("nope.parquet").toString))
    assert(Tables.stamp(spark, dir.resolve("nope.parquet").toString).isEmpty)
  }

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  test("a self-join of one cached table resolves and equals the plain-read join") {
    val dir = freshDir()
    copyTable(dir, "lineitem")
    val path = dir.resolve("lineitem.parquet").toString
    val t = Tables(spark, dir.toString)
    def join(a: DataFrame, b: DataFrame): DataFrame =
      a.alias("a").join(b.alias("b"), "l_orderkey")
        .selectExpr("l_orderkey", "a.l_linenumber AS la", "b.l_linenumber AS lb")
    val cached = join(t.lineitem, t.lineitem)
    assert(relationOf(t.lineitem) eq relationOf(t.lineitem), "both reads share the relation")
    val plain = join(spark.read.parquet(path), spark.read.parquet(path))
    assert(cached.count() > t.lineitem.count(), "the join pairs lines of one order")
    assert(sameRows(cached, plain))
  }

  test("a repeat read lists no file and runs no job") {
    val dir = freshDir()
    copyTable(dir, "orders")
    def filesListed[T](f: => T): (T, Long) = {
      val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      val r = f
      (r, HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before)
    }
    val (_, coldFiles) = filesListed(Tables(spark, dir.toString).orders)
    assert(coldFiles >= 1, "the first read lists the table")
    val ((warm, warmJobs), warmFiles) =
      filesListed(jobsDuring(Tables(spark, dir.toString).orders))
    assert(warmFiles == 0 && warmJobs == 0)
    assert(warm.count() == spark.read.parquet(dir.resolve("orders.parquet").toString).count())
  }

  test("a read in another session gets a relation bound to that session") {
    val dir = freshDir()
    copyTable(dir, "nation")
    val here = relationOf(Tables(spark, dir.toString).nation)
    assert(here.sparkSession eq spark)
    val other = spark.newSession()
    val df = Tables(other, dir.toString).nation
    assert(relationOf(df).sparkSession eq other)
    assert(df.sparkSession eq other)
    assert(df.count() == 25)
    assert(relationOf(Tables(spark, dir.toString).nation).sparkSession eq spark)
  }

  test("a file added to a directory table changes the stamp and shows in the next read") {
    import spark.implicits._
    val dir = freshDir()
    val path = dir.resolve("t.parquet")
    Seq((1L, "a"), (2L, "b")).toDF("id", "tag").write.parquet(path.toString)
    val t = Tables(spark, dir.toString)
    val before = Tables.stamp(spark, path.toString).get
    assert(t.table("t").count() == 2)
    Seq((3L, "c")).toDF("id", "tag").write.mode("append").parquet(path.toString)
    val after = Tables.stamp(spark, path.toString).get
    assert(after != before && after.files.size > before.files.size)
    assert(t.table("t").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("the stamp of a nested directory is the recursive listFiles triple list") {
    import spark.implicits._
    val dir = freshDir()
    val root = dir.resolve("p.parquet")
    Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "part")
      .write.partitionBy("part").parquet(root.toString)
    Files.createDirectories(root.resolve("part=z/deeper"))
    Files.copy(Paths.get(s"$sfDir/region.parquet"), root.resolve("part=z/deeper/r.parquet"))
    val p = new org.apache.hadoop.fs.Path(root.toString)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val expected = Vector.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      expected += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val st = Tables.stamp(spark, root.toString).get
    assert(st.root == fs.makeQualified(p).toString)
    assert(st.files == expected.result().sortBy(_._1))
    assert(st.files.exists(_._1.endsWith("part=z/deeper/r.parquet")))
    val one = root.resolve("part=z/deeper/r.parquet").toString
    assert(Tables.stamp(spark, one).get.files.map(_._1) ==
      Seq(fs.makeQualified(new org.apache.hadoop.fs.Path(one)).toString))
  }
}
