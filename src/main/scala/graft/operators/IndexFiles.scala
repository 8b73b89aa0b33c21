package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.plans.OneSplitPlans
import graft.sources.Bucketing

/** The commit layer of the five persisted stores ([[CdcStore]],
  * [[TextIndex]], [[DedupIndex]], [[AnnIndex]], [[GraphAnn]]) and of the
  * streaming batch markers ([[graft.streaming.CorpusStreams]]). Each
  * store keeps its own payload; every commit decision is one function
  * here:
  *
  *  - [[atomicWrite]] — every state file (list, meta, bucket count,
  *    marker) is staged to a hidden temp file beside the target and
  *    RENAMED over it, so a crash never leaves a torn or empty file — for
  *    a segment list that would silently serve an EMPTY store. On the
  *    local filesystem the rename is `java.nio` `ATOMIC_MOVE` (one
  *    `rename(2)`; Hadoop's local overwrite-rename is delete-then-rename,
  *    which reopens the missing-file window); on HDFS it is
  *    `FileContext.rename(…, Rename.OVERWRITE)`. Object stores without
  *    atomic rename (raw S3) keep the staged write but inherit the
  *    store's weaker guarantee — the caveat of every rename-committed
  *    table format.
  *  - [[storedBuckets]] / [[writeBucketsOnce]] — a store's bucket count,
  *    recorded on the first write; the stored count wins after.
  *  - [[SegmentLog]] — the tagged segment list of an append-only store:
  *    begin, commit, compaction entry.
  *  - [[swapGenerations]] / [[rollForward]] / [[discardStages]] — the
  *    marker-committed swap every compaction promotes through.
  *
  * All paths resolve through the Hadoop `FileSystem` of the store
  * directory itself, so on a cluster filesystem the state lands NEXT TO
  * the parquet it describes (a `java.nio` write would drop it on the
  * driver's local disk, and attach from another host would see data with
  * no state). Every store is SINGLE WRITER by contract; readers are safe
  * at any point, since a rename is their only commit point.
  */
private[graft] object IndexFiles {

  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  /** The filesystem to do state-file I/O through. On the local scheme the
    * default `LocalFileSystem` is a [[ChecksumFileSystem]] that pairs every
    * file with a `.<name>.crc` sidecar — but our commit is a bare
    * `rename(2)` of the DATA file only, so a checksum-written target would
    * keep a sidecar describing the PREVIOUS content and every subsequent
    * checksum-verified open would throw `ChecksumException` (r12 ADVICE).
    * Unwrapping to the raw filesystem keeps writes sidecar-free and reads
    * sidecar-blind; HDFS/object stores (checksums internal to the protocol)
    * pass through unchanged. */
  private def ioFs(spark: SparkSession, p: Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(conf(spark)) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  /** Write `target` all-or-nothing: stage to `.<name>.tmp` beside it,
    * commit with an atomic rename. A reader never observes a partial
    * file — it sees the old content (or absence) until the single rename
    * instant, then the complete new content. */
  def atomicWrite(spark: SparkSession, target: Path)(
      write: java.io.OutputStream => Unit): Unit = {
    val fs = ioFs(spark, target)
    val qualified = fs.makeQualified(target)
    val tmp = new Path(qualified.getParent, s".${qualified.getName}.tmp")
    val out = fs.create(tmp, true)
    try write(out) finally out.close()
    val scheme = qualified.toUri.getScheme
    if (scheme == null || scheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(qualified.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // scrub checksum sidecars left by pre-IndexFiles writers (which went
      // through ChecksumFileSystem): a stale `.<name>.crc` describing the
      // OLD content would make any checksum-verified reader of the NEW
      // content throw; same for `..<name>.tmp.crc` litter from old stages
      fs.delete(new Path(qualified.getParent, s".${qualified.getName}.crc"), false)
      fs.delete(new Path(qualified.getParent, s".${tmp.getName}.crc"), false)
    } else
      FileContext.getFileContext(qualified.toUri, conf(spark))
        .rename(tmp, qualified, Options.Rename.OVERWRITE)
  }

  def writeString(spark: SparkSession, target: Path, content: String): Unit =
    atomicWrite(spark, target)(_.write(content.getBytes(StandardCharsets.UTF_8)))

  /** Open `p` for reading (checksum-blind on local — see [[ioFs]]), or
    * None if absent. Caller closes. */
  def open(spark: SparkSession, p: Path): Option[java.io.InputStream] = {
    val fs = ioFs(spark, p)
    if (!fs.exists(p)) None else Some(fs.open(p))
  }

  /** Full content of `p`, or None if absent. */
  def readString(spark: SparkSession, p: Path): Option[String] =
    open(spark, p).map { in =>
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }

  /** Reject a batch tag that would corrupt the segment-list grammar —
    * called BEFORE anything is written. */
  def requireValidTag(tag: String): Unit = require(
    tag.nonEmpty && !tag.exists(c => c == ':' || c == ',' || c.isWhitespace),
    s"batchTag '$tag' is empty or contains a list-entry separator " +
      "(':', ',', whitespace)")

  def exists(spark: SparkSession, p: Path): Boolean =
    p.getFileSystem(conf(spark)).exists(p)

  def mkdirs(spark: SparkSession, p: Path): Unit =
    p.getFileSystem(conf(spark)).mkdirs(p)

  def delete(spark: SparkSession, p: Path): Unit =
    p.getFileSystem(conf(spark)).delete(p, false)

  /** Delete the directory `p` and everything under it. */
  def deleteTree(spark: SparkSession, p: Path): Unit =
    p.getFileSystem(conf(spark)).delete(p, true)

  /** The bucket count stored in `file`, or None before the first write. */
  def storedBuckets(spark: SparkSession, file: Path): Option[Int] =
    readString(spark, file).map(_.trim.toInt)

  /** Record a store's bucket count on its first write. The stored count
    * wins over every later parameter: files written with another count
    * than the declared bucket spec would make pruning silently read the
    * wrong buckets. */
  def writeBucketsOnce(spark: SparkSession, file: Path, buckets: Int): Unit =
    if (!exists(spark, file)) writeString(spark, file, buckets.toString)

  /** What an append or attach reads of a [[SegmentLog]]: the list's
    * entries (segment id, batch tags) in commit order, and the bucket
    * count — stored, or the caller's before the first commit. */
  final case class LogState(entries: Seq[(Int, Seq[String])], buckets: Int) {
    def ids: Seq[Int] = entries.map(_._1)
    def nextId: Int = ids.lastOption.getOrElse(-1) + 1
    def listed(batchTag: Option[String]): Boolean =
      batchTag.exists(entries.flatMap(_._2).contains)
  }

  /** A tagged segment log ([[TextIndex]] segments, [[CdcStore]]): `list`
    * names the live segments in commit order, `bucketsFile` holds the
    * store's bucket count. An append writes its immutable segment between
    * [[begin]] and [[commit]]; the list rename is the only commit point,
    * so a crash before it leaves an unreferenced orphan segment and the
    * old list intact — never a torn store. The batch tag rides the list
    * entry, i.e. the same single write that commits the segment, so a
    * replayed micro-batch whose tag is listed is a no-op (exactly-once;
    * a separate done-marker would leave a window between commit and
    * marker where a retry double-ingests).
    *
    * List grammar: space-separated entries, each `id` (untagged) or
    * `id:tag1,tag2,…` (several tags when a compaction folded several
    * tagged segments into one). */
  final case class SegmentLog(list: Path, bucketsFile: Path) {

    def buckets(spark: SparkSession, fallback: Int): Int =
      storedBuckets(spark, bucketsFile).getOrElse(fallback)

    /** The list (read once) and the bucket count. An empty or missing
      * list is a valid empty store. */
    def read(spark: SparkSession, fallbackBuckets: Int): LogState =
      LogState(entries(spark), buckets(spark, fallbackBuckets))

    /** Start an append: validate the tag before anything is written, then
      * read the log once. The caller returns early when
      * `state.listed(batchTag)` (a replay), and otherwise writes segment
      * `state.nextId` with `state.buckets` buckets. */
    def begin(spark: SparkSession, batchTag: Option[String],
              fallbackBuckets: Int): LogState = {
      batchTag.foreach(requireValidTag)
      mkdirs(spark, list.getParent)
      read(spark, fallbackBuckets)
    }

    /** Commit the append begun as `st`: the bucket count once, then the
      * list with the new segment's entry and tag. */
    def commit(spark: SparkSession, st: LogState,
               batchTag: Option[String]): Unit = {
      writeBucketsOnce(spark, bucketsFile, st.buckets)
      write(spark, st.entries :+ ((st.nextId, batchTag.toSeq)))
    }

    /** Commit a compaction of the `live` segments into segment `id`: the
      * list then names only `id`, carrying the union of the live tags so
      * a batch replayed after compaction stays a no-op. Retention keeps
      * the newest `maxTags` — a replay can only re-deliver recent batches
      * (a bounded checkpoint window), so the oldest go first. */
    def commitCompaction(spark: SparkSession, live: Seq[Int], id: Int,
                         maxTags: Int): Unit =
      write(spark, Seq((id, entries(spark).filter(e => live.contains(e._1))
        .flatMap(_._2).distinct.takeRight(maxTags))))

    private def entries(spark: SparkSession): Seq[(Int, Seq[String])] =
      readString(spark, list).map(_.trim) match {
        case None | Some("") => Seq.empty
        case Some(s) =>
          s.split(' ').toSeq.map { e =>
            e.split(':') match {
              case Array(i)      => (i.toInt, Seq.empty[String])
              case Array(i, tgs) => (i.toInt, tgs.split(',').toSeq)
            }
          }
      }

    private def write(spark: SparkSession,
                      entries: Seq[(Int, Seq[String])]): Unit =
      writeString(spark, list,
        entries.map { case (i, tgs) =>
          if (tgs.isEmpty) s"$i" else s"$i:${tgs.mkString(",")}"
        }.mkString(" "))
  }

  /** `<d>_stage`: where a compaction writes the next generation of `d`. */
  def stageOf(d: Path): Path = new Path(d.getParent, s"${d.getName}_stage")

  private def asideOf(d: Path): Path = new Path(d.getParent, s"${d.getName}_old")

  /** Write `df` as a bucketed table into [[stageOf]](`dir`), through a
    * temporary catalog name that is dropped after (external: only the
    * files stay). The bucket-id file names survive the promotion rename,
    * so the canonical table's declared spec stays true. */
  def stageBucketed(df: DataFrame, table: String, dir: Path,
                    keys: Seq[String], buckets: Int): Unit = {
    val tmp = s"${table}__stage"
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $tmp")
    Bucketing.saveBucketed(df, tmp, keys, buckets,
      Some(stageOf(dir).toString), SaveMode.Overwrite)
    df.sparkSession.sql(s"DROP TABLE $tmp")
  }

  /** Promote every staged generation in `dirs` (all staged beforehand).
    * Writing `marker` is the commit point: before it the compaction never
    * happened (its stages are garbage), after it the promotion WILL
    * complete — [[rollForward]] resumes it after a crash. Catalog refresh
    * and registration stay with the caller. */
  def swapGenerations(spark: SparkSession, marker: Path,
                      dirs: Seq[Path]): Unit = {
    writeString(spark, marker, "compact")
    promote(spark, marker, dirs)
  }

  /** Finish a committed swap a crash interrupted: promotes only when
    * `marker` is present (one existence check when clean, so it is cheap
    * enough for every attach or probe). True if it promoted. */
  def rollForward(spark: SparkSession, marker: Path, dirs: Seq[Path]): Boolean = {
    val committed = exists(spark, marker)
    if (committed) promote(spark, marker, dirs)
    committed
  }

  /** Delete the stages of a swap that never committed. */
  def discardStages(spark: SparkSession, dirs: Seq[Path]): Unit =
    dirs.foreach(d => deleteTree(spark, stageOf(d)))

  /** Per dir: the old generation is renamed ASIDE (never deleted before
    * the new one is in place, so any failure leaves a complete generation
    * on disk), the stage renamed in, the aside deleted; then the marker.
    * Idempotent: which of stage/canonical/aside exist encodes the
    * progress, and every crash state resumes. */
  private def promote(spark: SparkSession, marker: Path, dirs: Seq[Path]): Unit = {
    dirs.foreach { d =>
      val fs = d.getFileSystem(conf(spark))
      val (stage, aside) = (stageOf(d), asideOf(d))
      def rename(from: Path, to: Path): Unit =
        if (!fs.rename(from, to))
          throw new java.io.IOException(s"rename $from -> $to failed")
      if (fs.exists(stage)) {
        if (fs.exists(d) && !fs.exists(aside)) rename(d, aside)
        rename(stage, d)
      }
      if (fs.exists(aside)) fs.delete(aside, true)
    }
    delete(spark, marker)
  }

  /** Byte-derived width for a bucketed segment WRITE (r17 verdict item 2,
    * promoted from the q_cdc_apply fixture into the stores so EVERY
    * caller — the streaming loops included — gets the bound). A bucketed
    * write emits one file per (task, bucket) pair, so a batch arriving at
    * the session's full shuffle width fans a few-MB delta into
    * tasks×buckets tiny files, and every later resolve pays a fixed
    * ~90-250 ms task setup per file.
    *
    * A batch is written REPARTITIONED on the bucket key at a
    * MULTIPLE of the bucket count (floored at the bucket count itself —
    * see the inline note on why a small-batch coalesce arm was a width
    * cliff): Spark's shuffle hash and its bucketing hash are the
    * same pmod(murmur3(_, 42)) family, so with n = m·buckets every write
    * task holds exactly one bucket's rows and the file count is exactly
    * the non-empty (task, bucket) pairs — growing with bytes (~1 file /
    * 64 MB), never with the caller's width. `statBytes` is the caller's
    * best size estimate (plan stats, or a segment's bytes on disk);
    * unknown keeps the core count, aligned.
    *
    * At that floor (n = buckets) a batch that is a narrow chain over ONE
    * file split ([[graft.plans.OneSplitPlans.readsOneSplit]]) is written
    * as is: its one task writes one file per non-empty bucket, the same
    * file set as the floor's one-bucket-per-task write, with no exchange
    * and no map job. Its upstream is one task either way (a split is at
    * most `maxSplitBytes` of file), so this is not the coalesce cliff
    * noted below. */
  def boundBucketedWrite(out: org.apache.spark.sql.DataFrame, key: String,
                         buckets: Int, statBytes: BigInt): org.apache.spark.sql.DataFrame = {
    val spark = out.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val known = statBytes.isValidLong &&
      statBytes.toLong < spark.sessionState.conf.defaultSizeInBytes
    // CEILING at 32× the core count: plan stats on a JOIN-derived batch
    // can be a product ESTIMATE (a perfectly valid Long below the unknown
    // sentinel — the quantileWidth hazard), and an uncapped bytes/64 MB
    // would re-create the tiny-file explosion this helper exists to
    // prevent (or wrap n.toInt negative and crash the write). 32× cores
    // still gives a genuine multi-TB batch thousands of ~full files per
    // executor wave; a garbage estimate costs at most one bounded wave
    // of small files, which the next compaction folds away.
    val cap = math.max(buckets.toLong, par.toLong * 32)
    // FLOOR at the bucket count, and ALWAYS repartition-aligned — never
    // coalesce. coalesce(n) limits the width of the whole upstream
    // stage, so a Catalyst UNDER-estimate (an over-selective filter
    // guess on a join-derived batch) reaching tasks=1 would serialize
    // the entire batch computation through one task — a cliff with no
    // guard symmetric to the 32×-cores ceiling above (r18 ADVICE). An
    // aligned shuffle instead leaves the upstream at its natural width,
    // costs only the batch's own bytes (negligible exactly when the
    // batch is genuinely small), and still lands exactly one file per
    // non-empty bucket at the floor.
    val tasks =
      if (known) math.min(cap,
        math.max(buckets.toLong, statBytes.toLong / (64L << 20)))
      else math.max(par.toLong, buckets.toLong)
    val n = ((tasks + buckets - 1) / buckets * buckets)
    if (n == buckets &&
        OneSplitPlans.readsOneSplit(spark, out.queryExecution.sparkPlan)) out
    else out.repartition(n.toInt, org.apache.spark.sql.functions.col(key))
  }

  /** Total on-disk bytes under `p` (0 if absent) — the TRUE size of a
    * stored segment, used to pick probe plans by data volume where plan
    * statistics can't see through a catalog table's bucket spec. One
    * namenode round trip; never lists file contents. */
  def dirBytes(spark: SparkSession, p: Path): Long = {
    val fs = p.getFileSystem(conf(spark))
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }
}
