package graft.sources

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapreduce.{InputSplit, Job, JobContext, RecordReader, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.{CombineFileInputFormat, CombineFileRecordReader, CombineFileSplit, FileInputFormat}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reader for the reference's primary-storage filesystem journal.
  *
  * Layout (reference `PrimaryPersistence.scala:54-96`):
  * {{{
  * <root>/
  *   t_<TENANT>/                              # tenant dir, name = t_.+
  *     account/<ACCOUNT>/
  *       snapshot/<VERSION %010d>             # line 1: "CCY FORMAT_X"
  *       events/<SNAP %010d>/<STATUS>_<DIR>_<TRANSACTION>   # line 1: version
  *     transaction/<TRANSACTION>              # line 1: status word,
  *                                            # then transfer records
  * }}}
  *
  * The reference walks this tree with an Akka-Streams pipeline of
  * per-directory listings and per-file line sources
  * (`PrimaryDataExplorationService.scala:38-266`). Here each entity class is
  * ONE distributed read: a glob text/wholetext scan whose path components are
  * parsed out of `input_file_name()` with columnar expressions — no
  * driver-side iteration, no UDFs, fully whole-stage-codegen'd. On a real
  * cluster the glob listing is driver metadata work (same as any Hive-style
  * partitioned table) and the file contents are read by executors.
  * [[transfersOf]] is the incremental form for transactions: it reads the
  * named `(tenant, transaction)` files only, looked up by name instead of
  * listed by glob, so a sync pass reads what its new events announce.
  */
object Journal {

  /** The journal's `%010d` version segment (F7) — the WRITE-side format
    * for snapshot filenames and event snapshot directories (reference
    * PrimaryPersistence.scala:54-96 lists by this shape; the read side
    * parses it back via the regexes below). Shared by the fixture writers
    * and anything that produces journal trees.
    */
  def versionSegment(version: Int): String = {
    require(version >= 0, s"journal versions are non-negative, got $version")
    f"$version%010d"
  }

  /** Whole-file read of a journal glob: one (value, path) row per matched
    * file. A glob with zero matches (fresh or partial journals) reads as
    * an empty frame.
    *
    * Journal files are sub-KB and number in the thousands (millions at
    * scale), so the read packs them into `defaultParallelism`
    * byte-budgeted splits (a `CombineFileInputFormat`, the way
    * `SparkContext.wholeTextFiles` does), one task per split. The
    * DataFrame text source pays per-FILE costs twice (path resolution at
    * plan build, then a scheduler task per file at exec), which measured
    * ~15x slower on a 1200-file tree and grows linearly with file count.
    * Everything downstream of this raw (value, path) frame is still
    * columnar Catalyst — this is exactly the "genuine per-partition
    * imperative IO" boundary, kept as small as possible.
    */
  private def globWholetext(spark: SparkSession, glob: String): DataFrame =
    wholeFiles(spark, Seq(new Path(glob)), literal = false, name = glob)

  /** The shared reader under [[globWholetext]] and [[transfersOf]]: the
    * files `paths` name — globs, or literal file paths when `literal` —
    * listed ONCE, when the first job plans the read (the listing is
    * memoized in the RDD's partitions; no existence probe precedes it).
    * A literal path that does not exist, like a glob that matches
    * nothing, contributes no row. `name` names the RDD (as
    * `wholeTextFiles` names it after its path).
    */
  private def wholeFiles(spark: SparkSession, paths: Seq[Path], literal: Boolean,
      name: String): DataFrame = {
    import spark.implicits._
    val raw =
      if (paths.isEmpty) spark.sparkContext.emptyRDD[(String, String)]
      else {
        val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
        // Path varargs, not a comma-joined string: every path stays one
        // path whatever it contains (',', '{', '[' and '*' included)
        FileInputFormat.setInputPaths(job, paths: _*)
        job.getConfiguration.setBoolean(WholeFiles.LiteralKey, literal)
        job.getConfiguration.setInt(WholeFiles.MinPartitionsKey, spark.sparkContext.defaultParallelism)
        spark.sparkContext
          .newAPIHadoopRDD(job.getConfiguration, classOf[WholeFiles], classOf[Text], classOf[Text])
          .setName(name)
          .map { case (k, v) => (k.toString, v.toString) }
      }
    raw.toDF("path", "value").select("value", "path")
  }

  /** Combined whole-file splits over the input paths, listed once: a
    * literal path by one status lookup (no glob parse, so no character in
    * a journal name is special), a glob by one `globStatus`. Hidden names
    * (`_`, `.`) are skipped as `FileInputFormat` skips them. The split
    * budget is total bytes / min partitions, as in `wholeTextFiles`.
    */
  private[sources] final class WholeFiles extends CombineFileInputFormat[Text, Text] {
    private var listed: java.util.List[FileStatus] = _

    override protected def listStatus(job: JobContext): java.util.List[FileStatus] = {
      if (listed == null) {
        val conf = job.getConfiguration
        val literal = conf.getBoolean(WholeFiles.LiteralKey, false)
        listed = FileInputFormat.getInputPaths(job).toSeq.flatMap { p =>
          val fs = p.getFileSystem(conf)
          if (literal) try Seq(fs.getFileStatus(p)) catch { case _: FileNotFoundException => Nil }
          else Option(fs.globStatus(p)).fold(Seq.empty[FileStatus])(_.toSeq)
        }.filter(st => st.isFile && !st.getPath.getName.matches("[_.].*")).asJava
      }
      listed
    }

    override def getSplits(job: JobContext): java.util.List[InputSplit] = {
      val bytes = listStatus(job).asScala.map(_.getLen).sum
      val parts = math.max(job.getConfiguration.getInt(WholeFiles.MinPartitionsKey, 1), 1)
      setMaxSplitSize(math.ceil(bytes.toDouble / parts).toLong)
      super.getSplits(job)
    }

    override protected def isSplitable(context: JobContext, file: Path): Boolean = false

    override def createRecordReader(split: InputSplit, context: TaskAttemptContext)
        : RecordReader[Text, Text] =
      new CombineFileRecordReader[Text, Text](
        split.asInstanceOf[CombineFileSplit], context, classOf[WholeFile])
  }

  private[sources] object WholeFiles {
    val LiteralKey = "graft.journal.literalPaths"
    val MinPartitionsKey = "graft.journal.minPartitions"
  }

  /** One file of a combined split as one (path, contents) record. */
  private[sources] final class WholeFile(split: CombineFileSplit, context: TaskAttemptContext,
      index: Integer) extends RecordReader[Text, Text] {
    private val path = split.getPath(index)
    private var value: Text = _

    override def initialize(s: InputSplit, c: TaskAttemptContext): Unit = ()
    override def nextKeyValue(): Boolean =
      value == null && {
        val in = path.getFileSystem(context.getConfiguration).open(path)
        try value = new Text(in.readAllBytes()) finally in.close()
        true
      }
    override def getCurrentKey: Text = new Text(path.toString)
    override def getCurrentValue: Text = value
    override def getProgress: Float = if (value == null) 0f else 1f
    override def close(): Unit = ()
  }

  /** Discovered tenants: directories matching `t_.+` under the root.
    * Ref: PrimaryDataExplorationService.scala:40-47 (P1).
    * Directory listing is metadata (one level, small) — listed on the
    * driver like partition discovery, then parallelized.
    */
  def tenants(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names: Seq[String] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.matches("t_.+"))
        .map(_.stripPrefix("t_"))
    names.toDF("name")
  }

  /** Account metadata from each account's version-0 snapshot header.
    * Ref: PrimaryPersistence.scala:166-203 (S3): first line `CCY FORMAT_X`,
    * currency = chars 0-2, format = chars 4..len-3 (trailing `_T`/`_F`
    * stripped).
    *
    * The glob names the `%010d`-formatted version-0 file directly, so
    * non-zero snapshot versions are never listed or read — an
    * `input_file_name()`-derived filter could not be pushed into file
    * listing and would scan unbounded snapshot history.
    */
  def accounts(spark: SparkSession, root: String): DataFrame =
    parseAccounts(globWholetext(spark, s"$root/t_*/account/*/snapshot/0000000000"))

  /** Snapshot-header parse on a raw (value, path) frame — shared by the
    * glob reader above and the compacted-manifest reader.
    */
  def parseAccounts(snaps: DataFrame): DataFrame = {
    val header = substring_index(col("value"), "\n", 1)
    snaps
      .withColumn("tenant", regexp_extract(col("path"), "t_([^/]+)/account/", 1))
      .withColumn("name", regexp_extract(col("path"), "/account/([^/]+)/snapshot/", 1))
      .withColumn("line", header)
      .select(
        col("tenant"), col("name"),
        substring(col("line"), 1, 3).as("currency"),
        expr("substring(line, 5, length(line) - 6)").as("format"),
        lit(0).as("last_syn_snapshot"),
        lit(0).as("last_syn_event"))
  }

  /** Account events. Status + transaction come from the FILENAME
    * `<status>_<direction>_<transaction>` (direction ignored, as in the
    * reference); event version is the file's first line.
    * Ref: PrimaryPersistence.scala:124-164 (S4).
    */
  def events(spark: SparkSession, root: String): DataFrame =
    parseEvents(globWholetext(spark, s"$root/t_*/account/*/events/*/*"))

  /** Event filename/content parse on a raw (value, path) frame — shared by
    * the glob reader above and the compacted-manifest reader.
    */
  def parseEvents(ev: DataFrame): DataFrame = {
    val fname = regexp_extract(col("path"), "/events/[0-9]+/([^/]+)$", 1)
    ev
      .withColumn("tenant", regexp_extract(col("path"), "t_([^/]+)/account/", 1))
      .withColumn("account", regexp_extract(col("path"), "/account/([^/]+)/events/", 1))
      .withColumn("snapshot_version",
        regexp_extract(col("path"), "/events/([0-9]+)/", 1).cast(IntegerType))
      .withColumn("fname", fname)
      .select(
        col("tenant"), col("account"), col("snapshot_version"),
        split(col("fname"), "_", 3).getItem(0).cast(IntegerType).as("status"),
        split(col("fname"), "_", 3).getItem(2).as("transaction"),
        substring_index(col("value"), "\n", 1).cast(IntegerType).as("version"))
  }

  /** Transfers from transaction files. Line 1 is the status word
    * (committed→1, rollbacked→2, anything else→0/promised); every further
    * non-empty line is a space-separated transfer record
    * `transfer creditTenant creditAccount debitTenant debitAccount valueDate amount currency`.
    * Ref: PrimaryPersistence.scala:205-275 (S5 + stateful parse T1).
    *
    * The reference carries the status line as mutable state while streaming
    * lines (`statefulMapConcat`). Columnar equivalent: read each file whole,
    * `split` into lines, stamp line 0's status onto the `posexplode` of the
    * remaining lines — same semantics, no state, fully parallel.
    */
  def transfers(spark: SparkSession, root: String): DataFrame =
    parseTransfers(globWholetext(spark, s"$root/t_*/transaction/*"))

  /** Transfers of the named transactions only: for each (tenant,
    * transaction) pair the one file `t_<tenant>/transaction/<transaction>`,
    * read once — what an incremental sync pass needs, instead of every
    * transaction file of the journal. A named file that does not exist
    * contributes nothing, as it would to the glob read above.
    *
    * The cost is per name, on the driver: one status lookup per file (a
    * metadata request each on s3a/hdfs) and every path in the read's
    * Hadoop job configuration. That suits a delta; a read naming most of
    * the journal (an initial sync) pays it for every transaction.
    */
  def transfersOf(spark: SparkSession, root: String, txs: Seq[(String, String)]): DataFrame =
    parseTransfers(transactionFiles(spark, root, txs))

  private def transactionRel(tx: (String, String)): String = s"t_${tx._1}/transaction/${tx._2}"

  private def transactionFiles(spark: SparkSession, root: String,
      txs: Seq[(String, String)]): DataFrame =
    wholeFiles(spark, txs.map(tx => new Path(s"$root/${transactionRel(tx)}")), literal = true,
      name = s"$root/t_*/transaction/ (${txs.size} named)")

  /** Transaction-file parse on a raw (value, path) frame — shared by the
    * batch reader above and the Structured Streaming source
    * (graft.streaming.JournalStream), which feed the same plan from
    * different sources.
    */
  def parseTransfers(tx: DataFrame): DataFrame = {
    val lines = split(col("value"), "\n")
    val statusWord = element_at(lines, 1)
    val parsed = tx
      .withColumn("tenant", regexp_extract(col("path"), "t_([^/]+)/transaction/", 1))
      .withColumn("transaction", regexp_extract(col("path"), "/transaction/([^/]+)$", 1))
      .withColumn("status",
        when(statusWord === "committed", 1)
          .when(statusWord === "rollbacked", 2)
          .otherwise(0))
      .select(col("tenant"), col("transaction"), col("status"),
        posexplode(slice(lines, 2, Int.MaxValue - 2)).as(Seq("pos", "line")))
      .filter(length(trim(col("line"))) > 0)
    val f = split(col("line"), " ")
    parsed.select(
      col("tenant"),
      col("transaction"),
      f.getItem(0).as("transfer"),
      col("status"),
      f.getItem(1).as("credit_tenant"),
      f.getItem(2).as("credit_name"),
      f.getItem(3).as("debit_tenant"),
      f.getItem(4).as("debit_name"),
      f.getItem(6).cast(DecimalType(38, 18)).as("amount"),
      f.getItem(7).as("currency"),
      f.getItem(5).cast(TimestampType).as("value_date"))
  }

  // ---- compacted manifest ----------------------------------------------
  //
  // The journal's one-file-per-event layout means a sync pass over a large
  // history lists (and schedules one task per) millions of tiny files —
  // at 100 TB the listing alone dominates (the reference has the same
  // problem one directory at a time, PrimaryDataExplorationService
  // .scala:38-96). `compact` rewrites a journal subtree into a parquet
  // MANIFEST of raw (value, relative path) rows partitioned by entity
  // kind, so history reads become one columnar scan with partition
  // pruning; the parse on top is the SAME shared parse the live readers
  // use, which makes manifest/direct equivalence structural. The intended
  // split at scale: compact once per epoch, read history from the
  // manifest, glob only the small post-epoch tail.

  /** Exact relativization of journal file paths against `root`: strip the
    * resolved root prefix, not a regex guess (a `t_` inside the ROOT's own
    * path — /data/t_prod/journal — would otherwise capture too much and
    * corrupt tenant extraction). The `path` column carries wholeTextFiles
    * keys — Hadoop `Path.toString`, DECODED — so the prefix must come from
    * the qualified path's decoded form (`toUri.getPath`), NOT `getRawPath`:
    * an encoded prefix (`/my%20data/...`) would never match a decoded path
    * (`/my data/...`) and every file would misreport as outside the root.
    * A matched file outside the root is a hard error, not a silently
    * mangled path.
    */
  private def relativizer(spark: SparkSession, root: String): Column => Column = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootDecoded = fs.makeQualified(rootPath).toUri.getPath
    val prefix = if (rootDecoded.endsWith("/")) rootDecoded else rootDecoded + "/"
    (c: Column) => {
      val abs = regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?", "")
      when(abs.startsWith(prefix),
        abs.substr(lit(prefix.length + 1), lit(Int.MaxValue)))
        .otherwise(raise_error(
          concat(lit(s"journal file outside root $prefix: "), abs)))
    }
  }

  private val kindGlobs = Map(
    "snapshot" -> "t_*/account/*/snapshot/0000000000",
    "event" -> "t_*/account/*/events/*/*",
    "transaction" -> "t_*/transaction/*")

  /** One entity kind's live raw (value, relative path) rows. */
  private def rawLive(spark: SparkSession, root: String, kind: String): DataFrame = {
    val rel = relativizer(spark, root)
    globWholetext(spark, s"$root/${kindGlobs(kind)}")
      .withColumn("path", rel(col("path")))
  }

  /** Rewrite the journal subtree under `root` into a parquet manifest.
    * Raw contents are preserved verbatim; paths are stored relative to
    * `root` (`t_…/…`) so the manifest is relocatable.
    */
  def compact(spark: SparkSession, root: String, manifestDir: String): Unit =
    kindGlobs.keys.toSeq.sorted
      .map(k => rawLive(spark, root, k).withColumn("kind", lit(k)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").partitionBy("kind").parquet(manifestDir)

  /** One entity kind's raw rows — partition-pruned parquet scan. */
  private def manifest(spark: SparkSession, dir: String, kind: String): DataFrame =
    spark.read.parquet(dir).filter(col("kind") === kind).select("value", "path")

  def tenantsFromManifest(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .select(regexp_extract(col("path"), "^t_([^/]+)/", 1).as("name"))
      .distinct()

  def accountsFromManifest(spark: SparkSession, dir: String): DataFrame =
    parseAccounts(manifest(spark, dir, "snapshot")
      .filter(col("path").endsWith("/snapshot/0000000000")))

  def eventsFromManifest(spark: SparkSession, dir: String): DataFrame =
    parseEvents(manifest(spark, dir, "event"))

  def transfersFromManifest(spark: SparkSession, dir: String): DataFrame =
    parseTransfers(manifest(spark, dir, "transaction"))

  // ---- hybrid: manifest history ∪ live tail ----------------------------
  //
  // Deduplicated BY FILE (relative path): journal files are append-created
  // and immutable, so a path present in both the manifest and the live
  // tree contributes exactly once, while genuinely duplicate RECORDS
  // inside one file are preserved — a whole-row distinct would collapse
  // them and diverge from a plain full-tree read.

  private def hybridRaw(spark: SparkSession, root: String, manifestDir: String,
      kind: String): DataFrame =
    rawLive(spark, root, kind)
      .unionByName(manifest(spark, manifestDir, kind))
      .dropDuplicates("path")

  def tenantsHybrid(spark: SparkSession, root: String, manifestDir: String): DataFrame =
    tenants(spark, root).unionByName(tenantsFromManifest(spark, manifestDir)).distinct()

  def accountsHybrid(spark: SparkSession, root: String, manifestDir: String): DataFrame =
    parseAccounts(hybridRaw(spark, root, manifestDir, "snapshot"))

  def eventsHybrid(spark: SparkSession, root: String, manifestDir: String): DataFrame =
    parseEvents(hybridRaw(spark, root, manifestDir, "event"))

  /** [[transfersOf]] over manifest history ∪ live tail: both sides hold
    * only the named transaction files, deduplicated by file like every
    * hybrid read.
    */
  def transfersOfHybrid(spark: SparkSession, root: String, manifestDir: String,
      txs: Seq[(String, String)]): DataFrame = {
    val rel = relativizer(spark, root)
    parseTransfers(transactionFiles(spark, root, txs)
      .withColumn("path", rel(col("path")))
      .unionByName(manifest(spark, manifestDir, "transaction")
        .filter(col("path").isin(txs.map(transactionRel): _*)))
      .dropDuplicates("path"))
  }
}
