package graft.job

import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util.concurrent.{Callable, CancellationException, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.extract.{ChunkHtml, JNull, JStr, JsonLite}
import graft.model._

/** The flagship batch job: transcripts → extracted turns + chunk table +
  * metrics + lineage, checkpoint-resumable per conv-bucket.
  *
  * Spark shape (SURVEY.md §3.1): scan → [optional salted repartition] →
  * typed `mapPartitions` extraction (zero-shuffle, row-local) → stable-order
  * window over (conv_id, turn_idx, ts) on the *compressed* post-extraction
  * rows (the reference measures ~18× HTML→JSON shrinkage, README.md:93-97,
  * so windowing after extraction shuffles an order of magnitude less data
  * than windowing the raw input) → dynamic-partition-overwrite write keyed
  * by `conv_bucket`, with a lineage row per completed bucket.
  *
  * [[run]] splits the buckets into `Config.groups` groups and keeps two
  * groups in flight: while one group writes, the next extracts, so the
  * small write jobs stop leaving cores idle. Lineage is still appended one
  * group at a time, in group order, after that group's data is durable.
  * Each group in flight caches its extracted rows, so peak cache is two
  * groups' rows.
  *
  * Catalyst-only: typed mapPartitions on Datasets (MapPartitionsExec), no
  * RDD API anywhere.
  */
object ExtractJob {

  final case class Config(
      outDir: String,
      buckets: Int = 64,
      /** checkpoint granularity: buckets are split into this many groups,
        * two of which are in flight at once; each group commits output,
        * then lineage, and lineage is appended in group order. Peak cache
        * is two groups' extracted rows. */
      groups: Int = 4,
      runId: String = "run",
      /** salt partitions for conv-clustered inputs; None = keep scan
        * partitioning (extraction is row-local, so a balanced byte-split
        * scan needs no shuffle). */
      saltPartitions: Option[Int] = None,
      saltBuckets: Int = 16,
      /** storage-format seam: no Iceberg runtime jar ships in this
        * container, so output tables are partitioned parquet with the same
        * schema; `format = "iceberg"` is the one-line swap once the jar is
        * present (MERGE INTO then replaces the dynamic-overwrite idiom). */
      format: String = "parquet")

  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx")
    .withZone(ZoneOffset.UTC)

  private val sha256Local = ThreadLocal.withInitial(
    () => java.security.MessageDigest.getInstance("SHA-256"))
  private val hexDigits = "0123456789abcdef".toCharArray

  def sha256Hex(s: String): String = {
    val md = sha256Local.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexDigits((d(i) >> 4) & 0xF)
      out(i * 2 + 1) = hexDigits(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  private def utf8Len(s: String): Long = {
    var n = 0L; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1 else if (c < 0x800) 2
            else if (Character.isHighSurrogate(c)) { i += 1; 4 } else 3)
      i += 1
    }
    n
  }

  private def optStr(v: graft.extract.JVal): Option[String] =
    v match { case JNull => None; case other => Some(other.pyStr) }

  /** Tools routed to the raw-fallback flatten-to-spans path — the single
    * source of truth shared by [[extractOne]] and the `of_extract_turn`
    * SQL function. */
  val RawFallbackTools: Set[String] = Set("render", "pdf")

  /** One turn through the reference pipeline, dispatched on the `tool`
    * column (SURVEY §1.3): `render`/`pdf` payloads take the raw-fallback
    * flatten-to-spans path with the 50 KB cap
    * (reference `mcp/src/tools/smart-fetch.ts:75-87`); everything
    * else takes the full HTML extraction path. Deterministic: `updated`
    * pinned to the turn's `ts` (chunker.py:733 uses wall-clock; we do not).
    *
    * Null-safe, so one bad row cannot fail a run: a null `text` extracts
    * exactly as `""` does (zero chunks, agreeing with [[chunksFor]]); a
    * null `ts` passes no date, so `updated` is the page's own date or `""`
    * and `ts` stays null in the row. */
  def extractOne(t: Turn): ExtractedTurn = {
    val text = if (t.text == null) "" else t.text
    val iso = Option(t.ts).map(ts => isoFmt.format(ts.toInstant))
    if (RawFallbackTools.contains(t.tool)) extractRawFallback(t, text, iso)
    else extractHtmlTurn(t, text, iso)
  }

  /** Tool-dispatched chunk list for one payload (the `of_extract_turn`
    * SQL surface; null-safe: null text yields no chunks). */
  def chunksFor(url: String, text: String, tool: String): Vector[ChunkHtml.Chunk] =
    if (text == null) Vector.empty
    else if (RawFallbackTools.contains(tool)) graft.extract.SpanFlatten.flatten(text).chunks
    else ChunkHtml(if (url == null) "" else url, text).chunks

  /** tool=render/pdf: 50 KB cap + flatten-to-spans (see [[SpanFlatten]]).
    * No metadata chain — the reference's fallback returns the raw body. */
  private def extractRawFallback(t: Turn, text: String, iso: Option[String]): ExtractedTurn = {
    val url = s"${t.conv_id}#${t.turn_idx}"
    val fl = graft.extract.SpanFlatten.flatten(text)
    val chunks = fl.chunks.zipWithIndex.map { case (c, i) =>
      ChunkOut(sha256Hex(s"$url::chunk::$i").take(16), i, c.text, c.chunkType)
    }
    val meta = MetadataOut(None, None, None, None, None, Vector.empty, None,
      meta_type = "raw", schema_type = None, extra = Map.empty)
    val bytesOut = chunks.map(c => utf8Len(c.text)).sum + utf8Len(fl.summary)
    ExtractedTurn(
      conv_id = t.conv_id, turn_idx = t.turn_idx, turn_pos = 0L,
      url = url, page_id = sha256Hex(s"page::$url").take(16),
      role = t.role, tool = t.tool, ts = t.ts,
      title = "", author = None, published = None,
      updated = iso.getOrElse(""), language = "en",
      summary = fl.summary, chunks = chunks, metadata = meta,
      n_chunks = chunks.length,
      bytes_in = utf8Len(text), bytes_out = bytesOut,
      blocks_kept = fl.spansKept, blocks_dropped = fl.spansDropped)
  }

  private def extractHtmlTurn(t: Turn, text: String, iso: Option[String]): ExtractedTurn = {
    val url = s"${t.conv_id}#${t.turn_idx}"
    val ex = ChunkHtml.extract(url, text, iso)
    val page = ex.page
    val chunks = page.chunks.zipWithIndex.map { case (c, i) =>
      ChunkOut(sha256Hex(s"$url::chunk::$i").take(16), i, c.text, c.chunkType)
    }
    val m = page.metadata
    val meta = MetadataOut(
      title = optStr(m.title), description = optStr(m.description),
      author = optStr(m.author), published = optStr(m.published),
      modified = optStr(m.modified), keywords = m.keywords,
      image = optStr(m.image),
      meta_type = m.metaType.pyStr,
      schema_type = optStr(m.schemaType),
      extra = m.extra.map { case (k, v) =>
        k -> (v match { case JStr(s) => s; case o => JsonLite.render(o) })
      }.toMap)
    val bytesOut = chunks.map(c => utf8Len(c.text)).sum + utf8Len(page.summary) +
      utf8Len(page.title)
    ExtractedTurn(
      conv_id = t.conv_id, turn_idx = t.turn_idx, turn_pos = 0L,
      url = url, page_id = sha256Hex(s"page::$url").take(16),
      role = t.role, tool = t.tool, ts = t.ts,
      title = page.title, author = page.author, published = page.published,
      updated = page.updated.getOrElse(""), language = page.language,
      summary = page.summary, chunks = chunks, metadata = meta,
      n_chunks = chunks.length,
      bytes_in = utf8Len(text), bytes_out = bytesOut,
      blocks_kept = ex.blocksKept, blocks_dropped = ex.blocksDropped)
  }

  /** J8 skew mitigation: spread one conversation's turns across partitions
    * with a salted key (extraction is row-local, so this is safe; only the
    * ordering window needs conv locality). Use when the input layout is
    * conv-clustered. */
  def saltedByConv(turns: Dataset[Turn], partitions: Int, saltBuckets: Int): Dataset[Turn] =
    turns.repartition(partitions, col("conv_id"),
      pmod(hash(col("turn_idx")), lit(saltBuckets)))

  /** Extraction pass: typed mapPartitions, one tokenizer/regex set per JVM
    * (all static), zero shuffle. */
  def extract(turns: Dataset[Turn]): Dataset[ExtractedTurn] = {
    import turns.sparkSession.implicits._
    turns.mapPartitions(_.map(extractOne))
  }

  /** W2 stable turn ordering: `row_number` over (conv_id; turn_idx, ts).
    * Runs on post-extraction (compressed) rows. Mega-conversation sorts
    * rely on Spark's external sort + AQE; see [[scalableTurnPos]] for the
    * skew-proof two-pass variant. */
  def withTurnPos(extracted: Dataset[ExtractedTurn]): Dataset[ExtractedTurn] = {
    import extracted.sparkSession.implicits._
    val w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    extracted.withColumn("turn_pos", row_number().over(w).cast("long"))
      .as[ExtractedTurn]
  }

  /** Skew-proof ordering for conversations too large for a single task's
    * sort: range-partition by (conv_id, turn_idx, ts) so one conversation
    * spans many partitions, rank locally, then shift by per-(partition,
    * conv) prefix offsets (tiny aggregate, broadcast back). Output is
    * identical to [[withTurnPos]] whenever (turn_idx, ts) is unique per
    * conversation. */
  def scalableTurnPos(extracted: Dataset[ExtractedTurn], partitions: Int): Dataset[ExtractedTurn] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    // localCheckpoint (NOT cache): both the offsets pass and the output
    // pass must see the SAME range-partition assignment — a cache entry
    // that gets evicted/recomputed could re-sample different boundaries,
    // and a cacheManager entry would pin executor storage until a session-
    // wide clearCache. The checkpoint freezes rows + partitioning, leaves
    // the cacheManager empty, and its blocks free when the returned
    // Dataset is GC'd. Storage cost is identical to the old cache
    // (MEMORY_AND_DISK of the compressed post-extraction rows).
    val ranged = extracted
      .repartitionByRange(partitions, $"conv_id", $"turn_idx", $"ts")
      .sortWithinPartitions($"conv_id", $"turn_idx", $"ts")
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true)
    // prefix offsets per (partition, conversation), computed DISTRIBUTED:
    // a window partitioned by conv_id over the per-(partition, conv)
    // counts yields each conversation's running prefix. Only rows with a
    // NON-ZERO offset matter — i.e. conversations that span a range-
    // partition boundary — and there are at most O(#partitions + mega-
    // conversation spans) of those regardless of how many conversations
    // exist, so the broadcast stays tiny at any corpus size (a 10^9-conv
    // table must never ship 10^9 offset rows through the driver).
    val wOff = Window.partitionBy("conv_id").orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy($"_pid", $"conv_id").count()
      .withColumn("_off", coalesce(sum($"count").over(wOff), lit(0L)))
      .filter($"_off" > 0) // boundary-spanning (pid, conv) pairs only
      .select($"_pid", $"conv_id", $"_off")
    // left broadcast hash join streams `ranged` in place: within-partition
    // sort order survives, so the local running counter below stays valid
    ranged.join(broadcast(offsets), Seq("_pid", "conv_id"), "left")
      .na.fill(0L, Seq("_off"))
      .as[ExtractedTurnWithPid].mapPartitions { it =>
        var lastConv: String = null
        var local = 0L
        it.map { r =>
          if (r.conv_id != lastConv) { lastConv = r.conv_id; local = 0L }
          local += 1
          r.toExtracted(r._off + local)
        }
      }
  }

  /** conv_bucket assignment used for output partitioning / lineage. */
  def bucketOf(buckets: Int): org.apache.spark.sql.Column =
    pmod(hash(col("conv_id")), lit(buckets))

  /** Groups whose data phase runs at once. Measured on a 4-vCPU host with
    * the default Config: at 24,278 turns the hot run's median fell from
    * 5.35 s (one group at a time) to 4.12 s over 11 reps, and four in
    * flight were no faster than two; at 240k turns it fell from 14.5 s to
    * 13.0 s. The first hot run after a cold one (perfbench extract_full
    * `pass_s`, ten seeds) fell from a median of 8.95 s to 7.38 s, with
    * four in flight again no faster. Two also caps the cache at two
    * groups' rows. */
  private val GroupsInFlight = 2

  /** Full run with per-group checkpoint commits. Returns (rows written).
    *
    * Each group's data phase ([[writeGroup]]) runs on a pool of
    * [[GroupsInFlight]] threads, its jobs tagged with the job group
    * `run:<runId>:g<g>`. The calling thread awaits the groups in order and
    * appends a group's lineage rows only once its data phase has returned,
    * so lineage stays last per group and its appends stay serial: they
    * share `lineage/_temporary`, which concurrent appends would clean up
    * under each other. The data writes may overlap, since each dynamic
    * overwrite stages in its own `.spark-staging-<jobId>` directory and
    * groups own disjoint partitions.
    *
    * When a group fails, queued groups never start, the later group in
    * flight is cancelled, and the first failure in group order is rethrown
    * once the pool is idle: no lineage row exists for the failed group or
    * any later one, and no job of this run is still running. */
  def run(turns: Dataset[Turn], cfg: Config,
      stopAfterGroups: Int = Int.MaxValue): Long = {
    val spark = turns.sparkSession
    val sc = spark.sparkContext
    import spark.implicits._

    val doneBuckets: Set[Int] = completedBuckets(spark, cfg.outDir)
    val groups = (0 until math.min(cfg.groups, stopAfterGroups)).map { g =>
      val lo = g * cfg.buckets / cfg.groups
      val hi = (g + 1) * cfg.buckets / cfg.groups // exclusive
      g -> (lo until hi).filterNot(doneBuckets.contains)
    }.filter(_._2.nonEmpty)
    def jobGroup(g: Int) = s"run:${cfg.runId}:g$g"

    // the pool starts groups in submission order, so once this is set every
    // group still queued comes after the one that failed
    val stopped = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(GroupsInFlight)
    try {
      val pending = groups.map { case (g, groupBuckets) =>
        (g, groupBuckets, pool.submit(new Callable[Seq[MetricRow]] {
          def call(): Seq[MetricRow] = {
            if (stopped.get) throw new CancellationException(s"group $g not started")
            SparkSession.setActiveSession(spark)
            sc.setJobGroup(jobGroup(g), s"ExtractJob ${cfg.runId} group $g",
              interruptOnCancel = true)
            try writeGroup(turns, cfg, g, groupBuckets)
            catch { case e: Throwable => stopped.set(true); throw e }
          }
        }))
      }
      var written = 0L
      try pending.foreach { case (g, groupBuckets, result) =>
        val metricRows =
          try result.get() catch { case e: ExecutionException => throw e.getCause }
        // lineage LAST: a bucket is only "done" once its data + metrics
        // are durable (idempotent resume)
        val lineageRows = metricRows.map(m =>
          LineageRow(cfg.runId, g, m.conv_bucket, "done", m.rows_out)) ++
          groupBuckets.filterNot(b => metricRows.exists(_.conv_bucket == b))
            .map(b => LineageRow(cfg.runId, g, b, "done", 0L)) // empty buckets
        spark.createDataset(lineageRows).write.mode(SaveMode.Append)
          .format(cfg.format).save(s"${cfg.outDir}/lineage")
        written += metricRows.map(_.rows_out).sum
      } catch { case e: Throwable =>
        stopped.set(true)
        groups.foreach { case (g, _) => sc.cancelJobGroup(jobGroup(g)) }
        throw e
      }
      written
    } finally {
      pool.shutdown()
      while (!pool.awaitTermination(1, TimeUnit.SECONDS)) {}
    }
  }

  /** The data phase of group `g`: extract its buckets' turns, then write
    * pages, chunks and metrics. Returns the group's metric rows. */
  private def writeGroup(turns: Dataset[Turn], cfg: Config, g: Int,
      groupBuckets: Seq[Int]): Seq[MetricRow] = {
    val spark = turns.sparkSession
    import spark.implicits._
    // bucket is derivable from conv_id alone, so the resume/group
    // predicate applies BEFORE extraction: completed buckets are never
    // re-extracted (the whole point of per-partition lineage)
    val slice = turns.filter(bucketOf(cfg.buckets).isin(groupBuckets: _*))
      .as[Turn]
    val salted = cfg.saltPartitions match {
      case Some(p) => saltedByConv(slice, p, cfg.saltBuckets)
      case None => slice
    }
    val part = withTurnPos(extract(salted))
      .withColumn("conv_bucket", bucketOf(cfg.buckets))
      .cache()
    try {
      // pages table (turn envelope, nested chunks)
      part.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("conv_bucket")
        .format(cfg.format).save(s"${cfg.outDir}/pages")
      // chunks table (exploded, flat — the reference's chunk store)
      part.select($"conv_id", $"turn_idx", $"turn_pos", $"url", $"page_id",
          $"title", $"ts", $"conv_bucket", explode($"chunks").as("c"))
        .select($"conv_id", $"turn_idx", $"turn_pos", $"url", $"page_id",
          $"title", $"ts", $"c.id".as("chunk_id"),
          $"c.chunk_index", $"c.text", $"c.chunk_type", $"conv_bucket")
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("conv_bucket")
        .format(cfg.format).save(s"${cfg.outDir}/chunks")
      // metrics side table (exact, aggregated from output columns)
      val metrics = part.groupBy($"conv_bucket").agg(
          count(lit(1)).as("rows"), sum($"bytes_in").as("bytes_in"),
          sum($"bytes_out").as("bytes_out"), sum($"n_chunks").as("chunks_emitted"),
          sum($"blocks_kept").as("blocks_kept"), sum($"blocks_dropped").as("blocks_dropped"))
        .collect()
      val metricRows = metrics.map { r =>
        // rows_in == rows_out by construction: extraction is strictly
        // one ExtractedTurn per Turn (both kept so a future filtering
        // stage can diverge them)
        MetricRow(cfg.runId, g, r.getInt(0), r.getLong(1), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      }.toSeq
      // dynamic overwrite keyed by (run_id, group_id): a crash between
      // the metrics write and the lineage write re-runs the group, and
      // the re-run REPLACES this group's metrics instead of appending
      // duplicates — metrics stay exact under resume
      spark.createDataset(metricRows).write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id", "group_id")
        .format(cfg.format).save(s"${cfg.outDir}/metrics")
      metricRows
    } finally part.unpersist()
  }

  /** Buckets already marked done in the lineage table (resume support). */
  def completedBuckets(spark: SparkSession, outDir: String): Set[Int] = {
    val path = new org.apache.hadoop.fs.Path(s"$outDir/lineage")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Set.empty
    else spark.read.parquet(s"$outDir/lineage")
      .filter(col("status") === "done")
      .select("conv_bucket").distinct()
      .collect().map(_.getInt(0)).toSet
  }

  def readPages(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/pages")

  def readChunks(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/chunks")
}

/** Row shape used internally by [[ExtractJob.scalableTurnPos]]. `_off` is
  * the turn-count prefix of this conversation in partitions before `_pid`. */
final case class ExtractedTurnWithPid(
    conv_id: String, turn_idx: Int, turn_pos: Long, url: String, page_id: String,
    role: String, tool: String, ts: java.sql.Timestamp, title: String,
    author: Option[String], published: Option[String], updated: String,
    language: String, summary: String, chunks: Seq[ChunkOut],
    metadata: MetadataOut, n_chunks: Int, bytes_in: Long, bytes_out: Long,
    blocks_kept: Int, blocks_dropped: Int, _pid: Int, _off: Long) {
  def toExtracted(pos: Long): ExtractedTurn = ExtractedTurn(
    conv_id, turn_idx, pos, url, page_id, role, tool, ts, title, author,
    published, updated, language, summary, chunks, metadata, n_chunks,
    bytes_in, bytes_out, blocks_kept, blocks_dropped)
}
