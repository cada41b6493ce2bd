package perfbench

import java.io.File
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter
import scala.collection.mutable.ArrayBuffer
import scala.util.{Random, Try}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.{ChunkHtml, HtmlDom, SpanFlatten}
import graft.job.ExtractJob
import graft.model.{ExtractedTurn, Turn}

/** `extract_full`: `ExtractJob.run` with the default `Config` into a fresh
  * output directory, one job at a time, on the seeded transcripts. */
object ExtractWorkload {
  import Main.{Metric, Outcome}

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def noop(ds: Dataset[_]): Unit = ds.write.format("noop").mode("overwrite").save()

  /** Order-independent digest of every table a run writes. */
  def digest(spark: SparkSession, out: String): String =
    Seq("pages", "chunks", "metrics", "lineage").map { t =>
      val df = spark.read.parquet(s"$out/$t")
      val r = df.select(count(lit(1)),
        sum(xxhash64(to_json(struct(df.columns.sorted.map(col).toSeq: _*))).cast("decimal(38,0)")))
        .head()
      s"$t:${r.getLong(0)}:${r.get(1)}"
    }.mkString(" ")

  /** The output contract of one run over `expected` input turns. */
  def contractChecks(spark: SparkSession, out: String, expected: Long,
      buckets: Int): Seq[(String, Boolean)] = {
    import spark.implicits._
    val pages = spark.read.parquet(s"$out/pages")
    val pageAgg = pages.agg(count(lit(1)), sum("n_chunks")).head()
    val chunkRows = spark.read.parquet(s"$out/chunks").count()
    val done = spark.read.parquet(s"$out/lineage").filter($"status" === "done")
      .select("conv_bucket").distinct().count()
    val m = spark.read.parquet(s"$out/metrics").agg(sum("rows_in"), sum("rows_out")).head()
    Seq(
      "page rows equal input turns" -> (pageAgg.getLong(0) == expected),
      "chunk rows equal sum of n_chunks" -> (chunkRows == pageAgg.getLong(1)),
      "every bucket has a done lineage row" -> (done == buckets),
      "metrics rows_in and rows_out sum to the input" ->
        (m.getLong(0) == expected && m.getLong(1) == expected))
  }

  /** Re-extracts a seeded sample of conversations in the driver through
    * `extractOne`, orders each by (turn_idx, ts), and compares the result
    * row for row with the written pages. */
  def sampleMatches(spark: SparkSession, turns: Dataset[Turn], out: String,
      seed: Long): Boolean = {
    import spark.implicits._
    val convIds = turns.select("conv_id").distinct().as[String].collect().sorted
    val sample = new Random(seed).shuffle(convIds.toSeq).take(24) ++
      convIds.filter(_.startsWith("mega-"))
    val expected = turns.filter($"conv_id".isin(sample: _*)).collect()
      .groupBy(_.conv_id).values.toSeq.flatMap(ts =>
        ts.sortBy(t => (t.turn_idx, t.ts.getTime)).zipWithIndex.map { case (t, i) =>
          ExtractJob.extractOne(t).copy(turn_pos = i + 1L) })
      .sortBy(e => (e.conv_id, e.turn_pos))
    val written = spark.read.parquet(s"$out/pages").filter($"conv_id".isin(sample: _*))
      .drop("conv_bucket").as[ExtractedTurn].collect().toSeq
      .sortBy(e => (e.conv_id, e.turn_pos))
    expected.nonEmpty && expected == written
  }

  def run(a: Main.Args): Outcome = {
    val input = new File(a.work, "input").getAbsolutePath
    val t0 = System.nanoTime()
    var spark = Main.session(Main.Cores, a.work)
    val sessionStart = secs(t0)
    // generation is untimed: set-up is session start plus the cold job
    val inputBytes = Inputs.writeTranscripts(spark, a.seed, input).toDouble

    val cfg = ExtractJob.Config(outDir = "")
    def turnsOf(s: SparkSession): Dataset[Turn] = {
      import s.implicits._
      s.read.parquet(input).as[Turn]
    }
    var turns = turnsOf(spark)
    var attempted = 0
    var failed = 0
    var rep = 0
    /** One timed job into a fresh directory; None when it threw. */
    def job(): Option[(Double, String)] = {
      rep += 1
      attempted += 1
      val out = new File(a.work, s"out-$rep").getAbsolutePath
      val t = System.nanoTime()
      val r = Try(ExtractJob.run(turns, cfg.copy(outDir = out)))
      val s = secs(t)
      if (r.isFailure) {
        failed += 1
        System.err.println(s"ExtractJob.run failed: ${r.failed.get}")
        None
      } else Some((s, out))
    }

    val cold = job()
    val checks = ArrayBuffer.empty[(String, Boolean)]
    val refDigest = cold.map(c => digest(spark, c._2))
    checks += "input holds the expected turns" -> (turns.count() == Inputs.ExpectedTurns)
    cold.foreach { case (_, out) =>
      checks ++= contractChecks(spark, out, Inputs.ExpectedTurns, cfg.buckets)
      checks += "sampled conversations re-extract row for row" ->
        sampleMatches(spark, turns, out, a.seed)
    }
    val metricsRow: Option[(Double, Double)] = cold.map { case (_, out) =>
      val m = spark.read.parquet(s"$out/metrics")
        .agg(sum("bytes_in"), sum("bytes_out"), sum("blocks_kept"), sum("blocks_dropped")).head()
      (m.getLong(1).toDouble / m.getLong(0),
        m.getLong(3).toDouble / (m.getLong(2) + m.getLong(3)))
    }
    cold.foreach(c => Files.deleteRecursively(new File(c._2)))
    var digestsAgree = true
    def verify(out: String): Unit = {
      if (!refDigest.contains(digest(spark, out))) digestsAgree = false
      Files.deleteRecursively(new File(out))
    }
    val setup = sessionStart + cold.map(_._1).getOrElse(0.0)
    // a traced run compares traced with untraced reps, so it first runs one
    // warm-up job that finishes the JIT work the cold job started
    if (a.trace) job().foreach(w => verify(w._2))

    // hot reps; a traced run alternates traced and untraced reps
    // (T U U T ...) so the tracing overhead is measured inside one process
    val trace = if (a.trace) Some(new Trace(s"${a.workload}-seed${a.seed}")) else None
    val times = ArrayBuffer.empty[Double]
    val tracedTimes = ArrayBuffer.empty[Double]
    val untracedTimes = ArrayBuffer.empty[Double]
    val storedRatios = ArrayBuffer.empty[Double]
    val repLayers = ArrayBuffer.empty[Map[String, Double]]
    val minReps = if (a.trace) 4 else 1
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    while (i < minReps || System.nanoTime() < deadline) {
      val traced = trace.isDefined && (i % 4 == 0 || i % 4 == 3)
      if (traced) trace.get.attach(spark)
      val cache0 = trace.map(_.cacheBytes).getOrElse(0L)
      val res = trace.filter(_ => traced) match {
        case Some(tr) =>
          val (r, s) = tr.span("ExtractJob.run")(_ => job())
          tr.detach(spark)
          r.map { case (t, out) => repLayers += runLayers(tr, s, tr.cacheBytes - cache0, out); (t, out) }
        case None => job()
      }
      res.foreach { case (t, out) =>
        times += t
        (if (traced) tracedTimes else untracedTimes) += t
        storedRatios += Files.dataBytes(out) / inputBytes
        verify(out)
      }
      i += 1
    }
    checks += "every rep writes the same content digest" -> digestsAgree

    val n = Inputs.ExpectedTurns.toDouble
    val metrics = if (!a.trace) Seq(
      Metric("setup_s", setup, "s"),
      Metric("pass_s", Stats.median0(times), "s"))
    else {
      val tr = trace.get
      tr.attach(spark)
      val (prefix, pagesPrefix) = prefixLayers(spark, tr, turns, cfg)
      tr.detach(spark)
      val perTurn = perTurnCosts(turns, a.seed)
      // both sides of the scaling ratio are untraced hot jobs under the
      // same session configuration; only the master's thread count differs
      val tps4 = n / Stats.median0(untracedTimes)
      Main.stop(spark)
      spark = Main.session(1, a.work)
      turns = turnsOf(spark)
      val singles = (0 to 2).flatMap { r =>
        val j = job()
        j.foreach(o => Files.deleteRecursively(new File(o._2)))
        if (r == 0) None else j.map(_._1) // the first job in the new context warms it up
      }
      val tps1 = if (singles.isEmpty) 0.0 else n / Stats.median(singles)
      val layers = repLayers.flatMap(_.keys).distinct.map(k =>
        k -> Stats.mean(repLayers.map(_.getOrElse(k, 0.0)).toSeq))
      val pagesSelf = layers.collectFirst { case ("run.pages_write_s", v) => v - pagesPrefix }
      val meanT = Stats.mean(tracedTimes.toSeq)
      val meanU = Stats.mean(untracedTimes.toSeq)
      (prefix ++ perTurn ++ layers ++ Seq(
        "extract.bytes_out_per_byte_in" -> metricsRow.map(_._1).getOrElse(0.0),
        "extract.blocks_dropped_share" -> metricsRow.map(_._2).getOrElse(0.0),
        "run.pages_write_self_s" -> pagesSelf.getOrElse(0.0),
        "run.stored_bytes_ratio" -> Stats.median0(storedRatios),
        "run.turns_per_s" -> tps4,
        "run.scaling_eff" -> (if (tps1 > 0) tps4 / (Main.Cores * tps1) else 0.0),
        "trace.overhead_pct" -> (if (meanU > 0) (meanT / meanU - 1) * 100 else 0.0),
        "driver.peak_heap_mb" -> Main.peakHeapMb)).map { case (k, v) =>
        Metric(k, v, Catalogue.unit(k)) }
    }
    trace.foreach(t => println(s"trace ${t.export(new File(a.work.getParentFile,
      s"traces/${a.workload}-seed${a.seed}.jsonl"))} spans written"))
    Main.stop(spark)
    Outcome(attempted, failed, checks.toSeq, metrics)
  }

  /** Phase times of one traced `ExtractJob.run`, attributed through the SQL
    * executions it submitted: a write by its output table, the lineage
    * read by its source, and the remaining action (the metrics aggregate
    * collect) to `metrics_s`. Phases plus `driver_gap_s` equal `job_s`. */
  private def runLayers(tr: Trace, rep: Span, cacheBytes: Long, out: String): Map[String, Double] = {
    val execs = tr.execsIn(rep)
    def phase(x: ExecRec): String = x.outputPath.map(p => new File(p).getName) match {
      case Some("pages") => "run.pages_write_s"
      case Some("chunks") => "run.chunks_write_s"
      case Some("metrics") => "run.metrics_write_s"
      case Some("lineage") => "run.lineage_write_s"
      case _ if x.plan.contains("/lineage]") => "run.lineage_read_s"
      case _ => "run.metrics_s"
    }
    val phases = Catalogue.RunPhases.map(p =>
      p -> execs.filter(x => phase(x) == p).map(x => (x.end - x.start) / 1000.0).sum)
    val jobs = tr.jobsIn(rep)
    val stages = tr.stagesOf(jobs)
    phases.toMap ++ Map(
      "run.job_s" -> rep.seconds,
      "run.driver_gap_s" -> (rep.seconds - phases.map(_._2).sum),
      "run.jobs" -> jobs.size.toDouble,
      "run.tasks" -> stages.map(_.taskMs.size).sum.toDouble,
      "run.files_written" -> Files.dataFileCount(out).toDouble,
      "run.bytes_written" -> Files.dataBytes(out).toDouble,
      "run.cache_bytes" -> cacheBytes.toDouble,
      "run.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "run.gc_s" -> stages.map(_.gcMs).sum / 1000.0)
  }

  /** Cumulative noop-sink prefixes of the job's read path, each the median
    * of three: scan, scan+extract, scan+extract+window. Returns them with
    * the prefix of the pages write as `run` submits it: one
    * scan+extract+window per group over that group's bucket slice. Each
    * group rescans the whole input, because parquet cannot prune the
    * bucket predicate. */
  private def prefixLayers(spark: SparkSession, tr: Trace, turns: Dataset[Turn],
      cfg: ExtractJob.Config): (Seq[(String, Double)], Double) = {
    import spark.implicits._
    def timed(name: String)(run: => Unit): (Double, Seq[Span]) = {
      val spans = (1 to 3).map(_ => tr.span(name)(_ => run)._2)
      (Stats.median(spans.map(_.seconds)), spans)
    }
    def window(ds: Dataset[Turn]) = ExtractJob.withTurnPos(ExtractJob.extract(ds))
    val (scan, _) = timed("scan")(noop(turns))
    val (ext, _) = timed("scan+extract")(noop(ExtractJob.extract(turns)))
    val (win, winSpans) = timed("scan+extract+window")(noop(window(turns)))
    val (grouped, _) = timed("pages prefix by group") {
      (0 until cfg.groups).foreach { g =>
        val buckets = g * cfg.buckets / cfg.groups until (g + 1) * cfg.buckets / cfg.groups
        noop(window(turns.filter(ExtractJob.bucketOf(cfg.buckets).isin(buckets: _*)).as[Turn]))
      }
    }
    tr.drain(spark)
    val stages = tr.stagesOf(tr.jobsIn(winSpans.last))
    val reduceTasks = stages.filter(_.shuffleRead > 0).flatMap(_.taskMs)
    (Seq("scan.s" -> scan, "extract.s" -> (ext - scan), "window.s" -> (win - ext),
      "window.shuffle_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "window.task_skew" -> (if (reduceTasks.isEmpty) 0.0
        else reduceTasks.max / math.max(1.0, Stats.median(reduceTasks)))), grouped)
  }

  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx")
    .withZone(ZoneOffset.UTC)

  /** Spark-free per-turn costs over a seeded sample, in a driver loop:
    * the four parts add up to `extractOne` per turn. Each loop is the
    * median of five passes. */
  private def perTurnCosts(turns: Dataset[Turn], seed: Long): Seq[(String, Double)] = {
    val sample = turns.sample(withReplacement = false, 0.1, seed).limit(2000).collect()
    val (raw, html) = sample.partition(t => ExtractJob.RawFallbackTools.contains(t.tool))
    val htmlArgs = html.map(t => (s"${t.conv_id}#${t.turn_idx}", t.text,
      Some(isoFmt.format(t.ts.toInstant))))
    var sink = 0L
    def loop(f: => Unit): Double = Stats.median((1 to 5).map { _ =>
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e3 })
    val dom = loop(htmlArgs.foreach(h => sink += HtmlDom.parse(h._2).hashCode))
    val chunk = loop(htmlArgs.foreach(h => sink += ChunkHtml.extract(h._1, h._2, h._3).blocksKept))
    val flat = loop(raw.foreach(t => sink += SpanFlatten.flatten(t.text).spansKept))
    val row = loop(sample.foreach(t => sink += ExtractJob.extractOne(t).n_chunks))
    val n = sample.length.toDouble
    if (sink == 42) println("") // keeps the loops' results live
    Seq("extract.dom_us_per_turn" -> dom / n,
      "extract.chunk_us_per_turn" -> (chunk - dom) / n,
      "extract.flatten_us_per_turn" -> flat / n,
      "extract.row_us_per_turn" -> (row - chunk - flat) / n)
  }
}
