package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Random, Try}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.query.Queries

/** `queries`: a closed loop with one client over a fixed list of registry
  * queries, each forced through a noop write. A pass runs every query once;
  * the seed shuffles the order within each pass. */
object QueryWorkload {
  import Main.{Metric, Outcome}

  /** One pass, in list order before the seeded shuffle. The first six are
    * the read surface: the aggregate and broadcast-join plan families of
    * `Queries`, then `Gateway`, `RateLimits`, `Analytics` and `Caching`,
    * where per-query fixed cost dominates (planning, scheduling, footer
    * reads). The last two are the heavy path of `graft.ops`: MinHash
    * banding (its production-hash twin) and the curation pipeline's
    * feature UDFs, shuffles and anti-joins. */
  val Keys: Seq[String] = Seq("q1_agg", "j1_broadcast_join", "g1_gateway_route",
    "a6_rate_window", "a8_analytics_rollup", "c1_conditional_cache", "x_minhash_pairs",
    "x_curation_pipeline")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val registry: Map[String, (SparkSession, String) => DataFrame] =
    Queries.registry.map { case (k, q) => k -> q.fn }.toMap ++
      Queries.benchProductionOverrides

  /** Runs one query to a noop sink and returns its latency and a digest of
    * its output rows, observed in the same pass over the data. A traced
    * pass times the construction of the DataFrame as its own span under
    * `parent`: every Dataset step analyzes eagerly while it is built, and
    * the table reads open their parquet footers there. */
  private def execute(spark: SparkSession, key: String, tables: String,
      traced: Option[(Trace, Long)]): (Double, String) = {
    val obs = Observation(s"digest_$key")
    val t = System.nanoTime()
    def build(): DataFrame = {
      val df = registry(key)(spark, tables)
      // maps are not hashable; their JSON text is
      val cols = df.schema.fields.toSeq.map { f =>
        val c = col(s"`${f.name}`")
        if (f.dataType.isInstanceOf[MapType]) to_json(c) else c
      }
      df.observe(obs, count(lit(1)).as("n"), sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h"))
    }
    val df = traced.fold(build()) { case (tr, parent) => tr.span(s"build.$key", parent)(_ => build())._1 }
    df.write.format("noop").mode("overwrite").save()
    val latency = secs(t)
    val m = obs.get
    (latency, s"${m("n")}:${m("h")}")
  }

  def run(a: Main.Args): Outcome = {
    val tables = a.tables
    val t0 = System.nanoTime()
    val spark = Main.session(Main.Cores, a.work)
    var attempted = 0
    var failed = 0
    val reference = scala.collection.mutable.Map.empty[String, String]
    val mismatched = scala.collection.mutable.Set.empty[String]

    /** One pass in seeded order; per-query latencies of the queries that
      * succeeded with their reference digest. A traced pass runs each
      * query in a span under `traced`'s parent. */
    def pass(p: Int, traced: Option[(Trace, Long)]): Seq[(String, Double)] =
      new Random(a.seed * 1009 + p).shuffle(Keys).flatMap { k =>
        attempted += 1
        def one(q: Option[(Trace, Long)]): Double = {
          val (lat, d) = execute(spark, k, tables, q)
          if (reference.getOrElseUpdate(k, d) != d) {
            mismatched += k
            throw new IllegalStateException(s"$k: digest $d differs from ${reference(k)}")
          }
          lat
        }
        Try(traced.fold(one(None)) { case (tr, parent) =>
          tr.span(s"q.$k", parent)(id => one(Some(tr -> id)))._1
        }).fold({ e =>
          failed += 1
          System.err.println(s"query $k failed: $e")
          None
        }, lat => Some(k -> lat))
      }

    // the cold pass belongs to set-up
    pass(0, None)
    val setup = secs(t0)
    // pass times keep falling for a few passes after the cold one. An
    // untraced run takes per-query medians over at least three hot passes,
    // which drop the slow first one; a traced run, whose layers are means
    // of two traced passes, runs one warm-up pass first
    if (a.trace) pass(1, None)
    val first = if (a.trace) 2 else 1

    // hot passes; a traced run alternates traced and untraced passes
    // (T U U T ...) so the tracing overhead is measured inside one process
    val trace = if (a.trace) Some(new Trace(s"${a.workload}-seed${a.seed}")) else None
    val hot = ArrayBuffer.empty[Seq[(String, Double)]]
    val tracedPasses = ArrayBuffer.empty[(Span, Seq[(String, Double)])]
    val untracedTimes = ArrayBuffer.empty[Double]
    val minPasses = if (a.trace) 4 else 3
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var p = first
    while (p < first + minPasses || System.nanoTime() < deadline) {
      val traced = trace.isDefined && ((p - first) % 4 == 0 || (p - first) % 4 == 3)
      val lats = trace.filter(_ => traced) match {
        case Some(tr) =>
          tr.attach(spark)
          val (l, s) = tr.span(s"pass $p")(id => pass(p, Some(tr -> id)))
          tr.detach(spark)
          tracedPasses += s -> l
          l
        case None =>
          val l = pass(p, None)
          untracedTimes += l.map(_._2).sum
          l
      }
      hot += lats
      p += 1
    }

    // the digest's first field is the query's output row count
    val checks = Keys.map(k => s"$k result digest is identical across passes (${
      reference.get(k).map(_.takeWhile(_ != ':')).getOrElse("no")} rows)" ->
      (reference.contains(k) && !mismatched(k)))
    val metrics = if (!a.trace) Seq(
      Metric("setup_s", setup, "s"),
      // a typical pass: each query at its median latency, one after another
      Metric("pass_s", hot.flatten.groupBy(_._1).values.map(l => Stats.median(l.map(_._2).toSeq))
        .sum, "s"))
    else {
      val tr = trace.get
      val perPass = tracedPasses.toSeq.map { case (s, lats) =>
        val jobs = tr.jobsIn(s)
        val stages = tr.stagesOf(jobs)
        // planning is the DataFrame construction (minus any Spark job it
        // ran) plus the tracker's phases of the executions outside it
        val builds = tr.spansIn(s, "build.")
        val plan = builds.map(b => b.seconds - tr.jobsIn(b).map(_.seconds).sum).sum +
          tr.planningSecondsIn(s, builds)
        val total = lats.map(_._2).sum
        lats.map { case (k, l) => s"q.$k.s" -> l }.toMap ++ Map(
          "catalyst.plan_s" -> plan, "catalyst.exec_s" -> (total - plan),
          "query.jobs" -> jobs.size.toDouble,
          "query.shuffle_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
          "query.spill_bytes" -> stages.map(_.spill).sum.toDouble)
      }
      val keys = perPass.flatMap(_.keys).distinct
      val meanT = Stats.mean(tracedPasses.map(_._2.map(_._2).sum).toSeq)
      val meanU = Stats.mean(untracedTimes.toSeq)
      (keys.map(k => k -> Stats.median(perPass.flatMap(_.get(k)))) ++ Seq(
        "trace.overhead_pct" -> (if (meanU > 0) (meanT / meanU - 1) * 100 else 0.0),
        "driver.peak_heap_mb" -> Main.peakHeapMb)).map { case (k, v) =>
        Metric(k, v, Catalogue.unit(k)) }
    }
    trace.foreach(t => println(s"trace ${t.export(new java.io.File(a.work.getParentFile,
      s"traces/${a.workload}-seed${a.seed}.jsonl"))} spans written"))
    Main.stop(spark)
    Outcome(attempted, failed, checks, metrics)
  }
}
