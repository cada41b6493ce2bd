package perfbench

import java.io.{File, FileWriter}
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Untraced runs print the end-to-end metrics; traced runs print the
  * per-layer metrics. The last stdout line is the JSON result; the lines
  * before it are the same numbers as a table, with the run's environment.
  * `perfbench/README.md` describes the workloads and metrics. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, tables: String, env: Seq[(String, String)])

  final case class Metric(name: String, value: Double, unit: String)

  final case class Outcome(attempted: Int, failed: Int, checks: Seq[(String, Boolean)],
      metrics: Seq[Metric]) {
    def correct: Boolean = failed == 0 && checks.forall(_._2)
  }

  val Cores: Int = Runtime.getRuntime.availableProcessors()

  /** The one session configuration every workload and every commit uses
    * (the `graft.Bench` settings, shuffle partitions fixed at `Cores`),
    * with Spark's scratch space kept inside the work directory. Only the
    * master's thread count varies, for the local[1] side of the scaling
    * ratio. */
  def session(threads: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def peakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

  /** Orders the metrics as listed; a per-layer metric the workload does not
    * exercise reads 0. */
  private def fill(o: Outcome, listed: Seq[(String, String)]): Outcome = {
    val got = o.metrics.map(m => m.name -> m).toMap
    val unlisted = got.keySet -- listed.map(_._1)
    require(unlisted.isEmpty, s"unlisted metrics: ${unlisted.mkString(", ")}")
    o.copy(metrics = listed.map { case (k, u) => got.getOrElse(k, Metric(k, 0.0, u)) })
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $o")
    }
    val env = Seq("nproc" -> Cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString) ++
      Seq("git_sha", "source_digest").flatMap(k => kv.get(k).map(k -> _))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace,
      new File(need("work")), need("tables"), env)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workloads: Map[String, Args => Outcome] = Map(
      "extract_full" -> ExtractWorkload.run, "queries" -> QueryWorkload.run)
    val body = workloads.getOrElse(args.workload, throw new IllegalArgumentException(
      s"unknown workload ${args.workload}; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    args.work.mkdirs()
    val header = Seq("workload" -> args.workload, "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString, "trace" -> (if (args.trace) "1" else "0")) ++ args.env
    println("perfbench " + header.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val out = fill(body(args), if (args.trace) Catalogue.PerLayer else Catalogue.EndToEnd)
    out.checks.foreach { case (name, ok) => println(f"check ${if (ok) "ok  " else "FAIL"} $name") }
    out.metrics.foreach(m => println(f"metric ${m.name}%-36s ${m.value}%14.6f ${m.unit}"))
    println(s"attempted ${out.attempted} failed ${out.failed}")
    val metricsJson = Json.obj(out.metrics.map(m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
    // every result is kept with the environment it was measured in
    val record = Json.obj(header.map { case (k, v) => k -> Json.str(v) } ++ Seq(
      "correct" -> out.correct.toString, "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString, "metrics" -> metricsJson))
    val log = new FileWriter(new File(args.work.getParentFile, "results.jsonl"), true)
    try log.write(record + "\n") finally log.close()
    println(Json.obj(Seq("correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "metrics" -> metricsJson)))
  }
}
