package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds with sub-millisecond
  * fractions; `parent` is the id of the enclosing span (0 at the top). */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, run: String) {
  def seconds: Double = (end - start) / 1000.0
  def contains(t: Double): Boolean = t >= start && t <= end
}

final class StageRec(val id: Int, val jobId: Int, val name: String) {
  var start = 0.0
  var end = 0.0
  val taskMs = mutable.ArrayBuffer.empty[Double]
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L
}

final class JobRec(val id: Int, val start: Double, val execId: Option[Long]) {
  var end = 0.0
  def seconds: Double = (end - start) / 1000.0
}

/** A SQL execution: one action or write command. `plan` is its physical
  * plan description, which names the files a scan reads; `outputPath` is
  * the table directory a file write targets. */
final class ExecRec(val id: Long) {
  var start = 0.0
  var end = 0.0
  var plan = ""
  var outputPath: Option[String] = None
}

object ExecRec {
  /** Only a file write's arguments start with its target path. */
  private val writeTarget = """Arguments: (file:[^,\s]+)""".r
  def outputPath(plan: String): Option[String] =
    writeTarget.findFirstMatchIn(plan).map(_.group(1))
}

/** Collects driver spans, Spark jobs, stages and SQL executions in memory.
  * Nothing is written until [[export]], once, at the end of the run.
  *
  * Spark-side records come from a `SparkListener` and a
  * `QueryExecutionListener` owned by the benchmark; the library code runs
  * unchanged. Listener callbacks arrive on Spark's listener thread, so
  * readers call [[drain]] first. */
final class Trace(val run: String) {
  private var nextId = 0L
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  /** Catalyst analysis + optimization + planning per query execution, as
    * (time the last phase ended, milliseconds spent). */
  val planning = mutable.ArrayBuffer.empty[(Double, Double)]
  var cacheBytes = 0L

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Times `f` as a driver span under `parent`. */
  def span[T](name: String, parent: Long = 0L)(f: Long => T): (T, Span) = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = nowMs
    val r = f(id)
    val s = Span(id, name, t0, nowMs, parent, run)
    synchronized(spans += s)
    (r, s)
  }

  private def exec(id: Long): ExecRec = execs.getOrElseUpdate(id, new ExecRec(id))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val execId = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs(e.jobId) = new JobRec(e.jobId, e.time.toDouble, execId)
      e.stageInfos.foreach(si => stages.getOrElseUpdate(si.stageId,
        new StageRec(si.stageId, e.jobId, si.name)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val si = e.stageInfo
        stages.get(si.stageId).foreach { s =>
          s.start = si.submissionTime.getOrElse(0L).toDouble
          s.end = si.completionTime.getOrElse(0L).toDouble
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stages.get(e.stageId).foreach { s =>
        s.taskMs += e.taskInfo.duration.toDouble
        Option(e.taskMetrics).foreach { m =>
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.diskBytesSpilled
          s.gcMs += m.jvmGCTime
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Trace.this.synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD && b.storageLevel.isValid) cacheBytes += b.memSize + b.diskSize
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val x = exec(s.executionId)
          x.start = s.time.toDouble
          x.plan = s.physicalPlanDescription
          x.outputPath = ExecRec.outputPath(x.plan)
        case s: SparkListenerSQLExecutionEnd => exec(s.executionId).end = s.time.toDouble
        case _ =>
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty) planning +=
          (phases.map(_.endTimeMs).max.toDouble -> phases.map(_.durationMs).sum.toDouble)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def drain(spark: SparkSession): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  def jobsIn(s: Span): Seq[JobRec] = synchronized(jobs.values.filter(j => s.contains(j.start)).toSeq)
  def execsIn(s: Span): Seq[ExecRec] = synchronized(execs.values.filter(x => s.contains(x.end)).toSeq)
  /** Driver spans inside `s` whose names start with `prefix`. */
  def spansIn(s: Span, prefix: String): Seq[Span] =
    synchronized(spans.filter(c => c.name.startsWith(prefix) && s.contains(c.start)).toSeq)
  /** Catalyst phase seconds of the executions that ended planning inside
    * `s` and outside every span of `except`. */
  def planningSecondsIn(s: Span, except: Seq[Span] = Nil): Double = synchronized(
    planning.filter(p => s.contains(p._1) && !except.exists(_.contains(p._1))).map(_._2).sum) / 1000.0
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    val ids = js.map(_.id).toSet
    stages.values.filter(s => ids.contains(s.jobId)).toSeq
  }

  /** Writes every span as one JSON line: driver spans, then SQL
    * executions, Spark jobs and stages nested under them. */
  def export(file: File): Int = synchronized {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    var n = 0
    def line(id: String, name: String, start: Double, end: Double, parent: String): Unit = {
      out.println(Json.obj(Seq("id" -> Json.str(id), "name" -> Json.str(name),
        "start_ms" -> Json.num(start), "end_ms" -> Json.num(end),
        "parent" -> Json.str(parent), "run" -> Json.str(run))))
      n += 1
    }
    def enclosing(t: Double): String =
      spans.filter(_.contains(t)).sortBy(_.start).lastOption.map(s => s"d${s.id}").getOrElse("")
    try {
      spans.foreach(s => line(s"d${s.id}", s.name, s.start, s.end,
        if (s.parent == 0) "" else s"d${s.parent}"))
      execs.values.foreach(x => line(s"x${x.id}",
        x.outputPath.map(p => s"write ${new File(p).getName}").getOrElse("action"),
        x.start, x.end, enclosing(x.start)))
      jobs.values.foreach(j => line(s"j${j.id}", s"job ${j.id}", j.start, j.end,
        j.execId.filter(execs.contains).map(x => s"x$x").getOrElse(enclosing(j.start))))
      stages.values.filter(_.end > 0).foreach(s =>
        line(s"s${s.id}", s.name, s.start, s.end, s"j${s.jobId}"))
    } finally out.close()
    n
  }
}
