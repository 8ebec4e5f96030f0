package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-layer tracing from outside the engine: spans timed around the
  * benchmark's calls into each module, a SparkListener for the runtime
  * (jobs, stages, tasks and their metrics) and a QueryExecutionListener for
  * the planner's phase times. Disabled, every method is a pass-through and
  * no listener is registered. Statement-level attribution is by wall-clock
  * window: the loop is single-client, so every job a statement launches
  * starts inside that statement's window. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private var active = false
  private val spans = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  def begin(traced: Boolean): Unit = active = traced
  def end(): Unit = active = false

  /** Time `body` as one call of layer span `name` when the current
    * statement is traced. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e9
    }

  /** Add `v` to counter `name` when the current statement is traced. */
  def count(name: String, v: Double): Unit =
    if (active) counters(name) = counters.getOrElse(name, 0.0) + v

  /** Mean seconds per traced call of span `name`; 0 when never called. */
  def spanMean(name: String): Double =
    spans.get(name).filter(_.nonEmpty).map(xs => xs.sum / xs.size).getOrElse(0.0)
  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  private final class JobRec(val start: Long) {
    @volatile var end: Long = start
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var gcMs = 0L
    var inRecords = 0L
    var inBytes = 0L
    var shuffleWrite = 0L
    var outBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  /** (analysis start ms, analysis s, optimization s, planning s) per query. */
  private val phases = mutable.ArrayBuffer.empty[(Long, Double, Double, Double)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs(e.jobId) = new JobRec(e.time)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.synchronized {
        stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (j <- stageToJob.get(e.stageId); r <- jobs.get(j); m <- Option(e.taskMetrics)) {
        r.tasks += 1
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.inRecords += m.inputMetrics.recordsRead
        r.inBytes += m.inputMetrics.bytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def note(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def secs(p: String) = ph.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
      ph.get("analysis").foreach { a =>
        phases.synchronized(phases += ((a.startTimeMs, secs("analysis"),
          secs("optimization"), secs("planning"))))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runtime and planner figures of one traced statement. */
  final case class StmtExec(wall: Double, jobs: Int, stages: Int, tasks: Int,
      jobWall: Double, gap: Double, cpu: Double, gc: Double, inRecords: Long,
      inBytes: Long, shuffleWrite: Long, outBytes: Long, analysis: Double,
      optimization: Double, planning: Double)

  /** Attribute jobs and planner phases to the traced statements whose
    * wall-clock window holds their start. Waits for the listener bus first. */
  def attribute(samples: Seq[Sample]): Seq[StmtExec] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val traced = samples.filter(_.traced)
    val js = jobs.synchronized(jobs.values.toSeq)
    val ps = phases.synchronized(phases.toSeq)
    traced.map { s =>
      def inside(t: Long) = t >= s.t0Ms && t <= s.t1Ms
      val mine = js.filter(j => inside(j.start))
      // union of the job intervals, clipped to the statement window
      val iv = mine.map(j => (j.start, math.min(math.max(j.end, j.start), s.t1Ms)))
        .sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      val jobWall = covered / 1000.0
      val myPh = ps.filter(p => inside(p._1))
      StmtExec(s.seconds, mine.size, mine.map(_.stages).sum, mine.map(_.tasks).sum,
        jobWall, math.max(0.0, s.seconds - jobWall), mine.map(_.cpuNs).sum / 1e9,
        mine.map(_.gcMs).sum / 1000.0, mine.map(_.inRecords).sum,
        mine.map(_.inBytes).sum, mine.map(_.shuffleWrite).sum,
        mine.map(_.outBytes).sum, myPh.map(_._2).sum, myPh.map(_._3).sum,
        myPh.map(_._4).sum)
    }
  }
}

/** Sizes and counts of a world directory tree, read from the filesystem. */
final case class TreeStats(dataFiles: Int, dvFiles: Int, manifests: Int,
    bytes: Long, files: Map[String, Long])

object TreeStats {
  def of(root: String): TreeStats = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) return TreeStats(0, 0, 0, 0L, Map.empty)
    val files = mutable.LinkedHashMap.empty[String, Long]
    val it = java.nio.file.Files.walk(base).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (java.nio.file.Files.isRegularFile(p))
        files(base.relativize(p).toString) = java.nio.file.Files.size(p)
    }
    val names = files.keys.toSeq
    TreeStats(
      names.count(n => n.startsWith("c0=") && n.endsWith(".parquet")),
      names.count(_.startsWith("_graft_dv/")),
      names.count(n => n.startsWith("_graft_versions/") && n.endsWith(".manifest")),
      files.values.sum, files.toMap)
  }

  /** Bytes of files that are new or changed in `after` relative to `before`. */
  def bytesAdded(before: TreeStats, after: TreeStats): Long =
    after.files.iterator.collect {
      case (n, sz) if !before.files.get(n).contains(sz) => sz
    }.sum
}
