package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spans plus Spark job/stage records for one traced run.
  *
  * A span is opened by the benchmark around a call into one layer; while it
  * is open its id is the Spark job group, so every job the call launches
  * from the calling thread is attributed to it. Jobs whose description is a
  * `ctas:<phase>` label (set by `CtasPipeline`) are attributed to that
  * phase. Everything is held in memory and written as JSON lines by
  * [[write]]; the arithmetic (self time, per-layer sums) is done by the
  * reader, `perfbench/benchstats.py`.
  */
final class Trace(sc: SparkContext, val runId: String) {

  final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
    var end: Long = -1L
    val attrs = mutable.LinkedHashMap.empty[String, Double]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Spans are recorded only while enabled; untraced passes of a traced
    * run leave it off, so their timings carry no span bookkeeping.
    */
  var enabled = false

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(Trace.groupOf(runId, s.id), name)
      try f
      finally {
        s.end = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Trace.groupOf(runId, p.id), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** attach a count (rows, partitions, files) to the innermost open span */
  def attr(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + value)

  def write(path: String, listener: Trace.Listener): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    val out = new PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
        out.println(s"""{"type":"span","run":${Json.str(runId)},"id":${s.id},""" +
          s""""name":${Json.str(s.name)},"parent":${s.parent},"start_ms":${s.start},""" +
          s""""end_ms":${s.end},"attrs":{$attrs}}""")
      }
      listener.lines(runId).foreach(out.println)
    } finally out.close()
  }
}

object Trace {
  def groupOf(runId: String, spanId: Int): String = s"perfbench-$runId-$spanId"

  private val installed = new java.util.WeakHashMap[SparkContext, Listener]()

  /** Install the recording listener once per SparkContext (a second call
    * returns the listener already installed).
    */
  def setup(sc: SparkContext): Listener = installed.synchronized {
    val have = installed.get(sc)
    if (have != null) have
    else {
      val l = new Listener
      sc.addSparkListener(l)
      installed.put(sc, l)
      l
    }
  }

  private final class StageAcc {
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  /** Records every job (group, description, interval, stages) and every
    * completed stage (task times, shuffle, spill) while `enabled`.
    */
  final class Listener extends SparkListener {
    @volatile var enabled = false
    private val jobs = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, String]]
    private val stageAcc = mutable.HashMap.empty[(Int, Int), StageAcc]
    private val stages = mutable.ArrayBuffer.empty[String]

    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs(e.jobId) = mutable.LinkedHashMap(
        "id" -> e.jobId.toString,
        "group" -> Json.str(prop("spark.jobGroup.id").getOrElse("")),
        "desc" -> Json.str(prop("spark.job.description").getOrElse("")),
        "start_ms" -> e.time.toString,
        "stages" -> e.stageIds.mkString("[", ",", "]"))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("end_ms") = e.time.toString
        j("ok") = (e.jobResult == JobSucceeded).toString
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
      val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      a.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stageAcc.remove((si.stageId, si.attemptNumber())).foreach { a =>
        val sorted = a.taskMs.sorted
        val med = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
        stages += s"""{"type":"stage","id":${si.stageId},"attempt":${si.attemptNumber()},""" +
          s""""start_ms":${si.submissionTime.getOrElse(0L)},"end_ms":${si.completionTime.getOrElse(0L)},""" +
          s""""tasks":${sorted.size},"task_ms_sum":${sorted.sum},""" +
          s""""task_ms_max":${sorted.lastOption.getOrElse(0L)},"task_ms_median":$med,""" +
          s""""shuffle_bytes":${a.shuffleBytes},"spill_bytes":${a.spillBytes}}"""
      }
    }

    def lines(runId: String): Seq[String] = synchronized {
      jobs.values.toSeq.map { j =>
        s"""{"type":"job","run":${Json.str(runId)},""" +
          j.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}"
      } ++ stages
    }
  }
}
