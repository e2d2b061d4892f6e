package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
}

/** Everything one run shares: session, arguments, trace, and the samples
  * the workload records. Timings of failed operations are never recorded:
  * a workload calls [[op]], which times the body and keeps the sample only
  * if the body's own check passes.
  */
final class Ctx(val spark: SparkSession, val args: Map[String, String]) {
  val cores: Int = args("cores").toInt
  val seed: Long = args("seed").toLong
  val work: String = args("work")
  val pages: Long = args("pages").toLong
  val hosts: Int = args("hosts").toInt
  val traceOn: Boolean = args("trace") == "1"
  val trace = new Trace(spark.sparkContext, s"${args("workload")}-${args("seed")}")
  val listener: Option[Trace.Listener] =
    if (traceOn) Some(Trace.setup(spark.sparkContext)) else None

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val info = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  private val start = now()
  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  /** progress line for the run's log file */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${secs(start)}%7.2f] $msg")

  def record(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  /** One measured operation: `body` returns (seconds, check error or
    * None). Failures and exceptions count against `failed`.
    */
  def op(key: String, scale: Double = 1.0)(body: => (Double, Option[String])): Boolean = {
    attempted += 1
    val res = try body catch { case e: Exception => (0.0, Some(s"$key: $e")) }
    res match {
      case (s, None) => record(key, s * scale); true
      case (_, Some(err)) =>
        failed += 1
        if (errors.size < 20) errors += err
        false
    }
  }

  /** Run `f` as a traced pass: spans and the listener are live only inside. */
  def traced[A](on: Boolean)(f: => A): A = {
    trace.enabled = on
    listener.foreach(_.enabled = on)
    try f finally {
      trace.enabled = false
      listener.foreach(_.enabled = false)
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try it.forEach(q => Files.delete(q)) finally it.close()
    }
  }
}

/** A workload: inputs made once per run, an untimed warm-up, then passes
  * repeated closed-loop until the run's measuring time is used up.
  */
trait Workload {
  /** build the inputs; returns the seconds it took */
  def synth(): Double
  /** untimed warm-up after the inputs exist: JIT, codegen, footer caches */
  def warmup(): Unit
  /** one pass; `traced` opens spans around every layer call */
  def pass(traced: Boolean): Unit
  /** the pass's headline seconds, used for the tracing overhead */
  def lastPassSeconds: Double
}

object Main {

  /** input syntheses per run; `setup_s` counts the median one */
  val SetupReps = 2

  private def cpuStat(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def session(cores: Int, shuffleParts: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shuffleParts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = args("cores").toInt
    val shuffleParts = args("shuffle-partitions").toInt
    val spark = session(cores, shuffleParts, args("work"))
    val sessionS = (System.currentTimeMillis() - args("launch-ms").toLong) / 1e3
    try {
      val ctx = new Ctx(spark, args)
      val wl: Workload = args("workload") match {
        case "rollup" => new Rollup(ctx)
        case "study" => new Study(ctx)
        case "ingest" => new Ingest(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val synthS = (1 to SetupReps).map { _ =>
        val s = wl.synth(); ctx.log(f"synth $s%.3f s"); s
      }
      val w0 = ctx.now()
      wl.warmup()
      val warmupS = ctx.secs(w0)
      ctx.log(f"warm-up $warmupS%.3f s")
      // the warm-up's samples and counts are not part of the measurement,
      // but a failed warm-up check still marks the run incorrect
      val warmupFailed = ctx.failed
      val warmupErrors = ctx.errors.toList
      ctx.samples.clear(); ctx.attempted = 0; ctx.failed = 0; ctx.errors.clear()

      val (tot0, st0) = cpuStat()
      val deadline = System.nanoTime() + (args("seconds").toDouble * 1e9).toLong
      val untracedS = mutable.ArrayBuffer.empty[Double]
      val tracedS = mutable.ArrayBuffer.empty[Double]
      var i = 0
      // closed loop: the next pass starts when the previous one ended. A
      // traced run starts with an untraced pass that lets the JIT settle
      // after the warm-up and is left out of the tracing overhead; then it
      // orders its passes untraced, traced, traced, untraced and stops only
      // after a whole block of four, so drift over the run falls on both
      // sides of the overhead alike
      def done: Boolean = if (ctx.traceOn) i >= 5 && (i - 1) % 4 == 0 else i >= 1
      while (!done || System.nanoTime() < deadline) {
        val t = ctx.traceOn && i >= 1 && ((i - 1) % 4 == 1 || (i - 1) % 4 == 2)
        ctx.traced(t)(wl.pass(t))
        if (t) tracedS += wl.lastPassSeconds
        else if (!ctx.traceOn || i >= 1) untracedS += wl.lastPassSeconds
        ctx.log(f"pass $i traced=$t ${wl.lastPassSeconds}%.3f s")
        i += 1
      }
      val (tot1, st1) = cpuStat()
      val steal = if (tot1 > tot0) (st1 - st0).toDouble / (tot1 - tot0) else 0.0
      val traceFile = args.get("trace-out").filter(_ => ctx.traceOn)
      for (f <- traceFile; l <- ctx.listener) ctx.trace.write(f, l)

      val sm = ctx.samples.map { case (k, v) => s"${Json.str(k)}:${Json.arr(v.toSeq)}" }.mkString(",")
      val inf = ctx.info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
      val errs = (warmupErrors ++ ctx.errors).map(Json.str).mkString(",")
      val conf = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.local.dir", "spark.sql.files.maxPartitionBytes")
        .map(k => s"${Json.str(k)}:${Json.str(spark.conf.get(k))}").mkString(",")
      val heapMb = Runtime.getRuntime.maxMemory / 1048576.0
      val out =
        s"""{"workload":${Json.str(args("workload"))},"seed":${ctx.seed},"cores":$cores,""" +
          s""""config":{$conf,"heap_max_mb":${Json.num(heapMb)}},""" +
          s""""session_s":${Json.num(sessionS)},"synth_s":${Json.arr(synthS)},""" +
          s""""warmup_s":${Json.num(warmupS)},"warmup_failed":$warmupFailed,""" +
          s""""passes":$i,"untraced_pass_s":${Json.arr(untracedS.toSeq)},""" +
          s""""traced_pass_s":${Json.arr(tracedS.toSeq)},""" +
          s""""samples":{$sm},"info":{$inf},"attempted":${ctx.attempted},""" +
          s""""failed":${ctx.failed},"errors":[$errs],""" +
          s""""peak_rss_mb":${Json.num(vmHwmMb())},"steal_frac":${Json.num(steal)}}"""
      Files.write(Paths.get(args("out")), out.getBytes(StandardCharsets.UTF_8))
      ctx.log("result written")
    } finally spark.stop()
    System.err.println(s"[perfbench] stopped at ${System.currentTimeMillis()}")
  }
}
