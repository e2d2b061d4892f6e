package perfbench

import graft.rollup.{GapFill, SeriesDerive, Tiers}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Batch tier build: crawl pages (parquet) -> `SeriesDerive.hostSeriesRich`
  * -> `GapFill.densifyLocf` on the continuous metrics -> `Tiers.hourly`
  * -> daily -> weekly + `Tiers.anomalyFlags`.
  *
  * An untraced pass has the plan of the library's headline job: derive,
  * gap-fill and hourly run as one action ending in the persisted hourly
  * tier; daily is persisted by a second action and weekly + flags share a
  * third. Samples: `primary_s` the whole pass, `secondary_s` the coarse
  * part (daily + weekly + flags over the cached hourly tier).
  *
  * A traced pass also persists the derive output, so the derive stage
  * can be timed as its own span (SeriesDerive); gap-fill and hourly share
  * one shuffle and are timed together (GapFill_hourly).
  */
final class Rollup(ctx: Ctx) extends Workload {
  import ctx.spark

  private val dir = s"${ctx.work}/rollup-pages"
  private var expectedPoints = -1L
  private var last = 0.0

  def synth(): Double = {
    val t0 = ctx.now()
    Gen.pages(spark, ctx.seed, ctx.pages, ctx.hosts, ctx.cores * 4)
      .write.mode("overwrite").parquet(dir)
    ctx.secs(t0)
  }

  def lastPassSeconds: Double = last

  /** three untimed passes over the same pages, the first with the full
    * output check: the first passes of a JVM pay for JIT and code
    * generation. A smaller warm-up input left the first measured pass
    * 10-30 % slower than the next; after one full warm-up pass it still ran
    * 10-45 % slower, and after two 10-20 % slower, so the median moved with
    * the number of passes that fit in a run.
    */
  def warmup(): Unit = {
    run(traced = false, full = true)
    run(traced = false, full = false)
    run(traced = false, full = false)
  }

  def pass(traced: Boolean): Unit = run(traced, full = traced)

  private val isContinuous =
    col("series_id").startsWith("text_length") ||
      col("series_id").startsWith("quality") ||
      col("series_id").startsWith("lang_match")

  private def hourlyOf(series: DataFrame): DataFrame = {
    val dense = GapFill.densifyLocf(
      series.withColumn("bucket", col("hour_rank").cast("long")),
      Seq("series_id"), "bucket", "value", "v", isContinuous)
      .select(col("series_id"), col("bucket").as("hour_rank"), col("v").as("value"))
    Tiers.hourly(dense, "series_id", "hour_rank", "value")
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  private def coarse(hourly: DataFrame): (DataFrame, Long) = {
    val daily = Tiers.rollup(hourly, "hourly", "daily").persist(StorageLevel.MEMORY_AND_DISK)
    val one = lit(1L).as("one")
    val n = daily.count() +
      Tiers.rollup(daily, "daily", "weekly").select(one)
        .unionAll(Tiers.anomalyFlags(daily).select(one)).count()
    (daily, n)
  }

  private def run(traced: Boolean, full: Boolean): Unit = {
    val tr = ctx.trace
    var hourly: DataFrame = null
    var daily: DataFrame = null
    var series: DataFrame = null
    ctx.op("primary_s") {
      val t0 = ctx.now()
      var points = 0L
      var coarseS = 0.0
      tr.span("rollup.pass") {
        val pages = spark.read.parquet(dir)
        if (traced) {
          series = SeriesDerive.hostSeriesRich(pages).persist(StorageLevel.MEMORY_AND_DISK)
          tr.span("SeriesDerive")(tr.attr("rows_out", series.count().toDouble))
          hourly = hourlyOf(series)
          tr.span("GapFill_hourly") {
            val n = hourly.count(); points += n; tr.attr("rows_out", n.toDouble)
          }
        } else {
          hourly = hourlyOf(SeriesDerive.hostSeriesRich(pages))
          points += hourly.count()
        }
        val t1 = ctx.now()
        tr.span("Tiers.coarse") {
          val (d, n) = coarse(hourly); daily = d; points += n; tr.attr("rows_out", n.toDouble)
        }
        coarseS = ctx.secs(t1)
      }
      last = ctx.secs(t0)
      val tc = ctx.now()
      val err = check(hourly, daily, points, full)
      ctx.log(f"rollup pass $last%.3f s, check ${ctx.secs(tc)}%.3f s")
      if (err.isEmpty) ctx.record("secondary_s", coarseS)
      (last, err)
    }
    Seq(series, hourly, daily).filter(_ != null).foreach(_.unpersist(false))
  }

  /** Output checks, untimed. Every pass (traced or not) must yield the
    * warm-up's point count. The full check, on the first warm-up pass and
    * every traced pass, also asks that the `n` totals agree
    * across the three tiers, that the byte-identical extraction series is
    * exactly 1.0, and that the injected host0 repeated-value and host1
    * zig-zag flags fire.
    */
  private def check(hourly: DataFrame, daily: DataFrame, points: Long,
      full: Boolean): Option[String] = {
    val errs = Seq.newBuilder[String]
    if (expectedPoints < 0) {
      expectedPoints = points
      ctx.info("points") = points.toString
    } else if (points != expectedPoints)
      errs += s"point count $points differs from the first pass's $expectedPoints"
    if (full) fullCheck(hourly, daily).foreach(errs += _)
    Some(errs.result().mkString("; ")).filter(_.nonEmpty)
  }

  private def fullCheck(hourly: DataFrame, daily: DataFrame): Seq[String] = {
    val errs = Seq.newBuilder[String]
    def nTotal(t: DataFrame): Long = t.agg(sum(col("n"))).head().getLong(0)
    val weekly = Tiers.rollup(daily, "daily", "weekly")
    val (nh, nd, nw) = (nTotal(hourly), nTotal(daily), nTotal(weekly))
    if (nh != nd || nh != nw) errs += s"n totals differ: hourly $nh daily $nd weekly $nw"
    val ok = hourly.filter(col("series_id").startsWith("extract_ok|"))
      .agg(min(col("min")), max(col("max")), count(lit(1))).head()
    if (ok.getLong(2) == 0 || ok.getDouble(0) != 1.0 || ok.getDouble(1) != 1.0)
      errs += s"extract_ok series not exactly 1.0: $ok"
    val h0 = Tiers.anomalyFlags(daily.filter(col("series_id") === "text_length|host0.com"))
      .collect()
    if (h0.length != 1 || !h0(0).getAs[Boolean]("flag_repeated_values"))
      errs += s"host0 repeated-value flag did not fire: ${h0.mkString}"
    val h1 = Tiers.anomalyFlags(hourly.filter(col("series_id") === "text_length|host1.org"))
      .collect()
    if (h1.length != 1 || !h1(0).getAs[Boolean]("flag_zigzag"))
      errs += s"host1 zig-zag flag did not fire: ${h1.mkString}"
    errs.result()
  }
}
