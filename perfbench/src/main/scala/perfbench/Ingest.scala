package perfbench

import graft.rollup.{CrawlSynth, SeriesDerive, TierBuilder, Tiers}
import graft.store.SnapshotStore
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Incremental tier maintenance through `graft.store.SnapshotStore`.
  *
  * Setup writes a `crawlDays`-day seeded crawl day-partitioned
  * (`TierBuilder.writePagesByDay`) to a staging table. The warm-up
  * backfills the first `backfill` days into a base source and store
  * (`buildHourly`, then `buildCoarse` daily and weekly). A pass starts from a fresh copy of the base
  * and appends the remaining days one at a time. Each append (sample
  * `primary_s`) is `buildHourly` with `resume=true` over the whole
  * source, `buildCoarse` daily and weekly, and `SnapshotStore.expire`
  * down to a `window`-day hourly window. After each append one client
  * issues `readsPerAppend` range reads (sample `read_ms`): one series'
  * hourly history via `TierBuilder.readHourly`, filtered and aggregated
  * per day.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx.spark

  private val crawlDays = 11
  private val backfill = 7
  private val window = 7
  private val readsPerAppend = 2

  private val staging = s"${ctx.work}/ingest-staging"
  private val baseSource = s"${ctx.work}/ingest-base-source"
  private val baseStore = s"${ctx.work}/ingest-base-store"
  private val source = s"${ctx.work}/ingest-source"
  private val store = s"${ctx.work}/ingest-store"
  private val startDay = java.time.LocalDate.of(2025, 1, 6) // CrawlSynth.startTs
  private val days: IndexedSeq[String] = (0 until crawlDays).map(i => startDay.plusDays(i).toString)
  private val metrics = Seq("pages_per_hour", "text_length", "lang_share_en")
  private val tlds = Seq("com", "org", "net", "de", "fr", "io")
  /** the hottest hosts appear every day, so their series always have history */
  private val readSeries: IndexedSeq[String] =
    for (h <- 0 until 12; m <- metrics) yield s"$m|host$h.${tlds(h % tlds.size)}"
  private var last = 0.0

  def synth(): Double = {
    val t0 = ctx.now()
    TierBuilder.writePagesByDay(
      Gen.pages(spark, ctx.seed, ctx.pages, ctx.hosts, ctx.cores * 4, crawlDays), staging)
    ctx.secs(t0)
  }

  def lastPassSeconds: Double = last

  def warmup(): Unit = {
    Seq(baseSource, baseStore).foreach(ctx.deleteTree)
    days.take(backfill).foreach(d => copyTree(s"$staging/day=$d", s"$baseSource/day=$d"))
    buildAll(ctx.trace, backfill, baseSource, baseStore)
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val it = Files.walk(src)
    try it.forEach { p: Path =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally it.close()
  }

  private def hourlyStore = new SnapshotStore(store)

  /** `fresh`: day partitions that landed since the last build */
  private def buildAll(tr: Trace, fresh: Int, source: String, store: String): Unit = {
    tr.span("TierBuilder.buildHourly") {
      val r = TierBuilder.buildHourly(spark, spark.read.parquet(source), store, resume = true)
      tr.attr("partitions_built", r.builtPartitions.size)
      tr.attr("partitions_new", fresh)
    }
    tr.span("TierBuilder.buildCoarse") {
      val n = Seq("daily", "weekly").map(t =>
        TierBuilder.buildCoarse(spark, store, t, resume = true).builtPartitions.size).sum
      tr.attr("partitions_built", n)
    }
  }

  /** per-day totals of one series' hourly history */
  private def rangeRead(hourly: DataFrame, series: String): DataFrame =
    hourly.filter(col("series_id") === series)
      .groupBy(floor(col("bucket") / 24).as("day_idx"))
      .agg(sum(col("n")).as("n"), sum(col("sum")).as("sum"), max(col("max")).as("max"))
      .orderBy("day_idx")

  def pass(traced: Boolean): Unit = {
    val tr = ctx.trace
    val rng = new scala.util.Random(ctx.seed)
    val appendS = collection.mutable.ArrayBuffer.empty[Double]
    Seq(source, store).foreach(ctx.deleteTree)
    copyTree(baseSource, source)
    copyTree(baseStore, store)
    tr.span("ingest.pass") {
      for (k <- backfill until days.size) {
        // the new crawl day lands in the source
        copyTree(s"$staging/day=${days(k)}", s"$source/day=${days(k)}")
        val keep = days.slice(k - window + 1, k + 1)
        ctx.op("primary_s") {
          val t0 = ctx.now()
          tr.span("append") {
            buildAll(tr, 1, source, store)
            tr.span("SnapshotStore.expire") {
              hourlyStore.expire(p => p < s"day=${keep.head}")
            }
          }
          val s = ctx.secs(t0)
          ctx.log(f"append ${days(k)} $s%.3f s")
          appendS += s
          val committed = hourlyStore.committedPartitions()
          val want = keep.map(d => s"day=$d").toSet
          (s, if (committed == want) None
            else Some(s"after expire at ${days(k)}: committed ${committed.toSeq.sorted} != window $keep"))
        }
        for (r <- 0 until readsPerAppend) {
          val series = readSeries(rng.nextInt(readSeries.size))
          ctx.op("read_ms", 1000.0) {
            val t0 = ctx.now()
            val rows = tr.span("TierBuilder.read") {
              val df = rangeRead(TierBuilder.readHourly(spark, store), series)
              val rows = df.collect()
              if (traced) scanCounts(df, rows.length)
              rows
            }
            val s = ctx.secs(t0)
            ctx.log(f"read $series ${s * 1000}%.1f ms")
            val err =
              if (rows.isEmpty) Some(s"read of $series returned nothing")
              else if (r == 0 && k == backfill) verifyRead(series, keep, rows)
              else None
            (s, err)
          }
        }
      }
      tr.attr("manifest_files", Files.list(Paths.get(store, "_snapshots")).count().toDouble)
    }
    last = if (appendS.isEmpty) 0.0 else appendS.sorted.apply(appendS.size / 2)
  }

  /** files and rows the read's scan node reports, on the read's span */
  private def scanCounts(df: DataFrame, returned: Int): Unit = {
    val scans = ScanFinder.scans(df.queryExecution.executedPlan)
    ctx.trace.attr("files_read", scans.map(_.metrics("numFiles").value).sum.toDouble)
    ctx.trace.attr("rows_scanned", scans.map(_.metrics("numOutputRows").value).sum.toDouble)
    ctx.trace.attr("rows_returned", returned.toDouble)
  }

  /** the same read over `Tiers.hourly(SeriesDerive.hostSeries(window pages))` */
  private def verifyRead(series: String, keep: Seq[String], got: Array[Row]): Option[String] = {
    val pages = spark.read.parquet(staging).filter(col("day").cast("string").isin(keep: _*)).drop("day")
    val want = rangeRead(Tiers.hourly(SeriesDerive.hostSeries(pages)), series).collect()
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val same = want.length == got.length && want.zip(got).forall { case (w, g) =>
      w.getLong(0) == g.getLong(0) && w.getLong(1) == g.getLong(1) &&
        close(w.getDouble(2), g.getDouble(2)) && w.getDouble(3) == g.getDouble(3)
    }
    if (same) None
    else Some(s"read of $series differs from recomputation: ${got.take(3).mkString} vs ${want.take(3).mkString}")
  }
}

/** Scan nodes of an executed plan, looking inside adaptive query stages. */
object ScanFinder extends AdaptiveSparkPlanHelper {
  def scans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    collect(plan) { case s: FileSourceScanExec => s }
}
