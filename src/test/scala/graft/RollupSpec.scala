package graft

import graft.rollup._
import graft.store.SnapshotStore
import java.nio.file.{Files, Paths}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class GorillaSpec extends AnyFunSuite {
  test("encode/decode round-trips arbitrary point streams") {
    val rng = new java.util.SplittableRandom(42)
    for (trial <- 1 to 20) {
      val n = rng.nextInt(200) + 1
      var ts = rng.nextLong(1000000)
      val pts = Array.fill(n) {
        ts += rng.nextLong(100) + 1
        (ts, rng.nextDouble() * math.pow(10, rng.nextInt(8)) - 500.0)
      }
      val dec = Gorilla.decode(Gorilla.encode(pts))
      assert(dec.toSeq === pts.toSeq, s"trial $trial")
    }
  }

  test("special values round-trip: NaN, infinities, zeros, constants") {
    val pts = Array(
      (0L, 0.0), (1L, -0.0), (2L, Double.NaN), (3L, Double.PositiveInfinity),
      (4L, Double.NegativeInfinity), (5L, 1.0), (6L, 1.0), (7L, 1.0),
      (8L, Double.MinPositiveValue), (9L, Double.MaxValue))
    val dec = Gorilla.decode(Gorilla.encode(pts))
    pts.indices.foreach { i =>
      assert(dec(i)._1 === pts(i)._1)
      val (a, b) = (dec(i)._2, pts(i)._2)
      assert(java.lang.Double.doubleToLongBits(a) === java.lang.Double.doubleToLongBits(b),
        s"at $i: $a != $b")
    }
  }

  test("regular cadence + slow-changing values compress well") {
    val pts = Array.tabulate(1000)(i => (i.toLong * 3600, 20.0 + (i % 3)))
    val enc = Gorilla.encode(pts)
    // 1000 points * 16 bytes raw = 16000; expect strong compression
    assert(enc.length < 3000, s"compressed to ${enc.length} bytes")
    assert(Gorilla.decode(enc).toSeq === pts.toSeq)
  }

  test("empty stream") {
    assert(Gorilla.decode(Gorilla.encode(Array.empty)).isEmpty)
  }
}

class TextExtractSpec extends GraftSuite {
  import spark.implicits._

  test("extract(wrap(text)) is byte-identical incl. entities and unicode") {
    val texts = Seq(
      "plain text",
      "a < b > c & d",
      "pre-escaped &amp; &lt; entities",
      "unicode é中文 😀 mixed",
      "<p>nested</p><html>tags</html>",
      "newlines\nand\ttabs",
      "&amp;lt; tricky &gt;&gt;&amp;",
      "")
    val df = texts.toDF("text")
      .withColumn("html", TextExtract.wrap(col("text"), lit("t")))
      .withColumn("extracted", TextExtract.extract(col("html")))
    val rows = df.select("text", "extracted").collect()
    rows.foreach(r => assert(r.getString(0) === r.getString(1),
      s"round-trip failed for '${r.getString(0)}'"))
  }

  test("native single-pass extract matches the regex form on round-tripped content") {
    // the regex+3x-regexp_replace reference form vs the single-pass
    // native expression, over adversarial escaped/unicode content AND
    // real synthesized pages
    val texts = Seq(
      "plain", "a < b > c & d", "pre-escaped &amp; &lt; entities",
      "&amp;amp; &amp;lt; &lt;&gt;&amp;", "é中文 😀", "&", "&l", "&lt",
      "trailing &", "x&gt", "")
    import spark.implicits._
    val df = texts.toDF("text")
      .withColumn("html", TextExtract.wrap(col("text"), lit("t & <x>")))
      .select(TextExtract.extract(col("html")).as("fast"),
        TextExtract.extractRegex(col("html")).as("ref"))
    df.collect().foreach(r => assert(r.getString(0) === r.getString(1)))
    val pages = CrawlSynth.pages(spark, 300, nHosts = 30, numPartitions = 2)
    val diff = pages.select(TextExtract.extract(col("html")).as("fast"),
      TextExtract.extractRegex(col("html")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.isEmpty)
    // non-matching input -> "" like regexp_extract
    val junk = Seq("<html>nope</html>", "", "random").toDF("s")
      .select(graft.functions.ExtractWrapped(col("s")).as("x")).collect()
    assert(junk.forall(_.getString(0) === ""))
  }

  test("crawl pages satisfy the per-url byte-identical invariant") {
    val pages = CrawlSynth.pages(spark, 500, nHosts = 50, numPartitions = 4)
    val bad = pages.withColumn("extracted", TextExtract.extract(col("html")))
      .filter(col("extracted") =!= col("text"))
    assert(bad.isEmpty)
  }

  test("crawl synth: deterministic, skewed hosts, 4-week span") {
    val p1 = CrawlSynth.pages(spark, 1000, nHosts = 100, numPartitions = 4)
    val p2 = CrawlSynth.pages(spark, 1000, nHosts = 100, numPartitions = 8)
    // deterministic regardless of partitioning
    assert(p1.orderBy("url").collect().toSeq === p2.orderBy("url").collect().toSeq)
    val hostCounts = p1.groupBy(regexp_extract(col("url"), "https://([^/]+)/", 1))
      .count().orderBy(col("count").desc).collect()
    assert(hostCounts.head.getLong(1) > 5 * hostCounts.last.getLong(1),
      "expected Zipf-like host skew")
    val span = p1.agg(
      (unix_timestamp(max("warc_ts")) - unix_timestamp(min("warc_ts"))) / 86400.0)
      .first().getDouble(0)
    assert(span > 21, s"span $span days should exceed 3 weeks")
  }
}

class GapFillSpec extends GraftSuite {
  import spark.implicits._

  test("densify + LOCF fills interior and trailing gaps") {
    val df = Seq(
      ("s1", 1L, Some(10.0)), ("s1", 3L, Some(30.0)), ("s1", 6L, None),
      ("s2", 2L, Some(5.0))).toDF("series_id", "bucket", "value")
    val dense = GapFill.densify(df, Seq("series_id"), "bucket", "value")
    assert(dense.filter(col("series_id") === "s1").count() === 6)
    val filled = GapFill.locf(dense, Seq("series_id"), "bucket", "value")
      .filter(col("series_id") === "s1").orderBy("bucket")
      .select("value_filled").collect().map(_.getDouble(0))
    assert(filled.toSeq === Seq(10.0, 10.0, 30.0, 30.0, 30.0, 30.0))
  }

  test("linear interpolation with endpoint fallbacks") {
    val df = Seq(
      ("s1", 0L, None), ("s1", 1L, Some(10.0)), ("s1", 2L, None),
      ("s1", 3L, None), ("s1", 4L, Some(40.0)), ("s1", 5L, None))
      .toDF("series_id", "bucket", "value")
    val out = GapFill.linear(df, Seq("series_id"), "bucket", "value")
      .orderBy("bucket").select("value_filled").collect().map(_.getDouble(0))
    assert(out.toSeq === Seq(10.0, 10.0, 20.0, 30.0, 40.0, 40.0))
  }

  test("fused densifyLocf equals locf(densify(...)) on randomized gappy series") {
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val rows = for {
        s <- 0 until 6
        b <- 0 until 50
        if rng.nextDouble() < 0.35
      } yield (s"s$s", b.toLong,
        if (rng.nextDouble() < 0.2) None else Some(rng.nextInt(100).toDouble))
      if (rows.nonEmpty) {
        val df = rows.toDF("series_id", "bucket", "value")
        val compositional = GapFill.locf(
          GapFill.densify(df, Seq("series_id"), "bucket", "value"),
          Seq("series_id"), "bucket", "value")
          .select("series_id", "bucket", "value_filled")
        val fused = GapFill.densifyLocf(df, Seq("series_id"), "bucket", "value")
          .select("series_id", "bucket", "value_filled")
        val a = compositional.collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) -1.0e301 else r.getDouble(2))).sorted.toSeq
        val b = fused.collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) -1.0e301 else r.getDouble(2))).sorted.toSeq
        assert(a === b, s"trial $trial")
      }
    }
  }

  test("selective densifyLocf (fillWhen) equals filter-split + fill + union") {
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      // even series ids are "continuous" (gap-filled), odd are sparse
      // pass-through; both kinds carry occasional nulls
      val rows = for {
        s <- 0 until 8
        b <- 0 until 40
        if rng.nextDouble() < 0.3
      } yield (s"s$s", b.toLong,
        if (rng.nextDouble() < 0.2) None else Some(rng.nextInt(100).toDouble))
      if (rows.nonEmpty) {
        val df = rows.toDF("series_id", "bucket", "value")
        val isCont = expr("cast(substring(series_id, 2) as int) % 2 = 0")
        val unioned = GapFill.densifyLocf(df.filter(isCont),
          Seq("series_id"), "bucket", "value")
          .unionByName(df.filter(!isCont).withColumn("value_filled", col("value")))
          .select("series_id", "bucket", "value_filled")
        val selective = GapFill.densifyLocf(df, Seq("series_id"), "bucket",
          "value", "value_filled", isCont)
          .select("series_id", "bucket", "value_filled")
        val a = unioned.collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) -1.0e301 else r.getDouble(2))).sorted.toSeq
        val b = selective.collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) -1.0e301 else r.getDouble(2))).sorted.toSeq
        assert(a === b, s"trial $trial")
      }
    }
  }

  test("fused densifyLocf plans no join (the compositional form plans one)") {
    val df = Seq(("s", 1L, Some(1.0)), ("s", 5L, Some(5.0)))
      .toDF("series_id", "bucket", "value")
    val fusedPlan = GapFill.densifyLocf(df, Seq("series_id"), "bucket", "value")
      .queryExecution.executedPlan.toString
    assert(!fusedPlan.contains("Join"), fusedPlan)
    val compPlan = GapFill.locf(
      GapFill.densify(df, Seq("series_id"), "bucket", "value"),
      Seq("series_id"), "bucket", "value")
      .queryExecution.executedPlan.toString
    assert(compPlan.contains("Join"), compPlan)
  }

  test("LOCF is idempotent") {
    val df = Seq(("s", 1L, Some(1.0)), ("s", 2L, None), ("s", 3L, Some(3.0)))
      .toDF("series_id", "bucket", "value")
    val once = GapFill.locf(df, Seq("series_id"), "bucket", "value")
      .withColumnRenamed("value_filled", "value1")
    val twice = GapFill.locf(once, Seq("series_id"), "bucket", "value1", "value2")
    assert(twice.filter(col("value1") =!= col("value2")).isEmpty)
  }
}

class TiersSpec extends GraftSuite {

  lazy val pages = CrawlSynth.pages(spark, 4000, nHosts = 40, numPartitions = 4)
  lazy val series = SeriesDerive.hostSeries(pages)
  lazy val hourlyT = Tiers.hourly(series, "series_id", "hour_rank", "value").cache()

  test("rollup(hourly->daily) equals direct daily aggregation exactly") {
    val daily = Tiers.rollup(hourlyT, "hourly", "daily")
    val direct = series
      .groupBy(col("series_id"), floor(col("hour_rank").cast("long") / 24).as("bucket"))
      .agg(count(col("value")).as("n"), sum(col("value")).as("sum"),
        sum(col("value") * col("value")).as("sumsq"),
        min(col("value")).as("min"), max(col("value")).as("max"))
    // n/min/max must match exactly; sums to fp tolerance
    val joined = daily.alias("a").join(direct.alias("b"), Seq("series_id", "bucket"), "full")
    val bad = joined.filter(
      col("a.n") =!= col("b.n") || col("a.min") =!= col("b.min") ||
        col("a.max") =!= col("b.max") ||
        abs(col("a.sum") - col("b.sum")) > lit(1e-6) * greatest(abs(col("a.sum")), lit(1.0)) ||
        col("a.n").isNull || col("b.n").isNull)
    assert(bad.isEmpty)
  }

  test("single-pass headline chain equals the persist+filter-split+union " +
      "shape end-to-end (hourly tier rows identical)") {
    val richPages = CrawlSynth.pages(spark, 2000, nHosts = 25, numPartitions = 4)
    val isCont = col("series_id").startsWith("text_length") ||
      col("series_id").startsWith("quality") ||
      col("series_id").startsWith("lang_match")
    // shipping shape: derive -> selective fused gap-fill -> hourly
    val s1 = SeriesDerive.hostSeriesRich(richPages)
    val d1 = GapFill.densifyLocf(
      s1.withColumn("bucket", col("hour_rank").cast("long")),
      Seq("series_id"), "bucket", "value", "v", isCont)
      .select(col("series_id"), col("bucket").as("hour_rank"), col("v").as("value"))
    val h1 = Tiers.hourly(d1, "series_id", "hour_rank", "value")
    // pre-single-pass shape: persist + filter split + union
    val s2 = SeriesDerive.hostSeriesRich(richPages).cache()
    val cont = s2.filter(isCont)
    val sparse = s2.filter(!isCont)
    val d2 = GapFill.densifyLocf(
      cont.withColumn("bucket", col("hour_rank").cast("long")),
      Seq("series_id"), "bucket", "value", "v")
      .select(col("series_id"), col("bucket").as("hour_rank"), col("v").as("value"))
    val h2 = Tiers.hourly(
      d2.unionByName(sparse.select(col("series_id"), col("hour_rank"), col("value"))),
      "series_id", "hour_rank", "value")
    val j = h1.alias("a").join(h2.alias("b"), Seq("series_id", "bucket"), "full")
    val bad = j.filter(
      col("a.n") =!= col("b.n") || col("a.min") =!= col("b.min") ||
        col("a.max") =!= col("b.max") ||
        abs(col("a.sum") - col("b.sum")) > lit(1e-9) * greatest(abs(col("a.sum")), lit(1.0)) ||
        col("a.n").isNull || col("b.n").isNull)
    assert(bad.isEmpty)
    s2.unpersist()
  }

  test("weekly rollup from daily equals weekly from hourly") {
    val daily = Tiers.rollup(hourlyT, "hourly", "daily")
    val weeklyViaDaily = Tiers.rollup(daily, "daily", "weekly")
    val weeklyDirect = Tiers.rollup(hourlyT, "hourly", "weekly")
    val j = weeklyViaDaily.alias("a").join(weeklyDirect.alias("b"),
      Seq("series_id", "bucket"), "full")
    val bad = j.filter(col("a.n") =!= col("b.n") ||
      abs(col("a.sum") - col("b.sum")) > lit(1e-6) * greatest(abs(col("a.sum")), lit(1.0)))
    assert(bad.isEmpty)
  }

  test("anomaly flags fire for the injected anomaly hosts at the daily tier") {
    val daily = Tiers.rollup(hourlyT, "hourly", "daily")
    val flags = Tiers.anomalyFlags(daily).cache()
    // host0: constant text length -> repeated values / flat
    val h0 = flags.filter(col("series_id") === "text_length|host0.com").collect()
    assert(h0.length === 1)
    assert(h0(0).getAs[Boolean]("flag_repeated_values") || h0(0).getAs[Boolean]("flag_flat"),
      s"host0 flags: ${h0(0)}")
    // host1 zig-zag at the HOURLY tier (daily averages smooth it out)
    val hourlyFlags = Tiers.anomalyFlags(hourlyT)
    val h1 = hourlyFlags.filter(col("series_id") === "text_length|host1.org").collect()
    assert(h1.length === 1)
    assert(h1(0).getAs[Boolean]("flag_zigzag"), s"host1 hourly flags: ${h1(0)}")
    // normal hosts: no repeated-value flag
    val normal = flags.filter(col("series_id") === "text_length|host17.io").collect()
    if (normal.nonEmpty) assert(!normal(0).getAs[Boolean]("flag_repeated_values"))
  }

  test("gorilla chunk compress/decompress preserves the tier points") {
    val daily = Tiers.withDerived(Tiers.rollup(hourlyT, "hourly", "daily"))
    val chunks = Tiers.compressChunks(Tiers.rollup(hourlyT, "hourly", "daily"))
    val restored = Tiers.decompressChunks(chunks)
    val orig = daily.select(col("series_id"), col("bucket"), col("avg"))
    val diff = orig.alias("o").join(restored.alias("r"), Seq("series_id", "bucket"), "full")
      .filter(col("o.avg").isNull || col("r.avg").isNull ||
        col("o.avg") =!= col("r.avg"))
    assert(diff.isEmpty)
  }
}

class SnapshotStoreSpec extends GraftSuite {

  test("commit, resume skip, and retention expiry") {
    val root = java.nio.file.Files.createTempDirectory("snapstore").toString
    val store = new SnapshotStore(root)
    assert(store.committedPartitions().isEmpty)
    store.commit(Seq(store.PartitionEntry("day=2025-01-06", 10, Map("points" -> "10"), "test")))
    store.commit(Seq(store.PartitionEntry("day=2025-01-07", 20, Map("points" -> "20"), "test")))
    assert(store.committedPartitions() === Set("day=2025-01-06", "day=2025-01-07"))
    // metrics survive the manifest round-trip
    val snap = store.latestSnapshot().get
    assert(snap.partitions.find(_.name == "day=2025-01-07").get.metrics("points") === "20")
    assert(snap.seq === 1 && snap.parent === 0)
    // replace an existing partition
    store.commit(Seq(store.PartitionEntry("day=2025-01-06", 11, Map("points" -> "11"), "rebuild")))
    assert(store.latestSnapshot().get.partitions.find(_.name == "day=2025-01-06").get.rows === 11)
    // retention expiry
    store.expire(_ == "day=2025-01-06")
    assert(store.committedPartitions() === Set("day=2025-01-07"))
  }

  test("kill/restart: resumed build skips committed partitions and completes") {
    val pagesDir = java.nio.file.Files.createTempDirectory("tierpages").toString
    TierBuilder.writePagesByDay(
      CrawlSynth.pages(spark, 2000, nHosts = 30, numPartitions = 4), pagesDir)
    val pages = spark.read.parquet(pagesDir) // day-partitioned source
    val root = java.nio.file.Files.createTempDirectory("tierbuild").toString
    // first run: crash after 2 per-day jobs
    val crashed = intercept[RuntimeException] {
      TierBuilder.buildHourly(spark, pages, root,
        resume = true, failAfter = 2, daysPerJob = 1)
    }
    assert(crashed.getMessage.contains("injected failure"))
    val afterCrash = new SnapshotStore(root).committedPartitions()
    assert(afterCrash.size === 2, s"expected 2 committed, got $afterCrash")

    // the resumed scan prunes to the missing day partitions only
    val allDays = pages.select(col("day").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val missing = allDays.filterNot(d => afterCrash.contains(s"day=$d"))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      TierBuilder.prunedDayPages(pages, missing).explain("formatted")
    }
    val plan = out.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("day"), s"expected day PartitionFilters, got: $pf")

    // resume: completes the rest in ONE job, skips the 2 committed
    val report = TierBuilder.buildHourly(spark, pages, root, resume = true)
    assert(report.skippedPartitions.size === 2)
    assert(report.builtPartitions.nonEmpty)
    // result equals a clean one-shot build
    val root2 = java.nio.file.Files.createTempDirectory("tierbuild2").toString
    TierBuilder.buildHourly(spark, pages, root2, resume = false)
    val a = TierBuilder.readHourly(spark, root).orderBy("series_id", "bucket").collect()
    val b = TierBuilder.readHourly(spark, root2).orderBy("series_id", "bucket").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("coarse tiers: resumable daily/weekly builds with their own manifests") {
    val pagesDir = java.nio.file.Files.createTempDirectory("coarsepages").toString
    TierBuilder.writePagesByDay(
      CrawlSynth.pages(spark, 3000, nHosts = 20, numPartitions = 4), pagesDir)
    val pages = spark.read.parquet(pagesDir)
    val root = java.nio.file.Files.createTempDirectory("coarsebuild").toString
    TierBuilder.buildHourly(spark, pages, root, resume = false)

    // crash after the first per-partition daily job, then resume
    val crashed = intercept[RuntimeException] {
      TierBuilder.buildCoarse(spark, root, "daily",
        failAfter = 1, partitionsPerJob = 1)
    }
    assert(crashed.getMessage.contains("injected failure"))
    val afterCrash = new SnapshotStore(s"$root/tier_daily").committedPartitions()
    assert(afterCrash.size === 1, s"expected 1 committed daily, got $afterCrash")
    val resumed = TierBuilder.buildCoarse(spark, root, "daily")
    assert(resumed.skippedPartitions.size === 1,
      s"resume must skip the committed partition: $resumed")
    assert(resumed.builtPartitions.nonEmpty)

    // a second resume is a no-op (source-day lineage unchanged)
    val noop = TierBuilder.buildCoarse(spark, root, "daily")
    assert(noop.builtPartitions.isEmpty && noop.totalPoints === 0)

    // weekly builds from the same hourly store, own manifest
    val weekly = TierBuilder.buildCoarse(spark, root, "weekly")
    assert(weekly.builtPartitions.nonEmpty)

    // committed coarse tiers equal a direct re-aggregation of the hourly
    val hourly = TierBuilder.readHourly(spark, root)
    val dailyDirect = Tiers.rollup(hourly, "hourly", "daily")
      .orderBy("series_id", "bucket").collect()
    val dailyStored = TierBuilder.readCoarse(spark, root, "daily")
      .orderBy("series_id", "bucket").collect()
    assert(dailyStored.toSeq === dailyDirect.toSeq)
    val weeklyDirect = Tiers.rollup(hourly, "hourly", "weekly")
      .orderBy("series_id", "bucket").collect()
    val weeklyStored = TierBuilder.readCoarse(spark, root, "weekly")
      .orderBy("series_id", "bucket").collect()
    assert(weeklyStored.toSeq === weeklyDirect.toSeq)

    // staleness: a NEW hourly day commit makes its coarse partitions
    // rebuild (and only those)
    val extraDay = new SnapshotStore(root)
    val fakeDay = "2030-01-01"
    extraDay.commit(Seq(extraDay.PartitionEntry(s"day=$fakeDay", 0,
      Map("points" -> "0"), "test")))
    // write an empty data partition so the pruned scan finds the dir
    hourly.limit(0).withColumn("day", org.apache.spark.sql.functions.lit(fakeDay))
      .write.partitionBy("day").option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$root/data")
    val afterNewDay = TierBuilder.buildCoarse(spark, root, "daily")
    assert(afterNewDay.builtPartitions === Seq(s"day=$fakeDay"),
      s"only the new day's partition should rebuild: $afterNewDay")
  }

  // ------------------------------------------------ resume from metadata

  /** `body`'s result with the Spark jobs it started and the SQL executions
    * it ran, as delivered by the listener bus.
    */
  private def recording[T](body: => T): (T, Seq[SparkListenerJobStart], Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    val execListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = execs.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = execs.add(qe)
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(execListener)
    try {
      val result = body
      ListenerBus.drain(sc)
      (result, jobs.asScala.toSeq, execs.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(execListener)
    }
  }

  private object Scans extends AdaptiveSparkPlanHelper {
    def of(qe: QueryExecution): Seq[FileSourceScanExec] =
      collect(qe.executedPlan) { case s: FileSourceScanExec => s }
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** a day-partitioned pages table holding `days`, appended to `dir` */
  private def addDays(pages: org.apache.spark.sql.DataFrame, days: Seq[String], dir: String): Unit =
    TierBuilder.withDay(pages).filter(col("day").isin(days: _*))
      .write.partitionBy("day").mode("append").parquet(dir)

  private lazy val crawl = CrawlSynth.pages(spark, 3000, nHosts = 20, numPartitions = 4)
  private lazy val crawlDays = TierBuilder.sourceDays(crawl)

  test("a manifest without retention tombstones parses; commit clears a tombstone") {
    val root = tmp("oldmanifest")
    Files.createDirectories(Paths.get(root, "_snapshots"))
    Files.write(Paths.get(root, "_snapshots", "manifest-0.json"),
      ("""{"seq":0,"parent":-1,"ts":1,"partitions":[""" +
        """{"name":"day=2025-01-06","rows":10,"lineage":"test","metrics":{"points":"10"}},""" +
        """{"name":"day=2025-01-07","rows":20,"lineage":"test","metrics":{"points":"20"}}]}""")
        .getBytes("UTF-8"))
    val store = new SnapshotStore(root)
    val old = store.latestSnapshot().get
    assert(old.expired.isEmpty)
    assert(old.partitions.map(_.name) === Seq("day=2025-01-06", "day=2025-01-07"))
    assert(old.partitions.head.metrics("points") === "10")

    store.expire(_ == "day=2025-01-06")
    val expired = store.latestSnapshot().get
    assert(expired.expired === Set("day=2025-01-06"))
    assert(store.committedPartitions() === Set("day=2025-01-07"))
    // carried forward by a commit of another name, cleared by its own
    store.commit(Seq(store.PartitionEntry("day=2025-01-08", 1, Map.empty, "test")))
    assert(store.latestSnapshot().get.expired === Set("day=2025-01-06"))
    store.commit(Seq(store.PartitionEntry("day=2025-01-06", 1, Map.empty, "test")))
    assert(store.latestSnapshot().get.expired.isEmpty)
    assert(store.committedPartitions() ===
      Set("day=2025-01-06", "day=2025-01-07", "day=2025-01-08"))
  }

  test("day list: listed partitions of a day-partitioned source equal its distinct days") {
    val dir = tmp("listeddays")
    TierBuilder.writePagesByDay(crawl, dir)
    val pages = spark.read.parquet(dir)
    val (listed, jobs, _) = recording(TierBuilder.sourceDays(pages))
    assert(jobs.size === 0, "the listed day list must run no job")
    val distinct = pages.select(col("day").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(listed === distinct)
    // an input without a physical day column takes the distinct scan
    assert(crawlDays === distinct)
  }

  test("footer row counts equal the committed tiers' row counts") {
    val dir = tmp("footerpages")
    TierBuilder.writePagesByDay(crawl, dir)
    val root = tmp("footerbuild")
    val hourly = TierBuilder.buildHourly(spark, spark.read.parquet(dir), root, resume = false)
    assert(hourly.totalPoints === TierBuilder.readHourly(spark, root).count())
    val manifest = new SnapshotStore(root).latestSnapshot().get.partitions
      .map(p => p.name -> p.rows).toMap
    val scanned = spark.read.parquet(s"$root/data").groupBy(col("day").cast("string")).count()
      .collect().map(r => s"day=${r.getString(0)}" -> r.getLong(1)).toMap
    assert(manifest === scanned)
    val weekly = TierBuilder.buildCoarse(spark, root, "weekly", resume = false)
    assert(weekly.totalPoints === TierBuilder.readCoarse(spark, root, "weekly").count())
  }

  test("retention: a resume after expire builds only the new day and keeps expired coarse data") {
    val d = crawlDays
    val src = tmp("retentionpages")
    addDays(crawl, d.take(8), src)
    val root = tmp("retentionbuild")
    TierBuilder.buildHourly(spark, spark.read.parquet(src), root)
    Seq("daily", "weekly").foreach(t => TierBuilder.buildCoarse(spark, root, t))
    def week(b: Long) = TierBuilder.readCoarse(spark, root, "weekly")
      .filter(col("bucket") === b).orderBy("series_id").collect().toSeq
    val week0 = week(0)
    assert(week0.nonEmpty)
    val hourly = new SnapshotStore(root)

    // 7-day window: day 0 expires, then day 8 lands
    hourly.expire(_ < s"day=${d(1)}")
    addDays(crawl, Seq(d(8)), src)
    val resumed = TierBuilder.buildHourly(spark, spark.read.parquet(src), root)
    assert(resumed.builtPartitions === Seq(s"day=${d(8)}"))
    assert(resumed.skippedPartitions === d.take(8).map(x => s"day=$x"))
    hourly.expire(_ < s"day=${d(2)}")
    assert(hourly.committedPartitions() === d.slice(2, 9).map(x => s"day=$x").toSet)
    assert(hourly.latestSnapshot().get.expired === d.take(2).map(x => s"day=$x").toSet)

    // week 0 lost days 0 and 1 to retention but takes no new day: kept
    val weekly = TierBuilder.buildCoarse(spark, root, "weekly")
    assert(weekly.builtPartitions === Seq("week=1"))
    assert(weekly.skippedPartitions === Seq("week=0"))
    assert(week(0) === week0)
    val week1Direct = Tiers.rollup(TierBuilder.readHourly(spark, root), "hourly", "weekly")
      .filter(col("bucket") === 1).orderBy("series_id").collect().toSeq
    assert(week(1) === week1Direct)
    assert(TierBuilder.buildCoarse(spark, root, "daily").builtPartitions === Seq(s"day=${d(8)}"))

    // a stale partition that lost source days to retention is refused
    hourly.expire(_ == s"day=${d(7)}")
    addDays(crawl, Seq(d(9)), src)
    TierBuilder.buildHourly(spark, spark.read.parquet(src), root)
    val refused = intercept[IllegalStateException](TierBuilder.buildCoarse(spark, root, "weekly"))
    assert(refused.getMessage.contains(d(7)))

    // resume = false re-adds an expired day the source holds
    val rebuilt = TierBuilder.buildHourly(spark,
      spark.read.parquet(src).filter(col("day").cast("string") === d(0)), root, resume = false)
    assert(rebuilt.builtPartitions === Seq(s"day=${d(0)}"))
    assert(hourly.committedPartitions().contains(s"day=${d(0)}"))
    assert(!hourly.latestSnapshot().get.expired.contains(s"day=${d(0)}"))
  }

  test("resuming one new day runs one write over that day and no read-back") {
    val d = crawlDays
    val src = tmp("resumepages")
    addDays(crawl, d.take(3), src)
    val root = tmp("resumebuild")
    TierBuilder.buildHourly(spark, spark.read.parquet(src), root)
    addDays(crawl, Seq(d(3)), src)
    val pages = spark.read.parquet(src)
    val (report, jobs, execs) = recording(TierBuilder.buildHourly(spark, pages, root))
    assert(report.builtPartitions === Seq(s"day=${d(3)}"))
    // one SQL execution: the write; no day scan and no read-back count
    assert(execs.size === 1, s"executions: ${execs.map(_.analyzed.nodeName)}")
    val execIds = jobs.map(j => Option(j.properties).map(_.getProperty("spark.sql.execution.id")))
    assert(jobs.nonEmpty && execIds.distinct.size == 1 && execIds.head.isDefined,
      s"every job belongs to the write: $execIds")
    // its scan reads only the new day's files
    val newDayFiles = scala.util.Using.resource(Files.list(Paths.get(src, s"day=${d(3)}")))(
      _.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")))
    val scans = Scans.of(execs.head)
    assert(scans.nonEmpty)
    assert(scans.map(_.metrics("numFiles").value).sum === newDayFiles)
  }
}
