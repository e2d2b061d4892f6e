package perfbench

import graft.rollup.{CrawlSynth, TextExtract}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded crawl-page generator with the schema of `graft.rollup.CrawlSynth`
  * (url, warc_ts, html, text, lang): log-uniform (Zipf-like) host sizes,
  * the four injected anomaly hosts (0 constant body, 1 hour-parity
  * zig-zag, 2 shifted mean, 3 rare spikes), crawl hours from
  * `CrawlSynth.startEpoch` (four weeks unless asked otherwise), and `html` built with `TextExtract.wrap`
  * so the byte-identical extraction invariant holds. Every hash is salted
  * with the seed, so one seed always yields the same pages and two seeds
  * yield different ones.
  */
object Gen {

  private val vocab = Seq(
    "data", "page", "crawl", "web", "text", "host", "value", "table", "row",
    "spark", "query", "scan", "join", "agg", "filter", "shard", "batch",
    "time", "series", "bucket", "rollup", "tier", "gap", "fill", "point",
    "metric", "score", "flag", "site", "group", "window", "frame", "hash")
  private val langs = Seq("en", "de", "fr", "es", "pt", "it", "nl", "pl")
  private val tlds = Seq("com", "org", "net", "de", "fr", "io")

  /** `days` of crawl hours from the crawl start (CrawlSynth's four weeks
    * by default)
    */
  def pages(spark: SparkSession, seed: Long, nPages: Long, nHosts: Int,
      numPartitions: Int, days: Int = CrawlSynth.spanHours / 24): DataFrame = {
    def h(salt: Int): Column = abs(xxhash64(col("id"), lit(seed), lit(salt)))
    spark.range(0, nPages, 1, numPartitions)
      .withColumn("h1", h(1)).withColumn("h2", h(2)).withColumn("h3", h(3))
      .withColumn("u", (col("h1") % 1000000L) / lit(1000000.0))
      .withColumn("host_idx",
        (floor(pow(lit(nHosts.toDouble), col("u"))) - 1).cast("long"))
      .withColumn("tld",
        element_at(typedLit(tlds), (col("host_idx") % tlds.size).cast("int") + 1))
      .withColumn("host", concat(lit("host"), col("host_idx"), lit("."), col("tld")))
      .withColumn("url", concat(lit("https://"), col("host"), lit("/p/"), col("id")))
      .withColumn("hour_off", col("h2") % (days * 24L))
      .withColumn("warc_ts",
        timestamp_seconds(lit(CrawlSynth.startEpoch) + col("hour_off") * 3600L))
      .withColumn("n_words",
        when(col("host_idx") === 0, lit(20))
          .when(col("host_idx") === 1,
            when(col("hour_off") % 2 === 0, lit(5)).otherwise(lit(120)))
          .when(col("host_idx") === 2, (col("h3") % 40L) + 220)
          .when(col("host_idx") === 3,
            when(col("h3") % 20L === 0, lit(2000)).otherwise((col("h3") % 40L) + 20))
          .otherwise((col("h3") % 60L) + 10))
      .withColumn("text",
        when(col("host_idx") === 0,
          lit("constant body of host zero for the repeated-value check"))
          .otherwise(concat(
            lit("page "), col("id"), lit(" of "), col("host"), lit(" : "),
            array_join(
              transform(sequence(lit(1), col("n_words").cast("int")),
                i => element_at(typedLit(vocab),
                  (abs(xxhash64(col("id"), lit(seed), i)) % vocab.size).cast("int") + 1)),
              " "))))
      .withColumn("lang",
        when(col("h3") % 5L === 0,
          element_at(typedLit(langs), (col("h3") % langs.size).cast("int") + 1))
          .otherwise(element_at(typedLit(langs),
            (col("host_idx") % langs.size).cast("int") + 1)))
      .withColumn("html", TextExtract.wrap(col("text"), concat(lit("doc "), col("id"))))
      .select("url", "warc_ts", "html", "text", "lang")
  }
}
