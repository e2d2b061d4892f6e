package perfbench

import graft.ctas.{CtasConfig, CtasInput, CtasPipeline, MixedEffects}
import graft.rollup.SeriesDerive
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** ctas anomaly study over crawl-derived series. Setup derives and
  * checkpoints `SeriesDerive.series` / `hosts` / `parameters` of the seeded
  * crawl; a pass runs `CtasPipeline.processAStudy` (its outputs come back
  * materialized) and then `MixedEffects.score` on the average/sd/range
  * features, collected. The warm-up is one untimed pass over the same
  * input, so its site-score hash is the one every measured pass must match.
  * Samples: `primary_s` processAStudy, `secondary_s` MixedEffects.score.
  */
final class Study(ctx: Ctx) extends Workload {
  import ctx.spark

  private val cfg = CtasConfig(defaultMinTimepoints = 24, defaultMinSubjects = 3)
  private var input: CtasInput = _
  private var expectedHash: Option[Long] = None
  private var last = 0.0

  def synth(): Double = {
    // a repeated synthesis first drops the checkpoints of the previous one
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val t0 = ctx.now()
    input = studyInput()
    ctx.info("fact_rows") = input.data.count().toString
    ctx.info("subjects") = input.subjects.count().toString
    ctx.secs(t0)
  }

  private def studyInput(): CtasInput = {
    val pages = Gen.pages(spark, ctx.seed, ctx.pages, ctx.hosts, ctx.cores * 4)
    // checkpointed rather than cached: processAStudy persists and, when it
    // finishes, unpersists the subjects frame it is given, which would drop
    // a plain cache and make every later pass re-derive it
    val data = SeriesDerive.series(pages).localCheckpoint(true)
    val subjects = SeriesDerive.hosts(pages).localCheckpoint(true)
    def empty(ddl: String): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL(ddl))
    CtasInput(subjects, SeriesDerive.parameters(spark), data,
      empty("timeseries_id STRING, parameter_id STRING, timepoint_combo STRING"),
      empty("parameter_id STRING, feature STRING, ref_group STRING"))
  }

  def lastPassSeconds: Double = last

  def warmup(): Unit = pass(traced = false)

  def pass(traced: Boolean): Unit = {
    val tr = ctx.trace
    tr.span("study.pass") {
      val t0 = ctx.now()
      val outs = tr.span("study")(CtasPipeline.processAStudy(input, cfg))
      val studyS = ctx.secs(t0)
      val scores = outs.map(_.siteScores.collect()).getOrElse(Array.empty[Row])
      ctx.op("primary_s")((studyS, checkStudy(outs.isDefined, scores)))
      outs.foreach { o =>
        ctx.op("secondary_s") {
          val eligible = o.timeseriesFeatures
            .filter(col("feature").isin("average", "sd", "range"))
            .withColumn("ref_group", lit("country"))
          val t1 = ctx.now()
          val me = tr.span("MixedEffects") {
            val rows = MixedEffects.score(spark, eligible, cfg).collect()
            tr.attr("rows_out", rows.length.toDouble)
            rows
          }
          val meS = ctx.secs(t1)
          last = studyS + meS
          (meS, pvalueError("MixedEffects", me))
        }
      }
    }
  }

  /** p-value columns of a result must lie in [0, 1]; a `*_logp` column
    * holds -log10(p), so it must be >= 0 (+Infinity for p = 0)
    */
  private def pvalueError(what: String, rows: Array[Row]): Option[String] = {
    if (rows.isEmpty) return Some(s"$what returned no rows")
    val fields = rows.head.schema.fieldNames.zipWithIndex
      .filter { case (n, _) => n.contains("pvalue") || n.contains("p_value") }
    if (fields.isEmpty) return Some(s"$what has no p-value column")
    val bad = rows.iterator.flatMap(r => fields.iterator.map { case (n, i) =>
      val v = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      (n, if (n.endsWith("_logp")) math.pow(10, -v) else v) })
      .find { case (_, p) => !(p >= 0.0 && p <= 1.0) }
    bad.map { case (n, p) => s"$what $n gives a p-value out of [0, 1]: $p" }
  }

  /** The study must return site scores whose order-independent hash is the
    * same on every pass (warm-up, untraced and traced) and whose p-values
    * lie in [0, 1].
    */
  private def checkStudy(defined: Boolean, scores: Array[Row]): Option[String] =
    if (!defined) Some("processAStudy returned no outputs")
    else pvalueError("site scores", scores).orElse {
      // doubles at 12 significant digits: stable under summation order
      val h = scores.iterator.map { r =>
        scala.util.hashing.MurmurHash3.stringHash(r.toSeq.map {
          case d: Double => f"$d%.11e"
          case v => String.valueOf(v)
        }.mkString("\u0001")).toLong & 0xffffffffL
      }.sum
      expectedHash match {
        case None =>
          expectedHash = Some(h)
          ctx.info("site_scores") = scores.length.toString
          ctx.info("site_score_hash") = h.toString
          None
        case Some(e) if e != h => Some(s"site score hash $h differs from the warm-up's $e")
        case _ => None
      }
    }
}
