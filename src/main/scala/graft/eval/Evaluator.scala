package graft.eval

import graft.model.GraftDataset
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Detection evaluator — reference `Evaluator`/`DetectionEvaluator`
  * (lours/evaluation/evaluator.py:13-198,
  * lours/evaluation/detection/detection_evaluator.py).
  *
  * One images table + one groundtruth annotations table + N named prediction
  * tables sharing the image PK space and label map. Match tables are cached
  * per (model, agnostic) like the reference's `matches` dict
  * (detection_evaluator.py:32-39) — here as persisted DataFrames.
  */
class DetectionEvaluator(
    val images: DataFrame,
    val groundtruth: DataFrame,
    val predictions: Map[String, DataFrame],
    val labelMap: Map[Int, String]) {

  predictions.foreach { case (name, df) =>
    require(df.columns.contains("confidence"),
      s"prediction set '$name' lacks a confidence column (evaluator.py:117-123)")
  }

  private val matchCache =
    scala.collection.mutable.Map[(String, Boolean, Double), Dataset[MatchRow]]()

  /** Matches for one prediction set, cached per (model, agnostic, minIou)
    * (detection_evaluator.py:54-179 — the threshold is part of the match
    * semantics, so it must be part of the cache key). */
  def matches(model: String, minIou: Double = 0.0,
      categoryAgnostic: Boolean = false): Dataset[MatchRow] =
    matchCache.getOrElseUpdate((model, categoryAgnostic, minIou),
      Matching.computeMatches(groundtruth, predictions(model), minIou, categoryAgnostic)
        .persist())

  /** Assemble the evaluation result table (detection_evaluator.py:584-616):
    * one row per groundtruth (confidence of its matched prediction, else 0)
    * + one row per unmatched prediction (FP). Carries `category_id` for
    * grouping. A projection of the cached match table: the matcher already
    * carries each row's confidence, so the prediction frame is not read
    * again. */
  def results(model: String, categoryAgnostic: Boolean = false): DataFrame =
    matches(model, 0.0, categoryAgnostic).toDF().select(
      col("image_id"), col("category_id"),
      col("groundtruth_id").isNotNull.as("groundtruth"),
      col("iou"), col("confidence"))

  /** PR curves + AP per category (compute_precision_recall,
    * detection_evaluator.py:382-682) for one model.
    *
    * `confidenceDecimals` is the web-scale task-skew lever plumbed from
    * [[PrCurve.compute]]: the kernel's per-group cost is bounded by the
    * number of DISTINCT confidences in the group, and continuous scores
    * make that bound the group's row count. Rounding to `d` decimals caps
    * it at 10^d + 1 regardless of group size. Default `None` preserves the
    * reference-parity semantics exactly. */
  def precisionRecall(model: String, minIou: Double = 0.0,
      reindexBins: Option[Array[Double]] = Some(PrCurve.defaultBins),
      confidenceDecimals: Option[Int] = None)
      : (DataFrame, DataFrame) = {
    val res = results(model)
    val pr = PrCurve.compute(res, Seq("category_id"), minIou, reindexBins,
      confidenceDecimals)
      .withColumn("model", lit(model))
      .withColumn("category_str",
        GraftDataset.labelMapColumn(labelMap, col("category_id")))
    val ap = PrCurve.averagePrecision(pr, Seq("category_id", "model", "category_str"))
    (pr, ap)
  }

  /** Validate a prediction set against the groundtruth side — reference
    * Evaluator.__init__ checks (evaluator.py:45-198): confidence present
    * (constructor), prediction image ids ⊆ gt image ids, categories within
    * the label map. */
  def validatePredictions(model: String): Unit = {
    val p = predictions(model)
    val orphan = p.select(col("image_id"))
      .join(images.select(col("id")), p("image_id") === images("id"), "left_anti")
      .limit(1).count()
    require(orphan == 0, s"'$model': prediction image_id not in images")
    // a duplicated prediction id fans out every id-keyed join in the
    // grouped results assembly (measured: one dup id → 2×2 phantom unmatched
    // rows) — fail loudly, like assert_ids_well_formed does for datasets
    val dup = p.agg(count(lit(1)).as("n"),
      countDistinct(col("id")).as("d")).head()
    require(dup.getLong(0) == dup.getLong(1),
      s"'$model': duplicate prediction ids " +
        s"(${dup.getLong(0)} rows, ${dup.getLong(1)} distinct)")
    if (labelMap.nonEmpty) {
      val unknown = p.select("category_id").distinct()
        .filter(!col("category_id").isin(labelMap.keySet.toSeq: _*))
        .limit(1).count()
      require(unknown == 0, s"'$model': prediction category_id not in label map")
    }
  }

  /** PR curves grouped by arbitrary group specs (compute_precision_recall's
    * `groups` parameter, detection_evaluator.py:382-682 + grouper
    * resolution): image-level (root) columns resolve through the FK;
    * annotation-level columns come from the GROUNDTRUTH row for matched/FN
    * entries and from the PREDICTION row for FP entries (the reference's
    * documented FP rule). Continuous groups bin via the Grouper. */
  def precisionRecallGrouped(model: String,
      groups: Seq[graft.operators.Grouper.GroupSpec],
      minIou: Double = 0.0,
      reindexBins: Option[Array[Double]] = Some(PrCurve.defaultBins),
      confidenceDecimals: Option[Int] = None)
      : (DataFrame, DataFrame) = {
    import graft.operators.Grouper
    val m = matches(model, 0.0, categoryAgnostic = false).toDF()
    // continuous-group bin edges are computed ONCE over the COMBINED
    // gt+prediction values (reference bins the assembled results frame,
    // detection_evaluator.py:620) — independent per-table edges would give
    // the FP rows bin labels disjoint from the groundtruth rows'
    val sharedEdges: Map[String, Array[Double]] = groups.collect {
      case cg: Grouper.ContinuousGroup =>
        val srcName = cg.name
        val combined =
          if (cg.root) images.select(col(s"`$srcName`"))
          else groundtruth.select(col(s"`$srcName`"))
            .unionByName(predictions(model).select(col(s"`$srcName`")))
        cg.name -> Grouper.binEdges(combined, cg.copy(root = false))
    }.toMap
    // resolve group columns on both annotation tables (root cols via images)
    val gtResolved = Grouper.resolveGroups(
      new graft.model.GraftDataset(images, groundtruth, labelMap), groups, sharedEdges)
    val predResolved = Grouper.resolveGroups(
      new graft.model.GraftDataset(images, predictions(model), labelMap), groups, sharedEdges)
    val groupCols = groups.map(g => s"__group_${g.name}")
    def pick(df: DataFrame, idAlias: String) =
      df.select((col("id").as(idAlias) +: groupCols.map(c => col(s"`$c`"))): _*)
    val gtRows = m.filter(col("groundtruth_id").isNotNull)
      .join(pick(gtResolved, "groundtruth_id"), Seq("groundtruth_id"))
      .select((Seq(lit(true).as("groundtruth"), col("iou"), col("confidence")) ++
        groupCols.map(c => col(s"`$c`"))): _*)
    val fpRows = m.filter(col("groundtruth_id").isNull && col("prediction_id").isNotNull)
      .join(pick(predResolved, "prediction_id"), Seq("prediction_id"))
      .select((Seq(lit(false).as("groundtruth"), col("iou"), col("confidence")) ++
        groupCols.map(c => col(s"`$c`"))): _*)
    val results = gtRows.unionByName(fpRows)
    val pr = PrCurve.compute(results, groupCols, minIou, reindexBins,
      confidenceDecimals)
      .withColumn("model", lit(model))
    val renamed = groups.foldLeft(pr)((d, g) =>
      d.withColumnRenamed(s"__group_${g.name}", g.name))
    val ap = PrCurve.averagePrecision(renamed,
      groups.map(_.name) :+ "model")
    (renamed, ap)
  }

  /** Multi-model × multi-IoU PR/AP sweep (compute_precision_recall's full
    * shape, detection_evaluator.py:382-682): the cross of prediction sets
    * and IoU thresholds, each a separate curve set, unioned with
    * `iou_threshold`/`model` discriminator columns. */
  def precisionRecallAll(
      models: Seq[String] = Nil,
      ious: Seq[Double] = Seq(0.0),
      reindexBins: Option[Array[Double]] = Some(PrCurve.defaultBins),
      confidenceDecimals: Option[Int] = None)
      : (DataFrame, DataFrame) = {
    val ms = if (models.nonEmpty) models else predictions.keys.toSeq.sorted
    val results = for (m <- ms; iou <- ious) yield {
      val (pr, ap) = precisionRecall(m, iou, reindexBins, confidenceDecimals)
      (pr, ap.withColumn("iou_threshold", lit(iou)))
    }
    (results.map(_._1).reduce(_ unionByName _),
      results.map(_._2).reduce(_ unionByName _))
  }

  /** Row-normalized confusion matrix in long form
    * (compute_confusion_matrix, detection_evaluator.py:181-380; kernel
    * util.py:359-388): match gt/pred labels (unmatched side → "None"),
    * count pairs, normalize by the gt-label row total. Pure relational —
    * two broadcast label joins, one groupBy, one window. */
  def confusionMatrix(model: String, minIou: Double = 0.0,
      categoryAgnostic: Boolean = true): DataFrame = {
    val m = Matching.computeMatches(groundtruth, predictions(model), minIou,
      categoryAgnostic).toDF()
    val gtLabel = groundtruth.select(col("id").as("groundtruth_id"),
      GraftDataset.labelMapColumn(labelMap, col("category_id")).as("groundtruth_label"))
    val predLabel = predictions(model).select(col("id").as("prediction_id"),
      GraftDataset.labelMapColumn(labelMap, col("category_id")).as("prediction_label"))
    val labeled = m
      .join(gtLabel, Seq("groundtruth_id"), "left")
      .join(predLabel, Seq("prediction_id"), "left")
      .select(
        coalesce(col("groundtruth_label"), lit("None")).as("groundtruth_label"),
        coalesce(col("prediction_label"), lit("None")).as("prediction_label"))
    val counts = labeled.groupBy("groundtruth_label", "prediction_label").count()
    val w = Window.partitionBy("groundtruth_label")
    counts.withColumn("share",
      col("count") / sum(col("count")).over(w)).drop("count")
  }

  /** Count-error metrics (compute_count_error,
    * crowd_detection_evaluator.py:30-236): per (category, image) the
    * detected-count-vs-threshold curve, joined to gt counts, then per
    * (category, threshold) MAE/RMSE/std/quantiles + relative variants.
    * Fully relational: the threshold sweep is an explode over a literal
    * bin array — scales as #images × #bins. */
  def countError(model: String,
      confidences: Array[Double] = PrCurve.defaultBins): DataFrame = {
    val binsCol = array(confidences.map(lit): _*)
    val predCounts = predictions(model)
      .select(col("category_id"), col("image_id"), col("confidence").cast("double"))
      .withColumn("confidence_threshold", explode(binsCol))
      .groupBy("category_id", "image_id", "confidence_threshold")
      .agg(sum(when(col("confidence") >= col("confidence_threshold"), 1L)
        .otherwise(0L)).as("count"))
    val gtCounts = groundtruth.groupBy(col("category_id"), col("image_id"))
      .agg(count(lit(1)).as("gt_count"))
    // left join mirrors the reference: images with zero predictions for a
    // category do not contribute rows (prediction_counts.join(gt_count),
    // crowd_detection_evaluator.py:193)
    val joined = predCounts.join(gtCounts, Seq("category_id", "image_id"), "left")
      .na.fill(0L, Seq("count", "gt_count"))
      .withColumn("error", col("count") - col("gt_count"))
      .withColumn("rel_error",
        when(col("gt_count") > 0, col("error") / col("gt_count")))
    joined
      .filter(col("confidence_threshold").isNotNull)
      .groupBy("category_id", "confidence_threshold")
      .agg(
        avg(abs(col("error"))).as("MAE"),
        sqrt(avg(col("error") * col("error"))).as("RMSE"),
        stddev(col("error")).as("std"),
        // exact median (pandas .quantile semantics): count errors are
        // small integers — few distinct values per group, so the exact
        // aggregate stays cheap at any scale
        percentile(col("error"), lit(0.5)).as("q0_50"),
        avg(abs(col("rel_error"))).as("MRE"),
        sqrt(avg(col("rel_error") * col("rel_error"))).as("RMSRE"))
      .withColumn("model", lit(model))
  }
}

/** Post-processing helpers over PR-curve frames. */
object EvalReports {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.expressions.Window

  /** Best-F1 operating point per group (the doc-example groupby-idxmax,
    * detection_evaluator.py:517-521): the row with max f1 per group, ties
    * to higher confidence. */
  def bestF1(prCurve: DataFrame, groupCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(groupCols.map(c => col(s"`$c`")): _*)
      .orderBy(desc("f1_score"), desc("confidence_threshold"))
    prCurve.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
  }

  /** Pivot the long-form confusion matrix to the wide label×label shape
    * (one row per groundtruth label, one column per prediction label). */
  def confusionWide(longForm: DataFrame): DataFrame =
    longForm.groupBy("groundtruth_label")
      .pivot("prediction_label")
      .agg(first("share"))
      .na.fill(0.0)

  /** Add an F_beta column to a PR-curve frame — the reference's
    * multi-beta support (pr_curve betas parameter, util.py:274-281:
    * (1+b^2)·p·r / (p·b^2 + r + 1e-5)). */
  def withFBeta(prCurve: DataFrame, beta: Double): DataFrame = {
    val b2 = beta * beta
    prCurve.withColumn(f"f${beta}%s_score".replace(".0", ""),
      (lit(1 + b2) * col("precision") * col("recall")) /
        (col("precision") * lit(b2) + col("recall") + lit(1e-5)))
  }
}
