package graft.eval

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.sql.expressions.Window

/** One compressed curve bin entering the per-group kernel: the aggregate of
  * all result rows of one evaluation group at one distinct confidence value.
  * `tp` = rows counting as true positives (groundtruth & iou > minIou),
  * `n` = all rows, `gt` = groundtruth rows (any iou). */
case class CurveBin(confidence: Double, tp: Long, n: Long, gt: Long)

/** One PR-curve point. */
case class PrPoint(precision: Double, recall: Double,
    confidence_threshold: Double, f1_score: Double)

/** PR-curve / AP computation — faithful re-implementation of the reference
  * kernel (lours/evaluation/detection/util.py:189-321): confidence-desc
  * sweep, distinct-confidence compression, endpoint padding, reverse
  * running-max precision, collinear-point dropping, optional 101-recall-bin
  * ffill reindex (pycocotools-compatible), right-Riemann AP.
  *
  * Shape: the expensive part — the confidence-desc sweep over every result
  * row — is algebraic (cumulative sums of per-confidence counts), so it runs
  * as a distributed `groupBy(group, confidence)` aggregate: map-side partial
  * aggregation compresses each partition to one row per distinct
  * (group, confidence) before the shuffle, exactly the "keep last index of
  * each distinct confidence" compression the reference does serially
  * (util.py:219-227). Only the compressed bins (≤ #distinct confidences per
  * group) reach the per-group kernel that does the small padding / collinear
  * / reindex finishing — parallelism of the heavy stage is bounded by data
  * size, not by group count. */
object PrCurve {

  /** Finishing kernel over one group's compressed bins (util.py:189-299).
    * Input: one bin per distinct confidence; cumulative sums over the
    * confidence-desc order reproduce the reference's per-row sweep.
    * `reindexBins` = recall bins (e.g. 101 points 0..1) or None for exact
    * curve points. */
  private[eval] def curvePoints(bins0: Iterator[CurveBin],
      reindexBins: Option[Array[Double]]): Iterator[PrPoint] = {
    val bins = bins0.toArray.sortBy(b => -b.confidence)
    if (bins.isEmpty) return Iterator.empty
    val nTargets = bins.iterator.map(_.gt).sum

    val m = bins.length
    val rawPrecision = new Array[Double](m)
    val rawRecall = new Array[Double](m)
    val rawConf = new Array[Double](m)
    var cumTp = 0L
    var cumN = 0L
    for (i <- 0 until m) {
      cumTp += bins(i).tp
      cumN += bins(i).n
      rawPrecision(i) = cumTp.toDouble / cumN
      rawRecall(i) = if (nTargets > 0) cumTp.toDouble / nTargets else Double.NaN
      rawConf(i) = bins(i).confidence
    }

    // endpoint padding (util.py:244-260)
    val precision = Array(1.0, rawPrecision.headOption.getOrElse(0.0)) ++
      rawPrecision ++ Array(0.0, 0.0)
    val recall = Array(0.0, 0.0) ++ rawRecall ++
      Array(rawRecall.lastOption.getOrElse(Double.NaN), 1.0)
    val conf = Array(1.0, 1.0) ++ rawConf ++ Array(0.0, 0.0)

    // precision made monotone non-increasing: reverse running max
    for (i <- precision.length - 2 to 0 by -1)
      precision(i) = math.max(precision(i), precision(i + 1))

    def f1(p: Double, r: Double): Double = 2 * p * r / (p + r + 1e-5)
    // fillna(0) for the no-target NaN recall case
    var pts = precision.indices.map { i =>
      val r = if (recall(i).isNaN) 0.0 else recall(i)
      PrPoint(precision(i), r, conf(i), f1(precision(i), r))
    }.toVector

    // drop collinear points: constant precision, then constant recall
    def dropConstant(v: Vector[PrPoint], f: PrPoint => Double): Vector[PrPoint] =
      v.zipWithIndex.filterNot { case (p, i) =>
        i > 0 && i < v.length - 1 &&
          f(v(i - 1)) == f(p) && f(p) == f(v(i + 1))
      }.map(_._1)
    pts = dropConstant(pts, _.precision)
    pts = dropConstant(pts, _.recall)

    reindexBins match {
      case None => pts.iterator
      case Some(rbins) =>
        // the two-pointer ffill below requires ascending bins (the old
        // reverse-scan tolerated any order; this one would silently emit
        // wrong points for an unsorted bins argument)
        require(rbins.indices.forall(i => i == 0 || rbins(i - 1) <= rbins(i)),
          "reindexBins must be ascending")
        // set_index(recall), drop duplicated recall keep last, ffill-reindex.
        // recall is non-decreasing along the curve, so duplicates are
        // contiguous: keep the last point of each equal-recall run
        val dedup = pts.indices.collect {
          case i if i == pts.length - 1 || pts(i + 1).recall != pts(i).recall => pts(i)
        }
        // ffill over the ascending recall index: two-pointer walk since the
        // requested bins are ascending too
        var j = -1
        rbins.iterator.map { b =>
          while (j + 1 < dedup.length && dedup(j + 1).recall <= b) j += 1
          if (j >= 0) {
            val p = dedup(j)
            PrPoint(p.precision, b, p.confidence_threshold, p.f1_score)
          } else PrPoint(0.0, b, 0.0, 0.0)
        }
    }
  }

  /** 101 recall bins 0.00..1.00 (pycocotools / reference default). */
  val defaultBins: Array[Double] = (0 to 100).map(_ / 100.0).toArray

  /** Compute PR curves per group. `results` must carry `groundtruth`
    * (boolean), `iou`, `confidence` plus the group columns. The group key is
    * string-concatenated for the kernel; the group columns ride through the
    * (key, confidence) aggregate as extra grouping columns (the key is a
    * function of them, so the groups do not change) and the kernel copies
    * them onto its points — `results` is read once, and no group table is
    * joined back.
    *
    * SCALE BOUND (named, per stage): the only per-group-serial work is the
    * finishing kernel and the AP window, and BOTH are bounded by the number
    * of DISTINCT confidence values in the group (+4 padding points), never
    * by its raw result rows — the confidence-desc sweep itself is the
    * distributed (key, confidence) hash aggregate. So the per-task ceiling
    * is `max_g |distinct confidences in g|`. For detectors emitting
    * quantized scores that is already a constant; for CONTINUOUS scores it
    * degenerates to the group's row count at web scale — one popular
    * category = one fat kernel task. `confidenceDecimals` is the lever:
    * rounding scores to `d` decimals before the compression caps the bound
    * at 10^d + 1 bins per group REGARDLESS of corpus size (pycocotools
    * quantizes the other side of the same trade at 101 recall bins; with
    * the default 101-bin reindex, d ≥ 3 is visually indistinguishable).
    * Default None = exact semantics — the oracle gates run exact. */
  def compute(results: DataFrame, groupCols: Seq[String], minIou: Double = 0.0,
      reindexBins: Option[Array[Double]] = Some(defaultBins),
      confidenceDecimals: Option[Int] = None): DataFrame = {
    val sep = "\u0001" // non-printable separator so distinct tuples never collapse
    // coalesce each value: concat_ws SKIPS nulls, which would collapse
    // (null, "a") and ("a", null) into the same key
    val keyCol = concat_ws(sep, groupCols.map(c =>
      coalesce(col(s"`$c`").cast("string"), lit("\u0000null"))): _*)
    // group columns ride along under positional names, so a group named
    // like a bin column (`confidence`, `key`, …) cannot collide
    val groups = groupCols.indices.map(i => s"__g$i")
    // distributed distinct-confidence compression: one row out per
    // (group, confidence) — partial aggregation makes this scale with data
    // size rather than with the number of evaluation groups
    val bins = results
      .select((Seq(
        keyCol.as("key"),
        col("groundtruth").cast("boolean").as("groundtruth"),
        col("iou").cast("double").as("iou"),
        confidenceDecimals.foldLeft(col("confidence").cast("double"))(
          (c, d) => round(c, d)).as("confidence")) ++
        groupCols.zip(groups).map { case (c, g) => col(s"`$c`").as(g) }): _*)
      .groupBy(("key" +: "confidence" +: groups).map(col): _*)
      .agg(
        sum(when(col("groundtruth") && col("iou") > lit(minIou), 1L).otherwise(0L)).as("tp"),
        count(lit(1)).as("n"),
        sum(when(col("groundtruth"), 1L).otherwise(0L)).as("gt"))
    // bin row = key, confidence, group values…, tp, n, gt
    val nGroups = groupCols.length
    val outSchema = StructType(Seq("precision", "recall",
      "confidence_threshold", "f1_score").map(StructField(_, DoubleType, nullable = false)) ++
      groupCols.zip(bins.schema.fields.slice(2, 2 + nGroups)).map {
        case (c, f) => f.copy(name = c) })
    val curves = bins.groupByKey(_.getString(0))(Encoders.STRING)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        // a key holds one group tuple unless two tuples stringify alike;
        // then, as for one tuple, its curve runs over the summed bins and
        // is emitted once per tuple
        val merged = rows.groupMapReduce(_.getDouble(1))(r =>
          (r.getLong(2 + nGroups), r.getLong(3 + nGroups), r.getLong(4 + nGroups)))(
          (x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3))
        val pts = curvePoints(merged.iterator.map { case (c, (tp, n, gt)) =>
          CurveBin(c, tp, n, gt) }, reindexBins).toArray
        rows.iterator.map(r => r.toSeq.slice(2, 2 + nGroups)).distinct
          .flatMap(g => pts.iterator.map(p => Row.fromSeq(Seq(p.precision,
            p.recall, p.confidence_threshold, p.f1_score) ++ g)))
      }(Encoders.row(outSchema))
    curves.withColumn("iou_threshold", lit(minIou))
  }

  /** Right-Riemann AP per group over a PR-curve frame
    * (compute_average_precision, util.py:302-321): sort by recall, sum
    * precision · Δrecall. Window implementation — ties contribute 0. */
  def averagePrecision(prCurve: DataFrame, groupCols: Seq[String]): DataFrame = {
    // pandas stable-sorts by recall keeping curve order among ties, where
    // precision is non-increasing — so the first row of a recall-tie group
    // (the one whose Δrecall is nonzero) is the highest-precision one.
    val w = Window.partitionBy(groupCols.map(c => col(s"`$c`")): _*)
      .orderBy(col("recall"), desc("precision"))
    val withDiff = prCurve.withColumn("__dr",
      col("recall") - coalesce(lag(col("recall"), 1).over(w), col("recall")))
    withDiff.groupBy(groupCols.map(c => col(s"`$c`")): _*)
      .agg(sum(col("precision") * col("__dr")).as("AP"))
  }
}
