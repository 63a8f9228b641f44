package graft.eval

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One box entering the matcher (either groundtruth or prediction). */
case class EvalBox(
    id: Long, image_id: Long, category_id: Int,
    box_x_min: Double, box_y_min: Double, box_width: Double, box_height: Double,
    confidence: Double, groundtruth: Boolean)

/** One matcher output row: every prediction appears exactly once (matched or
  * not), plus one row per unmatched groundtruth. `confidence` is the
  * prediction's own confidence, 0.0 on a missed groundtruth row — the
  * evaluator's result table is a projection of these rows. */
case class MatchRow(
    image_id: Long, category_id: Int,
    prediction_id: Option[Long], groundtruth_id: Option[Long], iou: Double,
    confidence: Double = 0.0)

/** Greedy confidence-ordered bipartite matching — the evaluation core.
  *
  * Replicates the reference kernel exactly (lours/evaluation/detection/
  * util.py:98-186, pycocotools-equivalent; validated against
  * test_evaluation/test_matches.py semantics):
  *
  *  1. predictions sorted by confidence descending (ties broken by id — the
  *     reference relies on pandas stable sort over table order, which is id
  *     order in practice)
  *  2. each round: rows whose best remaining IoU is NOT strictly above
  *     `minIou` are dropped (they can never match); each remaining row picks
  *     its best remaining groundtruth (ties → lowest-index gt, like
  *     `idxmax`); the prefix of rows up to the first duplicate gt pick is
  *     committed; matched rows and gts are removed; repeat.
  *
  * Spark shape: `union` → `groupByKey(image_id[, category_id])` →
  * `flatMapGroups(kernel)` — ONE shuffle on the group key, then pure Scala
  * per group. Groups are per-image (at most per-image-per-category), so the
  * kernel's O(N·M) IoU matrix is tiny regardless of total data size; the
  * operator scales horizontally with the number of images.
  */
object Matching {

  /** Pairwise IoU (util.py:54-95 semantics). */
  private def iouOf(a: EvalBox, b: EvalBox): Double = {
    val ix = math.min(a.box_x_min + a.box_width, b.box_x_min + b.box_width) -
      math.max(a.box_x_min, b.box_x_min)
    val iy = math.min(a.box_y_min + a.box_height, b.box_y_min + b.box_height) -
      math.max(a.box_y_min, b.box_y_min)
    if (ix < 0 || iy < 0) 0.0
    else {
      val inter = ix * iy
      val union = a.box_width * a.box_height + b.box_width * b.box_height - inter
      if (union > 0) inter / union else 0.0
    }
  }

  /** The per-group greedy matcher (util.py:98-186). Group = one image (and
    * one category unless agnostic); sizes are small by construction. */
  private[eval] def matchGroup(boxes: Iterator[EvalBox], minIou: Double): Iterator[MatchRow] = {
    val all = boxes.toArray
    if (all.isEmpty) return Iterator.empty
    val imageId = all.head.image_id
    val categoryId = all.head.category_id
    val gts = all.filter(_.groundtruth).sortBy(_.id)
    val preds = all.filterNot(_.groundtruth)
      .sortBy(p => (-p.confidence, p.id)) // conf desc, stable by id

    val m = gts.length
    val n = preds.length
    // IoU matrix, row = prediction (conf-desc order), col = gt (id order)
    val ious = Array.tabulate(n, m)((i, j) => iouOf(preds(i), gts(j)))

    val predMatch = Array.fill[Int](n)(-1)   // gt index matched per pred
    val predIou = Array.fill[Double](n)(0.0)
    val gtMatch = Array.fill[Int](m)(-1)     // pred index matched per gt
    val gtIou = Array.fill[Double](m)(0.0)

    var rows: Array[Int] = Array.range(0, n) // remaining pred rows, in order
    val colAlive = Array.fill[Boolean](m)(true)

    var continue = rows.nonEmpty && m > 0
    while (continue) {
      // 1. best remaining iou per row; drop rows not strictly above minIou
      val kept = rows.filter { r =>
        var best = Double.NegativeInfinity
        var j = 0
        while (j < m) { if (colAlive(j) && ious(r)(j) > best) best = ious(r)(j); j += 1 }
        best > minIou
      }
      if (kept.isEmpty) continue = false
      else {
        // 2. per-row argmax (first max in gt order, like idxmax)
        val pick = kept.map { r =>
          var best = Double.NegativeInfinity; var bj = -1; var j = 0
          while (j < m) {
            if (colAlive(j) && ious(r)(j) > best) { best = ious(r)(j); bj = j }
            j += 1
          }
          (r, bj, best)
        }
        // 3. commit prefix until the first duplicated gt pick
        val seen = scala.collection.mutable.Set[Int]()
        var firstDup = pick.length
        var i = 0
        while (i < pick.length && firstDup == pick.length) {
          if (seen.contains(pick(i)._2)) firstDup = i else seen += pick(i)._2
          i += 1
        }
        val committed = pick.take(firstDup)
        committed.foreach { case (r, j, v) =>
          predMatch(r) = j; predIou(r) = v
          gtMatch(j) = r; gtIou(j) = v
          colAlive(j) = false
        }
        rows = pick.drop(firstDup).map(_._1)
        continue = rows.nonEmpty && colAlive.exists(identity)
      }
    }

    // every prediction row (matched or NA) + unmatched gts (util.py:36-51)
    val predRows = (0 until n).iterator.map { i =>
      MatchRow(imageId, categoryId,
        Some(preds(i).id),
        if (predMatch(i) >= 0) Some(gts(predMatch(i)).id) else None,
        predIou(i), preds(i).confidence)
    }
    val fnRows = (0 until m).iterator.collect {
      case j if gtMatch(j) < 0 =>
        MatchRow(imageId, categoryId, None, Some(gts(j).id), 0.0)
    }
    predRows ++ fnRows
  }

  /** Test-only access to the per-group kernel (property suites exercise
    * it directly without a SparkSession). */
  private[graft] def testMatchGroup(boxes: Iterator[EvalBox], minIou: Double)
      : Iterator[MatchRow] = matchGroup(boxes, minIou)

  /** Normalize an annotations frame to the matcher's input shape. */
  private def toEvalBoxes(df: DataFrame, groundtruth: Boolean): DataFrame = {
    val conf =
      if (groundtruth || !df.columns.contains("confidence")) lit(0.0)
      else col("confidence").cast("double")
    df.select(
      col("id").cast("long"),
      col("image_id").cast("long"),
      col("category_id").cast("int"),
      col("box_x_min").cast("double"), col("box_y_min").cast("double"),
      col("box_width").cast("double"), col("box_height").cast("double"),
      conf.as("confidence"),
      lit(groundtruth).as("groundtruth"))
  }

  /** Distributed matching: one shuffle on (image_id[, category_id]), then the
    * per-group kernel (detection_evaluator.py:54-179). */
  def computeMatches(
      groundtruth: DataFrame, predictions: DataFrame,
      minIou: Double = 0.0, categoryAgnostic: Boolean = false): Dataset[MatchRow] = {
    val spark = groundtruth.sparkSession
    import spark.implicits._
    val both = toEvalBoxes(groundtruth, groundtruth = true)
      .unionByName(toEvalBoxes(predictions, groundtruth = false))
      .as[EvalBox]
    if (categoryAgnostic)
      both.groupByKey(_.image_id)
        .flatMapGroups((_, it) => matchGroup(it, minIou).map(_.copy(category_id = -1)))
    else
      both.groupByKey(b => (b.image_id, b.category_id))
        .flatMapGroups((_, it) => matchGroup(it, minIou))
  }
}
