package graft

import graft.eval._
import org.apache.spark.sql.functions._

class MatchingSpec extends SparkFunSuite {
  import spark.implicits._

  private def gtDf(rows: Seq[(Long, Long, Int, Double, Double, Double, Double)]) =
    rows.toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")

  private def predDf(rows: Seq[(Long, Long, Int, Double, Double, Double, Double, Double)]) =
    rows.toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height", "confidence")

  test("basic match + FP + FN") {
    val gt = gtDf(Seq((0L, 0L, 0, 0.0, 0.0, 10.0, 10.0), (1L, 0L, 0, 20.0, 0.0, 10.0, 10.0)))
    val pr = predDf(Seq(
      (10L, 0L, 0, 0.0, 0.0, 10.0, 10.0, 0.9),   // perfect on gt0
      (11L, 0L, 0, 1.0, 0.0, 10.0, 10.0, 0.8)))  // overlaps gt0 only (taken)
    val m = Matching.computeMatches(gt, pr).collect().sortBy(_.prediction_id.getOrElse(99L))
    assert(m.length == 3)
    val byPred = m.filter(_.prediction_id.isDefined).map(r => r.prediction_id.get -> r).toMap
    assert(byPred(10L).groundtruth_id.contains(0L) && byPred(10L).iou == 1.0)
    assert(byPred(11L).groundtruth_id.isEmpty) // gt0 taken, gt1 iou=0 not > minIou
    val fn = m.filter(_.prediction_id.isEmpty)
    assert(fn.map(_.groundtruth_id.get).toSeq == Seq(1L))
  }

  test("confidence priority beats IoU quality") {
    val gt = gtDf(Seq((0L, 0L, 0, 0.0, 0.0, 10.0, 10.0)))
    val pr = predDf(Seq(
      (10L, 0L, 0, 0.0, 0.0, 10.0, 20.0, 0.95), // iou 0.5, higher conf
      (11L, 0L, 0, 0.0, 0.0, 10.0, 11.0, 0.90))) // iou ~0.909, lower conf
    val m = Matching.computeMatches(gt, pr).collect()
    val byPred = m.filter(_.prediction_id.isDefined).map(r => r.prediction_id.get -> r).toMap
    assert(byPred(10L).groundtruth_id.contains(0L))
    assert(byPred(11L).groundtruth_id.isEmpty)
  }

  test("duplicate pick falls through to second-best groundtruth") {
    val gt = gtDf(Seq((0L, 0L, 0, 0.0, 0.0, 10.0, 10.0), (1L, 0L, 0, 8.0, 0.0, 10.0, 10.0)))
    val pr = predDf(Seq(
      (10L, 0L, 0, 0.0, 0.0, 10.0, 10.0, 0.95), // best: gt0 (iou 1)
      (11L, 0L, 0, 1.0, 0.0, 10.0, 10.0, 0.90))) // best: gt0, falls to gt1
    val m = Matching.computeMatches(gt, pr).collect()
    val byPred = m.filter(_.prediction_id.isDefined).map(r => r.prediction_id.get -> r).toMap
    assert(byPred(10L).groundtruth_id.contains(0L))
    assert(byPred(11L).groundtruth_id.contains(1L))
  }

  test("min_iou is strict and category-specific grouping separates classes") {
    val gt = gtDf(Seq((0L, 0L, 0, 0.0, 0.0, 10.0, 10.0)))
    val pr = predDf(Seq(
      (10L, 0L, 1, 0.0, 0.0, 10.0, 10.0, 0.9), // same box, other category
      (11L, 0L, 0, 0.0, 0.0, 20.0, 10.0, 0.8))) // iou exactly 0.5
    val strict = Matching.computeMatches(gt, pr, minIou = 0.5).collect()
    assert(strict.forall(r => r.groundtruth_id.isEmpty || r.prediction_id.isEmpty))
    val agnostic = Matching.computeMatches(gt, pr, minIou = 0.0, categoryAgnostic = true).collect()
    val byPred = agnostic.filter(_.prediction_id.isDefined).map(r => r.prediction_id.get -> r).toMap
    assert(byPred(10L).groundtruth_id.contains(0L)) // cross-category match allowed
  }
}

class PrCurveSpec extends SparkFunSuite {
  import spark.implicits._

  private def resultsDf(rows: Seq[(Boolean, Double, Double)]) =
    rows.map { case (g, i, c) => (0, g, i, c) }
      .toDF("category_id", "groundtruth", "iou", "confidence")

  test("exact curve matches hand computation") {
    // gt matched (iou .8, conf .9), gt unmatched (conf 0), FP (conf .7)
    val res = resultsDf(Seq((true, 0.8, 0.9), (true, 0.0, 0.0), (false, 0.0, 0.7)))
    val pr = PrCurve.compute(res, Seq("category_id"), minIou = 0.5, reindexBins = None)
      .orderBy(desc("confidence_threshold"), col("recall"))
    val pts = pr.select("precision", "recall", "confidence_threshold")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    // reference-verified via tools/ref_pr_oracle.py (pandas collinear drop
    // keeps the LAST point of a recall plateau, not the first)
    assert(pts.toSeq == Seq(
      (1.0, 0.0, 1.0), (1.0, 0.5, 0.9), (0.0, 0.5, 0.0), (0.0, 1.0, 0.0)))
  }

  test("AP is the right-Riemann sum over recall") {
    val res = resultsDf(Seq((true, 0.8, 0.9), (true, 0.0, 0.0), (false, 0.0, 0.7)))
    val pr = PrCurve.compute(res, Seq("category_id"), minIou = 0.5, reindexBins = None)
    val ap = PrCurve.averagePrecision(pr, Seq("category_id"))
      .collect()(0).getAs[Double]("AP")
    assert(math.abs(ap - 0.5) < 1e-12)
  }

  test("101-bin reindex ffills precision at recall bins") {
    val res = resultsDf(Seq((true, 0.8, 0.9), (true, 0.0, 0.0), (false, 0.0, 0.7)))
    val pr = PrCurve.compute(res, Seq("category_id"), minIou = 0.5)
    assert(pr.count() == 101)
    val at = pr.select("recall", "precision").collect()
      .map(r => math.round(r.getDouble(0) * 100).toInt -> r.getDouble(1)).toMap
    // reference-verified: recall-plateau dedup keeps last → bin .50 is 0
    assert(at(0) == 1.0)
    assert(at(49) == 1.0)
    assert(at(50) == 0.0)
    assert(at(99) == 0.0)
    assert(at(100) == 0.0)
  }

  test("perfect detector: AP 1.0 exact, 0.99 on 101-bin curve (reference-verified)") {
    val res = resultsDf(Seq((true, 0.9, 0.9), (true, 0.95, 0.8)))
    val exact = PrCurve.compute(res, Seq("category_id"), minIou = 0.5, reindexBins = None)
    val apExact = PrCurve.averagePrecision(exact, Seq("category_id"))
      .collect()(0).getAs[Double]("AP")
    assert(math.abs(apExact - 1.0) < 1e-12)
    val binned = PrCurve.compute(res, Seq("category_id"), minIou = 0.5)
    val ap101 = PrCurve.averagePrecision(binned, Seq("category_id"))
      .collect()(0).getAs[Double]("AP")
    assert(math.abs(ap101 - 0.99) < 1e-9)
  }
}

class EvaluatorSpec extends SparkFunSuite {
  import spark.implicits._

  private def fixture(): DetectionEvaluator = {
    val images = Seq((0L, 100, 100, "a.jpg")).toDF("id", "width", "height", "relative_path")
    val gt = Seq(
      (0L, 0L, 0, 0.0, 0.0, 10.0, 10.0),
      (1L, 0L, 1, 20.0, 20.0, 10.0, 10.0)
    ).toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    val preds = Seq(
      (10L, 0L, 0, 0.0, 0.0, 10.0, 10.0, 0.9),  // TP on gt0
      (11L, 0L, 1, 50.0, 50.0, 10.0, 10.0, 0.8) // FP, gt1 unmatched
    ).toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height", "confidence")
    new DetectionEvaluator(images, gt, Map("m" -> preds), Map(0 -> "person", 1 -> "car"))
  }

  test("results table assembles TP/FN/FP rows") {
    val res = fixture().results("m").collect()
    // cat0: one gt row conf .9; cat1: one gt row conf 0 + one FP row conf .8
    assert(res.length == 3)
    def cat(r: org.apache.spark.sql.Row) = r.getAs[Int]("category_id")
    def isGt(r: org.apache.spark.sql.Row) = r.getAs[Boolean]("groundtruth")
    val gt0 = res.find(r => cat(r) == 0 && isGt(r)).get
    assert(gt0.getAs[Double]("confidence") == 0.9)
    val fn1 = res.find(r => cat(r) == 1 && isGt(r)).get
    assert(fn1.getAs[Double]("confidence") == 0.0)
    val fp1 = res.find(r => cat(r) == 1 && !isGt(r)).get
    assert(fp1.getAs[Double]("confidence") == 0.8)
  }

  test("per-category AP: perfect class 0.99 on 101 bins, missed class 0.0") {
    val (_, ap) = fixture().precisionRecall("m", minIou = 0.5)
    val byCat = ap.collect().map(r => r.getAs[Int]("category_id") -> r.getAs[Double]("AP")).toMap
    // 0.99, not 1.0: the 101-bin recall reindex keeps the (recall=1, p=0)
    // endpoint — pycocotools-compatible, reference-verified
    assert(math.abs(byCat(0) - 0.99) < 1e-9)
    assert(byCat(1) == 0.0)
  }

  test("confusion matrix row-normalizes with None class") {
    val cm = fixture().confusionMatrix("m", categoryAgnostic = true)
    val rows = cm.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getAs[Double]("share")).toMap
    assert(rows(("person", "person")) == 1.0)
    assert(rows(("car", "None")) == 1.0)
    assert(rows(("None", "car")) == 1.0)
  }

  test("countError computes MAE/RMSE per threshold") {
    val ce = fixture().countError("m", Array(0.0, 0.85, 1.0))
      .filter(col("category_id") === 0).orderBy("confidence_threshold").collect()
    // cat0: image0 gt_count=1; pred conf .9 → counts: t0:1, t.85:1, t1:0
    assert(ce.map(_.getAs[Double]("MAE")).toSeq == Seq(0.0, 0.0, 1.0))
  }

  /** 12 images, 5 boxes each over 3 categories. Most boxes get a shifted
    * prediction, some a second lower-confidence duplicate, and every image a
    * far false positive: matches, misses and false positives all occur. */
  private def crowded(): DetectionEvaluator = {
    val images = (0L until 12L).map(i => (i, 400, 100, s"$i.jpg"))
      .toDF("id", "width", "height", "relative_path")
    val gtRows = for (i <- 0L until 12L; k <- 0 until 5)
      yield (i * 10 + k, i, k % 3, k * 30.0, 0.0, 20.0, 20.0)
    val shifted = gtRows.filter(_._1 % 4 != 0).map { case (id, i, c, x, y, w, h) =>
      (1000 + id, i, c, x + id % 5, y, w, h, ((id * 37) % 100) / 100.0) }
    val dups = gtRows.filter(_._1 % 7 == 0).map { case (id, i, c, x, y, w, h) =>
      (3000 + id, i, c, x + 2, y, w, h, 0.05) }
    val far = (0L until 12L).map(i => (5000 + i, i, (i % 3).toInt, 300.0, 50.0, 20.0, 20.0, 0.55))
    val gt = gtRows.toDF("id", "image_id", "category_id",
      "box_x_min", "box_y_min", "box_width", "box_height")
    val preds = (shifted ++ dups ++ far).toDF("id", "image_id", "category_id",
      "box_x_min", "box_y_min", "box_width", "box_height", "confidence")
    new DetectionEvaluator(images, gt, Map("m" -> preds), Map(0 -> "a", 1 -> "b", 2 -> "c"))
  }

  /** The result table as assembled before the matcher carried confidence:
    * the match table joined back to the prediction frame, once for the
    * groundtruth rows and once for the false positives. */
  private def joinedResults(ev: DetectionEvaluator, agnostic: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val m = ev.matches("m", 0.0, agnostic).toDF().drop("confidence")
    val conf = ev.predictions("m")
      .select(col("id").as("prediction_id"), col("confidence").cast("double"))
    def side(rows: org.apache.spark.sql.DataFrame, gt: Boolean) =
      rows.join(conf, Seq("prediction_id"), "left").select(
        col("image_id"), col("category_id"), lit(gt).as("groundtruth"),
        col("iou"), coalesce(col("confidence"), lit(0.0)).as("confidence"))
    side(m.filter(col("groundtruth_id").isNotNull), gt = true).unionByName(side(
      m.filter(col("groundtruth_id").isNull && col("prediction_id").isNotNull), gt = false))
  }

  test("MatchRow.confidence: the prediction's own on a match or a false positive, 0.0 on a miss") {
    val rows = fixture().matches("m").collect()
    val byPred = rows.flatMap(r => r.prediction_id.map(_ -> r)).toMap
    assert(byPred(10L).groundtruth_id.contains(0L) && byPred(10L).confidence == 0.9)
    assert(byPred(11L).groundtruth_id.isEmpty && byPred(11L).confidence == 0.8)
    val misses = rows.filter(_.prediction_id.isEmpty)
    assert(misses.map(_.groundtruth_id).toSeq == Seq(Some(1L)))
    assert(misses.forall(_.confidence == 0.0))
    // every prediction row carries its frame's confidence, agnostic or not
    val ev = crowded()
    val conf = ev.predictions("m").select("id", "confidence").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (agnostic <- Seq(false, true); r <- ev.matches("m", 0.0, agnostic).collect())
      assert(r.confidence == r.prediction_id.map(conf).getOrElse(0.0), r.toString)
    // the field has a default: positional five-field rows still build
    assert(MatchRow(0L, 0, None, Some(1L), 0.0).confidence == 0.0)
  }

  test("results() equals the two-join assembly as a multiset") {
    for (ev <- Seq(fixture(), crowded()); agnostic <- Seq(false, true))
      assert(collectSorted(ev.results("m", agnostic)) ==
        collectSorted(joinedResults(ev, agnostic)))
  }

  test("precisionRecall reads the prediction frame only inside the matcher") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = java.nio.file.Files.createTempDirectory("graft-preds").toString
    val src = crowded()
    src.predictions("m").write.mode("overwrite").parquet(dir)
    val ev = new DetectionEvaluator(src.images, src.groundtruth,
      Map("m" -> spark.read.parquet(dir)), src.labelMap)
    def readsPreds(p: LogicalPlan) = p.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.toString.contains(dir))
        case _ => false
      }
      case _ => false
    }
    val (pr, ap) = ev.precisionRecall("m", minIou = 0.5)
    for (df <- Seq(pr, ap)) {
      val plan = df.queryExecution.optimizedPlan
      assert(!readsPreds(plan), s"prediction frame read outside the matcher:\n$plan")
      val cached = plan.collect { case r: InMemoryRelation => r.cachedPlan.toString }
      assert(cached.exists(_.contains(dir)), s"matcher input not cached:\n$plan")
    }
    assert(collectSorted(ap) == collectSorted(src.precisionRecall("m", minIou = 0.5)._2))
  }
}

class GroupedPrSpec extends SparkFunSuite {
  import spark.implicits._

  test("grouped PR resolves root (image) columns and uses FP prediction attrs") {
    val images = Seq(
      (0L, 100, 100, "a.jpg", "cam0"),
      (1L, 100, 100, "b.jpg", "cam1")
    ).toDF("id", "width", "height", "relative_path", "camera")
    val gt = Seq(
      (0L, 0L, 0, 0.0, 0.0, 10.0, 10.0),
      (1L, 1L, 0, 0.0, 0.0, 10.0, 10.0)
    ).toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    val preds = Seq(
      (10L, 0L, 0, 0.0, 0.0, 10.0, 10.0, 0.9), // TP on cam0
      (11L, 1L, 0, 50.0, 50.0, 10.0, 10.0, 0.8) // FP on cam1 (gt1 missed)
    ).toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height", "confidence")
    val ev = new graft.eval.DetectionEvaluator(images, gt, Map("m" -> preds), Map(0 -> "person"))
    val (pr, ap) = ev.precisionRecallGrouped("m",
      Seq(graft.operators.Grouper.CategoricalGroup("camera", root = true)), minIou = 0.5)
    val byCam = ap.collect().map(r => r.getAs[String]("camera") -> r.getAs[Double]("AP")).toMap
    assert(math.abs(byCam("cam0") - 0.99) < 1e-9) // perfect single detection, 101 bins
    assert(byCam("cam1") == 0.0)                  // FN + FP only
    assert(pr.columns.contains("camera"))
  }

  test("validatePredictions rejects foreign image ids") {
    val images = Seq((0L, 10, 10, "a.jpg")).toDF("id", "width", "height", "relative_path")
    val gt = Seq((0L, 0L, 0, 1.0, 1.0, 2.0, 2.0))
      .toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    val badPreds = Seq((1L, 99L, 0, 1.0, 1.0, 2.0, 2.0, 0.5))
      .toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height", "confidence")
    val ev = new graft.eval.DetectionEvaluator(images, gt, Map("m" -> badPreds), Map(0 -> "x"))
    intercept[IllegalArgumentException](ev.validatePredictions("m"))
  }
}

class ResetRootSpec extends SparkFunSuite {
  test("resetImagesRoot rewrites relative paths against the new root") {
    val ds = tinyDataset().copy(imagesRoot = "/data/sets/d1")
    val out = ds.resetImagesRoot("/data")
    assert(out.imagesRoot == "/data")
    val paths = out.images.select("relative_path").collect().map(_.getString(0))
    assert(paths.forall(_.startsWith("sets/d1/")))
    // re-rooting to the same root is a no-op
    val same = ds.resetImagesRoot("/data/sets/d1")
    assert(same.images.select("relative_path").collect().map(_.getString(0)).toSet ==
      ds.images.select("relative_path").collect().map(_.getString(0)).toSet)
  }

  test("URI roots: path algebra keeps scheme://authority; cross-fs fails fast") {
    // resetImagesRoot within one filesystem relativizes the PATH part only
    val ds = tinyDataset().copy(imagesRoot = "hdfs://nn:8020/data/sets/d1")
    val out = ds.resetImagesRoot("hdfs://nn:8020/data")
    assert(out.imagesRoot == "hdfs://nn:8020/data")
    assert(out.images.select("relative_path").collect().map(_.getString(0))
      .forall(_.startsWith("sets/d1/")))
    // crossing filesystems has no relative-path answer
    intercept[IllegalArgumentException](ds.resetImagesRoot("s3a://bucket/data"))
    intercept[IllegalArgumentException](ds.resetImagesRoot("/local/data"))
    // merge-side common root: same authority → common PATH with the
    // authority preserved (java.nio alone would emit "hdfs:/nn:8020/data")
    assert(graft.operators.Merge.commonRoot(
      "hdfs://nn:8020/data/a", "hdfs://nn:8020/data/b") == "hdfs://nn:8020/data")
    intercept[IllegalArgumentException](graft.operators.Merge.commonRoot(
      "hdfs://nn:8020/data/a", "s3a://bucket/data/b"))
    // union across same-fs URI roots re-roots both sides instead of
    // mangling (the pre-fix behavior corrupted every downstream filepath)
    val a = tinyDataset().copy(imagesRoot = "hdfs://nn:8020/data/a")
    val b0 = tinyDataset().copy(imagesRoot = "hdfs://nn:8020/data/b")
    val b = b0.copy(images = b0.images.withColumn("id", col("id") + 100L),
      annotations = b0.annotations
        .withColumn("id", col("id") + 100L)
        .withColumn("image_id", col("image_id") + 100L))
    val merged = graft.operators.Merge.union(a, b)
    assert(merged.imagesRoot == "hdfs://nn:8020/data")
    val rels = merged.images.select("relative_path").collect().map(_.getString(0))
    assert(rels.count(_.startsWith("a/")) == 4 && rels.count(_.startsWith("b/")) == 4)
  }
}
