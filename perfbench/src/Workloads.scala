package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.eval.DetectionEvaluator
import graft.functions.Bbox
import graft.io.{Coco, ParquetIO}
import graft.operators.{Grouper, Locators, Merge, Remap}
import graft.split.Splitter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A closed-loop workload: one client, the next iteration starts when the
  * previous one has finished. */
trait Batch {
  /** Input items one iteration processes (the `items_per_s` numerator). */
  def items: Long
  /** Bytes of the generated input. */
  def inBytes: Long
  /** Generate the inputs into `dir` (called again for each set-up repeat;
    * the last call's inputs are the ones measured). */
  def prepare(dir: Path): Unit
  /** One timed iteration. */
  def run(tr: Tracer): Unit
  /** Check the last iteration's output; `None` when correct. Untimed. */
  def check(): Option[String]
  /** Bytes the last iteration wrote (its output). */
  def outBytes: Long
  /** Sizes recorded in the result detail line. */
  def sizes: Map[String, Long]
}

object FileUtil {
  def size(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def rm(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

/** `detect_curate`: the reference's curation workflow over two seeded
  * shards, ending in a parquet dataset, a COCO export, and the PR/AP of a
  * jittered model on the valid split (the order graft's own detection
  * chain, q193, uses). */
final class DetectCurate(spark: SparkSession, seed: Long, out: Path,
    scale: Double) extends Batch {
  val nImagesA: Int = math.round(16000 * scale).toInt
  val nImagesB: Int = math.round(8000 * scale).toInt
  private val remap = (0 until Gen.Categories)
    .map(i => i -> math.min(i, Gen.Categories - 2)).toMap
  private val remapNames = Map(Gen.Categories - 2 -> s"cat_${Gen.Categories - 2}")
  private var dirA, dirB: Path = _
  private var expImages, expAnn, nAnnIn = 0L
  var inBytes = 0L
  private var ap = Seq.empty[String]
  private var firstAp: Option[Seq[String]] = None

  def items: Long = nAnnIn

  def prepare(dir: Path): Unit = {
    dirA = dir.resolve("shard_a"); dirB = dir.resolve("shard_b")
    val a = Gen.detection(spark, seed, nImagesA, 0L, Gen.Categories, "shard_a")
    val b = Gen.detection(spark, seed + 1, nImagesB, 10000000L,
      Gen.Categories - 1, "shard_b")
    ParquetIO.write(a, dirA.toString, overwrite = true)
    ParquetIO.write(b, dirB.toString, overwrite = true)
    val stats = spark.read.parquet(dirA.resolve("annotations").toString)
      .agg(count(lit(1)), sum(when(col("box_width") < 0, 1L).otherwise(0L)))
      .head()
    val nB = spark.read.parquet(dirB.resolve("annotations").toString).count()
    nAnnIn = stats.getLong(0) + nB
    expAnn = stats.getLong(0) - stats.getLong(1) + nB
    expImages = nImagesA + nImagesB
    firstAp = None
    inBytes = FileUtil.size(dirA) + FileUtil.size(dirB)
  }

  def run(tr: Tracer): Unit = {
    val a = tr.dataset("io.read")(ParquetIO.read(spark, dirA.toString))
    val b = tr.dataset("io.read")(ParquetIO.read(spark, dirB.toString))
    val v = tr.dataset("model.validated")(a.validated())
    val r = tr.dataset("operators.remapClasses", v)(
      Remap.remapClasses(v, remap, remapNames))
    val c = tr.dataset("functions.capBoxes")(Bbox.capBoxes(r))
    val f = tr.dataset("operators.removeInvalidAnnotations", c)(
      Locators.removeInvalidAnnotations(c))
    val u = tr.dataset("operators.union")(Merge.union(f, b))
    // the split images are fenced once, as in graft's detection chain
    // (q193): the write, the COCO export and the evaluation all read them
    val s = tr.dataset("split.split") {
      val d = Splitter.split(u, seed, Seq("train", "valid"), Seq(0.8, 0.2),
        keepSeparate = Seq("video"),
        keepBalanced = Seq(Grouper.CategoricalGroup("category_id")))
      d.copy(images = d.images.localCheckpoint())
    }
    tr("io.write")(ParquetIO.write(s, out.resolve("dataset").toString,
      overwrite = true))
    val valid = tr.dataset("operators.getSplit")(
      Locators.getSplit(s, Some("valid")))
    tr("io.toCoco")(Coco.toCoco(valid, out.resolve("coco").toString,
      overwrite = true))
    ap = tr("eval.precisionRecall") {
      // the evaluator reads its inputs many times: fence them, as graft's
      // own detection chain (q193) does, or each read re-runs the chain
      val gt = valid.annotations.select("id", "image_id", "category_id",
        "box_x_min", "box_y_min", "box_width", "box_height").localCheckpoint()
      val preds = Gen.jittered(seed, gt)
      val ev = new DetectionEvaluator(valid.images.localCheckpoint(), gt,
        Map("jitter" -> preds), valid.labelMap)
      val rows = ev.precisionRecall("jitter", 0.5)._2
        .select("category_id", "AP").collect()
        .map(r => f"${r.getInt(0)},${r.getDouble(1)}%.9f").toSeq.sorted
      // useful outcomes per attempt: predictions matched to a box
      if (tr.on) tr.rows(preds.count(), ev.matches("jitter").toDF()
        .filter(col("prediction_id").isNotNull &&
          col("groundtruth_id").isNotNull && col("iou") >= 0.5).count())
      rows
    }
  }

  def outBytes: Long = FileUtil.size(out)

  def check(): Option[String] = {
    val ds = ParquetIO.read(spark, out.resolve("dataset").toString)
    // one row per video: images, distinct ids, splits, unsplit and valid
    val videos = ds.images.groupBy("video").agg(count(lit(1)),
      countDistinct(col("id")), countDistinct(col("split")),
      sum(when(col("split").isin("train", "valid"), 0L).otherwise(1L)),
      sum(when(col("split") === "valid", 1L).otherwise(0L))).collect()
    def total(i: Int) = videos.map(_.getLong(i)).sum
    val splitVideos = videos.count(_.getLong(3) > 1)
    val ann = ds.annotations.agg(count(lit(1)),
      sum(when(col("split") === "valid", 1L).otherwise(0L))).head()
    val cocoFiles = Files.list(out.resolve("coco")).iterator().asScala.toSeq
    val coco = cocoFiles.map(p => Coco.fromCoco(spark, p.toString))
    val (cocoImages, cocoAnn) =
      (coco.map(_.images.count()).sum, coco.map(_.annotations.count()).sum)
    val apValues = ap.map(_.split(",")(1).toDouble)
    val first = firstAp.getOrElse { firstAp = Some(ap); ap }
    val errs = Seq(
      apValues.isEmpty -> "no AP rows",
      apValues.exists(x => x.isNaN || x < 0 || x > 1) -> s"AP outside [0, 1]: $ap",
      (ap != first) -> "AP differs from the first iteration's",
      (total(1) != expImages) -> s"images ${total(1)} != $expImages",
      (total(2) != total(1)) -> "an image is in more than one split",
      (total(4) != 0) -> s"${total(4)} images without a split",
      (splitVideos != 0) -> s"$splitVideos videos span both splits",
      (ann.getLong(0) != expAnn) -> s"annotations ${ann.getLong(0)} != $expAnn",
      (cocoFiles.size != 1) -> s"${cocoFiles.size} COCO files",
      (cocoImages != total(5)) -> s"COCO images $cocoImages != ${total(5)}",
      (cocoAnn != ann.getLong(1)) -> s"COCO annotations $cocoAnn != ${ann.getLong(1)}")
    errs.collectFirst { case (true, msg) => msg }
  }

  def sizes: Map[String, Long] = Map("images" -> expImages,
    "annotations_in" -> nAnnIn, "annotations_kept" -> expAnn)
}
