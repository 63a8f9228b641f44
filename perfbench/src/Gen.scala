package perfbench

import java.util.SplittableRandom

import graft.model.GraftDataset
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Equal seeds give equal inputs; the program under test
  * sees only what these functions write. */
object Gen {

  // ---- detection data ----------------------------------------------------

  /** Uniform in [0, 1) from (seed, tag, key): the same value for a row
    * whatever the partitioning. */
  def u(seed: Long, tag: Int, c: Column): Column =
    pmod(xxhash64(c, lit(seed), lit(tag)), lit(1000003L)).cast("double") /
      1000003.0

  val FramesPerVideo = 50
  val Categories = 10
  def labelMap(n: Int): Map[Int, String] = (0 until n).map(i => i -> s"cat_$i").toMap

  /** Skewed category draw: cat k with weight ∝ 1/(k+1). */
  private def category(seed: Long, c: Column, n: Int): Column = {
    val w = (0 until n).map(k => 1.0 / (k + 1))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val x = u(seed, 5, c)
    cum.zipWithIndex.init.foldRight(lit(n - 1)) { case ((edge, k), acc) =>
      when(x < edge, lit(k)).otherwise(acc)
    }
  }

  /** Images grouped into videos of [[FramesPerVideo]] frames; one image in
    * ten is crowded (40-99 boxes), the rest carry 2-9. Annotation ids are
    * `image_id * 1000 + k`. One box in twenty has width −5: capping zeroes
    * it and the invalid-annotation filter must drop it; one in five runs
    * past the image border and is clipped. */
  def detection(spark: SparkSession, seed: Long, nImages: Int, idBase: Long,
      nCats: Int, name: String): GraftDataset = {
    val img = spark.range(nImages).select((col("id") + idBase).as("id"))
    val images = img.select(col("id"),
      (u(seed, 1, col("id")) * 640 + 640).cast("int").as("width"),
      (u(seed, 2, col("id")) * 480 + 480).cast("int").as("height"),
      concat(lit(s"$name/"), col("id"), lit(".jpg")).as("relative_path"),
      concat(lit(s"$name-v"), ((col("id") - idBase) / FramesPerVideo)
        .cast("long")).as("video"))
    val nBoxes = when(u(seed, 3, col("id")) < 0.1,
        lit(40) + (u(seed, 4, col("id")) * 60).cast("int"))
      .otherwise(lit(2) + (u(seed, 4, col("id")) * 8).cast("int"))
    val ann = images.select(col("id").as("image_id"), col("width"),
        col("height"), explode(sequence(lit(0), nBoxes - 1)).as("k"))
      .withColumn("id", col("image_id") * 1000 + col("k"))
      .withColumn("category_id", category(seed, col("id"), nCats))
      .withColumn("box_x_min", u(seed, 6, col("id")) * (col("width") - 20))
      .withColumn("box_y_min", u(seed, 7, col("id")) * (col("height") - 20))
      .withColumn("box_width",
        when(u(seed, 8, col("id")) < 0.05, lit(-5.0))
          .otherwise(lit(8.0) + u(seed, 9, col("id")) *
            when(u(seed, 10, col("id")) < 0.2, lit(400.0)).otherwise(lit(80.0))))
      .withColumn("box_height", lit(8.0) + u(seed, 11, col("id")) * 80.0)
      .drop("width", "height", "k")
    GraftDataset.create(images, ann, labelMap(nCats), datasetName = Some(name))
  }

  /** A `jitter` model over ground truth `gt`: 80% of the boxes, shifted by
    * up to 20% of their size, confidence falling with the shift; ids are
    * `4 * gt id`. */
  def jittered(seed: Long, gt: DataFrame): DataFrame = {
    val dx = (u(seed, 12, col("id")) - 0.5) * 0.4
    val dy = (u(seed, 13, col("id")) - 0.5) * 0.4
    gt.filter(u(seed, 14, col("id")) < 0.8).select(
      (col("id") * 4).as("id"), col("image_id"), col("category_id"),
      (col("box_x_min") + dx * col("box_width")).as("box_x_min"),
      (col("box_y_min") + dy * col("box_height")).as("box_y_min"),
      col("box_width"), col("box_height"),
      greatest(lit(0.01), lit(1.0) - abs(dx) - abs(dy) -
        u(seed, 15, col("id")) * 0.3).as("confidence"))
  }

  // ---- text --------------------------------------------------------------

  /** Pseudo-words from a seeded syllable table: a Zipf-like vocabulary
    * with the Gopher stop words mixed in, so quality rules see English-like
    * statistics. */
  final class Text(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private val syl = Array("ka", "lo", "mi", "ren", "tu", "sa", "bel", "or",
      "vi", "den", "pa", "ne", "qui", "sto", "mar", "el", "ti", "gon", "ra",
      "fe", "lu", "dan", "co", "wi", "ber", "ha", "ju", "nor", "pe", "xa")
    private val vocab: Array[String] = (0 until 4000).map { i =>
      val r = new SplittableRandom(i * 7919L + 17)
      (0 until 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.length))).mkString
    }.distinct.toArray
    private val zipfCdf: Array[Double] = {
      val w = vocab.indices.map(i => 1.0 / (i + 10))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private val stop = graft.llm.TextAnalysis.gopherStopWords.toArray ++
      Array("a", "in", "is", "for", "on", "it", "as", "was")

    def word(r: SplittableRandom): String =
      if (r.nextDouble() < 0.3) stop(r.nextInt(stop.length))
      else {
        val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
        vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
      }

    def line(r: SplittableRandom): String =
      (0 until 8 + r.nextInt(7)).map(_ => word(r)).mkString(" ") + "."

    /** A document of 8-12 lines of 8-14 words. */
    def doc(): String = doc(new SplittableRandom(rnd.nextLong()))
    def doc(r: SplittableRandom): String =
      (0 until 8 + r.nextInt(5)).map(_ => line(r)).mkString("\n")

    def nextLong(): Long = rnd.nextLong()
  }
}
