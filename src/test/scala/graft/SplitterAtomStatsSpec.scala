package graft

import graft.model.GraftDataset
import graft.operators.Grouper
import graft.operators.Grouper.{CategoricalGroup, ContinuousGroup, GroupSpec}
import graft.split.Splitter
import org.apache.spark.sql.functions._

/** `Splitter.atomStats`: the per-atom sizes, pre-assignments and balance
  * histograms the greedy assigner reads, gathered in one collect. */
class SplitterAtomStatsSpec extends SparkFunSuite {
  import spark.implicits._

  /** Videos v0 = images 0-2 and v1 = 3-5 are annotated on one image each;
    * v2 = image 6 has no annotation at all. Annotation colours and image
    * weather hold nulls. */
  private def sparse(): GraftDataset = {
    val images = Seq(
      (0L, "v0", "sun"), (1L, "v0", null), (2L, "v0", "rain"),
      (3L, "v1", "sun"), (4L, "v1", "sun"), (5L, "v1", null),
      (6L, "v2", "rain")).map { case (id, v, w) => (id, 100, 100, s"$id.jpg", v, w) }
      .toDF("id", "width", "height", "relative_path", "video", "weather")
    val ann = Seq(
      (0L, 0L, 0, "red", 4.0), (1L, 0L, 0, null, 9.0), (2L, 0L, 1, "red", 2.0),
      (3L, 3L, 1, null, 7.0), (4L, 3L, 2, "blue", 5.0), (5L, 3L, 0, "red", 1.0))
      .map { case (id, img, c, colour, w) => (id, img, c, colour, 1.0, 1.0, w, 5.0) }
      .toDF("id", "image_id", "category_id", "colour",
        "box_x_min", "box_y_min", "box_width", "box_height")
    GraftDataset.create(images, ann, Map(0 -> "a", 1 -> "b", 2 -> "c"))
  }

  private def stats(ds: GraftDataset, balanced: Seq[GroupSpec], maxAtoms: Int = 100) =
    Splitter.atomStats(ds, Splitter.makeAtomicChunks(ds.images, Seq("video")),
      balanced, maxAtoms)

  /** The bins as gathered before the single collect: a second collect of
    * one row per (atom, group tuple), keyed the same way. */
  private def twoCollectBins(ds: GraftDataset, balanced: Seq[GroupSpec])
      : Map[Long, Map[String, Double]] = {
    val atomized = Splitter.makeAtomicChunks(ds.images, Seq("video"))
    val groupCols = balanced.map(g => col(s"`__group_${g.name}`"))
    Grouper.resolveGroups(ds.copy(images = atomized), balanced)
      .join(atomized.select(col("id").as("__img_id"), col("__atom")),
        col("image_id") === col("__img_id"))
      .groupBy((col("__atom") +: groupCols): _*).count().collect()
      .groupBy(_.getLong(0)).map { case (atom, rows) =>
        atom -> rows.map(r => (1 to balanced.length)
          .map(i => String.valueOf(r.get(i))).mkString("\u0001") ->
          r.getLong(balanced.length + 1).toDouble).toMap
      }
  }

  test("images without annotations still count toward their atom's size") {
    val s = stats(sparse(), Seq(CategoricalGroup("category_id")))
    assert(s.atoms.map(a => a._1 -> a._2).toMap == Map(0L -> 3L, 3L -> 3L, 6L -> 1L))
    assert(s.vocab.toSeq == Seq("0", "1", "2"))
    assert(s.hists.map { case (a, h) => a -> h.toSeq } ==
      Map(0L -> Seq(2.0, 1.0, 0.0), 3L -> Seq(1.0, 1.0, 1.0)))
    // the unannotated atom is still assigned
    val out = Splitter.split(sparse(), 3L, keepSeparate = Seq("video"),
      keepBalanced = Seq(CategoricalGroup("category_id")))
    assert(out.images.filter(col("split").isNull).count() == 0)
    assert(out.numImages == 7)
  }

  test("null and multi-column keepBalanced keys give the two-collect bin vocabulary") {
    val ds = sparse()
    val cases = Seq(
      Seq(CategoricalGroup("colour")),
      Seq(CategoricalGroup("weather", root = true)),
      Seq(CategoricalGroup("category_id"), CategoricalGroup("colour"),
        CategoricalGroup("weather", root = true)),
      Seq(ContinuousGroup("box_width", 3)))
    for (balanced <- cases) {
      val s = stats(ds, balanced)
      val expected = twoCollectBins(ds, balanced)
      val keys = expected.values.flatMap(_.keys).toSeq.distinct
      if (balanced.head.isInstanceOf[ContinuousGroup])
        assert(s.continuous && s.vocab.toSeq.sorted == keys.sorted &&
          s.vocab.map(_.stripPrefix("(").takeWhile(_ != ',').toDouble).toSeq ==
            s.vocab.map(_.stripPrefix("(").takeWhile(_ != ',').toDouble).toSeq.sorted)
      else assert(!s.continuous && s.vocab.toSeq == keys.sorted, balanced)
      assert(s.hists.map { case (a, h) =>
        a -> s.vocab.zip(h).filter(_._2 > 0).toMap } == expected, balanced)
    }
    // null keys stay distinct bins, apart from every real value
    assert(stats(ds, Seq(CategoricalGroup("colour"))).vocab.toSeq ==
      Seq("blue", "null", "red"))
  }

  test("the maxAtoms guard throws before more than maxAtoms + 1 rows reach the driver") {
    val ds = sparse()
    val n = ActionCount(spark) {
      val e = intercept[IllegalArgumentException](Splitter.split(ds, 3L,
        keepSeparate = Seq("video"),
        keepBalanced = Seq(CategoricalGroup("category_id")), maxAtoms = 2))
      assert(e.getMessage.contains("more than 2 atoms"))
    }
    // the fence, then the one bounded collect
    assert(n.executions == 2, n.plans.mkString("\n"))
    assert("CollectLimit\n[^\n]*\nArguments: 3\n".r.findFirstIn(n.plans(1)).isDefined,
      n.plans(1))
  }
}
