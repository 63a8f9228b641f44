package graft

import graft.operators.{Grouper, Merge}
import graft.split.Splitter
import org.apache.spark.sql.functions._

/** Locks how many SQL executions `Merge.union` and `Splitter.split` run
  * while a pipeline is being built. Each one re-derives the inputs' whole
  * lineage, so a probe or collect added back fails here. */
class MergeSplitActionsSpec extends SparkFunSuite {
  import UnionProbeSpec.ds

  test("Merge.union: id-disjoint inputs run one SQL execution") {
    val (a, b) = (ds(0L to 3L, 0L to 5L), ds(100L to 103L, 100L to 105L))
    val n = ActionCount(spark)(Merge.union(a, b))
    assert(n.executions == 1, s"${n.executions} executions:\n${n.plans.mkString("\n")}")
  }

  test("Merge.union: each overlapping id range adds one exact probe") {
    // image ranges interleave (even vs odd), annotation ranges are disjoint
    val a = ds(Seq(0L, 2L, 4L), Seq(0L, 1L, 2L))
    val b = ds(Seq(1L, 3L, 5L), Seq(10L, 11L, 12L))
    val n = ActionCount(spark)(Merge.union(a, b))
    assert(n.executions == 2, s"${n.executions} executions:\n${n.plans.mkString("\n")}")
  }

  test("Splitter.split: one keep-separate column + keepBalanced run the fence and one collect") {
    val images = spark.range(60).select(col("id"), lit(100).as("width"),
      lit(100).as("height"), concat(col("id"), lit(".jpg")).as("relative_path"),
      (col("id") % 12).cast("string").as("video"))
    val ann = spark.range(180).select(col("id"), (col("id") % 60).as("image_id"),
      (col("id") % 3).cast("int").as("category_id"), lit(1.0).as("box_x_min"),
      lit(1.0).as("box_y_min"), lit(5.0).as("box_width"), lit(5.0).as("box_height"))
    val d = graft.model.GraftDataset.create(images, ann, Map(0 -> "a", 1 -> "b", 2 -> "c"))
    val n = ActionCount(spark)(Splitter.split(d, 7L, keepSeparate = Seq("video"),
      keepBalanced = Seq(Grouper.CategoricalGroup("category_id"))))
    assert(n.executions == 2, s"${n.executions} executions:\n${n.plans.mkString("\n")}")
  }
}
