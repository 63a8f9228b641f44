package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import graft.model.GraftDataset
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import Stats.Iv

/** One closed span: a call into a layer (`<layer>.<function>`), or the
  * `iteration` root that groups the spans of one iteration. Times are epoch
  * milliseconds, the clock Spark's listener events use. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    start: Double, end: Double, codegenMs: Double,
    rowsIn: Long = -1, rowsOut: Long = -1) {
  def layer: String = name.takeWhile(_ != '.')
  def iv: Iv = Iv(start, end)
}

final case class JobRec(id: Int, group: String, submit: Double)

/** One stage attempt as the listener saw it, with its tasks folded in. */
final class StageRec(val group: String, val submit: Double) {
  var complete: Double = submit
  val taskMs = mutable.ArrayBuffer.empty[Double]
  var cpuNs, shuffleWrite, shuffleRead, input, output, spill = 0L
  var failedTasks = 0
  def iv: Iv = Iv(submit, complete)
}

/** Jobs, stages and tasks keyed by the job group they ran under. The
  * benchmark gives every span its own group, so a job belongs to the span
  * whose group it carries. */
final class Ledger extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val endedGroups = mutable.Set.empty[String]

  private def groupOf(p: java.util.Properties): String =
    Option(p).map(_.getProperty("spark.jobGroup.id")).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, groupOf(e.properties), e.time.toDouble)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(j => endedGroups += j.group)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stages((i.stageId, i.attemptNumber())) = new StageRec(
        groupOf(e.properties),
        i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.complete = i.completionTime.getOrElse(System.currentTimeMillis())
          .toDouble
      }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.taskMs += e.taskInfo.duration.toDouble
      if (e.taskInfo.failed) s.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
      }
    }
  }

  def groupEnded(g: String): Boolean = synchronized(endedGroups(g))
}

object Ledger {
  val Layers: Seq[String] =
    Seq("io", "model", "operators", "functions", "split", "eval", "llm",
      "streaming")
  /** Layers that report a useful-outcome ratio. */
  val RatioLayers: Set[String] = Set("operators", "llm", "eval")

  /** Per-layer counters over `spans`, per iteration (`nIter` iterations).
    * `spanOfGroup` maps each job group to the span that set it. A job is
    * `outside` when its group belongs to no span or to a span that is not
    * a layer's (such as the `iteration` root). `coverage` is the share of
    * the `roots` intervals (iterations, or stream triggers) that layer spans
    * cover. */
  final case class Summary(metrics: Map[String, Double], outside: Int,
      coverage: Double, bySpan: Map[String, Map[String, Double]])

  def summarize(spans: Seq[Span], spanOfGroup: Map[String, Int],
      jobs: Seq[JobRec], stages: Seq[StageRec], nIter: Int,
      roots: Seq[Iv]): Summary = {
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def kids(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)
    def owner(group: String): Option[Span] =
      Option(group).flatMap(spanOfGroup.get).flatMap(byId.get)
    val stagesOf = stages.groupBy(st => owner(st.group).map(_.id))
    val jobsOf = jobs.groupBy(j => owner(j.group).map(_.id))
    val layerSet = Layers.toSet
    val outside = jobs.count(j => !owner(j.group).exists(s => layerSet(s.layer)))
    val per = math.max(1, nIter).toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    Layers.foreach { layer =>
      val ls = spans.filter(_.layer == layer)
      val st = ls.flatMap(s => stagesOf.getOrElse(Some(s.id), Nil))
      val selfIvs = ls.map(s => s -> subtractKids(s, kids(s)))
      val wall = ls.map(s => Stats.selfTime(s.iv, kids(s).map(_.iv))).sum
      val gap = selfIvs.map { case (s, iv) =>
        Stats.measure(Stats.subtract(iv,
          stagesOf.getOrElse(Some(s.id), Nil).map(_.iv)))
      }.sum
      val codegen = ls.map(s => s.codegenMs - kids(s).map(_.codegenMs).sum).sum
      val longest = st.filter(_.taskMs.nonEmpty).sortBy(-_.iv.len).headOption
      val straggler = longest.map { s =>
        val med = Stats.median(s.taskMs.toSeq)
        if (med > 0) s.taskMs.max / med else 1.0
      }.getOrElse(0.0)
      def put(c: String, v: Double): Unit = m(s"$layer.$c") = v
      put("wall_s", wall / 1000.0 / per)
      put("calls", ls.size / per)
      put("jobs", ls.map(s => jobsOf.getOrElse(Some(s.id), Nil).size).sum / per)
      put("tasks", st.map(_.taskMs.size).sum / per)
      put("task_cpu_s", st.map(_.cpuNs).sum / 1e9 / per)
      put("driver_gap_s", gap / 1000.0 / per)
      put("codegen_s", math.max(0.0, codegen) / 1000.0 / per)
      put("shuffle_write_bytes", st.map(_.shuffleWrite).sum / per)
      put("shuffle_read_bytes", st.map(_.shuffleRead).sum / per)
      put("input_bytes", st.map(_.input).sum / per)
      put("output_bytes", st.map(_.output).sum / per)
      put("spill_bytes", st.map(_.spill).sum / per)
      put("straggler_ratio", straggler)
      put("failed_tasks", st.map(_.failedTasks).sum / per)
      if (RatioLayers(layer)) {
        val counted = ls.filter(s => s.rowsIn > 0 && s.rowsOut >= 0)
        put("rows_out_per_row_in",
          if (counted.isEmpty) 0.0
          else counted.map(_.rowsOut).sum.toDouble / counted.map(_.rowsIn).sum)
      }
    }
    val layerIvs = spans.filter(s => layerSet(s.layer)).map(_.iv)
    val rootWall = roots.map(_.len).sum
    val coverage =
      if (rootWall <= 0) 0.0
      else roots.map(r => r.len - Stats.measure(Stats.subtract(Seq(r),
        layerIvs))).sum / rootWall
    // the same figures per span name, for the detail line
    val bySpan = spans.filter(s => layerSet(s.layer)).groupBy(_.name).map {
      case (name, ss) => name -> Map(
        "calls" -> ss.size / per,
        "wall_s" -> ss.map(s => Stats.selfTime(s.iv, kids(s).map(_.iv))).sum / 1000.0 / per,
        "jobs" -> ss.map(s => jobsOf.getOrElse(Some(s.id), Nil).size).sum / per,
        "task_cpu_s" -> ss.flatMap(s => stagesOf.getOrElse(Some(s.id), Nil))
          .map(_.cpuNs).sum / 1e9 / per)
    }
    Summary(m.toMap, outside, coverage, bySpan)
  }

  private def subtractKids(s: Span, kids: Seq[Span]): Seq[Iv] =
    Stats.subtract(Seq(s.iv), kids.map(_.iv))
}

/** Records spans around the benchmark's calls into graft's modules. Off by
  * default: then every method just runs its body, so the untraced run pays
  * nothing. On, each span runs under its own Spark job group (which the
  * [[Ledger]] keys on) and, for `frame`/`dataset`, fences its output with
  * persist + count so lazy work lands in the layer that defined it. */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  @volatile var iter = 0
  val ledger = new Ledger
  private val sc = spark.sparkContext
  private val nextId = new AtomicInteger(1)
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val groups = mutable.Map.empty[String, Int]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val fenced = mutable.ArrayBuffer.empty[DataFrame]
  private val rowsOf = new java.util.IdentityHashMap[AnyRef, java.lang.Long]()
  private val rowsNote = new ThreadLocal[(Long, Long)]

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def codegenMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount
  }

  def start(): Unit = { sc.addSparkListener(ledger); on = true }

  def apply[T](name: String)(body: => T): T =
    if (!on) body else {
      val id = nextId.getAndIncrement()
      val parents = stack.get
      val group = s"perfbench-span-$id"
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      synchronized(groups(group) = id)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      stack.set(id :: parents)
      rowsNote.remove()
      val (t0, cg0) = (now(), codegenMs())
      try body
      finally {
        val (rin, rout) = Option(rowsNote.get).getOrElse((-1L, -1L))
        rowsNote.remove()
        val s = Span(id, name, parents.headOption.getOrElse(0), iter, t0,
          now(), codegenMs() - cg0, rin, rout)
        synchronized(closed += s)
        stack.set(parents)
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        sc.setLocalProperty("spark.job.description", prevDesc)
      }
    }

  /** Rows in and useful rows out for the span being closed on this thread. */
  def rows(in: Long, out: Long): Unit = if (on) rowsNote.set((in, out))

  private def fence(df: DataFrame): Long = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    val n = df.count()
    synchronized { fenced += df; rowsOf.put(df, n) }
    n
  }

  private def rowsIn(in: AnyRef, count: => Long): Long =
    if (in == null) -1L
    else Option(synchronized(rowsOf.get(in))).map(_.longValue).getOrElse(count)

  /** A span whose result is a frame; traced, the frame is fenced. */
  def frame(name: String, in: DataFrame = null)(body: => DataFrame)
      : DataFrame = apply(name) {
    val out = body
    if (on) {
      val n = fence(out)
      rows(rowsIn(in, in.count()), n)
    }
    out
  }

  /** A span whose result is a dataset; traced, both tables are fenced and
    * the annotation counts are the span's rows. */
  def dataset(name: String, in: GraftDataset = null)(body: => GraftDataset)
      : GraftDataset = apply(name) {
    val out = body
    if (on) {
      fence(out.images)
      val n = fence(out.annotations)
      rows(if (in == null) -1L
        else rowsIn(in.annotations, in.annotations.count()), n)
    }
    out
  }

  /** Run harness work (checks, cleanup) under a group no span owns and that
    * is not counted against coverage. */
  def harness[T](body: => T): T = {
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    if (on) sc.setJobGroup(Tracer.HarnessGroup, "harness", false)
    try body
    finally if (on) sc.setLocalProperty("spark.jobGroup.id", prev)
  }

  /** Release the frames fenced since the last call. */
  def release(): Unit = synchronized {
    fenced.foreach(_.unpersist(blocking = false)); fenced.clear(); rowsOf.clear()
  }

  /** Wait until the listener has seen every job submitted so far: events
    * of one listener queue arrive in order, so once a marker job's end is
    * seen, all earlier events are too. */
  def drain(): Unit = {
    val g = s"perfbench-drain-${nextId.getAndIncrement()}"
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(g, "drain", false)
    try spark.range(1).count()
    finally sc.setLocalProperty("spark.jobGroup.id", prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!ledger.groupEnded(g) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Summary over the spans of iterations in `iters`. Jobs submitted in
    * [from, to] count against their span; a job whose group no layer span
    * set (harness and drain jobs aside) counts as outside every span.
    * Coverage is taken over `roots`, or over the `iteration` spans when
    * `roots` is empty. */
  def summary(iters: Set[Int], from: Double, to: Double,
      roots: Seq[Iv] = Nil): Ledger.Summary = {
    val spans = synchronized(closed.filter(s => iters(s.iter)).toSeq)
    val g = synchronized(groups.toMap)
    val ids = spans.map(_.id).toSet
    def counted(group: String) = g.get(group) match {
      case Some(id) => ids(id)
      case None => !Tracer.isHarness(group)
    }
    val (jobs, stages) = ledger.synchronized {
      (ledger.jobs.filter(j => j.submit >= from - 1 && j.submit <= to + 1 &&
        counted(j.group)).toSeq,
        ledger.stages.values.filter(s => g.get(s.group).exists(ids)).toSeq)
    }
    val rootIvs =
      if (roots.nonEmpty) roots else spans.filter(_.name == "iteration").map(_.iv)
    Ledger.summarize(spans, g, jobs, stages, iters.size, rootIvs)
  }

}

object Tracer {
  val HarnessGroup = "perfbench-harness"
  def isHarness(g: String): Boolean =
    g != null && (g == HarnessGroup || g.startsWith("perfbench-drain-"))
}
