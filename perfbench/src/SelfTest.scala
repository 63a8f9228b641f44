package perfbench

import Stats.Iv

/** Checks of the benchmark's own arithmetic on hand-made inputs; no Spark
  * session. Run with `python3 perfbench/run.py --self-test`. */
object SelfTest {
  private var failures = 0

  private def eq(what: String, got: Any, want: Any): Unit =
    if (got != want) {
      failures += 1
      println(s"FAIL $what: got $got, want $want")
    } else println(s"ok   $what")

  private def near(what: String, got: Double, want: Double): Unit =
    eq(what, math.abs(got - want) < 1e-9, true)

  def main(args: Array[String]): Unit = {
    // tail percentile: the highest ladder step with >= 10 samples beyond
    eq("tail of 40 samples", Stats.tailPercentile(40), 75.0)
    eq("tail of 100 samples", Stats.tailPercentile(100), 90.0)
    eq("tail of 200 samples", Stats.tailPercentile(200), 95.0)
    eq("tail of 1000 samples", Stats.tailPercentile(1000), 99.0)
    eq("tail of 19 samples falls back to the median",
      Stats.tailPercentile(19), 50.0)
    eq("a short run reports its median as the tail",
      Stats.tail(Seq(1.0, 2.0)), (50.0, 1.5))
    val xs = (1 to 40).map(_.toDouble)
    eq("p75 of 1..40 by nearest rank", Stats.percentile(xs, 75.0), 30.0)
    eq("median of 1..4", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    eq("median of 1..3", Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)

    // self time: children may overlap each other and spill past the parent
    near("self time with overlapping children",
      Stats.selfTime(Iv(0, 100), Seq(Iv(10, 30), Iv(20, 40), Iv(90, 120))), 60.0)
    near("self time without children", Stats.selfTime(Iv(5, 15), Nil), 10.0)
    eq("union merges touching intervals",
      Stats.union(Seq(Iv(5, 6), Iv(0, 2), Iv(2, 3))), Seq(Iv(0, 3), Iv(5, 6)))

    // open loop: latency runs from the due time, lateness from due to sent
    eq("latency counts the wait behind a stall",
      Stats.scheduledLatencies(Seq(0.0, 250.0, 500.0), Seq(900.0, 900.0, 1000.0)),
      Seq(900.0, 650.0, 500.0))
    near("generator lag is the worst late send",
      Stats.generatorLag(Seq(0.0, 250.0, 500.0), Seq(1.0, 262.0, 503.0)), 12.0)
    near("an early send is no lag",
      Stats.generatorLag(Seq(100.0), Seq(90.0)), 0.0)
    eq("backlog at batch starts", Stats.backlogMax(
      sent = Seq(0.0, 250.0, 500.0, 750.0), done = Seq(600.0, 600.0, 900.0, 900.0),
      probes = Seq(10.0, 700.0, 800.0)), 2)

    // job attribution: a job belongs to the span that set its group
    val spans = Seq(
      Span(1, "iteration", 0, 1, 0, 1000, 0),
      Span(2, "io.read", 1, 1, 0, 100, 5, -1, -1),
      Span(3, "llm.c4Clean", 1, 1, 100, 600, 40, 200, 150),
      Span(4, "llm.nearDupClusters", 1, 1, 600, 900, 10, -1, -1))
    val groups = Map("g2" -> 2, "g3" -> 3, "g4" -> 4)
    val jobs = Seq(JobRec(1, "g2", 10), JobRec(2, "g3", 110),
      JobRec(3, "g3", 300), JobRec(4, "g4", 650), JobRec(5, null, 950))
    def stage(g: String, lo: Double, hi: Double, tasks: Seq[Double],
        cpuNs: Long, shuffleW: Long) = {
      val s = new StageRec(g, lo); s.complete = hi; s.taskMs ++= tasks
      s.cpuNs = cpuNs; s.shuffleWrite = shuffleW; s
    }
    val stages = Seq(stage("g2", 10, 60, Seq(40, 50), 80000000L, 0),
      stage("g3", 110, 310, Seq(100, 100, 100, 400), 700000000L, 1000),
      stage("g3", 320, 420, Seq(90), 90000000L, 10),
      stage("g4", 650, 800, Seq(60, 140), 200000000L, 500))
    val s = Ledger.summarize(spans, groups, jobs, stages, nIter = 1,
      roots = Seq(spans.head.iv))
    eq("jobs per layer", (s.metrics("io.jobs"), s.metrics("llm.jobs")), (1.0, 3.0))
    eq("the groupless job is outside every span", s.outside, 1)
    eq("a job in the iteration root's own group is outside every layer",
      Ledger.summarize(spans, groups + ("g1" -> 1),
        jobs :+ JobRec(6, "g1", 920), stages, 1, Seq(spans.head.iv)).outside, 2)
    near("llm task cpu", s.metrics("llm.task_cpu_s"), 0.99)
    near("llm shuffle write", s.metrics("llm.shuffle_write_bytes"), 1510.0)
    // llm self time 500 + 300 = 800 ms; stages cover 200 + 100 + 150 of it
    near("llm wall", s.metrics("llm.wall_s"), 0.8)
    near("llm driver gap", s.metrics("llm.driver_gap_s"), 0.35)
    // longest llm stage is the 200 ms one: 400 / median(100,100,100,400)
    near("straggler ratio in the longest stage", s.metrics("llm.straggler_ratio"), 4.0)
    near("useful-row ratio", s.metrics("llm.rows_out_per_row_in"), 0.75)
    near("codegen self time", s.metrics("llm.codegen_s"), 0.05)
    eq("idle layer reports zero jobs", s.metrics("eval.jobs"), 0.0)
    near("coverage of the iteration by layer spans", s.coverage, 0.9)
    // a stream trigger from 50 to 1050: layer spans cover 50..900
    near("coverage of other roots, such as stream triggers",
      Ledger.summarize(spans, groups, jobs, stages, 1, Seq(Iv(50, 1050)))
        .coverage, 0.85)

    if (failures > 0) {
      println(s"$failures checks failed"); sys.exit(1)
    }
    println("all checks passed")
  }
}
