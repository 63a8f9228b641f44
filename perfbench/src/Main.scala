package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints the result as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones (tracing off); with `--trace 1` the run
  * measures untraced, then traced, and reports the per-layer counters. */
object Main {
  val Workloads = Seq("detect_curate", "stream_intake")
  /** Set-up is repeated this many times; `setup_s` takes the median. */
  val SetupReps = 3
  /** Batch warm-up: at most this many iterations, and none started after
    * [[MaxWarmMs]] of warm-up. */
  val MaxWarmIters = 2
  val MaxWarmMs = 20000.0
  val StreamWarmRounds = 3
  val StreamWarmSeconds = 5

  /** `scale` multiplies the input sizes (default 1), for scaling checks. */
  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, scale: Double)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = get("--workload")
    require(Workloads.contains(w), s"unknown workload $w")
    Opts(w, get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", Paths.get(get("--work")).toAbsolutePath,
      kv.get("--scale").map(_.toDouble).getOrElse(1.0))
  }

  /** The session `graft.Bench` uses: codegen class cache 8192 entries,
    * session-artifact isolation off. */
  def session(work: Path): SparkSession = {
    val n = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder().appName("perfbench").master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Heap still in use after a full collection, in MB: the data the
    * program holds at that point, without the garbage and the untouched
    * heap that VmHWM includes. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], detail: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime.toDouble
    Files.createDirectories(o.work)
    val spark = session(o.work)
    val tr = new Tracer(spark)
    val sessionMs = tr.now() - jvmStart
    log("session ready")
    val r =
      try o.workload match {
        case "stream_intake" => stream(spark, tr, o, sessionMs)
        case name =>
          val out = o.work.resolve("out")
          batch(spark, tr, o, new DetectCurate(spark, o.seed, out, o.scale),
            sessionMs)
      } finally { log("stopping"); spark.stop(); log("stopped") }
    println(Json.obj(Map("detail" -> r.detail)))
    println(Json.obj(Map("correct" -> r.correct, "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> r.metrics.map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u)
      }.to(scala.collection.immutable.ListMap))))
  }

  /** Progress on stderr, in seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime) / 1000.0}%.1f s: $msg")

  private def timed[T](tr: Tracer)(body: => T): (Double, T) = {
    val t0 = tr.now(); val v = body; (tr.now() - t0, v)
  }

  /** Repeat set-up [[SetupReps]] times into fresh directories; keep the
    * last. Returns the median time. */
  private def setupReps(work: Path, tr: Tracer)(prepare: Path => Unit)
      : Double = {
    log("set-up")
    val times = (0 until SetupReps).map { i =>
      val d = work.resolve(s"input-$i")
      val (ms, _) = timed(tr)(prepare(d))
      if (i > 0) FileUtil.rm(work.resolve(s"input-${i - 1}"))
      ms
    }
    Stats.median(times)
  }

  private def batch(spark: SparkSession, tr: Tracer, o: Opts, w: Batch,
      sessionMs: Double): Result = {
    val prepMs = setupReps(o.work, tr)(w.prepare)
    val kept = spark.sparkContext.getPersistentRDDs.keySet
    def cleanup(): Unit = tr.harness {
      tr.release()
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !kept.contains(id) }
        .values.foreach(_.unpersist(blocking = true))
    }
    var iter = 0
    def once(): Double = {
      iter += 1; tr.iter = iter
      val (ms, _) = timed(tr)(tr("iteration")(w.run(tr)))
      ms
    }
    log("warm-up")
    val warm = mutable.ArrayBuffer.empty[Double]
    val (warmMs, _) = timed(tr) {
      while (warm.size < MaxWarmIters && warm.sum < MaxWarmMs) {
        warm += once(); cleanup()
      }
    }
    val setupMs = sessionMs + prepMs + warmMs

    val errors = mutable.ArrayBuffer.empty[String]
    val checkMs = mutable.ArrayBuffer.empty[Double]
    val liveMb = mutable.ArrayBuffer.empty[Double]
    def measure(): (Seq[Double], Set[Int]) = {
      val times = mutable.ArrayBuffer.empty[Double]
      val iters = mutable.Set.empty[Int]
      // iterations until their own time, checks excluded, reaches --seconds
      while (times.isEmpty || times.sum < o.seconds * 1000.0) {
        times += once(); iters += iter
        liveMb += tr.harness(liveHeapMb())
        val (ms, err) = timed(tr)(tr.harness(w.check()))
        checkMs += ms
        err.foreach(errors += _)
        cleanup()
      }
      (times.toSeq, iters.toSet)
    }
    log("measure")
    val (times, _) = measure()
    val (tail, tailMs) = Stats.tail(times)
    val detail = mutable.Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "sizes" -> w.sizes,
      "input_bytes" -> w.inBytes, "samples" -> times.size,
      "latency_tail_percentile" -> tail, "iteration_ms" -> times,
      "warmup_ms" -> warm.toSeq, "setup_parts_ms" -> Map(
        "session" -> sessionMs, "inputs_median" -> prepMs, "warmup" -> warmMs),
      "check_ms" -> checkMs.toSeq, "errors" -> errors.distinct.toSeq,
      "live_heap_mb" -> liveMb.toSeq)
    if (!o.trace) {
      val sumS = times.sum / 1000.0
      Result(errors.isEmpty, times.size, errors.size, Seq(
        ("setup_s", setupMs / 1000.0, "s"),
        ("run_s_p50", Stats.median(times) / 1000.0, "s"),
        ("items_per_s", w.items * times.size / sumS, "1/s"),
        ("latency_ms_p50", Stats.median(times), "ms"),
        ("latency_ms_tail", tailMs, "ms"),
        ("peak_rss_mb", peakRssMb(), "MB"),
        ("out_bytes_per_in_byte", w.outBytes.toDouble / w.inBytes, "B/B")),
        detail.toMap)
    } else {
      tr.start()
      val from = tr.now()
      val (traced, iters) = measure()
      tr.drain()
      val s = tr.summary(iters, from, tr.now())
      val overhead = (Stats.median(traced) - Stats.median(times)) / 1000.0
      traceResult(s, overhead, 0.0, Map.empty, 0, errors,
        times.size + traced.size, detail)
    }
  }

  val PhaseKeys: Seq[(String, String)] = Seq("add_batch_ms" -> "addBatch",
    "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets",
    "latest_offset_ms" -> "latestOffset", "query_planning_ms" -> "queryPlanning")

  private def traceResult(s: Ledger.Summary, overheadS: Double,
      genLagMs: Double, phases: Map[String, Double], backlog: Int,
      errors: mutable.Buffer[String], attempted: Long,
      detail: mutable.Map[String, Any]): Result = {
    if (s.outside > 0)
      errors += s"${s.outside} Spark jobs ran outside a layer span"
    val units = Map("wall_s" -> "s/iter", "task_cpu_s" -> "s/iter",
      "driver_gap_s" -> "s/iter", "codegen_s" -> "s/iter",
      "straggler_ratio" -> "ratio", "rows_out_per_row_in" -> "ratio")
    val layer = s.metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      val c = k.dropWhile(_ != '.').drop(1)
      (k, v, units.getOrElse(c, if (c.endsWith("_bytes")) "B/iter" else "count/iter"))
    }
    val stream = PhaseKeys.map { case (k, _) =>
      (s"streaming.$k", phases.getOrElse(k, 0.0), "ms") } :+
      (("streaming.backlog_max", backlog.toDouble, "count"))
    detail("errors") = errors.distinct.toSeq
    detail("outside_jobs") = s.outside
    detail("spans") = s.bySpan
    Result(errors.isEmpty, attempted, errors.size.toLong, layer ++ stream ++ Seq(
      ("harness.gen_lag_ms_max", genLagMs, "ms"),
      ("trace.overhead_s", overheadS, "s"),
      ("trace.coverage", s.coverage, "ratio")), detail.toMap)
  }

  private def stream(spark: SparkSession, tr: Tracer, o: Opts,
      sessionMs: Double): Result = {
    val w = new StreamIntake(spark, o.seed)
    val rate = w.DropsPerSecond
    val nWarm = (StreamWarmSeconds * rate).toInt
    val nMeasure = (o.seconds * rate).toInt
    val nDrops = nWarm + nMeasure * (if (o.trace) 2 else 1)
    val prepMs = setupReps(o.work, tr)(d => w.prepare(d, nDrops))
    log("warm-up batches")
    val (warmMs, _) = timed(tr)(w.warm(tr, StreamWarmRounds))
    log("stream")
    val (runMs, run) = timed(tr)(w.run(tr, nDrops,
      traceFromDrop = if (o.trace) nWarm + nMeasure else Int.MaxValue))
    val liveMb = liveHeapMb()
    log("check")
    val (checkMs, (badDrops, error)) = timed(tr)(tr.harness(w.check(run)))
    val commit = mutable.Map.empty[Int, Double]
    run.batches.foreach(b => b.drops.foreach(k => commit(k) = b.end))
    // drops [from, until): their latencies, and the batches that committed
    // them
    def window(from: Int, until: Int) = {
      val ks = (from until until).filter(commit.contains)
      val lat = Stats.scheduledLatencies(ks.map(run.due), ks.map(commit))
      val bs = run.batches.filter(_.drops.exists(k => k >= from && k < until))
      (ks, lat, bs)
    }
    val (ks, lat, bs) = window(nWarm, nWarm + nMeasure)
    val (tail, tailMs) = Stats.tail(lat)
    val errors = mutable.ArrayBuffer.empty[String] ++ error
    val setupMs = sessionMs + prepMs + warmMs + (run.due(nWarm) - run.due(0)) + 200.0
    val batchMs = bs.map(b => b.end - b.start)
    val detail = mutable.Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "sizes" -> w.sizes,
      "input_bytes" -> w.inBytes, "drops_per_s" -> rate,
      "samples" -> lat.size, "batches" -> bs.size, "run_ms" -> runMs,
      "check_ms" -> checkMs, "batch_ms" -> run.batches.map(b => b.end - b.start),
      "batch_drops" -> run.batches.map(_.drops.size),
      "latency_tail_percentile" -> tail,
      "setup_parts_ms" -> Map("session" -> sessionMs, "inputs_median" -> prepMs,
        "warmup_batches" -> warmMs),
      "errors" -> errors.toSeq, "live_heap_mb" -> liveMb)
    if (!o.trace) {
      Result(errors.isEmpty, nDrops, badDrops.size, Seq(
        ("setup_s", setupMs / 1000.0, "s"),
        ("run_s_p50", Stats.median(batchMs) / 1000.0, "s"),
        ("items_per_s", ks.size * w.DocsPerDrop /
          ((ks.map(commit).max - run.due(nWarm)) / 1000.0), "1/s"),
        ("latency_ms_p50", Stats.median(lat), "ms"),
        ("latency_ms_tail", tailMs, "ms"),
        ("peak_rss_mb", peakRssMb(), "MB"),
        ("out_bytes_per_in_byte", run.storeBytesAdded.toDouble / w.inBytes, "B/B")),
        detail.toMap)
    } else {
      val (tks, _, _) = window(nWarm + nMeasure, nDrops)
      val tbs = run.batches.filter(_.start >= run.due(nWarm + nMeasure))
      tr.drain()
      val from = tbs.map(_.start).minOption.getOrElse(tr.now())
      val s = tr.summary(tbs.map(_.id.toInt).toSet, from, tr.now(),
        roots = tbs.flatMap(b => run.triggers.get(b.id)))
      val phases = PhaseKeys.map { case (k, key) =>
        val xs = tbs.flatMap(b => run.phases.get(b.id)).map(_.getOrElse(key, 0.0))
        k -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
      }.toMap
      val backlog = Stats.backlogMax(tks.map(run.sent), tks.map(commit),
        tbs.map(_.start))
      val lag = Stats.generatorLag(run.due, run.sent)
      val overhead = (Stats.median(tbs.map(b => b.end - b.start)) -
        Stats.median(batchMs)) / 1000.0
      traceResult(s, overhead, lag, phases, backlog, errors, nDrops, detail)
    }
  }
}

/** Just enough JSON for the result lines. */
object Json {
  def obj(m: Map[String, Any]): String = value(m)
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => value(k.toString) + ": " + value(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case x => value(x.toString)
  }
}
