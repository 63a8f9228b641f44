package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.llm.{Dedup, TextAnalysis}
import graft.streaming.StreamDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** `stream_intake`: an open loop of document drops, one JSON-lines file each,
  * sent at a fixed rate into a directory a Structured Streaming query
  * watches. Each micro-batch removes exact copies of the reference with the
  * bloom probe, near-copies of the reference and of earlier drops with the
  * MinHash store probe, and appends its survivors to the store. */
object StreamIntake {
  final case class BatchRec(id: Long, start: Double, end: Double,
      drops: Seq[Int], survivors: Long)

  /** Result of one stream run. `triggers` holds each micro-batch's
    * trigger execution as the streaming engine timed it. */
  final case class Run(due: IndexedSeq[Double], sent: IndexedSeq[Double],
      batches: Seq[BatchRec], phases: Map[Long, Map[String, Double]],
      triggers: Map[Long, Stats.Iv], storeBytesAdded: Long,
      error: Option[String])
}

final class StreamIntake(spark: SparkSession, seed: Long) {
  import StreamIntake._

  val nRef = 1500
  val DocsPerDrop = 6
  val DropsPerSecond = 5.0
  val StoreParts = 8
  /** A copy of an earlier drop's document comes from at least this many
    * drops (10 s) back, so its original has been committed before it
    * arrives. */
  val CopyLag: Int = (10 * DropsPerSecond).toInt
  val NaturalBase = 100000000L
  val RefCopyBase = 200000000L
  val RefNearBase = 300000000L
  val DropCopyBase = 400000000L
  val WarmBase = 900000000L

  private var dir: Path = _
  private val staged = mutable.ArrayBuffer.empty[Path]
  private var refFps: DataFrame = _
  private var bloom: Array[Byte] = _
  /** Natural document id -> the drop that carries it. */
  private val naturals = mutable.Map.empty[Long, Int]
  private val plants = mutable.Set.empty[Long]
  var inBytes = 0L

  /** Epoch ms from which batches are traced (set by the sender thread,
    * read by the query thread). */
  @volatile private var traceFrom = Double.MaxValue

  def storeDir: Path = dir.resolve("store")

  /** Reference corpus, its MinHash store, fingerprints and bloom filter,
    * and `nDrops` staged drop files. */
  def prepare(d: Path, nDrops: Int): Unit = {
    dir = d
    Option(refFps).foreach(_.unpersist(blocking = true))
    val t = new Gen.Text(seed)
    val refDocs = (0 until nRef).map(i => (i.toLong, t.doc()))
    import spark.implicits._
    val ref = refDocs.toDF("doc_id", "text").repartition(4)
    Dedup.writeMinHashStore(ref, storeDir.toString, nParts = StoreParts)
    refFps = ref.select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    bloom = Dedup.buildFingerprintBloom(ref, expectedItems = 2L * nRef,
      fpp = 0.01, refFps = refFps)

    naturals.clear(); plants.clear(); staged.clear()
    val rows = mutable.ArrayBuffer.empty[(Long, String)]
    val natText = mutable.ArrayBuffer.empty[(Long, String)]
    // natText.size at the end of each drop
    val natEnd = mutable.ArrayBuffer.empty[Int]
    var nat = 0L
    (0 until nDrops).foreach { k =>
      val r = new java.util.SplittableRandom(t.nextLong())
      def add(id: Long, txt: String, natural: Boolean): Unit = {
        rows += ((id, txt)); if (natural) naturals(id) = k else plants += id
      }
      (0 until DocsPerDrop).foreach { j =>
        val x = r.nextDouble()
        val rd = refDocs(r.nextInt(nRef))
        if (x < 0.1) add(RefCopyBase + k * 1000L + j, rd._2, false)
        else if (x < 0.2)
          add(RefNearBase + k * 1000L + j, rd._2 + " qqintakepad", false)
        else if (x < 0.3 && k >= CopyLag && natEnd(k - CopyLag) > 0) {
          val (_, txt) = natText(r.nextInt(natEnd(k - CopyLag)))
          add(DropCopyBase + k * 1000L + j, txt, false)
        } else {
          val id = NaturalBase + nat; nat += 1
          val txt = t.doc(r); add(id, txt, true); natText += ((id, txt))
        }
      }
      natEnd += natText.size
      // one JSON-lines file per drop
      val f = Files.createDirectories(d.resolve("staged")).resolve(s"$k.jsonl")
      Files.write(f, rows.map { case (id, txt) =>
        Json.obj(Map("doc_id" -> id, "text" -> txt, "drop" -> k))
      }.asJava)
      staged += f
      rows.clear()
    }
    inBytes = staged.map(Files.size).sum
  }

  /** One micro-batch: drop exact copies of the reference, then near copies
    * of anything in `store`, and append the survivors to `store`. Returns
    * the drops the batch held and the number of survivors. */
  private def process(tr: Tracer, batch: DataFrame, store: Path)
      : (Seq[Int], Long) = {
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    try tr("streaming.foreachBatch") {
      val b = batch.persist(StorageLevel.MEMORY_AND_DISK)
      val drops = b.select("drop").distinct().collect().map(_.getInt(0)).toSeq
      val fresh = tr.frame("streaming.bloomDedupAgainstCorpus", b)(
        StreamDedup.bloomDedupAgainstCorpus(b, refFps, bloom)
          .persist(StorageLevel.MEMORY_AND_DISK))
      val survivors = tr.frame("llm.crossCorpusNearDupsFromStore", fresh) {
        val matched = Dedup.crossCorpusNearDupsFromStore(fresh,
          store.toString, threshold = 0.7, nParts = StoreParts)
          .select(col("new_id").as("doc_id")).distinct()
        fresh.join(matched, Seq("doc_id"), "left_anti").localCheckpoint()
      }
      val n = survivors.count()
      tr("llm.appendMinHashStore")(Dedup.appendMinHashStore(
        survivors.select("doc_id", "text"), store.toString,
        nParts = StoreParts))
      (drops, n)
    } finally {
      tr.release()
      spark.sparkContext.getPersistentRDDs
        .filter { case (rid, _) => !cachedBefore.contains(rid) }
        .values.foreach(_.unpersist(blocking = false))
    }
  }

  /** Compile the per-batch code before the stream starts: `rounds` batches
    * of fresh documents through [[process]] against a scratch store, so
    * the open loop does not begin with a backlog of cold batches. */
  def warm(tr: Tracer, rounds: Int): Unit = {
    import spark.implicits._
    val t = new Gen.Text(seed ^ 0x3a7f)
    val scratch = dir.resolve("warm-store")
    def docs(n: Int, base: Long) =
      (0 until n).map(i => (base + i, t.doc(), -1)).toDF("doc_id", "text", "drop")
    Dedup.writeMinHashStore(docs(200, WarmBase), scratch.toString,
      nParts = StoreParts)
    (1 to rounds).foreach(r =>
      process(tr, docs(DocsPerDrop * 20, WarmBase + r * 100000L), scratch))
    FileUtil.rm(scratch)
  }

  /** Send `nDrops` drops at [[DropsPerSecond]]; batches that start once
    * drop `traceFromDrop` is due are traced. */
  def run(tr: Tracer, nDrops: Int, traceFromDrop: Int): Run = {
    val src = Files.createDirectories(dir.resolve("incoming"))
    val storeBefore = FileUtil.size(storeDir)
    val batches = mutable.ArrayBuffer.empty[BatchRec]
    val phases = mutable.Map.empty[Long, Map[String, Double]]
    val triggers = mutable.Map.empty[Long, Stats.Iv]
    traceFrom = Double.MaxValue
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        phases.synchronized {
          val p = e.progress.durationMs.asScala
            .map { case (k, v) => k -> v.doubleValue }.toMap
          phases(e.progress.batchId) = p
          val t0 = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
            .toDouble
          triggers(e.progress.batchId) =
            Stats.Iv(t0, t0 + p.getOrElse("triggerExecution", 0.0))
        }
    }
    spark.streams.addListener(listener)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("drop", IntegerType)))
    val q = spark.readStream.schema(schema).json(src.toString)
      .writeStream
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val start = tr.now()
        if (start >= traceFrom && !tr.on) tr.start()
        tr.iter = id.toInt
        val (drops, n) = process(tr, batch, storeDir)
        batches.synchronized {
          batches += BatchRec(id, start, tr.now(), drops, n)
        }
        ()
      }
      .start()

    // open-loop sender: drop k is due at t0 + k / rate, whatever the query
    // is doing
    val t0 = tr.now() + 200.0
    val due = (0 until nDrops).map(k => t0 + k * 1000.0 / DropsPerSecond)
    if (traceFromDrop < nDrops) traceFrom = due(traceFromDrop)
    val sent = Array.fill(nDrops)(0.0)
    var error: Option[String] = None
    try {
      due.zipWithIndex.foreach { case (d, k) =>
        val wait = d - tr.now()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Files.copy(staged(k), dir.resolve(s"tmp-$k.jsonl"),
          StandardCopyOption.REPLACE_EXISTING)
        Files.move(dir.resolve(s"tmp-$k.jsonl"),
          src.resolve(f"drop-$k%05d.jsonl"), StandardCopyOption.ATOMIC_MOVE)
        sent(k) = tr.now()
        q.exception.foreach(e => throw e)
      }
      val deadline = System.nanoTime() + 60L * 1000000000L
      def committed = batches.synchronized(batches.flatMap(_.drops).size)
      while (committed < nDrops && q.isActive && System.nanoTime() < deadline)
        Thread.sleep(20)
      if (committed < nDrops)
        error = Some(s"only $committed of $nDrops drops committed" +
          q.exception.map(e => s": ${e.getMessage}").getOrElse(""))
      // progress events arrive on their own bus; when tracing, wait for
      // the last batch's before stopping
      val lastId = batches.synchronized(batches.map(_.id).maxOption)
      while (tr.on && lastId.exists(l => phases.synchronized(!phases.contains(l)))
          && System.nanoTime() < deadline) Thread.sleep(10)
    } finally {
      q.stop()
      q.awaitTermination()
    }
    spark.streams.removeListener(listener)
    Run(due, sent.toIndexedSeq, batches.synchronized(batches.toSeq),
      phases.synchronized(phases.toMap), phases.synchronized(triggers.toMap),
      FileUtil.size(storeDir) - storeBefore, error)
  }

  /** Drops whose documents were handled wrongly: a natural document not
    * in the store exactly once, or a planted duplicate in it. The store
    * must also hold exactly the reference plus the survivors. */
  def check(run: Run): (Set[Int], Option[String]) = {
    val ids = spark.read.parquet(storeDir.resolve("payload").toString)
      .select(col("id").cast("long")).collect().map(_.getLong(0))
    val counts = ids.groupBy(identity).map { case (k, v) => k -> v.length }
    val dropOf = (id: Long) => ((id % NaturalBase) / 1000).toInt
    val survivors = run.batches.map(_.survivors).sum
    val bad = mutable.Set.empty[Int]
    val badNatural = naturals.filter { case (id, _) =>
      counts.getOrElse(id, 0) != 1 }
    val badPlant = plants.filter(counts.contains)
    val dropCounts = run.batches.flatMap(_.drops).groupBy(identity)
      .filter(_._2.size != 1).keySet
    bad ++= dropCounts
    bad ++= badPlant.map(dropOf)
    bad ++= badNatural.values
    val msgs = Seq(
      badNatural.nonEmpty -> s"${badNatural.size} natural docs not stored once",
      badPlant.nonEmpty -> s"${badPlant.size} planted duplicates stored",
      dropCounts.nonEmpty -> s"${dropCounts.size} drops committed more than once",
      (ids.length.toLong != nRef + survivors) ->
        s"store rows ${ids.length} != ${nRef + survivors}",
      run.error.isDefined -> run.error.getOrElse(""))
    if (ids.length.toLong != nRef + survivors || run.error.isDefined)
      bad ++= staged.indices
    (bad.toSet, msgs.collectFirst { case (true, m) => m })
  }

  def sizes: Map[String, Long] = Map("reference_documents" -> nRef,
    "documents_per_drop" -> DocsPerDrop, "natural_documents" -> naturals.size,
    "planted_duplicates" -> plants.size)
}
