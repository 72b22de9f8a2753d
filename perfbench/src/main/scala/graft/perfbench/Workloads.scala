package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{CorpusPipeline, Tables}
import graft.cdc.{CdcLogAdapter, CdcOps, CdcSchema}
import graft.functions.{Hashes, ShingleHash, Tokens, WordShingles}
import graft.pipeline.{Classifier, Corpus, Dedup, TextAnalysis}
import graft.streaming.{CdcStateStore, CdcStreamConsumer, FileStateStore, GraftCdcConsumer,
  StreamingSnapshotMerge}

import Main._

object Workloads {

  /** Input generation rounds per run; set-up reports their median. */
  val SetupRounds = 3

  // ============================================================ corpus_build

  /** Closed loop of `CorpusPipeline.run` over one generated corpus. */
  def corpusBuild(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val o = new Outcome
    val seed = ctx.args.seed
    val dp = Gen.sfDocs(baseDocs = ctx.sized(2500, 150), copies = 2)
    val dir = ctx.dir("corpus")
    val data = s"$dir/data"
    o.report ++= Map("docs_per_op" -> dp.baseDocs * dp.copies, "base_docs" -> dp.baseDocs,
      "copies" -> dp.copies)
    val genS = timedSetup(SetupRounds) {
      spark.createDataFrame(Gen.documents(dp, seed)).coalesce(1)
        .write.mode("overwrite").parquet(s"$data/documents.parquet")
    }
    // one cold run: set-up counts the cold start (class loading, code
    // generation, JIT) that the CLI pays once per JVM
    val tw = System.nanoTime()
    CorpusPipeline.run(spark, data, s"$dir/warmup")
    o.setupS = genS + secs(tw)
    o.report ++= Map("setup_gen_s" -> genS, "setup_warmup_s" -> secs(tw))

    // the kernels' inputs, materialised once so each probe times one kernel
    lazy val docs = Tables.documents(spark, data).select(col("doc_id"), col("text")).localCheckpoint()
    lazy val toks = docs.select(Tokens.tokens(col("text")).as("toks")).localCheckpoint()
    lazy val hashes = docs.select(ShingleHash.shingleHashes(lower(col("text")), Dedup.ShingleK)
      .as("h")).localCheckpoint()
    // the pipeline's two outputs, held in memory for the write probe
    lazy val outputs = Seq("corpus_packed", "retention_report")
      .map(t => spark.read.parquet(s"$dir/op-0/$t").localCheckpoint())
    if (ctx.spans.enabled) { docs; toks; hashes }
    val stages = Seq(
      "keeplist" -> (() => Dedup.keeplistFrame(spark, data)),
      "decontaminate" -> (() => Dedup.decontaminate(spark, data)),
      "quality" -> (() => TextAnalysis.qualityFilter(spark, data)),
      "classifier" -> (() => Classifier.score(spark, data)),
      "pack" -> (() => Corpus.packSequences(spark, data)))
    val kernels = Seq(
      "tokens" -> (() => docs.select(Tokens.tokens(col("text")))),
      "word_shingles" -> (() => toks.select(WordShingles.shingles(col("toks"), Dedup.ShingleWords))),
      "shingle_hash" -> (() => docs.select(ShingleHash.shingleHashes(lower(col("text")), Dedup.ShingleK))),
      "minhash_sig" -> (() => hashes.select(Hashes.minhashSig(col("h")))),
      "poly_hash" -> (() => docs.select(Hashes.polyHash(Hashes.charCodes(col("text"))))))

    val kept = mutable.ArrayBuffer.empty[Long]
    var nDocs = 0L
    closedLoop(ctx, o) { i =>
      ctx.spans("op", Map("i" -> i)) {
        val t = System.nanoTime()
        val (k, n) = ctx.spans("graft.CorpusPipeline.run")(CorpusPipeline.run(spark, data, s"$dir/op-$i"))
        val l = ms(t)
        kept += k
        nDocs = n
        if (ctx.spans.enabled) {
          outputs
          stages.foreach { case (name, f) => ctx.spans(s"pipeline.$name")(noop(f())) }
          kernels.foreach { case (name, f) => ctx.spans(s"functions.$name")(noop(f())) }
          ctx.spans("pipeline.write")(outputs.zipWithIndex.foreach { case (df, j) =>
            df.write.mode("overwrite").parquet(s"$dir/write-probe-$j") })
        }
        (l, n)
      }
    }
    o.checks ++= Map("kind" -> "corpus", "seed" -> seed, "docs" -> nDocs,
      "outputs" -> kept.zipWithIndex.map { case (k, i) =>
        Map("dir" -> s"$dir/op-$i/retention_report", "kept" -> k) })
    o.report ++= Map("kept_docs" -> kept.headOption.getOrElse(0L), "docs" -> nDocs)

    if (ctx.spans.enabled) {
      val s = ctx.spans
      val runs = s.named("graft.CorpusPipeline.run")
      val k = runs.size.toDouble
      def part(prefix: String, name: String): Unit = {
        val ss = s.named(s"$prefix.$name")
        val w = Work.sum(ss.map(x => ctx.work.forKey(s"span:${x.id}")))
        o.layer ++= Map(s"$prefix.${name}_s" -> ss.map(_.seconds).sum / k,
          s"$prefix.${name}_cpu_s" -> w.cpuS / k)
      }
      stages.foreach(x => part("pipeline", x._1))
      kernels.foreach(x => part("functions", x._1))
      val runWork = Work.sum(runs.map(x => ctx.work.forKey(s"span:${x.id}")))
      val recounts = runs.map(x => ctx.work.jobsOf(s"span:${x.id}")
        .count(_.startsWith("count at CorpusPipeline"))).sum
      o.layer ++= Map(
        "pipeline.write_s" -> s.named("pipeline.write").map(_.seconds).sum / k,
        "pipeline.recount_jobs" -> recounts / k,
        "pipeline.kept_docs" -> kept.head.toDouble)
      o.layer ++= sparkMetrics(runWork, runs.size, runs.map(_.seconds).sum, ctx.cores)
    }
    o
  }

  // ============================================================ stream_catchup

  /** Closed loop over a pre-generated backlog: each chunk is appended once
    * the previous one is covered. The same changes feed a
    * `GraftCdcConsumer` (executor-side partition consumer, FileStateStore,
    * checkpoint dir) and `StreamingSnapshotMerge.attach`, each through
    * its own MemoryStream of `events` rows and `CdcLogAdapter.fromEvents`;
    * a chunk's latency runs from its append until both queries have
    * finished a micro-batch covering it. */
  def streamCatchup(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val o = new Outcome
    val seed = ctx.args.seed
    val confMs = 2000L
    val chunk = ctx.sized(50000, 2000)
    val warm = 5
    val p = LogParams(keys = ctx.sized(200000L, 5000L),
      typeWeights = Seq("view" -> 0.2, "click" -> 0.2, "purchase" -> 0.45, "signup" -> 0.1,
        "error" -> 0.05),
      outOfOrderShare = 0.1, outOfOrderMaxUs = 1500000L, stepUs = 1000000L / chunk,
      startUs = Gen.StartUs)
    val measuredChunks = math.ceil(ctx.args.seconds / 1.2).toInt + 2
    val nChunks = warm + measuredChunks
    o.report ++= Map("chunk_changes" -> chunk, "confidence_ms" -> confMs,
      "keys" -> p.keys, "out_of_order_share" -> p.outOfOrderShare,
      "type_mix" -> p.typeWeights.toMap, "backlog_chunks" -> measuredChunks)

    var chunks: Array[Array[EventRow]] = null
    val genS = timedSetup(SetupRounds) {
      chunks = Array.tabulate(nChunks)(c => Gen.events(p, seed, c.toLong * chunk, (c + 1L) * chunk))
    }
    val dir = ctx.dir("stream")
    val enc = Encoders.product[EventRow]
    val srcC = MemoryStream[EventRow](enc, spark)
    val srcM = MemoryStream[EventRow](enc, spark)
    val changes = CdcLogAdapter.fromEvents(srcC.toDF())
      .select(col("cdc_stream_id").as("streamId"), col("time_us").as("timeUs"),
        col("event_id").as("eventId"), col("cdc_operation").as("operation"), col("value"))
      .as(Encoders.product[CdcStreamConsumer.Change])
    val fileStore = new FileStateStore(Paths.get(dir, "state.bin").toAbsolutePath)
    val timed = if (ctx.spans.enabled) Some(new TimedStateStore(fileStore)) else None
    val store: CdcStateStore = timed.getOrElse(fileStore)
    java.nio.file.Files.createDirectories(Paths.get(dir))
    val consumer = GraftCdcConsumer.builder(spark)
      .withSource(changes)
      .withPartitionConsumer(DeliveredLog.sink)
      .withQueryTimeWindowSizeMs(100)
      .withConfidenceWindowSizeMs(confMs)
      .withCheckpointLocation(s"$dir/consumer-checkpoint")
      .withStateStore(store)
      .withQueryName("perfbench-consumer")
      .build()
    val snapshot = new StreamingSnapshotMerge.InMemorySnapshotStore(spark)
    val t0 = System.nanoTime()
    val cq = consumer.start()
    val mq = StreamingSnapshotMerge.attach(CdcLogAdapter.fromEvents(srcM.toDF()), snapshot,
      confMs * 1000L)
    var appended = 0
    def append(c: Array[EventRow]): Int = synchronized {
      srcC.addData(c.toSeq); srcM.addData(c.toSeq); appended += 1; appended - 1
    }
    def coveredAt(offset: Int, deadline: Long): Option[Long] =
      for (a <- ctx.progress.awaitCovered(cq.id, offset, deadline);
           b <- ctx.progress.awaitCovered(mq.id, offset, deadline)) yield math.max(a, b)
    val waitNs = 120L * 1000000000L
    (0 until warm).foreach { c =>
      val off = append(chunks(c))
      if (coveredAt(off, System.nanoTime() + waitNs).isEmpty)
        throw new IllegalStateException(s"warm-up chunk $c was not processed")
    }
    o.setupS = genS + secs(t0)
    o.report ++= Map("setup_gen_s" -> genS, "setup_warmup_s" -> secs(t0))

    ctx.drain()
    val w0 = ctx.work.snapshot()
    val puts0 = timed.map(t => (t.puts.get, t.putNs.get))
    val mStart = System.nanoTime()
    val due = mutable.ArrayBuffer.empty[(Int, Long)] // (offset, append time)
    val deadline = mStart + (ctx.args.seconds * 1e9).toLong
    var j = 0
    while (warm + j < nChunks && (j == 0 || System.nanoTime() < deadline)) {
      val t = System.nanoTime()
      val off = append(chunks(warm + j))
      due += off -> t
      coveredAt(off, t + waitNs)
      j += 1
    }
    var lastDone = mStart
    due.foreach { case (off, d) =>
      o.attempted += 1
      coveredAt(off, System.nanoTime() + waitNs) match {
        case Some(done) =>
          o.latMs += (done - d) / 1e6; o.items += chunk; lastDone = math.max(lastDone, done)
        case None => o.failed += 1; note(s"chunk at offset $off was not processed")
      }
    }
    val mEnd = lastDone
    o.wallS = (mEnd - due.head._2) / 1e9
    ctx.drain()
    val w1 = ctx.work.snapshot()
    o.cpuNs = w1.taskCpuNs - w0.taskCpuNs
    o.heapMb = heapAfterGcMb(o)
    val appendedChanges = appended.toLong * chunk
    val deliveredAtEnd = DeliveredLog.size

    if (ctx.spans.enabled) {
      val snap = snapshot.read()
      val sc = spark.sparkContext
      o.layer ++= Map(
        "merge.snapshot_rows" -> snap.count().toDouble,
        "merge.tombstone_rows" -> snap.filter(col("deleted")).count().toDouble,
        "merge.retained_rdds" -> sc.getPersistentRDDs.size.toDouble,
        "merge.storage_mb" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0,
        "consumer.delivered_ratio" -> deliveredAtEnd.toDouble / appendedChanges,
        "consumer.pending_rows" -> (appendedChanges - deliveredAtEnd).toDouble)
      val measured = due.map(_._1).toSet
      // micro-batches that ran in the measured phase, per query
      def batches(q: java.util.UUID) = ctx.progress.progress(q).filter { case (at, pr) =>
        at >= mStart && at <= mEnd + 1000000L }
      val chunksN = measured.size
      val allWork = mutable.ArrayBuffer.empty[Work]
      Seq("consumer" -> cq.id, "merge" -> mq.id).foreach { case (name, q) =>
        val timedBs = batches(q)
        val bs = timedBs.map(_._2)
        def d(key: String) = Stats.median(bs.map(b =>
          Option(b.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
        val ws = bs.map(b => ctx.work.forKey(s"q:$q:${b.batchId}"))
        allWork ++= ws
        timedBs.foreach { case (at, b) =>
          val trigMs = Option(b.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
          ctx.spans.add(s"$name.batch", at - trigMs * 1000000L, at,
            Map("batch" -> b.batchId, "rows" -> b.numInputRows))
        }
        o.layer ++= Map(s"$name.trigger_ms_p50" -> d("triggerExecution"),
          s"$name.add_batch_ms_p50" -> d("addBatch"),
          s"$name.jobs_per_batch" -> ws.map(_.jobs).sum.toDouble / math.max(1, bs.size))
        if (name == "consumer") {
          val st = bs.flatMap(_.stateOperators.headOption)
          o.layer ++= Map("consumer.batches_per_append" -> bs.size.toDouble / chunksN,
            "consumer.wal_commit_ms_p50" -> d("walCommit"),
            "consumer.commit_offsets_ms_p50" -> d("commitOffsets"),
            "consumer.query_planning_ms_p50" -> d("queryPlanning"),
            "consumer.state_rows" -> st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
            "consumer.state_mb" -> st.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
            "consumer.state_commit_ms" -> Stats.median(st.map(_.commitTimeMs.toDouble)),
            "consumer.state_update_ms" -> Stats.median(st.map(_.allUpdatesTimeMs.toDouble)))
          for (t <- timed; (p0, n0) <- puts0) o.layer ++= Map(
            "statestore.put_calls_per_batch" -> (t.puts.get - p0).toDouble / math.max(1, bs.size),
            "statestore.put_ms_per_batch" -> (t.putNs.get - n0) / 1e6 / math.max(1, bs.size))
        }
      }
      // catalyst.plan_ms comes from each batch's SQL execution: progress
      // `queryPlanning` times the same planning and would count it twice
      o.layer ++= sparkMetrics(Work.sum(allWork), chunksN, o.wallS, ctx.cores)
    }

    // ---- untimed: flush the confidence window, then check both outputs
    val all = chunks.take(appended).flatten
    val lastUs = all.map(e => e.ts.getEpochSecond * 1000000L + e.ts.getNano / 1000).max
    val sentinelUs = lastUs + 10 * confMs * 1000L
    append(Array(EventRow(Long.MaxValue / 2, java.time.Instant.ofEpochSecond(
      sentinelUs / 1000000L, sentinelUs % 1000000L * 1000L), 0L, "signup", 0.0, "{}")))
    val flushDeadline = System.nanoTime() + waitNs
    while (DeliveredLog.size < all.length && System.nanoTime() < flushDeadline) Thread.sleep(20)
    coveredAt(appended - 1, flushDeadline)
    Seq(cq, mq).foreach(_.exception.foreach(e => note(s"query failed: $e")))
    consumer.stop()
    mq.stop()
    // the oracle's input: the appended changes, regenerated in parallel
    val appendedDf = {
      import spark.implicits._
      val (pp, s) = (p, seed)
      spark.range(0, all.length.toLong, 1, ctx.cores * 2).map(id => Gen.event(pp, s, id)).toDF()
    }
    val checks = checkStreams(all, appendedDf, DeliveredLog.all, snapshot, ctx.args.corrupt)
    checks.foreach(f => note(s"check failed: $f"))
    o.failed = math.min(o.attempted, o.failed + checks.size)
    o.report ++= Map("check_failures" -> checks, "delivered" -> DeliveredLog.size,
      "appended_changes" -> all.length)
    o
  }

  /** The stream workloads' output checks; returns one message per failed check.
    *  - consumer: each stream's seqNo runs 1..n in ChangeId order, no
    *    change is delivered twice or on the wrong stream, and every
    *    appended change (`appended(i).event_id == i`) is delivered;
    *  - merge: liveView(snapshot) equals CdcOps.replicateLwwFromLog over
    *    every appended change (`appendedDf`), compared by row count and
    *    an order-insensitive sum of row hashes. */
  def checkStreams(appended: Array[EventRow], appendedDf: DataFrame,
      delivered0: Seq[CdcStreamConsumer.Delivered],
      snapshot: StreamingSnapshotMerge.InMemorySnapshotStore, corrupt: Boolean): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    // a corrupted run drops one delivered change and one snapshot row
    val delivered = if (corrupt) delivered0.drop(1) else delivered0
    val bad = delivered.groupBy(_.streamId).count { case (_, ds) =>
      val bySeq = ds.sortBy(_.seqNo)
      bySeq.map(_.seqNo) != (1L to ds.size.toLong) ||
        bySeq.zip(bySeq.drop(1)).exists { case (a, b) =>
          a.timeUs > b.timeUs || (a.timeUs == b.timeUs && a.eventId >= b.eventId) }
    }
    if (bad > 0) failures += s"consumer: $bad streams out of seqNo/ChangeId order"
    val seen = new java.util.BitSet(appended.length)
    var twice, foreign, wrongStream = 0
    delivered.foreach { d =>
      if (d.eventId < 0 || d.eventId >= appended.length) foreign += 1
      else {
        if (seen.get(d.eventId.toInt)) twice += 1 else seen.set(d.eventId.toInt)
        if (Math.floorMod(appended(d.eventId.toInt).user_id, CdcSchema.NumStreams.toLong) != d.streamId)
          wrongStream += 1
      }
    }
    val missing = appended.length - seen.cardinality()
    if (twice > 0) failures += s"consumer: $twice changes delivered twice"
    if (foreign + wrongStream > 0)
      failures += s"consumer: $foreign unknown changes, $wrongStream on the wrong stream"
    if (missing > 0) failures += s"consumer: $missing appended changes were not delivered"

    val oracle = CdcOps.replicateLwwFromLog(CdcLogAdapter.fromEvents(appendedDf))
    val live0 = StreamingSnapshotMerge.liveView(snapshot.read())
      .select(oracle.columns.toIndexedSeq.map(col): _*)
    val live = if (corrupt) live0.filter(col("user_id") =!= live0.head().getLong(0)) else live0
    def digest(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(1000000007L))), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val (got, want) = (digest(live), digest(oracle))
    if (got != want)
      failures += s"merge: liveView (${got._1} rows) differs from replicateLwwFromLog (${want._1} rows)"
    failures.toSeq
  }
}
