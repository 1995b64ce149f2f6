package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline.Ingest
import graft.store.Backfill
import graft.streaming.{JsonGateway, KafkaWire, Streams}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** `ingest`: the reference's own path as two streaming legs, fed by a
  * generator thread that lands gateway line files on a schedule that
  * does not slow when the sink does.
  *
  *   producer: JsonGateway → Ingest.ingest → KafkaWire.toKafkaRecords →
  *             writeRecordStream (parquet record store)
  *   consumer: readRecordStream → fromKafkaRecords → Streams.commitBatch
  *             (keyed, exactly-once)
  *
  * A preloaded backlog measures the drain rate; then an open loop at a
  * fixed offered rate (about two thirds of the drain rate on a 4-core host)
  * measures freshness: a file's due time to the return of the commit
  * that makes it queryable. One reader thread serves the hourly rollup
  * over the sink and refreshes it on a fixed cadence meanwhile.
  */
object IngestWorkload {
  val Devices = 1           // gateway messages per landing file
  val ReadingsPerMsg = 9    // Ingest fan-out of a full RuuviTag payload
  val WarmFiles = 4
  val SetupReps = 2         // set-up units per run; setup_s takes their median
  val BacklogFiles = 120
  val FilesPerTrigger = 40  // producer batch size: the backlog is 3 batches
  val OfferedFilesPerS = 10.0
  val DrainGapS = 11.0      // steady phase starts this long after the backlog lands
  val RedeliveryShare = 0.02
  val RefreshEveryS = 2.0
  val ReaderThinkS = 1.0
  // event time starts 2 minutes before midnight, so the run rolls over a
  // date partition
  val StartEpoch = 1704153480L // 2024-01-01T23:58:00Z
  val Midnight = "2024-01-02 00:00:00"
  val nowCol: Column = lit(Midnight).cast("timestamp_ntz") // the ingest clock

  final class Legs(val producer: StreamingQuery, val consumer: StreamingQuery,
      val land: String, val rec: String, val sink: String)

  def run(spark: SparkSession, t: Tracer, work: String, seed: Long, seconds: Double,
      r: Result): Double = {
    val rng = new scala.util.Random(seed)
    val steadyFiles = math.round(OfferedFilesPerS * seconds).toInt
    val nFiles = WarmFiles + BacklogFiles + steadyFiles
    val base = s"$work/ingest"
    val files = s"$base/files"
    Files.createDirectories(Paths.get(files))

    // ---- inputs: one second of event time per file, all devices, plus
    // seeded re-deliveries of earlier messages
    val raw = Ingest.generateRaw(spark, Devices, nFiles, seed, StartEpoch)
    val lines = raw.select(col("measurement_sequence").as("seq"), to_json(struct(raw.columns.map(col): _*)))
      .collect().map(x => (x.getInt(0), x.getString(1))).sortBy(_._1)
    val perFile = Array.fill(nFiles)(mutable.ArrayBuffer.empty[String])
    lines.foreach { case (seq, l) => perFile(seq) += l }
    var dupMsgs = 0
    lines.foreach { case (seq, l) =>
      if (seq < nFiles - 1 && rng.nextDouble() < RedeliveryShare) {
        perFile(math.min(nFiles - 1, seq + 1 + rng.nextInt(3))) += l
        dupMsgs += 1
      }
    }
    perFile.zipWithIndex.foreach { case (ls, i) =>
      Files.writeString(Paths.get(f"$files/f$i%05d.json"), ls.mkString("", "\n", "\n"))
    }
    val lineCounts = perFile.map(_.size)

    def land(dir: String, i: Int): Unit = {
      val tmp = Paths.get(f"$dir/.f$i%05d.json.tmp")
      Files.copy(Paths.get(f"$files/f$i%05d.json"), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Paths.get(f"$dir/f$i%05d.json"), StandardCopyOption.ATOMIC_MOVE)
    }

    val commitEnd = new ConcurrentHashMap[Long, Double]()
    def start(dir: String): Legs = {
      val (landDir, rec, sink) = (s"$dir/landing", s"$dir/records", s"$dir/sink")
      Seq(landDir, rec).foreach(d => Files.createDirectories(Paths.get(d)))
      val gateway = JsonGateway.parse(
        spark.readStream.option("maxFilesPerTrigger", FilesPerTrigger).text(landDir))
      val (valid, _) = Ingest.ingest(spark, gateway, nowCol)
      t.openDetached("records.leg")
      val q1 = KafkaWire.writeRecordStream(KafkaWire.toKafkaRecords(valid),
        KafkaWire.Transport("parquet", topic = rec), s"$dir/ck-produce")
      t.clearDetached()
      val decoded = KafkaWire.fromKafkaRecords(
        KafkaWire.readRecordStream(spark, KafkaWire.Transport("parquet", topic = rec)))
        .drop("key_device_id")
      val q2 = decoded.writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/ck-consume")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          t.span("sink.commit", id) {
            Streams.commitBatch(batch, sink, id, keys = Seq("device_id", "ts"), epoch = "pb-")
          }
          commitEnd.put(id, Common.now())
          ()
        }.start()
      new Legs(q1, q2, landDir, rec, sink)
    }
    def drain(l: Legs): Unit = { l.producer.processAllAvailable(); l.consumer.processAllAvailable() }
    def events(sink: String): DataFrame = spark.read.parquet(sink)
      .select(col("ts"), col("device_type").as("event_type"), col("value"))

    // ---- set-up unit: fresh sink, both legs started, warm-up files through
    var legs: Legs = null
    val setups = (1 to SetupReps).map { i =>
      if (legs != null) { legs.producer.stop(); legs.consumer.stop() }
      Common.timed {
        legs = t.span("setup.legs")(start(s"$base/rep$i"))
        (0 until WarmFiles).foreach(land(legs.land, _))
        t.span("setup.warm")(drain(legs))
      }._2
    }
    val rollupDir = s"$base/rollup"
    val servedUntil = java.sql.Timestamp.valueOf(Midnight)
    val closedDay = (java.time.LocalDate.parse("2024-01-01"), java.time.LocalDate.parse("2024-01-02"))
    // the dashboard's rollup, and one warm-up serve and refresh of it
    Backfill.materialize(events(legs.sink), rollupDir)
    Backfill.servedHourly(spark, events(legs.sink), rollupDir, servedUntil).collect()
    Backfill.refreshRange(spark, events(legs.sink), rollupDir, closedDay._1, closedDay._2)

    // ---- progress of both legs, for the lag and batch-overhead layers
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Long, Long, Long)]()
    val progressListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val leg = if (p.id == legs.producer.id) "producer" else "consumer"
          val d = p.durationMs.asScala
          progress.add((leg, Common.now(), p.numInputRows,
            d.get("triggerExecution").map(_.longValue).getOrElse(0L),
            d.get("addBatch").map(_.longValue).getOrElse(0L)))
        }
      }
    }
    if (t.enabled) spark.streams.addListener(progressListener)

    // ---- timed phase
    val due = Array.fill(nFiles)(Double.NaN)
    val landed = Array.fill(nFiles)(Double.NaN)
    val dashboard = mutable.ArrayBuffer.empty[Double]
    val refreshes = mutable.ArrayBuffer.empty[Double]
    @volatile var stopReader = false
    @volatile var readerFailed = 0
    val cpu0 = Common.processCpu()
    val t0 = Common.now()
    val firstSteady = WarmFiles + BacklogFiles
    (WarmFiles until nFiles).foreach { i =>
      due(i) = if (i < firstSteady) t0 else t0 + DrainGapS + (i - firstSteady) / OfferedFilesPerS
    }
    val generator = new Thread(() => {
      (WarmFiles until nFiles).foreach { i =>
        val wait = due(i) - Common.now()
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        t.span("gen.land", i)(land(legs.land, i))
        landed(i) = Common.now()
      }
    }, "perfbench-generator")
    // the dashboard reads while the steady phase runs, so the drain
    // measures the sink alone
    val reader = new Thread(() => {
      Thread.sleep((DrainGapS * 1000).toLong)
      var nextRefresh = t0 + DrainGapS + RefreshEveryS
      while (!stopReader) {
        try {
          val (_, w) = Common.timed(t.span("rollup.serve")(
            Backfill.servedHourly(spark, events(legs.sink), rollupDir, servedUntil).collect()))
          dashboard.synchronized(dashboard += w * 1000)
          if (Common.now() >= nextRefresh) {
            val (_, rw) = Common.timed(t.span("rollup.refresh")(Backfill.refreshRange(spark,
              events(legs.sink), rollupDir, closedDay._1, closedDay._2)))
            refreshes.synchronized(refreshes += rw)
            nextRefresh += RefreshEveryS
          }
        } catch {
          case e: Exception =>
            readerFailed += 1
            System.err.println(s"[perfbench] dashboard read failed: $e")
        }
        Thread.sleep((ReaderThinkS * 1000).toLong)
      }
    }, "perfbench-dashboard")
    generator.start()
    reader.start()
    generator.join()
    // all files landed: wait until the consumer has committed them
    drain(legs)
    stopReader = true
    reader.join()
    val elapsed = Common.now() - t0
    val cpu = Common.processCpu() - cpu0
    if (t.enabled) spark.streams.removeListener(progressListener)
    legs.producer.stop()
    legs.consumer.stop()
    r.e2e("live_heap_mb") = (Common.liveHeapMb(), "MB")

    // ---- freshness: file → commit that holds it, from the sink's file
    // prefixes (`pb-batch<N>-`); one second of event time per file
    val stored = spark.read.parquet(legs.sink)
    val fileCommit = stored
      .select(((unix_timestamp(col("ts").cast("timestamp")) - lit(StartEpoch))).as("file"),
        regexp_extract(input_file_name(), "pb-batch(\\d+)-", 1).cast("long").as("batch"))
      .groupBy("file").agg(max("batch").as("batch"))
      .collect().map(x => x.getLong(0).toInt -> x.getLong(1)).toMap
    val fresh = (firstSteady until nFiles).flatMap(i =>
      fileCommit.get(i).flatMap(b => Option(commitEnd.get(b))).map(_.toDouble - due(i)))
    val backlogDone = (WarmFiles until firstSteady).flatMap(i =>
      fileCommit.get(i).flatMap(b => Option(commitEnd.get(b))).map(_.toDouble)).maxOption
      .getOrElse(Double.NaN)
    val backlogRows = BacklogFiles.toLong * Devices * ReadingsPerMsg
    val drainRate = backlogRows / (backlogDone - t0)
    val freshMs = fresh.map(_ * 1000)
    r.attempted += (nFiles - WarmFiles) + dashboard.size + refreshes.size + readerFailed
    r.failed += (steadyFiles - fresh.size) + readerFailed
    r.check("ingest.every_file_committed", fresh.size == steadyFiles,
      s"${fresh.size} of $steadyFiles steady files traced to a commit")
    r.e2e("latency_mean_ms") = (freshMs.sum / freshMs.size, "ms")
    r.e2e("throughput_per_s") = (drainRate, "1/s")
    r.e2e("cpu_ms_per_op") = (cpu * 1000 / (nFiles - WarmFiles), "ms")
    r.note("ingest_rows_per_s", drainRate, "rows/s",
      f"$backlogRows backlog readings drained in ${backlogDone - t0}%.2f s")
    r.note("freshness_p50_s", Common.median(fresh), "s", s"n=${fresh.size} steady files")
    r.note("freshness_p90_s", Common.quantile(fresh, 0.9), "s",
      s"n=${fresh.size}; offered $OfferedFilesPerS files/s = ${OfferedFilesPerS * Devices * ReadingsPerMsg} readings/s")
    r.note("dashboard_p50_ms", Common.median(dashboard.toSeq), "ms", s"n=${dashboard.size} servedHourly reads")
    r.note("cpu_s", cpu, "s", f"process CPU over $elapsed%.1f s timed phase")
    val storedRows = stored.count()
    val sinkBytes = Common.dirBytes(new java.io.File(legs.sink))
    r.note("disk_bytes_per_row", sinkBytes.toDouble / storedRows, "B",
      s"sink tree incl. _keyidx and markers over $storedRows rows")

    // ---- output checks, outside the timed phase
    def norm(df: DataFrame): DataFrame = df.select(
      col("device_id"), col("device_type"), col("ts"), col("value"),
      col("unit"), col("location"), col("battery_level"), col("signal_strength"),
      coalesce(col("is_anomaly"), lit(false)).as("is_anomaly"),
      col("status"), array_join(col("tags"), ",").as("tags"),
      to_json(array_sort(map_entries(
        map_filter(col("device_metadata"), (_, v) => v.isNotNull)))).as("device_metadata"))
    // both sides are a few thousand rows: compare them on the driver
    def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).sorted.toSeq
    val (expected, invalid) = Ingest.ingest(spark, raw, nowCol)
    val storedRowsN = rowsOf(norm(stored.drop("event_date")))
    val expectedRowsN = rowsOf(norm(expected))
    r.check("ingest.stored_equals_batch_ingest",
      storedRowsN.nonEmpty && storedRowsN == expectedRowsN && invalid.isEmpty)
    val planted = (storedRowsN.tail :+ storedRowsN.head.replaceFirst("\\|", "|x")).sorted
    r.check("selftest.ingest_plant", planted != expectedRowsN)
    val delivered = spark.read.parquet(legs.rec).count()
    val dupRows = delivered - storedRows
    r.check("ingest.dups_dropped_equal_injected", dupRows == dupMsgs.toLong * ReadingsPerMsg,
      s"dropped $dupRows, injected ${dupMsgs * ReadingsPerMsg}")
    // the served dashboard after a final refresh equals the rollup over the sink
    Backfill.refreshRange(spark, events(legs.sink), rollupDir, closedDay._1, closedDay._2)
    r.check("ingest.served_rollup_equals_direct",
      rowsOf(Backfill.servedHourly(spark, events(legs.sink), rollupDir, servedUntil)) ==
        rowsOf(Streams.hourlyRollup(events(legs.sink))))

    if (t.enabled) {
      val lag = (WarmFiles until nFiles).map(i => (landed(i) - due(i)) * 1000)
      r.layer("gen.lag_p90_ms") = (Common.quantile(lag, 0.9), "ms")
      r.layer("gen.files") = ((nFiles - WarmFiles).toDouble, "count")
      r.layer("gen.dup_rows") = (dupMsgs.toDouble * ReadingsPerMsg, "count")
      layers(spark, t, r, legs, progress.asScala.toSeq, lineCounts, due, landed, commitEnd,
        storedRows, dupRows, dashboard.size, refreshes.toSeq, files, nFiles)
    }
    Common.median(setups)
  }

  /** Per-layer metrics of a traced run. */
  private def layers(spark: SparkSession, t: Tracer, r: Result, legs: Legs,
      progress: Seq[(String, Double, Long, Long, Long)], lineCounts: Array[Int],
      due: Array[Double], landed: Array[Double], commitEnd: ConcurrentHashMap[Long, Double],
      storedRows: Long, dupRows: Long, dashboardReads: Int, refreshes: Seq[Double],
      files: String, nFiles: Int): Unit = {
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Common.median(xs)
    val prod = progress.filter(_._1 == "producer")
    val cons = progress.filter(_._1 == "consumer")
    r.layer("records.batch_s_p50") = (p50(prod.map(_._4 / 1e3)), "s")
    r.layer("records.batch_overhead_s_p50") = (p50(prod.map(p => (p._4 - p._5) / 1e3)), "s")
    // files landed but not yet read by the producer, at each producer batch
    val landedOrder = (WarmFiles until nFiles).sortBy(landed(_))
    val cumLines = landedOrder.scanLeft(0L)((acc, i) => acc + lineCounts(i)).tail
    var readLines = 0L
    val steadyStart = due(WarmFiles + BacklogFiles)
    val fileLag = prod.sortBy(_._2).map { p =>
      readLines += p._3
      val landedNow = landedOrder.count(i => landed(i) <= p._2)
      (p._2, landedNow - cumLines.count(_ <= readLines))
    }.collect { case (at, lag) if at >= steadyStart => lag }
    r.layer("records.lag_files_max") = (fileLag.maxOption.getOrElse(0).toDouble, "count")
    // producer batches finished but not yet consumed, at each commit
    val prodSorted = prod.sortBy(_._2)
    val cumRecords = prodSorted.scanLeft(0L)((a, p) => a + p._3 * ReadingsPerMsg).tail
    var consumed = 0L
    val batchLag = cons.sortBy(_._2).map { c =>
      consumed += c._3
      (c._2, prodSorted.count(_._2 <= c._2) - cumRecords.count(_ <= consumed))
    }.collect { case (at, lag) if at >= steadyStart => lag }
    r.layer("sink.lag_batches_max") = (batchLag.maxOption.getOrElse(0).toDouble, "count")
    r.layer("sink.batch_overhead_s_p50") = (p50(cons.map(c => (c._4 - c._5) / 1e3)), "s")

    val commits = t.spans.filter(_.name == "sink.commit")
    val commitS = commits.map(s => s.end - s.start)
    val cc = t.countsWhere(_ == "sink.commit")
    val nCommits = commits.size.max(1).toDouble
    r.layer("sink.commit_s_p50") = (p50(commitS), "s")
    r.layer("sink.commit_s_p90") = (if (commitS.isEmpty) 0.0 else Common.quantile(commitS, 0.9), "s")
    r.layer("sink.commits") = (commits.size.toDouble, "count")
    r.layer("sink.rows_stored") = (storedRows.toDouble, "count")
    r.layer("sink.dup_rows_dropped") = (dupRows.toDouble, "count")
    r.layer("sink.tasks_per_commit") = (cc.tasks / nCommits, "count")
    r.layer("sink.shuffle_bytes_per_commit") = (cc.shuffleWrite / nCommits, "B")
    val partitions = Option(new java.io.File(legs.sink).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
    r.layer("sink.files_per_partition_max") =
      (partitions.map(p => Common.dataFiles(p).size).maxOption.getOrElse(0).toDouble, "count")
    r.layer("sink.keyidx_bytes") = (Common.dirBytes(new java.io.File(s"${legs.sink}/_keyidx")).toDouble, "B")
    r.layer("sink.disk_bytes_per_row") =
      (Common.dirBytes(new java.io.File(legs.sink)).toDouble / storedRows.max(1), "B")

    val serveC = t.countsWhere(_ == "rollup.serve")
    r.layer("rollup.refresh_s_p50") = (p50(refreshes), "s")
    r.layer("rollup.serve_tasks") = (serveC.tasks.toDouble / dashboardReads.max(1), "count")

    // gateway, ingest and serde run fused in one narrow stage: attribute
    // self time by timing prefixes of the chain to a noop sink on the
    // same batch (the backlog files), median of three runs each
    val backlog = (WarmFiles until WarmFiles + BacklogFiles).map(i => f"$files/f$i%05d.json")
    val text = spark.read.text(backlog: _*).persist()
    text.count()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timeIt(name: String, df: => DataFrame): Double =
      Common.median((1 to 3).map(_ => Common.timed(t.span(s"probe.$name")(noop(df)))._2))
    val gw = JsonGateway.parse(text)
    val (valid, invalid) = Ingest.ingest(spark, gw, nowCol)
    val recs = KafkaWire.toKafkaRecords(valid)
    val probeRec = s"${legs.rec}-probe"
    recs.write.parquet(probeRec)
    val stored = spark.read.parquet(probeRec)
    val tText = timeIt("text", text)
    val tGw = timeIt("gateway", gw)
    val tIngest = timeIt("ingest", valid)
    val tEncode = timeIt("encode", recs)
    val tRead = timeIt("records_read", stored)
    val tDecode = timeIt("decode", KafkaWire.fromKafkaRecords(stored))
    r.layer("gateway.self_s") = (tGw - tText, "s")
    r.layer("gateway.rows") = (gw.count().toDouble, "count")
    r.layer("ingest.self_s") = (tIngest - tGw, "s")
    r.layer("ingest.rows_out") = (valid.count().toDouble, "count")
    r.layer("ingest.invalid_rows") = (invalid.count().toDouble, "count")
    r.layer("ingest.anomaly_rows") = (valid.filter(col("is_anomaly")).count().toDouble, "count")
    r.layer("serde.encode_self_s") = (tEncode - tIngest, "s")
    r.layer("serde.decode_self_s") = (tDecode - tRead, "s")
    r.layer("serde.bytes_per_record") =
      (recs.agg(avg(length(col("value")))).head().getDouble(0), "B")
    text.unpersist()
    Seq("gateway", "ingest", "encode", "decode").foreach { n =>
      val c = t.countsWhere(_ == s"probe.$n")
      r.structure(s"ingest.$n.jobs") = c.jobs / 3.0
      r.structure(s"ingest.$n.stages") = c.stages / 3.0
      r.structure(s"ingest.$n.tasks") = c.tasks / 3.0
      r.structure(s"ingest.$n.rows_read") = c.inputRows / 3.0
    }
    // one keyed commit of a fixed batch into a fresh sink: the sink's
    // structural record
    val probeSink = s"${legs.sink}-probe"
    t.span("probe.commit")(Streams.commitBatch(KafkaWire.fromKafkaRecords(
      stored).drop("key_device_id"), probeSink, 0L, keys = Seq("device_id", "ts"), epoch = "pb-"))
    val pc = t.countsWhere(_ == "probe.commit")
    r.structure("sink.commit.jobs") = pc.jobs.toDouble
    r.structure("sink.commit.stages") = pc.stages.toDouble
    r.structure("sink.commit.tasks") = pc.tasks.toDouble
    r.structure("sink.commit.shuffle_bytes") = pc.shuffleWrite.toDouble
  }
}
