package graft.tools

import graft.Tables
import graft.store.{Compaction, TextIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Dev tool: the lexical twin of `LongRunIndexAppend`'s file-fed proof —
  * TextIndex appends driven through a REAL checkpointed streaming query
  * (file source, one micro-batch per delta file) for N batches, with
  * periodic `compactLexStore` folds serialized inside the sink, a
  * mid-run stop/restart that must resume from the checkpoint without
  * re-delivering, and three claims asserted:
  *
  *  - FOLD IDENTITY: the BM25 serve collected immediately before each
  *    fold equals the serve immediately after it;
  *  - FLAT SEGMENTS: df/stats (and postings/dl) committed segment
  *    counts stay bounded by the fold cadence instead of growing with
  *    batch count — the additive-delta design's whole point;
  *  - ADDITIVE EXACTNESS AT DEPTH: after all N appends, the serve
  *    equals a ONE-SHOT build over base ∪ all deltas, bit-for-bit —
  *    the contract `lex_bm25_append_serve` certifies at depth 1,
  *    here at depth N with folds interleaved.
  *
  * Output feeds the lexical streaming-append profile in COVERAGE.md.
  */
object LongRunLexAppend {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val batches = args.lift(1).map(_.toInt).getOrElse(60)
    val foldEvery = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, dir)
    val nd = docs.count()
    val stride = nd + 1
    val tmp = java.nio.file.Files.createTempDirectory("longrun_lex").toString
    val root = s"$tmp/idx"
    val deltaDir = s"$tmp/deltas"
    val ckpt = s"$tmp/ckpt"
    TextIndex.build(docs, root)

    // one parquet FILE per delta => with maxFilesPerTrigger=1, one
    // micro-batch per delta, ids assigned by the checkpoint log
    (0 until batches).foreach { b =>
      docs.withColumn("doc_id", col("doc_id") + lit((b + 1) * stride))
        .coalesce(1).write.mode("append").parquet(deltaDir)
    }

    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def segs(): Map[String, Int] =
      Seq("postings", "df", "dl", "stats").map { sub =>
        sub -> fs.listStatus(new Path(s"$root/$sub"))
          .count(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
      }.toMap
    def serve(): Seq[org.apache.spark.sql.Row] =
      TextIndex.serveBm25(spark, root).collect().toSeq

    // mutated on the streaming micro-batch thread, polled from main —
    // all access through `lock` (Thread.sleep alone establishes no
    // happens-before edge)
    val lock = new Object
    val times = mutable.ArrayBuffer.empty[Double]
    val segLog = mutable.ArrayBuffer.empty[(Long, Map[String, Int], String)]
    var folds = 0
    def delivered(): Int = lock.synchronized(times.size)
    def sink(b: DataFrame, id: Long): Unit = {
      val t0 = System.nanoTime()
      TextIndex.appendBatch(b, root, id)
      var note = "append"
      if ((id + 1) % foldEvery == 0) {
        // fold on cadence, SERIALIZED with the appends (single-writer
        // contract) — and serve-identical by assertion, every time
        val before = serve()
        Compaction.compactLexStore(spark, root)
        require(serve() == before, s"fold after batch $id changed the serve")
        note = "append+fold"
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val sg = segs()
      lock.synchronized {
        if (note == "append+fold") folds += 1
        times += dt
        segLog += ((id, sg, note))
      }
    }

    // startAppendSink's exact shape (checkpointed foreachBatch), with
    // the fold cadence and per-batch bookkeeping wrapped around the
    // same appendBatch call
    def startQuery() =
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(deltaDir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch((b: DataFrame, id: Long) => sink(b, id))
        .start()

    // first leg: roughly half the batches, then a hard stop — the
    // restart must resume from the checkpoint, not re-deliver
    val q1 = startQuery()
    while (delivered() < batches / 2) {
      if (!q1.isActive)
        // surface the sink's failure (e.g. a fold-identity require)
        // instead of polling forever on a dead query
        throw new IllegalStateException(
          s"first leg died after ${delivered()} micro-batches",
          q1.exception.orNull)
      Thread.sleep(200)
    }
    q1.stop()
    val deliveredAtStop = delivered()
    require(deliveredAtStop < batches,
      s"first leg drained all $batches batches — the restart leg would be vacuous")
    println(s"stopped after $deliveredAtStop micro-batches; restarting from checkpoint")
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val (nDelivered, ids) = lock.synchronized((times.size, segLog.map(_._1).toVector))
    require(nDelivered >= batches,
      s"only $nDelivered of $batches micro-batches delivered")
    // resume actually RESUMED: every batch id delivered exactly once
    // (re-delivery from a failed checkpoint would pass a >=-only bound
    // — appendBatch's markers keep the serve right either way, so the
    // id census is the only witness), with at most the one in-flight
    // micro-batch of the stop replayed
    require(ids.distinct.size == batches,
      s"${ids.distinct.size} distinct batch ids, expected $batches")
    require(nDelivered <= batches + 1,
      s"$nDelivered deliveries for $batches ids — checkpoint resume re-delivered")

    // flat segments: between folds each sub-table grows by 1 file per
    // batch; a fold resets it — so the census never exceeds the cadence
    val maxSegs = segLog.map(_._2.values.max).max
    require(maxSegs <= foldEvery + 2,
      s"segment census hit $maxSegs — growth not folded away (cadence $foldEvery)")

    // additive exactness at depth: one-shot reference over everything
    val refRoot = s"$tmp/ref"
    val all = (0 until batches).map(b =>
      docs.withColumn("doc_id", col("doc_id") + lit((b + 1) * stride)))
      .foldLeft(docs)(_ unionByName _)
    TextIndex.build(all, refRoot)
    val incr = serve()
    val ref = TextIndex.serveBm25(spark, refRoot).collect().toSeq
    require(incr == ref, "incremental serve diverged from one-shot build")

    println(s"\nbatches=$batches folds=$folds resume_at=$deliveredAtStop")
    println("| batch window | mean s | min s | max s |")
    println("|---|---|---|---|")
    times.grouped(batches / 6 max 1).zipWithIndex.foreach { case (g, i) =>
      val lo = i * (batches / 6 max 1)
      println(f"| $lo-${lo + g.length - 1} | ${g.sum / g.length}%.2f | ${g.min}%.2f | ${g.max}%.2f |")
    }
    println(s"max segment census over run: $maxSegs (fold cadence $foldEvery)")
    println(s"final segments: ${segs()}")
    println(s"serve == one-shot reference over ${all.count()} docs: true")
    spark.stop()
  }
}
