package graft.tools

import java.nio.file.Files

import graft.streaming.{KeyIndex, Streams}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._


/** Long-run profile of the KEYED transactional sink
  * (`Streams.commitBatch(keyedDedup = true)`) — the `LongRunSink` twin
  * for the ON-CONFLICT-DO-NOTHING path, driving hundreds of commits
  * onto a handful of HOT date partitions with the sidecar compaction
  * (`KeyIndex.compactSegments`) wired in, plus the two failure-path
  * states the r8 machinery added, exercised mid-run under load:
  *
  *  - an INJECTED ABANDONED LINEAGE: a foreign-epoch commit crashes
  *    after promote and its checkpoint lineage never replays — the
  *    next main-lineage commit must detect the reader-visible residue
  *    (`KeyIndex.needsMigration`), fold its keys into that commit's
  *    segment via the read-back, and adopt the files under its own
  *    committed prefix;
  *  - a V1→V2 BLOOM MIGRATION: every committed bloom is rewritten with
  *    a version-1 header at the midpoint (what a sink upgraded from
  *    the pre-`keyHashCol` format sees). v1 blooms deserialize as
  *    always-mightContain, so every subsequent commit is forced onto
  *    the exact segment anti-join until compaction rewrites the
  *    partition's sidecar as version 2 — the conservative-degradation
  *    path, measured rather than assumed.
  *
  * What the run certifies, for COVERAGE.md:
  *  - per-commit wall stays FLAT: cost is O(batch) + bloom loads +
  *    (on bloom hit) a keys-only segment scan whose file population
  *    compaction keeps bounded — commit 500 costs what commit 50 did;
  *  - sidecar segment/bloom counts per hot partition stay BOUNDED
  *    (≤ maxSegments + 1 modulo the one in-flight commit);
  *  - key-dedup correctness holds along the whole run: every batch
  *    re-delivers a slice of the previous batch's keys, so the final
  *    corpus row count must equal the number of DISTINCT keys ever
  *    committed (overlap dropped), including across the injected
  *    failure states.
  *
  * Args: [nBatches maxSegments], default 500 16 (batches are synthetic
  * — the profile's subject is the commit protocol, not a corpus)
  */
object LongRunKeyedSink {
  def main(args: Array[String]): Unit = {
    val nBatches = args.lift(0).map(_.toInt).getOrElse(500)
    val maxSegments = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val outDir = Files.createTempDirectory("lrk_out").toString + "/table"
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(outDir).getFileSystem(hconf)
    val keys = Seq("user_id", "ts")

    // Batch shape: 200 events per delivery, all landing on THREE hot
    // dates (the long-lived-partition regime the sidecar exists for).
    // user_id/ts are derived from (batch, i) so each batch's keys are
    // fresh EXCEPT a 25-row slice re-delivering the previous batch's
    // keys — every commit therefore exercises bloom-hit + segment
    // anti-join, not just the all-new fast path.
    val perBatch = 200
    val overlap = 25
    def batchDf(b: Int) = {
      spark.range(perBatch.toLong)
        .select((col("id") + b.toLong * (perBatch - overlap)).as("k"))
        .select(
          (col("k") % 500L).as("user_id"),
          // three hot dates; second-granularity ts inside the day. The
          // map k -> (k%3 picks the date, k/3 the second) is injective,
          // so ts alone identifies k and (user_id, ts) never collides
          // within or across batches except in the deliberate overlap
          concat(lit("2025-06-0"), ((col("k") % 3L) + 1).cast("string")).as("d"),
          floor(col("k") / 3L).cast("long").as("secs"))
        .select(col("user_id"),
          timestamp_micros(
            unix_micros(to_timestamp(col("d"))) + col("secs") * 1000000L).as("ts"),
          lit("profile").as("event_type"),
          (col("user_id") * 1.0).as("value"))
    }

    def segFiles: Int = {
      val d = new Path(s"$outDir/_keyidx")
      if (!fs.exists(d)) 0
      else fs.listStatus(d).filter(_.isDirectory).map { p =>
        fs.listStatus(p.getPath).count(f =>
          f.isFile && f.getPath.getName.contains("keys"))
      }.sum
    }
    def bloomFiles: Int = {
      val d = new Path(s"$outDir/_keyidx")
      if (!fs.exists(d)) 0
      else fs.listStatus(d).filter(_.isDirectory).map { p =>
        fs.listStatus(p.getPath).count(f =>
          f.isFile && f.getPath.getName.endsWith("bloom.bin"))
      }.sum
    }
    def hotDates: Seq[Any] = Seq("2025-06-01", "2025-06-02", "2025-06-03")
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    println(s"long-run keyed sink: $nBatches commits x $perBatch rows " +
      s"($overlap re-delivered), 3 hot partitions, maxSegments=$maxSegments")
    val window = scala.collection.mutable.ArrayBuffer.empty[Double]
    var peakSegs = 0
    var peakBlooms = 0
    var compactions = 0
    for (b <- 0 until nBatches) {
      if (b == nBatches / 4) {
        // injected abandoned lineage: a foreign-epoch commit dies right
        // after promote; its lineage never replays, so its files sit in
        // the live tree with no committed prefix until the next main-
        // lineage commit folds + adopts them
        try Streams.commitBatch(
          batchDf(b).withColumn("user_id", col("user_id") + 10000L),
          outDir, 0, Streams.CrashAfterPromote, epoch = "zombie-")
        catch { case _: RuntimeException => () }
        println(s"  [batch $b] injected abandoned-lineage residue " +
          s"(uncovered files: ${hotDates.map(d => KeyIndex.uncoveredDataFiles(fs,
            outDir, d, KeyIndex.committedPrefixes(fs, outDir)).size).sum})")
      }
      if (b == nBatches / 2) {
        // v1→v2 bloom migration: rewrite every committed bloom with a
        // version-1 header — deserialization degrades them to always-
        // mightContain, forcing the exact anti-join until compaction
        // rewrites the sidecar as v2
        var rewritten = 0
        val d = new Path(s"$outDir/_keyidx")
        if (fs.exists(d)) fs.listStatus(d).filter(_.isDirectory).foreach { p =>
          fs.listStatus(p.getPath)
            .filter(f => f.isFile && f.getPath.getName.endsWith("bloom.bin"))
            .foreach { f =>
              val in = fs.open(f.getPath)
              val bytes = try {
                val bb = new Array[Byte](f.getLen.toInt)
                in.readFully(bb); bb
              } finally in.close()
              java.nio.ByteBuffer.wrap(bytes).putInt(0, 1) // version := 1
              val out = fs.create(f.getPath, true)
              try out.write(bytes) finally out.close()
              rewritten += 1
            }
        }
        println(s"  [batch $b] rewrote $rewritten committed blooms as v1 " +
          "(always-mightContain degradation)")
      }
      val delivery = batchDf(b)
      val t = timed {
        Streams.commitBatch(delivery, outDir, b.toLong, epoch = "main-")
        val prefixes = KeyIndex.committedPrefixes(fs, outDir)
        hotDates.foreach { dte =>
          if (KeyIndex.committedKeyFiles(fs, outDir, dte, prefixes).size > maxSegments) {
            KeyIndex.compactSegments(spark, outDir, dte, keys)
            compactions += 1
          }
        }
      }
      window += t
      peakSegs = math.max(peakSegs, segFiles)
      peakBlooms = math.max(peakBlooms, bloomFiles)
      if ((b + 1) % 50 == 0) {
        val w = window.toSeq
        println(f"  commits ${b - 49}%4d-$b%4d: mean ${w.sum / w.size}%6.2f s  " +
          f"min ${w.min}%5.2f  max ${w.max}%5.2f  segFiles=$segFiles  " +
          f"blooms=$bloomFiles  (peaks $peakSegs/$peakBlooms, $compactions compactions)")
        window.clear()
      }
    }
    // correctness along the run: distinct keys ever delivered (main
    // lineage + the adopted zombie batch) == stored rows
    val stored = spark.read.parquet(outDir)
    val storedRows = stored.count()
    val storedKeys = stored.select(col("user_id"), col("ts")).distinct().count()
    // expected: main batches 0..n-1 with the overlap slices collapsing,
    // plus the zombie batch's 200 offset keys
    val expected = nBatches.toLong * (perBatch - overlap) + overlap + perBatch
    println(f"final: rows=$storedRows distinctKeys=$storedKeys expected=$expected " +
      f"segFiles=$segFiles blooms=$bloomFiles peaks=$peakSegs/$peakBlooms " +
      f"compactions=$compactions")
    require(storedRows == storedKeys, s"duplicate keys stored: $storedRows rows vs $storedKeys keys")
    require(storedRows == expected, s"key dedup drifted: stored $storedRows, expected $expected")
    // 3 hot partitions × (maxSegments + 1 in-flight) is the bound the
    // compaction policy promises
    require(peakSegs <= 3 * (maxSegments + 1),
      s"segment bound violated: peak $peakSegs > ${3 * (maxSegments + 1)}")
    spark.stop()
  }
}
