package graft.tools

import java.nio.file.Files

import graft.Tables
import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Long-run profile of the incremental dedup sink loop: N deliveries
  * (default 500) through `incrementalCommit` + the size-triggered
  * auto-compaction policy (`maybeCompact(maxSegments)`), reporting
  * per-commit wall time and index segment count along the run.
  *
  * What it certifies, for COVERAGE.md:
  *  - segment count stays BOUNDED (≤ maxSegments + 1) across hundreds
  *    of deliveries — the small-files tax never accumulates;
  *  - per-commit cost stays FLAT: each delivery writes O(batch) and the
  *    signature joins read a compacted index whose file population is
  *    constant, so delivery 500 costs what delivery 50 did (the index's
  *    ROW count still grows with the corpus — that scan is the
  *    O(index) floor the signature design accepts in exchange for
  *    never re-reading stored text).
  *
  * Each delivery re-ids the base docs and prefixes EVERY token with a
  * delivery marker, so every shingle differs from every other
  * delivery's and the corpus/index genuinely grow along the run — a
  * trailing-marker variant (one token appended) leaves Jaccard ≈ 1 and
  * dedups all 500 deliveries against the first, measuring the loop
  * against a static index and flattering the curve.
  *
  * Args: [nBatches maxSegments sfDir], default 500 16 /root/testdata/sf0.001
  */
object LongRunSink {
  def main(args: Array[String]): Unit = {
    val nBatches = args.lift(0).map(_.toInt).getOrElse(500)
    val maxSegments = args.lift(1).map(_.toInt).getOrElse(16)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val outDir = Files.createTempDirectory("lr_out").toString + "/corpus"
    val indexDir = Files.createTempDirectory("lr_idx").toString + "/index"
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).persist()
    val perBatch = base.count()

    def segDirs: Int = Dedup.segmentDirCount(spark, indexDir)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    println(s"long-run sink: $nBatches deliveries x $perBatch docs, " +
      s"maxSegments=$maxSegments")
    val window = scala.collection.mutable.ArrayBuffer.empty[Double]
    var maxSegsSeen = 0
    var compactions = 0
    for (b <- 0 until nBatches) {
      val delivery = base.select(
        (col("doc_id") + lit(b.toLong * 1000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"d${b}_$$1").as("text"))
      val t = timed {
        Dedup.incrementalCommit(delivery, outDir, indexDir, b)
        if (Dedup.maybeCompact(spark, indexDir, b, maxSegments = maxSegments))
          compactions += 1
      }
      window += t
      maxSegsSeen = math.max(maxSegsSeen, segDirs)
      if ((b + 1) % 50 == 0) {
        val w = window.toSeq
        println(f"  batches ${b - 49}%4d-$b%4d: mean ${w.sum / w.size}%6.2f s  " +
          f"min ${w.min}%5.2f  max ${w.max}%5.2f  segments=$segDirs  " +
          f"(peak $maxSegsSeen, $compactions compactions)")
        window.clear()
      }
    }
    val corpus = Dedup.readSegments(spark, outDir).count()
    val indexRows = Dedup.readSegments(spark, indexDir).count()
    println(f"final: corpus=$corpus rows, index=$indexRows rows, " +
      f"segments=$segDirs (bound ${maxSegments + 1}), " +
      f"peak=$maxSegsSeen, compactions=$compactions")
    require(maxSegsSeen <= maxSegments + 1,
      s"segment bound violated: peak $maxSegsSeen > ${maxSegments + 1}")
    spark.stop()
  }
}
