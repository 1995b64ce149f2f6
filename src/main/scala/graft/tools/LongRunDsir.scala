package graft.tools

import java.nio.file.Files

import graft.Tables
import graft.analytics.TextAnalysis
import org.apache.spark.sql.functions._

/** Long-run profile of the incremental DSIR loop: N deliveries through
  * `dsirCommit` + the size-triggered counter-segment compaction,
  * reporting per-commit wall time and index segment count along the
  * run.
  *
  * What it certifies, for COVERAGE.md:
  *  - segment count stays BOUNDED (≤ maxSegments + 1) across the run —
  *    the counter index's listing cost never accumulates;
  *  - per-commit cost stays FLAT — and unlike the signature sinks, the
  *    DSIR model-so-far is ≤`buckets` ROWS no matter how many
  *    deliveries have folded into it, so there is no O(index) growth
  *    term at all: delivery 200's commit reads the same ≤1024-row model
  *    delivery 2's did. The only per-delivery work is the batch's own
  *    gram scan. That bounded-model property is the whole reason the
  *    hashed reduction scales, and this run measures it directly.
  *
  * Each delivery re-ids the base docs and prefixes every token with a
  * delivery marker (fresh vocabulary per delivery — bucket collisions
  * keep the counter rows saturated at the full `buckets` cardinality,
  * the worst case for the fold).
  *
  * Args: [nBatches maxSegments sfDir], default 200 16 /root/testdata/sf0.001
  */
object LongRunDsir {
  def main(args: Array[String]): Unit = {
    val nBatches = args.lift(0).map(_.toInt).getOrElse(200)
    val maxSegments = args.lift(1).map(_.toInt).getOrElse(16)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val outDir = Files.createTempDirectory("lrd_out").toString + "/scores"
    val indexDir = Files.createTempDirectory("lrd_idx").toString + "/index"
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text")).persist()
    // scored rows per delivery = docs with >=1 token (zero-gram docs
    // produce no score row by design — don't misread them as loss)
    val perBatch = base.filter(
      size(graft.functions.TextFunctions.tokens(col("text"))) >= 1).count()

    def segDirs: Int = graft.dedup.Dedup.segmentDirCount(spark, indexDir)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    println(s"long-run dsir: $nBatches deliveries x $perBatch docs, " +
      s"maxSegments=$maxSegments")
    val window = scala.collection.mutable.ArrayBuffer.empty[Double]
    var maxSegsSeen = 0
    var compactions = 0
    for (b <- 0 until nBatches) {
      val delivery = base.select(
        (col("doc_id") + lit(b.toLong * 1000000L)).as("doc_id"),
        col("lang"),
        regexp_replace(col("text"), "(\\S+)", s"d${b}_$$1").as("text"))
      var preCompact = 0
      val t = timed {
        TextAnalysis.dsirCommit(delivery, outDir, indexDir, b)
        // sample BETWEEN commit and fold: the bound must observe the
        // pre-compaction transient, not only the collapsed state
        preCompact = segDirs
        if (graft.dedup.Dedup.maybeCompact(spark, indexDir, b,
            maxSegments = maxSegments, dedupKeys = Seq("src", "bucket")))
          compactions += 1
      }
      window += t
      maxSegsSeen = math.max(maxSegsSeen, preCompact)
      if ((b + 1) % 25 == 0) {
        val w = window.toSeq
        println(f"  batches ${b - 24}%4d-$b%4d: mean ${w.sum / w.size}%6.2f s  " +
          f"min ${w.min}%5.2f  max ${w.max}%5.2f  segments=$segDirs  " +
          f"(peak $maxSegsSeen, $compactions compactions)")
        window.clear()
      }
    }
    val scores = spark.read.option("recursiveFileLookup", "true")
      .parquet(outDir).count()
    val indexRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(indexDir).dropDuplicates("src", "bucket")
      .groupBy(col("bucket")).count().count()
    println(f"final: scores=$scores rows, model buckets=$indexRows " +
      f"(cap 1024), segments=$segDirs (bound ${maxSegments + 1}), " +
      f"peak=$maxSegsSeen, compactions=$compactions")
    require(maxSegsSeen <= maxSegments + 1,
      s"segment bound violated: peak $maxSegsSeen > ${maxSegments + 1}")
    require(scores == nBatches * perBatch,
      s"score rows $scores != ${nBatches * perBatch} — a delivery was lost")
    spark.stop()
  }
}
