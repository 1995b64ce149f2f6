package graft.tools

import graft.Tables
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the incremental-dedup claim: deduping ONE new delivery
  * against an existing signature index vs re-running the full batch
  * detector over the whole corpus. The ratio is the point — per-delivery
  * cost must track the delivery, not the corpus. Measures BOTH the
  * in-memory step and the DURABLE sink commit (`incrementalCommit`:
  * read segment index → dedup → write survivor + delta segments), and
  * prints the delivery's index-delta row count — O(batch) by
  * construction, never O(corpus).
  * Usage: runMain graft.tools.ProfileIncremental [sfDir] [factor]
  */
object ProfileIncremental {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[incr] $label%-36s $s%8.2fs")
      s
    }
    val factor = args.lift(1).map(_.toInt).getOrElse(4)
    // scale the corpus by replication with per-copy token suffixes (no
    // cross-copy shingle overlap, so replicas are NOT near-dups): the
    // DELIVERY stays one copy while the accumulated corpus grows with
    // `factor` — exactly the claim under test
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def copy(k: Int) = base.select(
      (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
      regexp_replace(col("text"), "(\\S+)", s"$$1c$k").as("text"))
    val historic = (0 until factor - 1).map(copy).reduce(_ unionByName _)
    val delivery = copy(factor - 1)
    println(s"[incr] factor=$factor historic=${historic.count()} " +
      s"delivery=${delivery.count()}")
    val docs = historic.unionByName(delivery)

    // warm-up: JIT + parquet footers
    noop(Dedup.dedupMinhashLshDf(docs.limit(500)))

    // one-time index build over the accumulated corpus (amortized),
    // persisted in the sink's own append-only segment layout
    val root = java.nio.file.Files.createTempDirectory("incr_profile").toString
    val (outDir, idxDir) = (s"$root/out", s"$root/idx")
    time("index build over historic (once)") {
      val (_, delta) = Dedup.incrementalStepDelta(historic, Dedup.emptyIndex(spark))
      delta.write.mode("overwrite").parquet(s"$idxDir/seg_0")
    }
    val idx = Dedup.readIndex(spark, idxDir)

    val tIncr = time("incremental step: ONE delivery") {
      val (surv, _) = Dedup.incrementalStepDelta(delivery, idx)
      noop(surv)
    }
    // the DURABLE path: segment-index read + dedup + survivor segment
    // write + O(batch) delta segment write — the whole sink commit
    val tSink = time("durable sink commit: ONE delivery") {
      Dedup.incrementalCommit(delivery, outDir, idxDir, 1L)
    }
    val segRows = spark.read.parquet(s"$idxDir/seg_1").count()
    println(s"[incr] delivery index-delta rows = $segRows " +
      s"(= 8 band rows x delivery survivors, independent of corpus size)")
    val tFull = time("full batch re-dedup of corpus") {
      noop(Dedup.dedupMinhashLshDf(docs))
    }
    println(f"[incr] per-delivery speedup vs full: step ${tFull / tIncr}%.1fx, " +
      f"sink ${tFull / tSink}%.1fx")
    spark.stop()
  }
}
