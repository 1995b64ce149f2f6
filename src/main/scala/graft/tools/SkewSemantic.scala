package graft.tools

import graft.similarity.Similarity
import org.apache.spark.sql.functions._

/** Dev harness for the mega-cell split differential: writes the
  * skew-pathology corpus (Similarity.skewedEmbeddings) and the
  * dedup_semantic result over it as parquet, plus per-cell population
  * stats, so the DuckDB oracle mirror can be replayed over the SAME
  * corpus out-of-band (tools/check_skew_semantic.py) — the driver gate
  * corpora are balanced, so the split branch of the oracle is proved
  * equivalent here instead.
  *
  * Usage: runMain graft.tools.SkewSemantic <outDir> [n]
  */
object SkewSemantic {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/skew_semantic")
    val n = if (args.length > 1) args(1).toLong else 2048L
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = Similarity.skewedEmbeddings(spark, n)
    emb.coalesce(1).write.mode("overwrite").parquet(s"$out/embeddings")
    // re-read the written parquet so Spark computes from the exact same
    // float bits DuckDB will read
    val corpus = spark.read.parquet(s"$out/embeddings")
    val res = Similarity.dedupSemanticDf(corpus, 0.95)
    res.coalesce(1).write.mode("overwrite").parquet(s"$out/result")
    val pops = spark.read.parquet(s"$out/result")
      .groupBy(col("cell")).count().orderBy(col("count").desc)
    val rows = pops.collect()
    val bound = Similarity.splitBound(n, Similarity.semanticCells(n))
    println(s"n=$n bound=$bound cells=${rows.length}")
    println(s"maxPop=${rows.head.getLong(1)} " +
      s"sumSqPop=${rows.map(r => r.getLong(1) * r.getLong(1)).sum}")
    rows.take(12).foreach(r => println(s"  cell=${r.getLong(0)} pop=${r.getLong(1)}"))
    spark.stop()
  }
}
