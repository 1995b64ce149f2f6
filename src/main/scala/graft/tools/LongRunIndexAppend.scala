package graft.tools

import graft.Tables
import graft.store.AnnIndex
import org.apache.spark.sql.functions._

/** Dev tool: the streaming index-append twin of `LongRunKeyedSink` —
  * drive N exactly-once PQ append batches onto one persisted index and
  * profile per-batch cost and file growth. The claims under test:
  * per-batch wall stays FLAT (each append is one assignment scan of
  * its delta — nothing rescans the accumulated corpus, and the
  * rollback listing is a single directory list), and the promoted file
  * count is exactly batches × filesPerBatch per sub-table (the
  * file-count bound added with the sink). Ends with the integrity
  * gate: every delivered vec_id coded exactly once (a replayed batch
  * mid-run exercises the marker path under load) and the index still
  * serving.
  *
  * Output feeds the index-append profile table in COVERAGE.md.
  */
object LongRunIndexAppend {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val batches = args.lift(1).map(_.toInt).getOrElse(60)
    // fold the store every N batches (0 = never): the profile that
    // certifies periodic Compaction keeps per-batch cost flat and the
    // file census bounded instead of growing with batch count
    val compactEvery = args.lift(2).map(_.toInt).getOrElse(0)
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val root = java.nio.file.Files
      .createTempDirectory("longrun_annidx").toString + "/idx"
    AnnIndex.buildPq(emb, root)

    val times = new Array[Double](batches)
    // per-batch id stride must exceed the corpus size or consecutive
    // batches' ranges overlap (double-coding ids and tripping the
    // integrity gate spuriously at sf >= 0.1)
    val stride = n + 1
    for (b <- 0 until batches) {
      val delta = emb.select((col("vec_id") + lit(1000000L + b * stride))
        .as("vec_id"), col("label"), col("embedding"))
      val t0 = System.nanoTime()
      AnnIndex.appendPqBatch(delta, root, b.toLong)
      times(b) = (System.nanoTime() - t0) / 1e9
      if (b == batches / 2) {
        // replay under load: the marker must short-circuit
        val t1 = System.nanoTime()
        AnnIndex.appendPqBatch(delta, root, b.toLong)
        println(f"replay of batch $b short-circuited in ${(System.nanoTime() - t1) / 1e9}%.3f s")
      }
      if (compactEvery > 0 && (b + 1) % compactEvery == 0) {
        val t2 = System.nanoTime()
        graft.store.Compaction.compactPqStore(spark, root)
        println(f"fold after batch $b: ${(System.nanoTime() - t2) / 1e9}%.2f s")
      }
    }

    println("| batches | mean s | min s | max s |")
    println("|---|---|---|---|")
    times.grouped(batches / 6 max 1).zipWithIndex.foreach { case (g, i) =>
      val lo = i * (batches / 6 max 1)
      println(f"| $lo%d-${lo + g.length - 1}%d | ${g.sum / g.length}%.2f | ${g.min}%.2f | ${g.max}%.2f |")
    }

    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("codes", "vnorms", "vecs8").foreach { sub =>
      val c = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$sub"))
        .count(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
      println(s"$sub files: $c (build + $batches batches)")
    }
    val ids = spark.read.parquet(s"$root/codes")
      .groupBy(col("vec_id")).agg(count(lit(1)).as("c"))
    val total = ids.count()
    val bad = ids.filter(col("c") =!= 8).count()
    val want = n * (batches + 1)
    println(s"distinct coded ids: $total (expected $want), miscoded: $bad")
    assert(total == want && bad == 0, "append integrity violated")
    val served = AnnIndex.servePqTopk(spark, root,
      graft.similarity.Similarity.materializeSmall(
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("q_emb")))).count()
    println(s"serve rows after $batches appends: $served")
    assert(served == 50)
    spark.stop()
  }
}
