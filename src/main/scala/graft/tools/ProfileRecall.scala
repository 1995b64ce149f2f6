package graft.tools

import graft.Tables
import graft.similarity.{Similarity, TopKByCos}
import graft.store.AnnIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Dev tool: the IVFPQ OPERATING CURVE — mean recall@5 and serve wall
  * time as nprobe sweeps 1..8, against the full-ADC PQ serve as the
  * no-routing reference, plus the two-tier cut × nprobe frontier behind
  * the rescored serves' cut=64 default. This is the measured version of
  * the dial the registered `emb_ivfpq_recall` audit prices at a single
  * point: a production deployment picks nprobe by exactly this curve
  * (recall rises toward the PQ ceiling as probes widen; serve cost
  * rises ~linearly in probed-cell mass).
  *
  * TWO GEOMETRIES (r11 verdict ask #3): the driver's synthetic
  * embeddings are near-uniform on the sphere — PQ's worst case (every
  * neighbor cosine crowds the same narrow band, so subquantizer cells
  * can't separate true neighbors from the bulk) — which makes the
  * uniform sweep a LOWER bound, not the operating geometry. ANN exists
  * for clustered data, so the sweep also runs over the planted-cluster
  * corpus (`Similarity.augmentedEmbeddings` — the `dedup_embedding_090`
  * showcase shape: every base vector gains five perturbed copies at
  * cos ≥ 0.95, 6× the corpus), where each panel query's true top-5 IS
  * its planted clique. Defaults are justified on the clustered
  * geometry; the uniform panel is kept as the adversarial floor.
  *
  * Panel: the first 100 vectors (10× the registered audit's panel) so
  * the means carry some statistical weight. Output feeds the
  * recall-curve tables in COVERAGE.md.
  */
object ProfileRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Tables.embeddings(spark, dir)
    sweep(spark, "uniform (driver embeddings)", base)
    sweep(spark, "clustered (planted 6-cliques, augmentedEmbeddings)",
      Similarity.augmentedEmbeddings(base))
    spark.stop()
  }

  private def sweep(spark: SparkSession, label: String,
      embIn: DataFrame): Unit = {
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // materialized once: the augmented corpus recomputes its perturbed
    // branches per scan otherwise, and the exact panel below crosses it.
    // The label column seeds the deterministic Lloyd rounds
    // (kmeansCellsAt / pqEncodeAt's code0 = label % 16); the augmented
    // corpus carries none, so derive one: pmod(vec_id, 16) — the plant
    // offsets are multiples of 16, so every planted copy inherits its
    // base vector's residue and the clique co-seeds, the same
    // train-time behavior real labels give the uniform corpus.
    val withLabel =
      if (embIn.columns.contains("label")) embIn
      else embIn.withColumn("label",
        pmod(col("vec_id"), lit(16L)).cast("int"))
    val emb = withLabel.localCheckpoint(true)
    val n = emb.count()
    val panel = Similarity.materializeSmall(
      emb.filter(col("vec_id") < 100)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))

    println(s"\n== geometry: $label ==")

    // exact top-5 for the panel (the recall denominator), once
    val topk = udaf(new TopKByCos(5))
    val exact = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .repartition(32)
      .crossJoin(broadcast(panel))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.cosine(col("q_emb"), col("embedding")), 6).as("cos"))
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("cos")).as("nbrs"))
      .select(col("query_id"), explode(col("nbrs")).as("nbr"))
      .select(col("query_id"), col("nbr.neighbor_id").as("neighbor_id"))
      .cache()
    exact.count()

    def meanRecall(served: DataFrame): Double = {
      val hits = exact
        .join(served.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
      val m = exact.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .agg(avg(coalesce(col("h"), lit(0L)).cast(LongType) / lit(5.0)))
        .head.getDouble(0)
      math.rint(m * 1000) / 1000
    }

    val pqRoot = java.nio.file.Files
      .createTempDirectory("profrecall_pq").toString + "/idx"
    val ivfpqRoot = java.nio.file.Files
      .createTempDirectory("profrecall_ivfpq").toString + "/idx"
    val tBuildPq = timed(AnnIndex.buildPq(emb, pqRoot))
    val tBuildIvfPq = timed(AnnIndex.buildIvfPq(emb, ivfpqRoot))
    println(f"n=$n  build: pq=$tBuildPq%.1f s  ivfpq=$tBuildIvfPq%.1f s")

    // no-routing reference: the full-ADC PQ serve (= the recall ceiling
    // any nprobe sweep converges to)
    val pqServe = AnnIndex.servePqTopk(spark, pqRoot, panel)
    val tPq = Seq.fill(3)(timed(noop(pqServe))).min
    println(f"pq-adc   (all cells)  recall@5=${meanRecall(pqServe)}%.3f  t=$tPq%6.2f s")

    for (nprobe <- Seq(1, 2, 4, 8)) {
      val served = AnnIndex.serveIvfPqTopk(spark, ivfpqRoot, panel,
        k = 5, nprobe = nprobe)
      val t = Seq.fill(3)(timed(noop(served))).min
      println(f"ivfpq    nprobe=$nprobe%-2d    recall@5=${meanRecall(served)}%.3f  t=$t%6.2f s")
    }

    // TWO-TIER FRONTIER — the measured dial behind the rescored serves'
    // candidate-cut defaults (cut=64): sweep the ADC cut for the flat
    // PQ+SQ8 twin and cut × nprobe for the composed IVFPQ+SQ8 serve.
    // The operating question is where the frontier flattens: past that
    // cut, more rescored candidates buy no recall (the ADC ranking's
    // true positives are already inside the cut) and only add rescore
    // rows; below it, the SQ8 tier re-ranks a candidate set that never
    // contained the true neighbors.
    println("\n| serve | nprobe | cut | recall@5 | min s |")
    println("|---|---|---|---|---|")
    for (cut <- Seq(8, 16, 32, 64, 128)) {
      val served = AnnIndex.servePqTopkSq8(spark, pqRoot, panel,
        k = 5, cut = cut)
      val t = Seq.fill(3)(timed(noop(served))).min
      println(f"| pq+sq8 | - | $cut | ${meanRecall(served)}%.3f | $t%.2f |")
    }
    for (nprobe <- Seq(1, 2, 4); cut <- Seq(8, 16, 32, 64, 128)) {
      val served = AnnIndex.serveIvfPqTopkSq8(spark, ivfpqRoot, panel,
        k = 5, cut = cut, nprobe = nprobe)
      val t = Seq.fill(3)(timed(noop(served))).min
      println(f"| ivfpq+sq8 | $nprobe | $cut | ${meanRecall(served)}%.3f | $t%.2f |")
    }
    exact.unpersist()
  }
}
