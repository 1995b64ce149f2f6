package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `batch`: repeated passes over a seeded order of registered corpus and
  * analytics jobs, each run to a noop sink as `graft.Bench` does. Corpus
  * jobs are judged by time to a complete result; the four short
  * analytics jobs expose fixed per-query overhead.
  */
object BatchWorkload {

  val Families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("dedup_minhash_lsh", "dedup_band_stats", "dedup_exact_runs",
      "dedup_embedding_lsh_090", "dedup_semantic"),
    "similarity" -> Seq("emb_knn_graph_lsh", "emb_pq_topk"),
    "text" -> Seq("tx_bpe_train", "tx_boilerplate", "tx_dsir_select"),
    "analytics" -> Seq("a2_hourly_agg", "w2_moving_avg", "asof_join_purchase",
      "q5_region_revenue"))

  val Jobs: Seq[String] = Families.flatMap(_._2)
  val PassSeconds = 27.0

  def run(spark: SparkSession, t: Tracer, data: String, work: String, seed: Long,
      seconds: Double, r: Result): Double = {
    val order = new scala.util.Random(seed).shuffle(Jobs)
    val registry = graft.SparkEntry.queries
    val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val checkDir = s"$work/check"

    // one pass; `sink(name, df)` materializes the job's result
    def pass(timed: Boolean)(sink: (String, DataFrame) => Unit): Double = {
      val (_, wall) = Common.timed {
        order.foreach { name =>
          r.attempted += (if (timed) 1 else 0)
          val (ok, w) = Common.timed {
            try {
              t.span(if (timed) s"job.$name" else s"setup.job.$name")(
                sink(name, registry(name)(spark, data)))
              true
            } catch {
              case e: Exception =>
                System.err.println(s"[perfbench] job $name failed: $e")
                false
            }
          }
          if (timed) {
            if (ok) walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += w
            else r.failed += 1
          } else if (!ok) r.check(s"setup.$name", ok = false)
          graft.store.Checkpoints.free(spark)
        }
      }
      wall
    }
    def noop(name: String, df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // set-up unit, run once (it takes about half a run): a cold pass
    // (codegen, JIT) that also writes every job's result for the oracle
    // check
    val setupS = pass(timed = false) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => Jobs.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
      Json(oracle))
    r.check("oracle.present", oracle.size == Jobs.size,
      s"${Jobs.filterNot(oracle.contains)}")

    val cpu0 = Common.processCpu()
    val t0 = Common.now()
    val passes = mutable.ArrayBuffer.empty[Double]
    // a fixed number of passes per run length (a warm pass takes about
    // PassSeconds on a 4-core host)
    (1 to math.max(1, math.round(seconds / PassSeconds).toInt))
      .foreach(_ => passes += pass(timed = true)(noop))
    val elapsed = Common.now() - t0
    val cpu = Common.processCpu() - cpu0
    r.e2e("live_heap_mb") = (Common.liveHeapMb(), "MB")

    val jobWalls = walls.values.flatten.toSeq.map(_ * 1000)
    val jobsDone = jobWalls.size
    r.e2e("latency_mean_ms") = (jobWalls.sum / jobWalls.size, "ms")
    r.e2e("throughput_per_s") = (jobsDone / elapsed, "1/s")
    r.e2e("cpu_ms_per_op") = (cpu * 1000 / jobsDone, "ms")
    r.note("batch_makespan_s", Common.median(passes.toSeq), "s",
      s"median of ${passes.size} timed passes over ${Jobs.size} jobs")
    r.note("cpu_s", cpu, "s", f"process CPU over $elapsed%.1f s timed phase")
    r.note("job_wall_p50_ms", Common.median(jobWalls), "ms", s"n=$jobsDone")
    r.note("job_wall_p90_ms", Common.quantile(jobWalls, 0.9), "ms", s"n=$jobsDone")

    if (t.enabled) {
      val nPasses = passes.size.toDouble
      Jobs.foreach { name =>
        val c = t.countsWhere(_ == s"job.$name")
        val runs = nPasses
        r.layer(s"job.$name.wall_s") = (walls.get(name).map(w => Common.median(w.toSeq)).getOrElse(0.0), "s")
        r.layer(s"job.$name.tasks") = (c.tasks / runs, "count")
        r.layer(s"job.$name.shuffle_bytes") = (c.shuffleWrite / runs, "B")
        r.structure(s"job.$name.tasks") = c.tasks / runs
        r.structure(s"job.$name.stages") = c.stages / runs
        r.structure(s"job.$name.jobs") = c.jobs / runs
        r.structure(s"job.$name.shuffle_bytes") = c.shuffleWrite / runs
        r.structure(s"job.$name.rows_read") = c.inputRows / runs
      }
      Families.foreach { case (fam, names) =>
        r.layer(s"$fam.busy_s") = (names.map(n => r.layer(s"job.$n.wall_s")._1).sum, "s")
      }
    }
    setupS
  }
}
