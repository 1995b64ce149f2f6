package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan (and optionally run) for
  * selected queries — the `.explain` iteration loop the build plan calls
  * for. Usage: runMain graft.tools.Explain <sfDir> <query> [run]
  */
object Explain {

  /** Pre-checkpoint plan probes for queries whose registered form ends
    * in an eager localCheckpoint (their own explain shows only the
    * checkpoint's ExistingRDD scan — useless as plan evidence).
    */
  private val innerProbes: Map[String,
      (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "dedup_band_stats_inner" -> ((s, d) =>
      graft.dedup.Dedup.dedupBandStatsRows(s, d)._1))

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = if (args.length > 1) args(1).split(",").toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val doRun = args.contains("run")
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"\n===== $n =====")
      val df = innerProbes.getOrElse(n, SparkEntry.queries(n))(spark, sfDir)
      df.explain("formatted")
      if (doRun) {
        val t0 = System.nanoTime()
        val cnt = df.count()
        println(f"rows=$cnt time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }
    spark.stop()
  }
}
