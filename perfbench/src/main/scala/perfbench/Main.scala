package perfbench

import java.lang.management.ManagementFactory

/** One benchmark run inside one JVM:
  *
  *   perfbench.Main <workload> <dataDir> <workDir> <seed> <seconds> <trace 0|1> <out.json>
  *
  * Builds the session, runs the workload's set-up, timed phase and
  * output checks, and writes every metric, verdict and stamp to
  * `out.json`. `run.py` drives it and prints the one-line result.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, seedS, secondsS, traceS, out) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0

    val spark = Session.create(cores, work)
    val sessionS = System.currentTimeMillis() / 1000.0 - jvmStart
    val tracer = new Tracer(spark, traced)
    val codegen0 = Spark.codegenCompiles()
    val r = new Result(workload)
    val setupUnit = workload match {
      case "batch" => BatchWorkload.run(spark, tracer, data, work, seed, seconds, r)
      case "serve" => ServeWorkload.run(spark, tracer, data, work, seed, seconds, r)
      case "ingest" => IngestWorkload.run(spark, tracer, work, seed, seconds, r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    r.e2e("setup_s") = (sessionS + setupUnit, "s")
    r.note("setup_s", sessionS + setupUnit, "s",
      f"session $sessionS%.2f s + median set-up unit $setupUnit%.2f s")
    if (traced) Spark.report(r, tracer, spark, codegen0)
    tracer.close()

    val rt = Runtime.getRuntime
    val stamp = Map(
      "nproc" -> cores,
      "xmx_mb" -> rt.maxMemory / 1048576,
      "host_mem_mb" -> ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize / 1048576,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "confs" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k.startsWith("spark.shuffle.") ||
          k == "spark.master" || k == "spark.ui.enabled" || k.startsWith("spark.driver.memory")
      })
    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "correct" -> r.checks.values.forall(identity), "checks" -> r.checks,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "e2e" -> r.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layer" -> r.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "structure" -> r.structure, "notes" -> r.notes, "stamp" -> stamp,
      "self_s" -> tracer.selfSeconds,
      "spans" -> (if (traced) tracer.spansJson else Nil))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json(result))
    spark.stop()
  }
}
