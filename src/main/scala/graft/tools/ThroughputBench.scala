package graft.tools

import java.nio.file.Files

import graft.pipeline.Ingest
import graft.streaming.{JsonGateway, KafkaWire, Streams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-throughput measurement for COVERAGE.md: the reference's
  * only runtime perf surface is the sink's rows/s logged per batch
  * (timescaledb_sink.py:217-219 — no published figure, per
  * BASELINE.md). This times the SAME §3.1 chain the E2E parity spec
  * proves correct, at a size where throughput is meaningful:
  *
  *   producer leg: JSON gateway parse → ingest DAG → keyed
  *     Confluent-framed Avro → record store (N micro-batches via
  *     maxFilesPerTrigger=1 over N line files);
  *   consumer leg: record stream → frame-strip + Avro decode →
  *     transactional exactly-once sink (commitBatch), per-commit
  *     timings logged.
  *
  * Args: [nDevices nPerDevice nBatches], default 200 500 10
  * (100 000 rows, 10k-row micro-batches).
  */
object ThroughputBench {
  def main(args: Array[String]): Unit = {
    val nDevices = args.lift(0).map(_.toInt).getOrElse(200)
    val nPerDevice = args.lift(1).map(_.toInt).getOrElse(500)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val total = nDevices.toLong * nPerDevice
    val jsonDir = Files.createTempDirectory("tp_json").toString + "/lines"
    val recDir = Files.createTempDirectory("tp_records").toString + "/records"
    val ckpt1 = Files.createTempDirectory("tp_ck1").toString
    val ckpt2 = Files.createTempDirectory("tp_ck2").toString
    val outDir = Files.createTempDirectory("tp_out").toString + "/readings"
    val now = lit("2024-01-01 12:00:00").cast("timestamp_ntz")

    // one line file per intended micro-batch
    Ingest.generateRaw(spark, nDevices, nPerDevice)
      .toJSON.repartition(nBatches).write.text(jsonDir)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // ---- producer leg
    val gateway = JsonGateway.parse(
      spark.readStream.option("maxFilesPerTrigger", 1).text(jsonDir))
    val (valid, _) = Ingest.ingest(spark, gateway, now)
    val tProd = timed {
      val q = KafkaWire.writeRecordStream(KafkaWire.toKafkaRecords(valid),
        KafkaWire.Transport("parquet", topic = recDir), ckpt1)
      q.processAllAvailable(); q.stop()
    }
    // the ingest DAG fans each gateway message into 9 typed readings
    // (T1), so the wire-record count is what throughput is measured in
    val records = spark.read.parquet(recDir).count()
    println(f"producer: $total gateway msgs -> $records wire records / $nBatches batches " +
      f"in $tProd%.2f s = ${records / tProd}%.0f records/s (${total / tProd}%.0f msgs/s)")

    // ---- consumer leg (decode + transactional sink), per-commit times
    val recFiles = new java.io.File(recDir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val perTrigger = math.max(1, recFiles / nBatches)
    val commits = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val decoded = KafkaWire.fromKafkaRecords(
      spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("key",
            org.apache.spark.sql.types.BinaryType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.BinaryType))))
        .option("maxFilesPerTrigger", perTrigger)
        .parquet(recDir)).drop("key_device_id")
    val tCons = timed {
      val q = decoded.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt2)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val t = timed(Streams.commitBatch(batch, outDir, batchId,
            keys = Seq("device_id", "ts"), epoch = "tp-"))
          commits += ((batchId, t))
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    val stored = spark.read.parquet(outDir).count()
    println(f"consumer: $stored rows / ${commits.size} commits in $tCons%.2f s = ${stored / tCons}%.0f rows/s")
    commits.foreach { case (id, t) =>
      println(f"  commit batch $id: $t%.2f s (~${stored / commits.size / t}%.0f rows/s)")
    }
    println(f"end-to-end (gateway JSON -> Avro wire -> decode -> txn sink): " +
      f"${stored / (tProd + tCons)}%.0f rows/s over ${tProd + tCons}%.2f s " +
      f"(${total / (tProd + tCons)}%.0f gateway msgs/s)")

    // ---- same consumer leg in append-exactly-once mode (keyedDedup =
    // false): no per-commit read-back of the hot date partition, so
    // commit cost should stay flat through the run instead of growing
    val outDir2 = Files.createTempDirectory("tp_out_ap").toString + "/readings"
    val ckpt3 = Files.createTempDirectory("tp_ck3").toString
    commits.clear()
    val tCons2 = timed {
      val q = decoded.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt3)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val t = timed(Streams.commitBatch(batch, outDir2, batchId,
            keys = Seq("device_id", "ts"), epoch = "tp-", keyedDedup = false))
          commits += ((batchId, t))
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    val stored2 = spark.read.parquet(outDir2).count()
    println(f"consumer (append-exactly-once): $stored2 rows / ${commits.size} commits " +
      f"in $tCons2%.2f s = ${stored2 / tCons2}%.0f rows/s")
    commits.foreach { case (id, t) =>
      println(f"  commit batch $id: $t%.2f s (~${stored2 / commits.size / t}%.0f rows/s)")
    }
    spark.stop()
  }
}
