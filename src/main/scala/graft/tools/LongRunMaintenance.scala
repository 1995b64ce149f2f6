package graft.tools

import graft.Tables
import graft.similarity.Similarity
import graft.store.{AnnIndex, BatchCommit, Maintenance, StoreRoot, TextIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Dev tool: the POLICY-DRIVEN maintenance layer under sustained load —
  * the end-to-end complement of `LongRunIndexAppend` (which drives one
  * store with test-choreographed folds). Here all four persisted store
  * families (pq / ivf / ivfpq / lex) take exactly-once appends every
  * iteration, periodic takedowns and periodic adversarial point-mass
  * batches, and the ONLY maintenance ever invoked is the scheduled
  * `Maintenance.run` pass — fold, split, census guard and retention
  * all fire on POLICY (tombstone present / segment census over bound /
  * cells over the skew bound / stale root), never by the harness.
  *
  * Claims under test, asserted every iteration:
  *  - SERVE IDENTITY: each store's serve collected immediately before
  *    a maintenance pass equals the serve immediately after — folds
  *    and splits are certified serve-identical individually; this
  *    drives them composed, interleaved, on policy, under load;
  *  - BOUNDED SEGMENTS: the per-store segment census (committed files
  *    per dir of the representative sub-table, the exact census the
  *    policy reads) never exceeds segmentBound + the appends landed
  *    since the last pass — growth is folded away, not accumulated;
  *  - QUIESCENCE: after the final iteration, one more pass acts (it
  *    may owe a fold/split for the last appends), then the NEXT pass
  *    is empty — the policy converges instead of looping;
  *  - RETENTION: an unstamped decoy root present from the start is
  *    reaped by the first pass and only that pass.
  *
  * Output feeds the maintenance-policy profile table in COVERAGE.md.
  */
object LongRunMaintenance {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val iters = args.lift(1).map(_.toInt).getOrElse(12)
    val segmentBound = 8
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

    val emb = Tables.embeddings(spark, dir)
    val docs = Tables.documents(spark, dir)
    val n = emb.count()
    val nd = docs.count()
    val base = java.nio.file.Files
      .createTempDirectory("longrun_maint").toString + "/stores"

    val pqRoot = s"$base/pq-longrun0001"
    val ivfRoot = s"$base/ivf-longrun0001"
    val ivfpqRoot = s"$base/ivfpq-longrun0001"
    val lexRoot = s"$base/lex-longrun0001"
    StoreRoot.ensureBuilt(spark, new Path(pqRoot))(s => AnnIndex.buildPq(emb, s))
    StoreRoot.ensureBuilt(spark, new Path(ivfRoot))(s => AnnIndex.buildIvf(emb, s))
    StoreRoot.ensureBuilt(spark, new Path(ivfpqRoot))(s => AnnIndex.buildIvfPq(emb, s))
    StoreRoot.ensureBuilt(spark, new Path(lexRoot))(s => TextIndex.build(docs, s))
    // unstamped decoy: the retention leg's prey, reaped on pass 1
    fs.mkdirs(new Path(s"$base/pq-dead0000"))

    val q = Similarity.materializeSmall(
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    def serveAll(): Map[String, Seq[org.apache.spark.sql.Row]] = Map(
      "pq" -> AnnIndex.servePqTopk(spark, pqRoot, q).collect().toSeq,
      "ivf" -> AnnIndex.serveIvfTopk(spark, ivfRoot, q).collect().toSeq,
      "ivfpq" -> AnnIndex.serveIvfPqTopk(spark, ivfpqRoot, q).collect().toSeq,
      "lex" -> TextIndex.serveBm25(spark, lexRoot).collect().toSeq)

    // the segment census the fold policy reads: committed files per
    // dir of each family's representative sub-table — taken from the
    // SAME map the policy uses, so this census cannot diverge from it
    val reps = Seq(("pq", pqRoot), ("ivf", ivfRoot),
      ("ivfpq", ivfpqRoot), ("lex", lexRoot)).map { case (fam, root) =>
      val (sub, part) = Maintenance.representative(fam)
      (fam, root, sub, part)
    }
    def census(): Map[String, Int] = reps.map { case (fam, root, sub, part) =>
      val (committed, _) = BatchCommit.committedDataFiles(spark, root, sub, part)
      fam -> (if (part)
        committed.groupBy(f => new Path(f).getParent.getName)
          .values.map(_.size).maxOption.getOrElse(0)
      else committed.size)
    }.toMap

    val hot = broadcast(emb.filter(col("vec_id") === 7L)
      .select(col("embedding").as("src_emb")))
    val stride = n + 1
    val docStride = nd + 1
    var appendsSincePass = Map("pq" -> 0, "ivf" -> 0, "ivfpq" -> 0, "lex" -> 0)
      .withDefaultValue(0)
    val actionLog = Seq.newBuilder[(Int, String, Double, Map[String, Int])]

    for (i <- 0 until iters) {
      val delta = emb.select((col("vec_id") + lit(1000000L + i * stride))
        .as("vec_id"), col("label"), col("embedding"))
      AnnIndex.appendPqBatch(delta, pqRoot, i.toLong)
      AnnIndex.appendIvfBatch(delta, ivfRoot, i.toLong)
      AnnIndex.appendIvfPqBatch(delta, ivfpqRoot, i.toLong)
      TextIndex.appendBatch(docs.withColumn("doc_id",
        col("doc_id") + lit(1000000L + i * docStride)), lexRoot, i.toLong)
      appendsSincePass = appendsSincePass.map { case (k, v) => k -> (v + 1) }
      // adversarial point mass every 4th iteration: 4n near-clones of
      // one vector, all landing in a single cell of the partitioned
      // stores — heavy enough to outrun the bound's growth (the bound
      // is 4× the UNIFORM share, which the regular appends also raise)
      // so the census guard trips and the split fires on policy
      if (i % 4 == 1) {
        val clones = (0 until 4).map(m => emb.crossJoin(hot)
          .select((col("vec_id") + lit(500000000L + (i * 4 + m) * stride))
            .as("vec_id"), col("label"),
            transform(col("src_emb"), x => x * lit(1.0f + (i * 4 + m) * 0.0001f))
              .as("embedding"))).reduce(_ unionByName _)
        AnnIndex.appendIvfBatch(clones, ivfRoot, 1000L + i)
        AnnIndex.appendIvfPqBatch(clones, ivfpqRoot, 1000L + i)
        appendsSincePass = appendsSincePass.map { case (k, v) =>
          if (k == "ivf" || k == "ivfpq") k -> (v + 1) else k -> v
        }
      }
      // takedowns every 4th iteration: the first ids of the previous
      // delta — tombstone presence is a fold trigger for the policy
      if (i % 4 == 3) {
        import spark.implicits._
        val vecIds = (0L until 10L).map(_ + 1000000L + (i - 1) * stride)
          .toDF("vec_id")
        AnnIndex.deleteVectors(spark, pqRoot, vecIds)
        AnnIndex.deleteVectors(spark, ivfRoot, vecIds)
        AnnIndex.deleteVectors(spark, ivfpqRoot, vecIds)
        TextIndex.deleteDocs(spark, lexRoot,
          (0L until 10L).map(_ + 1000000L + (i - 1) * docStride).toDF("doc_id"),
          2000L + i)
      }

      val before = serveAll()
      val t0 = System.nanoTime()
      val reports = Maintenance.run(spark, base, ttlMs = 3600000L,
        segmentBound = segmentBound)
      val passSec = (System.nanoTime() - t0) / 1e9
      val after = serveAll()
      before.keys.foreach { fam =>
        require(before(fam) == after(fam),
          s"iter $i: maintenance changed the $fam served result")
      }
      val c = census()
      c.foreach { case (fam, segs) =>
        require(segs <= segmentBound + appendsSincePass(fam) + 1,
          s"iter $i: $fam segments $segs exceed bound $segmentBound + " +
            s"${appendsSincePass(fam)} appends since last fold")
      }
      val acted = reports.map(r => s"${r.family}:${r.action}").mkString(",")
      // a fold resets that family's growth allowance
      reports.filter(_.action == "fold").foreach { r =>
        appendsSincePass = appendsSincePass.updated(r.family, 0)
      }
      if (i == 0) require(reports.exists(_.action == "retention"),
        "decoy root not reaped on the first pass")
      else require(!reports.exists(_.action == "retention"),
        s"iter $i: retention fired twice")
      actionLog += ((i, if (acted.isEmpty) "-" else acted, passSec, c))
      println(f"iter $i%2d pass=${passSec}%5.1fs actions=[$acted] segments=$c")
    }

    // quiescence: one settling pass may still owe actions for the last
    // iteration's appends; the pass after it must be EMPTY
    val settle = Maintenance.run(spark, base, ttlMs = 3600000L,
      segmentBound = segmentBound)
    val idle = Maintenance.run(spark, base, ttlMs = 3600000L,
      segmentBound = segmentBound)
    require(idle.isEmpty, s"policy did not quiesce: $idle")
    require(!fs.exists(new Path(s"$base/pq-dead0000")), "decoy survived")
    val log = actionLog.result()
    require(log.exists(_._2.contains("fold")), "no fold ever fired on policy")
    require(log.exists(_._2.contains("split")) ||
      settle.exists(_.action == "split"),
      "no split ever fired on policy — point mass too light for the bound")

    println("\n| iter | actions | pass s | pq segs | ivf segs | ivfpq segs | lex segs |")
    println("|---|---|---|---|---|---|---|")
    log.foreach { case (i, acted, sec, c) =>
      println(f"| $i | $acted | $sec%.1f | ${c("pq")} | ${c("ivf")} | ${c("ivfpq")} | ${c("lex")} |")
    }
    println(s"\nsettling pass: ${settle.map(r => s"${r.family}:${r.action}").mkString(",")}")
    println(s"final pass idle: ${idle.isEmpty}")
    val finalServe = serveAll()
    println(s"final serve rows: ${finalServe.map { case (k, v) => s"$k=${v.size}" }.mkString(" ")}")
    spark.stop()
  }
}
