package graft.tools

import graft.Tables
import graft.similarity.{LshParams, Similarity}

/** Dev tool: LSH-vs-exact timing at multiple corpus sizes, so the
  * derive curve's scaling claim rests on measured points instead of an
  * argument. Corpus size is scaled by planting k perturbed copies per
  * base vector (factors spread over [0.2, 0.3], the same family the
  * registered showcase uses); threshold 0.9.
  *
  * Output feeds the scale-curve table in COVERAGE.md.
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // optional section filter: "minhash" | "chunks" | "embedding" |
    // "repetition" | "semantic" | "winnow" | "selection" | "hybrid" |
    // "exactruns" | "dsir"; no filter runs all sections
    val only = args.lift(1)
    def section(name: String): Boolean = only.forall(_ == name)
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val base = Tables.embeddings(spark, dir)
    // copy-id offsets for the copy-planting sections — collision guard
    // (review r12/r13: a fixed 1e6 silently merged copies with base
    // rows once ids reached 1e6). One shared helper (review r14):
    // lazy, so a section that doesn't plant copies never pays the
    // eager max() action, and null-guarded for an EMPTY table (max of
    // zero rows is a null; getLong would NPE) with getAs[Number]
    // tolerating an INTEGER id column.
    def maxIdOffset(df: org.apache.spark.sql.DataFrame,
        idCol: String): Long = math.max(1000000L, 1L + {
      val m = df.agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col(idCol))).first()
      if (m.isNullAt(0)) 0L else m.getAs[Number](0).longValue()
    })
    lazy val embOffset = maxIdOffset(base, "vec_id")
    // warm-up: codegen, parquet footers
    if (section("embedding")) noop(Similarity.dedupEmbeddingDf(base, 0.9))

    // MinHash+LSH at two doc-corpus sizes: k near-identical copies per
    // document (distinct ids, a marker token appended so texts differ);
    // the banded bucket join should scale near-linearly in n while the
    // planted copy groups keep the verify stage honest.
    val baseDocs = Tables.documents(spark, dir)
    import org.apache.spark.sql.functions._
    // copy-id offset derived from the corpus itself: a fixed 1e6 would
    // silently merge copies with base docs on any corpus whose ids
    // reach 1e6 (review r12)
    lazy val docOffset = maxIdOffset(baseDocs, "doc_id")
    for (k <- Seq(1, 4) if section("minhash")) {
      val docs = (0 until k).map(j =>
        baseDocs.select((col("doc_id") + lit(j * docOffset)).as("doc_id"),
          concat(col("text"), lit(s" copymarker$j")).as("text")))
        .reduce(_ unionByName _)
      val n = docs.count()
      val t = Seq.fill(2)(timed(noop(
        graft.dedup.Dedup.dedupMinhashLshDf(docs)))).min
      println(f"minhash  n=$n%-8d $t%8.2f s")
    }

    // Winnowed fingerprints: the selection is per-row (native deque) and
    // the pair stage an inverted-index join — both should scale ~n. The
    // k near-identical copies give the pair stage real work (each
    // fingerprint lands in ~k docs, well under the df cap), so the
    // curve prices detection, not an empty join.
    for (k <- Seq(1, 4, 16) if section("winnow")) {
      val docs = (0 until k).map(j =>
        baseDocs.select((col("doc_id") + lit(j * docOffset)).as("doc_id"),
          concat(col("text"), lit(s" copymarker$j")).as("text")))
        .reduce(_ unionByName _)
      val n = docs.count()
      val tw = Seq.fill(2)(timed(noop(
        graft.analytics.TextAnalysis.txWinnowDf(docs, 5, 4)))).min
      val td = Seq.fill(2)(timed(noop(
        graft.dedup.Dedup.dedupWinnowDf(docs, 5, 4, 64)))).min
      println(f"winnow   n=$n%-8d tx=$tw%8.2f s  dedup=$td%8.2f s")
    }

    // Exact-substring runs (r14 verdict #5): report + keep-first apply
    // at three corpus sizes — 2 id-shifted copies per doc (every copy
    // pair shares its whole base text as one long run: real pair-stage
    // work) PLUS a 24-token padding block appended to EVERY doc,
    // probing the occurrence cap: each padding gram occurs once per
    // document (occ = n >> 64), so the cap must exempt it — without
    // the cap this corpus IS the occ-squared quadratic the exact-runs
    // review pass removed before shipping. Both queries should scale
    // ~n; a superlinear jump here means the cap regressed.
    if (section("exactruns")) {
      val pad = (0 until 24).map(i => s"padtok$i").mkString(" ")
      for (f <- Seq(25, 50, 100)) {
        val sub = baseDocs.filter(pmod(col("doc_id"), lit(100)) < lit(f))
        val docs = (0 until 2).map(j =>
          sub.select((col("doc_id") + lit(j * docOffset)).as("doc_id"),
            concat(col("text"), lit(s" exmarker$j "), lit(pad)).as("text")))
          .reduce(_ unionByName _)
        val n = docs.count()
        val tr = Seq.fill(2)(timed(noop(
          graft.dedup.Dedup.dedupExactRunsDf(docs, 8, 64, 16)))).min
        val ta = Seq.fill(2)(timed(noop(
          graft.dedup.Dedup.dedupExactRunsApplyDf(docs, 8, 64, 16)))).min
        println(f"exactruns n=$n%-8d report=$tr%8.2f s  apply=$ta%8.2f s")
        graft.store.Checkpoints.free(spark)
      }
      // occurrence-cap BOUNDARY rung: k id-shifted copies make every
      // base gram occur k times, so k=16 sits under the 64-cap (pair
      // mass ~k²/2 per gram) and k=96 sits OVER it — every copy gram
      // is capped out and the pair stage goes near-empty, leaving only
      // the LINEAR stages (tokenize, gram explode, cap aggregate). The
      // falsifiable claim is therefore PER-DOC cost: it must NOT rise
      // from k=16 to k=96 (uncapped, k=96 carries ~36× the per-gram
      // pair mass). Measured at sf0.1: 0.33 ms/doc (k=16) →
      // 0.17 ms/doc (k=96) — the cap is what keeps the pair stage
      // finite on a boilerplate-heavy corpus at 100 TB.
      for (k <- Seq(4, 16, 96)) {
        val sub = baseDocs.filter(pmod(col("doc_id"), lit(100)) < lit(6))
        val docs = (0 until k).map(j =>
          sub.select((col("doc_id") + lit(j * docOffset)).as("doc_id"),
            concat(col("text"), lit(s" capmarker$j")).as("text")))
          .reduce(_ unionByName _)
        val n = docs.count()
        val tr = Seq.fill(2)(timed(noop(
          graft.dedup.Dedup.dedupExactRunsDf(docs, 8, 64, 16)))).min
        println(f"exactruns-cap k=$k%-4d n=$n%-8d report=$tr%8.2f s")
        graft.store.Checkpoints.free(spark)
      }
    }

    // Selection family (r12 verdict #5): the histogram threshold
    // selectors and the bounded-heap stratified sample at 1×/4×/16×
    // (≈5k/20k/80k docs on sf0.1), each also on a one-source-dominates
    // skew corpus (95% of docs forced into one source — the shape that
    // serializes the naive per-source rank window), plus the
    // constant-quality DEGENERATE corpus for the budget selector (the
    // whole corpus is the boundary bucket — the r13 range-shard guard's
    // worst case). All should scale ~n, skew and degenerate included.
    if (section("selection")) {
      val TA = graft.analytics.TextAnalysis
      def copies(k: Int) = (0 until k).map(j =>
        baseDocs.select((col("doc_id") + lit(j * docOffset)).as("doc_id"),
          col("source"),
          concat(col("text"), lit(s" selmarker$j")).as("text")))
        .reduce(_ unionByName _)
      def skewed(docs: org.apache.spark.sql.DataFrame) =
        docs.withColumn("source",
          when(pmod(col("doc_id"), lit(20)) === 0, col("source"))
            .otherwise(lit("megadomain")))
      val warm = copies(1)
      noop(TA.txBudgetSelectDf(warm, 0.4))
      noop(TA.txSelectBySourceDf(warm, 40))
      noop(TA.sampleStratifiedDf(warm, 10))
      graft.store.Checkpoints.free(spark)
      for (k <- Seq(1, 4, 16)) {
        val docs = copies(k)
        val skew = skewed(docs)
        val n = docs.count()
        def t2(f: => Unit): Double = Seq.fill(2)(timed(f)).min
        val tB = t2(noop(TA.txBudgetSelectDf(docs, 0.4)))
        val tS = t2(noop(TA.txSelectBySourceDf(docs, 40)))
        val tSk = t2(noop(TA.txSelectBySourceDf(skew, 40)))
        val tT = t2(noop(TA.sampleStratifiedDf(docs, 10)))
        val tTk = t2(noop(TA.sampleStratifiedDf(skew, 10)))
        println(f"selection n=$n%-8d budget=$tB%7.2f  bysource=$tS%7.2f  " +
          f"bysource_skew=$tSk%7.2f  strat=$tT%7.2f  strat_skew=$tTk%7.2f")
        graft.store.Checkpoints.free(spark)
      }
      // degenerate: every doc all-distinct tokens → quality ≡ 1.0,
      // whole corpus in one bucket; token counts 1..40 from doc_id
      for (k <- Seq(1, 16)) {
        val degen = copies(k).select(col("doc_id"),
          concat_ws(" ", transform(
            sequence(lit(1), (pmod(col("doc_id"), lit(40)) + 1).cast("int")),
            i => concat(col("doc_id").cast("string"), lit("x"),
              i.cast("string")))).as("text"))
        val n = degen.count()
        val tD = Seq.fill(2)(timed(noop(TA.txBudgetSelectDf(degen, 0.4)))).min
        val tDs = Seq.fill(2)(timed(noop(
          TA.txSelectBySourceDf(skewed(degen.withColumn("source", lit("s0"))),
            40)))).min
        println(f"selection_degen n=$n%-8d budget=$tD%7.2f  bysource_skew=$tDs%7.2f")
        graft.store.Checkpoints.free(spark)
      }
    }

    // DSIR + hashed-NB bucket-model family (r14): weights, resample and
    // the NB confusion matrix at 1×/4×/16×. Every stage is either a
    // narrow gram scan, a bounded-key (≤1024 / ≤langs·1024) partial agg
    // or a broadcast join, so all three must scale ~n — a superlinear
    // jump means the model stopped being the tiny side of the join.
    if (section("dsir")) {
      val TA = graft.analytics.TextAnalysis
      def copies(k: Int) = (0 until k).map(j =>
        baseDocs.select((col("doc_id") + lit(j * docOffset)).as("doc_id"),
          col("lang"),
          concat(col("text"), lit(s" dsmarker$j")).as("text")))
        .reduce(_ unionByName _)
      noop(TA.txDsirWeightsDf(copies(1)))
      noop(TA.txNbLangidDf(copies(1)))
      graft.store.Checkpoints.free(spark)
      for (k <- Seq(1, 4, 16)) {
        val docs = copies(k)
        val n = docs.count()
        def t2(f: => Unit): Double = Seq.fill(2)(timed(f)).min
        val tW = t2(noop(TA.txDsirWeightsDf(docs)))
        val tS = t2(noop(TA.txDsirSelectDf(docs)))
        val tN = t2(noop(TA.txNbLangidDf(docs)))
        println(f"dsir     n=$n%-8d weights=$tW%7.2f  select=$tS%7.2f  nb=$tN%7.2f")
        graft.store.Checkpoints.free(spark)
      }
      // bucket-count rung: the production knob (the paper's B is 10^4-10^6
      // for hashed n-grams). Scoring must stay flat in B — the model is
      // still one bounded-key agg + a broadcast join at B=2^18 (≤6 MB);
      // a jump here means the model stopped being the tiny side.
      val bDocs = copies(4)
      val bN = bDocs.count()
      for (b <- Seq(1024, 16384, 262144)) {
        val tW = Seq.fill(2)(timed(noop(TA.txDsirWeightsDf(bDocs, buckets = b)))).min
        println(f"dsir-B   n=$bN%-8d B=$b%-7d weights=$tW%7.2f")
        graft.store.Checkpoints.free(spark)
      }
    }

    // Chunk-level dedup + boilerplate spans at growing corpus FRACTIONS
    // (subsets keep the natural text-duplication structure, so the work
    // profile stays honest — copy-planting would make every gram hot).
    // Both operators are bucket-join shaped and should scale ~n.
    if (section("chunks")) {
      // warm both code paths once (codegen + shuffle setup) so the first
      // measured size is not the compile run
      val warm = baseDocs.filter(pmod(col("doc_id"), lit(8)) === 0)
        .select(col("doc_id"), col("text"))
      noop(graft.dedup.Dedup.dedupChunksDf(
        graft.analytics.TextAnalysis.txChunkDf(warm)))
      noop(graft.analytics.TextAnalysis.txBoilerplateDf(warm))
      graft.store.Checkpoints.free(spark)
      for (m <- Seq(4, 2, 1)) {
        val docs = baseDocs.filter(pmod(col("doc_id"), lit(m)) === 0)
          .select(col("doc_id"), col("text"))
        val n = docs.count()
        val tC = Seq.fill(3)(timed(noop(
          graft.dedup.Dedup.dedupChunksDf(
            graft.analytics.TextAnalysis.txChunkDf(docs))))).min
        val tB = Seq.fill(3)(timed(noop(
          graft.analytics.TextAnalysis.txBoilerplateDf(docs)))).min
        println(f"chunks/boilerplate n=$n%-8d chunks=$tC%8.2f s  boilerplate=$tB%8.2f s")
        graft.store.Checkpoints.free(spark)
      }
    }

    // Hybrid retrieval curve: k id-shifted copies of documents AND
    // embeddings (texts marker-tokenized, vectors mildly scaled so
    // copies are distinct rows). The lexical leg's candidate mass is
    // sum over query terms of df(t), so both legs should scale ~k;
    // the panel (ids < 10) stays fixed.
    if (section("hybrid")) {
      val baseEmb = graft.Tables.embeddings(spark, dir)
      // same table as `base` — reuse its offset instead of re-running
      // the max() action (review r14)
      val vecOffset = embOffset
      def corpus(k: Int) = (
        (0 until k).map(j =>
          baseDocs.select((col("doc_id") + lit(j * docOffset)).as("doc_id"),
            concat(col("text"), lit(s" hymarker$j")).as("text")))
          .reduce(_ unionByName _),
        (0 until k).map(j =>
          baseEmb.select((col("vec_id") + lit(j * vecOffset)).as("vec_id"),
            col("label"),
            transform(col("embedding"),
              x => x * (lit(1.0f) + lit(j.toFloat / 1000))).as("embedding")))
          .reduce(_ unionByName _))
      val (wd, we) = corpus(1)
      noop(graft.similarity.Hybrid.hybridTopkDf(wd, we, 5, 20))
      // serve-vs-inline crossover: build both stores per size
      // (UNTIMED — the build-once/serve-many premise), then race the
      // in-session stack against the index-served one. The inline path
      // re-tokenizes the docs and exact-scans the embeddings per run;
      // serve reads postings/codes only — its cost should flatten
      // while inline grows ~n, and the table records where they cross.
      for (k <- Seq(1, 2, 4, 10, 20)) {
        val (docs, emb) = corpus(k)
        val n = docs.count()
        val root = java.nio.file.Files
          .createTempDirectory(s"hycurve_$k").toString
        val (lexRoot, pqRoot) = (s"$root/lex", s"$root/pq")
        graft.store.TextIndex.build(docs, lexRoot)
        graft.store.AnnIndex.buildPq(emb, pqRoot)
        val queries = Similarity.materializeSmall(
          emb.filter(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"),
              col("embedding").as("q_emb")))
        val tIn = Seq.fill(2)(timed(noop(
          graft.similarity.Hybrid.hybridTopkDf(docs, emb, 5, 20)))).min
        val tSv = Seq.fill(2)(timed(noop(
          graft.similarity.Hybrid.hybridServeFromRoots(
            spark, lexRoot, pqRoot, queries, 5, 20)))).min
        println(f"hybrid   n=$n%-8d inline=$tIn%8.2f s  serve=$tSv%8.2f s  ratio=${tIn / tSv}%5.2f")
      }
    }

    println(f"${"copies"}%8s ${"n"}%8s ${"(b,t)"}%10s ${"lsh_s"}%8s ${"exact_s"}%8s ${"ratio"}%6s")
    // Past n=24k the exact twin's measured quadratic already puts it in
    // the minutes — the 48k point runs the LSH side ONLY and projects
    // the exact cost from the last measured point × (n ratio)², which
    // is the point of the curve: the exact path leaves the feasible
    // envelope while the bucketed path keeps scaling ~n·t.
    // Repetition-signals curve (the operator that shipped with a 60×
    // interpreted-HOF pathology this round — the fix deserves measured
    // ~n evidence): natural sf0.1 document subsets, min-of-3 after a
    // warm-up, same harness as the chunks curve.
    if (section("repetition")) {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val baseDocs = graft.Tables.documents(spark, dir)
      noop(graft.analytics.TextAnalysis.txRepetitionDf(
        baseDocs.filter(pmod(col("doc_id"), lit(8)) === 0)
          .select(col("doc_id"), col("text"))))
      for (m <- Seq(4, 2, 1)) {
        val docs = baseDocs.filter(pmod(col("doc_id"), lit(m)) === 0)
          .select(col("doc_id"), col("text"))
        val n = docs.count()
        val t = Seq.fill(3)(timed(noop(
          graft.analytics.TextAnalysis.txRepetitionDf(docs)))).min
        println(f"repetition n=$n%-8d $t%8.2f s")
      }
    }

    // SemDeDup curve: cluster-then-prune vs the exact global scan at
    // the same threshold. The semantic path's pair space is Σ|cell|²
    // (≈ n²/cells, cells from the semanticCells ladder), so its ratio
    // to the exact O(n²) scan should hold ≈ cells× as n grows — and the
    // clustering overhead (2 Lloyd rounds, ~n·cells) amortizes to noise
    // at scale.
    if (section("semantic")) {
      println(f"${"copies"}%8s ${"n"}%8s ${"semantic_s"}%10s ${"exact_s"}%8s ${"ratio"}%6s")
      var lastSemExact = 0.0
      var lastSemN = 0L
      for (k <- Seq(2, 5, 11, 23)) {
        val factors = (1 to k).map(j =>
          (j * embOffset, 0.2 + 0.1 * (j - 1) / math.max(1, k - 1)))
        val corpus = Similarity.augmentedEmbeddings(base, factors = factors)
          .persist()
        val n = corpus.count()
        val sem = Seq.fill(2)(timed(noop(
          Similarity.dedupSemanticDf(corpus, 0.9)))).min
        if (k <= 11) {
          val exact = Seq.fill(2)(timed(noop(
            Similarity.dedupEmbeddingDf(corpus, 0.9)))).min
          lastSemExact = exact; lastSemN = n
          println(f"$k%8d $n%8d $sem%10.2f $exact%8.2f ${exact / sem}%6.2f")
        } else {
          // same convention as the embedding curve: past the feasible
          // envelope the exact cost is projected from the last measured
          // quadratic step
          val proj = lastSemExact * math.pow(n.toDouble / lastSemN, 2)
          println(f"$k%8d $n%8d $sem%10.2f ${f"~$proj%.0f(proj)"}%8s ${proj / sem}%6.2f")
        }
        corpus.unpersist()
        graft.store.Checkpoints.free(spark)
      }
    }

    var lastExact = 0.0
    var lastN = 0L
    for (k <- Seq(2, 5, 11, 23) if section("embedding")) {
      val factors = (1 to k).map(j =>
        (j * embOffset, 0.2 + 0.1 * (j - 1) / math.max(1, k - 1)))
      val corpus = Similarity.augmentedEmbeddings(base, factors = factors)
      val n = corpus.count()
      val params = LshParams.derive(n, 0.9, 0.9999, 4)
      val lsh = Seq.fill(2)(timed(noop(
        Similarity.dedupEmbeddingLshDf(corpus, 0.9, params, 4096, 4)))).min
      val bt = s"(${params.planesPerTable},${params.nTables})"
      if (k <= 11) {
        val exact = Seq.fill(2)(timed(noop(
          Similarity.dedupEmbeddingDf(corpus, 0.9)))).min
        lastExact = exact; lastN = n
        println(f"$k%8d $n%8d $bt%10s $lsh%8.2f $exact%8.2f ${exact / lsh}%6.2f")
      } else {
        val proj = lastExact * math.pow(n.toDouble / lastN, 2)
        println(f"$k%8d $n%8d $bt%10s $lsh%8.2f ${f"~$proj%.0f(proj)"}%8s ${proj / lsh}%6.2f")
      }
      graft.store.Checkpoints.free(spark)
    }

    // Banded-candidate growth across the driver scale factors (r17
    // verdict #7): rep-level candidate counts per banded family — the
    // hot-band guard's regression tripwire. The fingerprint corpora are
    // hash-shaped, so candidates must grow sub-quadratically in n
    // (near-linearly in practice); a superlinear jump here means the
    // exact pre-collapse or the occupancy guard regressed.
    // BandCandGrowthSpec asserts the sf0.001→sf0.01 leg of this curve;
    // this section records all three SFs for COVERAGE.md.
    if (section("bandcands")) {
      val MM = graft.operators.Multimodal
      val BG = graft.dedup.BandGuard
      val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
        .map(n => new java.io.File(
          new java.io.File(dir).getParentFile, n).toString)
        .filter(d => new java.io.File(d).isDirectory)
      for (d <- sfDirs) {
        val docs = Tables.documents(spark, d)
        val nDocs = docs.count()
        val mh = graft.dedup.Dedup.minhashCandidateCount(docs)
        val sFps = docs
          .filter(size(graft.functions.TextFunctions.tokens(col("text"))) > 0)
          .select(col("doc_id"),
            graft.functions.TextFunctions.simhash60(
              graft.functions.TextFunctions.tokens(col("text"))).as("fp"))
        val sh = BG.repCandidateCount(sFps, "doc_id", Nil)
        val pFps = MM.mmPhashFingerprints(spark, d)
          .select(col("media_id"), col("phash60").as("fp"))
        val aFps = MM.mmAudioFingerprints(spark, d)
          .select(col("media_id"), col("audfp60").as("fp"))
        val vFps = MM.mmVideoFingerprints(spark, d)
          .select(col("media_id"), col("frame_idx"), col("fp60").as("fp"))
        val (np, na, nv) = (pFps.count(), aFps.count(), vFps.count())
        val ph = BG.repCandidateCount(pFps, "media_id", Nil)
        val au = BG.repCandidateCount(aFps, "media_id", Nil)
        val vi = BG.repCandidateCount(vFps, "media_id", Seq("frame_idx"))
        println(f"bandcands ${new java.io.File(d).getName}%-8s docs=$nDocs%-7d " +
          f"minhash=$mh%-7d simhash=$sh%-7d phash=$ph%-6d(n=$np) " +
          f"audio=$au%-6d(n=$na) video=$vi%-6d(n=$nv)")
        graft.store.Checkpoints.free(spark)
      }
    }

    // filtered-ANN dial curve: mean recall@5 and wall of the filtered
    // serve (label = 3) across the nprobe sweep — the measurement that
    // prices the filtered-search knob (routing loss is the only miss
    // mode; the exact filtered top-5 denominator recomputes per rung,
    // a fixed q×slice cost). Expect recall monotone in nprobe and the
    // wall roughly flat until nprobe approaches the cell count.
    if (section("filteredann")) {
      val AI = graft.store.AnnIndex
      noop(AI.embIvfFilteredRecall(spark, dir, 5, 2, 3)) // build + warm
      graft.store.Checkpoints.free(spark)
      for (np <- Seq(1, 2, 4, 8)) {
        def run() = AI.embIvfFilteredRecall(spark, dir, 5, np, 3)
        val t = Seq.fill(2)(timed(noop(run()))).min
        val mean = run().agg(avg(col("recall"))).head().getDouble(0)
        println(f"filteredann nprobe=$np%-3d mean_recall=$mean%.3f  $t%7.2f s")
        graft.store.Checkpoints.free(spark)
      }
    }

    // the same dial on the planted-cluster OPERATING geometry (r15
    // verdict #5): the uniform rung above is the adversarial floor;
    // this prices the filtered nprobe knob where ANN is deployed
    if (section("filteredannclustered")) {
      val AI = graft.store.AnnIndex
      noop(AI.embIvfFilteredRecallClustered(spark, dir, 5, 2, 3))
      graft.store.Checkpoints.free(spark)
      for (np <- Seq(1, 2, 4, 8)) {
        def run() = AI.embIvfFilteredRecallClustered(spark, dir, 5, np, 3)
        val t = Seq.fill(2)(timed(noop(run()))).min
        val mean = run().agg(avg(col("recall"))).head().getDouble(0)
        println(f"filteredann-clustered nprobe=$np%-3d mean_recall=$mean%.3f  $t%7.2f s")
        graft.store.Checkpoints.free(spark)
      }
    }
    spark.stop()
  }
}
