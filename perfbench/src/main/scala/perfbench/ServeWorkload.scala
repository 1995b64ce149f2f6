package perfbench

import scala.collection.mutable

import graft.store.{AnnIndex, Compaction, TextIndex}
import graft.similarity.Hybrid
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `serve`: one closed-loop client against freshly built PQ, IVF, IVFPQ
  * and BM25 stores. Two ops in thirteen are writes (appends of held-out
  * rows or tombstones) and one is a compaction, so store memos miss once
  * per write and a read-side cache gain that costs write latency, tail
  * latency or space shows.
  */
object ServeWorkload {
  val K = 5
  val QueriesPerRead = 4
  val AppendRows = 20
  val RoundSeconds = 16.0 // one round's length on a 4-core host

  private val qSchema = StructType(Seq(
    StructField("query_id", LongType), StructField("q_emb", ArrayType(FloatType))))

  final case class Roots(pq: String, ivf: String, ivfpq: String, lex: String)

  def run(spark: SparkSession, t: Tracer, data: String, work: String, seed: Long,
      seconds: Double, r: Result): Double = {
    val rng = new scala.util.Random(seed)
    val emb = graft.Tables.embeddings(spark, data)
    val docs = graft.Tables.documents(spark, data)
    // seeded held-out split: ~10% of rows arrive later as appends
    def heldOut(c: String) = pmod(xxhash64(col(c), lit(seed)), lit(10)) === 0
    val baseEmb = emb.filter(!heldOut("vec_id"))
    val baseDocs = docs.filter(!heldOut("doc_id"))
    val embRows = emb.collect()
    val heldEmb = emb.filter(heldOut("vec_id")).collect()
    val heldDocs = docs.filter(heldOut("doc_id")).collect()
    val baseVecIds = baseEmb.select("vec_id").collect().map(_.getLong(0))
    val baseDocIds = baseDocs.select("doc_id").collect().map(_.getLong(0)).filter(_ >= 10)
    val vecOf = embRows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

    def queries(ids: Seq[Long]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(ids.map { id =>
        val src = vecOf(baseVecIds(rng.nextInt(baseVecIds.length)))
        Row(id, src.map(x => (x + rng.nextGaussian() * 0.02).toFloat).toSeq)
      }: _*), qSchema)

    def build(dir: String): Roots = {
      val roots = Roots(s"$dir/pq", s"$dir/ivf", s"$dir/ivfpq", s"$dir/lex")
      t.span("setup.build") {
        AnnIndex.buildPq(baseEmb, roots.pq)
        AnnIndex.buildIvf(baseEmb, roots.ivf)
        AnnIndex.buildIvfPq(baseEmb, roots.ivfpq)
        TextIndex.build(baseDocs, roots.lex)
      }
      roots
    }

    var nextQ = 10000000L
    def qids(n: Int): Seq[Long] = (0 until n).map { _ => nextQ += 1; nextQ }
    def readOps(roots: Roots): Seq[(String, () => DataFrame)] = Seq(
      "ann.pq" -> (() => AnnIndex.servePqTopk(spark, roots.pq, queries(qids(QueriesPerRead)), K)),
      "ann.ivf" -> (() => AnnIndex.serveIvfTopk(spark, roots.ivf, queries(qids(QueriesPerRead)), K)),
      "ann.ivfpq" -> (() => AnnIndex.serveIvfPqTopkSq8(spark, roots.ivfpq,
        queries(qids(QueriesPerRead)), K)),
      "lex.bm25" -> (() => TextIndex.serveBm25(spark, roots.lex, K)),
      "hybrid" -> (() => Hybrid.hybridServeFromRoots(spark, roots.lex, roots.pq,
        queries(rng.shuffle((0L until 10L).toList).take(QueriesPerRead)), K)))

    // set-up unit, run once (it takes about half a run): build the four
    // stores and serve each read kind once
    val (roots, setupS) = Common.timed {
      val built = build(s"$work/stores")
      readOps(built).foreach { case (name, op) => t.span(s"setup.$name")(t.collect(op())) }
      built
    }

    // mutable store state the checks and the write ops share
    val deletedVecs = mutable.Set.empty[Long]
    val deletedDocs = mutable.Set.empty[Long]
    val appendedDocs = mutable.ArrayBuffer.empty[Row]
    var embCursor = 0
    var docCursor = 0
    val batchIds = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def nextBatch(root: String): Long = { batchIds(root) += 1; batchIds(root) }
    val liveVecs = mutable.LinkedHashSet(baseVecIds.toSeq: _*)
    val liveDocs = mutable.LinkedHashSet(baseDocIds.toSeq: _*)
    def embDf(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), emb.schema)
    def pick(from: mutable.LinkedHashSet[Long], n: Int): Seq[Long] = {
      val arr = from.toIndexedSeq
      (0 until n).map(_ => arr(rng.nextInt(arr.size))).distinct
    }
    def idsDf(name: String, ids: Seq[Long]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
        StructType(Seq(StructField(name, LongType))))

    val writeOps: Seq[(String, () => Boolean)] = Seq(
      "ann.append" -> (() => embCursor < heldEmb.length && {
        val rows = heldEmb.slice(embCursor, embCursor + AppendRows).toSeq
        embCursor += rows.size
        val df = embDf(rows)
        AnnIndex.appendPqBatch(df, roots.pq, nextBatch(roots.pq))
        AnnIndex.appendIvfBatch(df, roots.ivf, nextBatch(roots.ivf))
        rows.foreach(r => liveVecs += r.getLong(0))
        true
      }),
      "lex.append" -> (() => docCursor < heldDocs.length && {
        val rows = heldDocs.slice(docCursor, docCursor + AppendRows).toSeq
        docCursor += rows.size
        TextIndex.appendBatch(spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          docs.schema), roots.lex, nextBatch(roots.lex))
        appendedDocs ++= rows
        rows.foreach(r => liveDocs += r.getLong(0))
        true
      }),
      "ann.delete" -> (() => {
        val ids = pick(liveVecs, 5)
        Seq(roots.pq, roots.ivf, roots.ivfpq).foreach(AnnIndex.deleteVectors(spark, _, idsDf("vec_id", ids)))
        ids.foreach { id => liveVecs -= id; deletedVecs += id }
        true
      }),
      "lex.delete" -> (() => {
        val ids = pick(liveDocs, 3)
        TextIndex.deleteDocs(spark, roots.lex, idsDf("doc_id", ids), nextBatch(roots.lex))
        ids.foreach { id => liveDocs -= id; deletedDocs += id }
        true
      }))

    // reply check: k rows per query and no tombstoned id
    def replyOk(kind: String, rows: Array[Row], deadVecs: Long => Boolean,
        deadDocs: Long => Boolean): Boolean = {
      val perQuery = rows.groupBy(_.getAs[Long]("query_id")).values.map(_.length)
      val countsOk = perQuery.nonEmpty && perQuery.forall(_ == K)
      val tombOk = kind match {
        case "lex.bm25" => rows.forall(r => !deadDocs(r.getAs[Long]("doc_id")))
        case "hybrid" => rows.forall { r =>
          val id = r.getAs[Long]("doc_id")
          !(r.getAs[Boolean]("in_lexical") && deadDocs(id)) &&
            !(r.getAs[Boolean]("in_vector") && deadVecs(id))
        }
        case _ => rows.forall(r => !deadVecs(r.getAs[Long]("neighbor_id")))
      }
      countsOk && tombOk
    }

    val reads = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val writes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val compactS = mutable.ArrayBuffer.empty[Double]
    val readSpanIds = mutable.ArrayBuffer.empty[(String, Boolean)] // (kind, first after write)
    val dirty = mutable.Set.empty[String]
    var badReplies = 0
    val resultRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val readKinds = readOps(roots)
    val writeOf = writeOps.toMap
    // stores each write or compaction changes: their next read misses the
    // store memos
    val touches = Map(
      "ann.append" -> Seq("ann.pq", "ann.ivf", "hybrid"),
      "ann.delete" -> Seq("ann.pq", "ann.ivf", "ann.ivfpq", "hybrid"),
      "lex.append" -> Seq("lex.bm25", "hybrid"), "lex.delete" -> Seq("lex.bm25", "hybrid"),
      "compact.pq" -> Seq("ann.pq", "hybrid"), "compact.lex" -> Seq("lex.bm25", "hybrid"))
    // the op program of round j: every read kind once in seeded order, an
    // ANN write, every read kind again, a lexical write, a compaction.
    // Round parity picks append or tombstone, so two rounds run all four
    // write kinds; the seed picks inputs and read order, never the mix,
    // so every run of one length serves the same mix
    def roundOps(j: Int): Seq[Either[Int, String]] = {
      def reads = rng.shuffle(readKinds.indices.toList).map(Left(_))
      val (annW, lexW, compact) =
        if (j % 2 == 0) ("ann.append", "lex.delete", "compact.pq")
        else ("ann.delete", "lex.append", "compact.lex")
      (reads :+ Right(annW)) ++ reads ++ Seq(Right(lexW), Right(compact))
    }
    def runOp(op: Either[Int, String]): Unit = {
      r.attempted += 1
      op match {
        case Right(kind) =>
          // an append with no held-out rows left is skipped, not failed
          val (ran, w) = Common.timed {
            try Some(t.span(kind) {
              kind match {
                case "compact.pq" => Compaction.compactPqStore(spark, roots.pq); true
                case "compact.lex" => Compaction.compactLexStore(spark, roots.lex); true
                case _ => writeOf(kind)()
              }
            }) catch {
              case e: Exception => System.err.println(s"[perfbench] $kind failed: $e"); None
            }
          }
          ran match {
            case None => r.failed += 1
            case Some(false) => r.attempted -= 1
            case Some(true) =>
              dirty ++= touches(kind)
              if (kind.startsWith("compact")) compactS += w
              else writes.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += w * 1000
          }
        case Left(i) =>
          val (kind, read) = readKinds(i)
          val first = dirty.remove(kind)
          val res = Common.timed {
            try Some(t.span(if (first) s"$kind.first" else kind)(t.collect(read()))) catch {
              case e: Exception => System.err.println(s"[perfbench] $kind failed: $e"); None
            }
          }
          res match {
            case (Some(rows), w) =>
              reads.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += w * 1000
              resultRows(kind) += rows.length
              readSpanIds += ((kind, first))
              if (!replyOk(kind, rows, deletedVecs, deletedDocs)) { badReplies += 1; r.failed += 1 }
            case (None, _) => r.failed += 1
          }
      }
    }
    val cpu0 = Common.processCpu()
    val t0 = Common.now()
    // a fixed number of whole rounds per run length, so the op count does
    // not depend on how fast the host is
    (0 until math.max(1, math.round(seconds / RoundSeconds).toInt))
      .foreach(j => roundOps(j).foreach(runOp))
    val ops = r.attempted
    val elapsed = Common.now() - t0
    val cpu = Common.processCpu() - cpu0
    r.e2e("live_heap_mb") = (Common.liveHeapMb(), "MB")

    val readMs = reads.values.flatten.toSeq
    val writeMs = writes.values.flatten.toSeq
    r.e2e("latency_mean_ms") = (readMs.sum / readMs.size, "ms")
    r.e2e("throughput_per_s") = (ops / elapsed, "1/s")
    r.e2e("cpu_ms_per_op") = (cpu * 1000 / ops, "ms")
    val (tl, tv) = Common.tail(readMs)
    r.note("serve_p50_ms", Common.median(readMs), "ms", s"n=${readMs.size} reads")
    r.note("serve_p90_ms", Common.quantile(readMs, 0.9), "ms", s"n=${readMs.size}; highest supported tail $tl = $tv")
    if (writeMs.nonEmpty)
      r.note("write_p50_ms", Common.median(writeMs), "ms", s"n=${writeMs.size} appends/tombstones")
    r.note("cpu_s", cpu, "s", f"process CPU over $elapsed%.1f s timed phase")
    val storeBytes = Seq(roots.pq, roots.ivf, roots.ivfpq, roots.lex)
      .map(p => Common.dirBytes(new java.io.File(p))).sum
    val liveRows = liveVecs.size + liveDocs.size + 10
    r.note("disk_bytes_per_row", storeBytes.toDouble / liveRows, "B",
      s"4 store dirs over $liveRows live vectors + docs")
    r.check("serve.replies", badReplies == 0, s"$badReplies bad replies")

    // --- output checks, outside the timed phase
    // planted wrong rows: a real reply with one neighbour tombstoned, or
    // with a row missing, must fail the reply check
    val probe = AnnIndex.servePqTopk(spark, roots.pq, queries(qids(1)), K).collect()
    val plantedId = probe.head.getAs[Long]("neighbor_id")
    r.check("selftest.reply_tombstone_plant",
      replyOk("ann.pq", probe, deletedVecs, deletedDocs) &&
        !replyOk("ann.pq", probe, id => id == plantedId, deletedDocs))
    r.check("selftest.reply_short_plant", !replyOk("ann.pq", probe.tail, deletedVecs, deletedDocs))

    // BM25 after the appends and deletes equals a one-shot build
    val finalDocs = baseDocs.unionByName(spark.createDataFrame(
      java.util.Arrays.asList(appendedDocs.toSeq: _*), docs.schema))
      .filter(!col("doc_id").isin(deletedDocs.toSeq: _*))
    val fresh = s"$work/stores/check-lex"
    TextIndex.build(finalDocs, fresh)
    def bm25(root: String) = TextIndex.serveBm25(spark, root, K).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq
    val live = bm25(roots.lex)
    val oneShot = bm25(fresh)
    r.check("serve.bm25_equals_rebuild", live == oneShot && live.nonEmpty)
    r.check("selftest.bm25_plant", (live.tail :+ "0|0|0.0|1").sorted != oneShot)

    // recall@5 of each ANN serve against exact cosine on a check panel
    // (a per-layer metric: computed in traced runs only)
    lazy val panelIds = (0 until 20).map(_ => 20000000L + rng.nextInt(1000000))
    lazy val panel = queries(panelIds.distinct)
    lazy val panelVec = panel.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    lazy val liveEmb = (embRows.filter(r => liveVecs(r.getLong(0))))
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]) = {
      var d, na, nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    lazy val exact = panelVec.map { case (q, v) =>
      q -> liveEmb.map { case (id, e) => (id, cos(v, e)) }.sortBy(-_._2).take(K).map(_._1).toSet
    }
    def recall(df: DataFrame): Double = {
      val got = df.collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      exact.map { case (q, e) => got.getOrElse(q, Set.empty[Long]).intersect(e).size.toDouble / K }.sum / exact.size
    }
    lazy val recalls = Seq(
      "pq" -> recall(AnnIndex.servePqTopk(spark, roots.pq, panel, K)),
      "ivf" -> recall(AnnIndex.serveIvfTopk(spark, roots.ivf, panel, K)),
      "ivfpq" -> recall(AnnIndex.serveIvfPqTopkSq8(spark, roots.ivfpq, panel, K)))

    if (t.enabled) {
      recalls.foreach { case (k, v) => r.note(s"ann.recall_at5.$k", v, "ratio", "exact cosine, 20-query panel") }
      def p50(kind: String, m: mutable.Map[String, mutable.ArrayBuffer[Double]]) =
        m.get(kind).filter(_.nonEmpty).map(x => Common.median(x.toSeq)).getOrElse(0.0)
      Seq("ann.pq" -> "ann.pq_ms_p50", "ann.ivf" -> "ann.ivf_ms_p50", "ann.ivfpq" -> "ann.ivfpq_ms_p50",
        "lex.bm25" -> "lex.bm25_ms_p50", "hybrid" -> "hybrid.ms_p50").foreach { case (k, n) =>
        r.layer(n) = (p50(k, reads), "ms")
      }
      def perRead(prefix: Seq[String]) = {
        val c = t.countsWhere(n => prefix.exists(p => n == p || n == s"$p.first"))
        val n = prefix.map(p => reads.get(p).map(_.size).getOrElse(0)).sum.max(1).toDouble
        (c, n, prefix.map(resultRows).sum.max(1L).toDouble)
      }
      val (annC, annN, annRows) = perRead(Seq("ann.pq", "ann.ivf", "ann.ivfpq"))
      val (lexC, lexN, lexRows) = perRead(Seq("lex.bm25"))
      val (hybC, hybN, _) = perRead(Seq("hybrid"))
      r.layer("ann.jobs_per_read") = (annC.jobs / annN, "count")
      r.layer("ann.tasks_per_read") = (annC.tasks / annN, "count")
      r.layer("lex.jobs_per_read") = (lexC.jobs / lexN, "count")
      r.layer("hybrid.jobs_per_read") = (hybC.jobs / hybN, "count")
      r.layer("ann.rows_scanned_per_result") = (annC.scannedRows / annRows, "ratio")
      r.layer("ann.files_scanned_per_read") = (annC.scannedFiles / annN, "count")
      r.layer("lex.rows_scanned_per_result") = (lexC.scannedRows / lexRows, "ratio")
      Seq("ann.append", "ann.delete", "lex.append", "lex.delete").foreach { k =>
        r.layer(s"${k}_ms_p50") = (p50(k, writes), "ms")
      }
      r.layer("ann.recall_at5") = (recalls.map(_._2).sum / recalls.size, "ratio")
      val firstJobs = t.countsWhere(_.endsWith(".first"))
      val nFirst = readSpanIds.count(_._2).max(1)
      val warmKinds = Set("ann.pq", "ann.ivf", "ann.ivfpq", "lex.bm25", "hybrid")
      val warmJobs = t.countsWhere(warmKinds)
      val nWarm = readSpanIds.count(!_._2).max(1)
      r.layer("store.first_read_after_write_jobs") = (firstJobs.jobs.toDouble / nFirst, "count")
      r.layer("store.warm_read_jobs") = (warmJobs.jobs.toDouble / nWarm, "count")
      r.layer("store.compact_s") = (if (compactS.isEmpty) 0.0 else Common.median(compactS.toSeq), "s")
      val files = Seq(roots.pq, roots.ivf, roots.ivfpq, roots.lex)
        .map(p => Common.dataFiles(new java.io.File(p)).size).sum
      r.layer("store.files") = (files.toDouble, "count")
      r.layer("store.tombstone_frac") =
        ((deletedVecs.size + deletedDocs.size).toDouble /
          (liveVecs.size + liveDocs.size + deletedVecs.size + deletedDocs.size), "ratio")
      r.layer("store.disk_bytes_per_row") = (storeBytes.toDouble / liveRows, "B")
      warmKinds.foreach { k =>
        // the set-up reads: first reads of fresh stores, a fixed workload
        val c = t.countsWhere(_ == s"setup.$k")
        r.structure(s"$k.jobs_per_read") = c.jobs
        r.structure(s"$k.stages_per_read") = c.stages
        r.structure(s"$k.tasks_per_read") = c.tasks
        r.structure(s"$k.rows_scanned_per_read") = c.scannedRows
        r.structure(s"$k.shuffle_bytes_per_read") = c.shuffleWrite
      }
    }
    setupS
  }
}
