package graft

import graft.similarity.Similarity
import graft.store.{AnnIndex, Compaction, StoreRoot, TextIndex}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** scratchRoot lifecycle: per-(JVM, thread, name) trees, same-thread
  * reuse (bounded accumulation), cross-thread disjointness (two
  * sessions driving the same registered query concurrently must not
  * delete each other's live feed/checkpoint), and the start-instant
  * pid-recycling guard on the dead-JVM sweep. Then the store-state
  * memo: one compute per watched state, and on real PQ and lexical
  * stores a warm serve runs no job for its memoized relations while
  * every commit re-collects once and serves what a fresh store serves.
  */
class StoreRootSpec extends SparkSpec {

  test("same thread reuses one cleared tree; different threads get disjoint trees") {
    val a = StoreRoot.scratchRoot("spec_scratch")
    val marker = java.nio.file.Paths.get(a, "marker")
    java.nio.file.Files.writeString(marker, "x")
    // same thread, same name: same path, cleared on entry
    val a2 = StoreRoot.scratchRoot("spec_scratch")
    assert(a2 == a)
    assert(!java.nio.file.Files.exists(marker), "tree must be cleared on reuse")
    // a different name on the same thread is a sibling, not a clobber
    val b = StoreRoot.scratchRoot("spec_scratch_other")
    assert(b != a)

    // a different thread gets a DISJOINT tree for the SAME name, and
    // acquiring it must not clear this thread's live tree
    java.nio.file.Files.writeString(marker, "live")
    var other: String = null
    val t = new Thread(() => other = StoreRoot.scratchRoot("spec_scratch"))
    t.start(); t.join()
    assert(other != null && other != a)
    assert(java.nio.file.Files.readString(marker) == "live",
      "cross-thread acquisition must not touch this thread's tree")

    // intra-JVM reclamation: once the other thread is dead, the next
    // acquisition from any thread sweeps its tree (a thread-pool
    // caller must not accumulate one tree per retired thread)
    val a3 = StoreRoot.scratchRoot("spec_scratch")
    assert(a3 == a)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(other)),
      "dead thread's tree must be swept on the next acquisition")
  }

  test("sweep removes dead-pid and recycled-pid trees, keeps the live JVM's") {
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_scratch")
    java.nio.file.Files.createDirectories(base)
    // a pid that cannot exist on linux (pid_max <= 2^22) — dead JVM
    val dead = base.resolve("4194309_123")
    // our own live pid but a WRONG start instant — recycled pid
    val self = ProcessHandle.current()
    val recycled = base.resolve(s"${self.pid()}_1")
    // legacy bare-pid dir for a dead pid
    val legacy = base.resolve("4194310")
    Seq(dead, recycled, legacy).foreach(java.nio.file.Files.createDirectories(_))

    val live = StoreRoot.scratchRoot("spec_sweep")
    assert(!java.nio.file.Files.exists(dead), "dead-pid tree must be swept")
    assert(!java.nio.file.Files.exists(recycled),
      "recycled-pid (start-instant mismatch) tree must be swept")
    assert(!java.nio.file.Files.exists(legacy), "legacy dead-pid tree must be swept")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(live)))
    // and the live root sits under a dir named for THIS jvm's pid+start
    self.info().startInstant().ifPresent { i =>
      assert(live.contains(s"${self.pid()}_${i.toEpochMilli}"))
    }
  }

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"memo_$tag").toString

  test("memo: one compute per watched state, a rewrite replaces the entry") {
    val dir = tmpDir("unit")
    val f = java.nio.file.Paths.get(dir, "f")
    var computes = 0
    def read(): Int = StoreRoot.memo(spark, s"spec|$dir", f.toString) {
      computes += 1; computes
    }
    assert(read() == 1 && read() == 1, "missing path is a state like any other")
    java.nio.file.Files.writeString(f, "a")
    assert(read() == 2 && read() == 2)
    java.nio.file.Files.writeString(f, "abc") // length changes
    assert(read() == 3)
    // directory state: a new entry re-computes
    val d = java.nio.file.Paths.get(dir, "d")
    java.nio.file.Files.createDirectories(d)
    def readDir(): Int = StoreRoot.memo(spark, s"spec.dir|$dir", d.toString) {
      computes += 1; computes
    }
    val before = readDir()
    assert(readDir() == before)
    java.nio.file.Files.writeString(d.resolve("part-1"), "x")
    assert(readDir() == before + 1)
    // a memo call nested inside another's compute is legal
    val outer = StoreRoot.memo(spark, s"spec.outer|$dir", d.toString) {
      StoreRoot.memo(spark, s"spec.inner|$dir", d.toString)(41) + 1
    }
    assert(outer == 42)
  }

  /** Counts the query jobs `body` starts from this thread — jobs run
    * under a SQL execution, as every memo collect is; the plain RDD job
    * a `spark.read.parquet` schema read runs is no memo's and is not
    * counted. Counted after the listener bus has delivered them: a
    * fence job tagged after `body` is seen only once every earlier
    * event was.
    */
  private object jobs extends SparkListener {
    private val Tag = "graft.spec.probe"
    private val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).foreach { p =>
        Option(p.getProperty(Tag))
          .filter(t => t.endsWith(".fence") ||
            p.getProperty(SQLExecution.EXECUTION_ID_KEY) != null)
          .foreach(seen.add)
      }
    private lazy val registered = spark.sparkContext.addSparkListener(this)

    def of[T](body: => T): (T, Int) = {
      registered
      val sc = spark.sparkContext
      val tag = java.util.UUID.randomUUID().toString
      sc.setLocalProperty(Tag, tag)
      val v = try body finally sc.setLocalProperty(Tag, null)
      sc.setLocalProperty(Tag, s"$tag.fence")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Tag, null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(s"$tag.fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$tag.fence"), "listener never saw the fence job")
      (v, seen.toArray.count(_ == tag))
    }
  }

  private def copyOf(root: String): String = {
    val copy = tmpDir("copy") + "/idx"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(root), new java.io.File(copy))
    copy
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("PQ store: warm serve runs no memo job; post-append serve equals a fresh copy") {
    val emb = Tables.embeddings(spark, Sf0001)
    val half = emb.count() / 2
    val root = tmpDir("pq") + "/idx"
    AnnIndex.buildPq(emb.filter(col("vec_id") < half), root)
    val q = Similarity.materializeSmall(
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    def serve(r: String) = AnnIndex.servePqTopk(spark, r, q, 5)

    val (_, cold) = jobs.of(serve(root))
    assert(cold > 0, "the first serve collects the codebooks")
    val (warmDf, warm) = jobs.of(serve(root))
    assert(warm == 0, s"a warm serve ran $warm memo jobs")
    val before = rows(warmDf)

    AnnIndex.appendPqBatch(emb.filter(col("vec_id") >= half), root, 1L)
    // appends assign against FROZEN codebooks: the codebooks dir is
    // untouched, so the memo rightly keeps its hit
    val (afterDf, after) = jobs.of(serve(root))
    assert(after == 0)
    val served = rows(afterDf)
    val (copyDf, copyCold) = jobs.of(serve(copyOf(root)))
    assert(copyCold == cold, "a fresh store path collects cold")
    assert(served == rows(copyDf))
    assert(served != before, "the appended vectors must be servable")
  }

  test("lex store: warm serve runs no memo job; each commit re-collects once and serves a fresh build") {
    val docs = Tables.documents(spark, Sf0001)
    val n = docs.count()
    val baseDocs = docs.filter(col("doc_id") < n - 8)
    val root = tmpDir("lex") + "/idx"
    TextIndex.build(baseDocs, root)
    def serve(r: String) = TextIndex.serveBm25(spark, r, 5)

    val (_, cold) = jobs.of(serve(root))
    assert(cold > 0, "the first serve collects the panel and the stats")
    assert(jobs.of(serve(root))._2 == 0, "a warm serve runs no memo job")

    var live = baseDocs
    def check(write: String): Unit = {
      val (_, first) = jobs.of(serve(root))
      val (df, second) = jobs.of(serve(root))
      // a copy of the store as it now stands: its serve runs every memo
      // job cold, which is exactly what one re-collect must run
      val (_, copyCold) = jobs.of(serve(copyOf(root)))
      assert(first > 0 && first == copyCold,
        s"after $write: $first jobs, a cold copy ran $copyCold")
      assert(second == 0, s"after $write the memo must hit again")
      val fresh = tmpDir("lexfresh") + "/idx"
      TextIndex.build(live, fresh)
      assert(rows(df) == rows(serve(fresh)), s"after $write")
    }

    TextIndex.appendBatch(docs.filter(col("doc_id") >= n - 8), root, 1L)
    live = docs
    check("appendBatch")

    val gone = Seq(3L, n - 2)
    TextIndex.deleteDocs(spark, root,
      docs.filter(col("doc_id").isin(gone: _*)).select(col("doc_id")), 2L)
    live = docs.filter(!col("doc_id").isin(gone: _*))
    check("deleteDocs")

    Compaction.compactLexStore(spark, root)
    check("compactLexStore")
  }
}
