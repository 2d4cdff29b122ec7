package graft.streaming

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The composed ingest DAG (r6 verdict #5): cascade semantics (each
  * screen sees prior survivors only), store COHERENCE (all five stores
  * admit the same survivor set), the crash matrix (a failure after any
  * stage converges on replay), the checkpointed streaming face, and a
  * recorded sustained-throughput figure. */
class IngestPipelineSpec extends SparkSpec {

  import spark.implicits._

  /** Gate-passing text: ≥40 words of 3-10 chars, ≥80% alphabetic, two
    * stopwords. Distinct `tag`s share only the two stopwords. */
  private def passText(tag: String, tail: String): String =
    (Seq("the", "and") ++ (0 until 42).map(k => f"${tag}w$k%03d") :+ tail)
      .mkString(" ")

  private def row(id: Long, text: String) = (id, text, "en", "s")

  /** The four-reject fixture: per batch — one gate reject, one exact
    * dup, one near dup (same words, new tail), one substring dup (23 of
    * 45 tokens verbatim from a keeper, rest fresh). */
  private def substrText(ofTag: String, freshTag: String): String = {
    val donor = passText(ofTag, "unused").split(" ").take(23)
    (donor ++ (0 until 22).map(k => f"${freshTag}x$k%03d")).mkString(" ")
  }

  private def b1 = Seq(
    row(1, passText("aaa", "tail1")),
    row(2, passText("bbb", "tail2")),
    row(3, "too short to pass the gate"),
    row(4, passText("aaa", "tail1")), // exact dup of 1
    row(5, passText("ccc", "tail5")),
    row(6, passText("ccc", "tail6")), // near dup of 5
    row(7, substrText("bbb", "ddd"))) // substring dup of 2
    .toDF("doc_id", "text", "lang", "source")

  private def b2 = Seq(
    row(8, passText("eee", "tail8")),
    row(9, passText("aaa", "tail1")),  // exact dup of stored 1
    row(10, passText("ccc", "tail10")), // near dup of stored 5
    row(11, substrText("bbb", "fff")))  // substring dup of stored 2
    .toDF("doc_id", "text", "lang", "source")

  private def corpusIds(root: String): Seq[Long] =
    spark.read.parquet(IngestPipeline.corpusDir(root))
      .select("doc_id").as[Long].collect().sorted.toSeq

  /** The index's vectors dir under either layout — erasing a quantizer
    * seed doc triggers the blue/green retrain, which moves the store to
    * the epoch names. (Lexical max is fine below epoch 10 in a spec.) */
  private def vecsDir(root: String): String = {
    val idx = IngestPipeline.indexDir(root)
    val p = new org.apache.hadoop.fs.Path(idx)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names =
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName)
        .filter(n => n.startsWith("vectors") && !n.contains("."))
      else Array.empty[String]
    s"$idx/${if (names.isEmpty) "vectors" else names.max}"
  }

  /** One comparable snapshot of all five stores. */
  private def snapshot(root: String): (Seq[Long], Seq[Long], Seq[Long],
      Set[(Long, Long)], Seq[Long], Seq[String]) = {
    def ids(p: String): Seq[Long] =
      if (new java.io.File(p).exists)
        spark.read.parquet(p).select("doc_id").distinct()
          .as[Long].collect().sorted.toSeq
      else Seq.empty
    val substr = spark.read.parquet(s"${IngestPipeline.substrDir(root)}/grams")
      .as[(Long, Long)].collect().toSet
    val vecs = spark.read.parquet(vecsDir(root))
      .select("vec_id").as[Long].collect().sorted.toSeq
    val stats = CorpusStats.stats(spark, IngestPipeline.statsFile(root))
      .collect().map(_.toString).toSeq
    (corpusIds(root), ids(s"${IngestPipeline.nearDir(root)}/grams"),
      ids(s"${IngestPipeline.nearDir(root)}/postings"), substr, vecs, stats)
  }

  test("cascade + coherence: each screen rejects its planted dup, and " +
    "all five stores admit the same survivor set") {
    val root = Files.createTempDirectory("pipe1").toString + "/p"
    val r1 = IngestPipeline.mergeBatch(spark, b1, root, batchId = 0L)
    assert(r1 == IngestPipeline.BatchReport(7, 0, 1, 1, 1, 1, 3), s"batch1: $r1")
    val r2 = IngestPipeline.mergeBatch(spark, b2, root, batchId = 1L)
    assert(r2 == IngestPipeline.BatchReport(4, 0, 0, 1, 1, 1, 1), s"batch2: $r2")

    val (corpus, grams, postings, substr, vecs, _) = snapshot(root)
    assert(corpus == Seq(1L, 2L, 5L, 8L), s"corpus: $corpus")
    assert(grams == corpus, s"near-dup grams diverge: $grams")
    assert(postings == corpus, s"near-dup postings diverge: $postings")
    assert(substr.map(_._1).toSeq.sorted.distinct == corpus,
      "substring store diverges")
    assert(vecs == corpus, s"vector index diverges: $vecs")

    // governance counters saw the raw arrivals
    val st = CorpusStats.stats(spark, IngestPipeline.statsFile(root)).collect()
    assert(st.length == 1 && st(0).getLong(1) == 11L,
      s"stats n_docs: ${st.toSeq}")

    // the index SERVES: doc 1's own embedding finds doc 1's neighbors
    val toks = graft.operators.TextOps.tokens
    val q = b1.filter(col("doc_id") === 1).withColumn("toks", toks)
      .select(col("doc_id").as("vec_id"),
        graft.plans.GraftFunctions.graftHashEmbed("toks")
          .cast("array<double>").as("embedding"))
    val served = VectorIndex.search(spark, IngestPipeline.indexDir(root), q)
      .collect()
    assert(served.nonEmpty && served.forall(r => corpus.contains(r.getLong(2))),
      s"search served non-corpus ids: ${served.toSeq}")
  }

  test("batch face parity: doc_ingest_cascade's stage frame agrees " +
    "with a real mergeBatch run — per-stage counts match the " +
    "BatchReport and the 'admitted' rows are exactly the corpus store") {
    val stages = IngestPipeline.cascadeFrame(spark, b1)
      .as[(Long, String)].collect().toMap
    assert(stages.size == 7, s"one row per input doc: $stages")
    val n = stages.values.groupBy(identity).view.mapValues(_.size).toMap
    val root = Files.createTempDirectory("pipe7").toString + "/p"
    val r = IngestPipeline.mergeBatch(spark, b1, root, batchId = 0L)
    assert(r == IngestPipeline.BatchReport(7, 0,
      n.getOrElse("gate", 0).toLong, n.getOrElse("exact", 0).toLong,
      n.getOrElse("near", 0).toLong, n.getOrElse("substr", 0).toLong,
      n.getOrElse("admitted", 0).toLong),
      s"cascade stages $n vs mergeBatch $r")
    val admittedIds = stages.collect {
      case (id, "admitted") => id }.toSeq.sorted
    assert(admittedIds == corpusIds(root),
      s"cascade admitted $admittedIds vs corpus ${corpusIds(root)}")
  }

  test("doc_id immutability guard (r7 advice #1, tightened r8): a " +
    "stored doc_id re-delivered with CHANGED text is absorbed BEFORE " +
    "ANY admission — no store takes the new text: corpus keeps the " +
    "original, the vector index holds ONE row for the vec_id (no " +
    "cross-cell double-index), the substring store holds only the " +
    "original text's hashes") {
    val root = Files.createTempDirectory("pipe-id").toString + "/p"
    IngestPipeline.mergeBatch(spark, b1, root, 0L) // corpus: 1, 2, 5
    val before = snapshot(root)
    // doc 1 re-delivered with entirely new gate-passing, non-duplicate
    // text (new fp → passes every screen), alongside one fresh doc
    val changed = Seq(
      row(1, passText("ggg", "tailG")),
      row(12, passText("hhh", "tailH")))
      .toDF("doc_id", "text", "lang", "source")
    val r = IngestPipeline.mergeBatch(spark, changed, root, 1L)
    assert(r == IngestPipeline.BatchReport(2, 1, 0, 0, 0, 0, 1),
      s"doc 1 absorbed at the door, doc 12 admitted: $r")
    val corpus = spark.read.parquet(IngestPipeline.corpusDir(root))
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    assert(corpus.map(_._1).toSeq == Seq(1L, 2L, 5L, 12L),
      s"corpus ids (must be unique, with 12 admitted): ${corpus.map(_._1).toSeq}")
    val t1 = corpus.filter(_._1 == 1L).map(_._2)
    assert(t1.length == 1 && t1(0).contains("aaaw000"),
      s"doc 1 must keep its ORIGINAL text, got: ${t1.toSeq.map(_.take(40))}")
    // the OTHER stores also kept-old for doc 1 (the r8 review finding:
    // a guard only at the corpus append leaves the index double-
    // indexing vec_id 1 across cells and the substring store holding
    // hashes of text the corpus never admitted)
    val after = snapshot(root)
    assert(after._5.count(_ == 1L) == 1,
      s"vector index must hold exactly one row for vec_id 1: ${after._5}")
    assert(after._4.filter(_._1 == 1L) == before._4.filter(_._1 == 1L),
      "substring store must keep only doc 1's ORIGINAL hashes")
    assert(after._2.count(_ == 1L) == 1 && after._3.count(_ == 1L) == 1,
      "near-dup artifact must keep one doc 1")
    // a verbatim replay of the mixed batch still appends nothing new
    IngestPipeline.mergeBatch(spark, changed, root, 1L)
    assert(corpusIds(root) == Seq(1L, 2L, 5L, 12L))
    assert(snapshot(root)._4 == after._4 && snapshot(root)._5 == after._5,
      "replay must not grow the index or substring store")

    // WITHIN-batch changed-text dup (same corruption class): one
    // doc_id delivered twice with different texts in ONE batch — only
    // the deterministic keeper (smallest text md5) admits, everywhere
    val twice = Seq(
      row(13, passText("iii", "tailI")),
      row(13, passText("jjj", "tailJ")))
      .toDF("doc_id", "text", "lang", "source")
    val r13 = IngestPipeline.mergeBatch(spark, twice, root, 2L)
    assert(r13 == IngestPipeline.BatchReport(2, 1, 0, 0, 0, 0, 1),
      s"same-id rows must collapse at the door: $r13")
    val s13 = snapshot(root)
    assert(s13._1.count(_ == 13L) == 1 && s13._5.count(_ == 13L) == 1,
      "doc 13 must be single everywhere")
    // replaying the double-delivery re-picks the same keeper: no growth
    IngestPipeline.mergeBatch(spark, twice, root, 2L)
    assert(snapshot(root)._4 == s13._4 && snapshot(root)._5 == s13._5)

    // the door runs BEFORE the screens (r8 review): an absorbed
    // changed-text re-delivery must not act as a screen PEER. Doc 20
    // duplicates ONLY the absorbed text Y — Y lives in no store, so
    // doc 20 is legitimately fresh and must admit (a post-screen
    // guard rejected it against the peer and the text was lost)
    val peer = Seq(
      row(1, passText("kkk", "tailK")),  // stored id, changed text Y
      row(20, passText("kkk", "tailK"))) // fresh id, text == Y
      .toDF("doc_id", "text", "lang", "source")
    val rp = IngestPipeline.mergeBatch(spark, peer, root, 3L)
    assert(rp == IngestPipeline.BatchReport(2, 1, 0, 0, 0, 0, 1),
      s"doc 20 must admit — its text is stored nowhere: $rp")
    assert(corpusIds(root).contains(20L), "doc 20 missing from corpus")
  }

  test("crash matrix: a failure after EVERY stage converges on replay " +
    "to the crash-free stores (same batchId, as streaming replays)") {
    val base = Files.createTempDirectory("pipe2").toString
    val ref = s"$base/ref"
    IngestPipeline.mergeBatch(spark, b1, ref, 0L)
    IngestPipeline.mergeBatch(spark, b2, ref, 1L)
    val want = snapshot(ref)
    for (stage <- Seq("neardup", "substr", "index", "corpus", "stats")) {
      val root = s"$base/crash-$stage"
      IngestPipeline.mergeBatch(spark, b1, root, 0L)
      intercept[RuntimeException] {
        IngestPipeline.mergeBatch(spark, b2, root, 1L,
          afterStage = s => if (s == stage) throw new RuntimeException(s))
      }
      // the replay (streaming's recovery unit, same id) must converge
      val r = IngestPipeline.mergeBatch(spark, b2, root, 1L)
      assert(r.admitted <= 1, s"crash@$stage: replay report $r")
      assert(snapshot(root) == want,
        s"crash@$stage: stores diverged from the crash-free run")
    }
  }

  test("a retrained index keeps serving through the pipeline: the next " +
    "mergeBatch must NOT re-seed the quantizer (the legacy-path probe " +
    "would pair fresh centroids with the old epoch's cell layout)") {
    val root = Files.createTempDirectory("pipe8").toString + "/p"
    IngestPipeline.mergeBatch(spark, b1, root, 0L)
    VectorIndex.retrain(spark, IngestPipeline.indexDir(root), k = 2)
    val centAfterRetrain = spark.read
      .parquet(s"${IngestPipeline.indexDir(root)}/centroids@1")
      .collect().map(_.toString).sorted.toSeq
    val r = IngestPipeline.mergeBatch(spark, b2, root, 1L)
    assert(r.admitted == 1L, s"post-retrain batch: $r")
    val centAfterBatch = spark.read
      .parquet(s"${IngestPipeline.indexDir(root)}/centroids@1")
      .collect().map(_.toString).sorted.toSeq
    assert(centAfterBatch == centAfterRetrain,
      "mergeBatch re-trained over the retrained epoch's layout")
    // and the index stays coherent with the corpus (epoch layout)
    val vecs = spark.read
      .parquet(s"${IngestPipeline.indexDir(root)}/vectors@1")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(vecs == corpusIds(root),
      s"index diverged post-retrain: $vecs vs ${corpusIds(root)}")
  }

  test("streaming face: two file batches under one checkpoint with a " +
    "restart build the same coherent stores") {
    val base = Files.createTempDirectory("pipe3").toString
    val (src, root, ckpt) = (s"$base/src", s"$base/p", s"$base/ckpt")
    def json(id: Long, text: String): String =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s"}"""
    def write(name: String, rows: Seq[String]): Unit = {
      Files.createDirectories(java.nio.file.Paths.get(src))
      Files.write(java.nio.file.Paths.get(src, name),
        rows.mkString("\n").getBytes("UTF-8"))
      ()
    }
    write("b1.json", Seq(
      json(1, passText("aaa", "tail1")), json(2, passText("bbb", "tail2"))))
    val q1 = IngestPipeline.ingest(spark, src, root, ckpt).start()
    q1.processAllAvailable(); q1.stop()
    assert(corpusIds(root) == Seq(1L, 2L))
    write("b2.json", Seq(
      json(3, passText("aaa", "tail3")), // near dup of 1
      json(4, passText("ggg", "tail4"))))
    val q2 = IngestPipeline.ingest(spark, src, root, ckpt).start()
    q2.processAllAvailable(); q2.stop()
    val (corpus, grams, _, substr, vecs, _) = snapshot(root)
    assert(corpus == Seq(1L, 2L, 4L), s"corpus: $corpus")
    assert(grams == corpus && vecs == corpus
      && substr.map(_._1).toSeq.distinct.sorted == corpus,
      "streaming stores incoherent")
  }

  test("real-corpus parity: the oracle-checked doc_ingest_cascade " +
    "equals one mergeBatch of the sf documents table — stage counts " +
    "match the BatchReport and the admitted set IS the corpus store") {
    val root = Files.createTempDirectory("pipecorpus").toString + "/p"
    val docs = graft.Tables.documentsPar(spark, sf())
      .select("doc_id", "lang", "source", "text")
    val stages = IngestPipeline.cascadeFrame(spark, docs)
      .as[(Long, String)].collect()
    val n = stages.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val r = IngestPipeline.mergeBatch(spark, docs, root, 0L)
    assert(r == IngestPipeline.BatchReport(stages.length.toLong, 0L,
      n.getOrElse("gate", 0L), n.getOrElse("exact", 0L),
      n.getOrElse("near", 0L), n.getOrElse("substr", 0L),
      n.getOrElse("admitted", 0L)),
      s"cascade stages $n vs real-corpus mergeBatch $r")
    val admitted = stages.collect { case (id, "admitted") => id }.sorted.toSeq
    assert(corpusIds(root) == admitted,
      "the admitted stage rows must be exactly the corpus store")
  }

  test("randomized trials: any id-ordered batch split with random " +
    "crash injection + replay converges to the reference stores " +
    "(seeded; generalizes the fixed crash matrix)") {
    val rnd = new scala.util.Random(7)
    val base = Files.createTempDirectory("piperand").toString
    val ref = s"$base/ref"
    IngestPipeline.mergeBatch(spark, b1, ref, 0L)
    IngestPipeline.mergeBatch(spark, b2, ref, 1L)
    val want = snapshot(ref)
    // id-ordered splits model the stream's arrival order: every
    // interacting pair's LOWER (winning) member lands in the stores
    // no later than its higher peer, so any such split must produce
    // the same admitted set as the 2-batch reference
    val ids = b1.unionByName(b2).select("doc_id").as[Long].collect().sorted
    val stages = Seq("neardup", "substr", "index", "corpus", "stats")
    for (trial <- 0 until 3) {
      val root = s"$base/t$trial"
      val cutIds = rnd.shuffle(ids.drop(1).toSeq).take(rnd.nextInt(3) + 1).toSet
      val batches = ids.foldLeft(Vector(Vector.empty[Long])) { (acc, id) =>
        if (cutIds(id)) acc :+ Vector(id)
        else acc.init :+ (acc.last :+ id)
      }.filter(_.nonEmpty)
      var bid = 0L
      for (bIds <- batches) {
        val batch = b1.unionByName(b2).filter(col("doc_id").isin(bIds: _*))
        if (rnd.nextBoolean()) {
          // inject a crash after a random stage commit (which may not
          // fire if the batch admits nothing — then no crash happens)
          val stage = stages(rnd.nextInt(stages.length))
          try {
            IngestPipeline.mergeBatch(spark, batch, root, bid,
              afterStage = s =>
                if (s == stage) throw new RuntimeException(s"crash@$s"))
            ()
          } catch { case _: RuntimeException => () }
        }
        IngestPipeline.mergeBatch(spark, batch, root, bid) // the replay
        bid += 1
      }
      assert(snapshot(root) == want,
        s"trial $trial (cuts $cutIds) diverged from the reference")
    }
  }

  test("an interrupted maintenance swap (forget/compactAll crash " +
    "between delete and rename) is resumed by the next batch: the " +
    "store must not read as absent — screens would degrade, duplicates " +
    "would be admitted, and the only copy could later be lost") {
    val base = Files.createTempDirectory("pipe9").toString
    val ref = s"$base/ref"
    IngestPipeline.mergeBatch(spark, b1, ref, 0L)
    val r2ref = IngestPipeline.mergeBatch(spark, b2, ref, 1L)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for ((rel, stage) <- Seq(
        "corpus" -> "corpus.forget",
        "neardup/grams" -> "neardup/grams.tmp",
        "substr/grams" -> "substr/grams.stage")) {
      val root = s"$base/sw-${rel.replace('/', '_')}"
      IngestPipeline.mergeBatch(spark, b1, root, 0L)
      // simulate the mid-swap crash window: live renamed to the stage
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/$rel"),
        new org.apache.hadoop.fs.Path(s"$root/$stage")), s"setup $stage")
      val r2 = IngestPipeline.mergeBatch(spark, b2, root, 1L)
      assert(r2 == r2ref, s"mid-swap $stage: $r2 != $r2ref")
      assert(corpusIds(root) == corpusIds(ref),
        s"mid-swap $stage: corpus diverged")
    }
    // the keyed erasure ITSELF resumes a mid-compaction swap: with the
    // corpus sitting at corpus.stage, forget must remove the doc, not
    // report 0 and let the next batch resurrect it
    val root2 = s"$base/sw-forget"
    IngestPipeline.mergeBatch(spark, b1, root2, 0L)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root2/corpus"),
      new org.apache.hadoop.fs.Path(s"$root2/corpus.stage")))
    assert(IngestPipeline.forget(spark, root2, Seq(1L)) == 1L,
      "forget no-opped on a mid-compaction-swap corpus")
    assert(!corpusIds(root2).contains(1L), "erased doc resurrected")

    // the DOOR's stored-id probe also resumes FIRST (r8 review): with
    // the corpus mid-swap, a stored id re-delivered with changed text
    // must still be absorbed at the door — a probe-before-resume would
    // read the store as absent, no-op the guard, and append a
    // duplicate doc_id row
    val root3 = s"$base/sw-door"
    IngestPipeline.mergeBatch(spark, b1, root3, 0L) // corpus: 1, 2, 5
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root3/corpus"),
      new org.apache.hadoop.fs.Path(s"$root3/corpus.forget")))
    val rDoor = IngestPipeline.mergeBatch(spark,
      Seq(row(1, passText("zzz", "tailZ")))
        .toDF("doc_id", "text", "lang", "source"), root3, 1L)
    assert(rDoor == IngestPipeline.BatchReport(1, 1, 0, 0, 0, 0, 0),
      s"mid-swap door: stored id must absorb, got $rDoor")
    assert(corpusIds(root3) == Seq(1L, 2L, 5L),
      "mid-swap door: corpus doc_ids must stay unique")
  }

  test("compactAll bounds every store's file count and changes no " +
    "screening or serving result") {
    val root = Files.createTempDirectory("pipe5").toString + "/p"
    IngestPipeline.mergeBatch(spark, b1, root, 0L)
    IngestPipeline.mergeBatch(spark, b2, root, 1L)
    val pre = snapshot(root)
    IngestPipeline.compactAll(spark, root, nFiles = 2)
    assert(snapshot(root) == pre, "compaction changed store contents")
    def parquetFiles(p: String): Int = {
      val s = Files.walk(java.nio.file.Paths.get(p))
      try {
        val it = s.iterator()
        var n = 0
        while (it.hasNext) if (it.next().toString.endsWith(".parquet")) n += 1
        n
      } finally s.close()
    }
    assert(parquetFiles(IngestPipeline.corpusDir(root)) <= 2)
    assert(parquetFiles(s"${IngestPipeline.nearDir(root)}/grams") <= 2)
    assert(parquetFiles(s"${IngestPipeline.substrDir(root)}/grams") <= 2)
    // screening still works: a replay-shaped dup of stored doc 1
    val r = IngestPipeline.mergeBatch(spark,
      Seq(row(40, passText("aaa", "tail1"))).toDF("doc_id", "text", "lang", "source"),
      root, 2L)
    assert(r.exactRejected == 1L, s"post-compaction screen: $r")
  }

  test("auto-compaction cadence (r9 verdict #4): with compactEvery set " +
    "mergeBatch fires compactAll past the threshold — stores match an " +
    "uncompacted twin bit-for-bit, file counts stay bounded, the " +
    "persisted counter resets, and a crash at the compaction point " +
    "converges on replay") {
    val rootA = Files.createTempDirectory("pipe-ac-a").toString + "/p"
    val rootB = Files.createTempDirectory("pipe-ac-b").toString + "/p"
    def freshBatch(i: Int) =
      (0 until 3).map { j =>
        row(i * 10L + j, passText(f"cad$i%02d${('a' + j).toChar}", s"t$i$j"))
      }.toDF("doc_id", "text", "lang", "source")
    var fired = 0
    for (i <- 1 to 5) {
      IngestPipeline.mergeBatch(spark, freshBatch(i), rootA, i.toLong,
        afterStage = s => if (s == "compact") fired += 1,
        compactEvery = 2, compactFiles = 2)
      IngestPipeline.mergeBatch(spark, freshBatch(i), rootB, i.toLong)
    }
    // 5 appending batches at cadence 2 → compactions after batches 2, 4
    assert(fired == 2, s"expected 2 compactions, got $fired")
    assert(IngestPipeline.appendsSinceCompact(spark, rootA) == 1L,
      "persisted counter did not reset on compaction")
    assert(snapshot(rootA) == snapshot(rootB),
      "auto-compaction changed store contents vs the uncompacted twin")
    def parquetFiles(p: String): Int = {
      val s = Files.walk(java.nio.file.Paths.get(p))
      try {
        val it = s.iterator()
        var n = 0
        while (it.hasNext) if (it.next().toString.endsWith(".parquet")) n += 1
        n
      } finally s.close()
    }
    assert(parquetFiles(IngestPipeline.corpusDir(rootA)) <
      parquetFiles(IngestPipeline.corpusDir(rootB)),
      "cadence did not bound the corpus file count")

    // crash at the compaction point: batch 6 trips the cadence (counter
    // 1 → 2), compactAll completes, afterStage("compact") dies before
    // the checkpoint would commit. The replay is door-absorbed and the
    // stores converge to the crash-free twin.
    val b6 = freshBatch(6)
    intercept[RuntimeException] {
      IngestPipeline.mergeBatch(spark, b6, rootA, 6L,
        afterStage = s => if (s == "compact")
          throw new RuntimeException("injected"),
        compactEvery = 2, compactFiles = 2)
    }
    // replay (same batch, same id) — no injection this time
    IngestPipeline.mergeBatch(spark, b6, rootA, 6L,
      compactEvery = 2, compactFiles = 2)
    IngestPipeline.mergeBatch(spark, b6, rootB, 6L)
    assert(snapshot(rootA) == snapshot(rootB),
      "crash-at-compaction replay diverged from the crash-free twin")
    assert(IngestPipeline.appendsSinceCompact(spark, rootA) == 0L,
      "counter must reflect the completed pre-crash compaction")
  }

  test("growth-based compaction cadence (r12, from the sf10 soak's " +
    "O(store) sweep face): compactGrowth fires on each fractional " +
    "store growth — geometric schedule, stores bit-identical to an " +
    "uncompacted twin, legacy single-long counter files still parse") {
    val rootA = Files.createTempDirectory("pipe-gc-a").toString + "/p"
    val rootB = Files.createTempDirectory("pipe-gc-b").toString + "/p"
    def freshBatch(i: Int) =
      (0 until 3).map { j =>
        row(i * 10L + j, passText(f"gro$i%02d${('a' + j).toChar}", s"t$i$j"))
      }.toDF("doc_id", "text", "lang", "source")
    // growth 1.0 = compact on each doubling. All batches admit 3 docs:
    // base 0 → batch 1 fires (3 ≥ 0), base 3 → batch 2 fires (3 ≥ 3),
    // base 6 → batch 4 fires (6 ≥ 6), base 12 → batch 8 fires
    // (12 ≥ 12), base 24. Geometric back-off, measured per batch.
    val fired = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- 1 to 8) {
      IngestPipeline.mergeBatch(spark, freshBatch(i), rootA, i.toLong,
        afterStage = s => if (s == "compact") fired += i,
        compactGrowth = 1.0, compactFiles = 2)
      IngestPipeline.mergeBatch(spark, freshBatch(i), rootB, i.toLong)
    }
    assert(fired.toSeq == Seq(1, 2, 4, 8),
      s"geometric schedule violated: fired at $fired")
    val ctr = IngestPipeline.readCompactCtr(spark, rootA)
    assert(ctr == IngestPipeline.CompactCtr(0L, 0L, 24L),
      s"post-sweep counter state: $ctr")
    assert(snapshot(rootA) == snapshot(rootB),
      "growth-cadence compaction changed store contents vs the twin")

    // legacy single-long counter (pre-r12 format) parses as
    // (appends, 0, 0) — an upgraded deployment resumes its batch
    // cadence; in growth mode the zero base RE-SEEDS from the store's
    // true mass at the next appending batch (r13 — see the
    // re-anchoring test below), so no early-sweep burst
    val p = new org.apache.hadoop.fs.Path(s"$rootA/_compact_ctr")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write("7".getBytes("UTF-8")) finally out.close()
    assert(IngestPipeline.readCompactCtr(spark, rootA) ==
      IngestPipeline.CompactCtr(7L, 0L, 0L), "legacy counter parse")
    assert(IngestPipeline.appendsSinceCompact(spark, rootA) == 7L)
  }

  test("a non-finite compactGrowth fails loudly at the library face: " +
    "Inf claims cadence-on yet can never fire, NaN reads as " +
    "cadence-off — both would silently skip the sweep they schedule") {
    val root = Files.createTempDirectory("pipe-gc-nf").toString + "/p"
    val batch = Seq(row(1L, passText("nfx", "t0")))
      .toDF("doc_id", "text", "lang", "source")
    intercept[IllegalArgumentException] {
      IngestPipeline.mergeBatch(spark, batch, root, 1L,
        compactGrowth = Double.PositiveInfinity)
    }
    intercept[IllegalArgumentException] {
      IngestPipeline.mergeBatch(spark, batch, root, 1L,
        compactGrowth = Double.NaN)
    }
  }

  test("the cadence guard covers negative knobs at BOTH faces and the " +
    "streaming entry validates at construction (r14 verdict #4 + " +
    "ADVICE): negative compactGrowth/compactEvery silently read as " +
    "cadence-off, and a misconfigured ingest must fail before the " +
    "stream starts, not inside foreachBatch at the first micro-batch") {
    val root = Files.createTempDirectory("pipe-gc-neg").toString + "/p"
    val batch = Seq(row(1L, passText("ngx", "t0")))
      .toDF("doc_id", "text", "lang", "source")
    intercept[IllegalArgumentException] {
      IngestPipeline.mergeBatch(spark, batch, root, 1L,
        compactGrowth = -0.5)
    }
    intercept[IllegalArgumentException] {
      IngestPipeline.mergeBatch(spark, batch, root, 1L,
        compactEvery = -2)
    }
    // ingest throws at CONSTRUCTION: no stream, no checkpoint, no
    // first-batch surprise (paths are never touched)
    intercept[IllegalArgumentException] {
      IngestPipeline.ingest(spark, s"$root/src", s"$root/store",
        s"$root/ckpt", compactGrowth = Double.PositiveInfinity)
    }
    intercept[IllegalArgumentException] {
      IngestPipeline.ingest(spark, s"$root/src", s"$root/store",
        s"$root/ckpt", compactEvery = -1)
    }
  }

  test("a degenerate compactFiles fails at construction at BOTH faces " +
    "(r15 ADVICE): 0 or negative passed the old guard and only failed " +
    "inside compactAll's repartition(nFiles) at the FIRST SWEEP — " +
    "mid-stream, the exact fails-late class the other knob guards close") {
    val root = Files.createTempDirectory("pipe-gc-cf").toString + "/p"
    val batch = Seq(row(1L, passText("cfx", "t0")))
      .toDF("doc_id", "text", "lang", "source")
    intercept[IllegalArgumentException] {
      IngestPipeline.mergeBatch(spark, batch, root, 1L, compactFiles = 0)
    }
    intercept[IllegalArgumentException] {
      IngestPipeline.mergeBatch(spark, batch, root, 1L, compactFiles = -4)
    }
    intercept[IllegalArgumentException] {
      IngestPipeline.ingest(spark, s"$root/src", s"$root/store",
        s"$root/ckpt", compactFiles = 0)
    }
    // the direct public face too (r16 ADVICE #1): same clear message,
    // before any sub-compactor sees the degenerate target
    val direct = intercept[IllegalArgumentException] {
      IngestPipeline.compactAll(spark, root, nFiles = 0)
    }
    assert(direct.getMessage.contains("nFiles must be >= 1"))
    // the documented default remains constructible and SWEEPS: a real
    // cadence with the default target compacts without the late failure
    IngestPipeline.mergeBatch(spark, batch, root, 1L, compactEvery = 1)
  }

  private def parquetFiles(dir: String): Seq[String] = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try {
      val b = Seq.newBuilder[String]
      s.forEach(p => if (p.toString.endsWith(".parquet")) b += p.toString)
      b.result()
    } finally s.close()
  }

  test("every corpus write path lands the SAME on-disk column order " +
    "(r16, closing the r15 canonLog-class residual): the standalone " +
    "maintainer inherited the CALLER's batch column order (two " +
    "differently-ordered batches to one store mixed files), the " +
    "composed pipeline wrote its own join-chain order, and the " +
    "rewrites (compactAll, forget) preserved whichever order the " +
    "listing-sampled read inferred — canonCorpus makes every file a " +
    "pure function of its column SET") {
    // ---- standalone face: one store, two caller column orders ----
    val store = Files.createTempDirectory("pipe-canon-s").toString + "/c"
    val canonical5 = Seq("doc_id", "text", "lang", "source", "fp")
    assert(CorpusIngest.mergeBatch(spark,
      Seq(row(1L, passText("cna", "t1"))).toDF(
        "doc_id", "text", "lang", "source"), store) == 1L)
    assert(CorpusIngest.mergeBatch(spark,
      Seq(row(2L, passText("cnb", "t2"))).toDF(
        "doc_id", "text", "lang", "source")
        .select("source", "lang", "text", "doc_id"), store) == 1L)
    val sFiles = parquetFiles(store)
    assert(sFiles.size >= 2)
    sFiles.foreach { f =>
      assert(spark.read.parquet(f).schema.fieldNames.toSeq == canonical5,
        s"non-canonical column order in standalone-face file $f")
    }

    // ---- composed face: append, compaction rewrite, erasure rewrite,
    // append AFTER the rewrites ----
    val root = Files.createTempDirectory("pipe-canon-p").toString + "/p"
    // wire docSchema order, then fp, then the gate's evidence columns
    // sorted by name — hardcoded so a formula drift fails the pin
    val canonical14 = Seq("doc_id", "text", "lang", "source", "fp",
      "frac_alpha", "mean_wl", "n_email", "n_id9", "n_ip", "n_phone",
      "n_pii", "n_stop", "n_words")
    IngestPipeline.mergeBatch(spark, b1, root, 1L)
    IngestPipeline.mergeBatch(spark, b2, root, 2L)
    IngestPipeline.compactAll(spark, root, 2)
    assert(IngestPipeline.forget(spark, root, Seq(1L)) == 1L)
    IngestPipeline.mergeBatch(spark,
      Seq(row(20L, passText("cnc", "t20")))
        .toDF("doc_id", "text", "lang", "source"), root, 3L)
    val cFiles = parquetFiles(IngestPipeline.corpusDir(root))
    assert(cFiles.nonEmpty)
    cFiles.foreach { f =>
      assert(spark.read.parquet(f).schema.fieldNames.toSeq == canonical14,
        s"non-canonical column order in composed-face file $f")
    }
    // canonCorpus is order-insensitive and idempotent: any permutation
    // of one column set projects to the one canonical order
    val perm = spark.read.parquet(IngestPipeline.corpusDir(root))
      .select(canonical14.reverse.map(col): _*)
    assert(CorpusIngest.canonCorpus(perm)
      .schema.fieldNames.toSeq == canonical14)
  }

  test("legacy mixed-SET corpus dir converges at compactAll to the " +
    "UNION column set (r16 ADVICE #2): the convergence rewrite reads " +
    "with mergeSchema, so columns absent from the listing-sampled " +
    "footer survive the Overwrite (null where a file lacked them) " +
    "instead of being silently dropped") {
    val root = Files.createTempDirectory("pipe-ms").toString + "/p"
    val live = IngestPipeline.corpusDir(root)
    // a pre-canonicalization store written by two faces into ONE dir
    // (never a supported contract): one file carries only the wire
    // columns + fp, the other an extra evidence column
    Seq((1L, "legacy one", "en", "a", "fp1"))
      .toDF("doc_id", "text", "lang", "source", "fp")
      .coalesce(1).write.mode("append").parquet(live)
    Seq((2L, "legacy two", "en", "a", "fp2", 7L))
      .toDF("doc_id", "text", "lang", "source", "fp", "n_words")
      .coalesce(1).write.mode("append").parquet(live)
    IngestPipeline.compactAll(spark, root, 1)
    val canonical6 = Seq("doc_id", "text", "lang", "source", "fp", "n_words")
    val files = parquetFiles(live)
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(spark.read.parquet(f).schema.fieldNames.toSeq == canonical6,
        s"converged file $f lacks the union set in canonical order")
    }
    val rows = spark.read.parquet(live).orderBy("doc_id")
      .select("doc_id", "n_words").collect()
    assert(rows.map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq == Seq((1L, -1L), (2L, 7L)))
  }

  test("growth-base re-anchoring (r12 verdict #2 + ADVICE #1): the " +
    "trigger base is the corpus's TRUE row count — erasure refreshes " +
    "it (a forget-half store fires on the halved base, not the stale " +
    "admissions total) and a zero-base counter over an existing store " +
    "re-seeds from store mass instead of firing an early-sweep burst") {
    val rootA = Files.createTempDirectory("pipe-ra-a").toString + "/p"
    def freshBatch(i: Int) =
      (0 until 3).map { j =>
        row(i * 10L + j, passText(f"anc$i%02d${('a' + j).toChar}", s"t$i$j"))
      }.toDF("doc_id", "text", "lang", "source")
    val fired = scala.collection.mutable.ArrayBuffer.empty[Int]
    def merge(i: Int): Unit = {
      IngestPipeline.mergeBatch(spark, freshBatch(i), rootA, i.toLong,
        afterStage = s => if (s == "compact") fired += i,
        compactGrowth = 1.0, compactFiles = 2)
      ()
    }
    (1 to 8).foreach(merge)
    assert(fired.toSeq == Seq(1, 2, 4, 8), s"pre-erasure schedule: $fired")
    assert(IngestPipeline.readCompactCtr(spark, rootA) ==
      IngestPipeline.CompactCtr(0L, 0L, 24L), "anchor after batch 8")

    // forget HALF the store (batches 1-4's 12 docs): the base
    // re-anchors to the surviving 12 rows...
    val removed = IngestPipeline.forget(spark, rootA,
      (1 to 4).flatMap(i => (0 until 3).map(j => i * 10L + j)))
    assert(removed == 12L, s"removed $removed")
    assert(IngestPipeline.readCompactCtr(spark, rootA) ==
      IngestPipeline.CompactCtr(0L, 0L, 12L),
      "erasure did not re-anchor the growth base")
    // ...so the next sweep fires once 12 docs are admitted (batch 12);
    // the stale admissions total (24) would have waited until batch 16
    (9 to 12).foreach(merge)
    assert(fired.toSeq == Seq(1, 2, 4, 8, 12),
      s"post-erasure schedule: $fired")
    assert(IngestPipeline.readCompactCtr(spark, rootA) ==
      IngestPipeline.CompactCtr(0L, 0L, 24L),
      "post-sweep anchor must be the actual store count")

    // zero-base seed: a legacy/torn counter over this EXISTING 24-row
    // store re-seeds from pre-epoch store mass at the next appending
    // batch (pre-r13: base 0 fired immediately — an early O(store)
    // sweep, then more on each doubling of post-reset admits)
    val p = new org.apache.hadoop.fs.Path(s"$rootA/_compact_ctr")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write("7".getBytes("UTF-8")) finally out.close()
    merge(13)
    assert(fired.toSeq == Seq(1, 2, 4, 8, 12),
      "zero-base counter fired an early sweep on an existing store")
    assert(IngestPipeline.readCompactCtr(spark, rootA) ==
      IngestPipeline.CompactCtr(8L, 3L, 24L),
      "seeded base must be the pre-epoch store mass")
  }

  test("zero-survivor batches still advance the substring arrival " +
    "watermark and run the contract guard on the composed face (r10 " +
    "review: the bookkeeping lived inside the admission block, so a " +
    "fully-screened-out batch recreated the stale-watermark gap)") {
    val root = Files.createTempDirectory("pipe-zs").toString + "/p"
    IngestPipeline.mergeBatch(spark,
      Seq(row(10, passText("zsa", "t1"))).toDF("doc_id", "text", "lang", "source"),
      root, 0L)
    assert(SubstrIngest.readMaxId(spark,
      IngestPipeline.substrDir(root)).contains(10L))
    // batch 2: ONE doc, an exact duplicate of stored 10 → every screen
    // path ends with zero survivors; the watermark must still advance
    val r2 = IngestPipeline.mergeBatch(spark,
      Seq(row(50, passText("zsa", "t1"))).toDF("doc_id", "text", "lang", "source"),
      root, 1L)
    assert(r2.admitted == 0L && r2.exactRejected == 1L, s"$r2")
    assert(SubstrIngest.readMaxId(spark,
      IngestPipeline.substrDir(root)).contains(50L),
      "zero-survivor batch left the arrival watermark stale")
    // batch 3: a FRESH sub-watermark doc — must be admitted (the
    // lower-id keeper convention) AND counted as a contract violation
    val c0 = SubstrIngest.nonMonotoneArrivals.get()
    val r3 = IngestPipeline.mergeBatch(spark,
      Seq(row(30, passText("zsb", "t3"))).toDF("doc_id", "text", "lang", "source"),
      root, 2L)
    assert(r3.admitted == 1L, s"$r3")
    assert(SubstrIngest.nonMonotoneArrivals.get() == c0 + 1,
      "sub-watermark arrival after a zero-survivor batch went undetected")
  }

  test("forget erases a document from corpus, near-dup artifact, " +
    "substring store and vector index; a later copy of the erased text " +
    "is admitted as new (the stated erasure/dedup trade); idempotent") {
    val root = Files.createTempDirectory("pipe6").toString + "/p"
    IngestPipeline.mergeBatch(spark, b1, root, 0L)
    IngestPipeline.mergeBatch(spark, b2, root, 1L)
    assert(corpusIds(root) == Seq(1L, 2L, 5L, 8L))
    assert(IngestPipeline.forget(spark, root, Seq(2L)) == 1L)
    assert(IngestPipeline.forget(spark, root, Seq(2L)) == 0L, "not idempotent")
    val (corpus, grams, postings, substr, vecs, _) = snapshot(root)
    assert(corpus == Seq(1L, 5L, 8L) && grams == corpus
      && postings == corpus && vecs == corpus
      && substr.map(_._1).toSeq.distinct.sorted == corpus,
      s"erasure left residue: $corpus / $grams / $vecs")
    // the erased text's dedup evidence is gone: an exact copy, a near
    // dup, and a substring dup of old doc 2 now pass their screens
    val again = Seq(
      row(50, passText("bbb", "tail2")),   // exact copy of erased 2
      row(52, substrText("bbb", "hhh")))   // substring dup of erased 2
      .toDF("doc_id", "text", "lang", "source")
    val r = IngestPipeline.mergeBatch(spark, again, root, 2L)
    // 52 is a substring dup OF 50 within the batch (50 keeps its donor
    // prefix), so exactly one of the pair is admitted
    assert(r.exactRejected == 0L && r.admitted == 1L,
      s"erased doc still rejects its future copies: $r")
  }

  test("forget crash matrix (r8 verdict #4): a failure after EVERY " +
    "purge stage converges on a re-run with the same ids to the " +
    "crash-free erasure, searchCorpus face included") {
    val base = Files.createTempDirectory("pipe-fm").toString
    val ref = s"$base/ref"
    IngestPipeline.mergeBatch(spark, b1, ref, 0L)
    IngestPipeline.mergeBatch(spark, b2, ref, 1L)
    IngestPipeline.forget(spark, ref, Seq(2L, 5L))
    val want = snapshot(ref)
    // the same query set probes every root's serving face
    def queriesOf(root: String) = spark.read
      .parquet(IngestPipeline.corpusDir(root))
      .withColumn("toks", graft.operators.TextOps.tokens)
      .select(col("doc_id").as("vec_id"),
        graft.plans.GraftFunctions.graftHashEmbed("toks")
          .cast("array<double>").as("embedding"))
    val wantNbrs = IngestPipeline.searchCorpus(spark, ref, queriesOf(ref),
      lit(true)).select("vec_id").as[Long].collect().toSet
    assert(!wantNbrs.contains(2L) && !wantNbrs.contains(5L),
      s"crash-free face serves erased docs: $wantNbrs")
    for (stage <- Seq("corpus", "near_grams", "near_postings",
        "substr_grams", "index")) {
      val root = s"$base/crash-$stage"
      IngestPipeline.mergeBatch(spark, b1, root, 0L)
      IngestPipeline.mergeBatch(spark, b2, root, 1L)
      intercept[RuntimeException] {
        IngestPipeline.forget(spark, root, Seq(2L, 5L),
          afterStage = s => if (s == stage) throw new RuntimeException(s))
      }
      // partially-erased, never corrupted: re-running with the same
      // ids completes the erasure (the idempotence the doc argues —
      // now injected, not assumed)
      IngestPipeline.forget(spark, root, Seq(2L, 5L))
      assert(snapshot(root) == want,
        s"forget crash@$stage: stores diverged from the crash-free run")
      val nbrs = IngestPipeline.searchCorpus(spark, root, queriesOf(root),
        lit(true)).select("vec_id").as[Long].collect().toSet
      assert(nbrs == wantNbrs,
        s"forget crash@$stage: serving face diverged ($nbrs vs $wantNbrs)")
    }
  }

  test("admission order is load-bearing (r8 advice #1): a corpus-FIRST " +
    "commit order plus a crash before the other admissions makes the " +
    "replay door-drop the survivor, leaving the other four stores " +
    "permanently short — the divergence the corpus-LAST order prevents") {
    val root = Files.createTempDirectory("pipe-ord").toString + "/p"
    IngestPipeline.mergeBatch(spark, b1, root, 0L)
    val before = snapshot(root)
    // simulate the forbidden reorder crashing: b2's survivor (doc 8)
    // reaches ONLY the corpus store; near-dup/substr/index got nothing
    val corpusStore = IngestPipeline.corpusDir(root)
    val cols = spark.read.parquet(corpusStore).columns
    val surv = CorpusIngest.gate(b2.filter(col("doc_id") === 8L))
      .withColumn("fp", md5(col("text").cast("binary")))
      .select(cols.map(col): _*).localCheckpoint(true)
    CorpusIngest.appendFresh(spark, corpusStore, surv)
    // the replay absorbs doc 8 at the door (corpus membership = "fully
    // admitted") — exactly the absorption that is SAFE under
    // corpus-last and divergent under corpus-first
    val r = IngestPipeline.mergeBatch(spark, b2, root, 1L)
    assert(r.admitted == 0L && r.absorbed == 1L,
      s"replay must door-drop the corpus-stored survivor: $r")
    val (corpus, grams, postings, substr, vecs, _) = snapshot(root)
    assert(corpus.contains(8L), "doc 8 missing from corpus")
    assert(!grams.contains(8L) && !postings.contains(8L)
        && !vecs.contains(8L) && !substr.map(_._1).toSet.contains(8L),
      "expected divergence did not materialize — if this now converges, " +
        "the door semantics changed and the mergeBatch order comment " +
        "must be revisited")
    // and the b1-era stores are otherwise untouched
    assert(vecs == before._5, s"b1 vectors disturbed: $vecs")
  }

  test("metadata-filtered search over the composed store: every " +
    "neighbor satisfies the corpus predicate (filtered ANN; the " +
    "store/index coherence invariant makes doc_id ≡ vec_id sound)") {
    val root = Files.createTempDirectory("pipe10").toString + "/p"
    val docs = (0 until 6).map(i => (i.toLong,
        passText(f"m$i%03d", s"tail$i"), "en",
        if (i % 2 == 0) "sa" else "sb"))
      .toDF("doc_id", "text", "lang", "source")
    val r = IngestPipeline.mergeBatch(spark, docs, root, 0L)
    assert(r.admitted == 6L, s"fixture must fully admit: $r")
    val qs = docs.withColumn("toks", graft.operators.TextOps.tokens)
      .select(col("doc_id").as("vec_id"),
        graft.plans.GraftFunctions.graftHashEmbed("toks")
          .cast("array<double>").as("embedding"))
      .filter(col("vec_id") < 2)
    val res = IngestPipeline.searchCorpus(spark, root, qs,
      col("source") === "sa").collect()
    assert(res.nonEmpty && res.forall(_.getLong(2) % 2 == 0),
      s"filtered search returned a non-sa doc: ${res.toSeq}")
    // a root with no stores serves the empty result, not a path error
    assert(IngestPipeline.searchCorpus(spark,
      Files.createTempDirectory("pipe11").toString + "/fresh", qs,
      col("source") === "sa").isEmpty)
  }

  /** b1 then b2 into a fresh root, with the Spark jobs of b2's
    * mergeBatch (filled stores: each of b2's dups makes its screen read
    * its store) — shared by the jobs gate and the schema pin. */
  private lazy val filled: (String, Seq[String]) = {
    val root = Files.createTempDirectory("pipe-jobs").toString + "/p"
    IngestPipeline.mergeBatch(spark, b1, root, batchId = 0L)
    val (r2, jobs) = graft.JobCount(spark)(
      IngestPipeline.mergeBatch(spark, b2, root, batchId = 1L))
    assert(r2 == IngestPipeline.BatchReport(4, 0, 0, 1, 1, 1, 1), s"b2: $r2")
    (root, jobs)
  }

  /** Jobs of b2's mergeBatch as measured in this suite's session
    * (local[4], 4 shuffle partitions, AQE on). Equality is expected;
    * a lower count after a change should lower this bound with it. */
  private val JobsPerFilledBatch = 95

  test("jobs per batch: a mergeBatch into filled stores stays within " +
    "its measured job count, so no count or schema-inference job " +
    "comes back") {
    val (_, jobs) = filled
    val bySite = jobs.groupBy(identity).toSeq
      .map { case (s, xs) => s"${xs.size} × $s" }.sorted.mkString("; ")
    info(s"${jobs.size} jobs: $bySite")
    assert(jobs.size <= JobsPerFilledBatch,
      s"${jobs.size} jobs > $JobsPerFilledBatch: $bySite")
  }

  test("declared store schemas match, by name and type, the fields the " +
    "writers put in every parquet file of their store — appends and " +
    "compactAll's rewrites") {
    val (root, _) = filled
    import org.apache.spark.sql.types.{IntegerType, StructType}
    def fields(t: StructType): Map[String, String] =
      t.fields.map(f => f.name -> f.dataType.sql).toMap // sql omits nullability
    // (declared, store dir, files must hold exactly the declared set)
    def check(): Unit = {
      val stores = Seq(
        (CorpusIngest.storeSchema, IngestPipeline.corpusDir(root), false),
        (graft.operators.MinHashOps.GramsSchema,
          s"${IngestPipeline.nearDir(root)}/grams", true),
        (graft.operators.MinHashOps.PostingsSchema,
          s"${IngestPipeline.nearDir(root)}/postings", true),
        (SubstrIngest.GramsSchema,
          s"${IngestPipeline.substrDir(root)}/grams", true),
        (VectorIndex.CentroidSchema,
          s"${IngestPipeline.indexDir(root)}/centroids", true),
        (StructType(VectorIndex.VectorSchema.filter(_.name != "cell")),
          vecsDir(root), true))
      for ((declared, dir, exact) <- stores) {
        val files = parquetFiles(dir)
        assert(files.nonEmpty, s"no parquet files under $dir")
        files.foreach { f =>
          val written = fields(spark.read.parquet(f).schema)
          val want = fields(declared)
          if (exact) assert(written == want, s"$f: $written vs $want")
          else assert(want.forall { case (n, t) => written.get(n).contains(t) },
            s"$f: $written lacks $want")
        }
      }
      // the vectors' partition column keeps the type inference gives it
      assert(spark.read.parquet(vecsDir(root)).schema("cell").dataType ==
        VectorIndex.VectorSchema("cell").dataType &&
        VectorIndex.VectorSchema("cell").dataType == IntegerType)
    }
    check()
    IngestPipeline.compactAll(spark, root, 2)
    check()
  }

  test("pipeline soak: per-batch cost stays flat as all five stores " +
    "grow — every tier's store probe is bounded, so a fresh batch " +
    "reads no store bytes on any screen or admission path") {
    val root = Files.createTempDirectory("pipe-soak").toString + "/p"
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_SOAK_BATCHES", "8").toInt
    val times = (0 until nBatches).map { b =>
      val docs = (0 until 30)
        .map(i => row(b * 1000L + i, passText(f"b${b}%01dx$i%02d", s"t$b-$i")))
        .toDF("doc_id", "text", "lang", "source")
      val t0 = System.nanoTime()
      val r = IngestPipeline.mergeBatch(spark, docs, root, b.toLong)
      assert(r.admitted == 30L, s"batch $b: $r")
      (System.nanoTime() - t0) / 1e9
    }
    info(s"per-batch sec: ${times.map(t => f"$t%.2f").mkString(", ")}")
    val first = times.take(3).sorted.apply(1)
    val last = times.takeRight(3).sorted.apply(1)
    assert(last <= first * 3.0 + 2.0,
      s"per-batch cost grew with the stores: first-3 median $first, " +
        s"last-3 median $last")
  }

  test("throughput: sustained docs/s through the full DAG (recorded in " +
    "BASELINE.md beside the signal-path events/s)") {
    val root = Files.createTempDirectory("pipe4").toString + "/p"
    val batchSize = sys.env.getOrElse("SPARK_GRAFT_PIPE_DOCS", "500").toInt
    val t0 = System.nanoTime()
    var admitted = 0L
    for (b <- 0 until 2) {
      val docs = (0 until batchSize) // tag stays ≤5 chars: the gate caps
        .map(i => row(b * 10000L + i, // mean word length at 10
          passText(f"${('a' + b).toChar}$i%04d", s"t$i")))
        .toDF("doc_id", "text", "lang", "source")
      admitted += IngestPipeline.mergeBatch(spark, docs, root, b.toLong).admitted
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(admitted == 2L * batchSize, s"admitted $admitted")
    info(f"${2 * batchSize} docs in $sec%.1f s = ${2 * batchSize / sec}%.0f docs/s " +
      s"(local[4], ${batchSize}-doc batches, all five stores maintained)")
  }
}
