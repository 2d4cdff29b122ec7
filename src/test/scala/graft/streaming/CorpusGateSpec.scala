package graft.streaming

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** The streaming quality+PII gate: batch/stream parity of the one
  * shared transform, gate semantics (Gopher rejection + PII
  * redaction), and file-sink exactly-once across a restart. */
class CorpusGateSpec extends SparkSpec {

  // 44 words, mean word length ~3.9, all-alpha, stopword-rich:
  // passes every Gopher rule with margin
  private val goodText = Seq.fill(4)(
    "the quick brown fox jumps over the lazy dog with zest").mkString(" ")

  private def jdoc(id: Long, text: String): String =
    s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s"}"""

  private def write(dir: String, name: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), rows.mkString("\n").getBytes("UTF-8"))
  }

  test("gate semantics: Gopher failures drop, survivors ship redacted text") {
    import spark.implicits._
    val in = Seq(
      (1L, goodText + " contact bob@example.com or +1 (555) 010-9999", "en", "s"),
      (2L, "a b c", "en", "s"), // 3 words: fails the n_words >= 40 rule
      (3L, goodText, "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val out = CorpusIngest.gate(in).collect().map(r =>
      r.getLong(0) -> r).toMap

    assert(out.keySet == Set(1L, 3L), "the 3-word doc must be rejected")
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_email") == 1L && d1.getAs[Long]("n_phone") == 1L,
      "planted email + phone each counted once")
    val t1 = d1.getAs[String]("text")
    assert(t1.contains("<EMAIL>") && t1.contains("<PHONE>"),
      "admitted text must be the REDACTED text")
    assert(!t1.contains("bob@example.com") && !t1.contains("010-9999"))
    assert(out(3L).getAs[Long]("n_pii") == 0L)
    assert(out(3L).getAs[String]("text") == goodText, "clean text passes unchanged")
  }

  test("whitespace normalization: newline/tab/double-space formatting is " +
    "normalized at the door, not mistaken for one giant word") {
    import spark.implicits._
    // the same 44 passing words, but newline-separated with tab indents
    // and a double space — split-on-single-space would see n_words=1
    val messy = goodText.split(" ").grouped(11).map(_.mkString("\t", " ", ""))
      .mkString("\n").replaceFirst(" ", "  ")
    val out = CorpusIngest.gate(
      Seq((7L, messy, "en", "s")).toDF("doc_id", "text", "lang", "source"))
      .collect()
    assert(out.length == 1, "well-formed multi-line doc must be admitted")
    assert(out.head.getAs[Long]("n_words") == 44L,
      "words counted on the normalized text")
    assert(out.head.getAs[String]("text") == goodText,
      "stored text is the normalized (and here unredacted) form")
  }

  test("batch/stream parity: the same transform gives identical rows " +
    "through a MemoryStream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (1L, goodText + " ref 123456789012", "en", "a"),
      (2L, "too short", "en", "b"),
      (3L, goodText + " host 10.0.0.1", "fr", "c"),
      (4L, goodText, "en", "d"))

    val batch = CorpusIngest.gate(
      rows.toDF("doc_id", "text", "lang", "source")).collect().toSet

    val in = MemoryStream[(Long, String, String, String)]
    val q = CorpusIngest.gate(
        in.toDF().toDF("doc_id", "text", "lang", "source"))
      .writeStream.format("memory").queryName("gate_parity")
      .outputMode("append").start()
    try {
      in.addData(rows.take(2)); q.processAllAvailable()
      in.addData(rows.drop(2)); q.processAllAvailable()
      val streamed = spark.table("gate_parity").collect().toSet
      assert(streamed == batch,
        "stream and batch must admit the same rows with identical columns")
    } finally q.stop()
  }

  test("gated ingest: file-sink manifest gives exactly-once across restart") {
    val base = Files.createTempDirectory("gated").toString
    val (src, store, ckpt) = (s"$base/src", s"$base/store", s"$base/ckpt")

    write(src, "b1.json", Seq(
      jdoc(1, goodText + " contact bob@example.com"),
      jdoc(2, "a b c"), // rejected at the gate
      jdoc(3, goodText)))
    val q1 = CorpusIngest.ingestGated(spark, src, store, ckpt).start()
    q1.processAllAvailable(); q1.stop()
    val after1 = spark.read.parquet(store)
    assert(after1.count() == 2, "gate admits 2 of 3")
    assert(after1.filter("doc_id = 1").select("text").head().getString(0)
      .contains("<EMAIL>"), "stored text is redacted")

    // restart from the checkpoint with nothing new: the committed batch
    // is not re-emitted (manifest EOS), then a second file lands
    write(src, "b2.json", Seq(jdoc(4, goodText), jdoc(5, "x y")))
    val q2 = CorpusIngest.ingestGated(spark, src, store, ckpt).start()
    q2.processAllAvailable(); q2.stop()

    val fin = spark.read.parquet(store)
    assert(fin.count() == 3, s"expected 3 admitted docs, got ${fin.count()}")
    assert(fin.select("doc_id").distinct().count() == 3,
      "no doc may be emitted twice across the restart")
  }

  test("lm gate: scoring the training corpus against the persisted " +
    "model reproduces doc_bigram_lm exactly; unseen bigrams score the " +
    "floor") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val model = Files.createTempDirectory("lmmodel").toString + "/m"
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    CorpusIngest.trainLmModel(spark, sf(), model)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "a one-shot model write must leave no session artifact behind")
    val scored = CorpusIngest.lmScore(
      graft.Tables.documents(spark, sf()), spark.read.parquet(model))
    val reference = graft.SparkEntry.queries("doc_bigram_lm")(spark, sf())
    assert(scored.exceptAll(reference).isEmpty &&
      reference.exceptAll(scored).isEmpty,
      "persisted-model scoring diverged from the in-query LM")
    // in-vocabulary words in a never-seen order score 0 exactly
    val vocabWords = graft.Tables.documents(spark, sf())
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 3).distinct()
      .orderBy("w").limit(6).collect().map(_.getString(0))
    val gibberish = vocabWords.reverse.flatMap(w => Seq(w, w.reverse))
      .mkString(" ") // reversed words never tokenize to corpus bigrams
    val g = CorpusIngest.lmScore(
      Seq((999999L, gibberish, "en", "synthetic"))
        .toDF("doc_id", "text", "lang", "source"),
      spark.read.parquet(model)).head()
    assert(g.getLong(2) == 0L && g.getDouble(3) == 0.0,
      s"unseen bigrams must score the floor: $g")
    // the streaming face's per-row broadcast scorer is bit-identical
    // to the join face on the whole corpus
    val mMap = spark.read.parquet(model)
      .as[(String, Long)].collect().toMap
    val u = CorpusIngest.lmScoreUdf(spark, mMap)
    val viaUdf = graft.Tables.documents(spark, sf())
      .withColumn("lm", u(col("text")))
      .filter(col("lm._1") > 0L)
      .select(col("doc_id"), col("lm._1").as("n_pairs"),
        col("lm._2").as("lm_grid"),
        (col("lm._2").cast("double") / (col("lm._1") * 1048576L))
          .as("lm_score"))
    assert(viaUdf.exceptAll(scored).isEmpty &&
      scored.exceptAll(viaUdf).isEmpty,
      "broadcast-map scorer diverged from the join face")
  }

  test("lm gate: newline/tab/double-space formatting does not change " +
    "the LM score — formatted fluent docs are admitted, not floored") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val model = Files.createTempDirectory("lmws").toString + "/m"
    CorpusIngest.trainLmModel(spark, sf(), model)
    val m = spark.read.parquet(model)
    val plain = graft.Tables.documents(spark, sf())
      .filter(length(col("text")) > 200)
      .orderBy("doc_id").select("doc_id", "text", "lang", "source")
      .limit(1).collect().head
    // reformat with the whitespace a real document would carry:
    // newlines, tabs, double spaces — same words, same order
    val seps = Seq("\n", "  ", "\t", " ", " \n ")
    val formatted = plain.getString(1).split(" ").zipWithIndex
      .map { case (w, i) => if (i == 0) w else seps(i % seps.length) + w }
      .mkString
    assert(formatted != plain.getString(1))
    val docs = Seq(
      (plain.getLong(0), plain.getString(1), "en", "synthetic"),
      (800001L, formatted, "en", "synthetic"))
      .toDF("doc_id", "text", "lang", "source")
    val sc = CorpusIngest.lmScore(docs, m)
      .select("doc_id", "n_pairs", "lm_grid").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(sc(800001L) == sc(plain.getLong(0)),
      s"formatting shifted the LM score: $sc")
    // and the per-row broadcast face agrees
    val mMap = m.as[(String, Long)].collect().toMap
    val u = CorpusIngest.lmScoreUdf(spark, mMap)
    val udfPair = docs.filter(col("doc_id") === 800001L)
      .select(u(col("text"))).head().getStruct(0)
    assert((udfPair.getLong(0), udfPair.getLong(1)) == sc(800001L),
      "udf face diverged on formatted text")
    // end-to-end: the formatted fluent doc clears gateLm
    val admitted = CorpusIngest.gateLm(docs, m, minScore = 1e-6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted.contains(800001L),
      "formatted fluent doc wrongly dropped as disfluent")
  }

  test("a leading non-whitespace control char tokenizes identically in " +
    "the join face and the per-row broadcast face") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val model = Files.createTempDirectory("lmcc").toString + "/m"
    CorpusIngest.trainLmModel(spark, sf(), model)
    val m = spark.read.parquet(model)
    // U+0001 is NOT regex \s: SQL trim keeps it, so the join face's
    // first token is U+0001-prefixed and the first bigram misses the
    // model. The per-row face must see the same token stream — Java
    // String.trim strips every char <= U+0020 and would score the
    // TRAINED first bigram instead, a face divergence near minScore.
    val base = graft.Tables.documents(spark, sf())
      .filter(length(col("text")) > 200).orderBy("doc_id")
      .limit(1).collect().head
    val doc = Seq((800002L, "\u0001" + base.getString(1), "en", "synthetic"))
      .toDF("doc_id", "text", "lang", "source")
    val joinFace = CorpusIngest.lmScore(doc, m)
      .select("n_pairs", "lm_grid").head()
    val mMap = m.as[(String, Long)].collect().toMap
    val udfFace = CorpusIngest.lmScoreUdf(spark, mMap)
    val perRow = doc.select(udfFace(col("text"))).head().getStruct(0)
    assert((perRow.getLong(0), perRow.getLong(1)) ==
      (joinFace.getLong(0), joinFace.getLong(1)),
      s"scorer faces diverged on a control-char doc: " +
        s"udf=$perRow join=$joinFace")
    // and the control char really did cost the first bigram: scoring
    // the unprefixed text yields a strictly larger grid mass
    val plainFace = CorpusIngest.lmScore(
      Seq((800003L, base.getString(1), "en", "synthetic"))
        .toDF("doc_id", "text", "lang", "source"), m)
      .select("lm_grid").head().getLong(0)
    assert(joinFace.getLong(1) < plainFace,
      "control-char prefix should have cost the first trained bigram")
  }

  test("lm-gated streaming ingest: fluent docs pass, gibberish drops, " +
    "manifest keeps exactly-once across restart") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("lmgate").toString
    val (src, store, ckpt, model) =
      (s"$base/src", s"$base/store", s"$base/ckpt", s"$base/model")
    CorpusIngest.trainLmModel(spark, sf(), model)
    // fluent docs = real corpus texts that PASS the quality gate
    // (positive LM score against their own model); gibberish =
    // reversed in-vocab words (score 0)
    val gateSurvivors = CorpusIngest
      .gate(graft.Tables.documents(spark, sf())
        .select("doc_id", "text", "lang", "source"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fluent = graft.Tables.documents(spark, sf())
      .select("doc_id", "text")
      .filter(length(col("text")) > 200)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(d => gateSurvivors.contains(d._1)).take(2)
    assert(fluent.length == 2, "need two gate-surviving fluent docs")
    val vocabWords = graft.Tables.documents(spark, sf())
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 3).distinct()
      .orderBy("w").limit(30).collect().map(_.getString(0))
    val gibberish = vocabWords.flatMap(w => Seq(w.reverse)).mkString(" ")
    write(src, "b1.json", Seq(
      jdoc(fluent(0)._1, fluent(0)._2), jdoc(900001L, gibberish)))
    def run(): Unit = {
      val q = CorpusIngest.ingestGatedLm(spark, src, store, ckpt, model,
        minScore = 1e-6).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    write(src, "b2.json", Seq(jdoc(fluent(1)._1, fluent(1)._2)))
    run() // restart from the checkpoint
    val out = spark.read.parquet(store)
    val ids = out.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(!ids.contains(900001L), "the gibberish doc must be dropped")
    assert(fluent.map(_._1).toSet.subsetOf(ids), s"fluent docs must pass: $ids")
    assert(out.count() == out.select("doc_id").distinct().count(),
      "manifest exactly-once violated across the restart")
  }
}
