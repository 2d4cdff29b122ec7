package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.{MinHashOps, TextOps}
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** The custom Catalyst expressions must be drop-in replacements for the
  * composed built-in forms — same values, element order included, on the
  * full documents corpus. */
class ExpressionParitySpec extends SparkSpec {

  test("graft_trigrams == composed array_distinct/transform form") {
    val df = Tables.documents(spark, sf())
      .withColumn("toks", TextOps.tokens)
      .withColumn("composed", TextOps.wordTrigrams(col("toks")))
      .withColumn("custom", GraftFunctions.graftTrigrams("toks"))
    assert(df.filter(not(col("composed") <=> col("custom"))).count() == 0)
  }

  test("graft_gram_stats == composed explode + double-aggregate form") {
    val df = Tables.documents(spark, sf())
      .withColumn("toks", TextOps.tokens)
    val composed = df
      .select(col("doc_id"), explode(TextOps.wordTrigramsAll(col("toks"))).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("total_grams"),
        count(lit(1)).as("distinct_grams"),
        max("cnt").as("top_gram_cnt"))
    val custom = df
      .withColumn("gs", GraftFunctions.graftGramStats("toks"))
      .select(col("doc_id"), col("gs.total_grams").as("c_total"),
        col("gs.distinct_grams").as("c_distinct"),
        col("gs.top_gram_cnt").as("c_top"))
      .filter(col("c_total") > 0L)
    val joined = composed.join(custom, Seq("doc_id"), "full_outer")
    assert(joined.filter(
      not(col("total_grams") <=> col("c_total")) ||
      not(col("distinct_grams") <=> col("c_distinct")) ||
      not(col("top_gram_cnt") <=> col("c_top"))).count() == 0,
      "graft_gram_stats diverged from the composed explode form")
  }

  test("graft_minhash == composed gramIds∘signature form") {
    val df = Tables.documents(spark, sf())
      .withColumn("toks", TextOps.tokens)
      .withColumn("grams", TextOps.wordTrigrams(col("toks")))
      .filter(size(col("grams")) > 0)
      .withColumn("ids", MinHashOps.gramIds(col("grams")))
      .withColumn("composed", MinHashOps.signature(col("ids")))
      .withColumn("custom", GraftFunctions.graftMinhash("grams"))
    assert(df.filter(not(col("composed") <=> col("custom"))).count() == 0)
  }

  test("graft_ivf_assign == composed 16-fold-dot sort_array form, " +
    "bit-identically, on the full embeddings table") {
    import graft.operators.EmbeddingOps
    val e = Tables.embeddings(spark, sf())
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("v"))
    // centroid triples like initCentroids builds them
    val cents = e.filter(col("vec_id") < 16)
      .withColumn("dot_self", EmbeddingOps.dot(col("v"), col("v")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toIndexedSeq
    val ranked = EmbeddingOps.ivfRank(cents)
    val both = e
      .withColumn("c_cell", element_at(ranked, 1)("cid"))
      .withColumn("c_cell2", element_at(ranked, 2)("cid"))
      .withColumn("asg", GraftFunctions.graftIvfAssign("v", cents))
    assert(both.filter(
      not(col("c_cell") <=> col("asg.cell")) ||
        not(col("c_cell2") <=> col("asg.cell2"))).count() == 0)
    // degenerate single-centroid case: composed element_at(…, 2) yields
    // null; the expression must too
    val one = both.withColumn("a1",
      GraftFunctions.graftIvfAssign("v", cents.take(1)))
    assert(one.filter(col("a1.cell2").isNotNull).count() == 0)
    assert(one.filter(col("a1.cell") =!= cents.head._1).count() == 0)
  }

  test("graft_cls_score frame == composed transform/aggregate frame, " +
    "bit-identically, on the full documents corpus") {
    val docs = Tables.documents(spark, sf())
    val custom = TextOps.classifierFrame(docs)
    val composed = TextOps.classifierFrameComposed(docs)
    assert(custom.schema == composed.schema)
    assert(custom.exceptAll(composed).count() == 0)
    assert(composed.exceptAll(custom).count() == 0)
    assert(custom.count() == composed.count())
    // empty-token edge: a single empty-string token still scores (one
    // unigram feature, no bigram)
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "One"), (3L, "a  b"))
      .toDF("doc_id", "text")
    val ce = TextOps.classifierFrame(edge).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pe = TextOps.classifierFrameComposed(edge).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ce == pe)
  }

  test("graft_hash_embed frame == composed transform/aggregate frame, " +
    "bit-identically, on the full documents corpus") {
    val docs = Tables.documents(spark, sf())
    val custom = TextOps.hashEmbedFrame(docs)
    val composed = TextOps.hashEmbedFrameComposed(docs)
    // same names and types (nullability differs: custom expression
    // declares containsNull=false, higher-order builtins keep true)
    assert(custom.schema.map(f => (f.name, f.dataType)) ==
      composed.schema.map(f => (f.name, f.dataType)))
    assert(custom.exceptAll(composed).count() == 0)
    assert(composed.exceptAll(custom).count() == 0)
    assert(custom.count() == composed.count())
    // embedding laws + an independent per-token driver fold on a fixture
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "One"), (3L, "a  b"), (4L, "x y x y x"))
      .toDF("doc_id", "text")
    val got = TextOps.hashEmbedFrame(edge).collect().map { r =>
      (r.getLong(0), r.getLong(1),
        r.getString(2).split(",", -1).toSeq.map(_.toLong), r.getLong(3))
    }
    got.foreach { case (_, nTok, emb, normSq) =>
      assert(emb.size == 64)
      assert(normSq == emb.map(v => v * v).sum)
      assert(emb.map(math.abs).sum <= nTok, "mass exceeds token count")
    }
    def ref(text: String): Seq[Long] = {
      val slots = new Array[Long](64)
      text.split(" ", -1).foreach { t =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(t.toLowerCase.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 7)
        val h = java.lang.Long.parseLong(hex, 16)
        slots((h % 64).toInt) += (if (((h / 64) % 2) == 0) 1L else -1L)
      }
      slots.toSeq
    }
    Seq((1L, ""), (2L, "One"), (3L, "a  b"), (4L, "x y x y x")).foreach {
      case (id, text) =>
        val row = got.find(_._1 == id).get
        assert(row._3 == ref(text), s"doc $id embedding != independent fold")
    }
  }

  test("graft_roll_hash == composed aggregate md5-prefix fold, " +
    "bit-identically, on the full corpus and edges") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // full corpus: every document's token array
    val docs = Tables.documents(spark, sf())
      .withColumn("toks", split(col("text"), " "))
      .withColumn("custom", expr("graft_roll_hash(toks)"))
      .withColumn("composed", TextOps.fpRollComposed(col("toks")))
    assert(docs.filter(not(col("custom") <=> col("composed"))).count() == 0)
    // edges: empty array → 0, single token, a null ELEMENT → null (the
    // composed fold's md5(null) poisons its accumulator), null array
    val edges = Seq(
      (1L, Array[String]()),
      (2L, Array("solo")),
      (3L, Array("a", null, "b")),
      (4L, null))
      .toDF("id", "toks")
      .withColumn("custom", expr("graft_roll_hash(toks)"))
      .withColumn("composed", TextOps.fpRollComposed(col("toks")))
    assert(edges.filter(not(col("custom") <=> col("composed"))).count() == 0,
      s"edge parity broken: ${edges.collect().toSeq}")
    val byId = edges.select("id", "custom").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(byId(1L).contains(0L) && byId(3L).isEmpty && byId(4L).isEmpty)
  }

  test("graft_dot_long == composed aggregate(zip_with) fold, " +
    "bit-identically, on real embedding pairs and edges") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val pairs = Seq(
      (Array(1L, -2L, 3L), Array(4L, 5L, -6L)),
      (Array.fill(64)(3L), Array.fill(64)(-7L)),
      (Array.empty[Long], Array.empty[Long]),
      (Array(Long.MaxValue / 4, 2L), Array(2L, 3L)))
      .toDF("a", "b")
    val both = pairs
      .withColumn("custom", expr("graft_dot_long(a, b)"))
      .withColumn("composed",
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0L), (s, x) => s + x))
    assert(both.filter(col("custom") =!= col("composed")).isEmpty)
    // unequal lengths: zip_with pads the shorter side with nulls, the
    // fold propagates null — the custom expression must yield NULL
    // too, not a silently truncated partial sum
    val mism = Seq((Array(1L, 2L, 3L), Array(4L, 5L)))
      .toDF("a", "b")
      .withColumn("custom", expr("graft_dot_long(a, b)"))
      .withColumn("composed",
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0L), (s, x) => s + x))
      .select("custom", "composed").head()
    assert(mism.isNullAt(0) && mism.isNullAt(1),
      s"length-mismatch parity broken: $mism")
    // and over the full hash-embed pair scan at test SF
    val base = Tables.documents(spark, sf())
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        GraftFunctions.graftHashEmbed("toks").as("emb"))
      .limit(50)
    val q = base.select(col("doc_id").as("qid"), col("emb").as("qemb"))
    val c = base.select(col("doc_id").as("cid"), col("emb").as("cemb"))
    val x = c.join(broadcast(q))
      .withColumn("custom", expr("graft_dot_long(qemb, cemb)"))
      .withColumn("composed",
        aggregate(zip_with(col("qemb"), col("cemb"), (a, b) => a * b),
          lit(0L), (s, x) => s + x))
    assert(x.filter(col("custom") =!= col("composed")).isEmpty)
  }
}
