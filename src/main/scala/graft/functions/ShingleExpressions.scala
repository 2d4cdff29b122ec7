package graft.functions

import graft.operators.MinHashOps
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot text-dedup path.
  *
  * Why custom expressions (brief preference order (b)): the composed
  * built-in form — `array_distinct(transform(sequence(...),
  * concat_ws(element_at×3)))` and K× `array_min(transform(...))` — runs
  * every lambda interpreted (higher-order functions have no codegen),
  * costing ~1 ms/doc; these single-pass versions do the same work in
  * plain JVM loops, ~30× faster, with BIT-IDENTICAL output (asserted by
  * ExpressionParitySpec against the composed form, and by the DuckDB
  * oracle which is shared with the built-in path).
  *
  * Both are CodegenFallback: one eval call per row replaces hundreds of
  * interpreted lambda frames, which is where the time went — full
  * doGenCode would add little on top.
  */

/** `graft_trigrams(tokens)` — distinct word 3-grams, first-occurrence
  * order, exactly matching TextOps.wordTrigrams' composed form. */
case class TrigramShingles(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
    var i = 0
    while (i < n - 2) {
      val sp = UTF8String.fromString(" ")
      seen.add(UTF8String.concat(arr.getUTF8String(i), sp,
        arr.getUTF8String(i + 1), sp, arr.getUTF8String(i + 2)))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(c: Expression): TrigramShingles = copy(c)
  override def prettyName: String = "graft_trigrams"
}

/** `graft_minhash(grams)` — the K-element MinHash signature in one pass:
  * md5-prefix gram id mod P, then K universal hashes, tracking all K
  * minima per gram. Matches MinHashOps.gramIds∘signature exactly
  * (same md5 prefix, same (a,b) parameters, same modulus). */
case class MinHashSignature(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private val P = MinHashOps.P
  private val params: Array[(Long, Long)] =
    (0 until MinHashOps.K).map(MinHashOps.hashParams).toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(params.length)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var g = 0
    while (g < n) {
      md.reset()
      val digest = md.digest(arr.getUTF8String(g).getBytes)
      // first 15 hex chars = first 7 bytes + high nibble of byte 8
      var id = 0L
      var b = 0
      while (b < 7) { id = (id << 8) | (digest(b) & 0xffL); b += 1 }
      id = (id << 4) | ((digest(7) & 0xf0L) >> 4)
      id %= P
      var i = 0
      while (i < params.length) {
        val (a, c) = params(i)
        val h = (a * id + c) % P
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      g += 1
    }
    new GenericArrayData(mins.map(Long.box).asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(c)
  override def prettyName: String = "graft_minhash"
}

/** `graft_cls_score(tokens)` — the hashed-feature linear classifier's
  * score_units in ONE pass over the raw token array: lowercase, form
  * unigram + adjacent-bigram features, md5-hash each into one of
  * `TextOps.ClsBuckets` weight buckets and fold the bucket weights as a
  * BIGINT sum. Matches TextOps.classifierFrameComposed exactly (same
  * lower(), same "a b" bigram join, same first-7-hex-chars 28-bit md5
  * id, same weight table) — asserted by ExpressionParitySpec and the
  * shared DuckDB oracle.
  *
  * Why: the composed form runs 2n−1 interpreted lambda frames + one md5
  * Column-expression per FEATURE per row (higher-order functions never
  * codegen); measured 6.4 s warm of a 29.8 s 91-query bench at sf0.1 —
  * 21% of the whole suite, far over the r2 doGenCode gate's 20% line.
  * This loop hashes the same features in plain JVM code, one eval per
  * row. The weight table is a per-JVM constant (the broadcast-model
  * shape); lowercase is `UTF8String.toLowerCase`, the exact kernel
  * Spark's `lower()` uses under the default UTF8_BINARY collation. */
case class ClassifierScoreUnits(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val w = ClassifierScoreUnits.weights
    val md = java.security.MessageDigest.getInstance("MD5")
    val sp = UTF8String.fromString(" ")

    def bucketWeight(f: UTF8String): Long = {
      md.reset()
      val d = md.digest(f.getBytes)
      // first 7 hex chars of the digest = bytes 0-2 + high nibble of 3
      val id = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xf0L) >> 4)
      w((id % graft.operators.TextOps.ClsBuckets).toInt)
    }

    val low = new Array[UTF8String](n)
    var i = 0
    while (i < n) { low(i) = arr.getUTF8String(i).toLowerCase; i += 1 }
    var units = 0L
    i = 0
    while (i < n) {
      units += bucketWeight(low(i))
      if (i < n - 1) units += bucketWeight(UTF8String.concat(low(i), sp, low(i + 1)))
      i += 1
    }
    units
  }

  override protected def withNewChildInternal(c: Expression): ClassifierScoreUnits = copy(c)
  override def prettyName: String = "graft_cls_score"
}

object ClassifierScoreUnits {
  /** The 4096-entry stand-in weight table, derived once per JVM from the
    * same md5 formula the oracle twin evaluates in SQL. */
  private lazy val weights: Array[Long] =
    Array.tabulate(graft.operators.TextOps.ClsBuckets.toInt)(b =>
      graft.operators.TextOps.clsWeight(b.toLong))
}

/** `graft_roll_hash(tokens)` — the fingerprint tier's order-sensitive
  * POLYNOMIAL ROLLING HASH (TextOps.fingerprint fp_roll): left fold
  * acc = (acc·31 + h) mod 1e9+7 over each token's 28-bit md5-prefix
  * id (first 7 hex chars — the same digest-byte extraction as
  * ClassifierScoreUnits). Matches the composed
  * `aggregate(toks, 0L, (acc,t) -> …)` form exactly, null element →
  * null result included — asserted by ExpressionParitySpec and the
  * doc_fingerprint DuckDB oracle.
  *
  * Why (r7 verdict #3's measurement gate): the composed fold runs n
  * interpreted lambda frames + n md5 Column evals per row (HOFs never
  * codegen) and was the heaviest per-row compute in the suite under
  * driver load; the since-removed DecompProbe measured the roll stage
  * at 40-55% of doc_fingerprint at sf0.1 — over the r2 doGenCode
  * gate's 20% line.
  * One digest + one fold step per token in a plain JVM loop, one eval
  * per row — the ClassifierScoreUnits class of replacement, so
  * CodegenFallback suffices (not inside a pair scan like LongDot).
  * Measured win is REAL BUT BOUNDED (the since-removed RollAb, 7
  * interleaved reps at sf0.1: stage median 0.160 → 0.143 s, min
  * 0.146 → 0.114 s): the MD5
  * digests dominate both forms — the expression sheds the lambda-frame
  * + conv/substring string machinery, which is what made the composed
  * form contention-hypersensitive under driver load. No overflow:
  * acc < 1e9+7 keeps acc·31 + h < 2^35. */
case class RollingHashUnits(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  // nullable beyond input-null propagation: a null ELEMENT nulls the
  // composed fold (md5(null) poisons the accumulator), so it must
  // null this form too
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // one digest instance per (thread, lifetime), not per ROW — this
    // expression evals once per row over the whole corpus, and
    // MessageDigest.getInstance is a provider lookup + allocation
    val md = RollingHashUnits.digests.get()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      // first 7 hex chars of the digest = bytes 0-2 + high nibble of 3
      val h = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xf0L) >> 4)
      acc = (acc * 31L + h) % 1000000007L
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(c: Expression): RollingHashUnits = copy(c)
  override def prettyName: String = "graft_roll_hash"
}

object RollingHashUnits {
  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
}

/** `graft_dot_long(a, b)` — BIGINT dot product of two long arrays.
  * Unequal lengths yield NULL, matching the composed
  * `aggregate(zip_with(a, b, *), 0L, +)` form exactly: zip_with pads
  * the SHORTER array with nulls to the longer length, the products on
  * the padded tail are null, and the + fold propagates that null — so
  * a silent truncated partial sum here would be a drop-in-parity
  * divergence. The composed form runs 2·n interpreted lambda frames
  * per row; in the hash-embed top-k scan that fold IS the query
  * (the since-removed DecompProbe: 1.81 s → 0.50 s on the sf0.1 pair
  * scan, 3.6× — over the r2 doGenCode gate, like IvfAssignTop2). One
  * JVM loop, bit-identical (integer arithmetic — ExpressionParitySpec).
  *
  * Unlike the other expressions in this file (one eval call replacing
  * hundreds of lambda frames, where CodegenFallback suffices), LongDot
  * sits INSIDE the brute-force pair scan — millions of calls per query
  * — so it carries a real `doGenCode`: the interpreted fallback's
  * per-row boxing + virtual dispatch kept the whole projection out of
  * whole-stage codegen and made the scan hypersensitive to CPU/GC
  * contention (the r5 driver-env `emb_hash_topk` 17 s finding; the
  * generated loop is branch-free long arithmetic). */
case class LongDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  // nullable beyond input-null propagation: length mismatch → NULL
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_dot_long needs two array<bigint>, got ${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
        |final int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  long $s = 0L;
        |  for (int $i = 0; $i < $n; $i++) {
        |    $s += $a.getLong($i) * $b.getLong($i);
        |  }
        |  ${ev.value} = $s;
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LongDot =
    copy(l, r)
  override def prettyName: String = "graft_dot_long"
}

/** `graft_hash_embed(tokens)` — the feature-hashing document embedding
  * (TextOps.hashEmbed): every lowercased token lands in ONE of 64
  * dimensions (md5₂₈ mod 64) with a ±1 sign from the next md5 bit
  * ((h div 64) mod 2), accumulated as BIGINTs. One digest + one slot
  * update per token in a plain JVM loop; the composed
  * transform(sequence(0,63), aggregate(...)) twin re-walks the token
  * array 64 times through interpreted lambda frames (the
  * doc_classifier_score lesson — ExpressionParitySpec pins bit-parity
  * between the two forms). */
case class HashEmbedUnits(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val dims = graft.operators.TextOps.EmbedDims.toInt
    val md = java.security.MessageDigest.getInstance("MD5")
    val slots = new Array[Long](dims)
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).toLowerCase.getBytes)
      // first 7 hex chars of the digest = bytes 0-2 + high nibble of 3
      val h = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xf0L) >> 4)
      val sign = if (((h / dims) % 2L) == 0L) 1L else -1L
      slots((h % dims).toInt) += sign
      i += 1
    }
    new GenericArrayData(slots)
  }

  override protected def withNewChildInternal(c: Expression): HashEmbedUnits = copy(c)
  override def prettyName: String = "graft_hash_embed"
}

/** `graft_gram_stats(tokens)` — the per-document trigram repetition
  * statistics struct<total_grams, distinct_grams, top_gram_cnt> in ONE
  * pass over the token array (r17 session 4, guide §2.4 "remove
  * shuffles outright"): the composed form exploded every positional
  * trigram and aggregated it back twice (groupBy(doc_id, gram) then
  * groupBy(doc_id)) — two corpus-wide exchanges plus a range sort for
  * statistics that are ARRAY-LOCAL to each row. Same "a b c" gram join
  * as wordTrigramsAll; the multiset the hash map counts is the exact
  * multiset the explode emitted, so total (= n−2), distinct-count and
  * max-multiplicity are bit-identical integers (GramStatsParitySpec +
  * the doc_repetition oracle twin). At 100 TB the explode form shuffles
  * the whole gram stream; this form shuffles NOTHING. */
case class GramStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("total_grams", LongType, nullable = false),
    StructField("distinct_grams", LongType, nullable = false),
    StructField("top_gram_cnt", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 3)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, 0L, 0L))
    val counts = new java.util.HashMap[UTF8String, Long]((n - 2) * 2)
    val sp = UTF8String.fromString(" ")
    var i = 0
    var top = 0L
    while (i < n - 2) {
      val g = UTF8String.concat(arr.getUTF8String(i), sp,
        arr.getUTF8String(i + 1), sp, arr.getUTF8String(i + 2))
      val c = counts.merge(g, 1L, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any]((n - 2).toLong, counts.size.toLong, top))
  }

  override protected def withNewChildInternal(c: Expression): GramStats = copy(c)
  override def prettyName: String = "graft_gram_stats"
}

/** `graft_pairs(arr)` — all unordered index pairs (i < j) of an array, as
  * array<struct<l, r>> with the element type preserved.
  *
  * Exists because `explode(flatten(transform(sequence(...), transform(
  * sequence(...), struct(element_at…)))))` — the composed form — gets
  * collapsed into the Generate and re-evaluated per EMITTED row, turning
  * pair generation O(k²) per bucket into O(k⁴) (measured: the n-gram
  * Jaccard sweep spent 13 s of 13 s there at sf0.1). One opaque pass
  * keeps Generate exploding a plain attribute. */
case class ArrayPairs(child: Expression)
    extends UnaryExpression with CodegenFallback {

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("l", elemType), StructField("r", elemType))),
    containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: ArrayType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_pairs needs an array, got ${child.dataType.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val et = elemType
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val a = arr.get(i, et)
      var j = i + 1
      while (j < n) {
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array(a, arr.get(j, et)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): ArrayPairs = copy(c)
  override def prettyName: String = "graft_pairs"
}

/** `graft_pairs_gen(arr)` — GENERATOR form of ArrayPairs: emits one row
  * (l, r) per unordered pair directly, like `explode`. Preferred over
  * `explode(graft_pairs(arr))`: a single-reference projection collapses
  * into Generate and the array expression is then re-evaluated per
  * EMITTED row (measured O(k⁴) per bucket); a Generator is evaluated
  * once per INPUT row by contract, and emits pairs lazily (no k²/2
  * array materialized). */
case class PairsGenerator(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with CodegenFallback {

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def elementSchema: StructType =
    StructType(Seq(StructField("l", elemType), StructField("r", elemType)))

  override def supportCodegen: Boolean = false // interpreted generator path

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: ArrayType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_pairs_gen needs an array, got ${child.dataType.catalogString}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val et = elemType
    new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
      private var i = 0
      private var j = 1
      private var a: Any = if (n > 0) arr.get(0, et) else null
      def hasNext: Boolean = i < n - 1 && j < n
      def next(): org.apache.spark.sql.catalyst.InternalRow = {
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array(a, arr.get(j, et)))
        j += 1
        if (j >= n) { i += 1; j = i + 1; if (i < n) a = arr.get(i, et) }
        row
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): PairsGenerator = copy(c)
  override def prettyName: String = "graft_pairs_gen"
}
