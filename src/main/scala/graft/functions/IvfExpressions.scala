package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `graft_ivf_assign(v)` — top-2 IVF centroid assignment in ONE pass.
  *
  * Why (the r2 doGenCode gate, re-measured r5 per VERDICT r4 #8): the
  * composed form — 16 × `aggregate(zip_with(v, c, _*_), 0.0, _+_)`
  * folds plus a 16-struct `sort_array` per row — runs every lambda
  * interpreted, and the since-removed DecompProbe put it at 31% of
  * emb_ann_ivf / 27% of emb_ann_ivf2 at sf0.1, over the ≥20% line the
  * gate set. This expression does the same 16 dots in tight primitive
  * loops and tracks the top-2 (score desc, cid asc) directly — no
  * per-row struct array, no sort.
  *
  * Exactness: the dot accumulates left-to-right from 0.0 — the same
  * IEEE sequence as the `aggregate` fold and the oracle's list_reduce —
  * and the top-2 comparison replicates `sort_array` on (-score, cid)
  * via Double.compare, so output is BIT-IDENTICAL to the composed form
  * (pinned by ExpressionParitySpec; the DuckDB oracle is unchanged).
  * Centroids are plan-time constants (driver state, like the typedLit
  * hyperplane weights); CodegenFallback — one eval call per row
  * replaces ~1000 interpreted lambda frames, where the time went. */
case class IvfAssignTop2(child: Expression, cids: Seq[Long],
    cents: Seq[Seq[Double]], cdots: Seq[Double])
    extends UnaryExpression with CodegenFallback {

  require(cids.nonEmpty && cids.length == cents.length &&
    cids.length == cdots.length, "centroid triple arity mismatch")
  require(cents.forall(_.length == cents.head.length),
    "centroids must share one dimensionality")

  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("cell2", LongType, nullable = true))) // null iff 1 centroid
  override def nullIntolerant: Boolean = true
  // an input whose length mismatches the centroid grid yields NULL —
  // HashIvfAssignTop2's explicit-mismatch contract (advice r6): the
  // old truncated partial dot silently assigned a malformed vector to
  // a WRONG cell; callers filter the null (VectorIndex drops the row,
  // search drops the probe) instead of serving a corrupt assignment
  override def nullable: Boolean = true

  @transient private lazy val cm: Array[Array[Double]] = cents.map(_.toArray).toArray
  @transient private lazy val half: Array[Double] = cdots.map(_ * 0.5).toArray
  @transient private lazy val ids: Array[Long] = cids.toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toDoubleArray()
    if (v.length != cm(0).length) return null
    // minimize (ns, cid) lexicographically, ns = -(dot - ||c||²/2) —
    // exactly sort_array's (ns asc, cid asc) on the composed structs
    var b1 = -1; var ns1 = 0.0
    var b2 = -1; var ns2 = 0.0
    var c = 0
    while (c < cm.length) {
      val cv = cm(c)
      val n = cv.length
      var acc = 0.0
      var i = 0
      while (i < n) { acc += v(i) * cv(i); i += 1 }
      val ns = -(acc - half(c))
      if (b1 < 0 || java.lang.Double.compare(ns, ns1) < 0 ||
          (java.lang.Double.compare(ns, ns1) == 0 && ids(c) < ids(b1))) {
        b2 = b1; ns2 = ns1
        b1 = c; ns1 = ns
      } else if (b2 < 0 || java.lang.Double.compare(ns, ns2) < 0 ||
          (java.lang.Double.compare(ns, ns2) == 0 && ids(c) < ids(b2))) {
        b2 = c; ns2 = ns
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](ids(b1),
      if (b2 >= 0) ids(b2) else null))
  }

  override protected def withNewChildInternal(c: Expression): IvfAssignTop2 =
    copy(child = c)
  override def prettyName: String = "graft_ivf_assign"
}

/** `graft_hash_ivf_assign(emb)` — IvfAssignTop2's INTEGER twin for the
  * hashed-document space (array<bigint> signed-count embeddings): top-2
  * coarse cells by argmin L2, scored as ns = ‖c‖² − 2·v·c (BIGINT —
  * dropping the per-row ‖v‖² term that cancels under argmin), ties to
  * the lowest cell id. All arithmetic is exact 64-bit integer (counts
  * are tiny; 2·dot can't approach overflow), so the DuckDB twin lands
  * on identical cells with no float in sight — the property that lets
  * emb_hash_ann be oracle-checked end to end. Same CodegenFallback
  * trade as IvfAssignTop2: one eval replaces 16 interpreted folds. */
case class HashIvfAssignTop2(child: Expression,
    cents: Seq[Seq[Long]], cnorms: Seq[Long])
    extends UnaryExpression with CodegenFallback {

  require(cents.nonEmpty && cents.length == cnorms.length,
    "centroid pair arity mismatch")
  require(cents.forall(_.length == cents.head.length),
    "centroids must share one dimensionality")

  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("cell2", LongType, nullable = true)))
  override def nullIntolerant: Boolean = true
  // an input whose length mismatches the centroid grid yields NULL —
  // the same explicit-mismatch contract as LongDot: a silently
  // truncated partial score would assign a wrong cell with no error
  // while the oracle's fixed-range fold NULLs out, a drop-in-parity
  // divergence
  override def nullable: Boolean = true

  @transient private lazy val cm: Array[Array[Long]] = cents.map(_.toArray).toArray
  @transient private lazy val nn: Array[Long] = cnorms.toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val len = arr.numElements()
    if (len != cm(0).length) return null
    var b1 = -1; var ns1 = 0L
    var b2 = -1; var ns2 = 0L
    var c = 0
    while (c < cm.length) {
      val cv = cm(c)
      val n = cv.length
      var acc = 0L
      var i = 0
      while (i < n) { acc += arr.getLong(i) * cv(i); i += 1 }
      val ns = nn(c) - 2L * acc
      if (b1 < 0 || ns < ns1) {
        b2 = b1; ns2 = ns1
        b1 = c; ns1 = ns
      } else if (b2 < 0 || ns < ns2) {
        b2 = c; ns2 = ns
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](b1.toLong,
      if (b2 >= 0) b2.toLong else null))
  }

  override protected def withNewChildInternal(c: Expression): HashIvfAssignTop2 =
    copy(child = c)
  override def prettyName: String = "graft_hash_ivf_assign"
}
