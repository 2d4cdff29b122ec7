package graft.plans

import graft.functions.{ArrayPairs, ClassifierScoreUnits, GramStats, HashEmbedUnits, HashIvfAssignTop2, IvfAssignTop2, LongDot, MinHashSignature, PairsGenerator, RollingHashUnits, TrigramShingles}
import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration of graft's custom Catalyst expressions and the LAZY
  * query-view resolver.
  *
  * `GraftFunctions.table` is the single source of the SQL function
  * names: each (name, class, builder) entry is written once there and
  * read by both entry points —
  *  - `GraftExtensions` for `--conf spark.sql.extensions=graft.plans.
  *    GraftExtensions` (the production path — every session gets the
  *    functions at build time);
  *  - `GraftFunctions.register(spark)` for imperative registration
  *    (`GraftCatalog.registerAll`, tests, notebooks) — idempotent: it
  *    skips names the session already has.
  * The DataFrame column faces (`GraftFunctions.graftTrigrams` …) build
  * their expressions directly and need neither entry point.
  *
  * Besides the scalar expressions, one analyzer RESOLUTION rule is
  * injected: `LazyGraftViews` resolves `graft_<query>` relations on
  * first reference, so the full library surface is SQL-addressable with
  * ZERO work at session start — including the queries whose builders
  * run driver-side actions (collected IVF centroids, bloom builds,
  * iterative CC rounds), which `GraftCatalog.registerQueryViews` must
  * otherwise execute eagerly or skip. No SparkStrategy is registered:
  * the reference surface needs none (SURVEY §4.2).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule(session => new LazyGraftViews(session))
    GraftFunctions.descriptions.foreach(e.injectFunction)
  }
}

/** Analyzer rule: resolve `graft_<name>` to the library query's plan ON
  * FIRST SELECT — the genuinely lazy view face (advice r4: temp-view
  * registration executes eager builders at registration time and
  * freezes their collected state; this rule defers that work to the
  * query that actually reads the view, exactly like a metastore view's
  * body expanding at resolution).
  *
  * Scope guards: fires only when `spark.graft.lazyViews.dir` is set on
  * the session (GraftCatalog.enableLazyViews), only for single-part
  * `graft_`-prefixed names that match a library query, and only for
  * relations the built-in resolver left unresolved — an explicitly
  * registered temp view of the same name always wins. */
class LazyGraftViews(session: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val dir = session.conf.get(graft.GraftCatalog.LazyViewDirKey, "")
    if (dir.isEmpty) plan
    else plan.resolveOperatorsUp {
      case u: UnresolvedRelation if u.multipartIdentifier.length == 1 &&
          u.multipartIdentifier.head
            .toLowerCase(java.util.Locale.ROOT).startsWith("graft_") =>
        val raw = u.multipartIdentifier.head
        val name = raw.toLowerCase(java.util.Locale.ROOT).stripPrefix("graft_")
        graft.SparkEntry.queries.get(name)
          .map(fn => SubqueryAlias(raw, fn(session, dir).queryExecution.analyzed))
          .getOrElse(u)
    }
  }
}

object GraftFunctions {
  /** Every graft SQL function: (name, expression class, builder). */
  val table: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("graft_trigrams", classOf[TrigramShingles], e => TrigramShingles(e.head)),
    ("graft_pairs", classOf[ArrayPairs], e => ArrayPairs(e.head)),
    ("graft_minhash", classOf[MinHashSignature], e => MinHashSignature(e.head)),
    ("graft_pairs_gen", classOf[PairsGenerator], e => PairsGenerator(e.head)),
    ("graft_gram_stats", classOf[GramStats], e => GramStats(e.head)),
    ("graft_cls_score", classOf[ClassifierScoreUnits], e => ClassifierScoreUnits(e.head)),
    ("graft_hash_embed", classOf[HashEmbedUnits], e => HashEmbedUnits(e.head)),
    ("graft_dot_long", classOf[LongDot], e => LongDot(e.head, e(1))),
    ("graft_roll_hash", classOf[RollingHashUnits], e => RollingHashUnits(e.head)))

  private[plans] val descriptions =
    table.map { case (name, cls, build) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
    }

  /** Register every `table` entry the session lacks (an extension-built
    * session already has them all, so this is a no-op there). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }

  private def face(e: Expression): Column = GraftSqlBridge.column(e)
  private def at(name: String): Expression = UnresolvedAttribute.quoted(name)

  /** column faces over named columns */
  def graftTrigrams(tokensCol: String): Column = face(TrigramShingles(at(tokensCol)))
  def graftMinhash(gramsCol: String): Column = face(MinHashSignature(at(gramsCol)))
  /** generator form: select(...) plans a Generate emitting (l, r) rows */
  def graftPairsGen(arrCol: String): Column = face(PairsGenerator(at(arrCol)))
  def graftHashEmbed(tokensCol: String): Column = face(HashEmbedUnits(at(tokensCol)))
  def graftDotLong(aCol: String, bCol: String): Column =
    face(LongDot(at(aCol), at(bCol)))
  def graftClsScore(tokensCol: String): Column = face(ClassifierScoreUnits(at(tokensCol)))
  def graftRollHash(tokensCol: String): Column = face(RollingHashUnits(at(tokensCol)))
  def graftGramStats(tokensCol: String): Column = face(GramStats(at(tokensCol)))

  /** IVF top-2 centroid assignment over plan-time centroid constants
    * (collected driver state, held by the expression itself). */
  def graftIvfAssign(vCol: String, cents: Seq[(Long, Seq[Double], Double)]): Column =
    face(IvfAssignTop2(at(vCol), cents.map(_._1), cents.map(_._2), cents.map(_._3)))

  /** Integer-space coarse assignment for the hashed-document ANN
    * (emb_hash_ann) — graftIvfAssign's BIGINT twin. */
  def graftHashIvfAssign(vCol: String, cents: Seq[Seq[Long]], cnorms: Seq[Long]): Column =
    face(HashIvfAssignTop2(at(vCol), cents, cnorms))
}
