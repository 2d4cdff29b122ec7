package graft

import graft.plans.{GraftExtensions, GraftFunctions}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}
import scala.jdk.CollectionConverters._

/** The two SQL registration paths over the one `GraftFunctions.table`:
  * a session BUILT with spark.sql.extensions=graft.plans.GraftExtensions
  * (the production path, VERDICT r3 next-round #8) and one given
  * `GraftFunctions.register` must both serve every table entry in plain
  * SQL, and the column faces must leave the function registry alone.
  * The extensions test runs on a second SparkSession over the shared
  * context (suites execute sequentially in the forked test JVM, so
  * swapping the default session is safe). */
class GraftExtensionsSpec extends SparkSpec {

  /** SQL arguments for each table entry — a table entry without a
    * sample fails the key check below. */
  private val sampleArgs = Map(
    "graft_trigrams" -> "split('a b c d', ' ')",
    "graft_pairs" -> "array(1L, 2L, 3L)",
    "graft_minhash" -> "array('a b c', 'b c d')",
    "graft_pairs_gen" -> "array(1L, 2L, 3L)",
    "graft_gram_stats" -> "split('a b c a b c', ' ')",
    "graft_cls_score" -> "split('a b c', ' ')",
    "graft_hash_embed" -> "split('a b c', ' ')",
    "graft_dot_long" -> "array(1L, 2L), array(3L, 4L)",
    "graft_roll_hash" -> "split('a b c', ' ')")

  /** Every table entry resolves by name in plain SQL on `s` to its
    * declared expression class, and runs. */
  private def assertServesTable(s: SparkSession): Unit = {
    assert(sampleArgs.keySet == GraftFunctions.table.map(_._1).toSet)
    GraftFunctions.table.foreach { case (name, cls, _) =>
      val info = s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(name))
      assert(info.map(_.getClassName).contains(cls.getName), s"$name: $info")
      val df = s.sql(s"SELECT $name(${sampleArgs(name)})")
      assert(df.queryExecution.analyzed.exists(_.expressions.exists(_.exists(cls.isInstance))),
        s"$name did not resolve to ${cls.getSimpleName}")
      assert(df.collect().nonEmpty, name)
    }
  }

  /** Messages of the WARN-or-worse events logged while `body` runs. */
  private def warnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-warn-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(capture)
    try body finally { root.removeAppender(capture); capture.stop() }
    seen.asScala.toSeq
  }

  private val Replaced = "replaced a previously registered function"

  test("a spark.sql.extensions-built session serves graft_* SQL") {
    val shared = spark // force the shared session/context to exist
    // spark.sql.extensions is a STATIC conf: session construction reads
    // it from the SparkContext's conf (what spark-submit --conf sets in
    // production), not from per-session options — so plant it there for
    // the new session and remove it after. SparkContext.conf is
    // private[spark] (public in bytecode), and getConf hands back a
    // copy, so go through the accessor method.
    def ctxConf(sc: org.apache.spark.SparkContext): org.apache.spark.SparkConf =
      sc.getClass.getMethod("conf").invoke(sc)
        .asInstanceOf[org.apache.spark.SparkConf]
    ctxConf(shared.sparkContext).set(
      "spark.sql.extensions", classOf[GraftExtensions].getName)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .getOrCreate()
      assert(s2 ne shared, "must be a fresh session, not the shared one")
      assertServesTable(s2)
      // the extension already holds every name: register adds nothing
      assert(!warnings(GraftFunctions.register(s2)).exists(_.contains(Replaced)))

      val tri = s2.sql("SELECT graft_trigrams(split('a b c d', ' ')) AS g")
        .collect().head.getSeq[String](0)
      assert(tri == Seq("a b c", "b c d"))

      val sig = s2.sql("SELECT graft_minhash(array('a b c', 'b c d')) AS m")
        .collect().head.getSeq[Long](0)
      assert(sig.length == graft.operators.MinHashOps.K)

      val pairs = s2.sql(
        "SELECT graft_pairs(array(1L, 2L, 3L)) AS p").collect().head.getSeq[Any](0)
      assert(pairs.length == 3)

      // the generator form plans a Generate emitting (l, r) rows
      val gen = s2.sql("SELECT graft_pairs_gen(array(1L, 2L, 3L))")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gen == Set((1L, 2L), (1L, 3L), (2L, 3L)))

      // end-to-end: the dedup pair pattern as pure SQL on the new session
      val sqlPairs = s2.sql(
        """SELECT l.d AS d1, r.d AS d2
          |FROM (SELECT graft_pairs_gen(ds) FROM (
          |  SELECT collect_list(named_struct('d', id)) AS ds
          |  FROM range(4)))""".stripMargin).count()
      assert(sqlPairs == 6)

      // LAZY query views: before enableLazyViews the rule is inert —
      // graft_* names must fail analysis like any unknown relation
      intercept[org.apache.spark.sql.AnalysisException] {
        s2.sql("SELECT * FROM graft_doc_quality").queryExecution.analyzed
      }
      GraftCatalog.enableLazyViews(s2, sf())
      // an EAGER-builder query resolves and runs with no registration
      // call at all — its collect/count work happens at THIS select,
      // not at session start (the whole point of the lazy face)
      assert(s2.sql("SELECT * FROM graft_emb_ann_ivf").count() > 0)
      // plain queries compose: a filter on top of the lazy view answers
      assert(s2.sql(
        "SELECT count(1) AS n FROM graft_doc_quality WHERE quality >= 0.5")
        .head().getLong(0) > 0)
      // an explicitly registered temp view of the same name WINS
      s2.range(1).selectExpr("42 AS marker")
        .createOrReplaceTempView("graft_doc_quality")
      assert(s2.sql("SELECT marker FROM graft_doc_quality").head().getInt(0) == 42)
      // unknown graft_ name still errors cleanly
      intercept[org.apache.spark.sql.AnalysisException] {
        s2.sql("SELECT * FROM graft_no_such_query").queryExecution.analyzed
      }

      // one-call setup: tables, functions, and the whole query surface
      // — a registered view (clobbering the marker above), a lazy
      // eager-builder view, and a base table all answer
      GraftCatalog.init(s2, sf())
      assert(s2.sql("SELECT * FROM graft_doc_quality").count() > 0)
      assert(s2.sql("SELECT * FROM graft_dedup_clusters").count() > 0)
      assert(s2.sql("SELECT count(1) FROM documents").head().getLong(0) > 0)
    } finally {
      ctxConf(spark.sparkContext).remove("spark.sql.extensions")
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("a GraftFunctions.register-ed session serves every table function in SQL") {
    GraftFunctions.register(spark)
    assertServesTable(spark)
    val r = spark.sql(
      "SELECT graft_trigrams(array('a','b','c','b','c','d')) AS g").collect()
    assert(r.head.getSeq[String](0) == Seq("a b c", "b c b", "c b c", "b c d"))
  }

  test("IVF faces over many centroid sets leave the function registry " +
    "unchanged; a repeated register replaces nothing") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val registry = spark.sessionState.functionRegistry
    val before = registry.listFunction().size
    val df = Seq((Seq(1.0, 2.0), Seq(1L, 2L))).toDF("v", "h")
    (1 to 5).foreach { i =>
      val cents = Seq((1L, Seq(i.toDouble, 0.0), i.toDouble * i),
        (2L, Seq(0.0, i.toDouble), i.toDouble * i))
      val hCents = Seq(Seq(i.toLong, 0L), Seq(0L, i.toLong))
      val row = df.select(
        GraftFunctions.graftIvfAssign("v", cents).as("a"),
        GraftFunctions.graftHashIvfAssign("h", hCents, hCents.map(_.map(x => x * x).sum))
          .as("b")).head()
      assert(!row.getStruct(0).isNullAt(0) && !row.getStruct(1).isNullAt(0))
    }
    val after = registry.listFunction().size
    assert(after == before)
    assert(!warnings(GraftFunctions.register(spark)).exists(_.contains(Replaced)))
    // control: the capture does see a genuine replacement
    val probe = FunctionIdentifier("graft_registry_probe")
    val info = new ExpressionInfo(classOf[Literal].getName, probe.funcName)
    registry.registerFunction(probe, info, _ => Literal(1))
    try assert(warnings(registry.registerFunction(probe, info, _ => Literal(2)))
      .exists(_.contains(Replaced)))
    finally registry.dropFunction(probe)
  }
}
