package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the "is this the plan you'd want at
  * 100 TB" checks from the build brief, pinned as tests so a refactor
  * that silently de-optimizes a plan fails CI:
  *  - filters/projections reach the parquet scan (PushedFilters,
  *    pruned ReadSchema);
  *  - tiny dimensions broadcast (no shuffle of the fact side);
  *  - the windowed signal aggregate clusters on ONE exchange;
  *  - no cartesian products anywhere.
  */
class PlanShapeSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  // these pins assert the UNCACHED plan shapes: suites that ran earlier
  // may have registered the library's shared artifacts (e.g. the
  // training-set gates cache curate/gopher/mix/span), and the shared
  // session's CacheManager would substitute InMemoryTableScans into the
  // identical frames here, hiding the scans/joins under test. Queries
  // that cache internally re-register during construction, so their
  // own cache assertions still hold.
  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.Artifacts.unpersistAll()
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def countIn(s: String, needle: String): Int =
    needle.r.findAllIn(s).length

  // a shared-artifact read: r17 switched shared artifacts from .cache()
  // (InMemoryTableScan) to a memoized lazy localCheckpoint (Scan
  // ExistingRDD) to truncate the build lineage out of consumer task
  // closures; the pins below assert the INTENT — both consumers read one
  // materialization — under either physical representation
  private def sharedScans(p: String): Int =
    countIn(p, "InMemoryTableScan") + countIn(p, "Scan ExistingRDD")

  test("q1: shipdate filter and column pruning reach the parquet scan") {
    val p = plan(Relational.q1Pricing(spark, sf()))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"), "scan reads columns q1 never touches")
    assert(!readSchema.contains("l_partkey"))
  }

  test("q5: dimension joins broadcast, fact side not nested-loop joined") {
    val p = plan(Relational.q5Join(spark, sf()))
    assert(countIn(p, "BroadcastHashJoin") >= 2, "region/nation should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("semi/anti joins plan as semi/anti, not materialized joins") {
    assert(plan(Relational.joinSemi(spark, sf())).contains("LeftSemi"))
    assert(plan(Relational.joinAnti(spark, sf())).contains("LeftAnti"))
  }

  test("windowed signal aggregate: a single hash exchange feeds both " +
    "window functions and both aggregation levels") {
    // windowAgg before any presentation orderBy
    val p = plan(WindowAgg.windowAgg(Tables.events(spark, sf())))
    // one hashpartitioning exchange on (w_start, symbol); the
    // (w_start,symbol,timeframe) window and groupBys reuse its clustering
    val hashExchanges = countIn(p, "Exchange hashpartitioning")
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange, got $hashExchanges:\n$p")
  }

  test("nested-signals aggregate keeps the single hash exchange") {
    val p = plan(WindowAgg.windowAgg(Tables.events(spark, sf()), withSignals = true))
    val hashExchanges = countIn(p, "Exchange hashpartitioning")
    assert(hashExchanges == 1,
      s"signals collection must not add an exchange, got $hashExchanges:\n$p")
  }

  test("price lookup is a broadcast hash join with the tiny side built") {
    val d = Decide.decisions(Tables.events(spark, sf()))
    val p = plan(SignalOps.priceLookup(spark, d))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("cosine top-k broadcasts the query side; candidates come from the " +
    "shared cached normalized view") {
    val p = plan(EmbeddingOps.cosineTopK(spark, sf()))
    assert(p.contains("Broadcast"), "query side must broadcast")
    // BOTH sides must read the cached (vec_id, v, dot_self) artifact —
    // if either side's plan stops matching the cached plan, the
    // interpreted fold-dot normalization recomputes per row on that side
    assert(sharedScans(p) >= 2,
      s"both join sides must hit the cached normalized view:\n$p")
  }

  test("embedding near-dup joins on the LSH bucket key — no cross join") {
    val p = plan(EmbeddingOps.cosineNearDup(spark, sf()))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "near-dup candidates must come from the bucket equi-join")
  }

  test("snapshot merge: one exchange per merge side (both window " +
    "functions share the change side's), full-outer sort-merge join") {
    val p = plan(CdcRoute.snapshotMerge(spark, sf()))
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"merge must be a co-partitioned full-outer join:\n$p")
    assert(countIn(p, "Exchange hashpartitioning") == 2,
      s"expected exactly 2 hash exchanges (snapshot side + change side; " +
        s"row_number and count share one):\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("tfidf: rank limit pushed below the window exchange, df from a " +
    "window over the cached tf artifact — no join, no second aggregation") {
    val p = plan(TextOps.tfidf(spark, sf()))
    assert(p.contains("WindowGroupLimit"),
      s"top-3-per-doc must prune before the window exchange:\n$p")
    // r5: df is a window count over tf's token partitions — the former
    // join-back recomputed the tf aggregate for its second reference
    // and shuffled both sides on the token key
    assert(!p.contains("Join"), s"df must not join back onto tf:\n$p")
    assert(sharedScans(p) >= 1,
      s"tf must read from the cached artifact:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("incremental near-dup: candidates from the band-bucket equi-join, " +
    "no cross join, no collect_list on the candidate path") {
    val p = plan(MinHashOps.incrementalNearDup(spark, sf()))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "corpus×batch candidates must ride the band-bucket equi-join")
    assert(!p.contains("collect_list"),
      "the incremental path buffers no postings lists — candidates are a join")
  }

  test("interval join is an equi-join on (user, bucket), not a theta join") {
    val p = plan(Relational.intervalJoin(spark, sf()))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range predicate must ride an equi-join, not a nested loop")
  }

  test("chunking and quantization are shuffle-free per-row transforms") {
    // the only permissible exchanges: documentsPar's round-robin spread
    // and the presentation orderBy's range partitioning — never a
    // hash-shuffle (there is no key to group on)
    for (df <- Seq(TextOps.chunk(spark, sf()), EmbeddingOps.quantize(spark, sf()))) {
      val p = plan(df)
      assert(countIn(p, "Exchange hashpartitioning") == 0,
        s"per-row transform must not shuffle by key:\n$p")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("contamination joins train grams to DISTINCT eval grams — equi-join, no fan-out side") {
    val p = plan(TextOps.contamination(spark, sf()))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // eval side must deduplicate before the join (HashAggregate above the
    // eval scan) so a hot gram cannot fan out pairs
    assert(countIn(p, "HashAggregate") >= 2, s"missing eval-side distinct:\n$p")
  }

  test("normalized dedup: one scan, one hash exchange (the slim window)") {
    val p = plan(TextOps.dedupNormalized(spark, sf()))
    assert(countIn(p, "Scan parquet") == 1, "normalization must not re-scan")
    assert(countIn(p, "Exchange hashpartitioning") == 1,
      s"expected exactly the fingerprint window exchange:\n$p")
  }

  test("repetition: shuffle-free per-row gram stats — a corpus-hot gram " +
    "cannot concentrate anywhere because nothing is ever keyed by gram") {
    // r17: graft_gram_stats computes the per-doc trigram multiset stats
    // array-locally, so the old pin's weaker property (every grouping
    // keyed by doc_id) is now vacuous — the plan has NO hash exchange
    // at all, only the adaptive source spread and the presentation sort
    val p = plan(TextOps.repetition(spark, sf()))
    assert(countIn(p, "Exchange hashpartitioning") == 0,
      s"repetition must not hash-shuffle:\n$p")
    assert(p.contains("graft_gram_stats"),
      s"expected the single-pass gram-stats expression:\n$p")
  }

  test("gopher rules: one scan, shuffle-free — pure per-row arithmetic " +
    "until the presentation sort") {
    // the BUILD face: the query face now reads the shared gopherStats
    // artifact (r17), whose leaf scan would hide the shape under pin
    val p = plan(TextOps.gopherSignals(Tables.documentsPar(spark, sf())))
    assert(countIn(p, "Exchange hashpartitioning") == 0,
      s"gopher signals must not shuffle:\n$p")
    assert(countIn(p, "FileScan parquet") == 1, s"one documents scan expected:\n$p")
  }

  test("mix sample: the per-source rate table broadcasts onto one corpus " +
    "scan — the documents never hash-shuffle") {
    // the BUILD face (r17: mixStats is the shared artifact; its leaf
    // scan would hide the join shape under pin)
    val p = plan(TextOps.mixStatsFrame(Tables.documentsPar(spark, sf())))
    assert(p.contains("BroadcastHashJoin"),
      s"rates side must broadcast:\n$p")
    // the only hash exchanges allowed are the tiny per-source aggregate
    // (pre-broadcast); the document rows themselves must not repartition
    // beyond the documented round-robin
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus side must not shuffle into the join:\n$p")
  }

  test("pivot with explicit values needs no extra distinct scan") {
    val p = plan(TextOps.pivotSourceLang(spark, sf()))
    // one scan of documents (an implicit pivot runs a whole extra job to
    // collect distinct pivot values); the two hash exchanges are Spark's
    // standard two-level pivot rewrite (pre-aggregate on (source, lang),
    // then pivot-first on source) — both on compact keys
    assert(countIn(p, "Scan parquet") == 1, "implicit pivot would scan twice")
    assert(countIn(p, "Exchange hashpartitioning") <= 2)
  }

  test("percentiles_dist: ONE scan, the value-count exchange plus the " +
    "window exchange, no join — n rides the window, not a second pass") {
    val p = plan(Relational.percentilesDist(spark, sf()))
    assert(countIn(p, "Scan parquet") == 1,
      "group count re-scanned the input instead of riding the window")
    assert(!p.contains("Join"), "count joined back instead of windowed")
    assert(countIn(p, "Window ") == 2, "expected cum + max(cum) windows")
  }

  test("pii redaction: zero-shuffle per-row transform (the only exchange " +
    "is the presentation sort)") {
    val p = plan(TextOps.piiRedactQuery(spark, sf()))
    assert(countIn(p, "Exchange hashpartitioning") == 0,
      "redaction should never shuffle")
    assert(!p.contains("Join"))
    assert(countIn(p, "Scan parquet") == 1)
  }

  test("shard shuffle: one hash exchange (the shard window), one scan") {
    val p = plan(TextOps.shardShuffle(spark, sf()))
    assert(countIn(p, "Exchange hashpartitioning") == 1)
    assert(countIn(p, "Scan parquet") == 1)
    assert(!p.contains("Join"))
  }

  test("bigram LM: pair extraction is shuffle-free (no window, no " +
    "doc_id exchange before the count aggregations)") {
    // the uncached builder face: bigramLmFrame itself now returns the
    // shared per-doc score artifact (r17), whose explain is an
    // InMemoryTableScan hiding the join shape this pin guards
    val p = plan(TextOps.bigramLmScore(
      Tables.documentsPar(spark, sf())))
    assert(!p.contains("Window "), "pairs should slice-zip, not lead()")
    assert(countIn(p, "CartesianProduct") == 0)
    // the scoring probe must SHUFFLE on bg with the count table as build
    // side — the planner's static estimate liked broadcasting the
    // exploded CORPUS pairs (a corpus broadcast at 100 TB)
    assert(p.contains("ShuffledHashJoin [bg"),
      "probe join regressed from the hinted shuffle-hash shape")
  }

  test("pq ann: encoding shuffle-free, query side broadcast, one window " +
    "exchange — the code scan never moves the float payload") {
    val p = plan(EmbeddingOps.annPq(spark, sf()))
    assert(countIn(p, "BroadcastHashJoin") == 0 &&
      countIn(p, "BroadcastNestedLoopJoin") == 1,
      "5-row query side must broadcast (non-equi self-exclusion join)")
    assert(countIn(p, "CartesianProduct") == 0)
    // exactly one hash exchange: the q_id ranking window; encoding and
    // ADC are per-row expression work
    assert(countIn(p, "Exchange hashpartitioning") == 1,
      s"expected only the window exchange:\n$p")
  }

  test("winnow pairs: postings-driven pair generation — no corpus " +
    "self-join, no cartesian, pairs from the generator") {
    val p = plan(TextOps.winnowPairs(spark, sf()))
    assert(countIn(p, "CartesianProduct") == 0)
    assert(countIn(p, "BroadcastNestedLoopJoin") == 0)
    assert(p.contains("graft_pairs_gen"),
      "pairs must come from the per-group generator, not a self-join")
  }

  test("classifier score: zero-shuffle per-row inference — hash, look " +
    "up and fold inside one scan's expressions") {
    val p = plan(TextOps.classifierFrame(Tables.documentsPar(spark, sf())))
    assert(countIn(p, "Exchange hashpartitioning") == 0,
      s"classifier inference must not shuffle:\n$p")
    assert(!p.contains("Join"))
    assert(countIn(p, "FileScan parquet") == 1)
  }

  test("pq+lloyd: final ADC scan keeps the flat-PQ shape — broadcast " +
    "query side, one window exchange (Lloyd sums are plan-time state)") {
    val p = plan(EmbeddingOps.annPqRefined(spark, sf()))
    assert(countIn(p, "BroadcastNestedLoopJoin") == 1,
      "5-row query side must broadcast (non-equi self-exclusion join)")
    assert(countIn(p, "CartesianProduct") == 0)
    assert(countIn(p, "Exchange hashpartitioning") == 1,
      s"expected only the window exchange:\n$p")
  }

  test("dsir importance: weight table joins as a broadcast; both " +
    "passes read the cached gram triples; no cartesian") {
    val p = plan(TextOps.importanceDsir(spark, sf()))
    assert(countIn(p, "CartesianProduct") == 0)
    assert(countIn(p, "BroadcastNestedLoopJoin") == 0)
    assert(countIn(p, "BroadcastHashJoin") == 1,
      "the 4096-row weight table must broadcast onto the gram scan")
    assert(sharedScans(p) >= 2,
      s"count pass and scoring pass must share the cached gram frame:\n$p")
  }

  test("binary ann: popcount scan broadcasts the 5-row query side; " +
    "float payloads move only through the two candidate broadcasts") {
    val p = plan(EmbeddingOps.annBinary(spark, sf()))
    assert(countIn(p, "CartesianProduct") == 0)
    assert(countIn(p, "BroadcastNestedLoopJoin") == 1,
      "the Hamming scan must broadcast the 5-row signature side")
    assert(countIn(p, "BroadcastHashJoin") == 2,
      "rerank must fetch payloads via broadcast joins on vec_id/q_id")
    // two slim window exchanges (hamming top-R, sim top-3) and nothing else
    assert(countIn(p, "Exchange hashpartitioning") == 2,
      s"expected exactly the two ranking-window exchanges:\n$p")
  }

  test("semdedup: pairs ride the (cell, bucket) equi-join over the " +
    "shared assigned artifact — no cartesian, no nested loop") {
    val p = plan(EmbeddingOps.semDedup(spark, sf()))
    assert(countIn(p, "CartesianProduct") == 0)
    assert(countIn(p, "BroadcastNestedLoopJoin") == 0,
      "prior-pair candidates must come from the (cell, bucket) equi-join")
    // both pair sides read the cached assignment (cell+bucket+rank
    // computed once), not recomputed per side
    assert(sharedScans(p) >= 2,
      s"both pair sides must hit the cached assigned frame:\n$p")
  }

  test("ivf+pq: candidate probe is an EQUI-join on the cell key " +
    "(broadcast query side), never a cartesian or nested loop") {
    val p = plan(EmbeddingOps.annIvfPq(spark, sf()))
    assert(countIn(p, "BroadcastHashJoin") == 1,
      "probe must be a hash join on the compact cell key")
    assert(countIn(p, "BroadcastNestedLoopJoin") == 0)
    assert(countIn(p, "CartesianProduct") == 0)
    assert(countIn(p, "Exchange hashpartitioning") == 1,
      s"expected only the window exchange:\n$p")
  }

  test("hash-embed top-k: broadcast query side (one nested-loop over " +
    "the corpus scan), one window exchange, no cartesian") {
    val df = graft.operators.TextOps.hashEmbedTopK(spark, sf())
    val p = plan(df)
    assert(countIn(p, "BroadcastNestedLoopJoin") == 1,
      s"expected the broadcast brute-force shape:\n$p")
    assert(countIn(p, "CartesianProduct") == 0)
    assert(countIn(p, "Exchange hashpartitioning") == 1,
      s"expected only the q_id rank exchange:\n$p")
    // the r5 driver-env 17 s hardening, pinned three ways:
    // (1) the top-k cut happens BEFORE the q_id exchange (Partial
    // WindowGroupLimit below, Final above — ≤k rows per query per
    // partition cross the wire, not the full pair stream)
    assert(countIn(p, "WindowGroupLimit") == 2 && p.contains("Partial"),
      s"pre-shuffle partial top-k cut missing:\n$p")
    // (2) no embedding array crosses ANY exchange: the pair stream is
    // slimmed to (q_id, c_id, sim) before rank/sort machinery
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[
          org.apache.spark.sql.types.ArrayType]),
        s"embedding array shuffled through ${e.outputPartitioning}: " +
          s"${e.output.map(a => a.name -> a.dataType)}")
    }
    // (3) the pair-scan dot product generates code — a CodegenFallback
    // regression would re-box millions of rows per query
    assert(!graft.functions.LongDot(
        org.apache.spark.sql.catalyst.expressions.Literal(1L),
        org.apache.spark.sql.catalyst.expressions.Literal(1L))
        .isInstanceOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback],
      "LongDot lost its doGenCode")
  }

  test("hash-embed ann: candidates come from an EQUI-join on the cell " +
    "id with the query side broadcast — the pruned scan, not the " +
    "brute-force nested loop") {
    val df = graft.operators.TextOps.hashEmbedAnn(spark, sf())
    val p = plan(df)
    assert(countIn(p, "BroadcastHashJoin") >= 1,
      s"cell probe should be a broadcast equi-join:\n$p")
    assert(countIn(p, "BroadcastNestedLoopJoin") == 0 &&
      countIn(p, "CartesianProduct") == 0,
      s"ANN face must not fall back to the brute-force pair scan:\n$p")
    // same slimness law as the brute-force pin: no embedding array
    // crosses a shuffle
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[
          org.apache.spark.sql.types.ArrayType]),
        s"embedding array shuffled through ${e.outputPartitioning}")
    }
  }

  test("runtime bloom-filter join pruning: a selective dim predicate " +
    "injects might_contain on the fact scan side (the 100 TB semi-join " +
    "reduction knob)") {
    // Spark's InjectRuntimeFilter is on by default but gated by size
    // thresholds sized for production tables; lower them to demonstrate
    // the 100 TB plan shape at test SF. Broadcast disabled so the join
    // is the shuffle join the bloom path serves (broadcast joins get
    // DPP/bloom on the stream side only in other forms).
    val keys = Map(
      // creation side must be SMALLER than this cap (raise it), the
      // application side scan must be LARGER than this floor (drop it)
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    assert(spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true",
      "runtime bloom filters must be on by default")
    val saved = keys.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val o = Tables.orders(spark, sf())
        .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
      val l = Tables.lineitem(spark, sf())
      val j = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val p = plan(j)
      assert(p.contains("might_contain"),
        s"expected an injected bloom runtime filter on the fact side:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("outliers: both robust-statistic window passes share one symbol " +
    "exchange — no join, no second shuffle") {
    // the presentation orderBy adds a RANGE exchange; the hash count
    // pins the median+MAD computation to a single symbol shuffle
    val p = plan(graft.operators.SignalOps.outliers(spark, sf()))
    assert(countIn(p, "Exchange hashpartitioning") == 1,
      s"expected exactly 1 hash exchange for median+MAD:\n$p")
  }

  test("scd2: one user_id exchange serves both window passes and the " +
    "(user_id, version) run aggregate") {
    // before the presentation orderBy (that adds a range exchange)
    val ev = Tables.events(spark, sf()).select(
      org.apache.spark.sql.functions.col("user_id"),
      org.apache.spark.sql.functions.col("event_type"),
      org.apache.spark.sql.functions.col("value"),
      org.apache.spark.sql.functions.unix_millis(
        org.apache.spark.sql.functions.col("ts")).as("ts_ms"),
      org.apache.spark.sql.functions.col("event_id"))
    val p = plan(graft.operators.CdcRoute.scd2FromChanges(ev))
    assert(countIn(p, "Exchange hashpartitioning") == 1,
      s"expected exactly 1 hash exchange (hash(user_id) satisfies the " +
        s"(user_id, version) clustering):\n$p")
  }

  test("substring dedup: no cartesian/NLJ — duplicated hashes attach via " +
    "an equi-join, the island windows partition by doc_id (bounded by " +
    "document length, never corpus size)") {
    // the BUILD face (r17: substringStats is the shared artifact; its
    // leaf scan would hide the joins/windows under pin)
    val p = plan(TextOps.substringStatsFrame(
      Tables.documentsPar(spark, sf()), TextOps.SubstrK))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // every window runs under a doc_id partitioning (the lag/running-sum
    // island merge) — no global (unpartitioned) window anywhere
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(windows.nonEmpty && windows.forall(_.contains("doc_id")),
      s"island windows must partition by doc_id:\n$p")
  }

  test("leakage split: label and stat sides attach by equi-joins — no " +
    "cartesian, no nested loop, no document text in any shuffle") {
    val p = plan(TextOps.leakageSplit(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("text#") ||
      !p.linesIterator.exists(l => l.contains("Exchange") && l.contains("text#")),
      "document text must not ride an exchange")
  }
}
