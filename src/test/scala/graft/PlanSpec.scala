package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.lake.Tables
import graft.operators._

/** Plan-shape regression tests: the optimizations the engine's 100 TB
  * design depends on must be visible in the physical plan — a correct
  * result from the wrong plan is a scale bug waiting for data. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.sparkPlan.toString

  test("engine-wide sweep: no UDFs anywhere; cartesian joins only as single-row broadcast attaches") {
    // Every registered query's physical plan, one sweep: (1) zero
    // BatchEvalPython / ScalaUDF nodes — the whole surface is codegen'd
    // built-ins and native Expressions; (2) any nested-loop join must be
    // a BROADCAST attach (the codebook / stats-row / bench-set pattern) —
    // an unhinted CartesianProduct node means a join lost its equi-key
    // and would cross-product at 100 TB.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p = plan(fn(spark, sfDir))
      val udf = p.contains("BatchEvalPython") || p.contains("ScalaUDF")
      val cart = p.contains("CartesianProduct")
      if (udf || cart) Some(s"$name udf=$udf cartesian=$cart") else None
    }
    assert(offenders.isEmpty, s"plan offenders:\n${offenders.mkString("\n")}")
  }

  test("projection pruning reaches the parquet scan (ReadSchema carries only needed columns)") {
    val p = plan(Relational.select(Tables(spark, sfDir, "customer"),
      Seq("c_custkey", "c_name", "c_acctbal")))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("c_mktsegment"), s"unneeded column scanned:\n$p")
  }

  test("filter pushdown reaches the parquet scan (PushedFilters non-empty)") {
    val df = Relational.filterSql(Tables(spark, sfDir, "orders"), "o_totalprice <= 20000")
      .select(col("o_orderkey"), col("o_totalprice"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), LessThanOrEqual(o_totalprice,20000.0)]")
      || p.contains("LessThanOrEqual(o_totalprice"), s"filter not pushed:\n$p")
  }

  test("dimension joins broadcast the small side (BroadcastHashJoin, no sort-merge)") {
    val p = plan(Joins.customersPerRegion(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join fell back to sort-merge:\n$p")
  }

  test("global ordered limit plans as TakeOrderedAndProject, not a total sort") {
    val p = plan(Relational.limitOrdered(
      Tables(spark, sfDir, "orders").select(col("o_orderkey"), col("o_totalprice")),
      Seq(col("o_totalprice").desc, col("o_orderkey")), 14))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("group-by aggregations are partial+final (map-side combine present)") {
    val p = plan(Tables(spark, sfDir, "events").groupBy(col("event_type"))
      .agg(sum(col("value")).as("s")))
    assert(p.contains("HashAggregate") && p.contains("partial_sum"),
      s"no partial aggregation:\n$p")
  }

  test("two-phase top-k window: partial phase partitions by (priority, salt)") {
    val p = plan(Windows.topKOrdersPerPriority(spark, sfDir, 3))
    assert(p.contains("salt"), s"salted partial top-k missing:\n$p")
    // result must equal the single-window formulation
    val single = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(spark, sfDir, "orders")
        .withColumn("rank_in_priority", row_number().over(w))
        .filter(col("rank_in_priority") <= 3)
        .select(col("o_orderpriority"), col("rank_in_priority"), col("o_orderkey"),
          col("o_totalprice"))
    }
    val two = Windows.topKOrdersPerPriority(spark, sfDir, 3)
    assert(two.except(single).count() == 0 && single.except(two).count() == 0)
  }

  test("engine-wide sweep: every partition-less Window runs over a BOUNDED relation (banded/enumerated census, post-limit, or top-k)") {
    // The round-11 tightening of the q_curriculum/q_calibration
    // discipline: "post-Aggregate" alone is NOT bounded when the grouping
    // key is a continuous value (a distinct-price census is Θ(corpus) and
    // funnels through ONE sort task — the disease q_auc/q_ks_drift/
    // q_mannwhitney/q_conformal/q_rfm/q_vocab_coverage were cured of this
    // round via Sampling.orderedCensusCumsum). A partition-less Window is
    // acceptable only under one of three BOUNDED-input proofs:
    //  (a) the nearest Aggregate below groups ONLY by bounded-domain
    //      keys: `band` (≤ nBands by construction), enumerated
    //      categoricals, day-grid offsets, or shard/digit codes;
    //  (b) a Limit sits between the Window and its source (zipf top-N);
    //  (c) the executed plan carries WindowGroupLimit — a rank<=k filter
    //      the optimizer pushed into per-partition partial top-k, so the
    //      single-partition window sees ≤ partitions·k rows (skew census,
    //      trending top-k).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Window => LWindow}
    import org.apache.spark.sql.catalyst.expressions.Attribute
    // bounded-domain grouping keys, each with its boundedness argument:
    val boundedKeys = Set(
      "band",                          // Sampling.withRangeBand: ≤ nBands
      "digit",                         // Benford: 9 values
      "shard", "old_shard", "moved",   // HRW shard codes: ≤ shard count
      "lang",                          // language enum
      "t",                             // day grid: ≤ observation span days
      "l_returnflag", "l_linestatus")  // TPC-H categorical enums
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val qe = q(spark, sfDir).queryExecution
      lazy val hasTopK = qe.executedPlan.toString.contains("WindowGroupLimit")
      qe.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty =>
          val agg = w.child.collectFirst { case a: Aggregate => a }
          val aggBounded = agg.exists(_.groupingExpressions.forall(
            _.references.forall {
              case a: Attribute => boundedKeys(a.name.toLowerCase)
              case _ => false
            }))
          val limited = w.child.collectFirst { case l: GlobalLimit => l }.isDefined
          if (aggBounded || limited || hasTopK) None
          else Some(s"$name: keys=[${agg.map(_.groupingExpressions.map(_.sql)
            .mkString(",")).getOrElse("<no aggregate>")}] ${w.simpleString(60)}")
      }.flatten
    }
    assert(offenders.isEmpty,
      s"partition-less windows over unbounded relations:\n${offenders.mkString("\n")}")
  }

  test("q_curriculum / q_calibration: no partition-less Window over a corpus-sized relation") {
    // Both operators decompose their global ordered window over range
    // bands (Sampling.withRangeBand): any remaining partition-less
    // Window may only run over a post-Aggregate census (band-count-sized),
    // never directly over the scanned corpus.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    for (name <- Seq("q_curriculum", "q_calibration")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val offenders = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
            w.child.collectFirst { case a: Aggregate => a }.isEmpty =>
          w.simpleString(80)
      }
      assert(offenders.isEmpty,
        s"$name: global window over a non-aggregated relation:\n${offenders.mkString("\n")}")
    }
  }

  test("minhash candidate generation contains no join (one-pass bucket expansion)") {
    val p = plan(Dedup.minhashCandidatePairs(spark, sfDir))
    assert(!p.contains("Join"), s"pair generation should be join-free:\n$p")
  }

  test("IVF cell assignment: broadcast codebook, no corpus shuffle, no plan literals") {
    val emb = Tables(spark, sfDir, "embeddings")
    val df = Quantize.withCodebook(emb, emb).select(col("vec_id"),
      Quantize.cellExpr(col("embedding"), col("cents")).as("cell"))
    val p = plan(df)
    // the 1-row codebook is attached by broadcast; the corpus side streams
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"codebook not broadcast:\n$p")
    // the one exchange allowed is the Tables-level under-split-scan
    // spread (input-layout normalization, r18): a REPARTITION_BY_NUM
    // hash exchange on the scanned table's spread key (embeddings ->
    // vec_id, Tables.cpuDenseKeys). The assertion's target is the join
    // machinery — no other exchange may be INDUCED by the cell
    // assignment, a repartition on any other column included
    val spread = """Exchange hashpartitioning\(vec_id#\d+L?, \d+\), REPARTITION_BY_NUM""".r
    val induced = p.linesIterator.filter(l =>
      (l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning")) &&
        spread.findFirstIn(l).isEmpty).toSeq
    assert(induced.isEmpty,
      s"cell assignment should not shuffle the corpus:\n$p")
    // centroids must ride in the broadcast payload, never the plan: no
    // array-of-struct literal anywhere (would grow the plan with C)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val structLits = df.queryExecution.analyzed.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case l @ Literal(_, ArrayType(_: StructType, _)) => l })
    assert(structLits.isEmpty, s"literal centroid array baked into the plan")
  }

  test("interval join keys on the user equi-column — the time range is a filter, not a cross product") {
    val p = plan(graft.streaming.Funnel.clickToPurchase(spark, sfDir, 30))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to a product:\n$p")
    assert(p.contains("user_id"), s"equi-key missing from join:\n$p")
  }

  test("brute-force ANN broadcasts queries; corpus is never shuffled before scoring") {
    val p = plan(Similarity.bruteForceTopK(spark, sfDir, 10, 5))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
  }

  test("last-touch attribution runs in ONE exchange (no probe join, no second shuffle)") {
    val p = TimeSeries.attributionLastTouch(Tables(spark, sfDir, "events"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected a single user_id exchange, got $exchanges:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"attribution must not join:\n$p")
  }

  test("association rules broadcast the frequent-item relation; baskets expand without a self-join") {
    val p = plan(Affinity.associationRules(
      Tables(spark, sfDir, "lineitem"), "l_orderkey", "l_partkey", 3))
    assert(p.contains("BroadcastHashJoin"), s"frequent items not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"pair expansion must not need a sort-merge self-join:\n$p")
  }

  test("decayed trending ranks only the item census; the anchor is a broadcast attach") {
    val p = plan(TimeSeries.decayedDemand(Tables(spark, sfDir, "lineitem")))
    assert(p.contains("BroadcastNestedLoopJoin"), s"anchor row not broadcast:\n$p")
    // the rank window sorts AFTER the per-item aggregate, never the ledger
    assert(p.contains("WindowGroupLimit") || p.contains("Window"),
      s"rank window missing:\n$p")
  }

  test("importance weights: the dim-row ratio table attaches by broadcast") {
    val p = plan(Importance.importanceWeights(
      Tables(spark, sfDir, "documents"), "doc_id", "text", col("lang") === "en"))
    // the per-doc weight sum joins (doc, slot) counts to the 64-row ratio
    // table — a sort-merge here would shuffle the corpus postings by slot
    assert(p.contains("BroadcastHashJoin"), s"ratio table not broadcast:\n$p")
  }

  test("adamic-adar top-k plans as TakeOrderedAndProject over the scored census") {
    import spark.implicits._
    val edges = Seq(("a", "z"), ("b", "z"), ("c", "z")).toDF("term_a", "term_b")
    val p = plan(Graph.adamicAdar(edges, k = 10, maxDeg = 100))
    // a partition-less row_number window here would single-thread the
    // candidate-pair relation (1.2M+ rows at sf1)
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
  }

  test("rendezvous assignment and reshard census are join-free map-side passes") {
    val df = Tables(spark, sfDir, "documents")
    val p = plan(Sharding.reshardMoves(df, col("doc_id"), 8, 10))
    // both assignments evaluate per row from md5 scores — no shard
    // table, no join of any kind, just projection + aggregate + the
    // tiny-census share window
    assert(!p.contains("Join"), s"HRW must not join:\n$p")
  }

  test("quantile normalization: the pooled census attaches by broadcast, never a sort-merge range join") {
    val p = plan(Curate.quantileNormalize(
      Tables(spark, sfDir, "documents"), "source", "n_chars", "doc_id"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"census range join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"range join fell to sort-merge:\n$p")
  }

  test("record linkage: blocking joins on the variant key, scoring attrs broadcast-join back") {
    val p = plan(Linkage.customerLinkage(Tables(spark, sfDir, "customer")))
    assert(!p.contains("CartesianProduct"), s"linkage went all-pairs:\n$p")
    assert(p.contains("levenshtein"), s"verify stage missing:\n$p")
  }

  test("Delta partitioned read keeps partition pruning a scan-level PartitionFilters pushdown") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("deltaplan").toString + "/t"
    val dt = graft.lake.DeltaTable(root)
    dt.overwrite((1 to 40).map(i => (i.toLong, s"s$i", s"c${i % 4}"))
      .toDF("k", "s", "color"), partitionBy = Seq("color"))
    val df = dt.read(spark).filter(col("color") === "c1")
    val p = df.queryExecution.executedPlan.toString
    // the filter must reach the scan's partition dimension — a
    // post-scan Filter over all partitions re-reads the 100 TB table
    assert(p.contains("PartitionFilters") &&
      p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("color"), s"partition filter not pushed:\n$p")
    // inputFiles reports the pre-prune FileIndex; the scan's own numFiles
    // metric carries the post-prune count
    df.collect()
    val scan = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val total = dt.read(spark).inputFiles.length
    assert(scan.metrics("numFiles").value < total,
      s"partition pruning did not reduce scanned files " +
        s"(${scan.metrics("numFiles").value} of $total)")
  }
}
