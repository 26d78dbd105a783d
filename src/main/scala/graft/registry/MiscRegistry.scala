package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Text, Vectors}
import graft.lake.{Ingest, LakePaths, Readers, Tables, Writers}
import graft.operators._
import graft.streaming.{Alerts, Funnel, Sessions}
import RegistryShared._

/** Registry slice — classifiers, drift, privacy, graph, time series, attribution, stats.
  * Split out of SparkEntry (same conventions; see SparkEntry scaladoc). */
object MiscRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- Naive Bayes text classifier (closed-form distributed fit): the
    // smoothed labels×vocabulary model from the md5 train band, and the
    // argmax language prediction for every document (OOV terms skipped)
    "q_nb_model" -> ((s, d) =>
      graft.ml.NaiveBayes.model(
        Tables(s, d, "documents").filter(Sampling.hashBucket(col("doc_id")) < 90),
        "lang", "text")),
    "q_nb_predict" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      graft.ml.NaiveBayes.trainPredict(
        docs.filter(Sampling.hashBucket(col("doc_id")) < 90), docs,
        "lang", "doc_id", "text")
    }),
    // confusion-matrix census over the NB language predictions: per
    // (true, predicted) counts + row share — the label-noise report
    // (off-diagonal mass = mislabeled or genuinely ambiguous docs);
    // predictions and truth join on id, totals broadcast back
    "q_nb_confusion" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val j = graft.ml.NaiveBayes.trainPredict(
          docs.filter(Sampling.hashBucket(col("doc_id")) < 90), docs,
          "lang", "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang").as("true_label")),
          "doc_id")
      val tot = j.groupBy(col("true_label")).agg(count(lit(1)).as("n_true"))
      j.groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n_docs"))
        .join(broadcast(tot), "true_label")
        .select(col("true_label"), col("pred_label"), col("n_docs"),
          round(col("n_docs") / col("n_true").cast("double"), 6)
            .as("row_share"))
    }),
    // -- hashing-trick featurization (no vocabulary, pure map-side);
    // flattened to f0..f31 scalar columns for the oracle compare (the
    // minhash-signature convention)
    "q_feature_hash" -> ((s, d) =>
      graft.ml.Features.hashedTokenCounts(
        Tables(s, d, "documents"), "doc_id", "text", dim = 32)
        .select(col("id") +: (0 until 32).map(i =>
          element_at(col("features"), i + 1).as(s"f$i")): _*)),
    // -- distribution drift between two deterministic corpus halves:
    // per-bin PSI contributions over the n_chars distribution
    "q_drift_psi" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .withColumn("bucket", Sampling.hashBucket(col("doc_id")))
      Drift.psiReport(
        docs.filter(col("bucket") < 50), docs.filter(col("bucket") >= 50),
        col("n_chars"), binWidth = 100.0)
    }),
    // categorical (vocabulary) drift between the same snapshot halves:
    // per-term Jensen-Shannon contributions over top-20 terms + ¤other
    "q_drift_vocab" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .withColumn("bucket", Sampling.hashBucket(col("doc_id")))
      Drift.vocabDrift(
        docs.filter(col("bucket") < 50), docs.filter(col("bucket") >= 50), 20)
    }),
    // -- k-anonymity: quasi-identifier census + cell suppression
    "q_k_anon" -> ((s, d) =>
      Privacy.kAnonymityCensus(Tables(s, d, "customer"),
        Seq("c_mktsegment", "c_nationkey"), k = 10)),
    // l-diversity: uniform-group leak census over the same QI tuple
    "q_l_diversity" -> ((s, d) =>
      Privacy.lDiversityCensus(Tables(s, d, "customer"),
        Seq("c_mktsegment"), "c_nationkey", minL = 5)),
    // t-closeness: ordered-EMD census between each QI group's sensitive
    // distribution and the global one — all-integer cumsums over the
    // (groups x m) post-aggregate grid, one division at the output
    "q_t_closeness" -> ((s, d) =>
      Privacy.tClosenessCensus(Tables(s, d, "customer"),
        Seq("c_mktsegment"), "c_nationkey", t = 0.05)),
    "q_k_anon_suppress" -> ((s, d) =>
      Privacy.kAnonymize(
        Tables(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
            col("c_acctbal")),
        Seq("c_mktsegment", "c_nationkey"), k = 10)),
    // -- z-order (Morton) values over two integral dims: the 2-D zone-map
    // layout key (lake.ZOrder.writeZOrdered range-partitions on it)
    "q_zorder" -> ((s, d) =>
      graft.lake.ZOrder.withZValueN(
        Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey")),
        Seq("l_partkey", "l_suppkey"), bits = 8)),
    // zone-map effectiveness census: 32 orderkey-band "files", footer
    // min/max of shipdate vs a 1994 range scan → pruned / full / partial
    // zone classes with row masses — the is-this-layout-worth-it report
    "q_zonemap_prune" -> ((s, d) =>
      graft.lake.ZOrder.zoneMapReport(Tables(s, d, "lineitem"),
        "l_orderkey", col("l_shipdate").cast("string"),
        lit("1994-01-01"), lit("1994-12-31"))),
    // SCD2 dimension merge: a deterministic update batch (changed /
    // unchanged / brand-new keys) against the customer snapshot — changed
    // keys close + reopen, unchanged pass through, new keys open; one
    // full-outer equi-join, null-safe struct compare map-side
    "q_scd2" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
      val attrs = Seq("c_name", "c_mktsegment", "c_acctbal")
      val current = cust.select(col("c_custkey"), col("c_name"),
        col("c_mktsegment"), col("c_acctbal"),
        lit("2024-01-01").cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"))
      val updates = cust.filter(col("c_custkey") % 5 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            (col("c_acctbal") + 100).as("c_acctbal"))
        .unionByName(cust
          .filter(col("c_custkey") % 7 === 0 && col("c_custkey") % 5 =!= 0)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            col("c_acctbal")))
        .unionByName(cust.filter(col("c_custkey") % 11 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"), col("c_name"),
            lit("NEWSEG").as("c_mktsegment"), lit(0.0).as("c_acctbal")))
      Evolve.scd2Merge(current, updates, "c_custkey", attrs,
        lit("2024-06-01").cast("timestamp"))
    }),
    // data-quality rule report: five declarative checks over lineitem in
    // ONE map-side-combinable scan (null predicate = violation)
    "q_dq_report" -> ((s, d) =>
      Audit.ruleReport(Tables(s, d, "lineitem"), Seq(
        "quantity_in_range" -> col("l_quantity").between(1, 50),
        "discount_in_range" -> col("l_discount").between(0, 0.1),
        "price_positive" -> (col("l_extendedprice") > 0),
        "shipdate_present" -> col("l_shipdate").isNotNull,
        "flag_known" -> col("l_returnflag").isin("A", "N", "R")))),
    // CUPED variance reduction: post-period metric adjusted by the
    // pre-period covariate (theta from ONE pooled moment fold); all
    // moments exact integer-cent ratios, rounded before combination
    "q_cuped" -> ((s, d) =>
      Experiment.cupedReport(Tables(s, d, "events"), "2024-01-16")),
    // two-proportion z-test on post-period purchase conversion between
    // the two md5-hash variants — exact counts, one-row report
    "q_ab_test" -> ((s, d) =>
      Experiment.abTestZ(Tables(s, d, "events"), "purchase", "2024-01-16",
        minValue = 150.0)),
    // two-period diff-in-diff on per-unit value totals: four exact cell
    // moments folded into ONE row, rounded components combined in a
    // fixed expression, NULL t on degenerate cells
    "q_diff_in_diff" -> ((s, d) =>
      Experiment.diffInDiff(Tables(s, d, "events"), "2024-01-16")),
    // SRM guardrail: distinct-unit variant census vs the designed 50/50,
    // chi2 = (n0-n1)^2/(n0+n1), gate at the 0.001 critical value
    "q_ab_srm" -> ((s, d) =>
      Experiment.sampleRatioMismatch(Tables(s, d, "events"))),
    // pre-experiment power read: MDE at 5%/80% on the q_ab_test
    // unit/conversion definition — exact counts, rounded pooled rate,
    // one sqrt
    "q_mde" -> ((s, d) =>
      Experiment.minDetectableEffect(Tables(s, d, "events"), "purchase",
        "2024-01-16", 150.0)),
    // functional-dependency profiling: g3 error (min deletions to make
    // det -> dep hold) per declared candidate — one census + one rollup
    // per FD, all exact counts; nation_region holds, the others measure
    "q_fd_check" -> ((s, d) =>
      Audit.fdCheck(Tables(s, d, "nation"), "nation_region",
          Seq("n_nationkey"), "n_regionkey")
        .unionByName(Audit.fdCheck(Tables(s, d, "customer"),
          "cust_nation_segment", Seq("c_nationkey"), "c_mktsegment"))
        .unionByName(Audit.fdCheck(Tables(s, d, "lineitem"),
          "part_supp", Seq("l_partkey"), "l_suppkey"))),
    // robust outliers: per-priority MAD census, stats broadcast between
    // the two exact-percentile passes, thresholds on ROUNDED stats
    "q_mad_outliers" -> ((s, d) =>
      Audit.madOutliers(Tables(s, d, "orders"),
        "o_orderpriority", "o_totalprice")),
    // Benford first-digit screen over order totals — one scan, 9 rows out
    "q_benford" -> ((s, d) =>
      Audit.benfordReport(Tables(s, d, "orders"), "o_totalprice")),
    // WoE/IV screen: does event value predict the error type? fixed-width
    // 50-unit bins (no global sort), add-0.5 smoothing, one 10-row agg
    "q_woe_iv" -> ((s, d) =>
      graft.ml.Encode.woeBins(Tables(s, d, "events"),
        "value", col("event_type") === "error", binWidth = 50.0)),
    // leak-free mean-target encoding table: event_type encoded by its
    // out-of-fold mean value — complement sums, ONE (cat x fold) agg
    "q_target_encode" -> ((s, d) =>
      graft.ml.Encode.targetEncodeOof(Tables(s, d, "events"),
        "event_id", "event_type", "value")),
    // Poisson-bootstrap percentile CI of the per-type mean event value:
    // B=200 deterministic Poisson(1) replicate weights per row (md5
    // base), one explode + one (type x B) map-side-combined agg
    // the 200x replicate explode multiplies rows BEFORE the first
    // exchange: spread the single small-sf scan partition across the
    // cores first (the q_bpe_segment discipline — one text-sized
    // shuffle buys 200M rows of parallel map-side combine)
    "q_bootstrap_ci" -> ((s, d) =>
      Audit.poissonBootstrapCI(
        Tables(s, d, "events").repartition(s.sparkContext.defaultParallelism),
        "event_id", "value", "event_type")),
    // chi-square independence: contingency cells + marginal window sums
    // over the CELL relation, double-cast before the marginal product
    "q_chi2_indep" -> ((s, d) =>
      Audit.chiSquareIndependence(Tables(s, d, "lineitem"),
        "l_returnflag", "l_linestatus")),
    // one-row effect size: Cramér's V from the chi2 cell relation
    "q_cramers_v" -> ((s, d) =>
      Audit.cramersV(Tables(s, d, "lineitem"),
        "l_returnflag", "l_linestatus")),
    // one-way ANOVA F across event types — exact integer-micro
    // (n, Σx, Σx²) triples per group, scale cancels in the ratio
    "q_anova" -> ((s, d) =>
      Audit.anovaOneWay(Tables(s, d, "events"), "value", "event_type")),
    // tie-corrected Mann-Whitney U: view vs purchase values, average
    // ranks from the distinct-micro census (2R₁ exact long)
    "q_mannwhitney" -> ((s, d) => {
      val e = Tables(s, d, "events")
      Audit.mannWhitney(e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "purchase"), "value")
    }),
    // Welch unequal-variance t + Cohen's d: parametric twin of
    // q_mannwhitney on the same view/purchase split, exact micro moments
    "q_welch_t" -> ((s, d) => {
      val e = Tables(s, d, "events")
      Audit.welchT(e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "purchase"), "value")
    }),
    // rendezvous-hash shard census at 8 shards: map-side argmax over 8
    // md5 scores per key, balance shares on the 8-row census
    "q_rendezvous" -> ((s, d) =>
      Sharding.shardCensus(Tables(s, d, "documents"), col("doc_id"), 8)),
    // HRW minimal-disruption certificate for an 8 -> 10 reshard: per
    // (old_shard, moved) census — moved share concentrates near 2/10,
    // vs (from-1)/from for mod-N
    "q_reshard_moves" -> ((s, d) =>
      Sharding.reshardMoves(Tables(s, d, "documents"), col("doc_id"), 8, 10)),
    // quantile normalization of doc length across sources: all-integer
    // rank -> pooled-position mapping (exact div), broadcast range join
    // against the pooled value census
    "q_quantile_norm" -> ((s, d) =>
      Curate.quantileNormalize(Tables(s, d, "documents"),
        "source", "n_chars", "doc_id")),
    // per-cell mutual information — observed cells only (0 ln 0 = 0),
    // marginals as window sums over the cell relation
    "q_mutual_info" -> ((s, d) =>
      Audit.mutualInformation(Tables(s, d, "lineitem"),
        "l_returnflag", "l_linestatus")),
    // column entropy/top-share profile — all columns in ONE stacked scan
    "q_entropy_profile" -> ((s, d) =>
      Audit.entropyProfile(Tables(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_linenumber"))),
    // calibration by score decile — order-statistic ranges + integer
    // event rates, deterministic ntile tie-break
    "q_calibration" -> ((s, d) =>
      Audit.calibrationByDecile(Tables(s, d, "orders"), "o_orderkey",
        "o_totalprice", col("o_orderstatus") === "F")),
    // binning-free drift: exact two-sample KS over integer-ratio ECDFs,
    // the only sort over DISTINCT values
    "q_ks_drift" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      Drift.ksStatistic(o.filter(col("o_orderstatus") === "F"),
        o.filter(col("o_orderstatus") === "O"), "o_totalprice")
    }),
    // metric stability: md5-bucket pseudo-replicas, subtract-mean-first
    // variance on rounded replica means
    "q_metric_stability" -> ((s, d) =>
      Audit.metricStability(Tables(s, d, "orders"), "o_orderkey",
        "o_totalprice")),
    // curriculum shards: equal-token-budget easy->hard cuts, all-integer
    // boundaries; census per shard
    "q_curriculum" -> ((s, d) =>
      Sampling.curriculumShards(Tables(s, d, "documents"),
        graft.functions.Text.tokenCount(col("text")), 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("sum_tokens"),
          min(col("difficulty")).as("d_min"),
          max(col("difficulty")).as("d_max"))),
    // referential-integrity audit vs a deterministically LOSSY dimension
    // (every third customer dropped): orphaned orders per status — the
    // anti join broadcasts the dim key set
    "q_dq_orphans" -> ((s, d) =>
      Audit.referentialOrphans(Tables(s, d, "orders"),
          Tables(s, d, "customer").filter(col("c_custkey") % 3 =!= 0),
          "o_custkey", "c_custkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orphans"),
          countDistinct(col("o_custkey")).as("n_orphan_keys"))),
    // point-in-time SCD2 resolution: orders resolve the customer VERSION
    // valid at their order date (v1 before 1996-01-01 for %5 keys whose
    // balance then changed, v2 after) — equi-join on key, range residual
    "q_scd2_lookup" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
      val v1 = cust.select(col("c_custkey"), col("c_acctbal"),
        lit("1994-01-01").cast("timestamp").as("valid_from"),
        when(col("c_custkey") % 5 === 0, lit("1996-01-01").cast("timestamp"))
          .otherwise(lit(null).cast("timestamp")).as("valid_to"))
      val v2 = cust.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100).as("c_acctbal"),
          lit("1996-01-01").cast("timestamp").as("valid_from"),
          lit(null).cast("timestamp").as("valid_to"))
      val fact = Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
          col("o_orderdate").cast("timestamp").as("odate"))
      Evolve.scd2Lookup(fact, v1.unionByName(v2), "c_custkey", "odate")
        .select(col("o_orderkey"), col("c_custkey"), col("odate"),
          col("c_acctbal"), col("valid_from"))
    }),
    // snapshot diff (write-audit-publish): row-level added / removed /
    // changed / same between two deterministic snapshots of customer
    "q_snapshot_diff" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
      val attrs = Seq("c_name", "c_mktsegment", "c_acctbal")
      val after = cust.filter(col("c_custkey") % 13 =!= 0)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100)
            .otherwise(col("c_acctbal")).as("c_acctbal"))
        .unionByName(cust.filter(col("c_custkey") % 11 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"), col("c_name"),
            col("c_mktsegment"), col("c_acctbal")))
      Evolve.snapshotDiff(cust, after, "c_custkey", attrs)
    }),
    // GDPR erasure cascade census: tombstoned customers (%97 stand-in for
    // the request batch) → orders by custkey → lineitem by orderkey relay;
    // broadcast key sets, one conditional-count pass per table
    "q_forget" -> ((s, d) =>
      Evolve.forgetCensus(Tables(s, d, "customer"), Tables(s, d, "orders"),
        Tables(s, d, "lineitem"), col("c_custkey") % 97 === 0)),
    // pre-flight join blowup estimate for the lineitem self-join on
    // partkey: Σ ca·cb + the worst key's share, WITHOUT running the join
    "q_join_cardinality" -> ((s, d) =>
      Audit.joinCardinality(Tables(s, d, "lineitem"),
        Tables(s, d, "lineitem"), "l_partkey", "l_partkey")),
    // MERGE upsert: deterministic change batch (updates %7, deletes %13,
    // inserts %11 shifted keys) applied to customer — zero full-table
    // shuffle: both legs run against broadcast batch-bounded key sets
    "q_merge_upsert" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))
      val batch = cust
        .filter(col("c_custkey") % 7 === 0 && col("c_custkey") % 13 =!= 0)
        .select(col("c_custkey"), lit(false).as("deleted"), col("c_name"),
          col("c_mktsegment"), (col("c_acctbal") + 50).as("c_acctbal"))
        .unionByName(cust.filter(col("c_custkey") % 13 === 0)
          .select(col("c_custkey"), lit(true).as("deleted"), col("c_name"),
            col("c_mktsegment"), col("c_acctbal")))
        .unionByName(cust.filter(col("c_custkey") % 11 === 0)
          .select((col("c_custkey") + 2000000).as("c_custkey"),
            lit(false).as("deleted"), col("c_name"), col("c_mktsegment"),
            col("c_acctbal")))
      Evolve.mergeUpsert(cust, batch, "c_custkey")
    }),
    // anti-entropy fingerprint: 64 (bucket, count, XOR-of-row-hash) rows
    // — two replicas compare by exchanging 64 rows, not the table
    "q_table_checksum" -> ((s, d) =>
      Audit.tableChecksum(Tables(s, d, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus"))),
    // Gini concentration of orders-per-customer — exact, via the value
    // census (tie-invariance collapses the global rank; the only sort is
    // census-sized)
    "q_gini_orders" -> ((s, d) =>
      Audit.giniByKeyCount(Tables(s, d, "orders"), "o_custkey")),
    // source-level overlap matrix: pairwise Jaccard between per-source
    // distinct shingle sets — which FEEDS mirror each other (sparse:
    // zero-overlap pairs are absent by construction)
    "q_source_overlap" -> ((s, d) =>
      FuzzyJoin.groupOverlap(Tables(s, d, "documents"), "source")),
  )

  def oracleSql: Map[String, String] = Map(

    "q_feature_hash" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS id,
         |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
         |  FROM documents),
         |slots AS (
         |  SELECT id, CAST((${md5BucketSqlOf("term")}) % 32 AS INTEGER) AS slot
         |  FROM toks)
         |SELECT id,
         |${(0 until 32).map(i =>
              s"  CAST(sum(CASE WHEN slot = $i THEN 1 ELSE 0 END) AS BIGINT) AS f$i")
             .mkString(",\n")}
         |FROM slots GROUP BY id""".stripMargin,
    "q_drift_psi" ->
      s"""WITH b AS (
         |  SELECT CAST(floor(n_chars / 100.0) AS BIGINT) AS bin,
         |    CAST(count(*) AS BIGINT) AS n_base
         |  FROM documents
         |  WHERE CAST(($md5BucketSql) % 100 AS INTEGER) < 50 GROUP BY 1),
         |c AS (
         |  SELECT CAST(floor(n_chars / 100.0) AS BIGINT) AS bin,
         |    CAST(count(*) AS BIGINT) AS n_cur
         |  FROM documents
         |  WHERE CAST(($md5BucketSql) % 100 AS INTEGER) >= 50 GROUP BY 1),
         |j AS (
         |  SELECT COALESCE(b.bin, c.bin) AS bin,
         |    COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
         |  FROM b FULL OUTER JOIN c ON b.bin = c.bin),
         |t AS (
         |  SELECT CAST(sum(n_base) AS BIGINT) AS t_base,
         |    CAST(sum(n_cur) AS BIGINT) AS t_cur,
         |    CAST(count(*) AS BIGINT) AS n_bins FROM j),
         |p AS (
         |  SELECT bin, n_base, n_cur,
         |    round((n_base + 1) / CAST(t_base + n_bins AS DOUBLE), 6) AS p_base,
         |    round((n_cur + 1) / CAST(t_cur + n_bins AS DOUBLE), 6) AS p_cur
         |  FROM j CROSS JOIN t)
         |SELECT bin, n_base, n_cur, p_base, p_cur,
         |  round((p_base - p_cur) * ln(p_base / p_cur), 4) AS contrib
         |FROM p""".stripMargin,
    "q_drift_vocab" ->
      s"""WITH bt AS (
         |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
         |  FROM documents WHERE CAST(($md5BucketSql) % 100 AS INTEGER) < 50),
         |ct AS (
         |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
         |  FROM documents WHERE CAST(($md5BucketSql) % 100 AS INTEGER) >= 50),
         |j AS (
         |  SELECT COALESCE(b.term, c.term) AS term,
         |    COALESCE(b.n, 0) AS n_base, COALESCE(c.n, 0) AS n_cur
         |  FROM (SELECT term, CAST(count(*) AS BIGINT) AS n FROM bt GROUP BY 1) b
         |  FULL OUTER JOIN
         |    (SELECT term, CAST(count(*) AS BIGINT) AS n FROM ct GROUP BY 1) c
         |  ON b.term = c.term),
         |ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY n_base + n_cur DESC, term) AS rk
         |  FROM j),
         |buckets AS (
         |  SELECT term, n_base, n_cur FROM ranked WHERE rk <= 20
         |  UNION ALL
         |  SELECT '¤other', CAST(COALESCE(sum(n_base), 0) AS BIGINT),
         |    CAST(COALESCE(sum(n_cur), 0) AS BIGINT)
         |  FROM ranked WHERE rk > 20),
         |t AS (SELECT CAST(sum(n_base) AS BIGINT) AS t_base,
         |  CAST(sum(n_cur) AS BIGINT) AS t_cur FROM buckets),
         |p AS (
         |  SELECT term, n_base, n_cur,
         |    round(n_base / CAST(t_base AS DOUBLE), 6) AS p_base,
         |    round(n_cur / CAST(t_cur AS DOUBLE), 6) AS p_cur
         |  FROM buckets CROSS JOIN t)
         |SELECT term, n_base, n_cur, p_base, p_cur,
         |  round(CASE WHEN p_base > 0
         |      THEN p_base * ln(p_base / ((p_base + p_cur) / 2)) * 0.5 ELSE 0 END
         |    + CASE WHEN p_cur > 0
         |      THEN p_cur * ln(p_cur / ((p_base + p_cur) / 2)) * 0.5 ELSE 0 END, 6)
         |    AS js_contrib
         |FROM p""".stripMargin,
    "q_k_anon" ->
      """SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  count(*) < 10 AS at_risk
        |FROM customer GROUP BY c_mktsegment, c_nationkey""".stripMargin,
    "q_l_diversity" ->
      """WITH sub AS (
        |  SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS nv
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_mktsegment, CAST(sum(nv) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS l,
        |  round(CAST(max(nv) AS DOUBLE) / sum(nv), 6) AS top_share,
        |  count(*) < 5 AS at_risk
        |FROM sub GROUP BY 1""".stripMargin,
    "q_t_closeness" ->
      """WITH sub AS (
        |  SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS nv
        |  FROM customer GROUP BY 1, 2),
        |gd AS (
        |  SELECT c_nationkey, CAST(sum(nv) AS BIGINT) AS gv
        |  FROM sub GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(gv) AS BIGINT) AS big_n,
        |    CAST(count(*) AS BIGINT) AS m FROM gd),
        |grp AS (
        |  SELECT c_mktsegment, CAST(sum(nv) AS BIGINT) AS n
        |  FROM sub GROUP BY 1),
        |grid AS (
        |  SELECT g.c_mktsegment, g.n, gl.c_nationkey, t.m, t.big_n,
        |    COALESCE(s.nv, 0) * t.big_n - gl.gv * g.n AS diff_num
        |  FROM grp g CROSS JOIN gd gl CROSS JOIN tot t
        |  LEFT JOIN sub s ON s.c_mktsegment = g.c_mktsegment
        |    AND s.c_nationkey = gl.c_nationkey),
        |cum AS (
        |  SELECT c_mktsegment, n, m, big_n,
        |    sum(diff_num) OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_nationkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_num
        |  FROM grid),
        |emd AS (
        |  SELECT c_mktsegment, n, m,
        |    round(CAST(sum(abs(cum_num)) AS DOUBLE)
        |      / (n * big_n * (m - 1)), 6) AS emd
        |  FROM cum GROUP BY c_mktsegment, n, m, big_n)
        |SELECT c_mktsegment, n, m, emd, emd > 0.05 AS at_risk
        |FROM emd""".stripMargin,
    "q_cuped" -> {
      val variant =
        s"CAST((${md5BucketSqlOf("user_id")}) % 100 AS INTEGER) % 2"
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
         |      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
         |      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |pv AS (SELECT $variant AS variant, x, y FROM pu),
         |pool AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
         |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sx2
         |  FROM pv),
         |th AS (
         |  SELECT round(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * sx2 - sx * sx AS DOUBLE), 6) AS theta,
         |    round(CAST(sx AS DOUBLE) / CAST(n * 100 AS DOUBLE), 6) AS x_bar
         |  FROM pool),
         |bv AS (
         |  SELECT variant, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
         |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sx2,
         |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS sy2
         |  FROM pv GROUP BY 1),
         |calc AS (
         |  SELECT variant, CAST(n AS BIGINT) AS n_units, theta, x_bar,
         |    round(CAST(sx AS DOUBLE) / CAST(n * 100 AS DOUBLE), 6) AS mean_x,
         |    round(CAST(sy AS DOUBLE) / CAST(n * 100 AS DOUBLE), 6) AS mean_y,
         |    round(CAST(n * sy2 - sy * sy AS DOUBLE)
         |      / CAST(n * n * 10000 AS DOUBLE), 6) AS var_y,
         |    round(CAST(n * sx2 - sx * sx AS DOUBLE)
         |      / CAST(n * n * 10000 AS DOUBLE), 6) AS var_x,
         |    round(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * n * 10000 AS DOUBLE), 6) AS cov_xy
         |  FROM bv CROSS JOIN th),
         |adj AS (
         |  SELECT variant, n_units, theta, mean_y,
         |    round(mean_y - theta * (mean_x - x_bar), 6) AS mean_cuped,
         |    var_y,
         |    round(var_y - 2.0 * theta * cov_xy
         |      + theta * theta * var_x, 6) AS var_cuped
         |  FROM calc)
         |SELECT variant, n_units, theta, mean_y, mean_cuped, var_y,
         |  var_cuped,
         |  round((1.0 - var_cuped / var_y) * 100, 2) AS var_reduction_pct
         |FROM adj""".stripMargin
    },
    "q_ab_test" -> {
      val variant =
        s"CAST((${md5BucketSqlOf("u.user_id")}) % 100 AS INTEGER) % 2"
      s"""WITH conv AS (
         |  SELECT DISTINCT user_id FROM events
         |  WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
         |    AND value >= 150.0),
         |units AS (
         |  SELECT u.user_id, $variant AS variant,
         |    CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END AS converted
         |  FROM (SELECT DISTINCT user_id FROM events) u
         |  LEFT JOIN conv c ON u.user_id = c.user_id),
         |per AS (
         |  SELECT variant, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(converted) AS BIGINT) AS c
         |  FROM units GROUP BY 1),
         |ab AS (
         |  SELECT
         |    (SELECT n FROM per WHERE variant = 0) AS n0,
         |    (SELECT c FROM per WHERE variant = 0) AS c0,
         |    (SELECT n FROM per WHERE variant = 1) AS n1,
         |    (SELECT c FROM per WHERE variant = 1) AS c1),
         |r AS (
         |  SELECT n0, c0, round(CAST(c0 AS DOUBLE) / n0, 6) AS p0,
         |    n1, c1, round(CAST(c1 AS DOUBLE) / n1, 6) AS p1,
         |    round(CAST(c0 + c1 AS DOUBLE) / (n0 + n1), 6) AS p_pool
         |  FROM ab)
         |SELECT n0, c0, p0, n1, c1, p1, round(p1 - p0, 6) AS lift,
         |  CASE WHEN p_pool = 0.0 OR p_pool = 1.0 THEN NULL
         |    ELSE round((p1 - p0) / sqrt(p_pool * (1.0 - p_pool)
         |      * (1.0 / n0 + 1.0 / n1)), 4) END AS z
         |FROM r""".stripMargin
    },
    "q_fd_check" -> {
      def fd(table: String, name: String, det: String, dep: String) =
        s"""SELECT '$name' AS fd, CAST(sum(n) AS BIGINT) AS n_rows,
           |  CAST(count(*) AS BIGINT) AS n_groups,
           |  CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS violating_groups,
           |  CAST(sum(n - top_nv) AS BIGINT) AS g3_violations,
           |  sum(n - top_nv) = 0 AS holds
           |FROM (
           |  SELECT $det, CAST(sum(nv) AS BIGINT) AS n, max(nv) AS top_nv,
           |    count(*) AS n_dep
           |  FROM (SELECT $det, $dep, CAST(count(*) AS BIGINT) AS nv
           |        FROM $table GROUP BY 1, 2)
           |  GROUP BY $det)""".stripMargin
      Seq(fd("nation", "nation_region", "n_nationkey", "n_regionkey"),
        fd("customer", "cust_nation_segment", "c_nationkey", "c_mktsegment"),
        fd("lineitem", "part_supp", "l_partkey", "l_suppkey"))
        .mkString("\nUNION ALL\n")
    },
    "q_k_anon_suppress" ->
      """SELECT c_custkey,
        |  CASE WHEN cnt >= 10 THEN c_mktsegment END AS c_mktsegment,
        |  CASE WHEN cnt >= 10 THEN c_nationkey END AS c_nationkey,
        |  c_acctbal
        |FROM (SELECT c_custkey, c_mktsegment, c_nationkey, c_acctbal,
        |        count(*) OVER (PARTITION BY c_mktsegment, c_nationkey) AS cnt
        |      FROM customer)""".stripMargin,
    "q_scd2" ->
      """WITH cur AS (
        |  SELECT c_custkey AS k, c_name, c_mktsegment, c_acctbal FROM customer),
        |upd AS (
        |  SELECT c_custkey AS k, c_name, c_mktsegment,
        |    c_acctbal + 100 AS c_acctbal
        |  FROM customer WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 5 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, 'NEWSEG', 0.0
        |  FROM customer WHERE c_custkey % 11 = 0),
        |j AS (
        |  SELECT cur.k AS lk, upd.k AS uk,
        |    cur.c_name AS ln, cur.c_mktsegment AS ls, cur.c_acctbal AS lb,
        |    upd.c_name AS un, upd.c_mktsegment AS us, upd.c_acctbal AS ub,
        |    (cur.c_name IS NOT DISTINCT FROM upd.c_name
        |      AND cur.c_mktsegment IS NOT DISTINCT FROM upd.c_mktsegment
        |      AND cur.c_acctbal IS NOT DISTINCT FROM upd.c_acctbal) AS same
        |  FROM cur FULL OUTER JOIN upd ON cur.k = upd.k)
        |SELECT lk AS c_custkey, ln AS c_name, ls AS c_mktsegment,
        |  lb AS c_acctbal, TIMESTAMP '2024-01-01' AS valid_from,
        |  CAST(NULL AS TIMESTAMP) AS valid_to
        |FROM j WHERE uk IS NULL OR (lk IS NOT NULL AND same)
        |UNION ALL
        |SELECT lk, ln, ls, lb, TIMESTAMP '2024-01-01',
        |  TIMESTAMP '2024-06-01'
        |FROM j WHERE lk IS NOT NULL AND uk IS NOT NULL AND NOT same
        |UNION ALL
        |SELECT COALESCE(lk, uk), un, us, ub, TIMESTAMP '2024-06-01',
        |  CAST(NULL AS TIMESTAMP)
        |FROM j WHERE uk IS NOT NULL AND (lk IS NULL OR NOT same)""".stripMargin,
    "q_dq_report" ->
      """WITH a AS (
        |  SELECT count(*) AS n_rows,
        |    CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS v_quantity,
        |    CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS v_discount,
        |    CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS v_price,
        |    CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END)
        |      AS BIGINT) AS v_ship,
        |    CAST(sum(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 0 ELSE 1 END)
        |      AS BIGINT) AS v_flag
        |  FROM lineitem)
        |SELECT r.rule, r.n_violations, a.n_rows,
        |  round(r.n_violations / CAST(a.n_rows AS DOUBLE), 6) AS violation_rate
        |FROM a, (
        |  SELECT 'quantity_in_range' AS rule, v_quantity AS n_violations FROM a
        |  UNION ALL SELECT 'discount_in_range', v_discount FROM a
        |  UNION ALL SELECT 'price_positive', v_price FROM a
        |  UNION ALL SELECT 'shipdate_present', v_ship FROM a
        |  UNION ALL SELECT 'flag_known', v_flag FROM a) r""".stripMargin,
    "q_mad_outliers" ->
      """WITH med AS (
        |  SELECT o_orderpriority, round(median(o_totalprice), 4) AS med
        |  FROM orders GROUP BY 1),
        |mad AS (
        |  SELECT o.o_orderpriority,
        |    round(median(abs(o.o_totalprice - m.med)), 4) AS mad
        |  FROM orders o JOIN med m USING (o_orderpriority) GROUP BY 1),
        |st AS (
        |  SELECT o_orderpriority, med, mad,
        |    round(3.0 * 1.4826 * mad, 4) AS thresh
        |  FROM med JOIN mad USING (o_orderpriority))
        |SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  st.med, st.mad, st.thresh,
        |  CAST(sum(CASE WHEN round(abs(o.o_totalprice - st.med), 4) > st.thresh
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(CAST(sum(CASE WHEN round(abs(o.o_totalprice - st.med), 4)
        |      > st.thresh THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        |    AS outlier_rate
        |FROM orders o JOIN st USING (o_orderpriority)
        |GROUP BY 1, 3, 4, 5""".stripMargin,
    "q_benford" ->
      """WITH v AS (
        |  SELECT abs(o_totalprice) AS x FROM orders WHERE abs(o_totalprice) > 0),
        |d AS (
        |  SELECT CAST(floor(x / pow(10.0, floor(log10(x)))) AS INT) AS d10
        |  FROM v),
        |g AS (
        |  SELECT CASE WHEN d10 >= 10 THEN 1 WHEN d10 < 1 THEN 1
        |              ELSE d10 END AS digit
        |  FROM d),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM g GROUP BY 1),
        |t AS (
        |  SELECT digit, n_obs, CAST(sum(n_obs) OVER () AS BIGINT) AS n FROM c),
        |e AS (
        |  SELECT digit, n_obs, n,
        |    n * log10(1.0 + 1.0 / digit) AS exp_raw
        |  FROM t)
        |SELECT digit, n_obs, n, round(exp_raw, 4) AS expected,
        |  round((n_obs - exp_raw) * (n_obs - exp_raw) / exp_raw, 6) AS chi2_part
        |FROM e""".stripMargin,
    "q_ks_drift" ->
      """WITH u AS (
        |  SELECT o_totalprice AS v, 1 AS ia, 0 AS ib FROM orders
        |  WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_totalprice, 0, 1 FROM orders WHERE o_orderstatus = 'O'),
        |c AS (
        |  SELECT v, CAST(sum(ia) AS BIGINT) AS na,
        |    CAST(sum(ib) AS BIGINT) AS nb
        |  FROM u GROUP BY 1),
        |r AS (
        |  SELECT CAST(sum(na) OVER w AS BIGINT) AS ca,
        |    CAST(sum(nb) OVER w AS BIGINT) AS cb,
        |    CAST(sum(na) OVER () AS BIGINT) AS ta,
        |    CAST(sum(nb) OVER () AS BIGINT) AS tb
        |  FROM c
        |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW))
        |SELECT max(ta) AS n_a, max(tb) AS n_b,
        |  round(max(abs(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)), 6)
        |    AS ks
        |FROM r""".stripMargin,
    "q_metric_stability" ->
      s"""WITH b AS (
         |  SELECT CAST((${md5BucketSqlOf("o_orderkey")}) % 32 AS INTEGER)
         |      AS bucket,
         |    o_totalprice AS v
         |  FROM orders),
         |m AS (SELECT bucket, round(avg(v), 4) AS m FROM b GROUP BY 1),
         |g AS (SELECT round(avg(m), 4) AS mu FROM m)
         |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |  max(mu) AS mean_of_means,
         |  round(sqrt(sum((m - mu) * (m - mu)) / (count(*) - 1)), 4)
         |    AS sd_means,
         |  round(round(sqrt(sum((m - mu) * (m - mu)) / (count(*) - 1)), 4)
         |    / sqrt(CAST(count(*) AS DOUBLE)), 4) AS se_mean
         |FROM m CROSS JOIN g""".stripMargin,
    "q_curriculum" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(lower(text)), '\s+')) AS difficulty,
        |    len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens
        |  FROM documents),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM b),
        |c AS (
        |  SELECT doc_id, difficulty, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY difficulty, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum
        |  FROM b),
        |s AS (
        |  SELECT doc_id, difficulty, n_tokens,
        |    CAST(least((cum * 8) // total, 7) AS INTEGER) AS shard
        |  FROM c CROSS JOIN t)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(min(difficulty) AS INTEGER) AS d_min,
        |  CAST(max(difficulty) AS INTEGER) AS d_max
        |FROM s GROUP BY 1""".stripMargin,
    "q_woe_iv" ->
      """WITH b AS (
        |  SELECT CAST(least(floor(value / 50.0), 9) AS INT) AS bin,
        |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS bad
        |  FROM events),
        |c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(bad) AS BIGINT) AS n_bad
        |      FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot_n,
        |        CAST(sum(n_bad) AS BIGINT) AS tot_bad FROM c),
        |s AS (SELECT bin, n, n_bad,
        |        (n - n_bad + 0.5) / (tot_n - tot_bad + 5.0) AS gs,
        |        (n_bad + 0.5) / (tot_bad + 5.0) AS bs
        |      FROM c, t)
        |SELECT bin, n, n_bad, round(ln(gs / bs), 4) AS woe,
        |  round((gs - bs) * ln(gs / bs), 6) AS iv_part
        |FROM s""".stripMargin,
    "q_target_encode" ->
      s"""WITH f AS (
         |  SELECT event_type AS category,
         |    CAST((${md5PrefixSqlOf("CAST(event_id AS VARCHAR)", 7)}) % 5 AS INT) AS fold,
         |    value AS y
         |  FROM events),
         |pf AS (SELECT category, fold, CAST(count(*) AS BIGINT) AS n_f,
         |         sum(y) AS s_f
         |       FROM f GROUP BY 1, 2),
         |pc AS (SELECT category, CAST(sum(n_f) AS BIGINT) AS n_c,
         |         sum(s_f) AS s_c
         |       FROM pf GROUP BY 1)
         |SELECT category, fold, n_c - n_f AS n_out,
         |  round((s_c - s_f) / CAST(n_c - n_f AS DOUBLE), 4) AS encoding
         |FROM pf JOIN pc USING (category)""".stripMargin,
    "q_bootstrap_ci" ->
      s"""WITH r AS (
         |  SELECT event_type, event_id, value, unnest(range(0, 200)) AS b
         |  FROM events),
         |u AS (
         |  SELECT event_type, b, value,
         |    (CAST(${md5PrefixSqlOf(
               "CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)", 7)}
         |      AS DOUBLE) + 0.5) / 268435456.0 AS uu
         |  FROM r),
         |w AS (
         |  SELECT event_type, b, value,
         |    CAST(uu > 0.36787944117144233 AS INT)
         |    + CAST(uu > 0.7357588823428847 AS INT)
         |    + CAST(uu > 0.9196986029286058 AS INT)
         |    + CAST(uu > 0.9810118431238462 AS INT)
         |    + CAST(uu > 0.9963401531726563 AS INT)
         |    + CAST(uu > 0.9994058151824183 AS INT)
         |    + CAST(uu > 0.9999167588507119 AS INT)
         |    + CAST(uu > 0.9999897508033253 AS INT) AS wt
         |  FROM u),
         |m AS (
         |  SELECT event_type, b,
         |    round(sum(wt * value) / CAST(sum(wt) AS DOUBLE), 4) AS m
         |  FROM w GROUP BY 1, 2),
         |rk AS (
         |  SELECT event_type, b, m,
         |    row_number() OVER (PARTITION BY event_type ORDER BY m, b) AS rn
         |  FROM m),
         |ci AS (
         |  SELECT event_type,
         |    max(CASE WHEN rn = 5 THEN m END) AS ci_lo,
         |    max(CASE WHEN rn = 196 THEN m END) AS ci_hi
         |  FROM rk GROUP BY 1),
         |base AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    round(avg(value), 4) AS mean_value
         |  FROM events GROUP BY 1)
         |SELECT base.event_type, n, mean_value, ci_lo, ci_hi
         |FROM base JOIN ci USING (event_type)""".stripMargin,
    "q_chi2_indep" ->
      s"""$chi2CellsSql
         |SELECT l_returnflag, l_linestatus, n_obs,
         |  round(exp_raw, 4) AS expected,
         |  round((n_obs - exp_raw) * (n_obs - exp_raw) / exp_raw, 6) AS chi2_part
         |FROM e""".stripMargin,
    "q_cramers_v" ->
      s"""$chi2CellsSql,
         |parts AS (
         |  SELECT l_returnflag, l_linestatus, n_obs,
         |    round((n_obs - exp_raw) * (n_obs - exp_raw) / exp_raw, 6)
         |      AS chi2_part
         |  FROM e),
         |sm AS (
         |  SELECT CAST(sum(n_obs) AS BIGINT) AS n,
         |    round(sum(chi2_part), 6) AS chi2,
         |    CAST(count(DISTINCT l_returnflag) AS BIGINT) AS r,
         |    CAST(count(DISTINCT l_linestatus) AS BIGINT) AS c
         |  FROM parts)
         |SELECT n, chi2,
         |  round(sqrt(chi2 / CAST(n * (least(r, c) - 1) AS DOUBLE)), 6)
         |    AS cramers_v
         |FROM sm""".stripMargin,
    // exact HUGEINT (n, Σx, Σx²) per group; per-group Sᵢ²/nᵢ divisions
    // on the 5-row census, one final ratio
    "q_anova" ->
      """WITH per AS (
        |  SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS ni,
        |    CAST(sum(xm) AS BIGINT) AS si,
        |    sum(CAST(xm AS HUGEINT) * CAST(xm AS HUGEINT)) AS qi
        |  FROM (
        |    SELECT event_type, CAST(round(value * 1e6, 0) AS BIGINT) AS xm
        |    FROM events WHERE value IS NOT NULL)
        |  GROUP BY event_type),
        |tot AS (
        |  SELECT CAST(sum(ni) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS g,
        |    CAST(sum(si) AS HUGEINT) AS s,
        |    sum(CAST(qi AS DOUBLE)) AS q,
        |    sum(CAST(CAST(si AS HUGEINT) * CAST(si AS HUGEINT) AS DOUBLE)
        |      / CAST(ni AS DOUBLE)) AS a
        |  FROM per)
        |SELECT n, g,
        |  round(((a - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE))
        |      / CAST(g - 1 AS DOUBLE))
        |    / ((q - a) / CAST(n - g AS DOUBLE)), 4) AS f_stat
        |FROM tot""".stripMargin,
    // distinct-micro census + cumulative-count average ranks (2R exact),
    // tie-corrected sigma, one sqrt on the one-row output
    "q_mannwhitney" ->
      """WITH c AS (
        |  SELECT CAST(round(value * 1e6, 0) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1v,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2v
        |  FROM events
        |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
        |  GROUP BY 1),
        |r AS (
        |  SELECT n1v, n2v, n1v + n2v AS t,
        |    2 * (sum(n1v + n2v) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - (n1v + n2v)) + (n1v + n2v) + 1 AS r2
        |  FROM c),
        |s AS (
        |  SELECT CAST(sum(n1v) AS BIGINT) AS n1, CAST(sum(n2v) AS BIGINT) AS n2,
        |    CAST(sum(n1v * r2) AS BIGINT) AS sr2,
        |    CAST(sum(t * t * t - t) AS BIGINT) AS ties
        |  FROM r),
        |u AS (
        |  SELECT n1, n2,
        |    CAST(sr2 AS DOUBLE) / 2
        |      - CAST(n1 AS DOUBLE) * (n1 + 1) / 2 AS u1,
        |    ties, CAST(n1 + n2 AS DOUBLE) AS nn
        |  FROM s)
        |SELECT n1, n2, u1,
        |  round((u1 - CAST(n1 AS DOUBLE) * n2 / 2)
        |    / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
        |      * ((nn + 1) - CAST(ties AS DOUBLE) / (nn * (nn - 1)))), 4) AS z
        |FROM u""".stripMargin,
    // same exact HUGEINT (n, Σx, Σx²) moments; micro scale cancels in t
    // and d, means divide back once
    "q_welch_t" ->
      """WITH m1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n1,
        |    CAST(sum(xm) AS BIGINT) AS s1,
        |    sum(CAST(xm AS HUGEINT) * CAST(xm AS HUGEINT)) AS q1
        |  FROM (SELECT CAST(round(value * 1e6, 0) AS BIGINT) AS xm
        |    FROM events WHERE event_type = 'view' AND value IS NOT NULL)),
        |m2 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n2,
        |    CAST(sum(xm) AS BIGINT) AS s2,
        |    sum(CAST(xm AS HUGEINT) * CAST(xm AS HUGEINT)) AS q2
        |  FROM (SELECT CAST(round(value * 1e6, 0) AS BIGINT) AS xm
        |    FROM events WHERE event_type = 'purchase' AND value IS NOT NULL)),
        |c AS (
        |  SELECT n1, n2, s1, s2,
        |    CAST(CAST(n1 AS HUGEINT) * q1
        |      - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT) AS DOUBLE)
        |      / (CAST(n1 AS DOUBLE) * (n1 - 1)) AS v1,
        |    CAST(CAST(n2 AS HUGEINT) * q2
        |      - CAST(s2 AS HUGEINT) * CAST(s2 AS HUGEINT) AS DOUBLE)
        |      / (CAST(n2 AS DOUBLE) * (n2 - 1)) AS v2,
        |    CAST(s1 AS DOUBLE) / n1 AS mm1, CAST(s2 AS DOUBLE) / n2 AS mm2
        |  FROM m1, m2),
        |f AS (SELECT *, v1 / n1 + v2 / n2 AS se2 FROM c)
        |SELECT n1, n2,
        |  round(mm1 / 1e6, 6) AS mean1, round(mm2 / 1e6, 6) AS mean2,
        |  round((mm1 - mm2) / sqrt(se2), 4) AS t_stat,
        |  round(se2 * se2
        |    / (v1 / n1 * (v1 / n1) / (n1 - 1)
        |      + v2 / n2 * (v2 / n2) / (n2 - 1)), 2) AS df,
        |  round((mm1 - mm2) / sqrt(
        |    ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)), 4) AS cohens_d
        |FROM f""".stripMargin,
    // per-key argmax over the 8 hrw: md5 scores (row_number DESC, ties
    // to the lower shard id ≡ the engine's array_position-first-max)
    "q_rendezvous" ->
      s"""WITH a AS (
         |  SELECT doc_id, s,
         |    (${md5PrefixSqlOf("'hrw:' || s || ':' || doc_id", 7)}) AS sc
         |  FROM documents, (SELECT unnest(range(8)) AS s)),
         |asg AS (
         |  SELECT doc_id, CAST(s AS INTEGER) AS shard FROM (
         |    SELECT doc_id, s, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY sc DESC, s) AS rk FROM a)
         |  WHERE rk = 1),
         |c AS (
         |  SELECT shard, CAST(count(*) AS BIGINT) AS n_keys
         |  FROM asg GROUP BY shard),
         |t AS (SELECT CAST(sum(n_keys) AS BIGINT) AS total FROM c)
         |SELECT shard, n_keys, round(CAST(n_keys AS DOUBLE) / total, 6)
         |  AS share
         |FROM c, t""".stripMargin,
    // same unit/conversion CTEs as q_ab_test; z-constant sum written as
    // the identical addition so both engines fold the same double
    "q_mde" -> {
      val variant = s"CAST((${md5BucketSqlOf("u.user_id")}) % 100 AS INTEGER) % 2"
      s"""WITH conv AS (
         |  SELECT DISTINCT user_id FROM events
         |  WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
         |    AND value >= 150.0),
         |units AS (
         |  SELECT u.user_id, $variant AS v,
         |    CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END AS converted
         |  FROM (SELECT DISTINCT user_id FROM events) u
         |  LEFT JOIN conv c ON u.user_id = c.user_id),
         |f AS (
         |  SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0,
         |    CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(converted) AS BIGINT) AS conv
         |  FROM units),
         |p AS (
         |  SELECT n0, n1,
         |    round(CAST(conv AS DOUBLE) / (n0 + n1), 6) AS p_pool
         |  FROM f)
         |SELECT n0, n1, p_pool,
         |  round((1.959964 + 0.841621)
         |    * sqrt(p_pool * (1.0 - p_pool) * (1.0 / n0 + 1.0 / n1)), 6)
         |    AS mde_abs,
         |  CASE WHEN p_pool = 0.0 THEN NULL
         |    ELSE round((1.959964 + 0.841621)
         |      * sqrt(p_pool * (1.0 - p_pool) * (1.0 / n0 + 1.0 / n1))
         |      / p_pool, 6) END AS mde_rel
         |FROM p""".stripMargin
    },
    // same distinct-unit census + one-ratio chi2, flag on the rounded
    // statistic
    "q_ab_srm" -> {
      val variant = s"CAST((${md5BucketSqlOf("user_id")}) % 100 AS INTEGER) % 2"
      s"""WITH u AS (
         |  SELECT DISTINCT user_id FROM events),
         |v AS (SELECT $variant AS v FROM u),
         |c AS (
         |  SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0,
         |    CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
         |  FROM v)
         |SELECT n0, n1,
         |  round(CAST(n0 - n1 AS DOUBLE) * (n0 - n1) / (n0 + n1), 4) AS chi2,
         |  round(CAST(n0 - n1 AS DOUBLE) * (n0 - n1) / (n0 + n1), 4) > 10.828
         |    AS srm_flag
         |FROM c""".stripMargin
    },
    // the four (treat, post) cells via conditional aggregation, exact
    // HUGEINT moments, ROUNDED means/variances combined in fixed order
    "q_diff_in_diff" -> {
      val treat = s"(CAST((${md5BucketSqlOf("user_id")}) % 100 AS INTEGER) % 2 = 1)"
      val cells = Seq(("c0", "NOT treat AND NOT post"),
        ("c1", "NOT treat AND post"), ("t0", "treat AND NOT post"),
        ("t1", "treat AND post"))
      val folds = cells.map { case (c, p) =>
        s"""    CAST(sum(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS n_$c,
           |    CAST(sum(CASE WHEN $p THEN y ELSE 0 END) AS BIGINT) AS s_$c,
           |    sum(CASE WHEN $p THEN CAST(y AS HUGEINT) * CAST(y AS HUGEINT)
           |      ELSE 0 END) AS q_$c""".stripMargin
      }.mkString(",\n")
      val calc = cells.map { case (c, _) =>
        s"""    round(CAST(s_$c AS DOUBLE) / CAST(n_$c * 100 AS DOUBLE), 6)
           |      AS m_$c,
           |    round(CAST(n_$c * q_$c - CAST(s_$c AS HUGEINT) * s_$c AS DOUBLE)
           |      / CAST(CAST(n_$c AS HUGEINT) * (n_$c - 1) * 10000 AS DOUBLE), 6)
           |      AS v_$c""".stripMargin
      }.mkString(",\n")
      s"""WITH pu AS (
         |  SELECT user_id, (ts >= TIMESTAMP '2024-01-16') AS post,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |tagged AS (SELECT *, $treat AS treat FROM pu),
         |folded AS (
         |  SELECT
         |$folds
         |  FROM tagged),
         |calc AS (
         |  SELECT n_c0, n_c1, n_t0, n_t1,
         |$calc
         |  FROM folded),
         |fin AS (
         |  SELECT *, round((m_t1 - m_t0) - (m_c1 - m_c0), 6) AS did,
         |    round(sqrt(v_t1 / n_t1 + v_t0 / n_t0
         |      + v_c1 / n_c1 + v_c0 / n_c0), 6) AS se
         |  FROM calc)
         |SELECT n_c0, n_c1, n_t0, n_t1, m_c0, m_c1, m_t0, m_t1, did, se,
         |  CASE WHEN se = 0.0 THEN NULL ELSE round(did / se, 4) END AS t_stat
         |FROM fin""".stripMargin
    },
    // identical integer rank -> pooled-position arithmetic (// is exact
    // div on both engines), BETWEEN join vs the pooled census ranges
    "q_quantile_norm" ->
      """WITH base AS (
        |  SELECT source AS grp, doc_id AS id, CAST(n_chars AS BIGINT) AS v
        |  FROM documents),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM base),
        |ranked AS (
        |  SELECT grp, id, v,
        |    row_number() OVER (PARTITION BY grp ORDER BY v, id) AS r,
        |    count(*) OVER (PARTITION BY grp) AS n_g
        |  FROM base),
        |census AS (
        |  SELECT v AS pv, CAST(count(*) AS BIGINT) AS cnt
        |  FROM base GROUP BY v),
        |c2 AS (
        |  SELECT pv, cnt, sum(cnt) OVER (ORDER BY pv
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        |  FROM census),
        |c3 AS (SELECT pv, hi - cnt + 1 AS lo, hi FROM c2),
        |idxd AS (
        |  SELECT grp, id, v,
        |    CASE WHEN n_g = 1 THEN 1 + (n_total - 1) // 2
        |      ELSE 1 + ((r - 1) * (n_total - 1)) // (n_g - 1) END AS idx
        |  FROM ranked, nt)
        |SELECT i.id AS doc_id, i.grp AS source, i.v AS n_chars,
        |  c.pv AS qn_value
        |FROM idxd i JOIN c3 c ON i.idx BETWEEN c.lo AND c.hi""".stripMargin,
    // both assignments from the same score CTE shape; moved = argmax
    // changed when shards 8 and 9 joined the draw
    "q_reshard_moves" ->
      s"""WITH a AS (
         |  SELECT doc_id, s,
         |    (${md5PrefixSqlOf("'hrw:' || s || ':' || doc_id", 7)}) AS sc
         |  FROM documents, (SELECT unnest(range(10)) AS s)),
         |oldasg AS (
         |  SELECT doc_id, CAST(s AS INTEGER) AS shard FROM (
         |    SELECT doc_id, s, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY sc DESC, s) AS rk
         |    FROM a WHERE s < 8)
         |  WHERE rk = 1),
         |newasg AS (
         |  SELECT doc_id, CAST(s AS INTEGER) AS shard FROM (
         |    SELECT doc_id, s, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY sc DESC, s) AS rk FROM a)
         |  WHERE rk = 1),
         |j AS (
         |  SELECT o.shard AS old_shard, (n.shard != o.shard) AS moved
         |  FROM oldasg o JOIN newasg n USING (doc_id)),
         |c AS (
         |  SELECT old_shard, moved, CAST(count(*) AS BIGINT) AS n_keys
         |  FROM j GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n_keys) AS BIGINT) AS total FROM c)
         |SELECT old_shard, moved, n_keys,
         |  round(CAST(n_keys AS DOUBLE) / total, 6) AS share
         |FROM c, t""".stripMargin,
    "q_mutual_info" ->
      """WITH cells AS (
        |  SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_obs
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT *,
        |    CAST(sum(n_obs) OVER (PARTITION BY l_returnflag) AS BIGINT)
        |      AS row_tot,
        |    CAST(sum(n_obs) OVER (PARTITION BY l_linestatus) AS BIGINT)
        |      AS col_tot,
        |    CAST(sum(n_obs) OVER () AS BIGINT) AS n
        |  FROM cells)
        |SELECT l_returnflag, l_linestatus, n_obs,
        |  round((n_obs / CAST(n AS DOUBLE)) *
        |    ln((CAST(n_obs AS DOUBLE) * n)
        |      / (CAST(row_tot AS DOUBLE) * col_tot)), 6) AS mi_contrib
        |FROM m""".stripMargin,
    "q_entropy_profile" ->
      """WITH s AS (
        |  SELECT 'l_returnflag' AS col_name, CAST(l_returnflag AS VARCHAR) AS value
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem),
        |c AS (
        |  SELECT col_name, value, CAST(count(*) AS BIGINT) AS cnt
        |  FROM s GROUP BY 1, 2),
        |t AS (
        |  SELECT col_name, value, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY col_name) AS BIGINT) AS total
        |  FROM c)
        |SELECT col_name, CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(-sum((cnt / CAST(total AS DOUBLE)) *
        |    ln(cnt / CAST(total AS DOUBLE))) / ln(2.0), 6) AS entropy_bits,
        |  round(max(cnt) / CAST(max(total) AS DOUBLE), 6) AS top_share
        |FROM t GROUP BY 1""".stripMargin,
    "q_calibration" ->
      """WITH s AS (
        |  SELECT o_orderkey AS k, round(o_totalprice, 4) AS score,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS event
        |  FROM orders),
        |b AS (
        |  SELECT *, CAST(ntile(10) OVER (ORDER BY score, k) AS INT) AS decile
        |  FROM s)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n,
        |  min(score) AS min_score, max(score) AS max_score,
        |  CAST(sum(event) AS BIGINT) AS n_events,
        |  round(CAST(sum(event) AS DOUBLE) / count(*), 6) AS event_rate
        |FROM b GROUP BY 1""".stripMargin,
    "q_dq_orphans" ->
      """SELECT o_orderstatus, count(*) AS n_orphans,
        |  count(DISTINCT o_custkey) AS n_orphan_keys
        |FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM customer c
        |  WHERE c.c_custkey % 3 <> 0 AND c.c_custkey = o.o_custkey)
        |GROUP BY o_orderstatus""".stripMargin,
    "q_scd2_lookup" ->
      """WITH v AS (
        |  SELECT c_custkey, c_acctbal,
        |    TIMESTAMP '1994-01-01' AS valid_from,
        |    CASE WHEN c_custkey % 5 = 0 THEN TIMESTAMP '1996-01-01' END
        |      AS valid_to
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal + 100, TIMESTAMP '1996-01-01',
        |    CAST(NULL AS TIMESTAMP)
        |  FROM customer WHERE c_custkey % 5 = 0)
        |SELECT o.o_orderkey, o.o_custkey AS c_custkey,
        |  CAST(o.o_orderdate AS TIMESTAMP) AS odate,
        |  v.c_acctbal, v.valid_from
        |FROM orders o LEFT JOIN v
        |  ON o.o_custkey = v.c_custkey
        |  AND CAST(o.o_orderdate AS TIMESTAMP) >= v.valid_from
        |  AND (v.valid_to IS NULL OR CAST(o.o_orderdate AS TIMESTAMP) < v.valid_to)""".stripMargin,
    "q_snapshot_diff" ->
      """WITH aft AS (
        |  SELECT c_custkey AS k, c_name, c_mktsegment,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 13 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 11 = 0)
        |SELECT COALESCE(b.c_custkey, a.k) AS c_custkey,
        |  CASE WHEN b.c_custkey IS NULL THEN 'added'
        |       WHEN a.k IS NULL THEN 'removed'
        |       WHEN b.c_name IS NOT DISTINCT FROM a.c_name
        |         AND b.c_mktsegment IS NOT DISTINCT FROM a.c_mktsegment
        |         AND b.c_acctbal IS NOT DISTINCT FROM a.c_acctbal THEN 'same'
        |       ELSE 'changed' END AS status
        |FROM customer b FULL OUTER JOIN aft a ON b.c_custkey = a.k""".stripMargin,
    "q_forget" ->
      """WITH tomb AS (
        |  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |po AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM tomb))
        |SELECT 'customer' AS tbl,
        |  CAST(count(*) FILTER (WHERE c_custkey % 97 = 0) AS BIGINT)
        |    AS n_purged,
        |  CAST(count(*) FILTER (WHERE c_custkey % 97 <> 0) AS BIGINT)
        |    AS n_kept
        |FROM customer
        |UNION ALL
        |SELECT 'orders',
        |  CAST(count(*) FILTER (WHERE o_custkey IN (SELECT c_custkey FROM tomb))
        |    AS BIGINT),
        |  CAST(count(*) FILTER (WHERE o_custkey NOT IN (SELECT c_custkey FROM tomb))
        |    AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem',
        |  CAST(count(*) FILTER (WHERE l_orderkey IN (SELECT o_orderkey FROM po))
        |    AS BIGINT),
        |  CAST(count(*) FILTER (WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po))
        |    AS BIGINT)
        |FROM lineitem""".stripMargin,
    "q_merge_upsert" ->
      """WITH tgt AS (
        |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer),
        |src AS (
        |  SELECT c_custkey, FALSE AS deleted, c_name, c_mktsegment,
        |    c_acctbal + 50 AS c_acctbal
        |  FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
        |  UNION ALL
        |  SELECT c_custkey, TRUE, c_name, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 13 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, FALSE, c_name, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 11 = 0)
        |SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
        |       ELSE t.c_name END AS c_name,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
        |       ELSE t.c_mktsegment END AS c_mktsegment,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
        |       ELSE t.c_acctbal END AS c_acctbal
        |FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
        |WHERE s.c_custkey IS NULL OR NOT s.deleted""".stripMargin,
    "q_table_checksum" ->
      s"""WITH h AS (
         |  SELECT ${md5PrefixSqlOf(
               "concat_ws('|', CAST(l_orderkey AS VARCHAR), " +
               "CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR), " +
               "CAST(l_linenumber AS VARCHAR), CAST(l_returnflag AS VARCHAR), " +
               "CAST(l_linestatus AS VARCHAR))", 13)} AS h
         |  FROM lineitem)
         |SELECT CAST(h % 64 AS INTEGER) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(bit_xor(h) AS BIGINT) AS checksum
         |FROM h GROUP BY 1""".stripMargin,
    "q_join_cardinality" ->
      """WITH la AS (
        |  SELECT l_partkey AS k, count(*) AS ca FROM lineitem GROUP BY 1),
        |ra AS (
        |  SELECT l_partkey AS k, count(*) AS cb FROM lineitem GROUP BY 1),
        |j AS (
        |  SELECT CAST(sum(ca * cb) AS BIGINT) AS est_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(max(ca * cb) AS BIGINT) AS max_key_pairs
        |  FROM la JOIN ra USING (k))
        |SELECT est_rows, n_keys, max_key_pairs,
        |  round(CAST(max_key_pairs AS DOUBLE) / est_rows, 6) AS top_key_share
        |FROM j""".stripMargin,
    "q_zorder" ->
      s"""WITH s AS (
         |  SELECT min(l_partkey) AS min_a, max(l_partkey) AS max_a,
         |         min(l_suppkey) AS min_b, max(l_suppkey) AS max_b
         |  FROM lineitem),
         |q AS (
         |  SELECT l_orderkey, l_partkey, l_suppkey,
         |    (l_partkey - min_a) * 256 // (max_a - min_a + 1) AS qa,
         |    (l_suppkey - min_b) * 256 // (max_b - min_b + 1) AS qb
         |  FROM lineitem CROSS JOIN s)
         |SELECT l_orderkey, l_partkey, l_suppkey,
         |  CAST(${(0 until 8).map(i =>
              s"(((qa >> $i) & 1) << ${2 * i}) + (((qb >> $i) & 1) << ${2 * i + 1})")
             .mkString(" + ")} AS BIGINT) AS zvalue
         |FROM q""".stripMargin,
    "q_gini_orders" ->
      """WITH perkey AS (
        |  SELECT o_custkey, count(*) AS x FROM orders GROUP BY 1),
        |r AS (
        |  SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey)
        |    AS BIGINT) AS i
        |  FROM perkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(x) AS BIGINT) AS total,
        |  round(CAST(2 * sum(i * x) - (count(*) + 1) * sum(x) AS DOUBLE)
        |    / (count(*) * sum(x)), 6) AS gini
        |FROM r""".stripMargin,
    "q_source_overlap" ->
      """WITH gs AS (
        |  SELECT DISTINCT source AS g, sh FROM (
        |    SELECT source,
        |      unnest(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        |    FROM (SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
        |          FROM documents)
        |    WHERE len(t) >= 3)),
        |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n_sh FROM gs GROUP BY 1),
        |inter AS (
        |  SELECT a.g AS g_a, b.g AS g_b, CAST(count(*) AS BIGINT) AS n_inter
        |  FROM gs a JOIN gs b ON a.sh = b.sh AND a.g < b.g
        |  GROUP BY 1, 2)
        |SELECT i.g_a, i.g_b, i.n_inter, ta.n_sh AS n_a, tb.n_sh AS n_b,
        |  round(CAST(i.n_inter AS DOUBLE)
        |    / (ta.n_sh + tb.n_sh - i.n_inter), 6) AS jaccard
        |FROM inter i JOIN tot ta ON i.g_a = ta.g
        |  JOIN tot tb ON i.g_b = tb.g""".stripMargin,
    "q_zonemap_prune" ->
      """WITH s AS (
        |  SELECT CAST(min(l_orderkey) AS BIGINT) AS min_k,
        |    CAST(max(l_orderkey) AS BIGINT) AS max_k
        |  FROM lineitem),
        |z AS (
        |  SELECT (CAST(l_orderkey AS BIGINT) - min_k) * 32
        |      // (max_k - min_k + 1) AS zone,
        |    CAST(l_shipdate AS VARCHAR) AS sdt
        |  FROM lineitem CROSS JOIN s),
        |agg AS (
        |  SELECT zone, count(*) AS zn, min(sdt) AS zmin, max(sdt) AS zmax
        |  FROM z GROUP BY 1)
        |SELECT CASE WHEN zmax < '1994-01-01' OR zmin > '1994-12-31'
        |         THEN 'pruned'
        |       WHEN zmin >= '1994-01-01' AND zmax <= '1994-12-31'
        |         THEN 'full'
        |       ELSE 'partial' END AS zone_class,
        |  CAST(count(*) AS BIGINT) AS n_zones,
        |  CAST(sum(zn) AS BIGINT) AS n_rows
        |FROM agg GROUP BY 1""".stripMargin,
    "q_nb_model" -> s"$nbModelCte\nSELECT label, term, logp FROM model",
    "q_nb_predict" ->
      s"""$nbModelCte,
         |$nbPredictCtes
         |SELECT doc_id, label AS pred_label,
         |  score_micro / 1000000.0 AS score
         |FROM ranked WHERE rnk = 1""".stripMargin,
    // INDEPENDENT argmax derivation (round-9): the shared nbPredictCtes
    // pick the winner with a row_number window (score DESC, label ASC);
    // here the winner comes from min() over a (-score, label) struct,
    // and the row share from a window sum instead of a totals join — the
    // inference tail no longer mirrors the q_nb_predict oracle's chain.
    // (model/priors/tf/scored stay: they ARE the semantics — exact
    // integer micro-unit scoring.)
    "q_nb_confusion" ->
      s"""$nbModelCte,
         |priors AS (
         |  SELECT label, round(ln(CAST(n_docs_l AS DOUBLE) / n_docs), 6) AS log_prior
         |  FROM (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_docs_l
         |        FROM train GROUP BY 1)
         |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM train)),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id,
         |      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
         |    FROM documents)
         |  GROUP BY doc_id, term),
         |scored AS (
         |  SELECT tf.doc_id, m.label,
         |    CAST(sum(tf.tf * CAST(round(m.logp * 1000000) AS BIGINT)) AS BIGINT) AS ll_micro
         |  FROM tf JOIN model m ON tf.term = m.term
         |  GROUP BY tf.doc_id, m.label),
         |pred AS (
         |  SELECT s.doc_id,
         |    min({'negscore': -(s.ll_micro +
         |      CAST(round(p.log_prior * 1000000) AS BIGINT)), 'lbl': s.label}).lbl
         |      AS pred_label
         |  FROM scored s JOIN priors p USING (label)
         |  GROUP BY s.doc_id),
         |j AS (
         |  SELECT d.lang AS true_label, p.pred_label
         |  FROM pred p JOIN documents d USING (doc_id)),
         |g AS (
         |  SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM j GROUP BY 1, 2)
         |SELECT true_label, pred_label, n_docs,
         |  round(CAST(n_docs AS DOUBLE) /
         |    sum(n_docs) OVER (PARTITION BY true_label), 6) AS row_share
         |FROM g""".stripMargin,
  )
}
