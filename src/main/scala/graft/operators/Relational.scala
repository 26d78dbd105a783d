package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference relational surface (SURVEY.md §2.3-2.5): projections, derived
  * columns, filters, limits. Everything stays a declarative Catalyst plan so
  * predicate pushdown / column pruning / projection collapse apply for free.
  *
  * Cites: select `/root/reference/pyspark-1.ipynb:199,226`; withColumn
  * arithmetic `:305`; drop `:343`; rename `:381`; filter forms
  * `/root/reference/pyspark-2.ipynb:360-459`.
  */
object Relational {

  /** P1-P3: projection (case-insensitive resolution like the reference,
    * `spark.sql.caseSensitive=false` default). */
  def select(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)

  /** P5: derived column from arithmetic on an existing column. */
  def withDerived(df: DataFrame, name: String, expr: Column): DataFrame =
    df.withColumn(name, expr)

  /** P6/P7: drop + rename. */
  def drop(df: DataFrame, name: String): DataFrame          = df.drop(name)
  def rename(df: DataFrame, from: String, to: String): DataFrame =
    df.withColumnRenamed(from, to)

  /** F1: SQL-string predicate (Catalyst expression parser). */
  def filterSql(df: DataFrame, predicate: String): DataFrame = df.filter(predicate)

  /** F3-F5: Column-expression predicate forms. */
  def filterExpr(df: DataFrame, predicate: Column): DataFrame = df.filter(predicate)

  /** F6/F7: substring / suffix predicates (driver-side in the reference's
    * link filter, columnar here). */
  def filterContains(df: DataFrame, c: String, needle: String): DataFrame =
    df.filter(col(c).contains(needle))
  def filterEndsWith(df: DataFrame, c: String, suffix: String): DataFrame =
    df.filter(col(c).endsWith(suffix))

  /** L3: deterministic limit — the reference takes "first 14" of a
    * discovered list (`ingestion-datalake.py:96`); a distributed engine
    * must order first or the result is nondeterministic. */
  def limitOrdered(df: DataFrame, order: Seq[Column], n: Int): DataFrame =
    df.orderBy(order: _*).limit(n)
}

/** Null handling (SURVEY.md §2.7) — `DataFrameNaFunctions` semantics from
  * `/root/reference/pyspark-2.ipynb:125-277`: drop any/all/thresh/subset,
  * type-matched fill.
  */
object Nulls {
  def dropAny(df: DataFrame): DataFrame                 = df.na.drop("any")
  def dropAll(df: DataFrame): DataFrame                 = df.na.drop("all")
  def dropThresh(df: DataFrame, min: Int): DataFrame    = df.na.drop(min)
  def dropSubset(df: DataFrame, cols: Seq[String]): DataFrame = df.na.drop(cols)

  /** N6: type-matched fill — a string fill touches only string columns,
    * numeric columns keep their NULLs (reference golden at
    * `pyspark-2.ipynb:277`). */
  def fillString(df: DataFrame, value: String): DataFrame = df.na.fill(value)
  def fillNumeric(df: DataFrame, value: Double): DataFrame = df.na.fill(value)

  /** A6 engine-native imputation: one distributed stats pass (broadcast as
    * a 1-row dimension) + `coalesce` projection. Avoids `ml.Imputer`'s
    * two-job fit/transform and stays oracle-expressible. Strategy "mean",
    * "median" (exact percentile — fine per group/column at any scale since
    * the stats pass reduces to one row), or "mode".
    */
  def impute(df: DataFrame, cols: Seq[String], strategy: String = "mean"): DataFrame = {
    val statExpr: String => Column = strategy match {
      case "mean"   => c => avg(col(c))
      case "median" => c => expr(s"percentile($c, 0.5)")
      // deterministic=true: lowest value wins frequency ties, so the
      // imputed value is reproducible (and oracle-expressible as
      // ORDER BY count DESC, value LIMIT 1).
      case "mode"   => c => expr(s"mode($c, true)")
      case s        => throw new IllegalArgumentException(s"unknown strategy $s")
    }
    val stats = df.agg(statExpr(cols.head).as(s"__${cols.head}"),
      cols.tail.map(c => statExpr(c).as(s"__$c")): _*)
    val joined = df.crossJoin(broadcast(stats))
    val imputed = cols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"${c}_imputed", coalesce(col(c), col(s"__$c").cast(df.schema(c).dataType)))
    }
    imputed.drop(cols.map(c => s"__$c"): _*)
  }
}

/** Aggregations (SURVEY.md §2.6): groupBy sum/mean/count, global agg,
  * describe re-derived as explicit aggregates (oracle-comparable), plus the
  * distinct/rollup/cube surface Spark gives for free. All of these plan as
  * partial (map-side) + final hash aggregation — the shuffle moves one row
  * per (group, partition), not the data.
  */
object Aggregates {
  def countBy(df: DataFrame, key: String): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("count"))

  /** A5: `describe()` re-derived as explicit count/mean/stddev/min/max so
    * the result is a flat, oracle-comparable relation (one row per column).
    * ONE aggregation pass computes all 5 stats for every column at once
    * (5*|cols| aggregate expressions over a single scan), then a `stack`
    * unpivot reshapes the 1-row result — vs. one full scan per column. */
  def describeNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__count"),
        avg(col(c)).as(s"${c}__mean"),
        stddev_samp(col(c)).as(s"${c}__stddev"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', `${c}__count`, `${c}__mean`, `${c}__stddev`, `${c}__min`, `${c}__max`"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS (`column`, `count`, mean, stddev, min, max)")
  }

  def distinctCountBy(df: DataFrame, key: String, value: String): DataFrame =
    df.groupBy(key).agg(countDistinct(col(value)).as(s"distinct_$value"))

  /** Sketch counterpart for 100 TB scale: HLL++, one pass, no exact-distinct
    * shuffle explosion. Not oracle-comparable (implementation-defined), kept
    * as the scale path next to the exact form. */
  def approxDistinctBy(df: DataFrame, key: String, value: String, rsd: Double = 0.05): DataFrame =
    df.groupBy(key).agg(approx_count_distinct(col(value), rsd).as(s"approx_distinct_$value"))

  /** Quantile sketch (Greenwald-Khanna `approx_percentile`): the scale
    * path beside the exact `percentile` quartiles — mergeable partial
    * sketches, one pass, bounded memory, vs the exact form's per-group
    * value buffer. Not oracle-comparable (implementation-defined); the
    * accuracy parameter bounds rank error to 1/accuracy, unit-asserted
    * against the exact quartiles. */
  def approxQuantilesBy(df: DataFrame, key: String, value: String,
      accuracy: Int = 10000): DataFrame =
    df.groupBy(key).agg(
      expr(s"approx_percentile($value, array(0.25, 0.5, 0.75), $accuracy)").as("q"))
      .select(col(key), element_at(col("q"), 1).as("p25"),
        element_at(col("q"), 2).as("p50"), element_at(col("q"), 3).as("p75"))

  /** Oracle-comparable twin of [[approxDistinctBy]]: one pass computes BOTH
    * the exact per-group distinct count and the HLL++ estimate, emitting the
    * exact count plus a boolean asserting the sketch landed within `bound`
    * of it. The sketch value itself is implementation-defined and never
    * leaves the query; the boolean is deterministic (HLL++ registers are
    * max-merged, so the estimate is insertion-order- and
    * partitioning-independent) and an external oracle can assert it TRUE
    * from the exact side alone. rsd=0.05 ⇒ observed error well under the
    * 5% bound on uniform keys; `bound` widens it if a dataset sits at the
    * tail of the sketch's error distribution. */
  def approxDistinctCheck(df: DataFrame, key: String, value: String,
      rsd: Double = 0.05, bound: Double = 0.05): DataFrame =
    df.groupBy(key).agg(
        countDistinct(col(value)).as("exact_distinct"),
        approx_count_distinct(col(value), rsd).as("appx"))
      .select(col(key), col("exact_distinct"),
        (abs(col("appx") - col("exact_distinct")) <=
          col("exact_distinct") * bound).as("within_rsd"))

  /** Oracle-comparable twin of [[approxQuantilesBy]]: re-joins the sketch
    * quantiles to the rows and checks the GK rank guarantee — the returned
    * value's rank interval [lt+1, le] must intersect the target rank window
    * p·n ± n/accuracy (±1 row of floor/ceil slack). The booleans hold for
    * ANY valid GK output, so they are stable even though the sketch value
    * itself may vary with partial-merge order. The 3-row quantile relation
    * is broadcast; both passes are map-side until the per-group fold. */
  def approxQuantilesCheck(df: DataFrame, key: String, value: String,
      accuracy: Int = 10000): DataFrame = {
    val eps = 1.0 / accuracy
    val q = approxQuantilesBy(df, key, value, accuracy)
    def rankOk(p: Double, leC: Column, ltC: Column) =
      (leC >= (lit(p) - lit(eps)) * col("n") - 1) &&
        (ltC + 1 <= (lit(p) + lit(eps)) * col("n") + 1)
    df.join(broadcast(q), Seq(key))
      .groupBy(key).agg(
        count(lit(1)).as("n"),
        sum(when(col(value) <= col("p25"), 1L).otherwise(0L)).as("le25"),
        sum(when(col(value) < col("p25"), 1L).otherwise(0L)).as("lt25"),
        sum(when(col(value) <= col("p50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col(value) < col("p50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col(value) <= col("p75"), 1L).otherwise(0L)).as("le75"),
        sum(when(col(value) < col("p75"), 1L).otherwise(0L)).as("lt75"))
      .select(col(key), col("n"),
        rankOk(0.25, col("le25"), col("lt25")).as("p25_ok"),
        rankOk(0.50, col("le50"), col("lt50")).as("p50_ok"),
        rankOk(0.75, col("le75"), col("lt75")).as("p75_ok"))
  }

  /** Equi-DEPTH histogram: `nBuckets` buckets holding ~equal row counts,
    * cut at the exact (1/n .. (n−1)/n) percentiles — the data-profiling
    * twin of the fixed-width `q_histogram` binning (equal-width bins are
    * useless on heavy-tailed value columns; equal-depth bins are how
    * engines build range statistics). Two passes: the boundary row is a
    * single exact-percentile aggregate, ROUNDED to 4 (the winsorize
    * convention — both engines cut at the identical boundary) and
    * broadcast; bucket assignment is then a map-side indicator sum, and
    * the final per-bucket fold is map-side-combinable. At 100 TB swap the
    * exact percentile for the mergeable GK sketch ([[approxQuantilesBy]])
    * — same plan shape, the boundaries just become approximate. */
  def equidepthHistogram(df: DataFrame, value: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val ps = (1 until nBuckets).map(_.toDouble / nBuckets)
    val bnds = df.agg(percentile(col(value), array(ps.map(lit): _*)).as("braw"))
      .select(transform(col("braw"), x => round(x, 4)).as("b"))
    val bucket = ps.indices.foldLeft(lit(0)) { (acc, i) =>
      acc + when(col(value) >= element_at(col("b"), i + 1), 1).otherwise(0)
    }
    df.join(broadcast(bnds))
      .select(bucket.as("bucket"), col(value))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col(value)), 4).as("lo"),
        round(max(col(value)), 4).as("hi"))
  }

  def rollupAgg(df: DataFrame, keys: Seq[String], value: String): DataFrame =
    df.rollup(keys.map(col): _*).agg(sum(value).as(s"sum_$value"), count(lit(1)).as("count"))

  def cubeAgg(df: DataFrame, keys: Seq[String], value: String): DataFrame =
    df.cube(keys.map(col): _*).agg(sum(value).as(s"sum_$value"), count(lit(1)).as("count"))
}

/** Deterministic sampling for training-data mixing: per-stratum keep
  * rates applied by hashing the row's ID (md5 bucket 0-99), NOT by an
  * RNG — the same row lands in the same sample on every run, on every
  * engine, under any partitioning, so mixtures are reproducible and the
  * SQL oracle can replay them exactly. `df.sample`/`sampleBy` trade that
  * determinism for Bernoulli semantics (partitioning-dependent seeds).
  * A pure map-side filter: no shuffle, composes with pushdown. */
object Sampling {

  /** Default bucket count: percent semantics for sampling rates and the
    * 90/5/5 split bands. Packing callers override it to set parallelism. */
  val DefaultBuckets = 100

  /** md5 bucket (0 until `buckets`) of a row id — the ONE deterministic
    * base every split/sampling/packing surface shares (mirrored in SQL by
    * md5BucketSqlOf). `buckets` is the parallelism knob: at 100 TB a
    * packer wants one bucket per ~executor-sized token stream, not a
    * hard-coded 100. */
  def hashBucket(idCol: Column, buckets: Int = DefaultBuckets): Column =
    (call_function("graft_md5_prefix", idCol.cast("string"), lit(7)) % buckets).cast("int")

  /** The train/valid/test banding over a [[hashBucket]] column. */
  def splitExpr(bucket: Column): Column =
    when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")

  /** K-fold cross-validation assignment: fold = md5(id) mod k — the same
    * deterministic base as the split bands, so folds are stable across
    * engines, reruns, and data layout (a row's fold is a function of its
    * id, never of partition order). Map-side column add; no shuffle. */
  def kfoldAssign(df: DataFrame, idCol: String, k: Int): DataFrame =
    df.withColumn("fold",
      (call_function("graft_md5_prefix", col(idCol).cast("string"), lit(7))
        % k).cast("int"))

  /** Order-preserving RANGE BANDS over a numeric column — the
    * decomposition that turns any corpus-global ordered window into
    * per-band windows plus a tiny broadcast of band offsets (the
    * [[shuffleRank]] shape, generalized from md5 bands to value bands).
    *
    * The (1/n .. (n−1)/n) approx-percentile edges of `v` are computed in
    * one mergeable-sketch aggregate and broadcast as a single row; a
    * row's band counts the edges at or below its value. Every row with
    * the SAME value lands in the SAME band and bands ascend with `v`, so
    * concatenating bands in band order reproduces any (v, tiebreak)
    * global sort exactly. Edge placement only sets PARALLELISM: skewed
    * data folds bands together and empty bands are fine — correctness
    * never depends on where the cuts fall. */
  def withRangeBand(df: DataFrame, v: Column, nBands: Int): DataFrame = {
    require(nBands >= 2, s"nBands must be >= 2, got $nBands")
    val ps = (1 until nBands).map(_.toDouble / nBands)
    // accuracy 1000 (not the 10000 default): edge placement only sets
    // parallelism — a 0.1%-off cut just moves rows between adjacent
    // bands — and the sketch merge is ~10x cheaper per corpus partition
    val edges = df.agg(
      approx_percentile(v.cast("double"), array(ps.map(lit): _*), lit(1000))
        .as("band_edges"))
    // band = #edges at or below v — ONE array pass (size∘filter) instead
    // of nBands-1 separate when-branches: the unrolled fold was nBands-1
    // expression nodes PER ROW (measured ~45µs/row at nBands=64, the
    // dominant cost of every ordered-statistic query); the HOF evaluates
    // the same comparisons in one tight loop. NULL parity with the fold:
    // a NULL v (or edge) yields a NULL predicate, which filter() drops —
    // exactly the 0 the when(...).otherwise(0) fold contributed. A
    // non-empty input whose v is all NULL has NULL edges; size() of that
    // is NULL (or -1 under legacy sizeOfNull), so the edges default to
    // the empty array and such rows land in band 0, as in the fold.
    val band = size(filter(
      coalesce(col("band_edges"), typedLit(Array.empty[Double])),
      e => v.cast("double") >= e))
    df.join(broadcast(edges)).withColumn("band", band).drop("band_edges")
  }

  /** Banded replay of a GLOBAL ordered window over a census relation —
    * the one shared machine behind every ordered-statistic operator
    * (AUC / PR / KS / Mann-Whitney / conformal / ntile replays / vocab
    * coverage). A census ordered by a CONTINUOUS value has Θ(corpus)
    * distinct keys, so `Window.orderBy(v)` over it funnels the whole
    * relation through ONE sort task; this helper decomposes it over
    * [[withRangeBand]] value bands: per-band masses roll up in a
    * ≤`nBands`-row census whose running sums broadcast back as each
    * band's OFFSETS, and the census-side windows are PARTITIONED by
    * band. Bands ascend with `v` and ties on `v` share a band, so
    * offset + in-band prefix is bit-identical to the global window.
    *
    * Adds to `census`:
    *   - `rank`    = global `row_number` under ORDER BY (v [DESC],
    *     tieBreak…) — deterministic only if (v, tieBreak…) is a total
    *     order (a distinct-`v` census needs no tieBreak);
    *   - `n_total` = census row count;
    *   - per weight (name, w): `cum_<name>` = EXCLUSIVE ascending
    *     prefix sum of w in that order (inclusive = cum + w; descending
    *     inclusive = total − cum), and `total_<name>` = grand total.
    * All-integer when the weights are integer; the only partition-less
    * windows run over the ≤`nBands`-row band census. */
  def orderedCensusCumsum(census: DataFrame, v: Column,
      tieBreak: Seq[Column] = Nil, desc: Boolean = false,
      weights: Seq[(String, Column)] = Nil, nBands: Int = 64): DataFrame = {
    require(!census.columns.contains("band"),
      "census already carries a 'band' column")
    // Materialize the census ONCE before banding: [[withRangeBand]]
    // evaluates its input twice (percentile-edge pass + main pass), and
    // NESTED calls (the RFM triple ntile) would otherwise re-execute the
    // census-build subtree 2^depth times — measured 0.3 s → 7 s at
    // sf0.1. A census is post-aggregate (orders of magnitude under the
    // corpus), so checkpointing it is the right trade; corpus-sized
    // inputs that band directly via withRangeBand stay lazy — there a
    // second map-side scan beats materializing 100 TB.
    // EAGER, not lazy (r18): the edges pass is a broadcast subtree, so it
    // executes on a broadcast thread CONCURRENTLY with the main plan —
    // with a lazy checkpoint both consumers race the not-yet-materialized
    // blocks and each computes the census subtree from scratch (measured:
    // q_auc ran its orders scan+agg twice, ~7 s task time each, in
    // overlapping stages). Eager materializes once before either consumer
    // plans; the job runs inside the caller's timed region as before.
    val pinned = census.localCheckpoint(true)
    // The banded census ALSO has two concurrent consumers — the per-band
    // offsets aggregate rides a broadcast(offsets) join, so its subtree
    // executes as a separate broadcast-thread job that cannot share
    // exchanges with the main plan; unpinned, the band expression (a
    // 63-term when-chain per row) and the edges join ran TWICE (measured
    // q_auc: two ~7 s-task-time stages for one 90k-row census). Same
    // census-sized-relation argument as `pinned` above.
    val banded = withRangeBand(pinned, if (desc) -v else v, nBands)
      .localCheckpoint(true)
    val bandW = Window.orderBy(col("band"))
    val massAggs = count(lit(1)).as("_bm_rows") +:
      weights.map { case (n, w) => sum(w).as(s"_bm_$n") }
    def excl(c: Column) = coalesce(
      sum(c).over(bandW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    def tot(c: Column) = sum(c).over(
      bandW.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    val offsets = banded.groupBy(col("band"))
      .agg(massAggs.head, massAggs.tail: _*)
      .select(col("band") +:
        (Seq(excl(col("_bm_rows")).as("_off_rows"),
             tot(col("_bm_rows")).as("n_total")) ++
         weights.flatMap { case (n, _) => Seq(
           excl(col(s"_bm_$n")).as(s"_off_$n"),
           tot(col(s"_bm_$n")).as(s"total_$n")) }): _*)
    val ord = (if (desc) v.desc else v.asc) +: tieBreak
    val local = Window.partitionBy(col("band")).orderBy(ord: _*)
    val localExcl = local.rowsBetween(Window.unboundedPreceding, -1)
    val withSums = weights.foldLeft(
      banded.withColumn("_lr", row_number().over(local).cast("long"))) {
        case (d, (n, w)) =>
          d.withColumn(s"_lc_$n", coalesce(sum(w).over(localExcl), lit(0L)))
      }
    weights.foldLeft(
      withSums.join(broadcast(offsets), "band")
        .withColumn("rank", col("_off_rows") + col("_lr"))) {
        case (d, (n, _)) =>
          d.withColumn(s"cum_$n", col(s"_off_$n") + col(s"_lc_$n"))
      }
      .drop((Seq("band", "_lr", "_off_rows") ++
        weights.flatMap { case (n, _) => Seq(s"_lc_$n", s"_off_$n") }): _*)
  }

  /** `ntile(n) OVER (ORDER BY v [DESC], tieBreak…)` replayed from the
    * banded global rank of [[orderedCensusCumsum]] — bit-identical to
    * the SQL-standard allocation (q = N div n rows per tile, the first
    * N mod n tiles take q+1) with the relation never funneling through
    * one sort task. Adds `tileCol` (int); `(v, tieBreak…)` must be a
    * total order so boundaries are deterministic. */
  def bandedNtile(df: DataFrame, v: Column, tieBreak: Seq[Column], n: Int,
      tileCol: String, desc: Boolean = false, nBands: Int = 64): DataFrame = {
    require(n >= 1, s"ntile n must be >= 1, got $n")
    val ranked = orderedCensusCumsum(df, v, tieBreak, desc, Nil, nBands)
    val q = call_function("div", col("n_total"), lit(n.toLong))
    val s = col("n_total") % n.toLong
    // guard divisor: when q = 0 every rank satisfies rank <= s·(q+1) = N,
    // so the otherwise-branch divisor is unreachable — greatest() keeps
    // the expression total anyway
    val tile = when(col("rank") <= s * (q + 1L),
        call_function("div", col("rank") + q, q + 1L))
      .otherwise(s + call_function("div",
        col("rank") - s * (q + 1L) + greatest(q, lit(1L)) - 1L,
        greatest(q, lit(1L))))
    ranked.withColumn(tileCol, tile.cast("int")).drop("rank", "n_total")
  }

  /** Curriculum sharding: the corpus ordered by (difficulty, id) and cut
    * into `shards` contiguous shards of ~equal TOKEN budget — the
    * easy-to-hard schedule a curriculum-training run consumes shard by
    * shard. The cut point is the running token count BEFORE each doc
    * (all-integer: shard = cum·S // total, clamped), so shard boundaries
    * are engine-exact and a doc's shard never depends on layout.
    *
    * NO global window: the global exclusive cumsum decomposes over
    * [[withRangeBand]] difficulty bands — per-band token masses roll up
    * in a band-count-sized census whose running sum broadcasts back as
    * each band's starting OFFSET, and the corpus-side window is
    * partitioned by band (ties on difficulty share a band, so in-band
    * (difficulty, doc_id) order concatenated in band order IS the global
    * order). cum = offset(band) + local exclusive cumsum, bit-identical
    * to the single-partition formulation; the only partition-less
    * windows run over the tiny post-aggregate census. */
  def curriculumShards(docs: DataFrame, difficulty: Column,
      shards: Int, bands: Int = 64): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val base = docs.select(col("doc_id"), difficulty.as("difficulty"),
      graft.functions.Text.tokenCount(col("text")).as("n_tokens"))
    val banded = withRangeBand(base, col("difficulty"), bands)
    val bandW = Window.orderBy(col("band"))
    val offsets = banded.groupBy(col("band"))
      .agg(sum(col("n_tokens")).as("band_mass"))
      .select(col("band"),
        coalesce(sum(col("band_mass")).over(
          bandW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("band_offset"),
        sum(col("band_mass")).over(bandW.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("total"))
    val local = Window.partitionBy(col("band"))
      .orderBy(col("difficulty"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    banded
      .withColumn("local_cum", coalesce(sum(col("n_tokens")).over(local), lit(0L)))
      .join(broadcast(offsets), "band")
      .withColumn("cum", col("band_offset") + col("local_cum"))
      .select(col("doc_id"), col("difficulty"), col("n_tokens"),
        least(call_function("div", col("cum") * shards, col("total")),
          lit((shards - 1).toLong)).cast("int").as("shard"))
  }

  /** Keep rows whose md5 bucket (0-99) falls under their stratum's rate
    * (percent); strata absent from `rates` use `defaultRate`. */
  def stratifiedByHash(df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Int], defaultRate: Int): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (stratum, r)) =>
      when(col(stratumCol) === stratum, r).otherwise(acc)
    }
    df.withColumn("bucket", hashBucket(col(idCol))).filter(col("bucket") < rate)
  }

  /** Deterministic EXACT-k sample per stratum: rank rows by the md5 of
    * their id and keep the first k — reproducible across runs, engines
    * and partitionings (unlike rate-based [[stratifiedByHash]], which
    * keeps a deterministic ~fraction, this keeps an exact count). The
    * rank window is fed through WindowGroupLimit: each task keeps only
    * its local top-k before the per-stratum merge, so nothing sorts a
    * whole stratum even when a stratum is most of the corpus. */
  def exactKByHash(df: DataFrame, idCol: String, stratumCol: String,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Deterministic WEIGHTED sampling without replacement (Efraimidis &
    * Spirakis A-Res): every row draws its "uniform" u from the md5 of its
    * id — not an RNG — takes key = u^(1/w), and the top-k keys per stratum
    * win. Heavier rows claim proportionally more of the k slots (P(row in
    * sample) follows its weight share), yet the draw is bit-reproducible
    * across runs, engines and partitionings, so a training mixture sampled
    * by document quality/length can be replayed exactly. The rank filter
    * plans as WindowGroupLimit (partial per-task top-k before the
    * per-stratum merge), the same two-phase shape as [[exactKByHash]] —
    * no stratum is ever globally sorted. */
  def weightedKByHash(df: DataFrame, idCol: String, stratumCol: String,
      weight: Column, k: Int): DataFrame = {
    // u in (0,1): the first 7 md5 nibbles as an integer, centered on the
    // 2^28 lattice — the engine-wide deterministic uniform (hashBucket's
    // base, mirrored in SQL by md5BucketSqlOf)
    val u = (call_function("graft_md5_prefix", col(idCol).cast("string"), lit(7))
      .cast("double") + 0.5) / (1L << 28).toDouble
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("wkey").desc, col(idCol))
    df.withColumn("wkey", pow(u, lit(1.0) / weight))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Deterministic global SHUFFLE RANK — the training-order permutation
    * (shuffle-before-training) as a dense 0..N−1 rank over the md5 of each
    * row id, WITHOUT a global sort: rows land in `buckets` hash bands (the
    * md5 prefix, so band order IS shuffle order), a buckets-sized census
    * turns per-band counts into broadcast prefix OFFSETS, and each band
    * ranks locally — rank = offset(band) + local rank. The distributed
    * zipWithIndex pattern: no single-partition window, no total sort;
    * the only corpus-wide exchange hashes on the band key, and band
    * windows are corpus/buckets-sized. (`monotonically_increasing_id`
    * gives non-contiguous, layout-dependent ids — useless for epoch
    * addressing; this rank is dense and bit-reproducible.)
    *
    * The band is the HIGH `bandBits` bits of the 28-bit md5 prefix — an
    * order-preserving cut of the md5 space (hex is lexicographic), so
    * concatenating bands in band order IS the global md5 order; a `%`
    * band would interleave and break the rank. */
  def shuffleRank(df: DataFrame, idCol: String,
      bandBits: Int = 12): DataFrame = {
    require(bandBits >= 1 && bandBits <= 28, s"bandBits in [1,28], got $bandBits")
    val md5c = md5(col(idCol).cast("string"))
    val band = shiftright(
      call_function("graft_md5_prefix", col(idCol).cast("string"), lit(7)),
      28 - bandBits).cast("int")
    val banded = df.withColumn("band", band)
    val offsets = banded.groupBy(col("band")).agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(sum(col("n")).over(
          Window.orderBy(col("band")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("band"), col("offset"))
    val local = Window.partitionBy(col("band")).orderBy(md5c, col(idCol))
    banded
      .withColumn("local_rank", row_number().over(local))
      .join(broadcast(offsets), "band")
      .withColumn("shuffle_rank", col("offset") + col("local_rank") - 1)
      .drop("band", "local_rank", "offset")
  }

  /** Temperature-scaled mixture weights, w_s ∝ n_s^alpha — the standard
    * corpus-weighting math (alpha=1 proportional, alpha=0 uniform,
    * alpha≈0.7 the usual multilingual-upsampling compromise). One tiny
    * per-stratum count aggregate; the normalizer is a single broadcast
    * row. The output drives [[stratifiedByHash]] rates / epoch factors. */
  def temperatureWeights(df: DataFrame, stratumCol: String,
      alpha: Double): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_docs"))
    val z = counts.agg(sum(pow(col("n_docs"), alpha)).as("z"))
    counts.crossJoin(broadcast(z))
      .select(col(stratumCol), col("n_docs"),
        round(pow(col("n_docs"), alpha) / col("z"), 6).as("weight"))
  }

  /** UniMax budget allocation (Chung et al., ICLR 2023, "UniMax: Fairer
    * and More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): spread a total token budget across strata as
    * UNIFORMLY as possible while capping every stratum at `epochCap`
    * epochs of its own corpus — the head language ends budget-limited,
    * tail languages epoch-capped, nobody over-repeats. The principled
    * upgrade of [[temperatureWeights]] (temperature sampling still
    * over-repeats the smallest tails at any alpha).
    *
    * The paper's sequential loop is a waterfill, and waterfills have a
    * closed form over the sorted census: ascending by capacity
    * c_s = epochCap·n_s, capping is MONOTONE (if the stratum at rank r
    * keeps its full capacity, so does every smaller one), so the first
    * rank r* whose capacity covers the equal share of the budget left by
    * the capped prefix — c_r·(m−r+1) ≥ B − Σ_{s<r} c_s — is the
    * waterline: alloc = c_s below it, (B − Σ_{s<r*} c_s)/(m−r*+1) at and
    * above it. One window pass over the strata CENSUS (strata are
    * languages/domains — a tiny post-aggregate relation; the corpus
    * itself only ever feeds the map-side-combined token count) replaces
    * the whole iteration. If total capacity ≤ B no waterline exists and
    * every stratum is capped (the leftover budget is the caller's signal
    * to raise `epochCap`).
    *
    * The budget is `budgetFrac` of total corpus tokens, floored to a
    * long; capacities are integer-token products (epochCap in quarters —
    * see require) so every comparison is exact and the only divisions
    * are the rounded outputs. */
  def unimaxAllocation(df: DataFrame, stratumCol: String, nTokens: Column,
      budgetFrac: Double, epochCap: Double): DataFrame = {
    require(budgetFrac > 0 && budgetFrac <= 1,
      s"budgetFrac in (0,1], got $budgetFrac")
    require(epochCap > 0 && (epochCap * 4) == math.rint(epochCap * 4),
      s"epochCap must be a multiple of 0.25 for exact integer capacities, got $epochCap")
    val census = df.groupBy(col(stratumCol))
      .agg(sum(nTokens).cast("long").as("n_tokens"))
      // capacity in QUARTER tokens — exact longs, no float compare drift
      .withColumn("cap_q",
        col("n_tokens") * lit(math.rint(epochCap * 4).toLong))
    val w = Window.orderBy(col("cap_q"), col(stratumCol))
    val full = Window.orderBy(col("cap_q"), col(stratumCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = census
      .withColumn("rk", row_number().over(w))
      .withColumn("cap_prefix_q", coalesce(sum(col("cap_q")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("m", count(lit(1)).over(full))
      .withColumn("budget_q",
        floor(sum(col("n_tokens")).over(full) * lit(budgetFrac)) * 4)
    // waterline: first rank whose capacity covers the remaining equal
    // share; the min-aggregate row is ALWAYS one row — rstar NULL when
    // total capacity ≤ budget (no waterline; everybody capped)
    val uncapped =
      col("cap_q") * (col("m") - col("rk") + 1) >= col("budget_q") - col("cap_prefix_q")
    val waterline = ranked.filter(uncapped)
      .agg(min(col("rk")).as("rstar"),
        min_by(col("cap_prefix_q"), col("rk")).as("wl_prefix_q"))
    val share =
      (col("budget_q") - col("wl_prefix_q")).cast("double") / (col("m") - col("rstar") + 1)
    val isCapped = col("rstar").isNull || col("rk") < col("rstar")
    val allocQ = when(isCapped, col("cap_q").cast("double")).otherwise(share)
    ranked.crossJoin(broadcast(waterline))
      .select(col(stratumCol), col("n_tokens"),
        round(col("cap_q") / 4.0, 2).as("capacity"),
        round(allocQ / 4.0, 2).as("allocation"),
        round(allocQ / 4.0 / col("n_tokens"), 6).as("epochs"),
        isCapped.as("capped"))
  }

  /** Greedy token-budget fill per stratum: rank rows by (`quality` DESC,
    * id ASC) and keep the prefix whose inclusive running token sum stays
    * ≤ `budget` — the "best docs until the token budget is spent" stage
    * every mixture recipe ends with.
    *
    * The naive plan is a per-stratum global sort (a full shuffle + sort of
    * the corpus just to find one cut point). This implementation is
    * EXACTLY equivalent but sorts only the boundary band:
    *
    *  1. census: token mass per (stratum, quality) — a mergeable
    *     map-side-combined aggregate; its size is bounded by the number of
    *     DISTINCT quality values (quality is rounded, so ~10⁴ at 4
    *     decimals), not by corpus rows;
    *  2. a running sum over the tiny census (window over censuses, not
    *     docs) classifies each quality value: `cum_incl ≤ budget` → the
    *     whole band is kept map-side with no sort; `cum_excl > budget` →
    *     dropped map-side; the (at most one per stratum) BOUNDARY band in
    *     between is the only place the exact id-order prefix matters;
    *  3. only boundary-band rows — one quality value per stratum — are
    *     sorted (window by id with the census's `cum_excl` as the starting
    *     offset).
    *
    *  Zero-token rows fall out naturally: a boundary band with
    *  `cum_excl = budget` keeps exactly its leading zero-token rows, the
    *  same rows the naive inclusive-cumsum window keeps. */
  def tokenBudgetSelect(df: DataFrame, idCol: String, stratumCol: String,
      quality: Column, nTokens: Column, budget: Long): DataFrame = {
    val rows = df.select(col(idCol), col(stratumCol),
      quality.as("quality"), nTokens.cast("long").as("n_tokens"))
    val census = rows.groupBy(col(stratumCol), col("quality"))
      .agg(sum(col("n_tokens")).as("q_mass"))
      .withColumn("cum_incl", sum(col("q_mass")).over(Window
        .partitionBy(col(stratumCol)).orderBy(col("quality").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_excl", col("cum_incl") - col("q_mass"))
      .filter(col("cum_excl") <= budget) // dropped bands never join back
      .select(col(stratumCol), col("quality"), col("cum_incl"), col("cum_excl"))
    val joined = rows.join(broadcast(census), Seq(stratumCol, "quality"))
    val whole = joined.filter(col("cum_incl") <= budget)
    val boundary = joined.filter(col("cum_incl") > budget)
      .withColumn("cum", col("cum_excl") + sum(col("n_tokens")).over(Window
        .partitionBy(col(stratumCol), col("quality")).orderBy(col(idCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= budget)
    (whole unionByName boundary.drop("cum"))
      .select(col(idCol), col(stratumCol), col("quality"), col("n_tokens"))
  }
}

/** Sequence packing (concat-then-chunk) for LLM training batches: docs are
  * hash-bucketed into `buckets` independent token streams, each stream is
  * concatenated in id order and cut at every `seqLen`-token boundary. A doc
  * crossing a boundary is SPLIT — it emits one span row per sequence it
  * touches, so downstream `(bucket, seq_id)` groups tile to exactly
  * `seqLen` tokens (interior sequences) and the packer can slice each doc
  * by `[token_start, token_end)`.
  *
  * Scale shape: ONE shuffle (window partition by bucket), per-bucket sort,
  * map-side explode. `buckets` is the parallelism knob — at 100 TB pick
  * buckets ≈ total_tokens·bytes_per_token / target_partition_size so each
  * bucket's running-sum stream fits one task; nothing is global.
  */
object Packing {

  /** Per-doc span rows for packing `docs` into `seqLen`-token sequences.
    *
    * Input: `idCol` (orders the stream within a bucket) and `nTokens`
    * (token count expression). Zero-token docs emit no span (they occupy
    * no positions in any sequence).
    *
    * Output columns:
    *   - `doc_id`, `bucket`, `n_tokens`
    *   - `seq_id`: bucket-local sequence index this span lands in
    *   - `token_start`/`token_end`: doc-relative token range [start, end)
    *     of the span — slice the doc's tokens with these
    *   - `seq_offset`: position within sequence `seq_id` where the span
    *     begins (0-based), so a writer can place it without re-scanning
    */
  def packSpans(docs: DataFrame, idCol: String, nTokens: Column,
      seqLen: Long = 2048, buckets: Int = Sampling.DefaultBuckets): DataFrame = {
    // the select below renames idCol to doc_id before the window runs —
    // order by the renamed column or any idCol != "doc_id" fails analysis
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val seqL = lit(seqLen)
    docs
      .select(col(idCol).as("doc_id"), nTokens.cast("long").as("n_tokens"),
        Sampling.hashBucket(col(idCol), buckets).as("bucket"))
      // zero-token docs: no span; also guards sequence(a, b) with a > b,
      // which Spark would expand DESCENDING rather than empty
      .filter(col("n_tokens") > 0)
      .withColumn("stream_end", sum(col("n_tokens")).over(w))
      .withColumn("offset", col("stream_end") - col("n_tokens"))
      // every seqLen-boundary sequence the doc overlaps: floor(offset/L)
      // .. floor((stream_end-1)/L), inclusive — pure projection over the
      // running sum, exploded map-side
      .withColumn("seq_id",
        explode(sequence(floor(col("offset") / seqL).cast("int"),
          floor((col("stream_end") - 1) / seqL).cast("int"))))
      .select(col("doc_id"), col("bucket"), col("n_tokens"), col("seq_id"),
        (greatest(col("offset"), col("seq_id").cast("long") * seqL) - col("offset"))
          .as("token_start"),
        (least(col("stream_end"), (col("seq_id").cast("long") + 1) * seqL) - col("offset"))
          .as("token_end"),
        (greatest(col("offset"), col("seq_id").cast("long") * seqL)
          - col("seq_id").cast("long") * seqL).as("seq_offset"))
  }
}
