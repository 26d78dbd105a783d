package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** North-star ANN: structure and ranking invariants, plus recall of the
  * approximate tiers against the exact brute-force baseline. */
class SimilaritySpec extends SparkSpec {

  test("brute force: exactly k ranked neighbors per query, ordered by cosine desc") {
    val k = 5
    val res = Similarity.bruteForceTopK(spark, sfDir, 10, k)
    val perQuery = res.groupBy("q_id").agg(count(lit(1)).as("n"),
      max("rank").as("maxr"), min("rank").as("minr")).collect()
    assert(perQuery.length == 10)
    assert(perQuery.forall(r => r.getAs[Long]("n") == k
      && r.getAs[Int]("maxr") == k && r.getAs[Int]("minr") == 1))
    // rank order consistent with cosine order (ties broken by vec_id)
    val bad = res.as("x").join(res.as("y"),
      col("x.q_id") === col("y.q_id") && col("x.rank") < col("y.rank")
        && col("x.cosine") < col("y.cosine"))
    assert(bad.count() == 0)
    assert(res.filter(col("q_id") === col("vec_id")).count() == 0)  // self excluded
  }

  test("semantic decontamination: exact benchmark copy flagged at 1.0; corpus side map-only") {
    import spark.implicits._
    // bench vec 0; train 100 is a SCALED copy (cosine exactly 1), train
    // 101 is orthogonal (cosine 0) — paraphrase-leak detection in miniature
    val planted = Seq(
      (0L, Array(1.0f, 2.0f, 2.0f)),
      (100L, Array(2.0f, 4.0f, 4.0f)),
      (101L, Array(-2.0f, -1.0f, 2.0f))).toDF("vec_id", "embedding")
    val flags = Similarity.embedDecontaminationOf(planted, 50, 0.35).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(flags(100L) == (1.0, true) && flags(101L) == (0.0, false), flags)

    val rep = Similarity.embedDecontamination(spark, sfDir, 50, 0.35)
    val rows = rep.collect()
    assert(rows.nonEmpty && rows.forall(r => {
      val c = r.getAs[Double]("max_bench_cos"); c >= -1.0001 && c <= 1.0001
    }))
    // flag agrees with the threshold on the rounded score
    assert(rows.forall(r =>
      r.getAs[Boolean]("contaminated") == (r.getAs[Double]("max_bench_cos") >= 0.35)))
    // the corpus side reaches the broadcast attach without any exchange:
    // everything after the single benchmark-row BroadcastExchange is the
    // bench-side aggregation; the train side is scan -> project only
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    val corpusSide = plan.split("Broadcast(NestedLoop|Hash)Join").last
      .split("BroadcastExchange", 2)(0)
    // the one exchange allowed is the Tables-level under-split-scan
    // spread (input-layout normalization, r18): a REPARTITION_BY_NUM
    // hash exchange on the scanned table's spread key (embeddings ->
    // vec_id, Tables.cpuDenseKeys). The assertion's target is that the
    // decontamination attach itself induces no shuffle of the train
    // corpus, a repartition on any other column included
    val spread = """Exchange hashpartitioning\(vec_id#\d+L?, \d+\), REPARTITION_BY_NUM""".r
    val induced = corpusSide.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        spread.findFirstIn(l).isEmpty).toSeq
    assert(induced.isEmpty,
      s"train corpus shuffled before the broadcast attach:\n$plan")
  }

  test("planeCoefs: deterministic, bounded, non-degenerate") {
    val c1 = Similarity.planeCoefs(0)
    assert(c1 == Similarity.planeCoefs(0))
    assert(c1.forall(v => v >= -0.5 && v < 0.5))
    assert(c1.distinct.size > Similarity.LshMaxDims / 2)   // not collapsed
    assert(Similarity.planeCoefs(1) != c1)
  }

  test("LSH ANN: multi-table multi-probe reaches recall >= 0.9 vs brute force") {
    // A single exact-probed 8-plane table finds bucket-mates only (recall
    // ~0 on these near-orthogonal vectors); 8 tables probed to Hamming
    // radius 2 must recover >= 90% of the exact top-k set.
    val lsh = Similarity.lshTopK(spark, "/root/testdata/sf0.01", 10, 5)
    assert(lsh.filter(col("rank") > 5).count() == 0)
    val bad = lsh.as("x").join(lsh.as("y"),
      col("x.q_id") === col("y.q_id") && col("x.rank") < col("y.rank")
        && col("x.cosine") < col("y.cosine"))
    assert(bad.count() == 0)
    // no duplicate neighbors: candidates found via several tables must
    // have been deduplicated before ranking
    assert(lsh.groupBy("q_id", "vec_id").count().filter(col("count") > 1).count() == 0)
    val brute = Similarity.bruteForceTopK(spark, "/root/testdata/sf0.01", 10, 5)
      .select("q_id", "vec_id")
    val hit = brute.intersect(lsh.select("q_id", "vec_id")).count()
    val total = brute.count()
    assert(hit >= 0.9 * total, s"LSH recall $hit/$total below 0.9")
  }

  test("IVF quantizer: one deterministic cell per vector, cells come from the codebook") {
    import graft.lake.Tables
    val emb = Tables(spark, sfDir, "embeddings")
    val centIds = Quantize.codebook(emb).select("c_id").collect().map(_.getLong(0)).toSet
    assert(centIds.nonEmpty && centIds.forall(_ % Quantize.CodebookStep == 0))
    val cells = Quantize.withCodebook(emb, emb).select(col("vec_id"),
      Quantize.cellExpr(col("embedding"), col("cents")).as("cell"))
    assert(cells.count() == emb.count())
    val cellIds = cells.select("cell").distinct().collect().map(_.getLong(0)).toSet
    assert(cellIds.subsetOf(centIds))
    // a centroid's own vector lands in its own cell (cosine 1 with itself)
    val self = cells.filter(col("vec_id") % Quantize.CodebookStep === 0)
      .filter(col("vec_id") =!= col("cell")).count()
    assert(self == 0)
  }

  test("IVF ANN: k ranked neighbors drawn from probed cells; probe list honors nprobe") {
    val res = Similarity.ivfTopK(spark, sfDir, 10, 5, nprobe = 2)
    assert(res.filter(col("rank") > 5).count() == 0)
    assert(res.filter(col("q_id") === col("vec_id")).count() == 0)
    val perQuery = res.groupBy("q_id").count().collect()
    assert(perQuery.forall(_.getLong(1) <= 5))
    // nprobe=2 must never return FEWER candidates than nprobe=1
    val res1 = Similarity.ivfTopK(spark, sfDir, 10, 5, nprobe = 1)
    assert(res.count() >= res1.count())
  }

  test("IVF recall telemetry: nprobe=8 recovers >= 0.5 of the exact top-k on sf0.01") {
    val dir = "/root/testdata/sf0.01"
    val brute = Similarity.bruteForceTopK(spark, dir, 10, 5).select("q_id", "vec_id")
    val ivf = Similarity.ivfTopK(spark, dir, 10, 5).select("q_id", "vec_id")
    val hit = brute.intersect(ivf).count()
    val total = brute.count()
    // measured 0.60 at C=N/2, nprobe=8 — pinned with headroom so the
    // assertion documents the operating point without being brittle
    assert(hit >= 0.5 * total, s"IVF recall $hit/$total below 0.5")
  }

  test("hard negatives: k nearest per query, all with a different label") {
    val out = Similarity.hardNegativesTopK(spark, sfDir, 5, 3).collect()
    assert(out.forall(r => r.getAs[Int]("label") != r.getAs[Int]("q_label")))
    val perQuery = out.groupBy(_.getAs[Long]("q_id")).view.mapValues(_.length)
    assert(perQuery.nonEmpty && perQuery.values.forall(_ == 3))
    // agrees with brute force restricted to cross-label pairs: the top
    // hard negative scores no higher than the top overall neighbor
    val brute = Similarity.bruteForceTopK(spark, sfDir, 5, 3).collect()
      .groupBy(_.getAs[Long]("q_id")).view
      .mapValues(_.map(_.getAs[Double]("cosine")).max).toMap
    val hard = out.groupBy(_.getAs[Long]("q_id")).view
      .mapValues(_.map(_.getAs[Double]("cosine")).max).toMap
    assert(hard.forall { case (q, c) => c <= brute(q) })
  }

  test("incremental IVF ingest: delta assignments appended == full rebuild; serving identical") {
    import org.apache.spark.sql.functions.col
    val emb = graft.lake.Tables(spark, sfDir, "embeddings")
    val cent = Quantize.codebook(emb.filter(col("vec_id") < 30))
    val (corpus, delta) =
      (emb.filter(col("vec_id") < 30), emb.filter(col("vec_id") >= 30))

    // day 0 + day 1 appended vs one-shot assignment of everything
    val appended = Similarity.cellAssignmentsOf(corpus, cent)
      .unionByName(Similarity.cellAssignmentsOf(delta, cent))
    val rebuilt = Similarity.cellAssignmentsOf(emb, cent)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(key(appended) == key(rebuilt))

    // queries served from the accumulated artifact match the one-shot path
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"),
        graft.functions.Vectors.norm(col("embedding")).as("nrm"))
    val res = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("rank"))).toSet
    assert(res(Similarity.ivfTopKFromAssignments(appended, queries, 3, cent))
      == res(Similarity.ivfTopKFromAssignments(rebuilt, queries, 3, cent)))
  }

  test("refined codebook: Lloyd iterations lift IVF recall over the sampled seed") {
    import graft.lake.Tables
    val dir = "/root/testdata/sf0.01"
    val emb = Tables(spark, dir, "embeddings")
    val brute = Similarity.bruteForceTopK(spark, dir, 10, 5).select("q_id", "vec_id")
    val total = brute.count()
    val sampledHit = brute.intersect(
      Similarity.ivfTopK(spark, dir, 10, 5).select("q_id", "vec_id")).count()
    val cent = Quantize.refineCodebook(emb, 2)
    val refinedHit = brute.intersect(
      Similarity.ivfTopKWith(spark, dir, 10, 5, cent).select("q_id", "vec_id")).count()
    // measured 34/50 refined vs 30/50 sampled (converged after 1 iter):
    // centroids move to cell means, so cell boundaries align better with
    // the true neighborhoods the probe list has to cover
    assert(refinedHit >= sampledHit,
      s"refined recall $refinedHit/$total below sampled $sampledHit/$total")
    assert(refinedHit >= (0.6 * total).toLong,
      s"refined recall $refinedHit/$total below 0.6")
    // no cells lost at this SF — the refined book serves the same layout
    assert(cent.count() == Quantize.codebook(emb).count())
  }

  test("refined codebook serving plan: still broadcast, no literal centroids") {
    import graft.lake.Tables
    val emb = Tables(spark, sfDir, "embeddings")
    val cent = Quantize.refineCodebook(emb, 1)
    val df = Quantize.withCodebookOf(emb, cent).select(col("vec_id"),
      Quantize.cellExpr(col("embedding"), col("cents")).as("cell"))
    val p = df.queryExecution.sparkPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"refined codebook not broadcast:\n$p")
    // the refined centroids ride in the broadcast payload, never the plan
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val structLits = df.queryExecution.analyzed.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case l @ Literal(_, ArrayType(_: StructType, _)) => l })
    assert(structLits.isEmpty, "literal centroid array baked into the plan")
  }

  test("IVF property: planted near-duplicates land in the same cell") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val base = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val centRow = Quantize.codebookRowOf(
      base.zipWithIndex.map { case (v, i) => (i.toLong * Quantize.CodebookStep, v.toSeq) }
        .toDF("c_id", "c_emb"))
    val rows = (0 until 100).map { i =>
      val c = base(i % 8)
      (i.toLong, c.map(v => v + 0.05 * rnd.nextGaussian()).toSeq, (i % 8).toLong * Quantize.CodebookStep)
    }
    val assigned = rows.toDF("id", "embedding", "expected_cell")
      .crossJoin(broadcast(centRow))
      .withColumn("cell", Quantize.cellExpr(col("embedding"), col("cents")))
    val wrong = assigned.filter(col("cell") =!= col("expected_cell")).count()
    assert(wrong == 0, s"$wrong of 100 perturbed vectors mis-assigned")
  }

  test("LSH property: planted near-duplicates collide in the same bucket") {
    import spark.implicits._
    // base vectors + slightly perturbed copies: cosine ~0.999, so each of
    // the 8 sign bits flips with probability θ/π ≈ 1.5% — expect >> 50%
    // full-bucket collisions (≈ 0.985^8 ≈ 0.89).
    val rnd = new scala.util.Random(7)
    val dim = 16
    val rows = (0 until 100).flatMap { i =>
      val base = Array.fill(dim)(rnd.nextGaussian())
      val pert = base.map(v => v + 0.05 * rnd.nextGaussian())
      Seq((i.toLong, 0, base.toSeq), (i.toLong, 1, pert.toSeq))
    }
    val df = rows.toDF("pair_id", "side", "embedding")
      .withColumn("bucket", Similarity.lshBucket(col("embedding")))
    val collided = df.groupBy("pair_id")
      .agg(countDistinct("bucket").as("nb"))
      .filter(col("nb") === 1).count()
    assert(collided >= 50, s"only $collided of 100 planted near-dup pairs collided")
  }

  test("quantizeInt8: codes span [0,255] with per-dim extremes at the ends; reconstruction within a half step") {
    import spark.implicits._
    val emb = graft.lake.Tables(spark, sfDir, "embeddings")
    val codes = Similarity.quantizeInt8(emb)
    val range = codes.agg(min("code"), max("code")).head()
    assert(range.getInt(0) == 0 && range.getInt(1) == 255, range.toString)
    // per dimension: some vector hits 0 (the min) and some hits 255 (max)
    val perDim = codes.groupBy("dim")
      .agg(min("code").as("mn"), max("code").as("mx"))
      .filter(col("mn") =!= 0 || col("mx") =!= 255)
    assert(perDim.isEmpty, "a dimension's extremes did not map to 0/255")
    // dequantized values stay within half a quantization step of the input
    val v = col("embedding").cast("array<double>")
    val truth = emb.select(col("vec_id"), posexplode(v).as(Seq("dim", "x")))
    val stats = truth.groupBy("dim").agg(min("x").as("lo"), max("x").as("hi"))
    val bad = codes.join(truth, Seq("vec_id", "dim")).join(stats, "dim")
      .withColumn("step", (col("hi") - col("lo")) / 255)
      .withColumn("deq", col("lo") + col("code") * col("step"))
      .filter(abs(col("deq") - col("x")) > col("step") * 0.5 + 1e-9)
    assert(bad.isEmpty, s"${bad.count()} codes reconstruct outside half a step")
  }

  test("quantizedTopK: ADC search recall >= 0.9 vs exact brute force at 8 bits/dim") {
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Similarity.bruteForceTopK(spark, sfDir, 10, 5))
    val quant = hits(Similarity.quantizedTopK(spark, sfDir, 10, 5))
    val recall = (exact intersect quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"ADC recall $recall")
  }

  test("labelMedoids: the vector nearest its label centroid wins; ties break by vec_id") {
    import spark.implicits._
    // label 0: centroid (2, 0.5); cos(v1=(1,0)) = 0.9701 < cos(v2=(3,1))
    // = 0.9971 -> v2 is the exemplar. label 1 is a singleton.
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(3.0f, 1.0f), 0),
      (3L, Seq(0.0f, 5.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelMedoids(emb)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(0 -> 2L, 1 -> 3L), got.toString)
    // exact tie (duplicate vectors): smaller vec_id wins
    val tied = Seq((7L, Seq(1.0f, 0.0f), 0), (5L, Seq(1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.labelMedoids(tied).collect()(0).getLong(1) == 5L)
  }

  test("centroidSimilarity: aligned labels cosine 1, orthogonal labels cosine 0") {
    import spark.implicits._
    // labels 0/1 both along e1 (0 scaled 2x), label 2 along e2
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(3.0f, 0.0f), 0),
      (3L, Seq(4.0f, 0.0f), 1),
      (4L, Seq(0.0f, 2.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidSimilarity(emb)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == Map((0, 1) -> 1.0, (0, 2) -> 0.0, (1, 2) -> 0.0),
      got.toString)
  }

  test("randomProjection: shape, layout invariance, JL energy preservation, linearity") {
    val emb = graft.lake.Tables(spark, sfDir, "embeddings")
    val p = 16
    val proj = Similarity.randomProjection(emb, p)
    val n = emb.count()
    assert(proj.count() == n * p, "p components per vector")
    // deterministic signs -> identical output on any partitioning
    val a = proj.collect().map(_.toSeq).toSet
    val b = Similarity.randomProjection(emb.repartition(9), p)
      .collect().map(_.toSeq).toSet
    assert(a == b, "projection must not depend on layout")
    // E[||y||^2] = ||x||^2 for sign projections: the corpus-mean energy
    // ratio concentrates near 1 (JL distance preservation in aggregate)
    val ratio = proj.groupBy(col("vec_id"))
      .agg(sum(col("y") * col("y")).as("e_out"))
      .join(emb.select(col("vec_id"),
        graft.functions.Vectors.dot(col("embedding"), col("embedding"))
          .as("e_in")), "vec_id")
      .agg(avg(col("e_out") / col("e_in"))).head().getDouble(0)
    assert(ratio > 0.8 && ratio < 1.2, s"mean energy ratio $ratio far from 1")
    // linearity: projecting 2x doubles every component (up to the 1e-6
    // micro quantization of the input components)
    import spark.implicits._
    val one = Seq((7L, Seq(0.5f, -0.25f, 0.125f, 1.0f))).toDF("vec_id", "embedding")
    val two = Seq((7L, Seq(1.0f, -0.5f, 0.25f, 2.0f))).toDF("vec_id", "embedding")
    val y1 = Similarity.randomProjection(one, 4, 4).collect()
      .map(r => r.getInt(1) -> r.getDouble(2)).toMap
    val y2 = Similarity.randomProjection(two, 4, 4).collect()
      .map(r => r.getInt(1) -> r.getDouble(2)).toMap
    y1.foreach { case (d, v) => assert(math.abs(y2(d) - 2 * v) < 1e-5,
      s"dim $d: ${y2(d)} vs ${2 * v}") }
  }

  test("refineCodebookCertified: Lloyd stabilizes on planted clusters, matches the fixed-pass form, fails loudly at the cap") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.02f)), (2L, Seq(1.0f, 0.01f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.02f, 1.0f)), (5L, Seq(0.01f, 1.0f)))
      .toDF("vec_id", "embedding")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).map(x => math.rint(x * 1e6)))
      .sortBy(_._1).toSeq
    val cert = Quantize.refineCodebookCertified(emb, maxIterations = 20)
    // converged state ≡ the fixed-pass form run past convergence
    assert(canon(cert) == canon(Quantize.refineCodebook(emb, 8)))
    // every final centroid points into one of the two planted cones
    cert.collect().foreach { r =>
      val v = r.getSeq[Double](1)
      assert(math.abs(v(0)) > 0.9 && math.abs(v(1)) < 0.1 ||
        math.abs(v(1)) > 0.9 && math.abs(v(0)) < 0.1, v.toString)
    }
    // loud failure instead of a silent half-converged codebook
    intercept[IllegalStateException] {
      Quantize.refineCodebookCertified(emb, maxIterations = 0)
    }
  }

  test("silhouetteByLabel: separated clusters near 1, a planted stray drags its label down") {
    import spark.implicits._
    def emb(rows: (Long, Int, Seq[Float])*) =
      rows.toSeq.toDF("vec_id", "label", "embedding")
    val tight = emb(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.98f, 0.0f)),
      (3L, 1, Seq(0.0f, 1.0f)), (4L, 1, Seq(0.0f, 0.98f)))
    val s = Similarity.silhouetteByLabel(tight).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(s(0)._1 == 2L && s(1)._1 == 2L)
    assert(s(0)._2 > 0.99 && s(1)._2 > 0.99, s.toString)
    // move vec 2 INTO cluster 1's territory: label 0's mean silhouette
    // collapses (the stray scores negative), label 1 stays high
    val stray = emb(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.0f, 1.0f)),
      (3L, 1, Seq(0.0f, 1.0f)), (4L, 1, Seq(0.0f, 0.98f)))
    val t = Similarity.silhouetteByLabel(stray).collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(t(0) < 0.3 && t(1) > 0.5, t.toString)
  }
}
