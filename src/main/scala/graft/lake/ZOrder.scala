package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) layout — the TWO-dimensional zone-map
  * complement to [[Writers.parquetRangeSorted]]: interleaving the bits of
  * two quantized dimensions makes rows that are close in (A, B) space
  * close on the curve, so each output file's parquet min/max footer spans
  * a small RECTANGLE of the key space instead of a full-width stripe. A
  * single-dimension sort prunes range scans on that one column only —
  * every file still spans the full range of the other; the z-layout
  * prunes selective filters on EITHER dimension (at ~√ the efficiency of
  * a dedicated sort, the standard trade). Same cost model as the range
  * layout: one stats row + one range exchange at write time, amortized
  * over every later scan.
  *
  * All arithmetic is integer-exact (quantization uses long division, the
  * interleave is shift/mask on disjoint bits), so z-values are
  * reproducible across engines and the SQL oracle replays them. */
object ZOrder {

  /** Quantize a long column to [0, 2^bits) rank space against broadcast
    * corpus min/max: `(x − min) · 2^bits ÷ (max − min + 1)` in exact long
    * arithmetic — `div` is Spark's IntegralDivide (the Column `/` would be
    * DOUBLE division), mirrored by DuckDB's `//`. */
  def quantize(x: Column, minCol: Column, maxCol: Column, bits: Int): Column =
    call_function("div",
      (x.cast("long") - minCol) * (1L << bits), maxCol - minCol + 1L)

  /** Zone-map effectiveness report: partition rows into `zones`
    * equal-width bands of `layoutKey` (the stand-ins for files written in
    * that layout), collect each band's min/max of `statsCol` (the parquet
    * footer stats a scan planner reads), and classify every zone against
    * the range predicate [lo, hi]: `pruned` (footer range misses —
    * the file is never opened), `full` (footer range inside — rows
    * qualify without evaluating the predicate), `partial` (must read and
    * filter). Answers "is this layout worth it?" with ONE aggregation
    * over the table plus a zones-sized census — the decision input for
    * [[writeZOrdered]] / range-sort before anyone rewrites 100 TB.
    * Quantization reuses [[quantize]]'s exact long arithmetic. */
  def zoneMapReport(df: DataFrame, layoutKey: String, statsCol: Column,
      lo: Column, hi: Column, zones: Int = 32): DataFrame = {
    val stats = df.agg(min(col(layoutKey)).cast("long").as("min_k"),
      max(col(layoutKey)).cast("long").as("max_k"))
    val bits = (31 - Integer.numberOfLeadingZeros(zones)).max(0)
    require((1 << bits) == zones, s"zones must be a power of two, got $zones")
    val zoned = df.crossJoin(broadcast(stats))
      .select(quantize(col(layoutKey), col("min_k"), col("max_k"), bits)
        .as("zone"), statsCol.as("s"))
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_rows"), min(col("s")).as("zmin"),
        max(col("s")).as("zmax"))
    zoned.select(
        when(col("zmax") < lo || col("zmin") > hi, "pruned")
          .when(col("zmin") >= lo && col("zmax") <= hi, "full")
          .otherwise("partial").as("zone_class"), col("n_rows"))
      .groupBy(col("zone_class"))
      .agg(count(lit(1)).as("n_zones"), sum(col("n_rows")).as("n_rows"))
  }

  /** Write `df` z-ordered on `(dimA, dimB)`: range-partition + sort on the
    * z-value ([[withZValueN]]) so every file owns one contiguous curve
    * segment (a bounded rectangle of (A, B) space in its min/max
    * footers). The helper column is dropped before writing — pruning
    * works off the DIMS' own footers. */
  def writeZOrdered(df: DataFrame, dimA: String, dimB: String, bits: Int,
      files: Int, path: String): Unit =
    withZValueN(df, Seq(dimA, dimB), bits)
      .repartitionByRange(files, col("zvalue"))
      .sortWithinPartitions("zvalue")
      .drop("zvalue")
      .write.mode("overwrite").parquet(path)

  /** N-dim Morton interleave of pre-quantized dims in [0, 2^bits): bit
    * i of dim d lands at position i·n + d (for two dims: bit i of `a` at
    * 2i, of `b` at 2i+1). Disjoint bits, `+` as OR, so both engines
    * stay in plain long arithmetic. */
  def interleaveN(dims: Seq[Column], bits: Int): Column = {
    val n = dims.size
    require(n >= 2, s"interleaveN needs >= 2 dims, got $n")
    require(bits >= 1 && bits * n <= 62,
      s"bits·dims must fit a long: $bits × $n > 62")
    (for { i <- 0 until bits; (c, d) <- dims.zipWithIndex.toSeq } yield
      shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)),
        i * n + d)).reduce(_ + _)
  }

  /** Locality-preserving LONG surrogate for a clustering dimension of
    * any orderable type — what the curve quantizes. Numerics/booleans/
    * timestamps cast directly (timestamps to epoch seconds); dates go
    * through epoch days; strings take their 7-byte big-endian codepoint
    * prefix (exact lexicographic order for ASCII, the overwhelming key
    * reality; longer shared prefixes collapse to the same curve cell,
    * which costs resolution, never correctness). Hashing is NOT used
    * anywhere: a hash would destroy the locality clustering exists
    * to create. */
  def longSurrogate(c: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType =>
        (0 until 7).map(i =>
          coalesce(ascii(substring(c, i + 1, 1)), lit(0)).cast("long") *
            lit(1L << (8 * (6 - i)))).reduce(_ + _)
      case DateType => datediff(c, to_date(lit("1970-01-01"))).cast("long")
      case _: NumericType | BooleanType | TimestampType | TimestampNTZType =>
        c.cast("long")
      case other => throw new IllegalArgumentException(
        s"clustering dimension of type ${other.simpleString} has no " +
          "locality-preserving long surrogate")
    }
  }

  /** Append `zvalue` for N clustering dims of any orderable type: one
    * min/max stats row over the long surrogates (map-side agg,
    * broadcast back) + a map-side projection. n = 1 degenerates to the
    * surrogate itself — a plain range layout at full resolution, no
    * quantization loss. */
  def withZValueN(df: DataFrame, dims: Seq[String], bits: Int): DataFrame = {
    require(dims.nonEmpty, "withZValueN needs at least one dim")
    val schema = df.schema
    val surr = dims.map(d => longSurrogate(col(d), schema(d).dataType))
    if (dims.size == 1) return df.withColumn("zvalue", surr.head)
    val aggs = surr.zipWithIndex.flatMap { case (s, j) =>
      Seq(min(s).as(s"_min_$j"), max(s).as(s"_max_$j")) }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    df.crossJoin(broadcast(stats))
      .withColumn("zvalue", interleaveN(
        surr.zipWithIndex.map { case (s, j) =>
          quantize(s, col(s"_min_$j"), col(s"_max_$j"), bits) }, bits))
      .drop(dims.indices.flatMap(j => Seq(s"_min_$j", s"_max_$j")): _*)
  }
}
