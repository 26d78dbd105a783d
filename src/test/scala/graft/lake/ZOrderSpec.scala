package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Z-order layout: Morton-curve arithmetic and the two-dimensional
  * file-pruning property the single-dim range sort cannot provide. */
class ZOrderSpec extends SparkSpec {

  import spark.implicits._

  test("interleave matches hand-computed Morton codes") {
    val df = Seq((3L, 0L), (0L, 3L), (5L, 6L)).toDF("a", "b")
    val z = df.select(ZOrder.interleaveN(Seq(col("a"), col("b")), 4).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // a=0b11,b=0 → 0b0101; a=0,b=0b11 → 0b1010
    // a=0b101,b=0b110: bits a0<<0,a1<<2,a2<<4 = 1+0+16; b0<<1,b1<<3,b2<<5 = 0+8+32
    assert(z == Seq(5L, 10L, 57L))
  }

  test("quantize is exact long arithmetic over the full range") {
    val df = Seq(0L, 127L, 255L).toDF("x")
    val q = df.select(ZOrder.quantize(col("x"), lit(0L), lit(255L), 4).as("q"))
      .collect().map(_.getLong(0)).toSeq
    assert(q == Seq(0L, 7L, 15L)) // (x*16)/256
  }

  test("z-ordered files bound BOTH dims; a range sort leaves one unbounded") {
    // 64×64 uniform grid; files = 16 → a z-layout should give each file a
    // bounded rectangle (~quarter-width per dim), while sorting by A alone
    // leaves every file spanning the FULL B range
    val grid = spark.range(0, 64 * 64)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    val dir = Files.createTempDirectory("graft-zorder").toString

    ZOrder.writeZOrdered(grid, "a", "b", bits = 6, files = 16, s"$dir/z")
    Writers.parquetRangeSorted(grid, "a", 16, s"$dir/r")

    def fileSpans(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("b")).as("minB"), max(col("b")).as("maxB"))
      .collect().map(r => r.getLong(1) -> r.getLong(2))

    val zSpans = fileSpans(s"$dir/z")
    val rSpans = fileSpans(s"$dir/r")
    assert(zSpans.length > 4 && rSpans.length > 4)

    // pruning a selective B-filter: count files whose [minB, maxB] footer
    // intersects B ∈ [0, 8)
    def hits(spans: Array[(Long, Long)]) =
      spans.count { case (lo, hi) => lo < 8 && hi >= 0 }
    assert(hits(rSpans) == rSpans.length, "A-sorted files all span full B")
    assert(hits(zSpans) <= zSpans.length / 2,
      s"z-layout should prune most files: ${zSpans.mkString(",")}")

    // and the layout still bounds dim A (the curve preserves both)
    val zSpansA = spark.read.parquet(s"$dir/z")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("a")).as("minA"), max(col("a")).as("maxA"))
      .collect().map(r => r.getLong(1) -> r.getLong(2))
    assert(zSpansA.count { case (lo, hi) => lo < 8 && hi >= 0 } <= zSpansA.length / 2)
  }

  test("zoneMapReport: pruned / full / partial zone classes carry exact zone and row masses") {
    import spark.implicits._
    // 64 keys → 32 zones of 2 rows; date bands make each class predictable
    val rows = (0 until 64).map { k =>
      val sdt =
        if (k < 20) "1993-06-01"                       // zones 0-9: before lo
        else if (k < 40) "1994-06-15"                  // zones 10-19: inside
        else if (k < 60) { if (k % 2 == 0) "1994-06-15" else "1995-01-01" }
        else "1995-02-02"                              // zones 30-31: after hi
      (k.toLong, sdt)
    }
    val df = rows.toDF("k", "sdt")
    val got = ZOrder.zoneMapReport(df, "k", col("sdt"),
        lit("1994-01-01"), lit("1994-12-31"), zones = 32)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map("pruned" -> ((12L, 24L)), "full" -> ((10L, 20L)),
      "partial" -> ((10L, 20L))), got.toString)
  }

  test("zvalue column is dropped from the written files") {
    val grid = spark.range(0, 100)
      .select((col("id") / 10).as("a"), (col("id") % 10).as("b"))
    val dir = Files.createTempDirectory("graft-zorder2").toString
    ZOrder.writeZOrdered(grid, "a", "b", bits = 4, files = 2, s"$dir/z")
    assert(spark.read.parquet(s"$dir/z").columns.toSet == Set("a", "b"))
  }
}
