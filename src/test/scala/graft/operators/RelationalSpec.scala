package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.lake.Readers

/** P1-P7, F1-F7, L1-L3 against the reference's notebook behavior
  * (`/root/reference/pyspark-1.ipynb:199-381`,
  * `pyspark-2.ipynb:360-459`). */
class RelationalSpec extends SparkSpec {

  private lazy val test1 = Readers.csvInferred(spark, tutoCsv("test1.csv"))

  test("P1-P3 select, incl. case-insensitive resolution ('Age' resolves age)") {
    // pyspark-1.ipynb:226: select('Name','Age') against column `age`.
    val df = Relational.select(test1, Seq("Name", "Age"))
    assert(df.columns.toSeq == Seq("Name", "Age"))
    assert(df.count() == 6)
  }

  test("P5 derived column: Experience + 2") {
    // pyspark-1.ipynb:305.
    val df = Relational.withDerived(test1, "Experience + 2 years", col("Experience") + 2)
    val krish = df.filter(col("Name") === "Krish").select("Experience + 2 years").head()
    assert(krish.getInt(0) == 12)
  }

  test("P6/P7 drop and rename") {
    val dropped = Relational.drop(test1, "Experience")
    assert(!dropped.columns.contains("Experience"))
    val renamed = Relational.rename(test1, "Name", "New Name")   // pyspark-1.ipynb:381
    assert(renamed.columns.contains("New Name") && !renamed.columns.contains("Name"))
  }

  test("F1-F5 filter forms agree: SQL string, Column expr, conjunction, negation") {
    // pyspark-2.ipynb:360-459 golden row-sets over test1.csv.
    assert(Relational.filterSql(test1, "Salary <= 20000").count() == 4)
    assert(Relational.filterExpr(test1, col("Salary") <= 20000).count() == 4)
    val conj = Relational.filterExpr(test1,
      col("Salary") <= 20000 && col("Salary") >= 15000)
    assert(conj.count() == 4)
    val neg = Relational.filterExpr(test1, !(col("Salary") <= 20000))
    assert(rowsOf(neg.select("Name")).flatten.toSet == Set("Krish", "Sudhanshu"))
    // F2 filter -> project pipeline (pyspark-2.ipynb:386)
    val pipeline = Relational.filterSql(test1, "Salary <= 20000").select("Name", "age")
    assert(pipeline.columns.toSeq == Seq("Name", "age") && pipeline.count() == 4)
  }

  test("F6/F7 substring and suffix predicates") {
    // contains 'an' -> Sudhanshu only; endsWith 'sh' -> Krish only.
    assert(rowsOf(Relational.filterContains(test1, "Name", "an")
      .select("Name")).flatten == Seq("Sudhanshu"))
    assert(rowsOf(Relational.filterEndsWith(test1, "Name", "sh")
      .select("Name")).flatten == Seq("Krish"))
  }

  test("L1-L3 head/take and deterministic ordered limit") {
    assert(test1.head(3).length == 3)          // pyspark-1.ipynb:172
    val top2 = Relational.limitOrdered(test1, Seq(col("Salary").desc, col("Name")), 2)
    assert(rowsOf(top2.select("Name")).flatten == Seq("Krish", "Sudhanshu"))
  }

  test("withRangeBand on degenerate input: all-NULL values band 0; empty stays empty") {
    import spark.implicits._
    val allNull = Seq[Option[Double]](None, None, None).toDF("v")
    Seq("false", "true").foreach { legacy =>
      spark.conf.set("spark.sql.legacy.sizeOfNull", legacy)
      try {
        val bands = Sampling.withRangeBand(allNull, col("v"), 4)
          .select("band").collect().map(r => Option(r.get(0)))
        assert(bands.toSeq == Seq.fill(3)(Some(0)),
          s"sizeOfNull=$legacy: ${bands.mkString(",")}")
      } finally spark.conf.unset("spark.sql.legacy.sizeOfNull")
    }
    val empty = Sampling.withRangeBand(allNull.limit(0), col("v"), 4)
    assert(empty.count() == 0 && empty.columns.contains("band"))
  }
}
