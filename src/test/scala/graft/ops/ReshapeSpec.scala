package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ReshapeSpec extends SparkSpec {
  import spark.implicits._

  test("expandSideTable folds ___k columns to rows with id remap (Perseus semantics)") {
    val df = Seq(
      (1, "P1", Some(10.0), Some(20.0), None),
      (2, "P2", Some(1.0), None, Some(3.0))
    ).toDF("id", "Proteins", "Intensity A___1", "Intensity A___2", "Intensity A___3")
    val out = Reshape.expandSideTable(df)
    assert(out.count() == 6) // 2 rows × 3 multiplicities
    assert(out.columns.toSet == Set("id", "Proteins", "Intensity A", "Multiplicity"))
    val r = out.filter(col("Multiplicity") === 1 && col("Proteins") === "P1").head()
    assert(r.getAs[String]("id") == "1___1") // ref process.py:272 id remap
    assert(r.getAs[Double]("Intensity A") == 10.0)
    // null cells survive as nulls (not quantified)
    assert(out.filter(col("id") === "1___3").head().isNullAt(out.columns.indexOf("Intensity A")))
  }

  test("expandSideTable drops plain columns colliding with ripped multiplicity columns") {
    // ref process.py:252-254: a plain `Intensity A` next to
    // `Intensity A___1` would collide with the ripped column — dropped
    // from the replicated side; unrelated plain columns survive
    val df = Seq((1, 5.0, 10.0, 99.0))
      .toDF("id", "Intensity A", "Intensity A___1", "Intensity")
    val out = Reshape.expandSideTable(df)
    assert(out.columns.toSet == Set("id", "Intensity", "Intensity A", "Multiplicity"))
    val m1 = out.filter(col("Multiplicity") === 1).head()
    assert(m1.getAs[Double]("Intensity A") == 10.0) // ripped value, not the plain 5.0
    assert(m1.getAs[Double]("Intensity") == 99.0)   // bare summary col replicated
  }

  test("transformExpressionColumns applies log2 with inf->null") {
    val df = Seq((1, 8.0), (2, 0.0), (3, -4.0)).toDF("id", "v")
    val out = Reshape.transformExpressionColumns(df, Seq("v")).collect()
      .map(r => r.getInt(0) -> Option(r.get(1))).toMap
    assert(out(1).contains(3.0))
    assert(out(2).isEmpty) // log2(0) = -inf -> null
    assert(out(3).isEmpty) // log2(<0) = NaN -> null
  }

  test("unpivot produces one row per (key, folded col)") {
    val df = Seq((1, 2.0, 3.0)).toDF("k", "a", "b")
    val out = Reshape.unpivot(df, Seq("k"), Seq("a", "b"))
    assert(out.columns.toSeq == Seq("k", "sample", "value"))
    assert(out.count() == 2)
  }

  test("pivotWide round-trips unpivot") {
    // unpivot is lossless: pivoting its (sample, value) rows back to
    // wide with Spark's native pivot restores every cell
    val df = Seq((1, 2.0, 3.0), (2, 4.0, 5.0)).toDF("k", "a", "b")
    val long = Reshape.unpivot(df, Seq("k"), Seq("a", "b"))
    val wide = long.groupBy("k").pivot("sample", Seq("a", "b")).agg(first("value"))
    val m = wide.collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m(1) == (2.0, 3.0) && m(2) == (4.0, 5.0))
  }

  test("combineExpressionColumns means pairs and drops originals") {
    val df = Seq((1, 2.0, 4.0, 9.0)).toDF("k", "a", "b", "c")
    val out = Reshape.combineExpressionColumns(df, Seq(("a", "b", "ab")))
    assert(out.columns.toSeq == Seq("k", "c", "ab"))
    assert(out.head().getAs[Double]("ab") == 3.0)
  }
}
