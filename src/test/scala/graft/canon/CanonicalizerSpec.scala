package graft.canon

import graft.SparkSpec
import java.sql.{Date, Timestamp}
import org.apache.spark.sql.functions._

class CanonicalizerSpec extends SparkSpec {

  import spark.implicits._

  test("NULL renders as the explicit token, distinct from empty string") {
    val df = Seq((1, Option.empty[String]), (2, Some(""))).toDF("id", "s")
    val rows = df.select(Canonicalizer.canonCol(col("s"), df.schema("s").dataType).as("c"))
      .orderBy("c").as[String].collect()
    assert(rows.toSet == Set(Canonicalizer.NullToken, ""))
  }

  test("timestamps render micros-precision UTC, dates ISO") {
    val df = Seq((Timestamp.valueOf("2024-06-01 12:34:56.789"), Date.valueOf("2024-06-01")))
      .toDF("ts", "d")
    val r = df.select(
      Canonicalizer.canonCol(col("ts"), df.schema("ts").dataType).as("cts"),
      Canonicalizer.canonCol(col("d"), df.schema("d").dataType).as("cd")).head()
    assert(r.getString(0) == "2024-06-01 12:34:56.789000")
    assert(r.getString(1) == "2024-06-01")
  }

  test("rows differing only in sub-second time canonicalize differently") {
    val df = Seq(
      Timestamp.valueOf("2024-06-01 12:34:56.000001"),
      Timestamp.valueOf("2024-06-01 12:34:56.000002")).toDF("ts")
    val rs = df.select(Canonicalizer.canonCol(col("ts"), df.schema("ts").dataType).as("c"))
      .as[String].collect()
    assert(rs.distinct.length == 2)
  }

  test("arrays/structs canonicalize via JSON (beyond-reference types)") {
    val df = Seq((Seq(1, 2, 3), ("a", 1))).toDF("arr", "st")
    val r = df.select(
      Canonicalizer.canonCol(col("arr"), df.schema("arr").dataType).as("ca"),
      Canonicalizer.canonCol(col("st"), df.schema("st").dataType).as("cs")).head()
    assert(r.getString(0) == "[1,2,3]")
    assert(r.getString(1) == """{"_1":"a","_2":1}""")
  }

  test("row canonicalization distinguishes column boundaries") {
    // ("ab","c") vs ("a","bc") must canonicalize differently
    val df1 = Seq(("ab", "c")).toDF("x", "y")
    val df2 = Seq(("a", "bc")).toDF("x", "y")
    val c1 = df1.select(Canonicalizer.canonRow(df1).as("c")).as[String].head()
    val c2 = df2.select(Canonicalizer.canonRow(df2).as("c")).as[String].head()
    assert(c1 != c2)
  }

  test("subset-of-columns canonicalization") {
    val df = Seq((1, "x", 2.0)).toDF("a", "b", "c")
    val c = df.select(Canonicalizer.canonRow(df, Seq("a", "b")).as("c")).as[String].head()
    assert(c == s"1${Canonicalizer.FieldSep}x")
  }

  test("strict canon is injective where the fast form collides") {
    val sep = Canonicalizer.FieldSep
    val df1 = Seq((s"a$sep", "b")).toDF("x", "y")
    val df2 = Seq(("a", s"${sep}b")).toDF("x", "y")
    // fast form collides by construction…
    val f1 = df1.select(Canonicalizer.canonRow(df1).as("c")).as[String].head()
    val f2 = df2.select(Canonicalizer.canonRow(df2).as("c")).as[String].head()
    assert(f1 == f2)
    // …the comparator's row hash keeps column boundaries, so it does not
    val rep = graft.diff.Comparator.compare(df1, df2,
      graft.diff.CompareOptions(numBuckets = 4))
    assert(!rep.identical)
  }
}
