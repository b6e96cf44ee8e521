package graft

import org.apache.spark.sql.functions._

import graft.etl.Skew

/** SQL-function registration via SparkSessionExtensions + the salted-join
  * skew helper.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("GraftExtensions registers graft_dot / graft_md5_prefix60 in SQL") {
    // the shared session is built by GraftSession, which registers the
    // extensions through spark.sql.extensions
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "graft_md5_prefix60('abc#0') AS h").collect()(0)
    assert(r.getDouble(0) == 11.0)
    val expected = Seq("x").toDF("_")
      .select(graft.functions.Portable.hash60(lit("abc"), 0)).collect()(0).getLong(0)
    assert(r.getLong(1) == expected)
  }

  test("saltedJoin is row-identical to the plain join on skewed data") {
    // 90% of fact rows share one hot key
    val big = spark.range(2000).select(
      when(col("id") % 10 =!= 0, lit("HOT")).otherwise(concat(lit("k"), col("id"))).as("k"),
      col("id").as("v"))
    val small = Seq(("HOT", 1.0), ("k0", 2.0), ("k10", 3.0), ("absent", 9.9))
      .toDF("k", "w")

    for (jt <- Seq("inner", "left")) {
      val plain = big.join(small, Seq("k"), jt)
      val salted = Skew.saltedJoin(big, small, Seq("k"), salts = 8, joinType = jt)
      assert(salted.columns.toSeq == plain.columns.toSeq)
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty, jt)
    }
  }
}
