package graft.plans

import org.apache.spark.sql.functions.col

import graft.SparkSuite

class RollingHashSpec extends SparkSuite {

  test("codegen result matches the reference Scala loop") {
    import spark.implicits._
    val inputs = Seq("", "a", "abc", "the quick brown fox", "đường số 5")
    val got = inputs.toDF("t")
      .select(RollingHash.rollingHash(col("t"))).collect().map(_.getLong(0))
    val exp = inputs.map(s => RollingHash.hashBytes(s.getBytes("UTF-8")))
    assert(got.toSeq == exp)
  }

  test("SQL registration + null propagation") {
    import spark.implicits._
    Seq(("x", "abc"), ("y", null)).toDF("k", "t").createOrReplaceTempView("rh_in")
    val rows = spark.sql("SELECT rolling_hash(t) FROM rh_in ORDER BY k").collect()
    assert(rows(0).getLong(0) == RollingHash.hashBytes("abc".getBytes("UTF-8")))
    assert(rows(1).isNullAt(0))
  }

  test("participates in whole-stage codegen") {
    // a file-backed scan (a local relation would constant-fold away)
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(RollingHash.rollingHash(col("text")).as("fp"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // codegen-stage marker
  }

  test("nfc_normalize is SQL-reachable and composes decomposed sequences") {
    // 'e' + combining acute (U+0301) → precomposed é, one codepoint
    // less. NOTE: Spark SQL's chr() is ASCII-mod-256 (unlike DuckDB's
    // codepoint chr), so the combining char is embedded in the literal.
    val r = spark.sql(
      "SELECT nfc_normalize('café') AS s, " +
        "length(nfc_normalize('café')) AS n, " +
        "nfc_normalize('plain ascii') AS p").collect().head
    assert(r.getString(0) == "café" && r.getInt(1) == 4)
    assert(r.getString(2) == "plain ascii")
  }
}
