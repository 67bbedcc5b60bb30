package graft

import org.apache.spark.sql.SparkSession

/** SparkSessionExtensions integration: a session built with
  * GraftExtensions gets native functions, the generate_series TVF,
  * and the dialect parser with no graft.* calls at query time.
  */
class ExtensionsSpec extends SparkSpecBase {

  private lazy val ext: SparkSession = {
    val root = spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(root)
    SparkSession.setActiveSession(root)
    s
  }

  test("injected native functions resolve in plain spark.sql") {
    val cos = ext.sql(
      "SELECT round(array_cosine_similarity(array(1.0f,0.0f), array(1.0f,0.0f)), 9) AS c")
      .collect().head.getDouble(0)
    assert(cos == 1.0)
    val sig = ext.sql(
      "SELECT size(minhash_signature(array(1L, 2L, 3L), 16)) AS n")
      .collect().head.getInt(0)
    assert(sig == 16)
  }


  test("generate_series is a real table function (inclusive, stepped)") {
    val rows = ext.sql("SELECT * FROM generate_series(0, 10)")
    assert(rows.columns.toSeq == Seq("generate_series"))
    assert(rows.count() == 11)
    // BIGINT elements — DuckDB's generate_series type (probed)
    val stepped = ext.sql(
      "SELECT generate_series AS g FROM generate_series(1, 9, 2)")
      .collect().map(_.getLong(0)).toSeq
    assert(stepped == Seq(1L, 3L, 5L, 7L, 9L))
  }

  test("BinnedRangeJoinRule rewrites interval joins off the nested-loop path") {
    import org.apache.spark.sql.functions.col
    val s = ext
    import s.implicits._
    val points = (1 to 500).map(i => (i.toLong, (i % 97).toDouble))
      .toDF("id", "x")
    val ranges = Seq((1L, 5.0, 20.0), (2L, 50.0, 60.0), (3L, 90.0, 96.0))
      .toDF("rid", "lo", "hi")
    def run() = points.join(ranges,
        col("x") >= col("lo") && col("x") <= col("hi"))
      .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseline = run()
    val basePlan = points.join(ranges,
      col("x") >= col("lo") && col("x") <= col("hi"))
      .queryExecution.executedPlan.toString
    assert(basePlan.contains("NestedLoop") || basePlan.contains("Cartesian"))
    ext.conf.set("spark.graft.rangeJoin.binWidth", "10.0")
    try {
      val q = points.join(ranges,
        col("x") >= col("lo") && col("x") <= col("hi"))
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"rule must produce a hash join:\n$plan")
      val got = q.select("id", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == baseline)
    } finally ext.conf.unset("spark.graft.rangeJoin.binWidth")
  }

  test("BinnedRangeJoinRule symmetric shape: interval side on the left") {
    import org.apache.spark.sql.functions.col
    val s = ext
    import s.implicits._
    val points = (1 to 200).map(i => (i.toLong, (i % 50).toDouble)).toDF("id", "x")
    val ranges = Seq((1L, 5.0, 20.0), (2L, 30.0, 45.0)).toDF("rid", "lo", "hi")
    def q() = ranges.join(points,
      col("x") >= col("lo") && col("x") <= col("hi")).select("rid", "id")
    val base = q().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    ext.conf.set("spark.graft.rangeJoin.binWidth", "10.0")
    try {
      val plan = q().queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
      val got = q().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == base && got.nonEmpty)
    } finally ext.conf.unset("spark.graft.rangeJoin.binWidth")
  }

  test("injected parser applies the dialect pre-pass to plain sql") {
    val r = ext.sql("SELECT 2::int8 AS a, 1.5::float8 AS b").collect().head
    assert(r.getLong(0) == 2L && r.getDouble(1) == 1.5)
    val q = ext.sql(
      """SELECT * FROM (VALUES (1, 10), (1, 20), (2, 5)) t(k, v)
        |QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1
        |ORDER BY k""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(q == Seq((1, 20), (2, 5)))
  }

  test("SPARK_GRAFT_CPUS: a positive integer, else every processor; anything else refused") {
    assert(Engine.cpus(Some(" 6 ")) == 6)
    assert(Engine.cpus(None) == Runtime.getRuntime.availableProcessors())
    for (bad <- Seq("0", "-2", "four", "4;x", "")) {
      val e = intercept[IllegalArgumentException](Engine.cpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS must be a positive integer"), e)
    }
  }
}
