package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Sources/sinks (SURVEY §2.2 "Scans / sources / sinks"): parquet /
  * CSV / JSON write+read round-trips — the engine-side equivalent of
  * DuckDB's `COPY ... TO`.
  */
class SinksSpec extends SparkSpecBase {

  private def roundTrip(fmt: String): Unit = {
    val dir = Files.createTempDirectory(s"graft-sink-$fmt").toString + "/out"
    val src = Tables.load(spark, sfDir, "nation")
    src.write.format(fmt).option("header", "true").save(dir)
    val back = spark.read.format(fmt)
      .option("header", "true").option("inferSchema", "true").load(dir)
      .select(src.columns.map(col): _*) // json infers alphabetical order
    val a = src.orderBy("n_nationkey").collect().map(_.toSeq.map(String.valueOf)).toSeq
    val b = back.orderBy("n_nationkey").collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(a == b, s"$fmt round-trip mismatch")
  }

  test("sharded training export: round-trip, manifest, determinism") {
    val dir = Files.createTempDirectory("graft-shards").toString
    val docs = Tables.load(spark, sfDir, "documents")
    val manifest = CorpusOps.exportShards(docs, dir, nShards = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(manifest.keySet == (0L until 8L).toSet, "8 shard entries")
    assert(manifest.values.map(_._1).sum == docs.count())
    // the written data round-trips: union of shard dirs == corpus
    val back = spark.read.parquet(s"$dir/data")
    assert(back.count() == docs.count())
    assert(back.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // per-shard manifest counts match the written partition dirs
    val perShard = back.groupBy(col("shard"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Number]("shard").longValue -> r.getLong(1)).toMap
    assert(perShard == manifest.view.mapValues(_._1).toMap)
    // determinism: re-export assigns identical shards
    val dir2 = Files.createTempDirectory("graft-shards2").toString
    CorpusOps.exportShards(docs, dir2, nShards = 8)
    val again = spark.read.parquet(s"$dir2/data")
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("shard").longValue).toMap
    val first = back.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("shard").longValue).toMap
    assert(again == first, "shard assignment must be reproducible")
    // manifest file exists as a single JSON part
    val mdir = new java.io.File(s"$dir/manifest")
    assert(mdir.listFiles().count(_.getName.endsWith(".json")) == 1)
  }

  test("parquet sink round-trips")(roundTrip("parquet"))
  test("csv sink round-trips")(roundTrip("csv"))
  test("json sink round-trips")(roundTrip("json"))

  test("CREATE TABLE AS SELECT into the session catalog") {
    val s = spark
    spark.sql("DROP TABLE IF EXISTS ctas_check")
    spark.sql("CREATE TABLE ctas_check USING parquet AS SELECT * FROM region")
    assert(spark.table("ctas_check").count() == 5)
    spark.sql("DROP TABLE ctas_check")
  }

  test("partitioned write: partition pruning reaches the scan") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables.load(s, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.col("n_chars"))
      .write.partitionBy("lang").parquet(s"$dir/docs")
    val back = s.read.parquet(s"$dir/docs")
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
    val plan = back.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the lang predicate must prune directories, not filter rows
    assert(plan.contains("PartitionFilters: [") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*lang[^\\]]*\\].*"),
      s"lang filter must be a partition filter:\n$plan")
    val expected = Tables.load(s, sfDir, "documents")
      .filter(org.apache.spark.sql.functions.col("lang") === "en").count()
    assert(back.count() == expected)
  }

  test("asof forward picks earliest upcoming right row") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, 1L, 100L), (2L, 1L, 205L), (3L, 2L, 500L))
      .toDF("id", "key", "t")
    val right = Seq((1L, 90L, "a"), (1L, 200L, "b"), (1L, 300L, "c"),
      (2L, 60L, "d")).toDF("rkey", "rt", "val")
    val got = AsOfJoin.forward(left, right, "key", "rkey", "t", "rt", Seq("val"))
      .orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(3)))).toSeq
    assert(got == Seq((1L, Some("b")), (2L, Some("c")), (3L, None)))
  }

  test("library COPY TO with PARTITION_BY and COMPRESSION; COPY round-trip") {
    def q(sql: String) = Engine.query(spark, sql)
    val dir = java.nio.file.Files.createTempDirectory("graft-copy").toString
    q("CREATE TABLE cps (k INT, grp VARCHAR)")
    q("INSERT INTO cps VALUES (1, 'a'), (2, 'a'), (3, 'b')")
    // hive-partitioned zstd parquet — the 100 TB export shape
    val n = q(s"COPY cps TO '$dir/part' (FORMAT PARQUET, " +
      "PARTITION_BY (grp), COMPRESSION 'zstd')").collect().head.getLong(0)
    assert(n == 3L)
    val dirs = new java.io.File(s"$dir/part").listFiles()
      .map(_.getName).filter(_.startsWith("grp=")).sorted
    assert(dirs.toSeq == Seq("grp=a", "grp=b"))
    // partition values survive the read-back (hive discovery)
    assert(q(s"SELECT count(*) c FROM read_parquet('$dir/part/*/*.parquet')")
      .collect().head.getLong(0) == 3L)
    // CSV export + COPY FROM back into a table
    q(s"COPY (SELECT k, grp FROM cps) TO '$dir/csv' (FORMAT CSV, HEADER)")
    q("CREATE TABLE cps2 (k INT, grp VARCHAR)")
    val m = q(s"COPY cps2 FROM '$dir/csv/*.csv' (FORMAT CSV, HEADER)")
      .collect().head.getLong(0)
    assert(m == 3L)
    assert(q("SELECT sum(k) s FROM cps2").collect().head.getLong(0) == 6L)
    q("DROP TABLE cps"); q("DROP TABLE cps2")
  }
}
