package perfbench

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.{Engine, SparkEntry}

/** The library caller of the `pipeline` workload: one thread calling
  * `SparkEntry.queries` on the session `Engine.session()` builds, and
  * materializing every result in full with `collect()`. There is no
  * cache sweep between queries, because library callers do not sweep.
  *
  * Pass 0 warms up and writes each result with an oracle to
  * `<resultsDir>/<query>/` for the controller's DuckDB check. The
  * measured phase follows: queries in pass order until `seconds` have
  * passed and each query has run at least once, one line per query with
  * its time and a digest of its rows. With a trace file, a traced phase
  * of the same length follows.
  *
  * Usage: Library <dataDir> <seconds> <q1,q2,...> <resultsDir> <traceOut|->
  */
object Library {
  def main(args: Array[String]): Unit = {
    val Array(dir, secondsArg, queryList, resultsDir, traceOut) = args
    val seconds = secondsArg.toDouble
    val names = queryList.split(',').toVector
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val trace = if (traceOut == "-") None else Some(new Trace)
    var tracing = false

    val spark = Engine.session()
    val oracles = SparkEntry.oracleSql

    def runQuery(pass: Int, name: String): Array[Row] = {
      val t0 = System.nanoTime()
      val start = System.currentTimeMillis()
      val df = SparkEntry.queries(name)(spark, dir)
      val rows = df.collect()
      val secs = (System.nanoTime() - t0) / 1e9
      if (tracing) trace.foreach(_.sampleCache(spark.sparkContext))
      Out.emit(s"""{"pass":$pass,"q":"$name","s":$secs,"rows":${rows.length},""" +
        s""""digest":"${digest(rows)}","start":$start,"end":${System.currentTimeMillis()},""" +
        s""""traced":$tracing}""")
      if (pass == 0 && oracles.contains(name))
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$resultsDir/$name")
      rows
    }

    names.foreach(runQuery(0, _))
    Out.emit(s"""{"config":${Trace.config(spark)}}""")

    /** queries in pass order, round and round, until `seconds` have
      * passed and every query has run in this phase; returns each
      * query's last result. A phase starts a new pass. */
    var pass = 0
    def phase(): Map[String, Array[Row]] = {
      val t0 = System.nanoTime()
      var last = Map.empty[String, Array[Row]]
      var i = 0
      var p0 = t0
      while (last.size < names.size || (System.nanoTime() - t0) / 1e9 < seconds) {
        if (i % names.size == 0) { pass += 1; p0 = System.nanoTime() }
        last += names(i % names.size) -> runQuery(pass, names(i % names.size))
        i += 1
        if (i % names.size == 0)
          Out.emit(s"""{"pass_s":${(System.nanoTime() - p0) / 1e9},"pass":$pass,"traced":$tracing}""")
      }
      last
    }
    phase()
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      tracing = true
      val gc0 = Trace.gcMs()
      val last = phase()
      t.add(s"""{"k":"gc","ms":${Trace.gcMs() - gc0}}""")
      // replays outside the timed passes: the per-connection session
      // cost, the encoder over these results, the pre-pass over the
      // queries' SQL form
      val session = Replay.newSession(spark, dir, t)
      names.foreach { n =>
        val schema = SparkEntry.queries(n)(spark, dir).schema.fields
        Replay.encode(last(n), schema, binary = false, t)
      }
      names.flatMap(oracles.get).foreach(Replay.prepass(session, _, t))
      t.write(traceOut)
    }
    Out.emit(s"""{"oracles":{${names.flatMap(n => oracles.get(n).map(q =>
      s""""$n":"${Trace.esc(q)}"""")).mkString(",")}}}""")
    Out.emit(s"""{"mem_mb":${Trace.heapAfterGcMb()}}""")
    sys.exit(0)
  }

  /** Order-insensitive digest of a result: rows rendered with doubles
    * at 9 significant digits, sorted, hashed. */
  def digest(rows: Array[Row]): String = {
    def norm(v: Any): String = v match {
      case null => "NULL"
      case d: Double => if (d.isNaN) "NaN" else String.format("%.9g", Double.box(d))
      case f: Float => norm(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
      case a: Array[Byte] => a.map("%02x".format(_)).mkString
      case other => other.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(norm).mkString("\u0001")).sorted
      .foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
