package perfbench

import scala.io.Source

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructField

import graft.{Engine, Functions, Macros, SqlRewrites, Tables}
import graft.server.{PgTypes, PgWireServer, ServerMain}

/** Protocol between these JVM harnesses and `run.py`: every line the
  * harness prints for the controller starts with `PERFBENCH ` and
  * carries one JSON object. The controller writes `trace` on stdin to
  * start tracing (Traced) and `stop` to end a run; the harness then
  * reports heap after a full GC and exits.
  */
private[perfbench] object Out {
  def emit(json: String): Unit = synchronized {
    println(s"PERFBENCH $json"); Console.out.flush()
  }
}

/** `graft.server.ServerMain` exactly as it ships, run on a thread of
  * this JVM so the benchmark can echo the configuration the server
  * actually runs with and read heap after GC when the run ends.
  *
  * Usage: Shipped <port> <dataDir>
  */
object Shipped {
  def main(args: Array[String]): Unit = {
    val t = new Thread(() => ServerMain.main(args), "server-main")
    t.setDaemon(true)
    t.start()
    var spark: Option[SparkSession] = None
    while (spark.isEmpty) { Thread.sleep(20); spark = SparkSession.getDefaultSession }
    Out.emit(s"""{"config":${Trace.config(spark.get)}}""")
    Trace.await("stop")
    Out.emit(s"""{"mem_mb":${Trace.heapAfterGcMb()}}""")
    sys.exit(0)
  }
}

/** The server `ServerMain` builds, built with the same calls, plus the
  * benchmark's `onNewSession` hook: it times `Tables.registerAll` per
  * connection and registers the trace's Catalyst listener on each
  * connection session. A Spark listener records jobs, stages and SQL
  * executions. Tracing starts when the controller writes `trace`, so
  * one server serves the untraced phase and then the traced one; the
  * hook does exactly what ServerMain's does until then. After `stop`,
  * the harness replays the run's statements through the pre-pass and
  * the result encoder (see [[Replay]]).
  *
  * Usage: Traced <port> <dataDir> <traceOut> <replayIn>
  */
object Traced {
  def main(args: Array[String]): Unit = {
    val Array(portArg, dir, traceOut, replayIn) = args
    val trace = new Trace
    @volatile var tracing = false
    val spark = Engine.session()
    Tables.registerAll(spark, dir)
    val server = new PgWireServer(spark, portArg.toInt, s =>
      if (!tracing) Tables.registerAll(s, dir)
      else {
        s.listenerManager.register(trace)
        trace.span("server.session_setup")(Tables.registerAll(s, dir))
      })
    val port = server.start()
    println(s"graft pgwire server listening on :$port (sfDir=$dir)")
    Out.emit(s"""{"config":${Trace.config(spark)}}""")
    if (Trace.await("trace") == "trace") {
      spark.sparkContext.addSparkListener(trace)
      trace.context = spark.sparkContext
      tracing = true
      Out.emit("""{"tracing":true}""")
    }
    val gc0 = Trace.gcMs()
    Trace.await("stop")
    trace.add(s"""{"k":"gc","ms":${Trace.gcMs() - gc0}}""")
    trace.context = null
    Replay.run(spark, dir, trace, replayIn)
    trace.write(traceOut)
    Out.emit(s"""{"mem_mb":${Trace.heapAfterGcMb()}}""")
    sys.exit(0)
  }
}

/** Replays outside the timed window: each layer's public functions
  * called on the run's own statements and results. */
object Replay {
  /** rows per statement the encoder replay renders; enough for a
    * stable per-field cost without rendering all of lineitem again */
  val EncodeRows = 200000

  def run(root: SparkSession, dir: String, trace: Trace, replayIn: String): Unit = {
    val s = newSession(root, dir, trace)
    val lines = Source.fromFile(replayIn, "UTF-8").getLines().toVector
    lines.foreach { line =>
      val tab = line.indexOf('\t')
      val (kind, sql) = (line.substring(0, tab), line.substring(tab + 1).replace("\\n", "\n"))
      // a statement that fails on replay records nothing; the run's own
      // failure accounting already saw it fail (or not) on the wire
      try kind match {
        case "prepass" => prepass(s, sql, trace)
        case "encode_text" => encodeQuery(s, sql, binary = false, trace)
        case "encode_binary" => encodeQuery(s, sql, binary = true, trace)
        case _ =>
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"replay of $kind failed: ${e.getMessage}")
      }
    }
  }

  /** `newSession()` + `Functions.registerAll` as PgWireServer does per
    * connection, then the `onNewSession` work. Timed. */
  def newSession(root: SparkSession, dir: String, trace: Trace): SparkSession = {
    var s: SparkSession = null
    for (_ <- 1 to 3) {
      s = trace.span("server.new_session") {
        val x = root.newSession(); Functions.registerAll(x); x
      }
      trace.span("server.session_setup")(Tables.registerAll(s, dir))
    }
    s
  }

  /** The SQL text pre-pass alone, then `Engine.query` (pre-pass,
    * parse, analysis); a statement `Engine.query` rejects is not timed. */
  def prepass(s: SparkSession, sql: String, trace: Trace): Unit = {
    for (_ <- 1 to 3) {
      trace.span("prepass")(SqlRewrites.rewriteFull(Macros.expand(sql)))
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try {
        Engine.query(s, sql)
        trace.add(s"""{"k":"span","name":"engine.query","start":$t0,""" +
          s""""end":${System.currentTimeMillis()},"ns":${System.nanoTime() - n0}}""")
      } catch { case scala.util.control.NonFatal(_) => }
    }
  }

  def encodeQuery(s: SparkSession, sql: String, binary: Boolean, trace: Trace): Unit = {
    val df = Engine.query(s, sql)
    val fields = df.schema.fields
    val it = df.toLocalIterator()
    val rows = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .take(EncodeRows).toArray
    encode(rows, fields, binary, trace)
  }

  /** Render rows as PgWireServer does (`PgTypes.render`, or
    * `renderBinary` for binary-capable columns when asked) and count
    * the DataRow bytes: type + length + field count, then per field a
    * length word and the value. */
  def encode(rows: Array[Row], fields: Array[StructField], binary: Boolean,
      trace: Trace): Unit = {
    val bin = fields.map(f => binary && PgTypes.binarySupported(f.dataType))
    var nRows = 0L; var nFields = 0L; var bytes = 0L; var ns = 0L
    // the last of three rounds is recorded, so small results are not
    // timed on cold code
    for (_ <- 1 to 3) { nRows = 0; nFields = 0; bytes = 0; ns = 0; rows.foreach { row =>
      val t0 = System.nanoTime()
      var b = 7L
      var i = 0
      while (i < fields.length) {
        val v = row.get(i)
        b += 4 + (if (bin(i)) PgTypes.renderBinary(v, fields(i).dataType).map(_.length).getOrElse(0)
          else PgTypes.render(v, fields(i).dataType)
            .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length).getOrElse(0))
        i += 1
      }
      ns += System.nanoTime() - t0
      nRows += 1; nFields += fields.length; bytes += b
    } }
    trace.add(s"""{"k":"encode","rows":$nRows,"fields":$nFields,"bytes":$bytes,"ns":$ns}""")
  }
}
