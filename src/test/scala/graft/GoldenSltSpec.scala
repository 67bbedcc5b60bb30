package graft

import scala.io.Source

/** Minimal SQLLogicTest-dialect runner over src/test/resources/
  * golden.slt — the same golden-output format the reference uses for
  * its own test (test/sql/duckdb_pgwire.test; SURVEY §5 item 1).
  *
  * Supported directives: `query <types>` (expected rows follow the
  * `----` separator, columns space-joined), `statement error`,
  * `statement ok`.
  */
class GoldenSltSpec extends SparkSpecBase {

  private def render(v: Any): String = v match {
    case null => "NULL"
    case d: Double if d == d.floor && !d.isInfinite && math.abs(d) < 1e15 &&
        d != 0.0 => if (d == d.longValue.toDouble && (d % 1 == 0) &&
          d.toString.endsWith(".0")) d.toString.dropRight(2) else d.toString
    case other => other.toString
  }

  private case class Case(directive: String, sql: String, expected: Seq[String], line: Int)

  private def parse(text: String): Seq[Case] = {
    val lines = text.split("\n")
    val out = Seq.newBuilder[Case]
    var i = 0
    while (i < lines.length) {
      val l = lines(i).trim
      if (l.startsWith("query") || l.startsWith("statement")) {
        val directive = l
        val start = i + 1
        val sql = new StringBuilder
        i += 1
        while (i < lines.length && lines(i).trim.nonEmpty &&
            lines(i).trim != "----") {
          sql.append(lines(i)).append("\n"); i += 1
        }
        val expected = Seq.newBuilder[String]
        if (i < lines.length && lines(i).trim == "----") {
          i += 1
          while (i < lines.length && lines(i).trim.nonEmpty) {
            expected += lines(i).trim; i += 1
          }
        }
        out += Case(directive, sql.toString.trim, expected.result(), start)
      } else i += 1
    }
    out.result()
  }

  test("golden.slt corpus matches") {
    val s = spark
    val text = Source.fromInputStream(
      getClass.getResourceAsStream("/golden.slt"), "UTF-8").mkString
    parse(text).foreach { c =>
      if (c.directive.startsWith("statement error")) {
        val failed =
          try { Engine.query(s, c.sql).collect(); false }
          catch { case _: Exception => true }
        assert(failed, s"line ${c.line}: expected error for: ${c.sql}")
      } else if (c.directive.startsWith("statement ok")) {
        // sqllogictest semantics: executes without error, result rows
        // ignored (r11: CTAS answers DuckDB's Count row, which a
        // row-compare against the empty expectation would misflag)
        Engine.query(s, c.sql).collect()
      } else {
        val rows = Engine.query(s, c.sql).collect()
          .map(r => (0 until r.length).map(i => render(r.get(i))).mkString(" "))
          .toSeq
        assert(rows == c.expected,
          s"line ${c.line}: ${c.sql}\n  got      $rows\n  expected ${c.expected}")
      }
    }
  }
}
