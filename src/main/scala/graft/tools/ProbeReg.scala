package graft.tools

import graft.Engine

/** Dev tool: given a newline list of function names on stdin, print which
  * resolve in the engine session (Spark native, graft alias, or macro) and
  * which don't. Used to diff the DuckDB v1.1.1 catalog against our surface.
  */
object ProbeReg {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    val src = scala.io.Source.fromFile(args(0))
    val out = new java.io.PrintWriter(args(1))
    for (n <- src.getLines().map(_.trim).filter(_.nonEmpty)) {
      val ok =
        try spark.catalog.functionExists(n)
        catch { case _: Throwable => false }
      out.println(s"${if (ok) "OK  " else "MISS"}\t$n")
    }
    out.close(); src.close()
    spark.stop()
  }
}
