package graft

import org.apache.spark.sql.{DataFrame, Row}

/** CLI analogue of the reference's `des-query` / `Connection.quickWrite`
  * [pub: desdb bin/des-query + desdb/desdb.py — SURVEY §0 grades]: run
  * SQL against the corpus, stream the result to stdout as csv, json
  * lines, or a pretty table.
  *
  * Usage: runMain graft.Query <sfDir> <csv|json|pretty> <sql…>
  *
  * Rows stream through `toLocalIterator` — the analogue of desdb's
  * chunked `fetchmany` loop: driver memory stays bounded by one
  * partition regardless of result size (the pretty format necessarily
  * buffers; it caps at 1000 rows like an interactive pager would).
  */
object Query {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Query <sfDir> <csv|json|pretty> <sql>")
    val (sfDir, fmt, sql) = (args(0), args(1), args.drop(2).mkString(" "))
    val spark = Session.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    Tables.registerViews(spark, sfDir)
    graft.functions.VectorExpressions.register(spark)
    write(spark.sql(sql), fmt)
    spark.stop()
  }

  /** Stream a result to stdout in the given format (csv | json |
    * pretty) — also the backend of `DesDb.quickWrite`. */
  def write(df: DataFrame, fmt: String): Unit = fmt match {
    case "csv" => writeCsv(df)
    case "json" =>
      df.toJSON.toLocalIterator().forEachRemaining(println(_))
    case "pretty" => writePretty(df)
    case other => sys.error(s"unknown format: $other")
  }

  private def csvCell(v: Any): String = v match {
    case null => ""
    case s: String if s.exists(",\"\n\r".contains(_)) =>
      "\"" + s.replace("\"", "\"\"") + "\""
    case other => other.toString
  }

  private def writeCsv(df: DataFrame): Unit = {
    println(df.columns.map(csvCell).mkString(","))
    df.toLocalIterator().forEachRemaining { row: Row =>
      println((0 until row.length).map(i => csvCell(row.get(i))).mkString(","))
    }
  }

  private def writePretty(df: DataFrame, maxRows: Int = 1000): Unit = {
    val header = df.columns.toSeq
    val rows = df.limit(maxRows).collect()
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
    val widths = header.indices.map(i =>
      (header(i).length +: rows.map(_(i).length)).max)
    def line(cells: Seq[String]) = cells.indices
      .map(i => cells(i).padTo(widths(i), ' ')).mkString("| ", " | ", " |")
    val sep = widths.map("-" * _).mkString("+-", "-+-", "-+")
    println(sep); println(line(header)); println(sep)
    rows.foreach(r => println(line(r)))
    println(sep)
  }
}
