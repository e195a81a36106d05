package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.PageRow
import graft.pipeline.Extract

/** PubTabNet-style table-annotation label files (the reference's
  * `PubTabDataSet`, ppocr/data/pubtab_dataset.py:24-110): one JSON object per
  * line with `filename`, `html.structure.tokens` (the table's structural
  * token sequence: `<thead>`, `<tr>`, `<td>`, `</td>`, attribute fragments
  * like ` colspan="2"`, …) and `html.cells[].tokens` (each cell's content
  * tokens, in reading order).
  *
  * Spark recast: the jsonl is a native `spark.read.json` scan (no custom
  * reader process — the label file IS a table), and the annotation is
  * rebuilt into table HTML (cells spliced at each `</td>` — the inverse of
  * TableLabelDecode) so it flows through the SAME table-assembly path as
  * crawled HTML: row-major text, " | " within rows, "\n" across rows,
  * colspan/rowspan occupancy included. One annotation format, one table
  * semantics — no second assembly implementation to drift.
  */
object PubTab {

  /** Raw label scan: (filename, structure tokens, joined cell texts). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path).select(
      col("filename"),
      col("html.structure.tokens").as("structure"),
      transform(col("html.cells"),
        c => concat_ws("", c.getField("tokens"))).as("cells"))

  /** Rebuild one annotation as table HTML: structural tokens concatenate
    * verbatim; each `</td>` splices the next cell's text before it. */
  def toHtml(structure: Seq[String], cells: Seq[String]): String = {
    val sb = new java.lang.StringBuilder(256)
    sb.append("<table>")
    var cell = 0
    structure.foreach { tok =>
      if (tok == "</td>") {
        if (cell < cells.length) sb.append(cells(cell))
        cell += 1
      }
      sb.append(tok)
    }
    sb.append("</table>")
    sb.toString
  }

  /** One deterministic annotation + the expected row-major text, authored
    * from the construction parameters (NOT by running the extractor). */
  final case class Sample(filename: String, line: String, expectedText: String)

  /** Deterministic PubTabNet-shaped samples: n annotated tables, a
    * colspan-2 leading cell every 4th three-column table. */
  def samples(n: Int): Seq[Sample] = {
    val r = new Corpus.Rng(2024L)
    (0 until n).map { i =>
      val nCols = 2 + r.nextInt(2)
      val header = (0 until nCols).map(_ => r.pick(Corpus.WORDS).capitalize)
      val row = (0 until nCols).map(_ => r.pick(Corpus.WORDS) + " " + (1 + r.nextInt(99)))
      val span = i % 4 == 0 && nCols == 3 // a colspan=2 leading cell
      val structure = Seq("<thead>", "<tr>") ++
        header.flatMap(_ => Seq("<td>", "</td>")) ++ Seq("</tr>", "</thead>", "<tbody>", "<tr>") ++
        (if (span) Seq("<td", " colspan=\"2\"", ">", "</td>", "<td>", "</td>")
         else row.flatMap(_ => Seq("<td>", "</td>"))) ++ Seq("</tr>", "</tbody>")
      val cells = header ++ (if (span) row.take(2) else row)
      // expected per the engine's table contract (F04): cells " | " within a
      // row, rows "\n"; a colspan advances the cursor without extra slots
      val rowText = if (span) row(0) + " | " + row(1) else row.mkString(" | ")
      val expected = header.mkString(" | ") + "\n" + rowText
      def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val cellsJson = cells.map(c => s"""{"tokens": [${js(c)}]}""").mkString(", ")
      val structJson = structure.map(js).mkString(", ")
      val filename = String.format(java.util.Locale.ROOT, "table_%03d.png", Integer.valueOf(i))
      val line = s"""{"filename": ${js(filename)}, "html": {"cells": [$cellsJson], "structure": {"tokens": [$structJson]}}}"""
      Sample(filename, line, expected)
    }
  }

  def sampleJsonl(n: Int): String = samples(n).map(_.line).mkString("\n")

  /** Label rows → (filename, table_text) through the extraction kernel's
    * table path (occupancy grid, span semantics — Extractor.assembleTable). */
  def tableText(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val pages = read(spark, path)
      .select(col("filename"), col("structure"), col("cells"))
      .as[(String, Seq[String], Seq[String])]
      .map { case (name, structure, cells) =>
        val html = s"<html><body>${toHtml(structure, cells)}</body></html>"
        PageRow(name, null, html.getBytes("UTF-8"), null, null)
      }
    Extract.run(pages).toDF()
      .select(col("url").as("filename"), col("text").as("table_text"))
      // numeric order, not lexical: 'table_1000.png' sorts before
      // 'table_999.png' lexically once the %03d pad overflows
      .orderBy(regexp_extract(col("filename"), "(\\d+)", 1).cast("long"),
        col("filename"))
  }
}
