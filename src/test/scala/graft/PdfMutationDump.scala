package graft

import graft.corpus.RealPdfGen
import graft.pdf.RealPdf

/** Dumps the canonical `RealPdf.parse` rendering (RealPdfParseSpec.render)
  * of seeded byte mutations of every RealPdfGen shape that RealPdfSpec's fuzz
  * test mutates, with the same generator (seed 7), so two builds of the
  * parser can be compared record by record:
  *
  * {{{
  * sbt "Test/runMain graft.PdfMutationDump <out> [trialsPerShape=300]"
  * sbt "Test/runMain graft.PdfMutationDump --single <list> <out>"
  * }}}
  *
  * The first form writes one `=== shape S trial T muts pos:before->after …`
  * record per mutated input (plus `=== shape S clean` for each unmutated
  * shape). The second renders single-byte variants read from `<list>`, one
  * `shape trial pos before after` per line, to tell which mutation of a
  * differing trial makes the difference; it also writes each shape's bytes
  * to `<out>.shapeN` for context.
  */
object PdfMutationDump {
  private val pages = Seq(RealPdfGen.PageSpec(800, 1200, Seq(
    RealPdfGen.Placed(50, 100, 12, Seq("Mutation target text block one.", "Wrapped line.")),
    RealPdfGen.Placed(50, 300, 12, Seq("Second block for coverage."))), compress = true))

  val shapes: Seq[Array[Byte]] = Seq(
    RealPdfGen.build(pages), RealPdfGen.buildObjStm(pages),
    RealPdfGen.buildObjStmPredicted(pages), RealPdfGen.buildToUnicode(pages),
    RealPdfGen.buildLzw(pages),
    RealPdfGen.buildIdentityCidEmbedded(pages, "Recovered cid text."),
    RealPdfGen.buildRotated(pages, 90))

  private def render(pdf: Array[Byte]): String = RealPdfParseSpec.render(RealPdf.parse(pdf, 64))

  def main(args: Array[String]): Unit = {
    val single = args.headOption.contains("--single")
    val out = new java.io.PrintWriter(if (single) args(2) else args(0), "UTF-8")
    try {
      if (single) {
        for ((shape, s) <- shapes.zipWithIndex)
          java.nio.file.Files.write(java.nio.file.Paths.get(s"${args(2)}.shape$s"), shape)
        val src = scala.io.Source.fromFile(args(1), "UTF-8")
        try for (line <- src.getLines() if line.trim.nonEmpty) {
          val Array(shape, _, pos, _, after) = line.trim.split(" ")
          val m = shapes(shape.toInt).clone()
          m(pos.toInt) = after.toInt.toByte
          out.println(s"=== ${line.trim}\n${render(m)}")
        } finally src.close()
      } else {
        val trials = if (args.length > 1) args(1).toInt else 300
        for ((shape, s) <- shapes.zipWithIndex) out.println(s"=== shape $s clean\n${render(shape)}")
        val rng = new java.util.Random(7L)
        for ((shape, s) <- shapes.zipWithIndex; trial <- 0 until trials) {
          val mutated = shape.clone()
          val muts = (0 until 1 + rng.nextInt(8)).map { _ =>
            val pos = rng.nextInt(mutated.length)
            val before = mutated(pos) & 0xff
            rng.nextInt(3) match {
              case 0 => mutated(pos) = rng.nextInt(256).toByte
              case 1 => mutated(pos) = 0
              case _ => mutated(pos) = (mutated(pos) ^ (1 << rng.nextInt(8))).toByte
            }
            s"$pos:$before->${mutated(pos) & 0xff}"
          }
          out.println(s"=== shape $s trial $trial muts ${muts.mkString(" ")}\n${render(mutated)}")
        }
      }
    } finally out.close()
  }
}
