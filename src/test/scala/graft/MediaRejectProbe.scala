package graft

import graft.multimodal.{FormatException, Media, Multimodal}

/** Cost of the per-row rejection path behind `Multimodal.extractFeatures`
  * (`sbt "Test/runMain graft.MediaRejectProbe <sfDir> [pairs] [rows]"`).
  *
  * 3 of 5 `multimodal_features` rows carry a PNG/JPEG/GIF magic in front
  * of plain text: each is handed to the JDK reader, rejected, and
  * degraded to the byte stub. Two measurements:
  *   - per format, `rows` such payloads through `Media.decodeImage`
  *     (every one must throw FormatException) against the same rows
  *     through `decodeStub` alone: µs per rejected row;
  *   - `pairs` alternating pairs of noop-sink writes of the registered
  *     `multimodal_features` and `multimodal_hist` (build included),
  *     order swapped every pair, so host drift hits both alike
  *     ([[QueryNoopTimes]]).
  */
object MediaRejectProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val pairs = args.lift(1).map(_.toInt).getOrElse(8)
    val rows = args.lift(2).map(_.toInt).getOrElse(20000)
    val text = ("the quick brown fox jumps over the lazy dog " * 8)
      .getBytes("UTF-8")
    import Multimodal.{GifHeader, JpegHeader, PngHeader}
    for ((fmt, hdr) <- Seq("png" -> PngHeader, "jpeg" -> JpegHeader,
                           "gif" -> GifHeader)) {
      val payloads = Array.tabulate(rows)(i =>
        hdr ++ text.take(64 + i % 256))
      def reject(): Unit = payloads.foreach { p =>
        try { Media.decodeImage(fmt, p); sys.error(s"$fmt fake decoded") }
        catch { case _: FormatException => }
      }
      def stub(): Unit = payloads.zipWithIndex.foreach { case (p, i) =>
        Multimodal.decodeStub(i.toLong, fmt, p)
      }
      reject(); stub() // warm both paths
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime(); reject()
        val t1 = System.nanoTime(); stub()
        val t2 = System.nanoTime()
        println(f"[reject] $fmt rep=$rep rows=$rows " +
          f"reject_us=${(t1 - t0) / 1e3 / rows}%.2f " +
          f"stub_us=${(t2 - t1) / 1e3 / rows}%.2f")
      }
    }
    QueryNoopTimes.main(Array(dir, pairs.toString,
      "multimodal_features,multimodal_hist"))
  }
}
