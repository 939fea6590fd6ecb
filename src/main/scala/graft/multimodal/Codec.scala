package graft.multimodal

/** A payload that does not decode, named by format and cause.
  *
  * In a bulk extraction pipeline a payload that merely SNIFFS as a
  * format (2-8 magic bytes — arbitrary data qualifies constantly) is
  * routine control flow, not an error: `Multimodal.extractFeatures`
  * catches the rejection per row and degrades to the byte-histogram
  * stub. A plain `require` pays a full `fillInStackTrace` stack walk
  * per rejected row — at corpus scale that was ~40% of the
  * multimodal_features query (tens of thousands of throws per
  * partition batch, all caught two frames up). [[FormatException]]
  * suppresses the stack capture; the JDK codec's own exception (an
  * `IIOException`, say), which [[Media]] wraps by message, still pays
  * one. It IS-A `IllegalArgumentException`, so caller contracts (and
  * specs asserting rejection) are unchanged.
  */
final class FormatException(msg: String)
    extends IllegalArgumentException(msg) {
  override def fillInStackTrace(): Throwable = this
}

object Codec {
  /** `require` twin that throws the stack-trace-free rejection. */
  @inline def check(cond: Boolean, msg: => Any): Unit =
    if (!cond) throw new FormatException(String.valueOf(msg))
}
