package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/** Glyph-run extraction for PDF-like payloads: `pdf_glyph_runs(text)` →
  * `array<struct<line,x,y,text,start,end>>`.
  *
  * Payload format (FIXTURES.md §2, the sandbox stand-in for a PDFBox-backed
  * glyph source — no PDFBox jar ships with the sandbox): a `%PDF-` header
  * line, then one glyph run per line `G <x> <y> <fontSize> <text...>`, in
  * ARBITRARY order. The expression parses runs with raw char offsets and
  * performs the layout-analysis step: recursive XY-cut of the runs into
  * reading-order text lines (`line` field). [[PdfGlyphRuns.extract]] is the
  * pdf path's parse on top of it (chunking, reading-order sort, line
  * assembly, parse confidence); [[TurnNative.extract]] routes its result.
  *
  * Reference analog: bbox detection + clockwise point ordering feeding
  * reading-order concatenation (`pytorch_mobile/ocr_pipeline.py:655-664`,
  * `:777-803`); the y-band tolerance plays the role of the deskew tolerance
  * (`pipeline.py:515-556`).
  *
  * Malformed run lines are skipped (no exceptions — bad rows degrade, they
  * don't kill the job, mirroring `_validate_file_format`'s role but with
  * row-level status semantics, SURVEY S3).
  *
  * The SQL name is a [[NativeFunction]] over [[PdfGlyphRuns.evalUtf8]],
  * which parses the first [[PdfGlyphRuns.MaxRuns]] runs (chunk 0).
  */
object PdfGlyphRuns {

  /** static eval shared by interpreted and generated code paths */
  def evalUtf8(input: UTF8String): ArrayData =
    new GenericArrayData(parse(input.toString).map { r =>
      InternalRow(r.line, r.x, r.y, UTF8String.fromString(r.text), r.start, r.end)
    }.toArray[Any])

  /** y-distance above which two runs belong to different text lines */
  val RowTol = 10

  /** hard cap on parsed runs per payload — the page-cap analog (reference
    * MAX_PAGES, `pipeline.py:1413-1414`): a hostile 100 MB payload row
    * stops parsing here instead of materializing an unbounded array.
    */
  val MaxRuns = 5000

  /** chunked-processing bound (G9 patch-split analog, reference
    * `jax_denoising_adapter.py:293-348` — fixed-size patches bound the
    * per-unit working set of an unboundedly large input): [[extract]]
    * lays out up to MaxChunks successive [[MaxRuns]] windows of parsed
    * runs, each XY-cut on its own with lines offset by the window start
    * (chunk-major reading order — the patch-seam tradeoff the reference
    * blends with overlapping windows), so full text survives up to
    * MaxChunks·MaxRuns runs. "truncated" lineage means the CHUNK bound
    * fired (content beyond MaxChunks·MaxRuns parsed runs was dropped),
    * not the single-window cap.
    */
  val MaxChunks = 2

  /** minimum x-projection gap (px) that counts as a column gutter for
    * the XY-cut: ~8.5 char cells. Word-scale spacing (a few cells, even
    * when coincidentally aligned across every line of a short page) must
    * never split columns; a real gutter in the payload format is ≥ 80 px.
    */
  val MinXGap = 60

  /** char-cell width of the text-encoded payload format (FIXTURES.md §2:
    * x = 40 + charOffset·7); a PDFBox-backed source would carry real
    * glyph advances through the same interface.
    */
  val CharW = 7

  val runStruct: StructType = StructType(Seq(
    StructField("line", IntegerType, nullable = false),
    StructField("x", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false)))

  val outType: DataType = ArrayType(runStruct, containsNull = false)

  final case class Run(var line: Int, x: Int, y: Int, text: String,
      start: Int, end: Int)

  /** [[extract]]'s result: reading-order text, the runs in that order,
    * the parse confidence, the distinct line count and the chunk-cap flag.
    */
  final case class Extracted(text: String, runs: Array[Run], conf: Double,
      lines: Int, truncated: Boolean)

  /** The pdf path's parse, one call: parse the chunk windows (one scan),
    * sort the runs into reading order (line, x, raw offset — a total
    * order), join them (a space within a line, a newline between lines)
    * and derive the parse confidence: parsed runs over candidate `G `
    * lines ([[candidateCount]]).
    */
  def extract(s: String): Extracted = {
    val cands = candidateCount(s)
    val cap = MaxChunks * MaxRuns
    val runs = scan(s, 0, cap).grouped(MaxRuns).zipWithIndex
      .flatMap { case (w, k) => layout(w, k * MaxRuns) }.toArray
    java.util.Arrays.sort(runs, readingOrder)
    val text = new java.lang.StringBuilder
    var lines = 0
    for ((r, k) <- runs.zipWithIndex) {
      val newLine = k == 0 || r.line != runs(k - 1).line
      if (newLine) lines += 1
      if (k > 0) text.append(if (newLine) '\n' else ' ')
      text.append(r.text)
    }
    Extracted(text.toString, runs,
      if (cands > 0) runs.length.toDouble / cands else 0.0,
      lines, runs.length == cap && cands > cap)
  }

  private val readingOrder = java.util.Comparator.comparingInt[Run](_.line)
    .thenComparingInt(_.x).thenComparingInt(_.start)

  def parse(s: String): Array[Run] = parse(s, 0)

  /** The `chunk`-th [[MaxRuns]]-sized window of parsed runs, laid out. */
  def parse(s: String, chunk: Int): Array[Run] =
    layout(scan(s, chunk * MaxRuns, (chunk + 1) * MaxRuns), chunk * MaxRuns)

  /** Parsed runs with index in [lo, hi), in payload order. Windows are in
    * PARSED-run index space (whether a line parses is only known by
    * parsing it), so the scan always starts from the payload head.
    */
  private def scan(s: String, lo: Int, hi: Int): Array[Run] = {
    var parsed = 0
    val n = s.length
    // skip leading whitespace, tolerate ONE wrapping tag (the sniffing
    // cascade routes `<div>…%PDF-…` payloads here — reference analog:
    // magic-byte validation looks past container framing,
    // `pipeline.py:2615-2685`), then require the %PDF- header line
    var i = 0
    while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
    if (i < n && s.charAt(i) == '<') {
      // the sniff's `<[^>]{0,PdfWrapperChars}>`: code points, not chars
      val close = s.indexOf('>', i)
      if (close < 0 ||
        s.codePointCount(i + 1, close) > TextFunctions.PdfWrapperChars) return Array.empty
      i = close + 1
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
    }
    if (!s.startsWith("%PDF-", i)) return Array.empty
    val headerEnd = s.indexOf('\n', i)
    if (headerEnd < 0) return Array.empty
    i = headerEnd + 1

    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    while (i < n && parsed < hi) {
      val eol0 = s.indexOf('\n', i)
      val eol = if (eol0 < 0) n else eol0
      // parse "G <x> <y> <size> <text...>" between i and eol
      if (eol - i > 2 && s.charAt(i) == 'G' && s.charAt(i + 1) == ' ') {
        var j = i + 2
        def int(): Option[Int] = {
          var v = 0L; var any = false; var neg = false
          if (j < eol && s.charAt(j) == '-') { neg = true; j += 1 }
          while (j < eol && s.charAt(j) >= '0' && s.charAt(j) <= '9') {
            v = v * 10 + (s.charAt(j) - '0'); any = true; j += 1
            if (v > Int.MaxValue) return None
          }
          if (!any || j >= eol || s.charAt(j) != ' ') None
          else { j += 1; Some(if (neg) (-v).toInt else v.toInt) }
        }
        (int(), int(), int()) match {
          case (Some(x), Some(y), Some(_)) if j < eol =>
            if (parsed >= lo) runs += Run(0, x, y, s.substring(j, eol), j, eol)
            parsed += 1
          case _ => // malformed run line: skipped
        }
      }
      i = eol + 1
    }
    runs.toArray
  }

  /** Layout analysis of one window: recursive XY-cut (largest-gap-first)
    * assigns reading-order line numbers — left column reads fully before
    * right. Lines are offset by `lo`, the window's first run index, so
    * merged windows keep a total chunk-major order.
    */
  private def layout(window: Array[Run], lo: Int): Array[Run] = {
    if (window.nonEmpty) {
      assignLines(window)
      if (lo > 0) window.foreach(_.line += lo)
    }
    window
  }

  /** Recursive XY-cut layout analysis (north-star "XY-cut layout
    * analysis"; reference ordering concern
    * `pytorch_mobile/ocr_pipeline.py:655-664`): at each level, split on
    * the LARGEST projection gap — a full-height column gutter (x gap ≥
    * [[MinXGap]]) beats inter-line gaps, so two-column pages order
    * column-major; within a column, y gaps split into text-line bands
    * exactly like the 1-D banding this replaces (single-column payloads
    * get identical line numbers). Depth-capped; leaves fall back to
    * y-banding, so hostile inputs degrade instead of recursing unbounded.
    */
  private def assignLines(all: Array[Run]): Unit = {
    var nextLine = 0

    def yBands(rs: Array[Run]): Array[Array[Run]] = {
      val byY = rs.sortBy(r => (r.y, r.x, r.start))
      val bands = scala.collection.mutable.ArrayBuffer.empty[Array[Run]]
      var start = 0
      var k = 1
      while (k <= byY.length) {
        if (k == byY.length || byY(k).y - byY(k - 1).y > RowTol) {
          bands += byY.slice(start, k)
          start = k
        }
        k += 1
      }
      bands.toArray
    }

    def leaf(rs: Array[Run]): Unit =
      yBands(rs).foreach { band =>
        band.foreach(_.line = nextLine)
        nextLine += 1
      }

    /** largest gap in the merged y-interval projection ([y, y+RowTol]) */
    def maxYGap(rs: Array[Run]): Int = {
      val ys = rs.map(_.y).sorted
      var best = 0
      var maxEnd = ys(0) + RowTol
      var k = 1
      while (k < ys.length) {
        val g = ys(k) - maxEnd
        if (g > best) best = g
        val e = ys(k) + RowTol
        if (e > maxEnd) maxEnd = e
        k += 1
      }
      best
    }

    /** (largest x gap ≥ MinXGap, split x) over [x, x + CharW·len) */
    def maxXGap(rs: Array[Run]): (Int, Int) = {
      val iv = rs.map(r => (r.x, r.x + CharW * r.text.length)).sortBy(_._1)
      var best = 0
      var split = 0
      var maxEnd = iv(0)._2
      var k = 1
      while (k < iv.length) {
        val g = iv(k)._1 - maxEnd
        if (g > best) { best = g; split = maxEnd + g / 2 }
        if (iv(k)._2 > maxEnd) maxEnd = iv(k)._2
        k += 1
      }
      if (best >= MinXGap) (best, split) else (0, 0)
    }

    def cut(rs: Array[Run], depth: Int): Unit =
      if (depth > 32 || rs.length <= 1) leaf(rs)
      else {
        val yg = maxYGap(rs)
        // a column cut needs a gutter spanning MULTIPLE text lines —
        // a single y-band is one line of text, whatever its word spacing
        val (xg, xsplit) = if (yg > 0) maxXGap(rs) else (0, 0)
        if (xg > yg) {
          val (l, r) = rs.partition(_.x < xsplit)
          cut(l, depth + 1)
          cut(r, depth + 1)
        } else if (yg > 0) {
          yBands(rs).foreach(cut(_, depth + 1))
        } else leaf(rs)
      }

    cut(all, 0)
  }

  /** number of candidate run lines (for parse-confidence), counted cheaply */
  def candidateCount(s: String): Int = {
    var c = 0
    var i = s.indexOf('\n')
    while (i >= 0 && i + 2 < s.length) {
      if (s.charAt(i + 1) == 'G' && s.charAt(i + 2) == ' ') c += 1
      i = s.indexOf('\n', i + 1)
    }
    c
  }
}
