package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `pdf_text(bytes)` — a REAL (classic-xref) PDF text extractor as a
  * native expression: the last member of the crawl-payload container
  * family (gzip, WARC, tar, zip, PNG/BMP/GIF/WAV — and a real crawl
  * is full of PDFs). Like ZIP, PDF is read BACKWARDS: the reader
  * tail-scans for `startxref`, jumps to the cross-reference table it
  * addresses, walks the fixed 20-byte xref records to every in-use
  * object's byte offset, validates each `N G obj` header, and pulls
  * `stream` payloads by their /Length field. /FlateDecode streams go
  * through a real `java.util.zip.Inflater` (zero codec deps — the
  * PNG/gzip machinery), with the fill loop's 1-byte finish probe (the
  * r14 empty-member lesson). Text is then extracted from the decoded
  * CONTENT streams by a real string-literal parser: `(...)`
  * literals with PDF escapes (\\ \( \) \n \r \t, octal \ddd) and
  * balanced unescaped nesting, drawn by `Tj` (last pending literal)
  * or `TJ` (all literals of the array); literals followed by any
  * OTHER operator are positioned, not drawn, and are discarded —
  * drawn strings concatenate in draw order with no separator (the
  * deterministic contract; heuristic word-spacing is a presentation
  * concern this operator does not invent).
  *
  * Scope: classic xref tables (PDF ≤1.4 shape, still emitted
  * everywhere) AND PDF 1.5+ cross-reference STREAMS — startxref may
  * point at a `/Type /XRef` stream object whose `/W`-packed binary
  * records (optionally FlateDecode'd) are decoded over the `/Index`
  * subsections and chained through `/Prev` (loop-guarded, newest
  * section wins per object); type-2 entries resolve through
  * `/Type /ObjStm` compressed object streams, whose `/N`-pair member
  * table is validated against `/First` and the decoded payload (the
  * members are dicts/arrays — never content streams, so the table IS
  * the decode). Hybrid files' `/XRefStm` trailer key is out of
  * scope. Returns
  * `STRUCT<ok BOOLEAN, n_objs BIGINT, n_streams BIGINT, text STRING>`
  * (`n_objs` = in-use xref entries, direct type-1 plus compressed
  * type-2; `n_streams` = stream objects found, including XRef/ObjStm
  * carriers whose payloads are structural, not text). Malformed
  * input (no/absurd startxref, missing xref keyword, truncated
  * records or W rows, bad object header, /Length overrun, missing
  * endstream, inflate failure, /Prev loop or overrun, short ObjStm
  * pair table, unterminated string literal) yields `ok = false` with
  * zeroed fields — never a throw. */
case class PdfText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pdf_text requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("n_objs", LongType, nullable = false),
    StructField("n_streams", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  override def prettyName: String = "pdf_text"

  override def nullSafeEval(bytes: Any): Any =
    PdfText.extract(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.PdfText.extract($b);")

  override protected def withNewChildInternal(
      newChild: Expression): PdfText = copy(child = newChild)
}

object PdfText {

  private def bad: InternalRow =
    InternalRow(false, 0L, 0L, UTF8String.fromString(""))

  def extract(b: Array[Byte]): InternalRow = {
    val n = b.length
    if (n < 20) return bad
    def isWs(c: Byte): Boolean =
      c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == 0
    // ── 1. tail scan for startxref ───────────────────────────────────
    val kw = "startxref".getBytes
    var sx = -1
    var i = n - kw.length
    val stop = math.max(0, n - 2048)
    while (sx < 0 && i >= stop) {
      var j = 0
      while (j < kw.length && b(i + j) == kw(j)) j += 1
      if (j == kw.length) sx = i
      i -= 1
    }
    if (sx < 0) return bad
    var p = sx + kw.length
    while (p < n && isWs(b(p))) p += 1
    var xrefOff = 0L
    var any = false
    while (p < n && b(p) >= '0' && b(p) <= '9') {
      xrefOff = xrefOff * 10 + (b(p) - '0'); p += 1; any = true
    }
    if (!any || xrefOff < 0 || xrefOff >= n) return bad
    // ── 2. xref walk: classic table OR cross-reference stream ────────
    p = xrefOff.toInt
    val offsets = collection.mutable.ArrayBuffer.empty[Int]
    var nType2 = 0L // compressed (in-ObjStm) in-use entries
    if (!(p + 4 <= n && b(p) == 'x' && b(p + 1) == 'r' && b(p + 2) == 'e' &&
      b(p + 3) == 'f')) {
      // PDF 1.5+ cross-reference STREAM: startxref points at an
      // "N G obj" whose dict is /Type /XRef, records binary-packed by
      // the /W widths, chained by /Prev. Newest section wins per
      // object number (seenObj); type-2 entries name the /ObjStm
      // object holding the compressed body — validated in the object
      // walk below.
      val seenObj = collection.mutable.HashSet.empty[Long]
      val seenSec = collection.mutable.HashSet.empty[Int]
      var secOff = p
      var hops = 0
      var more = true
      while (more) {
        hops += 1
        if (hops > 16 || !seenSec.add(secOff)) return bad // /Prev loop
        val sec = parseXrefStreamSection(b, secOff, n, seenObj,
          offsets, (d: Long) => nType2 += d)
        if (sec < -1) return bad
        if (sec == -1) more = false else secOff = sec
      }
      if (offsets.isEmpty) return bad
    } else {
    p += 4
    var done = false
    while (!done) {
      while (p < n && isWs(b(p))) p += 1
      if (p + 7 <= n && b(p) == 't' && b(p + 1) == 'r' && b(p + 2) == 'a' &&
        b(p + 3) == 'i' && b(p + 4) == 'l' && b(p + 5) == 'e' &&
        b(p + 6) == 'r') { done = true }
      else {
        // subsection header: <first> <count>
        var first = -1L; var cnt = -1L
        var v = 0L; var got = false
        while (p < n && b(p) >= '0' && b(p) <= '9') {
          v = v * 10 + (b(p) - '0'); p += 1; got = true }
        if (!got) return bad
        first = v
        while (p < n && (b(p) == ' ' || b(p) == '\t')) p += 1
        v = 0L; got = false
        while (p < n && b(p) >= '0' && b(p) <= '9') {
          v = v * 10 + (b(p) - '0'); p += 1; got = true }
        if (!got || v > 100000) return bad
        cnt = v
        // to start of the fixed 20-byte records
        while (p < n && (b(p) == ' ' || b(p) == '\t')) p += 1
        if (p < n && b(p) == '\r') p += 1
        if (p < n && b(p) == '\n') p += 1
        var e = 0L
        while (e < cnt) {
          if (p + 20 > n) return bad
          var off = 0L; var k = 0
          while (k < 10) {
            val c = b(p + k)
            if (c < '0' || c > '9') return bad
            off = off * 10 + (c - '0'); k += 1
          }
          val flag = b(p + 17)
          if (flag == 'n') {
            if (off >= n) return bad
            if (first + e > 0) offsets += off.toInt // obj 0 is the free head
          } else if (flag != 'f') return bad
          p += 20
          e += 1
        }
      }
    }
    if (offsets.isEmpty) return bad
    } // end classic-table branch
    // ── 3. objects: header check + stream payloads ───────────────────
    val out = new java.lang.StringBuilder()
    var nStreams = 0L
    var objStmMembers = 0L // Σ /N over walked ObjStm carriers
    val sorted = offsets.sorted
    var oi = 0
    while (oi < sorted.length) {
      var q = sorted(oi)
      // "<num> <gen> obj"
      var got = false
      while (q < n && b(q) >= '0' && b(q) <= '9') { q += 1; got = true }
      if (!got) return bad
      while (q < n && (b(q) == ' ')) q += 1
      got = false
      while (q < n && b(q) >= '0' && b(q) <= '9') { q += 1; got = true }
      if (!got) return bad
      while (q < n && (b(q) == ' ')) q += 1
      if (q + 3 > n || b(q) != 'o' || b(q + 1) != 'b' || b(q + 2) != 'j')
        return bad
      q += 3
      // scan this object's region (to "endobj") for dict + stream
      val end = findKeyword(b, q, "endobj")
      if (end < 0) return bad
      val region = new String(b, q, end - q,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val sPos = region.indexOf("stream")
      // "/Length" must be a complete name token: "/Length1"/"/Length2"
      // (standard font-stream dict keys) share the prefix and would
      // parse the WRONG integer as the payload length (r15 ADVICE) —
      // require a non-name char (not letter/digit/'#') after the key
      var lenPos = -1
      var lq = region.indexOf("/Length")
      while (lenPos < 0 && lq >= 0) {
        val after = lq + 7
        val isName = after < region.length && {
          val ac = region.charAt(after)
          Character.isLetterOrDigit(ac) || ac == '#'
        }
        if (!isName) lenPos = lq
        else lq = region.indexOf("/Length", lq + 1)
      }
      if (sPos >= 0 && lenPos >= 0 && lenPos < sPos &&
        !region.startsWith("endstream", sPos - 3)) {
        // /Length <int> (direct only)
        var lp = lenPos + 7
        while (lp < region.length && (region.charAt(lp) == ' ' ||
          region.charAt(lp) == '\r' || region.charAt(lp) == '\n' ||
          region.charAt(lp) == '\t')) lp += 1
        var len = 0L; var gotL = false
        while (lp < region.length && region.charAt(lp) >= '0' &&
          region.charAt(lp) <= '9') {
          len = len * 10 + (region.charAt(lp) - '0'); lp += 1; gotL = true
          // a /Length no buffer can hold is malformed NOW — checked
          // inside the loop so the accumulator can never wrap a Long
          // and sneak a negative past the dp + len bound below
          if (len > n) return bad
        }
        if (!gotL) return bad
        // payload starts after "stream" + EOL
        var dp = q + sPos + 6
        if (dp < n && b(dp) == '\r') dp += 1
        if (dp < n && b(dp) == '\n') dp += 1
        if (dp + len > n) return bad
        val payload = java.util.Arrays.copyOfRange(b, dp, dp + len.toInt)
        // "endstream" must follow (possibly after EOL)
        var ep = dp + len.toInt
        while (ep < n && isWs(b(ep))) ep += 1
        if (!startsWith(b, ep, "endstream")) return bad
        val dict = region.substring(0, sPos)
        val flate = dict.contains("/FlateDecode")
        val content =
          if (!flate) payload
          else inflateAll(payload) match {
            case null => return bad
            case d => d
          }
        nStreams += 1
        // XRef streams are the table we already consumed (binary, not
        // text); ObjStm payloads hold compressed non-stream OBJECTS —
        // validate their member table instead of scanning for
        // literals (members are dicts/arrays, never content streams)
        val isXref = TYPE_XREF.matcher(dict).find()
        val isObjStm = TYPE_OBJSTM.matcher(dict).find()
        if (isObjStm) {
          val members = validateObjStm(content, dict)
          if (members < 0) return bad
          objStmMembers += members
        } else if (!isXref) {
          if (!extractText(content, out)) return bad
        }
      }
      oi += 1
    }
    // every type-2 entry needs a home: the walked ObjStm carriers
    // must together declare at least as many members as the xref
    // claims compressed objects (an xref naming ghost ObjStm members
    // would otherwise inflate n_objs with nothing backing them; /N
    // may legitimately exceed the live count — superseded members)
    if (nType2 > objStmMembers) return bad
    // n_objs = in-use xref entries: direct (type-1/classic 'n') plus
    // compressed (type-2) members living inside ObjStm objects
    InternalRow(true, offsets.length.toLong + nType2, nStreams,
      UTF8String.fromString(out.toString))
  }

  private val TYPE_XREF =
    java.util.regex.Pattern.compile("/Type\\s*/XRef\\b")
  private val TYPE_OBJSTM =
    java.util.regex.Pattern.compile("/Type\\s*/ObjStm\\b")

  /** Parse one cross-reference STREAM section at `secOff`: validates
    * the "N G obj" header and /Type /XRef, decodes the /W-packed
    * records over the /Index subsections (default `[0 /Size]`),
    * appends newly seen type-1 offsets to `offsets` and counts
    * type-2 entries via `addType2` (newest section wins per object
    * number through `seenObj`). Returns the /Prev offset to follow,
    * -1 when the chain ends, or -2 on any malformed shape (bad
    * header, missing/oversized W widths, truncated record rows,
    * offsets past EOF, non-integer Index). */
  private def parseXrefStreamSection(b: Array[Byte], secOff: Int, n: Int,
      seenObj: collection.mutable.HashSet[Long],
      offsets: collection.mutable.ArrayBuffer[Int],
      addType2: Long => Unit): Int = {
    var q = secOff
    var got = false
    while (q < n && b(q) >= '0' && b(q) <= '9') { q += 1; got = true }
    if (!got) return -2
    while (q < n && b(q) == ' ') q += 1
    got = false
    while (q < n && b(q) >= '0' && b(q) <= '9') { q += 1; got = true }
    if (!got) return -2
    while (q < n && b(q) == ' ') q += 1
    if (q + 3 > n || b(q) != 'o' || b(q + 1) != 'b' || b(q + 2) != 'j')
      return -2
    q += 3
    val end = findKeyword(b, q, "endobj")
    if (end < 0) return -2
    val region = new String(b, q, end - q,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val sPos = region.indexOf("stream")
    if (sPos < 0) return -2
    val dict = region.substring(0, sPos)
    if (!TYPE_XREF.matcher(dict).find()) return -2
    val w = nameIntArray(dict, "/W")
    if (w == null || w.length != 3 || w.exists(x => x < 0 || x > 8) ||
      w(1) == 0) return -2
    val size = nameInt(dict, "/Size")
    if (size < 0 || size > 10000000) return -2
    val idx0 = nameIntArray(dict, "/Index")
    val index =
      if (idx0 == null) Array(0L, size)
      else if (idx0.length == 0 || idx0.length % 2 != 0) return -2
      else idx0
    val len = nameInt(dict, "/Length")
    if (len < 0 || len > n) return -2
    var dp = q + sPos + 6
    if (dp < n && b(dp) == '\r') dp += 1
    if (dp < n && b(dp) == '\n') dp += 1
    if (dp + len > n) return -2
    val payload = java.util.Arrays.copyOfRange(b, dp, dp + len.toInt)
    var ep = dp + len.toInt
    while (ep < n && (b(ep) == ' ' || b(ep) == '\n' || b(ep) == '\r' ||
      b(ep) == '\t' || b(ep) == 0)) ep += 1
    if (!startsWith(b, ep, "endstream")) return -2
    val content =
      if (!dict.contains("/FlateDecode")) payload
      else inflateAll(payload) match {
        case null => return -2
        case d => d
      }
    val rowW = (w(0) + w(1) + w(2)).toInt
    var nRows = 0L
    var i = 0
    while (i < index.length) { nRows += index(i + 1); i += 2 }
    if (nRows < 0 || nRows * rowW != content.length) return -2 // truncated
    def beInt(from: Int, width: Int, dflt: Long): Long = {
      if (width == 0) return dflt
      var v = 0L; var k = 0
      while (k < width) { v = (v << 8) | (content(from + k) & 0xffL); k += 1 }
      v
    }
    var row = 0
    i = 0
    while (i < index.length) {
      val start = index(i); val cnt = index(i + 1)
      var j = 0L
      while (j < cnt) {
        val base = row * rowW
        val t = beInt(base, w(0).toInt, 1L) // W[0]=0 ⇒ implicit type 1
        val f2 = beInt(base + w(0).toInt, w(1).toInt, 0L)
        val objNum = start + j
        if (seenObj.add(objNum)) t match {
          case 0L => () // free
          case 1L =>
            if (f2 >= n) return -2
            if (objNum > 0) offsets += f2.toInt
          case 2L => addType2(1L) // f2 = holder ObjStm, checked in walk
          case _ => return -2
        }
        row += 1; j += 1
      }
      i += 2
    }
    val prev = nameInt(dict, "/Prev")
    if (prev < 0) -1
    else if (prev >= n) -2
    else prev.toInt
  }

  /** ObjStm member-table validation: `/N` pairs of nonneg integers
    * (objnum, offset) before `/First`, offsets nondecreasing and in
    * bounds — the compressed objects themselves are dicts/arrays and
    * carry no streams, so parsing the table IS the decode. Returns
    * the declared member count, or -1 on any malformed shape. */
  private def validateObjStm(content: Array[Byte], dict: String): Long = {
    val nDecl = nameInt(dict, "/N")
    val first = nameInt(dict, "/First")
    if (nDecl < 0 || nDecl > 1000000 || first < 0 ||
      first > content.length) return -1L
    var p = 0
    var prevOff = -1L
    var i = 0L
    while (i < nDecl) {
      var k = 0
      while (k < 2) {
        while (p < first && (content(p) == ' ' || content(p) == '\n' ||
          content(p) == '\r' || content(p) == '\t')) p += 1
        var v = 0L; var got = false
        while (p < first && content(p) >= '0' && content(p) <= '9') {
          v = v * 10 + (content(p) - '0'); p += 1; got = true
          if (v > content.length.toLong * 8) return -1L
        }
        if (!got) return -1L
        if (k == 1) {
          if (v < prevOff || first + v > content.length) return -1L
          prevOff = v
        }
        k += 1
      }
      i += 1
    }
    nDecl
  }

  /** Integer after a complete `key` name token (delimiter-checked,
    * the /Length-vs-/Length1 rule); -1 if absent or malformed. */
  private def nameInt(dict: String, key: String): Long = {
    var from = 0
    while (true) {
      val at = dict.indexOf(key, from)
      if (at < 0) return -1L
      val after = at + key.length
      val isName = after < dict.length && {
        val c = dict.charAt(after)
        Character.isLetterOrDigit(c) || c == '#'
      }
      if (!isName) {
        var p = after
        while (p < dict.length && (dict.charAt(p) == ' ' ||
          dict.charAt(p) == '\r' || dict.charAt(p) == '\n' ||
          dict.charAt(p) == '\t')) p += 1
        var v = 0L; var got = false
        while (p < dict.length && dict.charAt(p) >= '0' &&
          dict.charAt(p) <= '9') {
          v = v * 10 + (dict.charAt(p) - '0'); p += 1; got = true
          if (v > (1L << 40)) return -1L
        }
        return if (got) v else -1L
      }
      from = at + 1
    }
    -1L
  }

  /** `[ i1 i2 ... ]` after a complete `key` name token; null if the
    * key is absent or the array is malformed. */
  private def nameIntArray(dict: String, key: String): Array[Long] = {
    var from = 0
    while (true) {
      val at = dict.indexOf(key, from)
      if (at < 0) return null
      val after = at + key.length
      val isName = after < dict.length && {
        val c = dict.charAt(after)
        Character.isLetterOrDigit(c) || c == '#'
      }
      if (!isName) {
        var p = after
        while (p < dict.length && (dict.charAt(p) == ' ' ||
          dict.charAt(p) == '\r' || dict.charAt(p) == '\n' ||
          dict.charAt(p) == '\t')) p += 1
        if (p >= dict.length || dict.charAt(p) != '[') return null
        p += 1
        val out = collection.mutable.ArrayBuffer.empty[Long]
        var closed = false
        while (!closed && p < dict.length) {
          while (p < dict.length && (dict.charAt(p) == ' ' ||
            dict.charAt(p) == '\r' || dict.charAt(p) == '\n' ||
            dict.charAt(p) == '\t')) p += 1
          if (p < dict.length && dict.charAt(p) == ']') {
            closed = true
          } else {
            var v = 0L; var got = false
            while (p < dict.length && dict.charAt(p) >= '0' &&
              dict.charAt(p) <= '9') {
              v = v * 10 + (dict.charAt(p) - '0'); p += 1; got = true
              if (v > (1L << 40)) return null
            }
            if (!got) return null
            out += v
          }
        }
        return if (closed) out.toArray else null
      }
      from = at + 1
    }
    null
  }

  private def startsWith(b: Array[Byte], p: Int, s: String): Boolean = {
    if (p + s.length > b.length) return false
    var i = 0
    while (i < s.length) {
      if (b(p + i) != s.charAt(i)) return false
      i += 1
    }
    true
  }

  private def findKeyword(b: Array[Byte], from: Int, s: String): Int = {
    var p = from
    while (p + s.length <= b.length) {
      if (startsWith(b, p, s)) return p
      p += 1
    }
    -1
  }

  /** Full inflate with the 1-byte finish probe (CLAUDE.md lesson h). */
  private def inflateAll(d: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(d)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var guard = 0
      while (!inf.finished() && guard < (1 << 16)) {
        val m = inf.inflate(buf)
        if (m > 0) out.write(buf, 0, m)
        else if (!inf.finished()) {
          if (inf.needsInput() || inf.needsDictionary()) return null
        }
        guard += 1
      }
      if (!inf.finished()) null else out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally inf.end()
  }

  /** Content-stream text: string literals drawn by Tj/TJ. Returns
    * false on an unterminated literal. */
  private def extractText(c: Array[Byte],
                          out: java.lang.StringBuilder): Boolean = {
    val pending = collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = c.length
    while (i < n) {
      val ch = c(i)
      if (ch == '(') {
        val sb = new java.lang.StringBuilder()
        var depth = 1
        i += 1
        while (depth > 0) {
          if (i >= n) return false
          val x = c(i)
          if (x == '\\') {
            if (i + 1 >= n) return false
            val e = c(i + 1)
            e match {
              case 'n' => sb.append('\n'); i += 2
              case 'r' => sb.append('\r'); i += 2
              case 't' => sb.append('\t'); i += 2
              case 'b' => sb.append('\b'); i += 2
              case 'f' => sb.append('\f'); i += 2
              case d if d >= '0' && d <= '7' =>
                var v = 0; var k = 0; i += 1
                while (k < 3 && i < n && c(i) >= '0' && c(i) <= '7') {
                  v = v * 8 + (c(i) - '0'); i += 1; k += 1
                }
                sb.append((v & 0xff).toChar)
              // mask before widening: a high escaped byte must land
              // on its code point, same as the unescaped path (a
              // bare .toChar on Byte sign-extends to U+FF80..U+FFFF)
              case other => sb.append((other & 0xff).toChar); i += 2
            }
          } else if (x == '(') { depth += 1; sb.append('('); i += 1 }
          else if (x == ')') {
            depth -= 1
            if (depth > 0) sb.append(')')
            i += 1
          } else { sb.append((x & 0xff).toChar); i += 1 }
        }
        pending += sb.toString
      } else if ((ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z')) {
        var j = i
        while (j < n && ((c(j) >= 'a' && c(j) <= 'z') ||
          (c(j) >= 'A' && c(j) <= 'Z') || c(j) == '*' || c(j) == '\'')) j += 1
        val word = new String(c, i, j - i,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        if (word == "Tj") {
          pending.lastOption.foreach(out.append)
          pending.clear()
        } else if (word == "TJ") {
          pending.foreach(out.append)
          pending.clear()
        } else pending.clear() // positioned, not drawn
        i = j
      } else i += 1
    }
    true
  }
}
