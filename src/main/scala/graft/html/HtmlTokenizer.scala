package graft.html

import java.util.regex.Pattern

/** Event callback for [[HtmlTokenizer]]. Attribute values arrive
  * entity-decoded; valueless attributes arrive as None (the bs4 html.parser
  * builder then normalizes None → "").
  */
trait HtmlEvents {
  /** false ⇒ the tokenizer skips building/unescaping character data. */
  def wantsData: Boolean = true

  /** When false, start tags failing [[tagFilter]] skip attribute parsing
    * entirely (sound only together with wantsData=false: the skipped work
    * can influence nothing but data/attr events). script/style always take
    * the full path (CDATA-mode entry depends on the start-end check).
    */
  def wantsAllTags: Boolean = true
  def tagFilter(name: String): Boolean = true

  def startTag(name: String, attrs: List[(String, Option[String])]): Unit = ()
  def startEndTag(name: String, attrs: List[(String, Option[String])]): Unit =
    startTag(name, attrs)
  def endTag(name: String): Unit = ()
  def data(text: String): Unit = ()
  def comment(text: String): Unit = ()
  def decl(text: String): Unit = ()
  def pi(text: String): Unit = ()
  def unknownDecl(text: String): Unit = ()
}

/** From-scratch Scala reimplementation of CPython 3.11 `html.parser
  * .HTMLParser` tokenization with `convert_charrefs=True` — the exact engine
  * bs4's `'html.parser'` tree builder delegates to (reference use:
  * crawler.py:32). Single-shot parse ≡ `feed(doc); close()` (goahead with
  * end=True). Never throws on malformed input (SURVEY.md §2 O-16).
  *
  * CPython compiles these patterns on `str`, so `\s` is Py_UNICODE_ISSPACE —
  * NOT Java's `\s` (ASCII-only) and not even Java's UNICODE_CHARACTER_CLASS
  * `\s` (Unicode White_Space, which excludes U+001C–U+001F that Python
  * includes). The class is therefore spelled out ([[S]]), and `.strip()`
  * call sites use the same predicate ([[pyStrip]]).
  */
object HtmlTokenizer {

  private val CDATA_CONTENT_ELEMENTS = Set("script", "style")

  /** Python str-mode `\s` / `str.isspace()` char set (identical predicates,
    * verified by enumeration over the BMP): HT LF VT FF CR, FS GS RS US
    * (1C–1F), SP, NEL (85), NBSP (A0), OGHAM (1680), EN-QUAD..HAIR (2000–
    * 200A), LS PS (2028/2029), NNBSP (202F), MMSP (205F), IDEOGRAPHIC (3000).
    * (No astral-plane whitespace exists, so char-level matching is safe.)
    */
  private val S =
    "\\t\\n\\x0B\\f\\r\\x1C-\\x1F \\x85\\xA0\\u1680\\u2000-\\u200A" +
      "\\u2028\\u2029\\u202F\\u205F\\u3000"

  @inline private[graft] def isPySpace(c: Char): Boolean =
    (c >= 0x09 && c <= 0x0d) || (c >= 0x1c && c <= 0x1f) ||
      c == 0x20 || c == 0x85 || c == 0xa0 || c == 0x1680 ||
      (c >= 0x2000 && c <= 0x200a) || c == 0x2028 || c == 0x2029 ||
      c == 0x202f || c == 0x205f || c == 0x3000

  /** Python `str.strip()` (same char set as `\s` — not Java `trim`, which
    * only strips ≤ U+0020).
    */
  private[graft] def pyStrip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isPySpace(s.charAt(a))) a += 1
    while (b > a && isPySpace(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  private val starttagopen = Pattern.compile("<[a-zA-Z]")

  /** One compiled pattern set per whitespace dialect. `ws` is the char-class
    * BODY standing in for CPython's str-mode `\s`.
    *
    * Why two sets: the full Unicode class compiles to a ~9-node predicate
    * union that Java evaluates per character — measured 1.35× slower
    * single-threaded and 4.3× slower at 32 threads than the ASCII bitmap
    * class (a pure-JVM micro-benchmark on the 32-core single-socket host of
    * BASELINE.md's scaling protocol). Documents containing NO exotic-whitespace
    * char match identically under both sets (every distinguishing char is
    * absent), so [[parse]] picks the ASCII set after one cheap scan and the
    * Unicode set only for the rare document that needs it. The fuzz fixtures
    * exercise both paths.
    */
  private[html] final class WsPatterns(ws: String) {
    val tagfindTolerant =
      Pattern.compile(s"([a-zA-Z][^\\t\\n\\r\\f />\\x00]*)(?:[$ws]|/(?!>))*")
    val attrfindTolerant = Pattern.compile(
      s"((?<=['\"$ws/])[^$ws/>][^$ws/=>]*)([$ws]*=+[$ws]*" +
        s"('[^']*'|\"[^\"]*\"|(?!['\"])[^>$ws]*))?(?:[$ws]|/(?!>))*")
    val locatestarttagendTolerant = Pattern.compile(
      "<[a-zA-Z][^\\t\\n\\r\\f />\\x00]*" + // tag name
        s"(?:[$ws/]*" + // optional whitespace before attribute name
        s"(?:(?<=['\"$ws/])[^$ws/>][^$ws/=>]*" + // attribute name
        s"(?:[$ws]*=+[$ws]*" + // value indicator
        "(?:'[^']*'" + // LITA-enclosed value
        "|\"[^\"]*\"" + // LIT-enclosed value
        s"|(?!['\"])[^>$ws]*" + // bare value
        ")" +
        s"(?:[$ws]*,)*" + // possibly followed by a comma
        s")?(?:[$ws]|/(?!>))*" +
        ")*" +
        ")?" +
        s"[$ws]*") // trailing whitespace
    val endtagfind =
      Pattern.compile(s"</[$ws]*([a-zA-Z][-.a-zA-Z0-9:_]*)[$ws]*>")
    val commentclose = Pattern.compile(s"--[$ws]*>")
    val markedSectionClose = Pattern.compile(s"][$ws]*][$ws]*>")
    val msMarkedSectionClose = Pattern.compile(s"][$ws]*>")
    val declnameMatch = Pattern.compile(s"[a-zA-Z][-_.a-zA-Z0-9]*[$ws]*")
    def cdataClose(elem: String): Pattern =
      Pattern.compile(s"</[$ws]*" + elem, Pattern.CASE_INSENSITIVE)
  }

  /** Java `\s` as explicit singles — all < 256, so the class compiles to one
    * BitClass bitmap test (the fast path every ASCII-whitespace doc takes).
    */
  private[html] val AsciiP = new WsPatterns("\\t\\n\\x0B\\f\\r ")
  private[html] val UnicodeP = new WsPatterns(S)

  /** Hand-rolled equivalents of the three ASCII-dialect start-tag patterns
    * (locatestarttagendTolerant / tagfindTolerant / attrfindTolerant), the
    * per-tag cost center of [[parse]]. Safe to simulate linearly: every
    * group in those patterns is optional and nothing mandatory follows, so
    * the regex never backtracks across a committed group — the only local
    * retry is the value alternation, where an unterminated quote fails ALL
    * branches (bare values can't start with a quote), i.e. the optional
    * value group just doesn't match. Equivalence is enforced by
    * FastScanSpec's regex-vs-scanner differential fuzz, per dialect.
    *
    * The scanner logic is whitespace-class-parametric (the three regexes
    * differ ONLY by the `$ws` body), so both dialects take the fast path —
    * [[FastScan.Ascii]] pairs with [[AsciiP]] and [[FastScan.Py]] (the full
    * Python str-mode `\s`) with [[UnicodeP]]. Real-web HTML is full of
    * U+00A0, so the exotic-whitespace dialect being fast matters at corpus
    * scale; two singleton subclasses keep the isWs call site bimorphic.
    */
  private[html] sealed abstract class FastScan {
    protected def isWs(c: Char): Boolean
    // tag-name continuation [^\t\n\r\f />\x00] — NOTE \x0B (VT) IS allowed,
    // and the class is the same in both dialects (written without $ws)
    @inline private def isNameCh(c: Char): Boolean =
      c != ' ' && c != '/' && c != '>' && c != 0x00 &&
        c != '\t' && c != '\n' && c != '\r' && c != '\f'
    @inline private def isLookbehind(c: Char): Boolean =
      c == '\'' || c == '"' || c == '/' || isWs(c)

    /** end of `(?:[ws]|/(?!>))*` from q0 */
    @inline private def trailEnd(s: String, n: Int, q0: Int): Int = {
      var q = q0
      var go = true
      while (go && q < n) {
        val c = s.charAt(q)
        if (isWs(c)) q += 1
        else if (c == '/' && (q + 1 >= n || s.charAt(q + 1) != '>')) q += 1
        else go = false
      }
      q
    }

    /** `[ws]*=+[ws]*('[^']*'|"[^"]*"|(?!['"])[^>ws]*)` from `from`; packs
      * (valueStart, valueEnd) — quotes included, like regex group 3 — or -1
      * when the optional value group fails.
      *
      * Replicates the regex's backtracking on an UNCLOSED quote (both quote
      * branches fail and the bare branch's (?!['"]) rejects the quote char):
      * the greedy `[ws]*` gives back one ws and the bare branch matches
      * EMPTY there; with no ws, greedy `=+` gives back one '=' and the bare
      * branch consumes from that '='; with a single '=' and no ws the whole
      * optional group fails. (Fuzz-pinned by FastScanSpec.)
      */
    private def valTry(s: String, n: Int, from: Int): Long = {
      var q = from
      while (q < n && isWs(s.charAt(q))) q += 1
      if (q >= n || s.charAt(q) != '=') return -1L
      val eqStart = q
      while (q < n && s.charAt(q) == '=') q += 1
      val eqEnd = q
      while (q < n && isWs(s.charAt(q))) q += 1
      if (q < n && (s.charAt(q) == '\'' || s.charAt(q) == '"')) {
        val e = s.indexOf(s.charAt(q), q + 1)
        if (e >= 0) return (q.toLong << 32) | (e + 1).toLong
        // unclosed quote: backtrack ws, then an '=' (see scaladoc)
        if (q > eqEnd) return ((q - 1).toLong << 32) | (q - 1).toLong
        if (eqEnd - eqStart >= 2) {
          val st = eqEnd - 1
          var b = st
          while (b < n && { val c = s.charAt(b); c != '>' && !isWs(c) }) b += 1
          return (st.toLong << 32) | b.toLong
        }
        -1L
      } else {
        val st = q
        while (q < n && { val c = s.charAt(q); c != '>' && !isWs(c) }) q += 1
        (st.toLong << 32) | q.toLong
      }
    }

    /** tagfindTolerant at p: -1 if s(p) is not a letter, else packed
      * (nameEnd, matchEnd).
      */
    def tagFind(s: String, n: Int, p: Int): Long = {
      if (p >= n) return -1L
      val c = s.charAt(p)
      if (!((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))) return -1L
      var q = p + 1
      while (q < n && isNameCh(s.charAt(q))) q += 1
      (q.toLong << 32) | trailEnd(s, n, q).toLong
    }

    /** attrfindTolerant anchored at k (absolute lookbehind, as with
      * transparent region bounds). Fills `out`; false = no match.
      */
    def attrFind(s: String, n: Int, k: Int, out: AttrResult): Boolean = {
      if (k >= n || k <= 0) return false // lookbehind needs a preceding char
      if (!isLookbehind(s.charAt(k - 1))) return false
      val c0 = s.charAt(k)
      if (isWs(c0) || c0 == '/' || c0 == '>') return false
      out.nameStart = k
      var q = k + 1
      while (q < n && { val c = s.charAt(q); !isWs(c) && c != '/' && c != '=' && c != '>' }) q += 1
      out.nameEnd = q
      val v = valTry(s, n, q)
      if (v >= 0L) {
        out.hasValue = true
        out.valStart = (v >>> 32).toInt
        out.valEnd = v.toInt
        q = out.valEnd
      } else out.hasValue = false
      out.end = trailEnd(s, n, q)
      true
    }

    /** locatestarttagendTolerant end position at i (requires `<letter` at i,
      * which the caller established via starttagopen). Always matches; only
      * the end position is needed.
      */
    def startTagEnd(s: String, n: Int, i: Int): Int = {
      var q = i + 2
      while (q < n && isNameCh(s.charAt(q))) q += 1
      // (?:[ws/]* ATTR*)? — initial run consumes ws AND bare slashes
      var r = q
      while (r < n && { val c = s.charAt(r); isWs(c) || c == '/' }) r += 1
      var more = true
      while (more) {
        if (r >= n || !isLookbehind(s.charAt(r - 1))) more = false
        else {
          val c0 = s.charAt(r)
          if (isWs(c0) || c0 == '/' || c0 == '>') more = false
          else {
            var r2 = r + 1
            while (r2 < n && { val c = s.charAt(r2); !isWs(c) && c != '/' && c != '=' && c != '>' }) r2 += 1
            val v = valTry(s, n, r2)
            if (v >= 0L) {
              r2 = v.toInt
              // (?:[ws]*,)* — commit only through each matched comma
              var go = true
              while (go) {
                var t = r2
                while (t < n && isWs(s.charAt(t))) t += 1
                if (t < n && s.charAt(t) == ',') r2 = t + 1 else go = false
              }
            }
            r = trailEnd(s, n, r2)
          }
        }
      }
      // trailing [ws]* (already absorbed by the last TRAIL run; kept for the
      // zero-attr shape where the initial [ws/]* stopped at a non-attr char)
      while (r < n && isWs(s.charAt(r))) r += 1
      r
    }
  }

  private[html] object FastScan {
    /** Java-`\s` dialect scanner (pairs with [[AsciiP]]). */
    object Ascii extends FastScan {
      override protected def isWs(c: Char): Boolean =
        c == ' ' || (c >= 0x09 && c <= 0x0d)
    }

    /** Python str-mode `\s` dialect scanner (pairs with [[UnicodeP]]). */
    object Py extends FastScan {
      override protected def isWs(c: Char): Boolean = isPySpace(c)
    }
  }

  /** Mutable result holder for [[FastScan.attrFind]] — one per parse call. */
  private[html] final class AttrResult {
    var nameStart = 0
    var nameEnd = 0
    var hasValue = false
    var valStart = 0
    var valEnd = 0
    var end = 0
  }

  /** Any char in (PySpace ∖ Java `\s`) forces the Unicode pattern set. Cheap:
    * ASCII text falls through in ≤3 compares per char.
    */
  @inline private def isExoticWs(c: Char): Boolean =
    c >= 0x1c && (c <= 0x1f || (c >= 0x85 &&
      (c == 0x85 || c == 0xa0 || c == 0x1680 ||
        (c >= 0x2000 && c <= 0x200a) || c == 0x2028 || c == 0x2029 ||
        c == 0x202f || c == 0x205f || c == 0x3000)))

  private def hasExoticWs(s: String): Boolean = {
    var i = 0
    val n = s.length
    while (i < n) {
      if (isExoticWs(s.charAt(i))) return true
      i += 1
    }
    false
  }

  def parse(rawdata: String, cb: HtmlEvents): Unit =
    parse(rawdata, cb, useFastScan = true)

  /** `useFastScan = false` forces the regex start-tag path even in the ASCII
    * dialect — the differential hook FastScanSpec compares both paths on the
    * same input.
    */
  private[html] def parse(rawdata: String, cb: HtmlEvents, useFastScan: Boolean): Unit = {
    val n = rawdata.length
    var i = 0
    var cdataElem: String = null
    var cdataClose: Pattern = null
    // semantics-preserving dialect pick: see WsPatterns scaladoc
    val P = if (hasExoticWs(rawdata)) UnicodeP else AsciiP
    import P._
    // hand-rolled start-tag scanning, specialized per whitespace dialect
    val fast = useFastScan
    val scanner = if (P eq AsciiP) FastScan.Ascii else FastScan.Py
    val attrResult = if (fast) new AttrResult else null

    // One matcher per pattern per parse — region(...) resets between uses, so
    // the ~4 matchers/tag the loop would otherwise allocate are shared.
    // Transparent bounds let lookbehinds see before region start, matching
    // CPython's position-anchored match on the full string.
    val mStartOpen = starttagopen.matcher(rawdata)
    val mLocateEnd = locatestarttagendTolerant.matcher(rawdata)
    mLocateEnd.useTransparentBounds(true)
    val mTagfind = tagfindTolerant.matcher(rawdata)
    mTagfind.useTransparentBounds(true)
    val mAttrfind = attrfindTolerant.matcher(rawdata)
    mAttrfind.useTransparentBounds(true)
    val mEndtag = endtagfind.matcher(rawdata)
    mEndtag.useTransparentBounds(true)

    def setCdataMode(elem: String): Unit = {
      cdataElem = elem.toLowerCase(java.util.Locale.ROOT)
      cdataClose = P.cdataClose(cdataElem)
    }
    def clearCdataMode(): Unit = { cdataElem = null; cdataClose = null }

    def find(s: String, from: Int): Int = rawdata.indexOf(s, from)
    def startsWith(s: String, at: Int): Boolean = rawdata.startsWith(s, at)

    // ---- parse_starttag + check_for_whole_start_tag -----------------------
    // returns endpos, or -1 ≡ "incomplete at buffer end"
    def checkForWholeStartTag(i: Int): Int = {
      val j =
        if (fast) scanner.startTagEnd(rawdata, n, i) // always matches at `<letter`
        else {
          val m = mLocateEnd
          m.region(i, n)
          // Pattern.match from position: use lookingAt on region
          if (!m.lookingAt()) return -1 // CPython asserts unreachable; stay lenient
          m.end()
        }
      locally {
        val next = if (j < n) rawdata.charAt(j) else '\u0000'
        if (j < n && next == '>') return j + 1
        if (j < n && next == '/') {
          if (startsWith("/>", j)) return j + 2
          return -1 // "/" then buffer boundary or bogus — CPython returns -1 / raises; be lenient
        }
        if (j >= n) return -1 // end of input
        if ((next >= 'a' && next <= 'z') || (next >= 'A' && next <= 'Z') || next == '=' || next == '/')
          return -1
        if (j > i) return j
      }
      -1
    }

    def parseStarttag(i: Int): Int = {
      val endpos = checkForWholeStartTag(i)
      if (endpos < 0) return endpos
      var attrs = List.newBuilder[(String, Option[String])]
      var k = 0
      var tag: String = null
      if (fast) {
        val tf = scanner.tagFind(rawdata, n, i + 1) // first char is a letter
        k = tf.toInt
        tag = rawdata.substring(i + 1, (tf >>> 32).toInt).toLowerCase(java.util.Locale.ROOT)
      } else {
        val tm = mTagfind
        tm.region(i + 1, n)
        if (!tm.lookingAt()) return endpos // unreachable per CPython assert
        k = tm.end()
        tag = tm.group(1).toLowerCase(java.util.Locale.ROOT)
      }
      if (!cb.wantsAllTags && !cb.tagFilter(tag) &&
        !CDATA_CONTENT_ELEMENTS.contains(tag)) {
        return endpos // links-only fast path: tag is irrelevant to every event
      }
      // shared attr post-processing: `rest` null ⇔ the optional value group
      // did not match (valueless attr → None)
      def emitAttr(attrname: String, hasRest: Boolean, rawValue: String): Unit = {
        var attrvalue = rawValue
        var valueOpt: Option[String] = null
        if (!hasRest) valueOpt = None
        else {
          if (attrvalue != null && attrvalue.length >= 2 &&
            ((attrvalue.charAt(0) == '\'' && attrvalue.charAt(attrvalue.length - 1) == '\'') ||
              (attrvalue.charAt(0) == '"' && attrvalue.charAt(attrvalue.length - 1) == '"')))
            attrvalue = attrvalue.substring(1, attrvalue.length - 1)
          // CPython: `if attrvalue: attrvalue = unescape(attrvalue)`
          valueOpt = Some(if (attrvalue != null && attrvalue.nonEmpty) Entities.unescape(attrvalue) else attrvalue)
        }
        attrs += ((attrname.toLowerCase(java.util.Locale.ROOT), valueOpt))
      }
      var attrsDone = false
      while (k < endpos && !attrsDone) {
        // CPython uses match (anchored at k) with no region end, so quoted
        // values may run past endpos; scanning to n reproduces that.
        if (fast) {
          val ar = attrResult
          if (!scanner.attrFind(rawdata, n, k, ar)) attrsDone = true
          else {
            emitAttr(rawdata.substring(ar.nameStart, ar.nameEnd), ar.hasValue,
              if (ar.hasValue) rawdata.substring(ar.valStart, ar.valEnd) else null)
            k = ar.end
          }
        } else {
          val am = mAttrfind
          am.region(k, n)
          if (!am.lookingAt()) attrsDone = true // CPython: break, k unchanged
          else {
            emitAttr(am.group(1), am.group(2) != null, am.group(3))
            k = am.end()
          }
        }
      }
      val endText = pyStrip(rawdata.substring(math.min(k, endpos), endpos))
      if (endText != ">" && endText != "/>") {
        cb.data(rawdata.substring(i, endpos))
        return endpos
      }
      if (endText.endsWith("/>")) cb.startEndTag(tag, attrs.result())
      else {
        cb.startTag(tag, attrs.result())
        if (CDATA_CONTENT_ELEMENTS.contains(tag)) setCdataMode(tag)
      }
      endpos
    }

    // ---- parse_endtag ------------------------------------------------------
    def parseBogusComment(i: Int): Int = {
      val pos = find(">", i + 2)
      if (pos == -1) return -1
      cb.comment(rawdata.substring(i + 2, pos))
      pos + 1
    }

    def parseEndtag(i: Int): Int = {
      // CPython: re.compile('>').search(rawdata, i+1) — a literal single-char
      // pattern, so indexOf is exact (and not a per-end-tag Pattern.compile)
      val gt = find(">", i + 1)
      if (gt < 0) return -1
      val gtpos = gt + 1
      val em = mEndtag
      em.region(i, n)
      if (!em.lookingAt()) {
        if (cdataElem != null) { cb.data(rawdata.substring(i, gtpos)); return gtpos }
        val nm = mTagfind
        nm.region(i + 2, n)
        if (!nm.lookingAt()) {
          if (rawdata.substring(i, math.min(i + 3, n)) == "</>") return i + 3
          return parseBogusComment(i)
        }
        val tagname = nm.group(1).toLowerCase(java.util.Locale.ROOT)
        val gt = find(">", nm.end())
        cb.endTag(tagname)
        return gt + 1 // CPython returns gtpos+1 even when gt == -1 → 0... gt>=0 in practice since gm found one
      }
      val elem = em.group(1).toLowerCase(java.util.Locale.ROOT)
      if (cdataElem != null && elem != cdataElem) {
        cb.data(rawdata.substring(i, gtpos))
        return gtpos
      }
      cb.endTag(elem)
      clearCdataMode()
      gtpos
    }

    // ---- declarations ------------------------------------------------------
    def parseComment(i: Int): Int = {
      val m = commentclose.matcher(rawdata)
      if (!m.find(i + 4)) return -1
      cb.comment(rawdata.substring(i + 4, m.start()))
      m.end()
    }

    def parsePi(i: Int): Int = {
      val pos = find(">", i + 2)
      if (pos == -1) return -1
      cb.pi(rawdata.substring(i + 2, pos))
      pos + 1
    }

    def parseMarkedSection(i: Int): Int = {
      val dm = declnameMatch.matcher(rawdata)
      dm.region(i + 3, n)
      if (!dm.lookingAt()) return parseBogusComment(i) // lenient vs CPython error()
      val sectName = pyStrip(dm.group()).toLowerCase(java.util.Locale.ROOT)
      val close =
        if (Set("temp", "cdata", "ignore", "include", "rcdata").contains(sectName))
          markedSectionClose
        else msMarkedSectionClose // if/else/endif and (leniently) anything else
      val m = close.matcher(rawdata)
      if (!m.find(i + 3)) return -1
      cb.unknownDecl(rawdata.substring(i + 3, m.start()))
      m.end()
    }

    def parseHtmlDeclaration(i: Int): Int = {
      if (startsWith("<!--", i)) parseComment(i)
      else if (startsWith("<![", i)) parseMarkedSection(i)
      else if (i + 9 <= n &&
        rawdata.substring(i, i + 9).toLowerCase(java.util.Locale.ROOT) == "<!doctype") {
        val gtpos = find(">", i + 9)
        if (gtpos == -1) return -1
        cb.decl(rawdata.substring(i + 2, gtpos))
        gtpos + 1
      } else parseBogusComment(i)
    }

    // ---- goahead(end=True) -------------------------------------------------
    var break2 = false
    while (i < n && !break2) {
      var j = 0
      if (cdataElem == null) {
        j = find("<", i)
        if (j < 0) j = n
      } else {
        val m = cdataClose.matcher(rawdata)
        if (m.find(i)) j = m.start()
        else { break2 = true; j = i } // unterminated cdata: trailing data dropped
      }
      if (!break2) {
        if (i < j && cb.wantsData) {
          val text = rawdata.substring(i, j)
          cb.data(if (cdataElem == null) Entities.unescape(text) else text)
        }
        i = j
        if (i < n) {
          var k = 0
          if (startsWith("<", i)) {
            val sm = mStartOpen
            sm.region(i, n)
            if (sm.lookingAt()) k = parseStarttag(i)
            else if (startsWith("</", i)) k = parseEndtag(i)
            else if (startsWith("<!--", i)) k = parseComment(i)
            else if (startsWith("<?", i)) k = parsePi(i)
            else if (startsWith("<!", i)) k = parseHtmlDeclaration(i)
            else { cb.data("<"); k = i + 1 }
            if (k < 0) {
              // end=True recovery: emit raw text up to next > (incl.) or <
              k = find(">", i + 1)
              if (k < 0) {
                k = find("<", i + 1)
                if (k < 0) k = i + 1
              } else k += 1
              if (cb.wantsData) {
                val text = rawdata.substring(i, k)
                cb.data(if (cdataElem == null) Entities.unescape(text) else text)
              }
            }
          }
          i = k
        }
      }
    }
  }
}
