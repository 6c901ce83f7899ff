package graft.ops

import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

/** F1 `clean_corpus` — the reference's flagship text-cleaning operator,
  * re-implemented as a pure JVM function (SURVEY.md §2.8 F1, §7.4 #1).
  *
  * Semantics mirror fda_rag_extraction/scripts/json_split_and_clean.py:16-243
  * exactly, including its quirks:
  *
  *  - a line matching a cutoff pattern truncates the document (the line and
  *    everything after it is dropped) … (json_split_and_clean.py:195-197)
  *  - … UNLESS dosage info appears within the next 15 lines, or within 15
  *    lines after a later line ending in ':', or the previous kept line ends
  *    in ':' (json_split_and_clean.py:149-190). A rescued cutoff line then
  *    falls through the remaining filters and — contrary to the reference's
  *    own comment — is KEPT (its `continue` targets the pattern loop, not
  *    the line loop; json_split_and_clean.py:186-190). Preserved as-is.
  *  - blank lines are dropped except immediately after a kept line ending
  *    in ':' (json_split_and_clean.py:113-118)
  *  - boilerplate patterns are start-anchored matches; repeated headers are
  *    exact (case-sensitive) standalone lines (json_split_and_clean.py:203-215)
  *  - post-pass: unicode dash/quote normalization, space-run collapse,
  *    3+-newline collapse, final trim (json_split_and_clean.py:222-241)
  *
  * The per-line scan is stateful with lookahead, so it is deliberately a
  * scalar JVM function (wrapped as a codegen-friendly Catalyst expression in
  * [[graft.expr.CleanCorpusExpr]]) rather than a column composition — the
  * stateless layers alone are available in [[TextOps]] for oracle-checkable
  * queries.
  */
object CleanCorpus {

  private val MaxLookahead = 5
  private val ExtendedLookahead = MaxLookahead * 3 // 15 lines

  /** CPython `\s` for str patterns, as an explicit class: Unicode
    * White_Space (09-0D, 20, 85, A0, 1680, 2000-200A, 2028, 2029, 202F,
    * 205F, 3000) PLUS 1C-1F (bidi separators — Python's re includes
    * them, Java's \p{IsWhite_Space} does not). Java's default `\s` is
    * ASCII-only, so `"120 mg"` (NBSP) would NOT be dosage to a
    * `\s`-based port while the reference rescues a cutoff on it
    * (verified against json_split_and_clean.py — the same
    * ASCII-vs-unicode class gap as the r12 autojunk finding).
    * Identical class in the DuckDB oracle (SparkEntry.f1TraceSql). */
  private[graft] val PyWsCodepoints: Seq[Int] =
    Seq(0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F,
      0x20, 0x85, 0xA0, 0x1680) ++ (0x2000 to 0x200A) ++
      Seq(0x2028, 0x2029, 0x202F, 0x205F, 0x3000)

  /** The class BODY (no brackets) — for composing negated/merged
    * classes like `[^\p{L}\p{N}_<ws>]`. Same syntax in Java regex and
    * RE2, so the DuckDB oracles embed these strings verbatim. */
  private[graft] val PyWsBody: String =
    PyWsCodepoints.map(c => f"\\x{$c%04X}").mkString

  private[graft] val PyWs: String = "[" + PyWsBody + "]"

  /** CPython `\w` for str patterns ≈ unicode letters + numerics + '_'
    * (CPython's ISALNUM: categories L* ∪ N* plus underscore) — Java's
    * default `\w` is ASCII [a-zA-Z0-9_], which destroys 'β', 'naïve',
    * every accented or non-Latin word char the reference keeps. */
  private[graft] val PyWordBody = "\\p{L}\\p{N}_"

  /** CPython `\d` for str patterns = Unicode decimal digits (category
    * Nd) — Java's default `\d` is ASCII [0-9]. */
  private[graft] val PyD = "\\p{Nd}"

  /** One compiled pattern per class: the reference's patterns, without
    * their framing `.*`, joined into one alternation. The reference tests
    * a line against each pattern in turn; "any of them matches" is one
    * search of the alternation. Framed as `.*A.*B.*`, `find()` backtracks
    * roughly cubically in line length; unframed, an alternative whose
    * literal head fails costs one compare per start position. Alternatives
    * that another one already covers are left out (named below). The
    * DuckDB oracle (SparkEntry.f1TraceSql) spells the same three classes. */
  private def anyOf(alternatives: Seq[String]): Pattern =
    ci(alternatives.mkString("|"))

  // json_split_and_clean.py:37-59 (re.search, so find()); "The application
  // was granted.*priority review" is covered by "granted.*priority review"
  private val cutoff: Pattern = anyOf(Seq(
    "This review.*used.*Assessment Aid",
    "This review was conducted.*Assessment Aid",
    "This review used.*Real-Time Oncology Review",
    "This review used.*RTOR",
    "This review was conducted under Project Orbis",
    "The application was granted.*breakthrough",
    "The application was granted.*orphan",
    "granted.*priority review",
    "granted.*breakthrough designation",
    "granted.*orphan drug designation",
    "received.*orphan drug designation",
    "received.*breakthrough designation",
    "received.*priority review"))

  // json_split_and_clean.py:64-93 (re.match, so lookingAt()); "Follow the
  // Oncology Center of Excellence" covers its "on X", "on X (formerly
  // Twitter)" and "on Twitter" variants, and "FDA expedited programs are
  // described in the Guidance" covers its "… for Industry" variant
  private val boilerplate: Pattern = anyOf(Seq(
    "Follow the Oncology Center of Excellence",
    "Follow us on X",
    "Healthcare professionals should report all serious adverse events",
    s"Full prescribing information for$PyWs",
    s"View full prescribing information for$PyWs",
    s"See full prescribing information for$PyWs",
    "For assistance with single-patient INDs for investigational oncology products",
    "A description of FDA expedited programs is in the Guidance",
    "FDA expedited programs are described in the Guidance",
    "For information on the COVID-19 pandemic",
    "FDA: Coronavirus Disease 2019 \\(COVID-19\\)",
    "CDC: Coronavirus \\(COVID-19\\)"))

  // json_split_and_clean.py:96-100 (exact standalone lines, case-sensitive)
  private val headersToRemove: Set[String] =
    Set("Efficacy and Safety", "Recommended Dosage", "Expedited Programs")

  // json_split_and_clean.py:123-131 (re.search with IGNORECASE on str:
  // \d and \s are UNICODE classes — see PyWs/PyD)
  private val dosage: Pattern = anyOf(Seq(
    s"$PyD+$PyWs*(kg|mg|g|mcg)",
    s"less than.*$PyD",
    s"greater than.*$PyD",
    s"$PyD+$PyWs*(or|and)$PyWs*(greater|less)",
    "orally.*twice.*daily",
    "orally.*once.*daily",
    "mg.*orally"))

  /** CASE_INSENSITIVE+UNICODE_CASE = CPython re.IGNORECASE on str (both
    * simple-casefold: ſ→s, K→k). UNIX_LINES makes Java's '.' exclude only
    * \n — CPython re and RE2 semantics — where default Java '.' also
    * excludes \r, U+0085, U+2028, U+2029. Lines here never contain \n but
    * CAN contain an interior \r (a bare-\r-endings document collapses to
    * one line), so without UNIX_LINES an interior '.*' like
    * "granted.*priority review" would match in the reference and the
    * oracle but not here. ^ is unaffected (no MULTILINE). */
  private def ci(p: String): Pattern =
    Pattern.compile(p,
      Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE | Pattern.UNIX_LINES)

  /** Python `str.strip()` parity: Java's isWhitespace misses NBSP-family
    * code points that Python's `str.isspace` includes. */
  private def isPySpace(c: Char): Boolean =
    Character.isWhitespace(c) || c == '\u00A0' || c == '\u2007' ||
      c == '\u202F' || c == '\u0085'

  private[graft] def pyStrip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isPySpace(s.charAt(i))) i += 1
    while (j > i && isPySpace(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }

  /** Dosage info in `lines(from until untilExcl)` (stripped, non-empty)? */
  private def dosageAhead(lines: Array[String], from: Int, untilExcl: Int): Boolean = {
    var k = from
    val end = math.min(untilExcl, lines.length)
    while (k < end) {
      val l = pyStrip(lines(k))
      if (l.nonEmpty && dosage.matcher(l).find()) return true
      k += 1
    }
    false
  }

  /** Dosage info within 15 lines after the cutoff line `idx` (:152-168),
    * or within 15 lines after a ':'-terminated line among them (:170-183)? */
  private def dosageFollows(lines: Array[String], idx: Int): Boolean =
    dosageAhead(lines, idx + 1, idx + ExtendedLookahead + 1) ||
      (idx + 1 until math.min(idx + ExtendedLookahead + 1, lines.length))
        .exists(la => pyStrip(lines(la)).endsWith(":") &&
          dosageAhead(lines, la + 1, la + ExtendedLookahead + 1))

  /** Per-line decision codes — THE ORACLE TRACE for `f1_clean_corpus`.
    *
    * `clean()` is assembled FROM this kernel (decide → assemble), and the
    * trace writer in SparkEntry.writeOracleAux exports exactly this
    * array, so the declared query and the exported trace cannot drift:
    * there is one decision path.
    *
    *  - 'K' kept (appended stripped)
    *  - 'R' rescued cutoff line, kept (the reference quirk: its
    *        `continue` targets the pattern loop, so the line falls
    *        through the remaining filters and is appended)
    *  - 'B' blank appended (previous appended line ended with ':')
    *  - 'E' blank dropped
    *  - 'P' boilerplate drop (start-anchored remove pattern)
    *  - 'H' repeated-header drop (exact standalone line)
    *  - 'C' cutoff — this line truncates the document
    *  - 'T' tail — after the cutoff, never examined
    *
    * Every decision is re-verifiable from the raw lines + the PRIOR
    * decisions: the cutoff/boilerplate/dosage regex layers are stateless
    * per line, the 15-line (+nested ':'-window) dosage lookahead is a
    * pure EXISTS over raw line ranges, and the "previous kept line ends
    * with ':'" state is a fold over the earlier appended decisions — the
    * DuckDB oracle replays all three and rebuilds the content
    * (json_split_and_clean.py:104-217 semantics, quirks preserved).
    */
  def decisions(lines: Array[String]): Array[Char] = {
    val out = new Array[Char](lines.length)
    var lastAppended: String = null // value of the last appended line
    var idx = 0
    var truncated = false
    while (idx < lines.length) {
      if (truncated) out(idx) = 'T'
      else {
        val stripped = pyStrip(lines(idx))
        val prevColon = lastAppended != null && lastAppended.endsWith(":")
        if (stripped.isEmpty) {
          // blank kept only right after a ':'-terminated kept line (:113-118)
          if (prevColon) { out(idx) = 'B'; lastAppended = "" }
          else out(idx) = 'E'
        } else {
          // the reference re-tests the rescue for every cutoff pattern the
          // line matches, but the rescue does not depend on the pattern:
          // one match decides, and a rescued line falls through (:149-190)
          val cut = cutoff.matcher(stripped).find()
          val rescued = cut && (prevColon || dosageFollows(lines, idx))
          if (cut && !rescued) { out(idx) = 'C'; truncated = true }
          else if (boilerplate.matcher(stripped).lookingAt()) out(idx) = 'P'
          else if (headersToRemove.contains(stripped)) out(idx) = 'H'
          else {
            out(idx) = if (rescued) 'R' else 'K'
            lastAppended = stripped
          }
        }
      }
      idx += 1
    }
    out
  }

  def clean(text: String): String = {
    if (text == null || text.isEmpty) return ""
    val lines = text.split("\n", -1)
    val d = decisions(lines)
    val kept = new ArrayBuffer[String](lines.length)
    var i = 0
    while (i < lines.length) {
      d(i) match {
        case 'K' | 'R' => kept += pyStrip(lines(i))
        case 'B'       => kept += ""
        case _         => ()
      }
      i += 1
    }

    // post-pass (:222-241)
    var out = kept.mkString("\n")
    out = out
      .replace('–', '-').replace('—', '-').replace('−', '-')
      .replace('‘', '\'').replace('’', '\'')
      .replace('“', '"').replace('”', '"')
    out = out.replaceAll(" +", " ")
    out = out.replaceAll("\n{3,}", "\n\n")
    pyStrip(out)
  }
}
