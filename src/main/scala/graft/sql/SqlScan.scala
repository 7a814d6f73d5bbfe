package graft.sql

import java.util.Locale

/** THE shared quote/paren-aware scanner over SQL TEXT for the graft
  * dialect ([[GraftSqlParser]]). Every clause-splitting need — finding
  * a top-level keyword, splitting on top-level commas — derives from
  * the same traversal rules, centralized here so the next clause
  * family does not re-derive (and subtly diverge on) them:
  *
  *  - a single-quoted SQL literal is opaque: every character inside
  *    it, keywords and delimiters included, is data. '' escaping needs
  *    no special case for DELIMITER purposes: each quote char toggles
  *    the in-literal state, so a doubled quote re-enters the literal
  *    one character later and no top-level scan point is missed;
  *  - parentheses nest: depth > 0 is inside a subexpression (function
  *    arguments, subqueries) and never matches;
  *  - keywords match case-insensitively as WHOLE WORDS with '_' part
  *    of the identifier alphabet (WHERE must not match inside a column
  *    named where_flag);
  *  - unbalanced input never throws — depth clamps at zero and an
  *    unterminated literal simply runs to the end — because these
  *    scanners run BEFORE validation and their callers produce the
  *    loud, statement-specific errors.
  *
  * Property-based coverage: SqlScanSpec generates random nesting
  * shapes (parens × literals) with known top-level positions and
  * checks every scanner against the construction.
  */
private[sql] object SqlScan {

  private def isIdent(ch: Char): Boolean =
    Character.isLetterOrDigit(ch) || ch == '_'

  /** Index of the first top-level occurrence of `keyword` as a whole
    * word — occurrences inside parentheses or single-quoted literals
    * don't count. -1 when absent.
    */
  def topLevelIndexOf(s: String, keyword: String): Int = {
    val u = s.toUpperCase(Locale.ROOT)
    val k = keyword.toUpperCase(Locale.ROOT)
    var depth = 0
    var inQuote = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false; i += 1 }
      else c match {
        case '\'' => inQuote = true; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth = math.max(0, depth - 1); i += 1
        case _ =>
          if (depth == 0 && u.startsWith(k, i) &&
              (i == 0 || !isIdent(s.charAt(i - 1))) &&
              (i + k.length >= s.length ||
                !isIdent(s.charAt(i + k.length))))
            return i
          i += 1
      }
    }
    -1
  }

  /** Split on top-level commas — commas inside parentheses (and, with
    * `angleNests`, angle brackets: complex type arguments) or
    * single-quoted literals are content, not separators. Parts are
    * returned RAW (untrimmed, empties kept): rejoining with ',' is the
    * identity, which is what the property test pins.
    */
  def splitTopCommas(s: String, angleNests: Boolean = false): Seq[String] = {
    val parts = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    s.foreach { c =>
      if (inQuote) { cur += c; if (c == '\'') inQuote = false }
      else c match {
        case '\'' => inQuote = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth = math.max(0, depth - 1); cur += c
        case '<' if angleNests => depth += 1; cur += c
        case '>' if angleNests => depth = math.max(0, depth - 1); cur += c
        case ',' if depth == 0 => parts += cur.result(); cur.clear()
        case other => cur += other
      }
    }
    parts += cur.result()
    parts.toSeq
  }
}
