package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** BUbiNG's user-facing filter query language, compiled straight to Catalyst
  * `Column` trees (SURVEY.md §2.8).
  *
  * Grammar (reference `warc/filters/parser/FilterParser.jj:58-180`):
  * {{{
  *   or     := and ( OR and )*
  *   and    := atom ( AND atom )*
  *   atom   := [ NOT ] ground
  *   ground := ClassName ( args ) | true | false | ( or )
  * }}}
  * with `AND` spelled `and|&|∧`, `OR` spelled `or|||∨`, `NOT` spelled
  * `not|!|~` (FilterParser.jj:64-67). Example production filter
  * (reference overview.html config block):
  * `( SchemeEquals(http) or SchemeEquals(https) ) and not PathEndsWithOneOf(.jpg,.png) and URLShorterThan(2048) and DuplicateSegmentsLessThan(3)`
  *
  * Because the target is a `Column`, boolean composition maps to Catalyst
  * `And/Or/Not/Literal` and the per-predicate "type adaptation" of the
  * reference (`Filters.java:233-426`) becomes simply which column the
  * predicate reads from the [[FilterContext]].
  */
object FilterDsl {

  /** The columns a filter may read. Provide what the data has; atoms
    * referencing an absent column fail at compile time (like the
    * reference's adapter errors). */
  case class FilterContext(
      url: Option[Column] = None,
      scheme: Option[Column] = None,
      host: Option[Column] = None,
      path: Option[Column] = None,
      pathQuery: Option[Column] = None,
      contentType: Option[Column] = None,
      status: Option[Column] = None,
      text: Option[Column] = None,
      digest: Option[Column] = None,
      isHttpResponse: Option[Column] = None,
      srcHost: Option[Column] = None,
      dstHost: Option[Column] = None) {
    def get(name: String, c: Option[Column]): Column =
      c.getOrElse(throw new IllegalArgumentException(
        s"filter atom needs column '$name' which this dataset does not provide"))
  }

  /** Derive the standard URL context from a single normalized-url column. */
  def urlContext(url: Column): FilterContext = {
    import graft.functions._
    FilterContext(
      url = Some(url),
      scheme = Some(burl_scheme(url)),
      host = Some(burl_host(url)),
      path = Some(burl_path(url)),
      pathQuery = Some(burl_path_query(url)))
  }

  // ---------------- parser ----------------

  private final class Cursor(val s: String) {
    var i = 0
    def ws(): Unit = { while (i < s.length && s.charAt(i).isWhitespace) i += 1 }
    def eof: Boolean = { ws(); i >= s.length }
    def peek: Char = { ws(); s.charAt(i) }
    /** Try to consume a keyword or symbol (keywords case-insensitive,
      * must not be followed by an identifier char). */
    def tryKeyword(kws: Seq[String]): Boolean = {
      ws()
      for (k <- kws) {
        if (s.regionMatches(true, i, k, 0, k.length)) {
          val end = i + k.length
          val isWord = k.head.isLetter
          if (!isWord || end >= s.length || !isIdentChar(s.charAt(end))) {
            i = end
            return true
          }
        }
      }
      false
    }
    def expect(c: Char): Unit = {
      ws()
      if (i >= s.length || s.charAt(i) != c)
        throw new IllegalArgumentException(s"filter parse error: expected '$c' at $i in: $s")
      i += 1
    }
    def identifier(): String = {
      ws()
      val start = i
      while (i < s.length && isIdentChar(s.charAt(i))) i += 1
      if (i == start) throw new IllegalArgumentException(s"filter parse error: expected name at $start in: $s")
      s.substring(start, i)
    }
    /** Raw argument text up to the matching ')' (no nested parens in args,
      * per the reference grammar). Splitting on ',' is up to each atom —
      * regex atoms take the raw text so `a{1,2}` survives intact. */
    def args(): String = {
      expect('(')
      val start = i
      while (i < s.length && s.charAt(i) != ')') i += 1
      if (i >= s.length) throw new IllegalArgumentException(s"filter parse error: unclosed args in: $s")
      val raw = s.substring(start, i)
      i += 1
      raw.trim
    }
    private def isIdentChar(c: Char): Boolean = c.isLetterOrDigit || c == '_' || c == '.'
  }

  def compile(dsl: String, ctx: FilterContext): Column = {
    val cur = new Cursor(dsl)
    val col = parseOr(cur, ctx)
    if (!cur.eof) throw new IllegalArgumentException(s"filter parse error: trailing input at ${cur.i} in: $dsl")
    col
  }

  private def parseOr(cur: Cursor, ctx: FilterContext): Column = {
    var left = parseAnd(cur, ctx)
    while (!cur.eof && cur.tryKeyword(Seq("or", "||", "|", "∨"))) left = left || parseAnd(cur, ctx)
    left
  }

  private def parseAnd(cur: Cursor, ctx: FilterContext): Column = {
    var left = parseAtom(cur, ctx)
    while (!cur.eof && cur.tryKeyword(Seq("and", "&&", "&", "∧"))) left = left && parseAtom(cur, ctx)
    left
  }

  private def parseAtom(cur: Cursor, ctx: FilterContext): Column =
    if (cur.tryKeyword(Seq("not", "!", "~"))) !parseAtom(cur, ctx)
    else parseGround(cur, ctx)

  private def parseGround(cur: Cursor, ctx: FilterContext): Column = {
    cur.ws()
    if (cur.peek == '(') {
      cur.expect('(')
      val inner = parseOr(cur, ctx)
      cur.expect(')')
      return inner
    }
    val name = cur.identifier()
    if (name.equalsIgnoreCase("true")) return lit(true)
    if (name.equalsIgnoreCase("false")) return lit(false)
    atom(name, cur.args(), ctx)
  }

  // ---------------- atom registry (reference Filters.java:44-52) ----------------

  private def atom(name: String, raw: String, ctx: FilterContext): Column = {
    import graft.functions.{duplicate_segments_lt, lower_root}
    def a0: String = {
      if (raw.isEmpty) throw new IllegalArgumentException(s"$name requires an argument")
      raw
    }
    def list: Array[String] = raw.split(",").map(_.trim).filter(_.nonEmpty)
    name match {
      case "SchemeEquals" => ctx.get("scheme", ctx.scheme) === a0
      case "HostEquals" => ctx.get("host", ctx.host) === a0
      case "HostEndsWith" => ctx.get("host", ctx.host).endsWith(a0)
      case "HostEndsWithOneOf" =>
        list.map(s => ctx.get("host", ctx.host).endsWith(s)).reduce(_ || _)
      case "PathEndsWithOneOf" =>
        // reference lowercases the raw path before the suffix test, with
        // JVM semantics (PathEndsWithOneOf.java:55-59)
        val lowered = lower_root(ctx.get("path", ctx.path))
        list.map(s => lowered.endsWith(s.toLowerCase(java.util.Locale.ROOT))).reduce(_ || _)
      case "URLMatchesRegex" =>
        // reference uses full-match semantics (URLMatchesRegex.java:54-56);
        // the RAW argument text is the regex (commas/braces intact)
        ctx.get("url", ctx.url).rlike("^(?:" + raw + ")$")
      case "URLEquals" =>
        // reference bug: compares the URI to itself, always true
        // (URLEquals.java:47-49). Implemented correctly; divergence noted.
        ctx.get("url", ctx.url) === a0
      case "URLShorterThan" => length(ctx.get("url", ctx.url)) < a0.toInt
      case "URLLongerThan" => length(ctx.get("url", ctx.url)) > a0.toInt
      case "DuplicateSegmentsLessThan" =>
        duplicate_segments_lt(ctx.get("path", ctx.path), a0.toInt)
      case "ContentTypeStartsWith" => ctx.get("contentType", ctx.contentType).startsWith(a0)
      case "StatusCategory" => floor(ctx.get("status", ctx.status) / 100) === a0.toInt
      case "IsProbablyBinary" =>
        // span-model heuristic: a document is "probably binary" if it has
        // media spans and no text (reference scans body bytes for NULs,
        // IsProbablyBinary.java:49-60 — no raw bytes in the span model)
        length(ctx.get("text", ctx.text)) === 0
      case "ResponseMatches" =>
        ctx.get("text", ctx.text).rlike("^(?s:" + raw + ")$")
      case "SameHost" => ctx.get("srcHost", ctx.srcHost) === ctx.get("dstHost", ctx.dstHost)
      case "DigestEquals" => ctx.get("digest", ctx.digest) === a0
      case "IsHttpResponse" => ctx.get("isHttpResponse", ctx.isHttpResponse)
      case other => throw new IllegalArgumentException(s"unknown filter atom: $other")
    }
  }
}
