package graft

import org.antlr.v4.runtime.{CharStreams, Token}
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer

/** SQL text as Spark's own parser lexes it: the one place the engine
  * decides where string literals, quoted identifiers, comments and
  * parentheses begin and end before Catalyst sees a statement. Every
  * text-level cut (set-operation splits, WITH clauses, derived tables,
  * DML assignment lists, MERGE sources, CTE reference counts) walks
  * these tokens, so it agrees with Spark's grammar on backslash
  * escapes, double-quoted literals, backticked names and nested
  * comments. */
object SqlText {

  /** A default-channel token: its [[SqlBaseLexer]] type, its
    * `[start, end)` offsets into the lexed text and the paren depth it
    * sits at — an open paren and its matching close share the depth
    * outside them. */
  final case class Tok(kind: Int, start: Int, end: Int, depth: Int, text: String) {
    /** The identifier or keyword this token spells, backticks
      * stripped; None for literals, numbers and punctuation. */
    def word: Option[String] =
      if (kind == SqlBaseLexer.BACKQUOTED_IDENTIFIER)
        Some(text.substring(1, text.length - 1).replace("``", "`"))
      else if (text.head.isLetter || text.head == '_') Some(text)
      else None
  }

  /** Every token of `sql`, comments and whitespace included, as
    * (type, start, end) over UTF-16 offsets. Lexing errors do not throw:
    * an unlexable character comes back as `UNRECOGNIZED`, and Spark's
    * parser reports the statement when it runs. */
  private def lex(sql: String): Vector[(Int, Int, Int)] = {
    // the grammar spells keywords in upper case; Spark's parser feeds it
    // through its package-private UpperCaseCharStream, and the same
    // per-character upper-casing here keeps every offset
    val lexer = new SqlBaseLexer(CharStreams.fromString(sql.map(Character.toUpperCase)))
    lexer.removeErrorListeners()
    // the char stream counts code points; map them back to String offsets
    val offset: Int => Int =
      if (sql.codePointCount(0, sql.length) == sql.length) identity
      else cp => sql.offsetByCodePoints(0, cp)
    Iterator.continually(lexer.nextToken()).takeWhile(_.getType != Token.EOF)
      .map(t => (t.getType, offset(t.getStartIndex), offset(t.getStopIndex + 1)))
      .toVector
  }

  /** The default-channel tokens of `sql` with their paren depths. */
  def tokens(sql: String): IndexedSeq[Tok] = {
    var depth = 0
    lex(sql).collect {
      case (k, s, e) if !isHidden(k) =>
        if (k == SqlBaseLexer.RIGHT_PAREN) depth -= 1
        val t = Tok(k, s, e, depth, sql.substring(s, e))
        if (k == SqlBaseLexer.LEFT_PAREN) depth += 1
        t
    }
  }

  /** Index of the close paren matching the open paren at `open`; None
    * when it is unclosed. */
  def closeParen(toks: IndexedSeq[Tok], open: Int): Option[Int] = {
    val d = toks(open).depth
    toks.indexWhere(t => t.kind == SqlBaseLexer.RIGHT_PAREN && t.depth == d, open + 1) match {
      case -1 => None
      case i => Some(i)
    }
  }

  /** The trimmed texts of `sql` around the `[start, end)` spans
    * `cuts`, which are in order and do not overlap. */
  def between(sql: String, cuts: Seq[(Int, Int)]): Seq[String] = {
    val bounds = 0 +: cuts.flatMap { case (s, e) => Seq(s, e) } :+ sql.length
    bounds.grouped(2).map { case Seq(s, e) => sql.substring(s, e).trim }.toSeq
  }

  /** `sql` split at its depth-0 tokens of type `kind` (a COMMA for a
    * list), each piece trimmed. */
  def splitAt(sql: String, kind: Int): Seq[String] =
    between(sql, tokens(sql).filter(t => t.depth == 0 && t.kind == kind).map(t => (t.start, t.end)))

  /** `sql` with every comment blanked to spaces (line breaks kept), so
    * offsets into the result are offsets into `sql`: for the callers
    * that match a regex over the text, where a phrase inside a comment
    * must neither bind nor desync a count. */
  def maskComments(sql: String): String = {
    val out = sql.toCharArray
    lex(sql).foreach { case (k, s, e) =>
      if (k == SqlBaseLexer.SIMPLE_COMMENT || k == SqlBaseLexer.BRACKETED_COMMENT)
        (s until e).foreach(i => if (out(i) != '\n') out(i) = ' ')
    }
    new String(out)
  }

  private def isHidden(kind: Int): Boolean =
    kind == SqlBaseLexer.WS || kind == SqlBaseLexer.SIMPLE_COMMENT ||
      kind == SqlBaseLexer.BRACKETED_COMMENT
}
