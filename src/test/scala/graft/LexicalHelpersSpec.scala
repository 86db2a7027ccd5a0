package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** Property checks of the dialect's lexical helpers in
  * [[HiveStatements]] against simple token-level references. The
  * generator builds HiveQL-like text from tokens, so it knows which
  * characters are code: words (`x` among them, so a masked literal
  * that reads as an identifier is caught), commas, optimizer hints,
  * backticked names and properly nested `( )` and `< >` groups, mixed
  * with '…' and "…" literals whose bodies hold escaped and doubled
  * quotes, parens, angle brackets and commas, and with `--` and block
  * comments whose bodies hold quotes, parens and commas. */
class LexicalHelpersSpec extends AnyFunSuite {
  import HiveStatements._

  /** What a token's text is: code (a literal's quotes and a comment's
    * delimiters are code), a literal body or a comment body. */
  private sealed trait Kind
  private case object Code extends Kind
  private case object LiteralBody extends Kind
  private case object CommentBody extends Kind

  private case class Tok(text: String, kind: Kind) {
    def code = kind == Code
  }

  private val word = Gen.oneOf("a", "k1", "sel", "x", " ", "  ", "=", "+",
    "/*+ mapjoin(a) */", "/*+ x */").map(Tok(_, Code))

  /** A backticked name: code, whose quotes, parens and commas are not
    * structure (a space after it keeps it from running into the next
    * token). */
  private val backticked = Gen.oneOf("`a'b`", "`x(\"`", "`k,1`", "`--`")
    .map(n => List(Tok(n, Code), Tok(" ", Code)))

  /** A literal as three tokens: opening quote, body, closing quote. */
  private val literal: Gen[List[Tok]] = for {
    q <- Gen.oneOf("'", "\"")
    other = if (q == "'") "\"" else "'"
    body <- Gen.listOf(Gen.oneOf("b", "x", " ", "(", ")", ",", "<", ">",
      "\\" + q, q + q, "\\\\", other, "--", "/*", "`"))
  } yield List(Tok(q, Code), Tok(body.mkString, LiteralBody), Tok(q, Code))

  /** A `--` comment to the end of its line, or a block comment. */
  private val comment: Gen[List[Tok]] = for {
    line <- Gen.oneOf(true, false)
    body <- Gen.listOf(Gen.oneOf(Seq("'", "\"", "(", ")", ",", "x", " ",
      "`") ++ (if (line) Seq("/*") else Seq("--", "\n"))))
  } yield
    if (line) List(Tok("--", Code), Tok(body.mkString, CommentBody),
      Tok("\n", Code))
    else List(Tok("/*", Code), Tok(body.mkString, CommentBody),
      Tok("*/", Code))

  private def tokens(depth: Int): Gen[List[Tok]] =
    Gen.listOf(Gen.frequency(Seq(
      4 -> word.map(List(_)),
      2 -> Gen.const(List(Tok(",", Code))),
      // a space after each literal keeps two literals from reading as
      // one literal with a doubled quote
      2 -> literal.map(_ :+ Tok(" ", Code)),
      1 -> comment,
      1 -> backticked) ++
      Option.when(depth > 0)(1 -> (for {
        (open, close) <- Gen.oneOf(("(", ")"), ("<", ">"))
        inner <- tokens(depth - 1)
      } yield Tok(open, Code) +: inner :+ Tok(close, Code))): _*))
      .map(_.flatten)

  private val sql = Gen.resize(12, tokens(3))

  /** Each token with its offset into the joined text. */
  private def offsets(toks: List[Tok]): List[(Tok, Int)] =
    toks.zip(toks.scanLeft(0)(_ + _.text.length))

  /** The reference splitter: cut at code `sep` tokens, at depth 0 of a
    * stack of open `(`/`<` tokens unless `anyDepth`. */
  private def refSplit(toks: List[Tok], anyDepth: Boolean): Seq[String] = {
    val stack = scala.collection.mutable.Stack[String]()
    val pieces = scala.collection.mutable.ListBuffer(new StringBuilder)
    toks.foreach { t =>
      if (t.code && (t.text == "(" || t.text == "<")) stack.push(t.text)
      if (t.code && (t.text == ")" || t.text == ">")) stack.pop()
      if (t.code && t.text == "," && (anyDepth || stack.isEmpty))
        pieces += new StringBuilder
      else pieces.last ++= t.text
    }
    pieces.map(_.result().trim).filter(_.nonEmpty).toSeq
  }

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(500), p)
    assert(r.passed, r.status)
  }

  test("maskStringLiterals keeps the length and every code character, " +
      "fills literal bodies and blanks comment bodies") {
    check(Prop.forAllNoShrink(sql) { toks =>
      val text = toks.map(_.text).mkString
      val masked = maskStringLiterals(text)
      masked.length == text.length && offsets(toks).forall {
        case (t, at) => t.text.indices.forall(i => masked(at + i) ==
          (t.kind match {
            case Code => t.text(i)
            case LiteralBody => LiteralFill
            case CommentBody => ' '
          }))
      }
    })
  }

  test("matchesInCode finds identifiers in code only") {
    check(Prop.forAllNoShrink(sql) { toks =>
      val text = toks.map(_.text).mkString
      val codeAt = offsets(toks).flatMap { case (t, at) =>
        t.text.indices.map(i => (at + i) -> t.code) }.toMap
      matchesInCode(text, "\\w+".r).forall(m =>
        (m.start until m.end).forall(codeAt))
    })
  }

  test("splitTop and splitQuoted agree with a stack-based reference") {
    check(Prop.forAllNoShrink(sql) { toks =>
      val text = toks.map(_.text).mkString
      splitTop(text, ',') == refSplit(toks, anyDepth = false) &&
        splitQuoted(text, ',') == refSplit(toks, anyDepth = true)
    })
  }

  test("balancedBody closes every code paren at its stack partner") {
    check(Prop.forAllNoShrink(sql) { toks =>
      val text = toks.map(_.text).mkString
      val open = scala.collection.mutable.Stack[Int]()
      offsets(toks).forall {
        case (Tok("(", Code), at) => open.push(at); true
        case (Tok(")", Code), at) =>
          val o = open.pop()
          balancedBody(text, o) == Some((text.substring(o + 1, at), at + 1))
        case _ => true
      }
    })
  }
}
