package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Arithmetic-expression compiler for the `eval` pipeline node: a tiny
  * recursive-descent parser producing a Catalyst `Column` tree (stays
  * inside whole-stage codegen — no UDF).
  *
  * Mirrors the reference's muparser-based node
  * (reference: libakumuli/query_processing/eval.cpp:1-204): variables are
  * metric names (dots allowed, e.g. `cpu.user`), missing cells read as 0.0
  * (eval.cpp:152-155), and unknown variables raise the same
  * `Unknown variable [name]` error (eval.cpp:121-139).
  *
  * Grammar (muparser arithmetic subset):
  * {{{
  *   expr    := term (('+'|'-') term)*
  *   term    := pow (('*'|'/') pow)*
  *   pow     := unary ('^' pow)?              // right-assoc
  *   unary   := '-' unary | primary
  *   primary := number | ident '(' expr (',' expr)* ')' | ident | '(' expr ')'
  * }}}
  */
object EvalExpr {

  final case class EvalParseException(msg: String)
      extends IllegalArgumentException(msg)
  private def fail(msg: String): Nothing = throw EvalParseException(msg)

  /** Compile `input` against the variable map (metric name -> column). */
  def compile(input: String, vars: Map[String, Column]): Column =
    new P(input, n => vars.getOrElse(n, fail(s"Unknown variable [$n]")))
      .parseAll()

  private val fn1: Map[String, Column => Column] = Map(
    "abs" -> abs, "sqrt" -> sqrt, "exp" -> exp,
    "ln" -> log, "log" -> log, "log10" -> log10, "log2" -> log2,
    "sin" -> sin, "cos" -> cos, "tan" -> tan,
    "asin" -> asin, "acos" -> acos, "atan" -> atan,
    "sinh" -> sinh, "cosh" -> cosh, "tanh" -> tanh,
    "sign" -> signum, "rint" -> ((c: Column) => round(c, 0)))

  private val fnN: Map[String, Seq[Column] => Column] = Map(
    "min" -> (cs => cs.reduce(least(_, _))),
    "max" -> (cs => cs.reduce(greatest(_, _))),
    "sum" -> (cs => cs.reduce(_ + _)),
    "avg" -> (cs => cs.reduce(_ + _) / lit(cs.size.toDouble)))

  private final class P(s: String, lookup: String => Column) {
    private var i = 0

    def parseAll(): Column = {
      val c = expr()
      ws()
      if (i < s.length) fail(s"Expression parsing error at: $i token: ${s(i)}")
      c
    }

    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    private def peek: Char = if (i < s.length) s(i) else '\u0000'
    private def eat(c: Char): Unit = {
      ws()
      if (peek != c) fail(s"Expression parsing error at: $i expected '$c'")
      i += 1
    }

    private def expr(): Column = {
      var acc = term()
      var done = false
      while (!done) {
        ws()
        peek match {
          case '+' => i += 1; acc = acc + term()
          case '-' => i += 1; acc = acc - term()
          case _   => done = true
        }
      }
      acc
    }

    private def term(): Column = {
      var acc = unary()
      var done = false
      while (!done) {
        ws()
        peek match {
          case '*' => i += 1; acc = acc * unary()
          case '/' => i += 1; acc = Pipe.ieeeDiv(acc, unary())
          case _   => done = true
        }
      }
      acc
    }

    // '^' binds TIGHTER than unary minus, like muparser's pow vs infix
    // operators (the reference's eval engine): -x^2 = -(x^2), while the
    // exponent itself may be signed (x^-2). Right-associative.
    private def unary(): Column = {
      ws()
      if (peek == '-') { i += 1; -unary() }
      else pow()
    }

    private def pow(): Column = {
      val base = primary()
      ws()
      if (peek == '^') { i += 1; org.apache.spark.sql.functions.pow(base, unary()) }
      else base
    }

    private def primary(): Column = {
      ws()
      peek match {
        case '(' =>
          i += 1; val c = expr(); eat(')'); c
        case c if c.isDigit || c == '.' =>
          number()
        case c if c.isLetter || c == '_' =>
          val name = ident()
          ws()
          if (peek == '(') {
            i += 1
            val args = scala.collection.mutable.Buffer(expr())
            ws()
            while (peek == ',') { i += 1; args += expr(); ws() }
            eat(')')
            fn1.get(name) match {
              case Some(f) if args.size == 1 => f(args.head)
              case _ => fnN.get(name) match {
                case Some(f) => f(args.toSeq)
                case None    => fail(s"unknown function '$name'")
              }
            }
          } else lookup(name)
        case c => fail(s"Expression parsing error at: $i token: $c")
      }
    }

    private def number(): Column = {
      val start = i
      while (i < s.length && (s(i).isDigit || s(i) == '.')) i += 1
      if (i < s.length && (s(i) == 'e' || s(i) == 'E')) {
        i += 1
        if (i < s.length && (s(i) == '+' || s(i) == '-')) i += 1
        while (i < s.length && s(i).isDigit) i += 1
      }
      lit(s.substring(start, i).toDouble)
    }

    /** Identifier: letters/digits/underscore plus '.' (metric names like
      * `cpu.user`). A trailing '.' is not consumed. */
    private def ident(): String = {
      val start = i
      while (i < s.length &&
             (s(i).isLetterOrDigit || s(i) == '_' || s(i) == '.')) i += 1
      var end = i
      while (end > start && s(end - 1) == '.') end -= 1
      i = end
      s.substring(start, end)
    }
  }
}
