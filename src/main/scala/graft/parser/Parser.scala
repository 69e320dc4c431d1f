package graft.parser

import graft.lexer.Lexer
import graft.lexer.Lexer.{Keyword, PosToken, Token}

/** Recursive-descent parser over the token list (reference:
  * src/Ifrit/Parser.purs). Clause order is strict — SELECT, FROM, WHERE,
  * GROUP BY, ORDER BY, LIMIT, OFFSET — enforced by the sequential optional
  * parses; leftover tokens at the end yield `ErrEOF`
  * (reference: src/Ifrit/Parser.purs:439-468).
  */
object Parser {

  type Tokens = List[PosToken]
  /** Result: Left(error string) or Right(value, remaining tokens). */
  type P[A] = Either[String, (A, Tokens)]

  // -- error messages (reference: src/Ifrit/Parser.purs:585-608)
  private def errParenthesis(ts: Tokens): String = ts match {
    case PosToken(pos, token) :: _ =>
      s"unbalanced parenthesis expression: expected `)` but got: ${token.show} at position $pos"
    case Nil => "unbalanced parenthesis expression: expected `)` but got end of input"
  }
  private def errUnexpected(ts: Tokens): String = ts match {
    case PosToken(pos, token) :: _ => s"unexpected token: ${token.show} at position $pos"
    case Nil                       => "unexpected end of expression"
  }
  private def errNotInteger(pos: Int, k: Keyword): String =
    s"${k.show} must be an integer at position $pos"
  private def errInvalidArgument(pos: Int, f: Lexer.Funktion): String =
    s"${f.show} has an invalid argument at position $pos"
  private val errEOF = "unexpected end of input"

  /** Deepest nesting [[statement]] parses: parentheses, `NOT`s, prefix
    * minuses, function arguments, derived tables and each operator of an
    * arithmetic chain, each one level. Deeper input is a `Left` rather than
    * a stack overflow, here or in the semantic and planner layers, which
    * recurse over the AST.
    */
  val MaxDepth = 256

  private val DepthErrorPrefix = s"nesting deeper than $MaxDepth at "
  private def errDepth(ts: Tokens): String = ts match {
    case PosToken(pos, _) :: _ => s"${DepthErrorPrefix}position $pos"
    case Nil                   => s"${DepthErrorPrefix}end of input"
  }

  def parse(tokens: Tokens): Either[String, Statement] =
    statement(tokens).flatMap {
      case (stmt, Nil) => Right(stmt)
      // The reference's top-level parse consumes everything through EOF
      // inside the statement rule; trailing tokens beyond a subquery close
      // are impossible here because statement() already demands EOF/`)`.
      case (stmt, _)   => Right(stmt)
    }

  /** With `extensions = false` (default) this is bug-compatible with the
    * reference: DISTINCT lexes but fails to parse ("unexpected token"),
    * exactly as the reference's roadmap item sits unimplemented. With
    * `extensions = true`, `SELECT DISTINCT …` wraps the parsed statement
    * in [[Statement.Distinct]].
    */
  def statement(ts: Tokens, extensions: Boolean = false): P[Statement] =
    new Grammar(extensions).statement(ts)

  // a list segment awaiting the list parsed at `rest` (see Grammar.list)
  private sealed trait Frame[A] { def rest: Tokens }
  // a direct element; `err` (null: the rest's own) replaces a failure
  private final case class Elem[A](x: A, err: String, rest: Tokens) extends Frame[A]
  // a group parsed at `at`; on failure, `at` is retried as an element
  private final case class Group[A](at: Tokens, xs: List[A], rest: Tokens) extends Frame[A]

  /** The rules of one parse, with the nesting depth it has reached. */
  private final class Grammar(extensions: Boolean) {
    private var depth = 0

    // parses one level deeper; `ts` starts with the token that opens it
    private def nested[A](ts: Tokens)(p: => P[A]): P[A] =
      if (depth == MaxDepth) Left(errDepth(ts))
      else {
        depth += 1
        val r = p
        depth -= 1
        r
      }

    def statement(ts: Tokens): P[Statement] = ts match {
      case PosToken(_, Token.Key(Keyword.Select)) :: q0 =>
        val (isDistinct, q) = q0 match {
          case PosToken(_, Token.Key(Keyword.Distinct)) :: rest if extensions => (true, rest)
          case _ => (false, q0)
        }
        for {
          r1 <- selectorList(q)
          (selectors, q1) = r1
          r2 <- maybeClause(q1, Keyword.From, (q: Tokens) => nested(q)(statement(q)))
          (from, q2) = r2
          r3 <- maybeClause(q2, Keyword.Where, condition)
          (where, q3) = r3
          r4 <- maybeClause(q3, Keyword.GroupBy, index)
          (groupBy, q4) = r4
          r5 <- maybeClause(q4, Keyword.OrderBy, orderList)
          (orderBy, q5) = r5
          r6 <- maybeClause(q5, Keyword.Limit, limit)
          (lim, q6) = r6
          r7 <- maybeClause(q6, Keyword.Offset, offset)
          (off, q7) = r7
          res <- {
            def done(rest: Tokens): P[Statement] = {
              val stmt = combine(selectors, from, where, groupBy, orderBy.getOrElse(Nil), lim, off)
              Right(((if (isDistinct) Statement.Distinct(stmt) else stmt), rest))
            }
            q7 match {
              case PosToken(_, Token.EOF) :: Nil  => done(Nil)
              case PosToken(_, Token.Close) :: q8 => done(q8)
              case _                              => Left(errEOF)
            }
          }
        } yield res

      case PosToken(_, Token.Open) :: q => nested(ts)(statement(q))
      case q                           => Left(errUnexpected(q))
    }

    private def combine(
        selectors: List[Selector],
        from: Option[Statement],
        where: Option[Condition],
        groupBy: Option[Index],
        orders: List[Order],
        limit: Option[Int],
        offset: Option[Int],
    ): Statement = groupBy match {
      case None      => Statement.Select(selectors, from, where, orders, limit, offset)
      case Some(idx) => Statement.Group(idx, selectors, from, where, orders, limit, offset)
    }

    private def maybeClause[A](ts: Tokens, key: Keyword, p: Tokens => P[A]): P[Option[A]] =
      ts match {
        case PosToken(_, Token.Key(k)) :: q if k == key =>
          p(q).map { case (a, rest) => (Some(a), rest) }
        case _ => Right((None, ts))
      }

    // -- generic comma/paren list (reference: src/Ifrit/Parser.purs:405-437)
    //
    // The reference recurses once per element: each segment — a
    // parenthesized group (a nested list, one level deeper) or a direct
    // element — is followed, after a comma, by the rest of the list, and a
    // group whose parse fails ANYWHERE, the rest of the list included, is
    // retried as a direct element that keeps the group's error. This loop
    // walks the segments with a stack of frames awaiting the rest of the
    // list, so a list's length costs no stack. Where the rest of the list is
    // known to fail, it is not parsed again.
    private def list[A](ts0: Tokens, p: Tokens => P[A]): P[List[A]] = {
      var stack: List[Frame[A]] = Nil
      var failed: java.util.IdentityHashMap[Tokens, String] = null // made on a first failure
      var done: P[List[A]] = null // the list parsed at the top frame's `rest`
      var ts = ts0 // where the next segment starts, when `done` is null

      // an element at `at`, the group's retry when `err` is not null
      def element(at: Tokens, err: String): Unit = p(at) match {
        case Left(e)                                      => done = Left(if (err == null) e else err)
        case Right((x, PosToken(_, Token.Comma) :: rest)) => stack ::= Elem(x, err, rest); ts = rest
        case Right((x, rest))                             => done = Right((List(x), rest))
      }

      while (stack.nonEmpty || done == null) {
        if (done == null) {
          val known = if (failed == null) null else failed.get(ts)
          if (known != null) done = Left(known)
          else ts match {
            case PosToken(_, Token.Open) :: q =>
              nested(ts)(list(q, p)) match {
                case Right((xs, PosToken(_, Token.Close) :: PosToken(_, Token.Comma) :: rest)) =>
                  stack ::= Group(ts, xs, rest); ts = rest
                case Right((xs, PosToken(_, Token.Close) :: rest)) => done = Right((xs, rest))
                // extensions: a leading-paren arithmetic selector — e.g.
                // `(a + 1) / 2 AS x` — is not a parenthesized list; retry
                // the element parser, which scopes its own parentheses. In
                // parity mode an element starting with `(` parses as a
                // one-element paren list whenever it parses at all, so
                // this retry can only succeed for extension syntax; on
                // double failure the group's (reference-exact) error is kept.
                case Right((_, rest)) => element(ts, errParenthesis(rest))
                case Left(e)          => element(ts, e)
              }
            case _ => element(ts, null)
          }
        } else {
          val frame = stack.head
          stack = stack.tail
          (frame, done) match {
            case (Elem(x, _, _), Right((xs, rest)))    => done = Right((x :: xs, rest))
            case (Group(_, xs, _), Right((xs2, rest))) => done = Right((xs ++ xs2, rest))
            case (_, Left(e)) =>
              if (failed == null) failed = new java.util.IdentityHashMap()
              failed.put(frame.rest, e)
              frame match {
                case Elem(_, err, _) => if (err != null) done = Left(err)
                case Group(at, _, _) => done = null; element(at, e)
              }
          }
        }
      }
      done
    }

    def selectorList(ts: Tokens): P[List[Selector]] = list(ts, selector)
    def orderList(ts: Tokens): P[List[Order]] = list(ts, order)

    // -- selector (reference: src/Ifrit/Parser.purs:356-402)
    // Extension cases are inherently gated: Star/Arith tokens only exist when
    // the lexer ran with extensions = true, so the parity grammar is unchanged.
    def selector(ts: Tokens): P[Selector] = ts match {
      case PosToken(_, Token.Star) :: q => Right((Selector.Star, q))
      case _ =>
        numExpr(ts) match {
          // a COMPOUND numeric expression claims the selector; an alias is
          // mandatory (the dialect has no generated-name convention). A bare
          // field/literal falls through to the reference grammar below.
          case Right((e @ (_: NumExpr.NBin | _: NumExpr.NNeg), rest)) =>
            rest match {
              case PosToken(_, Token.Key(Keyword.As)) :: PosToken(_, Token.Word(as)) :: q2 =>
                Right((Selector.Expr(e, as), q2))
              case q2 => Left(errArithAlias(q2))
            }
          // too deep for the arithmetic grammar is too deep for any
          case Left(e) if e.startsWith(DepthErrorPrefix) => Left(e)
          case _ => selectorBase(ts)
        }
    }

    private def errArithAlias(ts: Tokens): String = ts match {
      case PosToken(pos, token) :: _ =>
        s"arithmetic projection requires an AS alias but got: ${token.show} at position $pos"
      case Nil => "arithmetic projection requires an AS alias but got end of input"
    }

    // -- numeric expressions (extensions only): + - over * / over atoms,
    // left-associative, parenthesized subexpressions allowed. Each chained
    // operator nests the left-deep tree one level deeper, so it counts
    // against MaxDepth until its chain ends, as a parenthesis would.
    private def numExpr(ts: Tokens): P[NumExpr] =
      numTerm(ts).flatMap { case (l, rest) => numExprLoop(l, rest) }
    private def numExprLoop(acc: NumExpr, ts: Tokens): P[NumExpr] = ts match {
      case PosToken(_, Token.Arith(op @ ("+" | "-"))) :: q =>
        nested(ts)(numTerm(q).flatMap { case (r, rest) => numExprLoop(NumExpr.NBin(op, acc, r), rest) })
      case _ => Right((acc, ts))
    }
    private def numTerm(ts: Tokens): P[NumExpr] =
      numAtom(ts).flatMap { case (l, rest) => numTermLoop(l, rest) }
    private def numTermLoop(acc: NumExpr, ts: Tokens): P[NumExpr] = ts match {
      case PosToken(_, Token.Star) :: q =>
        nested(ts)(numAtom(q).flatMap { case (r, rest) => numTermLoop(NumExpr.NBin("*", acc, r), rest) })
      case PosToken(_, Token.Arith("/")) :: q =>
        nested(ts)(numAtom(q).flatMap { case (r, rest) => numTermLoop(NumExpr.NBin("/", acc, r), rest) })
      case _ => Right((acc, ts))
    }
    private def numAtom(ts: Tokens): P[NumExpr] = ts match {
      // prefix minus binds tighter than the binary operators: -a * b = (-a) * b
      case PosToken(_, Token.Arith("-")) :: q =>
        nested(ts)(numAtom(q)).map { case (e, rest) => (NumExpr.NNeg(e), rest) }
      case PosToken(_, Token.Num(n)) :: q  => Right((NumExpr.NLit(n), q))
      // dialect function call as an arithmetic atom: per-row array reduction
      // in SELECT context, grouped aggregate under GROUP BY (semantic layer
      // enforces the context rules)
      case PosToken(_, Token.Fn(f)) :: PosToken(_, Token.Open) ::
           PosToken(_, Token.Word(w)) :: PosToken(_, Token.Close) :: q =>
        Right((NumExpr.NFn(f, w), q))
      case PosToken(_, Token.Word(w)) :: q => Right((NumExpr.NField(w), q))
      case PosToken(_, Token.Open) :: q =>
        nested(ts)(numExpr(q)).flatMap { case (e, rest) =>
          rest match {
            case PosToken(_, Token.Close) :: q2 => Right((e, q2))
            case q2                             => Left(errParenthesis(q2))
          }
        }
      case q => Left(errUnexpected(q))
    }

    private def selectorBase(ts: Tokens): P[Selector] = ts match {
      case PosToken(_, Token.Word(w)) :: PosToken(_, Token.Key(Keyword.As)) :: PosToken(_, Token.Word(as)) :: q =>
        Right((Selector.Field(w, Some(as)), q))
      case PosToken(_, Token.Word(w)) :: q =>
        Right((Selector.Field(w, None), q))
      case PosToken(_, Token.Fn(f)) :: PosToken(pos, Token.Open) :: q =>
        nested(ts)(selectorList(q)).flatMap {
          case (List(Selector.Field(w, None)), rest) =>
            rest match {
              case PosToken(_, Token.Close) :: PosToken(_, Token.Key(Keyword.As)) :: PosToken(_, Token.Word(as)) :: q2 =>
                Right((Selector.Fn(f, w, Some(as)), q2))
              case PosToken(_, Token.Close) :: q2 =>
                Right((Selector.Fn(f, w, None), q2))
              case q2 => Left(errParenthesis(q2))
            }
          case _ => Left(errInvalidArgument(pos, f))
        }
      case PosToken(_, Token.Open) :: q =>
        nested(ts)(selector(q)).flatMap { case (s, rest) =>
          rest match {
            case PosToken(_, Token.Close) :: q2 => Right((s, q2))
            case q2                             => Left(errParenthesis(q2))
          }
        }
      case q => Left(errUnexpected(q))
    }

    // -- condition / term / factor / operand (reference: src/Ifrit/Parser.purs:194-291)
    def condition(ts: Tokens): P[Condition] =
      term(ts).flatMap { case (left, rest) =>
        rest match {
          case PosToken(_, Token.Key(Keyword.Or)) :: q =>
            term(q).map { case (right, rest2) => (Condition.Or(left, right), rest2) }
          case _ => Right((Condition.Term(left), rest))
        }
      }

    def term(ts: Tokens): P[Term] =
      factor(ts).flatMap { case (left, rest) =>
        rest match {
          case PosToken(_, Token.Key(Keyword.And)) :: q =>
            factor(q).map { case (right, rest2) => (Term.And(left, right), rest2) }
          case _ => Right((Term.Fact(left), rest))
        }
      }

    def factor(ts: Tokens): P[Factor] = ts match {
      case PosToken(_, Token.Not) :: q =>
        nested(ts)(factor(q)).map { case (f, rest) => (Factor.Not(f), rest) }
      case PosToken(_, Token.Open) :: q =>
        nested(ts)(condition(q)).flatMap { case (c, rest) =>
          rest match {
            case PosToken(_, Token.Close) :: q2 => Right((Factor.Cond(c), q2))
            case q2                             => Left(errParenthesis(q2))
          }
        }
      case _ =>
        operand(ts).flatMap { case (left, rest) =>
          rest match {
            case PosToken(_, Token.Bin(op)) :: q =>
              operand(q).map { case (right, rest2) => (Factor.Bin(op, left, right), rest2) }
            case _ => Right((Factor.Op(left), rest))
          }
        }
    }

    def operand(ts: Tokens): P[Operand] = ts match {
      case PosToken(_, Token.Str(s)) :: q                  => Right((Operand.Str(s), q))
      case PosToken(_, Token.Bool(b)) :: q                 => Right((Operand.Bool(b), q))
      case PosToken(_, Token.Num(n)) :: q                  => Right((Operand.Num(n), q))
      case PosToken(_, Token.Key(Keyword.Null)) :: q       => Right((Operand.Null, q))
      case PosToken(_, Token.Word(w)) :: q                 => Right((Operand.Field(w), q))
      case PosToken(_, Token.Open) :: q =>
        nested(ts)(operand(q)).flatMap { case (o, rest) =>
          rest match {
            case PosToken(_, Token.Close) :: q2 => Right((o, q2))
            case q2                             => Left(errParenthesis(q2))
          }
        }
      case q => Left(errUnexpected(q))
    }

    // -- order (reference: src/Ifrit/Parser.purs:294-323)
    def order(ts: Tokens): P[Order] = ts match {
      case PosToken(_, Token.Word(s)) :: PosToken(_, Token.Key(Keyword.Asc)) :: q =>
        Right((Order.Asc(s), q))
      case PosToken(_, Token.Word(s)) :: PosToken(_, Token.Key(Keyword.Desc)) :: q =>
        Right((Order.Desc(s), q))
      case PosToken(_, Token.Word(s)) :: q =>
        Right((Order.Asc(s), q))
      case PosToken(_, Token.Open) :: q =>
        nested(ts)(order(q)).flatMap { case (o, rest) =>
          rest match {
            case PosToken(_, Token.Close) :: q2 => Right((o, q2))
            case q2                             => Left(errParenthesis(q2))
          }
        }
      case q => Left(errUnexpected(q))
    }

    // -- index (reference: src/Ifrit/Parser.purs:167-191)
    def index(ts: Tokens): P[Index] = ts match {
      case PosToken(_, Token.Word(s)) :: q            => Right((Index.IdxField(s), q))
      case PosToken(_, Token.Key(Keyword.Null)) :: q  => Right((Index.IdxNull, q))
      case PosToken(_, Token.Open) :: q =>
        nested(ts)(index(q)).flatMap { case (i, rest) =>
          rest match {
            case PosToken(_, Token.Close) :: q2 => Right((i, q2))
            case q2                             => Left(errParenthesis(q2))
          }
        }
      case q => Left(errUnexpected(q))
    }

    // -- limit / offset: integers only (reference: src/Ifrit/Parser.purs:326-353)
    def limit(ts: Tokens): P[Int] = intClause(ts, Keyword.Limit)
    def offset(ts: Tokens): P[Int] = intClause(ts, Keyword.Offset)

    private def intClause(ts: Tokens, k: Keyword): P[Int] = ts match {
      case PosToken(pos, Token.Num(n)) :: q =>
        if (n.isWhole && n.isValidInt) Right((n.toInt, q))
        else Left(errNotInteger(pos, k))
      case q => Left(errUnexpected(q))
    }
  }
}
