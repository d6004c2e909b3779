"""Tag-filter SQL dialect: hand-rolled tokenizer + recursive-descent parser.

Accepts exactly the language of the reference's pyparsing grammar
(reference osm_export_tool/sql.py:9-27) and evaluates with the exact
semantics of its ``_match`` interpreter (sql.py:74-98), but is written
from scratch with no pyparsing dependency.  The AST is the same
prefix-tuple form the reference uses (sql.py:100-116) so downstream
compilers (Catalyst, pushdown backends) share one IR:

    ('and'|'or', e1, e2)
    ('='|'!='|'<'|'>'|'<='|'>=', key, const)   # const is always a str
    ('notnull', key)
    ('in', key, [consts])
    ()                                          # match-nothing

Grammar (case-insensitive keywords):

    expr      := condition ((AND | OR) expr)?          # right-associative
    condition := column IS NOT NULL
               | column BINOP rvalue
               | column IN '(' rvalue (',' rvalue)* ')'
               | '(' expr ')'
    column    := IDENT | quoted-string
    rvalue    := INTEGER | quoted-string
    IDENT     := [A-Za-z][A-Za-z0-9_:]*
    BINOP     := = | != | < | > | <= | >=

Notable contractual traps (do NOT "fix" these):
  - integer rvalues stay *strings* ("addr:housenumber = 1" matches the
    tag value '1'; reference test/test_sql.py:72-73),
  - range comparisons are *lexicographic* on str() of both sides
    (sql.py:91-97: '9' > '20' is True),
  - '!=' is true when the key is absent (sql.py:89).
"""

from __future__ import annotations


class InvalidSQL(Exception):
    pass


class ParseError(InvalidSQL):
    pass


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_IDENT_START = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
_IDENT_BODY = _IDENT_START | set("0123456789_:")
_DIGITS = set("0123456789")

# token types
IDENT, NUMBER, STRING, OP, LPAREN, RPAREN, COMMA = (
    "IDENT", "NUMBER", "STRING", "OP", "LPAREN", "RPAREN", "COMMA",
)


def tokenize(s):
    """Yield (type, value) tokens; raise ParseError on any other char."""
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
            continue
        if c in _IDENT_START:
            j = i + 1
            while j < n and s[j] in _IDENT_BODY:
                j += 1
            out.append((IDENT, s[i:j]))
            i = j
        elif c in _DIGITS:
            j = i + 1
            while j < n and s[j] in _DIGITS:
                j += 1
            out.append((NUMBER, s[i:j]))
            i = j
        elif c in ("'", '"'):
            j = s.find(c, i + 1)
            if j < 0:
                raise ParseError("unterminated string at %d" % i)
            out.append((STRING, s[i + 1 : j]))
            i = j + 1
        elif c == "(":
            out.append((LPAREN, c))
            i += 1
        elif c == ")":
            out.append((RPAREN, c))
            i += 1
        elif c == ",":
            out.append((COMMA, c))
            i += 1
        elif c in "=<>!":
            two = s[i : i + 2]
            if two in ("!=", "<=", ">="):
                out.append((OP, two))
                i += 2
            elif c in "=<>":
                out.append((OP, c))
                i += 1
            else:
                raise ParseError("bad operator at %d" % i)
        else:
            raise ParseError("unexpected character %r at %d" % (c, i))
    return out


# ---------------------------------------------------------------------------
# Parser → prefix AST
# ---------------------------------------------------------------------------


class _Parser:
    def __init__(self, tokens):
        self.toks = tokens
        self.pos = 0

    def peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        if t[0] is None:
            raise ParseError("unexpected end of input")
        self.pos += 1
        return t

    def _kw(self, tok, *words):
        return tok[0] == IDENT and tok[1].lower() in words

    def expression(self):
        left = self.condition()
        t = self.peek()
        if self._kw(t, "and", "or"):
            self.next()
            right = self.expression()  # right-assoc, equal precedence
            return (t[1].lower(), left, right)
        return left

    def condition(self):
        t = self.peek()
        if t[0] == LPAREN:
            self.next()
            e = self.expression()
            if self.next()[0] != RPAREN:
                raise ParseError("expected )")
            return e
        col = self.column()
        t = self.peek()
        if self._kw(t, "is"):
            self.next()
            t2 = self.next()
            t3 = self.next()
            if not (self._kw(t2, "not") and self._kw(t3, "null")):
                raise ParseError("expected IS NOT NULL")
            return ("notnull", col)
        if t[0] == OP:
            self.next()
            return (t[1], col, self.rvalue())
        if self._kw(t, "in"):
            self.next()
            if self.next()[0] != LPAREN:
                raise ParseError("expected ( after IN")
            vals = [self.rvalue()]
            while self.peek()[0] == COMMA:
                self.next()
                vals.append(self.rvalue())
            if self.next()[0] != RPAREN:
                raise ParseError("expected ) closing IN list")
            return ("in", col, vals)
        raise ParseError("expected condition near %r" % (t[1],))

    def column(self):
        t = self.next()
        if t[0] in (IDENT, STRING):
            if t[0] == IDENT and t[1].lower() in ("and", "or", "in", "is"):
                raise ParseError("keyword cannot be a column name")
            return t[1]
        raise ParseError("expected column name, got %r" % (t[1],))

    def rvalue(self):
        t = self.next()
        if t[0] in (NUMBER, STRING):
            return t[1]  # ints stay strings — contractual (sql.py:20)
        raise ParseError("expected value, got %r" % (t[1],))


def to_prefix(sql):
    """Parse a where-clause string to the prefix-tuple AST (parse-all)."""
    p = _Parser(tokenize(sql))
    expr = p.expression()
    if p.pos != len(p.toks):
        raise ParseError("trailing input after expression")
    return expr


# ---------------------------------------------------------------------------
# Validator (reference sql.py:29-65)
# ---------------------------------------------------------------------------


class SQLValidator:
    """Parse-only validation of the restricted dialect + column extraction."""

    def __init__(self, s):
        self._s = s
        self._errors = []
        self._ast = None

    @property
    def valid(self):
        try:
            self._ast = to_prefix(self._s)
            return True
        except InvalidSQL:
            self._errors.append("SQL could not be parsed.")
            return False

    @property
    def errors(self):
        return self._errors

    @property
    def column_names(self):
        out = []

        def walk(e):
            if not e:
                return
            if e[0] in ("and", "or"):
                walk(e[1])
                walk(e[2])
            else:
                out.append(e[1])

        walk(self._ast)
        return out


# ---------------------------------------------------------------------------
# Matcher — row-level evaluator with the reference's exact truth table
# (reference sql.py:74-98,118-143); used by tests and as the oracle for
# the Catalyst compiler (functions/compile.py).
# ---------------------------------------------------------------------------


def _eval(expr, tags):
    if len(expr) == 0:
        return False
    op = expr[0]
    if op == "and":
        return _eval(expr[1], tags) and _eval(expr[2], tags)
    if op == "or":
        return _eval(expr[1], tags) or _eval(expr[2], tags)
    key = expr[1]
    present = key in tags
    if op == "notnull":
        return present
    if op == "=":
        return present and tags[key] == expr[2]
    if op == "!=":
        return (not present) or tags[key] != expr[2]
    if op == "in":
        return present and tags[key] in expr[2]
    if op in (">", "<", ">=", "<="):
        if not present:
            return False
        a, b = str(tags[key]), str(expr[2])  # lexicographic — contractual
        return {">": a > b, "<": a < b, ">=": a >= b, "<=": a <= b}[op]
    raise InvalidSQL("unknown operator %r" % op)


class Matcher:
    def __init__(self, expr):
        self.expr = expr

    def matches(self, tags):
        return _eval(self.expr, tags)

    def union(self, other):
        if other.expr == ():
            return Matcher(self.expr)
        if self.expr == ():
            return Matcher(other.expr)
        return Matcher(("or", self.expr, other.expr))

    @classmethod
    def any(cls, tag_name):
        return cls(("notnull", tag_name))

    @classmethod
    def null(cls):
        return cls(())

    @classmethod
    def from_sql(cls, sql):
        return cls(to_prefix(sql))

    def to_sql(self):
        """Display form (reference sql.py:146-169): quotes =/!=/IN rvals,
        leaves range rvals bare."""

        def fmt(e):
            op = e[0]
            if op in ("and", "or"):
                return "%s %s %s" % (fmt(e[1]), op.upper(), fmt(e[2]))
            if op == "notnull":
                return "%s IS NOT NULL" % e[1]
            if op == "in":
                return "%s IN (%s)" % (e[1], ",".join("'%s'" % v for v in e[2]))
            if op in ("=", "!="):
                return "%s %s '%s'" % (e[1], op, e[2])
            return "%s %s %s" % (e[1], op, e[2])

        return fmt(self.expr)

    def __repr__(self):
        return "Matcher(%r)" % (self.expr,)
