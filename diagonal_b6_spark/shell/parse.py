"""Lexer + recursive-descent parser for the b6 shell expression language.

Grammar and token rules follow the reference's published grammar
(b6/api/shell.y:30-209) and hand-written lexer (b6/api/shell.go:220-377):

  pipeline    := call ('|' call)*            -- `a | f x` applies f(a, x)
  call        := SYMBOL args? | expression
  arg         := SYMBOL | expression
  expression  := latlng | tag | lambda | collection | group | query
               | STRING | FLOAT | INT | FEATURE_ID
  latlng      := FLOAT ',' FLOAT
  tag         := (TAG_KEY | SYMBOL) '=' (SYMBOL | STRING)
  lambda      := '{' (SYMBOL (',' SYMBOL)*)? '->' pipeline '}'
  collection  := '{' item (',' item)* '}'    item := (key ':')? value
  group       := '(' pipeline ')'
  query       := '[' query_expr ']'
  query_expr  := qterm (('&' | '|') query_expr)?
  qterm       := (TAG_KEY | SYMBOL) ('=' (SYMBOL | STRING))? | query

Token rules (shell.go:220-377): symbols are [a-zA-Z][a-zA-Z0-9-:_]*;
tag keys are '#' or '@' followed by symbol runes; feature IDs start '/'
and take [letter digit . - / _]; numbers allow one leading '-' and one
'.'; '->' is ARROW.  The latlng production is only admitted where the
LALR automaton admits it: expression/arg positions, not collection
items (matching goyacc's context-dependent resolution).
"""

from __future__ import annotations

from dataclasses import dataclass, field


class ParseError(ValueError):
    pass


# ---------------------------------------------------------------- tokens ---

PUNCT = set(",()|>{}[]=&:")
_SYMBOL_START = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
_SYMBOL_RUNES = _SYMBOL_START | set("0123456789-:_")
_ID_RUNES = _SYMBOL_START | set("0123456789.-/_")
_NUM_START = set("0123456789-.")


@dataclass
class Token:
    kind: str  # punct kinds are the literal char; else SYMBOL/STRING/...
    text: str
    pos: int


def tokenize(s: str) -> list[Token]:
    toks: list[Token] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
            continue
        if c in PUNCT:
            toks.append(Token(c, c, i))
            i += 1
        elif c == '"':
            # backslash escapes (\" \\ \n \t) so JSON documents can ride
            # inside string literals (parse-geojson); a lone backslash
            # before any other rune passes through verbatim
            j = i + 1
            buf: list[str] = []
            while j < n and s[j] != '"':
                if s[j] == "\\" and j + 1 < n:
                    nxt = s[j + 1]
                    buf.append({"n": "\n", "t": "\t"}.get(nxt, nxt))
                    j += 2
                else:
                    buf.append(s[j])
                    j += 1
            if j >= n:
                raise ParseError("unterminated string constant")
            toks.append(Token("STRING", "".join(buf), i))
            i = j + 1
        elif c == "/":
            j = i
            while j < n and s[j] in _ID_RUNES:
                j += 1
            toks.append(Token("FEATURE_ID", s[i:j], i))
            i = j
        elif c in "#@":
            j = i + 1
            while j < n and s[j] in _SYMBOL_RUNES:
                j += 1
            toks.append(Token("TAG_KEY", s[i:j], i))
            i = j
        elif c in _NUM_START:
            if c == "-" and i + 1 < n and s[i + 1] == ">":
                toks.append(Token("ARROW", "->", i))
                i += 2
                continue
            j = i
            decimal = False
            while j < n:
                r = s[j]
                if r == "-":
                    if j != i:
                        break
                elif r == ".":
                    if decimal:
                        raise ParseError(f"unexpected . at {j}")
                    decimal = True
                elif not r.isdigit():
                    break
                j += 1
            text = s[i:j]
            if not any(ch.isdigit() for ch in text):
                # a lone '-' or '.' is not a number (fuzz-found: it
                # previously escaped as a raw ValueError at int()/float())
                raise ParseError(f"bad number {text!r} at {i}")
            toks.append(Token("FLOAT" if decimal else "INT", text, i))
            i = j
        elif c in _SYMBOL_START:
            j = i
            while j < n and s[j] in _SYMBOL_RUNES:
                j += 1
            toks.append(Token("SYMBOL", s[i:j], i))
            i = j
        else:
            raise ParseError(f"bad token {s[i:]!r}")
    toks.append(Token("EOF", "", n))
    return toks


# ------------------------------------------------------------------- AST ---


@dataclass
class Symbol:
    name: str


@dataclass
class Str:
    value: str


@dataclass
class Int:
    value: int


@dataclass
class Float:
    value: float


@dataclass
class FeatureId:
    """Normalized feature id string.  Condensed tokens expand per the
    reference alias table (shell.go:60-110): /n/ -> point, /w/ -> path,
    /a/ -> area, /r/ -> relation, all in the openstreetmap.org ns."""

    value: str


@dataclass
class Point:
    lat: float
    lng: float


@dataclass
class Tag:
    key: str
    value: str


# Query AST (b6.Keyed / Tagged / Intersection / Union analogues)
@dataclass
class QKeyed:
    key: str


@dataclass
class QTagged:
    key: str
    value: str


@dataclass
class QAnd:
    a: object
    b: object


@dataclass
class QOr:
    a: object
    b: object


@dataclass
class Query:
    node: object


@dataclass
class Call:
    fn: object
    args: list = field(default_factory=list)
    pipelined: bool = False


@dataclass
class Lambda:
    args: list[str]
    body: object


_ALIAS = {"n": "point", "w": "path", "a": "area", "r": "relation"}
# The reference expands /n/123 into the openstreetmap.org namespace
# (shell.go:60-110); our OSM worlds (sources/osm.world_from_pbf) mint ids
# under the short ns "osm", so the alias targets that -- the short forms
# exist to address the OSM world either way.
_ALIAS_NS = "osm"


def normalize_feature_id(token: str) -> str:
    parts = token.lstrip("/").split("/")
    if len(parts) == 2 and parts[0] in _ALIAS and parts[1].isdigit():
        return f"{_ALIAS[parts[0]]}/{_ALIAS_NS}/{parts[1]}"
    return "/".join(parts)


# ---------------------------------------------------------------- parser ---

_EXPR_START = {
    "SYMBOL",
    "STRING",
    "INT",
    "FLOAT",
    "FEATURE_ID",
    "TAG_KEY",
    "{",
    "(",
    "[",
}


class _Parser:
    def __init__(self, toks: list[Token]):
        self.toks = toks
        self.i = 0

    def peek(self, k: int = 0) -> Token:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Token:
        t = self.toks[self.i]
        if t.kind != "EOF":
            self.i += 1
        return t

    def expect(self, kind: str) -> Token:
        t = self.next()
        if t.kind != kind:
            raise ParseError(f"expected {kind!r}, found {t.text!r} at {t.pos}")
        return t

    # pipeline := call ('|' call)*
    def pipeline(self):
        out = self.call()
        while self.peek().kind == "|":
            self.next()
            rhs = self.call()
            out = Call(fn=rhs, args=[out], pipelined=True)
        return out

    # call := SYMBOL args? | expression
    def call(self):
        t = self.peek()
        if t.kind == "SYMBOL" and self.peek(1).kind != "=":
            sym = Symbol(self.next().text)
            args = []
            while self.peek().kind in _EXPR_START:
                args.append(self.arg())
            return Call(fn=sym, args=args)
        return self.expression()

    def arg(self):
        t = self.peek()
        if t.kind == "SYMBOL" and self.peek(1).kind != "=":
            return Symbol(self.next().text)
        return self.expression()

    def expression(self):
        t = self.peek()
        if t.kind == "STRING":
            return Str(self.next().text)
        if t.kind == "INT":
            return Int(int(self.next().text))
        if t.kind == "FLOAT":
            return self._float_or_latlng()
        if t.kind == "FEATURE_ID":
            return FeatureId(normalize_feature_id(self.next().text))
        if t.kind == "TAG_KEY" or (t.kind == "SYMBOL" and self.peek(1).kind == "="):
            key = self.next().text
            self.expect("=")
            return Tag(key, self._tagvalue())
        if t.kind == "{":
            return self._lambda_or_collection()
        if t.kind == "(":
            self.next()
            e = self.pipeline()
            self.expect(")")
            return e
        if t.kind == "[":
            return self._query()
        raise ParseError(f"unexpected {t.text!r} at {t.pos}")

    def _float_or_latlng(self):
        a = float(self.next().text)
        # latlng := FLOAT ',' FLOAT -- admitted only here (expression/arg
        # position); collection items never route through this method.
        if self.peek().kind == "," and self.peek(1).kind == "FLOAT":
            self.next()
            b = float(self.next().text)
            return Point(a, b)
        return Float(a)

    def _tagvalue(self) -> str:
        t = self.next()
        # numbers are legal tag values (tag values are strings in the
        # reference; `add-tag /w/X maxspeed=10`, b6_test.py:617-649)
        if t.kind not in ("SYMBOL", "STRING", "INT", "FLOAT"):
            raise ParseError(f"bad tag value {t.text!r} at {t.pos}")
        return t.text

    # --- '{' ... '}': lambda or collection, disambiguated by lookahead ---
    def _lambda_or_collection(self):
        self.expect("{")
        if self.peek().kind == "}":
            self.next()  # {} = the empty collection
            return Call(Symbol("collection"), [])
        if self.peek().kind == "ARROW":
            self.next()
            body = self.pipeline()
            self.expect("}")
            return Lambda([], body)
        # SYMBOL (',' SYMBOL)* ARROW  => lambda
        k = 0
        if self.peek(k).kind == "SYMBOL":
            k += 1
            while self.peek(k).kind == "," and self.peek(k + 1).kind == "SYMBOL":
                k += 2
            if self.peek(k).kind == "ARROW":
                args = [self.next().text]
                while self.peek().kind == ",":
                    self.next()
                    args.append(self.expect("SYMBOL").text)
                self.expect("ARROW")
                body = self.pipeline()
                self.expect("}")
                return Lambda(args, body)
        return self._collection_items()

    def _collection_items(self):
        # collection literals desugar to `collection (pair k v) ...`
        # (shell.go:reduceCollectionItems), implicit keys = item index.
        items = []
        while True:
            first = self._collection_scalar()
            if self.peek().kind == ":":
                self.next()
                value = self._collection_scalar()
                items.append(Call(Symbol("pair"), [first, value]))
            else:
                items.append(Call(Symbol("pair"), [Int(len(items)), first]))
            if self.peek().kind == ",":
                self.next()
                continue
            break
        self.expect("}")
        return Call(Symbol("collection"), items)

    def _collection_scalar(self):
        t = self.peek()
        if t.kind == "STRING":
            if self.peek(1).kind == "=":
                # quoted tag key: {"highway"="motorway": 2}
                key = self.next().text
                self.expect("=")
                return Tag(key, self._tagvalue())
            return Str(self.next().text)
        if t.kind == "INT":
            return Int(int(self.next().text))
        if t.kind == "FLOAT":
            return Float(float(self.next().text))
        if t.kind == "FEATURE_ID":
            return FeatureId(normalize_feature_id(self.next().text))
        if t.kind == "TAG_KEY" or (t.kind == "SYMBOL" and self.peek(1).kind == "="):
            key = self.next().text
            self.expect("=")
            return Tag(key, self._tagvalue())
        if t.kind == "(":
            self.next()
            e = self.pipeline()
            self.expect(")")
            return e
        raise ParseError(f"bad collection item {t.text!r} at {t.pos}")

    # --- '[' query ']' ---
    def _query(self):
        self.expect("[")
        node = self._query_expression()
        self.expect("]")
        return Query(node)

    def _query_expression(self):
        left = self._query_term()
        t = self.peek()
        if t.kind == "&":
            self.next()
            return QAnd(left, self._query_expression())
        if t.kind == "|":
            self.next()
            return QOr(left, self._query_expression())
        return left

    def _query_term(self):
        t = self.peek()
        if t.kind == "[":
            return self._query().node
        if t.kind in ("TAG_KEY", "SYMBOL"):
            key = self.next().text
            if self.peek().kind == "=":
                self.next()
                return QTagged(key, self._tagvalue())
            return QKeyed(key)
        raise ParseError(f"bad query term {t.text!r} at {t.pos}")


def parse_expression(expression: str):
    """ParseExpression analogue (shell.go:612-620): string -> AST."""
    p = _Parser(tokenize(expression))
    out = p.pipeline()
    t = p.peek()
    if t.kind != "EOF":
        raise ParseError(f"trailing input {t.text!r} at {t.pos}")
    return out
