"""CEL -> Spark SQL translator.

The reference evaluates CEL (Common Expression Language) programs per log
line (/root/reference/cel.go:86-109, :239-292). We instead translate the CEL
subset its configs exercise (SURVEY.md §2.3 E-table) into Spark SQL
expression strings at config-load time, so evaluation happens inside
Catalyst/whole-stage-codegen — vectorized, JVM-side, no per-row Python.

Supported surface (superset of everything in /root/reference/testdata/*.jsonnet
and README examples):
  - member access on the four CEL namespaces (log, cloudfront, bucket, object)
  - literals: int, float, string ('..' or ".."), true/false/null
  - unary ! and -
  - binary: == != < <= > >= && || + - * / %
  - `in` with a list literal (e.g. `log.scStatus in [301, 302]`)
  - ternary cond ? a : b
  - methods: .contains(s) .startsWith(s) .endsWith(s) .matches(re)
  - functions: double(x) int(x) string(x) size(x) bool? (no)
  - the `has(path)` macro -> `path IS NOT NULL` (cel-go treats a config
    field's presence test as the macro, not a function; on our flat
    parsed-log schema "-" fields parse to NULL, so presence IS null-ness)
  - `duration("5m")` literals (Go duration syntax: ns/us/ms/s/m/h parts,
    e.g. "2h45m", "300ms", "-1.5h") -> a Spark day-time INTERVAL via
    make_dt_interval, so timestamp +/- duration, timestamp - timestamp,
    and duration comparisons all run natively in Catalyst
  - list literals `[a, b]` -> array(...), map literals `{'k': v}` ->
    map(...), indexing `xs[i]` (CEL 0-based -> element_at i+1; under
    Spark ANSI mode an out-of-range index / missing map key RAISES —
    exactly CEL's error semantics) and `x in xs` / `k in m` membership
  - the comprehension macros `exists`/`all`/`filter`/`map`/`exists_one`
    -> Spark HOFs exists/forall/filter/transform with proper lambda
    scoping (shadowing outer bindings, unique SQL variable names);
    cel-go iterates map KEYS, so a map receiver wraps in map_keys()
  - core-CEL timestamp accessors getFullYear/getMonth/getDate/
    getDayOfMonth/getDayOfWeek/getDayOfYear/getHours/getMinutes/
    getSeconds/getMilliseconds with CEL's calendar conventions
    (getMonth/getDayOfMonth/getDayOfYear 0-based, getDayOfWeek
    0 = Sunday)

Null semantics (pinned spec, SURVEY.md §2.3): SQL three-valued logic; a
filter evaluating to NULL excludes the row, a NULL attribute value drops the
attribute from the set (handled by the aggregation layer).

Load-time validation mirrors the reference's compile-and-probe-eval
(cel.go:222-237): the translated expression is analyzed against an empty
DataFrame of the parsed-log schema and its result type checked.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .schemas import CEL_CONTEXT_FIELDS, CEL_FIELDS, CEL_LOG_FIELDS, parsed_log_schema


class CELTranslationError(ValueError):
    pass


# ---------------------------------------------------------------- tokenizer

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<float>\d+\.\d*(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+)
  | (?P<int>0[xX][0-9a-fA-F]+[uU]?|\d+[uU]?)
  | (?P<string>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op>==|!=|<=|>=|&&|\|\||[!<>+\-*/%().,?:\[\]{}])
    """,
    re.VERBOSE,
)


@dataclass
class Tok:
    kind: str
    text: str


def _tokenize(src: str) -> list[Tok]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise CELTranslationError(f"cannot tokenize CEL at {src[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append(Tok(kind, m.group()))
    out.append(Tok("eof", ""))
    return out


# ------------------------------------------------------------------ parser
# Pratt parser emitting (sql_text, static_type) pairs. static_type is a best
# effort from {'int','double','string','bool','timestamp',None}.

_METHODS = {
    "contains": ("contains({x}, {a})", "bool"),
    "startsWith": ("startswith({x}, {a})", "bool"),
    "endsWith": ("endswith({x}, {a})", "bool"),
    "matches": ("regexp_like({x}, {a})", "bool"),
}

# core-CEL timestamp accessors (zero-arg receiver methods). CEL's
# calendar conventions differ from Spark's: getMonth/getDayOfYear are
# 0-based, getDayOfMonth is 0-based while getDate is 1-based, and
# getDayOfWeek is 0=Sunday (Spark dayofweek is 1=Sunday). The UTC-only
# form is supported (no tz argument — session timezone is UTC here,
# matching the reference's zone-less CloudFront timestamps).
_TS_METHODS = {
    "getFullYear": "year({x})",
    "getMonth": "(month({x}) - 1)",
    "getDate": "day({x})",
    "getDayOfMonth": "(day({x}) - 1)",
    "getDayOfWeek": "(dayofweek({x}) - 1)",
    "getDayOfYear": "(dayofyear({x}) - 1)",
    "getHours": "hour({x})",
    "getMinutes": "minute({x})",
    "getSeconds": "second({x})",
    "getMilliseconds": "(CAST(date_part('SECOND', {x}) * 1000 AS BIGINT) % 1000)",
}

# comprehension macros (cel-go parser macros, not functions): receiver
# `.macro(var, body)` with `var` lexically bound inside `body`
_MACROS = frozenset({"exists", "all", "filter", "map", "exists_one"})

_FUNCS = {
    "double": ("CAST({a} AS DOUBLE)", "double"),
    "int": ("CAST({a} AS BIGINT)", "int"),
    # CEL uint maps to BIGINT (no unsigned type in Spark; >= 2^63 out of
    # scope for log-pipeline configs)
    "uint": ("CAST({a} AS BIGINT)", "int"),
    "bool": ("CAST({a} AS BOOLEAN)", "bool"),
    "bytes": ("CAST({a} AS BINARY)", "bytes"),
    "string": ("CAST({a} AS STRING)", "string"),
    # dyn() erases the static type in cel-go; SQL is untouched
    "dyn": ("{a}", None),
    "size": ("length({a})", "int"),
    "timestamp": ("to_timestamp({a})", "timestamp"),
}

# cel-go also defines the two-argument global form matches(s, re)
_GLOBAL2 = {
    "matches": ("regexp_like({a}, {b})", "bool"),
}

_CMP = {"==": "=", "!=": "<>", "<": "<", "<=": "<=", ">": ">", ">=": ">="}

# Spark column -> the translator's static type (CEL `int` for BIGINT)
_COLUMN_TYPES: dict[str, str] = {
    f.col: "int" if f.dtype == "long" else f.dtype for f in CEL_FIELDS
}


class _Parser:
    def __init__(self, toks: list[Tok], src: str):
        self.toks = toks
        self.i = 0
        self.src = src
        # comprehension-macro lambda bindings: CEL var name -> the unique
        # SQL lambda variable currently shadowing it
        self.scope: dict[str, str] = {}
        self._lambda_n = 0

    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text: str) -> None:
        t = self.next()
        if t.text != text:
            raise CELTranslationError(f"expected {text!r}, got {t.text!r} in {self.src!r}")

    # precedence climbing: ternary < || < && < cmp < add < mul < unary < postfix
    def parse(self) -> tuple[str, str | None]:
        e = self.ternary()
        if self.peek().kind != "eof":
            raise CELTranslationError(f"trailing input {self.peek().text!r} in {self.src!r}")
        return e

    def ternary(self) -> tuple[str, str | None]:
        cond, ctype = self.or_()
        if self.peek().text == "?":
            self.next()
            a, at = self.ternary()
            self.expect(":")
            b, bt = self.ternary()
            return (f"(CASE WHEN {cond} THEN {a} ELSE {b} END)", at or bt)
        return cond, ctype

    def or_(self) -> tuple[str, str | None]:
        left, lt = self.and_()
        while self.peek().text == "||":
            self.next()
            right, _ = self.and_()
            left, lt = f"({left} OR {right})", "bool"
        return left, lt

    def and_(self) -> tuple[str, str | None]:
        left, lt = self.cmp()
        while self.peek().text == "&&":
            self.next()
            right, _ = self.cmp()
            left, lt = f"({left} AND {right})", "bool"
        return left, lt

    def cmp(self) -> tuple[str, str | None]:
        left, lt = self.add()
        if self.peek().text in _CMP:
            op = self.next().text
            right, _ = self.add()
            return f"({left} {_CMP[op]} {right})", "bool"
        if self.peek().text == "in":
            self.next()
            if self.peek().text == "[":
                # literal-list fast path -> SQL IN (Catalyst folds it and
                # can push the predicate to the scan) — unless the list
                # is the receiver of further postfix ops (.map(...), [i])
                save = self.i
                items = self._list_literal()
                if self.peek().text in (".", "["):
                    self.i = save  # general path re-parses from the '['
                else:
                    if not items:
                        # CEL: membership in an empty list is false; SQL
                        # `IN ()` is a parse error, so emit the constant.
                        return "(1 = 0)", "bool"
                    return f"({left} IN ({', '.join(items)}))", "bool"
            rhs, rt = self.add()
            if rt == "map":
                # CEL `k in m` is KEY membership
                return f"map_contains_key({rhs}, {left})", "bool"
            if rt == "list":
                return f"array_contains({rhs}, {left})", "bool"
            raise CELTranslationError(
                f"`in` requires a list or map on the right in {self.src!r}"
            )
        return left, lt

    def _list_literal(self) -> list[str]:
        self.expect("[")
        items: list[str] = []
        if self.peek().text != "]":
            while True:
                e, _ = self.ternary()
                items.append(e)
                if self.peek().text == ",":
                    self.next()
                    continue
                break
        self.expect("]")
        return items

    def add(self) -> tuple[str, str | None]:
        left, lt = self.mul()
        while self.peek().text in ("+", "-"):
            op = self.next().text
            right, rt = self.mul()
            if op == "+" and (lt == "string" or rt == "string"):
                left, lt = f"concat({left}, {right})", "string"
            elif op == "+" and (lt == "list" or rt == "list"):
                # CEL list + list is concatenation; Spark's array `+` is
                # not defined, so emit concat() (same null-in semantics)
                left, lt = f"concat({left}, {right})", "list"
            elif op == "+" and (lt == "bytes" or rt == "bytes"):
                left, lt = f"concat({left}, {right})", "bytes"
            else:
                left, lt = f"({left} {op} {right})", _num(lt, rt)
        return left, lt

    def mul(self) -> tuple[str, str | None]:
        left, lt = self.unary()
        while self.peek().text in ("*", "/", "%"):
            op = self.next().text
            right, rt = self.unary()
            if op == "/" and lt == "int" and rt == "int":
                # CEL integer division truncates; Spark `/` is always double
                left, lt = f"({left} DIV {right})", "int"
            elif op == "%":
                left, lt = f"({left} % {right})", "int"
            else:
                left, lt = f"({left} {op} {right})", _num(lt, rt)
        return left, lt

    def unary(self) -> tuple[str, str | None]:
        t = self.peek()
        if t.text == "!":
            self.next()
            e, _ = self.unary()
            return f"(NOT {e})", "bool"
        if t.text == "-":
            self.next()
            e, et = self.unary()
            return f"(- {e})", et
        return self.postfix()

    def postfix(self) -> tuple[str, str | None]:
        t = self.next()
        if t.text == "(":
            e = self.ternary()
            self.expect(")")
            return self._methods(e)
        if t.text == "[":
            self.i -= 1  # _list_literal consumes the '['
            items = self._list_literal()
            sql = f"array({', '.join(items)})" if items else "array()"
            return self._methods((sql, "list"))
        if t.text == "{":
            pairs: list[str] = []
            if self.peek().text != "}":
                while True:
                    k, _ = self.ternary()
                    self.expect(":")
                    val, _ = self.ternary()
                    pairs.extend((k, val))
                    if self.peek().text == ",":
                        self.next()
                        continue
                    break
            self.expect("}")
            sql = f"map({', '.join(pairs)})" if pairs else "map()"
            return self._methods((sql, "map"))
        if t.kind == "int":
            # cel-go: optional 0x hex form and u/U uint suffix (uint maps
            # to BIGINT here — values >= 2^63 are out of scope)
            raw = t.text.rstrip("uU")
            val = int(raw, 16) if raw[:2].lower() == "0x" else int(raw)
            return self._methods((f"{val}L", "int"))
        if t.kind == "float":
            return self._methods((f"CAST({t.text} AS DOUBLE)", "double"))
        if t.kind == "string":
            return self._methods((sql_str(_unescape(t.text)), "string"))
        if t.kind == "ident":
            if t.text == "true":
                return self._methods(("true", "bool"))
            if t.text == "false":
                return self._methods(("false", "bool"))
            if t.text == "null":
                return ("NULL", None)
            if t.text in self.scope:
                # comprehension-macro iteration variable (innermost
                # binding wins — lexical shadowing)
                return self._methods((self.scope[t.text], None))
            if t.text == "has" and self.peek().text == "(":
                # CEL's has() macro: argument must be a field path (the
                # macro tests presence, so it cannot take a computed
                # value — same restriction cel-go enforces at parse time)
                self.next()
                first = self.next()
                if first.kind != "ident":
                    raise CELTranslationError(
                        f"has() requires a field path in {self.src!r}"
                    )
                segs = [first.text]
                while self.peek().text == ".":
                    self.next()
                    seg = self.next()
                    if seg.kind != "ident":
                        raise CELTranslationError(
                            f"has() requires a field path in {self.src!r}"
                        )
                    segs.append(seg.text)
                self.expect(")")
                col = _resolve(segs, self.src)
                return self._methods(((f"({col} IS NOT NULL)"), "bool"))
            if t.text == "duration" and self.peek().text == "(":
                self.next()
                arg = self.next()
                if arg.kind != "string":
                    raise CELTranslationError(
                        f"duration() requires a string literal in {self.src!r}"
                    )
                try:
                    secs = parse_go_duration(_unescape(arg.text))
                except ValueError as exc:
                    raise CELTranslationError(f"{exc} in {self.src!r}") from exc
                self.expect(")")
                return self._methods(
                    (f"make_dt_interval(0, 0, 0, {secs!r})", "duration")
                )
            if t.text in _GLOBAL2 and self.peek().text == "(":
                self.next()
                a, _ = self.ternary()
                self.expect(",")
                b, _ = self.ternary()
                self.expect(")")
                tmpl, rt = _GLOBAL2[t.text]
                return self._methods((tmpl.format(a=a, b=b), rt))
            if t.text in _FUNCS and self.peek().text == "(":
                self.next()
                a, at = self.ternary()
                self.expect(")")
                if t.text == "size" and at in ("list", "map"):
                    # CEL size() is element count on collections; Spark's
                    # length() only takes strings/binary
                    return self._methods((f"size({a})", "int"))
                if t.text == "timestamp" and at == "int":
                    # cel-go timestamp(int) = epoch seconds; Spark's CAST
                    # from BIGINT to TIMESTAMP has the same meaning
                    return self._methods(
                        (f"CAST({a} AS TIMESTAMP)", "timestamp")
                    )
                if t.text == "string" and at == "timestamp":
                    # cel-go formats timestamps as RFC 3339 with the
                    # fractional second trimmed of trailing zeros
                    # (time.RFC3339Nano); a plain CAST gives Spark's
                    # "yyyy-MM-dd HH:mm:ss" instead
                    sql = (
                        "concat(regexp_replace(date_format("
                        f"{a}, \"yyyy-MM-dd'T'HH:mm:ss.SSSSSS\"), "
                        "'\\\\.?0+$', ''), 'Z')"
                    )
                    return self._methods((sql, "string"))
                tmpl, rt = _FUNCS[t.text]
                return self._methods((tmpl.format(a=a), rt))
            return self._path(t.text)
        raise CELTranslationError(f"unexpected token {t.text!r} in {self.src!r}")

    def _path(self, first: str) -> tuple[str, str | None]:
        """Resolve a dotted variable path, then apply trailing methods."""
        segs = [first]
        while self.peek().text == ".":
            # lookahead: ident then maybe '(' -> method call terminates the path
            save = self.i
            self.next()
            seg = self.next()
            if seg.kind != "ident":
                raise CELTranslationError(f"bad member access in {self.src!r}")
            if self.peek().text == "(":
                self.i = save  # leave for _methods
                break
            segs.append(seg.text)
        col = _resolve(segs, self.src)
        ctype = _COLUMN_TYPES.get(col)
        return self._methods((col, ctype))

    def _methods(self, e: tuple[str, str | None]) -> tuple[str, str | None]:
        sql, stype = e
        while True:
            t = self.peek().text
            if t == "[":
                # indexing: CEL lists are 0-based, element_at is 1-based;
                # under ANSI mode element_at RAISES on out-of-range /
                # missing key — CEL's error semantics exactly
                self.next()
                idx, _ = self.ternary()
                self.expect("]")
                if stype == "map":
                    sql, stype = f"element_at({sql}, {idx})", None
                elif stype == "list":
                    sql, stype = (
                        f"element_at({sql}, CAST(({idx}) + 1 AS INT))",
                        None,
                    )
                else:
                    raise CELTranslationError(
                        f"indexing requires a list or map in {self.src!r}"
                    )
                continue
            if t != ".":
                break
            self.next()
            name = self.next()
            if name.kind != "ident":
                raise CELTranslationError(
                    f"unsupported method .{name.text} in {self.src!r}"
                )
            if name.text in _MACROS and self.peek().text == "(":
                sql, stype = self._macro(sql, stype, name.text)
                continue
            if stype in ("map", None) and self.peek().text != "(":
                # CEL field selection on a map (or dyn, e.g. a nested
                # selection result): m.key == m['key']; ANSI element_at
                # raises on a missing key (CEL's no_such_key), and the
                # config-load probe eval rejects selection on non-maps
                sql, stype = f"element_at({sql}, '{name.text}')", None
                continue
            if name.text in _TS_METHODS and self.peek().text == "(":
                self.next()
                if self.peek().text != ")":
                    # optional IANA-timezone argument (cel-go overload):
                    # shift the UTC instant into the zone's wall clock
                    tz, tzt = self.ternary()
                    if tzt not in ("string", None):
                        raise CELTranslationError(
                            f"timezone argument to .{name.text}() must be "
                            f"a string in {self.src!r}"
                        )
                    sql = f"from_utc_timestamp({sql}, {tz})"
                self.expect(")")
                sql, stype = _TS_METHODS[name.text].format(x=sql), "int"
                continue
            if name.text == "size" and self.peek().text == "(":
                # cel-go also accepts receiver-style size()
                self.next()
                self.expect(")")
                sql = (
                    f"size({sql})"
                    if stype in ("list", "map")
                    else f"length({sql})"
                )
                stype = "int"
                continue
            if name.text not in _METHODS:
                raise CELTranslationError(
                    f"unsupported method .{name.text} in {self.src!r}"
                )
            self.expect("(")
            a, _ = self.ternary()
            self.expect(")")
            tmpl, rt = _METHODS[name.text]
            sql, stype = tmpl.format(x=sql, a=a), rt
        return sql, stype

    def _macro(self, sql: str, stype: str | None, name: str) -> tuple[str, str | None]:
        """Comprehension macro -> Spark higher-order function. cel-go
        iterates a map receiver's KEYS; lists iterate elements. The
        iteration variable gets a unique SQL name so nested macros (and
        shadowed outer bindings) can't collide."""
        recv = f"map_keys({sql})" if stype == "map" else sql
        self.expect("(")
        var = self.next()
        if var.kind != "ident":
            raise CELTranslationError(
                f"{name}() requires an iteration variable in {self.src!r}"
            )
        self.expect(",")
        outer = self.scope.get(var.text)
        lam = f"_cel{self._lambda_n}_{var.text}"
        self._lambda_n += 1
        self.scope[var.text] = lam
        try:
            body, _ = self.ternary()
        finally:
            if outer is None:
                self.scope.pop(var.text, None)
            else:
                self.scope[var.text] = outer
        self.expect(")")
        if name == "exists":
            return f"exists({recv}, {lam} -> {body})", "bool"
        if name == "all":
            return f"forall({recv}, {lam} -> {body})", "bool"
        if name == "filter":
            return f"filter({recv}, {lam} -> {body})", "list"
        if name == "map":
            return f"transform({recv}, {lam} -> {body})", "list"
        # exists_one: exactly one element satisfies the predicate
        return f"(size(filter({recv}, {lam} -> {body})) = 1)", "bool"


def _num(lt: str | None, rt: str | None) -> str | None:
    if lt == "double" or rt == "double":
        return "double"
    if lt == "int" and rt == "int":
        return "int"
    return None


# time.ParseDuration's units: µs is U+00B5, μs U+03BC
_DUR_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "μs": 1e-6, "ms": 1e-3,
    "s": 1.0, "m": 60.0, "h": 3600.0,
}

# digits before or after the point (or both), then a unit; the alternation
# tries multi-char units before their one-char prefixes
_DUR_PART = r"([0-9]+(?:\.[0-9]*)?|\.[0-9]+)(ns|us|µs|μs|ms|s|m|h)"


def parse_go_duration(s: str) -> float:
    """Go time.ParseDuration syntax -> total seconds (float): an optional
    sign, then a bare `0` or one or more number+unit parts. CEL's
    duration() (cel-go delegates to Go) and the config's durations both
    take exactly this syntax. Raises ValueError."""
    m = re.fullmatch(rf"([+-]?)(0|(?:{_DUR_PART})+)", s)
    if not m:
        raise ValueError(f"invalid duration {s!r}")
    total = sum((float(num) * _DUR_UNITS[unit] for num, unit in re.findall(_DUR_PART, m[2])), 0.0)
    return -total if m[1] == "-" else total


def _unescape(lit: str) -> str:
    body = lit[1:-1]
    return re.sub(r"\\(.)", lambda m: {"n": "\n", "t": "\t", "r": "\r"}.get(m.group(1), m.group(1)), body)


def sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_literal(v) -> str:
    """A JSON scalar `v` as a Spark SQL literal: NULL, a boolean, a string,
    a BIGINT or a DOUBLE."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return sql_str(v)
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        return f"CAST({v!r} AS DOUBLE)"
    if v is None:
        return "NULL"
    raise CELTranslationError(f"unsupported literal {v!r}")


def sql_ident(name: str) -> str:
    """Column `name` as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _resolve(segs: list[str], src: str) -> str:
    path = ".".join(segs)
    if segs[0] == "log":
        if len(segs) != 2 or segs[1] not in CEL_LOG_FIELDS:
            raise CELTranslationError(f"unknown log field {path!r} in {src!r}")
        return CEL_LOG_FIELDS[segs[1]]
    if path in CEL_CONTEXT_FIELDS:
        return CEL_CONTEXT_FIELDS[path]
    raise CELTranslationError(f"unknown CEL variable {path!r} in {src!r}")


def translate(cel_src: str) -> str:
    """Translate a CEL expression string into a Spark SQL expression string."""
    sql, _ = _Parser(_tokenize(cel_src), cel_src).parse()
    return sql


def validate_against_schema(spark, sql_exprs: dict[str, str]) -> dict[str, str]:
    """Analyze translated expressions against an empty parsed-log DataFrame,
    mirroring the reference's load-time probe eval (cel.go:222-237).

    Returns {name: spark_type_simpleString}; raises CELTranslationError on
    analysis failure. One analysis of every expression together; only a
    failure re-analyses them one by one, to name the one that fails.
    """
    if not sql_exprs:
        return {}
    empty = spark.createDataFrame([], parsed_log_schema())
    try:
        probe = empty.selectExpr(*(f"({sql}) AS p{k}" for k, sql in enumerate(sql_exprs.values())))
    except Exception:  # AnalysisException
        for name, sql in sql_exprs.items():
            try:
                empty.selectExpr(f"({sql}) AS probe")
            except Exception as exc:
                raise CELTranslationError(f"expression {name!r} fails analysis: {exc}") from exc
        raise
    return {name: f.dataType.simpleString() for name, f in zip(sql_exprs, probe.schema)}
