"""OTTL boolean-condition subset → Catalyst Column translation.

The reference wires the full collector-contrib OTTL parser
(internal/evaluators/ottl.go:42-120). This module implements the
published-grammar subset that covers the reference's fixtures
(ottl_test.go:22-112, testdata/atlassian_sampling_test_cfg.yml:70-83)
plus the converters real configs use beyond them:

* comparisons ``== != > >= < <=`` over paths, converter calls and
  string / numeric / boolean / nil literals;
* ``and`` / ``or`` / ``not`` with parentheses (OTTL precedence: ``not``
  > ``and`` > ``or``);
* ``+`` / ``-`` in operands (the duration idiom
  ``end_time_unix_nano - start_time_unix_nano > 5000000``);
* the converters declared in ``_CONVERTERS``.

Two tables declare the language once. ``_CONVERTERS`` maps a converter
name to its argument shapes and a builder that runs the converter's
build-time checks and returns its AST node; the parser is generic over
it. ``_KINDS`` maps each AST node kind to its static type, its Column
builder, its error rule and its contrib citation; ``_static_type``,
``to_column``, ``error_column`` and ``validate_paths`` are built from
it. A new converter is one entry in each table (plus its goldens, its
branch in tests/ottl_model.py and a fuzz band).

Parsing happens at CONFIG time (pure-Python AST tuples, no
SparkContext); Column construction is deferred to plan build and stays
pure Catalyst. Unsupported syntax, an unknown converter or a path the
context lacks is a build-time :class:`PolicyError`, matching the
reference's fail-to-start behavior on unparsable conditions.

Paths per context (the columns the pipeline carries): span —
``attributes["k"]``, ``resource.attributes["k"]``, ``name``, ``kind``,
``status.code``, the start/end time paths, the hex id paths and
``instrumentation_scope.*``; spanevent — ``attributes["k"]``, ``name``,
``time_unix_nano``, ``dropped_attributes_count`` plus the span-scope
paths (the contrib spanevent context exposes its parent span/resource).

Missing values follow OTTL comparison rules: a comparison against an
absent value is false, except ``!=`` which is true; an explicit ``nil``
literal compares by PRESENCE (``attributes["k"] == nil`` iff absent).

Errors are CONDITION-level, like contrib. The value Columns are total
functions (try_cast / coalesce absorb runtime failures at the leaf), and
:func:`error_column` recovers where the reference's evaluator would have
errored instead. ``ignore`` mode masks each condition with ¬error (a
condition whose evaluation errors is skipped: ``a or b`` with an erroring
``a`` is false even when ``b`` is true); ``propagate`` mode is order- and
short-circuit-exact to the reference.
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from .base import PolicyError

# --------------------------------------------------------------------------
# tokenizer

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<string>"(?:[^"\\]|\\.)*")
      | (?P<number>\d+(?:\.\d+)?)
      | (?P<op>==|!=|>=|<=|>|<)
      | (?P<addop>[+-])
      | (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<lbracket>\[)
      | (?P<rbracket>\])
      | (?P<ident>[A-Za-z_][A-Za-z0-9_.]*)
      | (?P<comma>,)
    )""",
    re.VERBOSE,
)


def _tokenize(src: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m or m.end() == m.start():
            rest = src[pos:].strip()
            if not rest:
                break
            raise PolicyError(f"OTTL: cannot tokenize at {rest[:20]!r} in {src!r}")
        pos = m.end()
        kind = m.lastgroup
        out.append((kind, m.group(kind)))
    return out


# --------------------------------------------------------------------------
# parser: condition string → AST tuple (kind, ...); the node kinds are
# declared in _KINDS below

_KEYWORDS = {"true": True, "false": False, "nil": None}
_LIST_PRODUCERS = ("Split", "Keys", "Values")


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]], src: str):
        self.toks = tokens
        self.i = 0
        self.src = src

    def _peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def _next(self):
        t = self._peek()
        self.i += 1
        return t

    def _expect(self, kind: str):
        k, v = self._next()
        if k != kind:
            raise PolicyError(f"OTTL: expected {kind}, got {v!r} in {self.src!r}")
        return v

    def parse(self):
        ast = self.parse_or()
        if self.i != len(self.toks):
            raise PolicyError(f"OTTL: trailing tokens after expression in {self.src!r}")
        return ast

    def parse_or(self, allow_operand: bool = False):
        left = self.parse_and(allow_operand)
        while self._peek() == ("ident", "or"):
            self._next()
            left = ("or", left, self.parse_and())
        return left

    def parse_and(self, allow_operand: bool = False):
        left = self.parse_unary(allow_operand)
        while self._peek() == ("ident", "and"):
            self._next()
            left = ("and", left, self.parse_unary())
        return left

    def parse_unary(self, allow_operand: bool = False):
        if self._peek() == ("ident", "not"):
            self._next()
            return ("not", self.parse_unary())
        if self._peek()[0] == "lparen":
            self._next()
            # inside parens an operand-valued expression is legal — it may
            # be the lhs of a comparison applied AFTER the rparen, e.g.
            # `(end_time_unix_nano - start_time_unix_nano) > 5000000`
            inner = self.parse_or(allow_operand=True)
            self._expect("rparen")
            return self._maybe_cmp(inner, allow_operand)
        return self.parse_comparison(allow_operand)

    def parse_comparison(self, allow_operand: bool = False):
        lhs = self.parse_operand()
        return self._maybe_cmp(lhs, allow_operand)

    def _maybe_cmp(self, lhs, allow_operand: bool = False):
        lhs = self._maybe_arith(lhs)
        if self._peek()[0] == "op":
            op = self._next()[1]
            rhs = self.parse_operand()
            return ("cmp", op, lhs, rhs)
        # no comparator: lhs must already be boolean-valued — unless the
        # caller is inside parens and the next token closes them, in which
        # case the raw operand is returned for the outer comparison
        if _static_type(lhs) == "bool":
            return lhs
        if allow_operand and self._peek()[0] == "rparen":
            return lhs
        raise PolicyError(f"OTTL: expected comparison in {self.src!r}")

    def parse_operand(self):
        # an operand may itself be additive: Len(x) - 1, a + b ...
        return self._maybe_arith(self._parse_primary())

    def _maybe_arith(self, left):
        while self._peek()[0] == "addop":
            op = self._next()[1]
            left = ("arith", op, left, self._parse_primary())
        return left

    def _parse_number(self, text: str):
        return ("lit", float(text) if "." in text else int(text))

    def _parse_primary(self):
        k, v = self._next()
        if k == "string":
            return ("lit", _unquote(v))
        if k == "number":
            return self._parse_number(v)
        if k == "addop" and v == "-":  # unary minus on a numeric literal
            return ("lit", -self._parse_number(self._expect("number"))[1])
        if k != "ident":
            raise PolicyError(f"OTTL: unexpected token {v!r} in {self.src!r}")
        if v in _KEYWORDS:
            return ("lit", _KEYWORDS[v])
        if v in ("Keys", "Values"):  # list producers: bare positional use
            # would be Go-map-iteration nondeterministic in the reference
            raise PolicyError(
                f"OTTL: {v}(...) must be consumed by Sort(...)[n], "
                f"Len(...) or IsList(...) in {self.src!r}"
            )
        if v in _CONVERTERS:
            shapes, build = _CONVERTERS[v]
            return build(self, v, *self._args(v, shapes))
        if v.endswith("attributes"):  # attributes / resource.attributes
            return ("path", [v, _unquote(self._bracketed("string"))])
        if self._peek()[0] == "lparen":  # Uppercase(...) call syntax
            supported = ", ".join(sorted({*_CONVERTERS, *_LIST_PRODUCERS}))
            raise PolicyError(
                f"OTTL: unknown converter {v!r} in {self.src!r} (supported: {supported})"
            )
        return ("path", [v])

    def _args(self, v: str, shapes: tuple[str, ...]) -> list:
        """``(a, b, ...)`` parsed per the converter's argument shapes."""
        self._expect("lparen")
        args: list[Any] = []
        for i, shape in enumerate(shapes):
            if shape.endswith("?") and self._peek()[0] != "comma":
                args.append(None)
                continue
            if i:
                self._expect("comma")
            args.append(self._arg(v, shape.rstrip("?")))
        self._expect("rparen")
        return args

    def _arg(self, v: str, shape: str):
        if shape == "s":
            return _unquote(self._expect("string"))
        if shape == "[x]":
            self._expect("lbracket")
            items = [self.parse_operand()]
            while self._peek()[0] == "comma":
                self._next()
                items.append(self.parse_operand())
            self._expect("rbracket")
            return items
        k, name = self._peek()
        producer = k == "ident" and name in _LIST_PRODUCERS
        if shape == "L":
            self.require(
                producer, f"{v} target must be a list producer (Split/Keys/Values)"
            )
        return self._list_producer() if producer and shape != "x" else self.parse_operand()

    def _list_producer(self):
        """``Split(x, d)``, ``Keys(ParseKeyValue(...))`` or
        ``Values(ParseKeyValue(...))`` — a list-valued sub-expression only
        Sort/Len/IsList consume."""
        v = self._next()[1]
        if v == "Split":
            return ("splitlist", *_split_args(self, *self._args(v, _CONVERTERS[v][0])))
        self._expect("lparen")
        inner = self._expect("ident")
        self.require(inner == "ParseKeyValue", f"{v} target must be ParseKeyValue(...)")
        args = _kv_args(self, *self._args(inner, _CONVERTERS[inner][0]))
        self._expect("rparen")
        return ("kvlist", v.lower(), *args)

    # -- helpers for the converter builders --------------------------------

    def require(self, ok, msg: str) -> None:
        """Build-time check: raise ``OTTL: <msg> in <src>`` unless ``ok``."""
        if not ok:
            raise PolicyError(f"OTTL: {msg} in {self.src!r}")

    def _bracketed(self, kind: str) -> str:
        self._expect("lbracket")
        value = self._expect(kind)
        self._expect("rbracket")
        return value

    def key(self, v: str, label: str) -> str:
        """The required ``["key"]`` postfix of a map-valued converter."""
        self.require(
            self._peek()[0] == "lbracket", f'{v}(...) must be indexed with ["{label}"]'
        )
        return _unquote(self._bracketed("string"))

    def index(self) -> int:
        """The required ``[n]`` postfix (list consumers stay scalar-valued)."""
        self.require(
            self._peek()[0] == "lbracket", "list-valued converter must be indexed with [n]"
        )
        idx = self._bracketed("number")
        self.require("." not in idx, "list index must be an int")
        return int(idx)

    def time_target(self, v: str, target):
        self.require(
            _static_type(target) == "time",
            f"{v} target must be a time value (Time(...) or start_time/end_time)",
        )
        return target

    def named_group(self, v: str, noun: str, shown: str, regex: str) -> tuple[str, int]:
        """A named-group regex (Go ``(?P<`` or Java ``(?<`` spelling) and
        the group its ``["name"]`` postfix selects → (Python pattern,
        group index)."""
        ensure_re2_compatible(regex, v)
        # the RE2 guard already rejected lookbehinds, so any remaining
        # "(?<" is a Java-style named group
        py_pat = regex.replace("(?<", "(?P<")
        groups = _compile(py_pat, f"{v} {noun} {shown!r}").groupindex
        self.require(groups, f"{v} {noun} {shown!r} has no named captures")
        name = self.key(v, "name")
        self.require(
            name in groups,
            f"{v} capture {name!r} not in {noun} {shown!r} (captures: {sorted(groups)})",
        )
        return py_pat, groups[name]


def _unquote(s: str) -> str:
    return s[1:-1].replace('\\"', '"').replace("\\\\", "\\")


def _compile(pattern: str, what: str) -> re.Pattern:
    try:
        return re.compile(pattern)
    except re.error as exc:
        raise PolicyError(f"OTTL: {what} is not a valid regex: {exc}") from exc


# --------------------------------------------------------------------------
# converters: name → (argument shapes, builder). Shapes: "x" operand, "s"
# string literal, "[x]" bracketed operand list, "L" list producer, "L|x"
# list producer or operand; a trailing "?" marks an optional argument
# (None when absent). A builder takes (parser, name, *args), runs the
# converter's build-time checks and returns the AST node. What each node
# means at run time, and its contrib citation, is its _KINDS entry.


def _build_is_match(p, v, target, pattern):
    # dialect guard FIRST: Java-only constructs Python's re also rejects
    # (\k<name> backrefs) get the RE2 message, not a generic invalid-regex one
    ensure_re2_compatible(pattern, v)
    _compile(pattern, f"{v} pattern {pattern!r}")
    return ("ismatch", target, pattern)


def _build_substring(p, v, target, start, length):
    for arg, nm in ((start, "start"), (length, "length")):
        p.require(
            arg[0] == "lit" and isinstance(arg[1], int), f"{v} {nm} must be an int literal"
        )
    return ("substr", target, start[1], length[1])


def _build_convert_case(p, v, target, mode):
    mode = mode.lower()
    p.require(
        mode in ("upper", "lower", "snake", "camel"),
        f"{v} mode {mode!r} unsupported (upper/lower/snake/camel)",
    )
    return ("case", target, mode)


def _build_duration(p, v, s):
    # a Go duration string → int64 nanos, folded at build time into a
    # plain literal (comparable with the unix-nano paths)
    from ..config import parse_duration

    try:
        ns = int(round(parse_duration(s) * 1_000_000_000))
    except (PolicyError, OverflowError) as exc:
        raise PolicyError(f"OTTL: {v}({s!r}) is not a valid Go duration: {exc}") from exc
    return ("lit", ns)


def _build_truncate_time(p, v, target, dur):
    p.require(
        dur[0] == "lit" and isinstance(dur[1], int) and dur[1] > 0,
        f"{v} duration must be a Duration(...) or positive int nanos literal",
    )
    return ("trunctime", p.time_target(v, target), dur[1])


def _split_args(p, target, delim):
    """Split's checked arguments, shared by ``Split(..)[n]`` and the
    Split list producer."""
    p.require(delim, "Split delimiter must not be empty")
    return target, delim


def _kv_args(p, target, delim, pair_delim):
    """ParseKeyValue's checked arguments (defaults "=" and " "), shared by
    ``ParseKeyValue(..)["key"]`` and the Keys/Values list producers."""
    delim = "=" if delim is None else delim
    pair_delim = " " if pair_delim is None else pair_delim
    p.require(
        delim and pair_delim and delim != pair_delim,
        "ParseKeyValue delimiters must be non-empty and distinct",
    )
    return target, delim, pair_delim


def _build_sort(p, v, producer, order):
    # the result must be indexed [n] to stay scalar-valued: Go's map/list
    # ordering makes any other use nondeterministic in the reference too
    order = "asc" if order is None else order.lower()
    p.require(order in ("asc", "desc"), f"{v} order {order!r} unsupported (asc/desc)")
    idx = p.index()
    if producer[0] == "splitlist":  # Sort over Split keeps its own kind
        return ("sortget", producer[1], producer[2], order, idx)
    return ("sortlist", producer, order, idx)


def _build_parse_csv(p, v, target, headers_s, delim):
    # headers resolve at BUILD time, so the column index is static
    delim = "," if delim is None else delim
    p.require(delim, f"{v} delimiter must not be empty")
    headers = headers_s.split(delim)
    p.require(
        "" not in headers and len(set(headers)) == len(headers),
        f"{v} headers {headers_s!r} must be non-empty and distinct",
    )
    col = p.key(v, "column")
    p.require(col in headers, f"{v} column {col!r} not in headers {headers}")
    return ("csvget", target, len(headers), delim, headers.index(col))


def _build_extract_patterns(p, v, target, pattern):
    py_pat, group = p.named_group(v, "pattern", pattern, pattern)
    return ("extractpat", target, py_pat, py_pat.replace("(?P<", "(?<"), group)


def _build_extract_grok(p, v, target, template):
    # the expanded regex shares ExtractPatterns' AST: eval, error
    # semantics and the model interpreter are common
    expanded = _expand_grok(template, p.src)
    py_pat, group = p.named_group(v, "template", template, expanded)
    return ("extractpat", target, py_pat, expanded, group)


def _build_url(p, v, target):
    key = p.key(v, "url.part")
    if key not in _URL_KEYS:
        raise PolicyError(
            f"OTTL: {v} component {key!r} unsupported in "
            f"{p.src!r} (supported: {sorted(_URL_KEYS)})"
        )
    return ("urlget", target, key)


def _build_parse_json(p, v, target):
    node = ("parsejson", target)
    while node[0] == "parsejson" or p._peek()[0] == "lbracket":
        node = ("jsonget", node, p.key(v, "key"))
    return node


def _build_trim(p, v, target, cutset):
    cutset = " " if cutset is None else cutset
    p.require(cutset, f"{v} cutset must not be empty")
    return ("trim", target, cutset)


def _build_duration_fold(p, v, target):
    # durations are int64 nanos here (Duration(...) literals, time
    # subtraction), so the target must be statically numeric
    p.require(
        _static_type(target) in ("int", "double"),
        f"{v} target must be a duration value (Duration(...) or time arithmetic)",
    )
    return ("durfold", target, v.lower())


def _build_format(p, v, fmt, args):
    # verbs are checked statically: Go's %!s(int64=42) mis-verb renders
    # are a config bug the reference would emit silently; this engine
    # fails to start instead
    args = args or []
    segs, verbs = _parse_format(fmt, p.src)
    p.require(
        len(verbs) == len(args), f"{v}({fmt!r}) has {len(verbs)} verbs but {len(args)} args"
    )
    for a, verb in zip(args, verbs):
        st, want = _static_type(a), "string" if verb == "s" else "int"
        p.require(st == want, f"{v} %{verb} arg must be {want}-valued, got {st}")
    return ("format", segs, verbs, args)


def _build_hex(p, v, target):
    st = _static_type(target)
    p.require(
        st in ("string", "int"), f"{v} target must be string- or int-valued, got {st}"
    )
    return ("hexenc", target, st)


def _build_decode(p, v, target, enc):
    enc = enc.lower()
    p.require(enc == "base64", f"{v} encoding {enc!r} unsupported (base64)")
    return ("decode64", target)


_X = ("x",)
_CASTS = {"Int": "long", "Double": "double", "String": "string"}
_UNIX_DIVS = {"UnixSeconds": 1_000_000_000, "UnixMilli": 1_000_000, "UnixMicro": 1_000}
_DURATION_FOLDS = (
    "Hours", "Minutes", "Seconds", "Milliseconds", "Microseconds", "Nanoseconds",
)

_CONVERTERS: dict[str, tuple[tuple[str, ...], Callable]] = {
    "IsMatch": (("x", "s"), _build_is_match),
    "Len": (("L|x",), lambda p, v, t: ("lenlist" if _static_type(t) == "list" else "len", t)),
    "Substring": (("x", "x", "x"), _build_substring),
    "ConvertCase": (("x", "s"), _build_convert_case),
    "Concat": (("[x]", "s"), lambda p, v, targets, delim: ("concat", targets, delim)),
    **dict.fromkeys(_CASTS, (_X, lambda p, v, t: ("cast", _CASTS[v], t))),
    "IsRootSpan": ((), lambda p, v: ("isroot",)),
    **dict.fromkeys(
        ("IsString", "IsInt", "IsDouble", "IsBool"),
        (_X, lambda p, v, t: ("istype", v[2:].lower(), t)),
    ),
    "IsList": (("L|x",), lambda p, v, t: ("islist", t)),
    "Duration": (("s",), _build_duration),
    "Time": (
        ("x", "s"), lambda p, v, t, fmt: ("time", t, _go_ctime_to_spark(fmt, p.src), fmt)
    ),
    "TruncateTime": (("x", "x"), _build_truncate_time),
    "Hour": (_X, lambda p, v, t: ("hour", p.time_target(v, t))),
    "UnixNano": (_X, lambda p, v, t: ("unixnano", p.time_target(v, t))),
    **dict.fromkeys(
        ("Day", "Month", "Year", "Minute", "Second"),
        (_X, lambda p, v, t: ("timepart", p.time_target(v, t), v.lower())),
    ),
    **dict.fromkeys(
        _UNIX_DIVS, (_X, lambda p, v, t: ("unixdiv", p.time_target(v, t), _UNIX_DIVS[v]))
    ),
    "Unix": (("x", "x?"), lambda p, v, sec, nanos: ("unixtime", sec, nanos)),
    **dict.fromkeys(_DURATION_FOLDS, (_X, _build_duration_fold)),
    "Split": (("x", "s"), lambda p, v, *a: ("splitget", *_split_args(p, *a), p.index())),
    "Sort": (("L", "s?"), _build_sort),
    "Trim": (("x", "s?"), _build_trim),
    **dict.fromkeys(
        ("SHA1", "SHA256", "MD5"), (_X, lambda p, v, t: ("hashconv", t, v.lower()))
    ),
    "Log": (_X, lambda p, v, t: ("logconv", t)),
    "Format": (("s", "[x]?"), _build_format),
    "Hex": (_X, _build_hex),
    "Decode": (("x", "s"), _build_decode),
    "FNV": (_X, lambda p, v, t: ("fnv", t)),
    "Murmur3Hash": (_X, lambda p, v, t: ("murmur3", t)),
    "IsValidLuhn": (_X, lambda p, v, t: ("luhn", t)),
    "ParseJSON": (_X, _build_parse_json),
    "ParseKeyValue": (
        ("x", "s?", "s?"),
        lambda p, v, *a: ("kvget", *_kv_args(p, *a), p.key(v, "key")),
    ),
    "ParseCSV": (("x", "s", "s?"), _build_parse_csv),
    "ExtractPatterns": (("x", "s"), _build_extract_patterns),
    "ExtractGrokPatterns": (("x", "s"), _build_extract_grok),
    "URL": (_X, _build_url),
}

# Built-in grok pattern dictionary — an independent, RE2-safe subset of
# the standard grok names (the public logstash/grok vocabulary; regexes
# written from their documented meaning, self-contained — no nested %{}
# references). Every entry must compile under BOTH Java regex and RE2
# (ensure_re2_compatible runs on the expanded template).
_GROK_PATTERNS = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "IPV4": r"(?:\d{1,3}\.){3}\d{1,3}",
    "HOSTNAME": r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\b",
    "UUID": r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|NOTICE|WARN(?:ING)?|ERROR|FATAL|CRITICAL|SEVERE)",
    "TIMESTAMP_ISO8601": (
        r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:[.,]\d+)?"
        r"(?:Z|[+-]\d{2}:?\d{2})?"
    ),
}

_GROK_REF = re.compile(r"%\{(\w+)(?::([A-Za-z_]\w*))?\}")

# URL(...) component extraction — ONE RFC-3986-lite regex used
# identically by the engine (Java regexp_extract), the model interpreter
# (Python re) and the RE2 guard, so the three dialects cannot diverge.
# Simplification vs Go net/url: absolute http(s)-style URLs only; an
# unmatched target is a parse error (net/url.Parse errors too); EMPTY
# components render nil (contrib omits absent keys from the map).
_URL_RE = (
    r"^([A-Za-z][A-Za-z0-9+.-]*)://"  # 1 scheme
    r"(?:([^@/?#]*)@)?"               # 2 user_info
    r"([^:/?#]*)"                     # 3 domain (host)
    r"(?::([0-9]+))?"                 # 4 port
    r"(/[^?#]*)?"                     # 5 path
    r"(?:\?([^#]*))?"                 # 6 query
    r"(?:#(.*))?$"                    # 7 fragment
)
# contrib func_url emits semconv url.* keys; the supported subset maps
# to a capture group (0 = whole match) or a derived form
_URL_KEYS = {
    "url.original": 0,
    "url.scheme": 1,
    "url.user_info": 2,
    "url.domain": 3,
    "url.port": 4,
    "url.path": 5,
    "url.query": 6,
    "url.fragment": 7,
    # derived: username/password split user_info on ':', extension is
    # the path's trailing .suffix
    "url.username": -1,
    "url.password": -2,
    "url.extension": -3,
}


def _expand_grok(template: str, src: str) -> str:
    """``%{SYNTAX:name}`` grok template → Java-style named-group regex.
    Named refs become ``(?<name>pat)``, unnamed refs non-capturing
    groups (namedCapturesOnly, the contrib default); unknown pattern
    names are a build-time PolicyError (fail-to-start, like contrib's
    grok compile)."""
    def sub(m: re.Match) -> str:
        pat = _GROK_PATTERNS.get(m.group(1))
        if pat is None:
            raise PolicyError(
                f"OTTL: ExtractGrokPatterns unknown pattern "
                f"%{{{m.group(1)}}} in {src!r} (known: "
                f"{sorted(_GROK_PATTERNS)})"
            )
        if m.group(2):
            return f"(?<{m.group(2)}>{pat})"
        return f"(?:{pat})"

    return _GROK_REF.sub(sub, template)


def _parse_format(fmt: str, src: str) -> tuple[list[str], list[str]]:
    """Sprintf format → (literal segments, verbs). Supported verbs: %s,
    %d, and the %% escape; anything else is a build-time PolicyError
    (fail-to-start, where Go would emit %!x(...) noise silently).
    len(segments) == len(verbs) + 1: seg0 %v0 seg1 %v1 ... segN."""
    segs, verbs, lit = [], [], []
    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%":
            if i + 1 >= len(fmt):
                raise PolicyError(f"OTTL: dangling % in Format {fmt!r} in {src!r}")
            d = fmt[i + 1]
            if d == "%":
                lit.append("%")
            elif d in ("s", "d"):
                segs.append("".join(lit))
                lit.clear()
                verbs.append(d)
            else:
                raise PolicyError(
                    f"OTTL: Format verb %{d} unsupported (%s, %d) in {src!r}"
                )
            i += 2
        else:
            lit.append(c)
            i += 1
    segs.append("".join(lit))
    return segs, verbs


# Java-regex constructs that are INVALID in RE2 (Go's regexp, what the
# reference compiles IsMatch / grouper patterns with): lookarounds,
# atomic groups, backreferences, possessive quantifiers. A config using
# them fails the reference at startup, so rejecting here is fail-to-start
# parity — and silently compiling them to Spark's Java rlike would make
# the engine match where the reference refuses to run.
_QUANT_BRACE = re.compile(r"\{\d+(,\d*)?\}")


def _re2_divergent_construct(pattern: str) -> str | None:
    """First Java-regex construct in ``pattern`` that RE2 rejects, or
    None. A char-by-char scan, not one regex (ADVICE r5): escapes are
    tokenized so a backreference after a literal backslash (``\\\\\\1``)
    is still caught, char classes are skipped (``*+?{}`` are literals
    inside), and ``}+`` only counts as possessive when the ``}`` closes a
    real ``{n}``/``{n,m}`` quantifier — ``end}+`` (literal brace, then a
    ``+`` quantifier) is valid in both Java regex and RE2."""
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\":
            nxt = pattern[i + 1] if i + 1 < n else ""
            if nxt in "123456789":
                return pattern[i : i + 2]  # backreference \1..\9
            if nxt == "k":
                return "\\k"  # Java named backreference \k<name>
            i += 2
            continue
        if c == "[":  # character class: quantifier chars are literals
            i += 1
            if i < n and pattern[i] == "^":
                i += 1
            if i < n and pattern[i] == "]":  # leading ] is a literal
                i += 1
            while i < n and pattern[i] != "]":
                i += 2 if pattern[i] == "\\" else 1
            i += 1
            continue
        if c == "(":
            for tok in ("(?<=", "(?<!", "(?=", "(?!", "(?>"):
                if pattern.startswith(tok, i):
                    return tok  # lookaround / atomic group
            i += 1
            continue
        if c in "*+?":
            if i + 1 < n and pattern[i + 1] == "+":
                return pattern[i : i + 2]  # possessive *+ ++ ?+
            i += 1
            continue
        if c == "{":
            m = _QUANT_BRACE.match(pattern, i)
            if m:
                if m.end() < n and pattern[m.end()] == "+":
                    return pattern[i : m.end() + 1]  # possessive {n,m}+
                i = m.end()
                continue
        i += 1
    return None


def ensure_re2_compatible(pattern: str, where: str) -> None:
    """Reject Java-regex constructs RE2 does not support (lookarounds,
    backreferences, atomic groups, possessive quantifiers) — the
    reference's Go regexp would fail to compile them at startup."""
    found = _re2_divergent_construct(pattern)
    if found is not None:
        raise PolicyError(
            f"OTTL: {where} pattern {pattern!r} uses the Java-regex "
            f"construct {found!r}, which RE2 (the reference's regexp "
            "engine) does not support — the reference would fail to start "
            "on this config"
        )


# Go ctime-style directives (ottlfuncs func_time uses the ctimefmt
# library) → Spark datetime pattern fragments. Unsupported directives
# are a build-time PolicyError (fail-to-start parity).
_CTIME_MAP = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd",
    "H": "HH", "M": "mm", "S": "ss", "j": "DDD",
    "F": "yyyy-MM-dd", "T": "HH:mm:ss",
}


def _go_ctime_to_spark(fmt: str, src: str) -> str:
    """'%Y-%m-%d %H:%M:%S' → 'yyyy-MM-dd HH:mm:ss'; literal letter runs
    are single-quoted (Spark treats bare letters as pattern directives)."""
    out: list[str] = []
    lit: list[str] = []

    def flush():
        if lit:
            s = "".join(lit)
            if any(c.isalpha() for c in s) or "'" in s:
                out.append("'" + s.replace("'", "''") + "'")
            else:
                out.append(s)
            lit.clear()

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%":
            if i + 1 >= len(fmt):
                raise PolicyError(f"OTTL: dangling %% in Time format {fmt!r} in {src!r}")
            d = fmt[i + 1]
            if d == "%":
                lit.append("%")
            elif d in _CTIME_MAP:
                flush()
                out.append(_CTIME_MAP[d])
            else:
                raise PolicyError(
                    f"OTTL: Time format directive %{d} unsupported in {src!r} "
                    f"(supported: {', '.join('%' + k for k in _CTIME_MAP)})"
                )
            i += 2
        else:
            lit.append(c)
            i += 1
    flush()
    return "".join(out)


def parse_condition(src: str):
    """Condition string → AST; raises PolicyError on unsupported syntax."""
    ast = _tokenize(src)
    return _Parser(ast, src).parse()


# --------------------------------------------------------------------------
# paths

# path head → column name; "span scope" paths are visible from the
# spanevent context too (the contrib spanevent context carries its
# parent span + resource)
_SPAN_SCOPE = {
    "resource.attributes": "resource_attrs",
    "kind": "kind",
    "span.kind": "kind",
    "status.code": "status_id",
    "start_time_unix_nano": "start_ts",
    "end_time_unix_nano": "end_ts",
    # contrib span context also exposes start_time/end_time as TIME
    # values (pcommon.Timestamp → time.Time) — same columns, "time"
    # static type, usable with TruncateTime/Hour/UnixNano
    "start_time": "start_ts",
    "end_time": "end_ts",
    # contrib id-to-hex paths: trace id IS the doc_id column (32-hex);
    # span_id.string renders the 64-bit id as 16-hex lazily
    "trace_id.string": "doc_id",
    "span_id.string": "__span_id_hex__",
    # instrumentation scope (ottlspan context `instrumentation_scope.*`):
    # the token header carries no scope slot, so the pipeline assigns a
    # deterministic per-span-name scope fixture (codec.SCOPE_INFO), the
    # same approach as `kind`
    "instrumentation_scope.name": "scope_name",
    "instrumentation_scope.version": "scope_version",
}
_CTX_PATHS = {
    "span": {"attributes": "attrs", "name": "name", **_SPAN_SCOPE},
    "spanevent": {
        "attributes": "event_attrs",
        "name": "event_name",
        "span.name": "name",
        # the event timestamp (the token header carries no event time
        # slot, so the pipeline assigns the parent span's start — a
        # deterministic fixture like kind/scope) and the dropped-attrs
        # counter (the codec never drops attributes → always 0, which is
        # also contrib's value when nothing was dropped)
        "time_unix_nano": "start_ts",
        "dropped_attributes_count": "__zero__",
        **_SPAN_SCOPE,
    },
}
_MAP_HEADS = ("attributes", "resource.attributes")
# path heads whose resolved columns are already numeric (long/int) — safe
# in raw ANSI arithmetic; everything else (attr map values, name paths,
# hex-string id paths) must try_cast so a non-numeric value becomes NULL
# instead of an ANSI runtime cast error, keeping compiled expressions
# total functions
_NUMERIC_HEADS = {
    "start_time_unix_nano",
    "end_time_unix_nano",
    "status.code",
    "kind",
    "span.kind",
    "time_unix_nano",
    "dropped_attributes_count",
}
# paths whose values are contrib TIME (time.Time; int64 UTC nanos here)
_TIME_HEADS = {"start_time", "end_time"}


# --------------------------------------------------------------------------
# AST node kinds


@dataclass(frozen=True)
class _Kind:
    """What one AST node kind means.

    ``type`` is the compile-time value type in this engine's span model
    (attr values are strings, timestamps/kind/status int64): "int",
    "double", "time", "string", "bool", "list" or "map", or a function of
    the node. ``value`` builds the node's Column (None: the node is not an
    operand). The error rule, for :func:`error_column`: by default a node
    errs where one of its child nodes errs; ``nil`` adds an error on a
    nil target (the first child: contrib's StandardStringGetter family);
    ``bad(target, node)`` adds a nil error and an error on a present
    target that fails to parse, with the target read as a string."""

    type: str | Callable[[tuple], str]
    value: Callable[[tuple, str], Column] | None = None
    nil: bool = False
    bad: Callable[[Column, tuple], Column] | None = None


# boolean composition: to_column and error_column spell these out
_KINDS: dict[str, _Kind] = {k: _Kind("bool") for k in ("and", "or", "not", "cmp")}


def _node(kind: str, typ, nil: bool = False, bad=None):
    """Declare AST node ``kind``; the decorated function is its value."""
    def declare(value):
        _KINDS[kind] = _Kind(typ, value, nil, bad)
        return value

    return declare


def _static_type(ast) -> str:
    """Compile-time value type of a node — the basis of the Is* type
    predicates, comparison coercion and the converters' type checks."""
    t = _KINDS[ast[0]].type
    return t(ast) if callable(t) else t


_NUMERIC = ("int", "double", "time")


def _str(ast, ctx: str) -> Column:
    return _operand_column(ast, ctx).cast("string")


def _int_operand(ast, ctx: str) -> Column:
    """Operand coerced to int64 with IntGetter semantics: statically
    numeric columns try_cast directly; everything else goes string →
    try_cast long (exact — NOT via double, which loses integers past
    2^53). Non-integer / out-of-int64 values → NULL (error_column flags
    them)."""
    c = _operand_column(ast, ctx)
    if _static_type(ast) in _NUMERIC:
        return c.try_cast("long")
    return c.cast("string").try_cast("long")


def _numeric_operand(ast, ctx: str) -> Column:
    """Operand coerced for arithmetic: anything not statically numeric
    try_casts to double (non-numeric value → NULL → the comparison rules
    absorb it), numeric columns pass through."""
    c = _operand_column(ast, ctx)
    if _static_type(ast) in _NUMERIC:
        return c
    return c.cast("string").try_cast("double")


def _floordiv(c: Column, d: int) -> Column:
    """Exact floor-division of an int64 Column by a positive int, without
    the double-precision trap: ``c - pmod(c, d)`` is exact long
    arithmetic and an exact multiple of ``d``; the one double division
    then carries error ≪ 0.5, which ``round`` removes. (A plain
    ``(c / d).cast("long")`` is wrong above 2^53 and truncates toward
    zero; pmod gives Go's floor semantics.)"""
    return F.round((c - F.pmod(c, F.lit(d))) / F.lit(d)).cast("long")


_LIT_TYPES = {bool: "bool", int: "int", float: "double"}


@_node("lit", lambda ast: _LIT_TYPES.get(type(ast[1]), "string"))
def _lit(ast, ctx):
    return F.lit(ast[1])


def _path_type(ast) -> str:
    head = ast[1][0]
    if head in _TIME_HEADS:
        return "time"
    return "int" if head in _NUMERIC_HEADS else "string"


@_node("path", _path_type)
def _path(ast, ctx):
    parts, paths = ast[1], _CTX_PATHS[ctx]
    head = parts[0]
    if head not in paths:
        raise PolicyError(f"unsupported OTTL {ctx} field: {head!r}")
    if head in _MAP_HEADS:
        return F.col(paths[head]).getItem(parts[1])
    if paths[head] == "__span_id_hex__":
        return F.lower(F.lpad(F.hex(F.col("span_id")), 16, "0"))
    if paths[head] == "__zero__":
        return F.lit(0).cast("long")
    return F.col(paths[head])


def _arith_type(ast) -> str:
    return "int" if _static_type(ast[2]) == _static_type(ast[3]) == "int" else "double"


@_node("arith", _arith_type)
def _arith(ast, ctx):
    lc = _numeric_operand(ast[2], ctx)
    rc = _numeric_operand(ast[3], ctx)
    return (lc + rc) if ast[1] == "+" else (lc - rc)


@_node("ismatch", "bool", nil=True)
def _ismatch(ast, ctx):
    """ottlfuncs func_is_match: Spark ``rlike`` is Java regex vs OTTL's
    RE2 — common syntax is identical, and the build-time RE2 guard
    rejects the constructs that differ. A nil target errors
    (StandardStringLikeGetter)."""
    return F.coalesce(_operand_column(ast[1], ctx).rlike(ast[2]), F.lit(False))


@_node("isroot", "bool")
def _isroot(ast, ctx):
    """ottlfuncs func_is_root_span (NewIsRootSpanFactoryNew): empty/zero
    parent. The reference wires it for the span context only (ottl.go
    standardSpanFuncs)."""
    return F.coalesce(F.col("is_root"), F.lit(False))


@_node("istype", "bool")
def _istype(ast, ctx):
    """IsString/IsInt/IsDouble/IsBool (ottlfuncs StandardConverters).
    pdata value types are static in this engine's span model, so the
    type half resolves at compile time; presence stays a runtime check."""
    if _static_type(ast[2]) != ast[1]:
        return F.lit(False)
    return _operand_column(ast[2], ctx).isNotNull()


@_node("islist", "bool")
def _islist(ast, ctx):
    """ottlfuncs func_is_list: true for a successfully-produced slice
    (Split/Keys/Values), statically false for every scalar operand; the
    producer's getter errors (nil, kv parse) surface via error_column."""
    if _static_type(ast[1]) == "list":
        return F.coalesce(_operand_column(ast[1], ctx).isNotNull(), F.lit(False))
    return F.lit(False)


@_node("luhn", "bool", bad=lambda tgt, ast: tgt.isNotNull() & ~tgt.rlike("^[0-9]+$"))
def _luhn(ast, ctx):
    """ottlfuncs func_is_valid_luhn: checksum over a digit string
    (reversed; every second digit doubled, >9 folds back). Nil, empty or
    any non-digit character is an eval error (contrib rejects
    non-digits), so the digit guard here only keeps the value total."""
    tgt = _str(ast[1], ctx)
    digits_ok = tgt.rlike("^[0-9]+$")
    rev = F.split(F.reverse(tgt), "")
    summands = F.transform(
        rev,
        lambda c, i: F.when(
            F.pmod(i, F.lit(2)) == 1,
            # d*2, folded: 2d - 9 when 2d > 9
            F.coalesce(c.try_cast("int"), F.lit(0)) * 2
            - F.when(F.coalesce(c.try_cast("int"), F.lit(0)) > 4, 9).otherwise(0),
        ).otherwise(F.coalesce(c.try_cast("int"), F.lit(0))),
    )
    total = F.aggregate(summands, F.lit(0), lambda a, x: a + x)
    return F.coalesce(digits_ok & (F.pmod(total, F.lit(10)) == 0), F.lit(False))


@_node("len", "int", nil=True)
def _len(ast, ctx):
    """ottlfuncs/func_len.go: string length; a nil target errors."""
    return F.length(_str(ast[1], ctx))


@_node("lenlist", "int")
def _lenlist(ast, ctx):
    """ottlfuncs/func_len.go slice arm: element count of a list producer
    (the producer's own getter errors surface)."""
    return F.size(_operand_column(ast[1], ctx))  # size(NULL) = NULL (ANSI)


@_node("substr", "string", bad=lambda tgt, ast: F.lit(ast[2] + ast[3]) > F.length(tgt))
def _substr(ast, ctx):
    """ottlfuncs/func_substring.go: 0-based start; nil errors, and so
    does a range past the end of the string."""
    return _str(ast[1], ctx).substr(ast[2] + 1, ast[3])  # OTTL 0-based → SQL 1-based


@_node("case", "string", nil=True)
def _case(ast, ctx):
    """ottlfuncs/func_convert_case.go: upper/lower, and snake/camel with
    strcase's ASCII boundary rules; a nil target errors."""
    target = _str(ast[1], ctx)
    if ast[2] == "upper":
        return F.upper(target)
    if ast[2] == "lower":
        return F.lower(target)
    if ast[2] == "snake":  # strcase.ToSnake (ASCII): boundary _ at
        # lower/digit→Upper and UPPER-run→Upper-lower; space/hyphen → _
        s = F.regexp_replace(target, r"[ \-]", "_")
        s = F.regexp_replace(s, r"([a-z0-9])([A-Z])", r"$1_$2")
        s = F.regexp_replace(s, r"([A-Z]+)([A-Z][a-z])", r"$1_$2")
        return F.lower(s)
    # camel (strcase.ToCamel: UpperCamel): split on _/-/space,
    # capitalize each part's first letter, keep the rest verbatim
    parts = F.split(F.regexp_replace(target, r"[ \-]", "_"), "_", -1)
    cap = F.transform(
        parts,
        lambda p: F.concat(F.upper(p.substr(1, 1)), p.substr(F.lit(2), F.length(p))),
    )
    return F.array_join(cap, "")


@_node("concat", "string")
def _concat(ast, ctx):
    """ottlfuncs/func_concat.go: nil parts are SKIPPED (concat_ws), so
    only the parts' own errors surface."""
    return F.concat_ws(ast[2], *[_str(t, ctx) for t in ast[1]])


@_node("cast", lambda ast: {"long": "int", "double": "double", "string": "string"}[ast[1]])
def _cast(ast, ctx):
    """ottlfuncs func_int / func_double / func_string: Int/Double are
    try-casts — a non-numeric value becomes nil here and an eval error
    in error_column (the strconv failure)."""
    target = _operand_column(ast[2], ctx)
    if ast[1] == "string":
        return target.cast("string")
    return target.try_cast(ast[1])


@_node(
    "time", "time",
    bad=lambda tgt, ast: tgt.isNotNull() & F.try_to_timestamp(tgt, F.lit(ast[2])).isNull(),
)
def _time(ast, ctx):
    """ottlfuncs func_time: string + Go ctime format → time.Time, here
    int64 unix nanos. Go time.Parse with no zone in the layout assumes
    UTC; the session timezone is pinned UTC (session.py), so
    try_to_timestamp interprets the wall time identically. Nil and an
    unparseable present value are eval errors."""
    tgt = _str(ast[1], ctx)
    return F.unix_micros(F.try_to_timestamp(tgt, F.lit(ast[2]))) * F.lit(1000)


# The time-valued targets below carry their own errors (a failed Time()
# parse is flagged at the Time node; the time paths are never nil).


@_node("trunctime", "time")
def _trunctime(ast, ctx):
    """ottlfuncs func_truncate_time: time truncated toward the epoch."""
    c = _operand_column(ast[1], ctx)
    return c - F.pmod(c, F.lit(ast[2]))


@_node("hour", "int")
def _hour(ast, ctx):
    """ottlfuncs func_hour: UTC hour-of-day. ns-of-day fits a double
    exactly (< 2^53); the full nano value would not."""
    ns_day = F.pmod(_operand_column(ast[1], ctx), F.lit(86_400_000_000_000))
    return F.floor(ns_day / F.lit(3_600_000_000_000)).cast("long")


@_node("unixnano", "int")
def _unixnano(ast, ctx):
    """ottlfuncs func_unix_nano: time IS int64 unix nanos here."""
    return _operand_column(ast[1], ctx)


@_node("timepart", "int")
def _timepart(ast, ctx):
    """ottlfuncs func_day/month/year/minute/second: calendar parts in the
    time's location (UTC here, like Go time.Parse with no zone)."""
    c = _operand_column(ast[1], ctx)
    unit = ast[2]
    if unit == "minute":
        return _floordiv(F.pmod(c, F.lit(3_600_000_000_000)), 60_000_000_000)
    if unit == "second":
        return _floordiv(F.pmod(c, F.lit(60_000_000_000)), 1_000_000_000)
    ts = F.timestamp_micros(_floordiv(c, 1000))  # session TZ pinned UTC
    fn = {"day": F.dayofmonth, "month": F.month, "year": F.year}[unit]
    return fn(ts).cast("long")


@_node("unixdiv", "int")
def _unixdiv(ast, ctx):
    """ottlfuncs func_unix_seconds/milli/micro: Go floor-of-seconds /
    truncating ns division, identical for the non-negative times this
    engine sees."""
    return _floordiv(_operand_column(ast[1], ctx), ast[2])


def _unix_nanos(ast, ctx: str) -> Column:
    # exact int64 coercion (string → long directly, NOT via double —
    # doubles lose integers past 2^53) and OVERFLOW-SAFE arithmetic: ANSI
    # mode would throw on |sec| > ~9.2e9 (ADVICE r5); try_* maps overflow
    # to NULL, which error_column flags as an eval error (int64-
    # unrepresentable time is undefined in Go's time.Unix — this engine
    # defines it as an error, model included)
    ns = F.try_multiply(_int_operand(ast[1], ctx), F.lit(1_000_000_000))
    if ast[2] is not None:
        ns = F.try_add(ns, _int_operand(ast[2], ctx))
    return ns


@_node("unixtime", "time")
def _unixtime(ast, ctx):
    """ottlfuncs func_unix: epoch seconds (+ optional nanos) → time.Time,
    IntGetter semantics (nil or non-integer values error)."""
    return _unix_nanos(ast, ctx)


@_node("splitget", "string", nil=True)
def _splitget(ast, ctx):
    """ottlfuncs func_split, indexed: Go strings.Split is a LITERAL
    delimiter and Spark split takes a regex — escape it. An out-of-range
    index is nil, not an error; a nil target errors."""
    return F.get(F.split(_str(ast[1], ctx), re.escape(ast[2]), -1), ast[3])


@_node("splitlist", "list", nil=True)
def _splitlist(ast, ctx):
    """ottlfuncs func_split as a list producer (StringLikeGetter: nil
    errors)."""
    return F.split(_str(ast[1], ctx), re.escape(ast[2]), -1)


def _sort_get(arr: Column, order: str, idx: int) -> Column:
    arr = F.array_sort(arr)
    if order == "desc":
        arr = F.reverse(arr)
    return F.get(arr, idx)  # out-of-range → nil, not an error


@_node("sortget", "string", nil=True)
def _sortget(ast, ctx):
    """ottlfuncs func_sort over Split (the original sort AST)."""
    return _sort_get(F.split(_str(ast[1], ctx), re.escape(ast[2]), -1), ast[3], ast[4])


@_node("sortlist", "string")
def _sortlist(ast, ctx):
    """ottlfuncs func_sort over Keys/Values."""
    return _sort_get(_operand_column(ast[1], ctx), ast[2], ast[3])


def _kv_pairs(tgt: Column, pair_delim: str) -> Column:
    """Non-empty pair segments of a kv string."""
    return F.filter(
        F.split(tgt, re.escape(pair_delim), -1), lambda p: F.trim(p) != F.lit("")
    )


def _kv_key(pair: Column, d: str) -> Column:
    return F.trim(F.substring_index(pair, d, 1))


def _kv_value(pair: Column, d: str) -> Column:
    return F.trim(pair.substr(F.locate(d, pair) + F.lit(len(d)), F.length(pair)))


def _kv_unsplit(tgt: Column, d: str, pair_delim: str) -> Column:
    """contrib's "cannot split": a non-empty pair lacking the kv delimiter."""
    return F.exists(_kv_pairs(tgt, pair_delim), lambda p: ~p.contains(d))


@_node("kvget", "string", bad=lambda tgt, ast: _kv_unsplit(tgt, ast[2], ast[3]))
def _kvget(ast, ctx):
    """ottlfuncs func_parse_key_value, indexed with ["key"]: keys and
    values are space-trimmed, a duplicate key keeps the LAST value (map
    upsert order). Nil and a pair without the kv delimiter are eval
    errors. Simplification vs contrib: no quoted-value unwrapping."""
    d, key = ast[2], ast[4]
    matches = F.filter(
        _kv_pairs(_str(ast[1], ctx), ast[3]),
        lambda p: p.contains(d) & (_kv_key(p, d) == F.lit(key)),
    )
    # duplicate keys keep the LAST value (map upsert); empty → NULL
    return F.try_element_at(F.transform(matches, lambda p: _kv_value(p, d)), F.lit(-1))


@_node("kvlist", "list", bad=lambda tgt, ast: _kv_unsplit(tgt, ast[3], ast[4]))
def _kvlist(ast, ctx):
    """ottlfuncs func_keys / func_values over ParseKeyValue: duplicate
    keys collapse, values keep the LAST value per key (kvget's rule)."""
    which, d = ast[1], ast[3]
    pairs = _kv_pairs(_str(ast[2], ctx), ast[4])
    dkeys = F.array_distinct(F.transform(pairs, lambda p: _kv_key(p, d)))
    if which == "keys":
        return dkeys
    return F.transform(
        dkeys,
        lambda k: F.try_element_at(
            F.transform(
                F.filter(pairs, lambda p: _kv_key(p, d) == k),
                lambda p: _kv_value(p, d),
            ),
            F.lit(-1),
        ),
    )


@_node(
    "csvget", "string",
    bad=lambda tgt, ast: F.size(F.split(tgt, re.escape(ast[3]), -1)) != F.lit(ast[2]),
)
def _csvget(ast, ctx):
    """ottlfuncs func_parse_csv, indexed with ["column"]: headers resolve
    at build time. Simplification vs contrib: delimiter split without
    quote handling (the ignoreQuotes mode). A field count that differs
    from the header count is nil here and contrib's "wrong number of
    fields" eval error in error_column."""
    fields = F.split(_str(ast[1], ctx), re.escape(ast[3]), -1)
    return F.when(F.size(fields) == ast[2], F.get(fields, ast[4]))


@_node("extractpat", "string", nil=True)
def _extractpat(ast, ctx):
    """ottlfuncs func_extract_patterns / func_extract_grok_patterns:
    named-group regex → map, indexed with ["name"] (grok templates expand
    against _GROK_PATTERNS). No overall match → nil (contrib returns an
    empty map; regexp_extract renders no-match as "", hence the guard).
    Divergence: a matching-but-empty group renders "" where contrib omits
    the key (Spark's regexp_extract cannot tell participation)."""
    tgt = _str(ast[1], ctx)
    return F.when(tgt.rlike(ast[3]), F.regexp_extract(tgt, ast[3], ast[4]))


@_node("urlget", "string", bad=lambda tgt, ast: tgt.isNotNull() & ~tgt.rlike(_URL_RE))
def _urlget(ast, ctx):
    """ottlfuncs func_url, indexed with ["url.part"] (see _URL_RE). An
    unmatched present target is nil here and net/url's parse error in
    error_column."""
    tgt = _str(ast[1], ctx)
    g = _URL_KEYS[ast[2]]
    if g >= 0:
        out = F.regexp_extract(tgt, _URL_RE, g)
    elif g == -1:  # url.username: user_info up to the first ':'
        out = F.substring_index(F.regexp_extract(tgt, _URL_RE, 2), ":", 1)
    elif g == -2:  # url.password: after the first ':' if present
        ui = F.regexp_extract(tgt, _URL_RE, 2)
        out = F.when(
            ui.contains(":"),
            ui.substr(F.locate(":", ui) + F.lit(1), F.length(ui)),
        ).otherwise(F.lit(""))
    else:  # url.extension: the path's trailing .suffix
        out = F.regexp_extract(
            F.regexp_extract(tgt, _URL_RE, 5), r"\.([^./]+)$", 1
        )
    return F.when(tgt.rlike(_URL_RE), F.nullif(out, F.lit("")))


# ottlfuncs func_parse_json: string → map, only ever read through
# jsonget. It reads its target through a StandardStringGetter, so nil
# errors, and so does a present value that is not JSON (unmarshal failure).
_KINDS["parsejson"] = _Kind(
    "map", bad=lambda tgt, ast: tgt.isNotNull() & F.get_json_object(tgt, "$").isNull()
)


@_node("jsonget", "string")
def _jsonget(ast, ctx):
    """ParseJSON(x)["a"]["b"]: lazy per-key get_json_object — the map is
    never materialized; an absent key is nil."""
    keys, node = [], ast
    while node[0] == "jsonget":
        keys.append(node[2])
        node = node[1]
    path = "$." + ".".join(reversed(keys))
    return F.get_json_object(_str(node[1], ctx), path)


@_node("trim", "string", nil=True)
def _trim(ast, ctx):
    """ottlfuncs func_trim: strings.Trim with a CUTSET (btrim); nil
    errors."""
    return F.btrim(_str(ast[1], ctx), F.lit(ast[2]))


@_node("hashconv", "string", nil=True)
def _hashconv(ast, ctx):
    """ottlfuncs func_sha1 / func_sha256 / func_md5: lowercase hex digest
    of the UTF-8 bytes; nil errors."""
    tgt = _str(ast[1], ctx)
    if ast[2] == "sha1":
        return F.sha1(tgt)
    if ast[2] == "sha256":
        return F.sha2(tgt, 256)
    return F.md5(tgt)


_FLOAT_FOLDS = {
    "hours": 3_600_000_000_000.0, "minutes": 60_000_000_000.0, "seconds": 1_000_000_000.0,
}


@_node("durfold", lambda ast: "double" if ast[2] in _FLOAT_FOLDS else "int", nil=True)
def _durfold(ast, ctx):
    """ottlfuncs func_hours/.../func_nanoseconds, the time.Duration fold
    methods: h/m/s → float64, ms/us/ns → int64. StandardDurationGetter:
    nil errors (a non-numeric value can only come from a cast converter,
    whose own node flags it)."""
    c = _numeric_operand(ast[1], ctx)
    unit = ast[2]
    if unit in _FLOAT_FOLDS:
        # Go computes sec + nsec/1e9 in two terms; single division
        # differs by ≤1 ULP only above 2^53 ns (~104 days)
        return c / F.lit(_FLOAT_FOLDS[unit])
    if unit == "nanoseconds":
        return c
    # Go's Duration.Milliseconds()/Microseconds() divide int64s —
    # truncation toward ZERO, which matters for negative durations
    # (floor would differ); Spark's % keeps the dividend's sign, so
    # c - c%d is the zero-ward multiple
    d = {"milliseconds": 1_000_000, "microseconds": 1_000}[unit]
    return F.round((c - (c % F.lit(d))) / F.lit(d)).cast("long")


@_node("logconv", "double")
def _logconv(ast, ctx):
    """ottlfuncs func_log: natural log of a FloatLike value; nil,
    non-numeric and ≤ 0 are eval errors (error_column)."""
    x = _numeric_operand(ast[1], ctx)
    return F.when(x > 0, F.log(x))  # <= 0 → NULL


@_node("format", "string")
def _format(ast, ctx):
    """ottlfuncs func_format: fmt.Sprintf over %s/%d (verb/arg types
    checked at build). Sprintf never errors: a nil arg renders Go's
    %!s(<nil>) / %!d(<nil>)."""
    segs, verbs, args = ast[1], ast[2], ast[3]
    parts: list[Column] = [F.lit(segs[0])]
    for seg, verb, a in zip(segs[1:], verbs, args):
        parts.append(F.coalesce(_str(a, ctx), F.lit(f"%!{verb}(<nil>)")))
        parts.append(F.lit(seg))
    return F.concat(*parts)


@_node("hexenc", "string", nil=True)
def _hexenc(ast, ctx):
    """ottlfuncs func_hex: lowercase hex of the value's bytes
    (ByteSliceLikeGetter: string → UTF-8 bytes, int64 → 8 big-endian
    two's-complement bytes); nil errors."""
    c = _operand_column(ast[1], ctx)
    if ast[2] == "int":
        # Spark hex(long) drops leading zero nibbles, lpad restores
        return F.lower(F.lpad(F.hex(c.cast("long")), 16, "0"))
    return F.lower(F.hex(c.cast("string")))


# Go base64.StdEncoding.DecodeString accepts only canonical padded input:
# whole groups of 4, a final group padded to 4 with = / ==
_B64_RE = (
    r"^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"
)


@_node("decode64", "string", bad=lambda tgt, ast: tgt.isNotNull() & ~tgt.rlike(_B64_RE))
def _decode64(ast, ctx):
    """ottlfuncs func_decode (base64): unbase64 is gated behind the
    strict-padding check (ANSI mode would throw on malformed input);
    nil and malformed input are eval errors."""
    tgt = _str(ast[1], ctx)
    return F.when(tgt.rlike(_B64_RE), F.unbase64(tgt).cast("string"))


@_node("fnv", "int", nil=True)
def _fnv(ast, ctx):
    """ottlfuncs func_fnv: FNV-1a 64 over the UTF-8 bytes as int64 (Go
    int64(h.Sum64())), hashing.py's Arrow-vectorized kernel; nil errors."""
    from ..hashing import fnv1a64_string_column

    return fnv1a64_string_column(_str(ast[1], ctx))


@_node("murmur3", "int", nil=True)
def _murmur3(ast, ctx):
    """ottlfuncs func_murmur3hash: murmur3 x86 32-bit, seed 0, over the
    UTF-8 bytes → int64 of the uint32 sum; nil errors."""
    from ..hashing import murmur3_32_string_column

    return murmur3_32_string_column(_str(ast[1], ctx))


# --------------------------------------------------------------------------
# walkers


def _children(ast) -> list:
    """The nodes directly under ``ast``: every tuple element, or list of
    tuples, after the kind."""
    return [
        c for x in ast[1:] for c in (x if isinstance(x, list) else (x,))
        if isinstance(c, tuple)
    ]


def _operand_column(ast, ctx: str) -> Column:
    kind = _KINDS.get(ast[0])
    if kind is None or kind.value is None:
        raise PolicyError(f"OTTL: invalid operand {ast!r}")
    return kind.value(ast, ctx)


def _is_nil_lit(ast) -> bool:
    return ast[0] == "lit" and ast[1] is None


def to_column(ast, ctx: str) -> Column:
    """AST → boolean Column (never NULL: missing-value comparisons are
    false, `!=` against missing is true — OTTL nil semantics)."""
    kind = ast[0]
    if kind == "and":
        return to_column(ast[1], ctx) & to_column(ast[2], ctx)
    if kind == "or":
        return to_column(ast[1], ctx) | to_column(ast[2], ctx)
    if kind == "not":
        return ~to_column(ast[1], ctx)
    if kind == "cmp":
        op, l, r = ast[1], ast[2], ast[3]
        # an explicit nil literal compares by PRESENCE (OTTL nil
        # semantics): `x == nil` is true iff x is absent — NOT the SQL
        # NULL == NULL → NULL → false trap. Ordering vs nil is false.
        if _is_nil_lit(r) or _is_nil_lit(l):
            target = _operand_column(l if _is_nil_lit(r) else r, ctx)
            if op == "==":
                return target.isNull()
            if op == "!=":
                return target.isNotNull()
            return F.lit(False)
        lc, rc = _operand_column(l, ctx), _operand_column(r, ctx)
        # mixed-STATIC-TYPE comparison coercion (totality under ANSI):
        # Spark's implicit cast in e.g. string == int THROWS on a
        # non-numeric value, so the non-numeric side try_casts (an
        # unparseable value → NULL → comparison false, contrib's
        # invalid-comparison result); bool-vs-string compares textually.
        # Applies to ANY operand form, not just bare paths — the fuzz
        # suite (test_ottl_fuzz.py) found converter-produced strings
        # compared to numbers slipping through the old path-only rule.
        # Time compares like its int64 nano value (contrib compares
        # time.Time instants; the unix-nano idiom is the common usage).
        lt, rt = _static_type(l), _static_type(r)
        if lt in _NUMERIC and rt not in _NUMERIC:
            rc = rc.cast("string").try_cast("double")
        elif rt in _NUMERIC and lt not in _NUMERIC:
            lc = lc.cast("string").try_cast("double")
        elif lt == "bool" and rt == "string":
            lc = lc.cast("string")
        elif rt == "bool" and lt == "string":
            rc = rc.cast("string")
        if op == "==":
            return F.coalesce(lc == rc, F.lit(False))
        if op == "!=":
            return F.coalesce(lc != rc, F.lit(True))
        cmp = {"<": lc < rc, "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc}[op]
        return F.coalesce(cmp, F.lit(False))
    if kind in _KINDS and _static_type(ast) == "bool":
        return _operand_column(ast, ctx)
    raise PolicyError(f"OTTL: invalid expression node {ast!r}")


def validate_paths(ast, ctx: str) -> None:
    """Config-time check that every path resolves in this context (no
    SparkContext needed)."""
    kind = ast[0]
    if kind == "path" and ast[1][0] not in _CTX_PATHS[ctx]:
        raise PolicyError(f"unsupported OTTL {ctx} field: {ast[1][0]!r}")
    if kind == "isroot" and ctx != "span":  # span funcs only in the reference
        raise PolicyError("OTTL: IsRootSpan() is a span-context converter")
    if kind == "istype" and ast[1] != "string" and ast[2][0] == "jsonget":
        # the reference's ParseJSON yields TYPED pcommon values (JSON
        # numbers → double); this engine's lazy get_json_object only
        # preserves strings, so a non-IsString type predicate over a
        # JSON value would be a silent constant-false — fail loudly
        raise PolicyError(
            "OTTL: Is* type predicates over ParseJSON values are "
            "unsupported (JSON scalar types are not preserved); "
            "only IsString applies"
        )
    for child in _children(ast):
        validate_paths(child, ctx)


def error_column(ast, ctx: str) -> Column:
    """Boolean Column: true where the reference's evaluator would ERROR
    on this row (error_mode semantics, ottl.go:42-120 → decider.go:46-48).

    The compiled value Columns are total functions — try_cast / coalesce
    absorb runtime failures — so `ignore` needs nothing. This expression
    recovers WHERE those absorptions happened, per each node kind's
    error rule in ``_KINDS`` (the getter nil errors, strconv and parse
    failures, substring bounds). Boolean composition models the contrib
    evaluator's SHORT-CIRCUIT: `or` never evaluates the right term once
    the left is true, `and` never once the left is false, so err(or) =
    err(l) | (¬val(l) ∧ err(r)) and err(and) = err(l) | (val(l) ∧
    err(r))."""
    kind = ast[0]
    f = F.lit(False)
    if kind in ("or", "and"):
        lval = to_column(ast[1], ctx)
        if kind == "or":
            lval = ~lval
        return error_column(ast[1], ctx) | (lval & error_column(ast[2], ctx))
    if kind in ("concat", "format"):
        # func_concat skips nil parts and Sprintf renders them: only the
        # parts' own getter errors surface
        return reduce(operator.or_, (error_column(t, ctx) for t in _children(ast)), f)
    if kind == "cast":
        # func_int / func_double: strconv failure on a present value
        child = error_column(ast[2], ctx)
        if ast[1] == "string":
            return child
        tgt = _operand_column(ast[2], ctx)
        bad = tgt.isNotNull() & tgt.cast("string").try_cast(ast[1]).isNull()
        return child | F.coalesce(bad, f)
    if kind == "arith":
        # a present non-numeric operand errors
        out = error_column(ast[2], ctx) | error_column(ast[3], ctx)
        for side in (ast[2], ast[3]):
            if _static_type(side) not in _NUMERIC:
                c = _operand_column(side, ctx)
                bad = c.isNotNull() & c.cast("string").try_cast("double").isNull()
                out = out | F.coalesce(bad, f)
        return out
    if kind == "unixtime":
        # func_unix: IntGetter — nil or a non-integer value errors, and
        # so does int64 OVERFLOW of sec*1e9 (+nanos) (ADVICE r5): the
        # value is computed with try_multiply/try_add, so a NULL result
        # with parseable inputs means overflow
        out = f
        for arg in _children(ast):
            c = _operand_column(arg, ctx)
            # isNull() is itself never NULL: nil and unparseable both flag
            out = out | error_column(arg, ctx) | c.cast("string").try_cast("long").isNull()
        return out | _unix_nanos(ast, ctx).isNull()
    if kind == "logconv":
        # func_log: FloatLike nil/non-numeric errors + the explicit
        # value-must-be-positive guard
        tgt = _operand_column(ast[1], ctx)
        x = _numeric_operand(ast[1], ctx)
        bad = tgt.isNotNull() & (x.isNull() | (x <= 0))
        return error_column(ast[1], ctx) | tgt.isNull() | F.coalesce(bad, f)
    if kind not in _KINDS:
        raise PolicyError(f"OTTL: invalid expression node {ast!r}")
    rule, children = _KINDS[kind], _children(ast)
    if rule.bad is not None:
        tgt = _str(children[0], ctx)
        bad = F.coalesce(rule.bad(tgt, ast), f)
        return error_column(children[0], ctx) | tgt.isNull() | bad
    if rule.nil:
        return error_column(children[0], ctx) | _operand_column(children[0], ctx).isNull()
    return reduce(operator.or_, (error_column(c, ctx) for c in children)) if children else f
