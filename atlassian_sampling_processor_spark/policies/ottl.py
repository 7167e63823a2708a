"""OTTL boolean-expression subset → Catalyst Column translation.

The reference wires the full collector-contrib OTTL parser
(internal/evaluators/ottl.go:42-120); this module implements the
published-grammar subset that covers the reference's fixtures
(ottl_test.go:22-112, testdata/atlassian_sampling_test_cfg.yml:70-83)
plus the forms real configs hit immediately beyond them:

* comparisons  ``== != > >= < <=`` over span/spanevent paths and
  string / numeric / boolean / nil literals;
* boolean composition ``and`` / ``or`` / ``not`` with parentheses
  (OTTL precedence: ``not`` > ``and`` > ``or``);
* additive arithmetic ``+`` / ``-`` in operands (the duration idiom
  ``end_time_unix_nano - start_time_unix_nano > 5000000``);
* converters ``IsMatch(target, "pattern")`` (regex, validated at parse
  time; Spark ``rlike`` is Java regex vs OTTL's RE2 — common syntax is
  identical, lookarounds differ), ``Len(target)``,
  ``Substring(target, start, length)`` (0-based start, per
  ottlfuncs/func_substring.go), ``ConvertCase(target, "upper"|"lower")``,
  ``Concat([a, b, ...], "delim")`` (nil parts skipped, concat_ws
  semantics), the cast converters ``Int``/``Double``/``String``
  (``Int``/``Double`` are try-casts: a non-numeric value becomes nil,
  which the comparison rules then treat as absent); wave 5 (round 4):
  ``IsRootSpan()`` (span context, as the reference wires it),
  ``IsString``/``IsInt``/``IsDouble``/``IsBool`` (static pdata types +
  runtime presence), ``ParseJSON(target)["key"]["sub"]`` (lazy per-key
  get_json_object; invalid JSON → nil in ignore mode, an eval error in
  propagate mode), and ``error_mode: propagate`` itself
  (:func:`error_column` recovers where the total compiled expressions
  absorbed what the reference's evaluator would surface as errors);
  wave 6 (round 5): ``Time(target, "%Y-%m-%d %H:%M:%S")`` (Go ctime
  format subset → UTC unix nanos; unparseable present value is an eval
  error), ``TruncateTime(time, Duration(...))``, ``Hour(time)``,
  ``UnixNano(time)``, ``Split(target, "delim")[n]`` (literal delimiter,
  out-of-range index → nil), the ``start_time``/``end_time`` TIME paths,
  and spanevent ``time_unix_nano``/``dropped_attributes_count``; wave 7
  (round 5): ``Trim(target[, cutset])`` (strings.Trim cutset semantics),
  the digest converters ``SHA1``/``SHA256``/``MD5`` (lowercase hex), the
  duration folds ``Hours``/``Minutes``/``Seconds`` (float64) and
  ``Milliseconds``/``Microseconds``/``Nanoseconds`` (int64), the
  calendar extractors ``Day``/``Month``/``Year``/``Minute``/``Second``
  (UTC, like ``Hour``), ``UnixSeconds``/``UnixMilli``/``UnixMicro``, and
  ``Log(value)`` (natural log; value ≤ 0, nil, or non-numeric is an
  eval error, per ottlfuncs func_log); wave 8 (round 5):
  ``Format("%s-%d", [a, b])`` (Sprintf %s/%d subset with static
  verb/arg type checking; nil renders Go's ``%!s(<nil>)``),
  ``Hex(value)`` (lowercase hex of UTF-8 bytes for strings / 8
  big-endian bytes for int64s, func_hex), ``Decode(value, "base64")``
  (strict padded std base64; malformed or nil is an eval error),
  ``ParseKeyValue(target, "=", " ")["key"]`` (pair/kv-delimited string
  → map, space-trimmed keys/values, last duplicate wins, a non-empty
  pair without the kv delimiter errors; contrib's quoted-value
  unwrapping is not implemented), ``ExtractPatterns(target,
  "(?P<name>...)")["name"]`` (named-group regex → map; both Go
  ``(?P<`` and Java ``(?<`` spellings accepted, RE2-guarded; a
  matching-but-empty group renders ``""`` where contrib omits the key),
  and ``FNV(target)`` (FNV-1a64 of the UTF-8 bytes as int64, via
  hashing.py's Arrow-vectorized kernel); wave 9 (round 5):
  ``ConvertCase`` gains contrib's ``snake``/``camel`` modes (strcase
  ASCII boundary rules), ``Sort(Split(x, ","), "asc"|"desc")[n]``
  (func_sort; the Split list producer must stay indexed — Go's map
  iteration makes unindexed use nondeterministic in the reference too),
  ``Unix(seconds[, nanos])`` (func_unix; IntGetter semantics — nil or
  non-integer values error) producing a TIME value usable with
  Hour/UnixNano/TruncateTime, and ``Murmur3Hash(target)`` (murmur3
  x86-32 seed 0 as int64, golden-pinned to the published test vectors);
  wave 10 (round 6): ``ParseCSV(target, "h1,h2"[, delim])["col"]``
  (func_parse_csv — headers resolve at build time; delimiter split
  without quote handling, the ignoreQuotes simplification; wrong field
  count is the contrib parse error), ``Keys(ParseKeyValue(...))`` /
  ``Values(ParseKeyValue(...))`` list producers consumable by
  ``Sort(...)[n]`` / ``Len(...)`` / ``IsList(...)`` only (func_keys /
  func_values — bare positional use would be Go-map-iteration
  nondeterministic in the reference too; duplicate keys collapse with
  last-value-wins), ``Len`` over any list producer (func_len slice arm),
  ``IsList`` (func_is_list — statically false for scalars), and
  ``ExtractGrokPatterns(target, "%{SYNTAX:name} ...")["name"]``
  (func_extract_grok_patterns — independent built-in pattern dictionary,
  namedCapturesOnly default, expanded regex RE2-guarded and evaluated
  through the ExtractPatterns machinery).
  IsMatch
  and grouper patterns are build-time rejected when they use Java-regex
  constructs RE2 cannot compile (lookarounds, backreferences, atomic
  groups, possessive quantifiers) — fail-to-start parity with the
  reference's Go regexp.

Paths supported per context (the columns the pipeline carries):
span: ``attributes["k"]``, ``resource.attributes["k"]``, ``name``,
``kind``, ``status.code``, ``start_time_unix_nano``,
``end_time_unix_nano``; spanevent: ``attributes["k"]``, ``name`` plus
the span-scope paths above (the contrib spanevent context exposes its
parent span/resource). Anything else is a build-time
:class:`PolicyError`, matching the reference's fail-to-start behavior
on unparsable conditions (internal/evaluators/ottl.go:42-120).

Ignore-mode error semantics are CONDITION-level, matching contrib
(round 5): the compiled value Columns are total functions (try_cast /
coalesce absorb runtime failures at the leaf), and the builder masks
each condition with ``¬error_column`` so a condition whose evaluation
errors is skipped — ``a or b`` with an erroring ``a`` is false even
when ``b`` is true, exactly contrib's ``ignore`` (the error surfaces
out of the whole condition's Eval). ``propagate`` mode is order- and
short-circuit-exact to the reference (see :func:`error_column`).

Parsing happens at CONFIG time (pure-Python AST, no SparkContext);
Column construction is deferred to plan build. Missing-value semantics
follow OTTL comparison rules: a comparison against an absent value is
false, except ``!=`` which is true — and an explicit ``nil`` literal
compares by PRESENCE: ``attributes["k"] == nil`` is true iff the
attribute is absent (isNull), ``!= nil`` iff present.
"""

from __future__ import annotations

import re
from typing import Any

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
# AST: ("lit", value) | ("path", [parts]) | ("ismatch", target_ast, pattern)
#      ("len", target) | ("substr", target, start, length)
#      ("case", target, "upper"|"lower") | ("concat", [targets], delim)
#      ("cast", "long"|"double"|"string", target)
#      ("arith", op, l, r) | ("cmp", op, lhs, rhs)
#      ("and", l, r) | ("or", l, r) | ("not", x)


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
        if lhs[0] in ("ismatch", "and", "or", "not", "cmp", "isroot", "istype",
                      "islist", "luhn"):
            return lhs
        if lhs[0] == "lit" and isinstance(lhs[1], bool):
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

    def _parse_split_call(self):
        """After the ``Split`` ident: ``(target, "delim")`` → (ast, delim)."""
        self._expect("lparen")
        target = self.parse_operand()
        self._expect("comma")
        delim = _unquote(self._expect("string"))
        self._expect("rparen")
        if not delim:
            raise PolicyError(f"OTTL: Split delimiter must not be empty in {self.src!r}")
        return target, delim

    def _parse_kv_call(self):
        """After the ``ParseKeyValue`` ident: ``(target[, delim[,
        pair_delim]])`` → (ast, delim, pair_delim) — shared by the
        indexed ``["key"]`` form and the Keys/Values list producers."""
        self._expect("lparen")
        target = self.parse_operand()
        delim, pair_delim = "=", " "
        if self._peek()[0] == "comma":
            self._next()
            delim = _unquote(self._expect("string"))
        if self._peek()[0] == "comma":
            self._next()
            pair_delim = _unquote(self._expect("string"))
        self._expect("rparen")
        if not delim or not pair_delim or delim == pair_delim:
            raise PolicyError(
                f"OTTL: ParseKeyValue delimiters must be non-empty "
                f"and distinct in {self.src!r}"
            )
        return target, delim, pair_delim

    def _parse_list_producer(self):
        """Wave 10: a pcommon.Slice-valued sub-expression — ``Split(x,
        d)``, ``Keys(ParseKeyValue(...))``, ``Values(ParseKeyValue(...))``
        — consumable only by Sort/Len/IsList (Go's map iteration order
        makes any positional use of an UNsorted Keys/Values
        nondeterministic in the reference too)."""
        v = self._expect("ident")
        if v == "Split":
            target, delim = self._parse_split_call()
            return ("splitlist", target, delim)
        if v in ("Keys", "Values"):
            self._expect("lparen")
            inner = self._expect("ident")
            if inner != "ParseKeyValue":
                raise PolicyError(
                    f"OTTL: {v} target must be ParseKeyValue(...) in {self.src!r}"
                )
            target, delim, pair_delim = self._parse_kv_call()
            self._expect("rparen")
            return ("kvlist", v.lower(), target, delim, pair_delim)
        raise PolicyError(
            f"OTTL: expected a list producer (Split/Keys/Values), got "
            f"{v!r} in {self.src!r}"
        )

    def _parse_index(self) -> int:
        """A required ``[n]`` postfix (list consumers stay scalar-valued)."""
        if self._peek()[0] != "lbracket":
            raise PolicyError(
                f"OTTL: list-valued converter must be indexed with [n] in {self.src!r}"
            )
        self._next()
        idx = self._expect("number")
        self._expect("rbracket")
        if "." in idx:
            raise PolicyError(f"OTTL: list index must be an int in {self.src!r}")
        return int(idx)

    def _parse_primary(self):
        k, v = self._peek()
        if k == "string":
            self._next()
            return ("lit", _unquote(v))
        if k == "number":
            self._next()
            return self._parse_number(v)
        if k == "addop" and v == "-":  # unary minus on a numeric literal
            self._next()
            num = self._parse_number(self._expect("number"))
            return ("lit", -num[1])
        if k == "ident":
            self._next()
            if v in ("true", "false"):
                return ("lit", v == "true")
            if v == "nil":
                return ("lit", None)
            if v == "IsMatch":
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("comma")
                pattern = _unquote(self._expect("string"))
                # dialect guard FIRST: Java-only constructs Python's re
                # also rejects (\k<name> backrefs) get the RE2 message,
                # not a generic invalid-regex one
                ensure_re2_compatible(pattern, "IsMatch")
                try:
                    re.compile(pattern)
                except re.error as exc:
                    raise PolicyError(
                        f"OTTL: IsMatch pattern {pattern!r} is not a valid regex: {exc}"
                    ) from exc
                self._expect("rparen")
                return ("ismatch", target, pattern)
            if v == "Len":  # ottlfuncs/func_len.go — string length, or
                # element count of a list producer (wave 10: Len over a
                # pcommon.Slice — Split / Keys / Values)
                self._expect("lparen")
                if self._peek()[0] == "ident" and self._peek()[1] in _LIST_PRODUCERS:
                    lp = self._parse_list_producer()
                    self._expect("rparen")
                    return ("lenlist", lp)
                target = self.parse_operand()
                self._expect("rparen")
                return ("len", target)
            if v == "Substring":  # ottlfuncs/func_substring.go (0-based)
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("comma")
                start = self.parse_operand()
                self._expect("comma")
                length = self.parse_operand()
                self._expect("rparen")
                for arg, nm in ((start, "start"), (length, "length")):
                    if not (arg[0] == "lit" and isinstance(arg[1], int)):
                        raise PolicyError(
                            f"OTTL: Substring {nm} must be an int literal in {self.src!r}"
                        )
                return ("substr", target, start[1], length[1])
            if v == "ConvertCase":  # ottlfuncs/func_convert_case.go — all
                # four contrib modes; snake/camel follow strcase's ASCII
                # boundary rules (wave 9)
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("comma")
                mode = _unquote(self._expect("string")).lower()
                if mode not in ("upper", "lower", "snake", "camel"):
                    raise PolicyError(
                        f"OTTL: ConvertCase mode {mode!r} unsupported "
                        f"(upper/lower/snake/camel) in {self.src!r}"
                    )
                self._expect("rparen")
                return ("case", target, mode)
            if v == "Concat":  # ottlfuncs/func_concat.go: Concat([...], delim)
                self._expect("lparen")
                self._expect("lbracket")
                targets = [self.parse_operand()]
                while self._peek()[0] == "comma":
                    self._next()
                    targets.append(self.parse_operand())
                self._expect("rbracket")
                self._expect("comma")
                delim = _unquote(self._expect("string"))
                self._expect("rparen")
                return ("concat", targets, delim)
            if v in ("Int", "Double", "String"):  # cast converters
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                typ = {"Int": "long", "Double": "double", "String": "string"}[v]
                return ("cast", typ, target)
            if v == "IsRootSpan":  # ottlfuncs.NewIsRootSpanFactoryNew —
                # wired by the reference for the span context only
                # (ottl.go standardSpanFuncs)
                self._expect("lparen")
                self._expect("rparen")
                return ("isroot",)
            if v in ("IsString", "IsInt", "IsDouble", "IsBool"):
                # type predicates (ottlfuncs StandardConverters). pdata
                # value types are static in this engine's span model
                # (attrs are string-valued, timestamps int64), so the
                # type half resolves at compile time; presence stays a
                # runtime check.
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                return ("istype", v[2:].lower(), target)
            if v == "Duration":  # ottlfuncs func_duration: Go duration
                # string → time.Duration; comparisons against the
                # unix-nano paths work because Duration is int64 nanos.
                # Parsed at build time → a plain numeric literal.
                self._expect("lparen")
                s = _unquote(self._expect("string"))
                self._expect("rparen")
                from ..config import parse_duration

                try:
                    ns = int(round(parse_duration(s) * 1_000_000_000))
                except Exception as exc:
                    raise PolicyError(
                        f"OTTL: Duration({s!r}) is not a valid Go duration: {exc}"
                    ) from exc
                return ("lit", ns)
            if v == "Time":  # ottlfuncs func_time: string + ctime format
                # → time.Time; internally int64 unix nanos (UTC)
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("comma")
                gofmt = _unquote(self._expect("string"))
                self._expect("rparen")
                return ("time", target, _go_ctime_to_spark(gofmt, self.src), gofmt)
            if v == "TruncateTime":  # ottlfuncs func_truncate_time:
                # time.Time truncated toward the epoch by a duration
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("comma")
                dur = self.parse_operand()
                self._expect("rparen")
                if not (dur[0] == "lit" and isinstance(dur[1], int) and dur[1] > 0):
                    raise PolicyError(
                        f"OTTL: TruncateTime duration must be a Duration(...) "
                        f"or positive int nanos literal in {self.src!r}"
                    )
                if _static_type(target) != "time":
                    raise PolicyError(
                        f"OTTL: TruncateTime target must be a time value "
                        f"(Time(...) or start_time/end_time) in {self.src!r}"
                    )
                return ("trunctime", target, dur[1])
            if v in ("Hour", "UnixNano"):  # ottlfuncs func_hour /
                # func_unix_nano: time.Time → int64
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                if _static_type(target) != "time":
                    raise PolicyError(
                        f"OTTL: {v} target must be a time value "
                        f"(Time(...) or start_time/end_time) in {self.src!r}"
                    )
                return ("hour" if v == "Hour" else "unixnano", target)
            if v == "Split":  # ottlfuncs func_split: string + literal
                # delimiter → []string, indexed with a [n] postfix (or
                # wrapped in Sort, the other list consumer)
                target, delim = self._parse_split_call()
                idx = self._parse_index()
                return ("splitget", target, delim, idx)
            if v == "Sort":  # ottlfuncs func_sort (wave 9/10): list sort
                # asc/desc; producers are Split (legacy sortget AST) and
                # Keys/Values (wave 10), and the result must be indexed
                # [n] to stay scalar-valued (Go's map/list ordering makes
                # any other use nondeterministic in the reference too)
                self._expect("lparen")
                if self._peek()[0] != "ident" or self._peek()[1] not in _LIST_PRODUCERS:
                    raise PolicyError(
                        f"OTTL: Sort target must be a list producer "
                        f"(Split/Keys/Values) in {self.src!r}"
                    )
                lp = self._parse_list_producer()
                order = "asc"
                if self._peek()[0] == "comma":
                    self._next()
                    order = _unquote(self._expect("string")).lower()
                    if order not in ("asc", "desc"):
                        raise PolicyError(
                            f"OTTL: Sort order {order!r} unsupported "
                            f"(asc/desc) in {self.src!r}"
                        )
                self._expect("rparen")
                idx = self._parse_index()
                if lp[0] == "splitlist":  # legacy AST kept stable
                    return ("sortget", lp[1], lp[2], order, idx)
                return ("sortlist", lp, order, idx)
            if v == "IsList":  # ottlfuncs func_is_list (wave 10): type
                # predicate — true for a successfully-produced slice
                # (Split/Keys/Values), statically false for every scalar
                # operand; producer getter errors (nil, kv parse) surface
                self._expect("lparen")
                if self._peek()[0] == "ident" and self._peek()[1] in _LIST_PRODUCERS:
                    lp = self._parse_list_producer()
                    self._expect("rparen")
                    return ("islist", lp)
                target = self.parse_operand()
                self._expect("rparen")
                return ("islist", target)
            if v in ("Keys", "Values"):  # wave 10 list producers — only
                # meaningful under Sort/Len/IsList (bare positional use
                # would be Go-map-iteration nondeterministic)
                raise PolicyError(
                    f"OTTL: {v}(...) must be consumed by Sort(...)[n], "
                    f"Len(...) or IsList(...) in {self.src!r}"
                )
            if v == "ParseCSV":  # ottlfuncs func_parse_csv (wave 10):
                # one CSV row + a literal header list → map, indexed with
                # ["column"] like ParseKeyValue. Headers resolve at BUILD
                # time, so the column index is static. Simplification vs
                # contrib: delimiter split without quote handling (the
                # ignoreQuotes mode); a field count that differs from the
                # header count is an eval error (contrib's
                # "wrong number of fields").
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("comma")
                headers_s = _unquote(self._expect("string"))
                delim = ","
                if self._peek()[0] == "comma":
                    self._next()
                    delim = _unquote(self._expect("string"))
                self._expect("rparen")
                if not delim:
                    raise PolicyError(
                        f"OTTL: ParseCSV delimiter must not be empty in {self.src!r}"
                    )
                headers = headers_s.split(delim)
                if "" in headers or len(set(headers)) != len(headers):
                    raise PolicyError(
                        f"OTTL: ParseCSV headers {headers_s!r} must be "
                        f"non-empty and distinct in {self.src!r}"
                    )
                if self._peek()[0] != "lbracket":
                    raise PolicyError(
                        f"OTTL: ParseCSV(...) must be indexed with "
                        f'["column"] in {self.src!r}'
                    )
                self._next()
                col = _unquote(self._expect("string"))
                self._expect("rbracket")
                if col not in headers:
                    raise PolicyError(
                        f"OTTL: ParseCSV column {col!r} not in headers "
                        f"{headers} in {self.src!r}"
                    )
                return ("csvget", target, len(headers), delim, headers.index(col))
            if v == "ExtractGrokPatterns":  # ottlfuncs
                # func_extract_grok_patterns (wave 10): %{SYNTAX:name}
                # grok template → named-group regex → map, indexed with
                # ["name"]. Pattern names resolve against an independent
                # built-in dictionary (_GROK_PATTERNS); unnamed %{SYNTAX}
                # refs compile to non-capturing groups
                # (namedCapturesOnly=true, the contrib default). The
                # expanded regex goes through the same RE2 dialect guard
                # and eval machinery as ExtractPatterns.
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("comma")
                template = _unquote(self._expect("string"))
                self._expect("rparen")
                expanded = _expand_grok(template, self.src)
                ensure_re2_compatible(expanded, "ExtractGrokPatterns")
                py_pat = expanded.replace("(?<", "(?P<")
                try:
                    compiled = re.compile(py_pat)
                except re.error as exc:
                    raise PolicyError(
                        f"OTTL: ExtractGrokPatterns template {template!r} "
                        f"expands to an invalid regex: {exc}"
                    ) from exc
                if not compiled.groupindex:
                    raise PolicyError(
                        f"OTTL: ExtractGrokPatterns template {template!r} "
                        f"has no named captures in {self.src!r}"
                    )
                if self._peek()[0] != "lbracket":
                    raise PolicyError(
                        f"OTTL: ExtractGrokPatterns(...) must be indexed "
                        f'with ["name"] in {self.src!r}'
                    )
                self._next()
                gname = _unquote(self._expect("string"))
                self._expect("rbracket")
                if gname not in compiled.groupindex:
                    raise PolicyError(
                        f"OTTL: ExtractGrokPatterns capture {gname!r} not "
                        f"in template {template!r} (captures: "
                        f"{sorted(compiled.groupindex)}) in {self.src!r}"
                    )
                # same AST as ExtractPatterns — eval, error semantics and
                # the model interpreter are shared
                return ("extractpat", target, py_pat, expanded,
                        compiled.groupindex[gname])
            if v == "Unix":  # ottlfuncs func_unix (wave 9): epoch seconds
                # (+ optional nanos) → time.Time
                self._expect("lparen")
                sec = self.parse_operand()
                nanos = None
                if self._peek()[0] == "comma":
                    self._next()
                    nanos = self.parse_operand()
                self._expect("rparen")
                return ("unixtime", sec, nanos)
            if v == "Murmur3Hash":  # ottlfuncs func_murmur3hash (wave 9):
                # murmur3 x86 32-bit, seed 0, over the UTF-8 bytes →
                # int64 of the uint32 sum (non-negative)
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                return ("murmur3", target)
            if v == "URL":  # ottlfuncs func_url (wave 11): URL string →
                # map of semconv url.* components, indexed with ["key"].
                # One shared RFC-3986-lite regex in both engines (module
                # docstring notes the net/url simplifications).
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                if self._peek()[0] != "lbracket":
                    raise PolicyError(
                        f"OTTL: URL(...) must be indexed with "
                        f'["url.part"] in {self.src!r}'
                    )
                self._next()
                key = _unquote(self._expect("string"))
                self._expect("rbracket")
                if key not in _URL_KEYS:
                    raise PolicyError(
                        f"OTTL: URL component {key!r} unsupported in "
                        f"{self.src!r} (supported: {sorted(_URL_KEYS)})"
                    )
                return ("urlget", target, key)
            if v == "IsValidLuhn":  # ottlfuncs func_is_valid_luhn
                # (wave 11): Luhn checksum of a digit string — boolean;
                # nil or any non-digit character is an eval error (the
                # contrib implementation rejects non-digits)
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                return ("luhn", target)
            if v == "ParseJSON":  # ottlfuncs func_parse_json: string →
                # map; indexable with the ["key"] postfix. Resolution is
                # lazy per key (get_json_object) — the map itself is
                # never materialized.
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                node = ("parsejson", target)
                while self._peek()[0] == "lbracket":
                    self._next()
                    key = _unquote(self._expect("string"))
                    self._expect("rbracket")
                    node = ("jsonget", node, key)
                if node[0] == "parsejson":
                    raise PolicyError(
                        f"OTTL: ParseJSON(...) must be indexed with [\"key\"] in {self.src!r}"
                    )
                return node
            if v == "Trim":  # ottlfuncs func_trim: strings.Trim with a
                # CUTSET (default " "); StandardStringGetter → nil errors
                self._expect("lparen")
                target = self.parse_operand()
                cutset = " "
                if self._peek()[0] == "comma":
                    self._next()
                    cutset = _unquote(self._expect("string"))
                self._expect("rparen")
                if not cutset:
                    raise PolicyError(f"OTTL: Trim cutset must not be empty in {self.src!r}")
                return ("trim", target, cutset)
            if v in ("SHA1", "SHA256", "MD5"):  # ottlfuncs func_sha1 /
                # func_sha256 / func_md5: lowercase hex digest of the
                # UTF-8 bytes; StandardStringGetter → nil errors
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                return ("hashconv", target, v.lower())
            if v in ("Hours", "Minutes", "Seconds", "Milliseconds",
                     "Microseconds", "Nanoseconds"):
                # ottlfuncs func_hours/.../func_nanoseconds: the
                # time.Duration fold methods — h/m/s → float64,
                # ms/us/ns → int64. Durations are int64 nanos in this
                # engine (Duration(...) literals, time subtraction), so
                # the target must be statically numeric.
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                if _static_type(target) not in ("int", "double"):
                    raise PolicyError(
                        f"OTTL: {v} target must be a duration value "
                        f"(Duration(...) or time arithmetic) in {self.src!r}"
                    )
                return ("durfold", target, v.lower())
            if v in ("Day", "Month", "Year", "Minute", "Second"):
                # ottlfuncs func_day/month/year/minute/second: time.Time
                # calendar parts → int64, in the time's location (UTC
                # here, like Go time.Parse with no zone)
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                if _static_type(target) != "time":
                    raise PolicyError(
                        f"OTTL: {v} target must be a time value "
                        f"(Time(...) or start_time/end_time) in {self.src!r}"
                    )
                return ("timepart", target, v.lower())
            if v in ("UnixSeconds", "UnixMilli", "UnixMicro"):
                # ottlfuncs func_unix_seconds/milli/micro: time.Time →
                # int64 (Go floor-of-seconds / truncating ns division;
                # identical for the non-negative times this engine sees)
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                if _static_type(target) != "time":
                    raise PolicyError(
                        f"OTTL: {v} target must be a time value "
                        f"(Time(...) or start_time/end_time) in {self.src!r}"
                    )
                div = {"UnixSeconds": 1_000_000_000,
                       "UnixMilli": 1_000_000,
                       "UnixMicro": 1_000}[v]
                return ("unixdiv", target, div)
            if v == "Log":  # ottlfuncs func_log: natural log of a
                # FloatLike value; value <= 0 (or non-numeric, or nil)
                # is an eval error
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                return ("logconv", target)
            if v == "Format":  # ottlfuncs func_format: fmt.Sprintf over
                # getter-valued args. Verb subset: %s (string-typed args)
                # and %d (int-typed args), checked statically at build —
                # Go's %!s(int64=42) mis-verb renders are a config bug the
                # reference would emit silently; this engine fails to
                # start instead. A nil arg renders Go's %!s(<nil>) /
                # %!d(<nil>) (Sprintf never errors).
                self._expect("lparen")
                fmt = _unquote(self._expect("string"))
                args = []
                if self._peek()[0] == "comma":
                    self._next()
                    self._expect("lbracket")
                    args.append(self.parse_operand())
                    while self._peek()[0] == "comma":
                        self._next()
                        args.append(self.parse_operand())
                    self._expect("rbracket")
                self._expect("rparen")
                segs, verbs = _parse_format(fmt, self.src)
                if len(verbs) != len(args):
                    raise PolicyError(
                        f"OTTL: Format({fmt!r}) has {len(verbs)} verbs but "
                        f"{len(args)} args in {self.src!r}"
                    )
                for a, verb in zip(args, verbs):
                    st = _static_type(a)
                    want = "string" if verb == "s" else "int"
                    if st != want:
                        raise PolicyError(
                            f"OTTL: Format %{verb} arg must be {want}-valued, "
                            f"got {st} in {self.src!r}"
                        )
                return ("format", segs, verbs, args)
            if v == "Hex":  # ottlfuncs func_hex: lowercase hex of the
                # value's bytes (ByteSliceLikeGetter: string → UTF-8
                # bytes, int64 → 8 big-endian two's-complement bytes)
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                st = _static_type(target)
                if st not in ("string", "int"):
                    raise PolicyError(
                        f"OTTL: Hex target must be string- or int-valued, "
                        f"got {st} in {self.src!r}"
                    )
                return ("hexenc", target, st)
            if v == "Decode":  # ottlfuncs func_decode: base64 (std,
                # padded) → string. Invalid input or nil is an eval
                # error, like Go base64.StdEncoding.DecodeString.
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("comma")
                enc = _unquote(self._expect("string")).lower()
                self._expect("rparen")
                if enc != "base64":
                    raise PolicyError(
                        f"OTTL: Decode encoding {enc!r} unsupported "
                        f"(base64) in {self.src!r}"
                    )
                return ("decode64", target)
            if v == "ParseKeyValue":  # ottlfuncs func_parse_key_value:
                # string → map via pair/kv delimiters (defaults " ", "=");
                # indexed with ["key"] like ParseJSON. Simplification vs
                # contrib: no quoted-value unwrapping. A non-empty pair
                # without the kv delimiter is an eval error ("cannot
                # split"); keys/values are space-trimmed; duplicate keys
                # keep the LAST value (map upsert order).
                target, delim, pair_delim = self._parse_kv_call()
                if self._peek()[0] != "lbracket":
                    raise PolicyError(
                        f"OTTL: ParseKeyValue(...) must be indexed with "
                        f'["key"] in {self.src!r}'
                    )
                self._next()
                key = _unquote(self._expect("string"))
                self._expect("rbracket")
                return ("kvget", target, delim, pair_delim, key)
            if v == "ExtractPatterns":  # ottlfuncs func_extract_patterns:
                # regex with named capture groups → map; indexed with
                # ["name"]. Accepts Go's (?P<name>...) and Java's
                # (?<name>...); compiled for Spark as Java syntax after
                # the RE2 dialect guard. No overall match → nil;
                # divergence vs contrib: a matching-but-empty group
                # renders "" where contrib omits it from the map (Spark's
                # regexp_extract cannot distinguish participation).
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("comma")
                pattern = _unquote(self._expect("string"))
                self._expect("rparen")
                ensure_re2_compatible(pattern, "ExtractPatterns")
                # the RE2 guard already rejected lookbehinds, so any
                # remaining "(?<" is a Java-style named group
                py_pat = pattern.replace("(?<", "(?P<")
                try:
                    compiled = re.compile(py_pat)
                except re.error as exc:
                    raise PolicyError(
                        f"OTTL: ExtractPatterns pattern {pattern!r} is not "
                        f"a valid regex: {exc}"
                    ) from exc
                if not compiled.groupindex:
                    raise PolicyError(
                        f"OTTL: ExtractPatterns pattern {pattern!r} has no "
                        f"named capture groups in {self.src!r}"
                    )
                if self._peek()[0] != "lbracket":
                    raise PolicyError(
                        f"OTTL: ExtractPatterns(...) must be indexed with "
                        f'["name"] in {self.src!r}'
                    )
                self._next()
                gname = _unquote(self._expect("string"))
                self._expect("rbracket")
                if gname not in compiled.groupindex:
                    raise PolicyError(
                        f"OTTL: ExtractPatterns group {gname!r} not in "
                        f"pattern {pattern!r} (groups: "
                        f"{sorted(compiled.groupindex)}) in {self.src!r}"
                    )
                java_pat = py_pat.replace("(?P<", "(?<")
                return ("extractpat", target, py_pat, java_pat,
                        compiled.groupindex[gname])
            if v == "FNV":  # ottlfuncs func_fnv: FNV-1a 64 over the
                # string's UTF-8 bytes, reinterpreted int64 (Go
                # int64(h.Sum64())); reuses hashing.py's Arrow-vectorized
                # FNV. Nil target is an eval error.
                self._expect("lparen")
                target = self.parse_operand()
                self._expect("rparen")
                return ("fnv", target)
            if v.endswith("attributes"):  # attributes / resource.attributes
                self._expect("lbracket")
                key = _unquote(self._expect("string"))
                self._expect("rbracket")
                return ("path", [v, key])
            if self._peek()[0] == "lparen":  # Uppercase(...) call syntax
                raise PolicyError(
                    f"OTTL: unknown converter {v!r} in {self.src!r} "
                    "(supported: IsMatch, Len, Substring, ConvertCase, "
                    "Concat, Int, Double, String, Is*, ParseJSON, Duration, "
                    "Time, TruncateTime, Hour/Day/Month/Year/Minute/Second, "
                    "UnixNano/UnixMicro/UnixMilli/UnixSeconds, Split, Trim, "
                    "SHA1/SHA256/MD5, Hours/Minutes/Seconds/Milliseconds/"
                    "Microseconds/Nanoseconds, Log, Format, Hex, Decode, "
                    "ParseKeyValue, ExtractPatterns, FNV, Sort, Unix, "
                    "Murmur3Hash, ParseCSV, ExtractGrokPatterns, Keys, "
                    "Values, IsList)"
                )
            return ("path", [v])
        raise PolicyError(f"OTTL: unexpected token {v!r} in {self.src!r}")


def _unquote(s: str) -> str:
    return s[1:-1].replace('\\"', '"').replace("\\\\", "\\")


_LIST_PRODUCERS = ("Split", "Keys", "Values")

# Built-in grok pattern dictionary (wave 10) — an independent, RE2-safe
# subset of the standard grok names (the public logstash/grok vocabulary;
# regexes written from their documented meaning, self-contained — no
# nested %{} references). Every entry must compile under BOTH Java regex
# and RE2 (ensure_re2_compatible runs on the expanded template).
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

# Wave 11: URL(...) component extraction — ONE RFC-3986-lite regex used
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
    groups; unknown pattern names are a build-time PolicyError
    (fail-to-start, like contrib's grok compile)."""
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
# the engine match where the reference refuses to run (round-4 verdict
# nit, ottl.py IsMatch dialect note).
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
# AST → Column

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
        # wave 6: the event timestamp (the token header carries no event
        # time slot, so the pipeline assigns the parent span's start — a
        # deterministic fixture like kind/scope) and the dropped-attrs
        # counter (the codec never drops attributes → always 0, which is
        # also contrib's value when nothing was dropped)
        "time_unix_nano": "start_ts",
        "dropped_attributes_count": "__zero__",
        **_SPAN_SCOPE,
    },
}
_MAP_HEADS = ("attributes", "resource.attributes")


def _path_column(parts: list[str], ctx: str) -> Column:
    paths = _CTX_PATHS[ctx]
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


def _json_path(ast) -> tuple:
    """('jsonget' chain) → (inner target ast, '$.a.b' JSONPath)."""
    keys = []
    node = ast
    while node[0] == "jsonget":
        keys.append(node[2])
        node = node[1]
    return node[1], "$." + ".".join(reversed(keys))


def _operand_column(ast, ctx: str) -> Column:
    kind = ast[0]
    if kind == "lit":
        return F.lit(ast[1])
    if kind == "path":
        return _path_column(ast[1], ctx)
    if kind == "jsonget":
        target, path = _json_path(ast)
        # lazy per-key resolution; absent key / invalid JSON → NULL →
        # the comparison rules absorb it (nil semantics)
        return F.get_json_object(_operand_column(target, ctx).cast("string"), path)
    if kind == "len":
        # Len() of a missing value is nil in OTTL → NULL column propagates
        # into the comparison's absent-value rules
        return F.length(_operand_column(ast[1], ctx).cast("string"))
    if kind == "substr":
        target = _operand_column(ast[1], ctx).cast("string")
        return target.substr(ast[2] + 1, ast[3])  # OTTL 0-based → SQL 1-based
    if kind == "case":
        target = _operand_column(ast[1], ctx).cast("string")
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
    if kind == "concat":
        parts = [_operand_column(t, ctx).cast("string") for t in ast[1]]
        return F.concat_ws(ast[2], *parts)
    if kind == "cast":
        target = _operand_column(ast[2], ctx)
        if ast[1] == "string":
            return target.cast("string")
        return target.try_cast(ast[1])  # Int/Double: non-numeric → nil
    if kind == "arith":
        lc = _numeric_operand(ast[2], ctx)
        rc = _numeric_operand(ast[3], ctx)
        return (lc + rc) if ast[1] == "+" else (lc - rc)
    if kind == "time":
        # Go time.Parse with no zone in the layout assumes UTC; the
        # session timezone is pinned UTC (session.py), so try_to_timestamp
        # interprets the wall time identically. Unparseable → NULL
        # (an eval error in propagate mode, like Int/Double strconv).
        tgt = _operand_column(ast[1], ctx).cast("string")
        return F.unix_micros(F.try_to_timestamp(tgt, F.lit(ast[2]))) * F.lit(1000)
    if kind == "trunctime":
        c = _operand_column(ast[1], ctx)
        return c - F.pmod(c, F.lit(ast[2]))
    if kind == "hour":
        # UTC hour-of-day from nanos; ns-of-day fits a double exactly
        # (< 2^53), the full nano value would not
        c = _operand_column(ast[1], ctx)
        ns_day = F.pmod(c, F.lit(86_400_000_000_000))
        return F.floor(ns_day / F.lit(3_600_000_000_000)).cast("long")
    if kind == "unixnano":
        return _operand_column(ast[1], ctx)  # time IS int64 unix nanos
    if kind == "splitget":
        tgt = _operand_column(ast[1], ctx).cast("string")
        # Go strings.Split is a LITERAL delimiter; Spark split takes a
        # regex — escape it. Out-of-range index → NULL (nil), not error.
        return F.get(F.split(tgt, re.escape(ast[2]), -1), ast[3])
    if kind == "sortget":
        tgt = _operand_column(ast[1], ctx).cast("string")
        arr = F.array_sort(F.split(tgt, re.escape(ast[2]), -1))
        if ast[3] == "desc":
            arr = F.reverse(arr)
        return F.get(arr, ast[4])
    if kind == "unixtime":
        # exact int64 coercion (string → long directly, NOT via double —
        # doubles lose integers past 2^53) and OVERFLOW-SAFE arithmetic:
        # ANSI mode would throw on |sec| > ~9.2e9 (ADVICE r5); try_* maps
        # overflow to NULL, which error_column's unixtime branch flags as
        # an eval error (int64-unrepresentable time is undefined in Go's
        # time.Unix — this engine defines it as an error, model included)
        ns = F.try_multiply(_int_operand(ast[1], ctx), F.lit(1_000_000_000))
        if ast[2] is not None:
            ns = F.try_add(ns, _int_operand(ast[2], ctx))
        return ns
    if kind == "murmur3":
        from ..hashing import murmur3_32_string_column

        return murmur3_32_string_column(_operand_column(ast[1], ctx).cast("string"))
    if kind == "trim":
        tgt = _operand_column(ast[1], ctx).cast("string")
        return F.btrim(tgt, F.lit(ast[2]))  # btrim = strings.Trim cutset
    if kind == "hashconv":
        tgt = _operand_column(ast[1], ctx).cast("string")
        if ast[2] == "sha1":
            return F.sha1(tgt)
        if ast[2] == "sha256":
            return F.sha2(tgt, 256)
        return F.md5(tgt)  # all three: lowercase hex, like contrib
    if kind == "durfold":
        c = _numeric_operand(ast[1], ctx)
        unit = ast[2]
        if unit in ("hours", "minutes", "seconds"):
            div = {"hours": 3_600_000_000_000.0, "minutes": 60_000_000_000.0,
                   "seconds": 1_000_000_000.0}[unit]
            # Go computes sec + nsec/1e9 in two terms; single division
            # differs by ≤1 ULP only above 2^53 ns (~104 days)
            return c / F.lit(div)
        if unit == "nanoseconds":
            return c
        # Go's Duration.Milliseconds()/Microseconds() divide int64s —
        # truncation toward ZERO, which matters for negative durations
        # (floor would differ); Spark's % keeps the dividend's sign, so
        # c - c%d is the zero-ward multiple
        d = {"milliseconds": 1_000_000, "microseconds": 1_000}[unit]
        return F.round((c - (c % F.lit(d))) / F.lit(d)).cast("long")
    if kind == "timepart":
        c = _operand_column(ast[1], ctx)
        unit = ast[2]
        if unit == "minute":
            return _floordiv(F.pmod(c, F.lit(3_600_000_000_000)), 60_000_000_000)
        if unit == "second":
            return _floordiv(F.pmod(c, F.lit(60_000_000_000)), 1_000_000_000)
        ts = F.timestamp_micros(_floordiv(c, 1000))  # session TZ pinned UTC
        fn = {"day": F.dayofmonth, "month": F.month, "year": F.year}[unit]
        return fn(ts).cast("long")
    if kind == "unixdiv":
        return _floordiv(_operand_column(ast[1], ctx), ast[2])
    if kind == "logconv":
        x = _numeric_operand(ast[1], ctx)
        return F.when(x > 0, F.log(x))  # <= 0 → NULL (an error, see error_column)
    if kind == "format":
        segs, verbs, args = ast[1], ast[2], ast[3]
        parts: list[Column] = [F.lit(segs[0])]
        for seg, verb, a in zip(segs[1:], verbs, args):
            c = _operand_column(a, ctx).cast("string")
            parts.append(F.coalesce(c, F.lit(f"%!{verb}(<nil>)")))
            parts.append(F.lit(seg))
        return F.concat(*parts)
    if kind == "hexenc":
        c = _operand_column(ast[1], ctx)
        if ast[2] == "int":
            # 8 big-endian two's-complement bytes → 16 lowercase hex;
            # Spark hex(long) drops leading zero nibbles, lpad restores
            return F.lower(F.lpad(F.hex(c.cast("long")), 16, "0"))
        return F.lower(F.hex(c.cast("string")))  # UTF-8 bytes
    if kind == "decode64":
        tgt = _operand_column(ast[1], ctx).cast("string")
        # gate unbase64 behind a strict-padding validity check (ANSI mode
        # would throw on malformed input); invalid → NULL → an eval error
        return F.when(tgt.rlike(_B64_RE), F.unbase64(tgt).cast("string"))
    if kind == "kvget":
        tgt = _operand_column(ast[1], ctx).cast("string")
        d, pd_, key = ast[2], ast[3], ast[4]
        pairs = F.filter(
            F.split(tgt, re.escape(pd_), -1), lambda p: F.trim(p) != F.lit("")
        )
        matches = F.filter(
            pairs,
            lambda p: p.contains(d)
            & (F.trim(F.substring_index(p, d, 1)) == F.lit(key)),
        )
        vals = F.transform(
            matches,
            lambda p: F.trim(p.substr(F.locate(d, p) + F.lit(len(d)), F.length(p))),
        )
        # duplicate keys keep the LAST value (map upsert); empty → NULL
        return F.try_element_at(vals, F.lit(-1))
    if kind == "extractpat":
        tgt = _operand_column(ast[1], ctx).cast("string")
        # no overall match → nil (contrib returns an empty map); guard
        # because regexp_extract renders no-match as "" ambiguously
        return F.when(tgt.rlike(ast[3]), F.regexp_extract(tgt, ast[3], ast[4]))
    if kind == "fnv":
        from ..hashing import fnv1a64_string_column

        return fnv1a64_string_column(_operand_column(ast[1], ctx).cast("string"))
    if kind == "csvget":
        # wave 10 ParseCSV: literal header list → static column index;
        # a field count that differs from the header count is nil here
        # (error_column flags it as the contrib parse error)
        tgt = _operand_column(ast[1], ctx).cast("string")
        fields = F.split(tgt, re.escape(ast[3]), -1)
        return F.when(F.size(fields) == ast[2], F.get(fields, ast[4]))
    if kind == "urlget":
        # wave 11 URL: shared RFC-3986-lite regex; unmatched target is
        # nil here (error_column flags the parse error); empty components
        # render nil (contrib omits absent keys from its map)
        tgt = _operand_column(ast[1], ctx).cast("string")
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
    if kind == "lenlist":
        return F.size(_list_column(ast[1], ctx))  # size(NULL) = NULL (ANSI)
    if kind == "sortlist":
        arr = F.array_sort(_list_column(ast[1], ctx))
        if ast[2] == "desc":
            arr = F.reverse(arr)
        return F.get(arr, ast[3])  # out-of-range → nil, like sortget
    if kind in ("ismatch", "isroot", "istype", "islist", "luhn"):
        return to_column(ast, ctx)
    raise PolicyError(f"OTTL: invalid operand {ast!r}")


def _kv_pairs_column(tgt: Column, pair_delim: str) -> Column:
    """Non-empty pair segments of a kv string (shared by kvget, the
    Keys/Values producers and their error columns)."""
    return F.filter(
        F.split(tgt, re.escape(pair_delim), -1), lambda p: F.trim(p) != F.lit("")
    )


def _list_column(ast, ctx: str) -> Column:
    """Wave-10 list producers → array Column (internal: only Sort/Len/
    IsList consume these, so the array never escapes to a scalar
    context)."""
    kind = ast[0]
    if kind == "splitlist":
        tgt = _operand_column(ast[1], ctx).cast("string")
        return F.split(tgt, re.escape(ast[2]), -1)
    if kind == "kvlist":
        which, d, pd_ = ast[1], ast[3], ast[4]
        tgt = _operand_column(ast[2], ctx).cast("string")
        pairs = _kv_pairs_column(tgt, pd_)
        keys = F.transform(pairs, lambda p: F.trim(F.substring_index(p, d, 1)))
        dkeys = F.array_distinct(keys)
        if which == "keys":
            return dkeys
        # values: the LAST value per distinct key (map upsert order),
        # matching kvget's duplicate-key rule
        return F.transform(
            dkeys,
            lambda k: F.try_element_at(
                F.transform(
                    F.filter(
                        pairs,
                        lambda p: F.trim(F.substring_index(p, d, 1)) == k,
                    ),
                    lambda p: F.trim(
                        p.substr(F.locate(d, p) + F.lit(len(d)), F.length(p))
                    ),
                ),
                F.lit(-1),
            ),
        )
    raise PolicyError(f"OTTL: invalid list producer {ast!r}")


# Go base64.StdEncoding.DecodeString accepts only canonical padded input:
# whole groups of 4, a final group padded to 4 with = / ==
_B64_RE = (
    r"^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"
)


def _floordiv(c: Column, d: int) -> Column:
    """Exact floor-division of an int64 Column by a positive int, without
    the double-precision trap: ``c - pmod(c, d)`` is exact long
    arithmetic and an exact multiple of ``d``; the one double division
    then carries error ≪ 0.5, which ``round`` removes. (A plain
    ``(c / d).cast("long")`` is wrong above 2^53 and truncates toward
    zero; pmod gives Go's floor semantics.)"""
    return F.round((c - F.pmod(c, F.lit(d))) / F.lit(d)).cast("long")


# path heads whose resolved columns are already numeric (long/int) — safe
# in raw ANSI arithmetic; everything else (attr map values, name paths,
# hex-string id paths, string literals, string-producing converters)
# must try_cast so a non-numeric value becomes NULL instead of an ANSI
# runtime cast error, keeping compiled expressions total functions
_NUMERIC_HEADS = {
    "start_time_unix_nano",
    "end_time_unix_nano",
    "status.code",
    "kind",
    "span.kind",
}
# paths whose values are contrib TIME (time.Time; int64 UTC nanos here)
_TIME_HEADS = {"start_time", "end_time"}
_NUMERIC_HEADS |= {"time_unix_nano", "dropped_attributes_count"}


def _ast_is_numeric(ast) -> bool:
    kind = ast[0]
    if kind == "lit":
        return isinstance(ast[1], (int, float)) and not isinstance(ast[1], bool)
    if kind == "path":
        return ast[1][0] in _NUMERIC_HEADS or ast[1][0] in _TIME_HEADS
    if kind == "len":
        return True
    if kind == "cast":
        return ast[1] in ("long", "double")
    if kind == "arith":
        return True  # both sides already coerced numeric
    if kind in ("time", "trunctime", "hour", "unixnano", "unixtime"):
        return True  # int64 unix nanos / hour-of-day
    if kind in ("durfold", "timepart", "unixdiv", "logconv"):
        return True  # duration folds / calendar parts / unix divs / ln
    if kind in ("fnv", "murmur3"):
        return True  # int64 hashes
    if kind == "lenlist":
        return True  # element count
    return False  # substr/case/concat/trim/hashconv/ismatch/string paths


def _int_operand(ast, ctx: str) -> Column:
    """Operand coerced to int64 with IntGetter semantics: statically
    numeric columns try_cast directly; everything else goes string →
    try_cast long (exact — NOT via double, which loses integers past
    2^53). Non-integer / out-of-int64 values → NULL (error_column flags
    them)."""
    c = _operand_column(ast, ctx)
    if _ast_is_numeric(ast):
        return c.try_cast("long")
    return c.cast("string").try_cast("long")


def _numeric_operand(ast, ctx: str) -> Column:
    """Operand coerced for arithmetic: anything not statically numeric
    try_casts to double (non-numeric value → NULL → the comparison rules
    absorb it), numeric columns pass through."""
    c = _operand_column(ast, ctx)
    if _ast_is_numeric(ast):
        return c
    return c.cast("string").try_cast("double")


def _static_type(ast) -> str:
    """Compile-time value type of an operand in this engine's span model
    (attr values are strings, timestamps/kind/status int64) — the basis
    of the Is* type predicates."""
    kind = ast[0]
    if kind == "lit":
        v = ast[1]
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "double"
        return "string"
    if kind == "path":
        if ast[1][0] in _TIME_HEADS:
            return "time"
        return "int" if ast[1][0] in _NUMERIC_HEADS else "string"
    if kind == "len":
        return "int"
    if kind == "cast":
        return {"long": "int", "double": "double", "string": "string"}[ast[1]]
    if kind == "arith":
        l, r = _static_type(ast[2]), _static_type(ast[3])
        return "int" if l == "int" and r == "int" else "double"
    if kind in ("time", "trunctime", "unixtime"):
        return "time"
    if kind in ("hour", "unixnano", "timepart", "unixdiv"):
        return "int"
    if kind == "durfold":
        return "double" if ast[2] in ("hours", "minutes", "seconds") else "int"
    if kind == "logconv":
        return "double"
    if kind in ("fnv", "murmur3"):
        return "int"
    if kind == "lenlist":
        return "int"
    if kind in ("ismatch", "isroot", "istype", "islist", "luhn", "and", "or",
                "not", "cmp"):
        return "bool"
    # substr/case/concat/trim/hashconv/jsonget/splitget/sortget/sortlist/
    # format/hexenc/decode64/kvget/csvget/extractpat
    return "string"


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
    if kind == "ismatch":
        target = _operand_column(ast[1], ctx)
        return F.coalesce(target.rlike(ast[2]), F.lit(False))
    if kind == "isroot":  # ottlfuncs func_is_root_span: empty/zero parent
        return F.coalesce(F.col("is_root"), F.lit(False))
    if kind == "istype":
        if _static_type(ast[2]) != ast[1]:
            return F.lit(False)
        # right static type: true iff the value is present
        return _operand_column(ast[2], ctx).isNotNull()
    if kind == "islist":
        # wave 10 func_is_list: a successfully-produced slice is a list
        # (producer getter errors — nil target, kv parse — surface via
        # error_column); every scalar operand is statically not a list
        if ast[1][0] in ("splitlist", "kvlist"):
            return F.coalesce(_list_column(ast[1], ctx).isNotNull(), F.lit(False))
        return F.lit(False)
    if kind == "luhn":
        # wave 11 func_is_valid_luhn: checksum over the digit string
        # (reversed; every second digit doubled, >9 folds back). The
        # digit guard keeps the expression total — non-digit input is an
        # eval error (error_column), so its value here is masked.
        tgt = _operand_column(ast[1], ctx).cast("string")
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
        lt, rt = _static_type(l), _static_type(r)
        # time compares like its int64 nano value (contrib compares
        # time.Time instants; the unix-nano idiom is the common usage)
        num = ("int", "double", "time")
        if lt in num and rt not in num:
            rc = rc.cast("string").try_cast("double")
        elif rt in num and lt not in num:
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
    if kind == "lit":  # bare true/false
        return F.lit(bool(ast[1]))
    raise PolicyError(f"OTTL: invalid expression node {ast!r}")


def validate_paths(ast, ctx: str) -> None:
    """Config-time check that every path resolves in this context (no
    SparkContext needed)."""
    kind = ast[0]
    if kind in ("and", "or"):
        validate_paths(ast[1], ctx)
        validate_paths(ast[2], ctx)
    elif kind == "not":
        validate_paths(ast[1], ctx)
    elif kind in ("ismatch", "len", "substr", "case", "time", "trunctime",
                  "hour", "unixnano", "splitget", "sortget", "trim",
                  "hashconv", "durfold", "timepart", "unixdiv", "logconv",
                  "hexenc", "decode64", "kvget", "extractpat", "fnv",
                  "murmur3", "csvget", "splitlist", "urlget", "luhn"):
        validate_paths(ast[1], ctx)
    elif kind in ("lenlist", "islist"):
        validate_paths(ast[1], ctx)  # producer node or scalar operand
    elif kind == "sortlist":
        validate_paths(ast[1], ctx)
    elif kind == "kvlist":
        validate_paths(ast[2], ctx)
    elif kind == "unixtime":
        validate_paths(ast[1], ctx)
        if ast[2] is not None:
            validate_paths(ast[2], ctx)
    elif kind == "format":
        for t in ast[3]:
            validate_paths(t, ctx)
    elif kind in ("cast", "istype"):
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
        validate_paths(ast[2], ctx)
    elif kind == "jsonget":
        validate_paths(_json_path(ast)[0], ctx)
    elif kind == "isroot":
        if ctx != "span":  # the reference wires it for span funcs only
            raise PolicyError("OTTL: IsRootSpan() is a span-context converter")
    elif kind == "concat":
        for t in ast[1]:
            validate_paths(t, ctx)
    elif kind in ("cmp", "arith"):
        validate_paths(ast[2], ctx)
        validate_paths(ast[3], ctx)
    elif kind == "path":
        if ast[1][0] not in _CTX_PATHS[ctx]:
            raise PolicyError(f"unsupported OTTL {ctx} field: {ast[1][0]!r}")


def error_column(ast, ctx: str) -> Column:
    """Boolean Column: true where the reference's evaluator would ERROR
    on this row (error_mode semantics, ottl.go:42-120 → decider.go:46-48).

    The compiled decision Columns are total functions — try_cast /
    coalesce absorb runtime failures — so `ignore` needs nothing. This
    expression recovers WHERE those absorptions happened, for
    `propagate`: Int()/Double() over a present non-numeric value
    (strconv failure in ottlfuncs func_int/func_double), arithmetic over
    a present non-numeric operand, Substring()/ConvertCase()/Len() over
    an absent value or out of range (the StandardStringGetter nil error
    + func_substring bounds), and IsMatch over an absent value (the
    StandardStringLikeGetter nil error). Boolean composition models the
    contrib evaluator's SHORT-CIRCUIT: `or` never evaluates the right
    term once the left is true, `and` never once the left is false, so
    err(or) = err(l) | (¬val(l) ∧ err(r)) and err(and) = err(l) |
    (val(l) ∧ err(r))."""
    kind = ast[0]
    f = F.lit(False)
    if kind in ("lit", "path", "isroot"):
        return f
    if kind == "or":
        lval = to_column(ast[1], ctx)
        return error_column(ast[1], ctx) | (~lval & error_column(ast[2], ctx))
    if kind == "and":
        lval = to_column(ast[1], ctx)
        return error_column(ast[1], ctx) | (lval & error_column(ast[2], ctx))
    if kind == "not":
        return error_column(ast[1], ctx)
    if kind == "cmp":
        return error_column(ast[2], ctx) | error_column(ast[3], ctx)
    if kind == "ismatch":
        tgt = _operand_column(ast[1], ctx)
        return error_column(ast[1], ctx) | tgt.isNull()
    if kind == "istype":
        return error_column(ast[2], ctx)
    if kind == "jsonget":
        # ParseJSON errors in the reference both on a present non-JSON
        # value (func_parse_json unmarshal failure) AND on an absent one:
        # func_parse_json reads through a StandardStringGetter, which
        # errors on nil — same rule as the IsMatch/Len/ConvertCase family
        target, _ = _json_path(ast)
        tgt = _operand_column(target, ctx).cast("string")
        bad = tgt.isNotNull() & F.get_json_object(tgt, "$").isNull()
        return error_column(target, ctx) | tgt.isNull() | F.coalesce(bad, f)
    if kind in ("len", "case"):
        # StandardStringGetter family: Get on a nil value errors
        # (ottlfuncs func_len / func_convert_case unsupported-type path)
        tgt = _operand_column(ast[1], ctx)
        return error_column(ast[1], ctx) | tgt.isNull()
    if kind == "time":
        # func_time: StandardStringGetter nil error + time.Parse failure
        # on a present unparseable value
        tgt = _operand_column(ast[1], ctx).cast("string")
        parsed = F.try_to_timestamp(tgt, F.lit(ast[2]))
        bad = tgt.isNotNull() & parsed.isNull()
        return error_column(ast[1], ctx) | tgt.isNull() | F.coalesce(bad, f)
    if kind in ("trunctime", "hour", "unixnano", "timepart", "unixdiv"):
        # time-typed operands carry their own errors (a failed Time()
        # parse is flagged at the Time node; the time paths are never nil)
        return error_column(ast[1], ctx)
    if kind in ("trim", "hashconv"):
        # StandardStringGetter family (func_trim / func_sha1/sha256/md5):
        # Get on a nil value errors
        tgt = _operand_column(ast[1], ctx)
        return error_column(ast[1], ctx) | tgt.isNull()
    if kind == "durfold":
        # StandardDurationGetter: nil errors; targets are statically
        # numeric (build-checked) so non-numeric can only arrive via a
        # cast converter, whose own node already flags it
        tgt = _operand_column(ast[1], ctx)
        return error_column(ast[1], ctx) | tgt.isNull()
    if kind == "logconv":
        # func_log: FloatLike nil/non-numeric errors + the explicit
        # value-must-be-positive guard
        tgt = _operand_column(ast[1], ctx)
        x = _numeric_operand(ast[1], ctx)
        bad = tgt.isNotNull() & (x.isNull() | (x <= 0))
        return error_column(ast[1], ctx) | tgt.isNull() | F.coalesce(bad, f)
    if kind in ("splitget", "sortget", "murmur3"):
        # func_split / func_sort / func_murmur3hash: StringLikeGetter nil
        # error; an out-of-range index is nil, not an error
        tgt = _operand_column(ast[1], ctx)
        return error_column(ast[1], ctx) | tgt.isNull()
    if kind == "unixtime":
        # func_unix: IntGetter — nil or a non-integer value errors; int64
        # OVERFLOW of sec*1e9 (+nanos) is ALSO an error (ADVICE r5): the
        # value branch computes with try_multiply/try_add, so a NULL
        # result with parseable inputs means overflow
        out = f
        for arg in (ast[1], ast[2]):
            if arg is None:
                continue
            c = _operand_column(arg, ctx)
            # isNull() is itself never NULL: nil and unparseable both flag
            out = out | error_column(arg, ctx) | c.cast("string").try_cast("long").isNull()
        ns = F.try_multiply(_int_operand(ast[1], ctx), F.lit(1_000_000_000))
        if ast[2] is not None:
            ns = F.try_add(ns, _int_operand(ast[2], ctx))
        return out | ns.isNull()
    if kind == "format":
        # func_format: Sprintf never errors (nil renders %!v(<nil>));
        # only the arg getters' own errors surface
        out = f
        for t in ast[3]:
            out = out | error_column(t, ctx)
        return out
    if kind in ("hexenc", "fnv", "extractpat"):
        # ByteSliceLikeGetter / StringLikeGetter / StandardStringGetter:
        # Get on a nil value errors; a non-matching ExtractPatterns is an
        # empty map (nil value), NOT an error
        tgt = _operand_column(ast[1], ctx)
        return error_column(ast[1], ctx) | tgt.isNull()
    if kind == "decode64":
        # func_decode: nil errors + base64.StdEncoding.DecodeString
        # failure on a present malformed value
        tgt = _operand_column(ast[1], ctx).cast("string")
        bad = tgt.isNotNull() & ~tgt.rlike(_B64_RE)
        return error_column(ast[1], ctx) | tgt.isNull() | F.coalesce(bad, f)
    if kind == "kvget":
        # func_parse_key_value: nil errors + "cannot split" on any
        # non-empty pair lacking the kv delimiter
        tgt = _operand_column(ast[1], ctx).cast("string")
        pairs = _kv_pairs_column(tgt, ast[3])
        bad = F.exists(pairs, lambda p: ~p.contains(ast[2]))
        return error_column(ast[1], ctx) | tgt.isNull() | F.coalesce(bad, f)
    if kind == "csvget":
        # wave 10 func_parse_csv: StandardStringGetter nil error + the
        # contrib "wrong number of fields" parse error
        tgt = _operand_column(ast[1], ctx).cast("string")
        wrong = F.size(F.split(tgt, re.escape(ast[3]), -1)) != F.lit(ast[2])
        return error_column(ast[1], ctx) | tgt.isNull() | F.coalesce(wrong, f)
    if kind == "urlget":
        # wave 11 func_url: StandardStringGetter nil error + net/url
        # Parse failure on a present value the shared RFC-3986-lite
        # regex rejects (relative refs, missing scheme, bad port)
        tgt = _operand_column(ast[1], ctx).cast("string")
        bad = tgt.isNotNull() & ~tgt.rlike(_URL_RE)
        return error_column(ast[1], ctx) | tgt.isNull() | F.coalesce(bad, f)
    if kind == "luhn":
        # wave 11 func_is_valid_luhn: StringGetter nil error + the
        # contrib non-digit rejection (checksum is only defined over a
        # pure digit string; empty string also rejects)
        tgt = _operand_column(ast[1], ctx).cast("string")
        bad = tgt.isNotNull() & ~tgt.rlike("^[0-9]+$")
        return error_column(ast[1], ctx) | tgt.isNull() | F.coalesce(bad, f)
    if kind in ("lenlist", "sortlist"):
        # wave 10 Len/Sort over a list producer: the producer's getter
        # errors (Split/ParseKeyValue nil, kv cannot-split) surface;
        # out-of-range Sort index is nil, not an error (like sortget)
        return _list_error_column(ast[1], ctx)
    if kind == "islist":
        if ast[1][0] in ("splitlist", "kvlist"):
            return _list_error_column(ast[1], ctx)
        return error_column(ast[1], ctx)  # scalar: no nil error (Get ok)
    if kind == "concat":
        # func_concat explicitly SKIPS nil parts (concat_ws semantics) —
        # absent values are not errors here
        out = f
        for t in ast[1]:
            out = out | error_column(t, ctx)
        return out
    if kind == "substr":
        tgt = _operand_column(ast[1], ctx).cast("string")
        oob = F.lit(ast[2] + ast[3]) > F.length(tgt)
        return error_column(ast[1], ctx) | tgt.isNull() | F.coalesce(oob, f)
    if kind == "cast":
        child = error_column(ast[2], ctx)
        if ast[1] == "string":
            return child
        tgt = _operand_column(ast[2], ctx)
        bad = tgt.isNotNull() & tgt.cast("string").try_cast(ast[1]).isNull()
        return child | F.coalesce(bad, f)
    if kind == "arith":
        out = error_column(ast[2], ctx) | error_column(ast[3], ctx)
        for side in (ast[2], ast[3]):
            if not _ast_is_numeric(side):
                c = _operand_column(side, ctx)
                bad = c.isNotNull() & c.cast("string").try_cast("double").isNull()
                out = out | F.coalesce(bad, f)
        return out
    raise PolicyError(f"OTTL: invalid expression node {ast!r}")


def _list_error_column(lp, ctx: str) -> Column:
    """Producer-getter errors for the wave-10 list forms: Split's
    StringLikeGetter / ParseKeyValue's StandardStringGetter error on nil;
    a kv pair lacking the delimiter is the contrib "cannot split" parse
    error."""
    if lp[0] == "splitlist":
        tgt = _operand_column(lp[1], ctx)
        return error_column(lp[1], ctx) | tgt.isNull()
    tgt = _operand_column(lp[2], ctx).cast("string")
    pairs = _kv_pairs_column(tgt, lp[4])
    bad = F.exists(pairs, lambda p: ~p.contains(lp[3]))
    return error_column(lp[2], ctx) | tgt.isNull() | F.coalesce(bad, F.lit(False))
