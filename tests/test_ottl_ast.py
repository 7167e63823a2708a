"""The OTTL AST contract: the literal ``parse_condition`` tuple of every
node kind. tests/ottl_model.py interprets these tuples independently of
the engine, so a reshaped tuple must fail here, not only as a fuzz
mismatch against the model."""

import pytest

from atlassian_sampling_processor_spark.policies.ottl import _KINDS, parse_condition

CASES = [
    (
        'attributes["k"] == "v"',
        ('cmp', '==', ('path', ['attributes', 'k']), ('lit', 'v')),
    ),
    (
        'name != nil and not (kind >= -1 or status.code < 2.5)',
        ('and',
         ('cmp', '!=', ('path', ['name']), ('lit', None)),
         ('not',
          ('or',
           ('cmp', '>=', ('path', ['kind']), ('lit', -1)),
           ('cmp', '<', ('path', ['status.code']), ('lit', 2.5))))),
    ),
    (
        'true',
        ('lit', True),
    ),
    (
        'false or span.name == "x"',
        ('or', ('lit', False), ('cmp', '==', ('path', ['span.name']), ('lit', 'x'))),
    ),
    (
        'end_time_unix_nano - start_time_unix_nano > Duration("5ms")',
        ('cmp',
         '>',
         ('arith',
          '-',
          ('path', ['end_time_unix_nano']),
          ('path', ['start_time_unix_nano'])),
         ('lit', 5000000)),
    ),
    (
        '(end_time_unix_nano - start_time_unix_nano) > 5000000',
        ('cmp',
         '>',
         ('arith',
          '-',
          ('path', ['end_time_unix_nano']),
          ('path', ['start_time_unix_nano'])),
         ('lit', 5000000)),
    ),
    (
        'IsMatch(resource.attributes["svc"], "^a.*")',
        ('ismatch', ('path', ['resource.attributes', 'svc']), '^a.*'),
    ),
    (
        'Len(name) + 1 > 3',
        ('cmp',
         '>',
         ('arith', '+', ('len', ('path', ['name'])), ('lit', 1)),
         ('lit', 3)),
    ),
    (
        'Len(Split(name, ",")) > 1',
        ('cmp', '>', ('lenlist', ('splitlist', ('path', ['name']), ',')), ('lit', 1)),
    ),
    (
        'Substring(name, 0, 2) == "ab"',
        ('cmp', '==', ('substr', ('path', ['name']), 0, 2), ('lit', 'ab')),
    ),
    (
        'ConvertCase(name, "Snake") == "a_b"',
        ('cmp', '==', ('case', ('path', ['name']), 'snake'), ('lit', 'a_b')),
    ),
    (
        'Concat([name, attributes["a"]], "-") == "x-y"',
        ('cmp',
         '==',
         ('concat', [('path', ['name']), ('path', ['attributes', 'a'])], '-'),
         ('lit', 'x-y')),
    ),
    (
        'Int(attributes["n"]) == 1 and Double(attributes["d"]) > 0.5 and String(kind) == "1"',
        ('and',
         ('and',
          ('cmp', '==', ('cast', 'long', ('path', ['attributes', 'n'])), ('lit', 1)),
          ('cmp',
           '>',
           ('cast', 'double', ('path', ['attributes', 'd'])),
           ('lit', 0.5))),
         ('cmp', '==', ('cast', 'string', ('path', ['kind'])), ('lit', '1'))),
    ),
    (
        'IsRootSpan()',
        ('isroot',),
    ),
    (
        'IsString(name) or IsInt(kind)',
        ('or',
         ('istype', 'string', ('path', ['name'])),
         ('istype', 'int', ('path', ['kind']))),
    ),
    (
        'Time(attributes["t"], "%Y-%m-%d") > start_time',
        ('cmp',
         '>',
         ('time', ('path', ['attributes', 't']), 'yyyy-MM-dd', '%Y-%m-%d'),
         ('path', ['start_time'])),
    ),
    (
        'TruncateTime(start_time, Duration("1h")) == start_time',
        ('cmp',
         '==',
         ('trunctime', ('path', ['start_time']), 3600000000000),
         ('path', ['start_time'])),
    ),
    (
        'Hour(start_time) == 3 and UnixNano(end_time) > 0',
        ('and',
         ('cmp', '==', ('hour', ('path', ['start_time'])), ('lit', 3)),
         ('cmp', '>', ('unixnano', ('path', ['end_time'])), ('lit', 0))),
    ),
    (
        'Split(name, ",")[1] == "b"',
        ('cmp', '==', ('splitget', ('path', ['name']), ',', 1), ('lit', 'b')),
    ),
    (
        'Sort(Split(name, ","), "desc")[0] == "c"',
        ('cmp', '==', ('sortget', ('path', ['name']), ',', 'desc', 0), ('lit', 'c')),
    ),
    (
        'Sort(Keys(ParseKeyValue(name)))[0] == "a"',
        ('cmp',
         '==',
         ('sortlist', ('kvlist', 'keys', ('path', ['name']), '=', ' '), 'asc', 0),
         ('lit', 'a')),
    ),
    (
        'Len(Values(ParseKeyValue(name, ":", ";"))) == 2',
        ('cmp',
         '==',
         ('lenlist', ('kvlist', 'values', ('path', ['name']), ':', ';')),
         ('lit', 2)),
    ),
    (
        'IsList(Split(name, ",")) and not IsList(name)',
        ('and',
         ('islist', ('splitlist', ('path', ['name']), ',')),
         ('not', ('islist', ('path', ['name'])))),
    ),
    (
        'ParseCSV(name, "a;b", ";")["b"] == "x"',
        ('cmp', '==', ('csvget', ('path', ['name']), 2, ';', 1), ('lit', 'x')),
    ),
    (
        'ExtractPatterns(name, "(?<id>[0-9]+)")["id"] == "1"',
        ('cmp',
         '==',
         ('extractpat', ('path', ['name']), '(?P<id>[0-9]+)', '(?<id>[0-9]+)', 1),
         ('lit', '1')),
    ),
    (
        'ExtractGrokPatterns(name, "%{WORD} %{INT:n}")["n"] == "1"',
        ('cmp',
         '==',
         ('extractpat',
          ('path', ['name']),
          '(?:\\b\\w+\\b) (?P<n>[+-]?\\d+)',
          '(?:\\b\\w+\\b) (?<n>[+-]?\\d+)',
          1),
         ('lit', '1')),
    ),
    (
        'Unix(1700000000) < end_time',
        ('cmp', '<', ('unixtime', ('lit', 1700000000), None), ('path', ['end_time'])),
    ),
    (
        'Unix(attributes["s"], 5) < end_time',
        ('cmp',
         '<',
         ('unixtime', ('path', ['attributes', 's']), ('lit', 5)),
         ('path', ['end_time'])),
    ),
    (
        'Murmur3Hash(name) > 0',
        ('cmp', '>', ('murmur3', ('path', ['name'])), ('lit', 0)),
    ),
    (
        'URL(attributes["u"])["url.scheme"] == "https"',
        ('cmp',
         '==',
         ('urlget', ('path', ['attributes', 'u']), 'url.scheme'),
         ('lit', 'https')),
    ),
    (
        'IsValidLuhn(attributes["cc"])',
        ('luhn', ('path', ['attributes', 'cc'])),
    ),
    (
        'ParseJSON(attributes["j"])["a"]["b"] == "x"',
        ('cmp',
         '==',
         ('jsonget',
          ('jsonget', ('parsejson', ('path', ['attributes', 'j'])), 'a'),
          'b'),
         ('lit', 'x')),
    ),
    (
        'Trim(name, "-") == "x"',
        ('cmp', '==', ('trim', ('path', ['name']), '-'), ('lit', 'x')),
    ),
    (
        'SHA256(name) != ""',
        ('cmp', '!=', ('hashconv', ('path', ['name']), 'sha256'), ('lit', '')),
    ),
    (
        'Milliseconds(end_time_unix_nano - start_time_unix_nano) > 5',
        ('cmp',
         '>',
         ('durfold',
          ('arith',
           '-',
           ('path', ['end_time_unix_nano']),
           ('path', ['start_time_unix_nano'])),
          'milliseconds'),
         ('lit', 5)),
    ),
    (
        'Day(start_time) == 1',
        ('cmp', '==', ('timepart', ('path', ['start_time']), 'day'), ('lit', 1)),
    ),
    (
        'UnixMilli(start_time) > 0',
        ('cmp', '>', ('unixdiv', ('path', ['start_time']), 1000000), ('lit', 0)),
    ),
    (
        'Log(attributes["n"]) > 1.5',
        ('cmp', '>', ('logconv', ('path', ['attributes', 'n'])), ('lit', 1.5)),
    ),
    (
        'Format("%s-%d", [name, kind]) == "x-1"',
        ('cmp',
         '==',
         ('format',
          ['', '-', ''],
          ['s', 'd'],
          [('path', ['name']), ('path', ['kind'])]),
         ('lit', 'x-1')),
    ),
    (
        'Hex(kind) == "0000000000000001"',
        ('cmp',
         '==',
         ('hexenc', ('path', ['kind']), 'int'),
         ('lit', '0000000000000001')),
    ),
    (
        'Decode(attributes["b"], "base64") == "x"',
        ('cmp', '==', ('decode64', ('path', ['attributes', 'b'])), ('lit', 'x')),
    ),
    (
        'ParseKeyValue(name)["k"] == "v"',
        ('cmp', '==', ('kvget', ('path', ['name']), '=', ' ', 'k'), ('lit', 'v')),
    ),
    (
        'FNV(name) != 0',
        ('cmp', '!=', ('fnv', ('path', ['name'])), ('lit', 0)),
    ),
]


@pytest.mark.parametrize("cond,expected", CASES)
def test_parse_condition_ast(cond, expected):
    assert parse_condition(cond) == expected


def _kinds(node) -> set[str]:
    if isinstance(node, list):
        return set().union(*map(_kinds, node))
    if not isinstance(node, tuple):
        return set()
    return {node[0]}.union(*map(_kinds, node[1:]))


def test_ast_contract_covers_every_kind():
    assert set().union(*(_kinds(expected) for _, expected in CASES)) == set(_KINDS)
