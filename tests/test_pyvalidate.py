"""Row-backend semantics: wrapper matrix, scalar tables, containers, custom
validators (reference tests/test_compiler.py + tests/validators/*)."""

import datetime

import pytest

from validr_spark import Compiler, Invalid, SchemaError, T, validator
from validr_spark import builtin_validators, create_enum_validator

_ = Compiler().compile


# --- wrapper semantics (reference tests/test_compiler.py) -------------------

def test_optional():
    assert _(T.int.optional)(None) is None
    assert _(T.int.optional)("") is None
    assert _(T.str.optional)(None) == ""
    assert _(T.str.optional)("") == ""
    assert _(T.list(T.int).optional)(None) is None
    assert _(T.dict(key=T.int).optional)(None) is None
    with pytest.raises(Invalid):
        _(T.dict(key=T.int).optional)("")
    for schema in (T.int, T.str, T.dict(key=T.int), T.list(T.int)):
        with pytest.raises(Invalid):
            _(schema)(None)


def test_default():
    assert _(T.int.default(0))(None) == 0
    assert _(T.str.default("x"))(None) == "x"
    assert _(T.int.optional.default(0))(None) == 0
    assert _(T.str.optional.default("x"))(None) == "x"


def test_invalid_to():
    assert _(T.int.invalid_to(1))("x") == 1
    assert _(T.int.default(1).invalid_to_default)("x") == 1
    assert _(T.int.optional.invalid_to_default)("x") is None
    assert _(T.date.optional.invalid_to_default)("x") == ""
    assert _(T.date.object.optional.invalid_to_default)("x") is None
    assert _(T.date.invalid_to("2019-01-01"))("x") == "2019-01-01"
    assert _(T.date.object.invalid_to("2019-01-01"))("x") == \
        datetime.date(2019, 1, 1)


@pytest.mark.parametrize("schema", [
    T.int.invalid_to_default,
    T.int.invalid_to(0).invalid_to_default,
    T.int.invalid_to("x"),
    T.int.default("x"),
])
def test_schema_errors(schema):
    with pytest.raises(SchemaError):
        _(schema)


@pytest.mark.parametrize("schema,value,expect", [
    (T.int, "x", "x"),
    (T.dict(key=T.int), {"key": "x"}, "x"),
    (T.list(T.int), [1, "x"], "x"),
])
def test_exception_value(schema, value, expect):
    with pytest.raises(Invalid) as ei:
        _(schema)(value)
    assert ei.value.value == expect


def test_schema_error_position():
    with pytest.raises(SchemaError) as ei:
        _(T.dict(key=T.list(T.dict(key=T.unknown))))
    assert ei.value.position == "key[].key"


# --- scalar tables (reference tests/validators/*.py) ------------------------

INT_CASES = [("0", 0), ("9", 9), (5, 5), (-1, -1), (True, 1), (1.9, 1)]
INT_BAD = ["abc", "1.5", [], {}]


def test_int():
    v = _(T.int)
    for raw, expect in INT_CASES:
        assert v(raw) == expect
    for raw in INT_BAD:
        with pytest.raises(Invalid):
            v(raw)
    v = _(T.int.min(0).max(9))
    with pytest.raises(Invalid):
        v(-1)
    with pytest.raises(Invalid):
        v("10")


def test_bool():
    v = _(T.bool)
    for raw in (True, 1, "1", "True", "yes", "ON", "y"):
        assert v(raw) is True
    for raw in (False, 0, "0", "off", "N", "no"):
        assert v(raw) is False
    for raw in ("x", 2, "10"):
        with pytest.raises(Invalid):
            v(raw)


def test_float():
    v = _(T.float)
    assert v("0") == 0.0
    assert v("-100") == -100.0
    assert v(0.01) == 0.01
    with pytest.raises(Invalid):
        v("1.x")
    with pytest.raises(Invalid):
        v("INF")          # INF > float_info.max
    v = _(T.float.min(0).exmax(1))
    assert v("0") == 0.0
    with pytest.raises(Invalid):
        v(1)              # exclusive max
    with pytest.raises(Invalid):
        v(-0.01)


def test_str():
    v = _(T.str)
    assert v("中文") == "中文"
    assert v(123) == "123"
    v = _(T.str.strip)
    assert v(" aaa ") == "aaa"
    v = _(T.str.escape)
    assert v("&><'\"") == "&amp;&gt;&lt;&#39;&#34;"
    v = _(T.str.match("[a-z]+"))
    assert v("abc") == "abc"
    with pytest.raises(Invalid):
        v("ABC")
    with pytest.raises(Invalid):
        v("abc\nx")      # full match required
    v = _(T.str.minlen(2).maxlen(3))
    with pytest.raises(Invalid):
        v("a")
    with pytest.raises(Invalid):
        v("aaaa")


def test_bytes():
    v = _(T.bytes)
    assert v(b"123") == b"123"
    with pytest.raises(Invalid):
        v("123")


def test_date_time_datetime():
    assert _(T.date)("2016-07-09") == "2016-07-09"
    assert _(T.date)("2016-7-9") == "2016-07-09"      # strptime leniency
    with pytest.raises(Invalid):
        _(T.date)("2016-13-09")
    assert _(T.time)("12:00:59") == "12:00:59"
    with pytest.raises(Invalid):
        _(T.time)("24:00:00")
    assert _(T.datetime)("2016-07-09T00:00:00.123Z") == \
        "2016-07-09T00:00:00.123000Z"
    with pytest.raises(Invalid):
        _(T.datetime)("2016-07-09T00:00:00Z")


def test_timedelta():
    from validr_spark.duration import parse_duration

    v = _(T.timedelta)
    assert v("12h59s") == parse_duration("12h59s").total_seconds()
    assert v(datetime.timedelta(seconds=10)) == 10.0
    assert _(T.timedelta.string)("2d59m59s") == "48h59m59s"
    v = _(T.timedelta.min(10).max("24h"))
    assert v(10) == 10.0
    with pytest.raises(Invalid):
        v("9s")
    with pytest.raises(Invalid):
        v("24h1s")
    with pytest.raises(SchemaError):
        _(T.timedelta.min("1x"))
    assert _(T.timedelta.optional)("") is None
    assert _(T.timedelta.string.optional)("") == ""


def test_network():
    assert _(T.ipv4)("127.0.0.1") == "127.0.0.1"
    with pytest.raises(Invalid):
        _(T.ipv4)("256.0.0.0")
    assert _(T.ipv6)("2001:db8:2de:0:0:0:0:e13") == "2001:db8:2de::e13"
    with pytest.raises(Invalid):
        _(T.ipv6)("2001::25de::cade")
    assert _(T.email)(" 123@163.com ") == "123@163.com"
    with pytest.raises(Invalid):
        _(T.email)("123 @163.com")
    # RFC 5322 atext has no line break, so a newline ending the local
    # part is rejected (the expectation rests on the RFC: the reference
    # checkout is not available to compare against)
    for bad, chars in (("a\n@b.com", "\n"), ("a.b\n@c.com", "\n, .")):
        with pytest.raises(Invalid) as ex:
            _(T.email)(bad)
        assert ex.value.message == (
            "The email address contains invalid characters before the "
            f"@-sign: {chars}.")
    assert _(T.url)("https://github.com") == "https://github.com"
    with pytest.raises(Invalid):
        _(T.url)("github.com")
    assert _(T.fqdn)("mx.gmail.com.") == "mx.gmail.com"
    u = _(T.uuid)("5bd4B82a-35D4-456C-9838-c3A0ab24bb9b")
    assert u == "5bd4b82a-35d4-456c-9838-c3a0ab24bb9b"
    assert _(T.uuid)("5bd4b82a35d4456c9838c3a0ab24bb9b") == u
    with pytest.raises(Invalid):
        _(T.uuid.version(1))(u)   # it's a v4
    assert _(T.uuid.version(4))(u) == u


def test_email_domain_cache_matches_uncached():
    """The memoized IDNA domain step returns what the bare function
    returns, and an invalid domain raises the same message every call
    (raises are not cached)."""
    from validr_spark.pyvalidate import _email_domain_part

    def outcome(fn, domain):
        try:
            return "ok", fn(domain)
        except Exception as ex:
            return type(ex).__name__, str(ex)

    domains = [
        "example.com", "EXAMPLE.COM", "Mail.Example.Org",      # ASCII case
        "例え.テスト", "BÜCHER.de", "xn--bcher-kva.de",          # IDNA
        "xn--fsqu00a.xn--3lr804guic", "xn--zz.com",
        "example.com.", ".example.com", "a..b.com", ".", "",   # dots, empty
        "a" * 63 + ".com", "a" * 64 + ".com",                  # label length
        ".".join(["a" * 60] * 4) + ".com",                     # 249 chars
        ".".join(["a" * 60] * 5) + ".com",                     # over 255
        "localhost", "example.123", "exa mple.com", "-a.com",
    ]
    bare = _email_domain_part.__wrapped__
    seen = set()
    for d in domains:
        want = outcome(bare, d)
        seen.add(want[0] == "ok")
        assert outcome(_email_domain_part, d) == want, d
        assert outcome(_email_domain_part, d) == want, d   # repeat call
    assert seen == {True, False}
    assert _email_domain_part.cache_info().maxsize is not None


def test_regex_validators():
    assert _(T.phone)("13387654321") == "13387654321"
    assert _(T.phone)("+8613387654321") == "+8613387654321"
    with pytest.raises(Invalid):
        _(T.phone)("1331234567x")
    assert _(T.slug)("aa-b-c") == "aa-b-c"
    with pytest.raises(Invalid):
        _(T.slug)("-a")
    assert _(T.idcard)("210727198507128796") == "210727198507128796"


def test_enum():
    v = _(T.enum("A B C"))
    assert v("A") == "A"
    with pytest.raises(Invalid) as ei:
        v("X")
    assert "expect one of" in ei.value.message
    with pytest.raises(SchemaError):
        _(T.enum([]))


# --- containers -------------------------------------------------------------

def test_list():
    v = _(T.list(T.int))
    assert v(["1", 2]) == [1, 2]
    with pytest.raises(Invalid) as ei:
        v([1, "x"])
    assert ei.value.position == "[1]"
    v = _(T.list(T.int).unique)
    with pytest.raises(Invalid) as ei:
        v([1, 2, 2])
    assert ei.value.position == "[2]"
    assert ei.value.message == "not unique"
    v = _(T.list(T.int).minlen(1).maxlen(2))
    with pytest.raises(Invalid):
        v([])
    with pytest.raises(Invalid):
        v([1, 2, 3])
    with pytest.raises(SchemaError):
        _(T.list(T.dict).unique)   # non-hashable inner


def test_dict():
    v = _(T.dict(userid=T.int))
    assert v({"userid": 1, "extra": "xxx"}) == {"userid": 1}
    with pytest.raises(Invalid) as ei:
        v({"userid": "x"})
    assert ei.value.position == "userid"

    class Obj:
        userid = 3

    assert v(Obj()) == {"userid": 3}

    v = _(T.dict(key=T.dict(key=T.int)))
    with pytest.raises(Invalid) as ei:
        v({"key": {"key": "x"}})
    assert ei.value.position == "key.key"


def test_dict_dynamic():
    v = _(T.dict.key(T.str.maxlen(2)).value(T.int))
    assert v({"ab": "5"}) == {"ab": 5}
    with pytest.raises(Invalid) as ei:
        v({"abc": 5})
    assert ei.value.position == "$self_key"
    v = _(T.dict.slim)
    assert v({"a": 1, "b": None, "c": ""}) == {"a": 1}


def test_union_list():
    v = _(T.union([T.int.min(0), T.list(T.int)]))
    assert v(5) == 5
    assert v([1, "2"]) == [1, 2]
    with pytest.raises(Invalid):
        v({"x": 1})
    with pytest.raises(SchemaError):
        _(T.union([T.int, T.str]))   # two scalars → ambiguous
    with pytest.raises(SchemaError):
        _(T.union([T.int.optional]))


def test_union_tagged():
    v = _(T.union(
        cat=T.dict(sound=T.str),
        dog=T.dict(legs=T.int),
    ).by("kind"))
    assert v({"kind": "cat", "sound": "meow"}) == \
        {"sound": "meow", "kind": "cat"}
    with pytest.raises(Invalid) as ei:
        v({"kind": "bird"})
    assert ei.value.position == "kind"
    assert "expect one of" in ei.value.message
    with pytest.raises(Invalid) as ei:
        v({"sound": "x"})
    assert ei.value.position == "kind"
    assert ei.value.message == "required"


def test_any():
    assert _(T.any)(123) == 123
    with pytest.raises(Invalid):
        _(T.any)(None)


# --- extension surface -------------------------------------------------------

def test_custom_validator():
    @validator(accept=str, output=str)
    def choice_validator(compiler, items):
        choices = set(items.split())

        def validate(value):
            if value in choices:
                return value
            raise Invalid("invalid choice")

        return validate

    compiler = Compiler(validators={"choice": choice_validator})
    schema = T.list(T.choice("A B C D").default("A"))
    assert T(schema) == schema
    validate = compiler.compile(schema)
    assert validate(["A", "B", "C", "D", None]) == ["A", "B", "C", "D", "A"]


def test_wrapped_validator():
    str_validator = builtin_validators["str"]
    assert str_validator.is_string
    assert str_validator.accept_string and str_validator.accept_object
    logs = []

    @validator(accept=(str, object), string=True)
    def wrapped(*args, **kwargs):
        inner = str_validator.validator(*args, **kwargs)

        def validate(value):
            logs.append(value)
            return inner(value)

        return validate

    compiler = Compiler(validators={"str": wrapped})
    assert compiler.compile(T.str.optional)("abc") == "abc"
    assert logs == ["abc"]


def test_create_enum_validator():
    abcd = create_enum_validator("abcd", ["A", "B", "C", "D"])
    compiler = Compiler(validators={"abcd": abcd})
    assert compiler.compile(T.list(T.abcd.default("A")))(["B", None]) == \
        ["B", "A"]
