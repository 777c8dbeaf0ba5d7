"""Backend-matrix lane (VERDICT r02 item 6): every scalar validator with a
Catalyst EXPRESSION backend must produce identical results when its
builder is force-swapped to the vectorized pandas-UDF parity backend
(``build_pyudf_rule``) — the Spark analog of the reference's dual-backend
CI, which runs its suite once with the Cython validator module and once
with the pure-Python translation (reference tasks.py / setup.py
VALIDR_SETUP_MODE=py).

The expression backends are the 10^12-row hot path; the pandas backend is
the semantics oracle (it executes ``pyvalidate``, which the 1904-case
differential in test_reference_differential.py pins to the actual
reference).  Equality here closes the triangle: expression ≡ pandas-UDF
≡ reference, over the same value corpus the differential uses.
"""

import pytest
from pyspark.sql import types as st

from validr_spark import T
from validr_spark.compiler import SparkCompiler
from validr_spark.rules import build_pyudf_rule

# every expression-backed scalar validator, with assorted params
ELEMENTS = [
    "int", "int.min(0).max(9)", "int.default(5)",
    "float.min(0).exmax(1)", "float.optional",
    "bool",
    "str", "str.minlen(2).maxlen(4)", "str.strip", "str.escape",
    "str.match('[a-z]+')",
    "nstr.optional",
    "ipv4", "uuid", "fqdn",
    "url", "url.scheme('http')",
    "phone", "idcard", "slug",
]

# the differential corpus's string-typed values (scalar validators accept
# strings and coerce — pyx:763-785), plus None
VALUES = [
    None, "", "0", "1", "9", "10", "-1", "5", "abc", "ABC", " ab ",
    "a" * 10, "3.5", "INF", "nan", "yes", "off", "x", "true", "false",
    "127.0.0.1", "256.0.0.0", "::1", "2001:db8:2de::e13",
    "12345678@qq.com", "https://github.com", "github.com",
    "http://x.com/" + "y" * 250, "mx.gmail.com.", "a..bc",
    "5e84b2f6-6b6b-4f3c-a24d-6d2e2faab8b3",
    "5E84B2F66B6B4F3CA24D6D2E2FAAB8B3", "xxxxxxxx-xxxx",
    "13387654321", "+8613387654321", "aa-b-c", "-a", "A", "<b>", "a&b",
    "2016-07-09", "12:00:59", "10s", "12h59s",
]

# (output_type, accept_string) each swapped builder must
# declare to match its expression twin's CoreRule contract — nstr is the
# one validator where '' is NOT null-equivalent (reference pyx:907
# registers it accept=object, so the wrapper's empty-string-as-missing
# rule does not apply and nstr.optional('') returns '').
_SWAP_CONTRACT = {
    "int": (st.LongType(), True),
    "float": (st.DoubleType(), True),
    "bool": (st.BooleanType(), True),
    "str": (st.StringType(), True),
    "nstr": (st.StringType(), False),
    "ipv4": (st.StringType(), True),
    "uuid": (st.StringType(), True),
    "fqdn": (st.StringType(), True),
    "url": (st.StringType(), True),
    "phone": (st.StringType(), True),
    "idcard": (st.StringType(), True),
    "slug": (st.StringType(), True),
}


def _swapped_builder(out_t, accept_str):
    def build(sc, schema, input_type, path):
        return build_pyudf_rule(sc, schema, input_type, path,
                                output_type=out_t,
                                accept_string=accept_str)
    return build


def _schema():
    return T.dict(**{f"f{i}": T(el) for i, el in enumerate(ELEMENTS)})


def _corpus(spark):
    rows = [tuple([i] + [v] * len(ELEMENTS))
            for i, v in enumerate(VALUES)]
    ddl = "rid int, " + ", ".join(f"f{i} string"
                                  for i in range(len(ELEMENTS)))
    return spark.createDataFrame(rows, ddl)


def _norm_msg(msg):
    """Canonicalize the two message classes that are nondeterministic in
    the REFERENCE itself, so the matrix compares semantics, not process
    noise:

    - ``expect {'http', 'https'}``: the reference embeds ``repr(set)``
      (pyx:1139) whose element order depends on the process hash seed —
      and the pandas backend renders it on an EXECUTOR process.  The set
      content is sorted in place.
    (ipv4's CPython-internal AddressValueError texts are handled by
    field in _normalize, not here.)
    """
    import re
    m = re.search(r"expect \{(.*)\}$", msg)
    if m:
        parts = sorted(x.strip() for x in m.group(1).split(","))
        return msg[:m.start()] + "expect {" + ", ".join(parts) + "}"
    return msg


_IPV4_FIELDS = {f"f{i}" for i, el in enumerate(ELEMENTS)
                if el.split(".")[0] == "ipv4"}


def _normalize(rows):
    """Comparison key per row: the REFERENCE-OBSERVABLE contract —
    coerced values + (position, message, value) violation triples.
    rule_id is engine-internal (the reference has no rule ids, only
    position+message) and its granularity legitimately differs between
    the vectorized SQL decomposition (f.max, f.scheme) and the black-box
    Python call (f.int, f.url)."""
    out = {}
    for r in rows:
        d = r.asDict(recursive=True)
        rid = d.pop("rid")
        d["_violations"] = sorted(
            (v["position"],
             # ipv4 invalid texts are CPython-internal AddressValueError
             # strings ("Expected 4 octets…", "Unexpected '/'…") that the
             # stable expression message can't chase per CPython version
             # — the DOCUMENTED DIVERGENCE in build_ipv4; compare the
             # verdict, not the text, on ipv4 fields
             "invalid ipv4" if v["position"] in _IPV4_FIELDS
             else _norm_msg(v["message"]),
             v["value"])
            for v in (d.get("_violations") or []))
        out[rid] = d
    return out


@pytest.mark.backend_matrix
def test_expression_and_pandas_backends_agree(spark):
    df = _corpus(spark)
    schema = _schema()

    expr_plan = SparkCompiler().compile(schema)
    swap = {name: _swapped_builder(t, ac)
            for name, (t, ac) in _SWAP_CONTRACT.items()}
    pyudf_plan = SparkCompiler(validators=swap).compile(schema)

    expr_res = expr_plan.apply(df, id_cols=["rid"])
    pyudf_res = pyudf_plan.apply(df, id_cols=["rid"])

    # the swap really engaged: the expression plan runs zero Python for
    # these validators; the swapped plan is Arrow-batched per field
    expr_phys = expr_res.df._jdf.queryExecution().executedPlan().toString()
    swap_phys = pyudf_res.df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in expr_phys
    assert "ArrowEvalPython" in swap_phys

    a = _normalize(expr_res.df.collect())
    b = _normalize(pyudf_res.df.collect())
    assert set(a) == set(b)
    mism = []
    for rid in a:
        if a[rid] != b[rid]:
            diff = {k: (a[rid][k], b[rid][k]) for k in a[rid]
                    if a[rid][k] != b[rid][k]}
            mism.append((rid, VALUES[rid], diff))
    assert not mism, f"{len(mism)} corpus rows diverge; first 5: {mism[:5]}"
