"""The compiler emits Spark SQL text: literal/identifier rendering fidelity,
flat emission, the py4j budget of compile_suite, type-inapplicable keywords
inside element schemas, and concurrent compilation."""

import struct
import sys
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from pathlib import Path

import jsonschema
import pytest
from hypothesis import given, settings, strategies as st
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F, types as T

import bench
from schemasaurus_spark import dsl
from schemasaurus_spark.compiler import (
    _ident, _lit, _sql_str, compile_suite)
from schemasaurus_spark.functions.formats import _REGISTRY
from schemasaurus_spark.official_suite import (
    OfficialTest, _Untypeable, load_official_suite, plan_test,
    run_official_tests)
from schemasaurus_spark.schema_json import SchemaTranslationError
from schemasaurus_spark.session import local_frame
from schemasaurus_spark.validate import validate

CORPUS = Path(__file__).parent / "data" / "official_draft4"


# ------------------------------------------------------------ helpers


@contextmanager
def py4j_calls():
    """Count py4j commands sent while the block runs, leaving out the
    ``m`` garbage-collection commands (their count follows Python GC
    timing, not the program)."""
    box = [0]
    orig = GatewayClient.send_command

    def send(client, command, *args, **kwargs):
        if not command.startswith("m\n"):
            box[0] += 1
        return orig(client, command, *args, **kwargs)

    GatewayClient.send_command = send
    try:
        yield box
    finally:
        GatewayClient.send_command = orig


def _draft4_batch(n):
    """Suite + schema of the first ``n`` plannable corpus tests merged the
    way the official-suite runner batches them (one column per test)."""
    fields, columns, rowcs = ["cid string"], {}, []
    for t in load_official_suite(CORPUS):
        if len(fields) > n:
            break
        try:
            plan = plan_test(t)
        except (_Untypeable, SchemaTranslationError):
            continue
        if plan.defs:
            continue
        i = len(fields) - 1
        cols, rcs = plan.columns_for(f"c{i}")
        fields.append(f"c{i} {plan.ddl}")
        columns.update(cols)
        rowcs.extend(rcs)
    schema = T._parse_datatype_string(", ".join(fields))
    return dsl.Suite(id_column="cid", columns=columns, row=rowcs), schema


def _max_paren_depth(sql: str) -> int:
    depth = best = 0
    quoted = False
    prev = ""
    for ch in sql:
        if ch == "'" and prev != "\\":
            quoted = not quoted
        elif not quoted:
            if ch == "(":
                depth += 1
                best = max(best, depth)
            elif ch == ")":
                depth -= 1
        prev = "" if prev == "\\" else ch
    return best


def _bits(v):
    return struct.pack(">d", v) if isinstance(v, float) else v


def _assert_lit_fidelity(spark, values):
    """F.expr(_lit(v)) evaluates to the value and type F.lit(v) gives."""
    cols = []
    for k, v in enumerate(values):
        cols += [F.expr(_lit(v)).alias(f"e{k}"), F.lit(v).alias(f"l{k}")]
    out = spark.range(1).select(*cols)
    row = out.collect()[0]
    for k, v in enumerate(values):
        assert out.schema[f"e{k}"].dataType == out.schema[f"l{k}"].dataType, v
        assert _bits(row[f"e{k}"]) == _bits(row[f"l{k}"]), v


# ------------------------------------------------------------ rendering


_TRICKY = "ab'\"\\\n\r\t$%_{}()[].*+?^|/#-éß€中😀 "


@settings(max_examples=12, deadline=None, derandomize=True)
@given(values=st.lists(
    st.text(alphabet=st.one_of(st.sampled_from(_TRICKY),
                               st.characters(blacklist_categories=("Cs",))),
            max_size=12),
    min_size=1, max_size=8))
def test_string_literals_round_trip(spark, values):
    _assert_lit_fidelity(spark, values)


def test_literal_edges_keep_flit_types(spark):
    _assert_lit_fidelity(spark, [
        0, 1, -1, 2 ** 31 - 1, -(2 ** 31), 2 ** 31, -(2 ** 31) - 1,
        2 ** 63 - 1, -(2 ** 63),
        0.1, 1e-300, 1e308, -0.0, 1.5, -2.5e-7, 5e-324,
        float("inf"), float("-inf"), float("nan"),
        True, False, None,
        "", "${spark.app.name}", "it's", "back\\slash", "\\u0041", "\\'",
        [1, 2], [1.5, 2], ["a", "b'"],
    ])


@settings(max_examples=10, deadline=None, derandomize=True)
@given(values=st.lists(st.one_of(
    st.integers(-(2 ** 63), 2 ** 63 - 1),
    st.floats(allow_nan=True, allow_infinity=True)),
    min_size=1, max_size=8))
def test_numeric_literals_round_trip(spark, values):
    _assert_lit_fidelity(spark, values)


def test_identifiers_quote_each_dotted_segment(spark):
    inner = T.StructType([T.StructField("in ner", T.IntegerType()),
                          T.StructField("q`t", T.IntegerType())])
    schema = T.StructType([
        T.StructField("a b", T.IntegerType()),
        T.StructField("x`y", T.IntegerType()),
        T.StructField("s", inner),
        T.StructField("s t", T.StructType([T.StructField("u`", inner)])),
    ])
    df = local_frame(spark, [(1, 2, (3, 4), ((5, 6),))], schema)
    paths = {"a b": 1, "x`y": 2, "s.in ner": 3, "s.q`t": 4,
             "s t.u`.in ner": 5, "s t.u`.q`t": 6}
    row = df.select(*[F.expr(_ident(p)).alias(f"p{k}")
                      for k, p in enumerate(paths)]).collect()[0]
    assert list(row) == list(paths.values())
    # and through the compiler: a violation on every special-named column
    suite = dsl.Suite(id_column="a b", columns={p: [dsl.Maximum(0)] for p in paths})
    got = sorted(r["column"] for r in validate(df, suite).violations().collect())
    assert got == sorted(paths)


_REGEX_PROBES = [
    "", "a", "abc", "a$b", "a'b", "a\\b", "${spark.app.name}", "x{2}",
    "user@example.com", "not an email", "192.168.0.1", "256.1.1.1",
    "::1", "2001:db8::1", "1:1.2.3.4", "2016-01-01T10:00:00Z", "2016-13-01",
    "http://example.com/a?b=c", "//x", "example.com", "-bad-.com",
    "é", "😀", "line\nbreak",
]
_PATTERNS = [r"^a", r"\$", r"'", r"\\", r"^\$\{spark", r"x\{2\}", r"[^\x00-\x7F]",
             r"\d{3}\.\d", r"^\p{L}+$", r"(?i)EXAMPLE", r"\n"]


def test_pattern_and_format_regexes_flag_the_same_rows(spark):
    """Every registered Format regex and a set of metacharacter-heavy
    Patterns flag exactly the rows the DataFrame-API rlike flags."""
    df = local_frame(spark, [(i, s) for i, s in enumerate(_REGEX_PROBES)],
                     "i int, s string")
    regexes = [spec.regexp for spec in _REGISTRY.values()] + _PATTERNS
    cols = []
    for k, rx in enumerate(regexes):
        cols += [F.expr(f"(`s` RLIKE {_sql_str(rx)})").alias(f"e{k}"),
                 F.col("s").rlike(rx).alias(f"c{k}")]
    rows = df.select("i", *cols).collect()
    for row in rows:
        for k in range(len(regexes)):
            assert row[f"e{k}"] == row[f"c{k}"], regexes[k]
    suite = dsl.Suite(id_column="i", columns={"s": (
        [dsl.Format(name) for name in _REGISTRY] + [dsl.Pattern(p) for p in _PATTERNS])})
    got = {(r["i"], r["arg"]) for r in validate(df, suite).violations().collect()}
    args = [spec.message for spec in _REGISTRY.values()] + _PATTERNS
    want = {(row["i"], args[k]) for row in rows for k in range(len(regexes))
            if not row[f"c{k}"]}
    assert got == want


# ------------------------------------------------------------ flat emission


def test_flat_emission_compiles_analyzes_and_runs(spark):
    """Long constraint lists and wide combinators render as flat n-ary
    chains: the parser rejects deeply nested text
    (FAILED_TO_PARSE_TOO_COMPLEX), so nesting depth must not grow with
    the number of constraints."""
    many = ([dsl.Minimum(-k) for k in range(200)]
            + [dsl.Maximum(1000 + k) for k in range(200)])
    wide = dsl.AnyOf([[dsl.Minimum(k), dsl.Maximum(k)] for k in range(100)])
    df = local_frame(spark, [(0, 1500, 5), (1, 10, 500)],
                     "i int, n bigint, m bigint")
    suite = dsl.Suite(id_column="i", columns={"n": many, "m": [wide]})
    plan = compile_suite(suite, df.schema)
    assert _max_paren_depth(plan.violations_sql) < 20
    rows = validate(df, suite).violations().collect()
    # row 0: 1500 breaks all 200 maximums, m=5 matches branch 5
    # row 1: m=500 matches no branch: 1 anyOf + 100 maximum sub-errors
    by_row = {i: [r["constraint_id"] for r in rows if r["i"] == i] for i in (0, 1)}
    assert by_row[0] == ["maximum"] * 200
    assert by_row[1] == ["anyOf"] + ["maximum"] * 100

    batch, schema = _draft4_batch(24)
    assert _max_paren_depth(compile_suite(batch, schema).violations_sql) < 40
    tests = load_official_suite(CORPUS)[:60]
    res = run_official_tests(spark, tests, batch_size=24)
    assert not res.failed
    assert not [r for _, r in res.skipped if r.startswith("engine error")]


# ------------------------------------------------------------ py4j budget


def test_compile_py4j_budget(spark):
    """compile_suite is a Python string walk: the draft-4 batch costs no
    py4j round trip at all and the sequences suite pays only for its
    Column-built Conform predicate. Turning a plan into Columns is one
    F.expr."""
    schema = T._parse_datatype_string(
        "doc_id string, tokens array<int>, n_tok int, source string")
    compile_suite(bench.full_sequences_suite(), schema)  # warm
    with py4j_calls() as n:
        compile_suite(bench.full_sequences_suite(), schema)
    assert n[0] < 50

    counts = {}
    for size in (24, 48):
        suite, schema = _draft4_batch(size)
        with py4j_calls() as n:
            plan = compile_suite(suite, schema)
        counts[size] = n[0]
        with py4j_calls() as n:
            plan.violations_expr()
        assert n[0] <= 3
    assert counts[24] <= 3
    assert counts[48] <= counts[24]


# ------------------------------------------------------- element-type DCE


@pytest.mark.parametrize("schema,data", [
    ({"items": {"anyOf": [{"type": "boolean"}, {"minimum": 3}]}}, [True, False]),
    ({"items": {"allOf": [{"type": "boolean"}, {"maximum": 3}]}}, [True]),
    ({"items": {"not": {"minimum": 3}}}, [True]),
    ({"allOf": [{"enum": ["a", "b"]}]}, 3),
    ({"anyOf": [{"enum": ["a"]}, {"minimum": 1}]}, 3),
])
def test_keywords_on_inapplicable_types_grade_like_draft4(spark, schema, data):
    """Numeric/string/array keywords on an element type they cannot apply
    to are static-true, and enum values that cannot equal the column's
    type drop out of the IN list — these shapes used to fail analysis and
    skip as engine errors."""
    valid = jsonschema.Draft4Validator(schema).is_valid(data)
    t = OfficialTest("inline", "inapplicable keyword", str(data), schema, data, valid)
    res = run_official_tests(spark, [t])
    assert res.passed == [t], (res.failed, res.skipped)


def test_enum_drops_values_of_other_types(spark):
    df = local_frame(spark, [(0, 3, "3", True), (1, 1, "x", False)],
                     "i int, n int, s string, b boolean")
    suite = dsl.Suite(id_column="i", columns={
        "n": [dsl.Enum(["3", True, 3.0])],
        "s": [dsl.Enum([3, "3"])],
        "b": [dsl.Enum([1, True])],
    })
    got = sorted((r["i"], r["column"])
                 for r in validate(df, suite).violations().collect())
    assert got == [(1, "b"), (1, "n"), (1, "s")]


# ------------------------------------------------------------ concurrency


def test_concurrent_compiles_give_identical_violations(spark):
    """No process-global Column state: 8 threads compiling and validating
    the same suite object and different suites agree with serial runs."""
    df = local_frame(spark, [(i, i * 7 % 23, f"v{i % 5}") for i in range(40)],
                     "i int, n int, s string")
    shared = dsl.Suite(id_column="i", columns={
        "n": [dsl.Minimum(3), dsl.Maximum(15),
              dsl.AnyOf([[dsl.Enum([1, 2])], [dsl.MultipleOf(2)]])],
        "s": [dsl.Pattern(r"^v[0-3]$")],
    })

    def own(k):
        return dsl.Suite(id_column="i", columns={
            "n": [dsl.Minimum(k), dsl.Not([dsl.Enum([k + 1])])],
            "s": [dsl.Enum([f"v{k % 5}"])],
        })

    def run(suite):
        return sorted(tuple(r) for r in validate(df, suite).violations().collect())

    jobs = [shared if k % 2 else own(k) for k in range(16)]
    serial = [run(s) for s in jobs]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            threaded = list(pool.map(run, jobs, timeout=600))
    finally:
        sys.setswitchinterval(switch)
    assert threaded == serial
    assert all(serial[k] == serial[1] for k in range(1, 16, 2))
    assert len({tuple(serial[k]) for k in range(0, 16, 2)}) > 1
