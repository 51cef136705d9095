"""ConstraintCompiler — DSL → Spark SQL expression text.

The Spark re-expression of the reference compiler
(schemasaurus ``src/compiler.js``). The reference walks the schema once
and emits specialized JavaScript source, which ``new Function(...)`` turns
into a closure (``compiler.js:135-211``). This compiler walks the
:class:`~schemasaurus_spark.dsl.Suite` once and emits Spark SQL expression
**source text** with every constraint argument folded in as a literal.
``F.expr`` is the analog of ``new Function``: the plan turns the whole
violation expression into a ``Column`` with ONE parse (and the row-pass
predicate with one more), instead of one py4j round trip per Catalyst node.
WholeStageCodegen then plays the role of the JIT + inlining
(``compiler.js:194-211``, ``src/int/code.js:42-57``): the per-row work is
fused JVM bytecode.

Design invariants (SURVEY.md §4):

* **Single pass** — every row-level check contributes an
  ``array<struct>`` fragment; the row's violation list is one ``concat`` of
  all fragments, evaluated in ONE projection over the scan. No per-constraint
  re-scan, no shuffle.
* **Partial evaluation** — constraint args (enum sets, regexes, bounds,
  messages) are folded in as literals, the analog of the reference's
  ``prepare``-time baking (``compiler.js:103-113``). Literals render with
  the Spark types ``F.lit`` would give them (see :func:`_lit`).
* **Compile-time dead-code elimination** — checks inapplicable to a column's
  or element's static type compile to nothing, the analog of the
  reference's type guards (``typeof _ === 'string' && ...``,
  v4validator.js:194-206) plus its unmatched-selector pruning
  (``compiler.js:85-101``).
* **Short-circuit parity** — a null value yields only the ``required`` error
  and suppresses all other checks on that column, matching
  ``ctx.stop()`` after a required failure (v4validator.js:80); emission order
  inside a row follows DSL order, matching traversal order
  (``compiler.js:156-173``).
* **Flat emission** — AND, OR and ``concat`` chains render n-ary: a chain
  appended to a chain of the same kind splices into one level. The SQL
  parser rejects deeply parenthesized text (``FAILED_TO_PARSE_TOO_COMPLEX``)
  and pays a steep cold-parse cost for lookahead, so operands are grouped
  only where precedence requires, by a function call instead of
  parentheses, and two-way conditionals render as ``if(c, a, b)``.
* **Column boundary** — ``Conform.expr``/``pandas_fn`` and
  ``dsl.register_constraint`` hooks receive and return ``Column``s. Where a
  Column meets emitted text, each adjacent text subtree becomes a Column
  through one ``F.expr`` and the combination continues through the
  DataFrame API.
* **No per-row Python** — ``Conform.pandas_fn`` is the only Python on the
  executor path and it is an Arrow-vectorized ``pandas_udf``.
"""

from __future__ import annotations

import itertools
import json
import math
import operator
import re
from dataclasses import dataclass, field as dc_field
from decimal import Decimal
from functools import cached_property, reduce
from typing import Callable, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F, types as T

from schemasaurus_spark import dsl
from schemasaurus_spark.functions.formats import get_format
from schemasaurus_spark.messages import render_message

# Uniform violation record — field-for-field analog of the reference error
# object {code, message, value, arg, path} (v4validator.js:45-51); the path
# becomes (id_column value, column) since rows are independent (SURVEY §1.2).
VIOLATION_STRUCT = T.StructType(
    [
        T.StructField("constraint_id", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("arg", T.StringType()),
        T.StructField("message", T.StringType()),
    ]
)
VIOLATION_ARRAY_TYPE = T.ArrayType(VIOLATION_STRUCT)
VIOLATIONS_COL = "__violations"

# An emitted expression: Spark SQL text, or a Column once an extension hook,
# a Conform predicate or a pandas_udf has joined the tree.
Expr = Union[str, Column]


class SuiteCompileError(ValueError):
    pass


def _render_arg(arg) -> Optional[str]:
    if arg is None:
        return None
    if isinstance(arg, (list, tuple)):
        return json.dumps(list(arg))
    return str(arg)


# --------------------------------------------------------------------------
# SQL text rendering


def _sql_str(s: str) -> str:
    """Single-quoted string literal. ``$`` goes out as the ``\\u0024``
    escape: the session parser substitutes ``${...}`` variables in the raw
    text before it tokenizes string literals."""
    body = s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return "'" + body + "'"


def _lit(v) -> str:
    """SQL literal with the Spark type ``F.lit(v)`` gives: int → INT or
    BIGINT by range, float → DOUBLE (a bare ``1.5`` would parse as
    DECIMAL), str → STRING, list → array, None → the NULL (void) literal."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if -(2 ** 31) <= v < 2 ** 31:
            return str(v)
        if -(2 ** 63) <= v < 2 ** 63:
            return f"{v}L"
        raise SuiteCompileError(f"integer literal {v} is outside the int64 range")
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return "CAST('Infinity' AS DOUBLE)" if v > 0 else "CAST('-Infinity' AS DOUBLE)"
        return repr(v) + "D"
    if isinstance(v, Decimal):
        return f"{v}BD"
    if isinstance(v, str):
        return _sql_str(v)
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_lit(x) for x in v) + ")"
    raise SuiteCompileError(f"no SQL literal for {type(v).__name__} value {v!r}")


def _ident(name: str) -> str:
    """Column reference: one back-quoted part per dotted segment (the
    nested-path reading ``F.col('a.b')`` gives), backticks doubled."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))


# Binding strength of an emitted expression's top operator, loosest first.
# Operands are grouped only where precedence requires it, and grouped by a
# one-argument coalesce (the identity; the optimizer's NullPropagation
# removes it) rather than by parentheses: a parenthesized subexpression
# makes the parser look ahead to its closing parenthesis to tell it from a
# row constructor, a subquery or lambda parameters, and on a cold parser
# that lookahead cost 82 MB of allocation for the 3.4 KB pass predicate of
# a draft-4 batch, against 34 MB with the function-call grouping.
_OR, _AND, _NOT, _CMP, _ADD, _MUL, _ATOM = range(7)


class _Sql(str):
    """SQL text tagged with the binding strength of its top operator.
    Plain ``str`` text is an atom: a literal, a column, a function call,
    CASE or CAST."""

    prec = _ATOM


def _sql(text: str, prec: int) -> _Sql:
    out = _Sql(text)
    out.prec = prec
    return out


def _p(e: str, prec: int) -> str:
    """``e`` as an operand that must bind at least as tightly as ``prec``."""
    return e if getattr(e, "prec", _ATOM) >= prec else f"coalesce({e})"


def _bin(a: str, op: str, b: str) -> _Sql:
    """Comparison or predicate (``<``, ``=``, ``<=>``, ``RLIKE`` …)."""
    return _sql(f"{_p(a, _ADD)} {op} {_p(b, _ADD)}", _CMP)


def _arith(a: str, op: str, b: str) -> _Sql:
    """Left-associative arithmetic: ``-`` binds like ``+``, the rest like
    ``*``."""
    prec = _ADD if op in "+-" else _MUL
    return _sql(f"{_p(a, prec)} {op} {_p(b, prec + 1)}", prec)


def _field(e: str, name: str) -> str:
    """Struct field / map-entry access — ``e[name]`` in the Column API."""
    return f"{e}[{_sql_str(name)}]"


_VIOLATIONS_SQL_TYPE = ("ARRAY<STRUCT<"
                        + ", ".join(f"`{f.name}`: STRING"
                                    for f in VIOLATION_STRUCT.fields)
                        + ">>")
# An empty violation array inside a fragment is the untyped `array()`: it
# takes the struct type of its sibling branch by coercion, and at ~130 bytes
# a piece the typed CAST was a quarter of a draft-4 batch's text. Only the
# plan-level expression carries the full type.
_EMPTY = "array()"
_EMPTY_TYPED = f"CAST(array() AS {_VIOLATIONS_SQL_TYPE})"
_NULL_STR = "CAST(NULL AS STRING)"
_ASTRAL_RE = _sql_str(r"[\x{10000}-\x{10FFFF}]")  # utf16: astral chars count 2
_MARK_RE = _sql_str(r"\p{M}")  # graphemes: combining marks fold away


# --------------------------------------------------------------------------
# expression nodes — text, or Columns at the extension boundary


def _column(e: Expr) -> Column:
    return e if isinstance(e, Column) else F.expr(e)


def _op(text: Callable[..., str], build: Callable[..., Column], *args: Expr) -> Expr:
    """One expression node over ``args``: rendered as text, or — when any
    operand is a Column — built through the DataFrame API with each text
    operand parsed once."""
    if any(isinstance(a, Column) for a in args):
        return build(*map(_column, args))
    return text(*args)


def _not(e: Expr) -> Expr:
    return _op(lambda a: _sql(f"NOT {_p(a, _NOT)}", _NOT), operator.inv, e)


def _is_null(e: Expr) -> Expr:
    return _op(lambda a: _sql(f"{_p(a, _ADD)} IS NULL", _CMP),
               lambda c: c.isNull(), e)


def _not_null(e: Expr) -> Expr:
    return _op(lambda a: _sql(f"{_p(a, _ADD)} IS NOT NULL", _CMP),
               lambda c: c.isNotNull(), e)


def _coalesce(e: Expr, default: str) -> Expr:
    """``coalesce(e, default)`` of a boolean ``e`` to ``TRUE``/``FALSE``."""
    if isinstance(e, Column):
        # the same truth table through null-safe equality: one py4j round
        # trip, where F.coalesce and its literal take twelve
        return e.eqNullSafe(True) if default == "FALSE" else ~e.eqNullSafe(False)
    return f"coalesce({e}, {default})"


def _cast(e: Expr, sql_type: str) -> Expr:
    return _op(lambda a: f"CAST({a} AS {sql_type})",
               lambda c: c.cast(sql_type), e)


def _array(e: Expr) -> Expr:
    return _op(lambda a: f"array({a})", F.array, e)


_CMP_OPS = {"=": operator.eq, ">": operator.gt}


def _cmp(a: Expr, op: str, b: str) -> Expr:
    return _op(lambda x, y: _bin(x, op, y), _CMP_OPS[op], a, b)


def _case(branches: list, otherwise: Expr = _EMPTY) -> Expr:
    """``CASE WHEN c1 THEN v1 … ELSE otherwise END`` (``F.when`` chain)."""
    args = [e for pair in branches for e in pair] + [otherwise]

    def text(*a):
        if len(a) == 3:
            # if() is a function call; `CASE WHEN` makes a cold parser look
            # ahead through the whole condition (WHEN is also a legal
            # identifier, so `CASE when …` could start a simple CASE)
            return f"if({a[0]}, {a[1]}, {a[2]})"
        whens = " ".join(f"WHEN {a[k]} THEN {a[k + 1]}"
                         for k in range(0, len(a) - 1, 2))
        return f"CASE {whens} ELSE {a[-1]} END"

    def build(*a):
        w = F.when(a[0], a[1])
        for k in range(2, len(a) - 1, 2):
            w = w.when(a[k], a[k + 1])
        return w.otherwise(a[-1])

    return _op(text, build, *args)


def _when(cond: Expr, then: Expr, otherwise: Expr = _EMPTY) -> Expr:
    return _case([(cond, then)], otherwise)


class _Chain(_Sql):
    """Rendered n-ary chain that keeps its operands, so a chain appended to
    a chain of the same kind splices in flat instead of nesting a level."""

    kind: str
    parts: tuple


def _chain(kind: str, parts, unit: str, render, build, prec: int) -> Expr:
    flat: list = []
    for p in parts:
        if isinstance(p, _Chain) and p.kind == kind:
            flat.extend(p.parts)
        elif not (isinstance(p, str) and p == unit):
            flat.append(p)
    if not flat:
        return unit
    if len(flat) == 1:
        return flat[0]
    if any(isinstance(p, Column) for p in flat):
        # each run of text operands between Columns parses as one subtree
        cols: list = []
        for is_col, run in itertools.groupby(
                flat, key=lambda p: isinstance(p, Column)):
            run = list(run)
            cols.extend(run if is_col else
                        [F.expr(_chain(kind, run, unit, render, build, prec))])
        return build(cols)
    out = _Chain(render([_p(p, prec) for p in flat]))
    out.kind, out.parts, out.prec = kind, tuple(flat), prec
    return out


def _and(parts) -> Expr:
    return _chain("AND", parts, "TRUE", " AND ".join,
                  lambda cs: reduce(operator.and_, cs), _AND)


def _or(parts) -> Expr:
    return _chain("OR", parts, "FALSE", " OR ".join,
                  lambda cs: reduce(operator.or_, cs), _OR)


def _sum(parts) -> Expr:
    return _chain("+", parts, "0", " + ".join,
                  lambda cs: reduce(operator.add, cs), _ADD)


def _concat(parts) -> Expr:
    """Violation-array concatenation; empty arrays drop out."""
    return _chain("concat", parts, _EMPTY,
                  lambda ps: "concat(" + ", ".join(ps) + ")",
                  lambda cs: F.concat(*cs), _ATOM)


def _vio_struct(code: str, label: Expr, value: Expr, arg, message: str) -> Expr:
    """One violation record. ``label`` is an expression (usually a string
    literal; PatternProperties builds ``col[key]`` from the map key)."""
    rendered = _render_arg(arg)

    def text(lb, v):
        return (f"named_struct('constraint_id', {_sql_str(code)}, "
                f"'column', {lb}, 'value', CAST({v} AS STRING), "
                f"'arg', {_NULL_STR if rendered is None else _sql_str(rendered)}, "
                f"'message', {_sql_str(message)})")

    def build(lb, v):
        return F.struct(
            F.lit(code).alias("constraint_id"),
            lb.alias("column"),
            v.cast("string").alias("value"),
            F.lit(rendered).cast("string").alias("arg"),
            F.lit(message).alias("message"))

    return _op(text, build, label, value)


def _scalar_fragment(
    failed: Expr, code: str, column: str, value: Expr, arg, message: str
) -> Expr:
    """0-or-1-element violation array for a scalar check. Accepts text or
    Columns, so ``dsl.register_constraint`` hooks can build with it."""
    return _when(failed, _array(_vio_struct(code, _sql_str(column), value,
                                            arg, message)))


def _pass(x: str) -> str:
    """Element predicate of a keyword that cannot fail on the element's
    static type (the element-level twin of the column-level DCE)."""
    return "TRUE"


_pass.static_true = True


@dataclass
class CompiledColumn:
    """All fragments for one column, in DSL order."""

    column: str
    fragments: list = dc_field(default_factory=list)  # array<struct> each
    valids: list = dc_field(default_factory=list)  # pass predicates, AND-ed

    @property
    def valid(self) -> Optional[Expr]:
        """Conjunction of all pass-predicates (used by combinator branches)."""
        return _and(self.valids) if self.valids else None

    @valid.setter
    def valid(self, v: Optional[Expr]) -> None:
        self.valids = [] if v is None else [v]

    def add(self, fragment: Expr, ok: Expr) -> None:
        self.fragments.append(fragment)
        self.valids.append(ok)


@dataclass
class ValidationPlan:
    """The compiled artifact — analog of the specialized closure the
    reference returns (``compiler.js:201-211``). Holds the violation
    expression as SQL text; ``apply`` projects it onto a DataFrame.

    Fast-path/slow-path split: ``row_valid`` is the conjunction of all pass
    predicates — cheap (no struct/array construction). The violation-array
    concat is evaluated ONLY for failing rows, so the common clean row costs
    little more than the scan itself (the columnar analog of the reference's
    early-exit codegen, ``compiler.js:132`` / ``ctx.stop``)."""

    suite: dsl.Suite
    fragments: list  # array<struct> expression each
    suite_hash: str
    valid: Optional[Expr] = None  # the row pass predicate

    @property
    def violations_sql(self) -> Expr:
        """The whole violation-array expression (text unless an extension
        boundary made it a Column)."""
        if not self.fragments:
            return _EMPTY_TYPED
        full = _concat(self.fragments)
        if self.valid is None:  # an extension hook that set no pass predicate
            return _cast(full, _VIOLATIONS_SQL_TYPE)
        # the pass predicate is a conjunction of coalesce(…, FALSE), so never
        # NULL: `WHEN valid THEN empty` is `WHEN NOT valid THEN full` without
        # parenthesizing the whole conjunction
        return _when(self.valid, _EMPTY_TYPED, full)

    @cached_property
    def row_valid(self) -> Optional[Column]:
        return None if self.valid is None else _column(self.valid)

    @cached_property
    def _violations(self) -> Column:
        return _column(self.violations_sql)

    def violations_expr(self) -> Column:
        return self._violations

    def apply(self, df: DataFrame) -> DataFrame:
        """One narrow projection: df + ``__violations`` array column."""
        return df.withColumn(VIOLATIONS_COL, self.violations_expr())

    def explode_violations(self, df: DataFrame, *extra_cols: str) -> DataFrame:
        """Violation rows via ``posexplode`` with NO pre-filter: exploding
        an empty array emits nothing, so the failing-row filter is implicit
        — and crucially the plan is scan → project → generate, all inside
        WholeStageCodegen, with NOTHING pushed into the parquet scan.

        Why no ``where(size(violations) > 0)``: Catalyst inlines that
        predicate (the ENTIRE compiled constraint tree, regexes included)
        through the projection and pushes it into the FileScan as a
        DataFilter, where it is evaluated interpreted per row — measured
        77 s vs 7 s for a 16M-row suite at 32 cores, with NEGATIVE core
        scaling (BENCH.md round 2 'filter-pushdown pathology').

        A frame that already carries ``__violations`` (``apply``'s output)
        is exploded as is: re-projecting the expression would parse and
        analyze the whole violation text a second time."""
        cols = [F.col(self.suite.id_column), *[F.col(c) for c in extra_cols]]
        if VIOLATIONS_COL not in df.columns:
            df = df.withColumn(VIOLATIONS_COL, self.violations_expr())
        return df.select(
            *cols, F.posexplode(VIOLATIONS_COL).alias("__pos", "__v"))


# --------------------------------------------------------------------------
# type utilities (compile-time DCE — the analog of the reference's runtime
# typeof guards, made static because the DataFrame schema is known)


_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _dtype(schema: Optional[T.StructType], col: str):
    """Resolve a (possibly dotted) column path through nested StructTypes —
    the engine's analog of the reference's nested-object descent
    (``src/int/processor.js:66-88``); the dotted path plays the role of the
    error ``path`` chain."""
    if schema is None:
        return None
    dt: object = schema
    for part in col.split("."):
        if not isinstance(dt, T.StructType):
            return None
        try:
            dt = dt[part].dataType
        except (KeyError, ValueError):
            return None
    return dt


def _has_path(schema: Optional[T.StructType], col: str) -> bool:
    """No schema = everything resolvable; otherwise _dtype IS the single
    path-resolution implementation (a second copy drifted once)."""
    return schema is None or _dtype(schema, col) is not None


def _is_string(dt) -> bool:
    return dt is None or isinstance(dt, T.StringType)


def _is_numeric(dt) -> bool:
    return dt is None or isinstance(dt, _NUMERIC)


def _is_array(dt) -> bool:
    return dt is None or isinstance(dt, T.ArrayType)


def _can_equal(v, dt) -> bool:
    """Whether enum value ``v`` can equal a value of static type ``dt``.
    JSON-mapped types follow JSON equality (``"1" != 1``, ``true != 1``);
    other Spark types (dates, binary, …) keep Spark's own coercion."""
    if v is None or dt is None:
        return True
    if isinstance(dt, T.BooleanType):
        return isinstance(v, bool)
    if isinstance(dt, _NUMERIC):
        return isinstance(v, (int, float, Decimal)) and not isinstance(v, bool)
    if isinstance(dt, T.StringType):
        return isinstance(v, str)
    if isinstance(dt, T.ArrayType):
        return (isinstance(v, (list, tuple))
                and all(_can_equal(x, dt.elementType) for x in v))
    return not isinstance(dt, (T.StructType, T.MapType))


def _in(x: str, values, dt) -> str:
    """``x IN (…)`` over the enum values that can equal ``dt`` — the others
    are dropped, not cast (a cast of an uncastable literal is a runtime
    error under ANSI)."""
    vals = [v for v in values if _can_equal(v, dt)]
    if not vals:
        return "FALSE"
    return _sql(f"{_p(x, _ADD)} IN ({', '.join(_lit(v) for v in vals)})", _CMP)


# --------------------------------------------------------------------------


class ConstraintCompiler:
    """Walks a Suite once, emitting expression fragments per constraint —
    the analog of the reference's schema walk + ``addFn`` dispatch
    (``compiler.js:135-173``)."""

    def __init__(self, suite: dsl.Suite, schema: Optional[T.StructType] = None):
        self.suite = suite
        self.schema = schema
        # cycle guards — the reference's $$visited marker (compiler.js:136-141)
        self._visiting: set[int] = set()   # nested constraint objects in flight
        self._ref_stack: set[str] = set()  # Ref names in flight
        self._lambda_ids = itertools.count(1)

    # -- public -------------------------------------------------------------

    def compile(self) -> ValidationPlan:
        if self.schema is not None:
            # check EVERY column the suite reads — not just suite.columns:
            # Dependency.on/requires/schema-form targets, Conform
            # extra_cols, and the id column. A typo in any of them should
            # be a SuiteCompileError at compile time, not an unresolved-
            # column AnalysisException at first action.
            wanted = set(self.suite.columns) | {self.suite.id_column}
            all_cs = [c for cs in self.suite.columns.values() for c in cs]
            all_cs += [c for _, c in self.suite.row]
            wanted |= dsl.referenced_columns(
                all_cs, definitions=self.suite.definitions)
            missing = [c for c in sorted(wanted)
                       if not _has_path(self.schema, c)]
            if missing:
                raise SuiteCompileError(
                    f"suite references missing column(s) {missing}; "
                    f"available: {sorted(self.schema.fieldNames())}")
        fragments: list = []
        valids: list = []
        for col_name, constraints in self.suite.columns.items():
            cc = self._compile_column(col_name, list(constraints))
            fragments.extend(cc.fragments)
            if cc.valids:
                valids.append(_coalesce(cc.valid, "FALSE"))
        for label, constraint in self.suite.row:
            col = _ident(label) if self._has(label) else "NULL"
            cc = self._compile_one(label, col, constraint, null_guard=False)
            fragments.extend(cc.fragments)
            if cc.valids:
                valids.append(_coalesce(cc.valid, "FALSE"))
        return ValidationPlan(self.suite, fragments, self.suite.fingerprint(),
                              _and(valids) if valids else None)

    # -- internals ----------------------------------------------------------

    def _has(self, col_name: str) -> bool:
        return _has_path(self.schema, col_name)

    def _msg(self, code: str, arg=None) -> str:
        return render_message(code, arg, overrides=self.suite.messages,
                              gettext=getattr(self.suite, "gettext", None))

    def _hof(self, fn: str, arr: str, body: Callable[..., str],
             nargs: int = 1) -> str:
        """Higher-order function call ``fn(arr, x -> body(x))``. Every
        lambda gets a variable name unique within the plan, so nested
        lambdas never shadow each other."""
        names = [f"_lv{next(self._lambda_ids)}" for _ in range(nargs)]
        params = names[0] if nargs == 1 else "(" + ", ".join(names) + ")"
        return f"{fn}({arr}, {params} -> {body(*names)})"

    def _str_len(self, x: str) -> str:
        """String length under the suite's strLength mode (the reference's
        pluggable strLength, v4validator.js:15-17) — all expression-only:
        codepoints = length(); utf16 = astral chars count 2 (JS
        String.length parity); graphemes = combining marks (\\p{M}) fold
        into their base character."""
        mode = getattr(self.suite, "str_length", "codepoints")
        if mode == "codepoints":
            return f"length({x})"
        if mode == "utf16":
            return f"length(regexp_replace({x}, {_ASTRAL_RE}, '__'))"
        if mode == "graphemes":
            return f"length(regexp_replace({x}, {_MARK_RE}, ''))"
        raise SuiteCompileError(f"unknown str_length mode '{mode}'")

    def _compile_column(self, col_name: str, constraints: list[dsl.Constraint]) -> CompiledColumn:
        col = _ident(col_name)
        cc = CompiledColumn(col_name)
        for c in constraints:
            # null short-circuit parity (ctx.stop(), v4validator.js:80):
            # every non-required check null-skips via its guard, so a null
            # value surfaces only `required`
            one = self._compile_one(col_name, col, c, null_guard=True)
            cc.fragments.extend(one.fragments)
            cc.valids.extend(one.valids)
        return cc

    def _compile_one(
        self, col_name: str, col: str, c: dsl.Constraint, null_guard: bool
    ) -> CompiledColumn:
        """Cycle-guarded dispatch: a combinator/Ref whose branch structure
        reaches itself would recurse forever (the reference marks visited
        schema nodes, compiler.js:136-141); we detect re-entry on the same
        constraint object and fail with a clear error instead."""
        if isinstance(c, (dsl.AllOf, dsl.AnyOf, dsl.OneOf, dsl.Not,
                          dsl.Dependency, dsl.Ref)):
            key = id(c)
            if key in self._visiting:
                raise SuiteCompileError(
                    f"cyclic constraint structure: {type(c).__name__} on "
                    f"'{col_name}' reaches itself — recursive suites have no "
                    f"finite columnar plan")
            self._visiting.add(key)
            try:
                return self._dispatch_one(col_name, col, c, null_guard)
            finally:
                self._visiting.discard(key)
        return self._dispatch_one(col_name, col, c, null_guard)

    def _dispatch_one(
        self, col_name: str, col: str, c: dsl.Constraint, null_guard: bool
    ) -> CompiledColumn:
        """Dispatch table — the analog of selector matching
        (``src/int/matchers.js:31-63``)."""
        dt = _dtype(self.schema, col_name)
        out = CompiledColumn(col_name)

        def emit(code, failed, value=None, arg=None, message=None):
            # `failed` must be null-safe; guard converts null input → pass
            # for every non-required check (optional-absent semantics,
            # v4validator.js:67-79).
            failed = _coalesce(failed, "TRUE")
            if null_guard:
                failed = _and([_not_null(col), failed])
            msg = message or self._msg(code, arg)
            out.add(_scalar_fragment(failed, code, col_name,
                                     value if value is not None else col,
                                     arg, msg),
                    _not(failed))

        m = c.message  # per-constraint override

        if isinstance(c, dsl.NotNull):
            failed = _is_null(col)
            if "." in col_name:
                # nested required applies only when the PARENT object is
                # present (draft-4/reference: the sub-schema is entered only
                # for existing properties, v4validator.js:67-79 + the
                # properties descent) — a null optional parent is silent;
                # the parent's own NotNull governs its absence
                parent = _ident(col_name.rsplit(".", 1)[0])
                failed = _and([_not_null(parent), failed])
            out.add(_scalar_fragment(failed, "required", col_name, "NULL", None,
                                     m or self._msg("required")),
                    _not(failed))

        elif isinstance(c, dsl.TypeIs):
            self._compile_type(out, col_name, col, c, m)

        elif isinstance(c, dsl.Enum):
            emit("enum", _not(_in(col, c.values, dt)), arg=list(c.values),
                 message=m)

        elif isinstance(c, dsl.Minimum):
            if _is_numeric(dt):
                emit("minimum", _bin(col, "<", _lit(c.value)), arg=c.value, message=m)
        elif isinstance(c, dsl.ExclusiveMinimum):
            if _is_numeric(dt):
                emit("minimum.exclusive", _bin(col, "<=", _lit(c.value)),
                     arg=c.value, message=m)
        elif isinstance(c, dsl.Maximum):
            if _is_numeric(dt):
                emit("maximum", _bin(col, ">", _lit(c.value)), arg=c.value, message=m)
        elif isinstance(c, dsl.ExclusiveMaximum):
            if _is_numeric(dt):
                emit("maximum.exclusive", _bin(col, ">=", _lit(c.value)),
                     arg=c.value, message=m)
        elif isinstance(c, dsl.MultipleOf):
            if _is_numeric(dt):
                emit("multipleOf",
                     _bin(_arith(_arith(col, "/", _lit(float(c.value))), "%", "1.0D"),
                          "!=", "0.0D"),
                     arg=c.value, message=m)

        elif isinstance(c, dsl.MinLength):
            if _is_string(dt):
                emit("minLength", _bin(self._str_len(col), "<", _lit(c.value)),
                     arg=c.value, message=m)
        elif isinstance(c, dsl.MaxLength):
            if _is_string(dt):
                emit("maxLength", _bin(self._str_len(col), ">", _lit(c.value)),
                     arg=c.value, message=m)
        elif isinstance(c, dsl.Pattern):
            if _is_string(dt):
                # JS .match() is an unanchored search → rlike, not full match
                emit("pattern", _not(_bin(col, "RLIKE", _sql_str(c.regex))),
                     arg=c.regex, message=m)
        elif isinstance(c, dsl.Format):
            if _is_string(dt):
                spec = get_format(c.name)
                emit(f"format.{c.name}",
                     _not(_bin(col, "RLIKE", _sql_str(spec.regexp))),
                     arg=spec.message, message=m or spec.message)

        elif isinstance(c, dsl.MinItems):
            if _is_array(dt):
                emit("minItems", _bin(f"size({col})", "<", _lit(c.value)),
                     arg=c.value, message=m)
        elif isinstance(c, dsl.MaxItems):
            if _is_array(dt):
                emit("maxItems", _bin(f"size({col})", ">", _lit(c.value)),
                     arg=c.value, message=m)

        elif isinstance(c, dsl.UniqueItems):
            if _is_array(dt):
                self._compile_unique_items(out, col_name, col, c, m, null_guard)

        elif isinstance(c, dsl.Items):
            if _is_array(dt):
                self._compile_items(out, col_name, col, c, null_guard)

        elif isinstance(c, dsl.TupleItems):
            if _is_array(dt):
                self._compile_tuple_items(out, col_name, col, c, null_guard)

        elif isinstance(c, dsl.MinProperties):
            if dt is None or isinstance(dt, T.MapType):
                emit("minProperties", _bin(f"size(map_keys({col}))", "<", _lit(c.value)),
                     arg=c.value, message=m)
        elif isinstance(c, dsl.MaxProperties):
            if dt is None or isinstance(dt, T.MapType):
                emit("maxProperties", _bin(f"size(map_keys({col}))", ">", _lit(c.value)),
                     arg=c.value, message=m)

        elif isinstance(c, dsl.KeyPattern):
            if dt is None or isinstance(dt, T.MapType):
                self._compile_key_pattern(out, col_name, col, c, m, null_guard)

        elif isinstance(c, dsl.PatternProperties):
            if dt is None or isinstance(dt, T.MapType):
                self._compile_pattern_properties(out, col_name, col, c,
                                                 null_guard)
            elif isinstance(dt, T.StructType):
                self._compile_pattern_properties_struct(out, col_name, col,
                                                        c, null_guard)

        elif isinstance(c, dsl.StructClosed):
            if isinstance(dt, T.StructType):
                self._compile_struct_closed(out, col_name, col, c, m,
                                            null_guard)

        elif isinstance(c, dsl.Conform):
            self._compile_conform(out, col_name, col, c, m, null_guard)

        elif isinstance(c, (dsl.AllOf, dsl.AnyOf, dsl.OneOf)):
            self._compile_combinator(out, col_name, col, c, m)
            if null_guard:
                # absent (null) value skips combinator checks entirely —
                # ctx.stop() on missing optional value (v4validator.js:67-79)
                out.fragments = [_when(_not_null(col), f)
                                 for f in out.fragments]
                out.valid = _or([_is_null(col), _coalesce(out.valid, "TRUE")])

        elif isinstance(c, dsl.Not):
            sub = self._compile_branch(col_name, c.branch)
            failed = _coalesce(sub.valid, "TRUE")  # branch VALID ⇒ 'not' fails
            if null_guard:
                failed = _and([_not_null(col), failed])
            out.add(_scalar_fragment(failed, "not", col_name, col, None,
                                     m or self._msg("not")),
                    _not(failed))

        elif isinstance(c, dsl.Dependency):
            self._compile_dependency(out, col_name, c, m)

        elif isinstance(c, dsl.Ref):
            target = self.suite.definitions.get(c.name)
            if target is None:
                raise SuiteCompileError(
                    f"Ref('{c.name}') has no entry in suite.definitions "
                    f"(known: {sorted(self.suite.definitions)})")
            if c.name in self._ref_stack:
                raise SuiteCompileError(
                    f"cyclic Ref('{c.name}') — recursive definitions have "
                    f"no finite columnar plan")
            self._ref_stack.add(c.name)
            try:
                # inline expansion: identical plan to writing the
                # definition's constraints directly at this position
                for sub in target:
                    one = self._compile_one(col_name, col, sub, null_guard)
                    out.fragments.extend(one.fragments)
                    out.valids.extend(one.valids)
            finally:
                self._ref_stack.discard(c.name)

        else:
            ext = dsl.get_extension(type(c))
            if ext is None:
                raise SuiteCompileError(f"Unknown constraint {type(c).__name__}")
            # V4Validator.extend analog: plugin appends Column fragments
            ext(self, out, col_name, _column(col), c, m, null_guard)
        return out

    # -- type ---------------------------------------------------------------

    def _compile_type(self, out, col_name, col, c: dsl.TypeIs, m):
        """``type`` check. On a typed table the check is static (schema says
        the type), so it folds to nothing on match / constant-fail on
        mismatch. ``runtime=True`` = cast-probe for string-staged ingest.
        Union types (`type: [a,b]`) follow the error-splice semantics of
        v4validator.js:88-100: pass if any matches; on total failure emit one
        error per tried type."""
        types = c.type if isinstance(c.type, (list, tuple)) else [c.type]
        dt = _dtype(self.schema, col_name)

        def static_matches(tname) -> Optional[bool]:
            if dt is None:
                return None
            if tname == "string":
                return isinstance(dt, T.StringType)
            if tname == "integer":
                if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
                    return None  # whole-valued doubles pass: runtime % 1 check
                return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
            if tname == "number":
                return isinstance(dt, _NUMERIC)
            if tname == "boolean":
                return isinstance(dt, T.BooleanType)
            if tname == "array":
                return isinstance(dt, T.ArrayType)
            if tname == "object":
                # columnar object = struct or map (SURVEY.md §1.2 mapping)
                return isinstance(dt, (T.StructType, T.MapType))
            if tname == "null":
                return None  # always runtime
            return None

        def runtime_probe(tname) -> str:
            if tname == "null":
                return _is_null(col)
            if not c.runtime:
                sm = static_matches(tname)
                if sm is not None:
                    return _or([_lit(sm), _is_null(col)])
            # cast-probe path (permissive string ingest; try_cast is ANSI-safe)
            if tname == "integer":
                d = f"TRY_CAST({col} AS DOUBLE)"
                return _or([_is_null(col),
                            _and([_not_null(d), _bin(_arith(d, "%", "1.0D"), "=", "0.0D")])])
            if tname == "number":
                return _or([_is_null(col), _not_null(f"TRY_CAST({col} AS DOUBLE)")])
            if tname == "boolean":
                return _or([_is_null(col),
                            _in(f"lower(CAST({col} AS STRING))", ["true", "false"], None)])
            if tname in ("string", "array", "object"):
                sm = static_matches(tname)
                return _or([_lit(sm if sm is not None else True), _is_null(col)])
            raise SuiteCompileError(f"Unknown type '{tname}'")

        probes = [(t, runtime_probe(t)) for t in types]
        ok = _coalesce(_or([p for _, p in probes]), "FALSE")
        # note: `type: null` means the value MUST be null; a null value passes
        # any type per the guard convention except when explicitly checked.
        for tname, probe in probes:
            failed = _not(ok)
            if tname != "null":
                failed = _and([failed, _not(_coalesce(probe, "FALSE"))])
            out.fragments.append(
                _scalar_fragment(failed, tname, col_name, col, None,
                                 m or self._msg(tname)))
        out.valids.append(ok)

    def _row_container_null(self, out, col_name, col, code, null_guard):
        """ROW-level (unguarded) container constraint on a NULL value: fail
        AND emit one violation with the container's code, like every
        row-level scalar check — then run the container body null-guarded.
        Without this, out.valid said invalid on NULL while the fragments
        emitted nothing, so invalid_rows() disagreed with violations()/
        verdicts()/is_valid() (round-4 review). Returns the (possibly
        upgraded) null_guard for the body."""
        if null_guard:
            return True
        null_failed = _is_null(col)
        out.add(_scalar_fragment(null_failed, code, col_name, col, None,
                                 self._msg(code)),
                _not(null_failed))
        return True

    # -- arrays ---------------------------------------------------------------

    def _compile_unique_items(self, out, col_name, col, c, m, null_guard):
        """Intra-array duplicates, one violation per duplicate *occurrence*
        carrying the duplicated value (v4validator.js:233-246). Pass test is
        O(n) (`array_distinct` size); the O(n²) occurrence extraction runs
        only on failing rows, guarded by `CASE WHEN`."""
        null_guard = self._row_container_null(out, col_name, col, "uniqueItems", null_guard)
        has_dup = _bin(f"size({col})", "!=", f"size(array_distinct({col}))")
        if null_guard:
            has_dup = _and([_not_null(col), has_dup])
        msg = m or self._msg("uniqueItems")
        if not c.extract_occurrences:
            out.add(_scalar_fragment(has_dup, "uniqueItems", col_name, col,
                                     None, msg),
                    _not(has_dup))
            return
        # element at 0-based index i is a duplicate occurrence iff it appears
        # among the first i elements; null-safe equality so null duplicates
        # (which array_distinct folds, making has_dup fire) are also
        # EXTRACTED — plain = yields NULL on null elements and drops them
        dups = self._hof(
            "filter", col,
            lambda x, i: self._hof("exists", f"slice({col}, 1, {i})",
                                   lambda y: _bin(y, "<=>", x)),
            nargs=2)
        structs = self._hof(
            "transform", dups,
            lambda x: _vio_struct("uniqueItems", _sql_str(col_name), x, None, msg))
        out.add(_when(has_dup, structs), _not(has_dup))

    def _compile_items(self, out, col_name, col, c: dsl.Items, null_guard):
        """Element-schema constraints (processor.js:31-47): pass test via
        `exists`; offender extraction via `filter`+`transform`, one violation
        per offending element — exactly the reference's per-element error
        loop, with codes `items.<subcode>`.

        Null elements follow COLUMN null semantics uniformly: they skip
        every value check (the optional-absent convention,
        v4validator.js:67-79, applied per element — same as `fields=`
        descent), and `Items([NotNull()])` flags their presence. Before
        round 3 the range fast-paths skipped nulls (array_min/max ignore
        them) while enum/pattern/multipleOf failed them — and the offender
        extractor flagged elements the pass test ignored. TupleItems stays
        null-strict: a tuple POSITION holding null fails its spec
        (presence is positional, pinned by the conformance_array oracle)."""
        null_guard = self._row_container_null(out, col_name, col, "items", null_guard)
        dt = _dtype(self.schema, col_name)
        et = dt.elementType if isinstance(dt, T.ArrayType) else None
        for sub in self._expand_element_refs(c.constraints):
            pred, code, arg = self._element_predicate(sub, et)
            if getattr(pred, "static_true", False):
                continue  # provably can't fail on this element type

            if isinstance(sub, dsl.NotNull):
                def bad(x):
                    return _is_null(x)
            else:
                def bad(x):
                    return _and([_not_null(x),
                                 _not(_coalesce(pred(x), "FALSE"))])

            # range checks get specialized O(n) pass tests (array_min/max
            # beat a lambda loop in codegen, and skip nulls natively);
            # offender extraction below only runs on failing rows
            if isinstance(sub, (dsl.Minimum, dsl.Maximum)):
                # array_min/max are NULL on empty arrays and the null_guard
                # coalesces NULL to failed — but empty arrays must PASS
                # (reference semantics; round-1 ADVICE): gate on size>0 and
                # coalesce these branches to FALSE, never TRUE.
                agg, cmp = (("array_min", "<") if isinstance(sub, dsl.Minimum)
                            else ("array_max", ">"))
                failed_any = _coalesce(
                    _and([_bin(f"size({col})", ">", "0"),
                          _bin(f"{agg}({col})", cmp, _lit(sub.value))]),
                    "FALSE")
            else:
                failed_any = self._hof("exists", col, bad)
            if null_guard:
                failed_any = _and([_not_null(col), _coalesce(failed_any, "TRUE")])
            msg = sub.message or self._msg(code, arg)
            full_code = f"items.{code}"
            if c.extract_offenders:
                offenders = self._hof("filter", col, bad)
                structs = self._hof(
                    "transform", offenders,
                    lambda x: _vio_struct(full_code, _sql_str(col_name), x, arg, msg))
                out.add(_when(failed_any, structs), _not(failed_any))
            else:
                # codegen-friendly: one violation per array, value = array
                out.add(_scalar_fragment(failed_any, full_code, col_name, col,
                                         arg, msg),
                        _not(failed_any))
        self._compile_items_fields(out, col_name, col, c, null_guard)

    def _compile_items_fields(self, out, col_name, col, c: dsl.Items,
                              null_guard):
        """array<struct> element descent (processor.js:31-64: the items walk
        recurses into object sub-schemas): per (field, constraint), one
        violation per offending ELEMENT with code ``items.<field>.<subcode>``
        and value = the offending field value. NotNull = field required in
        every element; other checks skip null fields (column-level null
        semantics applied per element)."""
        dt = _dtype(self.schema, col_name)
        est = dt.elementType if isinstance(dt, T.ArrayType) else None
        for fname, subs in (c.field_items() if c.fields else []):
            ftype = None
            if isinstance(est, T.StructType) and fname in est.fieldNames():
                ftype = est[fname].dataType
            for sub in subs:
                pred, code, arg = self._element_predicate(sub, ftype)
                if getattr(pred, "static_true", False):
                    continue

                if isinstance(sub, dsl.NotNull):
                    def bad(x):
                        return _is_null(_field(x, fname))
                else:
                    def bad(x):
                        fv = _field(x, fname)
                        return _and([_not_null(fv),
                                     _not(_coalesce(pred(fv), "FALSE"))])

                failed_any = self._hof("exists", col, bad)
                if null_guard:
                    failed_any = _and([_not_null(col),
                                       _coalesce(failed_any, "FALSE")])
                msg = sub.message or self._msg(code, arg)
                full_code = f"items.{fname}.{code}"
                if c.extract_offenders:
                    structs = self._hof(
                        "transform", self._hof("filter", col, bad),
                        lambda x: _vio_struct(full_code, _sql_str(col_name),
                                              _field(x, fname), arg, msg))
                    out.add(_when(failed_any, structs), _not(failed_any))
                else:
                    out.add(_scalar_fragment(failed_any, full_code, col_name,
                                             col, arg, msg),
                            _not(failed_any))

    def _compile_tuple_items(self, out, col_name, col, c: dsl.TupleItems,
                             null_guard):
        """Positional tuple items + additionalItems
        (processor.js:54-61,113-124). Position i (0-based, null-safe ``get``
        — ANSI element_at throws) checks specs[i]; extras beyond len(specs)
        each emit `additionalItems` when additional=False — one violation
        per extra element, value = element."""
        null_guard = self._row_container_null(out, col_name, col, "items", null_guard)
        dt = _dtype(self.schema, col_name)
        et = dt.elementType if isinstance(dt, T.ArrayType) else None
        for i, spec in enumerate(c.specs):
            elem = f"get({col}, {i})"
            for sub in spec:
                # NO static_true skip here: tuple positions are null-strict
                # (a null at a spec'd position fails), so even a
                # statically-type-matching check can still fail on null —
                # the null-aware const pred handles it
                pred, code, arg = self._element_predicate(sub, et)
                failed = _and([_bin(f"size({col})", ">", str(i)),
                               _not(_coalesce(pred(elem), "FALSE"))])
                if null_guard:
                    failed = _and([_not_null(col), failed])
                msg = sub.message or self._msg(code, arg)
                out.add(_scalar_fragment(failed, f"items.{i}.{code}", col_name,
                                         elem, arg, msg),
                        _not(failed))
        if c.additional is not True:
            n_spec = len(c.specs)
            has_extra = _bin(f"size({col})", ">", str(n_spec))
            if null_guard:
                has_extra = _and([_not_null(col), has_extra])
            extras = f"slice({col}, {n_spec + 1}, greatest(size({col}) - {n_spec}, 0))"
            if c.additional is False or c.additional == ():
                # forbid form: one violation per extra element
                msg = c.message or self._msg("additionalItems")
                structs = self._hof(
                    "transform", extras,
                    lambda x: _vio_struct("additionalItems", _sql_str(col_name),
                                          x, None, msg))
                out.add(_when(has_extra, structs), _not(has_extra))
            else:
                # draft-4 SCHEMA form: each extra element must satisfy the
                # sub-schema — null-strict like spec'd positions (a null
                # extra fails the sub-schema check)
                for sub in self._expand_element_refs(c.additional):
                    pred, code, arg = self._element_predicate(sub, et)
                    msg = sub.message or self._msg(code, arg)
                    full_code = f"additionalItems.{code}"
                    bad = self._hof(
                        "filter", extras,
                        lambda x: _not(_coalesce(pred(x), "FALSE")))
                    structs = self._hof(
                        "transform", bad,
                        lambda x: _vio_struct(full_code, _sql_str(col_name),
                                              x, arg, msg))
                    any_bad = _and([has_extra, _bin(f"size({bad})", ">", "0")])
                    out.add(_when(any_bad, structs),
                            _not(_coalesce(any_bad, "FALSE")))

    def _compile_key_pattern(self, out, col_name, col, c: dsl.KeyPattern, m,
                             null_guard):
        """patternProperties analog for maps: keys matching no allowed regex
        each emit `additionalProperties` carrying the key
        (processor.js:90-111 + v4validator.js:287)."""
        null_guard = self._row_container_null(out, col_name, col, "additionalProperties", null_guard)
        bad_keys = self._hof(
            "filter", f"map_keys({col})",
            lambda k: _not(_or([_bin(k, "RLIKE", _sql_str(p))
                                for p in c.patterns])))
        has_bad = _bin(f"size({bad_keys})", ">", "0")
        if null_guard:
            has_bad = _and([_not_null(col), _coalesce(has_bad, "FALSE")])
        msg = m or self._msg("additionalProperties")
        structs = self._hof(
            "transform", bad_keys,
            lambda k: _vio_struct("additionalProperties", _sql_str(col_name), k,
                                  list(c.patterns), msg))
        out.add(_when(has_bad, structs), _not(has_bad))

    def _compile_struct_closed(self, out, col_name, col, c: dsl.StructClosed,
                               m, null_guard):
        """additionalProperties=false for STRUCT columns: the field list is
        static (the struct type), so each undeclared field compiles to one
        null-probe fragment — no shuffle, no runtime key scan
        (v4validator.js:287 at an object ctx). A field passes if it is in
        ``allowed`` or SEARCH-matches any draft-4 patternProperties regex.

        Type guard (the dispatch applies this only to StructType): draft-4
        ``additionalProperties`` constrains OBJECTS only, so non-struct
        columns pass — the same silent type-guard every scalar keyword
        uses (maxLength on ints, minimum on strings). ``dt is None``
        (value-validator mode) also skips: there is no static field list
        to check; MapType closedness is KeyPattern/PatternProperties'
        job."""
        dt = _dtype(self.schema, col_name)
        pats = [re.compile(p) for p in c.patterns]
        allowed = set(c.allowed)
        msg = m or self._msg("additionalProperties")
        for fname in (f.name for f in dt.fields):
            if fname in allowed or any(p.search(fname) for p in pats):
                continue
            failed = _not_null(_field(col, fname))
            if null_guard:
                failed = _and([_not_null(col), failed])
            out.add(_scalar_fragment(failed, "additionalProperties",
                                     f"{col_name}.{fname}", _sql_str(fname),
                                     None, msg),
                    _not(failed))

    def _expand_element_refs(self, constraints):
        """Inline top-level Ref entries in an items element schema so their
        violations carry the TARGET's codes (same inline-expansion semantics
        as column-level Ref, references.js:11-27), cycle-guarded."""
        out = []
        for s in constraints:
            if isinstance(s, dsl.Ref):
                target = self.suite.definitions.get(s.name)
                if target is None:
                    raise SuiteCompileError(
                        f"Ref('{s.name}') has no entry in suite.definitions")
                if s.name in self._ref_stack:
                    raise SuiteCompileError(
                        f"cyclic Ref('{s.name}') in items element schema")
                self._ref_stack.add(s.name)
                try:
                    out.extend(self._expand_element_refs(target))
                finally:
                    self._ref_stack.discard(s.name)
            else:
                out.append(s)
        return out

    def _element_branch_pred(self, branch, elem_type=None):
        """AND of a branch's element predicates — a sub-schema used as an
        element check inside combinators/refs. Null-safe: a null predicate
        result counts as failed (matching the offender-extraction guard)."""
        preds = [self._element_predicate(s, elem_type)[0] for s in branch]

        def bp(x):
            return _and([_coalesce(q(x), "FALSE") for q in preds])

        return bp

    def _compile_pattern_properties(self, out, col_name, col,
                                    c: dsl.PatternProperties, null_guard):
        """patternProperties value sub-schemas over map entries
        (processor.js:90-111). One violation per offending ENTRY with the
        sub-constraint's own code and column label `<col>[<key>]` — the
        columnar analog of the reference's per-key error path. Entry-value
        predicates reuse the items element machinery (combinators/refs
        included); null values skip checks, NotNull flags them."""
        null_guard = self._row_container_null(out, col_name, col, "additionalProperties", null_guard)
        entries = f"map_entries({col})"
        mdt = _dtype(self.schema, col_name)
        vtype = mdt.valueType if isinstance(mdt, T.MapType) else None

        def emit_value_checks(regex, subs):
            for sub in self._expand_element_refs(subs):
                pred, code, arg = self._element_predicate(sub, vtype)
                if getattr(pred, "static_true", False):
                    continue

                def bad(e):
                    key, value = _field(e, "key"), _field(e, "value")
                    # regex None = the additional-schema path: applies to
                    # keys matching NO pattern
                    matches = (_bin(key, "RLIKE", _sql_str(regex))
                               if regex is not None
                               else _not(self._any_key_match(key, c)))
                    if isinstance(sub, dsl.NotNull):
                        return _and([matches, _is_null(value)])
                    return _and([matches, _not_null(value),
                                 _not(_coalesce(pred(value), "FALSE"))])

                offenders = self._hof("filter", entries, bad)
                has = _bin(f"size({offenders})", ">", "0")
                if null_guard:
                    has = _and([_not_null(col), _coalesce(has, "FALSE")])
                msg = sub.message or self._msg(code, arg)
                structs = self._hof(
                    "transform", offenders,
                    lambda e: _vio_struct(
                        code,
                        f"concat({_sql_str(col_name + '[')}, "
                        f"{_field(e, 'key')}, ']')",
                        _field(e, "value"), arg, msg))
                out.add(_when(has, structs), _not(has))

        for regex, subs in c.spec_items():
            emit_value_checks(regex, subs)

        if c.additional is False:
            unmatched = self._hof(
                "filter", entries,
                lambda e: _not(self._any_key_match(_field(e, "key"), c)))
            has_bad = _bin(f"size({unmatched})", ">", "0")
            if null_guard:
                has_bad = _and([_not_null(col), _coalesce(has_bad, "FALSE")])
            msg = c.message or self._msg("additionalProperties")
            structs = self._hof(
                "transform", unmatched,
                lambda e: _vio_struct("additionalProperties",
                                      _sql_str(col_name), _field(e, "key"),
                                      [r for r, _ in c.spec_items()], msg))
            out.add(_when(has_bad, structs), _not(has_bad))
        elif c.additional is not None:
            emit_value_checks(None, list(c.additional))

    def _any_key_match(self, key: str, c: dsl.PatternProperties) -> str:
        # declared `properties` names are never "additional" (draft-4,
        # v4validator.js:287) — exempt them from the additional policy
        return _or([_bin(key, "RLIKE", _sql_str(r)) for r, _ in c.spec_items()]
                   + [_bin(key, "=", _sql_str(name)) for name in c.allowed])

    def _compile_pattern_properties_struct(self, out, col_name, col,
                                           c: dsl.PatternProperties,
                                           null_guard):
        """patternProperties value sub-schemas + the SCHEMA form of
        additionalProperties for STRUCT columns (the map path's static-field
        twin; before round 5b PatternProperties was silently dropped on
        structs, so `{properties: …, additionalProperties: {type: …}}` over
        object data never checked undeclared fields). The struct type is
        static, so each field's matching sub-schemas compile to per-field
        scalar probes — no runtime key scan, same strategy as StructClosed
        (v4validator.js:287, processor.js:90-111). ``additional=False``
        stays StructClosed's job (the translator emits one alongside)."""
        dt = _dtype(self.schema, col_name)
        allowed = set(c.allowed)
        pats = [(re.compile(r), subs) for r, subs in c.spec_items()]
        for f_ in dt.fields:
            fname = f_.name
            fcol = _field(col, fname)
            matched = [subs for p, subs in pats if p.search(fname)]
            if not matched and fname not in allowed:
                if isinstance(c.additional, (list, tuple)):
                    matched = [list(c.additional)]
            label = f"{col_name}.{fname}"
            for subs in matched:
                for sub in self._expand_element_refs(subs):
                    pred, code, arg = self._element_predicate(sub,
                                                              f_.dataType)
                    if getattr(pred, "static_true", False):
                        continue
                    if isinstance(sub, dsl.NotNull):
                        failed = _is_null(fcol)
                    else:
                        # null field value skips value checks (the engine's
                        # missing/null collapse — a padded-absent property
                        # must not fire)
                        failed = _and([_not_null(fcol),
                                       _not(_coalesce(pred(fcol), "FALSE"))])
                    if null_guard:
                        failed = _and([_not_null(col), _coalesce(failed, "FALSE")])
                    msg = sub.message or self._msg(code, arg)
                    out.add(_scalar_fragment(failed, code, label, fcol, arg, msg),
                            _not(failed))

    def _element_predicate(self, sub: dsl.Constraint, elem_type=None):
        """Map a scalar constraint onto array elements: returns
        ``(pred, code, arg)`` where ``pred`` renders the pass test for an
        element expression (a lambda variable, ``get(arr, i)``, a field).

        Combinators nest (the reference's items walk descends into arbitrary
        sub-schemas, processor.js:31-64): the element emits ONE violation
        with the combinator's code — per-branch sub-error bubbling is a
        column-level feature only (documented divergence; at element level a
        bubbled sub-error would not identify which element it came from).

        ``elem_type`` is the element's Spark DataType (from the array/map
        schema): TypeIs folds statically against it, exactly like the
        column-level static DCE (double elements keep the whole-valued
        runtime probe), and numeric/string/array keywords on an element type
        they do not apply to are static-true (the column-level
        ``_is_numeric``/``_is_string``/``_is_array`` rule)."""
        if isinstance(sub, dsl.TypeIs):
            return self._element_type_pred(sub, elem_type)
        if isinstance(sub, (dsl.AllOf, dsl.AnyOf, dsl.OneOf)):
            branch_preds = [self._element_branch_pred(b, elem_type)
                            for b in sub.branches]
            if isinstance(sub, dsl.AllOf):
                return (lambda x: _and([bp(x) for bp in branch_preds])), "allOf", None
            if isinstance(sub, dsl.AnyOf):
                return (lambda x: _or([bp(x) for bp in branch_preds])), "anyOf", None
            return (lambda x: _cmp(_sum([_cast(bp(x), "INT") for bp in branch_preds]),
                                   "=", "1")), "oneOf", None
        if isinstance(sub, dsl.Not):
            bp = self._element_branch_pred(sub.branch, elem_type)
            return (lambda x: _not(bp(x))), "not", None
        if isinstance(sub, dsl.Ref):
            # nested (inside a combinator branch) ref: AND of the target —
            # top-level items refs are pre-expanded in _expand_element_refs
            # so they keep the target's own codes
            target = self.suite.definitions.get(sub.name)
            if target is None:
                raise SuiteCompileError(
                    f"Ref('{sub.name}') has no entry in suite.definitions")
            if sub.name in self._ref_stack:
                raise SuiteCompileError(
                    f"cyclic Ref('{sub.name}') in items element schema")
            self._ref_stack.add(sub.name)
            try:
                bp = self._element_branch_pred(target, elem_type)
            finally:
                self._ref_stack.discard(sub.name)
            return bp, f"ref.{sub.name}", None
        if isinstance(sub, dsl.Enum):
            return (lambda x: _in(x, sub.values, elem_type)), "enum", list(sub.values)
        if isinstance(sub, dsl.NotNull):
            return _not_null, "required", None

        def only(applies, pred):
            return pred if applies else _pass

        num, txt, arr = (_is_numeric(elem_type), _is_string(elem_type),
                         _is_array(elem_type))
        if isinstance(sub, dsl.Minimum):
            return only(num, lambda x: _bin(x, ">=", _lit(sub.value))), "minimum", sub.value
        if isinstance(sub, dsl.ExclusiveMinimum):
            return (only(num, lambda x: _bin(x, ">", _lit(sub.value))),
                    "minimum.exclusive", sub.value)
        if isinstance(sub, dsl.Maximum):
            return only(num, lambda x: _bin(x, "<=", _lit(sub.value))), "maximum", sub.value
        if isinstance(sub, dsl.ExclusiveMaximum):
            return (only(num, lambda x: _bin(x, "<", _lit(sub.value))),
                    "maximum.exclusive", sub.value)
        if isinstance(sub, dsl.MultipleOf):
            return (only(num, lambda x: _bin(_arith(_arith(x, "/", _lit(float(sub.value))),
                                            "%", "1.0D"), "=", "0.0D")),
                    "multipleOf", sub.value)
        if isinstance(sub, dsl.Pattern):
            return (only(txt, lambda x: _bin(x, "RLIKE", _sql_str(sub.regex))),
                    "pattern", sub.regex)
        if isinstance(sub, dsl.MinLength):
            return (only(txt, lambda x: _bin(self._str_len(x), ">=", _lit(sub.value))),
                    "minLength", sub.value)
        if isinstance(sub, dsl.MaxLength):
            return (only(txt, lambda x: _bin(self._str_len(x), "<=", _lit(sub.value))),
                    "maxLength", sub.value)
        if isinstance(sub, dsl.Format):
            spec = get_format(sub.name)
            return (only(txt, lambda x: _bin(x, "RLIKE", _sql_str(spec.regexp))),
                    f"format.{sub.name}", spec.message)
        # ---- container constraints ON an element (arbitrary-depth descent,
        # processor.js:31-64 recursion): array<array<…>> and
        # array<struct<…, array<…>>> element schemas. The element emits ONE
        # violation with the container's code — per-inner-element error
        # extraction is a top-level feature (an inner offender would not
        # identify its outer element), same convention as combinators.
        if isinstance(sub, dsl.MinItems):
            return only(arr, lambda x: _bin(f"size({x})", ">=", _lit(sub.value))), "minItems", sub.value
        if isinstance(sub, dsl.MaxItems):
            return only(arr, lambda x: _bin(f"size({x})", "<=", _lit(sub.value))), "maxItems", sub.value
        if isinstance(sub, dsl.UniqueItems):
            return (only(arr, lambda x: _bin(f"size({x})", "=", f"size(array_distinct({x}))")),
                    "uniqueItems", None)
        if isinstance(sub, (dsl.Items, dsl.TupleItems)):
            if not arr:
                return _pass, "items", None
            if isinstance(sub, dsl.Items):
                return self._nested_items_pred(sub, elem_type), "items", None
            return self._nested_tuple_pred(sub, elem_type), "items", None
        raise SuiteCompileError(
            f"{type(sub).__name__} not supported as an items() element constraint"
        )

    def _nested_items_pred(self, sub: dsl.Items, elem_type):
        """Predicate form of an Items schema applied to an ARRAY-typed
        element/field: forall inner elements pass. Inner null elements
        follow the engine-wide convention (skip checks, NotNull flags);
        struct fields= descend recursively at any depth."""
        inner_et = (elem_type.elementType
                    if isinstance(elem_type, T.ArrayType) else None)
        scalar = []   # (pred, is_required)
        for s in self._expand_element_refs(sub.constraints):
            pred, _, _ = self._element_predicate(s, inner_et)
            if getattr(pred, "static_true", False):
                continue
            scalar.append((pred, isinstance(s, dsl.NotNull)))
        fields = []   # (fname, pred, is_required)
        if sub.fields:
            for fname, fsubs in sub.field_items():
                ftype = None
                if (isinstance(inner_et, T.StructType)
                        and fname in inner_et.fieldNames()):
                    ftype = inner_et[fname].dataType
                for fs in fsubs:
                    fp, _, _ = self._element_predicate(fs, ftype)
                    if getattr(fp, "static_true", False):
                        continue
                    fields.append((fname, fp, isinstance(fs, dsl.NotNull)))

        def elem_ok(y):
            checks = [(y, q, req) for q, req in scalar]
            checks += [(_field(y, fname), q, req) for fname, q, req in fields]
            return _and([_not_null(v) if req else
                         _or([_is_null(v), _coalesce(q(v), "FALSE")])
                         for v, q, req in checks])

        return lambda x: self._hof("forall", x, elem_ok)

    def _nested_tuple_pred(self, sub: dsl.TupleItems, elem_type):
        """Predicate form of a positional TupleItems schema on an
        ARRAY-typed element (null-strict per position, like the top-level
        compile; additional=False bounds the size)."""
        inner_et = (elem_type.elementType
                    if isinstance(elem_type, T.ArrayType) else None)
        spec_preds = []
        for i, spec in enumerate(sub.specs):
            for s in spec:
                # no static_true skip: tuple positions stay null-strict
                q, _, _ = self._element_predicate(s, inner_et)
                spec_preds.append((i, q))
        addl_preds = []
        if isinstance(sub.additional, tuple):
            for s in self._expand_element_refs(sub.additional):
                q, _, _ = self._element_predicate(s, inner_et)
                addl_preds.append(q)

        n_spec = len(sub.specs)

        def pred(x):
            parts = [_or([_bin(f"size({x})", "<=", str(i)),
                          _coalesce(q(f"get({x}, {i})"), "FALSE")])
                     for i, q in spec_preds]
            if sub.additional is False or sub.additional == ():
                parts.append(_bin(f"size({x})", "<=", str(n_spec)))
            extras = f"slice({x}, {n_spec + 1}, greatest(size({x}) - {n_spec}, 0))"
            for q in addl_preds:
                parts.append(self._hof("forall", extras,
                                       lambda e: _coalesce(q(e), "FALSE")))
            return _and(parts)
        return pred

    def _element_type_pred(self, sub: dsl.TypeIs, elem_type):
        """``items: {type: ...}`` — static against the element's Spark type
        (the official suite's items/type cases): exact-type members fold to
        constants; ``integer`` on float/double/decimal elements keeps the
        whole-valued runtime probe; ``null`` is always runtime. Union lists
        OR their members and emit ONE ``type`` violation (the element-level
        single-code convention — the column-level error splice needs a
        column to attach each tried type to)."""
        types = sub.type if isinstance(sub.type, (list, tuple)) else [sub.type]

        def member(tname):
            if tname == "null":
                return _is_null
            if elem_type is None:
                raise SuiteCompileError(
                    f"TypeIs('{tname}') as an element constraint needs a "
                    f"typed schema (compile with df.schema)")
            if tname == "integer" and isinstance(
                    elem_type, (T.FloatType, T.DoubleType, T.DecimalType)):
                return lambda x: _bin(_arith(x, "%", "1.0D"), "=", "0.0D")
            static = {
                "string": isinstance(elem_type, T.StringType),
                "integer": isinstance(
                    elem_type, (T.ByteType, T.ShortType, T.IntegerType,
                                T.LongType)),
                "number": isinstance(elem_type, _NUMERIC),
                "boolean": isinstance(elem_type, T.BooleanType),
                "array": isinstance(elem_type, T.ArrayType),
                "object": isinstance(elem_type, (T.StructType, T.MapType)),
            }.get(tname)
            if static is None:
                raise SuiteCompileError(f"Unknown type '{tname}'")

            # null-AWARE constant: a null element is NOT of type `tname`
            # (draft-4: null only matches "null"). Where the caller's null
            # convention skips nulls (items/fields/map values) the guard
            # hides this; where positions are null-strict (TupleItems) it
            # must fail — a bare constant made the verdict depend on the
            # element's physical dtype (round-4 review finding).
            def const(x):
                return _and([_not_null(x), _lit(static)])
            const.static_value = static
            return const

        members = [member(t) for t in types]

        def pred(x):
            return _or([mp(x) for mp in members])

        # static DCE: if any member folds to a constant TRUE, the check can
        # never fail — mark it so the items compilers emit NOTHING (a
        # constant-false exists() still walks every element of every array
        # at runtime; at 10^12 rows × 2048 tokens that is real work)
        pred.static_true = any(getattr(mp, "static_value", None) is True
                               for mp in members)
        if len(types) == 1:
            return pred, str(types[0]), None
        return pred, "type", list(types)

    # -- custom ---------------------------------------------------------------

    def _compile_conform(self, out, col_name, col, c: dsl.Conform, m, null_guard):
        """The Column boundary: the user's predicate is built through the
        DataFrame API over ``F.expr`` of the column reference."""
        if (c.expr is None) == (c.pandas_fn is None):
            raise SuiteCompileError("Conform needs exactly one of expr / pandas_fn")
        extra = [F.col(x) for x in c.extra_cols]
        colc = _column(col)
        if c.expr is not None:
            pred = c.expr(colc, *extra) if c.extra_cols else c.expr(colc)
        else:
            udf = F.pandas_udf(c.pandas_fn, T.BooleanType())
            pred = udf(colc, *extra)
        code = c.code
        failed = _not(_coalesce(pred, "FALSE"))
        if null_guard:
            # column-level conform skips absent (null) values like every
            # other non-required check; row-level conform (null_guard=False)
            # sees raw values — the reference's custom fns decide themselves
            failed = _and([_not_null(col), failed])
        msg = m or (self._msg("custom") if code == "custom" else
                    render_message(code, self._msg("custom"),
                                   overrides=self.suite.messages,
                                   gettext=getattr(self.suite, "gettext",
                                                   None)))
        out.add(_scalar_fragment(failed, code, col_name, col, None, msg),
                _not(failed))

    # -- combinators ------------------------------------------------------------

    def _compile_branch(self, col_name: str, constraints: Sequence[dsl.Constraint]) -> CompiledColumn:
        """Full recursive sub-compilation — the analog of ctx.compile
        (compiler.js:53-70): a branch is an independent list of fragments +
        a validity predicate."""
        cc = self._compile_column(col_name, list(constraints))
        if not cc.valids:
            cc.valid = "TRUE"
        return cc

    def _compile_combinator(self, out, col_name, col, c, m):
        branches = [self._compile_branch(col_name, b) for b in c.branches]
        valids = [_coalesce(b.valid, "FALSE") for b in branches]
        sub_errs = [_concat(b.fragments) for b in branches]
        label = _sql_str(col_name)

        if isinstance(c, dsl.AllOf):
            # each failing branch: one 'allOf' error + its sub-errors
            # (v4validator.js:127-137)
            head = _array(_vio_struct("allOf", label, col, None,
                                      m or self._msg("allOf")))
            out.add(_concat([_when(_not(v), _concat([head, errs]))
                             for v, errs in zip(valids, sub_errs)]),
                    _and(valids))

        elif isinstance(c, dsl.AnyOf):
            any_ok = _or(valids)
            head = _array(_vio_struct("anyOf", label, col, None,
                                      m or self._msg("anyOf")))
            out.add(_when(_not(any_ok), _concat([head, *sub_errs])), any_ok)

        elif isinstance(c, dsl.OneOf):
            count = _sum([_cast(v, "INT") for v in valids])
            zero = _array(_vio_struct("oneOf.zero", label, col, None,
                                      m or self._msg("oneOf.zero")))
            many = _array(_vio_struct("oneOf", label, col, None,
                                      m or self._msg("oneOf")))
            out.add(_case([(_cmp(count, "=", "0"), _concat([zero, *sub_errs])),
                           (_cmp(count, ">", "1"), many)]),
                    _cmp(count, "=", "1"))

    def _compile_dependency(self, out, col_name, c: dsl.Dependency, m):
        """If `on` is present (non-null — the columnar analog of
        hasOwnProperty, v4validator.js:104-123): dependent requirements must
        hold; failure → 'dependency' error (arg = original spec) + sub-errors."""
        on = _ident(c.on)
        sub_frags: list = []
        sub_valids: list = []
        if c.requires:
            for req in c.requires:
                b = self._compile_column(req, [dsl.NotNull()])
                sub_frags.extend(b.fragments)
                sub_valids.append(_coalesce(b.valid, "FALSE"))
            arg = list(c.requires)
        else:
            for target_col, constraint in c.constraints:
                b = self._compile_one(target_col, _ident(target_col), constraint,
                                      null_guard=True)
                sub_frags.extend(b.fragments)
                if b.valids:
                    sub_valids.append(_coalesce(b.valid, "FALSE"))
            arg = f"schema({c.on})"
        failed = _and([_not_null(on), _not(_and(sub_valids))])
        msg = m or self._msg("dependency", arg)
        head = _array(_vio_struct("dependency", _sql_str(col_name), on, arg, msg))
        out.add(_when(failed, _concat([head, *sub_frags])), _not(failed))


def compile_suite(suite: dsl.Suite, schema: Optional[T.StructType] = None) -> ValidationPlan:
    """Public entry — analog of ``compile(schema, selector, opts)``
    (``compiler.js:215-218``)."""
    return ConstraintCompiler(suite, schema).compile()
