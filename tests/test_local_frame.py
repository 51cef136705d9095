"""``session.local_frame``: driver-built frames as Arrow LocalRelations.

``createDataFrame(<python rows>)`` plans as ``Scan ExistingRDD`` and costs
one Python-worker task per default-parallelism partition on every action,
even for zero rows. Pinned here:

1. fidelity — ``local_frame`` collects exactly what ``createDataFrame``
   collects for every value shape the engine builds (the official-suite
   batch row's nested struct tuples, dict maps, arrays with nulls,
   bignum→double, the empty-struct placeholder), and rejects mistyped
   values at construction like ``createDataFrame`` does;
2. plan shape — no ``ExistingRDD`` in the executed plans of the engine's
   driver-built frames.
"""

import pytest

from schemasaurus_spark import NotNull, Suite, datagen, official_suite
from schemasaurus_spark.engine import AggregateChecks, run_full_validation
from schemasaurus_spark.session import local_frame
from schemasaurus_spark.validate import validate

SHAPES = ("s struct<a: bigint, b: struct<c: string, d: array<double>>>, "
          "m map<string, bigint>, arr array<string>, big double, "
          "e struct<`__empty`: string>")

ROWS = [
    ((1, ("x", [1.5, None])), {"k": 1, "n": None}, ["p", None, "q"],
     official_suite._convert(2 ** 70), official_suite._convert({})),
    ((None, None), {}, [], official_suite._convert(-(2 ** 64)), (None,)),
    (None, None, None, None, None),
]


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["shapes", "zero-rows"])
def test_local_frame_matches_create_data_frame(spark, rows):
    got = local_frame(spark, rows, SHAPES)
    want = spark.createDataFrame(rows, SHAPES)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalTableScan" in _executed(got)


@pytest.mark.parametrize("ddl,row", [
    ("n bigint", ("x",)),              # string into a numeric field
    ("d double", (1,)),                # int into a double field
    ("s struct<a: bigint>", (("x",),)),
])
def test_local_frame_rejects_what_create_data_frame_rejects(spark, ddl, row):
    with pytest.raises(TypeError):
        spark.createDataFrame([row], ddl)
    with pytest.raises(TypeError):
        local_frame(spark, [row], ddl)


def test_driver_built_frames_have_no_existing_rdd(spark, monkeypatch):
    df = datagen.finalize(datagen.corrupt_ref_source(datagen.corrupt_dup_docid(
        datagen.corrupt_null_docid(datagen.gen_sequences(spark, 400, 4),
                                   every=20), every=20), every=20))
    dim = datagen.sources_dim(spark)
    full = run_full_validation(
        df, Suite(id_column="doc_id", columns={"doc_id": [NotNull()]}),
        AggregateChecks(sources_dim=dim, null_rate_max={"doc_id": 0.01},
                        stat_bounds={"n_tok": {"max_mean": 1.0}}))
    # only doc_id declared: the undeclared-column static rows are built
    row = validate(df, Suite(id_column="doc_id",
                             columns={"doc_id": [NotNull()]},
                             allow_undeclared_columns=False))
    batch_frames = []
    real_validate = official_suite.validate

    def capture(frame, suite):
        batch_frames.append(frame)
        return real_validate(frame, suite)

    monkeypatch.setattr(official_suite, "validate", capture)
    res = official_suite.run_official_tests(spark, [
        official_suite.OfficialTest("f", "c", "t", {"minimum": 2}, 3, True),
        official_suite.OfficialTest("f", "c", "u", {"required": ["a"]},
                                    {"b": [1, 2]}, False)])
    assert len(res.passed) == 2 and len(batch_frames) == 1

    frames = {
        "full.violations": full.violations(),
        "full.verdicts": full.verdicts(),
        "row.violations": row.violations(),
        "row.verdicts": row.verdicts(),
        "row.metrics": row.metrics(),
        "sources_dim": dim,
        "official batch": batch_frames[0],
    }
    for name, frame in frames.items():
        frame.collect()
        assert "ExistingRDD" not in _executed(frame), name
    for name in ("sources_dim", "official batch"):
        assert "LocalTableScan" in _executed(frames[name]), name
