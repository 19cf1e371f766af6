"""The extraction UDF's Arrow boundary.

``kernels/arrowrows.column`` builds the UDF's result struct from
column buffers. It must equal what ``pa.array`` builds from the same
rows (or fail where ``pa.array`` fails), and the extraction path must
never load pandas.
"""

import base64
import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_type

from service1_text_extraction_spark.kernels import arrowrows, pdfgen
from service1_text_extraction_spark.pipeline.extract import RESULT_FIELDS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULT_TYPE = to_arrow_type(RESULT_FIELDS)
INT32 = st.integers(-(2**31), 2**31 - 1)
INT64 = st.integers(-(2**63), 2**63 - 1)
# non-ASCII and astral-plane characters beside ASCII (no surrogates:
# those cannot be encoded, see test_lone_surrogate_raises_like_pa_array)
TEXT = st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40)
SPAN = st.tuples(INT32, INT32, TEXT)


def _rows(error):
    return st.tuples(
        TEXT,
        TEXT,
        error,
        st.lists(SPAN, max_size=4),
        INT64,
        INT64,
        st.floats(allow_nan=False),
        TEXT,
        TEXT,
    )


def _check(rows):
    want = pa.array(rows, type=RESULT_TYPE)
    got = arrowrows.column(rows, RESULT_TYPE)
    got.validate(full=True)
    assert got.type == want.type
    assert got.equals(want)
    assert got.to_pylist() == want.to_pylist()


@given(st.lists(_rows(st.none() | TEXT), max_size=12))
@settings(max_examples=300, deadline=None)
def test_column_equals_pa_array(rows):
    _check(rows)


TEXT_ROW = ("a", "text", None, [(0, 1, "text")], 1, 1, 0.0, "", "")
FAILED_ROW = ("", "failed", "pdf parse failed: x", [], 9, 0, 1.0, "", "")
ASTRAL_ROW = ("é😀漢", "pdf", None, [(0, 3, "línea")], 5, 3, 0.5, "😀", "pw")


@pytest.mark.parametrize(
    "rows",
    [
        [],
        [("", "", None, [], 0, 0, 0.0, "", "")],
        [ASTRAL_ROW, FAILED_ROW],
        [TEXT_ROW, FAILED_ROW, TEXT_ROW],
        [TEXT_ROW] * 9,
    ],
    ids=["zero_rows", "one_row_empty", "astral", "error_null_and_set", "error_all_null"],
)
def test_column_equals_pa_array_examples(rows):
    _check(rows)


def test_lone_surrogate_raises_like_pa_array():
    rows = [("\ud800",) + TEXT_ROW[1:]]
    with pytest.raises(Exception):
        pa.array(rows, type=RESULT_TYPE)
    with pytest.raises(UnicodeEncodeError):
        arrowrows.column(rows, RESULT_TYPE)


def test_string_offsets_past_int32_raise():
    """2,049 rows sharing one 1 MiB ASCII string are 2^31 + 2^20 UTF-8
    bytes: the helper refuses them before it joins any data (the rows
    hold one string, so the test allocates 1 MiB)."""
    big = "x" * 2**20
    rows = [(big,) + TEXT_ROW[1:]] * 2049
    with pytest.raises(OverflowError, match="int32 offset limit"):
        arrowrows.column(rows, RESULT_TYPE)


def test_extraction_path_never_imports_pandas():
    """The UDF's Python function, run on helper-built inputs in a fresh
    interpreter, leaves pandas unloaded: a pandas import in the
    pipeline's modules or a ``pa.array(list)`` on the extraction path
    (pyarrow 16 imports pandas there) fails this."""
    pdf = base64.b64encode(
        pdfgen.build_pdf([pdfgen.simple_page([(72, 700, ["a pdf turn " * 40])])])
    ).decode("ascii")
    script = textwrap.dedent(
        f"""
        import sys
        import pyarrow as pa
        import service1_text_extraction_spark.pipeline
        from service1_text_extraction_spark.kernels.arrowrows import column
        from service1_text_extraction_spark.pipeline.extract import _extract_udf

        assert "pandas" not in sys.modules, "pipeline import loaded pandas"
        conv = column(["c1", "c2", "c3", "c4", None], pa.string())
        text = column(
            ["<html><body><p>hello world</p></body></html>", "plain text",
             {pdf!r}, None, "JVBERnot base64"],
            pa.string(),
        )
        out = _extract_udf({{"c1": ["pw"]}}, None).func(conv, text)
        out.validate(full=True)
        methods = [r["method"] for r in out.to_pylist()]
        assert methods == ["html", "text", "pdf", "failed", "failed"], methods
        assert "pandas" not in sys.modules, "the UDF loaded pandas"
        """
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True
    )
    assert res.returncode == 0, res.stderr
