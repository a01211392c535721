"""Arrow-vectorized UDF layer (SURVEY.md §2.11).

Exactly two pandas UDFs carry all heavy logic; everything else is native
column expressions. No per-row Python UDFs anywhere (BASELINE.json
input_hint mandate):

  1. extract_dispatch(doc_id, doc_type, content)
     -> struct<spans,markdown,n_spans,error,error_class,processing_s>
     — the conversion core (reference dispatch `document_service.py:83-126`;
     converters §2.9 C1/C3/C4) fused with the MakeMode.MM_MD fold and the
     error report. Dispatches *inside* the Arrow batch through the document
     layer's one recogniser and routing table (kernels/detect.py), so
     mixed-type batches still make one JVM↔Python round trip.
  2. fix_encoding_udf(s) -> string — URL-decode + mojibake repair chain.

Per-row error containment (reference C7, `document_service.py:119-126`):
a malformed document yields an error row, never a failed Spark task.
``_extract_batch`` runs ``_extract_row`` through kernels/errors.contained.
"""

from __future__ import annotations

import functools
import time

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from documentconvert_spark.kernels.encoding import ensure_utf8
from documentconvert_spark.kernels.errors import classify_error, contained, require_content
from documentconvert_spark.kernels.markdown import error_markdown as _error_md
from documentconvert_spark.kernels.markdown import spans_to_markdown as _fold
from documentconvert_spark.kernels.detect import ROUTES, extract
from documentconvert_spark.schemas import EXTRACT_RESULT

# conversion type → kernel: the reference's type dispatch
# (document_service.py:83-126), each type resolved to its parser by magic
# bytes (kernels/detect.py), synthetic and real formats alike
_KERNELS = {doc_type: functools.partial(extract, doc_type) for doc_type in ROUTES}


def _extract_row(_doc_id, doc_type, raw) -> tuple:
    """One document → (span dicts, Markdown, span count, error, error class)."""
    kernel = _KERNELS.get(doc_type)
    if kernel is None:
        raise ValueError(f"unsupported conversion type: {doc_type!r}")
    spans = kernel(bytes(require_content(raw)))
    return [s.as_dict() for s in spans], _fold(spans), len(spans), None, None


def _extract_batch(doc_id: pd.Series, doc_type: pd.Series, content: pd.Series) -> pd.DataFrame:
    t0 = time.monotonic()
    rows = []
    for (did, _dt, _raw), row, exc in contained(zip(doc_id, doc_type, content), _extract_row):
        if exc is not None:
            err = f"{type(exc).__name__}: {exc}"
            cls = classify_error(str(exc))
            # failures still yield a structured report artifact
            # (reference document_service.py:347-375)
            row = (None, _error_md(did, cls, err), None, err, cls)
        rows.append(row)
    per_row = (time.monotonic() - t0) / max(len(doc_type), 1)
    spans, md, n, err, cls = (list(col) for col in zip(*rows)) if rows else ([],) * 5
    return pd.DataFrame(
        {
            "spans": spans,
            "markdown": md,
            "n_spans": pd.array(n, dtype="Int32"),
            "error": err,
            "error_class": cls,
            "processing_s": [per_row] * len(doc_type),
        }
    )


extract_dispatch = pandas_udf(_extract_batch, returnType=EXTRACT_RESULT)


def _fix_encoding_batch(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else ensure_utf8(v))


fix_encoding_udf = pandas_udf(_fix_encoding_batch, returnType=T.StringType())

