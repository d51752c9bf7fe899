"""Pure-Python single-node oracle for the quality-filter pipeline.

No Spark anywhere in this package: it re-implements the reference's
decision semantics (cascades + feature rollup) as plain Python.  The
per-row feature twins (`oracle/features.py`) score one image and one
caption at a time over the shared primitives (`qfilter.imageops`,
`qfilter.codecs`, `qfilter.textops`); the pipeline's batched kernels
(`qfilter.batch_image`, `qfilter.batch_text`) must equal them bit for
bit.  Tests compare the Spark pipeline against this oracle; the fixture
generator uses it to produce the golden `labels_ref` sidecar
(FIXTURES.md §4).
"""

from .cascades import (  # noqa: F401
    categorize_base,
    categorize_easyocr,
    categorize_extended,
    is_dark_document,
    keep,
)
from .rows import assess_row, label_rows  # noqa: F401
