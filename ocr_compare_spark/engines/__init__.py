"""Extractor engines + registry.

Mirrors the reference's Strategy + Factory extension surface
(`/root/reference/src/ocrtool/ocr_factory.py:14-74` and the
`OcrExecutor` ABC, ocr_executor.py:16-58): each engine is a pure
function ``bytes -> ParsedDoc`` registered under a name, plus
implementation metadata (≈ get_implementation_info,
ocr_executor.py:47-58). The Spark side wraps any registered engine in
one Arrow-vectorized pandas UDF (operators/extract.py).
"""

from ocr_compare_spark.engines.base import (  # noqa: F401
    Block,
    EngineSpec,
    ParsedDoc,
    create_engine,
    register_engine,
)
from ocr_compare_spark.engines import dom_heuristic, density, pdf_stream  # noqa: F401,E402
