"""Vectorized main-content extraction.

The web analogue of the reference's schema-driven DXF pipeline
(reference: src/parser/dxf_text_parser.cc tokenizer/section state machine;
src/graph/graph_builder.cc tree build; docs/SEMANTIC_UNDERSTANDING.md
part-vs-annotation region classification): HTML tokenize -> DOM region
(block) segmentation -> text/link-density boilerplate classification ->
main text + span offsets + typed schema fields.
"""

from finetoo_sp_spark.extraction.kernel import extract_batch
from finetoo_sp_spark.extraction.extract import extract_pages, EXTRACT_SCHEMA

__all__ = ["extract_batch", "extract_pages", "EXTRACT_SCHEMA"]
