"""Shared Column-expression builders (all JVM-side, codegen-friendly)."""

from news_categorization_big_data_spark.functions.hashing import hash60
from news_categorization_big_data_spark.functions.text_exprs import normalize_text, tokens

__all__ = ["hash60", "normalize_text", "tokens"]
