"""Text-analysis Column expressions for the documents table (training-data
pipeline extensions: tokenize, quality, language-ID, fingerprint).  All pure
Catalyst expressions — no Python UDFs in the hot path."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the documents fixture is space-delimited)."""
    return F.split(text, " ")
