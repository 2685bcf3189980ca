"""The DuckDB oracle text is never edited (Spark-free).

The operators and their oracle queries read the same module constants,
so moving or changing one of those constants must leave every query of
``__spark_entry__.oracle_sql()`` byte-identical. This pins the sha256 of
the whole oracle, serialized with sorted keys.
"""

from __future__ import annotations

import hashlib
import json

import __spark_entry__

ORACLE_SHA256 = "b5b3812a5e3ab3132fbd8b1d66706e16f720ff8c64500610330a73493766d717"


def test_oracle_text_is_pinned():
    text = json.dumps(__spark_entry__.oracle_sql(), sort_keys=True)
    assert hashlib.sha256(text.encode()).hexdigest() == ORACLE_SHA256
