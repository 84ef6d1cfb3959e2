"""The reference tokenizer as plain Python, importable without Spark.

The reference tokenizes with ``text.lower()`` followed by
``re.findall(r"\\b\\w+\\b", text)`` (the reference's
``src/neural_search/core/hybrid.py:39-52``). This module holds that one
kernel; the Spark UDFs of ``functions/tokenize.py``, the oracle and the
serving replica all run it, and the replica imports it without pulling in
pyspark or pandas.
"""

from __future__ import annotations

import re

_TOKEN_RE = re.compile(r"\b\w+\b")


def tokenize_py(text: str | None) -> list[str]:
    """Driver-side / oracle-side / replica-side tokenizer. Reference-identical."""
    if not text:
        return []
    return _TOKEN_RE.findall(text.lower())
