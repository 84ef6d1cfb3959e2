"""Traced serving replica: wraps the replica's layer-boundary functions with
spans, then runs the CLI's own ``main``.

    python3 perfbench/replica.py TRACE_OUT serve --index IDX

Every ``IndexReader.query`` call is one request. On exit the spans go to
TRACE_OUT as JSON lines (see ``trace.write_trace``).
"""

from __future__ import annotations

import functools
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _wrap(owner, attr: str, name: str, spans, count=None) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        i = spans.open(name)
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            spans.close(i)
            raise
        spans.close(i, **(count(args, out) if count else {}))
        return out

    setattr(owner, attr, traced)


def _postings(args, out) -> dict:
    return {"postings": sum(len(ids) for parts in out.values() for _, ids, _ in parts)}


def install(spans) -> None:
    """Wrap the five boundaries the serve layer metrics are cut at."""
    import pyarrow.parquet as pq

    from neural_search_spark.index import codec
    from neural_search_spark.query.serve import IndexReader

    _wrap(IndexReader, "query", "serve.query", spans)
    _wrap(IndexReader, "_score", "serve.score_select", spans)
    _wrap(IndexReader, "_postings_for", "serve.assemble", spans, _postings)
    _wrap(pq, "read_table", "serve.read", spans, lambda a, out: {"blocks": out.num_rows})
    _wrap(codec, "decode_ints_many", "serve.decode", spans,
          lambda a, out: {"ints": int(sum(a[1]))})


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from tracing import Spans, write_trace

    from neural_search_spark.cli import main as cli_main

    spans = Spans()
    install(spans)
    try:
        return cli_main(argv[1:])
    finally:
        write_trace(argv[0], spans.rows)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
