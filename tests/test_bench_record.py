"""bench.py's stdout record must fit a 2,000-char log tail whatever the
suite measures; the bulky per-query maps go to the detail file."""

import importlib.util
import json
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
_spec = importlib.util.spec_from_file_location("bench", _PATH)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)

TAIL_CHARS = 2000


def test_record_line_fits_the_tail_window():
    # worst case: every headline query slow, contended and row-heavy
    timings = {n: 9999.999 for n in bench.HEADLINE}
    rows = {n: 10 ** 12 for n in bench.HEADLINE}
    out, detail = bench.build_record(
        timings, rows, sf=100.0, cpus=1024, probe_dps=123456.7,
        contended=list(bench.HEADLINE))
    line = json.dumps(out)
    assert len(line) < TAIL_CHARS, len(line)
    assert set(out["queries"]) == set(bench.HEADLINE)
    assert {"metric", "value", "unit", "sf", "cpus", "probe_docs_per_sec",
            "contended_queries"} <= set(out)
    assert detail["query_rows"] == rows and "query_rows" not in out
