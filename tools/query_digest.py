"""Output digest of registered queries: one sha256 per query over its
sorted, canonicalised rows, so that a refactor can be checked for
identical output before and after.

Usage: python tools/query_digest.py SF_DIR OUT.json [name ...]

Rows are canonicalised with ``check_oracles.canon`` (columns sorted by
name, NaN as null, rows sorted), after nested cells (arrays, structs,
maps) are turned into plain tuples.  OUT.json maps each query name to
``{"rows", "columns", "sha256"}``, or to ``{"error"}`` when the query
raised.  Compare two files with ``python tools/query_digest.py --diff
A.json B.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracles import canon  # noqa: E402


def _plain(v):
    """A cell as a hashable, order-stable plain value."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):  # arrays, and structs (Row is a tuple)
        return tuple(_plain(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _plain(x)) for k, x in v.items()))
    if isinstance(v, float) and v != v:
        return None
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        return v.item()
    return v


def digest(pdf: pd.DataFrame) -> dict:
    """``{"rows", "columns", "sha256"}`` of one query's output."""
    pdf = pdf.copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(_plain)
    rows = canon(pdf)
    h = hashlib.sha256(repr((sorted(pdf.columns), rows)).encode())
    return {"rows": len(rows), "columns": sorted(pdf.columns), "sha256": h.hexdigest()}


def run(sf_dir: str, only: set[str] = frozenset()) -> dict[str, dict]:
    from ssafynews_data_spark import get_session, registry

    spark = get_session(app_name="query_digest")
    out = {}
    for name, q in sorted(registry.load_all().items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            out[name] = digest(q.fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001 - a failing query is part of the digest
            out[name] = {"error": f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"}
        print(f"{name}: {out[name].get('sha256', out[name].get('error'))[:16]}"
              f" ({time.time() - t0:.1f}s)", file=sys.stderr)
    from ssafynews_data_spark.caching import release_pins

    release_pins()
    return out


def diff(a: dict, b: dict) -> list[str]:
    """Names whose digests differ, or that only one side has."""
    return sorted(n for n in set(a) | set(b) if a.get(n) != b.get(n))


def main(argv: list[str]) -> int:
    if argv[:1] == ["--diff"] and len(argv) == 3:
        with open(argv[1]) as fa, open(argv[2]) as fb:
            bad = diff(json.load(fa), json.load(fb))
        print("\n".join(bad) if bad else "identical")
        return 1 if bad else 0
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir, out_path, only = argv[0], argv[1], set(argv[2:])
    result = run(sf_dir, only)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"{len(result)} queries, {sum('error' in v for v in result.values())} errors")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
