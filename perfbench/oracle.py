"""Result fingerprints and the DuckDB oracle that supplies the expected ones.

Both sides go through the repo's oracle harness (``tests/oracle.py``): its
``normalize`` puts columns in name order, renders Decimals, timestamps, NaN
and lists the way the correctness gate does, and sorts the rows; its
``duck_connect`` opens the DuckDB views over a table directory. A
fingerprint is ``(row count, hash)`` of the normalized result, hashed over
``repr`` so that ``1`` and ``1.0`` differ, as in the gate's value hash.

Expected fingerprints are computed once per generated table set and cached
beside it.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


@cache
def _harness():
    """``tests/oracle.py``, loaded by path: ``tests`` is not a package."""
    spec = importlib.util.spec_from_file_location("perfbench_oracle_harness", ROOT / "tests" / "oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fingerprint(columns: list[str], rows) -> tuple[int, str]:
    cols, norm = _harness().normalize(rows, columns)
    h = hashlib.sha256(repr(cols).encode())
    for row in norm:
        h.update(repr(row).encode())
        h.update(b"\x1e")
    return len(norm), h.hexdigest()[:16]


def expected(data_dir: Path, cache_file: Path, oracles: dict[str, str]) -> dict:
    """Expected fingerprint per query name, computed on ``data_dir`` for the
    queries ``cache_file`` does not hold yet, and stored there."""
    known = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    missing = [q for q in oracles if q not in known]
    if missing:
        con = _harness().duck_connect(str(data_dir))
        try:
            for q in missing:
                rel = con.sql(oracles[q])
                known[q] = list(fingerprint(list(rel.columns), rel.fetchall()))
        finally:
            con.close()
        tmp = cache_file.with_suffix(".tmp")
        tmp.write_text(json.dumps(known, indent=1, sort_keys=True))
        tmp.replace(cache_file)
    return {q: tuple(known[q]) for q in oracles}
