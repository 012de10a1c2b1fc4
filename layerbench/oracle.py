"""Fingerprint every curation entry's DuckDB oracle over one data directory.

    python3 layerbench/oracle.py <oracle_dir> <out.json>

Runs each ``oracle_sql()`` entry named in ``workloads.CURATION`` through
``driver_gate.connect_duck`` and writes ``{name: [rows, columns, value
hash]}`` (the driver's normalise/hash recipe) to ``out.json``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


def main(oracle_dir: str, out_path: str) -> None:
    import __spark_entry__
    from driver_gate import connect_duck, driver_value_hash
    from workloads import CURATION

    sql = __spark_entry__.oracle_sql()
    con = connect_duck(oracle_dir)
    out = {}
    try:
        for name in CURATION:
            pdf = con.execute(sql[name]).df()
            out[name] = [len(pdf), sorted(pdf.columns), driver_value_hash(pdf)]
    finally:
        con.close()
    with open(out_path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(out_path + ".tmp", out_path)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
