#!/usr/bin/env python3
"""Record the DuckDB oracle digests the query workload checks against.

    python3 sparkbench/record_oracle.py .bench_build/runs/graph_ann_iterative-seed1-trace0/record.json

Takes the oracle SQL from a harness record (the harness copies it from
SparkEntry.oracleSql), runs each query in DuckDB over the test data and
writes expected/graph_ann_iterative.json. Re-run it when an oracle's SQL
changes; until then run.py runs that oracle live.
"""
import json
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True

from benchlib import oracle  # noqa: E402
from run import SF_DIR  # noqa: E402


def main():
    record = json.loads(Path(sys.argv[1]).read_text())
    con = oracle.connect(SF_DIR)
    queries = {q: oracle.oracle_digest(con, sql)
               for q, sql in sorted(record['check']['oracle_sql'].items()) if sql}
    out = BENCH / 'expected' / f"{record['workload']}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps({'sf': SF_DIR, 'queries': queries}, indent=1, sort_keys=True) + '\n')
    print(f'wrote {out} ({len(queries)} queries)')


if __name__ == '__main__':
    main()
