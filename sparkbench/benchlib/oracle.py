"""Compare the engine's query outputs with the DuckDB oracle.

Each query's oracle is the ANSI SQL that SparkEntry.oracleSql declares,
run by DuckDB over the same parquet tables. A result is reduced to a
digest of its rows as a multiset, columns aligned by name and numbers
normalized (2 and 2.0 agree, decimals compare as doubles): every oracle
in the engine is written to be exact. Oracle digests are recorded in
expected/ by record_oracle.py, because some oracles take seconds in
DuckDB; a query whose SQL no longer matches its recorded digest is run
live instead.
"""
import decimal
import glob
import hashlib
import json
import os

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']
EXACT_INT = 2 ** 53


def _value(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float) and v.is_integer() and abs(v) < EXACT_INT:
        return int(v)
    if isinstance(v, (list, tuple)):
        return tuple(_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _value(x)) for k, x in v.items()))
    return v


def _order(v):
    # a total order over mixed values: None first, numbers by value
    if v is None:
        return (0, 0)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        return (1, v)
    if isinstance(v, tuple):
        return (3, tuple(_order(x) for x in v))
    return (2, str(v))


def digest(cursor):
    """{'columns', 'rows', 'sha256'} of a DuckDB result."""
    cols = [d[0] for d in cursor.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_value(r[i]) for i in idx) for r in cursor.fetchall()]
    rows.sort(key=lambda r: tuple(_order(v) for v in r))
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b'\n')
    return {'columns': [cols[i] for i in idx], 'rows': len(rows), 'sha256': h.hexdigest()}


def sql_sha256(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def connect(sf_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f'{t}.parquet')
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_digest(con, sql):
    return dict(digest(con.execute(sql)), sql_sha256=sql_sha256(sql))


def compare(sf_dir, outputs, oracle_sql, recorded):
    """Checks each output against its query's oracle.

    `outputs` maps a key to (query, parquet dir). Returns {key: None if
    the output matches, else a one-line reason}. Each oracle digest is
    taken from `recorded` while its SQL is unchanged, else run once live.
    """
    con = connect(sf_dir)
    wants = {}
    verdicts = {}
    for key, (name, out) in sorted(outputs.items()):
        sql = oracle_sql.get(name)
        if sql is None:
            verdicts[key] = 'no oracle'
            continue
        if not glob.glob(os.path.join(out, '*.parquet')):
            verdicts[key] = 'no output'
            continue
        try:
            got = digest(con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')"))
            if name not in wants:
                want = recorded.get(name)
                if not want or want.get('sql_sha256') != sql_sha256(sql):
                    want = oracle_digest(con, sql)
                wants[name] = want
            want = wants[name]
        except Exception as e:  # one broken query must not hide the others
            verdicts[key] = f'error: {str(e)[:200]}'
            continue
        if got['columns'] != want['columns']:
            verdicts[key] = f"columns {got['columns']} != {want['columns']}"
        elif got['rows'] != want['rows']:
            verdicts[key] = f"{got['rows']} rows != {want['rows']}"
        elif got['sha256'] != want['sha256']:
            verdicts[key] = 'values differ'
        else:
            verdicts[key] = None
    return verdicts


def load_recorded(path, sf_dir):
    if not os.path.exists(path):
        return {}
    data = json.load(open(path))
    return data['queries'] if data.get('sf') == sf_dir else {}
