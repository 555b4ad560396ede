#!/usr/bin/env python3
"""Check that two graft.Verify output roots hold the same answers.

    python3 tools/same_outputs.py <parent-out> <change-out>

Each root is the output directory of one `graft.Verify <sf-dir> <out>` run:
one parquet directory per query plus `oracle_sql.json`. The check passes
when

  - both roots hold the same set of query directories,
  - every query's parquet has the same column names and types on both
    sides, and the same rows as a multiset (`EXCEPT ALL` in both directions
    in DuckDB, so duplicates, NULLs and NaNs count exactly), and
  - `oracle_sql.json` is byte-identical.

It prints one line per query (SAME, or DIFF with the reason) and exits 1 on
any difference. This is stricter than tools/compare.py, which rounds floats
to 9 significant digits against the oracle: a change that claims the same
outputs as its parent is held to exact values here.
"""
import os
import sys

import duckdb


def query_dirs(root):
    return {d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))
            and any(f.endswith('.parquet') for f in os.listdir(os.path.join(root, d)))}


def relation(root, name):
    return f"read_parquet('{os.path.join(root, name)}/*.parquet')"


def compare(con, a_root, b_root, name):
    """None when the query's rows are the same on both sides, else why not."""
    a, b = relation(a_root, name), relation(b_root, name)
    a_schema = con.execute(f'DESCRIBE SELECT * FROM {a}').fetchall()
    b_schema = con.execute(f'DESCRIBE SELECT * FROM {b}').fetchall()
    a_cols = [(r[0], r[1]) for r in a_schema]
    b_cols = [(r[0], r[1]) for r in b_schema]
    if a_cols != b_cols:
        return f'schema {a_cols} vs {b_cols}'
    only_a = con.execute(
        f'SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})').fetchone()[0]
    only_b = con.execute(
        f'SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a})').fetchone()[0]
    if only_a or only_b:
        n_a = con.execute(f'SELECT count(*) FROM {a}').fetchone()[0]
        n_b = con.execute(f'SELECT count(*) FROM {b}').fetchone()[0]
        return f'{only_a} of {n_a} rows only in the first root, {only_b} of {n_b} only in the second'
    return None


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a_root, b_root = argv[1], argv[2]
    con = duckdb.connect()
    diffs = 0

    a_names, b_names = query_dirs(a_root), query_dirs(b_root)
    for name in sorted(a_names ^ b_names):
        where = 'first' if name in a_names else 'second'
        print(f'DIFF {name}: only in the {where} root')
        diffs += 1
    for name in sorted(a_names & b_names):
        try:
            why = compare(con, a_root, b_root, name)
        except duckdb.Error as e:
            why = f'could not compare: {e}'
        if why is None:
            print(f'SAME {name}')
        else:
            print(f'DIFF {name}: {why}')
            diffs += 1

    with open(os.path.join(a_root, 'oracle_sql.json'), 'rb') as f:
        a_sql = f.read()
    with open(os.path.join(b_root, 'oracle_sql.json'), 'rb') as f:
        b_sql = f.read()
    if a_sql == b_sql:
        print('SAME oracle_sql.json')
    else:
        print('DIFF oracle_sql.json: the two files differ')
        diffs += 1

    print(f'{len(a_names & b_names)} queries compared, {diffs} difference(s)')
    return 1 if diffs else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))
