"""DuckDB oracle comparison of the harness's dumped results, the same
comparison tools/check_oracle.py makes for graft.Verify dumps: columns
compared by name, rows as sorted multisets, non-float cells exactly and
float cells exactly or within 1e-9 relative."""
import json
import math
import os

import duckdb

TABLES = ["documents", "embeddings"]


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


def compare(tables_dir, results_dir):
    """Failures (one line each) of every dumped result that has oracle SQL."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    fails = []
    for name, sql in sorted(sqls.items()):
        try:
            want = con.execute(sql)
            wc = [d[0] for d in want.description]
            wr = want.fetchall()
            got = con.execute(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')")
            gc = [d[0] for d in got.description]
            gr = got.fetchall()
        except Exception as e:  # noqa: BLE001
            fails.append(f"{name}: oracle error {e}")
            continue
        if sorted(wc) != sorted(gc):
            fails.append(f"{name}: columns {sorted(gc)}, oracle {sorted(wc)}")
            continue
        w, g = _canon(wr, wc), _canon(gr, gc)
        if len(w) != len(g):
            fails.append(f"{name}: {len(g)} rows, oracle {len(w)}")
            continue
        bad = next(((i, x, y) for i, (rw, rg) in enumerate(zip(w, g))
                    for x, y in zip(rw, rg) if not _equal(x, y)), None)
        if bad:
            fails.append(f"{name}: row {bad[0]} has {bad[2]!r}, oracle {bad[1]!r}")
    con.close()
    return fails
