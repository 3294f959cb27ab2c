"""Output checks, computed apart from the program: from the generator's
manifest, the archives' bytes and DuckDB over the generated tables."""
import json
import os
import sys
import time
from collections import defaultdict

import duckdb

from gen import SLOT_S

# tools/check.py, the project's own oracle compare
TOOLS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools")


def _iso(epoch, sep=":"):
    return time.strftime(f"%Y-%m-%dT%H{sep}%M{sep}%SZ", time.gmtime(epoch))


def slot_catchup(root, data, first, ticks, members):
    """Returns the indices of ticks whose outputs are wrong."""
    n = len(ticks)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    expected_rows = dict(con.execute(f"""
        SELECT (epoch_us(ts) - {first * 10**6}) // {SLOT_S * 10**6} AS k,
          count(*)
        FROM '{data}/events.parquet'
        WHERE epoch_us(ts) >= {first * 10**6}
          AND epoch_us(ts) < {(first + n * SLOT_S) * 10**6}
        GROUP BY k""").fetchall())
    pub = os.path.join(root, "published")
    published_rows = dict(con.execute(f"""
        SELECT slot_key, count(*) FROM read_parquet('{pub}/*/*.parquet',
          hive_partitioning = true, hive_types_autocast = false)
        GROUP BY slot_key""").fetchall())
    blobs = defaultdict(dict)
    for key, ident, entry, content in con.execute(f"""
        SELECT slot_key, identifier, entry, content
        FROM read_parquet('{pub}-blobs/*/*.parquet',
          hive_partitioning = true, hive_types_autocast = false)""").fetchall():
        blobs[key][(ident, entry)] = bytes(content)
    bad = set()
    for k, t in enumerate(ticks):
        slot = first + k * SLOT_S
        ident = f"MSG4-{slot}"
        key = _iso(slot, "-")
        rows = expected_rows.get(k, 0)
        want_blobs = {(ident, e): b for e, b in members[ident].items()}
        if (t != f"Processed {slot} {ident} {rows} {len(want_blobs)}"
                or published_rows.get(key, 0) != rows
                or blobs.get(key) != want_blobs):
            bad.add(k)
    # the committed cursor, parsed directly, is the last processed slot
    # (start + ticks x 15 min), and no temp file is left beside it
    state = os.path.join(root, "state")
    with open(os.path.join(state, "meteosat.json")) as f:
        cursor = json.load(f).get("date")
    leftovers = [f for f in os.listdir(state) if f.endswith(".tmp")]
    if cursor != _iso(first + (n - 1) * SLOT_S) or leftovers:
        bad.add(n - 1)
    return bad


def ingest_ok(survivors, manifest, total):
    """One ingest op's survivors (comma-joined ids) equal the manifest's
    unique set, and the dropped docs equal the planted set."""
    got = {int(x) for x in survivors.split(",") if x}
    return (got == set(manifest["survivors"])
            and set(range(total)) - got == set(manifest["planted"]))


def oracle(data, out_dir, oracle_sql):
    """Returns {query: reason} for every query whose dumped output differs
    from its DuckDB oracle over the same generated tables, compared by
    tools/check.py's method: type families, column names, then exact
    values with columns sorted by name and rows in produced order."""
    sys.path.insert(0, TOOLS)
    import check
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        got_path = f"{out_dir}/{name}/*.parquet"
        try:
            drift = check.type_mismatch(con, sql, got_path)
            got = con.sql(f"SELECT * FROM '{got_path}'")
            gcols, grows = check.canon(got.fetchall(), got.columns)
            exp = con.sql(sql)
            ecols, erows = check.canon(exp.fetchall(), exp.columns)
        except Exception as e:  # a missing dump or a failing oracle
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        if drift:
            bad[name] = f"column types differ: {drift}"
        elif gcols != ecols:
            bad[name] = f"columns {gcols} != {ecols}"
        elif grows != erows:
            bad[name] = f"rows differ ({len(grows)} vs {len(erows)})"
    return bad
