"""Output checks for the graft benchmark, computed apart from the engine.

Registry operations are compared with DuckDB running the engine's own
oracle SQL (`SparkEntry.oracleSql`) over the same generated inputs,
normalised as `tools/parity.py` does: columns sorted by name, cells printed
at full precision, rows sorted. Oracle answers are cached per seed, keyed
by the input manifest and the SQL text.

`fuzzy_export_keep_longest` and the `ingest` replay are checked by
properties computed in DuckDB over the generated inputs.

Every check returns the names of the operations whose output was wrong.
"""
import glob
import hashlib
import json
import math
import os
from datetime import datetime, timezone

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _normalize(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rel.fetchall())
    return sorted(cols), rows


def _connect(work, data_dir=None):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    os.makedirs(f"{work}/duck", exist_ok=True)
    con.execute(f"SET temp_directory='{work}/duck'")
    if data_dir:
        for t in TABLES:
            p = f"{data_dir}/{t}.parquet"
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _log(msg):
    print(f"[check] {msg}", flush=True)


def _oracle(con, data_dir, sql):
    """Normalised oracle answer, cached under the seed's input directory."""
    with open(f"{data_dir}/manifest.json", "rb") as f:
        key = hashlib.sha256(f.read() + sql.encode()).hexdigest()[:32]
    path = f"{data_dir}/oracle/{key}.json"
    if os.path.exists(path):
        with open(path) as f:
            cols, rows = json.load(f)
        return cols, [tuple(r) for r in rows]
    cols, rows = _normalize(con.sql(sql))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump([cols, rows], f)
    os.replace(path + ".tmp", path)
    return cols, rows


def _spark(con, check_dir, name):
    files = glob.glob(f"{check_dir}/{name}/*.parquet")
    if not files:
        return None
    return _normalize(con.sql(f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')"))


def registry(data_dir, check_dir, work, names):
    """Compares each named op's output with its oracle SQL."""
    con = _connect(work, data_dir)
    with open(f"{check_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    wrong = []
    for name in names:
        got = _spark(con, check_dir, name)
        if got is None:
            _log(f"{name}: no output")
            wrong.append(name)
            continue
        want = _oracle(con, data_dir, oracle[name])
        if got != want:
            _log(f"{name}: differs from the oracle (engine {len(got[1])} rows, oracle {len(want[1])})")
            wrong.append(name)
    return wrong


def keep_longest(data_dir, check_dir, work, name):
    """Exactly one survivor per near-duplicate component with a
    quality-kept member, and it is the component's longest kept member
    (ties to the lower doc_id)."""
    files = glob.glob(f"{check_dir}/{name}/*.parquet")
    if not files:
        return [name]
    con = _connect(work)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{data_dir}/keep_longest/documents.parquet'")
    with open(f"{check_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    rel = con.sql(oracle["__slice_pairs"])
    ia, ib = rel.columns.index("doc_a"), rel.columns.index("doc_b")
    pairs = rel.fetchall()
    quality = {d: (n, dec) for d, n, dec in
               con.sql(f"SELECT doc_id, n_chars, decision FROM ({oracle['__slice_quality']})").fetchall()}
    parent = {d: d for d in quality}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for p in pairs:
        ra, rb = find(p[ia]), find(p[ib])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    best = {}
    for d, (n, dec) in quality.items():
        if dec == "kept":
            c = find(d)
            if c not in best or (n, -d) > (quality[best[c]][0], -best[c]):
                best[c] = d
    survivors = [r[0] for r in con.sql(
        f"SELECT doc_id FROM read_parquet('{check_dir}/{name}/*.parquet')").fetchall()]
    # the export has no mixture weights, so every component with a kept
    # member keeps exactly that member
    ok = sorted(survivors) == sorted(best.values())
    if not ok:
        _log(f"{name}: survivors are not the components' longest kept members "
             f"({len(survivors)} survivors, {len(best)} components with a kept member)")
    return [] if ok else [name]


def ingest(data_dir, check_dir, work):
    """Properties of the replayed ingest, checked over the delivered batch
    files. Returns the op families whose output was wrong."""
    con = _connect(work)
    with open(f"{check_dir}/ingest_paths.json") as f:
        paths = json.load(f)
    with open(f"{check_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    ing = f"{data_dir}/ingest"
    con.execute(f"CREATE VIEW delivered AS SELECT * FROM read_parquet('{ing}/events_b*.parquet')")
    con.execute("CREATE VIEW events AS SELECT * EXCLUDE (rn) FROM (SELECT *, "
                "row_number() OVER (PARTITION BY event_id) AS rn FROM delivered) WHERE rn = 1")
    wrong = []

    table = f"read_parquet('{paths['table']}/*.parquet')"
    repeats, kept, distinct, missing = con.sql(
        f"SELECT (SELECT count(*) - count(DISTINCT event_id) FROM {table}),"
        f" (SELECT count(*) FROM {table}), (SELECT count(*) FROM events),"
        f" (SELECT count(*) FROM (SELECT event_id FROM events EXCEPT SELECT event_id FROM {table}))"
    ).fetchone()
    if repeats or kept != distinct or missing:
        _log(f"table: {kept} rows, {repeats} repeated ids, {distinct} distinct delivered, {missing} missing")
        wrong.append("sync_append")

    with open(paths["watermark"]) as f:
        wm = datetime.fromisoformat(f.read().strip().replace("Z", "+00:00"))
    top = con.sql("SELECT max(ts) FROM delivered").fetchone()[0]
    if wm.astimezone(timezone.utc).replace(tzinfo=None) != top:
        _log(f"watermark {wm} != max delivered ts {top}")
        wrong.append("sync_append")

    got = _spark(con, check_dir, "merged_funnel")
    want = _normalize(con.sql(
        f"SELECT stage, stage_name, dataset, n_rows, n_imputed FROM ({oracle['engagement_pipeline']})"))
    if got != want:
        _log("merged funnel state differs from the engagement_pipeline oracle over the batches")
        wrong.append("funnel_state")

    got = _normalize(con.sql(
        f"SELECT user_id, ts, event_id, event_type, value FROM read_parquet('{paths['cdc']}/*.parquet')"))
    want = _normalize(con.sql(
        "SELECT user_id, ts, event_id, event_type, value FROM (SELECT *, row_number() OVER "
        "(PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) "
        "WHERE rn = 1 AND event_type <> 'error'"))
    if got != want:
        _log("cdc target differs from the latest non-deleted row per user")
        wrong.append("cdc_merge")

    leaked, survivors, redelivered = con.sql(
        f"WITH docs AS (SELECT DISTINCT doc_id, text FROM read_parquet('{ing}/docs_b*.parquet')),"
        f" corpus AS (SELECT * FROM read_parquet('{paths['corpus']}/*.parquet')),"
        f" archive AS (SELECT * FROM read_parquet('{paths['archive']}/*.parquet'))"
        " SELECT (SELECT count(*) FROM corpus c JOIN docs d USING (doc_id)"
        "   WHERE EXISTS (SELECT 1 FROM archive a WHERE a.digest = md5(d.text) AND a.batch < c.batch)),"
        " (SELECT count(*) FROM corpus),"
        f" (SELECT count(*) - count(DISTINCT doc_id) FROM read_parquet('{ing}/docs_b*.parquet'))"
    ).fetchone()
    if leaked or not survivors or not redelivered:
        _log(f"training ingest: {leaked} of {survivors} survivors already archived "
             f"({redelivered} re-delivered docs)")
        wrong.append("training_ingest")
    return wrong
