"""Output checks, run after the harness exits (outside every timed region).

- q_ keys: the last result of each key is compared with the key's
  `SparkEntry.oracleSql` run by DuckDB over the same generated tables,
  canonicalised as dev/check.py does (columns by name, rows sorted, exact
  values). Every op of a key must carry the same result fingerprint, so the
  comparison covers each timed op, not only the last.
- b_ keys have no oracle by design: each op must give the same row count,
  on every run of the same seed (recorded under the build directory).
- stream_open: the emitted, annotated events must equal a batch
  recomputation of the session windows over the same generated events.
"""
import glob
import json
import math
import os

import duckdb
import pandas as pd

from datagen import TABLES


class Verdict:
    def __init__(self):
        self.bad = {}      # key or event id -> reason
        self.notes = []
        self.events = None  # stream_open: per event (ts_ms, closed_ms, emit_ms, ok)

    def fail(self, what, why):
        self.bad[what] = why
        self.notes.append(f"FAIL {what}: {why}")


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)
    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))
    return rows, list(df.columns)


def _compare(con, key, sql, out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, key, "*.parquet")))
    if not files:
        return "no output written"
    srows, scols = canon(pd.concat([pd.read_parquet(f) for f in files]))
    drows, dcols = canon(con.execute(sql).df())
    if scols != dcols:
        return f"columns spark={scols} duckdb={dcols}"
    if len(srows) != len(drows):
        return f"row count spark={len(srows)} duckdb={len(drows)}"
    if srows != drows:
        a, b = next((a, b) for a, b in zip(srows, drows) if a != b)
        return f"value mismatch: spark={a} duckdb={b}"
    return None


def check_closed(work, data, res, bdir, workload, seed):
    v = Verdict()
    ops = res["ops"]
    keys = sorted({o["key"] for o in ops})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    record_path = os.path.join(bdir, "row_counts.json")
    record = {}
    if os.path.exists(record_path):
        with open(record_path) as fh:
            record = json.load(fh)
    for key in keys:
        mine = [o for o in ops if o["key"] == key and not o["error"]]
        if not mine:
            continue  # every op of the key failed; counted as failed ops
        if len({o["fp"] for o in mine}) > 1:
            v.fail(key, "results differ between ops of one run")
            continue
        if key.startswith("q_"):
            sql = res["oracles"].get(key)
            why = "no oracle SQL" if sql is None else _compare(
                con, key, sql, os.path.join(work, "outputs"))
            if why:
                v.fail(key, why)
        else:
            rows = mine[0]["rows"]
            tag = f"{workload}:{seed}:{key}"
            if record.setdefault(tag, rows) != rows:
                v.fail(key, f"row count {rows}, earlier run of this seed gave {record[tag]}")
    con.close()
    with open(record_path, "w") as fh:
        json.dump(record, fh, indent=0, sort_keys=True)
    v.notes.append(f"{len(keys) - len(v.bad)}/{len(keys)} keys checked ok")
    return v


def check_open(work, gap_us):
    """Per event: emitted exactly once, with the batch-recomputed session."""
    v = Verdict()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM '{work}/open_events/*.parquet'")
    con.execute(f"CREATE VIEW em AS SELECT * FROM '{work}/open_emitted/*.parquet'")
    frame = con.execute(f"""
        WITH o AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM ev),
        b AS (SELECT *, CASE WHEN t - lag(t) OVER w <= {gap_us} THEN 0 ELSE 1 END AS brk
              FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid FROM b),
        want AS (SELECT event_id, user_id, t,
                        min(t) OVER (PARTITION BY user_id, sid) AS ws,
                        max(t) OVER (PARTITION BY user_id, sid) + {gap_us} AS we FROM s),
        got AS (SELECT event_id, count(*) AS n, any_value(user_id) AS user_id,
                       any_value(epoch_us(ts)) AS t,
                       any_value(epoch_us(window_start)) AS ws,
                       any_value(epoch_us(window_end)) AS we,
                       max(emit_ms) AS emit_ms
                FROM em GROUP BY event_id)
        SELECT w.event_id, w.t // 1000 AS ts_ms, w.we // 1000 AS closed_ms, g.emit_ms,
               coalesce(g.n = 1 AND g.user_id = w.user_id AND g.t = w.t
                        AND g.ws = w.ws AND g.we = w.we, false) AS ok
        FROM want w LEFT JOIN got g USING (event_id)""").df()
    extra = con.execute("SELECT count(*) FROM em WHERE event_id NOT IN "
                        "(SELECT event_id FROM ev)").fetchone()[0]
    con.close()
    for eid in frame.loc[~frame["ok"], "event_id"].head(5):
        v.fail(f"event {eid}", "missing, duplicated or in the wrong session")
    nbad = int((~frame["ok"]).sum())
    if nbad > 5:
        v.fail("events", f"{nbad} events wrong in all")
    if extra:
        v.fail("events", f"{extra} emitted rows match no generated event")
    v.events = frame
    v.notes.append(f"{len(frame) - nbad}/{len(frame)} events match the batch recomputation")
    return v
